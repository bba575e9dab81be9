"""Fast (scale) hash mode: rolling-hash gram kernel + sampled substring."""

from __future__ import annotations

from lsh_spark.config import DedupConfig
from lsh_spark.operators.shingle import doc_shingle_hashes, doc_shingle_hashes_arrow, gram_hashes_fast
from lsh_spark.operators import suffix
from lsh_spark.plans.pipeline import dedup_pipeline


def test_rolling_gram_hashes_detect_shared_span(spark):
    span = " ".join(f"s{i}" for i in range(30))
    rows = [("a", "p1 p2 " + span + " q1"),
            ("b", "z1 z2 z3 " + span + " y1"),
            ("c", " ".join(f"u{i}" for i in range(40)))]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    g = {r["doc_id"]: set(r["hashes"])
         for r in gram_hashes_fast(docs, 20).collect()}
    assert len(g["a"] & g["b"]) == 11  # 30-token span, k=20
    assert not g["a"] & g["c"]


def test_sampled_substring_pass_is_subset_of_dense(spark):
    span = " ".join(f"s{i}" for i in range(120))  # long span → sampling-safe
    rows = [("a", "h1 h2 " + span), ("b", span + " t1 t2"),
            ("c", " ".join(f"u{i}" for i in range(150)))]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    cfg = DedupConfig(hash_mode="fast")
    dense = {(r["doc_a"], r["doc_b"]) for r in
             suffix.substring_candidate_pairs(docs, cfg, sample_mod=None).collect()}
    sampled = {(r["doc_a"], r["doc_b"]) for r in
               suffix.substring_candidate_pairs(docs, cfg, sample_mod=8).collect()}
    assert sampled <= dense
    assert ("a", "b") in sampled  # 101 shared grams → miss prob (7/8)^101


def test_fast_shingle_consistency_builtin_vs_arrow(spark):
    """fast-mode hash values differ between builtin (xxhash of gram string)
    and arrow (rolling over token hashes) by design — but pair SEMANTICS
    (set sizes, intersections) must agree."""
    rows = [("a", " ".join(f"w{i}" for i in range(50))),
            ("b", " ".join(f"w{i}" for i in range(5, 55)))]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    cfg = DedupConfig(hash_mode="fast")
    built = {r["doc_id"]: set(r["hashes"])
             for r in doc_shingle_hashes(docs, cfg).collect()}
    arrow = {r["doc_id"]: set(r["hashes"])
             for r in doc_shingle_hashes_arrow(docs, cfg).collect()}
    for d in ("a", "b"):
        assert len(built[d]) == len(arrow[d])
    assert (len(built["a"] & built["b"])
            == len(arrow["a"] & arrow["b"]))


import pytest


@pytest.mark.parametrize("band_rows", [1, 2])
def test_fast_pipeline_recall(spark, t1_transcripts, t1_labels, band_rows):
    """Recall must hold for BOTH band geometries: r=1 (reference parity
    config) and r=2 (the scale config — r=1 candidate pairs grow ~N^1.75
    with corpus size because any shared popular shingle collides a pair
    in some band; see BENCH/pair_growth.py)."""
    cfg = DedupConfig(hash_mode="fast", substring_sample_mod=8,
                      band_rows=band_rows)
    lab = {r["doc_id"]: r["cluster_id"]
           for r in dedup_pipeline(spark, t1_transcripts, cfg).collect()}
    golden = t1_labels.collect()
    eligible = [g for g in golden
                if g["jaccard_true"] >= cfg.jaccard_threshold
                or g["mutation"] == "substring"]
    caught = sum(1 for g in eligible
                 if lab.get(g["conv_id_a"]) is not None
                 and lab.get(g["conv_id_a"]) == lab.get(g["conv_id_b"]))
    assert caught == len(eligible)


def test_default_banding_is_scale_safe():
    """VERDICT r3 #1: the library default must be the linear-candidate
    geometry — a user calling dedup_pipeline(spark, df) with defaults
    must not inherit the measured ~N^1.75 r=1 candidate growth."""
    assert DedupConfig().band_rows == 2


def test_candidate_growth_is_linear_at_default_geometry(spark):
    """Two-tier candidate-growth gate (t1: 200 base convs → t2: 2000):
    with the DEFAULT config the LSH candidate count must grow at most
    ~1.2x linearly in doc count (the r=1 geometry measured 11.4x
    candidates for 4x docs at the gate tiers, BENCH/pair_growth.py)."""
    from lsh_spark import synth
    from lsh_spark.canonicalize import conversation_docs
    from lsh_spark.operators import lsh_bands, minhash
    from lsh_spark.operators.shingle import doc_shingle_hashes

    cfg = DedupConfig(hash_mode="fast")  # band_rows: library default
    counts = {}
    for tier in ("t1", "t2"):
        tr = spark.read.parquet(synth.generate_tier(tier))
        docs = conversation_docs(tr).select("doc_id", "text")
        hashes = doc_shingle_hashes(docs, cfg)
        sigs = minhash.minhash_signatures(hashes, cfg)
        cand = lsh_bands.candidate_pairs(lsh_bands.band_buckets(sigs, cfg), cfg)
        counts[tier] = (docs.count(), cand.count())
    (n1, c1), (n2, c2) = counts["t1"], counts["t2"]
    doc_ratio, cand_ratio = n2 / n1, c2 / c1
    assert cand_ratio <= 1.2 * doc_ratio, (
        f"superlinear candidate growth at default geometry: docs x"
        f"{doc_ratio:.2f} -> candidates x{cand_ratio:.2f}")
