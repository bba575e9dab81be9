"""Hot-bucket skew: star-linking must preserve components and bound pairs."""

from __future__ import annotations

from pyspark.sql import functions as F

from lsh_spark.config import DedupConfig
from lsh_spark.operators import lsh_bands, minhash, shingle
from lsh_spark.operators.connected_components import connected_components


def _hot_corpus(spark, n_copies=300, n_noise=50):
    """n_copies identical docs (one mega-bucket) + unrelated noise docs."""
    rows = [(f"dup{i:04d}", "alpha beta gamma delta epsilon zeta eta theta")
            for i in range(n_copies)]
    rows += [(f"n{i:04d}", " ".join(f"x{i}_{j}" for j in range(12)))
             for i in range(n_noise)]
    return spark.createDataFrame(rows, "doc_id string, text string")


def test_star_linking_preserves_components(spark):
    cfg = DedupConfig(num_perms=8, hot_bucket_cap=20)
    docs = _hot_corpus(spark)
    hashes = shingle.doc_shingle_hashes(docs, cfg)
    sigs = minhash.minhash_signatures(hashes, cfg)
    bands = lsh_bands.band_buckets(sigs, cfg)

    full = lsh_bands.candidate_pairs(bands, cfg, all_pairs=True)
    star = lsh_bands.candidate_pairs(bands, cfg, all_pairs=False)

    n_full, n_star = full.count(), star.count()
    assert n_star < n_full  # pair explosion actually defused
    cc_full = {r["doc_id"]: r["cluster_id"]
               for r in connected_components(full.select("doc_a", "doc_b")).collect()}
    cc_star = {r["doc_id"]: r["cluster_id"]
               for r in connected_components(star.select("doc_a", "doc_b")).collect()}
    assert cc_full == cc_star


def test_star_pair_count_linear_in_bucket(spark):
    cfg = DedupConfig(num_perms=8, hot_bucket_cap=20)
    docs = _hot_corpus(spark, n_copies=300, n_noise=0)
    hashes = shingle.doc_shingle_hashes(docs, cfg)
    sigs = minhash.minhash_signatures(hashes, cfg)
    bands = lsh_bands.band_buckets(sigs, cfg)
    star = lsh_bands.candidate_pairs(bands, cfg)
    # 300 identical docs, every band hot → star edges only: 299 distinct
    assert star.count() == 299


def test_census_counts_match_groupby(spark):
    """The census must equal a plain groupBy count and min doc_id,
    mega-buckets included."""
    from lsh_spark.operators.skew import bucket_census
    cfg = DedupConfig(num_perms=8)
    docs = _hot_corpus(spark)
    hashes = shingle.doc_shingle_hashes(docs, cfg)
    sigs = minhash.minhash_signatures(hashes, cfg)
    bands = lsh_bands.band_buckets(sigs, cfg)
    census = bucket_census(bands, ["band_id", "band_hash"])
    plain = bands.groupBy("band_id", "band_hash").agg(
        F.count("*").cast("long").alias("bucket_size"),
        F.min("doc_id").alias("bucket_min"))
    assert census.exceptAll(plain).count() == 0
    assert plain.exceptAll(census).count() == 0


from hypothesis import given, settings, strategies as st


@settings(max_examples=15, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 6), st.integers(0, 40)),
                min_size=2, max_size=60))
def test_capped_pairs_component_equivalence_random(spark, keyed_rows):
    """Property: for ANY (key, doc) membership multiset and a tiny cap,
    star-linked pair rows connect exactly the same components as the dense
    expansion, and never exceed it."""
    from lsh_spark.operators.skew import all_pair_rows, capped_pair_rows
    rows = [(f"k{k}", f"d{d:02d}") for k, d in keyed_rows]
    keyed = spark.createDataFrame(rows, "key string, doc_id string").distinct()
    dense = all_pair_rows(keyed, ["key"]).select("doc_a", "doc_b")
    capped = capped_pair_rows(keyed, ["key"], 3).select("doc_a", "doc_b")
    n_dense, n_capped = dense.count(), capped.count()
    assert n_capped <= n_dense
    if n_dense == 0:
        assert n_capped == 0
        return
    cc_d = {r["doc_id"]: r["cluster_id"]
            for r in connected_components(dense).collect()}
    cc_c = {r["doc_id"]: r["cluster_id"]
            for r in connected_components(capped).collect()}
    assert cc_d == cc_c
