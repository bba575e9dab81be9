"""Round-2 operator tests: combo SimHash tables, capped gram/winnow joins,
per-cluster suffix LCS, relational token-run LCS, asof row-atomicity and
tiebreak, single-probe search, Manhattan / linear-scaling matchers,
portable hyperplane ANN, ASCII tokenizer parity."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from lsh_spark.config import DedupConfig
from lsh_spark.functions.text import py_tokens
from lsh_spark.functions.vectors import (
    SCALING_FACTORS, linear_scaling_distance, manhattan_padded, rescale_seq,
)
from lsh_spark.operators import knn, lsh_bands, minhash, shingle, simhash, suffix
from lsh_spark.operators.connected_components import connected_components
from lsh_spark.operators.search import search_probe
from lsh_spark.operators.winnow import winnow_overlap_pairs

CFG = DedupConfig(num_perms=8)


# ---------------------------------------------------------------- simhash

def _sim_corpus(spark):
    base = " ".join(f"tok{i}" for i in range(60))
    rows = [("a", base), ("b", base + " extra"), ("c", base.replace("tok3", "zzz")),
            ("d", " ".join(f"other{i}" for i in range(50)))]
    return spark.createDataFrame(rows, "doc_id string, text string")


def test_simhash_combo_equals_chunk(spark):
    """Both key modes are complete by pigeonhole, so after popcount
    verification the pair sets must be identical."""
    docs = _sim_corpus(spark)
    sh = simhash.simhash_docs(docs, CFG)
    chunk = simhash.simhash_candidate_pairs(sh, CFG, all_pairs=True, mode="chunk")
    combo = simhash.simhash_candidate_pairs(sh, CFG, all_pairs=True, mode="combo")
    assert sorted(map(tuple, chunk.collect())) == sorted(map(tuple, combo.collect()))


def test_simhash_combo_key_bits():
    """combo keys carry 30 bits (2× the chunk keyspace squared) in 20 tables."""
    # structural check only — 60 bits, t=3 → m=6 blocks, C(6,3)=20 combos
    from itertools import combinations
    assert simhash.SIMHASH_BITS % (simhash.HAMMING_THRESHOLD + 3) == 0
    assert len(list(combinations(range(6), 3))) == 20


def test_simhash_capped_star_edges_verified(spark):
    """Hot-bucket star edges still pass popcount verification — identical
    docs cluster; the cap only changes pair topology, not membership."""
    rows = [(f"d{i:03d}", "alpha beta gamma delta epsilon") for i in range(60)]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    cfg = CFG.with_(hot_bucket_cap=10)
    sh = simhash.simhash_docs(docs, cfg)
    capped = simhash.simhash_candidate_pairs(sh, cfg, all_pairs=False)
    # 60 identical docs: star topology → ≥59 edges, all hamming 0
    got = capped.collect()
    assert len(got) >= 59
    assert all(r["hamming"] == 0 for r in got)
    cc = connected_components(capped.select("doc_a", "doc_b"))
    assert cc.select("cluster_id").distinct().count() == 1


# ------------------------------------------------- capped gram/winnow joins

def test_substring_hot_gram_cap_preserves_connectivity(spark):
    span = " ".join(f"s{i}" for i in range(25))
    rows = [(f"d{i:03d}", span + f" tail{i} " + " ".join(f"r{i}_{j}" for j in range(10)))
            for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    cfg = DedupConfig(substring_k=20)
    dense = suffix.substring_candidate_pairs(docs, cfg)
    capped = suffix.substring_candidate_pairs(docs, cfg, hot_gram_cap=8)
    assert capped.count() < dense.count()  # explosion actually defused
    cc_d = {r["doc_id"]: r["cluster_id"] for r in
            connected_components(dense.select("doc_a", "doc_b")).collect()}
    cc_c = {r["doc_id"]: r["cluster_id"] for r in
            connected_components(capped.select("doc_a", "doc_b")).collect()}
    assert cc_d == cc_c


def test_winnow_capped_counts_lower_bound(spark):
    rows = [(f"d{i:02d}", " ".join(f"w{j}" for j in range(30))) for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    exact = {(r["doc_a"], r["doc_b"]): r["shared_fps"]
             for r in winnow_overlap_pairs(docs, CFG).collect()}
    capped = {(r["doc_a"], r["doc_b"]): r["shared_fps"]
              for r in winnow_overlap_pairs(docs, CFG, hot_fp_cap=5).collect()}
    for pair, n in capped.items():
        assert n <= exact[pair]


# ------------------------------------------------------------- suffix LCS

def test_cluster_suffix_lcs_matches_single_partition(spark):
    long_span = " ".join(f"common{i}" for i in range(40))
    rows = [
        ("a1", "x " + long_span + " y"),
        ("a2", "zz " + long_span),
        ("b1", " ".join(f"unrelated{i}" for i in range(40))),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    labels = spark.createDataFrame(
        [("a1", "a1"), ("a2", "a1"), ("b1", "b1")], "doc_id string, cluster_id string")
    clustered = suffix.cluster_suffix_lcs(docs, labels, min_chars=80)
    single = suffix.partition_suffix_lcs(docs.coalesce(1), min_chars=80)
    got_c = {(r["doc_a"], r["doc_b"]): r["lcs_len"] for r in clustered.collect()}
    got_s = {(r["doc_a"], r["doc_b"]): r["lcs_len"] for r in single.collect()}
    assert ("a1", "a2") in got_c
    # cluster-scoped worker sees exactly the within-cluster pairs
    assert got_c[("a1", "a2")] == got_s[("a1", "a2")]
    # reported LCP is capped at 4·min_chars by design (we only need ≥ min)
    assert got_c[("a1", "a2")] >= min(len(long_span), 4 * 80)


def test_longest_common_run_exact(spark):
    shared = [f"c{i}" for i in range(30)]
    a = [f"a{i}" for i in range(5)] + shared + [f"a{i}" for i in range(5, 10)]
    b = [f"b{i}" for i in range(3)] + shared + [f"b{i}" for i in range(3, 7)]
    docs = spark.createDataFrame(
        [("a", " ".join(a)), ("b", " ".join(b))], "doc_id string, text string")
    cfg = DedupConfig(substring_k=20)
    got = suffix.longest_common_run(docs, cfg).collect()
    assert len(got) == 1
    # the shared span is exactly 30 tokens
    assert got[0]["lcs_tokens"] == 30


# ------------------------------------------------------------------- asof

def test_asof_struct_carry_atomicity(spark):
    """A right row with NULL in one value column must not donate its ts
    while an older row donates the value — all carried columns come from
    ONE row (merge_asof semantics)."""
    from lsh_spark.operators.asof import asof_join
    left = spark.createDataFrame(
        [("u", 100, "e1")], "user_id string, ts long, event_id string")
    right = spark.createDataFrame(
        [("u", 10, 1.0, "old"), ("u", 50, None, "new")],
        "user_id string, ts long, value double, tag string")
    out = asof_join(left, right, on="user_id", left_ts="ts", right_ts="ts",
                    value_cols=("value", "tag")).collect()[0]
    # latest row at ts=50 wins as a UNIT: value None, tag 'new', ts 50
    assert out["ts_asof"] == 50
    assert out["value_asof"] is None
    assert out["tag_asof"] == "new"


def test_asof_equal_ts_tiebreak_deterministic(spark):
    from lsh_spark.operators.asof import asof_join
    left = spark.createDataFrame([("u", 100)], "user_id string, ts long")
    right = spark.createDataFrame(
        [("u", 100, 1.0, 7), ("u", 100, 2.0, 9), ("u", 100, 3.0, 8)],
        "user_id string, ts long, value double, event_id int")
    out = asof_join(left, right, on="user_id", value_cols=("value",),
                    right_order_cols=("event_id",)).collect()[0]
    # largest event_id at the shared ts wins (ascending order, last wins)
    assert out["value_asof"] == 2.0


# ------------------------------------------------------------------ search

def test_search_probe_finds_planted_dup(spark, t1_transcripts):
    from lsh_spark.canonicalize import conversation_docs
    docs = conversation_docs(t1_transcripts).select("doc_id", "text")
    cfg = DedupConfig(num_perms=16)
    hashes = shingle.doc_shingle_hashes(docs, cfg)
    sigs = minhash.minhash_signatures(hashes, cfg)
    bands = lsh_bands.band_buckets(sigs, cfg)
    hits = search_probe(bands, hashes, "c0000000", cfg).collect()
    assert hits and hits[0]["neighbor_id"] == "c0000000d"  # exact-dup partner
    assert hits[0]["rank"] == 1 and hits[0]["jaccard"] == 1.0


# --------------------------------------------- Manhattan / linear scaling

def _np_rescale(q: np.ndarray, num: int, den: int) -> np.ndarray:
    """Literal NumPy transcription of the reference _rescale_audio loop."""
    if num == den:
        return q.copy()
    out = []
    for i in range(0, len(q), den):
        chunk = list(q[i:i + den])
        if num > den:
            chunk.append(chunk[-1])
        out.extend(chunk[:num])
    return np.array(out, dtype=np.int64)


def _np_manhattan(q: np.ndarray, c: np.ndarray) -> int:
    extra = len(c) - len(q)
    if extra > 0:
        q = np.concatenate([q, np.zeros(extra, np.int64)])
    elif extra < 0:
        q = q[:len(c)]
    return int(np.abs(c - q).sum())


def test_manhattan_and_rescale_match_reference_numpy(spark):
    rng = np.random.default_rng(7)
    qa = rng.integers(1, 9, size=23)
    cb = rng.integers(1, 9, size=31)
    df = spark.createDataFrame(
        [(qa.tolist(), cb.tolist())], "q array<long>, c array<long>")
    row = df.select(
        manhattan_padded(F.col("q"), F.col("c")).alias("l1"),
        linear_scaling_distance(F.col("q"), F.col("c")).alias("ls"),
        *[rescale_seq(F.col("q"), n, d).alias(f"r{i}")
          for i, (n, d) in enumerate(SCALING_FACTORS)],
    ).collect()[0]
    assert row["l1"] == _np_manhattan(qa, cb)
    for i, (n, d) in enumerate(SCALING_FACTORS):
        assert row[f"r{i}"] == _np_rescale(qa, n, d).tolist(), (n, d)
    assert row["ls"] == min(
        _np_manhattan(_np_rescale(qa, n, d), cb) for n, d in SCALING_FACTORS)


# ------------------------------------------------------------ portable ANN

def test_portable_ann_recall(spark):
    rng = np.random.default_rng(11)
    vecs = rng.standard_normal((300, 64)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>")
    probes = df.filter(F.col("vec_id") < 10)
    exact = knn.knn_bruteforce(df, probes, k=5)
    approx = knn.ann_hyperplane_portable(df, probes, k=5, n_planes=4, n_tables=8)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    assert len(e & a) / len(e) >= 0.5  # multi-table union recall


# ------------------------------------------- vectorized fused kernel

def test_fused_vectorized_matches_per_doc_reference(spark):
    """The batch-vectorized fused kernel must equal a literal per-doc
    NumPy computation of the same quantities (including empty/short/
    duplicate-token docs and doc-boundary windows)."""
    import hashlib
    from lsh_spark.functions.hashing import minhash_params
    from lsh_spark.operators.fused import fused_doc_features
    from lsh_spark.operators.shingle import _HORNER_MULT, _MASK60

    M31 = 2_147_483_647
    texts = [
        "a b c d e f g h",           # normal
        "a b c",                     # shorter than substring_k
        "",                          # empty
        "x",                         # 1 token
        "a a a a a a a",             # duplicate tokens
        "p q r s t u v w x y z " * 3,
    ]
    docs = spark.createDataFrame(
        [(f"d{i}", t) for i, t in enumerate(texts)], "doc_id string, text string")
    cfg = DedupConfig(hash_mode="fast", shingle_k=3, substring_k=5,
                      num_perms=8, substring_sample_mod=2)
    got = {r["doc_id"]: r for r in fused_doc_features(docs, cfg).collect()}

    def th_of(toks):
        return [int.from_bytes(hashlib.blake2b(t.encode(), digest_size=8).digest(),
                               "big") for t in toks]

    def roll(th, k):
        out = []
        for i in range(len(th) - k + 1):
            h = np.uint64(0)
            for j in range(k):
                h = h * _HORNER_MULT + np.uint64(th[i + j])
            out.append(int(h & _MASK60))
        return out

    a_vec, b_vec = minhash_params(cfg.num_perms)
    for i, text in enumerate(texts):
        row = got[f"d{i}"]
        toks = text.split()
        th = th_of(toks)
        exp_sh = sorted(set(roll(th, 3))) if len(th) >= 3 else []
        assert row["hashes"] == exp_sh, f"hashes d{i}"
        exp_g = sorted({g for g in roll(th, 5) if g % 2 == 0}) \
            if len(th) >= 5 else []
        assert row["grams"] == exp_g, f"grams d{i}"
        if exp_sh:
            xr = np.array(exp_sh, np.int64) % M31
            exp_sig = ((a_vec[:, None] * xr[None, :] + b_vec[:, None]) % M31) \
                .min(axis=1).tolist()
            assert row["sig"] == exp_sig, f"sig d{i}"
        else:
            assert row["sig"] is None
        if toks:
            exp_bits = 0
            for b in range(simhash.SIMHASH_BITS):
                s = sum(1 if (h >> b) & 1 else -1 for h in th)
                if s > 0:
                    exp_bits |= 1 << b
            assert row["simhash"] == exp_bits, f"simhash d{i}"
        else:
            assert row["simhash"] == 0
    # fused sig ≡ minhash_signatures(fused hashes): the fast pipeline keys
    # its bands on the fused sig, while every index builder and probe
    # derives signatures from the stored hashes
    rederived = minhash.minhash_signatures(
        fused_doc_features(docs, cfg).select("doc_id", "hashes"), cfg)
    assert ({r["doc_id"]: r["sig"] for r in rederived.collect()}
            == {d: r["sig"] for d, r in got.items() if r["sig"] is not None})


def test_gram_hashes_fast_stride_and_sampling(spark):
    """Grams start at every token (stride 1): k=4 over 17 distinct tokens
    gives 14 sorted distinct hashes; docs shorter than k give []. A
    content-defined sample keeps a subset of the dense grams."""
    from lsh_spark.operators.shingle import gram_hashes_fast
    docs = spark.createDataFrame(
        [("a", " ".join(f"t{i}" for i in range(17))), ("b", "x y"), ("c", "")],
        "doc_id string, text string")
    rows = {r["doc_id"]: r["hashes"]
            for r in gram_hashes_fast(docs, k=4).collect()}
    assert len(rows["a"]) == 14
    assert rows["a"] == sorted(rows["a"])
    assert rows["b"] == [] and rows["c"] == []
    sampled = {r["doc_id"]: r["hashes"]
               for r in gram_hashes_fast(docs, k=4, sample_mod=2).collect()}
    assert set(sampled["a"]) == {h for h in rows["a"] if h % 2 == 0}


# ------------------------------------------------------------- tokenizer

def test_py_tokens_matches_spark_split_on_unicode_ws(spark):
    texts = ["a b\tc", "x y", "p q r", "  lead trail  ", "", "\x0bv\x0cw"]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    from lsh_spark.functions.text import tokens_col
    spark_toks = [r["t"] for r in df.select(tokens_col(F.col("text")).alias("t")).collect()]
    assert spark_toks == [py_tokens(t) for t in texts]
