"""Round-3 fixes: ADVICE findings (short-doc streaming NULL bucket,
tokenizer control-char parity, checkpoint namespacing, IVF Lloyd join)
and VERDICT items (IVF seeding plan, probe ranking bound, portable
bucketed embedding near-dup)."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from lsh_spark.config import DedupConfig
from lsh_spark.operators import knn


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


# ---- ADVICE high: short docs must not band into a shared NULL bucket ----

def test_streaming_signature_null_for_short_docs(spark):
    from lsh_spark.operators.shingle import shingle_hashes_col
    from lsh_spark.operators.minhash import signature_col
    cfg = DedupConfig(num_perms=4)  # shingle_k=5 default
    df = spark.createDataFrame(
        [("hi",), ("ok",), ("a b c d e f g h i j",)], "text string")
    rows = (df.select(shingle_hashes_col(F.col("text"), cfg).alias("h"))
            .select(signature_col("h", cfg).alias("sig"))
            .collect())
    assert rows[0]["sig"] is None and rows[1]["sig"] is None
    sig = rows[2]["sig"]
    assert sig is not None and all(v is not None for v in sig)


def test_streaming_duration_parse():
    import pytest
    from lsh_spark.streaming.dedup_stream import _duration_ms
    assert _duration_ms("10 seconds") == 10_000
    assert _duration_ms("1 hour") == 3_600_000
    assert _duration_ms("2 minutes") == 120_000
    # ADVICE r3: compact suffixes and fractional amounts are Spark-legal
    assert _duration_ms("10s") == 10_000
    assert _duration_ms("500ms") == 500
    assert _duration_ms("1.5 hours") == 5_400_000
    assert _duration_ms(" 3 min ") == 180_000
    assert _duration_ms("2w") == 1_209_600_000
    with pytest.raises(ValueError, match="unknown duration unit"):
        _duration_ms("10 fortnights")
    with pytest.raises(ValueError, match="unparseable"):
        _duration_ms("soon")


# ---- ADVICE medium: \x1c-\x1f control chars must match the JVM split ----

def test_py_tokens_matches_spark_on_separator_control_chars(spark):
    from lsh_spark.functions.text import py_tokens, tokens_col
    texts = ["a\x1cb \x1dc", "x\x1ey\x1fz", "plain text", "\x1c\x1d",
             "tab\tsep", ""]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    spark_toks = [r["t"] for r in
                  df.select(tokens_col(F.col("text")).alias("t")).collect()]
    assert spark_toks == [py_tokens(t) for t in texts]


# ---- ADVICE low: two checkpoint stores must not clobber bucketed stages ----

def test_bucketed_checkpoint_stores_are_namespaced(spark, tmp_path):
    from lsh_spark.plans.checkpoint import CheckpointStore
    s1 = CheckpointStore(str(tmp_path / "run1"))
    s2 = CheckpointStore(str(tmp_path / "run2"))
    a = spark.createDataFrame([("d1", 1)], "doc_id string, x int")
    b = spark.createDataFrame([("d2", 2)], "doc_id string, x int")
    s1.write_bucketed(a, "stage", ("doc_id",), 2)
    s2.write_bucketed(b, "stage", ("doc_id",), 2)
    assert [r["doc_id"] for r in s1.read_bucketed(spark, "stage").collect()] == ["d1"]
    assert [r["doc_id"] for r in s2.read_bucketed(spark, "stage").collect()] == ["d2"]


# ---- VERDICT #5 + ADVICE low: IVF seeding plan & Lloyd with custom id ----

def test_ivf_centroids_seeds_via_take_ordered(spark):
    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(40)],
        "vec_id long, embedding array<float>")
    cents = knn.ivf_centroids(df, n_lists=4)
    assert "TakeOrderedAndProject" in plan_of(cents)
    got = {r["list_id"]: r["centroid"] for r in cents.collect()}
    assert sorted(got) == [0, 1, 2, 3]
    assert got[0][0] == 0.0 and got[3][0] == 3.0


def test_ivf_lloyd_refinement_custom_id_col(spark):
    df = spark.createDataFrame(
        [(i, [float(i % 2), 1.0]) for i in range(12)],
        "my_id long, embedding array<float>")
    cents = knn.ivf_centroids(df, n_lists=2, id_col="my_id", lloyd_iters=1)
    got = cents.collect()
    assert len(got) == 2  # emptied lists are kept, none silently dropped


# ---- VERDICT "wrong #4": probe ranking input is bounded ----

def test_search_probe_ranking_bounded(spark, record_collects):
    from lsh_spark.operators import lsh_bands, minhash, shingle
    from lsh_spark.operators.search import search_probe
    cfg = DedupConfig(num_perms=8, shingle_k=2)
    docs = spark.createDataFrame(
        [(f"d{i}", "a b c d e f g h") for i in range(6)],
        "doc_id string, text string")
    hashes = shingle.doc_shingle_hashes(docs, cfg)
    bands = lsh_bands.band_buckets(minhash.minhash_signatures(hashes, cfg), cfg)
    res = search_probe(bands, hashes, "d0", cfg, top_x=3)
    # the driver ranks the hot-key-collapsed hit rows: at most
    # num_bands × hot_bucket_cap of them reach it
    hits = [rows for _, rows in record_collects
            if rows and "band_id" in rows[0].asDict()]
    assert len(hits) == 1
    assert 0 < len(hits[0]) <= cfg.num_bands * cfg.hot_bucket_cap
    got = res.collect()
    assert [r["rank"] for r in got] == [1, 2, 3]
    assert all(r["jaccard"] == 1.0 for r in got)


def test_search_probe_keys_come_from_its_own_hashes(spark, tmp_path):
    """A probe learns its band keys from its own doc_hashes row, not from
    the band index: a doc whose hashes were appended but whose band rows
    were not (a crash between the two appends) still ranks its planted
    duplicate first."""
    from lsh_spark.operators import lsh_bands, minhash, shingle
    from lsh_spark.operators.search import search_probe
    from lsh_spark.plans.checkpoint import CheckpointStore
    cfg = DedupConfig()
    base = " ".join(f"w{i}" for i in range(40))
    docs = spark.createDataFrame(
        [("dup", base)]
        + [(f"o{j}", " ".join(f"o{j}x{i}" for i in range(40)))
           for j in range(6)],
        "doc_id string, text string")
    store = CheckpointStore(str(tmp_path / "ck"))
    hashes = store.write_bucketed(shingle.doc_shingle_hashes(docs, cfg),
                                  "shingle_hashes", ("doc_id",), 4)
    store.write_bucketed(lsh_bands.band_buckets(
        minhash.minhash_signatures(hashes, cfg), cfg),
        "band_buckets", ("band_hash",), 4)
    probe = spark.createDataFrame([("p", base + " tail")],
                                  "doc_id string, text string")
    store.append(shingle.doc_shingle_hashes(probe, cfg), "shingle_hashes")
    bands = store.read(spark, "band_buckets")
    assert bands.filter(F.col("doc_id") == "p").count() == 0
    got = search_probe(bands, store.read(spark, "shingle_hashes"), "p",
                       cfg).collect()
    assert got and got[0]["neighbor_id"] == "dup" and got[0]["rank"] == 1


def test_search_probe_id_literals_round_trip(spark):
    """Candidate ids reach the fetch predicate as SQL string literals; a
    quote or backslash in an id must survive."""
    from lsh_spark.operators.search import _sql_string
    ids = ["c0000001", "it's", "back\\slash", "q'\\'x", ""]
    got = spark.sql("SELECT " + ", ".join(map(_sql_string, ids))).first()
    assert list(got) == ids


# ---- VERDICT #4: portable bucketed embedding near-dup ----

def test_embedding_near_dups_portable_verified_subset(spark):
    import math
    rows = []
    for i in range(30):
        ang = (i % 10) * 0.31
        rows.append((i, [math.cos(ang), math.sin(ang), 0.1 * (i % 3), 1.0]))
        rows.append((i + 100, [math.cos(ang) * 1.001, math.sin(ang) * 0.999,
                               0.1 * (i % 3), 1.0]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = knn.embedding_near_dups_portable(df, threshold=0.999)
    exact = (
        df.alias("a").join(df.alias("b"),
                           F.col("a.vec_id") < F.col("b.vec_id"))
        .select(F.col("a.vec_id").alias("id_a"),
                F.col("b.vec_id").alias("id_b"),
                F.round(
                    F.expr("aggregate(zip_with(a.embedding, b.embedding, (x, y) -> CAST(x AS DOUBLE) * y), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)")
                    / (F.sqrt(F.expr("aggregate(a.embedding, CAST(0.0 AS DOUBLE), (acc, v) -> acc + CAST(v AS DOUBLE) * v)"))
                       * F.sqrt(F.expr("aggregate(b.embedding, CAST(0.0 AS DOUBLE), (acc, v) -> acc + CAST(v AS DOUBLE) * v)"))), 6)
                .alias("cos_sim"))
        .filter(F.col("cos_sim") >= 0.999))
    got_pairs = {(r["id_a"], r["id_b"]) for r in got.collect()}
    exact_pairs = {(r["id_a"], r["id_b"]) for r in exact.collect()}
    # bucketed candidates are exact-verified: no false positives ...
    assert got_pairs <= exact_pairs
    # ... and near-identical vectors collide in some table: high recall
    assert len(got_pairs) >= 0.9 * len(exact_pairs) > 0


# ---- VERDICT #2: suffix-LCS kernels vs an independent DP oracle ----

def _random_docs_with_planted_overlap(seed: int, n_docs: int = 6):
    import random
    rng = random.Random(seed)
    alpha = "abcdefg "
    span = "".join(rng.choice(alpha) for _ in range(rng.randint(90, 140)))
    docs = {}
    for i in range(n_docs):
        pre = "".join(rng.choice(alpha) for _ in range(rng.randint(0, 60)))
        post = "".join(rng.choice(alpha) for _ in range(rng.randint(0, 60)))
        docs[f"d{i}"] = (pre + span + post) if i % 2 == 0 else \
            "".join(rng.choice(alpha) for _ in range(rng.randint(100, 220)))
    return docs


def test_suffix_kernel_two_docs_equals_dp_oracle():
    from lsh_spark.operators.suffix import _suffix_lcs_group
    from tests.oracle import lcs_bytes
    import random
    rng = random.Random(7)
    for trial in range(25):
        docs = _random_docs_with_planted_overlap(trial, n_docs=2)
        (da, ta), (db, tb) = sorted(docs.items())
        true = lcs_bytes(ta, tb)
        min_chars = rng.choice([20, 60, 80])
        # 2-doc group + window >= text length -> kernel must be EXACT
        if max(len(ta), len(tb)) <= 2 * min_chars:
            got = dict(((a, b), l) for a, b, l
                       in _suffix_lcs_group([da, db], [ta, tb], min_chars))
            if true >= min_chars:
                assert got == {(da, db): true}, (trial, min_chars, true, got)
            else:
                assert got == {}


def test_pair_suffix_lcs_matches_dp_oracle(spark):
    from lsh_spark.operators import suffix
    from tests.oracle import lcs_bytes
    docs = _random_docs_with_planted_overlap(99, n_docs=8)
    rows = [(k, v) for k, v in sorted(docs.items())]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    ids = sorted(docs)
    pairs = spark.createDataFrame(
        [(a, b) for i, a in enumerate(ids) for b in ids[i + 1:]],
        "doc_a string, doc_b string")
    cap, mn = 160, 80
    got = {(r["doc_a"], r["doc_b"]): r["lcs_len"]
           for r in suffix.pair_suffix_lcs(df, pairs, min_chars=mn,
                                           cap_chars=cap).collect()}
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            l = lcs_bytes(docs[a][:cap], docs[b][:cap])
            if l >= mn:
                want[(a, b)] = l
    assert got == want and want  # non-trivial: planted spans must appear


def test_cluster_suffix_lcs_sound_vs_dp_oracle(spark):
    """Multi-doc cluster walk: every reported value must be a genuine
    common-substring length (== DP LCS for 2-doc adjacency, <= DP LCS in
    general) and planted-overlap detection must hold."""
    from lsh_spark.operators import suffix
    from tests.oracle import lcs_bytes
    docs = _random_docs_with_planted_overlap(3, n_docs=6)
    rows = [(k, v) for k, v in sorted(docs.items())]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    labels = spark.createDataFrame(
        [(k, "c0") for k in sorted(docs)], "doc_id string, cluster_id string")
    got = {(r["doc_a"], r["doc_b"]): r["lcs_len"]
           for r in suffix.cluster_suffix_lcs(df, labels,
                                              min_chars=80).collect()}
    assert got  # the planted shared span links the even docs
    for (a, b), l in got.items():
        assert 80 <= l <= lcs_bytes(docs[a], docs[b])
    # adjacency walk guarantee: every doc holding the planted span is
    # linked to at least one OTHER span holder (a sandwiched pair may be
    # attributed via a third doc — that is the documented lower-bound
    # semantics; the per-pair-exact form is pair_suffix_lcs)
    evens = {f"d{i}" for i in range(6) if i % 2 == 0}
    linked = {d for pair in got for d in pair}
    assert evens <= linked


# ---- incremental dedup: probe a checkpointed index with a new batch ----

def _inc_fixture(spark):
    from lsh_spark.operators import lsh_bands, minhash, shingle
    cfg = DedupConfig(num_perms=16, shingle_k=2)
    corpus = spark.createDataFrame(
        [("old1", "alpha beta gamma delta epsilon zeta"),
         ("old2", "one two three four five six seven"),
         ("old3", "completely different text about ships and sails")],
        "doc_id string, text string")
    batch = spark.createDataFrame(
        [("new1", "alpha beta gamma delta epsilon zeta"),      # dup of old1
         ("new2", "unrelated fresh content nothing shared xyz"),
         ("new3", "unrelated fresh content nothing shared xyz")],  # dup of new2
        "doc_id string, text string")
    hashes = shingle.doc_shingle_hashes(corpus, cfg)
    bands = lsh_bands.band_buckets(minhash.minhash_signatures(hashes, cfg), cfg)
    return cfg, corpus, batch, hashes, bands


def test_incremental_dedup_flags_index_and_batch(spark):
    from lsh_spark.plans.pipeline import incremental_dedup_flags
    cfg, corpus, batch, hashes, bands = _inc_fixture(spark)
    got = {(r["doc_a"], r["doc_b"]): r["match_kind"]
           for r in incremental_dedup_flags(batch, bands, hashes, cfg).collect()}
    assert got == {("new1", "old1"): "index", ("new2", "new3"): "batch"}


def test_incremental_dedup_hot_index_bucket_star(spark):
    """A boilerplate index bucket above the cap collapses to its min-doc
    representative: the new doc is still flagged, against a genuine
    key-sharer, with bounded join width."""
    from lsh_spark.operators import lsh_bands, minhash, shingle
    from lsh_spark.plans.pipeline import incremental_dedup_flags
    cfg = DedupConfig(num_perms=8, shingle_k=2, hot_bucket_cap=3)
    corpus = spark.createDataFrame(
        [(f"old{i}", "spam spam spam wonderful spam baked beans")
         for i in range(10)], "doc_id string, text string")
    batch = spark.createDataFrame(
        [("new1", "spam spam spam wonderful spam baked beans")],
        "doc_id string, text string")
    hashes = shingle.doc_shingle_hashes(corpus, cfg)
    bands = lsh_bands.band_buckets(minhash.minhash_signatures(hashes, cfg), cfg)
    got = incremental_dedup_flags(batch, bands, hashes, cfg).collect()
    # every bucket is hot (10 > 3): exactly ONE flag, vs the min doc
    assert [(r["doc_a"], r["doc_b"]) for r in got] == [("new1", "old0")]
    assert got[0]["jaccard"] == 1.0
    # search applies the same rule once the probe's own row is dropped:
    # each hot key keeps its min doc, or the next one for the min doc
    from lsh_spark.operators.search import search_probe
    for probe, want in (("old5", ["old0"]), ("old0", ["old1"])):
        hits = search_probe(bands, hashes, probe, cfg).collect()
        assert [r["neighbor_id"] for r in hits] == want
    # more than cap delta docs share every band key: the within-batch
    # flags are the star (min, member), as capped_pair_rows links a hot
    # bucket, and the hot index keys still give each new doc its old0
    batch = spark.createDataFrame(
        [(f"new{i}", "spam spam spam wonderful spam baked beans")
         for i in range(5)], "doc_id string, text string")
    got = incremental_dedup_flags(batch, bands, hashes, cfg).collect()
    assert sorted((r["doc_a"], r["doc_b"], r["match_kind"]) for r in got) \
        == sorted([(f"new{i}", "old0", "index") for i in range(5)]
                  + [("new0", f"new{i}", "batch") for i in range(1, 5)])


def test_incremental_dedup_store_roundtrip(spark, tmp_path):
    from lsh_spark.operators import lsh_bands, minhash, shingle
    from lsh_spark.plans.checkpoint import CheckpointStore
    from lsh_spark.plans.pipeline import incremental_dedup
    cfg, corpus, batch, hashes, bands = _inc_fixture(spark)
    store = CheckpointStore(str(tmp_path / "ck"))
    store.write(bands, "bands")
    store.write(hashes, "shingle_hashes")
    flags = incremental_dedup(spark, batch, store, cfg)
    assert flags.count() == 2
    # the index absorbed the batch: a re-arriving copy of new2 now flags
    # against the stored batch docs via the INDEX path
    again = spark.createDataFrame(
        [("new9", "unrelated fresh content nothing shared xyz")],
        "doc_id string, text string")
    got = {(r["doc_a"], r["doc_b"]): r["match_kind"]
           for r in incremental_dedup(spark, again, store, cfg).collect()}
    assert got == {("new9", "new2"): "index", ("new9", "new3"): "index"}


# ---- CC component-state checkpointing + resume ----

def test_cc_label_state_resume(spark, tmp_path):
    import json
    from lsh_spark.operators.connected_components import connected_components
    from lsh_spark.plans.checkpoint import CheckpointStore
    # a path graph needs several hash-min iterations to converge
    chain = [(f"n{i}", f"n{i+1}") for i in range(6)]
    edges = spark.createDataFrame(chain, "doc_a string, doc_b string")
    root = str(tmp_path / "cc")
    full = {(r["doc_id"], r["cluster_id"])
            for r in connected_components(
                edges, store=CheckpointStore(root)).collect()}
    assert full == {(f"n{i}", "n0") for i in range(7)}
    with open(f"{root}/_manifest.json") as f:
        n_stages_first = len(json.load(f))
    assert n_stages_first >= 2  # several committed iterations

    # a fresh store over the same root resumes from the last committed
    # iteration: exactly ONE more stage (the convergence re-check), not a
    # full re-run of the loop
    resumed = {(r["doc_id"], r["cluster_id"])
               for r in connected_components(
                   edges, store=CheckpointStore(root)).collect()}
    assert resumed == full
    with open(f"{root}/_manifest.json") as f:
        n_stages_second = len(json.load(f))
    assert n_stages_second == n_stages_first + 1


# --- A7 BALS / A9 KTRA alignment matchers --------------------------------

def test_bals_column_matches_numpy_transcription(spark):
    """functions.vectors.bals_distance (Column algebra) equals the
    independently-written NumPy transcription in operators/align.py,
    including scipy shift edge semantics (n < shift, empty arrays)."""
    import numpy as np
    from lsh_spark.functions.vectors import bals_distance
    from lsh_spark.operators.align import bals
    rng = np.random.default_rng(7)
    rows = []
    for i, n in enumerate([0, 3, 14, 15, 16, 40, 80]):
        rows.append((f"a{i}", [int(x) for x in rng.integers(1, 12, n)]))
    df = spark.createDataFrame(rows, "doc_id string, seq array<long>")
    a = df.select(F.col("doc_id").alias("doc_a"), F.col("seq").alias("sa"))
    b = df.select(F.col("doc_id").alias("doc_b"), F.col("seq").alias("sb"))
    got = {(r["doc_a"], r["doc_b"]): r["d"] for r in
           a.join(b, F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b",
                    bals_distance(F.col("sa"), F.col("sb")).alias("d"))
            .collect()}
    seqs = dict(rows)
    for (da, db), d in got.items():
        want = bals(np.asarray(seqs[da], np.int64),
                    np.asarray(seqs[db], np.int64))
        assert d == want, (da, db, d, want)


def _np_man0(q, c):
    """Independent depth-0 _recursive_align for the tests: ONE
    size-equalized Manhattan distance on the single query array, zero →
    MAX_FLOAT (reference :164-176, :240-246 fed by the use_ls=False
    dispatcher)."""
    import sys
    import numpy as np
    n = len(c)
    if n == 0:
        return sys.float_info.max
    qq = np.zeros(n, dtype=np.asarray(c).dtype)
    m = min(len(q), n)
    qq[:m] = np.asarray(q)[:m]
    d = float(np.abs(np.asarray(c) - qq).sum())
    return d if d > 0.0 else sys.float_info.max


def test_ktra_column_matches_independent_loop(spark):
    """functions.vectors.ktra_distance_pairs (DataFrame, MAX_RA_DEPTH=0
    config, single-array query) equals an independently-written greedy
    halving-key loop over the test's own single-Manhattan node."""
    import numpy as np
    from lsh_spark.functions.vectors import ktra_distance_pairs
    rng = np.random.default_rng(11)
    rows = [(f"d{i}", [int(x) for x in rng.integers(1, 12, n)])
            for i, n in enumerate([5, 17, 33, 50])]
    df = spark.createDataFrame(rows, "doc_id string, seq array<long>")
    a = df.select(F.col("doc_id").alias("doc_a"), F.col("seq").alias("seq_a"))
    b = df.select(F.col("doc_id").alias("doc_b"), F.col("seq").alias("seq_b"))
    got = {(r["doc_a"], r["doc_b"]): r["ktra_dist"] for r in
           ktra_distance_pairs(a.join(b, F.col("doc_a") < F.col("doc_b")))
           .collect()}
    seqs = {k: np.asarray(v, np.float64) for k, v in rows}
    for (da, db), d in got.items():
        q = seqs[da] - seqs[da].mean()
        c = seqs[db] - seqs[db].mean()
        k, res = 1.0, None
        for depth in range(3):
            dm, dz, dp = _np_man0(q - k, c), _np_man0(q, c), _np_man0(q + k, c)
            res = min(dm, dz, dp)
            if depth < 2:
                if dm == res:
                    q = q - k
                elif dp == res:
                    q = q + k
                k /= 2
        assert abs(d - round(res, 6)) < 1e-9, (da, db, d, res)


def test_recursive_align_full_depth_iterative_equivalence():
    """operators/align.py recursive_align (reference recursion,
    MAX_RA_DEPTH=3, 40/50/60%% splits, single-array nodes with the
    zero-distance → MAX_FLOAT pruning branch) equals an explicit-stack
    iterative reimplementation — pins the recursion shape."""
    import sys
    import numpy as np
    from lsh_spark.operators.align import recursive_align

    def iterative(q, c):
        # min over live positive-distance nodes; a zero node distance
        # means MAX_FLOAT + subtree pruned; the top node's zero is the
        # whole answer
        best = sys.float_info.max
        stack = [(q, c, 0)]
        while stack:
            qq, cc, depth = stack.pop()
            d = _np_man0(qq, cc)
            if d == sys.float_info.max:     # zero distance → pruned
                if depth == 0:
                    return sys.float_info.max
                continue
            best = min(best, d)
            if len(qq) == 0 or cc.size == 0 or depth >= 3:
                continue
            half = len(qq) // 2 + 1
            for pct in (40, 50, 60):
                size = int(cc.size / 100 * pct + 1)   # utils.percent order
                comp = cc.size + 1 - size
                stack.append((qq[:half], cc[:size], depth + 1))
                stack.append((qq[half:], cc[comp:], depth + 1))
        return best

    rng = np.random.default_rng(3)
    cases = [(6, 9), (20, 31), (40, 25), (3, 80), (1, 2)]
    for na, nb in cases:
        q = rng.integers(1, 10, na).astype(np.float64)
        c = rng.integers(1, 10, nb).astype(np.float64)
        assert recursive_align(q, c) == iterative(q, c)
    # identical sequences: zero top distance is 'noise' → MAX_FLOAT
    same = rng.integers(1, 10, 12).astype(np.float64)
    assert recursive_align(same, same.copy()) == sys.float_info.max


def test_aligned_pair_distances_spark_matches_local(spark):
    """The mapInArrow pair scorer returns exactly the local full-depth
    KTRA values."""
    import numpy as np
    from lsh_spark.operators.align import aligned_pair_distances, ktra
    rng = np.random.default_rng(5)
    seqs = {f"d{i}": [int(x) for x in rng.integers(1, 10, 12 + 7 * i)]
            for i in range(4)}
    rows = [("d0", "d1"), ("d1", "d2"), ("d0", "d3")]
    pairs = spark.createDataFrame(
        [(a, b, seqs[a], seqs[b]) for a, b in rows],
        "doc_a string, doc_b string, seq_a array<long>, seq_b array<long>")
    got = {(r["doc_a"], r["doc_b"]): r["distance"]
           for r in aligned_pair_distances(pairs, "ktra").collect()}
    for a, b in rows:
        want = ktra(np.asarray(seqs[a], np.int64),
                    np.asarray(seqs[b], np.int64))
        assert abs(got[(a, b)] - want) < 1e-9


def test_relational_ra_ktra_match_kernels(spark):
    """operators/align_relational — the level-expansion Column-algebra
    forms — equal the NumPy kernels BITWISE: RA on integer sequences is
    exact, and full KTRA (halving key-search over full-depth RA,
    the reference's true configuration) agrees on every pair including
    the greedy branch decisions."""
    import numpy as np
    from lsh_spark.operators.align import ktra, recursive_align
    from lsh_spark.operators.align_relational import (
        ktra_full_pairs, recursive_align_relational)
    rng = np.random.default_rng(13)
    seqs = {f"d{i}": [int(x) for x in rng.integers(1, 12, n)]
            for i, n in enumerate([5, 17, 33, 50, 2])}
    rows = [(a, b, seqs[a], seqs[b]) for a in seqs for b in seqs if a < b]
    pairs = spark.createDataFrame(
        rows, "doc_a string, doc_b string, seq_a array<long>, "
              "seq_b array<long>")
    ra_rel = {(r["doc_a"], r["doc_b"]): r["ra_dist"] for r in
              recursive_align_relational(pairs, "seq_a", "seq_b").collect()}
    kt_rel = {(r["doc_a"], r["doc_b"]): r["ktra_dist"] for r in
              ktra_full_pairs(pairs).collect()}
    for a, b, sa, sb in rows:
        qa, qb = np.asarray(sa, np.int64), np.asarray(sb, np.int64)
        assert ra_rel[(a, b)] == recursive_align(qa, qb), (a, b)
        assert kt_rel[(a, b)] == round(ktra(qa, qb), 6), (a, b)
