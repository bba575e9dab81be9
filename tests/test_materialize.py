"""The one materialization seam: ``plans/checkpoint.materialize``."""

from __future__ import annotations

import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "lsh_spark"
SEAM = PKG / "plans" / "checkpoint.py"


def test_local_checkpoint_only_in_the_seam():
    """Every in-session checkpoint goes through ``materialize``: no other
    lsh_spark module may call ``.localCheckpoint(`` itself, or it bypasses
    the seam's never-twice rule."""
    calls = [f"{path.relative_to(PKG)}:{n}"
             for path in sorted(PKG.rglob("*.py")) if path != SEAM
             for n, line in enumerate(path.read_text().splitlines(), 1)
             if ".localCheckpoint(" in line]
    assert calls == []


def test_materialize_builds_a_frame_once(spark, with_jobs):
    from lsh_spark.plans.checkpoint import materialize
    lazy = spark.range(50).selectExpr("id", "id % 7 AS k")
    held, jobs = with_jobs("materialize-lazy", lambda: materialize(lazy))
    assert len(jobs) >= 1
    assert sorted(held.collect()) == sorted(lazy.collect())

    # a materialized frame, or a re-select of all its columns, is returned
    # as is: no second checkpoint job
    again, jobs = with_jobs("materialize-again", lambda: materialize(held))
    assert again is held and jobs == []
    reselect = held.select("id", "k")
    same, jobs = with_jobs("materialize-reselect",
                           lambda: materialize(reselect))
    assert same is reselect and jobs == []

    # bare columns projected from a held frame are read in place; a
    # projection that computes a column is materialized
    narrow = held.select("k")
    same, jobs = with_jobs("materialize-project",
                           lambda: materialize(narrow))
    assert same is narrow and jobs == []
    computed = held.select("id", (held.k + 1).alias("k1"))
    held_c, jobs = with_jobs("materialize-computed",
                             lambda: materialize(computed))
    assert held_c is not computed and len(jobs) >= 1

    # a frame over a plain (never checkpointed) RDD is still materialized
    rdd_frame = spark.createDataFrame(
        spark.sparkContext.parallelize([(1, "a"), (2, "b")]),
        "n int, s string")
    held_rdd, jobs = with_jobs("materialize-rdd",
                               lambda: materialize(rdd_frame))
    assert held_rdd is not rdd_frame and len(jobs) >= 1
    assert sorted(held_rdd.collect()) == [(1, "a"), (2, "b")]


# Job budgets: an operator materializes only frames with more than one
# reader (or a loop's label state), so each budget sits just above the
# jobs those barriers cost on the test session (local[8], 8 partitions).
# A stats-only checkpoint or a count job added back breaks the budget.

def test_connected_components_job_budget(spark, with_jobs):
    """Each CC iteration is one join + one aggregate under one
    materialize, with the edge and changed-label counts observed on it."""
    from lsh_spark.operators.connected_components import connected_components
    edges = spark.createDataFrame([("a", "b"), ("b", "c"), ("x", "y")],
                                  "doc_a string, doc_b string")
    rows, jobs = with_jobs("budget-cc",
                           lambda: connected_components(edges).collect())
    assert sorted(rows) == [("a", "a"), ("b", "a"), ("c", "a"),
                            ("x", "x"), ("y", "x")]
    assert len(jobs) <= 16, len(jobs)


def test_capped_pair_rows_job_budget(spark, with_jobs):
    """One window job tags the keyed rows with their bucket's size and
    min doc (``tagged``): no census and no join back. The star edges are
    a filter of ``tagged``."""
    from lsh_spark.operators.skew import capped_pair_rows
    from lsh_spark.plans.checkpoint import materialize
    keyed = spark.createDataFrame(
        [("hot", f"d{i}") for i in range(6)] + [("hot", "d3"),
                                                ("small", "d0"),
                                                ("small", "d9")],
        "key string, doc_id string")
    out, jobs = with_jobs("budget-capped", lambda: materialize(
        capped_pair_rows(keyed, ["key"], 3)))
    # the duplicated (hot, d3) row gives its star edge twice
    assert sorted((r["doc_a"], r["doc_b"]) for r in out.collect()) == \
        sorted([("d0", f"d{i}") for i in range(1, 6)] + [("d0", "d3"),
                                                         ("d0", "d9")])
    assert len(jobs) <= 5, len(jobs)


def test_verify_pairs_job_budget(spark, with_jobs):
    """Only the candidate list is checkpointed; the candidate-doc ids feed
    the semi join lazily."""
    from lsh_spark.config import DedupConfig
    from lsh_spark.operators.pairs import verify_pairs
    from lsh_spark.plans.checkpoint import materialize
    cand = spark.createDataFrame(
        [("a", "b", 2), ("a", "c", 1), ("b", "c", 1)],
        "doc_a string, doc_b string, band_agreement long")
    hashes = spark.createDataFrame(
        [("a", [1, 2, 3]), ("b", [1, 2, 3]), ("c", [1, 2, 9]), ("z", [7])],
        "doc_id string, hashes array<bigint>")
    out, jobs = with_jobs("budget-verify", lambda: materialize(
        verify_pairs(cand, hashes, DedupConfig())))
    assert sorted((r["doc_a"], r["doc_b"], r["jaccard"])
                  for r in out.collect()) == [("a", "b", 1.0),
                                              ("a", "c", 0.5),
                                              ("b", "c", 0.5)]
    assert len(jobs) <= 9, len(jobs)


def test_conv_cascade_job_budget(spark, with_jobs, t1_transcripts):
    """The whole cascade at conversation granularity, in the benchmark's
    configuration (fast hashing, sampled substring grams, r=2 banding).
    The hot-bucket cap never fires here, so an idle star branch that
    costs jobs, or a barrier added back anywhere in the cascade, breaks
    the budget."""
    from lsh_spark.config import DedupConfig
    from lsh_spark.plans.pipeline import dedup_pipeline
    cfg = DedupConfig(hash_mode="fast", substring_sample_mod=8, band_rows=2)
    rows, jobs = with_jobs("budget-cascade", lambda: dedup_pipeline(
        spark, t1_transcripts, cfg).collect())
    assert len(rows) == 74
    assert len(jobs) <= 34, len(jobs)


def test_search_probe_job_budget(probe_index, with_jobs):
    """A probe is three point reads (its own row, its band hits, its
    candidates' hashes) and the ranked rows come back as a local relation;
    a probe without hits stops after two."""
    from lsh_spark.operators.search import search_probe
    bands, hashes, cfg = probe_index
    rows, jobs = with_jobs("budget-probe-hits", lambda: search_probe(
        bands, hashes, "d0", cfg).collect())
    assert [r["neighbor_id"] for r in rows] == ["d5"]
    assert len(jobs) <= 3, len(jobs)
    rows, jobs = with_jobs("budget-probe-none", lambda: search_probe(
        bands, hashes, "d1", cfg).collect())
    assert rows == []
    assert len(jobs) <= 2, len(jobs)


def test_incremental_dedup_flags_job_budget(spark, with_jobs):
    """The delta's band rows probe the index and the batch itself in ONE
    keyed join, under one hot-key rule: no separate within-batch pair
    pass with its own tagging job."""
    from lsh_spark.config import DedupConfig
    from lsh_spark.operators import lsh_bands, minhash, shingle
    from lsh_spark.plans.pipeline import incremental_dedup_flags
    cfg = DedupConfig(num_perms=8, shingle_k=2)
    corpus = spark.createDataFrame(
        [("old1", "alpha beta gamma delta epsilon zeta"),
         ("old2", "one two three four five six seven")],
        "doc_id string, text string")
    batch = spark.createDataFrame(
        [("new1", "alpha beta gamma delta epsilon zeta"),
         ("new2", "unrelated fresh content nothing shared xyz"),
         ("new3", "unrelated fresh content nothing shared xyz")],
        "doc_id string, text string")
    hashes = shingle.doc_shingle_hashes(corpus, cfg)
    bands = lsh_bands.band_buckets(minhash.minhash_signatures(hashes, cfg),
                                   cfg)
    rows, jobs = with_jobs("budget-delta", lambda: incremental_dedup_flags(
        batch, bands, hashes, cfg).collect())
    assert sorted((r["doc_a"], r["doc_b"], r["match_kind"]) for r in rows) \
        == [("new1", "old1", "index"), ("new2", "new3", "batch")]
    assert len(jobs) <= 20, len(jobs)
