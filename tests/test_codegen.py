"""Generated code is compiled once per plan shape: a long-lived session
that repeats an operation reuses the classes Spark compiled for it."""

from __future__ import annotations


def test_repeated_cascade_compiles_nothing(spark, compiled, t1_transcripts):
    """A plan the session has run before reuses its generated classes. One
    cascade needs ~170 of them, more than Spark's default codegen cache
    (100 entries) holds, so at that size every repeat recompiles nearly
    all of them (``session.CODEGEN_CACHE_ENTRIES``). AQE turns the CC
    join into a broadcast join on whichever side's shuffle stage finishes
    first, so a repeat can meet a join variant it has not compiled yet;
    with that runtime conversion off, both runs execute the same plans."""
    from lsh_spark.config import DedupConfig
    from lsh_spark.plans.pipeline import dedup_pipeline
    cfg = DedupConfig(hash_mode="fast", substring_sample_mod=8, band_rows=2)
    # unset in the session, where it falls back to the static threshold
    conf = "spark.sql.adaptive.autoBroadcastJoinThreshold"
    spark.conf.set(conf, "-1")
    try:
        first, _ = compiled(lambda: dedup_pipeline(
            spark, t1_transcripts, cfg).collect())
        again, n = compiled(lambda: dedup_pipeline(
            spark, t1_transcripts, cfg).collect())
    finally:
        spark.conf.unset(conf)
    assert sorted(again) == sorted(first)
    assert n == 0, n


def test_new_probe_compiles_nothing(make_probe_index, compiled):
    """A probe of a doc not probed before reuses the classes compiled for
    the last probe: its band keys reach the plan as data (an InSet and a
    set of struct literals, held by reference), not as int and long
    literals, which Spark inlines into generated code."""
    from lsh_spark.config import DedupConfig
    from lsh_spark.operators.search import search_probe
    cfg = DedupConfig()  # 16 bands: both key lists are sets
    bands, hashes = make_probe_index(cfg, [(0, 5), (1, 6)])
    first, _ = compiled(lambda: search_probe(bands, hashes, "d0",
                                             cfg).collect())
    assert [r["neighbor_id"] for r in first] == ["d5"]
    rows, n = compiled(lambda: search_probe(bands, hashes, "d1",
                                            cfg).collect())
    assert [r["neighbor_id"] for r in rows] == ["d6"]
    assert n == 0, n
