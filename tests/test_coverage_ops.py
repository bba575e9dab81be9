"""Coverage tests for the smaller SURVEY §2 operators (S6, S12, P6, G12, A10)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from lsh_spark.operators import metrics, tfidf
from lsh_spark.sources.tables import quarantine_filter


def test_quarantine_filter_list_and_df(spark):
    df = spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3)], "conv_id string, x int")
    assert {r["conv_id"] for r in quarantine_filter(df, ["b"]).collect()} == {"a", "c"}
    bad = spark.createDataFrame([("a",), ("c",)], "conv_id string")
    assert {r["conv_id"] for r in quarantine_filter(df, bad).collect()} == {"b"}
    # the quarantine list has no size bound: with broadcasts switched off
    # the planner must be free to pick a shuffled join, rows unchanged
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = quarantine_filter(df, bad)
        assert {r["conv_id"] for r in out.collect()} == {"b"}
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_distance_to_similarity(spark):
    df = spark.createDataFrame([(1.0,), (0.1,)], "d double")
    got = [r["s"] for r in
           df.select(metrics.distance_to_similarity(F.col("d")).alias("s"))
             .collect()]
    assert math.isclose(got[0], math.e - 1)
    assert got[1] == 100.0  # e^10 - 1 clipped


def test_threshold_artifact_roundtrip(tmp_path):
    p = str(tmp_path / "threshold.txt")
    metrics.save_threshold(0.7724133906480662, p)
    assert metrics.load_threshold(p) == 0.7724133906480662


def test_tfidf_token_filter_and_stats(spark):
    docs = spark.createDataFrame(
        [("d1", "a a b"), ("d2", "a c"), ("d3", "a a a")],
        "doc_id string, text string")
    kept = tfidf.filter_tokens_by_tfidf(docs, 0.0)
    # 'a' appears in every doc → idf 0 → tfidf 0 → filtered everywhere
    assert {r["token"] for r in kept.collect()} == {"b", "c"}
    stats = tfidf.tfidf_filter_stats(docs, 0.0).first()
    # d1 keeps 1/3 tokens, d2 keeps 1/2, d3 keeps 0/3 → emptied
    assert math.isclose(stats["avg_remaining_pct"], (100 / 3 + 50 + 0) / 3)
    assert math.isclose(stats["emptied_docs_pct"], 100 / 3)
    assert stats["n_docs"] == 3
