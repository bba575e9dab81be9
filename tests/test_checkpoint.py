"""CheckpointStore commit and layout tests: a stage's manifest entry, not
the caller, decides its layout, and a failed commit keeps the committed
stage."""

from __future__ import annotations

import contextlib
import io

import pytest

from lsh_spark.plans.checkpoint import CheckpointStore


def _exchanges(df) -> int:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue().count("Exchange")


@contextlib.contextmanager
def _no_broadcast(spark):
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def _two_bucketed_stages(spark, store):
    a = spark.createDataFrame(
        [(f"d{i}", i) for i in range(50)], "doc_id string, x int")
    b = spark.createDataFrame(
        [(f"d{i}", i * 2) for i in range(50)], "doc_id string, y int")
    store.write_bucketed(a, "stage_a", ("doc_id",), 4)
    store.write_bucketed(b, "stage_b", ("doc_id",), 4)
    return a


def test_failed_bucketed_rewrite_keeps_committed_stage(spark, tmp_path):
    """A rewrite whose Arrow kernel raises must fail and leave the
    committed bucketed stage readable, rows and layout intact."""
    store = CheckpointStore(str(tmp_path / "ck"))
    a = _two_bucketed_stages(spark, store)

    def boom(batches):
        for _ in batches:
            raise RuntimeError("injected write fault")
        yield from ()

    with pytest.raises(Exception, match="injected write fault"):
        store.write_bucketed(a.mapInArrow(boom, a.schema), "stage_a",
                             ("doc_id",), 4)
    ta = store.read(spark, "stage_a")
    assert sorted((r["doc_id"], r["x"]) for r in ta.collect()) == sorted(
        (f"d{i}", i) for i in range(50))
    with _no_broadcast(spark):
        joined = ta.join(store.read(spark, "stage_b"), "doc_id")
        assert _exchanges(joined) == 0
        assert joined.count() == 50


def test_bucketed_stage_survives_a_fresh_catalog(spark, tmp_path):
    """With the catalog entry gone, as in a new session, the manifest and
    the stage directory alone serve exists, read and bucket-aligned
    appends."""
    store = CheckpointStore(str(tmp_path / "ck"))
    _two_bucketed_stages(spark, store)
    spark.sql(f"DROP TABLE {store._bucketed_name('stage_a')}")
    spark.sql(f"DROP TABLE {store._bucketed_name('stage_b')}")
    fresh = CheckpointStore(store.root)
    assert fresh.exists("stage_a", spark)
    assert fresh.read(spark, "stage_a").count() == 50
    for doc_id, x in (("n1", 100), ("n2", 200)):
        fresh.append(spark.createDataFrame([(doc_id, x)],
                                           "doc_id string, x int"),
                     "stage_a")
    ids = {r["doc_id"] for r in fresh.read(spark, "stage_a").collect()}
    assert len(ids) == 52 and {"n1", "n2"} <= ids
    with _no_broadcast(spark):
        joined = fresh.read(spark, "stage_a").join(
            fresh.read(spark, "stage_b"), "doc_id")
        assert _exchanges(joined) == 0
        assert joined.count() == 50


def test_get_or_compute_reuses_bucketed_stage(spark, tmp_path):
    """A committed bucketed stage, appends included, is reused as it is:
    no recompute, no plain twin."""
    store = CheckpointStore(str(tmp_path / "ck"))
    _two_bucketed_stages(spark, store)
    store.append(spark.createDataFrame([("n1", 1)], "doc_id string, x int"),
                 "stage_a")

    def recompute():
        raise AssertionError("a committed stage must not be recomputed")
    ids = {r["doc_id"] for r in
           store.get_or_compute(spark, "stage_a", recompute).collect()}
    assert len(ids) == 51 and "n1" in ids
