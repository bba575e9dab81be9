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


def _with_jobs(spark, group: str, fn):
    """(fn(), number of Spark jobs fn started)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_materialize_builds_a_frame_once(spark):
    from lsh_spark.plans.checkpoint import materialize
    lazy = spark.range(50).selectExpr("id", "id % 7 AS k")
    held, jobs = _with_jobs(spark, "materialize-lazy", lambda: materialize(lazy))
    assert jobs >= 1
    assert sorted(held.collect()) == sorted(lazy.collect())

    # a materialized frame, or a re-select of all its columns, is returned
    # as is: no second checkpoint job
    again, jobs = _with_jobs(spark, "materialize-again",
                             lambda: materialize(held))
    assert again is held and jobs == 0
    reselect = held.select("id", "k")
    same, jobs = _with_jobs(spark, "materialize-reselect",
                            lambda: materialize(reselect))
    assert same is reselect and jobs == 0

    # a frame over a plain (never checkpointed) RDD is still materialized
    rdd_frame = spark.createDataFrame(
        spark.sparkContext.parallelize([(1, "a"), (2, "b")]),
        "n int, s string")
    held_rdd, jobs = _with_jobs(spark, "materialize-rdd",
                                lambda: materialize(rdd_frame))
    assert held_rdd is not rdd_frame and jobs >= 1
    assert sorted(held_rdd.collect()) == [(1, "a"), (2, "b")]
