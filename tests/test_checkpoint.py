"""CheckpointStore commit and layout tests: a stage's manifest entry, not
the caller, decides its layout, and a failed commit keeps the committed
stage."""

from __future__ import annotations

import contextlib
import io
import pathlib

import pytest

from lsh_spark.plans.checkpoint import CheckpointStore, materialize

PKG = pathlib.Path(__file__).resolve().parent.parent / "lsh_spark"
STORE = PKG / "plans" / "checkpoint.py"


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


def _parquet_files(store, stage) -> set[str]:
    root = pathlib.Path(store.root) / stage
    return {str(p.relative_to(root)) for p in root.rglob("*.parquet")}


def test_bucketed_commit_writes_one_file_per_bucket(spark, tmp_path,
                                                   with_jobs):
    """Each bucketed write or append clusters its rows by bucket first, so
    it adds at most n_buckets files however many partitions its input
    has, and the co-located join property holds across the appends."""
    store = CheckpointStore(str(tmp_path / "ck"))
    _two_bucketed_stages(spark, store)

    def frame(lo, hi, parts):
        df = spark.createDataFrame([(f"d{i}", i) for i in range(lo, hi)],
                                   "doc_id string, x int").repartition(parts)
        assert df.rdd.getNumPartitions() == parts
        return df

    commits = [
        lambda: store.write_bucketed(frame(0, 240, 6), "stage_c",
                                     ("doc_id",), 4),
        lambda: store.append(frame(240, 360, 3), "stage_c"),
        lambda: store.append(frame(360, 480, 3), "stage_c"),
    ]
    before = set()
    for commit in commits:
        commit()
        files = _parquet_files(store, "stage_c")
        assert before <= files and len(files - before) <= 4
        before = files
    # a one-partition materialized input (a delta) is written as it is:
    # no clustering shuffle, so the commit runs one stage
    delta = materialize(frame(480, 520, 1))
    _, jobs = with_jobs("one_partition_append",
                        lambda: store.append(delta, "stage_c"))
    tracker = spark.sparkContext.statusTracker()
    stages = {s for j in jobs for s in tracker.getJobInfo(j).stageIds}
    assert len(stages) == 1, stages
    files = _parquet_files(store, "stage_c")
    assert before <= files and len(files - before) <= 4
    got = sorted((r["doc_id"], r["x"])
                 for r in store.read(spark, "stage_c").collect())
    assert got == sorted((f"d{i}", i) for i in range(520))
    # a bucketed stage's _part_id is the row's bucket id
    lineage = store._scan(spark, "stage_c")
    assert lineage.filter("_part_id != pmod(hash(doc_id), 4)").count() == 0
    with _no_broadcast(spark):
        joined = store.read(spark, "stage_c").join(
            store.read(spark, "stage_b"), "doc_id")
        assert _exchanges(joined) == 0
        assert joined.count() == 50


def test_failed_bucketed_append_keeps_committed_stage(spark, tmp_path):
    """An append whose Arrow kernel raises, after the clustering shuffle
    was planned into the commit, must leave the stage's rows, files and
    manifest exactly as they were."""
    store = CheckpointStore(str(tmp_path / "ck"))
    a = _two_bucketed_stages(spark, store)
    store.append(spark.createDataFrame([("n1", 1)], "doc_id string, x int"),
                 "stage_a")
    stage_dir = pathlib.Path(store._path("stage_a"))

    def snapshot():
        rows = sorted((r["doc_id"], r["x"])
                      for r in store.read(spark, "stage_a").collect())
        files = sorted(str(p.relative_to(stage_dir))
                       for p in stage_dir.rglob("*"))
        return rows, files, pathlib.Path(store._manifest()).read_text()

    def boom(batches):
        for _ in batches:
            raise RuntimeError("injected append fault")
        yield from ()

    before = snapshot()
    with pytest.raises(Exception, match="injected append fault"):
        store.append(a.mapInArrow(boom, a.schema), "stage_a")
    assert snapshot() == before
    with _no_broadcast(spark):
        joined = store.read(spark, "stage_a").join(
            store.read(spark, "stage_b"), "doc_id")
        assert _exchanges(joined) == 0
        assert joined.count() == 50


def test_bucket_by_only_in_the_store():
    """Every bucketed writer goes through ``CheckpointStore._commit``, which
    clusters rows by bucket first: a ``bucketBy(`` anywhere else would
    write tasks × buckets files again."""
    calls = [f"{path.relative_to(PKG)}:{n}"
             for path in sorted(PKG.rglob("*.py")) if path != STORE
             for n, line in enumerate(path.read_text().splitlines(), 1)
             if "bucketBy(" in line]
    assert calls == []
