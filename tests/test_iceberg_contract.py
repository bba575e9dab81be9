"""Iceberg-branch contract test (VERDICT r4 #3).

The sandbox has no Iceberg runtime (no network, no
iceberg-spark-runtime jar under /opt/spark/jars — documented in
COVERAGE.md), so ``CheckpointStore``'s Iceberg branch can never execute
against a live catalog here. This test mocks the exact Spark API surface
the branch touches — ``DataFrame.writeTo`` (returning a recording
V2 writer), ``DataFrameReader.table`` and ``Catalog.tableExists`` — with
snapshot-versioned in-memory table state, so every Iceberg-branch line
in plans/checkpoint.py (write / write_bucketed / append_bucketed / read /
read_lineage / exists / get_or_compute) runs for real and its contract
with the catalog is pinned:

 * plain stages: ``using("iceberg")`` then ``createOrReplace()`` on
   ``<catalog>.<namespace>.<stage>`` — an atomic snapshot swap (a new
   version, old snapshot intact);
 * bucketed stages: additionally ``partitionedBy(bucket(n, col))``;
 * delta fold-in: bare ``append()`` — never a replace;
 * reads go through ``spark.read.table`` and strip lineage columns;
 * resume (``get_or_compute``) reads the last committed snapshot without
   recomputing.

When a real catalog exists, the branch is selected by the same
``spark.sql.catalog.<name>`` conf this test sets — nothing else changes.
"""

from __future__ import annotations

import pyspark.sql.catalog as _catalog_mod
import pyspark.sql.readwriter as _rw_mod
# instances are the CLASSIC subclass in pyspark 4 — patching the abstract
# pyspark.sql.DataFrame base would not intercept its writeTo override
from pyspark.sql.classic.dataframe import DataFrame
from pyspark.sql import functions as F

from lsh_spark.plans.checkpoint import CheckpointStore

CATALOG = "ck_mock"


class _SnapshotTable:
    """Versioned table state: every commit appends a snapshot."""

    def __init__(self):
        self.snapshots: list[DataFrame] = []

    @property
    def current(self) -> DataFrame:
        return self.snapshots[-1]


class _RecordingWriter:
    """Stand-in for the DataFrameWriterV2 the Iceberg branch drives."""

    def __init__(self, df, table, state, calls):
        self._df, self._table = df, table
        self._state, self._calls = state, calls

    def using(self, fmt):
        self._calls.append((self._table, "using", fmt))
        return self

    def partitionedBy(self, *transforms):
        self._calls.append(
            (self._table, "partitionedBy", [str(t) for t in transforms]))
        return self

    def createOrReplace(self):
        self._calls.append((self._table, "createOrReplace", None))
        self._state.setdefault(self._table, _SnapshotTable()) \
            .snapshots.append(self._df)

    def append(self):
        self._calls.append((self._table, "append", None))
        tbl = self._state[self._table]  # append to a missing table raises
        tbl.snapshots.append(tbl.current.unionByName(self._df))


def _mock_catalog(monkeypatch, spark):
    state: dict[str, _SnapshotTable] = {}
    calls: list[tuple] = []

    monkeypatch.setattr(
        DataFrame, "writeTo",
        lambda self, table: _RecordingWriter(self, table, state, calls))

    real_table = _rw_mod.DataFrameReader.table

    def table(self, name):
        if name in state:
            return state[name].current
        return real_table(self, name)
    monkeypatch.setattr(_rw_mod.DataFrameReader, "table", table)

    real_exists = _catalog_mod.Catalog.tableExists

    def table_exists(self, name, dbName=None):
        if name in state:
            return True
        if name.startswith(f"{CATALOG}."):
            return False
        return real_exists(self, name, dbName)
    monkeypatch.setattr(_catalog_mod.Catalog, "tableExists", table_exists)

    # the branch selector: conf key presence == catalog configured
    spark.conf.set(f"spark.sql.catalog.{CATALOG}", "mock.SparkCatalog")
    return state, calls


def test_iceberg_branch_contract(monkeypatch, spark, tmp_path):
    state, calls = _mock_catalog(monkeypatch, spark)
    store = CheckpointStore(str(tmp_path / "ck"), catalog=CATALOG)
    assert store._iceberg(spark)

    df = spark.createDataFrame(
        [("d1", 1), ("d2", 2), ("d3", 3)], "doc_id string, v int")

    # -- plain stage: using("iceberg") + createOrReplace, lineage stamped
    out = store.write(df, "stage_a")
    t = f"{CATALOG}.lsh_ckpt.stage_a"
    assert [(c[1], c[2]) for c in calls if c[0] == t] == [
        ("using", "iceberg"), ("createOrReplace", None)]
    assert sorted(out.columns) == ["doc_id", "v"]  # lineage stripped
    assert {c for c in state[t].current.columns} >= {
        "_run_id", "_stage", "_part_id"}
    assert store.exists("stage_a", spark)
    assert not store.exists("stage_missing", spark)
    lin = store.read_lineage(spark, "stage_a").collect()
    assert sum(r["rows"] for r in lin) == 3

    # -- atomic snapshot swap: replace commits a NEW version, old intact
    df2 = spark.createDataFrame([("d9", 9)], "doc_id string, v int")
    store.write(df2, "stage_a")
    assert len(state[t].snapshots) == 2
    assert state[t].snapshots[0].count() == 3  # prior snapshot untouched
    assert store.read(spark, "stage_a").count() == 1

    # -- resume: get_or_compute reads the committed snapshot, no recompute
    def boom():
        raise AssertionError("resume must not recompute a committed stage")
    assert store.get_or_compute(spark, "stage_a", boom).count() == 1

    # -- bucketed stage: partitionedBy(bucket(n, col)) before the commit
    store.write_bucketed(df, "stage_b", ("doc_id",), n_buckets=8)
    tb = f"{CATALOG}.lsh_ckpt.stage_b"
    kinds = [(c[1], c[2]) for c in calls if c[0] == tb]
    assert ("using", "iceberg") in kinds
    pb = next(c for c in calls if c[0] == tb and c[1] == "partitionedBy")
    assert pb[2] == [str(F.bucket(8, F.col("doc_id")))]
    assert kinds[-1] == ("createOrReplace", None)
    assert store.exists("stage_b", spark)
    assert store.read_bucketed(spark, "stage_b").count() == 3

    # -- delta fold-in: bare append(), never a replace
    n_before = len(calls)
    store.append_bucketed(df2, "stage_b", ("doc_id",), n_buckets=8)
    appended = calls[n_before:]
    assert [(c[1]) for c in appended if c[0] == tb] == ["append"]
    assert store.read_bucketed(spark, "stage_b").count() == 4
    assert len(state[tb].snapshots) == 2  # append == new snapshot too

    # -- plain-stage delta fold-in: append() on an existing stage is a bare
    # snapshot append too (the O(delta) non-bucketed ingest primitive)
    n_before = len(calls)
    store.append(df2, "stage_a")
    assert [(c[1]) for c in calls[n_before:] if c[0] == t] == ["append"]
    assert store.read(spark, "stage_a").count() == 2
    assert len(state[t].snapshots) == 3


def test_plain_append_parquet_fallback(spark, tmp_path):
    """Parquet fallback of ``append``: an existing stage gains the batch's
    rows as extra part files (read = old ∪ new, commit marker intact), and
    appending to a MISSING stage falls back to a full write."""
    import os
    store = CheckpointStore(str(tmp_path / "ck3"))
    df = spark.createDataFrame(
        [("d1", 1), ("d2", 2)], "doc_id string, v int")
    df2 = spark.createDataFrame([("d9", 9)], "doc_id string, v int")

    out = store.append(df, "stage_p")          # missing → write fallback
    assert store.exists("stage_p", spark)
    assert out.count() == 2
    store.append(df2, "stage_p")               # existing → O(delta) append
    got = {(r["doc_id"], r["v"])
           for r in store.read(spark, "stage_p").collect()}
    assert got == {("d1", 1), ("d2", 2), ("d9", 9)}
    assert os.path.exists(
        os.path.join(str(tmp_path / "ck3"), "stage_p", "_SUCCESS"))
    # resume still reuses the committed stage, never recomputes
    def boom():
        raise AssertionError("resume must not recompute a committed stage")
    assert store.get_or_compute(spark, "stage_p", boom).count() == 3


def test_iceberg_branch_not_selected_without_conf(spark, tmp_path):
    """A catalog NAME alone must not flip the branch — only a configured
    session catalog does (otherwise writes would target a nonexistent
    catalog instead of the parquet fallback)."""
    store = CheckpointStore(str(tmp_path / "ck2"), catalog="not_configured")
    assert not store._iceberg(spark)
