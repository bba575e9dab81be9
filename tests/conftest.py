from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

# the checkout these tests belong to, for this process and its Python workers
ROOT = str(Path(__file__).resolve().parents[1])
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

from lsh_spark import synth  # noqa: E402
from lsh_spark.session import get_spark  # noqa: E402


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: multi-JVM or CLI end-to-end test (minutes)")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("lsh_spark_tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def with_jobs(spark):
    """``with_jobs(group, fn)`` → (fn(), ids of the Spark jobs fn started),
    counted through a job group named ``group``."""
    sc = spark.sparkContext

    def run(group: str, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, list(sc.statusTracker().getJobIdsForGroup(group))
    return run


@pytest.fixture(scope="session")
def compiled(spark):
    """``compiled(fn)`` → (fn(), number of classes Spark's code generator
    compiled while fn ran; a class found in its cache is not counted)."""
    metric = (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
              .METRIC_COMPILATION_TIME())

    def run(fn):
        before = metric.getCount()
        out = fn()
        return out, metric.getCount() - before
    return run


@pytest.fixture
def record_collects(spark, monkeypatch):
    """From then on, the list gets (executed plan after AQE, a JVM
    ``SparkPlan``; rows) of every ``DataFrame.collect()``: the reads of an
    operator that collects."""
    frame_cls = type(spark.range(0))
    seen = []
    collect = frame_cls.collect

    def recording(self):
        rows = collect(self)
        seen.append((self._jdf.queryExecution().executedPlan(), rows))
        return rows

    monkeypatch.setattr(frame_cls, "collect", recording)
    return seen


@pytest.fixture
def make_probe_index(spark, tmp_path):
    """``make_probe_index(cfg, shared)`` → (bands, hashes): a 4-bucket index
    of docs d0..d11 as the store keeps it. The docs of each id group in
    ``shared`` share one text; the other docs share no shingle with any
    doc."""
    from lsh_spark.operators import lsh_bands, minhash, shingle
    from lsh_spark.plans.checkpoint import CheckpointStore

    def build(cfg, shared):
        text = {i: " ".join(f"{c}{g or ''}" for c in "abcdefgh")
                for g, ids in enumerate(shared) for i in ids}
        docs = spark.createDataFrame(
            [(f"d{i}", text.get(i, " ".join(f"w{i}x{j}" for j in range(8))))
             for i in range(12)], "doc_id string, text string")
        store = CheckpointStore(str(tmp_path / "probe_index"))
        store.write_bucketed(shingle.doc_shingle_hashes(docs, cfg),
                             "shingle_hashes", ("doc_id",), 4)
        hashes = store.read(spark, "shingle_hashes")
        store.write_bucketed(lsh_bands.band_buckets(
            minhash.minhash_signatures(hashes, cfg), cfg),
            "band_buckets", ("band_hash",), 4)
        return store.read(spark, "band_buckets"), hashes
    return build


@pytest.fixture
def probe_index(make_probe_index):
    """(bands, hashes, cfg): a 4-bucket index as the store keeps it. d0 and
    d5 share their text; the other docs share no shingle with any doc."""
    from lsh_spark.config import DedupConfig
    cfg = DedupConfig(num_perms=8)
    return (*make_probe_index(cfg, [(0, 5)]), cfg)


@pytest.fixture(scope="session")
def t1_transcripts(spark):
    return spark.read.parquet(synth.generate_tier("t1"))


@pytest.fixture(scope="session")
def t1_labels(spark):
    synth.generate_tier("t1")
    return spark.read.parquet(synth.dup_labels_path("t1"))
