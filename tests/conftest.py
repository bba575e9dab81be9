from __future__ import annotations

import sys

import pytest

sys.path.insert(0, "/root/repo")

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
def probe_index(spark, tmp_path):
    """(bands, hashes, cfg): a 4-bucket index as the store keeps it. d0 and
    d5 share their text; the other docs share no shingle with any doc."""
    from lsh_spark.config import DedupConfig
    from lsh_spark.operators import lsh_bands, minhash, shingle
    from lsh_spark.plans.checkpoint import CheckpointStore
    cfg = DedupConfig(num_perms=8)
    docs = spark.createDataFrame(
        [(f"d{i}", "a b c d e f g h" if i in (0, 5)
          else " ".join(f"w{i}x{j}" for j in range(8))) for i in range(12)],
        "doc_id string, text string")
    store = CheckpointStore(str(tmp_path / "probe_index"))
    store.write_bucketed(shingle.doc_shingle_hashes(docs, cfg),
                         "shingle_hashes", ("doc_id",), 4)
    hashes = store.read(spark, "shingle_hashes")
    store.write_bucketed(lsh_bands.band_buckets(
        minhash.minhash_signatures(hashes, cfg), cfg),
        "band_buckets", ("band_hash",), 4)
    return store.read(spark, "band_buckets"), hashes, cfg


@pytest.fixture(scope="session")
def t1_transcripts(spark):
    return spark.read.parquet(synth.generate_tier("t1"))


@pytest.fixture(scope="session")
def t1_labels(spark):
    synth.generate_tier("t1")
    return spark.read.parquet(synth.dup_labels_path("t1"))
