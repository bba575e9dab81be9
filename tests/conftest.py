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


@pytest.fixture(scope="session")
def t1_transcripts(spark):
    return spark.read.parquet(synth.generate_tier("t1"))


@pytest.fixture(scope="session")
def t1_labels(spark):
    synth.generate_tier("t1")
    return spark.read.parquet(synth.dup_labels_path("t1"))
