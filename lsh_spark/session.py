"""SparkSession factory.

Local-mode friendly but configured the way a 1000-executor cluster run
would be: AQE on (runtime re-planning + skew-join mitigation), Arrow on
(all our heavy kernels are mapInArrow/pandas-UDF), shuffle partitions
sized to parallelism instead of the 200 default, UTC timezone pinned so
results compare bit-for-bit against the DuckDB oracle.

The reference has no session concept — it is a single-process NumPy script
(reference ``main.py:185-237``); its one parallelism knob is a
multiprocessing.Pool (reference ``json_manipulator.py:168-173``), which maps
here to executor parallelism.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Entries of Spark's generated-class cache (the static
# ``spark.sql.codegen.cache.maxEntries``, default 100). The cache is an LRU
# over every generated class of the JVM, and one operation of the engine
# needs more than 100 (perfbench n2000-s47, 4 vCPU): a ``conv`` cascade
# 165-167 classes, a ``turn`` cascade 170-173, one ``steady`` cycle ~90
# (its first delta 65, its probes the rest), the t1 test cascade 165-171.
# At 100 an operation evicts its own classes before it is repeated, so the
# repeat recompiles them: 155-157 classes (~1 s) per ``conv`` cascade,
# 37-41 per ``steady`` delta. 1024 holds over 6× the largest working set,
# so a plan shape run before compiles nothing. Measured in local mode,
# where the executors share the driver's JVM; executors of a cluster are
# unverified.
CODEGEN_CACHE_ENTRIES = 1024


def get_spark(
    app_name: str = "lsh_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
    master: str | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` defaults to $SPARK_GRAFT_CPUS or 32 (the sandbox stand-in for a
    multi-executor cluster; scaling is evidenced by running the same job at
    local[N] and local[4N], per BASELINE.md).

    ``master`` overrides the local[cores] master — e.g.
    ``spark://host:7077`` for a standalone cluster
    (BENCH/scaling_standalone.py, jobs/cluster_job.py); executor sizing
    then comes from ``extra_conf`` (spark.executor.cores /
    spark.cores.max), and ``cores`` only feeds the shuffle-width default.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        # 3x over-partitioning: our shuffle stages are CPU-bound Python
        # kernels with small byte volumes, so straggler amortization beats
        # per-task overhead; AQE coalescing (parallelismFirst=true, the
        # default) still merges below-advisory partitions but never under
        # the session parallelism. Measured at tier xl / 16 cores: 1x cores
        # leaves stage walls pinned at the single slowest task.
        shuffle_partitions = max(cores * 3, 24)

    builder = (
        SparkSession.builder.master(master or f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # default.parallelism feeds TWO sizing decisions that must track
        # the 3x over-partitioning, not raw cores: (a) AQE's
        # parallelismFirst coalescing targets totalBytes/defaultParallelism
        # — at 1x cores it re-coalesces the CPU-bound Arrow-kernel stages
        # (whose cost is per-row Python, not bytes) down to ~1.2 task
        # waves (measured: fused scan 20 tasks / 16 cores, ~5 s idle
        # tail); (b) scan maxSplitBytes is capped at
        # totalBytes/defaultParallelism, so 1x cores gives a 4-core
        # session BIGGER file splits than a 16-core one.
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # finer file splits (row-group granularity permitting): a 500 MB
        # single-file input should fan out to ~30 scan tasks, not 4, and
        # the split count must not depend on defaultParallelism (Spark
        # caps maxSplitBytes at totalBytes/defaultParallelism, so a LOWER
        # core count otherwise gets BIGGER splits — which makes an N-vs-4N
        # comparison measure two different scan plans)
        .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("LSH_SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # static: it must reach the builder, before getOrCreate
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.warehouse.dir",
                os.environ.get("LSH_SPARK_WAREHOUSE", "/tmp/lsh_spark_warehouse"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
