"""Materialization, in-session and durable: ``materialize`` and the
checkpoint tables (resumable pipeline state with lineage + metrics).

This module owns every point where the engine cuts lineage. In-session
barriers (a frame several consumers read, a plan that must stop growing)
go through ``materialize``, the one ``localCheckpoint`` call in the
package; it skips a frame that is already materialized, so a producer and
a consumer can both ask for the same frame and it is built once. It gives
the planner no statistics — a materialized frame keeps its old size
estimate, and AQE re-plans only from shuffle-stage sizes — so a frame
with one reader is not materialized. Durable stages go through
``CheckpointStore``.

north_rule: "checkpoint band-bucket and component state to Iceberg for
resumable runs with per-partition lineage and metrics". When the session
has an Iceberg catalog configured (``spark.sql.catalog.<name>`` set, e.g.
via --packages org.apache.iceberg:iceberg-spark-runtime + a SparkCatalog),
stages are Iceberg tables written with ``writeTo(...).createOrReplace()``
(atomic snapshot swap, time-travel for free). The sandbox image has no
Iceberg runtime jars, so the store degrades to parquet directories under
``root`` behind the SAME interface (atomic via write-to-temp + rename;
resume = read last committed stage) — call sites never change (SURVEY.md
§7.4 item 5).

The store owns each stage's layout. A stage is plain or BUCKETED (written
with ``write_bucketed``); the stage's latest run-manifest entry records
which (``bucket_cols`` + ``n_buckets`` for a bucketed one), and ``exists``,
``read`` and ``append`` follow it, so callers never choose. Both layouts
commit through one path (``_commit``): stamp per-partition lineage
columns (_run_id, _stage, _part_id; ``read_lineage`` counts rows per
partition), write a temp dir and rename it into ``root/<stage>`` (or
append part files to it), then append a row to the run manifest — the
reference's filenames-manifest analog (reference
``json_manipulator.py:184-192``), minus the append-mode race. A bucketed
stage is additionally an external ``CLUSTERED BY`` session-catalog table
over its directory, registered from the manifest on first use in a
session; the catalog entry is only metadata, so a failed rewrite or a
fresh session loses nothing. Its rows are clustered by bucket before every
write or append, so each commit adds at most one file per bucket, not one
per write task and bucket.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, DataFrameWriter, SparkSession, \
    functions as F

LINEAGE = ("_run_id", "_stage", "_part_id")


def materialize(df: DataFrame) -> DataFrame:
    """``df`` computed once and held for the session (eager
    ``localCheckpoint``); its lineage is cut, so later plans read the
    held rows instead of re-running the subtree.

    A frame that already reads held rows in place (its optimized plan is
    a scan of a checkpointed RDD, or a projection of some of its columns
    over one, computing nothing) is returned unchanged, so no rows are
    materialized twice — that would cost one more Spark job for rows
    already held. A projection that computes a column is materialized."""
    return df if _held_parts(df) is not None else df.localCheckpoint()


def _held_parts(df: DataFrame) -> int | None:
    """Partition count of a frame that reads held rows in place (a
    checkpointed RDD scan, or bare columns projected from one), else
    None; read from the optimized plan, so no Spark job runs."""
    plan = df._jdf.queryExecution().optimizedPlan()
    if plan.getClass().getSimpleName() == "Project":
        cols = plan.projectList()
        if any(cols.apply(i).getClass().getSimpleName()
               != "AttributeReference" for i in range(cols.size())):
            return None
        plan = plan.child()
    if (plan.getClass().getSimpleName() == "LogicalRDD"
            and plan.rdd().isCheckpointed()):
        return plan.rdd().getNumPartitions()
    return None


class CheckpointStore:
    def __init__(self, root: str, run_id: str | None = None,
                 catalog: str | None = None, namespace: str = "lsh_ckpt"):
        """``catalog``: name of a configured Iceberg catalog. None (default)
        = parquet fallback under ``root``. The Iceberg branch is selected
        only if the catalog is actually configured on the session."""
        self.root = root
        self.run_id = run_id or uuid.uuid4().hex[:12]
        self.catalog = catalog
        self.namespace = namespace
        os.makedirs(root, exist_ok=True)

    def _path(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def _table(self, stage: str) -> str:
        return f"{self.catalog}.{self.namespace}.{stage}"

    def _manifest(self) -> str:
        return os.path.join(self.root, "_manifest.json")

    def _iceberg(self, spark: SparkSession) -> bool:
        if not self.catalog:
            return False
        return spark.conf.get(f"spark.sql.catalog.{self.catalog}",
                              None) is not None

    def exists(self, stage: str, spark: SparkSession | None = None) -> bool:
        if spark is not None and self._iceberg(spark):
            return spark.catalog.tableExists(self._table(stage))
        return os.path.exists(os.path.join(self._path(stage), "_SUCCESS"))

    def write(self, df: DataFrame, stage: str) -> DataFrame:
        """Materialize a plain stage with lineage columns; atomic replace."""
        return self._commit(df, stage)

    def write_bucketed(self, df: DataFrame, stage: str,
                       bucket_cols: tuple[str, ...] = ("doc_id",),
                       n_buckets: int = 16) -> DataFrame:
        """Materialize a stage BUCKETED on ``bucket_cols`` — the co-located
        join technique: two stages bucketed on the same key with the same
        bucket count join WITHOUT a shuffle (each bucket file pair is a
        map-side join; asserted in tests/test_plans.py). At 100 TB this is
        how the repeatedly-joined tables (doc_hashes for verification, band
        buckets for probing) avoid re-shuffling the corpus per consumer.
        Atomic replace like ``write``; Iceberg mode writes a
        ``bucket(n, col)``-partitioned table instead — same property.

        The rows are repartitioned by the bucket hash before they are
        written, here and on every ``append`` to the stage, so each commit
        writes at most one file per bucket. The commit therefore runs with
        ``n_buckets`` write tasks, the same parallelism the stage's
        co-located reads already have (a one-partition materialized input
        is written as it is), and a row's ``_part_id`` is its bucket id."""
        return self._commit(df, stage, {"bucket_cols": list(bucket_cols),
                                        "n_buckets": n_buckets})

    def append(self, df: DataFrame, stage: str) -> DataFrame:
        """APPEND rows to a stage in its own layout — the delta fold-in
        primitive: the batch lands as new part files next to the stage's
        committed ones (bucket-aligned files for a bucketed stage, so the
        co-located-join property survives), so folding a delta into the
        index costs O(delta), never the read-union-rewrite O(corpus) that
        ``write`` of a union implies (at 10^12 rows the rewrite IS the
        ingest cost). A missing stage is written plain.

        Crash safety matches ``write``: task files are committed through
        the Hadoop commit protocol (renamed out of ``_temporary`` only at
        job commit), so a crash mid-append leaves the previously committed
        stage intact plus an ignorable ``_temporary`` dir. The append is
        not idempotent, though: a retry after it committed appends the
        same rows again, so a batch that may have committed must not
        simply re-run. Iceberg mode appends a snapshot."""
        return self._commit(df, stage, append=True)

    def append_bucketed(self, df: DataFrame, stage: str,
                        bucket_cols: tuple[str, ...] = ("doc_id",),
                        n_buckets: int = 16) -> DataFrame:
        """``append``, writing a missing stage bucketed on ``bucket_cols``
        into ``n_buckets``. An existing stage keeps the layout its manifest
        entry records, so appends can never disagree with it."""
        return self._commit(df, stage, {"bucket_cols": list(bucket_cols),
                                        "n_buckets": n_buckets}, append=True)

    def _commit(self, df: DataFrame, stage: str, layout: dict | None = None,
                append: bool = False) -> DataFrame:
        """The one commit path of both layouts: stamp lineage, write (temp
        dir + rename) or append, then log the layout to the manifest."""
        spark = df.sparkSession
        append = append and self.exists(stage, spark)
        if append:  # an existing stage keeps its recorded layout
            layout = self._layout(stage)
        layout = layout or {}
        iceberg = self._iceberg(spark)
        part_id = F.spark_partition_id()
        if layout and not iceberg:
            # the same pmod(murmur3(cols), n) as the bucketBy writer: each
            # task holds one bucket, so a commit writes one file per bucket;
            # one held partition (a delta, or bare columns projected from
            # one) already does, without the shuffle
            cols, n = layout["bucket_cols"], layout["n_buckets"]
            if _held_parts(df) not in (0, 1):
                df = df.repartition(n, *cols)
            part_id = F.pmod(F.hash(*cols), F.lit(n))
        stamped = (df.withColumn("_run_id", F.lit(self.run_id))
                     .withColumn("_stage", F.lit(stage))
                     .withColumn("_part_id", part_id))
        if iceberg:
            if append:
                stamped.writeTo(self._table(stage)).append()
            else:
                writer = stamped.writeTo(self._table(stage)).using("iceberg")
                if layout:
                    writer = writer.partitionedBy(F.bucket(
                        layout["n_buckets"], F.col(layout["bucket_cols"][0])))
                writer.createOrReplace()
        elif append and layout:
            self._register(spark, stage, layout)
            _bucketed(stamped.write.mode("append"), layout) \
                .saveAsTable(self._bucketed_name(stage))
        elif append:
            stamped.write.mode("append").parquet(self._path(stage))
        else:
            final = self._path(stage)
            tmp = final + ".tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            # a bucketed stage's catalog entry is an external table over
            # its directory: dropping it keeps the files, and the next use
            # registers the committed stage again from the manifest
            name = self._bucketed_name(stage)
            if layout or self._layout(stage):
                spark.sql(f"DROP TABLE IF EXISTS `{name}`")
            if layout:
                # bucket metadata needs a catalog table; write it at tmp
                _bucketed(stamped.write.mode("overwrite"), layout) \
                    .option("path", os.path.abspath(tmp)).saveAsTable(name)
                spark.sql(f"DROP TABLE `{name}`")
            else:
                stamped.write.mode("overwrite").parquet(tmp)
            if os.path.exists(final):
                shutil.rmtree(final)
            os.rename(tmp, final)
        self._log(stage, **layout)
        return self._scan(spark, stage).drop(*LINEAGE)

    def _layout(self, stage: str) -> dict:
        """Bucket spec from the stage's latest manifest entry ({} = plain)."""
        e = self._latest(stage) or {}
        return {k: e[k] for k in ("bucket_cols", "n_buckets") if k in e}

    def _scan(self, spark: SparkSession, stage: str) -> DataFrame:
        """The committed stage, lineage columns included, in its layout."""
        if self._iceberg(spark):
            return spark.read.table(self._table(stage))
        layout = self._layout(stage)
        if layout:
            self._register(spark, stage, layout)
            return spark.read.table(self._bucketed_name(stage))
        return spark.read.parquet(self._path(stage))

    def read(self, spark: SparkSession, stage: str) -> DataFrame:
        return self._scan(spark, stage).drop(*LINEAGE)

    def read_bucketed(self, spark: SparkSession, stage: str) -> DataFrame:
        """``read``, for callers that name the layout; the manifest decides
        it either way."""
        return self._scan(spark, stage).drop(*LINEAGE)

    def read_lineage(self, spark: SparkSession, stage: str) -> DataFrame:
        """Per-partition lineage/metrics view of a checkpointed stage."""
        return (
            self._scan(spark, stage)
            .groupBy(*LINEAGE)
            .agg(F.count("*").alias("rows"))
        )

    def get_or_compute(self, spark: SparkSession, stage: str, thunk) -> DataFrame:
        """Resume-aware: reuse the committed stage if present."""
        if self.exists(stage, spark):
            return self.read(spark, stage)
        return self.write(thunk(), stage)

    def _bucketed_name(self, stage: str) -> str:
        """Session-catalog table name for a bucketed stage, namespaced by a
        hash of the store root: two stores in one session (different tiers,
        concurrent runs) must not clobber each other's same-named stages.
        A root hash (not run_id) keeps resume working — a fresh store over
        the same root, with a new auto run_id, still finds the table."""
        tag = hashlib.md5(self.root.encode()).hexdigest()[:10]
        return f"lsh_ckpt_{tag}_{stage}"

    def _register(self, spark: SparkSession, stage: str,
                  layout: dict) -> None:
        """Register a bucketed stage in this session's catalog, once: an
        external CLUSTERED BY table over the committed directory (the
        bucket id is encoded in the file names) restores the shuffle-free
        join property, also for a fresh session whose in-memory catalog
        never saw the write."""
        name = self._bucketed_name(stage)
        if spark.catalog.tableExists(name):
            return
        loc = os.path.abspath(self._path(stage))
        ddl = spark.read.parquet(loc)._jdf.schema().toDDL()
        cols = ", ".join(f"`{c}`" for c in layout["bucket_cols"])
        spark.sql(
            f"CREATE TABLE `{name}` ({ddl}) USING parquet "
            f"CLUSTERED BY ({cols}) SORTED BY ({cols}) "
            f"INTO {layout['n_buckets']} BUCKETS LOCATION '{loc}'")

    # banding-geometry fields that determine band-key compatibility between
    # an index and a probe (ADVICE r4: probing an r=1 index with r=2 session
    # defaults joins band_id 0-15 keys against band_id 0-31 rows and silently
    # reports zero vs-index duplicates)
    GEOMETRY_FIELDS = ("num_perms", "band_rows", "shingle_k",
                       "hash_mode", "granularity")

    def record_geometry(self, cfg) -> None:
        """Stamp the index's banding geometry into the run manifest at
        build time so later probes can detect a config drift."""
        self._log("_geometry", geometry={
            f: getattr(cfg, f) for f in self.GEOMETRY_FIELDS})

    def geometry(self) -> dict | None:
        """Last recorded index geometry, or None for a pre-geometry store."""
        e = self._latest("_geometry")
        return e["geometry"] if e else None

    def validate_geometry(self, cfg) -> None:
        """Raise if the session cfg's banding geometry differs from what the
        checkpointed index was built with.  No-op when the store predates
        geometry recording (nothing to validate against).  Only
        GEOMETRY_FIELDS are compared: a field an older manifest recorded
        but the config has since dropped is ignored."""
        rec = self.geometry()
        if rec is None:
            return
        built = {f: rec[f] for f in self.GEOMETRY_FIELDS
                 if f in rec and getattr(cfg, f) != rec[f]}
        if built:
            now = {f: getattr(cfg, f) for f in built}
            raise ValueError(
                f"index geometry mismatch — the checkpointed band index at "
                f"{self.root} was built with {built} but the session cfg "
                f"has {now}; probing across banding geometries silently "
                f"yields zero vs-index matches.  Rebuild the index or pin "
                f"the cfg (e.g. DedupConfig(band_rows=...)) to the "
                f"recorded values.")

    def _entries(self) -> list[dict]:
        if not os.path.exists(self._manifest()):
            return []
        with open(self._manifest()) as f:
            return json.load(f)

    def _latest(self, stage: str) -> dict | None:
        return next((e for e in reversed(self._entries())
                     if e.get("stage") == stage), None)

    def _log(self, stage: str, **extra) -> None:
        entries = self._entries()
        entries.append({"run_id": self.run_id, "stage": stage, **extra})
        # write-then-rename: a crash mid-dump leaves the previous manifest
        # whole (os.replace is atomic within one directory), so geometry()
        # and each stage's layout still read it on resume
        tmp = self._manifest() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(entries, f, indent=1)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._manifest())


def _bucketed(writer: DataFrameWriter, layout: dict) -> DataFrameWriter:
    cols = layout["bucket_cols"]
    return (writer.bucketBy(layout["n_buckets"], *cols).sortBy(*cols)
            .format("parquet"))
