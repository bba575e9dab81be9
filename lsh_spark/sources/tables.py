"""Table sources.

The reference loads datasets by reading ``.list`` manifest files and JSON
batch dumps into driver memory (reference ``loader.py:44-52,169-193``,
``json_manipulator.py:195-259``). Here sources are columnar parquet scans —
Catalyst gets predicate pushdown / column pruning for free, and an Iceberg
catalog can be swapped in transparently (the sandbox image has no Iceberg
runtime jars, so we degrade to parquet-backed tables behind the same
interface; see SURVEY.md §7.4 item 5).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from lsh_spark import synth

TPCH_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one of the driver-provided parquet tables."""
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def load_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize-on-miss and read the deterministic transcripts fixture
    matching this scale factor (shape per BASELINE.json input_hint)."""
    tier = synth.tier_for_sf_dir(sf_dir)
    path = synth.generate_tier(tier)
    return spark.read.parquet(path)


def load_dup_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    tier = synth.tier_for_sf_dir(sf_dir)
    synth.generate_tier(tier)
    return spark.read.parquet(synth.dup_labels_path(tier))


def quarantine_filter(df: DataFrame, bad_ids, id_col: str = "conv_id") -> DataFrame:
    """Drop rows whose id is on a quarantine list (reference analog: the
    hardcoded broken-WAV skip list, ``loader.py:148-159`` — S6). Accepts a
    Python list (an ``isin`` literal) or a DataFrame (anti-join; the list
    has no size bound, so the planner picks the join from its stats)."""
    from pyspark.sql import functions as F
    if isinstance(bad_ids, DataFrame):
        return df.join(bad_ids.select(id_col), id_col, "left_anti")
    return df.filter(~F.col(id_col).isin(list(bad_ids)))
