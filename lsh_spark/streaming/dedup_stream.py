"""Structured-Streaming incremental dedup (beyond-reference bonus).

The reference is strictly batch (SURVEY.md §2.10: no streams, watermarks or
state anywhere); BASELINE.json scopes streaming out of v1. This module adds
the minimal, honest streaming surface a transcript-ingest pipeline needs:
exact-dedup on arrival (content-hash dropDuplicates within a watermark) and
windowed ingest metrics. Tested with the file source + processAllAvailable
(synchronous drain) in tests/test_streaming.py.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

TRANSCRIPT_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("role", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("tool", T.StringType()),
    T.StructField("ts", T.TimestampType()),
])


def read_transcript_stream(spark: SparkSession, path: str,
                           max_files_per_trigger: int = 4) -> DataFrame:
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def streaming_exact_dedup(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Drop turns whose text already arrived within the watermark window.

    Uses ``dropDuplicatesWithinWatermark`` (Spark 3.5+): dedup state for a
    hash is evicted once its event time falls behind the watermark, so
    state is genuinely bounded by the horizon — a turn may re-emit after
    the horizon passes (at-least-once dedup). Plain
    ``dropDuplicates(['text_hash'])`` would NOT bound state: Spark only
    evicts exact-dedup state when the event-time column is part of the
    dedup subset, so on a long-running stream that state grows forever.
    """
    return (
        stream.withWatermark("ts", watermark)
        .withColumn("text_hash", F.md5("text"))
        .dropDuplicatesWithinWatermark(["text_hash"])
    )


_UNIT_MS = {
    "us": 0.001, "microsecond": 0.001,
    "ms": 1, "millisecond": 1,
    "s": 1000, "sec": 1000, "second": 1000,
    "m": 60_000, "min": 60_000, "minute": 60_000,
    "h": 3_600_000, "hour": 3_600_000,
    "d": 86_400_000, "day": 86_400_000,
    "w": 604_800_000, "week": 604_800_000,
}


def _duration_ms(spec: str) -> int:
    """Parse a Spark-legal duration string to millis: '10 seconds' as
    well as compact ('10s', '500ms') and fractional ('1.5 hours') forms.
    (ADVICE r3: the previous parser accepted only '<int> <unit-word>'
    and raised at plan-build time on other Spark-legal watermarks.)"""
    m = re.fullmatch(r"\s*(\d+(?:\.\d+)?)\s*([a-zA-Z]+)\s*", spec)
    if m is None:
        raise ValueError(
            f"unparseable duration {spec!r}; expected '<number><unit>' or "
            f"'<number> <unit>' with unit one of {sorted(_UNIT_MS)} "
            f"(plural accepted)")
    amount, unit = float(m.group(1)), m.group(2).lower()
    if unit not in _UNIT_MS and unit.endswith("s") and unit[:-1] in _UNIT_MS:
        unit = unit[:-1]
    if unit not in _UNIT_MS:
        raise ValueError(f"unknown duration unit in {spec!r}; expected one "
                         f"of {sorted(_UNIT_MS)} (plural accepted)")
    return int(amount * _UNIT_MS[unit])


def streaming_near_dup_flags(stream: DataFrame, cfg=None,
                             watermark: str = "1 hour") -> DataFrame:
    """Incremental NEAR-duplicate detection on an unbounded transcript
    stream — the streaming twin of the batch MinHash pass, built on
    ``applyInPandasWithState`` (the custom-stateful-operator surface):

     * per arriving turn, the MinHash signature is computed row-locally
       with built-in Column expressions (no shuffle, no Python);
     * the stream is keyed by (band_id, band_hash) — the same banding as
       the batch index (``lsh_bands.band_hashes_col``, r =
       ``cfg.band_rows`` signature rows per band) — and each bucket's
       state holds the FIRST doc that claimed it plus a member count;
     * a turn landing in a bucket that already has an owner is emitted as
       a near-dup candidate flag (doc_id, band_id, dup_of) — at-most-P
       flags per doc, dedup'd downstream exactly like batch candidates;
     * state expires via EventTimeTimeout once the watermark passes a
       bucket's last update, so state is bounded by the horizon at
       10^12-turn scale, mirroring dropDuplicatesWithinWatermark.

    Output: (doc_id, band_id int, dup_of string, ts timestamp).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from lsh_spark.config import DedupConfig
    from lsh_spark.operators.lsh_bands import band_hashes_col
    from lsh_spark.operators.minhash import signature_col
    from lsh_spark.operators.shingle import shingle_hashes_col
    cfg = cfg or DedupConfig(num_perms=8)
    # State lives exactly one watermark horizon past a bucket's last update,
    # so "state bounded by the horizon" holds for ANY watermark argument.
    horizon_ms = _duration_ms(watermark)

    docs = (
        stream.withWatermark("ts", watermark)
        .select(
            F.concat_ws("#", "conv_id", F.col("turn_idx").cast("string"))
             .alias("doc_id"),
            "ts",
            shingle_hashes_col(F.col("text"), cfg).alias("_hashes"))
        .select(
            "doc_id", "ts",
            signature_col("_hashes", cfg).alias("sig"))
        .filter(F.col("sig").isNotNull())
        # staged like lsh_bands.band_buckets: the generator explodes a
        # plain attribute, not the band-hash expression
        .select("doc_id", "ts",
                band_hashes_col("sig", cfg).alias("_bands"))
        .select("doc_id", "ts",
                F.posexplode("_bands").alias("band_id", "band_hash"))
        .filter(F.col("band_hash").isNotNull())
    )

    def bucket_fn(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        owner, count = state.get if state.exists else (None, 0)
        out = []
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "doc_id"])
            for doc_id, ts in zip(pdf["doc_id"], pdf["ts"]):
                if owner is None:
                    owner = doc_id
                elif doc_id != owner:
                    out.append((doc_id, int(key[0]), owner, ts))
                count += 1
        state.update((owner, count))
        state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + horizon_ms)
        if out:
            yield pd.DataFrame(out, columns=["doc_id", "band_id", "dup_of", "ts"])

    return (
        docs.groupBy("band_id", "band_hash")
        .applyInPandasWithState(
            bucket_fn,
            outputStructType="doc_id string, band_id int, dup_of string, "
                             "ts timestamp",
            stateStructType="owner string, n long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def streaming_turn_rates(stream: DataFrame, window: str = "1 minute",
                         watermark: str = "2 minutes") -> DataFrame:
    """Windowed ingest metrics: turns + distinct convs per window/role."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "role")
        .agg(F.count("*").alias("turns"),
             F.approx_count_distinct("conv_id").alias("approx_convs"))
    )
