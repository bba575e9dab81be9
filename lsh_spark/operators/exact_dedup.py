"""Exact deduplication: content-hash groupBy.

First (cheapest) pass of any large-scale dedup cascade: byte-identical (or
normalized-identical) docs collapse on a 128-bit content hash with one
map-side-combined aggregation — no pairs, no joins. Reference analog: the
degenerate case of LSH retrieval where Jaccard = 1 (exact copy queries in
the reference's golden mapping, ``loader.py:55-66``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def exact_dup_groups(docs: DataFrame, normalize: bool = False) -> DataFrame:
    """Groups of byte-identical docs: (text_hash, canonical_id, dup_count).

    canonical_id = min doc_id of the group (deterministic keeper);
    only groups with ≥ 2 members are returned.
    """
    text = F.col("text")
    if normalize:
        text = F.regexp_replace(F.trim(F.lower(text)), r"\s+", " ")
    return (
        docs.select("doc_id", F.md5(text).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("canonical_id"),
             F.count("*").cast("long").alias("dup_count"))
        .filter(F.col("dup_count") >= 2)
    )

