"""Canonicalization: stable turn ordering + document assembly.

Per BASELINE.json input_hint the engine must preserve **per-turn text
equality under stable turn ordering**: rows of a conversation may arrive in
any physical order; canonical order is (conv_id, turn_idx) with ts as
tie-break, and `text` must survive byte-identically.

Reference analog: the pitch contour segmentation keeps frames in temporal
order by construction (reference ``loader.py:80-83,119-126``); transcripts
need an explicit sort. Document assembly (one token stream per conversation)
mirrors how the reference treats one audio file as one retrievable unit.

All column expressions are built-in (JVM, codegen'd); the only shuffle is
the groupBy(conv_id) for document assembly, which every downstream per-doc
operator reuses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

TURN_SEP = "\n"  # inserted between turns when assembling a conversation doc


def canonical_turns(transcripts: DataFrame) -> DataFrame:
    """Stable-ordered turns: sorted by (conv_id, turn_idx, ts).

    The sort is expressed declaratively; at scale Catalyst plans it as a
    range-partitioned sort only when the output requires it — per-document
    assembly below avoids the global sort entirely via sort_array.
    """
    return transcripts.orderBy("conv_id", "turn_idx", "ts")


def conversation_docs(transcripts: DataFrame) -> DataFrame:
    """One row per conversation: turns concatenated in canonical order.

    Avoids a global sort: per-group ordering is done with
    struct-packing + sort_array inside a single hash aggregation —
    one shuffle on conv_id, no Window, no per-row Python.
    Output: (doc_id string, text string, n_turns int).
    """
    packed = F.struct(
        F.col("turn_idx").alias("turn_idx"),
        F.col("ts").alias("ts"),
        F.col("text").alias("text"),
    )
    return (
        transcripts
        .groupBy(F.col("conv_id").alias("doc_id"))
        .agg(F.sort_array(F.collect_list(packed)).alias("turns"))
        .select(
            "doc_id",
            F.array_join(F.transform(F.col("turns"), lambda t: t["text"]), TURN_SEP)
             .alias("text"),
            F.size("turns").cast("int").alias("n_turns"),
        )
    )


def turn_docs(transcripts: DataFrame) -> DataFrame:
    """Per-turn documents keyed conv_id#turn_idx (NLSH-style finer
    granularity, reference ``lsh.py:68-121``)."""
    return transcripts.select(
        F.concat_ws("#", "conv_id", F.col("turn_idx").cast("string")).alias("doc_id"),
        F.col("text"),
        F.lit(1).alias("n_turns"),
    )


def granular_docs(transcripts: DataFrame, granularity: str) -> DataFrame:
    """(doc_id, text) at ``granularity`` ("conv" | "turn",
    ``DedupConfig.granularity``): the documents every dedup pass reads."""
    docs = (conversation_docs(transcripts) if granularity == "conv"
            else turn_docs(transcripts))
    return docs.select("doc_id", "text")
