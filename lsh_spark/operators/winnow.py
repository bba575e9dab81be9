"""Winnowing document fingerprints (Schleimer, Wilkerson, Aiken 2003).

Content-defined fingerprint selection: hash every k-gram, then keep the
MINIMUM hash of every w-gram window of consecutive k-gram hashes. Guarantees
(a) any shared substring of length ≥ w + k − 1 tokens contributes at least
one identical selected fingerprint to both documents, and (b) selection
density ~2/(w+1) — a deterministic, gap-bounded alternative to the mod-w
sampling used by the substring pass.

Built entirely from relational ops (posexplode + sliding-window min), so it
is whole-stage-codegen'd AND expressible in ANSI SQL for the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from lsh_spark.config import DedupConfig
from lsh_spark.functions.hashing import hash64
from lsh_spark.functions.text import shingles_col, tokens_col
from lsh_spark.operators.skew import key_pairs


def winnow_fingerprints(docs: DataFrame, cfg: DedupConfig,
                        window: int = 4) -> DataFrame:
    """(doc_id, text) → (doc_id, fp_hash) distinct winnowed fingerprints.

    k = cfg.shingle_k grams, stride 1 (winnowing requires the dense gram
    sequence), selection = min per sliding window of ``window`` grams.
    """
    grams = shingles_col(tokens_col(F.col("text")), cfg.shingle_k)
    g = docs.select(
        "doc_id", F.posexplode(grams).alias("pos", "gram"))
    g = g.select("doc_id", "pos", hash64(F.col("gram"), cfg.hash_mode).alias("h"))
    w = (Window.partitionBy("doc_id").orderBy("pos")
         .rowsBetween(0, window - 1))
    return (g.withColumn("fp_hash", F.min("h").over(w))
            .select("doc_id", "fp_hash")
            .distinct())


def winnow_overlap_pairs(docs: DataFrame, cfg: DedupConfig,
                         window: int = 4, min_shared: int = 2,
                         hot_fp_cap: int | None = None) -> DataFrame:
    """Doc pairs sharing ≥ min_shared winnowed fingerprints — the
    MOSS-style overlap detector. Output: (doc_a, doc_b, shared_fps).

    ``hot_fp_cap`` star-links fingerprint buckets larger than the cap
    (operators/skew.py): a boilerplate fingerprint shared by k docs emits
    k-1 edges instead of k²/2. With the cap, ``shared_fps`` is a lower
    bound for pairs touched by hot fingerprints, so the ``min_shared``
    filter can additionally drop such pairs — the capped form trades that
    recall for join survival at web scale; None → exact (oracle mode).
    ``skew.key_pairs`` materializes the fingerprints once, so the window
    pipeline over every gram runs once."""
    return (key_pairs(winnow_fingerprints(docs, cfg, window), ["fp_hash"],
                      hot_fp_cap)
            .withColumnRenamed("n_keys", "shared_fps")
            .filter(F.col("shared_fps") >= min_shared))
