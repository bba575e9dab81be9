"""Candidate-pair verification: exact shingle-set Jaccard.

Reference analog: Jaccard verification of LSH candidates
(``matching_algorithms.py:55-72`` generic set Jaccard; ``:75-108`` Jaccard
over LSH chunks = shingle-set Jaccard — the quantity MinHash estimates).
The reference loops query × candidates in Python (a nested-loop theta
join, ``matching_algorithms.py:319-386``); here verification is one
distributed join: pairs are joined to the per-doc distinct shingle-hash
arrays (shuffle keyed by doc) and intersection/union sizes are computed
with built-in array functions — JVM-side, no Python in the loop.

``exact_jaccard_pairs`` is the LSH-free exact operator (explode + self-join
+ groupBy): quadratic in co-occurring docs per shingle, fine for oracles and
small corpora; the LSH path above is the scale path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from lsh_spark.config import DedupConfig
from lsh_spark.operators.shingle import explode_shingles
from lsh_spark.plans.checkpoint import materialize


def verify_pairs(pairs: DataFrame, doc_hashes: DataFrame,
                 cfg: DedupConfig,
                 extra_cols: tuple[str, ...] = ()) -> DataFrame:
    """Attach exact Jaccard to candidate pairs; keep those ≥ threshold.

    Output: (doc_a, doc_b, band_agreement, inter, union, jaccard
    [, *extra_cols]). ``extra_cols`` name additional ``pairs`` columns to
    carry through unchanged — callers that previously re-joined the
    candidate frame afterwards just to recover a column (match_kind in
    the incremental path) can ride it through instead of re-computing
    candidate generation for the join."""
    # materialize the candidate list once: it is consumed THREE times below
    # (cand_docs doc_a + doc_b legs, and the scored join) and candidate
    # generation is itself a multi-shuffle aggregation — without the
    # checkpoint Catalyst re-executes that whole subtree per consumer
    # (measured: the bench verify plan held 64 copies of the band scan and
    # 172 HashAggregates; ~4x the candidate-generation work)
    pairs = materialize(pairs)
    # semi-join prefilter: only docs that appear in a candidate pair need
    # their (large) shingle arrays shuffled — after LSH pruning that is a
    # small fraction of the corpus, so this cuts the verify shuffle volume
    # by roughly the inverse of the candidate rate
    # cand_docs has one reader, the semi join, so it stays lazy; AQE
    # re-plans that join from the distinct's shuffle-stage size and
    # broadcasts the id list when it fits — no forced hint, so the 100 TB
    # case keeps the robust plan
    cand_docs = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct())
    needed = doc_hashes.join(cand_docs, "doc_id", "left_semi")
    sets_a = needed.select(F.col("doc_id").alias("doc_a"),
                           F.col("hashes").alias("h_a"))
    sets_b = needed.select(F.col("doc_id").alias("doc_b"),
                           F.col("hashes").alias("h_b"))
    scored = (
        pairs.join(sets_a, "doc_a").join(sets_b, "doc_b")
        .withColumn("inter", F.size(F.array_intersect("h_a", "h_b")).cast("long"))
        .withColumn("union", (F.size("h_a") + F.size("h_b") - F.col("inter")).cast("long"))
        .withColumn("jaccard",
                    F.when(F.col("union") > 0, F.col("inter") / F.col("union"))
                     .otherwise(F.lit(1.0)))
    )
    return (
        scored.filter(F.col("jaccard") >= cfg.jaccard_threshold)
        .select("doc_a", "doc_b", "band_agreement", "inter", "union",
                "jaccard", *extra_cols)
    )


def exact_jaccard_pairs(doc_hashes: DataFrame, threshold: float) -> DataFrame:
    """All pairs with exact shingle Jaccard ≥ threshold, without LSH.

    explode → self-join on shingle_hash → pair intersection counts →
    inclusion-exclusion union. The shingle self-join is exactly what LSH
    exists to avoid at scale; kept as the ground-truth operator.
    """
    long = explode_shingles(doc_hashes)
    sizes = doc_hashes.select("doc_id", F.size("hashes").cast("long").alias("n"))
    a = long.select(F.col("doc_id").alias("doc_a"), "shingle_hash")
    b = long.select(F.col("doc_id").alias("doc_b"), "shingle_hash")
    inter = (
        a.join(b, "shingle_hash")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("long").alias("inter"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    return (
        inter.join(na, "doc_a").join(nb, "doc_b")
        .withColumn("union", (F.col("n_a") + F.col("n_b") - F.col("inter")))
        .withColumn("jaccard", F.col("inter") / F.col("union"))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "inter", "union", "jaccard")
    )
