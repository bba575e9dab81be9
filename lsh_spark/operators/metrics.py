"""Evaluation metrics: MRR, MAE, RMSE, confidence gating.

Reference analogs (SURVEY.md §2.8):
 * G6 MRR — mean reciprocal rank of the correct result
   (``lsh.py:320-350``);
 * G7 confidence — C = (top_x−1)·d₁ / Σ_{i≠1} dᵢ over the top-X ranked
   candidates (``lsh.py:353-382``, formula at 366-369, SHOW_TOP_X=20 at
   ``constants.py:3``);
 * G8/G9 threshold training / clipping (``utils.py:154-171``,
   ``lsh.py:385-412``);
 * G10 MAE, G11 RMSE (``scripts/evaluation_metrics.py:80-111``).

All are plain windowed/grouped aggregations — no UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def mrr(ranked: DataFrame, labels: DataFrame,
        query_col: str = "query_id", result_col: str = "result_id",
        rank_col: str = "rank") -> DataFrame:
    """Mean reciprocal rank. ``labels``: (query_id, expected_id).
    Queries whose expected result never appears contribute rank ∞ → 0
    (the reference aborts instead, ``lsh.py:330-336``; contributing 0 is
    the standard IR convention and is what we document + test)."""
    hits = (
        ranked.join(labels.withColumnRenamed("expected_id", "__expected"),
                    on=query_col)
        .filter(F.col(result_col) == F.col("__expected"))
        .groupBy(query_col)
        .agg(F.min(rank_col).alias("first_rank"))
    )
    n_queries = labels.select(query_col).distinct().count()
    return hits.agg(
        (F.sum(1.0 / F.col("first_rank")) / F.lit(n_queries)).alias("mrr"))


def mae_rmse(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """(mae, rmse, std_ae, var_ae) between two columns
    (reference ``evaluation_metrics.py:80-111``)."""
    diff = F.col(col_a) - F.col(col_b)
    return df.agg(
        F.avg(F.abs(diff)).alias("mae"),
        F.sqrt(F.avg(F.pow(diff, 2))).alias("rmse"),
        F.stddev_pop(F.abs(diff)).alias("std_ae"),
        F.var_pop(F.abs(diff)).alias("var_ae"),
    )


def confidence(ranked: DataFrame, query_col: str = "query_id",
               dist_col: str = "distance", rank_col: str = "rank",
               top_x: int = 20) -> DataFrame:
    """Per-query confidence of the top-1 result (reference formula,
    ``lsh.py:366-369``): C = (X−1)·d₁ / Σ_{i=2..X} dᵢ over the top-X list.

    Output: (query_id, confidence double). Queries with a single candidate
    or zero tail-sum get confidence 0 (the reference would divide by zero).
    """
    top = ranked.filter(F.col(rank_col) <= top_x)
    agg = top.groupBy(query_col).agg(
        F.min(F.when(F.col(rank_col) == 1, F.col(dist_col))).alias("d1"),
        F.sum(F.when(F.col(rank_col) > 1, F.col(dist_col))).alias("tail"),
        F.max(rank_col).alias("x"),
    )
    return agg.select(
        query_col,
        F.when((F.col("tail") > 0) & (F.col("x") > 1),
               (F.col("x") - 1) * F.col("d1") / F.col("tail"))
         .otherwise(F.lit(0.0)).alias("confidence"),
    )


def train_confidence_threshold(conf: DataFrame, correctness: DataFrame,
                               query_col: str = "query_id") -> DataFrame:
    """Threshold = max confidence among queries whose top-1 is WRONG
    (reference ``utils.py:154-171``). ``correctness``: (query_id,
    top1_correct boolean)."""
    return (
        conf.join(correctness, query_col)
        .filter(~F.col("top1_correct"))
        .agg(F.max("confidence").alias("threshold"))
    )


def clip_by_confidence(ranked: DataFrame, conf: DataFrame, threshold: float,
                       query_col: str = "query_id") -> DataFrame:
    """Drop whole result lists whose confidence ≤ threshold (reference
    ``lsh.py:385-412``: candidate removed if C ≤ trained threshold)."""
    keep = conf.filter(F.col("confidence") > threshold).select(query_col)
    return ranked.join(F.broadcast(keep), query_col, "left_semi")


def distance_to_similarity(dist):
    """A10: the reference's distance→similarity normalization
    sim = min(100, e^(1/d) − 1) (``matching_algorithms.py:431-447``,
    formula at 443). Column-in, Column-out. d = 0 (identical) saturates to
    100 — the formula's limit; the reference would divide by zero."""
    return F.when(dist > 0,
                  F.least(F.lit(100.0), F.exp(1.0 / dist) - 1.0)) \
            .otherwise(F.lit(100.0))


def save_threshold(value: float, path: str) -> None:
    """S12: trained-threshold artifact sink (reference ``utils.py:33-49``
    writes a single float to a text file; we keep the same contract)."""
    with open(path, "w") as f:
        f.write(repr(float(value)))


def load_threshold(path: str) -> float:
    with open(path) as f:
        return float(f.read().strip())

