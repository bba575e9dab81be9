"""Full-depth recursive alignment as a RELATIONAL level expansion.

The reference's ``_recursive_align`` (``matching_algorithms.py:240-269``)
walks a recursion tree whose node boundaries are pure functions of
segment lengths, so a distributed engine can UNROLL the tree level by
level: one DataFrame per depth, each row one (pair, q-segment,
c-segment) node, one size-equalized Manhattan per row — all JVM-side
Column algebra, no Python in the loop.  A node's children exist only if
its distance was positive and both segments non-empty (the
``include_zero_distance=False`` noise branch prunes, ``:164-176``); the
result is the min over live positive-distance nodes, or MAX_FLOAT when
the top distance itself is zero — the same tree the ``ra_pairs`` DuckDB
oracle unrolls, slice for slice.

``ktra_full_pairs`` stacks the reference's ACTUAL KTRA configuration on
top (``:288-316``: halving key-search where every direction is a
FULL-depth ``_recursive_align`` of the single mean-subtracted query):
because every Manhattan here folds left-to-right (``F.aggregate``) over
identical element orders, the double-valued distances are bitwise equal
between Spark and the DuckDB oracle — greedy tie decisions included.

Scale shape: post-LSH pair sets only.  Row volume is pairs × 259 nodes
per RA evaluation, shuffle-free until the final per-pair min; the
one-row-per-pair Arrow kernel (``operators/align.py``) stays the compact
alternative where the 259× row expansion is unwanted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from lsh_spark.functions.vectors import (MAX_FLOAT, _manhattan_padded_d,
                                         mean_subtract)
from lsh_spark.plans.checkpoint import materialize

# reference constants.py:119-123 and matching_algorithms.py:258
MAX_RA_DEPTH = 3
MAX_KTRA_DEPTH = 2
INITIAL_KTRA_K = 1.0
RA_PORTION_PERCENTS = (40, 50, 60)


def _child_structs(q, c):
    """The node's six children as (q, c) structs — reference split
    geometry: query halved at size//2 + 1; candidate at
    int(size/100*pct + 1) boundaries (``utils.percent`` — division
    FIRST), left-left and right-right aligned."""
    h = (F.size(q) / F.lit(2)).cast("int") + 1
    q_l = F.slice(q, 1, h)
    q_r = F.slice(q, h + 1, F.greatest(F.size(q) - h, F.lit(0)))
    kids = []
    for pct in RA_PORTION_PERCENTS:
        sz = F.floor(F.size(c) / F.lit(100.0) * pct + 1).cast("int")
        c_l = F.slice(c, 1, sz)
        c_r = F.slice(c, F.size(c) + 2 - sz, F.greatest(sz - 1, F.lit(0)))
        kids.append(F.struct(q_l.alias("q"), c_l.alias("c")))
        kids.append(F.struct(q_r.alias("q"), c_r.alias("c")))
    return F.array(*kids)


def recursive_align_relational(pairs: DataFrame, q_col: str = "q",
                               c_col: str = "c", out_col: str = "ra_dist",
                               id_cols: tuple[str, ...] = ("doc_a", "doc_b"),
                               max_depth: int = MAX_RA_DEPTH) -> DataFrame:
    """(ids, q array, c array) → (ids, out_col): full-depth reference RA
    via level expansion.  Integer inputs give integer-exact distances
    (sums of |int| in double are exact below 2^53); double inputs fold
    left-to-right for oracle parity."""
    ids = list(id_cols)
    lvl = (pairs.select(*ids, F.col(q_col).alias("q"), F.col(c_col).alias("c"))
           .withColumn("d", _manhattan_padded_d(F.col("q"), F.col("c"))))
    top = lvl.select(*ids, F.col("d").alias("_top_d"))
    contribs = lvl.filter(F.col("d") > 0).select(*ids, "d")
    for _depth in range(max_depth):
        parents = lvl.filter((F.col("d") > 0) & (F.size("q") > 0)
                             & (F.size("c") > 0))
        lvl = (parents
               .select(*ids, F.explode(
                   _child_structs(F.col("q"), F.col("c"))).alias("ch"))
               .select(*ids, F.col("ch.q").alias("q"),
                       F.col("ch.c").alias("c"))
               .withColumn("d", _manhattan_padded_d(F.col("q"), F.col("c"))))
        contribs = contribs.unionByName(
            lvl.filter(F.col("d") > 0).select(*ids, "d"))
    agg = contribs.groupBy(*ids).agg(F.min("d").alias("_md"))
    return (top.join(agg, ids, "left")
            .select(*ids,
                    F.when(F.col("_top_d") == 0.0, F.lit(MAX_FLOAT))
                     .otherwise(F.col("_md")).alias(out_col)))


def ktra_full_pairs(pairs: DataFrame, q_col: str = "seq_a",
                    c_col: str = "seq_b", k0: float = INITIAL_KTRA_K,
                    max_depth: int = MAX_KTRA_DEPTH,
                    out_col: str = "ktra_dist",
                    id_cols: tuple[str, ...] = ("doc_a", "doc_b")) -> DataFrame:
    """The reference's KTRA at its TRUE configuration
    (``matching_algorithms.py:288-316``): mean-subtract both sequences,
    then a halving key-search (k = 1, 0.5, 0.25) where each direction's
    distance is a FULL-depth single-array ``_recursive_align``; minus
    direction checked first on ties (``:303-306``), deepest level's
    triple-minimum returned (``:308-315``).

    DataFrame-level with a ``materialize`` per KTRA level: each level
    evaluates three relational RA trees and joins them back as leaf
    columns, so the plan stays linear in depth (the same expression-
    blowup discipline as ktra_distance_pairs)."""
    ids = list(id_cols)

    def shifted(delta: float):
        # NB: a one-argument lambda on purpose — F.transform treats a
        # two-parameter lambda as (element, index), so a default-arg
        # helper variable would silently bind to the ARRAY INDEX
        if delta == 0.0:
            return F.col("_q")
        if delta < 0:
            d = -delta
            return F.transform(F.col("_q"), lambda v: v - F.lit(d))
        d = delta
        return F.transform(F.col("_q"), lambda v: v + F.lit(d))

    df = materialize(pairs
                     .withColumn("_q", mean_subtract(F.col(q_col)))
                     .withColumn("_c", mean_subtract(F.col(c_col)))
                     .select(*ids, "_q", "_c"))
    k = k0
    for depth in range(max_depth + 1):
        for name, delta in (("_dm", -k), ("_dz", 0.0), ("_dp", k)):
            ra = recursive_align_relational(
                df.withColumn("_qd", shifted(delta)), q_col="_qd",
                c_col="_c", out_col=name, id_cols=id_cols)
            df = df.join(ra, ids)
        df = materialize(df)
        if depth < max_depth:
            res = F.least(F.col("_dm"), F.col("_dz"), F.col("_dp"))
            df = materialize(
                df.withColumn(
                    "_q",
                    F.when(F.col("_dm") == res,
                           F.transform(F.col("_q"), lambda v: v - F.lit(k)))
                     .when(F.col("_dp") == res,
                           F.transform(F.col("_q"), lambda v: v + F.lit(k)))
                     .otherwise(F.col("_q")))
                .select(*ids, "_q", "_c"))
            k = k / 2
    return df.select(*ids, F.round(F.least(F.col("_dm"), F.col("_dz"),
                                           F.col("_dp")), 6).alias(out_col))
