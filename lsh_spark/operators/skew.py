"""Generic hot-bucket skew defusal for self-join pair generation.

Every candidate-generation pass in the engine is the same shape: a keyed
self-join (band hash, SimHash chunk, substring gram, winnow fingerprint)
where one pathological key — boilerplate text shared by k docs — produces
k·(k-1)/2 join rows before any downstream filter. At 10^12 turns a single
viral snippet makes k millions; the join output for that one key alone
exceeds the rest of the job combined.

The defusal (north_rule: "band hashes grouped via salted groupBy to defuse
hot-bucket skew"), factored here so MinHash bands, SimHash chunks, the
substring gram join and the winnow overlap join all share it:

 1. ``bucket_census`` — bucket sizes via one partially-aggregated
    groupBy (map-side combine bounds a mega-key's reduce fan-in by the
    map-task count; the round-5 explicit salt phase was measured
    redundant for a pure count and removed — see the function docstring).
 2. ``capped_pair_rows`` — buckets ≤ cap expand into all pairs; buckets
    > cap are star-linked (every member → the bucket's min doc_id):
    k-1 edges instead of k²/2, connecting exactly the same component.
    Star edges are real edges of the pass (all bucket members genuinely
    share the key), so passes whose accept criterion IS key-sharing
    (substring grams) stay sound; passes with a downstream verifier
    (MinHash → Jaccard, SimHash → popcount) verify star edges like any
    other candidate.

Count semantics: per-key pair rows are exact for non-hot buckets; a pair
that ALSO co-occurs in a hot bucket loses that bucket's contribution
(only the star edges are emitted there), so aggregate counts
(band_agreement, shared_grams, shared_fps) are exact in all-pairs mode and
a LOWER BOUND when the cap triggers.

Reference analog: none — the reference never hits this because its corpus
caps at 50k songs in one process (``scripts/plot_all_exec.py:21-31``); this
is the piece that makes the same algorithm viable at 10^12 turns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from lsh_spark.config import DedupConfig
from lsh_spark.plans.checkpoint import materialize


def bucket_census(keyed: DataFrame, key_cols: list[str]) -> DataFrame:
    """(key..., bucket_size) via one partially-aggregated groupBy.

    Skew note (round 6): this was a two-phase SALTED aggregation through
    round 5; for a pure count that salt is redundant — Spark's hash
    aggregate always partial-aggregates map-side, so each map task emits
    at most ONE row per key and a mega-hot key's reduce fan-in is already
    bounded by the map-task count, which is exactly the bound the salt
    provided. The explicit (key, salt) phase only added a second full
    aggregation pass + exchange over a table with ~one row per (doc, key)
    (measured: the census job was 3.2 s vs the SimHash kernel's 2.2 s at
    sf0.1 — guide §2.3 "aggregate before you shuffle" is automatic here).
    Salting remains necessary only for aggregations whose per-key state
    grows with the group (collect_list et al.), which the census is not.
    """
    return (
        keyed.select(*key_cols)
        .groupBy(*key_cols)
        .agg(F.count("*").cast("long").alias("bucket_size"))
    )


def capped_pair_rows(keyed: DataFrame, key_cols: list[str], cfg: DedupConfig,
                     id_col: str = "doc_id",
                     cap: int | None = None) -> DataFrame:
    """Per-bucket pair rows (key..., doc_a, doc_b) with doc_a < doc_b.

    Buckets larger than ``cap`` (default ``cfg.hot_bucket_cap``) emit
    star edges (bucket-min → member) instead of the full k²/2 expansion.

    Plan shape: the census (one partially-aggregated groupBy, guide §2.3)
    yields ~one row per multi-member key — a small relation, since the
    overwhelming majority of keys are singletons (measured 88-96% at
    sf0.1) that can never produce a pair. ONE inner join attaches
    bucket_size to the keyed rows (the census has one row per key, so no
    duplication), and the materialized multi-member subset (~5-12% of
    keyed rows) feeds the small/hot splits as plain filters — the full
    keyed table is scanned ONCE for membership, and singletons never reach
    the collect_list exchange. The census is checkpointed first, so the
    planner sizes that join from its real row count: it broadcasts the
    census when it fits ``spark.sql.autoBroadcastJoinThreshold`` and plans
    a shuffle join when it does not (no hint forces a broadcast of an
    unbounded build side). AQE skew-join splitting stays on as the
    backstop (session.py).
    """
    cap = cap if cap is not None else cfg.hot_bucket_cap
    # census materialized so the membership join sees REAL stats (the
    # cand_docs pattern, operators/pairs.py): an aggregate's output size is
    # unknown before execution
    sized = materialize(bucket_census(keyed, key_cols)
                        .filter(F.col("bucket_size") >= 2))
    # ONE membership scan instead of three (round-6 mid-round shape:
    # small semi-join + hot semi-join for the star-min build + hot
    # semi-join again for the star edges, each re-probing a broadcast
    # against every keyed row); the checkpoint bounds re-execution — the
    # three consumers below (small groupBy, star-min build, star join)
    # rescan the small tagged subset instead of the keyed table
    tagged = materialize(keyed.join(sized, key_cols)
                         .select(*key_cols, id_col, "bucket_size"))
    small = tagged.filter(F.col("bucket_size") <= cap) \
                  .select(*key_cols, id_col)
    hot = tagged.filter(F.col("bucket_size") > cap) \
                .select(*key_cols, id_col)

    # Small-bucket expansion: ONE groupBy shuffle + in-stage positional
    # pair generation, instead of a keyed self-join that shuffles the
    # same rows twice (at 10^12 turns the band table ships once, not
    # twice). Lists are bounded by ``cap`` (hot keys were split off
    # above), so collect_list is safe. Equivalence to the join form is
    # exact INCLUDING duplicate (key, id) rows: position pairs i<j over
    # the value-sorted member array, with equal-value pairs dropped,
    # produce the same (doc_a < doc_b) multiset the a<b-filtered
    # self-join produced.
    grouped = (small.groupBy(*key_cols)
               .agg(F.sort_array(F.collect_list(id_col)).alias("_m"))
               .filter(F.size("_m") >= 2))
    pairs = (
        grouped.select(*key_cols, "_m",
                       F.posexplode("_m").alias("_i", "doc_a"))
        .select(*key_cols, "doc_a",
                F.explode(F.slice(F.col("_m"), F.col("_i") + 2,
                                  F.size("_m"))).alias("doc_b"))
        .filter(F.col("doc_a") != F.col("doc_b"))
        .select(*key_cols, "doc_a", "doc_b")
    )
    hot_min = hot.groupBy(*key_cols).agg(F.min(id_col).alias("doc_a"))
    star = (
        hot.join(hot_min, key_cols)
        .filter(F.col(id_col) != F.col("doc_a"))
        .select(*key_cols, "doc_a", F.col(id_col).alias("doc_b"))
    )
    return pairs.unionByName(star)


def all_pair_rows(keyed: DataFrame, key_cols: list[str],
                  id_col: str = "doc_id") -> DataFrame:
    """Uncapped per-bucket pair rows — exact counts, oracle-checkable;
    only safe when bucket sizes are known bounded."""
    left = keyed.select(*key_cols, F.col(id_col).alias("doc_a"))
    right = keyed.select(*key_cols, F.col(id_col).alias("doc_b"))
    return (
        left.join(right, key_cols)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(*key_cols, "doc_a", "doc_b")
    )
