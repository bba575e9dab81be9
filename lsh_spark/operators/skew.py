"""Hot-key skew defusal, for self-join pair generation and index probes.

Every candidate-generation pass in the engine is the same shape: a keyed
self-join (band hash, SimHash chunk, substring gram, winnow fingerprint)
where one pathological key — boilerplate text shared by k docs — produces
k·(k-1)/2 join rows before any downstream filter; a probe of the band
index meets the same key as k rows per probe band. At 10^12 turns a
single viral snippet makes k millions.

The defusal (north_rule: "band hashes grouped via salted groupBy to defuse
hot-bucket skew"), shared by MinHash bands, SimHash chunks, the substring
gram join, the winnow overlap join, the embedding-bucket join and both
index probes, asks each key its row count and min doc, through ONE window
rule (``_key_stats``) for both paths:

 1. ``key_pairs`` — the one self-join entry: every pair pass calls it
    with its keyed rows and a cap. It picks the generator (``cap=None``
    → ``all_pair_rows``, the exact oracle form; else
    ``capped_pair_rows``) and counts the keys each pair shares.
 2. ``capped_pair_rows`` — the self-join rule: one window job tags every
    keyed row with its key's size and min doc; buckets ≤ cap expand into
    all pairs, buckets > cap are star-linked (every member → the bucket
    min, read off the member's own row): k-1 edges instead of k²/2,
    connecting exactly the same component. Star edges are real
    edges of the pass (all bucket members genuinely share the key), so
    passes whose accept criterion IS key-sharing (substring grams) stay
    sound; passes with a downstream verifier (MinHash → Jaccard, SimHash
    → popcount) verify star edges like any other candidate.
 3. ``collapse_hot_keys`` — the probe rule (``search_probe``,
    ``incremental_dedup_flags``): of the rows a probe collides with, a
    key holding more than cap of them keeps only its min doc_id. A delta
    probes its own band rows under the same rule, so a hot batch key
    gives the star edges (min, member) that rule 2 gives.
 4. ``bucket_census`` — (key..., bucket_size) via one partially-aggregated
    groupBy, for the substring hot-gram filter, which needs only sizes.

The window rule's trade: a key's rows meet in ONE sorted, spillable task,
and that exchange gets no AQE skew-join split, so one task sorts a hot
key's k rows; its output stays k-1 star edges, never k²/2 pairs.

Count semantics: per-key rows are exact for non-hot buckets; a pair that
ALSO co-occurs in a hot bucket loses that bucket's contribution, so
aggregate counts (``key_pairs``' n_keys: band_agreement, shared_grams,
shared_fps) are exact in all-pairs mode and a LOWER BOUND when the cap
triggers.

Reference analog: none — the reference never hits this because its corpus
caps at 50k songs in one process (``scripts/plot_all_exec.py:21-31``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from lsh_spark.plans.checkpoint import materialize


def key_pairs(keyed: DataFrame, key_cols: list[str], cap: int | None,
              id_col: str = "doc_id") -> DataFrame:
    """(doc_a, doc_b, n_keys): the doc pairs (doc_a < doc_b) that share a
    key of ``keyed`` (key..., <id_col>), with the number of shared keys.

    ``cap=None`` expands every bucket (``all_pair_rows``): exact counts,
    the oracle form. Its self-join reads ``keyed`` twice, so ``keyed`` is
    materialized for it: re-running its producer (band hashing, SimHash
    key fan-out, gram and hyperplane kernels, winnow windows) per read
    costs far more than rescanning the narrow keyed rows. Otherwise buckets
    above ``cap`` are star-linked (``capped_pair_rows``, which reads
    ``keyed`` once) and n_keys is a lower bound for pairs that also share a
    hot key. Each pair row stands for one shared key, so a
    partially-aggregated count(*) gives n_keys in one exchange.
    """
    rows = (all_pair_rows(materialize(keyed), key_cols, id_col)
            if cap is None
            else capped_pair_rows(keyed, key_cols, cap, id_col))
    return (rows.groupBy("doc_a", "doc_b")
            .agg(F.count("*").cast("long").alias("n_keys")))


def _key_stats(rows: DataFrame, key_cols: list[str],
               id_col: str) -> DataFrame:
    """``rows`` with their key's row count (``bucket_size``) and min
    ``id_col`` (``bucket_min``) on each row, from one window."""
    w = Window.partitionBy(*key_cols)
    return (rows.withColumn("bucket_size", F.count("*").over(w))
            .withColumn("bucket_min", F.min(id_col).over(w)))


def bucket_census(keyed: DataFrame, key_cols: list[str]) -> DataFrame:
    """(key..., bucket_size) via one partially-aggregated groupBy.

    No salt: Spark's hash aggregate partial-aggregates map-side, so each
    map task emits at most one row per key and a hot key's reduce fan-in
    is bounded by the map-task count — the bound a salt phase would give,
    without its second aggregation and exchange. Salting is needed only
    where per-key state grows with the group (collect_list et al.).
    """
    return (keyed.groupBy(*key_cols)
            .agg(F.count("*").cast("long").alias("bucket_size")))


def capped_pair_rows(keyed: DataFrame, key_cols: list[str], cap: int,
                     id_col: str = "doc_id") -> DataFrame:
    """Per-bucket pair rows (key..., doc_a, doc_b) with doc_a < doc_b.

    Buckets larger than ``cap`` emit star edges (bucket-min → member)
    instead of the full k²/2 expansion.

    Plan shape: ONE job runs ``keyed``'s producer, tags each row with its
    key's size and min (``_key_stats``, the probes' rule) and holds the
    multi-member subset as ``tagged`` (~5-12% of keyed rows at sf0.1:
    most keys are singletons, which can never produce a pair). Two plain
    filters of ``tagged`` follow: small buckets to the collect_list
    expansion, hot rows straight to star edges (bucket_min → member), with
    no aggregate or join of their own.
    """
    tagged = materialize(
        _key_stats(keyed.select(*key_cols, id_col), key_cols, id_col)
        .filter(F.col("bucket_size") >= 2))
    small = tagged.filter(F.col("bucket_size") <= cap) \
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
    # one star edge per hot row but the min's, duplicate rows included
    star = (tagged.filter((F.col("bucket_size") > cap)
                          & (F.col(id_col) != F.col("bucket_min")))
            .select(*key_cols, F.col("bucket_min").alias("doc_a"),
                    F.col(id_col).alias("doc_b")))
    return pairs.unionByName(star)


def collapse_hot_keys(rows: DataFrame, key_cols: list[str],
                      cap: int) -> DataFrame:
    """``rows`` with each key that holds more than ``cap`` of them cut to
    its min-``doc_id`` rows (``_key_stats``, the pair passes' rule).
    ``rows`` are the rows one probe collides with (index rows, or a
    delta's own band rows), so the window is sized by the probe, not the
    index. On a bucketed index a key's rows already share a bucket, so it
    plans a Sort and no Exchange."""
    return (_key_stats(rows, key_cols, "doc_id")
            .filter((F.col("bucket_size") <= cap)
                    | (F.col("doc_id") == F.col("bucket_min")))
            .drop("bucket_size", "bucket_min"))


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
