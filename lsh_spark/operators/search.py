"""Single-probe search against a prebuilt LSH index — the reference's
primary user surface (``main.py:209-237`` `search -f query.wav`,
``lsh.py:447-473`` search/search_all), Spark-first.

The reference probes one query against the in-memory inverted index and
ranks by collision count then similarity; here the "index" is the
``band_buckets`` table (checkpointable via plans/checkpoint.py — on a
cluster this is the resumable, incrementally-probe-able artifact) and a
probe is one broadcast-side row:

 * the probe's bands are a handful of rows → broadcast to the bucket
   table's partitions; the big side NEVER shuffles (one scan, filter
   pushdown on band collision);
 * agreement = number of distinct colliding bands (Q5 semantics: duplicate
   hits within one bucket count once, reference ``lsh.py:307-308``);
 * verification = exact shingle Jaccard of probe vs candidates only
   (candidate count ≪ corpus);
 * ranking by similarity desc then id (reference ranks candidates by
   matching-algorithm similarity, ``lsh.py:459-473``), top_x cut
   (SHOW_TOP_X=20, reference ``constants.py:3``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from lsh_spark.config import DedupConfig


def search_probe(bands: DataFrame, doc_hashes: DataFrame, probe_id: str,
                 cfg: DedupConfig, top_x: int = 20) -> DataFrame:
    """Rank the corpus against ONE probe document.

    ``bands``: (band_id, band_hash, doc_id) — the prebuilt index;
    ``doc_hashes``: (doc_id, hashes) — for exact Jaccard verification.
    Output: (neighbor_id, band_agreement int, jaccard double, rank int).
    """
    # One probe owns <= num_bands index rows — the reference's dict lookup
    # (``lsh.py:272-317``) is O(1) per band, and the relational analog is a
    # LITERAL pushed-down predicate, not a join: collect the probe's band
    # keys (<= num_bands tiny rows, the same bytes the old broadcast
    # shipped through the driver anyway) and filter the index scan with
    # band_hash IN (...) plus the exact (band_id, band_hash) disjunction
    # (guide §6 — make pushdown reach the scan; asserted in
    # tests/test_plans.py), so the index is never shuffled.
    # What a probe reads from the BUCKETED stages (plans/checkpoint.py):
    # - its own bands: a doc_id filter on a table bucketed on band_hash
    #   prunes no bucket; parquet dictionaries skip only the bucket files
    #   holding none of the probe's bands (b bands land in up to min(b, n)
    #   of n buckets);
    # - the colliding rows: the IN list selects the buckets the probe's
    #   band hashes fall in, all n of them or nearly so when b >= n
    #   (16 bands into 16 buckets select about 10);
    # - verification: the broadcast join below reads all of doc_hashes.
    # So a probe's reads grow with the index, not with the probe.
    probe_rows = (bands.filter(F.col("doc_id") == probe_id)
                  .select("band_id", "band_hash").distinct().collect())
    if probe_rows:
        in_hashes = F.col("band_hash").isin(
            [r["band_hash"] for r in probe_rows])
        exact = None
        for r in probe_rows:
            term = ((F.col("band_id") == r["band_id"])
                    & (F.col("band_hash") == r["band_hash"]))
            exact = term if exact is None else (exact | term)
        probe_pred = in_hashes & exact
    else:
        probe_pred = F.lit(False)
    hits = (
        bands.filter(probe_pred)
        .filter(F.col("doc_id") != probe_id)
        .select("band_id", "doc_id").distinct()
        .groupBy("doc_id")
        .agg(F.count("*").cast("int").alias("band_agreement"))
        # mega-probe guard: boilerplate probes collide with ~everything;
        # require agreement in >= cfg.search_min_agreement distinct bands
        # before shipping shingle arrays to the exact verifier.
        .filter(F.col("band_agreement") >= cfg.search_min_agreement)
    )
    probe_set = (doc_hashes.filter(F.col("doc_id") == probe_id)
                 .select(F.col("hashes").alias("h_p")))
    scored = (
        # hits is candidate-sized (≪ corpus) — broadcast it so the
        # doc_hashes side is probed in place and never shuffles
        F.broadcast(hits).join(doc_hashes, "doc_id")
        .crossJoin(F.broadcast(probe_set))
        .withColumn("inter", F.size(F.array_intersect("hashes", "h_p")))
        .withColumn("union",
                    F.size("hashes") + F.size("h_p") - F.col("inter"))
        .withColumn("jaccard",
                    F.when(F.col("union") > 0, F.col("inter") / F.col("union"))
                     .otherwise(F.lit(1.0)))
    )
    # Distributed top-k FIRST: orderBy().limit() plans TakeOrderedAndProject
    # (per-partition partial top-k, merge of <= top_x rows per partition on
    # the driver) — the candidate set never funnels through one partition.
    # The unpartitioned row_number window then runs over <= top_x rows only
    # (asserted in tests/test_plans.py).
    cut = scored.orderBy(F.desc("jaccard"), F.asc("doc_id")).limit(top_x)
    w = Window.orderBy(F.desc("jaccard"), F.asc("doc_id"))
    return (
        cut.withColumn("rank", F.row_number().over(w))
        .select(F.col("doc_id").alias("neighbor_id"), "band_agreement",
                F.round("jaccard", 6).alias("jaccard"),
                F.col("rank").cast("int").alias("rank"))
    )
