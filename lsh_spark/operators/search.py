"""Single-probe search against a prebuilt LSH index — the reference's
primary user surface (``main.py:209-237`` `search -f query.wav`,
``lsh.py:447-473`` search/search_all), Spark-first.

The reference probes one query against the in-memory inverted index and
ranks by collision count then similarity; here the "index" is the
``band_buckets`` table (checkpointable via plans/checkpoint.py — on a
cluster this is the resumable, incrementally-probe-able artifact) and a
probe is a literal predicate pushed down to the index scan:

 * the probe's band keys (<= num_bands) filter the bucket table's scan
   as ``band_hash IN (...)``; the big side NEVER shuffles;
 * a key colliding with more than ``hot_bucket_cap`` index rows keeps
   only its min doc (``skew.collapse_hot_keys``);
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
from lsh_spark.operators import lsh_bands, minhash
from lsh_spark.operators.skew import collapse_hot_keys


def search_probe(bands: DataFrame, doc_hashes: DataFrame, probe_id: str,
                 cfg: DedupConfig, top_x: int = 20) -> DataFrame:
    """Rank the corpus against ONE probe document.

    ``bands``: (band_id, band_hash, doc_id) — the prebuilt index;
    ``doc_hashes``: (doc_id, hashes) — for exact Jaccard verification.
    Output: (neighbor_id, band_agreement int, jaccard double, rank int).

    Hot keys (``skew.collapse_hot_keys``, as in delta ingest): once the
    probe's own rows are dropped — a probe that is a hot key's min doc
    would otherwise find nothing through it — a band key colliding with
    more than ``cfg.hot_bucket_cap`` index rows keeps only its min doc, so
    ``band_agreement`` is a lower bound there, as in ``candidate_pairs``.
    """
    # The reference's lookup is O(1) per band (``lsh.py:272-317``); the
    # relational analog is a LITERAL pushed-down predicate, not a join: the
    # probe's <= num_bands band keys filter the index scan with
    # band_hash IN (...) plus the exact (band_id, band_hash) disjunction
    # (asserted in tests/test_plans.py), so the index is never shuffled.
    # What a probe reads from the BUCKETED stages (plans/checkpoint.py):
    # - its own doc_hashes row, from 1 of n buckets, twice: here for its
    #   band keys, derived as the index derived them in built-in
    #   expressions (a probe whose band rows never reached the index still
    #   finds its neighbours), and again to verify;
    # - the colliding rows: the IN list selects the buckets the probe's
    #   band hashes fall in, nearly all n when b >= n;
    # - verification: the broadcast join below reads all of doc_hashes.
    # So the last two reads still grow with the index, not with the probe.
    own = doc_hashes.filter(F.col("doc_id") == probe_id)
    probe_rows = sorted({
        (band_id, band_hash) for r in
        own.select(minhash.signature_col(F.col("hashes"), cfg).alias("sig"))
        .filter(F.col("sig").isNotNull())
        # its own projection: sig is read once per band row, not rebuilt
        .select(lsh_bands.band_hashes_col(F.col("sig"), cfg).alias("bands"))
        .collect()
        for band_id, band_hash in enumerate(r["bands"])})
    if probe_rows:
        in_hashes = F.col("band_hash").isin([h for _, h in probe_rows])
        exact = None
        for band_id, band_hash in probe_rows:
            term = ((F.col("band_id") == band_id)
                    & (F.col("band_hash") == band_hash))
            exact = term if exact is None else (exact | term)
        probe_pred = in_hashes & exact
    else:
        probe_pred = F.lit(False)
    hits = (
        collapse_hot_keys(
            bands.filter(probe_pred).filter(F.col("doc_id") != probe_id),
            ["band_id", "band_hash"], cfg.hot_bucket_cap)
        .select("band_id", "doc_id").distinct()
        .groupBy("doc_id")
        .agg(F.count("*").cast("int").alias("band_agreement"))
    )
    probe_set = own.select(F.col("hashes").alias("h_p"))
    scored = (
        # hits is bounded: at most cap rows per probe band key, so at most
        # num_bands × hot_bucket_cap rows — broadcast it so the doc_hashes
        # side is probed in place and never shuffles
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
