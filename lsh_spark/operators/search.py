"""Single-probe search against a prebuilt LSH index — the reference's
primary user surface (``main.py:209-237`` `search -f query.wav`,
``lsh.py:447-473`` search/search_all), Spark-first.

The reference probes one query against the in-memory inverted index and
ranks by collision count then similarity; here the "index" is the
``band_buckets`` table (checkpointable via plans/checkpoint.py — on a
cluster this is the resumable, incrementally-probe-able artifact) and a
probe is at most three point reads, none of which shuffles:

 1. the probe's own ``doc_hashes`` row (1 of n buckets): its shingle
    hashes and its band keys (<= num_bands);
 2. the index rows those keys collide with, as a literal predicate pushed
    down to the bucket table's scan; the exact (band_id, band_hash) match
    is a lookup in a set held by reference, so a new probe's keys change
    no generated code and the plan compiled for the last probe is reused
    (with more than ``spark.sql.optimizer.inSetConversionThreshold`` = 10
    keys, as at the default 16 bands; a shorter list is compiled per
    value). A key colliding with more than ``hot_bucket_cap`` of them
    keeps only its min doc (``skew.collapse_hot_keys``), so at most
    num_bands × hot_bucket_cap rows reach the driver;
 3. the candidates' ``doc_hashes`` rows, by ``doc_id`` (bucket-pruned).

The driver then does what the reference does in place:

 * agreement = number of distinct colliding bands (Q5 semantics: duplicate
   hits within one bucket count once, reference ``lsh.py:307-308``);
 * verification = exact shingle Jaccard of probe vs candidates only
   (candidate count ≪ corpus);
 * ranking by similarity desc then id (reference ranks candidates by
   matching-algorithm similarity, ``lsh.py:459-473``), top_x cut
   (SHOW_TOP_X=20, reference ``constants.py:3``).
"""

from __future__ import annotations

from collections import Counter

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F

from lsh_spark.config import DedupConfig
from lsh_spark.operators import lsh_bands, minhash
from lsh_spark.operators.skew import collapse_hot_keys

# the ranked output, built on the driver
RANKED = pa.schema([("neighbor_id", pa.string()),
                    ("band_agreement", pa.int32()),
                    ("jaccard", pa.float64()), ("rank", pa.int32())])


def search_probe(bands: DataFrame, doc_hashes: DataFrame, probe_id: str,
                 cfg: DedupConfig, top_x: int = 20) -> DataFrame:
    """Rank the corpus against ONE probe document.

    ``bands``: (band_id, band_hash, doc_id) — the prebuilt index;
    ``doc_hashes``: (doc_id, hashes) — for exact Jaccard verification.
    Output: (neighbor_id, band_agreement int, jaccard double, rank int),
    computed eagerly: the returned frame holds the ranked rows.

    Hot keys (``skew.collapse_hot_keys``, as in delta ingest): once the
    probe's own rows are dropped — a probe that is a hot key's min doc
    would otherwise find nothing through it — a band key colliding with
    more than ``cfg.hot_bucket_cap`` index rows keeps only its min doc, so
    ``band_agreement`` is a lower bound there, as in ``candidate_pairs``.
    """
    spark = bands.sparkSession
    # Read 1: the probe's own row(s). Its band keys are derived as the
    # index derived them, in built-in expressions, so a probe whose band
    # rows never reached the index still finds its neighbours.
    own = (doc_hashes.filter(F.col("doc_id") == probe_id)
           .select("hashes", minhash.signature_col("hashes", cfg)
                   .alias("sig"))
           # its own projection: sig is read once per band row, not rebuilt
           .select("hashes", F.when(F.col("sig").isNotNull(),
                                    lsh_bands.band_hashes_col("sig", cfg))
                   .alias("bands"))
           .collect())
    probe_keys = sorted({(band_id, band_hash) for r in own if r["bands"]
                         for band_id, band_hash in enumerate(r["bands"])})
    if not probe_keys:
        return _ranked(spark, [])

    # Read 2: the colliding index rows. The reference's lookup is O(1) per
    # band (``lsh.py:272-317``); the relational analog is a literal
    # predicate, built as ONE expression string (one py4j call, not one per
    # term): band_hash IN (...) reaches the bucketed scan as a pushed
    # filter, and the exact (band_id, band_hash) set drops rows of another
    # band with that hash. The exact match is a struct IN: Spark inlines
    # int and long literals into generated code, so a disjunction of
    # per-key comparisons would compile a new class for every probe, while
    # a struct literal (and an InSet) is held by reference. On a bucketed
    # index the hot-key window plans no Exchange (tests/test_plans.py).
    in_list = ", ".join(sorted({f"{h}L" for _, h in probe_keys}))
    exact = ", ".join(f"struct({b}, {h}L)" for b, h in probe_keys)
    rows = (collapse_hot_keys(
                bands.filter(F.expr(f"band_hash IN ({in_list}) AND "
                                    f"struct(band_id, band_hash) IN ({exact})"))
                .filter(F.col("doc_id") != probe_id),
                ["band_id", "band_hash"], cfg.hot_bucket_cap)
            .select("band_id", "doc_id").collect())
    agreement = Counter(doc_id for _, doc_id in set(rows))
    if not agreement:
        return _ranked(spark, [])

    # Read 3: the candidates' hashes, by doc_id (bucket-pruned on the
    # doc_id-bucketed stage), the id list again one expression string.
    # Jaccard as the Spark form computes it:
    # |distinct(a) ∩ distinct(b)| / (|a| + |b| - inter).
    ids = ", ".join(map(_sql_string, agreement))
    cands = (doc_hashes.filter(F.expr(f"doc_id IN ({ids})"))
             .select("doc_id", "hashes").collect())
    scored = []
    for p in own:
        h_p = set(p["hashes"])
        for c in cands:
            inter = len(h_p.intersection(c["hashes"]))
            union = len(c["hashes"]) + len(p["hashes"]) - inter
            scored.append((inter / union if union > 0 else 1.0, c["doc_id"]))
    scored.sort(key=lambda s: (-s[0], s[1]))
    return _ranked(spark, [(doc_id, agreement[doc_id], jaccard, rank)
                           for rank, (jaccard, doc_id)
                           in enumerate(scored[:top_x], 1)])


def _ranked(spark: SparkSession, rows: list[tuple]) -> DataFrame:
    """The ranked rows as a local relation (no Spark job to collect).
    ``F.round`` rounds HALF_UP, as the rest of the engine's outputs do;
    Python's ``round`` rounds half to even."""
    table = pa.Table.from_pylist([dict(zip(RANKED.names, r)) for r in rows],
                                 schema=RANKED)
    return (spark.createDataFrame(table)
            .select("neighbor_id", "band_agreement",
                    F.round("jaccard", 6).alias("jaccard"), "rank"))


def _sql_string(s: str) -> str:
    """``s`` as a Spark SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
