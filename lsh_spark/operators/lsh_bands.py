"""LSH banding: signature → band buckets → candidate pairs, skew-aware.

Reference analog: the inverted index with one bucket row per (permutation,
selection-fn) pair — i.e. banding with r=1 row per band, b = 2·P bands
(reference ``lsh.py:222-269``; row addressing ``lsh.py:124-128``) — and
probe-time collision counting (``lsh.py:272-317``), where a doc is a
candidate if ANY band collides (OR over bands, ``lsh.py:459-463``) and the
score is the number of agreeing bands (duplicate hits in one bucket count
once, ``lsh.py:307-308`` — SURVEY.md Q5).

Scale design (north_rule: "band hashes grouped via salted groupBy to defuse
hot-bucket skew"):
 * each band row is tagged with its bucket's size and min doc by one
   window over (band_id, band_hash), the rule the index probes use too: a
   bucket's rows meet in one sorted, spillable task (operators/skew.py);
 * buckets larger than ``hot_bucket_cap`` are NOT expanded into O(k²) pairs;
   each member is linked to the bucket's minimum doc_id instead (a star).
   For clustering this is lossless — the star connects exactly the same
   component — while the pair count drops from k(k-1)/2 to k-1. Verification
   of star edges still uses exact Jaccard, so false merges are not
   introduced beyond what per-pair verification allows. band_agreement
   counts are exact in all_pairs mode and a lower bound when the cap
   triggers (see candidate_pairs docstring).
 * AQE skew-join handling stays on as a backstop (session.py).

The self-join runs through ``skew.key_pairs``, shared with the SimHash
chunk join, the substring gram join, the winnow overlap join and the
embedding-bucket join; the index probes' hot-key rule lives beside it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from lsh_spark.config import DedupConfig
from lsh_spark.operators.minhash import sql_name
from lsh_spark.operators.skew import key_pairs


def band_hashes_col(sig: str, cfg: DedupConfig) -> Column:
    """Per-band hash array of the MinHash signature column named ``sig``;
    element i is band i's key. r = cfg.band_rows signature rows per band;
    for r=1 the band hash IS the signature value (oracle-reproducible); for
    r>1 rows are combined with xxhash64 over the slice, as ONE SQL
    expression string (one py4j call, not one per element). The one
    banding both the batch index (``band_buckets``) and the stream
    (streaming/dedup_stream.py) key on."""
    r, b = cfg.band_rows, cfg.num_bands
    if r == 1:
        return F.col(sig)
    # r>1 (scale mode only — every oracle config pins r=1, where the band
    # hash IS the signature value): hash the r-slice DIRECTLY with the
    # multi-column xxhash64 — two docs share a band key iff their r values
    # are equal (modulo ~2^-64 collisions), with no per-band string built
    # and hashed per consumer.
    col = sql_name(sig)
    return F.expr("array(" + ", ".join(
        "xxhash64(" + ", ".join(f"element_at({col}, {i * r + j + 1})"
                                for j in range(r)) + ")"
        for i in range(b)) + ")")


def band_buckets(sigs: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(doc_id, sig) → (band_id int, band_hash long, doc_id), one row per
    band (``band_hashes_col``)."""
    # stage the bands array in its own Project: exploding a plain column
    # attribute keeps Generate inside whole-stage codegen, while exploding
    # the higher-order expression inline does not (verified via .explain)
    return (
        sigs.select("doc_id",
                    band_hashes_col("sig", cfg).alias("_bands"))
        .select("doc_id", F.posexplode("_bands").alias("band_id", "band_hash"))
        .select(F.col("band_id").cast("int"), "band_hash", "doc_id")
    )


def candidate_pairs(bands: DataFrame, cfg: DedupConfig,
                    all_pairs: bool = False) -> DataFrame:
    """Distinct candidate doc pairs (doc_a < doc_b) + band agreement count.

    ``all_pairs=True`` expands every bucket fully — reference-exact pair
    semantics AND exact agreement counts; use for oracle checks / corpora
    with known-bounded buckets.

    Default: buckets above ``hot_bucket_cap`` are star-linked to the bucket
    minimum (component-preserving skew defusal, operators/skew.py).
    Agreement counts are then a LOWER BOUND for pairs that also co-occur in
    a hot bucket: the hot bucket contributes only its star edges, so a
    non-star pair loses that band's agreement unit. Downstream Jaccard
    verification is unaffected (it recomputes exact similarity per pair).
    """
    # one agreement unit per band: a doc sits in exactly ONE bucket per
    # band (one sig row per doc), and a bucket is either expanded or
    # star-linked, never both, so a pair's shared-key count is its number
    # of agreeing bands
    cap = None if all_pairs else cfg.hot_bucket_cap
    return (key_pairs(bands, ["band_id", "band_hash"], cap)
            .select("doc_a", "doc_b",
                    F.col("n_keys").cast("int").alias("band_agreement")))
