"""Candidate-pair growth diagnostic: does each dedup pass stay LINEAR in
corpus size?

At 10^12 turns, any pass whose candidate count grows faster than N is a
death sentence — the scaling gate surfaced exactly one: with the
reference's r=1 banding (band key = a SINGLE permutation's min-hash),
every pair of docs sharing one popular shingle collides in some band, so
sub-cap bucket sizes grow with N and candidate pairs grow ~N^1.75.

Measured on the synthetic tiers (this script, 2026-08-17, 12 cores):

    tier docs      band_rows=1 candidates   verified  simhash  substring
    xl   540,000       465,793 (0.86/doc)     67,289   40,632     84,479
    xxl  2,160,000   5,325,350 (2.47/doc)    269,283  162,907    338,227
                     = 11.4x for 4.0x docs      4.0x     4.0x       4.0x

Verified/SimHash/substring pairs all scale exactly 4.0x — the blowup is
pure false candidates from r=1 bucket geometry. With band_rows=2
(16 bands x 2 rows, same 32 permutations) candidates key on two minima
jointly; planted-dup recall on the 'scale' tier is IDENTICAL (0.9924,
same caught pair set — the cascade union covers the tail) while the
candidate count drops to near the verified count. The scale configs in
bench.py / BENCH/scaling.py therefore use band_rows=2; parity and oracle
configs keep the reference's r=1.

Usage: python BENCH/pair_growth.py [tier ...]   (default: xl xxl)
Prints one line per tier; compare pairs-per-doc across tiers.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from lsh_spark import synth  # noqa: E402
from lsh_spark.canonicalize import conversation_docs  # noqa: E402
from lsh_spark.config import DedupConfig  # noqa: E402
from lsh_spark.operators import lsh_bands, pairs as prs, simhash as sh, suffix  # noqa: E402
from lsh_spark.operators.fused import fused_doc_features  # noqa: E402
from lsh_spark.session import get_spark  # noqa: E402


def count_passes(tier: str, band_rows: int) -> dict:
    cfg = DedupConfig(hash_mode="fast", substring_sample_mod=8,
                      band_rows=band_rows)
    path = synth.generate_tier(tier)
    spark = get_spark(f"pair_growth_{tier}", cores=12, shuffle_partitions=48,
                      extra_conf={"spark.eventLog.enabled": "false"})
    try:
        tr = spark.read.parquet(path)
        docs = conversation_docs(tr).select("doc_id", "text")
        fused = fused_doc_features(docs, cfg).localCheckpoint()
        out = {"tier": tier, "band_rows": band_rows, "docs": fused.count()}
        sigs = fused.filter(F.col("sig").isNotNull()).select("doc_id", "sig")
        cand = lsh_bands.candidate_pairs(
            lsh_bands.band_buckets(sigs, cfg), cfg).localCheckpoint()
        out["mh_candidates"] = cand.count()
        out["mh_verified"] = prs.verify_pairs(
            cand, fused.select("doc_id", "hashes"), cfg).count()
        out["simhash_pairs"] = sh.simhash_candidate_pairs(
            fused.select("doc_id", "simhash"), cfg).count()
        g = fused.select("doc_id", F.explode("grams").alias("gram_hash"))
        out["substr_pairs"] = suffix.shared_key_pairs(
            g, "gram_hash", cfg.hot_bucket_cap,
            count_col="shared_grams").count()
        return out
    finally:
        spark.stop()


def main():
    tiers = sys.argv[1:] or ["xl", "xxl"]
    for tier in tiers:
        for r in (1, 2):
            rec = count_passes(tier, r)
            per_doc = rec["mh_candidates"] / rec["docs"]
            print({**rec, "cand_per_doc": round(per_doc, 3)}, flush=True)


if __name__ == "__main__":
    main()
