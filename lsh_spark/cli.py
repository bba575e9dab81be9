"""spark-submit entry point: the reference's CLI surface, Spark-first.

Reference analog: ``main.py:48-183`` with methods serialize_pitches |
create_index | search | search_all and flags -i/-np/-ma/-top
(reference ``constants.py:44-66``). Here:

    spark-submit --py-files lsh_spark.zip -m lsh_spark.cli <cmd> [flags]
or  python -m lsh_spark.cli <cmd> [flags]

Commands:
  ingest       — synthesize/load transcripts, canonicalize, write docs table
  index        — shingle + MinHash signatures + band buckets → checkpoint
  ingest-delta — steady-state ingest: dedup a NEW transcript batch
                 (--delta parquet) against the checkpointed band index
                 from a prior `index` run, then fold the batch into the
                 index (hashes committed before bands — crash-safe order)
  pairs        — candidate pairs + Jaccard verification → checkpoint
  cluster      — full cascade + connected components → clusters table
  verify       — dup-pair recall & precision against golden labels
  bench        — delegate to bench.py

On a real cluster, --transcripts points at the Iceberg/parquet transcripts
table and --checkpoint-dir at a durable store; each stage resumes from the
last committed checkpoint (plans/checkpoint.py). Only `index` chooses a
stage layout (--bucketed-index); `ingest-delta`, `search` and `pairs` read
and append the committed index in whatever layout the store recorded.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import functions as F


def _build_cfg(args):
    from lsh_spark.config import DedupConfig
    return DedupConfig(
        shingle_k=args.shingle_k,
        num_perms=args.num_perms,
        band_rows=args.band_rows,
        jaccard_threshold=args.threshold,
        hash_mode=args.hash_mode,
        granularity=args.granularity,
        substring_sample_mod=args.substring_sample_mod,
    )


def main(argv=None):
    p = argparse.ArgumentParser(prog="lsh_spark")
    p.add_argument("command", choices=["ingest", "index", "ingest-delta",
                                       "pairs", "cluster", "verify",
                                       "search", "bench"])
    p.add_argument("--delta", default=None,
                   help="parquet path of the NEW transcript batch for "
                        "ingest-delta")
    p.add_argument("--bucketed-index", action="store_true",
                   help="store the index stages as BUCKETED tables (bands "
                        "on band_hash, hashes on doc_id): ingest-delta then "
                        "probes without reshuffling the index side and "
                        "folds deltas in as O(delta) appends")
    p.add_argument("--probe", default=None,
                   help="doc_id to search for (reference `search -f`); "
                        "required by the search command")
    p.add_argument("--top", type=int, default=20,
                   help="top-X results (reference SHOW_TOP_X)")
    p.add_argument("--transcripts", default=None,
                   help="parquet path of the transcripts table; default = "
                        "deterministic fixture for --sf-dir")
    p.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    p.add_argument("--checkpoint-dir", default="/tmp/lsh_spark_ck")
    p.add_argument("--output", default=None)
    p.add_argument("--cores", type=int, default=None)
    # reference-flag analogs: -np (num permutations), window params, top
    p.add_argument("--num-perms", "-np", type=int, default=32)
    p.add_argument("--shingle-k", type=int, default=5)
    # r=2 is the scale-safe default (r=1 candidate growth is ~N^1.75,
    # BENCH/pair_growth.py); pass --band-rows 1 for reference-geometry runs
    p.add_argument("--band-rows", type=int, default=2)
    p.add_argument("--threshold", type=float, default=0.5)
    p.add_argument("--hash-mode", choices=["portable", "fast"], default="fast")
    p.add_argument("--granularity", choices=["conv", "turn"], default="conv")
    p.add_argument("--substring-sample-mod", type=int, default=8)
    args = p.parse_args(argv)

    if args.command == "bench":
        import bench
        bench.main()
        return

    from lsh_spark.canonicalize import granular_docs
    from lsh_spark.operators import lsh_bands, minhash, pairs as pairs_op
    from lsh_spark.operators.shingle import doc_shingle_hashes_arrow
    from lsh_spark.plans.checkpoint import CheckpointStore
    from lsh_spark.plans.pipeline import dedup_pipeline
    from lsh_spark.session import get_spark
    from lsh_spark.sources.tables import load_dup_labels, load_transcripts

    cfg = _build_cfg(args)
    spark = get_spark(f"lsh_spark_{args.command}", cores=args.cores)
    store = CheckpointStore(args.checkpoint_dir)
    try:
        if args.transcripts:
            tr = spark.read.parquet(args.transcripts)
        else:
            tr = load_transcripts(spark, args.sf_dir)

        if args.command == "ingest":
            out = store.write(granular_docs(tr, cfg.granularity), "docs")
            print(json.dumps({"stage": "docs", "rows": out.count()}))
            return

        docs = store.get_or_compute(
            spark, "docs", lambda: granular_docs(tr, cfg.granularity))

        def index_stages():
            """(shingle_hashes, band_buckets): the committed index, or
            built from ``docs`` and committed plain when there is none."""
            hashes = store.get_or_compute(
                spark, "shingle_hashes",
                lambda: doc_shingle_hashes_arrow(docs, cfg))
            bands = store.get_or_compute(
                spark, "band_buckets",
                lambda: lsh_bands.band_buckets(
                    minhash.minhash_signatures(hashes, cfg), cfg))
            return hashes, bands

        if args.command == "index":
            # the one layout choice callers make, at write time; every
            # later command reads and appends in the layout the store
            # recorded (bands bucketed on band_hash, hashes on doc_id)
            def commit(df, stage, key):
                if args.bucketed_index:
                    return store.write_bucketed(df, stage, (key,), 16)
                return store.write(df, stage)
            hashes = (store.read(spark, "shingle_hashes")
                      if store.exists("shingle_hashes", spark)
                      else commit(doc_shingle_hashes_arrow(docs, cfg),
                                  "shingle_hashes", "doc_id"))
            sigs = minhash.minhash_signatures(hashes, cfg)
            bands = commit(lsh_bands.band_buckets(sigs, cfg),
                           "band_buckets", "band_hash")
            # stamp the banding geometry so a later ingest-delta with a
            # drifted session cfg fails loudly instead of joining disjoint
            # band keys (plans/checkpoint.py:validate_geometry)
            store.record_geometry(cfg)
            print(json.dumps({"stage": "band_buckets", "rows": bands.count()}))
            return

        if args.command == "ingest-delta":
            # steady-state ingest (plans/pipeline.py:incremental_dedup):
            # the corpus is never re-clustered per delta — the new batch
            # probes the checkpointed band index and is folded back in
            from lsh_spark.plans.pipeline import incremental_dedup
            if not args.delta:
                raise SystemExit(
                    "ingest-delta requires --delta <transcripts parquet>")
            for stage in ("band_buckets", "shingle_hashes"):
                if not store.exists(stage, spark):
                    raise SystemExit(
                        f"ingest-delta needs the '{stage}' stage in "
                        f"{args.checkpoint_dir}; run the `index` command "
                        f"there first")
            delta_tr = spark.read.parquet(args.delta)
            new_docs = granular_docs(delta_tr, cfg.granularity)
            flags = incremental_dedup(
                spark, new_docs, store, cfg,
                bands_stage="band_buckets", hashes_stage="shingle_hashes")
            by_kind = {r["match_kind"]: r["n"] for r in
                       flags.groupBy("match_kind")
                            .agg(F.count("*").alias("n")).collect()}
            print(json.dumps({
                "stage": "ingest_delta",
                "batch_docs": new_docs.count(),
                "dup_flags": sum(by_kind.values()),
                "vs_index": by_kind.get("index", 0),
                "within_batch": by_kind.get("batch", 0),
                "index_rows": store.read(spark, "band_buckets").count()}))
            return

        if args.command == "search":
            # the reference's primary surface (main.py:209-237): one probe
            # against the prebuilt index; reuses the `index` stage's
            # checkpointed band_buckets so repeated searches pay no rebuild
            from lsh_spark.operators.search import search_probe
            if not args.probe:
                raise SystemExit("search requires --probe <doc_id>")
            hashes, bands = index_stages()
            hits = search_probe(bands, hashes, args.probe, cfg,
                                top_x=args.top).collect()
            print(json.dumps({"probe": args.probe,
                              "results": [row.asDict() for row in hits]}))
            return

        if args.command == "pairs":
            hashes, bands = index_stages()
            cand = lsh_bands.candidate_pairs(bands, cfg)
            verified = store.write(
                pairs_op.verify_pairs(cand, hashes, cfg), "verified_pairs")
            print(json.dumps({"stage": "verified_pairs", "rows": verified.count()}))
            return

        if args.command == "cluster":
            labels = dedup_pipeline(spark, tr, cfg, store=store)
            if args.output:
                labels.write.mode("overwrite").parquet(args.output)
            print(json.dumps({"stage": "clusters",
                              "docs": labels.count(),
                              "clusters": labels.select("cluster_id")
                                                .distinct().count()}))
            return

        if args.command == "verify":
            labels = dedup_pipeline(spark, tr, cfg, store=store)
            golden = load_dup_labels(spark, args.sf_dir)
            la = labels.withColumnRenamed("doc_id", "conv_id_a") \
                       .withColumnRenamed("cluster_id", "cl_a")
            lb = labels.withColumnRenamed("doc_id", "conv_id_b") \
                       .withColumnRenamed("cluster_id", "cl_b")
            joined = golden.join(la, "conv_id_a", "left").join(lb, "conv_id_b", "left")
            eligible = joined.filter(
                (F.col("jaccard_true") >= cfg.jaccard_threshold)
                | (F.col("mutation") == "substring"))
            stats = eligible.agg(
                F.count("*").alias("eligible_pairs"),
                F.sum(F.when(F.col("cl_a") == F.col("cl_b"), 1).otherwise(0))
                 .alias("recovered")).first()
            recall = (stats["recovered"] or 0) / max(stats["eligible_pairs"], 1)
            print(json.dumps({"eligible_pairs": stats["eligible_pairs"],
                              "recovered": int(stats["recovered"] or 0),
                              "dup_pair_recall": round(recall, 4)}))
            return
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
