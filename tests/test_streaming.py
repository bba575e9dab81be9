"""Structured-Streaming smoke: file-source exact dedup + windowed rates."""

from __future__ import annotations

import os
import shutil

import pytest

from lsh_spark import synth
from lsh_spark.streaming import dedup_stream


def _stream_dir(tmp_path):
    src = synth.generate_tier("t1")
    d = str(tmp_path / "stream_in")
    os.makedirs(d, exist_ok=True)
    shutil.copy(src, os.path.join(d, "part-0.parquet"))
    return d


def test_streaming_exact_dedup(spark, tmp_path):
    stream = dedup_stream.read_transcript_stream(spark, _stream_dir(tmp_path))
    assert stream.isStreaming
    deduped = dedup_stream.streaming_exact_dedup(stream)
    q = (deduped.writeStream.format("memory").queryName("dedup_out")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        n_out = spark.sql("SELECT count(*) c FROM dedup_out").first()["c"]
        n_distinct = (spark.read.parquet(synth.generate_tier("t1"))
                      .selectExpr("md5(text) h").distinct().count())
        assert n_out == n_distinct
    finally:
        q.stop()


def test_streaming_turn_rates(spark, tmp_path):
    stream = dedup_stream.read_transcript_stream(spark, _stream_dir(tmp_path))
    agg = dedup_stream.streaming_turn_rates(stream)
    q = (agg.writeStream.format("memory").queryName("rates_out")
         .outputMode("complete").start())
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT sum(turns) t FROM rates_out").first()
        total = spark.read.parquet(synth.generate_tier("t1")).count()
        assert rows["t"] == total
    finally:
        q.stop()


def test_streaming_near_dup_flags(spark, tmp_path):
    """Exact-dup partner conversations (mutation 'exact') must be flagged
    as near-dup arrivals by the stateful band-bucket operator."""
    from pyspark.sql import functions as F

    from lsh_spark.config import DedupConfig
    stream = dedup_stream.read_transcript_stream(spark, _stream_dir(tmp_path))
    flags = dedup_stream.streaming_near_dup_flags(
        stream, DedupConfig(num_perms=8), watermark="10 seconds")
    q = (flags.writeStream.format("memory").queryName("neardup_out")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        out = spark.sql(
            "SELECT DISTINCT doc_id, dup_of FROM neardup_out").collect()
        flagged_pairs = {(r["doc_id"].split("#")[0], r["dup_of"].split("#")[0])
                         for r in out}
        convs = {a for a, b in flagged_pairs} | {b for a, b in flagged_pairs}
        # the t1 fixture plants exact duplicates c0000000 / c0000000d with
        # identical turn texts — their turns share every band bucket
        assert "c0000000" in convs and "c0000000d" in convs
        # flags are cross-document only
        assert all(r["doc_id"] != r["dup_of"] for r in out)
    finally:
        q.stop()


@pytest.mark.parametrize("band_rows", [1, 2])
def test_streaming_flags_match_incremental_dedup(spark, tmp_path, band_rows):
    """Batch-stream consistency (VERDICT r4 #7): replay corpus-then-delta
    through ``streaming_near_dup_flags`` and assert the flagged doc sets
    equal what ``incremental_dedup_flags`` reports for the SAME delta
    against the SAME index, at r=1 and at r=2 rows per band (the stream
    must band like the batch index at every ``band_rows``).

    Comparison is at candidate level — the stream emits unverified band
    collisions, so the batch run uses jaccard_threshold=0 (its verifier
    then keeps every collision). With the corpus file fully processed in
    an earlier microbatch, a bucket containing any corpus doc is OWNED by
    a corpus doc, so:
     * stream flags of delta docs with a corpus ``dup_of`` == the batch
       'index'-kind doc_a set (delta docs sharing >=1 bucket with the
       index);
     * the stream emits (member → owner) stars while the batch side
       emits pairs, and a bucket shared with BOTH corpus and other delta
       docs yields only corpus-owned flags in the stream but 'batch'-kind
       pairs too in batch mode — so pair sets are compared as subset
       (every streamed delta-delta flag is a batch pair) and doc sets as
       equality: streaming-flagged delta docs ∪ streaming bucket owners
       == every doc the batch run flags (owners of delta-only buckets
       are the one class the stream never emits a row FOR, only rows
       AGAINST).
    """
    import time

    from pyspark.sql import functions as F

    from lsh_spark.canonicalize import turn_docs
    from lsh_spark.config import DedupConfig
    from lsh_spark.operators import lsh_bands, minhash
    from lsh_spark.operators.shingle import doc_shingle_hashes_arrow
    from lsh_spark.plans.pipeline import incremental_dedup_flags

    cfg = DedupConfig(num_perms=8, band_rows=band_rows,
                      jaccard_threshold=0.0)
    tr = spark.read.parquet(synth.generate_tier("t1"))
    corpus_tr = tr.filter(~F.col("conv_id").endswith("d")).localCheckpoint()
    delta_tr = tr.filter(F.col("conv_id").endswith("d")).localCheckpoint()

    # two-file source ordered by mtime: corpus drains first (one file per
    # trigger), so every corpus-shared bucket is corpus-owned when the
    # delta batch arrives — the streaming analog of probing a prebuilt index
    d = str(tmp_path / "ordered_in")
    os.makedirs(d, exist_ok=True)
    p0, p1 = os.path.join(d, "part-0.parquet"), os.path.join(d, "part-1.parquet")
    # write through Spark (pandas emits ns-unit INT64 timestamps the
    # file-source schema rejects), then lift the single part files out
    for src_df, dest in ((corpus_tr, p0), (delta_tr, p1)):
        staging = dest + ".dir"
        src_df.coalesce(1).write.mode("overwrite").parquet(staging)
        part = next(f for f in os.listdir(staging)
                    if f.startswith("part-") and f.endswith(".parquet"))
        shutil.move(os.path.join(staging, part), dest)
        shutil.rmtree(staging)
    now = time.time()
    os.utime(p0, (now - 120, now - 120))
    os.utime(p1, (now, now))

    stream = dedup_stream.read_transcript_stream(spark, d,
                                                 max_files_per_trigger=1)
    flags = dedup_stream.streaming_near_dup_flags(stream, cfg,
                                                  watermark="10 seconds")
    out_name = f"eq_out_r{band_rows}"
    q = (flags.writeStream.format("memory").queryName(out_name)
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        srows = spark.sql(
            f"SELECT DISTINCT doc_id, dup_of FROM {out_name}").collect()
    finally:
        q.stop()

    delta_ids = {r["doc_id"]
                 for r in turn_docs(delta_tr).select("doc_id").collect()}
    stream_vs_index = {r["doc_id"] for r in srows
                       if r["doc_id"] in delta_ids
                       and r["dup_of"] not in delta_ids}
    stream_dd_pairs = {frozenset((r["doc_id"], r["dup_of"])) for r in srows
                       if r["doc_id"] in delta_ids
                       and r["dup_of"] in delta_ids}
    stream_flagged = {r["doc_id"] for r in srows if r["doc_id"] in delta_ids}
    stream_owners = {r["dup_of"] for r in srows if r["dup_of"] in delta_ids}

    index_hashes = doc_shingle_hashes_arrow(turn_docs(corpus_tr), cfg)
    index_bands = lsh_bands.band_buckets(
        minhash.minhash_signatures(index_hashes, cfg), cfg)
    brows = incremental_dedup_flags(turn_docs(delta_tr), index_bands,
                                    index_hashes, cfg).collect()
    batch_vs_index = {r["doc_a"] for r in brows if r["match_kind"] == "index"}
    batch_dd_pairs = {frozenset((r["doc_a"], r["doc_b"])) for r in brows
                      if r["match_kind"] == "batch"}
    batch_all_docs = batch_vs_index | {d for p in batch_dd_pairs for d in p}

    assert len(batch_vs_index) > 0  # t1 plants exact-dup partners
    assert stream_vs_index == batch_vs_index
    # every streamed delta-delta star edge is a batch candidate pair
    assert stream_dd_pairs <= batch_dd_pairs
    # doc-set equivalence: a doc the batch run flags is either flagged by
    # the stream or is the first claimant (owner) of a shared bucket
    assert stream_flagged | stream_owners == batch_all_docs
