"""The full dedup cascade: MinHash-LSH → SimHash → substring → CC.

Cascade semantics follow the reference's NLSH→PLSH two-stage filter
(reference ``lsh.py:476-570``): each pass only contributes edges the earlier
passes didn't already produce; the union of accepted edges feeds one
connected-components run. (The reference *removes* candidates rejected by
pass 1 from pass 2, ``lsh.py:466-471`` — for dedup we keep the
union-of-evidence semantics instead, which is strictly more conservative
about false negatives; the subtraction variant is kept for parity as
``cascade_mode="subtract"``.)

Stage boundaries are checkpointable (CheckpointStore) so a killed run
resumes from the last committed stage; each stage is also the natural
shuffle boundary, so checkpointing does not add shuffles — it only
truncates lineage.
"""

from __future__ import annotations

from functools import cache

from pyspark.sql import DataFrame, SparkSession, functions as F

from lsh_spark.canonicalize import granular_docs
from lsh_spark.config import DedupConfig
from lsh_spark.operators import lsh_bands, minhash, pairs, simhash, suffix
from lsh_spark.operators.connected_components import connected_components
from lsh_spark.operators.shingle import doc_shingle_hashes_arrow
from lsh_spark.operators.skew import collapse_hot_keys
from lsh_spark.plans.checkpoint import CheckpointStore, materialize


def dedup_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    cfg: DedupConfig | None = None,
    store: CheckpointStore | None = None,
    passes: tuple[str, ...] = ("minhash", "simhash", "substring"),
    cascade_mode: str = "union",
) -> DataFrame:
    """transcripts → (doc_id, cluster_id) near-duplicate clusters.

    Returns only docs that belong to a multi-member cluster; all other docs
    are singleton clusters of themselves.

    ``cascade_mode``:
      * "union" (default) — every pass contributes edges; safest against
        false negatives (a pair missed or rejected by one pass can still be
        linked by another).
      * "subtract" — reference-exact cascade semantics: candidate pairs
        REJECTED by the MinHash pass's verification are excluded from the
        later passes' outputs, mirroring how the reference removes
        candidates clipped by filter 1 from filter 2's candidate set
        (reference ``lsh.py:466-471``, C4).
    """
    cfg = cfg or DedupConfig()
    docs = granular_docs(transcripts, cfg.granularity)

    def ck(stage: str, thunk):
        if store is None:
            return materialize(thunk())
        return store.get_or_compute(spark, stage, thunk)

    if store is not None or cfg.hash_mode != "fast":
        # slow path reads ``docs`` three times (shingle/simhash/substring),
        # and a store needs the stage committed for resume. The fast path
        # with no store has exactly ONE consumer (the fused scan), so the
        # checkpoint there would only add a full extra materialization of
        # the text column plus a driver barrier.
        docs = ck("docs", lambda: docs)

    # per-doc sources, chosen once. Each is a thunk called only inside a
    # pass's stage thunk, so a store resume that finds the pass committed
    # never builds it
    if cfg.hash_mode == "fast":
        # single-scan source: ONE Arrow pass over the text column produces
        # shingle hashes + MinHash signature + SimHash + sampled grams —
        # the corpus is shipped through Python exactly once
        from lsh_spark.operators.fused import fused_doc_features

        @cache
        def fused() -> DataFrame:
            return ck("fused", lambda: fused_doc_features(docs, cfg))

        def shingle_hashes() -> DataFrame:
            return fused().select("doc_id", "hashes")

        def signatures() -> DataFrame:
            return (fused().filter(F.col("sig").isNotNull())
                    .select("doc_id", "sig"))

        def simhashes() -> DataFrame:
            return fused().select("doc_id", "simhash")

        def gram_keys() -> DataFrame:
            return fused().select("doc_id",
                                  F.explode("grams").alias("gram_hash"))
    else:
        @cache
        def shingle_hashes() -> DataFrame:
            return ck("shingle_hashes",
                      lambda: doc_shingle_hashes_arrow(docs, cfg))

        def signatures() -> DataFrame:
            return minhash.minhash_signatures(shingle_hashes(), cfg)

        def simhashes() -> DataFrame:
            return simhash.simhash_docs_arrow(docs, cfg)

        def gram_keys() -> DataFrame:
            return suffix.gram_keys(docs, cfg, cfg.substring_sample_mod)

    def minhash_pass() -> DataFrame:
        bands = lsh_bands.band_buckets(signatures(), cfg)
        cand = lsh_bands.candidate_pairs(bands, cfg)
        verified = (pairs.verify_pairs(cand, shingle_hashes(), cfg)
                    .select("doc_a", "doc_b"))
        if cascade_mode != "subtract":
            return verified
        # the REJECTED candidates ride in the same stage, flagged, so the
        # later passes can drop them and a store resume restores them
        return (cand.join(verified.withColumn("accepted", F.lit(True)),
                          ["doc_a", "doc_b"], "left")
                .select("doc_a", "doc_b",
                        F.coalesce("accepted", F.lit(False)).alias("accepted")))

    def simhash_pass() -> DataFrame:
        return (simhash.simhash_candidate_pairs(simhashes(), cfg)
                .select("doc_a", "doc_b"))

    def substring_pass() -> DataFrame:
        return (suffix.shared_key_pairs(
                    gram_keys(), "gram_hash", cfg.hot_bucket_cap,
                    count_col="shared_grams")
                .select("doc_a", "doc_b"))

    bodies = {"minhash": minhash_pass, "simhash": simhash_pass,
              "substring": substring_pass}
    # passes run sequentially: each is internally fully parallel, and
    # measured A/B showed concurrent submission thrashes Python workers /
    # shuffle I/O in local mode (98s sequential vs 160s threaded at 16
    # cores on the scale tier) — on a real cluster the scheduler pools
    # would make concurrency a wash too
    edge_frames = []
    rejected = None
    for name in passes:
        if name not in bodies:
            continue
        ef = ck(f"edges_{name}", bodies[name])
        if cascade_mode == "subtract" and name == "minhash":
            rejected = ef.filter(~F.col("accepted")).select("doc_a", "doc_b")
            ef = ef.filter(F.col("accepted")).select("doc_a", "doc_b")
        elif rejected is not None:
            # reference C4: pairs clipped by the earlier filter do not
            # re-enter via later passes (lsh.py:466-471)
            ef = ef.join(rejected, ["doc_a", "doc_b"], "left_anti")
        edge_frames.append(ef)

    edges = edge_frames[0]
    for ef in edge_frames[1:]:
        edges = edges.unionByName(ef)
    # no .distinct() here: connected_components symmetrizes + distincts its
    # edge input itself, so a pre-distinct would be a redundant extra full
    # shuffle of the edge set (guide §2.4 — remove shuffles outright)

    # with a store, the CC loop also commits per-iteration label state
    # (cc_iter{n} stages) — a killed run resumes label propagation itself
    labels = connected_components(edges, store=store)
    if store is not None:
        labels = store.write(labels, "clusters")
    return labels


def dedup_keep_list(labels: DataFrame, docs: DataFrame) -> DataFrame:
    """Docs to KEEP after dedup: cluster minimum per cluster + all
    singletons (training-data pipeline contract)."""
    keep_clustered = labels.groupBy("cluster_id").agg(F.min("doc_id").alias("doc_id"))
    singletons = docs.select("doc_id").join(labels.select("doc_id"), "doc_id", "left_anti")
    return keep_clustered.select("doc_id").unionByName(singletons)


def incremental_dedup_flags(new_docs: DataFrame, index_bands: DataFrame,
                            index_hashes: DataFrame,
                            cfg: DedupConfig,
                            new_hashes: DataFrame | None = None,
                            new_bands: DataFrame | None = None) -> DataFrame:
    """Dedup a NEW batch against an existing band index — the steady-state
    ingest operation at 10^12 turns: the corpus is NEVER re-clustered per
    delta; new docs probe the checkpointed ``(band_id, band_hash, doc_id)``
    table (plans/checkpoint.py — store it bucketed on the band key and the
    big side never reshuffles), and the batch's own band rows in the same
    keyed join, so dups arriving in the same delta are caught too.

    Skew: only the index rows the delta's band keys touch are sized (a
    semi-join), never the whole index. Of those, and of the batch's own
    rows, a key above the cap keeps only its min doc
    (``skew.collapse_hot_keys``, as in ``search_probe``), so a delta band
    key joins at most ``cfg.hot_bucket_cap`` rows of either side. On the
    batch side that gives the star (min, member) ``capped_pair_rows``
    gives a hot bucket; below the cap it gives every pair. The rule's
    window holds one key's rows in one task; on a bucketed index they
    already share one bucket, so the index is not shuffled.

    Output: (doc_a = new doc, doc_b = matched doc, band_agreement,
    jaccard, match_kind 'index'|'batch'), Jaccard-verified ≥ threshold;
    a 'batch' pair has doc_a < doc_b, and band_agreement counts distinct
    agreeing bands.
    """
    if new_hashes is None:
        # two consumers below (signatures + the verify hash union): without
        # the checkpoint the Arrow tokenize+hash kernel runs once per
        # consumer. Callers that already materialized the delta's hashes
        # (incremental_dedup's fold-in) pass them in instead.
        new_hashes = materialize(doc_shingle_hashes_arrow(new_docs, cfg))
    if new_bands is None:
        new_bands = lsh_bands.band_buckets(
            minhash.minhash_signatures(new_hashes, cfg), cfg)

    keys = ["band_id", "band_hash"]
    # semi-join on the bucket column alone, so a bucketed index is not
    # shuffled; the probe join drops rows of another band with that hash
    touched = index_bands.join(new_bands.select("band_hash"), "band_hash",
                               "left_semi")
    # ONE keyed join probes the index and the batch itself. Each side keeps
    # a hot key's min doc only (collapse_hot_keys): for the batch that is
    # the star (min, member) capped_pair_rows gives, and a cold key yields
    # both orders of each pair, folded by (least, greatest) below
    probe_side = (
        collapse_hot_keys(touched, keys, cfg.hot_bucket_cap)
        .withColumn("match_kind", F.lit("index"))
        .unionByName(collapse_hot_keys(new_bands, keys, cfg.hot_bucket_cap)
                     .withColumn("match_kind", F.lit("batch")))
        .withColumnRenamed("doc_id", "doc_b"))
    batch = F.col("match_kind") == "batch"
    cand = (
        new_bands.join(probe_side, keys)
        .filter(F.col("doc_id") != F.col("doc_b"))
        .select(F.when(batch, F.least("doc_id", "doc_b"))
                 .otherwise(F.col("doc_id")).alias("doc_a"),
                F.when(batch, F.greatest("doc_id", "doc_b"))
                 .otherwise(F.col("doc_b")).alias("doc_b"),
                "band_id", "match_kind")
        # distinct bands in ONE exchange: the set holds <= num_bands ids
        .groupBy("doc_a", "doc_b", "match_kind")
        .agg(F.size(F.collect_set("band_id")).cast("int")
             .alias("band_agreement")))

    all_hashes = index_hashes.unionByName(new_hashes)
    # match_kind rides through the verifier (extra_cols): re-joining the
    # candidates afterwards to recover it would re-run their generation
    verified = pairs.verify_pairs(
        cand.select("doc_a", "doc_b", "band_agreement", "match_kind"),
        all_hashes, cfg, extra_cols=("match_kind",))
    return verified.select(
        "doc_a", "doc_b", "band_agreement",
        F.round("jaccard", 6).alias("jaccard"), "match_kind")


def incremental_dedup(spark: SparkSession, new_docs: DataFrame,
                      store: CheckpointStore, cfg: DedupConfig | None = None,
                      bands_stage: str = "bands",
                      hashes_stage: str = "shingle_hashes") -> DataFrame:
    """Store-aware wrapper: probe the checkpointed index, then fold the new
    batch's bands + shingle hashes back into the store so the next delta
    sees this one.

    The store owns the index stages' layout. For the 100 TB shape they are
    BUCKETED (bands on band_hash, hashes on doc_id — ``cli index
    --bucketed-index`` or ``store.write_bucketed``): the probe join then
    never reshuffles the index side. The verify join still does: when
    ``spark.sql.shuffle.partitions`` exceeds the hashes stage's bucket
    count, the planner drops its bucketing and shuffles the whole stage
    by doc_id on every delta. Either way the fold-in is an O(delta)
    ``store.append`` in the stage's own layout, never an O(corpus)
    union-rewrite.

    Crash-ordering invariant (ADVICE r3): the HASHES stage is written
    BEFORE the bands stage.  A crash between the two writes then leaves
    extra hashes with no matching band rows — harmless, the banded probe
    never surfaces them — whereas the reverse order would leave band rows
    whose shingle hashes are missing, and verify_pairs' inner join on
    hashes would silently drop those candidates on the next delta."""
    cfg = cfg or DedupConfig()
    # ADVICE r4: a probe whose banding geometry differs from the index's
    # (e.g. r=2 session defaults against an r=1-era index) joins disjoint
    # band keys and silently reports zero vs-index dups — fail loudly
    store.validate_geometry(cfg)
    index_bands = store.read(spark, bands_stage)
    index_hashes = store.read(spark, hashes_stage)
    # the delta's hashes/bands are needed TWICE (probe flags + index
    # fold-in): compute them once, materialized
    new_hashes = materialize(doc_shingle_hashes_arrow(new_docs, cfg))
    new_bands = materialize(lsh_bands.band_buckets(
        minhash.minhash_signatures(new_hashes, cfg), cfg))
    flags = incremental_dedup_flags(new_docs, index_bands, index_hashes, cfg,
                                    new_hashes=new_hashes,
                                    new_bands=new_bands)
    flags = materialize(flags)  # materialize before index mutation
    store.append(new_hashes, hashes_stage)
    store.append(new_bands, bands_stage)
    return flags
