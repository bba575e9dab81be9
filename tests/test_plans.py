"""Physical-plan assertions (SURVEY.md §4): pushdown, pruning, broadcast,
partial aggregation, semi-join — the Catalyst behaviors the engine relies
on at 100 TB, verified rather than assumed."""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from lsh_spark.config import DedupConfig
from lsh_spark.operators import knn, lsh_bands, minhash, pairs, shingle, tfidf
from lsh_spark.canonicalize import conversation_docs


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_parquet_filter_pushdown_and_column_pruning(spark):
    df = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
          .filter(F.col("lang") == "en")
          .select("doc_id", "n_chars"))
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan
    # pruned scan: text column (the wide one) must not be read
    assert "text" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_knn_broadcasts_probe_side(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    df = knn.knn_bruteforce(emb, emb.filter(F.col("vec_id") < 5), k=3)
    assert "BroadcastExchange" in plan_of(df)


def test_tfidf_has_partial_aggregation(spark):
    docs = spark.createDataFrame([("d", "a b c")], "doc_id string, text string")
    plan = plan_of(tfidf.tf(docs))
    # map-side combine: partial_count before the exchange
    assert "partial_count" in plan


def test_conversation_docs_single_shuffle(spark, t1_transcripts):
    plan = plan_of(conversation_docs(t1_transcripts), "simple")
    # exactly one Exchange: the groupBy(conv_id); no Window/global sort,
    # map-side partial aggregation, and only 4 of 6 columns scanned
    assert plan.count("Exchange") == 1
    assert "Window" not in plan and "Sort " not in plan
    assert "partial_collect_list" in plan
    read_schema = plan.split("ReadSchema:")[1]
    assert "role" not in read_schema and "tool" not in read_schema


def test_verify_pairs_uses_semi_join_prefilter(spark):
    cfg = DedupConfig(num_perms=4)
    docs = spark.createDataFrame(
        [("a", "w1 w2 w3 w4 w5 w6"), ("b", "w1 w2 w3 w4 w5 w7")],
        "doc_id string, text string")
    hashes = shingle.doc_shingle_hashes(docs, cfg)
    sigs = minhash.minhash_signatures(hashes, cfg)
    bands = lsh_bands.band_buckets(sigs, cfg)
    cand = lsh_bands.candidate_pairs(bands, cfg, all_pairs=True)
    plan = plan_of(pairs.verify_pairs(cand, hashes, cfg), "extended")
    assert "LeftSemi" in plan


def test_band_buckets_no_python_udf(spark):
    """Banding must stay JVM-side (codegen), no Python in the hot path."""
    cfg = DedupConfig(num_perms=4)
    sigs = spark.createDataFrame([("a", [1, 2, 3, 4])],
                                 "doc_id string, sig array<bigint>")
    plan = plan_of(lsh_bands.band_buckets(sigs, cfg))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # '*' prefix marks whole-stage-codegen'd operators in formatted mode
    assert "* Generate" in plan and "* Project" in plan


def test_tfidf_no_explode_with_precomputed_counts(spark):
    """Round-2 invariant: every TF-IDF quantity derives from the single
    (doc, token, n) counts frame — with a persisted counts the downstream
    plan contains NO tokenize-explode at all."""
    docs = spark.createDataFrame([("a", "x y z"), ("b", "x q")],
                                 "doc_id string, text string")
    counts = tfidf.doc_token_counts(docs).localCheckpoint()
    for df in (tfidf.tfidf_with_counts(docs, counts),
               tfidf.tfidf_filter_stats(docs, 0.01, counts)):
        assert "Generate" not in plan_of(df)


def test_tfidf_explode_executes_once(spark):
    """The tokenize+explode+aggregate base frame must not re-execute once
    per derived quantity. Round 5 relied on runtime ReuseExchange, which
    silently stopped firing when column pruning diverged the df-side and
    join-side subtrees (measured: two full aggregation chains at sf0.1);
    round 6 materializes the base frame once, so the final plan contains
    NO Generate at all — both consumers read the checkpointed base."""
    docs = spark.createDataFrame([("a", "x y z"), ("b", "x q")],
                                 "doc_id string, text string")
    df = tfidf.tfidf_with_counts(docs)
    df.collect()
    assert plan_of(df).count("Generate") == 0
    assert "Scan ExistingRDD" in plan_of(df)


def _record_materialized(monkeypatch, frame_cls) -> list[str]:
    """Patch ``localCheckpoint``; the returned list gets the executed plan
    (after AQE) of every frame materialized from then on."""
    executed = []
    local_checkpoint = frame_cls.localCheckpoint

    def recording(self, *args, **kwargs):
        out = local_checkpoint(self, *args, **kwargs)
        executed.append(self._jdf.queryExecution().executedPlan().toString())
        return out

    monkeypatch.setattr(frame_cls, "localCheckpoint", recording)
    return executed


def test_capped_pairs_tag_by_window_without_broadcast(spark, monkeypatch):
    """With broadcasts disabled the pair rows are the same, and no frame
    ``capped_pair_rows`` materializes broadcasts (no hint may force one).
    Bucket sizes and mins come from one window over the keyed rows
    (``tagged``), not from a census joined back."""
    from lsh_spark.operators.skew import capped_pair_rows
    cfg = DedupConfig(num_perms=8, hot_bucket_cap=3)
    docs = spark.createDataFrame(
        [(f"d{i}", "a b c d e f g h") for i in range(10)]
        + [(f"p{i}", f"p q r s t u v {i // 2}") for i in range(6)],
        "doc_id string, text string")
    hashes = shingle.doc_shingle_hashes(docs, cfg)
    bands = lsh_bands.band_buckets(
        minhash.minhash_signatures(hashes, cfg), cfg).localCheckpoint()
    key = ["band_id", "band_hash"]
    expected = sorted(capped_pair_rows(bands, key, cfg.hot_bucket_cap).collect())

    # every frame capped_pair_rows materializes, with its plan after AQE
    threshold = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(threshold)
    executed = _record_materialized(monkeypatch, type(bands))
    spark.conf.set(threshold, "-1")
    try:
        out = capped_pair_rows(bands, key, cfg.hot_bucket_cap)
        got = sorted(out.collect())
        executed.append(out._jdf.queryExecution().executedPlan().toString())
    finally:
        spark.conf.set(threshold, saved)
    tagged = [p for p in executed if "bucket_size" in p and "Window" in p]
    assert tagged and all("isFinalPlan=true" in p for p in tagged)
    assert not any("Join" in p for p in tagged)
    assert not any("BroadcastHashJoin" in p for p in executed)
    assert got == expected


def test_embedding_near_dups_runs_hyperplane_kernel_once(spark, monkeypatch):
    """The capped bucket self-join reads its keyed rows once, in the
    window job that tags them (``tagged``), so across the frames the
    operator materializes the hyperplane ``MapInArrow`` runs once: its
    producer runs inside that checkpoint, not once per later read."""
    rows = [(i, [float((i * 7 + j) % 11) for j in range(8)])
            for i in range(30)]
    rows += [(100 + i, rows[0][1]) for i in range(4)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    executed = _record_materialized(monkeypatch, type(emb))
    got = knn.embedding_near_dups(emb, threshold=0.99, n_planes=2).collect()
    # the copies of vec 0 are exact duplicates of it and of each other
    dups = {(r["id_a"], r["id_b"]) for r in got}
    assert {(0, 100), (100, 101), (102, 103)} <= dups
    final_plans = [p.split("== Initial Plan ==")[0] for p in executed]
    assert sum(p.count("MapInArrow") for p in final_plans) == 1


def test_search_probe_reads_are_shuffle_free(probe_index, record_collects):
    """A probe is three point reads of the bucketed index, none of which
    shuffles or runs Python: its own hashes row, the colliding band rows,
    and the candidates' hashes. The probe's band keys are LITERAL
    predicates on the band read (the reference's O(1) dict lookup
    analog), not a join against a recomputed probe subtree."""
    from lsh_spark.operators.search import search_probe
    bands, hashes, cfg = probe_index
    record_collects.clear()
    got = search_probe(bands, hashes, "d0", cfg).collect()
    assert [r["neighbor_id"] for r in got] == ["d5"]
    plans = [plan.toString() for plan, _ in record_collects]
    reads = [plan for plan in plans if "FileScan" in plan]
    assert len(reads) == 3
    for plan in reads:
        assert "Exchange" not in plan, plan
        assert "EvalPython" not in plan and "MapInArrow" not in plan
    assert "band_hash#" in reads[1] and " IN (" in reads[1]


def _selected_buckets(plan) -> tuple[int, int]:
    """(selected, total) buckets of a plan's one file scan: the bucket set
    Spark prunes the stage's files with. ``SelectedBucketsCount`` shows it
    only for a bucketed scan, and the planner turns bucketed scans off
    where no operator needs the layout, as for a plain point read."""
    leaves = plan.collectLeaves()
    (scan,) = [leaves.apply(i) for i in range(leaves.size())
               if leaves.apply(i).getClass().getSimpleName()
               == "FileSourceScanExec"]
    n = scan.relation().bucketSpec().get().numBuckets()
    chosen = scan.optionalBucketSet()
    return (chosen.get().cardinality() if chosen.isDefined() else n), n


def test_search_probe_pushes_band_keys_to_bucketed_scan(probe_index,
                                                        record_collects):
    """Against the bucketed checkpoint index, a probe's band-key IN list
    must reach the parquet scan as pushed filters (file/bucket pruning) —
    VERDICT r5 item 5 — and the probe's own row and its candidates'
    hashes are read by doc_id from fewer than all buckets."""
    from lsh_spark.operators.search import search_probe
    bands, hashes, cfg = probe_index
    record_collects.clear()
    search_probe(bands, hashes, "d0", cfg)
    (own, _), (band_read, _), (fetch, _) = record_collects
    # the index scan carries the probe's band_hash IN (...) predicate
    pushed = band_read.toString().split("PushedFilters: ")[1]
    assert "In(band_hash" in pushed.split("]")[0].replace(" ", "")
    for plan in (own, fetch):
        selected, n = _selected_buckets(plan)
        assert selected < n, plan.toString()


def test_bucketed_checkpoint_join_has_no_shuffle(spark, tmp_path):
    """Two stages bucketed on doc_id with equal bucket counts must join
    with zero Exchange operators (co-located map-side join)."""
    from lsh_spark.plans.checkpoint import CheckpointStore
    store = CheckpointStore(str(tmp_path / "ck"))
    a = spark.createDataFrame(
        [(f"d{i}", i) for i in range(50)], "doc_id string, x int")
    b = spark.createDataFrame(
        [(f"d{i}", i * 2) for i in range(50)], "doc_id string, y int")
    ta = store.write_bucketed(a, "stage_a", ("doc_id",), 4)
    tb = store.write_bucketed(b, "stage_b", ("doc_id",), 4)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(ta.join(tb, "doc_id"))
        assert "Exchange" not in plan, plan
        assert ta.join(tb, "doc_id").count() == 50
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_media_fake_features_stay_in_jvm(spark):
    """r6: the fake feature path is pure hashing, so it must compile to
    built-in expressions — no MapInPandas/Arrow boundary — and hash each
    payload exactly once (the digest lives in its own Project; inlining it
    into the 16 word lambdas would sha256 the payload 16x per row)."""
    from lsh_spark.operators import multimodal
    docs = spark.createDataFrame([("d1", "hello")], "doc_id string, text string")
    feats = multimodal.extract_features(multimodal.attach_fake_media(docs))
    plan = plan_of(feats)
    assert "MapInPandas" not in plan and "ArrowEval" not in plan, plan
    assert plan.count("sha2") == 1, plan


def test_streaming_sig_hashes_materialized_once(spark):
    """r6: the per-permutation min lambda must read the shingle-hash array
    as an attribute, not recompute it — inlining the hash expression into
    the sequence-transform re-runs tokenize+shingle+hash64 num_perms times
    per row (measured 8.06x slower at P=8 on 50k sf0.1 turns)."""
    from lsh_spark.config import DedupConfig
    from lsh_spark.operators.shingle import shingle_hashes_col
    from lsh_spark.operators.minhash import signature_col
    cfg = DedupConfig(num_perms=8)
    df = (spark.createDataFrame([("a b c d e f g h i j",)], "text string")
          .select(shingle_hashes_col(F.col("text"), cfg).alias("_hashes"))
          .select(signature_col("_hashes", cfg).alias("sig")))
    plan = plan_of(df, "extended")
    opt = plan.split("== Optimized Logical Plan ==")[1]
    # the projects must NOT collapse: the signature project references
    # _hashes as a plain attribute and the tokenizer runs in a lower project
    sig_project = opt.strip().splitlines()[0]
    assert "split(" not in sig_project, sig_project
    assert "_hashes" in sig_project, sig_project
