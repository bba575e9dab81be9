"""Benchmark harness: headline dedup queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": ..., "value": <pipeline sec>, "unit": "sec",
   "queries": {...per-query sec...}, "sf": ...,
   "turns": N, "turns_per_sec": ...,
   "scaling": {"cores_n": 8, "cores_4n": 32, "sec_n": ..., "sec_4n": ...,
               "speedup": ..., "efficiency": ...}}

Scaling evidence per BASELINE.md: the same dedup job at local[N] vs
local[4N] on the same input (sandbox stand-in for N vs 4N executors);
efficiency = (t_N / t_4N) / 4. Default pair 3v12 — chosen below the
VM's measured busy-thread saturation knee (see BENCH/BASELINE.md).

Env knobs: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
SPARK_GRAFT_CPUS (default 32), LSH_BENCH_SKIP_SCALING=1 to skip the
two-session scaling run, LSH_BENCH_QUERY_REPS (default 3) for the
median-of-reps per-query lines.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from lsh_spark import synth  # noqa: E402
from lsh_spark.canonicalize import conversation_docs, turn_docs  # noqa: E402
from lsh_spark.config import DedupConfig  # noqa: E402
from lsh_spark.operators import exact_dedup, knn, lsh_bands, minhash, pairs, simhash, suffix, tfidf  # noqa: E402
from lsh_spark.operators.shingle import doc_shingle_hashes_arrow  # noqa: E402
from lsh_spark.plans.pipeline import dedup_pipeline  # noqa: E402
from lsh_spark.session import get_spark  # noqa: E402
from lsh_spark.sources.tables import load_table, load_transcripts  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CORES = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
CFG = DedupConfig(hash_mode="fast", substring_sample_mod=8,
                  band_rows=2)  # r=2: 16 bands x 2 rows. r=1 makes
# every pair of docs sharing one popular shingle a candidate, so
# sub-cap bucket sizes grow with corpus size and candidate pairs
# grow ~N^1.75 (measured: 4x docs -> 11.4x candidates, while
# verified/simhash/substring pairs all stayed 4.0x). r=2 keys
# buckets on two minima jointly; planted-dup recall on the scale
# tier is IDENTICAL (0.9924, same caught set - the cascade union
# covers the tail). This is the banding geometry a 10^12-turn run
# needs; parity/oracle configs keep the reference r=1.  # scale config


def _timed(fn) -> float:
    t0 = time.time()
    fn()
    return round(time.time() - t0, 3)


def run_queries(spark) -> tuple[dict, int]:
    tr = load_transcripts(spark, SF_DIR).localCheckpoint()
    n_turns = tr.count()
    docs = conversation_docs(tr).select("doc_id", "text").localCheckpoint()
    timings: dict[str, float] = {}

    hashes_ref: dict = {}

    def q_shingle():
        h = doc_shingle_hashes_arrow(docs, CFG).localCheckpoint()
        h.count()
        hashes_ref["h"] = h
    timings["shingle_hashes"] = _timed(q_shingle)
    hashes = hashes_ref["h"]

    sigs_ref: dict = {}

    def q_minhash():
        s = minhash.minhash_signatures(hashes, CFG).localCheckpoint()
        s.count()
        sigs_ref["s"] = s
    timings["minhash_signatures"] = _timed(q_minhash)
    sigs = sigs_ref["s"]

    def q_pairs():
        bands = lsh_bands.band_buckets(sigs, CFG)
        cand = lsh_bands.candidate_pairs(bands, CFG)
        pairs.verify_pairs(cand, hashes, CFG).count()
    timings["lsh_candidates_verify"] = _timed(q_pairs)

    timings["exact_dedup_turns"] = _timed(
        lambda: exact_dedup.exact_dup_groups(turn_docs(tr)).count())
    timings["simhash_pass"] = _timed(
        lambda: simhash.simhash_candidate_pairs(
            simhash.simhash_docs_arrow(docs, CFG), CFG).count())
    timings["substring_pass"] = _timed(
        lambda: suffix.substring_candidate_pairs(
            docs, CFG, sample_mod=CFG.substring_sample_mod).count())
    # deterministic 1-in-10 hash sample (NOT limit(): GlobalLimit funnels
    # through one partition; pmod(xxhash64) samples uniformly in parallel)
    tfidf_sample = docs.filter(F.pmod(F.xxhash64("doc_id"), F.lit(10)) == 0)
    sample_ref: dict = {}

    def q_tfidf():
        sample_ref["n"] = tfidf_sample.count()
        tfidf.tfidf(tfidf_sample).count()
    timings["tfidf_docs"] = _timed(q_tfidf)
    extras = {"tfidf_sample_docs": sample_ref["n"]}

    emb = load_table(spark, SF_DIR, "embeddings")
    timings["knn_bruteforce"] = _timed(
        lambda: knn.knn_bruteforce(emb, emb.filter(F.col("vec_id") < 50), k=10).count())
    timings["ann_hyperplane"] = _timed(
        lambda: knn.ann_hyperplane(emb, emb.filter(F.col("vec_id") < 50), k=10).count())
    return timings, n_turns, extras


def run_turn_passes(spark) -> dict:
    """Per-pass walls at granularity='turn' — the 10x-row-count document
    shape (every turn its own doc). Compared against the conv-granularity
    lines, no pass may go superlinear on the finer shape: row count rises
    ~10x while per-doc text shrinks ~10x, so pass walls should move far
    less than 10x."""
    tr = load_transcripts(spark, SF_DIR).localCheckpoint()
    docs = turn_docs(tr).select("doc_id", "text").localCheckpoint()
    out: dict = {"turn_docs": docs.count()}
    h_ref: dict = {}

    def q_sh():
        h = doc_shingle_hashes_arrow(docs, CFG).localCheckpoint()
        h.count()
        h_ref["h"] = h
    out["shingle_hashes"] = _timed(q_sh)
    hashes = h_ref["h"]
    s_ref: dict = {}

    def q_mh():
        s = minhash.minhash_signatures(hashes, CFG).localCheckpoint()
        s.count()
        s_ref["s"] = s
    out["minhash_signatures"] = _timed(q_mh)

    def q_pairs():
        bands = lsh_bands.band_buckets(s_ref["s"], CFG)
        cand = lsh_bands.candidate_pairs(bands, CFG)
        pairs.verify_pairs(cand, hashes, CFG).count()
    out["lsh_candidates_verify"] = _timed(q_pairs)
    out["simhash_pass"] = _timed(
        lambda: simhash.simhash_candidate_pairs(
            simhash.simhash_docs_arrow(docs, CFG), CFG).count())
    out["substring_pass"] = _timed(
        lambda: suffix.substring_candidate_pairs(
            docs, CFG, sample_mod=CFG.substring_sample_mod).count())
    return out


def run_incremental(spark) -> dict:
    """Steady-state ingest wall: dedup a 1-in-10 delta batch against the
    checkpointed band index built from the other 9/10 (the operation a
    10^12-turn deployment runs per arriving batch), for comparison with
    the full re-cluster wall (result['value']). Index build is timed
    separately — it is amortized across all future deltas."""
    import shutil
    from lsh_spark.plans.checkpoint import CheckpointStore
    from lsh_spark.plans.pipeline import incremental_dedup

    tr = load_transcripts(spark, SF_DIR)
    docs = conversation_docs(tr).select("doc_id", "text")
    is_new = F.pmod(F.xxhash64("doc_id"), F.lit(10)) == 0
    corpus = docs.filter(~is_new).localCheckpoint()
    batch = docs.filter(is_new).localCheckpoint()
    root = "/tmp/lsh-bench-incremental"
    shutil.rmtree(root, ignore_errors=True)
    store = CheckpointStore(root)

    def build_index():
        hashes = doc_shingle_hashes_arrow(corpus, CFG)
        store.write(hashes, "shingle_hashes")
        sigs = minhash.minhash_signatures(store.read(spark, "shingle_hashes"),
                                          CFG)
        store.write(lsh_bands.band_buckets(sigs, CFG), "band_buckets")
    index_sec = _timed(build_index)

    flags_ref: dict = {}

    def ingest():
        flags_ref["n"] = incremental_dedup(
            spark, batch, store, CFG,
            bands_stage="band_buckets",
            hashes_stage="shingle_hashes").count()
    delta_sec = _timed(ingest)
    out = {"corpus_docs": corpus.count(), "delta_docs": batch.count(),
           "index_build_sec": index_sec, "delta_ingest_sec": delta_sec,
           "dup_flags": flags_ref["n"]}
    shutil.rmtree(root, ignore_errors=True)
    return out


def run_search_probe(spark) -> dict:
    """Steady-state probe latency against the CHECKPOINTED band index —
    the reference's primary user surface (`search -f query.wav`,
    operators/search.py). The index is built once (amortized, bucketed
    saveAsTable like a deployed read path); each probe reads its own
    hashes row, the band rows its keys collide with and its candidates'
    hashes, so the corpus never shuffles. Median-of-probes is the latency line; raw walls recorded
    (first probe carries the scan-warmup)."""
    import shutil
    import statistics
    from lsh_spark.operators.search import search_probe
    from lsh_spark.plans.checkpoint import CheckpointStore

    tr = load_transcripts(spark, SF_DIR)
    docs = conversation_docs(tr).select("doc_id", "text")
    root = "/tmp/lsh-bench-search"
    shutil.rmtree(root, ignore_errors=True)
    store = CheckpointStore(root)

    def build():
        hashes = doc_shingle_hashes_arrow(docs, CFG)
        store.write(hashes, "shingle_hashes")
        sigs = minhash.minhash_signatures(
            store.read(spark, "shingle_hashes"), CFG)
        store.write_bucketed(lsh_bands.band_buckets(sigs, CFG),
                             "band_buckets")
    index_sec = _timed(build)
    bands = store.read_bucketed(spark, "band_buckets")
    hashes = store.read(spark, "shingle_hashes")
    # deterministic probe set: 5 docs picked by hash order (collect of
    # five ids — not a hot path)
    probe_ids = [r["doc_id"] for r in docs.select("doc_id")
                 .orderBy(F.xxhash64("doc_id")).limit(5).collect()]
    lat, hits = [], []
    for pid in probe_ids:
        t0 = time.time()
        hits.append(search_probe(bands, hashes, pid, CFG).count())
        lat.append(round(time.time() - t0, 3))
    out = {"index_build_sec": index_sec, "probes": len(probe_ids),
           "probe_sec_raw": lat,
           "probe_sec_median": round(statistics.median(lat), 3),
           "probe_hits": hits}
    shutil.rmtree(root, ignore_errors=True)
    return out


def run_pipeline_once(cores: int, transcripts_path: str | None = None,
                      local_dir: str | None = None,
                      shuffle_partitions: int | None = None,
                      pin: bool = False) -> float:
    # pin=True confines this process (and the forked driver JVM + Python
    # workers) to exactly `cores` vCPUs, so a local[c] arm's ~2c busy
    # threads time-share c vCPUs instead of floating over all 32. The
    # pinned standalone protocol (BENCH/scaling_standalone.py, round 5)
    # showed this reproduces the real-cluster contract — busy-vCPU count
    # equals the allocated core count in both arms and the N-vs-4N ratio
    # stops measuring the hypervisor's busy-thread knee (raw 3v12 moved
    # 0.586 -> 0.633 at xl, 0.768 at xxl).
    had_affinity = None
    if pin and hasattr(os, "sched_setaffinity"):
        had_affinity = os.sched_getaffinity(0)
        os.sched_setaffinity(0, set(range(min(cores, os.cpu_count()))))
    extra = {}
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
        extra["spark.local.dir"] = local_dir
    try:
        spark = get_spark(f"bench_pipeline_{cores}", cores=cores,
                          shuffle_partitions=shuffle_partitions,
                          extra_conf=extra)
        try:
            if transcripts_path:
                tr = spark.read.parquet(transcripts_path)
            else:
                tr = load_transcripts(spark, SF_DIR)
            t0 = time.time()
            dedup_pipeline(spark, tr, CFG).count()
            return round(time.time() - t0, 3)
        finally:
            spark.stop()
    finally:
        if had_affinity is not None:
            os.sched_setaffinity(0, had_affinity)


def main():
    tier = synth.tier_for_sf_dir(SF_DIR)
    synth.generate_tier(tier)
    sf = os.path.basename(os.path.normpath(SF_DIR)).replace("sf", "")

    # per-query walls are medians over LSH_BENCH_QUERY_REPS fresh-session
    # reps (default 3): single-shot lines on this VM swing up to 2x on
    # host CPU-steal (r4: minhash_signatures 9.6 s driver vs 3.0 s
    # builder, same binary), which masquerades as a regression. The
    # median is the robust per-query estimator; raw reps are recorded.
    # The headline pipeline wall stays min-of-reps (least-stolen).
    query_reps = int(os.environ.get("LSH_BENCH_QUERY_REPS", "3"))
    queries_raw: list[dict] = []
    for _ in range(query_reps):
        spark = get_spark("bench_queries", cores=CORES)
        try:
            rep_timings, n_turns, extras = run_queries(spark)
        finally:
            spark.stop()
        queries_raw.append(rep_timings)
    import statistics
    timings = {k: round(statistics.median(r[k] for r in queries_raw), 3)
               for k in queries_raw[0]}

    turn_timings = None
    if os.environ.get("LSH_BENCH_SKIP_TURN") != "1":
        spark = get_spark("bench_turn_queries", cores=CORES)
        try:
            turn_timings = run_turn_passes(spark)
        finally:
            spark.stop()

    incr = None
    if os.environ.get("LSH_BENCH_SKIP_INCR") != "1":
        spark = get_spark("bench_incremental", cores=CORES)
        try:
            incr = run_incremental(spark)
        finally:
            spark.stop()

    search = None
    if os.environ.get("LSH_BENCH_SKIP_SEARCH") != "1":
        spark = get_spark("bench_search", cores=CORES)
        try:
            search = run_search_probe(spark)
        finally:
            spark.stop()

    result = {
        "metric": "dedup_pipeline_wall_sec",
        "unit": "sec",
        "sf": float(sf),
        "turns": n_turns,
        "queries": timings,
        "query_reps": query_reps,
        "queries_raw": queries_raw,
        **extras,
    }
    if turn_timings is not None:
        result["queries_turn_granularity"] = turn_timings
    if incr is not None:
        result["incremental"] = incr
    if search is not None:
        result["search"] = search

    # host CPU-steal makes single runs vary ±2-3×; min over a couple of
    # reps is the standard least-stolen estimator (raw reps recorded)
    pipe_reps = int(os.environ.get("LSH_BENCH_PIPELINE_REPS", "2"))
    pipe_raw = [run_pipeline_once(CORES) for _ in range(pipe_reps)]
    pipe_4n = min(pipe_raw)
    result["value"] = pipe_4n
    result["pipeline_raw_sec"] = pipe_raw
    result["turns_per_sec"] = round(n_turns / pipe_4n, 1)

    if os.environ.get("LSH_BENCH_SKIP_SCALING") != "1":
        # N-vs-4N stand-in at 3 vs 12 cores. Why 3v12: a local[c] session
        # keeps ~2c threads busy (c JVM task threads + c Python/Arrow
        # workers), and the measured busy-thread curve of this VM
        # (BENCH/inflation_results.json, BENCH/BASELINE.md) is near-linear
        # only up to ~12-16 busy threads — it delivers ~19.5
        # core-equivalents at 32 threads. So 4v16 cores (= 8v32 busy
        # threads) measures the hypervisor's saturation knee, not the
        # engine; 3v12 (6v24 threads) stays below it. Host CPU-steal makes
        # single runs vary ±2-3×, so reps are INTERLEAVED and aggregated
        # by MIN — min-over-reps is the standard steal-noise estimator
        # (the fastest observation is the least-stolen one); interleaving
        # keeps both core counts exposed to the same noise regime. Full
        # methodology + pure-python control: BENCH/BASELINE.md,
        # BENCH/scaling_results.json.
        # xl tier (4.1M turns): round-2 engine speedups made the smaller
        # 'scale' tier overhead-dominated (4 and 16 cores within noise of
        # each other) — scaling is only meaningful where compute dominates
        # the fixed per-stage scheduling cost
        scale_tier = os.environ.get("LSH_BENCH_SCALING_TIER", "xl")
        scale_path = synth.generate_tier(scale_tier)
        reps = int(os.environ.get("LSH_BENCH_SCALING_REPS", "2"))
        # shuffle through tmpfs: a single shared virtio disk is the one
        # resource a local-mode N-vs-4N comparison cannot scale (on a real
        # cluster every executor adds its own disks); /dev/shm removes that
        # shared term so the comparison measures the ENGINE. Disk-vs-tmpfs
        # A/B + shuffle-byte accounting: BENCH/scaling_results.json.
        local_dir = os.environ.get("LSH_BENCH_LOCAL_DIR",
                                   "/dev/shm/lsh-bench-local")
        cores_n = int(os.environ.get("LSH_BENCH_SCALING_N", "3"))
        cores_4n = cores_n * 4
        raw: dict[int, list[float]] = {cores_n: [], cores_4n: []}
        for r in range(reps):
            order = (cores_4n, cores_n) if r % 2 == 0 else (cores_n, cores_4n)
            for cores in order:
                # fixed 48-partition shuffle width at both cluster sizes
                # (a production job pins this; letting it track cores would
                # hand N and 4N different physical plans)
                raw[cores].append(
                    run_pipeline_once(cores, scale_path, local_dir,
                                      shuffle_partitions=48))
        sc_n, sc_4n = min(raw[cores_n]), min(raw[cores_4n])
        speedup = round(sc_n / sc_4n, 3)
        import pyarrow.parquet as pq
        sc_turns = pq.read_metadata(scale_path).num_rows
        result["scaling"] = {
            "cores_n": cores_n, "cores_4n": cores_4n,
            "turns": sc_turns,
            "sec_n": sc_n, "sec_4n": sc_4n,
            "speedup": speedup,
            "efficiency": round(speedup / 4, 3),
            "turns_per_sec_4n": round(sc_turns / sc_4n, 1),
            "reps": reps, "raw_sec": raw,
            "local_dir": local_dir,
            "note": ("interleaved reps, min-aggregated; shuffle on tmpfs "
                     "(single-disk A/B in BENCH/scaling_ab_disk_tmpfs.json); "
                     "pair chosen below the VM's busy-thread saturation "
                     "knee — local[c] keeps ~2c threads busy and the host "
                     "delivers only ~14-20 core-equivalents at 32 threads "
                     "(BENCH/inflation_results.json, BENCH/BASELINE.md)"),
        }
    # the committed gate-evidence run (BENCH/scaling.py at the xxl
    # tier, 16.4M turns — big enough that the ~20 s fixed serial term
    # is <3% of the 4N wall). Re-running it here would add ~25 min to
    # every bench invocation, so attach the recorded result, clearly
    # labeled as such.
    gate_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "BENCH", "scaling_results.json")
    try:
        with open(gate_path) as f:
            gate = json.load(f)
        arm = gate["arms"].get("tmpfs") or next(iter(gate["arms"].values()))
        result["scaling_gate_recorded"] = {
            "source": "BENCH/scaling_results.json (committed run, "
                      "not re-measured in this invocation)",
            "tier": gate["tier"], "turns": gate["turns"],
            "reps": gate["reps"],
            "pairs": arm.get("pairs"),
            "efficiency": arm.get("efficiency"),
        }
    except (OSError, KeyError, StopIteration, ValueError):
        pass
    # same-work task-time accounting (BENCH/task_inflation_xl.json):
    # Σ task run time for IDENTICAL work at 3 vs 12 cores measures the
    # hypervisor's per-task inflation directly; raw efficiency divided
    # by it is the engine's own N->4N scaling — the number a real
    # multi-executor cluster sees (full chain: BENCH/BASELINE.md)
    infl_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "BENCH", "task_inflation_xl.json")
    try:
        with open(infl_path) as f:
            infl = json.load(f)["summary"]
        result["scaling_accounting_recorded"] = {
            "source": "BENCH/task_inflation_xl.json (committed run)",
            "task_inflation_12_vs_3": infl["task_inflation_12_vs_3"],
            "packing_eff": infl["packing_eff"],
            "raw_efficiency": infl["raw_efficiency"],
            "hardware_flat_efficiency": infl["hardware_flat_efficiency"],
        }
    except (OSError, KeyError, ValueError):
        pass
    # the committed MULTI-JVM evidence (BENCH/scaling_standalone.py):
    # the same cascade across real executor-process boundaries on a
    # standalone master, worker JVMs taskset-pinned to fixed vCPU
    # blocks — the closest in-sandbox analog of adding cluster nodes
    sa_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "BENCH", "scaling_standalone.json")
    try:
        with open(sa_path) as f:
            sa = json.load(f)
        result["scaling_standalone_recorded"] = {
            "source": "BENCH/scaling_standalone.json (committed "
                      "multi-JVM run, not re-measured in this invocation)",
            "tier": sa["tier"], "turns": sa["turns"], "reps": sa["reps"],
            "pinning": sa.get("pinning"),
            "pairs": sa.get("pairs"),
            "efficiency": sa.get("efficiency"),
        }
    except (OSError, KeyError, ValueError):
        pass
    # the committed xxl-tier pinned gate run (serial term <6% of the N
    # wall — the closest measurable point to the 10^12-turn design
    # regime): BENCH/scaling_standalone_xxl.json
    xxl_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "BENCH", "scaling_standalone_xxl.json")
    try:
        with open(xxl_path) as f:
            xxl = json.load(f)
        result["scaling_standalone_xxl_recorded"] = {
            "source": "BENCH/scaling_standalone_xxl.json (committed "
                      "pinned multi-JVM gate run at 16.4M turns)",
            "turns": xxl["turns"], "reps": xxl["reps"],
            "pairs": xxl.get("pairs"),
            "efficiency": xxl.get("efficiency"),
            "turns_per_sec_4n": xxl.get("turns_per_sec_4n"),
        }
    except (OSError, KeyError, ValueError):
        pass
    print(json.dumps(result))


if __name__ == "__main__":
    main()
