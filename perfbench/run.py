"""Benchmark of the lsh_spark dedup engine: batch cascades, delta ingest
and probes, with correctness checked in every run.

    python3 perfbench/run.py --workload conv|turn|steady [--seed N]
                             [--seconds S] [--trace 0|1]
    python3 perfbench/run.py --workload all [--seed N] [--seconds S]

Workloads (one process and one closed-loop client each, on local[nproc]):

  conv    the full ``dedup_pipeline`` at conversation granularity with no
          store, bench.py's configuration (the ``cli cluster`` default
          path): the fused Arrow kernel and verify do the work; the
          hot-bucket cap rarely fires, so it is the control for skew work.
  turn    the same transcripts at turn granularity through a
          ``CheckpointStore`` as ``cli cluster`` runs it: the shared
          boilerplate turn fills one bucket per band, so census,
          membership, the star path, CC and per-stage store writes work.
  steady  setup builds a bucketed index (``cli index --bucketed-index``)
          over 90% of the conversations; then a fixed sequence of ~1%
          deltas goes through ``incremental_dedup`` (probe + bucketed
          append), each followed by a fixed probe set of indexed docs
          (half of them with a planted duplicate) through ``search_probe``.

Inputs come from ``perfbench/gen.py`` at ``--seed`` (2000 base
conversations, synth's sf0.01 shape: one cascade is ~10 s on 4 vCPUs, so a
run fits the time a whole benchmark session allows) and are cached with
every other file a run writes under ``.perfbench/`` in the checkout.
Set-up — session start, the median of several input loads, the warm-up
operation and, for steady, the index build — is reported as ``setup_s``,
apart from the measured loop.

End-to-end metrics (``--trace 0``): ``setup_s`` and ``op_s``, the median
wall of one loop unit (a cascade, or a delta ingest plus its probe set).
The stderr table adds each workload's own figures — pipeline_s,
turns_per_s, dup_recall, ingest_s, probe_s and its tail,
store_bytes_per_input_byte, peak_rss_mb (driver, JVM and Python workers
together), failed_frac — with median, quartiles and sample count.

With ``--trace 1`` the run instead times one untraced and one traced
operation and reports per-layer metrics (``perfbench/spans.py``; the spans
go to ``.perfbench/traces/``). The last stdout line is always one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import zlib

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
WORK = os.path.join(ROOT, ".perfbench")

import pyarrow as pa  # noqa: E402
import pyarrow.compute as pc  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

from lsh_spark import synth  # noqa: E402
from lsh_spark.config import DedupConfig  # noqa: E402

import gen  # noqa: E402

# bench.py's CFG: fast hashing, sampled substring grams, r=2 banding
CFG = DedupConfig(hash_mode="fast", substring_sample_mod=8, band_rows=2)
# base conversations of every workload's input: synth's sf0.01 (t2) shape
N_BASE = synth.TIERS["t2"]
# output rows at gen.DEFAULT_SEED and N_BASE
EXPECTED_ROWS = {"conv": 768, "turn": 4968}
DELTAS = 10           # steady: deltas of ~1% each, index = the other 90%
PROBES = 4            # steady: probes after every delta
SETUP_REPS = 3        # input loads per run; setup_s takes their median
# cascades / delta cycles per run, however long they take: three cascades
# give conv a median; one steady cycle is already five timed operations
MIN_OPS = {"conv": 3, "turn": 3, "steady": 1}


# -- inputs -----------------------------------------------------------------

def inputs(seed: int, n_base: int) -> dict:
    """Generated transcripts + labels, and the steady split (index and
    delta files by conv_id hash); cached per (seed, size)."""
    d = os.path.join(WORK, "inputs", f"n{n_base}-s{seed}")
    tpath = gen.generate(d, seed, n_base)
    split = os.path.join(d, "split")
    if not os.path.isdir(split):
        tbl = pq.read_table(tpath)
        bucket = pa.array([zlib.crc32(c.encode()) % 100 for c in
                           tbl["conv_id"].to_pylist()], pa.int64())
        tmp = split + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        pq.write_table(tbl.filter(pc.less(bucket, 100 - DELTAS)),
                       os.path.join(tmp, "index.parquet"))
        for k in range(DELTAS):
            pq.write_table(tbl.filter(pc.equal(bucket, 100 - DELTAS + k)),
                           os.path.join(tmp, f"delta_{k:02d}.parquet"))
        os.rename(tmp, split)
    return {"transcripts": tpath,
            "labels": os.path.join(d, "dup_labels.parquet"),
            "index": os.path.join(split, "index.parquet"),
            "deltas": [os.path.join(split, f"delta_{k:02d}.parquet")
                       for k in range(DELTAS)]}


def text_bytes(path: str) -> int:
    return sum(len(t.encode()) for t in pq.read_table(path, columns=["text"])
               ["text"].to_pylist())


def tree_bytes(*roots: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for r in roots for d, _, fs in os.walk(r) for f in fs)


# -- process-tree memory ----------------------------------------------------

class PeakRss:
    """Samples the summed RSS of this process and all its descendants (the
    JVM and the Python workers) until stopped; keeps the peak."""

    def __init__(self, interval: float = 0.25):
        self.peak = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, args=(interval,),
                                   daemon=True)
        self._t.start()

    @staticmethod
    def tree_rss() -> int:
        children: dict[int, list[int]] = {}
        for p in os.listdir("/proc"):
            if not p.isdigit():
                continue
            try:
                with open(f"/proc/{p}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(p))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, []))
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
            except (OSError, IndexError, ValueError):
                pass
        return total

    def _loop(self, interval):
        while not self._stop.wait(interval):
            self.peak = max(self.peak, self.tree_rss())

    def stop(self) -> float:
        self._stop.set()
        self._t.join()
        return self.peak / 2**20


# -- Spark session ----------------------------------------------------------

def start_spark(run_dir: str, event_dir: str | None):
    """A local[nproc] session whose scratch files stay inside ``run_dir``."""
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["LSH_SPARK_WAREHOUSE"] = os.path.join(run_dir, "warehouse")
    # a 2 GB heap holds these inputs many times over (session.py's 16 GB
    # default is sized for the bench and scaling tiers)
    os.environ.setdefault("LSH_SPARK_DRIVER_MEM", "2g")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # the Python workers import lsh_spark whatever their working directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    conf = {"spark.local.dir": os.path.join(run_dir, "local"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"}
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": f"file://{event_dir}",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    from lsh_spark.session import get_spark
    return get_spark("perfbench", extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    from pyspark import SparkContext
    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# -- results ----------------------------------------------------------------

class Run:
    """Samples, checks and operation counts of one benchmark run."""

    def __init__(self, workload: str, seed: int):
        self.workload, self.seed = workload, seed
        self.samples: dict[str, tuple[str, list[float]]] = {}
        self.attempted = 0
        self.failures: list[str] = []
        self.notes: dict = {}

    def add(self, name: str, unit: str, value: float) -> None:
        self.samples.setdefault(name, (unit, []))[1].append(value)

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.failures.append(what)
            print(f"CHECK FAILED: {what}", file=sys.stderr)

    def op(self, fn):
        """Time one operation of the closed loop; an exception counts as a
        failed operation."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as e:  # noqa: BLE001 - the loop keeps running
            self.check(False, f"{type(e).__name__}: {e}")
            return None, time.perf_counter() - t0
        return out, time.perf_counter() - t0

    def median(self, name: str) -> float:
        return statistics.median(self.samples[name][1])

    def table(self) -> list[dict]:
        rows = []
        for name, (unit, v) in self.samples.items():
            q = statistics.quantiles(v, n=4) if len(v) > 1 else [v[0]] * 3
            rows.append({"metric": name, "unit": unit, "median": statistics.median(v),
                         "q1": q[0], "q3": q[2], "n": len(v)})
        return rows


def tail(values: list[float]) -> dict:
    """The highest whole percentile with at least ten samples above it
    (none below 11 samples)."""
    v = sorted(values)
    if len(v) <= 10:
        return {"n": len(v), "percentile": None, "value_s": None}
    p = int(100 * (len(v) - 10) / len(v))
    return {"n": len(v), "percentile": p, "value_s": v[len(v) * p // 100]}


def remembered(key: str, value) -> bool:
    """True unless an earlier run in this checkout recorded a different
    value under ``key`` (the first run records it)."""
    path = os.path.join(WORK, "fingerprints.json")
    seen = {}
    if os.path.exists(path):
        with open(path) as f:
            seen = json.load(f)
    if key in seen:
        return seen[key] == value
    seen[key] = value
    with open(path + f".{os.getpid()}", "w") as f:
        json.dump(seen, f, indent=1)
    os.replace(path + f".{os.getpid()}", path)
    return True


def fingerprint(rows) -> str:
    h = hashlib.sha256()
    for line in sorted("\t".join(map(str, r)) for r in rows):
        h.update(line.encode() + b"\n")
    return h.hexdigest()


# -- workloads ----------------------------------------------------------------

class Ctx:
    """What a workload needs besides the session: its inputs, run dir,
    loop length and, in a traced run, where tracers are collected."""

    def __init__(self, args, run: Run, ins: dict, run_dir: str,
                 session_s: float):
        self.run, self.ins, self.run_dir = run, ins, run_dir
        self.session_s = session_s
        self.seconds, self.trace = args.seconds, bool(args.trace)
        self.traced: list[tuple] = []   # (label, tracer, root ids, turns, docs)

    def setup(self, spark, path: str, *steps: float) -> None:
        """Record setup_s: session start, the median of SETUP_REPS input
        loads, and the given set-up steps (warm-up, index build)."""
        loads = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            spark.read.parquet(path).count()
            loads.append(time.perf_counter() - t0)
        self.run.notes["setup_parts_s"] = {
            "session": self.session_s, "load_median": statistics.median(loads),
            "steps": list(steps)}
        self.run.add("setup_s", "s",
                     self.session_s + statistics.median(loads) + sum(steps))

    def loop(self, step) -> None:
        """Closed loop: call ``step(i)`` until --seconds have elapsed and
        at least the workload's MIN_OPS steps have run."""
        t0, i = time.perf_counter(), 0
        while (i < MIN_OPS[self.run.workload]
               or time.perf_counter() - t0 < self.seconds):
            if step(i) is False:
                break
            i += 1

    def traced_op(self, spark, label: str, fn, turns: int, docs: int,
                  roots=("pipeline.dedup_pipeline",), store_roots=()):
        """Run ``fn`` once with spans installed; keep the tracer. ``roots``
        name the spans whose wall is the operation's (for the driver gap)."""
        from spans import Tracer
        tr = Tracer(spark, label, store_roots)
        tr.install()
        t0 = time.perf_counter()
        try:
            out = fn()
        finally:
            tr.uninstall()
        wall = time.perf_counter() - t0
        ids = [s["id"] for s in tr.spans if s["name"] in roots]
        self.traced.append((label, tr, ids, turns, docs))
        own = tr.self_times()
        # the self times of all spans partition the spanned wall; what is
        # left is driver-side glue outside any layer call
        self.run.notes[f"accounting_s.{label}"] = {
            "traced_op": wall, "sum_self": sum(own.values()),
            "outside_spans": wall - sum(own.values())}
        return out, wall


def n_rows(path: str) -> int:
    return pq.read_metadata(path).num_rows


def n_convs(path: str) -> int:
    return pc.count_distinct(pq.read_table(path, columns=["conv_id"])
                             ["conv_id"]).as_py()


def dup_recall(rows, labels_path: str) -> tuple[int, int]:
    """(found, eligible) planted pairs: eligible pairs have true Jaccard >=
    threshold or are planted substring copies, found ones have both
    conversations in one cluster — the measure of ``cli verify``."""
    cluster = dict(rows)
    lab = pq.read_table(labels_path).to_pylist()
    eligible = [r for r in lab if r["jaccard_true"] >= CFG.jaccard_threshold
                or r["mutation"] == "substring"]
    found = sum(1 for r in eligible if cluster.get(r["conv_id_a"]) is not None
                and cluster.get(r["conv_id_a"]) == cluster.get(r["conv_id_b"]))
    return found, len(eligible)


def misses_allowed(n: int, rate: float = 0.01, p: float = 0.999) -> int:
    """The ``p`` quantile of Binomial(n, rate): more misses than this out of
    ``n`` pairs means recall is below ``1 - rate`` beyond sampling error."""
    cdf, k = 0.0, 0
    while k <= n:
        cdf += math.comb(n, k) * rate**k * (1 - rate)**(n - k)
        if cdf >= p:
            return k
        k += 1
    return n


def check_cascade(ctx: Ctx, rows, ins: dict, n_base: int) -> None:
    run = ctx.run
    fp = fingerprint(rows)
    key = f"{run.workload}/n{n_base}/s{run.seed}"
    run.check(remembered(key, fp), f"{key}: output differs from an earlier run")
    want = EXPECTED_ROWS.get(run.workload)
    if run.seed == gen.DEFAULT_SEED and n_base == N_BASE:
        run.check(len(rows) == want, f"{key}: {len(rows)} rows, expected {want}")
    if run.workload == "conv":
        # the sampled substring pass misses ~1% of planted pairs by design
        # (0.9924 recall at the bench shape); with a few hundred pairs a
        # plain 0.99 bar would fail on sampling noise alone, so the check
        # is that recall is not below 0.99 beyond that noise
        found, n = dup_recall(rows, ins["labels"])
        run.add("dup_recall", "ratio", found / n)
        run.check(n - found <= misses_allowed(n),
                  f"{key}: dup_recall {found}/{n} is below 0.99 beyond "
                  f"sampling error ({n - found} misses > {misses_allowed(n)})")


def batch_workload(spark, ctx: Ctx, granularity: str) -> None:
    """conv / turn: repeated full cascades over the same transcripts."""
    # module attributes, not imported names: a traced run patches them
    from lsh_spark.plans import pipeline
    from lsh_spark.plans.checkpoint import CheckpointStore
    run, ins, n_base = ctx.run, ctx.ins, N_BASE
    cfg = CFG.with_(granularity=granularity)
    stores = os.path.join(ctx.run_dir, "store")

    def cascade(path: str, k: int):
        store = None
        if granularity == "turn":     # `cli cluster` runs turn with a store
            root = os.path.join(stores, f"op{k}")
            shutil.rmtree(root, ignore_errors=True)
            store = CheckpointStore(root)
        return pipeline.dedup_pipeline(spark, spark.read.parquet(path), cfg,
                                       store=store).collect()

    def store_ratio(k: int) -> None:
        if granularity == "turn":
            root = os.path.join(stores, f"op{k}")
            run.add("store_bytes_per_input_byte", "ratio",
                    tree_bytes(root) / text_bytes(ins["transcripts"]))
            shutil.rmtree(root, ignore_errors=True)

    turns = n_rows(ins["transcripts"])
    t0 = time.perf_counter()
    rows = cascade(ins["transcripts"], 0)    # warm-up
    ctx.setup(spark, ins["transcripts"], time.perf_counter() - t0)
    check_cascade(ctx, rows, ins, n_base)
    store_ratio(0)

    if ctx.trace:
        # one untraced and one traced cascade: their difference is the
        # tracing overhead; conv also traces a 4x larger input for scaling
        rows, plain = run.op(lambda: cascade(ins["transcripts"], 1))
        check_cascade(ctx, rows, ins, n_base)
        store_ratio(1)
        rows, wall = ctx.traced_op(
            spark, "main", lambda: cascade(ins["transcripts"], 2), turns,
            n_convs(ins["transcripts"]), store_roots=[stores])
        run.attempted += 1
        check_cascade(ctx, rows, ins, n_base)
        run.notes["trace_overhead_s"] = wall - plain
        if granularity == "conv":
            large = ins["large"]["transcripts"]
            rows, _ = ctx.traced_op(spark, "x4", lambda: cascade(large, 3),
                                    n_rows(large), n_convs(large))
            check_cascade(ctx, rows, ins["large"], 4 * N_BASE)
            run.attempted += 1
        return

    def step(i):
        rows, dt = run.op(lambda: cascade(ins["transcripts"], i + 1))
        if rows is None:
            return
        run.add("op_s", "s", dt)
        run.add("pipeline_s", "s", dt)
        run.add("turns_per_s", "1/s", turns / dt)
        check_cascade(ctx, rows, ins, n_base)
        store_ratio(i + 1)
    ctx.loop(step)


def choose_probes(ins: dict) -> list[tuple[str, str | None]]:
    """A fixed probe set of indexed conversations: half have a planted
    near-duplicate (true Jaccard >= 0.8) that is indexed too, half have
    none. Probes of docs outside the index answer faster, so a random
    probe set would make the tail measure the sampler."""
    def order(c):
        return zlib.crc32(c.encode())
    indexed = set(pq.read_table(ins["index"], columns=["conv_id"])
                  ["conv_id"].to_pylist())
    lab = pq.read_table(ins["labels"]).to_pylist()
    in_pairs = {r["conv_id_a"] for r in lab} | {r["conv_id_b"] for r in lab}
    planted = sorted(((r["conv_id_a"], r["conv_id_b"]) for r in lab
                      if r["conv_id_a"] in indexed and r["conv_id_b"] in indexed
                      and r["mutation"] != "substring" and r["jaccard_true"] >= 0.8),
                     key=lambda p: order(p[0]))[:PROBES // 2]
    plain = sorted((c for c in indexed if c not in in_pairs), key=order)
    return planted + [(c, None) for c in plain[:PROBES - len(planted)]]


def steady_workload(spark, ctx: Ctx) -> None:
    """steady: bucketed index build in setup, then deltas and probes."""
    # module attributes, not imported names: a traced run patches them
    from lsh_spark import canonicalize
    from lsh_spark.operators import lsh_bands, minhash, search
    from lsh_spark.operators.shingle import doc_shingle_hashes_arrow
    from lsh_spark.plans import pipeline
    from lsh_spark.plans.checkpoint import CheckpointStore
    run, ins, n_base = ctx.run, ctx.ins, N_BASE
    root = os.path.join(ctx.run_dir, "store")
    store_roots = [root, os.environ["LSH_SPARK_WAREHOUSE"]]
    store = CheckpointStore(root)

    def docs(path):
        return canonicalize.conversation_docs(
            spark.read.parquet(path)).select("doc_id", "text")

    # the index, as `cli index --bucketed-index` builds it
    t0 = time.perf_counter()
    hashes = store.write_bucketed(doc_shingle_hashes_arrow(docs(ins["index"]), CFG),
                                  "shingle_hashes", ("doc_id",), 16)
    store.write_bucketed(lsh_bands.band_buckets(
        minhash.minhash_signatures(hashes, CFG), CFG),
        "band_buckets", ("band_hash",), 16)
    store.record_geometry(CFG)
    build_s = time.perf_counter() - t0

    probes = choose_probes(ins)

    def ingest(k: int):
        return pipeline.incremental_dedup(
            spark, docs(ins["deltas"][k]), store, CFG,
            bands_stage="band_buckets", hashes_stage="shingle_hashes").collect()

    def probe_round(k: int, probes) -> float:
        bands = store.read_bucketed(spark, "band_buckets")
        hashes = store.read_bucketed(spark, "shingle_hashes")
        results, total = [], 0.0
        for pid, partner in probes:
            res, dt = run.op(lambda: search.search_probe(bands, hashes, pid, CFG).collect())
            total += dt
            if res is None:
                continue
            run.add("probe_s", "s", dt)
            found = {r["neighbor_id"] for r in res}
            run.check(partner is None or partner in found,
                      f"probe {pid}: planted duplicate {partner} not returned")
            results.extend((pid, *r) for r in res)
        key = f"steady/n{n_base}/s{run.seed}/probes{k}"
        run.check(remembered(key, fingerprint(results)),
                  f"{key}: probe results differ from an earlier run")
        return total

    def cycle(k: int, probes=probes):
        flags, dt = run.op(lambda: ingest(k))
        if flags is None:
            return None
        run.add("ingest_s", "s", dt)
        key = f"steady/n{n_base}/s{run.seed}/delta{k}"
        run.check(remembered(key, [len(flags), fingerprint(flags)]),
                  f"{key}: {len(flags)} dup flags, differs from an earlier run")
        run.notes.setdefault("flags_per_delta", []).append(len(flags))
        return dt + probe_round(k, probes)

    # warm-up: the first delta and one probe
    t0 = time.perf_counter()
    cycle(0, probes[:1])
    ctx.setup(spark, ins["index"], time.perf_counter() - t0, build_s)
    run.samples.pop("probe_s", None)
    run.samples.pop("ingest_s", None)

    if ctx.trace:
        # delta 1 untraced, delta 2 traced: the overhead is their difference
        plain = cycle(1)
        _, wall = ctx.traced_op(
            spark, "main", lambda: cycle(2), n_rows(ins["deltas"][2]),
            n_convs(ins["deltas"][2]), store_roots=store_roots,
            roots=("pipeline.incremental_dedup", "search.search_probe"))
        run.notes["trace_overhead_s"] = wall - plain
        return

    def step(i):
        if i + 1 >= DELTAS:
            return False
        dt = cycle(i + 1)
        if dt is not None:
            run.add("op_s", "s", dt)
            run.add("turns_per_s", "1/s", n_rows(ins["deltas"][i + 1]) / dt)
    ctx.loop(step)
    ingested = [ins["index"]] + ins["deltas"][:len(run.notes["flags_per_delta"])]
    run.add("store_bytes_per_input_byte", "ratio",
            tree_bytes(*store_roots) / sum(text_bytes(p) for p in ingested))
    run.notes["probe_tail_s"] = tail(run.samples["probe_s"][1])


# -- entry point --------------------------------------------------------------

# end-to-end metrics (name -> unit) every workload reports with --trace 0:
# op_s is one unit of the closed loop — a full cascade (conv, turn), or a
# delta ingest plus the probe set after it (steady). peak_rss_mb stays in
# the table only: the JVM heap grows with GC timing, so it spreads ~20%
# between runs of one program
E2E = {"setup_s": "s", "op_s": "s"}


def layer_report(ctx: Ctx, event_dir: str) -> dict:
    """Per-layer metrics of the main traced operation; writes every traced
    span to .perfbench/traces/."""
    from spans import layer_metrics
    run, per = ctx.run, {}
    for label, tr, roots, turns, docs in ctx.traced:
        m = layer_metrics(tr, event_dir, roots)
        per[label] = {"turns": turns, "docs": docs, "metrics": m}
    main = dict(per["main"]["metrics"])
    main["trace.overhead_s"] = run.notes["trace_overhead_s"]
    if "x4" in per:
        # scaling as counts: shuffle bytes per input turn at two sizes, and
        # the candidate-growth exponent (BENCH/pair_growth.py's measure)
        small, large = per["main"], per["x4"]
        for lab, p in (("sf0.01", small), ("x4", large)):
            main[f"scaling.shuffle_bytes_per_turn.{lab}"] = sum(
                v for k, v in p["metrics"].items()
                if k.endswith(".shuffle_bytes")) / p["turns"]
        c0, c1 = (small["metrics"]["lsh_bands.candidates"],
                  large["metrics"]["lsh_bands.candidates"])
        main["scaling.candidate_growth_exp"] = (
            math.log(c1 / c0) / math.log(large["docs"] / small["docs"])
            if c0 and c1 else 0.0)
    own = {}
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    out = os.path.join(WORK, "traces", f"{run.workload}-s{run.seed}.json")
    for label, tr, *_ in ctx.traced:
        own[label] = tr.self_times()
    with open(out, "w") as f:
        json.dump({"workload": run.workload, "seed": run.seed,
                   "sizes": {k: {"turns": v["turns"], "docs": v["docs"]}
                             for k, v in per.items()},
                   "per_size_metrics": {k: v["metrics"] for k, v in per.items()},
                   "spans": {label: [{**s, "self_s": own[label][s["id"]]}
                                     for s in tr.spans]
                             for label, tr, *_ in ctx.traced}},
                  f, indent=1)
    print(f"spans written to {out}", file=sys.stderr)
    return main


def run_one(args) -> dict:
    run = Run(args.workload, args.seed)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    event_dir = os.path.join(run_dir, "events") if args.trace else None
    ins = inputs(args.seed, N_BASE)
    if args.trace and args.workload == "conv":
        # the traced conv run also traces a 4x larger input: scaling counts
        ins["large"] = inputs(args.seed, 4 * N_BASE)
    rss = PeakRss()
    try:
        t0 = time.perf_counter()
        spark = start_spark(run_dir, event_dir)
        ctx = Ctx(args, run, ins, run_dir, time.perf_counter() - t0)
        try:
            if args.workload == "steady":
                steady_workload(spark, ctx)
            else:
                batch_workload(spark, ctx, args.workload)
        finally:
            stop_spark(spark)
            run.add("peak_rss_mb", "MB", rss.stop())
        if args.trace:
            from spans import PER_LAYER
            values = layer_report(ctx, event_dir)
            metrics = {k: {"value": values.get(k, 0.0), "unit": u}
                       for k, u in PER_LAYER.items()}
        else:
            metrics = {k: {"value": run.median(k), "unit": u}
                       for k, u in E2E.items()}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted = max(run.attempted, 1)
    run.add("failed_frac", "ratio", len(run.failures) / attempted)
    for row in run.table():
        print(f"{row['metric']:>28} {row['unit']:>6}  median {row['median']:.4g}"
              f"  q1 {row['q1']:.4g}  q3 {row['q3']:.4g}  n {row['n']}",
              file=sys.stderr)
    for k, v in run.notes.items():
        print(f"{k:>28}  {v}", file=sys.stderr)
    return {"correct": not run.failures, "attempted": attempted,
            "failed": len(run.failures), "metrics": metrics}


def run_all(args) -> int:
    """Every workload, each in its own process, one after the other."""
    status = 0
    for w in ("conv", "turn", "steady"):
        print(f"== {w}", file=sys.stderr, flush=True)
        p = subprocess.run([sys.executable, os.path.abspath(__file__),
                            "--workload", w, "--seed", str(args.seed),
                            "--seconds", str(args.seconds), "--trace", str(args.trace)],
                           stdout=subprocess.PIPE, text=True, check=False)
        print(json.dumps({"workload": w, **json.loads(p.stdout.splitlines()[-1])})
              if p.returncode == 0 else f"{w}: exit {p.returncode}")
        status = status or p.returncode
    return status


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=["conv", "turn", "steady", "all"])
    p.add_argument("--seed", type=int, default=gen.DEFAULT_SEED)
    p.add_argument("--seconds", type=float, default=15)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args()
    if args.workload == "all":
        return run_all(args)
    print(json.dumps(run_one(args)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
