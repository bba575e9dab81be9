"""Spans and per-layer counts for the traced benchmark run.

``Tracer.install`` wraps the public functions of each engine module (the
layers) from the outside: the program itself is not changed. Each wrapped
call records a span (name, parent, start, end, self time), runs under its
own Spark job group, and materializes its output with an eager
``localCheckpoint`` so the work of a lazy DataFrame lands inside the span
that built it. Some wrappers also compute counts (candidate rows, hot
buckets, store bytes...); that work runs in a child span of layer
``trace`` so it is never charged to the layer being counted.

After the session stops, ``layer_metrics`` reads the Spark event log
(stage records through ``BENCH/stage_analysis.parse_stages``) and
attributes jobs, executor task time and shuffle bytes to the spans by job
group.
"""

from __future__ import annotations

import contextlib
import importlib.util
import inspect
import json
import os
import sys
import time
from collections import defaultdict

from pyspark.sql import DataFrame, functions as F

from lsh_spark.plans.checkpoint import CheckpointStore

# the layers reported, in blocking-path order
LAYERS = ("canonicalize", "fused", "lsh_bands", "skew", "pairs", "simhash",
          "suffix", "connected_components", "checkpoint", "pipeline", "search")

# (module, function, layer) — public entry points whose calls get a span
TARGETS = (
    ("lsh_spark.canonicalize", "conversation_docs", "canonicalize"),
    ("lsh_spark.canonicalize", "turn_docs", "canonicalize"),
    ("lsh_spark.operators.fused", "fused_doc_features", "fused"),
    ("lsh_spark.operators.lsh_bands", "band_buckets", "lsh_bands"),
    ("lsh_spark.operators.lsh_bands", "candidate_pairs", "lsh_bands"),
    ("lsh_spark.operators.skew", "bucket_census", "skew"),
    ("lsh_spark.operators.skew", "capped_pair_rows", "skew"),
    ("lsh_spark.operators.pairs", "verify_pairs", "pairs"),
    ("lsh_spark.operators.simhash", "simhash_candidate_pairs", "simhash"),
    ("lsh_spark.operators.suffix", "shared_key_pairs", "suffix"),
    ("lsh_spark.operators.connected_components", "connected_components",
     "connected_components"),
    ("lsh_spark.plans.pipeline", "dedup_pipeline", "pipeline"),
    ("lsh_spark.plans.pipeline", "incremental_dedup", "pipeline"),
    ("lsh_spark.plans.pipeline", "incremental_dedup_flags", "pipeline"),
    ("lsh_spark.operators.search", "search_probe", "search"),
)
# store methods: eager writes, so their output is not materialized again
STORE_METHODS = ("write", "append", "write_bucketed", "append_bucketed")

# every per-layer metric a traced run reports (name -> unit); a layer a
# workload does not reach reports 0
PER_LAYER = {f"{layer}.{m}": u for layer in LAYERS for m, u in (
    ("self_s", "s"), ("jobs", "count"), ("task_s", "s"),
    ("shuffle_bytes", "bytes"))}
PER_LAYER.update({
    "fused.bytes": "bytes",
    "lsh_bands.candidates": "count",
    "skew.hot_buckets": "count",
    "skew.star_edges": "count",
    "skew.star_per_full": "ratio",
    "pairs.verified_per_candidate": "ratio",
    "connected_components.edges_in": "count",
    "checkpoint.bytes_written": "bytes",
    "checkpoint.files": "count",
    "checkpoint.append_s": "s",
    "pipeline.driver_gap_s": "s",
    "search.index_rows_read": "count",
    "trace.overhead_s": "s",
    "scaling.shuffle_bytes_per_turn.sf0.01": "bytes/turn",
    "scaling.shuffle_bytes_per_turn.x4": "bytes/turn",
    "scaling.candidate_growth_exp": "ratio",
})


def _stage_analysis():
    """BENCH/stage_analysis.py, the repo's event-log parser."""
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "BENCH", "stage_analysis.py")
    spec = importlib.util.spec_from_file_location("stage_analysis", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _tree_files(roots) -> dict[str, int]:
    out = {}
    for root in roots:
        for d, _, names in os.walk(root):
            for n in names:
                p = os.path.join(d, n)
                with contextlib.suppress(OSError):
                    out[p] = os.path.getsize(p)
    return out


class Tracer:
    """Records spans and counts around layer calls; one per traced
    operation. ``tag`` keeps its job-group names apart from other
    tracers' in the same event log."""

    def __init__(self, spark, tag: str, store_roots=()):
        self.tag = tag
        self.sc = spark.sparkContext
        self.store_roots = list(store_roots)
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[dict] = []
        self._undo: list[tuple] = []

    # -- spans -------------------------------------------------------------
    def _set_group(self, span):
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(span["group"], span["name"])

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = {"id": len(self.spans), "name": name, "layer": layer,
              "parent": parent["id"] if parent else None,
              "group": f"perfbench-{self.tag}-{len(self.spans)}",
              "start": time.time(), "end": None}
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def self_times(self) -> dict[int, float]:
        """span id -> duration minus the part covered by its children."""
        own = {s["id"]: s["end"] - s["start"] for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                own[s["parent"]] -= s["end"] - s["start"]
        return own

    # -- wrappers ----------------------------------------------------------
    def _wrap(self, fn, layer: str, name: str, materialize: bool):
        counter = getattr(self, f"_count_{fn.__name__}", None)
        sig = inspect.signature(fn)

        def wrapped(*args, **kwargs):
            with self.span(layer, name):
                files = None
                if layer == "checkpoint":
                    with self.span("trace", f"count.{name}"):
                        files = _tree_files(self.store_roots)
                held = self._held_bytes() if layer == "fused" else None
                out = fn(*args, **kwargs)
                if materialize and isinstance(out, DataFrame):
                    out = out.localCheckpoint()
                if files is not None:
                    with self.span("trace", f"count.{name}"):
                        self._count_store(files)
                if held is not None:
                    # bytes the materialized fused frame holds in the block
                    # manager (memory + disk)
                    self.counts["fused.bytes"] += self._held_bytes() - held
                if counter is not None:
                    with self.span("trace", f"count.{name}"):
                        counter(sig.bind(*args, **kwargs).arguments, out)
            return out
        return wrapped

    def install(self) -> None:
        """Patch every TARGETS function wherever ``lsh_spark`` imported it
        by name, and the store's write methods."""
        import importlib
        for mod_name, attr, layer in TARGETS:
            orig = getattr(importlib.import_module(mod_name), attr)
            w = self._wrap(orig, layer, f"{layer}.{attr}", materialize=True)
            for m in list(sys.modules.values()):
                if (getattr(m, "__name__", "").startswith("lsh_spark")
                        and getattr(m, attr, None) is orig):
                    self._undo.append((m, attr, orig))
                    setattr(m, attr, w)
        for meth in STORE_METHODS:
            orig = getattr(CheckpointStore, meth)
            self._undo.append((CheckpointStore, meth, orig))
            setattr(CheckpointStore, meth,
                    self._wrap(orig, "checkpoint", f"checkpoint.{meth}",
                               materialize=False))

    def uninstall(self) -> None:
        for obj, attr, orig in reversed(self._undo):
            setattr(obj, attr, orig)
        self._undo.clear()
        self._set_group(None)

    # -- counts (run inside a "trace" child span) ---------------------------
    def _held_bytes(self) -> int:
        return sum(i.memSize() + i.diskSize()
                   for i in self.sc._jsc.sc().getRDDStorageInfo())

    def _count_store(self, before: dict[str, int]) -> None:
        after = _tree_files(self.store_roots)
        new = {p: s for p, s in after.items() if before.get(p) != s}
        self.counts["checkpoint.bytes_written"] += sum(new.values())
        self.counts["checkpoint.files"] += len(new)

    def _count_candidate_pairs(self, a, out):
        self.counts["lsh_bands.candidates"] += out.count()

    def _count_capped_pair_rows(self, a, out):
        cap = a.get("cap") or a["cfg"].hot_bucket_cap
        k = F.col("bucket_size")
        r = (a["keyed"].groupBy(*a["key_cols"])
             .agg(F.count("*").alias("bucket_size"))
             .filter(k > cap)
             .agg(F.count("*").alias("hot"), F.sum(k - 1).alias("star"),
                  F.sum(k * (k - 1) / 2).alias("full"))).first()
        self.counts["skew.hot_buckets"] += r["hot"]
        self.counts["skew.star_edges"] += r["star"] or 0
        self.counts["_skew.full_pairs"] += r["full"] or 0

    def _count_verify_pairs(self, a, out):
        self.counts["_pairs.candidates"] += a["pairs"].count()
        self.counts["_pairs.verified"] += out.count()

    def _count_connected_components(self, a, out):
        self.counts["connected_components.edges_in"] += a["pairs"].count()


def layer_metrics(tracer: Tracer, event_dir: str, root_ids: list[int]) -> dict:
    """Per-layer metrics from the spans and the event log.

    ``root_ids``: the spans whose wall is the measured operation (their
    driver gap is reported as ``pipeline.driver_gap_s``)."""
    sa = _stage_analysis()
    stages = {r["stage"]: r for r in sa.parse_stages(event_dir)}
    stage_group, group_jobs, extra = _groups_and_accumulables(event_dir)
    span_of_group = {s["group"]: s for s in tracer.spans}
    own = tracer.self_times()

    out: dict[str, float] = defaultdict(float)
    for s in tracer.spans:
        out[f"{s['layer']}.self_s"] += own[s["id"]]
        out[f"{s['layer']}.jobs"] += group_jobs.get(s["group"], 0)
    for sid, rec in stages.items():
        s = span_of_group.get(stage_group.get(sid))
        if s is None:
            continue
        out[f"{s['layer']}.task_s"] += extra[sid]["run_ms"] / 1e3
        out[f"{s['layer']}.shuffle_bytes"] += extra[sid]["shuffle_bytes"]
        if s["layer"] == "search":
            out["search.index_rows_read"] += extra[sid]["input_records"]
    for name, v in tracer.counts.items():
        out[name] += v
    c = tracer.counts
    out["skew.star_per_full"] = (c["skew.star_edges"] / c["_skew.full_pairs"]
                                 if c["_skew.full_pairs"] else 0.0)
    out["pairs.verified_per_candidate"] = (
        c["_pairs.verified"] / c["_pairs.candidates"]
        if c["_pairs.candidates"] else 0.0)
    out["checkpoint.append_s"] = sum(
        own[s["id"]] for s in tracer.spans
        if s["name"] in ("checkpoint.append", "checkpoint.append_bucketed"))
    # wall of the measured operations during which no stage was running
    gap = 0.0
    for rid in root_ids:
        root = tracer.spans[rid]
        iv = sorted((max(r["submission"] / 1e3, root["start"]),
                     min(r["completion"] / 1e3, root["end"]))
                    for r in stages.values()
                    if r["submission"] and r["completion"]
                    and r["completion"] / 1e3 > root["start"]
                    and r["submission"] / 1e3 < root["end"])
        covered, cur_s, cur_e = 0.0, None, None
        for s0, e0 in iv:
            if cur_e is None or s0 > cur_e:
                covered += (cur_e - cur_s) if cur_e is not None else 0.0
                cur_s, cur_e = s0, e0
            else:
                cur_e = max(cur_e, e0)
        covered += (cur_e - cur_s) if cur_e is not None else 0.0
        gap += (root["end"] - root["start"]) - covered
    out["pipeline.driver_gap_s"] = gap
    return {k: v for k, v in out.items() if not k.startswith("_")}


def _groups_and_accumulables(event_dir: str):
    """What ``parse_stages`` does not keep: the job group each stage ran
    under, and its executor run time (to the millisecond; parse_stages
    rounds per stage), shuffle-write bytes and input records."""
    stage_group: dict[int, str] = {}
    group_jobs: dict[str, int] = defaultdict(int)
    extra: dict[int, dict] = defaultdict(
        lambda: {"run_ms": 0, "shuffle_bytes": 0, "input_records": 0})
    acc_names = {"internal.metrics.executorRunTime": "run_ms",
                 "internal.metrics.shuffle.write.bytesWritten": "shuffle_bytes",
                 "internal.metrics.input.recordsRead": "input_records"}
    for fp in sorted(os.listdir(event_dir)):
        with open(os.path.join(event_dir, fp), errors="replace") as f:
            for line in f:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g:
                        group_jobs[g] += 1
                        for sid in ev["Stage IDs"]:
                            stage_group.setdefault(sid, g)
                elif '"SparkListenerStageCompleted"' in line:
                    si = json.loads(line)["Stage Info"]
                    for acc in si.get("Accumulables", []):
                        key = acc_names.get(acc.get("Name"))
                        if key:
                            extra[si["Stage ID"]][key] += int(acc["Value"])
    return stage_group, group_jobs, extra
