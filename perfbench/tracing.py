"""Spans around the engine's public functions, recorded from outside the
program, plus the Spark event-log reader that attributes task metrics to
those spans.

``Tracer.install`` replaces each public function of the layer modules
(and the public methods of ``StrategyRouter``) with a wrapper that
records a span ``(id, parent, op, name, start, end)`` and sets a Spark
job group naming the span for the duration of the call, so every job the
call submits is tagged with it in the event log. A function imported by
name into another module is replaced there too, so calls between layers
are seen. Spans stay in memory and are written out once, at the end.

Many engine calls only build a lazy plan; the jobs then run inside the
benchmark's own ``collect``, recorded as an ``exec`` span. Such fused
execution is reported as one figure, not split between the layers whose
plans it fused.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import os
import statistics
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

PKG = "acorn_hybrid_vector_search_spark"

# layer name -> module whose public functions are wrapped
LAYERS = {
    "session": f"{PKG}.session",
    "predicates": f"{PKG}.functions.predicates",
    "router": f"{PKG}.plans.router",
    "graph_ann": f"{PKG}.operators.graph_ann",
    "hybrid": f"{PKG}.operators.hybrid",
    "cache": f"{PKG}.operators._cache",
    "dedup": f"{PKG}.operators.dedup",
}
ROUTER_CLASS = "StrategyRouter"

# span names grouped into the per-layer metrics (see README.md)
WALK = ("graph_ann.nsw_read_topk",)
DENSE = ("graph_ann.nsw_dense_topk", "graph_ann.nsw_dense_topk_int8")
PREFILTER_BATCH = ("hybrid.prefilter_search_batch",)
SIDECAR = (
    "graph_ann.pruned_match_attrs", "graph_ann.pruned_range_attrs",
    "graph_ann.store_has_tombstones", "graph_ann.estimate_kept_fraction",
    "graph_ann.pruned_full_beam", "graph_ann.nsw_int8_fresh",
)
KERNEL_LAYERS = ("graph_ann", "hybrid")

JOB_GROUP = "spark.jobGroup.id"


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op: int | None = None
        self._n_ops = 0
        # time spent in the tracer's own bookkeeping, per op id
        self.overhead_s: dict[int | None, float] = defaultdict(float)
        self.route_strategies: list[tuple[int | None, str]] = []

    # -- recording ---------------------------------------------------------

    def _sc(self):
        from pyspark import SparkContext

        return SparkContext._active_spark_context

    def _set_group(self, span_id: int | None) -> None:
        sc = self._sc()
        if sc is not None:
            sc.setLocalProperty(JOB_GROUP, None if span_id is None else f"span-{span_id}")

    def _open(self, name: str, **extra) -> dict:
        t = time.perf_counter()
        span = {
            "id": len(self.spans), "parent": self._stack[-1] if self._stack else None,
            "op": self._op, "name": name, "start": None, "end": None, **extra,
        }
        self.spans.append(span)
        self._stack.append(span["id"])
        self._set_group(span["id"])
        self.overhead_s[self._op] += time.perf_counter() - t
        span["start"] = time.time()
        return span

    def _close(self, span: dict) -> None:
        span["end"] = time.time()
        t = time.perf_counter()
        self._stack.pop()
        self._set_group(self._stack[-1] if self._stack else None)
        self.overhead_s[span["op"]] += time.perf_counter() - t

    @contextmanager
    def span(self, name: str, **extra):
        s = self._open(name, **extra)
        try:
            yield s
        finally:
            self._close(s)

    @contextmanager
    def op(self, kind: str, measured: bool = True):
        """One benchmark operation: a top-level span with its own op id.
        ``measured`` marks the operations of the timed window."""
        self._op = self._n_ops
        self._n_ops += 1
        try:
            with self.span(f"op.{kind}", kind=kind, measured=measured) as s:
                yield s
        finally:
            self._op = None

    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            s = tracer._open(name)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer._close(s)
            if name == "router.route_ann":
                tracer.route_strategies.append((tracer._op, out.strategy))
            return out

        return traced

    def install(self) -> None:
        """Wrap every layer's public functions, wherever they are bound."""
        swaps: dict[int, object] = {}
        for layer, modname in LAYERS.items():
            mod = importlib.import_module(modname)
            for attr, obj in list(vars(mod).items()):
                if (
                    not attr.startswith("_") and inspect.isfunction(obj)
                    and obj.__module__ == modname
                ):
                    swaps[id(obj)] = self._wrap(f"{layer}.{attr}", obj)
            if layer == "router":
                cls = getattr(mod, ROUTER_CLASS)
                for attr, obj in list(vars(cls).items()):
                    if not attr.startswith("_") and inspect.isfunction(obj):
                        setattr(cls, attr, self._wrap(f"router.{attr}", obj))
        for modname in [m for m in sys.modules if m == PKG or m.startswith(PKG + ".")]:
            mod = sys.modules[modname]
            for attr, obj in list(vars(mod).items()):
                if inspect.isfunction(obj) and id(obj) in swaps:
                    setattr(mod, attr, swaps[id(obj)])

    # -- analysis ----------------------------------------------------------

    def self_times(self) -> dict[int, float]:
        """span id -> duration minus the part its children cover."""
        kids: dict[int, list[dict]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append(s)
        out = {}
        for s in self.spans:
            covered = sum(c["end"] - c["start"] for c in kids[s["id"]])
            out[s["id"]] = max(0.0, (s["end"] - s["start"]) - covered)
        return out

    def dump(self, path: str, spark_by_span: dict | None = None) -> None:
        selft = self.self_times()
        rows = []
        for s in self.spans:
            r = dict(s, self_s=selft[s["id"]])
            if spark_by_span and s["id"] in spark_by_span:
                r["spark"] = spark_by_span[s["id"]]
            rows.append(r)
        with open(path, "w") as f:
            json.dump(rows, f)


# -- Spark event log ---------------------------------------------------------


def read_event_log(log_dir: str) -> dict:
    """Per-span Spark metrics from an uncompressed event log:
    span id -> {jobs, first_job_submit, tasks, executor_run_s,
    executor_cpu_s, gc_s, scheduler_wait_s, input_rows, shuffle_bytes,
    critical_run_s}. ``critical_run_s`` sums, over the span's stages, the
    longest task's run time: the stretch of the span's wall time in which
    executors ran its code."""
    # Spark 4 writes a directory per application of rolled "events_<n>_*"
    # files; read them in roll order
    files = []
    for dp, _, fs in os.walk(log_dir):
        rolled = [f for f in fs if f.startswith("events_")]
        rolled.sort(key=lambda f: int(f.split("_")[1]))
        files += [os.path.join(dp, f) for f in rolled]
    stage_span: dict[int, int] = {}
    stage_max: dict[int, float] = defaultdict(float)
    out: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(JOB_GROUP)
                    if not group or not group.startswith("span-"):
                        continue
                    sid = int(group[5:])
                    rec = out[sid]
                    rec["jobs"] += 1
                    t = ev["Submission Time"] / 1000.0
                    first = rec.get("first_job_submit")
                    rec["first_job_submit"] = t if first is None else min(first, t)
                    for st in ev.get("Stage IDs", []):
                        stage_span[st] = sid
                elif kind == "SparkListenerTaskEnd":
                    sid = stage_span.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if sid is None or not m:
                        continue
                    info = ev["Task Info"]
                    rec = out[sid]
                    run_ms = m.get("Executor Run Time", 0)
                    busy_ms = (
                        run_ms + m.get("Executor Deserialize Time", 0)
                        + m.get("Result Serialization Time", 0)
                        + info.get("Getting Result Time", 0)
                    )
                    rec["tasks"] += 1
                    rec["executor_run_s"] += run_ms / 1000.0
                    stage_max[ev["Stage ID"]] = max(stage_max[ev["Stage ID"]], run_ms / 1000.0)
                    rec["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    rec["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    rec["scheduler_wait_s"] += max(
                        0, info["Finish Time"] - info["Launch Time"] - busy_ms
                    ) / 1000.0
                    rec["input_rows"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
                    rec["shuffle_bytes"] += (
                        (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    )
    for st, longest in stage_max.items():
        out[stage_span[st]]["critical_run_s"] += longest
    return {k: dict(v) for k, v in out.items()}


# -- per-layer metrics ---------------------------------------------------------


def _outermost(spans, by_id, names) -> list[dict]:
    """Spans named in ``names`` with no ancestor also named in it, so a
    call nested in a sibling of its own group is not counted twice."""
    out = []
    for s in spans:
        if s["name"] not in names:
            continue
        p = s["parent"]
        while p is not None and by_id[p]["name"] not in names:
            p = by_id[p]["parent"]
        if p is None:
            out.append(s)
    return out


def _dur(spans) -> float:
    return sum(s["end"] - s["start"] for s in spans)


def layer_metrics(tracer: Tracer, events: dict, wl, facts: dict) -> dict:
    """The per-layer metrics of a traced run (README.md lists each one
    with the end-to-end metric it should move). Set-up layers are run
    totals; everything else is a mean per measured operation."""
    spans = tracer.spans
    by_id = {s["id"]: s for s in spans}
    ops = [s for s in spans if s["name"].startswith("op.") and s.get("measured")]
    op_ids = {s["op"] for s in ops}
    inside = [s for s in spans if s["op"] in op_ids]
    n = max(1, len(ops))
    wall = _dur(ops)

    def total(names, pool=spans) -> float:
        return _dur(_outermost(pool, by_id, set(names)))

    def per_op(names) -> float:
        return total(names, inside) / n

    def calls(names) -> float:
        return sum(1 for s in inside if s["name"] in names) / n

    def spark(key) -> float:
        return sum(events.get(s["id"], {}).get(key, 0.0) for s in inside)

    plan = 0.0
    for o in ops:
        subs = [events[s["id"]]["first_job_submit"] for s in inside
                if s["op"] == o["op"] and s["id"] in events]
        plan += (min(subs) if subs else o["end"]) - o["start"]
    kernel = 0.0
    for o in ops:
        mine = [s for s in inside if s["op"] == o["op"]]
        k = [s for s in mine if s["name"].split(".")[0] in KERNEL_LAYERS]
        if k:  # the op's collect runs the plans its kernels built
            k += [s for s in mine if s["name"] == "exec"]
        kernel += sum(events.get(s["id"], {}).get("critical_run_s", 0.0) for s in k)
    selft = tracer.self_times()
    arms = defaultdict(int)
    for op, strategy in tracer.route_strategies:
        if op in op_ids:
            arms[strategy] += 1
    lat = wl.lat
    results = wl.items * getattr(wl, "k", 0)
    out = {
        "session.start_s": total(["session.get_spark"]),
        "router.collect_stats_s": total(["router.collect_stats"]),
        "graph_ann.build_s": total(["graph_ann.nsw_write_clustered"]),
        "graph_ann.stats_write_s": total(["graph_ann.nsw_stats_write"]),
        "graph_ann.walk_s": per_op(WALK),
        "graph_ann.walk_calls": calls(WALK),
        "graph_ann.dense_s": per_op(DENSE),
        "graph_ann.dense_calls": calls(DENSE),
        "hybrid.prefilter_batch_s": per_op(PREFILTER_BATCH),
        "hybrid.prefilter_batch_calls": calls(PREFILTER_BATCH),
        "router.route_s": per_op(["router.route_ann", "router.route_ann_batch",
                                  "router.plan_ann_batch"]),
        "graph_ann.sidecar_s": per_op(SIDECAR),
        "graph_ann.sidecar_calls": calls(SIDECAR),
        "predicates.build_s": per_op(["predicates.build_predicate"]),
        "driver.plan_s": plan / n,
        "spark.jobs_per_op": spark("jobs") / n,
        **{f"router.arm.{a}": 0 for a in ARM_NAMES},
        **{f"router.arm.{a}": c / n for a, c in arms.items()},
        "cache.invalidations": calls(["cache.invalidate"]),
        "cache.materialize_calls": calls(["cache.materialize"]),
        **facts,
        "churn.append_p50_s": _p50(lat.get("append")),
        "churn.delete_p50_s": _p50(lat.get("delete")),
        "churn.upsert_p50_s": _p50(lat.get("upsert")),
        "churn.read_after_write_p50_s": _p50(lat.get("read_after_write")),
        "churn.compact_s": wl.detail.get("compact_s", 0.0),
        "dedup.exact_s": per_op(["dedup.exact_dedup"]),
        "dedup.minhash_s": per_op(["dedup.minhash_near_dups"]),
        "dedup.components_s": per_op(["dedup.near_dup_components"]),
        "dedup.collapse_s": per_op(["dedup.collapse_near_dups"]),
        "dedup.pairs_out": _p50(wl.detail.get("pairs_out")),
        "spark.shuffle_bytes": spark("shuffle_bytes") / n,
        "spark.executor_run_s": spark("executor_run_s") / n,
        "spark.executor_cpu_s": spark("executor_cpu_s") / n,
        "spark.gc_s": spark("gc_s") / n,
        "spark.scheduler_wait_s": spark("scheduler_wait_s") / n,
        "spark.tasks": spark("tasks") / n,
        "spark.input_rows": spark("input_rows") / n,
        "scan.rows_per_result": spark("input_rows") / results if results else 0.0,
        "trace.overhead_frac": sum(tracer.overhead_s[o] for o in op_ids) / wall if wall else 0.0,
        "trace.untraced_s": sum(selft[o["id"]] for o in ops) / n,
        "trace.kernel_share": kernel / wall if wall else 0.0,
        "trace.exec_s": per_op(["exec"]),
        "error_rate": wl.failed / wl.attempted if wl.attempted else 0.0,
    }
    return out


ARM_NAMES = (
    "prefilter", "exact", "nsw_pruned", "nsw_pruned_match", "nsw_pruned_range",
    "nsw_pruned_conj", "nsw", "nsw_gamma", "ivf", "ivf_exact",
)


def _p50(xs) -> float:
    return statistics.median(xs) if xs else 0.0
