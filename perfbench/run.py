#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload serve_batch --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Generates the workload's inputs from
the seed, sets the engine up (fresh session, ingest, store or pipeline
build, one warm-up of each operation), then runs the closed loop for
``--seconds`` and checks every answer against the benchmark's oracle.
The last line of standard output is the result object; the line before
it carries the run's details (host state, sample counts, class mix,
failing cases). With ``--trace 1`` the engine's layers are wrapped (see
tracing.py), Spark's event log is enabled, the per-layer metrics are
printed, and the spans are written to ``.perfbench_out/``.

Scratch files live in ``.perfbench_work/`` and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import sys
import tempfile
import time
import traceback
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "acorn_hybrid_vector_search_spark"
RUN_LIMIT_S = 140  # a run must end within 180 s, stopping Spark included

sys.path.insert(0, HERE)

import tracing  # noqa: E402

# printed with --trace 0; BENCHMARK.json "end_to_end" lists the same names
END_TO_END = {
    "setup_s": "s",
    "recall": "ratio",
}
# printed with --trace 1; BENCHMARK.json "per_layer" lists the same names
PER_LAYER = {
    # measured like the end-to-end metrics, but on a shared host they
    # spread beyond any bound the gate allows (README.md, Steadiness)
    "items_per_s": "1/s",
    "peak_rss_mb": "MB",
    "session.start_s": "s",
    "router.collect_stats_s": "s",
    "graph_ann.build_s": "s",
    "graph_ann.stats_write_s": "s",
    "graph_ann.walk_s": "s",
    "graph_ann.walk_calls": "count",
    "graph_ann.dense_s": "s",
    "graph_ann.dense_calls": "count",
    "hybrid.prefilter_batch_s": "s",
    "hybrid.prefilter_batch_calls": "count",
    "router.route_s": "s",
    "graph_ann.sidecar_s": "s",
    "graph_ann.sidecar_calls": "count",
    "predicates.build_s": "s",
    "driver.plan_s": "s",
    "spark.jobs_per_op": "count",
    **{f"router.arm.{a}": "count" for a in tracing.ARM_NAMES},
    "cache.invalidations": "count",
    "cache.materialize_calls": "count",
    "store.shards": "count",
    "store.bytes_per_live_row": "B",
    "churn.append_p50_s": "s",
    "churn.delete_p50_s": "s",
    "churn.upsert_p50_s": "s",
    "churn.read_after_write_p50_s": "s",
    "churn.compact_s": "s",
    "dedup.exact_s": "s",
    "dedup.minhash_s": "s",
    "dedup.components_s": "s",
    "dedup.collapse_s": "s",
    "dedup.pairs_out": "count",
    "spark.shuffle_bytes": "B",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.scheduler_wait_s": "s",
    "spark.tasks": "count",
    "spark.input_rows": "count",
    "scan.rows_per_result": "ratio",
    "trace.overhead_frac": "ratio",
    "trace.untraced_s": "s",
    "trace.kernel_share": "ratio",
    "trace.exec_s": "s",
    "error_rate": "ratio",
}


class NullTracer:
    @contextmanager
    def op(self, kind, measured=True):
        yield None

    @contextmanager
    def span(self, name, **extra):
        yield None


class Ctx:
    def __init__(self, seed: int, work: str, tracer, traced: bool) -> None:
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.traced = traced


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(work: str, trace: bool) -> None:
    """Keep every file Spark and the engine write inside ``work``, and
    turn the event log on from outside the program for a traced run."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYTHONWARNINGS"] = "ignore"  # keep worker stderr readable
    # a bounded driver heap keeps peak RSS a property of the workload, not
    # of when the JVM happened to collect; the inputs need far less
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    conf = {
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events)
        # Spark 4.1 compresses event logs with zstd unless told not to
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
        })
    # -XX:-UsePerfData: HotSpot would otherwise write /tmp/hsperfdata_*,
    # from the driver JVM and from spark-submit's launcher JVM alike
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    args = ["--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"]
    for k, v in conf.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    tempfile.tempdir = tmp


def stop_spark() -> None:
    """Stop the session, then the JVM, and wait until it and its Python
    workers have exited."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    import host

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    kids = host.descendants(os.getpid())
    s = SparkSession.getActiveSession()
    if s is not None:
        s.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    host.wait_gone(kids, timeout_s=30)


def store_facts(wl) -> dict:
    store = getattr(wl, "store", None)
    if not store or not os.path.isdir(store):
        return {"store.shards": 0, "store.bytes_per_live_row": 0}
    shards = sum(1 for d in os.listdir(store) if d.startswith("part_id="))
    size = sum(
        os.path.getsize(os.path.join(dp, f)) for dp, _, fs in os.walk(store) for f in fs
    )
    return {"store.shards": shards, "store.bytes_per_live_row": size / wl.cat.n_live()}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"{PKG} not found under {ROOT}: nothing to benchmark", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


class RunTimeout(BaseException):
    """Raised by the alarm; a BaseException so no operation's failure
    handler swallows it."""


def _timeout(signum, frame):
    raise RunTimeout(f"run exceeded {RUN_LIMIT_S} s")


def run(args, work: str) -> int:
    configure_env(work, bool(args.trace))
    sys.path.insert(0, ROOT)
    import host
    import workloads

    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(RUN_LIMIT_S)
    load_before, cpu_before = host.loadavg(), host.cpu_times()
    tracer = tracing.Tracer() if args.trace else NullTracer()
    if args.trace:
        tracer.install()
    wl = workloads.WORKLOADS[args.workload](Ctx(args.seed, work, tracer, bool(args.trace)))
    wl.inputs()
    detail: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace}
    try:
        with host.RssSampler() as rss:
            t = time.perf_counter()
            wl.setup()
            setup_s = time.perf_counter() - t
            floor_before = host.dispatch_floor_ms(wl.spark)
            deadline = time.perf_counter() + args.seconds
            while time.perf_counter() < deadline:
                wl.step()
            facts = store_facts(wl)
            floor_after = host.dispatch_floor_ms(wl.spark)
            wl.finish()
            stop_spark()
    except BaseException:
        traceback.print_exc()
        stop_spark()
        return 1
    signal.alarm(0)
    detail.update({
        "host": {
            "nproc": len(os.sched_getaffinity(0)),
            "loadavg_before": load_before, "loadavg_after": host.loadavg(),
            "cpu_steal_frac": round(host.steal_fraction(cpu_before, host.cpu_times()), 4),
            "dispatch_floor_ms_before": round(floor_before, 2),
            "dispatch_floor_ms_after": round(floor_after, 2),
            **host.versions(),
        },
        "samples": {k: len(v) for k, v in wl.lat.items()},
        "op_s": {k: [round(x, 4) for x in v] for k, v in wl.lat.items()},
        "failures": wl.failures,
        **wl.detail,
    })
    values = {"setup_s": setup_s, "peak_rss_mb": rss.peak_bytes / 2**20, **wl.metrics()}
    if args.trace:
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        events = tracing.read_event_log(os.path.join(work, "events"))
        values.update(tracing.layer_metrics(tracer, events, wl, facts))
        spans_path = os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json")
        tracer.dump(spans_path, events)
        detail["spans"] = os.path.relpath(spans_path, ROOT)
        units = PER_LAYER
    else:
        units = END_TO_END
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
