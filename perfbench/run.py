"""Seeded benchmark of libgeodesk_spark: two workloads, end-to-end
metrics from an untraced run, per-layer metrics from a traced one.

Run from the repository root:

    python3 perfbench/run.py --workload feature_queries --seed 1 \
        --seconds 14 --trace 0
    python3 perfbench/run.py --self-check

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (end-to-end with ``--trace 0``,
per-layer with ``--trace 1``). The line before it records the run's
context. Everything the run writes lives under ``.bench_work/<pid>`` in
the current directory and is removed at exit; a traced run keeps its
spans in ``.bench_out/``. See ``perfbench/NOTES.md``.
"""

from __future__ import annotations

import os
import time

# process start on the perf_counter clock: set-up is timed from here
with open("/proc/self/stat") as _f:
    _started = int(_f.read().rsplit(")", 1)[1].split()[19]) / os.sysconf("SC_CLK_TCK")
with open("/proc/uptime") as _f:
    PROC_START = time.perf_counter() - (float(_f.read().split()[0]) - _started)

import argparse  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from contextlib import contextmanager  # noqa: E402

import workloads as W  # noqa: E402


def cpu_counters() -> dict:
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {"steal": v[7], "total": sum(v[:8]), "loadavg": load}


@contextmanager
def isolated(root: str):
    """A fresh working directory under ``root`` for everything the run,
    the JVM and the Python workers write, including a fresh kernel build
    directory so every run pays the same C-kernel build; removed on exit."""
    parent = os.path.join(root, ".bench_work")
    work = os.path.join(parent, str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local", "fastcodec"):
        os.makedirs(os.path.join(work, d))
    tmp = os.path.join(work, "tmp")
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(work, "local"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_FASTCODEC_DIR": os.path.join(work, "fastcodec"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    })
    tempfile.tempdir = None
    try:
        yield work
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(parent):
            os.rmdir(parent)


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it (it exits on stdin EOF)."""
    from pyspark import SparkContext
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def run_workload(name: str, seed: int, seconds: float, trace: bool,
                 work: str, sizes: dict | None = None,
                 checks: dict | None = None):
    """One workload in this process. Returns (result, context, run)."""
    import pyspark

    from procs import Tree
    from spans import EventLog

    tree = Tree()
    before = cpu_counters()
    run = W.Run(name, seed, seconds, trace, work, sizes or W.SIZES[name])
    run.cpu_s = tree.cpu_s
    try:
        out = W.WORKLOADS[name](run)
        java = run.spark.sparkContext._jvm.System.getProperty("java.version")
        if checks is not None:       # self-check: jobs per group, live
            st = run.spark.sparkContext.statusTracker()
            groups = run.tracer.groups(
                [s for s in run.tracer.spans if s["parent"] is None])
            checks["tracker_jobs"] = sum(
                len(st.getJobIdsForGroup(g)) for g in groups)
            checks["groups"] = groups
    finally:
        stop_spark(run.spark)
        tree.stop()
    after = cpu_counters()
    if trace:
        log = glob.glob(os.path.join(run.events_dir, "*"))
        if len(log) != 1:
            raise RuntimeError(f"expected one event log, found {log}")
        ev = EventLog(log[0])
        metrics = W.per_layer(run, ev)
        if checks is not None:
            checks["eventlog_jobs"] = len(ev.jobs_of(checks["groups"]))
    else:
        metrics = W.end_to_end(run, out, PROC_START, tree.peak_kb)
    failed = run.failed()
    result = {"correct": failed == 0, "attempted": len(run.ops),
              "failed": failed, "metrics": metrics}
    dt = max(after["total"] - before["total"], 1)
    context = {
        "workload": name, "seed": seed, "trace": trace,
        "spark_width": W.WIDTH, "nproc": os.cpu_count(),
        "loadavg_start": before["loadavg"], "loadavg_end": after["loadavg"],
        "cpu_steal_share": (after["steal"] - before["steal"]) / dt,
        "c_kernel": run.layer.get("media.c_kernel"),
        "pyspark": pyspark.__version__, "java": java,
        "timed_wall_s": run.timed_wall, "setup_parts_s": run.layer,
        # mean op wall; a traced run's trace.s_per_op over this one's, for
        # the same seed, is the tracing overhead
        "s_per_op": run.timed_wall / max(len(run.ops), 1),
        "ops": [[op["kind"], round(op["s"], 3), round(op["cpu"], 2)] for op in run.ops],
        "errors": sorted({op["err"] for op in run.ops if op["err"]})[:5],
        **{k: v for k, v in run.extra.items() if not isinstance(v, list)},
    }
    return result, context, run


def self_check(root: str) -> int:
    """Small traced run of every workload, checking the tracing:
    span self times fit in the wall, the event log holds the same jobs as
    Spark's status tracker for the benchmark's job groups, and every
    per-layer metric is reported and non-zero where its layer runs."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        declared = json.load(f)
    problems = []
    if [m["name"] for m in declared["per_layer"]] != list(W.PER_LAYER):
        problems.append("BENCHMARK.json per_layer differs from PER_LAYER")
    if [m["name"] for m in declared["end_to_end"]] != list(W.END_TO_END):
        problems.append("BENCHMARK.json end_to_end differs from END_TO_END")
    for name in W.WORKLOADS:
        checks: dict = {}
        t0 = time.perf_counter()
        with isolated(root) as work:
            result, ctx, run = run_workload(name, 1, 8.0, True, work,
                                            sizes=W.TINY, checks=checks)
        wall = time.perf_counter() - t0
        T = run.tracer
        self_sum = sum(T.self_time(s) for s in T.spans)
        if self_sum > wall:
            problems.append(f"{name}: span self times {self_sum:.3f}s > wall {wall:.3f}s")
        for s in T.spans:
            if T.self_time(s) < -1e-6:
                problems.append(f"{name}: span {s['name']} has negative self time")
        if checks["tracker_jobs"] != checks["eventlog_jobs"]:
            problems.append(f"{name}: status tracker {checks['tracker_jobs']} "
                            f"jobs vs event log {checks['eventlog_jobs']}")
        for metric, (_, where) in W.PER_LAYER.items():
            if metric not in result["metrics"]:
                problems.append(f"{name}: {metric} missing")
            elif name in where and not result["metrics"][metric]["value"] > 0:
                problems.append(f"{name}: {metric} is 0")
        if result["failed"]:
            problems.append(f"{name}: {result['failed']} failed ops: {ctx['errors']}")
        print(json.dumps({"self_check": name, "jobs": checks["eventlog_jobs"],
                          "ops": result["attempted"],
                          "layer_share": result["metrics"]["trace.layer_share"]["value"]}))
    for p in problems:
        print("SELF-CHECK FAILED:", p, file=sys.stderr)
    return 1 if problems else 0


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=list(W.WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=14.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-check", action="store_true")
    args = ap.parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "libgeodesk_spark", "__init__.py")):
        print("run from the repository root: libgeodesk_spark/ not found",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    if args.self_check:
        return self_check(root)
    if args.workload is None:
        ap.error("--workload is required")
    # a terminated run still stops Spark and removes its working directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with isolated(root) as work:
        result, context, run = run_workload(
            args.workload, args.seed, args.seconds, bool(args.trace), work)
    if args.trace:
        out = os.path.join(root, ".bench_out")
        os.makedirs(out, exist_ok=True)
        run.tracer.dump(os.path.join(
            out, f"spans-{args.workload}-{args.seed}.json"))
    print(json.dumps({"context": context}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main(sys.argv[1:]))
    except Exception:
        traceback.print_exc()
        sys.exit(1)
