#!/usr/bin/env python3
"""Session-level benchmark: what an analyst waits for, split by layer.

Run one workload from the root of the repository:

    python3 perfbench/run.py --workload lineitem-session --seed 1 --seconds 20 --trace 0

The run generates its inputs from ``--seed``, starts one Spark session in a
pinned envelope (``SPARK_GRAFT_CPUS`` = the usable cores, a fixed driver
heap, scratch directories under ``.bench_build/``), sends analyst sessions
in a closed loop with one client for ``--seconds`` seconds, checks every
response, and prints one JSON object as the last line of stdout:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. A human-readable table goes to stderr. See README.md.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import digest  # noqa: E402
from sessions import WORKLOADS, encode  # noqa: E402

DRIVER_MEMORY = "3g"  # local[N] runs executors inside this heap
# The heap is committed at full size and the young generation fixed, so
# the collector does not grow the heap or resize its generations from how
# long its pauses took: peak RSS then follows the live data, not the
# host's load.
JVM_HEAP_OPTIONS = f"-Xms{DRIVER_MEMORY} -Xmn1g -XX:-G1UseAdaptiveIHOP"
PREPARATIONS = 3  # input preparations per run; setup_s takes their median
RUN_CAP_S = 150  # no session starts once a run could pass this age
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "peak_rss_mb": "MB",
    "ingest_p50_s": "s",
    "search_cold_p50_s": "s",
    "search_warm_p50_s": "s",
    "refine_p50_s": "s",
}
PER_LAYER = {
    "profiler.busy_s": "s",
    "profiler.spark_jobs": "count",
    "profiler.executor_run_s": "s",
    "readers.busy_s": "s",
    "enumerate.busy_s": "s",
    "enumerate.candidates": "count",
    "executor.init_s": "s",
    "prefetch.wall_s": "s",
    "prefetch.spark_jobs": "count",
    "prefetch.spark_tasks": "count",
    "prefetch.executor_run_s": "s",
    "prefetch.shuffle_write_mb": "MB",
    "bars.requested": "count",
    "bars.served_ratio": "ratio",
    "frames.requested": "count",
    "frames.served_ratio": "ratio",
    "steps_local.calls": "count",
    "steps_local.busy_s": "s",
    "steps_local.serve_ratio": "ratio",
    "coret_local.calls": "count",
    "coret_local.busy_s": "s",
    "coret_local.serve_ratio": "ratio",
    "steps.calls": "count",
    "steps.busy_s": "s",
    "coret.calls": "count",
    "coret.busy_s": "s",
    "plan.calls": "count",
    "plan.busy_s": "s",
    "collect.calls": "count",
    "collect.busy_s": "s",
    "scoring.calls": "count",
    "scoring.busy_s": "s",
    "engine.self_s": "s",
    "api.self_s": "s",
    "charts.returned": "count",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "trace.overhead_ratio": "ratio",
    "trace.coverage_min": "ratio",
}


def process_age() -> float:
    """Seconds since this process started (from /proc, so the interpreter's
    own start-up and imports count towards set-up)."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - int(fields[19]) / os.sysconf("SC_CLK_TCK")


def reset_peak_rss(pid: int | str) -> None:
    """Restart the kernel's peak-RSS (VmHWM) count of a process at its
    current RSS."""
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


def cpu_times() -> tuple[float, float]:
    """(busy, stolen) CPU seconds of this machine, summed over its vCPUs.
    Busy is time spent running (user, nice, system, irq, softirq); stolen
    is time a vCPU wanted to run but the hypervisor ran something else
    (0 on dedicated hardware)."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:9]]
    hz = os.sysconf("SC_CLK_TCK")
    return (t[0] + t[1] + t[2] + t[5] + t[6]) / hz, t[7] / hz


def clock() -> tuple[float, float, float]:
    return (time.perf_counter(), *cpu_times())


def since(t0: tuple[float, float, float]) -> tuple[float, float]:
    """(wall seconds, wall seconds net of steal) since ``t0``. On a shared
    VM the hypervisor takes vCPUs away for seconds at a time, and a vCPU
    accrues steal only while it has work to run. Of the CPU time the
    machine wanted in the interval (busy + stolen) it got the busy share,
    so work that wanted that CPU took wall / share; the net time is wall
    times the busy share, and equals the wall time when nothing is stolen."""
    t, busy, stolen = clock()
    wall = t - t0[0]
    busy, stolen = busy - t0[1], stolen - t0[2]
    return wall, wall * busy / (busy + stolen) if stolen > 0 else wall


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def pin_envelope(build: str) -> dict[str, str]:
    """Pin the runtime envelope before the JVM starts."""
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(build, "spark-local"),
        "TMPDIR": os.path.join(build, "tmp"),
    }
    for d in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    os.environ.update(env)
    return env


def start_spark(build: str):
    from data_transformation_2022_spark.session import get_spark

    tmp = os.path.join(build, "tmp")
    return get_spark(
        app_name="perfbench",
        extra_conf={
            # keep every job and stage of a run for the traced read-out
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.warehouse.dir": os.path.join(build, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData {JVM_HEAP_OPTIONS}",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def join_pending_releases() -> None:
    """Wait for the engine's asynchronous cache releases to finish."""
    from data_transformation_2022_spark import engine

    for th in list(engine._PENDING_RELEASES):
        th.join(timeout=60)


def quiesce(spark) -> None:
    """Untimed, before each session: let the previous session's cache
    releases finish and collect its garbage in Python and in the JVM, so
    every session starts from the same state and a collection of the last
    one's garbage does not land in a random request of the next."""
    join_pending_releases()
    gc.collect()
    spark.sparkContext._jvm.java.lang.System.gc()


def run_op(sess, op, tracer, traced: bool):
    """One request as the server handles it: call, then encode.
    Returns (seconds net of steal, digest, error or None, problems)."""
    t0 = clock()
    stage = "call"
    try:
        with tracer.span(f"endpoint.{op.kind}") if traced else nullcontext():
            resp = op.call(sess)
            stage = "encode"
            text = encode(resp)
    except Exception as e:  # a 500 over HTTP: counted, never retried
        return since(t0)[1], digest.error_digest(e), (stage, f"{type(e).__name__}: {e}"), []
    dt = since(t0)[1]
    return dt, digest.digest_text(text), None, op.check(json.loads(text))


def layer_metrics(tracer, sc, session_spans: list[tuple[float, float]], walls: dict) -> dict[str, float]:
    """Per-layer numbers from the spans of the traced sessions, normalised
    per session; ratios are taken over the whole run."""
    from tracer import children_index, layer_busy, self_time, spark_activity, union_length

    spans = tracer.spans
    n = max(1, len(session_spans))
    kids = children_index(spans)
    calls: dict[str, int] = {}
    for s in spans:
        calls[s.name] = calls.get(s.name, 0) + 1
    c = tracer.counts
    jobs, stages = spark_activity(sc)

    def within(name: str | None):
        iv = session_spans if name is None else [(s.start, s.end) for s in spans if s.name == name]
        js = [j for t, j in jobs if any(a <= t <= b for a, b in iv)]
        ss = [st for st in stages if any(a <= st["t"] <= b for a, b in iv)]
        return js, ss

    def ratio(num: float, den: float) -> float:
        return num / den if den else 0.0

    out: dict[str, float] = {}
    for layer in ("profiler", "readers", "enumerate", "steps_local", "coret_local", "steps", "coret", "plan", "collect", "scoring"):
        out[f"{layer}.busy_s"] = layer_busy(spans, layer) / n
        out[f"{layer}.calls"] = calls.get(layer, 0) / n
    pj, ps = within("profiler")
    out["profiler.spark_jobs"] = len(pj) / n
    out["profiler.executor_run_s"] = sum(s["run_s"] for s in ps) / n
    out["enumerate.candidates"] = c.get("enumerate.candidates", 0) / n
    out["executor.init_s"] = layer_busy(spans, "executor.init") / n
    out["prefetch.wall_s"] = layer_busy(spans, "prefetch") / n
    fj, fs = within("prefetch")
    out["prefetch.spark_jobs"] = len(fj) / n
    out["prefetch.spark_tasks"] = sum(s["tasks"] for s in fs) / n
    out["prefetch.executor_run_s"] = sum(s["run_s"] for s in fs) / n
    out["prefetch.shuffle_write_mb"] = sum(s["shuffle_write_mb"] for s in fs) / n
    out["bars.requested"] = c.get("bars.requested", 0) / n
    out["bars.served_ratio"] = ratio(c.get("bars.served", 0), c.get("bars.requested", 0))
    out["frames.requested"] = c.get("frames.requested", 0) / n
    out["frames.served_ratio"] = ratio(c.get("frames.served", 0), c.get("frames.requested", 0))
    out["steps_local.serve_ratio"] = ratio(c.get("steps_local.served", 0), calls.get("steps_local", 0))
    out["coret_local.serve_ratio"] = ratio(c.get("coret_local.served", 0), calls.get("coret_local", 0))
    out["engine.self_s"] = sum(self_time(s, kids) for s in spans if s.name == "engine") / n
    endpoints = [s for s in spans if s.name.startswith("endpoint.")]
    out["api.self_s"] = sum(self_time(s, kids) for s in endpoints) / n
    out["charts.returned"] = c.get("charts.returned", 0) / n
    aj, as_ = within(None)
    out["spark.jobs"] = len(aj) / n
    out["spark.tasks"] = sum(s["tasks"] for s in as_) / n
    out["spark.executor_cpu_s"] = sum(s["cpu_s"] for s in as_) / n
    out["spark.gc_s"] = sum(s["gc_s"] for s in as_) / n
    out["trace.overhead_ratio"] = ratio(sum(walls[True]), sum(walls[False]))
    coverage: dict[str, float] = {}
    for s in endpoints:
        cov = union_length([(k.start, k.end) for k in kids.get(s.sid, [])]) / (s.end - s.start)
        coverage[s.name] = min(cov, coverage.get(s.name, 1.0))
    out["trace.coverage_min"] = min(coverage.values(), default=0.0)
    return {k: out[k] for k in PER_LAYER}, coverage


def measure(spark, args, workdir: str, clock0: tuple[float, float, float]) -> tuple[dict, dict]:
    from pyspark import SparkContext

    from data_transformation_2022_spark.api import EngineSession
    from tracer import Tracer

    wl = WORKLOADS[args.workload](args.seed, workdir)
    spark.range(1).count()  # first job: the JVM is up and serving
    # the interpreter's start before main() ran is counted as wall time
    age, (wall, net) = process_age(), since(clock0)
    boot = age - wall + net
    preps = []
    for _ in range(PREPARATIONS):
        t0 = clock()
        wl.prepare()
        preps.append(since(t0)[1])
    t0 = clock()
    warm = EngineSession(spark)
    for op in wl.warmup_ops():  # untimed: fills the JIT and codegen caches
        run_op(warm, op, None, False)
    join_pending_releases()
    warmup = since(t0)[1]
    setup_s = boot + statistics.median(preps) + warmup

    tracer = Tracer() if args.trace else None
    check = digest.DigestCheck(digest.load_expected(args.workload, args.seed))
    samples: dict[str, list[float]] = {m: [] for m in ("ingest", "search_cold", "search_warm", "refine")}
    walls: dict[bool, list[float]] = {True: [], False: []}
    jvm_pid = SparkContext._gateway.proc.pid
    for pid in ("self", jvm_pid):  # the peak of the measured sessions only
        reset_peak_rss(pid)
    raw_walls: list[float] = []
    traced_spans: list[tuple[float, float]] = []
    attempted = failed = wrong = 0
    errors: list[str] = []
    # a trace run takes every session twice on the same input, untraced and
    # traced, for twice the time: its traced sessions cover the same inputs
    # as an untraced run. The order alternates per pair, so sessions getting
    # faster as the JVM warms cancel out of the tracing overhead.
    passes = 2 if args.trace else 1
    start = clock()
    deadline = start[0] + args.seconds * passes
    j, last = 0, 0.0
    while j == 0 or (
        process_age() + last < RUN_CAP_S
        and (j < max(wl.min_sessions, passes) or time.perf_counter() < deadline)
    ):
        t_pass = time.perf_counter()
        order = ((False, True), (True, False))[j % 2] if args.trace else (False,)
        for traced in order:
            quiesce(spark)
            if traced:
                tracer.install()
            sess = EngineSession(spark)
            t0 = clock()
            try:
                for i, op in enumerate(wl.session_ops(j)):
                    if tracer is not None:
                        tracer.req = j * 100 + i
                    dt, dg, err, problems = run_op(sess, op, tracer, traced)
                    samples[op.metric].append(dt)
                    attempted += 1
                    if err is not None:
                        failed += 1
                        errors.append(f"{op.key}: {err[1][:160]}")
                        # the engine itself raising is a broken program; a
                        # response the server cannot encode is an HTTP 500
                        wrong += err[0] == "call"
                    if not check.check(op.key, dg) or problems:
                        wrong += 1
                        failed += err is None
                        errors.extend(f"{op.key}: {p}" for p in problems)
                raw, wall = since(t0)
                walls[traced].append(wall)
                raw_walls.append(raw)
                if traced:
                    traced_spans.append((t0[0], t0[0] + raw))
            finally:
                if traced:
                    tracer.uninstall()
        last = time.perf_counter() - t_pass
        j += 1
    join_pending_releases()
    peak_rss = vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)

    info: dict = {}
    if args.record:
        digest.record_expected(args.workload, args.seed, check.seen)
    for m in check.mismatches:
        errors.append(f"digest mismatch {m}")
    if args.trace:
        metrics, coverage = layer_metrics(tracer, spark.sparkContext, traced_spans, walls)
        units = PER_LAYER
        info["coverage_min_by_endpoint"] = coverage
    else:
        metrics = {
            "setup_s": setup_s,
            "wall_s": statistics.median(walls[False]),
            "peak_rss_mb": peak_rss,
            **{f"{m}_p50_s": statistics.median(v) for m, v in samples.items()},
        }
        units = END_TO_END
    info.update({
        "sessions": j * passes,
        "samples_s": {m: [round(x, 3) for x in v] for m, v in samples.items()},
        "session_walls_s": [round(x, 3) for x in walls[False] + walls[True]],
        "session_walls_raw_s": [round(x, 3) for x in raw_walls],
        "steal_cpu_s": cpu_times()[1] - start[2],
        "setup_parts_s": {"boot": boot, "prepare": preps, "warmup": warmup},
        "errors": errors[:20],
        "ops_failed_ratio": failed / attempted,
    })
    result = {
        "correct": wrong == 0 and not check.mismatches,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": metrics[name], "unit": unit} for name, unit in units.items()},
    }
    return result, info


def main(argv: list[str] | None = None) -> int:
    clock0 = clock()
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true", help="record this seed's digests in expected/")
    args = ap.parse_args(argv)

    run_dir = os.path.join(ROOT, ".bench_build", "perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    env = pin_envelope(run_dir)
    try:
        import data_transformation_2022_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        shutil.rmtree(run_dir, ignore_errors=True)
        return 2
    spark = None
    try:
        spark = start_spark(run_dir)
        result, info = measure(spark, args, os.path.join(run_dir, "inputs"), clock0)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    info["envelope"] = {k: v for k, v in env.items() if k.startswith("SPARK_GRAFT") or k == "SPARK_DRIVER_MEMORY"}
    info["envelope"]["jvm_heap_options"] = JVM_HEAP_OPTIONS
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} " + json.dumps(info), file=sys.stderr)
    for name, m in result["metrics"].items():
        print(f"  {name:28s} {m['value']:14.4f} {m['unit']}", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
