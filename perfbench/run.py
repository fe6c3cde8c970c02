#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Makes the workload's inputs from the
seed, sets up several times (the median is ``setup_s``), serves a
closed loop of ops for ``--seconds`` seconds, checks every result, and
prints every metric by name with its unit, then one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` wraps each layer's public calls
and reports the per-layer metrics instead. Everything it writes stays
under ``.perfbench_work/`` (removed at exit) and ``.perfbench_out/``
(the traced run's spans) in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORKLOADS = ("csv_filter_scan", "positional_lookup", "versioned_ingest")
SETUP_REPS = 3
#: untimed closed loop between set-up and measurement: op latency keeps
#: falling for tens of seconds after the warm-up ops of the set-up (JIT)
WARMUP_S = 10
#: input sizes at scale 1
CSV_ROWS = 100_000
POSITIONAL_ROWS = 100_000
VERSIONED_BASE_ROWS = 100_000
VERSIONED_APPEND_ROWS = 20_000
VERSIONED_MERGE_ROWS = 10_000
DRIVER_MEMORY = "1g"

END_TO_END = {  # name -> unit
    "setup_s": "s", "read_p50_ms": "ms", "read_p75_ms": "ms",
    "ops_per_s": "1/s", "peak_rss_mb": "MB",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size factor (tests use a tiny scale)")
    return p.parse_args(argv)


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(workdir: str) -> dict:
    """Fix what the program reads from the environment, before Spark is
    imported, and return it for the result."""
    local = os.path.join(workdir, "spark-local")
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    env = {
        "SPARK_GRAFT_CPUS": str(cpu_count()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # both JVMs (the launcher and the driver) keep their files here
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf spark.ui.showConsoleProgress=false",
            # the traced run reads every job back from the status store
            "--conf spark.ui.retainedJobs=1000000",
            "--conf spark.ui.retainedStages=1000000",
            "--conf spark.sql.ui.retainedExecutions=1000000",
            "pyspark-shell",
        ]),
    }
    os.environ.update(env)
    return env


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def percentile(xs, q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    pos = (len(xs) - 1) * q / 100
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def make_workload(name: str, workdir: str, seed: int, scale: float):
    import workloads  # imports Spark: only after pin_environment

    def rows(n):
        return max(int(n * scale), 200)

    if name == "csv_filter_scan":
        return workloads.CsvFilterScan(workdir, seed, rows(CSV_ROWS))
    if name == "positional_lookup":
        return workloads.PositionalLookup(workdir, seed, rows(POSITIONAL_ROWS),
                                          clients=min(4, cpu_count()))
    return workloads.VersionedIngest(
        workdir, seed, rows(VERSIONED_BASE_ROWS),
        rows(VERSIONED_APPEND_ROWS), rows(VERSIONED_MERGE_ROWS))


def timed_loop(wl, seconds: float, phase: int, tracer=None) -> tuple[list, float]:
    """Closed loop: each client thread sends its next op when the last
    one returns, until the deadline. ``phase`` seeds the op streams
    apart, so the measured ops repeat none of the warm-up's inputs.
    Returns (records, elapsed)."""
    records: list[dict] = []
    lock = threading.Lock()
    start = time.perf_counter()
    deadline = start + seconds
    last_end = [start]

    def client(stream):
        while time.perf_counter() < deadline:
            kind, i = stream.next()
            args = wl.draw(stream, kind, i)
            before = tracer and wl.trace_before(args)
            rec = {"kind": kind, "ok": False, "rows": 0}
            t0 = time.perf_counter()
            try:
                if tracer:
                    with tracer.span("op", kind) as sp:
                        result = wl.run(args)
                    sp["rows"] = len(result) if hasattr(result, "shape") else 0
                else:
                    result = wl.run(args)
                rec["latency_s"] = time.perf_counter() - t0
                rec["ok"], rec["rows"] = wl.check(args, result)
                if not rec["ok"]:
                    print(f"WRONG RESULT: {kind} {args!r:.300}", file=sys.stderr)
                if tracer:
                    wl.trace_after(args, before)
            except Exception:
                rec["latency_s"] = time.perf_counter() - t0
                print(f"FAILED: {kind} {args!r:.300}", file=sys.stderr)
                traceback.print_exc()
            with lock:
                records.append(rec)
                last_end[0] = max(last_end[0], time.perf_counter())

    threads = [threading.Thread(target=client, args=(s,), daemon=True)
               for s in wl.streams(phase)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return records, last_end[0] - start


def end_to_end(wl, records, elapsed, setup_times, rss_mb) -> dict:
    reads = [r["latency_s"] * 1e3 for r in records
             if r["ok"] and r["kind"] in wl.read_kinds]
    ok = [r for r in records if r["ok"]]
    return {
        "setup_s": statistics.median(setup_times),
        "read_p50_ms": percentile(reads, 50) if reads else 0.0,
        "read_p75_ms": percentile(reads, 75) if reads else 0.0,
        "ops_per_s": len(ok) / elapsed,
        "peak_rss_mb": rss_mb,
    }


def stop_spark(spark) -> None:
    """Stop the context and the JVM this process started, and wait
    until the JVM has exited."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(args) -> dict:
    """One benchmark run; returns the result object."""
    if not os.path.isdir(os.path.join(ROOT, "lazy_frame_spark")):
        raise SystemExit(
            f"perfbench: no lazy_frame_spark package under {ROOT}; "
            "run from the root of a checkout")
    sys.path[:0] = [ROOT, HERE]
    workdir = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    os.makedirs(workdir)
    spark = None
    tracer = None
    try:
        env = pin_environment(workdir)
        import lazy_frame_spark
        import lazy_frame_spark.session as lf_session
        if not os.path.abspath(lazy_frame_spark.__file__).startswith(ROOT + os.sep):
            raise SystemExit("perfbench: lazy_frame_spark is not the checkout's copy")
        wl = make_workload(args.workload, workdir, args.seed, args.scale)
        wl.prepare()
        if args.trace:
            import tracing

            tracer = tracing.Tracer()
            tracer.install()
        setup_times = []
        for rep in range(SETUP_REPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = lf_session.get_spark("perfbench")
            spark.sparkContext.setLogLevel("ERROR")
            wl.setup(spark)
            setup_times.append(time.perf_counter() - t0)
        warmup, _ = timed_loop(wl, min(WARMUP_S, args.seconds), phase=0)
        if tracer:
            tracer.overhead_s = 0.0  # report the timed loop's share only
        records, elapsed = timed_loop(wl, args.seconds, phase=1, tracer=tracer)
        final_ok = wl.final_check()
        if not final_ok:
            print("WRONG RESULT: the final state differs from the expected one",
                  file=sys.stderr)
        jvm_pid = spark.sparkContext._gateway.proc.pid
        rss = vm_hwm_mb(os.getpid()) + vm_hwm_mb(jvm_pid)
        if tracer:
            tracer.uninstall()
            data = tracer.collect(spark)
            metrics = tracing.per_layer_metrics(tracer, data, wl.trace_figures())
            units = {k: tracing.unit_of(k) for k in metrics}
            write_spans(args, tracer, data)
        else:
            metrics = end_to_end(wl, records, elapsed, setup_times, rss)
            units = END_TO_END
        env.update(describe_run(spark, wl, records, elapsed, setup_times))
        # a failed warm-up op counts as much as a failed timed one
        attempted = warmup + records
        failed = sum(not r["ok"] for r in attempted)
        env["error_rate"] = failed / len(attempted)
        wl.close()
    finally:
        if tracer:
            tracer.uninstall()
        try:
            stop_spark(spark)
        finally:
            shutil.rmtree(workdir, ignore_errors=True)
    for name, value in metrics.items():
        print(f"{name:50s} {value:16.6g} {units[name]}")
    print("env " + json.dumps(env, sort_keys=True, default=str))
    return {
        "correct": final_ok and failed == 0,
        "attempted": len(attempted),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def describe_run(spark, wl, records, elapsed, setup_times) -> dict:
    """Versions, sizes and sample counts recorded beside the metrics."""
    import numpy
    import pandas
    import pyarrow
    import pyspark

    jvm = spark._jvm
    kinds: dict[str, int] = {}
    for r in records:
        kinds[r["kind"]] = kinds.get(r["kind"], 0) + 1
    out = {
        "nproc": cpu_count(),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "numpy": numpy.__version__,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "workload": wl.name,
        "clients": wl.clients,
        "ops_by_kind": kinds,
        "elapsed_s": elapsed,
        # rows scanned (csv), returned (positional) or committed (versioned)
        "rows_per_s": sum(r["rows"] for r in records if r["ok"]) / elapsed,
        "setup_reps_s": setup_times,
    }
    out.update(wl.describe())
    return out


def write_spans(args, tracer, data) -> None:
    out = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"trace_{args.workload}_{args.seed}.json")
    with open(path, "w") as f:
        json.dump({"spans": tracer.spans, "jobs": data["jobs"]}, f)


def main(argv=None) -> int:
    args = parse_args(argv)
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
