#!/usr/bin/env python3
"""Engine benchmark: one seeded workload per run, end to end or traced.

    python3 perfbench/run.py --workload stream_open --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. The metric names and units come
from ``BENCHMARK.json`` at that root; ``--trace 0`` prints its
``end_to_end`` metrics, ``--trace 1`` its ``per_layer`` metrics. Context
(row counts, job floor, sample counts, output checks) goes on the line
before the result; the last line of standard output is the result:

    {"correct": true, "attempted": 12, "failed": 0, "metrics": {...}}

Every run works in a fresh directory under ``.perfbench_work/`` and
deletes it; a traced run also leaves its spans in ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "realtime_fraud_detection_spark"
SETUP_REPS = 3


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def load_spec() -> dict:
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        fail(f"no BENCHMARK.json at {ROOT}")
    with open(path) as fh:
        return json.load(fh)


def pin_environment(work: str) -> int:
    """Run Spark on every core this process may use, and keep its scratch
    files (shuffle, spill, JVM temp) inside the run's work directory."""
    cpus = len(os.sched_getaffinity(0))
    local, tmp = os.path.join(work, "spark-local"), os.path.join(work, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # no perf-data file in the machine's /tmp either
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = f'--driver-java-options "{java_opts}" pyspark-shell'
    tempfile.tempdir = tmp
    return cpus


def start_spark(app: str):
    from realtime_fraud_detection_spark.session import get_spark

    # the console progress bar only draws on stderr; every engine setting
    # stays as get_spark ships it
    spark = get_spark(app, extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop any stream still running, the session, then the gateway JVM,
    and wait for it to exit."""
    from pyspark import SparkContext

    for q in spark.streams.active:
        q.stop()
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def phase_durations(t_start: float, marks) -> dict:
    out, prev = {}, t_start
    for phase, t in marks:
        out[phase] = t - prev
        prev = t
    return out


def main(argv=None) -> int:
    # a terminated run still stops its generator and JVM and removes its
    # work directory (the finally blocks run on SystemExit)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spec = load_spec()
    workloads = [w["name"] for w in spec["workloads"]]
    ap = argparse.ArgumentParser(description="Seeded engine benchmark.")
    ap.add_argument("--workload", required=True, choices=workloads)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        fail(f"the engine package {PACKAGE}/ is not in {ROOT}")
    sys.path.insert(0, ROOT)
    base = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{a.workload}-{a.seed}-", dir=base)
    try:
        result, context = run(a, spec, work, pin_environment(work))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass  # another run's directory is still there
    print(json.dumps({"context": context}))
    print(json.dumps(result))
    return 0


def run(a, spec, work: str, cpus: int):
    import helpers as H
    import workloads as WL

    if WL.PACKAGE_ROOT != ROOT:
        fail(f"{PACKAGE} was imported from {WL.PACKAGE_ROOT}, not {ROOT}")
    wl = WL.WORKLOADS[a.workload]
    tracer = H.Tracer(enabled=bool(a.trace))
    ctx = WL.Ctx(None, "", a.seed, a.seconds, tracer, bool(a.trace))
    spark, setup_s = None, []
    t_start = time.perf_counter()
    try:
        for i in range(SETUP_REPS):
            if spark is not None:
                spark.stop()
                shutil.rmtree(ctx.work)
            ctx.work = os.path.join(work, f"setup{i}")
            t0 = time.perf_counter()
            with tracer.span("setup", rep=i):
                with tracer.span("session.start"):
                    spark = ctx.spark = start_spark(f"perfbench-{a.workload}")
                state = wl.setup(ctx)
            setup_s.append(time.perf_counter() - t0)
        ctx.mark("setup")
        res = wl.run(ctx, state)
        rss = H.peak_rss_mb()
        rss_python = H.hwm_kb(os.getpid()) / 1024.0
    finally:
        if spark is not None:
            stop_jvm(spark)

    e2e = {**res.e2e, "setup_s": statistics.median(setup_s)}
    layers = {**res.layers, "failed_ratio": res.failed / res.attempted, "peak_rss_mb": rss}
    if a.trace:
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.write(os.path.join(out_dir, f"trace-{a.workload}-{a.seed}.json"))
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    produced = layers if a.trace else e2e
    unknown = set(produced) - {m["name"] for m in wanted}
    if unknown:
        raise KeyError(f"metrics not declared in BENCHMARK.json: {sorted(unknown)}")
    metrics = {}
    for m in wanted:
        if not a.trace and m["name"] not in produced:
            raise KeyError(f"end-to-end metric {m['name']} was not measured")
        # a layer the workload never enters reads 0
        metrics[m["name"]] = {"value": float(produced.get(m["name"], 0.0)), "unit": m["unit"]}
    context = {
        "workload": a.workload,
        "seed": a.seed,
        "seconds": a.seconds,
        "trace": a.trace,
        "cpus": cpus,
        "setup_s": setup_s,
        "rss_python_mb": rss_python,
        "rss_jvm_mb": rss - rss_python,
        "phase_s": phase_durations(t_start, ctx.marks),
        **res.context,
        "checks": res.checks,
    }
    result = {
        "correct": res.failed == 0 and all(res.checks.values()),
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }
    return result, context


if __name__ == "__main__":
    sys.exit(main())
