"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest_serve --seed 1 --seconds 5 --trace 0

Run from the repository root. The run builds its inputs from ``--seed``,
sets up the workload, repeats whole cycles of it until ``--seconds`` have
passed, checks the outputs, and prints one JSON object as the last line of
standard output: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. A traced run also writes its spans to
``.perfbench/traces/<workload>-<seed>.json`` for ``perfbench/report.py``.

Each run works in a fresh directory under ``.perfbench/`` (its TMPDIR,
Spark local dirs, collections and index artifacts) and removes it at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "vectordb_acc_and_speed_exp_spark"


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def box_env(work: str) -> dict[str, str]:
    """Environment that isolates one run and fits Spark to the machine."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    # one JVM holds driver and executors: an eighth of RAM, 1..2 GiB, as
    # the machine may be shared and the workloads' data is small
    mem_mb = max(1024, min(2048, total_kb // 8 // 1024))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    return {
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_mb}m",
        # Spark's Python workers import the package by name
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        ),
        # the JVM's own scratch files (native libraries, Spark's temp
        # dirs) stay in the run directory too
        "JAVA_TOOL_OPTIONS": " ".join(
            p for p in (os.environ.get("JAVA_TOOL_OPTIONS", ""),
                        f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData") if p
        ),
        # pandas/NumPy kernels run one per worker: at most nproc threads
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
    }


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            proc.wait(timeout=30)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait(timeout=10)


def measure(wl, seconds: float) -> None:
    """Repeat whole cycles until ``seconds`` have passed. A cycle that
    raises counts as one failed operation and ends the measured phase,
    since the workload's state after it is unknown."""
    wl.measuring = True
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds or not wl.cycles:
        try:
            wl.cycle()
        except Exception:
            traceback.print_exc()
            wl.failed += 1
            break
        wl.cycles += 1
    wl.measuring = False


def finish(wl) -> None:
    """The workload's output checks; checks that raise count as failed."""
    try:
        wl.finish()
    except Exception:
        traceback.print_exc()
        wl.failed += 1


def verdict(wl) -> dict:
    """The output line's counts: operations and checks attempted, and how
    many of them failed. Any failure makes the run incorrect."""
    failed = wl.failed + len(wl.check_failures)
    return {"correct": failed == 0, "attempted": max(1, wl.attempted), "failed": failed}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"{PKG}/ not found beside perfbench/: run from a full checkout",
              file=sys.stderr)
        return 2
    t_start = time.perf_counter()
    sys.path.insert(0, ROOT)
    from perfbench import trace as tr
    from perfbench.layers import TARGETS, e2e_metrics, layer_metrics
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ.update(box_env(work))
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    spark = None
    try:
        with tr.RssSampler() if args.trace else contextlib.nullcontext() as rss:
            t0 = time.perf_counter()
            from vectordb_acc_and_speed_exp_spark.session import get_spark

            spark = get_spark(cpus=len(os.sched_getaffinity(0)))
            spark.sparkContext.setLogLevel("ERROR")
            session_s = time.perf_counter() - t0
            tracer = tr.Tracer(spark.sparkContext, enabled=bool(args.trace))
            undo = tr.instrument(tracer, TARGETS, PKG) if args.trace else (lambda: None)
            wl = WORKLOADS[args.workload](spark, tracer, args.seed, work)
            wl.setup()
            setup_s = time.perf_counter() - t_start
            cpu0 = tr.cpu_by_role() if args.trace else None
            measure(wl, args.seconds)
            cpu1 = tr.cpu_by_role() if args.trace else None
            finish(wl)
            undo()
        result = verdict(wl)
        if args.trace:
            result["metrics"] = layer_metrics(wl, tracer, session_s, cpu0, cpu1, rss.peak)
            out = os.path.join(ROOT, ".perfbench", "traces")
            os.makedirs(out, exist_ok=True)
            with open(os.path.join(out, f"{args.workload}-{args.seed}.json"), "w") as f:
                json.dump({
                    "workload": args.workload, "seed": args.seed,
                    "spans": [s.as_dict() for s in tracer.spans],
                }, f)
        else:
            result["metrics"] = e2e_metrics(wl, setup_s)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print("latencies:", " ".join(f"{k}={x:.3f}" for k, x in wl.lat), file=sys.stderr)
    for what in wl.check_failures:
        print(f"check failed: {what}", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
