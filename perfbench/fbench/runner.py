"""One benchmark run: start Spark, warm the JVM on a scratch copy of
the workload, set the workload up several times, run its closed loop,
check outputs, print one JSON line.

    python3 perfbench/run.py --workload cdc_ingest --seed 1 --seconds 20 --trace 0

Everything the run writes goes under `.perfbench/` in the checkout:
the warehouse, Spark's and Python's temp files (removed at the end) and,
for a traced run, the spans (`.perfbench/traces/`).
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
from pathlib import Path

from fbench import metrics
from fbench.params import FULL, SETUP_REPEATS, WARM_SEED
from fbench.tracer import Tracer
from fbench.workloads import WORKLOADS, Recorder
from fluss_spark.session import get_spark
from pyspark import SparkContext

ROOT = Path(__file__).resolve().parents[2]


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def measure(spark, name: str, params: dict, seed: int, seconds: float, trace: bool,
            work: Path, start_s: float = 0.0) -> dict:
    """Warm the JVM on a scratch copy of the workload, set it up
    SETUP_REPEATS times (each in a fresh warehouse; the last one is
    kept), run its loop for `seconds` and on to the next cycle boundary,
    then check outputs. Returns the result object."""
    cls = WORKLOADS[name]
    t0 = time.perf_counter()
    scratch = cls(spark, params, seed + WARM_SEED, None)
    scratch.setup(str(work / "warm"))
    for _ in range(params["warm_ops"]):
        scratch.step(Recorder())
    warm_s = time.perf_counter() - t0
    shutil.rmtree(work / "warm")
    tracer = Tracer(spark) if trace else None
    setups = []
    for i in range(SETUP_REPEATS):
        wh = work / f"wh{i}"
        wl = cls(spark, params, seed, tracer)
        t0 = time.perf_counter()
        wl.setup(str(wh))
        setups.append(time.perf_counter() - t0)
        if i < SETUP_REPEATS - 1:
            shutil.rmtree(wh)
    # start every run's loop from a collected heap, in Python and the JVM
    gc.collect()
    spark._jvm.System.gc()
    rec = Recorder()
    limit = 3 * seconds + 10  # a cycle that never closes still ends
    if tracer:
        tracer.install()
    try:
        t0 = time.perf_counter()
        while True:
            boundary = wl.step(rec)
            elapsed = time.perf_counter() - t0
            if (boundary and elapsed >= seconds) or elapsed >= limit:
                break
    finally:
        if tracer:
            tracer.uninstall()
    wl.final_checks(rec)
    setup_s = start_s + warm_s + statistics.median(setups)
    if trace:
        values = metrics.per_layer(rec, tracer.spans, start_s, warm_s, peak_rss_mb(spark))
        specs = metrics.PER_LAYER
        traces = ROOT / ".perfbench" / "traces"
        traces.mkdir(parents=True, exist_ok=True)
        tracer.dump(str(traces / f"{name}-seed{seed}.jsonl"))
    else:
        values = metrics.end_to_end(rec, setup_s, elapsed, peak_rss_mb(spark))
        specs = metrics.E2E
    print(
        f"{name} seed={seed} trace={int(trace)}: {len(rec.op_ms)} op samples, "
        f"{rec.commits} commits, {rec.compactions} compactions in {elapsed:.1f}s; "
        f"set-ups {[round(s, 2) for s in setups]}",
        file=sys.stderr,
    )
    for e in rec.errors:
        print(f"CHECK FAILED: {e}", file=sys.stderr)
    return {
        "correct": rec.failed == 0,
        "attempted": rec.attempted,
        "failed": rec.failed,
        "metrics": {n: {"value": values[n], "unit": u} for n, u, _ in specs},
    }


def peak_rss_mb(spark) -> float:
    """Peak resident set of this driver process plus the Spark JVM."""
    jvm = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    total = 0
    for pid in ("self", str(jvm)):
        with open(f"/proc/{pid}/status") as f:
            total += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return total / 1024


def stop(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)


def main(argv=None) -> int:
    args = parse_args(argv)
    work = ROOT / ".perfbench" / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ.update(
        TMPDIR=str(tmp),
        SPARK_LOCAL_DIRS=str(tmp),
        # a fixed, pre-touched heap (-Xms = -Xmx, AlwaysPreTouch) keeps
        # the JVM's resident size from depending on when the collector
        # chose to grow the heap or reach new regions of it;
        # -XX:-UsePerfData keeps the JVM from writing /tmp/hsperfdata_*
        FLUSS_SPARK_DRIVER_MEM="2g",
        PYSPARK_SUBMIT_ARGS=(
            f"--conf spark.ui.showConsoleProgress=false --driver-java-options "
            f"'-Xms2g -XX:+AlwaysPreTouch -XX:-UsePerfData -Djava.io.tmpdir={tmp}' pyspark-shell"
        ),
    )
    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=len(os.sched_getaffinity(0)))
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.perf_counter() - t0
    try:
        result = measure(spark, args.workload, FULL[args.workload], args.seed, args.seconds,
                         bool(args.trace), work, start_s)
    finally:
        stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1
