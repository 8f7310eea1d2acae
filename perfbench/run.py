"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload articles --seed 1 --seconds 10 --trace 0

--trace 0 measures the end-to-end metrics (rows_per_s, setup_s, peak_rss_mb)
over timed passes of the workload's operation. --trace 1 runs the same
workload traced and prints the per-layer metrics instead (see README.md).
The last line of standard output is the result:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {name: {value, unit}}}
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DRIVER_MEM = "2g"
YOUNG_GEN = "400m"


def _slots() -> int:
    # one CPU fewer than this process may use, at most 4: the JVM's own
    # threads, the driver and the Python worker daemons run beside the tasks
    return max(1, min(4, len(os.sched_getaffinity(0)) - 1))


def _prepare_env(workdir: str) -> None:
    """Keep every file Spark, its workers and Python write inside workdir, and
    let the Python workers import the package from the checkout."""
    tmp = os.path.join(workdir, "tmp")
    local = os.path.join(workdir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # a fixed young generation: G1 otherwise sizes it from its pause times,
    # which follow the machine's speed, and peak RSS moved by a tenth between
    # runs of the same input; the old generation, humongous arrays and all
    # memory outside the heap still grow only as far as the program needs
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -Xmn{YOUNG_GEN}' pyspark-shell")
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def _stop_spark(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def _timed_passes(wl, seconds: float, problems: list, log) -> dict:
    """Whole passes until `seconds` of pass time have elapsed."""
    times, attempted, failed = [], 0, 0
    elapsed = 0.0
    while elapsed < seconds:
        attempted += 1
        t0 = time.perf_counter()
        try:
            out = wl.run_pass()
        except Exception:
            failed += 1
            elapsed += time.perf_counter() - t0
            log(traceback.format_exc())
            continue
        dt = time.perf_counter() - t0
        elapsed += dt
        times.append(dt)
        problems.extend(wl.check(out))
    return {"times": times, "attempted": attempted, "failed": failed}


def end_to_end(wl, seconds, problems, log, setup_s, rss) -> dict:
    from perfbench import metric_units

    r = _timed_passes(wl, seconds, problems, log)
    metrics = {
        # the median pass: one pass caught in a swing of the machine's speed
        # does not move it
        "rows_per_s": wl.rows / statistics.median(r["times"]) if r["times"] else 0.0,
        "setup_s": setup_s,
        "peak_rss_mb": rss.peak_mb,
    }
    log(f"pass seconds {[round(t, 3) for t in r['times']]}")
    return {"attempted": r["attempted"], "failed": r["failed"],
            "metrics": {k: {"value": metrics[k], "unit": u}
                        for k, u in metric_units("end_to_end").items()}}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    def log(msg):
        print(f"[perfbench {args.workload}] {msg}", file=sys.stderr, flush=True)

    sys.path.insert(0, ROOT)
    # fails fast, before anything is written, outside a full checkout
    from perfbench import trace
    from perfbench.workloads import WORKLOADS
    from ukeeper_readability_spark.jobs import get_spark

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    workdir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _prepare_env(workdir)

    slots = _slots()
    problems: list = []
    try:
        with trace.PeakRss() as rss:
            spark = get_spark("perfbench", master=f"local[{slots}]", shuffle_partitions=slots)
            try:
                spark.sparkContext.setLogLevel("ERROR")
                log(f"spark up at {time.perf_counter() - T_START:.2f}s")
                wl = WORKLOADS[args.workload](spark, args.seed, workdir, slots)
                wl.generate()
                log(f"inputs ready at {time.perf_counter() - T_START:.2f}s")
                for _ in range(wl.warmup):
                    problems.extend(wl.check(wl.run_pass()))
                    log(f"warm-up pass done at {time.perf_counter() - T_START:.2f}s")
                setup_s = time.perf_counter() - T_START
                log(f"setup {setup_s:.2f}s, {wl.rows} rows per pass, {slots} slots")
                if args.trace:
                    from perfbench.traced import traced_run

                    result = traced_run(wl, args.seconds, problems, log, slots, workdir)
                else:
                    result = end_to_end(wl, args.seconds, problems, log, setup_s, rss)
            finally:
                _stop_spark(spark)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    for p in problems:
        log(f"CHECK FAILED: {p}")
    print(json.dumps({"correct": not problems, **result}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
