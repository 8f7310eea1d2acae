"""Repeat the benchmark to measure its steadiness, and set the bounds.

    python3 perfbench/repeat.py --runs 10 [--workloads articles,turns] [--write-bounds]

Runs `run.py` once per seed (seeds --first-seed .. --first-seed+runs-1) on
every workload, one run at a time, and prints for every end-to-end metric the
median, the quartiles and the spread: (Q3 - Q1) / median, with the quartiles
of statistics.quantiles(values, n=4). It also checks that the share of failed
operations is the same in every run.

--write-bounds sets each end-to-end bound in BENCHMARK.json to three times
the largest spread seen for that metric over all workloads, rounded up to a
multiple of 0.05, at least 0.05 and at most 0.25; setup_s, measured once per
run, always gets the largest bound, 0.25.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCHMARK = os.path.join(ROOT, "BENCHMARK.json")
MAX_BOUND = 0.25


def run_once(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}")
    res = json.loads(lines[-1])
    res["wall_s"] = wall
    return res


def summarize(values: list) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values)}


def main(argv=None) -> int:
    with open(BENCHMARK) as fh:
        bench = json.load(fh)
    names = [w["name"] for w in bench["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default=",".join(names))
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--write-bounds", action="store_true")
    args = ap.parse_args(argv)
    if args.runs < 4:
        ap.error("quartiles need at least 4 runs")

    spreads: dict = {}
    report: dict = {}
    ok = True
    for wl in args.workloads.split(","):
        runs = []
        for i in range(args.runs):
            r = run_once(wl, args.first_seed + i, args.seconds)
            runs.append(r)
            print(f"{wl} seed {args.first_seed + i}: wall {r['wall_s']:.1f}s "
                  f"correct={r['correct']} attempted={r['attempted']} failed={r['failed']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
                  flush=True)
        fail_shares = {r["failed"] / r["attempted"] for r in runs}
        correct = all(r["correct"] for r in runs)
        ok = ok and correct and len(fail_shares) == 1
        report[wl] = {"correct": correct, "failed_shares": sorted(fail_shares),
                      "wall_s": summarize([r["wall_s"] for r in runs])}
        for m in runs[0]["metrics"]:
            s = summarize([r["metrics"][m]["value"] for r in runs])
            report[wl][m] = s
            spreads[m] = max(spreads.get(m, 0.0), s["spread"])
    print(json.dumps(report, indent=1))
    for m in bench["end_to_end"]:
        seen = spreads.get(m["name"])
        if seen is None:
            continue
        status = "ok" if m["name"] == "setup_s" or seen <= m["bound"] / 3 else "TOO WIDE"
        print(f"{m['name']}: largest spread {seen:.4f}, bound {m['bound']} ({status})")
    if args.write_bounds:
        for m in bench["end_to_end"]:
            if m["name"] == "setup_s":
                m["bound"] = MAX_BOUND
            elif m["name"] in spreads:
                m["bound"] = min(MAX_BOUND, max(0.05, math.ceil(spreads[m["name"]] * 3 / 0.05) * 0.05))
                m["bound"] = round(m["bound"], 2)
        with open(BENCHMARK, "w") as fh:
            json.dump(bench, fh, indent=2)
            fh.write("\n")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
