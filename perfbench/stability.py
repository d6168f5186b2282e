#!/usr/bin/env python3
"""Run one workload N times with a different seed each time and report,
per metric, the median, the quartiles, the quartile spread as a share of
the median (what the acceptance check compares against the metric's
bound in BENCHMARK.json) and the largest single deviation from the median.

    python3 perfbench/stability.py --workload etl_sf01 --runs 10 [--trace 0]

Run from the repository root. Metrics whose spread exceeds a third of
their bound are marked with '!'.
"""
import argparse
import json
import statistics
import subprocess
import sys


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    args = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values, failed = {}, 0
    for i in range(args.runs):
        seed = args.first_seed + i
        proc = subprocess.run(
            bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                "--seconds", str(bench["run_seconds"]),
                                "--trace", args.trace],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        if proc.returncode != 0:
            sys.exit(f"seed {seed}: exit code {proc.returncode}")
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        failed += res["failed"]
        print(f"seed {seed}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']} " + " ".join(
                  f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
              flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print(f"\n{args.workload}: {args.runs} runs, {failed} failed ops")
    print(f"{'metric':32} {'median':>12} {'q1':>12} {'q3':>12} "
          f"{'spread':>8} {'maxdev':>8} {'bound':>6}")
    for k, xs in values.items():
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        maxdev = max(abs(x - med) for x in xs) / med if med else float("nan")
        bound = bounds.get(k)
        mark = "!" if bound is not None and spread > bound / 3 else " "
        print(f"{k:32} {med:12.5g} {q1:12.5g} {q3:12.5g} {spread:8.3f} "
              f"{maxdev:8.3f} {bound if bound is not None else '-':>6} {mark}")


if __name__ == "__main__":
    main()
