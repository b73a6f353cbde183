#!/usr/bin/env python3
"""Steadiness check: run one workload N times and report the spread.

Usage (from the repository root):
  python3 perfbench/steady.py --workload serve --runs 10 [--seed0 1]
      [--seconds S] [--trace 0|1]

Run i uses seed seed0 + i. For each metric the script prints the
median, the quartiles (statistics.quantiles(values, n=4)), the spread
(Q3 - Q1) / median and the max/min ratio, and flags a metric whose
spread exceeds its bound in BENCHMARK.json ("OVER") or a third of it
("warn"). setup_s is reported but its spread is not gated. Exits 1 if
a run fails, reports a wrong answer, or a gated spread is over its
bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    seconds = a.seconds or spec["run_seconds"]
    metrics = spec["per_layer" if a.trace else "end_to_end"]

    values = {m["name"]: [] for m in metrics}
    bad = 0
    for i in range(a.runs):
        seed = a.seed0 + i
        t0 = time.monotonic()
        r = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             a.workload, "--seed", str(seed), "--seconds", str(seconds),
             "--trace", str(a.trace)],
            cwd=ROOT, stdout=subprocess.PIPE, text=True)
        lines = r.stdout.strip().splitlines()
        if r.returncode != 0 or not lines:
            print(f"seed {seed}: run failed (exit {r.returncode})")
            bad += 1
            continue
        res = json.loads(lines[-1])
        if not res["correct"]:
            bad += 1
        for m in metrics:
            values[m["name"]].append(res["metrics"][m["name"]]["value"])
        print(f"seed {seed}: {time.monotonic() - t0:.0f} s  "
              f"attempted {res['attempted']} failed "
              f"{res['failed']}  " + "  ".join(
                  f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
              flush=True)

    print(f"\n{a.workload}: {a.runs} runs, seeds {a.seed0}.."
          f"{a.seed0 + a.runs - 1}, {seconds} s each")
    print(f"{'metric':<34} {'median':>11} {'q1':>11} {'q3':>11} "
          f"{'spread':>7} {'max/min':>8} {'bound':>6}")
    for m in metrics:
        xs = values[m["name"]]
        if len(xs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        ratio = max(xs) / min(xs) if min(xs) > 0 else float("nan")
        bound = m.get("bound")
        flag = ""
        if bound is not None and m["name"] != "setup_s":
            if spread > bound:
                flag, bad = "OVER", bad + 1
            elif spread > bound / 3:
                flag = "warn"
        print(f"{m['name']:<34} {med:>11.5g} {q1:>11.5g} {q3:>11.5g} "
              f"{spread:>7.3f} {ratio:>8.3f} "
              f"{'' if bound is None else bound:>6} {flag}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
