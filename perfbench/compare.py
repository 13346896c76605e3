#!/usr/bin/env python3
"""Runs the benchmark on one or two checkouts over a range of seeds and
summarizes each end-to-end metric, the workload's own (the run line's
"detail") included.

    python3 perfbench/compare.py --workload analytics --seeds 1-10 A [B]

A and B are checkout roots (each with perfbench/run.py). With two, runs
alternate A, B, B, A, ... per seed, so neither side always runs first.
For each metric and side it prints the median, the quartile spread as a
share of the median (Python's statistics.quantiles, n=4), and, with two
sides, the change of B's median against A's and how many seeds B won.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import metrics  # noqa: E402


def run(root, workload, seed, seconds):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=root, capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"run failed: {root} seed {seed}")
    lines = p.stdout.strip().splitlines()
    run_line, res = json.loads(lines[-2]), json.loads(lines[-1])
    if not res["correct"]:
        print(f"  {root} seed {seed}: {res['failed']} of {res['attempted']} ops failed")
    return {k: v["value"] for k, v in {**run_line["detail"], **res["metrics"]}.items()}


def spread(xs):
    q = statistics.quantiles(xs, n=4)
    return (q[2] - q[0]) / statistics.median(xs)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="first-last")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("roots", nargs="+")
    a = ap.parse_args()
    lo, hi = map(int, a.seeds.split("-"))
    results = {r: [] for r in a.roots}
    for i, seed in enumerate(range(lo, hi + 1)):
        order = a.roots if i % 2 == 0 else a.roots[::-1]
        for r in order:
            results[r].append(run(r, a.workload, seed, a.seconds))
            print(f"seed {seed} {r}: " + ", ".join(
                f"{k}={v:.4g}" for k, v in sorted(results[r][-1].items())), flush=True)
    names = sorted(set.intersection(*(set(m) for ms in results.values() for m in ms)))
    print(f"\n{'metric':28s} " + " ".join(f"{'median':>12s} {'iqr/med':>8s}" for _ in a.roots)
          + ("   B vs A   B wins" if len(a.roots) == 2 else ""))
    for n in names:
        cols = []
        for r in a.roots:
            xs = [m[n] for m in results[r]]
            cols.append(f"{statistics.median(xs):12.4f} {spread(xs):8.3f}")
        line = f"{n:28s} " + " ".join(cols)
        if len(a.roots) == 2:
            xa = [m[n] for m in results[a.roots[0]]]
            xb = [m[n] for m in results[a.roots[1]]]
            sign = 1 if n in metrics.HIGHER_IS_BETTER else -1
            wins = sum(1 for x, y in zip(xa, xb) if sign * (y - x) > 0)
            change = statistics.median(xb) / statistics.median(xa) - 1
            line += f"   {change:+7.2%}   {wins}/{len(xa)}"
        print(line)


if __name__ == "__main__":
    main()
