#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --runs 10 --seed0 100 [--workload pages_tiles ...]

Runs the benchmark ``--runs`` times per workload, each with another seed,
one run at a time, and prints for every end-to-end metric its median and
the distance between the first and third quartile as a share of the
median, next to the metric's bound from BENCHMARK.json. A spread within a
third of the bound is steady; beyond the bound the metric cannot resolve a
regression of that size.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spreads(values: list[float]) -> tuple[float, float]:
    """(median, IQR / median) as ``statistics.quantiles(n=4)`` gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q2, (q3 - q1) / q2 if q2 else float("inf")


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--seed0", type=int, default=1)
    p.add_argument("--workload", action="append",
                   help="default: every workload in BENCHMARK.json")
    p.add_argument("--out", help="also write every run's result and record here (JSON)")
    args = p.parse_args(argv)
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}

    results: dict[str, list[dict]] = {}
    steady = True
    for w in workloads:
        runs = results.setdefault(w, [])
        for i in range(args.runs):
            cmd = spec["command"] + [
                "--workload", w, "--seed", str(args.seed0 + i),
                "--seconds", str(spec["run_seconds"]), "--trace", "0",
            ]
            out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=True)
            lines = out.stdout.strip().splitlines()
            runs.append({**json.loads(lines[-1]), **json.loads(lines[-2])})
            print(f"{w} seed {args.seed0 + i}: correct={runs[-1]['correct']}",
                  file=sys.stderr)
        print(f"\n{w} ({len(runs)} runs)")
        print(f"  {'metric':16s} {'median':>12s} {'spread':>8s} {'bound':>7s}")
        for name, bound in bounds.items():
            med, sp = spreads([r["metrics"][name]["value"] for r in runs])
            flag = "" if sp <= bound / 3 else ("  > bound/3" if sp <= bound else "  > BOUND")
            if sp > bound / 3:
                steady = False
            print(f"  {name:16s} {med:12.4g} {sp:8.3f} {bound:7.2f}{flag}")
        print(f"  all correct: {all(r['correct'] for r in runs)}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(results, f, indent=1)
    return 0 if steady else 1


if __name__ == "__main__":
    sys.exit(main())
