#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

Runs the benchmark command once per seed for a workload and reports, for
each end-to-end metric, the median and the inter-quartile range as a
share of the median (``statistics.quantiles(values, n=4)``), next to the
metric's bound from ``BENCHMARK.json``. Run from the repository root:

    python3 perfbench/spread.py bi_semantic --seeds 1 2 3 4 5
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys


def main(argv) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("workload")
    p.add_argument("--seeds", type=int, nargs="+", required=True)
    args = p.parse_args(argv)
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    values = {name: [] for name in bounds}
    for seed in args.seeds:
        cmd = spec["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(spec["run_seconds"]), "--trace", "0",
        ]
        proc = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
        if proc.returncode != 0:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
            return 1
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        row = {k: v["value"] for k, v in result["metrics"].items()}
        print(f"seed {seed} correct={result['correct']} "
              + " ".join(f"{k}={v:.4g}" for k, v in row.items()), flush=True)
        for k in values:
            values[k].append(row[k])
    worst = 0.0
    for k, xs in values.items():
        q1, med, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med
        if k != "setup_s":
            worst = max(worst, spread / bounds[k])
        print(f"{k:16s} median={med:.4g} spread={spread:.3f} bound={bounds[k]} "
              f"spread/bound={spread / bounds[k]:.2f}")
    print(f"worst spread/bound (setup_s excluded): {worst:.2f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
