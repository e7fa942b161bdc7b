#!/usr/bin/env python3
"""Smoke test of the benchmark's own code.

For every workload in ``BENCHMARK.json`` (or the ones named), runs one
smoke pass at sf0.001 untraced and traced, and checks that

* the run exits 0 and its results match the oracle (``correct``);
* the last output line carries exactly the metric names and units that
  ``BENCHMARK.json`` declares (``end_to_end`` untraced, ``per_layer``
  traced).

The traced run itself fails if any operation's layer self-times cover
less than 90% of its wall time, or if a Spark job starts in the query's
own code or inside ``Model.to_df``. Run from the repository root:

    python3 perfbench/selftest.py [workload ...]
"""

from __future__ import annotations

import json
import subprocess
import sys

from workloads import WORKLOADS


def main(argv) -> int:
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    declared = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    listed = [w["name"] for w in spec["workloads"]]
    problems = [f"{w}: not defined in workloads.py" for w in listed if w not in WORKLOADS]
    for workload in argv or listed:
        for trace in (0, 1):
            cmd = spec["command"] + [
                "--workload", workload, "--seed", "0", "--seconds", "0",
                "--trace", str(trace), "--smoke",
            ]
            proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
            tag = f"{workload} trace={trace}"
            if proc.returncode != 0:
                problems.append(f"{tag}: exit {proc.returncode}: {proc.stderr[-2000:]}")
                continue
            result = json.loads(proc.stdout.strip().splitlines()[-1])
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            if got != declared[trace]:
                problems.append(f"{tag}: metrics {got} != declared {declared[trace]}")
            if not result["correct"]:
                problems.append(f"{tag}: incorrect results: {proc.stdout[-1500:]}")
            print(f"{tag}: ok={not problems} attempted={result['attempted']}", flush=True)
    for p in problems:
        print("FAIL", p)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
