#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at the smallest input.

Run from the root of a checkout:

    python3 perfbench/smoke.py

Runs every workload of BENCHMARK.json once untraced and once traced at
``--scale tiny`` and fails unless each run exits 0, passes its correctness
check, and reports exactly the metrics BENCHMARK.json declares, each with
its declared unit.
"""

from __future__ import annotations

import json
import subprocess
import sys


def main() -> int:
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    failures = []
    for wl in bench["workloads"]:
        for trace, section in ((0, "end_to_end"), (1, "per_layer")):
            cmd = bench["command"] + [
                "--workload", wl["name"], "--seed", "1", "--seconds", "1",
                "--trace", str(trace), "--scale", "tiny",
            ]
            proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
            label = f"{wl['name']} trace={trace}"
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                failures.append(f"{label}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
                continue
            result = json.loads(lines[-1])
            want = {m["name"]: m["unit"] for m in bench[section]}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            before = len(failures)
            if not result["correct"] or result["failed"] or result["attempted"] < 1:
                failures.append(f"{label}: check failed {result}\n{proc.stderr[-3000:]}")
            if got != want:
                failures.append(f"{label}: metrics {got} != declared {want}")
            print(f"{label}: {'ok' if len(failures) == before else 'FAILED'}")
            for name, v in result["metrics"].items():
                print(f"  {name} = {v['value']:.6g} {v['unit']}")
    for f in failures:
        print(f"FAIL {f}", file=sys.stderr)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
