#!/usr/bin/env python3
"""Tiny-scale self-test of the benchmark.

    python3 perfbench/selftest.py [--trace-too]

Runs every workload once at the tiny scale (one pass, one set-up) and
asserts that the result line carries every metric BENCHMARK.json names,
each with its declared unit, that no op failed and that every output
check held (the command exits 0 only then).  ``--trace-too`` also runs
each workload traced and checks the per-layer names.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)


def run_one(workload: str, trace: int) -> dict:
    """Run one tiny workload; check its report line's error rate and
    return its result line."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", "1", "--trace", str(trace),
           "--scale", "tiny", "--passes", "2" if trace else "1"]
    proc = subprocess.run(cmd, cwd=CHECKOUT, capture_output=True, text=True,
                          timeout=600)
    lines = proc.stdout.strip().splitlines()
    assert proc.returncode == 0, (
        f"{workload} trace={trace}: exit {proc.returncode}\n"
        f"{proc.stderr[-3000:]}")
    report = json.loads(lines[-2])
    assert report["end_to_end"]["error_rate"] == {
        "value": 0.0, "unit": "fraction"}, report["end_to_end"]
    return json.loads(lines[-1])


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--trace-too", action="store_true")
    p.add_argument("--workload", action="append")
    args = p.parse_args()
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = args.workload or [w["name"] for w in spec["workloads"]]
    for trace in ([0, 1] if args.trace_too else [0]):
        want = spec["per_layer"] if trace else spec["end_to_end"]
        for name in names:
            res = run_one(name, trace)
            assert set(res) == {"correct", "attempted", "failed", "metrics"}
            assert res["correct"] is True and res["failed"] == 0, res
            assert res["attempted"] >= 1
            for m in want:
                got = res["metrics"].get(m["name"])
                assert got is not None, f"{name}: {m['name']} missing"
                assert got["unit"] == m["unit"], (name, m, got)
                assert isinstance(got["value"], (int, float)), (name, m, got)
            print(f"ok {name} trace={trace}: {len(want)} metrics, "
                  f"{res['attempted']} ops, error_rate 0", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
