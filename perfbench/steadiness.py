#!/usr/bin/env python3
"""Run-to-run steadiness of the end-to-end metrics.

    python3 perfbench/steadiness.py --seeds 1-10 [--workload NAME ...] \\
        [--trace 0|1] [--out perfbench/results/steadiness-set1.json]

Runs the benchmark once per (workload, seed), exactly as BENCHMARK.json
specifies the command, and reports for every metric of the result line
(end-to-end, or per-layer with ``--trace 1``) the median, the quartiles
(``statistics.quantiles(values, n=4)``) and the interquartile spread as
a share of the median, next to the metric's bound.  Each run's report
line (provenance, set-up split, per-kind medians) is kept beside it.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--workload", action="append")
    p.add_argument("--trace", choices=["0", "1"], default="0")
    p.add_argument("--out")
    args = p.parse_args()
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    names = args.workload or [w["name"] for w in spec["workloads"]]
    out = {"seeds": seeds(args.seeds), "run_seconds": spec["run_seconds"],
           "workloads": {}}
    for name in names:
        runs = []
        for seed in out["seeds"]:
            t0 = time.time()
            proc = subprocess.run(
                spec["command"] + ["--workload", name, "--seed", str(seed),
                                   "--seconds", str(spec["run_seconds"]),
                                   "--trace", args.trace],
                cwd=CHECKOUT, capture_output=True, text=True, timeout=900)
            wall = time.time() - t0
            lines = proc.stdout.strip().splitlines()
            runs.append({"seed": seed, "exit": proc.returncode,
                         "wall_s": wall, **json.loads(lines[-1]),
                         "report": json.loads(lines[-2])})
            print(f"{name} seed {seed}: exit {proc.returncode} "
                  f"{wall:.1f}s", file=sys.stderr, flush=True)
        summary = {}
        for metric in runs[0]["metrics"]:
            vals = [r["metrics"][metric]["value"] for r in runs]
            med = statistics.median(vals)
            q1, _, q3 = (statistics.quantiles(vals, n=4) if len(vals) > 1
                         else (med, med, med))
            summary[metric] = {
                "median": med, "q1": q1, "q3": q3,
                "spread": (q3 - q1) / med if med else None,
                "bound": bounds.get(metric), "values": vals,
            }
        out["workloads"][name] = {
            "summary": summary,
            "wall_s": [r["wall_s"] for r in runs],
            "all_correct": all(r["correct"] and r["exit"] == 0 for r in runs),
            "runs": [{k: r[k] for k in ("seed", "exit", "wall_s", "report")}
                     for r in runs],
        }
    text = json.dumps(out, indent=1)
    if args.out:
        with open(args.out, "w") as fh:
            fh.write(text + "\n")
    for name, w in out["workloads"].items():
        print(name, "correct" if w["all_correct"] else "FAILED",
              f"mean wall {statistics.mean(w['wall_s']):.1f}s")
        for metric, s in w["summary"].items():
            spread = "n/a" if s["spread"] is None else f"{s['spread']:.3f}"
            print(f"  {metric:32s} median {s['median']:.4g} "
                  f"spread {spread} bound {s['bound']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
