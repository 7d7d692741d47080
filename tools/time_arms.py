"""Time individual bench arms with repeats (median of k), same
methodology as bench.py (noop sink, warmup at sf0.001, prepare
untimed).  For optimization A/Bs on a noisy box: one process, arms
interleaved round-robin so ambient drift hits all arms equally.

Usage: python tools/time_arms.py [-k 5] arm [arm ...]
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

import __spark_entry__ as entrymod  # noqa: E402
from bench import headline_queries  # noqa: E402
from hbase_spark.sources.tables import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("-k", type=int, default=5)
    ap.add_argument("arms", nargs="+")
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    warm_dir = "/root/testdata/sf0.001"
    spark = get_spark("time_arms")
    spark.sparkContext.setLogLevel("ERROR")
    entrymod.prepare(spark, sf_dir)
    queries = headline_queries()
    need_pq = any("pq" in a for a in args.arms)
    if need_pq:
        entrymod._pq_index_layout(spark, sf_dir)
    if any("quality" in a for a in args.arms):
        entrymod._quality_clf(spark, sf_dir)
    for name in args.arms:
        queries[name](spark, warm_dir).write.format("noop").mode(
            "overwrite"
        ).save()
    times: dict[str, list[float]] = {a: [] for a in args.arms}
    for _ in range(args.k):
        for name in args.arms:
            spark.sparkContext.setJobDescription(f"arm:{name}")
            t0 = time.time()
            queries[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            times[name].append(time.time() - t0)
            spark.sparkContext.setJobDescription(None)
    for name, ts in times.items():
        med = statistics.median(ts)
        print(
            f"{name:32s} median {med:7.3f}  "
            + " ".join(f"{t:.3f}" for t in ts)
        )


if __name__ == "__main__":
    main()
