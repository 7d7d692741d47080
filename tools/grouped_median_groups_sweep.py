"""Group-cardinality stress for the bounded grouped median (round-8
verdict item 7): the r8 octave swept rows-per-group (one huge group,
narrowing active); this is the TRANSPOSE — total rows fixed, group
count swept to 4M — where the pressure points are the per-group state
frame (checkpoint + isEmpty scan) and the final rank-selection window
over millions of tiny partitions.

With every group under final_cap the narrowing loop must not run at
all (pinned by tests/test_aggregations.py's unionByName spy), so the
expected shape is near-flat wall-clock in G at fixed N: the work is
one grouped stats agg + one state checkpoint (G rows) + one
join+window pass over the N rows.  A super-linear G term would mean
the state frame or the window partitioning is the cliff.

The frame is deterministic (id arithmetic, no RNG); correctness is
cross-checked against percentile() at the smallest G.

Usage: python tools/grouped_median_groups_sweep.py
       [--rows 8000000] [--groups 1000,100000,1000000,4000000]
       [--out SCALESWEEP_grouped_median_groups.json]
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from pyspark.sql import functions as F  # noqa: E402

from hbase_spark.operators.aggregations import (  # noqa: E402
    grouped_median_two_phase,
)
from hbase_spark.sources.tables import get_spark  # noqa: E402


def frame(spark, rows: int, groups: int):
    return spark.range(rows).select(
        (F.col("id") % groups).alias("grp"),
        ((F.col("id") * 2654435761) % 100_000).cast("double").alias("v"),
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=8_000_000)
    ap.add_argument("--groups", default="1000,100000,1000000,4000000")
    ap.add_argument("--out", default="SCALESWEEP_grouped_median_groups.json")
    args = ap.parse_args()
    gs = [int(g) for g in args.groups.split(",")]

    os.environ.setdefault(
        "PYSPARK_SUBMIT_ARGS", "--driver-memory 16g pyspark-shell"
    )
    spark = get_spark("gm_groups_sweep")
    spark.sparkContext.setLogLevel("ERROR")

    # correctness cross-check + codegen warmup at a tiny size
    small = frame(spark, 100_000, 200)
    got = {
        r["grp"]: r["median"]
        for r in grouped_median_two_phase(small, F.col("v"), ["grp"]).collect()
    }
    exp = {
        r["grp"]: r["m"]
        for r in small.groupBy("grp")
        .agg(F.expr("percentile(v, 0.5)").alias("m"))
        .collect()
    }
    bad = [g for g in exp if abs(got[g] - exp[g]) > 1e-9]
    assert not bad, f"median mismatch on groups {bad[:5]}"

    results: dict[str, float] = {}
    for g in gs:
        df = frame(spark, args.rows, g)
        t0 = time.time()
        grouped_median_two_phase(df, F.col("v"), ["grp"]).write.format(
            "noop"
        ).mode("overwrite").save()
        results[str(g)] = round(time.time() - t0, 3)
        print(f"G={g}: {results[str(g)]}s", file=sys.stderr, flush=True)

    hi, mid = str(gs[-1]), str(gs[-2])
    alpha = round(
        math.log(results[hi] / max(results[mid], 1e-3))
        / math.log(gs[-1] / gs[-2]),
        2,
    )
    payload = {
        "rows": args.rows,
        "scales": results,
        "alpha_in_groups": alpha,
        "alpha_note": (
            f"log(t_G{hi}/t_G{mid})/log({gs[-1] / gs[-2]:g}) — the axis "
            "is GROUP COUNT at fixed rows; near-0 = flat (the claim), "
            "1 = linear in groups"
        ),
    }
    with open(args.out, "w") as f:
        json.dump(payload, f, indent=1)
    print(json.dumps(payload))


if __name__ == "__main__":
    main()
