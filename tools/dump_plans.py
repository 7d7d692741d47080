"""Dump the executed physical plans of the headline queries to
PLANS.md — the evidence trail for plan-shape claims (broadcast masking,
pushdown, codegen spans).  Run: python tools/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

import __spark_entry__ as entrymod  # noqa: E402
from bench import EXTENDED, HEADLINE, headline_queries  # noqa: E402
from hbase_spark.sources.tables import get_spark  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plans", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")
    entrymod.prepare(spark, sf_dir)
    entrymod._pq_index_layout(spark, sf_dir)  # pq probe fixture
    entrymod._quality_clf(spark, sf_dir)  # quality score-arm fixture
    queries = headline_queries()
    out = ["# PLANS — executed physical plans of the headline queries\n"]
    out.append(f"Scale: `{sf_dir}`; final AQE plans (post-materialization).\n")
    for name in HEADLINE + EXTENDED:
        df = queries[name](spark, sf_dir)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        plan = plan.split("Initial Plan")[0].rstrip().rstrip("+-").rstrip()
        out.append(f"\n## {name}\n\n```\n{plan}\n```\n")
        if name == "agg_endpoint":
            # the returned frame is the client-side merged row (the
            # AggregationClient analog), so its plan is a local scan;
            # the REAL work is the two scans of the two-phase median
            # protocol — dump scan 1 (endpoint aggregate over the
            # resolved melt) explicitly so the evidence trail shows it
            from hbase_spark.operators.resolve import resolve  # noqa: PLC0415
            from pyspark.sql import functions as F  # noqa: PLC0415

            visible = resolve(
                entrymod._lineitem_cells_layout(spark, sf_dir), versions=1
            )
            v = F.col("value").cast("decimal(18,2)").cast("decimal(38,10)")
            scan1 = visible.select(v.alias("value")).agg(
                F.max("value"), F.min("value"), F.sum("value"),
                F.count("value"), F.stddev_pop(F.col("value").cast("double")),
            )
            scan1.collect()
            p1 = scan1._jdf.queryExecution().executedPlan().toString()
            p1 = p1.split("Initial Plan")[0].rstrip().rstrip("+-").rstrip()
            out.append(
                "\nThe returned frame above is the client-merged result row"
                " (AggregationClient analog).  Scan 1 of the two-phase"
                " median — the endpoint aggregate whose count/min/max are"
                " the median's phase-1 stats — executes as:\n"
                f"\n```\n{p1}\n```\n\nScan 2 is the histogram round +"
                " bounded top-k over the persisted single-value column"
                " (operators/aggregations.py median_two_phase; equality"
                " with percentile() pinned in tests/test_aggregations).\n"
            )
    with open(ROOT / "PLANS.md", "w") as f:
        f.write("".join(out))
    print(f"wrote PLANS.md with {len(HEADLINE + EXTENDED)} plans")


if __name__ == "__main__":
    main()
