"""Dump `.explain("formatted")` for every bench arm into
<outdir>/<query>_<tag>.txt — before/after plan shapes (Exchange count,
join strategy, PushedFilters/ReadSchema, codegen spans, Python eval
nodes) and the plan-identity evidence for refactors.

Usage: python tools/dump_arm_plans.py <outdir> <tag> [sf_dir] [query ...]

``sf_dir`` defaults to ``$SPARK_GRAFT_SF_DIR``.  Dumps are written
normalised, so two dumps of the same plan diff clean: expression ids
(``#123``), Java ``byte[]`` identity hashes (``[B@1a2b3c``) and the
session-global ``plan_id=`` counters all vary run to run and become
``#N``, ``[B@N`` and ``plan_id=N``.
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entrymod  # noqa: E402
from bench import EXTENDED, HEADLINE, headline_queries  # noqa: E402
from hbase_spark.sources.tables import get_spark  # noqa: E402

_RUN_VARYING = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"\[B@[0-9a-f]+"), "[B@N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
]


def normalise(plan: str) -> str:
    for pat, repl in _RUN_VARYING:
        plan = pat.sub(repl, plan)
    return plan


def main() -> None:
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    outdir, tag = sys.argv[1], sys.argv[2]
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir:
        sys.exit("sf_dir not given and $SPARK_GRAFT_SF_DIR unset")
    only = set(sys.argv[4:])
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark("arm_plans")
    spark.sparkContext.setLogLevel("ERROR")
    entrymod.prepare(spark, sf_dir)
    entrymod._pq_index_layout(spark, sf_dir)
    entrymod._quality_clf(spark, sf_dir)
    queries = headline_queries()
    for name in HEADLINE + EXTENDED:
        if only and name not in only:
            continue
        df = queries[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(outdir, f"{name}_{tag}.txt"), "w") as f:
            f.write(normalise(plan))
        print(f"wrote {name}_{tag}.txt")


if __name__ == "__main__":
    main()
