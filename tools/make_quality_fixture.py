"""Fit the PORTABLE quality classifier once and commit its exported
weights as a repo fixture (fixtures/quality_clf/) — the train-once /
replay-forever layout the hash-checked serving oracle depends on:

- the Spark arm (``doc_quality_serving``) loads these weights and
  scores whatever corpus it is pointed at through the real portable
  serving path (functions/classifier.portable_quality_scores);
- the DuckDB twin embeds the SAME (bucket, weight) pairs and
  recomputes every score from ``documents.text`` independently.

Labels are the CC-Net discriminator split (Wenzek et al. 2020):
lang == 'en' as the reference class vs the rest of the crawl — the
same weak-label scheme as the rows-only ``doc_quality_classifier``
arm, and guaranteed mixed on the synthetic corpus (the Gopher rule
battery rejects every synthetic doc — they are ~50 words, under the
Gopher minimum — which would fit a degenerate single-class model).
Which corpus fitted the weights is irrelevant to the parity check —
the fixture only has to be a real, frozen LR model.

Usage: python tools/make_quality_fixture.py  (idempotent; rerun to
refit after featurization changes, then re-commit the fixture)
"""

from __future__ import annotations

import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from pyspark.sql import functions as F  # noqa: E402

from hbase_spark.functions.classifier import (  # noqa: E402
    save_portable_quality_classifier,
    train_quality_classifier_portable,
)
from hbase_spark.sources.tables import get_spark, load_table  # noqa: E402

FIXTURE = str(ROOT / "fixtures" / "quality_clf")


def main() -> None:
    spark = get_spark("quality-fixture", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")
    labeled = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id",
        "text",
        (F.col("lang") == "en").cast("double").alias("label"),
    )
    clf = train_quality_classifier_portable(labeled, max_iter=50)
    save_portable_quality_classifier(clf, FIXTURE)
    nz = sum(1 for w in clf.weights if w != 0.0)
    print(
        f"saved {FIXTURE}: {clf.num_features} buckets ({nz} non-zero), "
        f"intercept {clf.intercept:.6f}, n={clf.n}"
    )


if __name__ == "__main__":
    main()
