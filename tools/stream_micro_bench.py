"""One micro-bench per streaming operator (r11, VERDICT item 7).

The streaming surface has no bench.py arm (the driver's harness times
batch queries), so this records per-operator wall time on a synthetic
mutation/document stream derived from the sf0.1 testdata: write the
input as N parquet log segments, run each streaming operator once with
an availableNow trigger, and report seconds end-to-end (stream start ->
sink drained).  The numbers are a profile of record, not a regression
gate — they include stream-engine fixed costs (offset log, state store
init) by design, since that is what an always-on job pays per restart.

Usage: python tools/stream_micro_bench.py [sf_dir] [out_json]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from hbase_spark.sources.tables import get_spark, load_table  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out_json = sys.argv[2] if len(sys.argv) > 2 else str(ROOT / "STREAM_MICRO_r11.json")
    spark = get_spark("stream_micro")
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="hb_stream_micro_")
    results: dict[str, float] = {}

    def bench(name, fn):
        t0 = time.time()
        fn()
        results[name] = round(time.time() - t0, 3)
        print(f"{name:28s} {results[name]:7.3f}s")

    # ---- inputs: the events melt as a 8-segment mutation log, and the
    # documents table as a 4-segment crawl drop (ts column added).
    cells = entrymod._events_cells(spark, sf_dir)
    log_dir = os.path.join(root, "mutlog")
    cells.repartition(8).write.parquet(log_dir)
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "ts", (F.lit(1_706_000_000_000) + F.col("doc_id") * 1000).cast("long")
    ).withColumn(
        "url",
        F.concat(F.lit("https://example.com/a/"), F.col("doc_id").cast("string")),
    )
    doc_dir = os.path.join(root, "docs")
    docs.repartition(4).write.parquet(doc_dir)
    n_docs = docs.count()
    n_cells = cells.count()
    print(f"inputs: {n_cells} cells x8 segments, {n_docs} docs x4 segments")

    from hbase_spark.model import cell_schema
    from hbase_spark.streaming.dedup import (
        stream_dedup,
        stream_minhash_candidates,
        stream_url_dedup,
    )
    from hbase_spark.streaming.merge import (
        latest_view_stream,
        mutation_stream,
        stream_merge,
    )

    doc_schema = spark.read.parquet(doc_dir).schema

    def doc_stream():
        return spark.readStream.schema(doc_schema).parquet(doc_dir)

    # 1. stream_merge: mutation log -> table append (WAL replication)
    def run_merge():
        q = stream_merge(
            mutation_stream(spark, log_dir),
            os.path.join(root, "table"),
            os.path.join(root, "ckpt_merge"),
        )
        q.awaitTermination()

    bench("stream_merge", run_merge)

    # 2. latest_view_stream: continuously-maintained resolved view
    def run_latest():
        q = latest_view_stream(
            mutation_stream(spark, log_dir).where(F.col("ts").isNotNull()),
            "micro_latest",
        )
        q.processAllAvailable()
        q.stop()

    bench("latest_view_stream", run_latest)

    # 3. stream_dedup: content-fingerprint first-seen within watermark
    def run_dedup():
        out = stream_dedup(doc_stream(), watermark="1 hour")
        q = (
            out.writeStream.format("noop")
            .option("checkpointLocation", os.path.join(root, "ckpt_dedup"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    bench("stream_dedup", run_dedup)

    # 4. stream_url_dedup: canonical-URL first-seen within watermark
    def run_url():
        out = stream_url_dedup(doc_stream(), watermark="1 hour")
        q = (
            out.writeStream.format("noop")
            .option("checkpointLocation", os.path.join(root, "ckpt_url"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    bench("stream_url_dedup", run_url)

    # 5. stream_minhash_candidates: stateful LSH banding (Python state)
    def run_minhash():
        out = stream_minhash_candidates(
            doc_stream(), num_hashes=64, bands=16, watermark="1 hour"
        )
        q = (
            out.writeStream.format("noop")
            .option("checkpointLocation", os.path.join(root, "ckpt_mh"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    bench("stream_minhash_candidates", run_minhash)

    # 6. curate_documents as a stream hop (rule gates + lang + tokens)
    from hbase_spark.streaming.ingest import curate_documents

    def run_curate():
        out = curate_documents(doc_stream(), ruleset="gopher")
        q = (
            out.writeStream.format("noop")
            .option("checkpointLocation", os.path.join(root, "ckpt_cur"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    bench("curate_documents(stream)", run_curate)

    with open(out_json, "w") as f:
        json.dump(
            {
                "sf": sf_dir,
                "n_cells": n_cells,
                "n_docs": n_docs,
                "seconds": results,
                "note": (
                    "availableNow end-to-end wall incl. stream-engine fixed "
                    "costs; inputs written fresh per run under /tmp"
                ),
            },
            f,
            indent=1,
        )
    print("wrote", out_json)
    shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
