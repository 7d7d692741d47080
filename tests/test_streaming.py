"""Streaming merge invariant (FIXTURES.md §A3 / SURVEY.md §5.2 item 6):
replaying a mutation log through the streaming foreachBatch merge must
yield exactly the same resolved state as batch resolve() over all
cells; plus WALPlayer time-windowed replay and the latest-view stream.
"""

import shutil
import tempfile

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from hbase_spark.model import CellType, cell_schema
from hbase_spark.operators.resolve import resolve
from hbase_spark.streaming.merge import (
    latest_view_stream,
    mutation_stream,
    stream_merge,
    wal_player,
)


@pytest.fixture()
def dirs():
    base = tempfile.mkdtemp(prefix="hbase_spark_stream_")
    yield {
        "log": f"{base}/log",
        "table": f"{base}/table",
        "ckpt": f"{base}/ckpt",
    }
    shutil.rmtree(base, ignore_errors=True)


def _mutation_log(spark):
    """A deterministic log: puts with increasing versions, deletes
    interleaved, several batches (files)."""
    batches = []
    seq = 0
    rows = [f"k{i:03d}" for i in range(50)]
    for b in range(4):
        cells = []
        for i, r in enumerate(rows):
            cells.append((r, "m", "c01", 1000 + b, CellType.PUT, f"v{b}-{i}", seq))
            seq += 1
        if b == 2:
            # delete-column tombstones for every 10th row
            for r in rows[::10]:
                cells.append((r, "m", "c01", 1002, CellType.DELETE_COLUMN, None, seq))
                seq += 1
        batches.append(cells)
    return batches


def test_stream_merge_equals_batch_resolve(spark, dirs):
    batches = _mutation_log(spark)
    all_cells = [c for b in batches for c in b]
    for i, b in enumerate(batches):
        spark.createDataFrame(b, schema=cell_schema()).coalesce(1).write.mode(
            "append"
        ).parquet(dirs["log"])

    stream = mutation_stream(spark, dirs["log"], max_files_per_trigger=1)
    q = stream_merge(stream, dirs["table"], dirs["ckpt"])
    q.awaitTermination(120)

    merged = spark.read.parquet(dirs["table"])
    batch_df = spark.createDataFrame(all_cells, schema=cell_schema())
    got = {
        (r.row, r.qualifier, r.ts, r.value)
        for r in resolve(merged, versions=1).collect()
    }
    want = {
        (r.row, r.qualifier, r.ts, r.value)
        for r in resolve(batch_df, versions=1).collect()
    }
    assert got == want
    # tombstoned rows: ts<=1002 masked, but the b=3 put at ts=1003 survives
    assert ("k000", "c01", 1003, "v3-0") in got


def test_stream_merge_is_incremental(spark, dirs):
    """New log files after the first run are picked up by a resumed
    stream without reprocessing old ones (checkpoint = offsets)."""
    batches = _mutation_log(spark)
    for b in batches[:2]:
        spark.createDataFrame(b, schema=cell_schema()).coalesce(1).write.mode(
            "append"
        ).parquet(dirs["log"])
    q = stream_merge(mutation_stream(spark, dirs["log"]), dirs["table"], dirs["ckpt"])
    q.awaitTermination(120)
    n1 = spark.read.parquet(dirs["table"]).count()

    for b in batches[2:]:
        spark.createDataFrame(b, schema=cell_schema()).coalesce(1).write.mode(
            "append"
        ).parquet(dirs["log"])
    q2 = stream_merge(mutation_stream(spark, dirs["log"]), dirs["table"], dirs["ckpt"])
    q2.awaitTermination(120)
    merged = spark.read.parquet(dirs["table"])
    assert merged.count() == sum(len(b) for b in batches)
    assert merged.count() > n1
    # no duplicates: every (seq) appears exactly once
    assert merged.select("seq").distinct().count() == merged.count()


def test_wal_player_time_window(spark, dirs):
    batches = _mutation_log(spark)
    for b in batches:
        spark.createDataFrame(b, schema=cell_schema()).coalesce(1).write.mode(
            "append"
        ).parquet(dirs["log"])
    replayed = wal_player(spark, dirs["log"], time_range=(1001, 1003))
    assert {r.ts for r in replayed.select("ts").distinct().collect()} == {1001, 1002}


def test_latest_view_stream(spark, dirs):
    batches = _mutation_log(spark)
    for b in batches:
        spark.createDataFrame(b, schema=cell_schema()).coalesce(1).write.mode(
            "append"
        ).parquet(dirs["log"])
    q = latest_view_stream(mutation_stream(spark, dirs["log"]), "latest_view_t")
    q.processAllAvailable()
    q.stop()
    view = spark.sql("SELECT * FROM latest_view_t")
    row = view.filter("row = 'k001'").collect()[0]
    assert row.ts == 1003 and row.value == "v3-1"
    assert view.count() == 50


def test_streaming_increment_totals(spark, dirs):
    # write-heavy increments in streaming form: totals accumulate
    # across micro-batches via applyInPandasWithState
    from hbase_spark.streaming.stateful import streaming_increment_totals

    b1 = [("r1", "f", "cnt", 1, CellType.PUT, "5", 1),
          ("r2", "f", "cnt", 1, CellType.PUT, "10", 2)]
    b2 = [("r1", "f", "cnt", 2, CellType.PUT, "7", 3),
          ("r1", "f", "oth", 2, CellType.PUT, "1", 4)]
    spark.createDataFrame(b1, schema=cell_schema()).write.parquet(dirs["log"])
    spark.createDataFrame(b2, schema=cell_schema()).write.mode("append").parquet(
        dirs["log"]
    )
    stream = mutation_stream(spark, dirs["log"], max_files_per_trigger=1)
    q = (
        streaming_increment_totals(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("totals")
        .option("checkpointLocation", dirs["ckpt"])
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # last update per key is the running total
    rows = spark.sql(
        "SELECT row, qualifier, max(total) AS total FROM totals GROUP BY 1,2"
    ).collect()
    got = {(r.row, r.qualifier): r.total for r in rows}
    assert got == {("r1", "cnt"): 12, ("r2", "cnt"): 10, ("r1", "oth"): 1}


def test_serial_apply_orders_and_dedups(spark, dirs):
    from hbase_spark.streaming.stateful import serial_apply

    # batch 1 delivers seq 3,1; batch 2 replays seq 1 (stale) + new 4
    b1 = [("r1", "f", "q", 1, CellType.PUT, "s3", 3),
          ("r1", "f", "q", 1, CellType.PUT, "s1", 1)]
    b2 = [("r1", "f", "q", 1, CellType.PUT, "s1", 1),
          ("r1", "f", "q", 1, CellType.PUT, "s4", 4)]
    spark.createDataFrame(b1, schema=cell_schema()).coalesce(1).write.parquet(
        dirs["log"]
    )
    spark.createDataFrame(b2, schema=cell_schema()).coalesce(1).write.mode(
        "append"
    ).parquet(dirs["log"])
    stream = mutation_stream(spark, dirs["log"], max_files_per_trigger=1)
    q = (
        serial_apply(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("serial")
        .option("checkpointLocation", dirs["ckpt"])
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT seq, value FROM serial ORDER BY seq").collect()
    # within-batch ordered by seq; stale replay of seq 1 dropped
    assert [(r.seq, r.value) for r in rows] in (
        [(1, "s1"), (3, "s3"), (4, "s4")],   # batch1 first
        [(1, "s1"), (3, "s3"), (4, "s4")],
    )


# -- event-time windowed rollups + watermark (streaming/windows.py) ----

HOUR = 3_600_000


def _timed_log(spark, dirs):
    """Two log files: file 1 = hours 0-2; file 2 = hour 3 plus one
    VERY late cell back in hour 0 (beyond the 1h watermark once the
    stream has seen hour 3)."""
    def cells(rows):
        return spark.createDataFrame(rows, schema=cell_schema())

    f1 = [
        ("r1", "m", "q", 0 * HOUR + 60_000, CellType.PUT, "1.5", 1),
        ("r2", "m", "q", 0 * HOUR + 120_000, CellType.PUT, "2.5", 2),
        ("r3", "m", "q", 1 * HOUR + 60_000, CellType.PUT, "3.0", 3),
        ("r4", "m", "q", 2 * HOUR + 60_000, CellType.PUT, "4.0", 4),
    ]
    f2 = [
        ("r5", "m", "q", 3 * HOUR + 60_000, CellType.PUT, "5.0", 5),
        # late by ~3h: its hour-0 window closed when the watermark
        # (max_ts - 1h) passed hour 1
        ("r6", "m", "q", 0 * HOUR + 90_000, CellType.PUT, "100.0", 6),
    ]
    path = f"{dirs['log']}/b1"
    cells(f1).coalesce(1).write.mode("overwrite").parquet(path)
    return path, cells(f2)


def test_windowed_rollup_stream_drops_late_data(spark, dirs):
    from hbase_spark.streaming.windows import run_windowed_rollup

    path, segment2 = _timed_log(spark, dirs)
    stream = spark.readStream.schema(cell_schema()).parquet(path)
    q = run_windowed_rollup(
        stream,
        "rollup_sink",
        checkpoint=dirs["ckpt"],
        window="1 hour",
        watermark="1 hour",
        group_cols=("qualifier",),
    )
    # batch 1: segment 1 only (advances the watermark to 1h01)
    q.processAllAvailable()
    # batch 2: the late-arrival segment lands after the watermark moved
    segment2.coalesce(1).write.mode("append").parquet(path)
    q.processAllAvailable()
    q.stop()
    got = {
        (r.win_start // HOUR, float(r.total))
        for r in spark.sql("SELECT * FROM rollup_sink").collect()
    }
    # hour-0 window finalized WITHOUT the late 100.0 cell (it arrived
    # after the watermark passed the window end)
    assert (0, 4.0) in got
    # hour-1 emitted once the watermark (3h01 - 1h = 2h01) passed 2h00
    assert (1, 3.0) in got
    # hour-2 (ends 3h00) and hour-3 are still open -> not emitted yet
    assert all(h in (0, 1) for h, _ in got)


def test_windowed_rollup_batch_equals_stream_definition(spark, dirs):
    """The same windowed_rollup definition over a batch frame matches a
    hand-rolled batch rollup (watermark is a no-op in batch)."""
    from hbase_spark.streaming.windows import windowed_rollup

    rows = [
        ("r1", "m", "q", 10 * HOUR + 1, CellType.PUT, "1.0", 1),
        ("r2", "m", "q", 10 * HOUR + 2, CellType.PUT, "2.0", 2),
        ("r3", "m", "x", 11 * HOUR + 1, CellType.PUT, "4.0", 3),
    ]
    cells = spark.createDataFrame(rows, schema=cell_schema())
    got = {
        (r.win_start // HOUR, r.qualifier, float(r.total), r.n)
        for r in windowed_rollup(
            cells, window="1 hour", group_cols=("qualifier",)
        ).collect()
    }
    assert got == {(10, "q", 3.0, 2), (11, "x", 4.0, 1)}


def test_stream_dedup_drops_redelivered_docs(spark, dirs):
    """Streaming exact-dedup: re-delivered documents (same normalized
    text, later event time, within the watermark) are dropped; distinct
    documents all pass."""
    import time as _time

    from hbase_spark.streaming.dedup import stream_dedup

    schema = "doc_id long, text string, ts long"
    src = dirs["log"]
    spark.createDataFrame(
        [
            (1, "the quick brown fox", 1_000),
            (2, "jumps over the dog", 2_000),
            (3, "The  quick brown FOX!", 3_000),  # near-identical -> same fp
        ],
        schema,
    ).coalesce(1).write.mode("overwrite").parquet(src)
    deduped = stream_dedup(
        spark.readStream.schema(schema).parquet(src), watermark="10 seconds"
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_out")
        .option("checkpointLocation", dirs["ckpt"])
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        # second delivery: one true duplicate of doc 2, one new doc
        spark.createDataFrame(
            [
                (4, "jumps over the dog", 4_000),
                (5, "completely new text", 5_000),
            ],
            schema,
        ).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        _time.sleep(0.5)
        q.processAllAvailable()
        got = {
            r.doc_id for r in spark.sql("SELECT doc_id FROM dedup_out").collect()
        }
    finally:
        q.stop()
    assert got == {1, 2, 5}  # 3 deduped against 1, 4 against 2


def test_stream_dedup_agrees_with_batch_twin(spark, dirs):
    from hbase_spark.streaming.dedup import batch_dedup_twin

    df = spark.createDataFrame(
        [
            (1, "alpha beta", 1_000),
            (2, "alpha  BETA", 2_000),
            (3, "gamma", 3_000),
        ],
        "doc_id long, text string, ts long",
    )
    got = {r.doc_id for r in batch_dedup_twin(df.orderBy("ts")).collect()}
    assert got == {1, 3}


def test_wal_observer_rewrites_and_notifies(spark, dirs):
    """WALObserver chain on stream_merge: pre_wal_write filters a
    family out of every micro-batch, post_wal_write counts batches."""
    from pyspark.sql import functions as F

    from hbase_spark.streaming.merge import WALObserver

    batches = _mutation_log(spark)
    extra = [("kX", "skip", "c01", 1000, CellType.PUT, "drop-me", 999)]
    for b in batches:
        spark.createDataFrame(b + extra, schema=cell_schema()).coalesce(
            1
        ).write.mode("append").parquet(dirs["log"])

    seen = []
    ob = WALObserver(
        pre_wal_write=lambda df: df.filter(F.col("family") != "skip"),
        post_wal_write=lambda df, epoch: seen.append(epoch),
    )
    stream = mutation_stream(spark, dirs["log"], max_files_per_trigger=2)
    q = stream_merge(stream, dirs["table"], dirs["ckpt"], observers=[ob])
    q.awaitTermination(120)

    merged = spark.read.parquet(dirs["table"])
    assert merged.filter(F.col("family") == "skip").count() == 0
    assert merged.filter(F.col("family") == "m").count() > 0
    assert len(seen) >= 2  # one notification per micro-batch


def test_log_cleaner_removes_aged_segments(spark, dirs, tmp_path):
    """TimeToLiveLogCleaner: segments older than the TTL are removed by
    mtime; fresh segments and a resumed checkpointed stream are
    untouched."""
    import os

    from hbase_spark.streaming.merge import log_cleaner

    log = str(tmp_path / "log")
    spark.range(3).selectExpr("id").write.mode("append").parquet(log)
    files = sorted(
        f for f in os.listdir(log) if f.endswith(".parquet")
    )
    assert files
    old = os.path.join(log, files[0])
    os.utime(old, (1_000_000, 1_000_000))  # far in the past
    # "now" pinned just after the fresh files' real mtimes, so only the
    # backdated segment is older than the one-hour TTL
    now_ms = int(
        max(
            os.path.getmtime(os.path.join(log, f)) for f in files[1:]
        ) * 1000
    ) + 1000
    deleted = log_cleaner(log, ttl_ms=3_600_000, now_ms=now_ms)
    assert old in deleted
    assert not os.path.exists(old)
    # fresh files (mtime ~now at write time) survive a generous TTL
    remaining = [f for f in os.listdir(log) if f.endswith(".parquet")]
    assert len(remaining) == len(files) - 1
    assert log_cleaner(log, ttl_ms=10**15, now_ms=now_ms) == []


def test_wal_restore_hooks_rewrite_and_notify(spark, dirs):
    """preWALRestore rewrites the replayed edits; postWALRestore is
    notified with the final frame (RegionObserver.java:1395,1416)."""
    from hbase_spark.plans.observers import Observer

    batches = _mutation_log(spark)
    for b in batches:
        spark.createDataFrame(b, schema=cell_schema()).coalesce(1).write.mode(
            "append"
        ).parquet(dirs["log"])
    seen = {}
    ob = Observer(
        pre_wal_restore=lambda df: df.withColumn(
            "value", F.concat(F.lit("restored:"), F.col("value"))
        ),
        post_wal_restore=lambda df: seen.__setitem__("n", df.count()),
    )
    plain = wal_player(spark, dirs["log"], time_range=(1001, 1003))
    replayed = wal_player(
        spark, dirs["log"], time_range=(1001, 1003), observers=[ob]
    )
    vals = [r.value for r in replayed.filter("value is not null").collect()]
    assert vals and all(v.startswith("restored:") for v in vals)
    assert seen["n"] == replayed.count() == plain.count()


def test_stream_warc_ingests_archives_as_they_land(spark, tmp_path):
    """stream_warc: the binaryFile stream discovers crawl archives and
    splits records task-side; a second archive landing after the first
    run is picked up incrementally (checkpointed offsets)."""
    from hbase_spark.sources.warc import encode_warc, stream_warc, warc_documents

    drop = tmp_path / "drop"
    drop.mkdir()
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def resp(i, text):
        return {"warc_type": "response", "record_id": f"<urn:uuid:{i}>",
                "target_uri": f"http://ex.org/{i}",
                "content_type": "text/html", "content": text.encode()}

    (drop / "a.warc.gz").write_bytes(
        encode_warc([resp(1, "first page"), resp(2, "second page")],
                    compress=True))

    def run():
        q = (
            stream_warc(spark, str(drop))
            .transform(warc_documents)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    assert {r.source for r in spark.read.parquet(sink).collect()} == {
        "http://ex.org/1", "http://ex.org/2"
    }
    (drop / "b.warc").write_bytes(encode_warc([resp(3, "third page")]))
    run()
    got = spark.read.parquet(sink).collect()
    assert {r.source for r in got} == {f"http://ex.org/{i}" for i in (1, 2, 3)}
    assert len(got) == 3  # archive a was NOT reprocessed


def test_stream_url_dedup_collapses_canonical_variants(spark, dirs, tmp_path):
    """Streaming URL dedup: noisy variants of one canonical URL
    (tracking params, case, www., fragment) collapse to the first-seen
    row within the watermark; distinct canonical URLs all pass."""
    from hbase_spark.streaming.dedup import stream_url_dedup

    schema = "doc_id long, url string, ts long"
    src = str(tmp_path / "urls")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(
        [
            (1, "https://a.com/x", 1_000),
            (2, "HTTPS://WWW.A.COM/x?utm_source=rss#top", 2_000),
            (3, "https://a.com/y", 3_000),
        ],
        schema,
    ).coalesce(1).write.mode("overwrite").parquet(src)
    out = stream_url_dedup(
        spark.readStream.schema(schema).parquet(src), watermark="10 seconds"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("url_dedup_out")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            r.doc_id
            for r in spark.sql("SELECT doc_id FROM url_dedup_out").collect()
        }
    finally:
        q.stop()
    assert got == {1, 3}


def test_stream_curate_warc_end_to_end(spark, tmp_path):
    """The full ingest-as-it-lands pipeline (streaming/ingest.py):
    WARC archives -> documents -> canonical-URL streaming dedup ->
    Gopher gate -> parquet append.  URL variants of one page collapse
    to the first-seen record; a boilerplate doc fails the quality
    gate; curated rows land with audit columns."""
    from hbase_spark.sources.warc import encode_warc
    from hbase_spark.streaming.ingest import stream_curate_warc

    good = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 6
        + "the of and that"
    )
    crawl = tmp_path / "crawl"
    crawl.mkdir()

    def rec(i, uri, text, date="2024-01-01T00:00:00Z"):
        return {
            "warc_type": "response",
            "record_id": f"<urn:uuid:{i}>",
            "target_uri": uri,
            "warc_date": date,
            "content_type": "text/plain",
            "content": text.encode(),
        }

    (crawl / "a.warc").write_bytes(
        encode_warc(
            [
                rec(1, "https://ex.com/page?utm_source=x#frag", good),
                # fails the Gopher word-count rule
                rec(2, "https://ex.com/other", "tiny doc"),
            ]
        )
    )
    (crawl / "b.warc").write_bytes(
        encode_warc(
            [
                # the same page as record 1 after canonicalization
                rec(3, "HTTPS://EX.COM/page/", good + " again"),
                rec(4, "https://ex.com/third", good),
            ]
        )
    )

    q = stream_curate_warc(
        spark,
        str(crawl),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        min_tokens=10,
    )
    q.awaitTermination(120)

    out = spark.read.parquet(str(tmp_path / "out"))
    rows = {r["source"]: r for r in out.collect()}
    # one of the two URL-variant records survived, plus the third page;
    # the tiny doc failed the Gopher word-count rule
    canon = {u for u in rows if "page" in u}
    assert len(canon) == 1
    assert "https://ex.com/third" in rows
    assert all(r["gopher_keep"] for r in rows.values())
    assert all(r["n_tokens"] >= 10 for r in rows.values())
    assert all(r["lang_pred"] is not None for r in rows.values())

    # re-running against the same checkpoint ingests nothing new
    q2 = stream_curate_warc(
        spark,
        str(crawl),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        min_tokens=10,
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(str(tmp_path / "out")).count() == len(rows)


def test_curate_documents_rulesets(spark):
    """curate_documents(ruleset=): 'c4' line-cleans and gates on the
    C4 page rules, 'both' requires both gates; the gopher default is
    unchanged (back-compat gopher_keep alias included)."""
    import pytest

    from hbase_spark.streaming.ingest import curate_documents

    gopher_ok = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa. " * 6
        + "the of and that went there today. yes it did! truly so.\n"
        + "please enable javascript to view content."
    )
    rows = [(1, gopher_ok), (2, gopher_ok + "\nlorem ipsum dolor sit x.")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    c4df = curate_documents(docs, ruleset="c4")
    c4 = {r.doc_id: r for r in c4df.collect()}
    assert set(c4) == {1}  # lorem ipsum page dropped
    assert "javascript" not in c4[1].text  # line-cleaned
    assert c4[1].quality_keep
    # gopher_keep only exists when Gopher rules actually gated
    assert "gopher_keep" not in c4df.columns
    assert "gopher_keep" in curate_documents(docs, ruleset="both").columns
    both = {r.doc_id for r in
            curate_documents(docs, ruleset="both").collect()}
    assert both == {1}
    with pytest.raises(ValueError):
        curate_documents(docs, ruleset="bogus")


def test_stream_curate_warc_handles_missing_date(spark, tmp_path):
    """A record without a parseable WARC-Date must not feed a NULL
    event time into the watermark — it ingests with epoch-0 time."""
    from hbase_spark.sources.warc import encode_warc
    from hbase_spark.streaming.ingest import stream_curate_warc

    good = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 6
        + "the of and that"
    )
    crawl = tmp_path / "crawl"
    crawl.mkdir()
    (crawl / "a.warc").write_bytes(
        encode_warc(
            [
                {
                    "warc_type": "response",
                    "record_id": "<urn:uuid:nd>",
                    "target_uri": "https://ex.com/undated",
                    "content_type": "text/plain",
                    "content": good.encode(),
                }
            ]
        )
    )
    q = stream_curate_warc(
        spark, str(crawl), str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    out = spark.read.parquet(str(tmp_path / "out"))
    assert out.count() == 1
    assert out.first()["source"] == "https://ex.com/undated"


def test_stream_minhash_candidates_equals_batch_banding(spark, dirs):
    """Streaming MinHash near-dup (streaming/dedup.py
    stream_minhash_candidates): over an availableNow run the emitted
    candidate-pair SET equals batch minhash_candidates on the same
    docs — including pairs whose members arrived in DIFFERENT
    micro-batches (the bucket state carries the earlier member)."""
    from hbase_spark.functions.dedup import minhash_candidates
    from hbase_spark.streaming.dedup import stream_minhash_candidates

    base = (
        "the quick brown fox jumps over the lazy dog and runs far "
        "away into the deep dark forest tonight"
    )
    rows1 = [
        (1, base, 1_700_000_000_000),
        (2, base + " extra", 1_700_000_001_000),
        (3, "completely different words about spark shuffles and joins",
         1_700_000_002_000),
    ]
    rows2 = [
        (4, base + " again", 1_700_000_003_000),  # pairs with 1 and 2
        (5, "completely different words about spark shuffles and joins!",
         1_700_000_004_000),                       # pairs with 3
    ]
    schema = "doc_id long, text string, ts long"
    log = dirs["log"]
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(log)
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(log)

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(log)
    )
    q = (
        stream_minhash_candidates(stream, bands=16, num_hashes=64)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("mh_cands")
        .option("checkpointLocation", dirs["ckpt"])
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # two files, two micro-batches: no trailing no-data batch
    assert len(q.recentProgress) == 2
    got = {
        (r.a, r.b)
        for r in spark.sql("SELECT DISTINCT a, b FROM mh_cands").collect()
    }

    docs = spark.createDataFrame(rows1 + rows2, schema)
    want = {
        (r["id_a"], r["id_b"])
        for r in minhash_candidates(docs, bands=16, num_hashes=64).collect()
    }
    assert got == want
    # the near-dup structure itself: the base-text clones all pair up,
    # the different doc pairs only with its own near-clone
    assert (1, 2) in got and (1, 4) in got and (2, 4) in got
    assert (3, 5) in got
    assert not any({a, b} & {1, 2, 4} and {a, b} & {3, 5} for a, b in got)


def test_stream_minhash_state_timeout_non_utc_timezone(spark, dirs):
    """The state TTL must come from the RAW epoch millis, not a pandas
    conversion of the session-tz-naive event time: under a non-UTC
    session timezone the naive->UTC reinterpretation shifts a bucket's
    latest time by the zone offset, and with a short TTL a negative
    shift evicts the bucket before its next member arrives.  Pin it by
    running with a UTC-5 zone and a 1s TTL: the query must complete
    and still emit the cross-batch pair."""
    from hbase_spark.streaming.dedup import stream_minhash_candidates

    base = (
        "the quick brown fox jumps over the lazy dog and runs far "
        "away into the deep dark forest tonight"
    )
    schema = "doc_id long, text string, ts long"
    log = dirs["log"]
    spark.createDataFrame(
        [(1, base, 1_700_000_000_000)], schema
    ).coalesce(1).write.mode("append").parquet(log)
    spark.createDataFrame(
        [(2, base + " extra", 1_700_000_001_000)], schema
    ).coalesce(1).write.mode("append").parquet(log)

    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        stream = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
            .parquet(log)
        )
        q = (
            stream_minhash_candidates(
                stream, bands=16, num_hashes=64,
                watermark="1 second", state_ttl_ms=1_000,
            )
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("mh_tz")
            .option("checkpointLocation", dirs["ckpt"])
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            (r.a, r.b)
            for r in spark.sql("SELECT DISTINCT a, b FROM mh_tz").collect()
        }
        assert (1, 2) in got
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)


_MH_BASE = (
    "the quick brown fox jumps over the lazy dog and runs far "
    "away into the deep dark forest tonight"
)
_MH_SCHEMA = "doc_id long, text string, ts long"


def _doc_segments(spark, log, segments):
    """One parquet file per segment, in arrival order."""
    for rows in segments:
        spark.createDataFrame(rows, _MH_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(log)


def _doc_stream(spark, log):
    return (
        spark.readStream.schema(_MH_SCHEMA).option("maxFilesPerTrigger", 1)
        .parquet(log)
    )


def _band_step_reference(stored, rows, cap, cutoff):
    """The per-bucket definition ``_band_step`` vectorizes: evict, then
    pair each new id with the bucket's stored and new ids, then store
    the first ``cap``."""
    state = {b: (m, t) for b, (m, t) in stored.items() if t >= cutoff}
    pairs = set()
    for bucket in sorted({b for b, _, _ in rows}):
        seen, latest = state.get(bucket, ([], None))
        batch = [(i, t) for b, i, t in rows if b == bucket]
        new = sorted({i for i, _ in batch} - set(seen))
        for j, x in enumerate(new):
            for y in seen + new[:j]:
                pairs.add((min(x, y), max(x, y)))
        ts = [t for _, t in batch] + ([] if latest is None else [latest])
        state[bucket] = ((seen + new)[:cap], max(ts))
    return pairs, {b: v for b, v in state.items() if v[0]}


@given(
    st.dictionaries(
        st.integers(-3, 3),
        st.tuples(
            st.lists(st.integers(0, 9), min_size=1, max_size=4, unique=True),
            st.integers(0, 20),
        ),
        max_size=4,
    ),
    st.lists(
        st.tuples(st.integers(-3, 3), st.integers(0, 9), st.integers(0, 20)),
        min_size=1, max_size=12,
    ),
    st.integers(1, 4),
    st.integers(-1, 21),
)
@settings(max_examples=200, deadline=None)
def test_band_step_matches_per_bucket_reference(stored, rows, cap, cutoff):
    """The vectorized key call of stream_minhash_candidates equals the
    per-bucket loop it replaced, with eviction before pairing."""
    import numpy as np

    from hbase_spark.streaming.dedup import _band_step

    stored = {b: (m[:cap], t) for b, (m, t) in stored.items()}
    want_pairs, want_state = _band_step_reference(stored, rows, cap, cutoff)
    order = sorted(stored)
    arr = lambda xs: np.asarray(xs, np.int64)  # noqa: E731
    (a, b), (sb, sn, sm, lt) = _band_step(
        (
            arr(order),
            arr([len(stored[k][0]) for k in order]),
            arr([i for k in order for i in stored[k][0]]),
            arr([stored[k][1] for k in order]),
        ),
        tuple(arr(c) for c in zip(*rows)),
        cap=cap,
        cutoff=cutoff,
    )
    assert list(zip(a.tolist(), b.tolist())) == sorted(want_pairs)
    members = np.split(sm, np.cumsum(sn)[:-1])
    got_state = {
        int(k): (m.tolist(), int(t)) for k, m, t in zip(sb, members, lt)
    }
    assert got_state == want_state


@pytest.mark.parametrize("tz", ["UTC", "America/New_York"])
def test_stream_minhash_evicts_inside_the_call_and_caps(spark, dirs, tz):
    """Eviction runs in the key's call, before pairing: doc 4 arrives
    10.5 s after its bucket-mates, past their 1 s TTL once the
    unrelated doc has moved the watermark, so it pairs with nothing.
    With cap=2 doc 3 pairs with the stored docs 1 and 2 but is not
    stored.  The TTL comes from the raw epoch millis, so a non-UTC
    session timezone changes nothing."""
    from hbase_spark.streaming.dedup import stream_minhash_candidates

    t = 1_700_000_000_000
    _doc_segments(spark, dirs["log"], [
        [(1, _MH_BASE, t), (2, _MH_BASE, t)],
        [(3, _MH_BASE, t + 1)],
        [(9, "completely different words about spark shuffles and joins",
          t + 10_000)],
        [(4, _MH_BASE, t + 10_500)],
    ])
    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        q = (
            stream_minhash_candidates(
                _doc_stream(spark, dirs["log"]), bands=16, num_hashes=64,
                cap=2, watermark="0 seconds", state_ttl_ms=1_000,
            )
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("mh_evict")
            .option("checkpointLocation", dirs["ckpt"])
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            (r.a, r.b)
            for r in spark.sql("SELECT DISTINCT a, b FROM mh_evict").collect()
        }
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)
    assert got == {(1, 2), (1, 3), (2, 3)}


def test_stream_minhash_pairs_a_late_row_within_the_ttl(spark, dirs):
    """Input rows are not dropped as late: a doc whose event time is
    below the watermark but whose bucket-mate is still within the TTL
    pairs with it, as batch banding pairs them."""
    from hbase_spark.streaming.dedup import stream_minhash_candidates

    t = 1_700_000_000_000
    _doc_segments(spark, dirs["log"], [
        [(1, _MH_BASE, t + 5_000)],
        [(3, "completely different words about spark shuffles and joins",
          t + 9_000)],
        [(2, _MH_BASE, t)],
    ])
    q = (
        stream_minhash_candidates(
            _doc_stream(spark, dirs["log"]), bands=16, num_hashes=64,
            watermark="0 seconds",
        )
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("mh_late")
        .option("checkpointLocation", dirs["ckpt"])
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r.a, r.b) for r in spark.sql("SELECT a, b FROM mh_late").collect()}
    assert got == {(1, 2)}


def _start_parquet(df, dirs, out):
    return (
        df.writeStream.outputMode("append")
        .format("parquet")
        .option("path", f"{dirs['table']}/{out}")
        .option("checkpointLocation", dirs["ckpt"])
        .trigger(availableNow=True)
        .start()
    )


def test_stream_minhash_rejects_per_bucket_checkpoint(spark, dirs):
    """A checkpoint written by the older per-bucket state shape (state
    keyed by the long ``_bucket``) must not be read as coarse-key
    state: the restart fails Spark's state key schema check."""
    from pyspark.errors import StreamingQueryException
    from pyspark.sql.streaming.state import GroupStateTimeout

    from hbase_spark.streaming.dedup import stream_minhash_candidates

    t = 1_700_000_000_000
    _doc_segments(spark, dirs["log"], [[(1, _MH_BASE, t)]])

    def per_bucket(key, pdfs, state):
        for _ in pdfs:
            pass
        state.update(([1],))
        return iter(())

    old = (
        _doc_stream(spark, dirs["log"])
        .selectExpr("xxhash64(text) AS _bucket",
                    "timestamp_millis(ts) AS _event_time")
        .withWatermark("_event_time", "1 hour")
        .groupBy("_bucket")
        .applyInPandasWithState(
            per_bucket, "a long, b long", "ids array<long>", "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )
    q = _start_parquet(old, dirs, "out")
    q.awaitTermination(120)
    assert q.exception() is None
    _doc_segments(spark, dirs["log"], [[(2, _MH_BASE, t + 1)]])
    q = _start_parquet(
        stream_minhash_candidates(
            _doc_stream(spark, dirs["log"]), bands=16, num_hashes=64),
        dirs, "out",
    )
    with pytest.raises(StreamingQueryException,
                       match="STATE_STORE_KEY_SCHEMA_NOT_COMPATIBLE"):
        q.awaitTermination(120)


def test_stream_minhash_rejects_state_of_another_scheme(spark, dirs):
    """Band state written under another band-hash scheme (here: other
    band parameters, so other bucket ids) raises ValueError naming both
    scheme ids instead of silently missing cross-restart pairs."""
    from pyspark.errors import StreamingQueryException

    from hbase_spark.streaming.dedup import stream_minhash_candidates

    t = 1_700_000_000_000
    _doc_segments(spark, dirs["log"], [[(1, _MH_BASE, t)]])
    q = _start_parquet(
        stream_minhash_candidates(
            _doc_stream(spark, dirs["log"]), bands=16, num_hashes=64),
        dirs, "out",
    )
    q.awaitTermination(120)
    assert q.exception() is None
    _doc_segments(spark, dirs["log"], [[(2, _MH_BASE, t + 1)]])
    q = _start_parquet(
        stream_minhash_candidates(
            _doc_stream(spark, dirs["log"]), bands=32, num_hashes=64),
        dirs, "out",
    )
    with pytest.raises(StreamingQueryException) as err:
        q.awaitTermination(120)
    msg = str(err.value)
    assert "ValueError" in msg
    assert "xxh64-multiarg/64/16/3" in msg and "xxh64-multiarg/64/32/3" in msg


def test_replay_wals_bracket_hooks(spark, dirs):
    """pre/postReplayWALs (RegionObserver.java:1401,1411) bracket the
    WHOLE wal_player replay: pre_replay_wals rewrites the raw edit
    stream BEFORE the per-edit pre_wal_restore hook sees it, and
    post_replay_wals is notified after post_wal_restore."""
    from hbase_spark.plans.observers import Observer

    batches = _mutation_log(spark)
    for b in batches:
        spark.createDataFrame(b, schema=cell_schema()).coalesce(1).write.mode(
            "append"
        ).parquet(dirs["log"])
    order: list[str] = []
    ob = Observer(
        pre_replay_wals=lambda df: (
            order.append("pre_replay"),
            df.withColumn("value", F.concat(F.lit("R:"), F.col("value"))),
        )[1],
        pre_wal_restore=lambda df: (
            order.append("pre_restore"),
            df.withColumn("value", F.concat(F.lit("E:"), F.col("value"))),
        )[1],
        post_wal_restore=lambda df: order.append("post_restore"),
        post_replay_wals=lambda df: order.append("post_replay"),
    )
    replayed = wal_player(
        spark, dirs["log"], time_range=(1001, 1003), observers=[ob]
    )
    assert order == ["pre_replay", "pre_restore", "post_restore", "post_replay"]
    vals = [r.value for r in replayed.filter("value is not null").collect()]
    # per-edit hook runs ON TOP of the replay-bracket rewrite
    assert vals and all(v.startswith("E:R:") for v in vals)


def test_stream_export_matches_batch_export(spark, tmp_path):
    """Round-7 verdict item 7 — stream==batch for the training-export
    hops: documents landing in two separate waves through the
    streaming export produce BYTE-identical output to the batch
    pack+shuffle over the same corpus, because both hops order by the
    seeded md5 scheme (the export is a pure function of the document
    set).  Also pins that the refresh re-materializes: after wave 2
    the export covers both waves."""
    from hbase_spark.functions.text import (
        pack_token_sequences,
        seeded_shuffle,
    )
    from hbase_spark.streaming.ingest import (
        _codepoint_encode,
        stream_export_training,
    )

    docs_dir = str(tmp_path / "docs")
    export_dir = str(tmp_path / "export")
    ckpt = str(tmp_path / "ckpt")

    def wave(lo, hi):
        spark.createDataFrame(
            [(i, f"document number {i} with some repeated text {i % 7}")
             for i in range(lo, hi)],
            "doc_id long, text string",
        ).write.mode("append").parquet(docs_dir)

    def read_export():
        return sorted(
            (r.shard, r.pos, tuple(r.ids), r.n_tokens)
            for r in spark.read.parquet(export_dir).collect()
        )

    def batch_export(df):
        packed = pack_token_sequences(
            _codepoint_encode(df, id_col="doc_id", text_col="text"),
            seq_len=16, shards=4, seed=3, eos_id=0, drop_last=True,
        )
        uid = F.col("shard").cast("long") * (1 << 32) + F.col("seq_id")
        ordered = seeded_shuffle(
            packed.withColumn("seq_uid", uid).drop("shard"),
            id_col="seq_uid", seed=3, shards=4,
        )
        return sorted(
            (r.shard, r.pos, tuple(r.ids), r.n_tokens)
            for r in ordered.collect()
        )

    wave(0, 40)
    q = stream_export_training(
        spark, docs_dir, export_dir, ckpt,
        seq_len=16, shards=4, seed=3, eos_id=0, drop_last=True,
    )
    q.awaitTermination()
    first = read_export()
    assert first == batch_export(spark.read.parquet(docs_dir))
    assert first  # non-empty

    wave(40, 70)  # second wave: the stream resumes from its checkpoint
    q = stream_export_training(
        spark, docs_dir, export_dir, ckpt,
        seq_len=16, shards=4, seed=3, eos_id=0, drop_last=True,
    )
    q.awaitTermination()
    both = read_export()
    assert both == batch_export(spark.read.parquet(docs_dir))
    assert len(both) > len(first)  # export was refreshed, not stale


def test_stream_export_on_drain_runs_exactly_one_export(
    spark, tmp_path, monkeypatch
):
    """Round-8 verdict item 5 — the drain-once mode: multiple pending
    micro-batches drain through the checkpoint as committed no-ops,
    exactly ONE corpus transpose runs at termination, and its bytes
    equal the per-batch mode's final state (pure-function-of-the-set
    argument).  The export count is spied at the module seam."""
    from hbase_spark.streaming import ingest

    docs_dir = str(tmp_path / "docs")
    ckpt = str(tmp_path / "ckpt")
    for lo, hi in [(0, 30), (30, 55)]:
        spark.createDataFrame(
            [(i, f"document number {i} with some repeated text {i % 7}")
             for i in range(lo, hi)],
            "doc_id long, text string",
        ).write.mode("append").parquet(docs_dir)

    calls = []
    real = ingest.export_training

    def spy(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(ingest, "export_training", spy)
    kw = dict(seq_len=16, shards=4, seed=3, eos_id=0, drop_last=True)
    # force one micro-batch per file so the drain covers >1 batch
    q = ingest.stream_export_training(
        spark, docs_dir, str(tmp_path / "drain"), ckpt,
        max_files_per_trigger=1, mode="on_drain", **kw,
    )
    assert q.isActive is False  # blocked until drained
    assert len(calls) == 1, f"expected exactly one export, got {len(calls)}"

    # byte parity with the per-batch mode over the same corpus
    ingest.stream_export_training(
        spark, docs_dir, str(tmp_path / "perbatch"), str(tmp_path / "ckpt2"),
        **kw,
    ).awaitTermination()

    def read(d):
        return sorted(
            (r.shard, r.pos, tuple(r.ids), r.n_tokens)
            for r in spark.read.parquet(str(tmp_path / d)).collect()
        )

    assert read("drain") == read("perbatch")
    assert read("drain")
