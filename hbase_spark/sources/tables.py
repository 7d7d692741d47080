"""Session factory and testdata table loader.

The driver's parquet files store event timestamps as
TIMESTAMP(NANOS), which Spark's vectorized parquet reader rejects
unless ``spark.sql.legacy.parquet.nanosAsLong`` is set; the loader
sets it and normalizes the nanos-long column back to a proper
TimestampType so downstream code sees one canonical schema.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Parsed-frame memo: (applicationId, sf_dir, table, spread) -> DataFrame.
# Holds plan HANDLES (an analyzed parquet relation), never results —
# every action over a memoized frame still computes from the parquet
# input.  Rationale (guide §6): each spark.read.parquet re-reads the
# footer and rebuilds the FileIndex on the DRIVER, ~50-80 ms of pure
# metadata latency per call that a catalog-backed deployment pays once
# at table registration, not per query (a 6-table star join paid it 6
# times per construction).  Keyed by applicationId so a new session
# never sees another session's frames, and bounded by it: an insert
# drops every entry of a stopped session, so the memo holds one
# session's frames (tables x corpora x spread) at a time.  The testdata
# corpora and the sweep's scaled copies are immutable within a process.
_FRAME_CACHE: dict[tuple, DataFrame] = {}


def get_spark(app: str = "hbase_spark", cpus: int | None = None) -> SparkSession:
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # Heap sizing (optimization guide §5): Spark's default
    # spark.driver.memory=1g puts the WHOLE local[n] cluster — all n
    # concurrent tasks, shuffle buffers, broadcasts, and the block
    # manager holding every localCheckpoint/persist — in one 1 GiB
    # heap, so the memory store thrashes and GC dominates the tail of
    # long sessions (measured: the bench's extended arms degrade 2-7x
    # as the old gen fills).  Only honored when this call launches the
    # JVM (first session in the process); parameterized for other
    # deployments, where executor memory is sized per §5.
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g")
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.driver.memory", mem)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # bucketed-by-row tables co-partition joins whose keys CONTAIN
        # row (e.g. SyncTable's (row, family, qualifier) diff) instead
        # of requiring an exact key match — zero-exchange diffs between
        # co-bucketed tables (guarded in tests/test_plans.py)
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        # bucketed layouts are written one-file-per-bucket with the
        # HFile sort (row, family, qualifier, ts, seq); this makes the
        # scan REPORT that order, so resolve's sort-based max_by
        # aggregation runs with no Sort at all (layout.write_bucketed)
        .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        .config("spark.sql.warehouse.dir", "/tmp/hbase_spark_warehouse")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )


def materialize(df: DataFrame) -> DataFrame:
    """Store ``df`` once for a plan that reads it from several branches
    (or a loop that reads it every round) — the library's one
    materialization seam.

    A streaming frame comes back unchanged: it cannot be checkpointed,
    and each micro-batch is computed once per trigger anyway.  Any
    other frame becomes ``df.localCheckpoint(eager=False)``, a
    ``LogicalRDD`` over blocks in the executors' block managers with
    the lineage cut.

    When its jobs run (Spark 4.1, AQE on): over a map-only plan no job
    starts at call time, and the first action that reads the frame
    computes and stores it.  Over a plan with an exchange, the call
    itself runs the shuffle map stage (one job for one exchange) while
    adaptive planning settles the final plan; only the result stage
    waits for the first action.  ``tests/test_plans.py`` pins both.

    Failure mode: local checkpoints are stored unreplicated with
    truncated lineage, so losing an executor (dynamic allocation,
    decommission, preemption) fails the actions that read the frame
    instead of recomputing it — Spark marks local checkpoints "not
    reliable".  Re-running the query rebuilds it.  Every call site
    stores a frame bounded by its own reason (a mutation batch, a
    candidate set, a vocabulary, one loop round) that is cheap to
    rebuild, which is the deliberate trade; a deployment with executor
    churn changes this one line to ``persist()`` or a reliable
    ``checkpoint()``.
    """
    if df.isStreaming:
        return df
    return df.localCheckpoint(eager=False)


def load_table(
    spark: SparkSession, sf_dir: str, name: str, *, spread: bool = False
) -> DataFrame:
    """Read one testdata table, normalizing nano-timestamp columns.

    The analyzed frame is memoized per (session, dir, table, spread) —
    see ``_FRAME_CACHE`` above: plan handles only, so every action
    still computes from the parquet files; what is saved is the
    per-construction footer read + FileIndex build on the driver.

    Pins the session timezone to UTC (runtime-settable) so the
    NTZ→timestamp cast and date rendering are stable even when the
    caller's session was built without get_spark — e.g. the driver's
    own session — matching the DuckDB oracles' naive-as-UTC reading.

    ``spread=True`` arms the input-skew guard (optimization guide
    §2.5): a corpus stored as fewer splittable units than the cluster
    has cores (the testdata tables are ONE file with ONE row group
    each) pins every downstream per-row computation to that many
    tasks, so consumers whose cost is a tokenize/score map stage
    repartition once right after the read.  Opt-in per call site, not
    blanket: an alternating bench-triplet A/B measured the blanket
    form a clear win exactly where a single map stage dominates
    (language id −0.72s, quality scoring −0.85s, MinHash shingling
    −0.79s, CC pair building −0.70s medians at sf0.1) and a pure
    regression on many-exchange plans whose work is spread by their
    own first shuffle anyway (naive bayes +0.82s, increment +0.89s,
    BBPE +0.49s) — there the repartition only adds an exchange of raw
    text.  At production scale file count >> cores and the guard is a
    no-op either way.  Round-robin repartition is deterministic under
    retries (sortBeforeRepartition stays on)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    app = spark.sparkContext.applicationId
    key = (app, sf_dir, name, bool(spread))
    cached = _FRAME_CACHE.get(key)
    if cached is not None:
        return cached
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if spread:
        par = spark.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() < par:
            df = df.repartition(par)
    if name == "events":
        dt = df.schema["ts"].dataType
        if isinstance(dt, T.LongType):
            # TIMESTAMP(NANOS) surfaced as long nanos; convert to micros.
            # Integer division — float division loses precision above 2^53
            # and drifts the value by ±1 microsecond.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(dt, T.TimestampNTZType):
            # Newer parquet readers surface TIMESTAMP(NANOS) as NTZ;
            # session tz is pinned to UTC so the cast is value-preserving.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    for stale in [k for k in _FRAME_CACHE if k[0] != app]:
        del _FRAME_CACHE[stale]
    _FRAME_CACHE[key] = df
    return df
