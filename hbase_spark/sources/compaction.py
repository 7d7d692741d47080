"""Compaction policies as layout maintenance jobs (SURVEY.md §2.9).

The reference picks WHICH store files to rewrite via pluggable
policies (rs/compactions/: RatioBasedCompactionPolicy.java,
StripeCompactionPolicy.java, DateTieredCompactionPolicy.java,
FIFOCompactionPolicy.java); the rewrite itself streams cells through
the compaction scan-query-matcher.  On a parquet layout the same
decisions become file-set selection + a partitioned rewrite:

- **minor** (RatioBasedCompactionPolicy/ExploringCompactionPolicy):
  coalesce many small files into region-sized sorted files — no cell
  is dropped, this is purely the small-files problem.  Implemented as
  a re-range-partition + sorted rewrite.
- **major** (MajorCompactionScanQueryMatcher): the full tombstone/TTL/
  version rewrite is ``operators.resolve.compact``, run on a table by
  ``Admin.major_compact``.
- **date-tiered** (DateTieredCompactionPolicy.java:61): organize files
  into exponential time tiers so time-range scans prune whole tiers
  and old tiers never get rewritten again.  Implemented as
  ``partitionBy(tier)`` where tier = floor(ts / window) capped into
  exponentially-widening bands.
- **FIFO** (FIFOCompactionPolicy.java:47 — "collect expired store
  files"): for TTL-only tables, never rewrite anything; just DROP
  whole files whose newest cell is expired.  Implemented as a
  partition-pruning delete of expired tiers — the scan-side analog is
  reading only unexpired tiers.
- **stripe** (StripeCompactionPolicy.java): split a hot region's key
  range into sub-stripes compacted independently.  Implemented as a
  finer ``repartitionByRange`` over the stripe count.

At 100 TB the point of each policy is the same as the reference's:
bound write amplification (tiers/stripes compact independently) and
keep read amplification low (files stay sorted + range-disjoint, so
parquet min/max pruning does the HFile-key-range job).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def compact_minor(
    cells: DataFrame,
    path: str,
    *,
    num_regions: int = 32,
) -> None:
    """Minor compaction: coalesce small files into ``num_regions``
    sorted range-partitioned files.  No cells dropped (the reference's
    minor compaction likewise keeps deletes — ScanQueryMatcher with
    retainDeletesInOutput)."""
    (
        cells.repartitionByRange(num_regions, "row")
        .sortWithinPartitions(
            "row", "family", "qualifier", F.col("ts").desc(), F.col("seq").desc()
        )
        .write.mode("overwrite")
        .parquet(path)
    )


def date_tier(ts: Column, *, now: int, window_ms: int, tiers: int = 6) -> Column:
    """Exponential time tier for a cell: tier 0 = the newest window,
    each older tier twice as wide (DateTieredCompactionPolicy.java:61
    exponential windowing), capped at ``tiers - 1``."""
    age = (F.lit(now) - ts).cast("double") / F.lit(window_ms)
    # age in [0,1) -> 0, [1,3) -> 1, [3,7) -> 2 ... (2^k - 1 boundaries)
    tier = F.floor(F.log2(age + F.lit(1.0)))
    return F.least(F.greatest(tier, F.lit(0)), F.lit(tiers - 1)).cast("int")


def compact_date_tiered(
    cells: DataFrame,
    path: str,
    *,
    now: int,
    window_ms: int,
    tiers: int = 6,
    files_per_tier: int = 8,
) -> None:
    """Date-tiered layout: partition by exponential time tier; each
    tier is internally range-partitioned and sorted.  Time-range scans
    prune whole tier directories; only tier 0 churns on future loads."""
    tiered = cells.withColumn(
        "_tier", date_tier(F.col("ts"), now=now, window_ms=window_ms, tiers=tiers)
    )
    (
        tiered.repartitionByRange(files_per_tier * tiers, "_tier", "row")
        .sortWithinPartitions(
            "row", "family", "qualifier", F.col("ts").desc(), F.col("seq").desc()
        )
        .write.mode("overwrite")
        .partitionBy("_tier")
        .parquet(path)
    )


def read_date_tiered(
    spark: SparkSession,
    path: str,
    *,
    time_range: tuple[int | None, int | None] | None = None,
    now: int | None = None,
    window_ms: int | None = None,
    tiers: int = 6,
) -> DataFrame:
    """Read a date-tiered layout; a ``time_range`` lower bound prunes
    old tier directories before any file is opened (partition
    pruning on ``_tier``)."""
    df = spark.read.parquet(path)
    if time_range and time_range[0] is not None and now and window_ms:
        age = (now - time_range[0]) / window_ms
        import math

        max_tier = min(tiers - 1, max(0, math.floor(math.log2(age + 1.0))))
        df = df.filter(F.col("_tier") <= max_tier)
    return df.drop("_tier")


def fifo_expired_tiers(
    spark: SparkSession,
    path: str,
    *,
    ttl_ms: int,
    now: int,
    window_ms: int,
    tiers: int = 6,
) -> list[int]:
    """FIFO compaction (FIFOCompactionPolicy.java:47): which tiers of a
    date-tiered layout are WHOLLY expired (every cell older than TTL)?
    Those partitions can be dropped without reading a row — the
    reference's 'delete expired store files, rewrite nothing'."""
    import math

    age_windows = ttl_ms / window_ms
    # tier t spans ages [2^t - 1, 2^(t+1) - 1) windows; wholly expired
    # only when its NEWEST possible age strictly exceeds the TTL (a
    # boundary cell at age == ttl is still live), so the first dead
    # tier is the one whose minimum age clears the TTL.
    first_dead = math.floor(math.log2(age_windows + 1.0)) + 1
    return [t for t in range(tiers) if t >= first_dead]


def read_fifo(
    spark: SparkSession,
    path: str,
    *,
    ttl_ms: int,
    now: int,
    window_ms: int,
    tiers: int = 6,
) -> DataFrame:
    """Scan a date-tiered layout under FIFO policy: skip wholly-expired
    tiers via partition pruning, then row-filter the boundary tier.
    Matches a TTL resolve over the full data."""
    dead = set(
        fifo_expired_tiers(
            spark, path, ttl_ms=ttl_ms, now=now, window_ms=window_ms, tiers=tiers
        )
    )
    df = spark.read.parquet(path)
    if dead:
        df = df.filter(~F.col("_tier").isin(list(dead)))
    return df.filter(F.col("ts") >= F.lit(now - ttl_ms)).drop("_tier")


def compact_stripes(
    cells: DataFrame,
    path: str,
    *,
    stripes: int,
) -> None:
    """Stripe compaction (StripeCompactionPolicy.java): sub-divide the
    key range into ``stripes`` independently-compactable sorted
    stripes — a hot region's rewrite cost drops from O(region) to
    O(stripe)."""
    compact_minor(cells, path, num_regions=stripes)


def stripe_boundaries(cells: DataFrame, stripes: int) -> list[str]:
    """The stripe boundary keys a stripe layout would use
    (StripeCompactionPolicy picks boundaries from existing file
    metadata; here: exact rank marks over the distinct key set — a
    planning utility run on keys only, not cells)."""
    if stripes <= 1:
        return []
    from pyspark.sql import Window

    keys = cells.select("row").distinct()
    n = keys.count()
    if n == 0:
        return []
    marks = sorted({max(1, round(i * n / stripes)) for i in range(1, stripes)})
    ranked = keys.withColumn("_rn", F.row_number().over(Window.orderBy("row")))
    return [r.row for r in ranked.filter(F.col("_rn").isin(marks)).collect()]
