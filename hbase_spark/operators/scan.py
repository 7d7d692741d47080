"""Range scans — the Spark translation of client/Scan.java:84 (§2.3).

A Scan is declarative query state; ``scan()`` compiles it to one
DataFrame plan:

1. source pruning: row range + family/qualifier projection (these reach
   the parquet scan as pushed filters — the Spark analog of region
   pruning and HFile key-range pruning, SURVEY.md §4.1);
2. as-of pruning, then snapshot resolution through the resolve core
   shared with ``resolve()`` (operators.resolve): tombstones / TTL /
   time-range, the cell-level filter predicate
   (UserScanQueryMatcher.java:216 order: after delete masking, before
   version counting) and version capping (readVersions,
   client/Scan.java:487);
3. row-stage filter (filterRow, rs/RegionScannerImpl.java:463-472);
4. reversed ordering (client/Scan.java:692) and row limit (:958).

The reference advances region-by-region sequentially
(client/AsyncClientScanner.java:65); here all partitions scan in
parallel — a capability upgrade (SURVEY.md §3.2).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hbase_spark.filters.base import Filter
from hbase_spark.model import CellType
from hbase_spark.operators.resolve import _resolve_cells, _time_range_pred


@dataclass
class Scan:
    """Declarative scan spec — field-for-field analog of client/Scan.java."""

    start_row: object | None = None          # withStartRow, Scan.java:349
    stop_row: object | None = None           # withStopRow,  Scan.java:391
    start_inclusive: bool = True             # Scan.java:368
    stop_inclusive: bool = False             # Scan.java:410
    families: list[str] | None = None        # addFamily,    Scan.java:269
    qualifiers: list | None = None           # addColumn,    Scan.java:282
    versions: int | dict = 1                 # readVersions, Scan.java:487
    #   (dict = per-family effective cap, see operators.resolve)
    time_range: tuple | None = None          # setTimeRange, Scan.java:304
    raw: bool = False                        # setRaw,       Scan.java:848
    reversed: bool = False                   # setReversed,  Scan.java:692
    limit: int | None = None                 # setLimit,     Scan.java:958
    filter: Filter | Column | str | None = None  # setFilter, Scan.java:556
    #   (str = ParseFilter language, parsed at scan time)
    as_of: int | None = None                 # mvccReadPoint analog, Scan.java:997
    max_results_per_family: int | None = None   # Scan.java:514
    row_offset_per_family: int = 0              # Scan.java:523
    batch: int | None = None                    # setBatch, Scan.java:475
    #   (chunks each row's cells into partial results of <= batch cells
    #   in cell order — implies allowPartialResults, Scan.java:529; the
    #   ScannerContext batch-limit analog surfaces as a `batch` column,
    #   the partial-result index consumers group on)
    family_time_ranges: dict | None = None      # setColumnFamilyTimeRange,
    #   Scan.java:330 / Get.java:205: family -> (min_ts, max_ts)
    #   half-open, OVERRIDING the scan-level time_range for that
    #   family's store (each StoreScanner's matcher gets its CF's
    #   TimeRange); families absent from the map keep time_range.
    #   Check order matches the global range: after tombstone masking,
    #   before version counting.
    extra: dict = field(default_factory=dict)


def row_range_pred(scan: Scan) -> Column:
    pred = F.lit(True)
    if scan.start_row is not None:
        op = F.col("row").__ge__ if scan.start_inclusive else F.col("row").__gt__
        pred = pred & op(F.lit(scan.start_row))
    if scan.stop_row is not None:
        op = F.col("row").__le__ if scan.stop_inclusive else F.col("row").__lt__
        pred = pred & op(F.lit(scan.stop_row))
    return pred


def _scan_time_pred(spec: Scan) -> Column | None:
    """The put-visibility time predicate: scan-level range with
    per-family overrides (setColumnFamilyTimeRange, Scan.java:330)."""
    if spec.time_range is None and not spec.family_time_ranges:
        return None
    pred = (
        _time_range_pred(spec.time_range)
        if spec.time_range is not None
        else F.lit(True)
    )
    for fam, tr in (spec.family_time_ranges or {}).items():
        pred = F.when(
            F.col("family") == fam, _time_range_pred(tr)
        ).otherwise(pred)
    return pred


def _kdc_hi(spec: Scan) -> Column | None:
    """Per-family upper bound for KEEP_DELETED_CELLS marker tracking
    (the matcher's tr.withinTimeRange uses each store's CF range)."""
    glob = (
        spec.time_range[1]
        if spec.time_range is not None and spec.time_range[1] is not None
        else None
    )
    fams = {
        f: tr[1]
        for f, tr in (spec.family_time_ranges or {}).items()
        if tr[1] is not None
    }
    if glob is None and not fams:
        return None
    hi = F.lit(glob).cast("long")
    for fam, v in fams.items():
        hi = F.when(F.col("family") == fam, F.lit(v)).otherwise(hi)
    return hi


def scan(
    cells: DataFrame,
    spec: Scan | None = None,
    *,
    ttl_by_family: dict[str, int] | None = None,
    now: int | None = None,
    new_version_behavior: bool | set = False,
    min_versions: int | dict = 0,
    keep_deleted_cells: bool | set = False,
    single_version: bool = False,
    _delete_kinds: frozenset | None = None,
    **kwargs,
) -> DataFrame:
    """Execute a Scan over a raw CellFrame, returning visible cells.

    ``single_version=True`` is the caller's contract that the frame
    holds at most one PUT per (row, family, qualifier) and no
    tombstones (see operators.resolve.resolve, whose
    ``HBASE_SPARK_DEBUG_CONTRACTS`` check covers scans too) — snapshot
    resolution then degenerates to the put-type filter and the scan
    runs with no aggregation, sort or exchange of its own; filters,
    pagination, batching and limits apply unchanged.  ``_delete_kinds``
    is the ``delete_kinds`` contract a ``Table`` derived from its
    layout (see operators.resolve.resolve) — not a caller option."""
    spec = spec or Scan(**kwargs)
    if isinstance(spec.filter, str):
        # shell/REST parity: a string filter goes through ParseFilter
        from dataclasses import replace as _replace

        from hbase_spark.filters.parse import parse_filter

        spec = _replace(spec, filter=parse_filter(spec.filter))
    if isinstance(spec.filter, Filter):
        spec.filter.set_reversed(spec.reversed)

    c = cells.filter(row_range_pred(spec))
    if spec.families:
        c = c.filter(F.col("family").isin(spec.families))
    if spec.qualifiers:
        # Keep family-scope tombstones: their masking must still apply
        # even when the projection drops other qualifiers.
        c = c.filter(
            F.col("qualifier").isin(spec.qualifiers)
            | F.col("type").isin(
                [CellType.DELETE_FAMILY, CellType.DELETE_FAMILY_VERSION]
            )
        )

    if spec.as_of is not None:
        c = c.filter(F.col("ts") <= F.lit(spec.as_of))

    if spec.raw:
        out = c
        tp = _scan_time_pred(spec)
        if tp is not None:
            out = out.filter(tp)
        return _scan_tail(out, spec, resolved=False)

    cell_pred = (
        spec.filter.cell_pred() if isinstance(spec.filter, Filter) else spec.filter
    )
    out = _resolve_cells(
        c,
        versions=spec.versions,
        min_versions=min_versions,
        ttl_by_family=ttl_by_family,
        now=now,
        new_version_behavior=new_version_behavior,
        keep_deleted_cells=keep_deleted_cells,
        single_version=single_version,
        delete_kinds=_delete_kinds,
        time_pred=_scan_time_pred(spec),
        kdc_hi=_kdc_hi(spec),
        cell_pred=cell_pred,
    )
    return _scan_tail(out, spec)


def _scan_tail(out: DataFrame, spec: Scan, *, resolved: bool = True) -> DataFrame:
    """Post-resolution scan stages, shared by the resolved, raw and
    single_version paths: per-row column pagination and the row-stage
    filter (resolved scans only — matcher order), then transport
    batching, the row limit, and reversed ordering."""
    if resolved:
        # per-row per-family column pagination (Scan.java:514,523)
        if spec.max_results_per_family is not None or spec.row_offset_per_family:
            from pyspark.sql import Window

            w = Window.partitionBy("row", "family").orderBy("qualifier")
            out = out.withColumn("_cn", F.dense_rank().over(w))
            lo = spec.row_offset_per_family
            out = out.filter(F.col("_cn") > lo)
            if spec.max_results_per_family is not None:
                out = out.filter(F.col("_cn") <= lo + spec.max_results_per_family)
            out = out.drop("_cn")

        # row-stage filter (filterRow analog)
        if isinstance(spec.filter, Filter):
            out = spec.filter.post(out)

    if spec.batch is not None:
        # Scan.setBatch (Scan.java:475): each row's visible cells chunk
        # into partial results of <= batch cells, counted in cell order
        # (family, qualifier, newest version first) — the order
        # RegionScannerImpl returns them under a ScannerContext batch
        # limit.  Transport chunking becomes an annotation column.
        from pyspark.sql import Window

        if spec.batch < 1:
            raise ValueError("batch must be >= 1")
        wb = Window.partitionBy("row").orderBy(
            F.col("family").asc(),
            F.col("qualifier").asc(),
            F.col("ts").desc(),
            F.col("seq").desc(),
        )
        out = out.withColumn(
            "batch",
            F.floor((F.row_number().over(wb) - 1) / spec.batch).cast("int"),
        )

    if spec.limit is not None:
        key = F.col("row").desc() if spec.reversed else F.col("row").asc()
        keep = out.select("row").distinct().orderBy(key).limit(spec.limit)
        out = out.join(F.broadcast(keep), "row", "left_semi")

    if spec.reversed:
        out = out.orderBy(
            F.col("row").desc(),
            F.col("family").asc(),
            F.col("qualifier").asc(),
            F.col("ts").desc(),
        )
    return out
