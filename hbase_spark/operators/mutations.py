"""Mutations as batch merges (SURVEY.md §2.4).

HBase's write-side operators re-expressed declaratively: a mutation
batch is a DataFrame; applying it appends cells (puts and tombstones)
to the CellFrame — visibility happens at read time via snapshot
resolution.  Read-modify-write ops (Increment/Append/CheckAndMutate)
join the current snapshot first, exactly the shape of the reference's
server-side logic:

- Increment math:   rs/HRegion.java:4207 (reckonDeltas), entry :8343
- Append concat:    rs/HRegion.java:8324
- CheckAndMutate:   rs/HRegion.java:5140 (checkAndMutateInternal),
                    guard compare :5298 (matches)
- RowMutations:     client/RowMutations.java:37 (atomic multi-op per row)

Atomicity: HBase serializes same-row mutations via row locks + MVCC;
here the unit of atomicity is the whole batch merge (one commit),
which is strictly stronger (SURVEY.md §3.3).  Within a batch,
increments over the same column are summed (order-free), and appends
concatenate in explicit ``seq`` order — the deterministic analog of
arrival order under a row lock (SURVEY.md §7.4 item 3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hbase_spark.model import CellType, cell_schema
from hbase_spark.operators.resolve import resolve
from hbase_spark.sources.tables import materialize


def make_cells(spark, rows: list[tuple], key_type=None, value_type=None) -> DataFrame:
    """Build a CellFrame from (row, family, qualifier, ts, type, value, seq) tuples.

    One partition, deliberately: a driver-literal batch is one client
    RPC batch — small by construction (big writes arrive as DataFrames
    through bulk load, never Python lists).  createDataFrame's default
    defaultParallelism slicing gives every put/delete batch ~4+ mostly
    EMPTY partitions, and a k-mutation chain then drags ~4k partitions
    into every downstream action — measured as 33 tasks to scan a
    9-row table (round-10 suite profiling); pure scheduler overhead at
    any scale."""
    return spark.createDataFrame(
        rows, schema=cell_schema(key_type, value_type)
    ).coalesce(1)


def put_cells(
    spark, puts: list[tuple], *, ts: int, seq: int, ttl: int | None = None
) -> DataFrame:
    """client/Put.java:46 — puts = [(row, family, qualifier, value)];
    ts defaults to "server now" in the reference, here passed explicitly.

    ``ttl`` is Mutation#setTTL (client/Mutation.java setTTL -> a
    TagType.TTL_TAG_TYPE tag on every cell of the mutation): the batch
    gains a ``cell_ttl`` column that ``resolve(cell_ttl_col='cell_ttl')``
    expires per ScanQueryMatcher.isCellTTLExpired.  ``apply_mutations``
    unions by name with NULL-fill, so a TTL'd batch merged into an
    untagged base keeps its tags (the base's cells read as NULL =
    untagged)."""
    rows = [(r, f, q, ts, CellType.PUT, v, seq) for (r, f, q, v) in puts]
    out = make_cells(spark, rows)
    if ttl is not None:
        out = out.withColumn("cell_ttl", F.lit(ttl).cast("long"))
    return out


def delete_cells(
    spark, deletes: list[tuple], *, ts: int, seq: int, kind: int = CellType.DELETE_COLUMN
) -> DataFrame:
    """client/Delete.java:64 — tombstones of the requested granularity.
    deletes = [(row, family, qualifier)] (qualifier None for family scopes)."""
    rows = [(r, f, q, ts, kind, None, seq) for (r, f, q) in deletes]
    return make_cells(spark, rows)


def bulk_delete(
    cells: DataFrame,
    pred,
    *,
    ts: int,
    seq: int,
    kind: int = CellType.DELETE_COLUMN,
    visible: DataFrame | None = None,
) -> DataFrame:
    """Delete-by-scan (hbase-examples BulkDeleteEndpoint.java): scan the
    visible snapshot for cells matching ``pred`` and emit tombstones of
    the requested granularity.  Returns the tombstone frame — union it
    with the table via ``apply_mutations`` (deletes are data).

    kind=DELETE removes the exact matched versions (ts per cell);
    DELETE_COLUMN / DELETE_FAMILY use the supplied ``ts`` and collapse
    to distinct column / family keys — fully distributed, no collect.
    """
    from hbase_spark.operators.resolve import resolve

    vis = visible if visible is not None else resolve(cells, versions=1)
    matched = vis.filter(pred)
    dtypes = dict(cells.dtypes)
    null_val = F.lit(None).cast(dtypes["value"]).alias("value")
    if kind == CellType.DELETE:
        keys = matched.select("row", "family", "qualifier", "ts").distinct()
        ts_col = F.col("ts")
    elif kind == CellType.DELETE_COLUMN:
        keys = matched.select("row", "family", "qualifier").distinct()
        ts_col = F.lit(ts).cast("long").alias("ts")
    elif kind in (CellType.DELETE_FAMILY, CellType.DELETE_FAMILY_VERSION):
        keys = matched.select(
            "row", "family", F.lit(None).cast(dtypes["qualifier"]).alias("qualifier")
        ).distinct()
        ts_col = F.lit(ts).cast("long").alias("ts")
    else:
        raise ValueError(f"unknown delete kind {kind}")
    return keys.select(
        "row",
        "family",
        "qualifier",
        ts_col,
        F.lit(kind).cast("int").alias("type"),
        null_val,
        F.lit(seq).cast("long").alias("seq"),
    )


def apply_mutations(cells: DataFrame, mutations: DataFrame) -> DataFrame:
    """Append a mutation CellFrame (puts + tombstones) — the memstore
    apply step (rs/HRegion.java:5485 applyToMemStore).  Pure union:
    tombstones are data.

    Schemas may differ in optional extras (a ``put_cells(ttl=...)``
    batch carries ``cell_ttl``): the union keeps EVERY column, filling
    NULL (= untagged) on the side that lacks it — silently projecting
    the batch to the base schema would drop the TTL tag and the cells
    would never expire."""
    return cells.unionByName(mutations, allowMissingColumns=True)


def _touched_slice(
    cells: DataFrame, batch: DataFrame, resolve_kw: dict | None
) -> DataFrame:
    """The cells a read-modify-write batch reads, sliced BEFORE
    resolving: puts narrow to the touched (row, family, qualifier)
    columns, tombstones to the touched (row, family) groups
    (family-scope markers mask across qualifiers, so they must survive
    the narrowing).  The slice resolves identically to resolving
    everything and then projecting, but the snapshot shuffle runs over
    the touched columns only — on a wide table this is a many-fold
    smaller resolve input.  ``batch`` is unique per (row, family,
    qualifier) by construction, so its key projection IS the
    touched-column set (no distinct), and the resolved slice contains
    touched columns only (no post-resolve re-filter needed).  No
    distinct on the family keys either: a semi-join build side
    tolerates duplicate keys (the hash relation dedups), one fewer
    exchange+job than deduping first.

    When ``resolve_kw`` says the cells hold no tombstone (an empty
    ``delete_kinds``, see operators.resolve.resolve), the tombstone
    branch is dropped: it could only read nothing."""
    puts = cells.filter(F.col("type") == CellType.PUT).join(
        batch.select("row", "family", "qualifier"),
        ["row", "family", "qualifier"],
        "left_semi",
    )
    delete_kinds = (resolve_kw or {}).get("delete_kinds")
    if delete_kinds is not None and not delete_kinds:
        return puts
    return puts.unionByName(
        cells.filter(F.col("type") != CellType.PUT).join(
            batch.select("row", "family"), ["row", "family"], "left_semi"
        )
    )


def apply_increments(
    cells: DataFrame,
    deltas: DataFrame,
    *,
    ts: int,
    seq: int,
    versions: int = 1,
    resolve_kw: dict | None = None,
) -> DataFrame:
    """client/Increment.java:53 — atomic read-modify-write:
    new = coalesce(current, 0) + sum(deltas per column).

    ``deltas`` columns: row, family, qualifier, delta (long).  Returns
    the CellFrame with the materialized new cells appended (the
    reference likewise emits a real new cell, not a delta record).
    Values are stored as decimal strings in canonical cells.
    """
    summed = deltas.groupBy("row", "family", "qualifier").agg(
        F.sum("delta").alias("_delta")
    )
    # The aggregated delta set feeds three plan branches (two slice
    # builds + the merge probe); materializing it once on executors
    # beats re-running the upstream aggregation per branch (measured 2x
    # end-to-end at sf0.1 — AQE does NOT reuse the exchange across the
    # broadcast-converted semi-join builds).  It is the small side by
    # construction: one row per touched column.
    summed = materialize(summed)
    sliced = _touched_slice(cells, summed, resolve_kw)
    current = resolve(sliced, versions=1, **(resolve_kw or {})).select(
        "row", "family", "qualifier", F.col("value").cast("long").alias("_old")
    )
    new_cells = (
        summed.join(current, ["row", "family", "qualifier"], "left")
        .select(
            "row",
            "family",
            "qualifier",
            F.lit(ts).cast("long").alias("ts"),
            F.lit(CellType.PUT).alias("type"),
            (F.coalesce(F.col("_old"), F.lit(0)) + F.col("_delta"))
            .cast("string")
            .alias("value"),
            F.lit(seq).cast("long").alias("seq"),
        )
    )
    # new_cells is re-read by every branch of a downstream snapshot
    # resolve (the union itself, the tombstone-mask builds, version
    # capping); without materialization each reference recomputes the
    # whole slice+resolve subtree.  Like ``summed`` it is bounded by
    # the mutation batch (one row per touched column).
    return apply_mutations(cells, materialize(new_cells))


def increment_view(
    cells: DataFrame,
    deltas: DataFrame,
    *,
    ts: int,
    seq: int,
    resolve_kw: dict | None = None,
    snapshot: DataFrame | None = None,
) -> DataFrame:
    """Post-increment *resolved* snapshot (versions=1 view).

    ``apply_increments`` appends new cells and leaves resolution to the
    reader — which re-resolves the whole table even though the batch
    touched a sliver of it.  The reference never does that: reckonDeltas
    (rs/HRegion.java:4207) reads only the touched row, and every other
    row's visible state is untouched.  This operator mirrors that: ONE
    resolve of the base, then a single full-outer merge with the summed
    deltas — touched columns get ``coalesce(old, 0) + delta`` at the new
    (ts, seq), untouched columns pass through already resolved.

    Plan shape: resolve's versions=1 hash-agg partitions the snapshot by
    (row, family, qualifier), and ``summed`` is grouped on the same key,
    so the full-outer join reuses both exchanges — zero additional
    shuffles beyond the resolve itself.

    Pass ``snapshot=`` to reuse an already-resolved versions=1 view
    (skips the resolve entirely).  Output column order/types match the
    CellFrame contract.
    """
    summed = deltas.groupBy("row", "family", "qualifier").agg(
        F.sum("delta").alias("_delta")
    )
    snap = (
        snapshot
        if snapshot is not None
        else resolve(cells, versions=1, **(resolve_kw or {}))
    )
    dtypes = dict(snap.dtypes)
    hit = F.col("_delta").isNotNull()
    return (
        snap.join(summed, ["row", "family", "qualifier"], "full_outer")
        .select(
            "row",
            "family",
            "qualifier",
            F.when(hit, F.lit(ts)).otherwise(F.col("ts")).cast("long").alias("ts"),
            F.lit(CellType.PUT).cast("int").alias("type"),
            F.when(
                hit,
                (F.coalesce(F.col("value").cast("long"), F.lit(0)) + F.col("_delta"))
                .cast(dtypes["value"]),
            )
            .otherwise(F.col("value"))
            .alias("value"),
            F.when(hit, F.lit(seq)).otherwise(F.col("seq")).cast("long").alias("seq"),
        )
    )


def apply_appends(
    cells: DataFrame,
    appends: DataFrame,
    *,
    ts: int,
    seq: int,
    resolve_kw: dict | None = None,
) -> DataFrame:
    """client/Append.java:51 — atomic concat to the existing value.

    ``appends`` columns: row, family, qualifier, delta (string), seq
    (within-batch order).  Multiple appends to one column concatenate
    in seq order (the row-lock arrival-order analog).
    """
    batch = appends.groupBy("row", "family", "qualifier").agg(
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(F.collect_list(F.struct("seq", "delta"))),
                lambda s: s["delta"],
            ),
        ).alias("_suffix")
    )
    current = resolve(
        _touched_slice(cells, batch, resolve_kw), versions=1, **(resolve_kw or {})
    ).select("row", "family", "qualifier", F.col("value").alias("_old"))
    new_cells = batch.join(current, ["row", "family", "qualifier"], "left").select(
        "row",
        "family",
        "qualifier",
        F.lit(ts).cast("long").alias("ts"),
        F.lit(CellType.PUT).alias("type"),
        F.concat(F.coalesce(F.col("_old"), F.lit("")), F.col("_suffix")).alias("value"),
        F.lit(seq).cast("long").alias("seq"),
    )
    # batch-bounded, multiply-referenced downstream — see apply_increments
    return apply_mutations(cells, materialize(new_cells))


def apply_check_and_mutate(
    cells: DataFrame,
    mutations: DataFrame,
    *,
    guard_family: str,
    guard_qualifier,
    op: str,
    comparator=None,
    value=None,
    filter=None,
    time_range: tuple | None = None,
    resolve_kw: dict | None = None,
) -> DataFrame:
    """client/CheckAndMutate.java:58 — per-row conditional batch.

    For each distinct row in ``mutations``, evaluate the guard against
    the current snapshot (column ``op`` value, or an arbitrary Filter,
    optionally time-ranged — server path rs/HRegion.java:5140); apply
    that row's mutations only if the guard passes.  MERGE-style:
    one snapshot read, one append.

    Matching the reference (HRegion.matches :5298): with a column
    guard, a *missing* column passes only the NOT_EQUAL-shaped checks —
    concretely, op '=' with value None means "column absent" (checkAndPut
    with null value), and any comparison against an absent column fails.
    """
    from hbase_spark.filters.base import Filter as _Filter
    from hbase_spark.filters.comparators import BinaryComparator

    # Guards only inspect rows that carry mutations — slice before
    # resolving so the snapshot read is scoped to those rows
    # (HRegion.checkAndMutateInternal likewise scans just the guarded row).
    mut_rows = mutations.select("row")  # semi-join build: no pre-dedup
    snap = resolve(
        cells.join(mut_rows, "row", "left_semi"),
        versions=1,
        time_range=time_range,
        **(resolve_kw or {}),
    )
    if filter is not None:
        assert isinstance(filter, _Filter)
        guarded = snap
        pred = filter.cell_pred()
        if pred is not None:
            guarded = guarded.filter(pred)
        ok_rows = filter.post(guarded).select("row").distinct()
    else:
        col_cells = snap.filter(
            (F.col("family") == guard_family)
            & (F.col("qualifier") == guard_qualifier)
        )
        if value is None and comparator is None:
            # checkAndPut(..., null): passes when the column is ABSENT
            # anti/semi-join build sides need no pre-dedup
            present = col_cells.select("row")
            ok_rows = mutations.select("row").join(present, "row", "left_anti")
        else:
            cmpr = comparator or BinaryComparator(value)
            # col_cells is resolved to versions=1 on one qualifier, so
            # rows are already unique; and a semi-join build needs no
            # dedup regardless
            ok_rows = col_cells.filter(cmpr.matches(F.col("value"), op)).select("row")
    # ok_rows scales with the mutation batch (billions of rows at real
    # SF) — no broadcast hint; AQE broadcasts small batches on its own.
    passed = mutations.join(ok_rows, "row", "left_semi")
    return apply_mutations(cells, passed)
