"""Snapshot resolution — the implicit core operator of every HBase read.

Turns a raw CellFrame (puts + tombstones + multiple versions) into the
visible table.  This reproduces, as a pure DataFrame transformation, what
the reference computes per cell in its read path (SURVEY.md §2.9):

- k-way merge of sorted runs        -> reference rs/KeyValueHeap.java:51
- tombstone masking (4 delete kinds)-> rs/querymatcher/ScanDeleteTracker.java:46,102
- version counting                  -> rs/querymatcher/ExplicitColumnTracker.java:155
- TTL expiry                        -> rs/StoreScanner.java:100,194 (oldestUnexpiredTS)
- time-range check                  -> rs/querymatcher/UserScanQueryMatcher.java:168
- raw-mode bypass                   -> rs/querymatcher/RawScanQueryMatcher.java
- NEW_VERSION_BEHAVIOR tie-breaking -> rs/querymatcher/NewVersionBehaviorTracker.java

Evaluation order mirrors ScanQueryMatcher.match (deletes are applied
*before* the time-range check, so a tombstone outside the queried time
range still masks older puts; version counting happens only among cells
that survived both).

Scale notes (100 TB posture): tombstones are normally a small fraction
of cells, so all four masking joins have a tiny build side — with AQE on,
Catalyst turns them into broadcast joins and the big put side is never
shuffled.  The version-capping step is the only required shuffle, keyed
by (row, family, qualifier); for the common ``versions=1`` case we use a
hash aggregation (``max_by``) instead of a window so Spark applies a
map-side partial aggregate before the exchange.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hbase_spark.model import CellType
from hbase_spark.sources.tables import materialize

_VERSION_ORDER = ["ts", "seq"]  # newest ts first, then latest mutation

# Per-family knob support: `versions` / `min_versions` accept either a
# scalar (table-wide) or a dict keyed by family — matching the reference
# where every one of these is a ColumnFamilyDescriptor property, not a
# table property.  `new_version_behavior` / `keep_deleted_cells`
# likewise accept a bool or a set of family names.  A family missing
# from a dict gets the reference default (MAX_VERSIONS=1,
# MIN_VERSIONS=0, flags off).


def _fam_col(by_family: dict, default) -> Column:
    """family-keyed map -> per-row int column (same shape as the
    ttl_by_family cutoff: a when-chain, fully codegen'd)."""
    col = F.lit(default)
    for fam, v in by_family.items():
        col = F.when(F.col("family") == fam, F.lit(v)).otherwise(col)
    return col


def _fam_member(fams) -> Column:
    return F.col("family").isin(list(fams))


def _norm_versions(versions, default: int = 1) -> int | dict:
    """Collapse a family-keyed dict to a scalar ONLY when every entry
    equals the missing-family default — any other uniform dict (e.g.
    ``{'f1': 2}``) must stay family-keyed, because families absent from
    the dict get the reference default, not the dict's value."""
    if isinstance(versions, dict):
        if not versions or set(versions.values()) == {default}:
            return default
    return versions


def _norm_flag(flag) -> bool | frozenset:
    """bool | set-of-families -> False, True, or the nonempty set."""
    if isinstance(flag, bool):
        return flag
    fams = frozenset(flag)
    return fams if fams else False


def _check_caller_contracts(
    cells: DataFrame, single_version: bool, delete_kinds
) -> None:
    """Debug-mode validation of the resolve caller contracts
    (``single_version`` / ``delete_kinds``) — OFF the hot path: runs
    only when ``HBASE_SPARK_DEBUG_CONTRACTS=1`` is set, because each
    check is a counting job over the frame.  With it on, a wrong
    contract fails loudly here instead of surfacing as duplicate or
    unmasked rows downstream.  Streaming frames are skipped (no
    batch count on an unbounded source)."""
    import os

    if os.environ.get("HBASE_SPARK_DEBUG_CONTRACTS") != "1":
        return
    if cells.isStreaming:
        return
    if single_version:
        if cells.filter(F.col("type") != CellType.PUT).limit(1).count():
            raise ValueError(
                "single_version contract violated: frame contains tombstones"
            )
        dup = (
            cells.groupBy("row", "family", "qualifier")
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .count()
        )
        if dup:
            raise ValueError(
                "single_version contract violated: a (row, family,"
                " qualifier) holds more than one version"
            )
    if delete_kinds is not None:
        stray = (
            cells.filter(F.col("type") != CellType.PUT)
            .filter(~F.col("type").isin([int(k) for k in delete_kinds]))
            .limit(1)
            .count()
        )
        if stray:
            raise ValueError(
                "delete_kinds contract violated: frame contains a"
                f" tombstone type outside {set(delete_kinds)}"
            )


def _cap_is_identity(versions: int | dict) -> bool:
    """True when keeping the newest ``versions`` per column cannot drop
    anything from a single-version frame — every cap >= 1.  Validates
    the int form exactly like cap_versions so the single_version fast
    path rejects the same bad input."""
    v = _norm_versions(versions)
    if isinstance(v, int):
        if v <= 0:
            raise ValueError("versions must be >= 1")
        return True
    return all(x >= 1 for x in v.values())


def resolve(
    cells: DataFrame,
    *,
    versions: int | dict = 1,
    min_versions: int | dict = 0,
    as_of: int | None = None,
    time_range: tuple[int | None, int | None] | None = None,
    ttl_by_family: dict[str, int] | None = None,
    now: int | None = None,
    raw: bool = False,
    new_version_behavior: bool | set = False,
    keep_deleted_cells: bool | set = False,
    cell_ttl_col: str | None = None,
    single_version: bool = False,
    delete_kinds: frozenset | set | tuple | None = None,
) -> DataFrame:
    """Resolve a raw CellFrame into the visible snapshot.

    Parameters
    ----------
    versions:
        Max versions returned per (row, family, qualifier) — the
        min(schema MAX_VERSIONS, Scan.readVersions) the reference
        applies (client/Scan.java:487).
    as_of:
        Read point: only cells with ``ts <= as_of`` participate at all
        (both puts and tombstones).  Models a historical snapshot read.
    time_range:
        ``(min_ts, max_ts)`` half-open like common/io/TimeRange.java:30
        — applied to *puts only*, after tombstone masking, matching
        ScanQueryMatcher's check order.
    ttl_by_family:
        family -> TTL millis; cells (of any type) older than
        ``now - ttl`` vanish (ColumnFamilyDescriptorBuilder.java:139).
    now:
        Clock for TTL, epoch millis.  Required if ttl_by_family is set
        (explicit for determinism — no wall-clock reads inside a plan).
    raw:
        Scan.setRaw (client/Scan.java:848): expose tombstones and all
        versions, skipping masking, version capping, and TTL.
    new_version_behavior:
        ColumnFamilyDescriptorBuilder.java:197 — when True, a Put
        written *after* a same-timestamp DELETE (higher seq) survives;
        default (False) the delete always wins at equal ts.
    min_versions:
        ColumnFamilyDescriptorBuilder.java:150 — keep the newest
        ``min_versions`` per column even when TTL-expired.  Matches
        ScanWildcardColumnTracker.checkVersions:143
        (``currentCount <= minVersions || !isExpired``): expired cells
        still consume version slots, and with min_versions > 0 expired
        tombstones still mask (ScanQueryMatcher.preCheck only
        pre-drops expired cells when ``columns.isDone`` — i.e.
        minVersions <= 0).
    keep_deleted_cells:
        ColumnFamilyDescriptorBuilder.java:158 / KeepDeletedCells.java:30.
        When True (TRUE or TTL), a time-range read that ends *before* a
        delete marker sees the pre-delete state: markers are only
        tracked when within the scan's time range
        (NormalUserScanQueryMatcher.java:95 —
        ``seePastDeleteMarkers ? tr.withinTimeRange(ts) :
        tr.withinOrAfterTimeRange(ts)``).  No-op without a bounded
        time_range, exactly like the reference.
    single_version:
        Caller contract (optimization guide §8 — use what you know the
        optimizer cannot): the frame holds at most ONE put per
        (row, family, qualifier) and no tombstones — e.g. a bulk-load
        melt with constant (ts, seq) over a unique source key.
        Tombstone masking and version capping are then identities, so
        the resolve collapses to a put-type filter plus the
        put-visibility time predicates: no aggregation, no sort, no
        exchange.  A wrong assertion surfaces as duplicate versions in
        the output (each declared query over an asserted frame stays
        hash-checked against its oracle), never as silent masking;
        set ``HBASE_SPARK_DEBUG_CONTRACTS=1`` to validate the contract
        with counting jobs before the fast path runs (debug mode —
        off the hot path by default).
    delete_kinds:
        Caller contract (optimization guide §8, like ``single_version``):
        the set of tombstone CellTypes the frame can contain — e.g. a
        melt that synthesizes only column-scoped markers passes
        ``{CellType.DELETE_COLUMN}``.  When the set is within
        {DELETE_COLUMN} and the read uses the default knobs
        (``versions`` normalizing to 1, ``min_versions`` 0, no
        NEW_VERSION_BEHAVIOR, no family-TTL carry-over), tombstone
        masking and version capping FUSE into one grouped aggregation
        over the cells (``_resolve_column_deletes_v1``): no tombstone
        re-scan, no broadcast joins, one exchange.  A wrong assertion
        surfaces as unmasked rows in output (each asserted frame's
        declared queries stay hash-checked against their oracle), never
        as silent extra masking; ``HBASE_SPARK_DEBUG_CONTRACTS=1``
        validates it up front like ``single_version``.  Ignored
        (general path) whenever any knob falls outside the fused
        contract.
    cell_ttl_col:
        Column carrying a per-cell TTL in millis (NULL = no tag) — the
        Mutation#setTTL / TagType.TTL_TAG_TYPE analog.  Reference
        semantics (querymatcher/ScanQueryMatcher.java:143-164, preCheck
        :178): a cell with ``ts + ttl < now`` is SKIPped *before*
        version counting — unlike family TTL it never consumes a
        version slot and ``min_versions`` does not retain it — and the
        tag "cannot extend lifetime beyond family settings" (:159), so
        the family TTL still applies on top.  Raw scans are exempt
        (preCheckRaw :189).  Requires ``now``.

    ``scan``, ``get`` and ``multi_get`` resolve through the same core
    (``_resolve_cells``), so the ``single_version`` contract and its
    ``HBASE_SPARK_DEBUG_CONTRACTS`` check apply to them unchanged.  The
    check reads the frame the core resolves: after ``as_of`` and
    cell-TTL filtering here, after row-range, projection and ``as_of``
    pruning in a scan.

    ``delete_kinds`` empty means the frame holds no tombstone at all:
    masking is then skipped under every knob.  ``Table`` passes it for
    a layout whose ``Admin.flush`` found no tombstone in the files it
    wrote (see ``Admin.flush``), so Admin-backed reads of a PUT-only
    table take that path; the debug check above covers it too.
    """
    c = cells
    if as_of is not None:
        c = c.filter(F.col("ts") <= F.lit(as_of))

    if raw:
        # Raw scans bypass masking, version capping AND TTL
        # (rs/StoreScanner.java:194 exempts raw scans from oldestUnexpiredTS).
        if time_range is not None:
            c = c.filter(_time_range_pred(time_range))
        return c

    if cell_ttl_col is not None:
        if now is None:
            raise ValueError("now= is required when cell_ttl_col is set")
        c = c.filter(
            F.col(cell_ttl_col).isNull()
            | (F.col(cell_ttl_col) + F.col("ts") >= F.lit(now))
        )

    bounded = time_range is not None and time_range[1] is not None
    return _resolve_cells(
        c,
        versions=versions,
        min_versions=min_versions,
        ttl_by_family=ttl_by_family,
        now=now,
        new_version_behavior=new_version_behavior,
        keep_deleted_cells=keep_deleted_cells,
        single_version=single_version,
        delete_kinds=delete_kinds,
        time_pred=_time_range_pred(time_range) if time_range is not None else None,
        kdc_hi=F.lit(time_range[1]) if bounded else None,
    )


def _ttl_predrop(
    c: DataFrame,
    ttl_by_family: dict[str, int] | None,
    now: int | None,
    min_versions: int | dict,
) -> tuple[DataFrame, Column | None]:
    """Family-TTL expiry (rs/StoreScanner.java:100 oldestUnexpiredTS).

    Returns the frame with expired cells (puts and markers) pre-dropped
    where MIN_VERSIONS <= 0 — ScanQueryMatcher.preCheck drops them only
    when ``columns.isDone`` — per family when ``min_versions`` is
    family-keyed, and the per-row cutoff column that ``cap_versions``
    still has to apply for the families that keep expired versions
    (None when no family does)."""
    if not ttl_by_family:
        return c, None
    if now is None:
        raise ValueError("now= is required when ttl_by_family is set")
    min_versions = _norm_versions(min_versions, default=0)
    cutoff = F.lit(None).cast("long")
    for fam, ttl_ms in ttl_by_family.items():
        cutoff = F.when(F.col("family") == fam, F.lit(now - ttl_ms)).otherwise(cutoff)
    if isinstance(min_versions, int):
        if min_versions <= 0:
            return c.filter(cutoff.isNull() | (F.col("ts") >= cutoff)), None
        return c, cutoff
    pos_fams = [f for f, v in min_versions.items() if v > 0]
    c = c.filter(
        F.col("family").isin(pos_fams) | cutoff.isNull() | (F.col("ts") >= cutoff)
    )
    return c, (cutoff if pos_fams else None)


def _kdc_keep(kdc_hi: Column, keep_deleted_cells: bool | frozenset) -> Column:
    """KEEP_DELETED_CELLS marker tracking: markers at or after the
    read's upper time bound do not mask
    (NormalUserScanQueryMatcher.java:95 ``tr.withinTimeRange``) — KDC
    families only, when family-keyed; the other families keep the
    default withinOrAfterTimeRange tracking.  ``kdc_hi`` may be per
    family, NULL where that family's range is open."""
    keep = kdc_hi.isNull() | (F.col("ts") < kdc_hi)
    if keep_deleted_cells is True:
        return keep
    return ~_fam_member(keep_deleted_cells) | keep


def _resolve_cells(
    c: DataFrame,
    *,
    versions: int | dict,
    min_versions: int | dict,
    ttl_by_family: dict[str, int] | None,
    now: int | None,
    new_version_behavior: bool | set,
    keep_deleted_cells: bool | set,
    single_version: bool,
    delete_kinds,
    time_pred: Column | None,
    kdc_hi: Column | None,
    cell_pred: Column | None = None,
) -> DataFrame:
    """The one resolve core behind resolve(), scan(), get() and
    multi_get(): TTL pre-drop, tombstone masking, the put-visibility
    time predicate, the cell predicate, then version capping — in
    ScanQueryMatcher order (UserScanQueryMatcher.java:216: the cell
    filter runs after delete masking, before version counting).

    ``time_pred`` is the put-visibility predicate (a scan's per-family
    ranges fold into it), ``kdc_hi`` the KEEP_DELETED_CELLS marker
    bound (see ``_kdc_keep``); both None for an unbounded read.  The
    caller contracts pick the path — ``single_version``: no masking
    or capping; empty ``delete_kinds``: no masking, under any knobs;
    ``delete_kinds <= {DELETE_COLUMN}``: the fused mask+cap — and
    ``HBASE_SPARK_DEBUG_CONTRACTS=1`` checks them here, for every
    caller."""
    if single_version or delete_kinds is not None:
        _check_caller_contracts(c, single_version, delete_kinds)
    min_versions = _norm_versions(min_versions, default=0)
    keep_deleted_cells = _norm_flag(keep_deleted_cells)
    c, cutoff = _ttl_predrop(c, ttl_by_family, now, min_versions)
    visible = [p for p in (time_pred, cell_pred) if p is not None]

    puts = c.filter(F.col("type") == CellType.PUT)
    if single_version and _cap_is_identity(versions):
        out = reduce(DataFrame.filter, visible, puts)
        if cutoff is not None:
            # expired cells survive only where min_versions keeps the
            # newest cell — with one version per column, rank is 1
            minv = (
                F.lit(min_versions)
                if isinstance(min_versions, int)
                else _fam_col(min_versions, 0)
            )
            out = out.filter(
                cutoff.isNull() | (F.col("ts") >= cutoff) | (minv >= 1)
            )
        return out
    if delete_kinds is not None and not delete_kinds:
        # no tombstones: mask_deletes is the identity under every knob
        # (NEW_VERSION_BEHAVIOR and KEEP_DELETED_CELLS only act on markers)
        masked = puts
    elif (
        delete_kinds is not None
        and set(delete_kinds) <= {CellType.DELETE_COLUMN}
        and _norm_versions(versions) == 1
        and min_versions == 0
        and cutoff is None
        and _norm_flag(new_version_behavior) is False
    ):
        put_pred = reduce(operator.and_, visible, F.col("type") == CellType.PUT)
        del_pred = F.col("type") == CellType.DELETE_COLUMN
        if keep_deleted_cells and kdc_hi is not None:
            del_pred = del_pred & _kdc_keep(kdc_hi, keep_deleted_cells)
        return _resolve_column_deletes_v1(c, put_pred, del_pred)
    else:
        dels = c.filter(F.col("type") != CellType.PUT)
        if keep_deleted_cells and kdc_hi is not None:
            dels = dels.filter(_kdc_keep(kdc_hi, keep_deleted_cells))
        masked = mask_deletes(
            puts, dels, new_version_behavior=new_version_behavior
        )
    return cap_versions(
        reduce(DataFrame.filter, visible, masked),
        versions,
        min_versions=min_versions,
        ttl_cutoff=cutoff,
    )


def _resolve_column_deletes_v1(
    c: DataFrame, put_pred: Column, del_pred: Column
) -> DataFrame:
    """Fused mask+cap for the ``delete_kinds <= {DELETE_COLUMN}``,
    ``versions=1`` contract: ONE grouped aggregation over the cells
    replaces the tombstone-slice checkpoint, its two aggregate+broadcast
    build sides, both mask joins, and the separate version-cap
    aggregation — the cell source is scanned once and the put rows
    cross exactly one exchange (as pre-aggregated partials).

    Why the fuse is exact: a DELETE_COLUMN marker masks every put of
    its column with ``ts <= marker ts``, so the surviving puts of a
    column are precisely those with ``ts`` above the column's maximum
    marker ts — a *suffix* of the version order.  The newest put (by
    ts, then seq) is therefore visible iff it clears that single
    threshold, and when it does not, no older put can — which is what
    lets the winner be picked before the mask is applied.  (DELETE, the
    exact-version kind, has no such monotonicity — an exact-ts delete
    of the newest put can expose an older one — so it is outside the
    contract and takes the general mask_deletes path.)  Matcher order
    is preserved: the marker maximum is taken over the markers
    ``del_pred`` tracks (deletes apply before the time-range check),
    the put ordering only over the puts ``put_pred`` keeps (in range,
    passing the cell filter).
    """
    extra = [x for x in c.columns if x not in ("row", "family", "qualifier")]
    payload = F.struct(*[F.col(x) for x in extra])
    ordering = F.struct(F.col("ts"), F.col("seq"))
    agged = c.groupBy("row", "family", "qualifier").agg(
        F.max(F.when(del_pred, F.col("ts"))).alias("_dmax"),
        # max_by skips rows whose ordering is NULL (verified on this
        # build), so tombstone rows never contend for the winner slot
        # and put-less groups aggregate to NULL.
        F.max_by(
            F.when(put_pred, payload), F.when(put_pred, ordering)
        ).alias("_cell"),
    )
    return (
        agged.filter(
            F.col("_cell").isNotNull()
            & (F.col("_dmax").isNull() | (F.col("_cell.ts") > F.col("_dmax")))
        )
        .select(
            "row",
            "family",
            "qualifier",
            *[F.col(f"_cell.{x}").alias(x) for x in extra],
        )
        .select(*c.columns)
    )


def mask_deletes(
    puts: DataFrame, dels: DataFrame, *, new_version_behavior: bool | set = False
) -> DataFrame:
    """Apply the four tombstone scopes of ScanDeleteTracker.isDeleted
    (rs/querymatcher/ScanDeleteTracker.java:102) to a put-only frame.

    The four delete scopes collapse into TWO left joins (one per key
    shape), each with a small aggregated build side — broadcast-able
    under AQE, so the large put side streams through unshuffled and
    the tombstone log is scanned twice, not four times:

    - (row, family):            DELETE_FAMILY max-ts + the exact-ts set
                                of DELETE_FAMILY_VERSION markers;
    - (row, family, qualifier): DELETE_COLUMN max-ts + the exact
                                (ts, seq) markers of single-version
                                DELETEs.

    The tombstone slice is materialized ONCE (r10): both build sides
    read ``dels``, and without it each aggregation re-scans (and
    re-melts) the source — the tombstone log was the only part of the
    input read twice.  The first build side's computation stores the
    slice, the second reads it.  Tombstones are a small fraction of
    cells, so the stored slice is marker-bounded, never table-sized.
    """
    dels = materialize(dels)
    fam_side = (
        dels.filter(
            F.col("type").isin(CellType.DELETE_FAMILY, CellType.DELETE_FAMILY_VERSION)
        )
        .groupBy("row", "family")
        .agg(
            F.max(
                F.when(F.col("type") == CellType.DELETE_FAMILY, F.col("ts"))
            ).alias("_dfam_ts"),
            F.collect_set(
                F.when(F.col("type") == CellType.DELETE_FAMILY_VERSION, F.col("ts"))
            ).alias("_dfv_ts"),
        )
    )
    nvb = _norm_flag(new_version_behavior)
    if nvb:
        # NewVersionBehaviorTracker: mvcc (seq) decides ties — a put
        # written after the delete marker survives.  Needs (ts, seq)
        # pairs, so the probe is an exists() over structs.  (Used both
        # for the all-NVB table and the mixed per-family case.)
        ver_agg = F.collect_list(
            F.when(
                F.col("type") == CellType.DELETE,
                F.struct(F.col("ts").alias("ts"), F.col("seq").alias("seq")),
            )
        ).alias("_dver")
    else:
        # default tie-breaking only needs the ts set — array_contains
        # stays inside whole-stage codegen (exists() lambdas are
        # interpreted per put cell, a real cost on the hot path).
        ver_agg = F.collect_set(
            F.when(F.col("type") == CellType.DELETE, F.col("ts"))
        ).alias("_dver")
    col_side = (
        dels.filter(F.col("type").isin(CellType.DELETE_COLUMN, CellType.DELETE))
        .groupBy("row", "family", "qualifier")
        .agg(
            F.max(
                F.when(F.col("type") == CellType.DELETE_COLUMN, F.col("ts"))
            ).alias("_dcol_ts"),
            ver_agg,
        )
    )
    if nvb is True:
        ver_hit = F.exists(
            F.col("_dver"),
            lambda d: (d["ts"] == F.col("ts")) & (d["seq"] >= F.col("seq")),
        )
    elif nvb is False:
        ver_hit = F.array_contains("_dver", F.col("ts"))
    else:
        # mixed per-family: NVB families honor seq ties, the rest use
        # the reference default (delete wins at equal ts)
        ver_hit = F.when(
            _fam_member(nvb),
            F.exists(
                F.col("_dver"),
                lambda d: (d["ts"] == F.col("ts")) & (d["seq"] >= F.col("seq")),
            ),
        ).otherwise(
            F.exists(F.col("_dver"), lambda d: d["ts"] == F.col("ts"))
        )
    keep = (
        (F.col("_dfam_ts").isNull() | (F.col("ts") > F.col("_dfam_ts")))
        & (F.col("_dfv_ts").isNull() | ~F.array_contains("_dfv_ts", F.col("ts")))
        & (F.col("_dcol_ts").isNull() | (F.col("ts") > F.col("_dcol_ts")))
        & (F.col("_dver").isNull() | ~F.coalesce(ver_hit, F.lit(False)))
    )
    return (
        puts.join(fam_side, ["row", "family"], "left")
        .join(col_side, ["row", "family", "qualifier"], "left")
        .filter(keep)
        # Joins with list keys move the keys to the front of the schema;
        # restore the caller's column order for a stable output contract.
        .select(*puts.columns)
    )


def cap_versions(
    masked: DataFrame,
    versions: int | dict,
    *,
    min_versions: int | dict = 0,
    ttl_cutoff: Column | None = None,
) -> DataFrame:
    """Keep the newest ``versions`` cells per (row, family, qualifier).

    versions=1 uses max_by (hash agg with map-side combine — one
    shuffle of pre-aggregated partials); versions>1 uses a window.
    ``versions``/``min_versions`` may be family-keyed dicts (the
    reference's per-ColumnFamilyDescriptor MAX_VERSIONS/MIN_VERSIONS);
    a family missing from the dict gets the reference default (1 / 0).

    With ``min_versions``/``ttl_cutoff`` set, TTL expiry is applied
    *here* so expired cells still consume version slots but survive
    while their rank is <= min_versions
    (ScanWildcardColumnTracker.checkVersions:143).
    """
    versions = _norm_versions(versions)
    min_versions = _norm_versions(min_versions, default=0)
    if isinstance(versions, int) and versions <= 0:
        raise ValueError("versions must be >= 1")
    extra = [c for c in masked.columns if c not in ("row", "family", "qualifier")]
    vcap = (
        F.lit(versions) if isinstance(versions, int) else _fam_col(versions, 1)
    )
    min_pos = (
        min_versions > 0
        if isinstance(min_versions, int)
        else any(v > 0 for v in min_versions.values())
    )
    if min_pos and ttl_cutoff is not None:
        w = Window.partitionBy("row", "family", "qualifier").orderBy(
            *[F.col(c).desc() for c in _VERSION_ORDER]
        )
        unexpired = ttl_cutoff.isNull() | (F.col("ts") >= ttl_cutoff)
        minv = (
            F.lit(min_versions)
            if isinstance(min_versions, int)
            else _fam_col(min_versions, 0)
        )
        return (
            masked.withColumn("_rn", F.row_number().over(w))
            .filter(
                (F.col("_rn") <= vcap) & (unexpired | (F.col("_rn") <= minv))
            )
            .drop("_rn")
        )
    if versions == 1:
        payload = F.struct(*[F.col(c) for c in extra])
        ordering = F.struct(F.col("ts"), F.col("seq"))
        agged = masked.groupBy("row", "family", "qualifier").agg(
            F.max_by(payload, ordering).alias("_cell")
        )
        return agged.select(
            "row", "family", "qualifier", *[F.col(f"_cell.{c}").alias(c) for c in extra]
        ).select(*masked.columns)
    w = Window.partitionBy("row", "family", "qualifier").orderBy(
        *[F.col(c).desc() for c in _VERSION_ORDER]
    )
    return (
        masked.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= vcap)
        .drop("_rn")
    )


def _time_range_pred(time_range: tuple[int | None, int | None]) -> Column:
    """min <= ts < max, either bound open (common/io/TimeRange.java:30)."""
    lo, hi = time_range
    pred = F.lit(True)
    if lo is not None:
        pred = pred & (F.col("ts") >= F.lit(lo))
    if hi is not None:
        pred = pred & (F.col("ts") < F.lit(hi))
    return pred


def compact(
    cells: DataFrame,
    *,
    ttl_by_family=None,
    now=None,
    versions: int | dict = 1,
    min_versions: int | dict = 0,
    keep_deleted_cells: bool | set = False,
    _delete_kinds: frozenset | None = None,
) -> DataFrame:
    """Major compaction ≡ materialized snapshot resolution
    (rs/querymatcher/MajorCompactionScanQueryMatcher.java): rewrite the
    CellFrame with tombstones applied and old versions pruned.  Use as
    an OPTIMIZE-style maintenance job: ``compact(cells).write...``.

    With ``keep_deleted_cells`` (CompactionScanQueryMatcher.java:95-102)
    deleted cells and their markers are NOT dropped — compaction then
    only removes cells by TTL and version count, so back-in-time reads
    keep working after the rewrite.  ``_delete_kinds`` is the
    ``delete_kinds`` contract a ``Table`` derived from its layout (see
    ``resolve``), not a caller option.
    """
    keep_deleted_cells = _norm_flag(keep_deleted_cells)
    if isinstance(keep_deleted_cells, frozenset):
        # per-family KDC: compact each regime on its family subset and
        # union — same one-pass-per-store shape as the reference's
        # per-CF compaction.
        member = _fam_member(keep_deleted_cells)
        kw = dict(ttl_by_family=ttl_by_family, now=now, versions=versions,
                  min_versions=min_versions, _delete_kinds=_delete_kinds)
        return compact(
            cells.filter(member), keep_deleted_cells=True, **kw
        ).unionByName(
            compact(cells.filter(~member), keep_deleted_cells=False, **kw)
        )
    if keep_deleted_cells:
        c, cutoff = _ttl_predrop(cells, ttl_by_family, now, min_versions)
        puts = c.filter(F.col("type") == CellType.PUT)
        dels = c.filter(F.col("type") != CellType.PUT)
        return cap_versions(
            puts, versions, min_versions=min_versions, ttl_cutoff=cutoff
        ).unionByName(dels)
    return resolve(
        cells,
        versions=versions,
        min_versions=min_versions,
        ttl_by_family=ttl_by_family,
        now=now,
        delete_kinds=_delete_kinds,
    )
