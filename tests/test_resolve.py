"""Snapshot-resolution matrix tests, mirroring the reference's
TestStoreScanner.java / TestHRegion.java handcrafted-cell cases
(FIXTURES.md §A1), plus a hypothesis property test against the naive
executable spec in tests/spec.py.
"""

import random

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from hbase_spark.model import CELL_COLUMNS, CellType, cell_schema
from hbase_spark.operators.resolve import cap_versions, resolve
from tests.spec import key_set, resolve_spec

PUT = CellType.PUT
D = CellType.DELETE
DFV = CellType.DELETE_FAMILY_VERSION
DC = CellType.DELETE_COLUMN
DF_ = CellType.DELETE_FAMILY


def cell(row, fam, qual, ts, typ=PUT, value=None, seq=None):
    return {
        "row": row,
        "family": fam,
        "qualifier": qual,
        "ts": ts,
        "type": typ,
        "value": value if value is not None else f"{row}/{qual}@{ts}",
        "seq": seq if seq is not None else ts,
    }


def to_df(spark, cells):
    rows = [tuple(c[k] for k in CELL_COLUMNS) for c in cells]
    return spark.createDataFrame(rows, schema=cell_schema())


def run(spark, cells, **kw):
    got = resolve(to_df(spark, cells), **kw).collect()
    return {(r.row, r.family, r.qualifier, r.ts, r.value) for r in got}


def test_latest_version_wins(spark):
    cells = [cell("r1", "f", "q", t) for t in (10, 20, 30)]
    assert run(spark, cells) == {("r1", "f", "q", 30, "r1/q@30")}


def test_multi_versions(spark):
    cells = [cell("r1", "f", "q", t) for t in (10, 20, 30)]
    assert run(spark, cells, versions=2) == {
        ("r1", "f", "q", 30, "r1/q@30"),
        ("r1", "f", "q", 20, "r1/q@20"),
    }


def test_same_ts_seq_tiebreak(spark):
    cells = [
        cell("r1", "f", "q", 10, value="old", seq=1),
        cell("r1", "f", "q", 10, value="new", seq=2),
    ]
    assert run(spark, cells) == {("r1", "f", "q", 10, "new")}


def test_delete_version_masks_exact_ts(spark):
    cells = [
        cell("r1", "f", "q", 10),
        cell("r1", "f", "q", 20),
        cell("r1", "f", "q", 20, typ=D, seq=99),
    ]
    assert run(spark, cells) == {("r1", "f", "q", 10, "r1/q@10")}


def test_delete_column_masks_older(spark):
    cells = [
        cell("r1", "f", "q", 10),
        cell("r1", "f", "q", 20),
        cell("r1", "f", "q", 15, typ=DC, seq=99),
        cell("r1", "f", "q2", 10),
    ]
    assert run(spark, cells, versions=3) == {
        ("r1", "f", "q", 20, "r1/q@20"),
        ("r1", "f", "q2", 10, "r1/q2@10"),
    }


def test_delete_family_masks_all_columns(spark):
    cells = [
        cell("r1", "f", "a", 10),
        cell("r1", "f", "b", 10),
        cell("r1", "f", "b", 30),
        cell("r1", "f", None, 20, typ=DF_, seq=99),
        cell("r2", "f", "a", 10),
    ]
    assert run(spark, cells, versions=3) == {
        ("r1", "f", "b", 30, "r1/b@30"),
        ("r2", "f", "a", 10, "r2/a@10"),
    }


def test_delete_family_version_exact_ts(spark):
    cells = [
        cell("r1", "f", "a", 10),
        cell("r1", "f", "b", 10),
        cell("r1", "f", "b", 11),
        cell("r1", "f", None, 10, typ=DFV, seq=99),
    ]
    assert run(spark, cells, versions=3) == {("r1", "f", "b", 11, "r1/b@11")}


def test_delete_only_masks_same_family(spark):
    cells = [
        cell("r1", "f1", "q", 10),
        cell("r1", "f2", "q", 10),
        cell("r1", "f1", None, 20, typ=DF_, seq=99),
    ]
    assert run(spark, cells) == {("r1", "f2", "q", 10, "r1/q@10")}


def test_put_newer_than_delete_survives(spark):
    cells = [
        cell("r1", "f", "q", 10),
        cell("r1", "f", "q", 15, typ=DC, seq=2),
        cell("r1", "f", "q", 20, seq=3),
    ]
    assert run(spark, cells) == {("r1", "f", "q", 20, "r1/q@20")}


def test_new_version_behavior_same_ts(spark):
    # put(seq=1), delete(seq=2), put(seq=3) all at ts=10
    cells = [
        cell("r1", "f", "q", 10, value="v1", seq=1),
        cell("r1", "f", "q", 10, typ=D, seq=2),
        cell("r1", "f", "q", 10, value="v3", seq=3),
    ]
    # default: delete wins at equal ts regardless of write order
    assert run(spark, cells) == set()
    # NEW_VERSION_BEHAVIOR: seq ordering decides — the later put survives
    assert run(spark, cells, new_version_behavior=True) == {
        ("r1", "f", "q", 10, "v3")
    }


def test_as_of_snapshot(spark):
    cells = [
        cell("r1", "f", "q", 10),
        cell("r1", "f", "q", 20, typ=DC, seq=99),
        cell("r1", "f", "q", 30),
    ]
    assert run(spark, cells, as_of=15) == {("r1", "f", "q", 10, "r1/q@10")}
    assert run(spark, cells, as_of=25) == set()
    assert run(spark, cells) == {("r1", "f", "q", 30, "r1/q@30")}


def test_time_range_applied_after_deletes(spark):
    # tombstone at ts=50 outside the queried range still masks ts=10
    cells = [
        cell("r1", "f", "q", 10),
        cell("r1", "f", "q", 50, typ=DC, seq=99),
        cell("r1", "f", "q2", 10),
    ]
    assert run(spark, cells, time_range=(0, 20)) == {
        ("r1", "f", "q2", 10, "r1/q2@10")
    }


def test_time_range_half_open(spark):
    cells = [cell("r1", "f", "q", t) for t in (10, 20, 30)]
    assert run(spark, cells, versions=3, time_range=(10, 30)) == {
        ("r1", "f", "q", 10, "r1/q@10"),
        ("r1", "f", "q", 20, "r1/q@20"),
    }


def test_versions_counted_within_time_range(spark):
    # ScanQueryMatcher skips out-of-range cells before version counting
    cells = [cell("r1", "f", "q", t) for t in (10, 20, 30, 40)]
    assert run(spark, cells, versions=2, time_range=(0, 35)) == {
        ("r1", "f", "q", 30, "r1/q@30"),
        ("r1", "f", "q", 20, "r1/q@20"),
    }


def test_ttl(spark):
    cells = [
        cell("r1", "f1", "q", 1_000),
        cell("r1", "f2", "q", 1_000),
        cell("r1", "f2", "q2", 9_000),
    ]
    got = run(spark, cells, ttl_by_family={"f2": 5_000}, now=10_000)
    assert got == {
        ("r1", "f1", "q", 1_000, "r1/q@1000"),
        ("r1", "f2", "q2", 9_000, "r1/q2@9000"),
    }


def test_min_versions_keeps_expired(spark):
    # MIN_VERSIONS (ColumnFamilyDescriptorBuilder.java:150): the newest
    # min_versions survive TTL expiry; older expired versions vanish.
    cells = [cell("r1", "f", "q", t) for t in (1_000, 2_000, 3_000)]
    kw = {"ttl_by_family": {"f": 1_000}, "now": 10_000, "versions": 3}
    assert run(spark, cells, **kw) == set()
    assert run(spark, cells, min_versions=1, **kw) == {
        ("r1", "f", "q", 3_000, "r1/q@3000")
    }
    assert run(spark, cells, min_versions=2, **kw) == {
        ("r1", "f", "q", 3_000, "r1/q@3000"),
        ("r1", "f", "q", 2_000, "r1/q@2000"),
    }


def test_min_versions_expired_consume_slots(spark):
    # ScanWildcardColumnTracker.checkVersions:143 — an expired cell
    # consumes its version slot even when dropped.
    cells = [
        cell("r1", "f", "q", 9_000),
        cell("r1", "f", "q", 1_000),
        cell("r1", "f", "q", 500),
    ]
    got = run(
        spark,
        cells,
        versions=2,
        min_versions=1,
        ttl_by_family={"f": 5_000},
        now=10_000,
    )
    # ts=1000 is rank 2 (<= versions) but expired with rank > min_versions;
    # ts=500 is rank 3 and never considered.
    assert got == {("r1", "f", "q", 9_000, "r1/q@9000")}


def test_min_versions_expired_tombstone_still_masks(spark):
    # With min_versions > 0 expired markers are still tracked
    # (preCheck only pre-drops when columns.isDone, i.e. minVersions<=0).
    cells = [
        cell("r1", "f", "q", 1_000),
        cell("r1", "f", "q", 1_500, typ=DC, seq=99),
    ]
    got = run(
        spark, cells, min_versions=1, ttl_by_family={"f": 5_000}, now=10_000
    )
    assert got == set()


def test_keep_deleted_cells_back_in_time(spark):
    # KEEP_DELETED_CELLS (KeepDeletedCells.java:30): a time-range read
    # ending before the delete marker sees the pre-delete state
    # (NormalUserScanQueryMatcher.java:95 withinTimeRange).
    cells = [
        cell("r1", "f", "q", 10),
        cell("r1", "f", "q", 50, typ=DC, seq=99),
    ]
    # default (FALSE): the marker after the range still masks
    assert run(spark, cells, time_range=(0, 20)) == set()
    # TRUE: marker at ts=50 is outside [0, 20) -> not tracked
    assert run(spark, cells, time_range=(0, 20), keep_deleted_cells=True) == {
        ("r1", "f", "q", 10, "r1/q@10")
    }
    # marker inside the range still masks either way
    assert (
        run(spark, cells, time_range=(0, 60), keep_deleted_cells=True) == set()
    )
    # without a bounded time range keep_deleted_cells is a no-op
    assert run(spark, cells, keep_deleted_cells=True) == set()


def test_ttl_requires_now(spark):
    with pytest.raises(ValueError):
        resolve(to_df(spark, [cell("r", "f", "q", 1)]), ttl_by_family={"f": 1})


def _ttl_df(spark, cells, ttls):
    from pyspark.sql import functions as F

    df = to_df(spark, cells)
    expr = F.lit(None).cast("long")
    for (row, fam, qual, ts), ttl in ttls.items():
        expr = F.when(
            (F.col("row") == row) & (F.col("family") == fam)
            & (F.col("qualifier") == qual) & (F.col("ts") == ts),
            F.lit(ttl),
        ).otherwise(expr)
    return df.withColumn("cell_ttl", expr)


def _run_ttl(spark, cells, ttls, **kw):
    got = resolve(_ttl_df(spark, cells, ttls), cell_ttl_col="cell_ttl", **kw)
    return {(r.row, r.family, r.qualifier, r.ts, r.value) for r in got.collect()}


def test_cell_ttl_expires_tagged_cells_only(spark):
    # ScanQueryMatcher.isCellTTLExpired (:143): ts + ttl < now -> SKIP;
    # untagged cells are untouched (no family TTL set here).
    cells = [cell("r1", "f", "q", 1_000), cell("r1", "f", "q2", 1_000)]
    got = _run_ttl(
        spark, cells, {("r1", "f", "q", 1_000): 2_000}, now=10_000
    )
    assert got == {("r1", "f", "q2", 1_000, "r1/q2@1000")}
    # boundary: ts + ttl == now is NOT expired (strict <)
    got = _run_ttl(spark, cells, {("r1", "f", "q", 1_000): 9_000}, now=10_000)
    assert len(got) == 2


def test_cell_ttl_skips_before_version_counting(spark):
    # preCheck SKIPs cell-TTL-expired cells before the column tracker:
    # they never consume version slots and min_versions does NOT
    # retain them (contrast test_min_versions_expired_consume_slots).
    cells = [cell("r1", "f", "q", t) for t in (9_000, 1_000, 500)]
    got = _run_ttl(
        spark, cells, {("r1", "f", "q", 1_000): 100}, versions=2, now=10_000
    )
    # ts=1000 vanished pre-ranking -> ts=500 takes version slot 2
    assert got == {
        ("r1", "f", "q", 9_000, "r1/q@9000"),
        ("r1", "f", "q", 500, "r1/q@500"),
    }
    got = _run_ttl(
        spark, cells, {("r1", "f", "q", 9_000): 100},
        versions=1, min_versions=1, ttl_by_family={"f": 100_000}, now=10_000,
    )
    assert got == {("r1", "f", "q", 1_000, "r1/q@1000")}


def test_cell_ttl_cannot_extend_family_ttl(spark):
    # ScanQueryMatcher.java:159 — the tag "cannot extend lifetime
    # beyond family settings": a generous cell TTL does not save a
    # family-TTL-expired cell.
    cells = [cell("r1", "f", "q", 1_000)]
    got = _run_ttl(
        spark, cells, {("r1", "f", "q", 1_000): 1_000_000},
        ttl_by_family={"f": 2_000}, now=10_000,
    )
    assert got == set()


def test_cell_ttl_expired_tombstone_does_not_mask(spark):
    # an expired-by-cell-TTL delete marker is SKIPped in preCheck, so
    # it is never tracked by the delete tracker.
    cells = [
        cell("r1", "f", "q", 1_000),
        cell("r1", "f", "q", 2_000, typ=DC, seq=99),
    ]
    got = _run_ttl(
        spark, cells, {("r1", "f", "q", 2_000): 100}, now=10_000
    )
    assert got == {("r1", "f", "q", 1_000, "r1/q@1000")}


def test_cell_ttl_raw_scan_exempt(spark):
    # preCheckRaw (:189) "should not skip expired cells".
    cells = [cell("r1", "f", "q", 1_000)]
    df = _ttl_df(spark, cells, {("r1", "f", "q", 1_000): 100})
    assert resolve(df, raw=True).count() == 1


def test_cell_ttl_requires_now(spark):
    df = _ttl_df(spark, [cell("r", "f", "q", 1)], {})
    with pytest.raises(ValueError):
        resolve(df, cell_ttl_col="cell_ttl")


def test_put_cells_ttl_roundtrip(spark):
    from hbase_spark.operators.mutations import put_cells

    batch = put_cells(
        spark, [("r1", "f", "q", "v")], ts=1_000, seq=1, ttl=500
    )
    assert resolve(batch, cell_ttl_col="cell_ttl", now=2_000).count() == 0
    assert resolve(batch, cell_ttl_col="cell_ttl", now=1_400).count() == 1


def test_raw_exposes_tombstones_and_versions(spark):
    cells = [
        cell("r1", "f", "q", 10),
        cell("r1", "f", "q", 20),
        cell("r1", "f", "q", 20, typ=D, seq=99),
    ]
    got = resolve(to_df(spark, cells), raw=True).collect()
    assert len(got) == 3
    assert {r.type for r in got} == {PUT, D}


def test_cap_versions_window_path_matches_agg_path(spark):
    cells = [cell(f"r{i}", "f", f"q{j}", t) for i in range(5) for j in range(3) for t in (1, 2, 3)]
    df = to_df(spark, cells)
    one_agg = {(r.row, r.qualifier, r.ts) for r in cap_versions(df, 1).collect()}
    one_win = {
        (r.row, r.qualifier, r.ts)
        for r in cap_versions(df, 2).filter("ts = 3").collect()
    }
    assert one_agg == one_win


def test_partial_family_versions_dict_defaults_to_one(spark):
    """A family ABSENT from a versions dict gets the reference default
    MAX_VERSIONS=1 — a uniform dict like {'f1': 2} must NOT collapse to
    a table-wide 2 (round-2 hypothesis falsifying example)."""
    cells = [
        cell("r1", "f1", "a", 1, seq=0),
        cell("r1", "f2", "a", 1, value="v1", seq=1),
        cell("r1", "f2", "a", 2, value="v2", seq=2),
    ]
    got = run(spark, cells, versions={"f1": 2})
    assert got == {
        ("r1", "f1", "a", 1, "r1/a@1"),
        ("r1", "f2", "a", 2, "v2"),  # f2 defaults to MAX_VERSIONS=1
    }


# ---- property test vs the executable spec ----------------------------------

cell_strategy = st.fixed_dictionaries(
    {
        "row": st.sampled_from(["r1", "r2", "r3"]),
        "family": st.sampled_from(["f1", "f2"]),
        "qualifier": st.sampled_from(["a", "b", "c"]),
        "ts": st.integers(min_value=1, max_value=8),
        "type": st.sampled_from([PUT, PUT, PUT, PUT, D, DFV, DC, DF_]),
    }
)


@given(
    cells=st.lists(cell_strategy, min_size=1, max_size=40),
    # scalars AND family-keyed forms: every knob is strictly per column
    # family in the reference (ColumnFamilyDescriptor), so the law must
    # hold for heterogeneous families too
    versions=st.sampled_from([1, 2, 3, {"f1": 1, "f2": 3}, {"f1": 2}]),
    nvb=st.sampled_from([False, True, frozenset({"f1"}), frozenset({"f2"})]),
    time_range=st.sampled_from([None, (2, 6), (None, 5), (4, None)]),
    ttl=st.sampled_from([None, {"f1": 4}, {"f1": 2, "f2": 5}]),
    min_versions=st.sampled_from([0, 1, 2, {"f1": 1, "f2": 0}, {"f2": 2}]),
    kdc=st.sampled_from([False, True, frozenset({"f1"})]),
)
@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_resolve_matches_spec(
    spark, cells, versions, nvb, time_range, ttl, min_versions, kdc
):
    rng = random.Random(42)
    full = []
    for i, c in enumerate(cells):
        c = dict(c)
        c["seq"] = i
        c["value"] = f"v{i}" if c["type"] == PUT else None
        if c["type"] in (DF_, DFV) and rng.random() < 0.5:
            c["qualifier"] = None
        full.append(c)
    kw = dict(
        versions=versions,
        new_version_behavior=nvb,
        time_range=time_range,
        ttl_by_family=ttl,
        now=8 if ttl else None,
        min_versions=min_versions,
        keep_deleted_cells=kdc,
    )
    expected = key_set(resolve_spec(full, **kw))
    got = run(spark, full, **kw)
    assert got == expected


@given(
    cells=st.lists(cell_strategy, min_size=1, max_size=30),
    versions=st.sampled_from([1, 2]),
    quals=st.sampled_from([None, ["a"], ["a", "b"]]),
    fams=st.sampled_from([None, ["f1"]]),
    ttl=st.sampled_from([None, {"f1": 4}]),
    min_versions=st.sampled_from([0, 1]),
    kdc=st.booleans(),
    time_range=st.sampled_from([None, (2, 6)]),
)
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_scan_projection_equals_post_resolve_filter(
    spark, cells, versions, quals, fams, ttl, min_versions, kdc, time_range
):
    # Law: scan with a family/qualifier projection == resolve-then-project.
    # scan() projects BEFORE resolution (keeping family-scope tombstones),
    # which is only correct if it matches the semantic definition.
    from hbase_spark.operators.scan import Scan
    from hbase_spark.operators.scan import scan as scan_op

    full = []
    for i, c in enumerate(cells):
        c = dict(c)
        c["seq"] = i
        c["value"] = f"v{i}" if c["type"] == PUT else None
        if c["type"] in (DF_, DFV):
            c["qualifier"] = None
        full.append(c)
    df = to_df(spark, full)
    kw = dict(
        versions=versions,
        ttl_by_family=ttl,
        now=8 if ttl else None,
        min_versions=min_versions,
        keep_deleted_cells=kdc,
        time_range=time_range,
    )
    got = {
        (r.row, r.family, r.qualifier, r.ts, r.value)
        for r in scan_op(
            df,
            Scan(
                families=fams,
                qualifiers=quals,
                versions=versions,
                time_range=time_range,
            ),
            ttl_by_family=ttl,
            now=8 if ttl else None,
            min_versions=min_versions,
            keep_deleted_cells=kdc,
        ).collect()
    }
    expected = {
        (c["row"], c["family"], c["qualifier"], c["ts"], c["value"])
        for c in resolve_spec(full, **kw)
        if (fams is None or c["family"] in fams)
        and (quals is None or c["qualifier"] in quals)
    }
    assert got == expected


@st.composite
def fast_path_frames(draw):
    """Frames the resolve fast-path contracts admit: PUT-only with a
    unique (row, family, qualifier) — single_version — PUT-only with
    several versions per column, or PUT plus DELETE_COLUMN markers —
    delete_kinds={DELETE_COLUMN}."""
    kind = draw(st.sampled_from(["put_unique", "put_multi", "put_dc"]))
    if kind == "put_unique":
        cells = draw(
            st.lists(
                cell_strategy.map(lambda c: {**c, "type": PUT}),
                min_size=1,
                max_size=18,
                unique_by=lambda c: (c["row"], c["family"], c["qualifier"]),
            )
        )
    elif kind == "put_multi":
        cells = draw(
            st.lists(
                cell_strategy.map(lambda c: {**c, "type": PUT}),
                min_size=1,
                max_size=30,
            )
        )
    else:
        cells = draw(
            st.lists(
                cell_strategy.map(
                    lambda c: {**c, "type": PUT if c["type"] == PUT else DC}
                ),
                min_size=1,
                max_size=40,
            )
        )
    full = [
        {**c, "seq": i, "value": f"v{i}" if c["type"] == PUT else None}
        for i, c in enumerate(cells)
    ]
    return kind, full


@pytest.fixture(scope="module")
def flushed(spark, tmp_path_factory):
    """One Admin table the derived-contract law flushes each frame to
    (declared splits: a flush then runs no range-sampling job)."""
    from hbase_spark.admin import Admin

    admin = Admin(spark, str(tmp_path_factory.mktemp("cell_types")))
    admin.create_table("t", ["f1", "f2"], splits=["r2"])
    return admin


@given(
    frame=fast_path_frames(),
    versions=st.sampled_from([1, 1, 2, {"f1": 1, "f2": 3}]),
    time_range=st.sampled_from([None, (2, 6), (None, 5), (4, None)]),
    ttl=st.sampled_from([None, {"f1": 4}, {"f1": 2, "f2": 5}]),
    min_versions=st.sampled_from([0, 0, 1, {"f2": 2}]),
    nvb=st.sampled_from([False, False, True, frozenset({"f2"})]),
    kdc=st.sampled_from([False, True, frozenset({"f1"})]),
)
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_fast_paths_match_spec(
    spark, flushed, frame, versions, time_range, ttl, min_versions, nvb, kdc
):
    # Law: each fast path equals the executable spec on the frames its
    # contract admits — resolve(delete_kinds={DELETE_COLUMN}) on PUT +
    # DELETE_COLUMN frames, resolve/scan(single_version=True) on unique
    # PUT-only frames, and the derived contract on every frame: written
    # through Admin.flush (which records a PUT-only layout) and read
    # back through Table with the knobs as family descriptors.
    from hbase_spark.operators.scan import Scan
    from hbase_spark.operators.scan import scan as scan_op
    from hbase_spark.table import FamilyDescriptor, Table
    from tests.spec import _flag, _knob

    kind, full = frame
    df = to_df(spark, full)
    common = dict(
        ttl_by_family=ttl,
        now=8 if ttl else None,
        min_versions=min_versions,
        new_version_behavior=nvb,
        keep_deleted_cells=kdc,
    )
    kw = dict(versions=versions, time_range=time_range, **common)
    expected = key_set(resolve_spec(full, **kw))

    def keys(out):
        return {(r.row, r.family, r.qualifier, r.ts, r.value) for r in out.collect()}

    assert keys(resolve(df, delete_kinds={DC}, **kw)) == expected
    if kind == "put_unique":
        assert keys(resolve(df, single_version=True, **kw)) == expected
        spec = Scan(versions=versions, time_range=time_range)
        assert keys(scan_op(df, spec, single_version=True, **common)) == expected

    flushed.flush("t", Table(df), num_regions=2)
    for fam in ("f1", "f2"):
        flushed.alter("t", fam, FamilyDescriptor(
            max_versions=_knob(versions, fam, 1),
            min_versions=_knob(min_versions, fam, 0),
            ttl_ms=(ttl or {}).get(fam),
            new_version_behavior=_flag(nvb, fam),
            keep_deleted_cells=_flag(kdc, fam),
        ))
    t = flushed.table("t", now=common["now"])
    put_only = all(c["type"] == PUT for c in full)
    assert t._delete_kinds == (frozenset() if put_only else None)
    assert keys(t.snapshot(time_range=time_range)) == expected
    assert keys(t.scan(time_range=time_range, versions=10)) == expected


@pytest.mark.parametrize("marker_ts", [None, 1])
def test_compact_keep_deleted_cells_honors_min_versions_under_ttl(
    spark, marker_ts
):
    # MIN_VERSIONS keeps the newest version past its TTL under
    # KEEP_DELETED_CELLS too: expired cells are pre-dropped only when
    # minVersions <= 0 (ScanWildcardColumnTracker isDone /
    # checkVersions), so an expired DELETE_COLUMN marker still masks.
    from hbase_spark.operators.resolve import compact

    cells = [
        cell("r1", "f", "q", 1, value="old"),
        cell("r1", "f", "q", 2, value="new"),
    ]
    if marker_ts is not None:
        cells.append(cell("r1", "f", "q", marker_ts, typ=DC, seq=9))
    c = to_df(spark, cells)
    kw = dict(ttl_by_family={"f": 1}, now=100, min_versions=1)

    def visible(df):
        return sorted((r.ts, r.value) for r in resolve(df, **kw).collect())

    assert visible(c) == [(2, "new")]
    assert visible(compact(c, keep_deleted_cells=True, **kw)) == [(2, "new")]


def test_apply_mutations_preserves_cell_ttl_both_ways(spark):
    """A TTL'd batch merged into an untagged base keeps its tags, and
    an untagged batch merged into a tagged base keeps the base's
    (review finding: the old projection silently dropped cell_ttl)."""
    from hbase_spark.operators.mutations import apply_mutations, put_cells

    base = put_cells(spark, [("r1", "f", "q", "old")], ts=100, seq=1)
    batch = put_cells(spark, [("r2", "f", "q", "new")], ts=100, seq=2, ttl=50)
    merged = apply_mutations(base, batch)
    assert "cell_ttl" in merged.columns
    vis = resolve(merged, cell_ttl_col="cell_ttl", now=200)
    assert {r.row for r in vis.collect()} == {"r1"}  # r2 expired at 150
    # inverse direction: tagged base + untagged batch
    merged2 = apply_mutations(batch, base)
    vis2 = resolve(merged2, cell_ttl_col="cell_ttl", now=120)
    assert {r.row for r in vis2.collect()} == {"r1", "r2"}
