"""Admin catalog + shell-DSL surface tests."""

import shutil
import tempfile

import pytest

from hbase_spark.admin import Admin, TableNotEnabledError
from hbase_spark.shell import (
    shell_count,
    shell_delete,
    shell_get,
    shell_put,
    shell_scan,
)
from hbase_spark.table import FamilyDescriptor


@pytest.fixture()
def catalog(spark):
    d = tempfile.mkdtemp(prefix="hb_admin_")
    yield Admin(spark, d)
    shutil.rmtree(d, ignore_errors=True)


def test_create_mutate_flush_reopen(catalog):
    catalog.create_table("t1", {"f": FamilyDescriptor(max_versions=2)})
    t = catalog.table("t1")
    t = shell_put(t, "r1", "f:a", "1", ts=10, seq=1)
    t = shell_put(t, "r2", "f:a", "2", ts=10, seq=2)
    catalog.flush("t1", t, num_regions=2)
    t2 = catalog.table("t1")
    assert shell_count(t2) == 2
    got = {r.row: r.value for r in shell_get(t2, "r1", COLUMNS=["f:a"]).collect()}
    assert got == {"r1": "1"}


def test_shell_scan_filter_string_and_columns(catalog):
    catalog.create_table("t2", ["f"])
    t = catalog.table("t2")
    for i in range(6):
        t = shell_put(t, f"row-{i}", "f:q", f"v{i}", ts=10, seq=i)
    out = shell_scan(
        t, STARTROW="row-1", STOPROW="row-5", FILTER="PrefixFilter('row')",
        COLUMNS=["f:q"], LIMIT=3,
    )
    assert [r.row for r in out.select("row").distinct().orderBy("row").collect()] == [
        "row-1", "row-2", "row-3",
    ]


def test_shell_delete_masks(catalog):
    catalog.create_table("t3", ["f"])
    t = catalog.table("t3")
    t = shell_put(t, "r", "f:q", "x", ts=10, seq=1)
    t = shell_delete(t, "r", "f:q", ts=20, seq=2)
    assert shell_count(t) == 0


def test_disable_enable_delete(catalog):
    catalog.create_table("t4", ["f"])
    catalog.disable_table("t4")
    with pytest.raises(TableNotEnabledError):
        catalog.table("t4")
    with pytest.raises(RuntimeError):
        catalog.create_table("t5", ["f"]) or catalog.delete_table("t5")
    catalog.enable_table("t4")
    assert catalog.describe("t4")["enabled"]
    catalog.disable_table("t4")
    catalog.delete_table("t4")
    assert "t4" not in catalog.list_tables()


def test_list_tables(catalog):
    catalog.create_table("a1", ["f"])
    catalog.create_table("a2", ["f"])
    assert catalog.list_tables() == ["a1", "a2"]


def test_shell_scan_raw_and_timerange(catalog):
    catalog.create_table("t6", ["f"])
    t = catalog.table("t6")
    t = shell_put(t, "r", "f:q", "v1", ts=10, seq=1)
    t = shell_put(t, "r", "f:q", "v2", ts=20, seq=2)
    t = shell_delete(t, "r", "f:q", ts=30, seq=3)
    # RAW exposes tombstone + both versions
    raw = shell_scan(t, RAW=True)
    assert raw.count() == 3
    # TIMERANGE before the delete still masked (marker outside range
    # masks under default KEEP_DELETED_CELLS=FALSE)
    assert shell_scan(t, TIMERANGE=(0, 25)).count() == 0
    # VERSIONS over raw-visible history
    assert shell_scan(t, RAW=True, VERSIONS=2).count() == 3


def test_alter_modify_and_describe(catalog):
    from hbase_spark.shell import shell

    catalog.create_table("t7", ["f"])
    shell(catalog, "alter", "t7", {"NAME": "f", "VERSIONS": 3, "TTL": 60})
    d = shell(catalog, "describe", "t7")
    assert d["FAMILIES"]["f"]["VERSIONS"] == 3
    assert d["FAMILIES"]["f"]["TTL"] == 60
    # the opened Table picks up the altered knobs
    t = catalog.table("t7", now=0)
    assert t.families["f"].max_versions == 3
    assert t.families["f"].ttl_ms == 60_000
    assert shell(catalog, "exists", "t7") and not shell(catalog, "exists", "nope")


def test_alter_add_and_delete_family(catalog):
    from hbase_spark.shell import shell, shell_put

    catalog.create_table("t8", ["f"])
    shell(catalog, "alter", "t8", {"NAME": "g", "VERSIONS": 1})
    assert set(shell(catalog, "describe", "t8")["FAMILIES"]) == {"f", "g"}
    t = catalog.table("t8")
    t = shell_put(t, "r", "f:q", "keep", ts=1, seq=1)
    t = shell_put(t, "r", "g:q", "drop", ts=1, seq=2)
    catalog.flush("t8", t, num_regions=2)
    shell(catalog, "alter", "t8", {"NAME": "g", "METHOD": "delete"})
    got = {r.family for r in catalog.table("t8").scan().collect()}
    assert got == {"f"}  # dropped family invisible immediately


def test_truncate_keeps_schema(catalog):
    from hbase_spark.shell import shell, shell_put

    catalog.create_table("t9", ["f"])
    t = shell_put(catalog.table("t9"), "r", "f:q", "v", ts=1, seq=1)
    catalog.flush("t9", t, num_regions=2)
    assert catalog.table("t9").count() == 1
    shell(catalog, "truncate", "t9")
    assert catalog.table("t9").count() == 0
    assert "f" in catalog.describe("t9")["families"]


def test_shell_incr_append_counter(catalog):
    from hbase_spark.shell import (
        shell_append,
        shell_get_counter,
        shell_incr,
        shell_put,
    )

    catalog.create_table("t10", ["f"])
    t = catalog.table("t10")
    t = shell_incr(t, "r", "f:hits", 5, ts=1, seq=1)
    t = shell_incr(t, "r", "f:hits", 3, ts=2, seq=2)
    assert shell_get_counter(t, "r", "f:hits") == 8
    assert shell_get_counter(t, "r", "f:miss") is None
    t = shell_put(t, "r", "f:tag", "a", ts=3, seq=3)
    t = shell_append(t, "r", "f:tag", "b", ts=4, seq=4)
    got = {r.value for r in t.get("r").filter("qualifier='tag'").collect()}
    assert got == {"ab"}


def test_shell_deleteall_masks_whole_row(catalog):
    from hbase_spark.shell import shell_deleteall, shell_put

    catalog.create_table("t11", ["f", "g"])
    t = catalog.table("t11")
    t = shell_put(t, "r1", "f:a", "1", ts=1, seq=1)
    t = shell_put(t, "r1", "g:b", "2", ts=1, seq=2)
    t = shell_put(t, "r2", "f:a", "3", ts=1, seq=3)
    t = shell_deleteall(t, "r1", ts=5, seq=9)
    rows = {r.row for r in t.scan().collect()}
    assert rows == {"r2"}


def test_snapshot_restore_point_in_time(catalog):
    from hbase_spark.shell import shell

    catalog.create_table("s1", ["f"])
    t = catalog.table("s1")
    t = shell_put(t, "r1", "f:a", "old", ts=10, seq=1)
    catalog.flush("s1", t, num_regions=2)
    shell(catalog, "snapshot", "s1", "snap-before")
    # mutate past the snapshot point
    t = catalog.table("s1")
    t = shell_put(t, "r1", "f:a", "new", ts=20, seq=2)
    t = shell_put(t, "r2", "f:a", "x", ts=20, seq=3)
    catalog.flush("s1", t, num_regions=2)
    assert shell_count(catalog.table("s1")) == 2
    assert shell(catalog, "list_snapshots") == ["snap-before"]
    # restore requires disable, like the reference
    with pytest.raises(RuntimeError):
        shell(catalog, "restore_snapshot", "snap-before")
    catalog.disable_table("s1")
    shell(catalog, "restore_snapshot", "snap-before")
    catalog.enable_table("s1")
    back = catalog.table("s1")
    assert shell_count(back) == 1
    assert [r.value for r in shell_get(back, "r1", COLUMNS=["f:a"]).collect()] == [
        "old"
    ]


def test_clone_snapshot_is_zero_copy_and_cow(catalog):
    from hbase_spark.shell import shell

    catalog.create_table("src", ["f"])
    t = catalog.table("src")
    for i in range(4):
        t = shell_put(t, f"r{i}", "f:a", str(i), ts=10, seq=i)
    catalog.flush("src", t, num_regions=2)
    shell(catalog, "snapshot", "src", "snap1")
    shell(catalog, "clone_snapshot", "snap1", "dst")
    # zero-copy: the clone reads the SAME parquet files as the source
    src_files = set(catalog.table("src").cells.inputFiles())
    dst_files = set(catalog.table("dst").cells.inputFiles())
    assert src_files == dst_files and src_files
    # copy-on-write: flushing the clone must not disturb src or the snapshot
    d = catalog.table("dst")
    d = shell_put(d, "r9", "f:a", "clone-only", ts=20, seq=9)
    catalog.flush("dst", d, num_regions=2)
    assert shell_count(catalog.table("dst")) == 5
    assert shell_count(catalog.table("src")) == 4
    assert set(catalog.table("src").cells.inputFiles()) == src_files


def test_flush_preserves_snapshot_data(catalog):
    # versioned dirs: a flush AFTER the snapshot must not invalidate it
    from hbase_spark.shell import shell

    catalog.create_table("v1", ["f"])
    t = catalog.table("v1")
    t = shell_put(t, "r", "f:a", "kept", ts=10, seq=1)
    catalog.flush("v1", t, num_regions=1)
    shell(catalog, "snapshot", "v1", "pinned")
    for gen in range(2):  # two more flush generations
        t = catalog.table("v1")
        t = shell_put(t, f"g{gen}", "f:a", "later", ts=20 + gen, seq=10 + gen)
        catalog.flush("v1", t, num_regions=1)
    shell(catalog, "clone_snapshot", "pinned", "v1-at-snap")
    assert shell_count(catalog.table("v1-at-snap")) == 1
    assert shell_count(catalog.table("v1")) == 3


def test_delete_snapshot(catalog):
    from hbase_spark.shell import shell

    catalog.create_table("ds", ["f"])
    shell(catalog, "snapshot", "ds", "gone")
    shell(catalog, "delete_snapshot", "gone")
    assert shell(catalog, "list_snapshots") == []
    with pytest.raises(ValueError):
        catalog.clone_snapshot("never-existed", "x")


def test_namespace_lifecycle(catalog):
    from hbase_spark.shell import shell

    shell(catalog, "create_namespace", "prod")
    assert shell(catalog, "list_namespace") == ["default", "prod"]
    assert shell(catalog, "describe_namespace", "prod")["name"] == "prod"
    catalog.create_table("prod:users", ["f"])
    t = catalog.table("prod:users")
    t = shell_put(t, "u1", "f:a", "1", ts=10, seq=1)
    catalog.flush("prod:users", t, num_regions=1)
    assert shell_count(catalog.table("prod:users")) == 1
    assert "prod:users" in catalog.list_tables()
    # drop refuses while tables remain
    with pytest.raises(RuntimeError):
        shell(catalog, "drop_namespace", "prod")
    catalog.disable_table("prod:users")
    catalog.delete_table("prod:users")
    shell(catalog, "drop_namespace", "prod")
    assert shell(catalog, "list_namespace") == ["default"]
    with pytest.raises(ValueError):
        catalog.create_namespace("bad/name")


# -- round-2 tranche: table state, schema clone, regions, major compact,
# visibility label registry ---------------------------------------------


def test_table_state_commands(catalog):
    from hbase_spark.shell import shell

    catalog.create_table("st1", ["f"])
    catalog.create_table("st2", ["f"])
    shell(catalog, "disable", "st2")
    assert shell(catalog, "is_enabled", "st1")
    assert shell(catalog, "is_disabled", "st2")
    assert shell(catalog, "list_enabled_tables") == ["st1"]
    assert shell(catalog, "list_disabled_tables") == ["st2"]
    shell(catalog, "enable", "st2")
    assert shell(catalog, "is_enabled", "st2")


def test_clone_table_schema_copies_knobs_not_data(catalog):
    from hbase_spark.shell import shell

    catalog.create_table(
        "src", {"f": FamilyDescriptor(max_versions=3, ttl_ms=5000)}
    )
    t = catalog.table("src")
    t = shell_put(t, "r", "f:q", "x", ts=10, seq=1)
    catalog.flush("src", t, num_regions=1)
    shell(catalog, "clone_table_schema", "src", "dst")
    assert shell(catalog, "describe", "dst")["FAMILIES"]["f"]["VERSIONS"] == 3
    # TTL family -> reads need an explicit clock, like the source table
    assert shell_count(catalog.table("dst", now=100)) == 0
    assert shell_count(catalog.table("src", now=100)) == 1
    with pytest.raises(ValueError):
        shell(catalog, "clone_table_schema", "src", "dst")


def test_list_regions_get_splits_locate_region(catalog):
    from hbase_spark.shell import shell

    catalog.create_table("rg", ["f"])
    t = catalog.table("rg")
    for i in range(40):
        t = shell_put(t, f"{i:04d}", "f:q", str(i), ts=10, seq=i)
    catalog.flush("rg", t, num_regions=4)
    regions = shell(catalog, "list_regions", "rg").collect()
    assert 1 < len(regions) <= 4
    # ranges are disjoint and ordered
    for a, b in zip(regions, regions[1:]):
        assert a.end_key < b.start_key
    assert sum(r.cell_count for r in regions) == 40
    splits = shell(catalog, "get_splits", "rg")
    assert splits == [r.start_key for r in regions][1:]
    loc = shell(catalog, "locate_region", "rg", "0000")
    assert loc["start_key"] == regions[0].start_key
    loc = shell(catalog, "locate_region", "rg", "0039")
    assert loc["end_key"] == regions[-1].end_key


def test_major_compact_prunes_versions_and_tombstones(catalog):
    from hbase_spark.shell import shell

    catalog.create_table("mc", {"f": FamilyDescriptor(max_versions=1)})
    t = catalog.table("mc")
    t = shell_put(t, "r1", "f:q", "old", ts=10, seq=1)
    t = shell_put(t, "r1", "f:q", "new", ts=20, seq=2)
    t = shell_put(t, "r2", "f:q", "x", ts=10, seq=3)
    t = shell_delete(t, "r2", "f:q", ts=30, seq=4)
    catalog.flush("mc", t, num_regions=1)
    assert catalog.table("mc").cells.count() == 4  # raw: all cells + marker
    shell(catalog, "major_compact", "mc")
    after = catalog.table("mc")
    raw = after.cells.collect()
    # rewritten layout holds ONLY the visible snapshot: one cell
    assert [(r.row, r.value) for r in raw] == [("r1", "new")]
    assert shell_count(after) == 1


def test_visibility_label_registry_and_scan(catalog):
    from hbase_spark.functions.visibility import visible
    from hbase_spark.shell import shell
    from pyspark.sql import functions as F

    shell(catalog, "add_labels", ["secret", "pii", "public"])
    assert shell(catalog, "list_labels") == ["pii", "public", "secret"]
    with pytest.raises(ValueError):
        shell(catalog, "add_labels", ["bad label!"])
    shell(catalog, "set_auths", "alice", ["secret", "public"])
    with pytest.raises(ValueError):
        shell(catalog, "set_auths", "bob", ["unregistered"])
    assert shell(catalog, "get_auths", "alice") == ["public", "secret"]
    # auths drive the distributed visibility filter end to end
    catalog.create_table("vt", ["f"])
    t = catalog.table("vt")
    t = shell_put(t, "r1", "f:q", "open", ts=10, seq=1)
    t = shell_put(t, "r2", "f:q", "hush", ts=10, seq=2)
    cells = t.cells.withColumn(
        "vis",
        F.when(F.col("row") == "r2", F.lit("secret & pii")).otherwise(
            F.lit("public")
        ),
    )
    seen = visible(cells, shell(catalog, "get_auths", "alice"), label_col="vis")
    assert [r.row for r in seen.select("row").collect()] == ["r1"]
    shell(catalog, "clear_auths", "alice", ["secret"])
    assert shell(catalog, "get_auths", "alice") == ["public"]
    shell(catalog, "clear_auths", "alice")
    assert shell(catalog, "get_auths", "alice") == []


def test_get_options_count_filter_and_family_check(catalog):
    from hbase_spark.shell import shell_count, shell_get
    from hbase_spark.table import NoSuchColumnFamilyError

    catalog.create_table("opt", {"f": FamilyDescriptor(max_versions=3)})
    t = catalog.table("opt")
    t = shell_put(t, "r", "f:q", "v1", ts=10, seq=1)
    t = shell_put(t, "r", "f:q", "v2", ts=20, seq=2)
    t = shell_put(t, "r2", "f:q", "other", ts=10, seq=3)
    # get VERSIONS
    assert shell_get(t, "r", VERSIONS=2).count() == 2
    assert shell_get(t, "r", VERSIONS=1).count() == 1
    # get TIMERANGE (half-open, like the reference)
    got = shell_get(t, "r", VERSIONS=3, TIMERANGE=(0, 20))
    assert [r.value for r in got.collect()] == ["v1"]
    # get FILTER (ParseFilter string)
    assert shell_get(t, "r", FILTER="ValueFilter(=, 'binary:v2')").count() == 1
    # count FILTER counts matching ROWS
    assert shell_count(t, FILTER="ValueFilter(=, 'binary:other')") == 1
    assert shell_count(t) == 2
    # mutations to undeclared families raise, like checkFamily
    with pytest.raises(NoSuchColumnFamilyError):
        shell_put(t, "r", "nope:q", "x", ts=30, seq=9)
    with pytest.raises(NoSuchColumnFamilyError):
        t.delete([("r", "nope", "q")], ts=30, seq=9)
    with pytest.raises(NoSuchColumnFamilyError):
        t.increment([("r", "nope", "q", 1)], ts=30, seq=9)


def test_namespace_tables_and_snapshot_batch_deletes(catalog):
    from hbase_spark.shell import shell

    catalog.create_namespace("prod")
    catalog.create_table("prod:a", ["f"])
    catalog.create_table("plain", ["f"])
    assert shell(catalog, "list_namespace_tables", "prod") == ["prod:a"]
    assert shell(catalog, "list_namespace_tables", "default") == ["plain"]
    with pytest.raises(ValueError):
        shell(catalog, "list_namespace_tables", "ghost")
    for snap in ("keep-1", "tmp-1", "tmp-2"):
        shell(catalog, "snapshot", "plain", snap)
    shell(catalog, "snapshot", "prod:a", "tmp-3")
    assert shell(catalog, "delete_all_snapshot", "tmp-[12]") == ["tmp-1", "tmp-2"]
    assert shell(catalog, "list_snapshots") == ["keep-1", "tmp-3"]
    assert shell(catalog, "delete_table_snapshots", "prod:a") == ["tmp-3"]
    assert shell(catalog, "list_snapshots") == ["keep-1"]


def test_export_snapshot_to_another_catalog(catalog, spark):
    from hbase_spark.shell import shell

    catalog.create_table("exp", {"f": FamilyDescriptor(max_versions=2)})
    t = catalog.table("exp")
    t = shell_put(t, "r1", "f:q", "v", ts=10, seq=1)
    catalog.flush("exp", t, num_regions=1)
    shell(catalog, "snapshot", "exp", "snap-x")

    d2 = tempfile.mkdtemp(prefix="hb_admin_dest_")
    try:
        dest = Admin(spark, d2)
        shell(catalog, "export_snapshot", "snap-x", dest)
        assert dest.list_snapshots() == ["snap-x"]
        # destination can clone with no reference back to the source:
        # drop the source table and data path entirely
        shell(dest, "clone_snapshot", "snap-x", "restored")
        rt = dest.table("restored")
        assert {(r.row, r.value) for r in rt.snapshot().collect()} == {("r1", "v")}
        # clone keeps the exported family schema
        assert rt.families["f"].max_versions == 2
        # re-export refuses to overwrite existing data files
        with pytest.raises(Exception):
            shell(catalog, "export_snapshot", "snap-x", dest)
    finally:
        shutil.rmtree(d2, ignore_errors=True)


def test_table_from_snapshot_reads_without_clone(catalog):
    catalog.create_table("sn", {"f": FamilyDescriptor(max_versions=1)})
    t = catalog.table("sn")
    t = shell_put(t, "r1", "f:q", "at-snap", ts=10, seq=1)
    catalog.flush("sn", t, num_regions=1)
    catalog.snapshot("s1", "sn")
    # mutate past the snapshot
    t2 = shell_put(catalog.table("sn"), "r1", "f:q", "after", ts=20, seq=2)
    catalog.flush("sn", t2, num_regions=1)
    # snapshot read sees the point-in-time state; live table the new one
    st = catalog.table_from_snapshot("s1")
    assert [r.value for r in st.snapshot().collect()] == ["at-snap"]
    assert [r.value for r in catalog.table("sn").snapshot().collect()] == ["after"]
    # no new table appeared in the catalog
    assert catalog.list_tables() == ["sn"]


def test_acl_grant_revoke_and_read_enforcement(catalog):
    from hbase_spark.admin import AccessDeniedError
    from hbase_spark.shell import shell

    catalog.create_table("sec", ["f"])
    t = shell_put(catalog.table("sec"), "r", "f:q", "v", ts=1, seq=1)
    catalog.flush("sec", t, num_regions=1)
    with pytest.raises(AccessDeniedError):
        catalog.table_as("alice", "sec")
    shell(catalog, "grant", "alice", "rw", "sec")  # letters normalize upper
    assert shell(catalog, "user_permission", "sec") == {"alice": "RW"}
    assert catalog.table_as("alice", "sec").count() == 1
    # global grant covers every table; per-table merges on top
    shell(catalog, "grant", "admin", "RWCA")
    assert catalog.check_permission("admin", "sec", "A")
    assert catalog.table_as("admin", "sec").count() == 1
    # revoke per-table removes only that scope
    shell(catalog, "revoke", "alice", "sec")
    with pytest.raises(AccessDeniedError):
        catalog.table_as("alice", "sec")
    with pytest.raises(ValueError):
        shell(catalog, "grant", "bob", "RQ")


def test_shell_scan_rowprefixfilter(catalog):
    catalog.create_table("pf", ["f"])
    t = catalog.table("pf")
    for r in ("aa1", "aa2", "ab1", "bb1"):
        t = shell_put(t, r, "f:q", r, ts=1, seq=1)
    got = {r.row for r in shell_scan(t, ROWPREFIXFILTER="aa").collect()}
    assert got == {"aa1", "aa2"}
    # composes with an explicit FILTER (AND), like the shell
    got = {
        r.row
        for r in shell_scan(
            t, ROWPREFIXFILTER="a", FILTER="ValueFilter(=, 'binary:ab1')"
        ).collect()
    }
    assert got == {"ab1"}
    with pytest.raises(ValueError):
        shell_scan(t, ROWPREFIXFILTER="a", STARTROW="a")


# -- replication peer lifecycle (Admin.addReplicationPeer family,
# ReplicationPeerConfig.java; shipping = per-peer checkpointed
# stream_merge) ---------------------------------------------------------


def _write_log(spark, log_dir, rows, mode="overwrite"):
    from hbase_spark.model import cell_schema

    spark.createDataFrame(rows, cell_schema()).coalesce(1).write.mode(
        mode
    ).parquet(log_dir)


def test_replication_peer_lifecycle_and_divergence(catalog, spark):
    """Two peers, one disabled mid-stream: the enabled peer converges
    (VerifyReplication shows no diff), the disabled one diverges, and
    re-enabling it catches up from its own checkpoint."""
    import tempfile

    from hbase_spark.operators.sync import verify_replication

    catalog.create_table("rt", ["f"])
    catalog.enable_table_replication("rt")
    dest_a = tempfile.mkdtemp(prefix="hb_peer_a_")
    dest_b = tempfile.mkdtemp(prefix="hb_peer_b_")
    catalog.add_peer("a", dest_a)
    catalog.add_peer("b", dest_b)
    assert set(catalog.list_peers()) == {"a", "b"}

    log = tempfile.mkdtemp(prefix="hb_log_") + "/wal"
    _write_log(
        spark, log, [(f"r{i}", "f", "q", 10, 4, str(i), i) for i in range(8)]
    )
    assert catalog.replicate_log("rt", log) == {"a": 1, "b": 1}

    # peer b pauses; more edits land
    catalog.disable_peer("b")
    _write_log(
        spark, log,
        [(f"r{i}", "f", "q", 20, 4, f"v{i}", 100 + i) for i in range(4)],
        mode="append",
    )
    assert catalog.replicate_log("rt", log) == {"a": 1, "b": 0}

    source = spark.createDataFrame(
        [(f"r{i}", "f", "q", 10, 4, str(i), i) for i in range(8)]
        + [(f"r{i}", "f", "q", 20, 4, f"v{i}", 100 + i) for i in range(4)],
        "row string, family string, qualifier string, ts long, type int, "
        "value string, seq long",
    )
    ok = verify_replication(source, catalog.peer_table_cells("a", "rt"))
    assert ok.count() == 0  # peer a fully converged
    bad = verify_replication(source, catalog.peer_table_cells("b", "rt"))
    kinds = {r.kind: r.cells for r in bad.collect()}
    assert kinds.get("only_in_source") == 4  # b missed the second batch

    # catch-up: re-enable b and ship — its checkpoint resumes at batch 2
    catalog.enable_peer("b")
    assert catalog.replicate_log("rt", log)["b"] == 1
    assert verify_replication(
        source, catalog.peer_table_cells("b", "rt")
    ).count() == 0


def test_sync_replication_failover_drill(catalog, spark):
    """HBASE-19064 synchronous replication modeled over two catalogs
    (round 9 — closes the 'needs a second cluster' scope-out the same
    way ExportSnapshot models cross-cluster snapshots): the full
    operational drill from the reference docs.

    A is ACTIVE (ships the remote WAL + async-replicates), B is
    STANDBY (client writes fenced).  A 'dies' with edits that the
    async ship never applied; promoting B (STANDBY ->
    DOWNGRADE_ACTIVE) replays the remote WAL so those edits are NOT
    lost, lifts the fence, and archives the consumed logs."""
    import shutil
    import tempfile

    from hbase_spark.admin import Admin

    a = catalog  # the active cluster
    b_dir = tempfile.mkdtemp(prefix="hb_standby_")
    b = Admin(spark, b_dir)
    try:
        remote_wal = tempfile.mkdtemp(prefix="hb_rwal_")
        for adm in (a, b):
            adm.create_table("st", ["f"])
            adm.enable_table_replication("st")
        # A -> B: sync peer; born DOWNGRADE_ACTIVE, promoted to ACTIVE
        a.add_peer("to_b", b_dir, remote_wal_dir=remote_wal)
        assert a.get_peer_sync_replication_state("to_b") == "DOWNGRADE_ACTIVE"
        a.transit_peer_sync_replication_state("to_b", "ACTIVE")
        # B -> A: the standby side; DOWNGRADE_ACTIVE -> STANDBY
        b.add_peer("to_a", a.catalog_dir, remote_wal_dir=remote_wal)
        b.transit_peer_sync_replication_state("to_a", "STANDBY")

        # illegal transitions raise like DoNotRetryIOException
        with pytest.raises(ValueError, match="can not transit"):
            b.transit_peer_sync_replication_state("to_a", "ACTIVE")
        # non-sync peers cannot transit at all
        a.add_peer("plain", tempfile.mkdtemp(prefix="hb_plain_"))
        with pytest.raises(ValueError, match="can not transit"):
            a.transit_peer_sync_replication_state("plain", "ACTIVE")
        # sync peers refuse scope changes and non-DA removal — EVERY
        # scope mutator is guarded (preUpdatePeerConfig diffs the
        # whole config, not just table_cfs)
        with pytest.raises(ValueError, match="not allowed"):
            a.set_peer_table_cfs("to_b", {"st": ["f"]})
        with pytest.raises(ValueError, match="not allowed"):
            a.set_peer_replicate_all("to_b", False)
        with pytest.raises(ValueError, match="not allowed"):
            a.set_peer_namespaces("to_b", ["ns1"])
        with pytest.raises(ValueError, match="not allowed"):
            a.append_peer_exclude_namespaces("to_b", ["ns1"])
        with pytest.raises(ValueError, match="not allowed"):
            a.set_peer_exclude_table_cfs("to_b", {"st": None})
        with pytest.raises(ValueError, match="DOWNGRADE_ACTIVE"):
            a.remove_peer("to_b")

        # the standby's write fence is up for the scoped table — and
        # it is WIRED INTO the client-write path, not just the
        # voluntary check: a flush on the standby raises
        with pytest.raises(ValueError, match="STANDBY"):
            b.assert_sync_writable("st")
        with pytest.raises(ValueError, match="STANDBY"):
            b.flush("st", b.table("st"))
        # server-side rewrites stay allowed (action != "write")
        b.major_compact("st")

        # A writes: batch 1 goes through BOTH paths (remote WAL + async
        # ship); batch 2 reaches only the remote WAL — the async ship
        # "never ran" before A died
        log = tempfile.mkdtemp(prefix="hb_synclog_") + "/wal"
        _write_log(
            spark, log,
            [(f"r{i}", "f", "q", 10, 4, f"v{i}", i) for i in range(6)],
        )
        assert a.sync_wal_ship("st", log) == {"plain": 0, "to_b": 1}
        assert a.replicate_log("st", log)["to_b"] == 1
        _write_log(
            spark, log,
            [("r9", "f", "q", 20, 4, "late", 99)], mode="append",
        )
        assert a.sync_wal_ship("st", log)["to_b"] == 1  # remote WAL only

        # promotion PRECHECKS the remote-WAL table set: shipped edits
        # for a table the standby lacks must fail the transit loudly
        # (silently dropping them was the bug), BEFORE any state flip
        log2 = tempfile.mkdtemp(prefix="hb_synclog2_") + "/wal"
        a.create_table("st2", ["f"])
        a.enable_table_replication("st2")
        _write_log(spark, log2, [("x", "f", "q", 10, 4, "v", 1)])
        a.sync_wal_ship("st2", log2)
        with pytest.raises(ValueError, match="st2"):
            b.transit_peer_sync_replication_state(
                "to_a", "DOWNGRADE_ACTIVE"
            )
        assert b.get_peer_sync_replication_state("to_a") == "STANDBY"
        b.create_table("st2", ["f"])  # operator fixes it, retry works

        # A dies.  Promote B: replay the remote WAL, lift the fence.
        b.transit_peer_sync_replication_state("to_a", "DOWNGRADE_ACTIVE")
        assert b.get_peer_sync_replication_state("to_a") == "DOWNGRADE_ACTIVE"
        b.assert_sync_writable("st")  # fence lifted
        vis = b.table("st").snapshot()
        got = {(r.row, r.value) for r in vis.collect()}
        assert ("r9", "late") in got, "remote-WAL edit lost in failover"
        assert {(f"r{i}", f"v{i}") for i in range(6)} <= got
        # consumed remote WALs archived, not deleted; nothing replayable
        import os

        assert any("-replayed-" in d for d in os.listdir(remote_wal))
        assert b._remote_wal_table_dirs(b.get_peer_config("to_a")) == []
        # the promoted cluster can complete the swap: DA -> ACTIVE
        b.transit_peer_sync_replication_state("to_a", "ACTIVE")
    finally:
        shutil.rmtree(b_dir, ignore_errors=True)


def test_replication_scope_and_table_cfs_filtering(catalog, spark):
    """Only REPLICATION_SCOPE=1 families ship, intersected with the
    peer's table_cfs map — and tables absent from the map don't ship."""
    import tempfile

    catalog.create_table("rs", ["f", "g"])
    dest = tempfile.mkdtemp(prefix="hb_peer_c_")
    catalog.add_peer("c", dest, table_cfs={"rs": ["f"]})
    log = tempfile.mkdtemp(prefix="hb_log2_") + "/wal"
    _write_log(
        spark, log,
        [("r1", "f", "q", 10, 4, "x", 1), ("r1", "g", "q", 10, 4, "y", 2)],
    )
    # scope not enabled yet -> nothing ships
    assert catalog.replicate_log("rs", log) == {"c": 0}
    catalog.enable_table_replication("rs")
    assert catalog.replicate_log("rs", log) == {"c": 1}
    got = {(r.row, r.family) for r in catalog.peer_table_cells("c", "rs").collect()}
    assert got == {("r1", "f")}  # family g excluded by table_cfs
    # a table not in the peer's map never ships
    catalog.create_table("other", ["f"])
    catalog.enable_table_replication("other")
    assert catalog.replicate_log("other", log) == {"c": 0}
    catalog.remove_peer("c")
    assert catalog.list_peers() == {}


# -- region geometry: split / merge_region (Admin.split /
# mergeRegionsAsync; server/util/RegionSplitter.java) -------------------


def test_split_and_merge_region_preserve_data_and_pruning(catalog, spark):
    """Split rewrites one region into two daughters at the split key;
    merge rewrites two regions into one.  Data survives byte-for-byte,
    region ranges stay disjoint around the split point, and a range
    scan's rows come only from the files whose range overlaps — the
    min/max pruning contract the layout is built on."""
    from pyspark.sql import functions as F

    from hbase_spark.shell import shell

    catalog.create_table("geo", ["f"])
    t = catalog.table("geo")
    for i in range(40):
        t = shell_put(t, f"r{i:03d}", "f:q", str(i), ts=1, seq=i)
    catalog.flush("geo", t, num_regions=4)
    before = {r.row: r.value for r in catalog.table("geo").snapshot().collect()}
    n0 = catalog.list_regions("geo").count()

    shell(catalog, "split", "geo", "r015")
    regions = catalog.list_regions("geo").collect()
    assert len(regions) == n0 + 1
    # daughters are disjoint around the split key
    assert any(r.end_key < "r015" for r in regions)
    assert any(r.start_key == "r015" for r in regions)
    ranges = sorted((r.start_key, r.end_key) for r in regions)
    assert all(a[1] < b[0] for a, b in zip(ranges, ranges[1:]))
    after = {r.row: r.value for r in catalog.table("geo").snapshot().collect()}
    assert after == before

    # range-scan pruning: rows >= r030 come only from files whose
    # range reaches r030 — the pre-split file must contribute nothing
    touched = {
        r.f
        for r in catalog.table("geo")
        .cells.filter(F.col("row") >= "r030")
        .select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    }
    overlapping = {
        r.region_file for r in regions if r.end_key >= "r030"
    }
    assert touched <= overlapping and touched

    # merge the two daughters back into one region
    shell(catalog, "merge_region", "geo", "r010", "r015")
    merged = catalog.list_regions("geo").collect()
    assert len(merged) == n0
    assert {r.row: r.value
            for r in catalog.table("geo").snapshot().collect()} == before
    mr = sorted((r.start_key, r.end_key) for r in merged)
    assert all(a[1] < b[0] for a, b in zip(mr, mr[1:]))
    # snapshots referencing the pre-split version dir stay valid
    with pytest.raises(ValueError):
        catalog.merge_region("geo", "r000", "r001")  # same region


def test_mob_flush_splits_and_scan_merges(catalog, spark):
    """MOB analog (mob/DefaultMobStoreFlusher.java): values over the
    family threshold flush to a separate range-partitioned mob store;
    scans, snapshots and space accounting see both stores."""
    from pyspark.sql import functions as F

    from hbase_spark.table import FamilyDescriptor

    catalog.create_table(
        "mobt", {"f": FamilyDescriptor(mob_threshold=100)}
    )
    t = catalog.table("mobt")
    big = "B" * 500
    t = shell_put(t, "r1", "f:doc", big, ts=10, seq=1)
    t = shell_put(t, "r2", "f:doc", "small", ts=10, seq=2)
    t = shell_put(t, "r3", "f:doc", "C" * 200, ts=10, seq=3)
    catalog.flush("mobt", t, num_regions=2)

    desc = catalog._read_desc("mobt")
    assert desc.get("mob_dir")
    main = spark.read.parquet(f"{catalog.catalog_dir}/{desc['data_dir']}")
    mob = spark.read.parquet(f"{catalog.catalog_dir}/{desc['mob_dir']}")
    assert main.filter(F.length("value") > 100).count() == 0
    assert mob.count() == 2  # the two oversize values

    # scan transparently merges both stores
    t2 = catalog.table("mobt")
    got = {r.row: r.value for r in t2.snapshot().collect()}
    assert got == {"r1": big, "r2": "small", "r3": "C" * 200}

    # snapshots capture the mob store; usage counts it
    catalog.snapshot("mobsnap", "mobt")
    snap_t = catalog.table_from_snapshot("mobsnap")
    assert snap_t.snapshot().count() == 3
    assert catalog.space_usage("mobt") > 0

    # a delete masks a mob cell like any other cell
    t3 = shell_delete(catalog.table("mobt"), "r1", "f:doc", ts=20, seq=9)
    catalog.flush("mobt", t3, num_regions=2)
    left = {r.row for r in catalog.table("mobt").snapshot().collect()}
    assert left == {"r2", "r3"}
    # raw cells (masked put included) persist until compaction; after
    # major_compact the mob store holds only the live oversize value
    catalog.major_compact("mobt", num_regions=2)
    desc2 = catalog._read_desc("mobt")
    mob2 = spark.read.parquet(f"{catalog.catalog_dir}/{desc2['mob_dir']}")
    assert {r.row for r in mob2.collect()} == {"r3"}


def test_canary_reports_health(catalog):
    from hbase_spark.admin import canary

    catalog.create_table("c1", ["f"])
    t = shell_put(catalog.table("c1"), "r1", "f:a", "1", ts=10, seq=1)
    catalog.flush("c1", t, num_regions=2)
    catalog.create_table("c2", ["f"])
    catalog.disable_table("c2")
    rep = canary(catalog)
    assert rep["healthy"]
    assert rep["tables"]["c1"]["regions"] >= 1
    assert rep["tables"]["c1"]["failed"] == 0
    assert rep["tables"]["c1"]["latency_ms"] is not None
    assert rep["tables"]["c2"]["skipped"] == "disabled"


def test_create_with_splits_controls_region_boundaries(catalog, spark):
    """shell `create ... SPLITS =>` / Admin.createTable(splitKeys):
    flushes land rows in the declared region ranges, pruning holds."""
    from hbase_spark.shell import shell

    shell(
        catalog, "create", "st", "f", {"NAME": "g", "VERSIONS": 2},
        SPLITS=["h", "p"],
    )
    t = catalog.table("st")
    for i, r in enumerate(["a1", "b2", "h0", "k9", "p1", "z8"]):
        t = shell_put(t, r, "f:q", f"v{i}", ts=10, seq=i)
    catalog.flush("st", t)
    regions = catalog.list_regions("st").collect()
    # 3 declared ranges: [..h) [h..p) [p..]; each observed file range
    # must stay inside one declared range
    bounds = [("", "h"), ("h", "p"), ("p", "\x7f")]
    for r in regions:
        assert any(
            lo <= r.start_key and r.end_key < hi for lo, hi in bounds
        ), (r.start_key, r.end_key)
    # splits survive re-flush and get_splits reflects observed ranges
    catalog.flush("st", catalog.table("st"))
    assert len(catalog.list_regions("st").collect()) == 3
    got = {r.row: r.value for r in catalog.table("st").snapshot().collect()}
    assert len(got) == 6


def test_truncate_preserve_keeps_declared_splits(catalog, spark):
    from hbase_spark.shell import shell

    shell(catalog, "create", "tp", "f", SPLITS=["m"])
    t = shell(catalog, "get_table", "tp")
    for i, r in enumerate(["a", "z"]):
        t = shell_put(t, r, "f:q", "v", ts=10, seq=i)
    shell(catalog, "flush", "tp", t)
    assert len(catalog.list_regions("tp").collect()) == 2
    shell(catalog, "truncate_preserve", "tp")
    assert shell_count(shell(catalog, "get_table", "tp")) == 0
    # boundaries survive: the next flush writes the same 2 region dirs
    t2 = shell_put(shell(catalog, "get_table", "tp"), "b", "f:q", "v", ts=20, seq=9)
    t2 = shell_put(t2, "x", "f:q", "v", ts=20, seq=10)
    shell(catalog, "flush", "tp", t2)
    regions = catalog.list_regions("tp").collect()
    assert len(regions) == 2
    assert any(r.end_key < "m" for r in regions)
    assert any(r.start_key >= "m" for r in regions)
    import pytest as _pt

    catalog.create_table("nosplits", ["f"])
    with _pt.raises(ValueError):
        shell(catalog, "truncate_preserve", "nosplits")


def test_locate_region_boundary_scan_cached_per_version(catalog):
    """locate_region floor-lookups must hit the client-META-cache
    analog: ONE boundary scan per table version (Admin.
    _cached_region_inventory), invalidated by the next flush."""
    catalog.create_table("lrc", ["f"])
    t = catalog.table("lrc")
    for i in range(8):
        t = shell_put(t, f"r{i}", "f:q", f"v{i}", ts=10, seq=i)
    catalog.flush("lrc", t, num_regions=2)

    scans = 0
    orig = type(catalog)._scan_region_boundaries

    def counting(self, name):
        nonlocal scans
        scans += 1
        return orig(self, name)

    type(catalog)._scan_region_boundaries = counting
    try:
        a = catalog.locate_region("lrc", "r3")
        b = catalog.locate_region("lrc", "r7")
        catalog.get_splits("lrc")
        assert scans == 1  # one scan serves every lookup
        assert a["start_key"] <= "r3" and b["start_key"] <= "r7"
        # a flush bumps the version: the cache must refresh
        catalog.flush("lrc", catalog.table("lrc"), num_regions=2)
        catalog.locate_region("lrc", "r3")
        assert scans == 2
        catalog.locate_region("lrc", "r5")
        assert scans == 2
    finally:
        type(catalog)._scan_region_boundaries = orig


def test_local_catalog_state_io_avoids_spark_jobs(catalog, monkeypatch):
    """Catalog metadata (descriptors, topology, discovery globs) on a
    local catalog must not launch Spark jobs — the text reader is the
    non-local fallback only (Admin._read_text_state/_glob_state)."""
    catalog.create_table("fastio", ["f"])
    called = []
    reader_cls = type(catalog.spark.read)
    orig = reader_cls.text

    def spying(self, path, *a, **kw):
        called.append(path)
        return orig(self, path, *a, **kw)

    monkeypatch.setattr(reader_cls, "text", spying)
    catalog._read_desc("fastio")
    catalog.list_tables()
    catalog.list_snapshots()
    catalog.list_namespaces()
    catalog._read_topology()
    catalog.describe("fastio")
    assert called == []


# -- the shell command table (shell.SHELL + shell()) ---------------------

# Every shell command name the module offered as a ``shell_<name>`` def
# before the admin commands became one table: 177 defs plus the
# ``update_rsgroup_config`` alias.  None may disappear.
SHELL_COMMANDS = frozenset({
    "add_labels",
    "add_rsgroup",
    "alter",
    "alter_async",
    "alter_namespace",
    "alter_rsgroup_config",
    "alter_status",
    "append",
    "append_peer_exclude_namespaces",
    "append_peer_exclude_table_cfs",
    "append_peer_namespaces",
    "append_peer_table_cfs",
    "assign",
    "balance_rsgroup",
    "balance_switch",
    "balancer",
    "balancer_enabled",
    "balancer_report",
    "catalogjanitor_enabled",
    "catalogjanitor_run",
    "catalogjanitor_switch",
    "change_sft",
    "change_sft_all",
    "cleaner_chore_enabled",
    "cleaner_chore_run",
    "cleaner_chore_switch",
    "clear_auths",
    "clear_block_cache",
    "clear_compaction_queues",
    "clear_deadservers",
    "clear_slowlog_responses",
    "clone_snapshot",
    "clone_table_schema",
    "close_region",
    "compact",
    "compact_rs",
    "compaction_state",
    "compaction_switch",
    "count",
    "create",
    "create_namespace",
    "decommission_regionservers",
    "delete",
    "delete_all_snapshot",
    "delete_snapshot",
    "delete_table_snapshots",
    "deleteall",
    "describe",
    "describe_namespace",
    "disable",
    "disable_all",
    "disable_exceed_throttle_quota",
    "disable_rpc_throttle",
    "drop",
    "drop_all",
    "drop_namespace",
    "enable",
    "enable_all",
    "enable_exceed_throttle_quota",
    "enable_rpc_throttle",
    "exists",
    "export_snapshot",
    "flush",
    "flush_master_store",
    "get",
    "get_auths",
    "get_balancer_decisions",
    "get_balancer_rejections",
    "get_counter",
    "get_largelog_responses",
    "get_namespace_rsgroup",
    "get_rsgroup",
    "get_server_rsgroup",
    "get_slowlog_responses",
    "get_splits",
    "get_table",
    "get_table_rsgroup",
    "grant",
    "hbck_chore_run",
    "incr",
    "is_disabled",
    "is_enabled",
    "is_in_maintenance_mode",
    "list",
    "list_deadservers",
    "list_decommissioned_regionservers",
    "list_disabled_tables",
    "list_enabled_tables",
    "list_labels",
    "list_liveservers",
    "list_locks",
    "list_namespace",
    "list_namespace_tables",
    "list_peer_configs",
    "list_procedures",
    "list_quota_snapshots",
    "list_quota_table_sizes",
    "list_quotas",
    "list_regions",
    "list_replicated_tables",
    "list_rsgroups",
    "list_security_capabilities",
    "list_snapshot_sizes",
    "list_snapshots",
    "list_table_snapshots",
    "list_unknownservers",
    "locate_region",
    "major_compact",
    "merge_region",
    "move",
    "move_namespaces_rsgroup",
    "move_servers_namespaces_rsgroup",
    "move_servers_rsgroup",
    "move_servers_tables_rsgroup",
    "move_tables_rsgroup",
    "normalize",
    "normalizer_enabled",
    "normalizer_switch",
    "peer_modification_enabled",
    "peer_modification_switch",
    "processlist",
    "put",
    "recommission_regionserver",
    "refresh_hfiles",
    "refresh_meta",
    "regioninfo",
    "remove_peer_exclude_namespaces",
    "remove_peer_exclude_table_cfs",
    "remove_peer_namespaces",
    "remove_peer_table_cfs",
    "remove_rsgroup",
    "remove_servers_rsgroup",
    "rename_rsgroup",
    "reopen_regions",
    "restore_snapshot",
    "revoke",
    "rit",
    "rpc_throttle_enabled",
    "scan",
    "set_auths",
    "set_peer_bandwidth",
    "set_peer_exclude_namespaces",
    "set_peer_exclude_table_cfs",
    "set_peer_namespaces",
    "set_peer_replicate_all",
    "set_peer_serial",
    "set_quota",
    "set_visibility",
    "show_filters",
    "show_peer_table_cfs",
    "show_rsgroup_config",
    "snapshot",
    "snapshot_cleanup_enabled",
    "snapshot_cleanup_switch",
    "split",
    "splitormerge_enabled",
    "splitormerge_switch",
    "status",
    "stop_master",
    "stop_regionserver",
    "table_help",
    "top",
    "trace",
    "transit_peer_sync_replication_state",
    "truncate",
    "truncate_preserve",
    "truncate_region",
    "unassign",
    "update_all_config",
    "update_config",
    "update_peer_config",
    "update_rsgroup_config",
    "user_permission",
    "version",
    "wal_roll",
    "wal_roll_all",
    "whoami",
    "zk_dump",
})


def test_shell_command_names_are_all_reachable():
    import hbase_spark.shell as sh

    table_first = {n.removeprefix("shell_") for n in vars(sh)
                   if n.startswith("shell_")}
    assert not table_first & set(sh.SHELL)
    assert table_first | set(sh.SHELL) == SHELL_COMMANDS


def test_shell_entries_dispatch_to_admin_methods():
    """Each SHELL entry names a callable Admin attribute (or a def in
    shell.py), and shell() passes the bound arguments first, then the
    caller's, unchanged."""
    from hbase_spark.shell import SHELL, shell

    class Recorder:
        def __getattr__(self, method):
            return lambda *a, **kw: (method, a, kw)

    for cmd, (target, *bound) in SHELL.items():
        if not isinstance(target, str):
            assert callable(target), cmd
            continue
        assert callable(getattr(Admin, target, None)), (cmd, target)
        got = shell(Recorder(), cmd, "x", k=1)
        assert got == (target, (*bound, "x"), {"k": 1}), cmd


def test_shell_unknown_command_raises():
    from hbase_spark.shell import shell

    with pytest.raises(ValueError, match="no_such_cmd"):
        shell(object(), "no_such_cmd")


def test_shell_has_no_forwarding_defs():
    """No def in shell.py is a one-call Admin forwarder that a SHELL
    entry could express: a body (docstring aside) of one
    ``admin.<m>(...)`` call whose arguments are constants followed by
    the def's own parameters, in order."""
    import ast
    import pathlib

    import hbase_spark.shell as sh

    tree = ast.parse(pathlib.Path(sh.__file__).read_text())
    forwarders = []
    for node in tree.body:
        if not isinstance(node, ast.FunctionDef):
            continue
        body = node.body
        if isinstance(body[0], ast.Expr) and isinstance(
                body[0].value, ast.Constant):
            body = body[1:]
        if len(body) != 1 or not isinstance(body[0], (ast.Expr, ast.Return)):
            continue
        call = body[0].value
        if not (isinstance(call, ast.Call)
                and isinstance(call.func, ast.Attribute)
                and isinstance(call.func.value, ast.Name)
                and call.func.value.id == "admin"):
            continue
        params = [a.arg for a in node.args.args[1:]]
        args = list(call.args)
        while args and isinstance(args[0], ast.Constant):
            args.pop(0)
        passed = [a.id if isinstance(a, ast.Name) else None for a in args]
        kw_ok = all(
            (k.arg is None and isinstance(k.value, ast.Name)
             and node.args.kwarg is not None
             and k.value.id == node.args.kwarg.arg)
            or (isinstance(k.value, ast.Name) and k.value.id == k.arg)
            for k in call.keywords
        )
        if passed == params and kw_ok:
            forwarders.append(node.name)
    assert forwarders == []
