"""Admin catalog + shell-DSL surface tests, part 2 — region
geometry, balancer/normalizer/rsgroups, hbck, chores, and the shell
scraps (split from test_admin_shell.py so the sharded runner can run
the two halves in parallel; the per-function ``catalog`` fixture makes
every test independent)."""

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


def _write_log(spark, log_dir, rows, mode="overwrite"):
    from hbase_spark.model import cell_schema

    spark.createDataFrame(rows, cell_schema()).coalesce(1).write.mode(
        mode
    ).parquet(log_dir)




def test_shell_top_orders_regions_by_heat(catalog):
    from hbase_spark.shell import shell

    catalog.create_table("hot", ["f"])
    t = catalog.table("hot")
    for i in range(30):
        t = shell_put(t, f"k{i:02d}", "f:q", "v", ts=10, seq=i)
    catalog.flush("hot", t, num_regions=3)
    top = shell(catalog, "top", n=2)
    assert len(top) == 2
    assert top[0]["cells"] >= top[1]["cells"]
    assert top[0]["table"] == "hot"


# -- master switches + region normalizer
# (master/normalizer/SimpleRegionNormalizer.java; shell normalize /
# normalizer_switch / splitormerge_switch) ------------------------------


def test_master_switches_gate_split_and_merge(catalog):
    from hbase_spark.shell import shell

    catalog.create_table("sw", ["f"])
    t = catalog.table("sw")
    for i in range(20):
        t = shell_put(t, f"r{i:03d}", "f:q", str(i), ts=1, seq=i)
    catalog.flush("sw", t, num_regions=4)

    assert shell(catalog, "splitormerge_enabled", "SPLIT")
    prev = shell(catalog, "splitormerge_switch", "SPLIT", False)
    assert prev is True
    with pytest.raises(RuntimeError):
        catalog.split_region("sw", "r010")
    shell(catalog, "splitormerge_switch", "SPLIT", True)

    shell(catalog, "splitormerge_switch", "MERGE", False)
    with pytest.raises(RuntimeError):
        catalog.merge_region("sw", "r000", "r015")
    shell(catalog, "splitormerge_switch", "MERGE", True)

    assert shell(catalog, "balancer_enabled")
    assert shell(catalog, "balance_switch", False) is True
    assert not shell(catalog, "balancer_enabled")
    shell(catalog, "balance_switch", True)


def test_normalizer_merges_small_and_splits_large_regions(catalog):
    """Seed a deliberately skewed layout (one huge region, many tiny
    ones), then normalize: tiny adjacent regions merge, the oversized
    region splits, data survives, and range pruning still holds on the
    rewritten geometry."""
    from pyspark.sql import functions as F

    from hbase_spark.shell import shell

    catalog.create_table("norm", ["f"])
    t = catalog.table("norm")
    seq = 0
    # rows r000..r399: big payloads -> after a 4-way flush + manual
    # splits we get small edge regions and one fat middle region
    for i in range(120):
        t = shell_put(t, f"r{i:03d}", "f:q", "x" * (400 if i >= 40 else 4), ts=1, seq=seq)
        seq += 1
    catalog.flush("norm", t, num_regions=2)
    # carve the small-prefix half into 4 tiny regions
    for sp in ("r010", "r020", "r030"):
        catalog.split_region("norm", sp)
    n0 = catalog.list_regions("norm").count()
    assert n0 == 5
    before = {r.row: r.value for r in catalog.table("norm").snapshot().collect()}

    # switch off -> normalize refuses
    shell(catalog, "normalizer_switch", False)
    assert not shell(catalog, "normalizer_enabled")
    with pytest.raises(RuntimeError):
        catalog.normalize("norm")
    shell(catalog, "normalizer_switch", True)

    plans = shell(catalog, "normalize", "norm", merge_min_region_count=3)
    kinds = {p["type"] for p in plans}
    assert "merge" in kinds and "split" in kinds
    regions = catalog.list_regions("norm").collect()
    # tiny regions merged; the fat region split into two daughters
    ranges = sorted((r.start_key, r.end_key) for r in regions)
    assert all(a[1] < b[0] for a, b in zip(ranges, ranges[1:]))
    after = {r.row: r.value for r in catalog.table("norm").snapshot().collect()}
    assert after == before
    # pruning contract: a scan above the old split keys touches only
    # files whose range overlaps
    touched = {
        r.f
        for r in catalog.table("norm")
        .cells.filter(F.col("row") >= "r100")
        .select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    }
    overlapping = {r.region_file for r in regions if r.end_key >= "r100"}
    assert touched <= overlapping and touched
    # dry-run planner is idempotent-ish: geometry is now balanced
    # enough that no further split of that size is demanded
    plans2 = catalog.compute_normalization_plans("norm", merge_min_region_count=3)
    assert all(p["type"] != "split" or p["bytes"] < 2 * sum(
        r["bytes"] for r in catalog._region_sizes("norm")
    ) for p in plans2)


# -- rsgroups (rsgroup/RSGroupAdminClient.java; shell rsgroup cmds) -----


def test_rsgroup_lifecycle_and_membership(catalog):
    from hbase_spark.shell import shell

    catalog.create_table("ga", ["f"])
    catalog.create_table("gb", ["f"])
    shell(catalog, "add_rsgroup", "analytics")
    with pytest.raises(ValueError):
        shell(catalog, "add_rsgroup", "analytics")
    with pytest.raises(ValueError):
        shell(catalog, "add_rsgroup", "default")

    shell(catalog, "move_servers_rsgroup", ["s1:16020", "s2:16020"], "analytics")
    shell(catalog, "move_tables_rsgroup", ["ga"], "analytics")
    assert shell(catalog, "get_table_rsgroup", "ga") == "analytics"
    assert shell(catalog, "get_table_rsgroup", "gb") == "default"
    assert shell(catalog, "get_server_rsgroup", "s1:16020") == "analytics"
    assert shell(catalog, "get_server_rsgroup", "nope:1") is None
    info = shell(catalog, "get_rsgroup", "analytics")
    assert info["servers"] == ["s1:16020", "s2:16020"]
    assert info["tables"] == ["ga"]
    # default group lists unassigned tables
    assert "gb" in shell(catalog, "list_rsgroups")["default"]["tables"]

    # non-empty group cannot be removed; moving out empties it
    with pytest.raises(ValueError):
        shell(catalog, "remove_rsgroup", "analytics")
    shell(catalog, "move_tables_rsgroup", ["ga"], "default")
    shell(catalog, "remove_servers_rsgroup", ["s1:16020", "s2:16020"])
    shell(catalog, "remove_rsgroup", "analytics")
    assert "analytics" not in shell(catalog, "list_rsgroups")
    with pytest.raises(ValueError):
        shell(catalog, "move_tables_rsgroup", ["ga"], "gone")
    with pytest.raises(ValueError):
        shell(catalog, "move_tables_rsgroup", ["missing_table"], "default")


def test_balance_rsgroup_rebuckets_member_tables(catalog):
    """balance_rsgroup re-buckets each member table's layout to the
    group's capacity (servers x regions_per_server) — the
    RSGroupBasedLoadBalancer consequence with analytic teeth: moving a
    table to a bigger pool increases its physical parallelism."""
    from hbase_spark.shell import shell

    catalog.create_table("bt", ["f"])
    t = catalog.table("bt")
    for i in range(40):
        t = shell_put(t, f"r{i:03d}", "f:q", str(i), ts=1, seq=i)
    catalog.flush("bt", t, num_regions=2)
    assert catalog.list_regions("bt").count() == 2

    catalog.add_rsgroup("pool")
    catalog.move_servers_rsgroup(["a:1", "b:1", "c:1"], "pool")
    catalog.move_tables_rsgroup(["bt"], "pool")
    before = {r.row: r.value for r in catalog.table("bt").snapshot().collect()}
    out = shell(catalog, "balance_rsgroup", "pool", regions_per_server=2)
    assert out == {"bt": 6}
    assert catalog.list_regions("bt").count() == 6
    assert {r.row: r.value
            for r in catalog.table("bt").snapshot().collect()} == before
    # balancer switch gates it
    catalog.set_switch("balancer", False)
    with pytest.raises(RuntimeError):
        shell(catalog, "balance_rsgroup", "pool")


def test_plan_normalization_property_laws():
    """Hypothesis laws for the pure normalizer planner
    (SimpleRegionNormalizer's plan shape): splits only > 2x avg; merge
    runs are adjacent, disjoint, never split-flagged, cumulative size
    within the average, and bounded by merge_request_max_regions."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from hbase_spark.admin import plan_normalization

    sizes = st.lists(st.integers(min_value=0, max_value=10**9),
                     min_size=0, max_size=40)

    @settings(max_examples=200, deadline=None)
    @given(sizes, st.integers(min_value=2, max_value=6))
    def law(byte_list, max_merge):
        regions = [
            {"start_key": f"k{i:03d}", "bytes": b}
            for i, b in enumerate(byte_list)
        ]
        plans = plan_normalization(
            regions, merge_request_max_regions=max_merge
        )
        if not regions:
            assert plans == []
            return
        avg = sum(byte_list) / len(byte_list)
        by_key = {r["start_key"]: r["bytes"] for r in regions}
        order = [r["start_key"] for r in regions]
        split_keys = set()
        for p in plans:
            if p["type"] == "split":
                assert by_key[p["start_key"]] > 2 * avg
                split_keys.add(p["start_key"])
        seen = set()
        for p in plans:
            if p["type"] != "merge":
                continue
            ks = p["start_keys"]
            assert len(ks) >= 2
            assert len(ks) <= max_merge
            # adjacency in key order, disjoint from other runs and splits
            idx = [order.index(k) for k in ks]
            assert idx == list(range(idx[0], idx[0] + len(ks)))
            assert not (set(ks) & split_keys)
            assert not (set(ks) & seen)
            seen |= set(ks)
            assert sum(by_key[k] for k in ks) <= avg

    law()


def test_minor_compact_coalesces_without_dropping_cells(catalog):
    """Admin.compact (minor): many small region files coalesce into the
    requested count as a new version dir, with every raw cell —
    including tombstones — retained (RatioBasedCompactionPolicy picks
    files; minor keeps deletes)."""
    from hbase_spark.shell import shell

    catalog.create_table("mc", ["f"])
    t = catalog.table("mc")
    for i in range(30):
        t = shell_put(t, f"r{i:03d}", "f:q", str(i), ts=1, seq=i)
    t = shell_delete(t, "r005", "f:q", ts=2, seq=100)
    catalog.flush("mc", t, num_regions=8)
    raw_before = catalog.table("mc").cells.count()
    assert catalog.list_regions("mc").count() == 8
    v_before = catalog.describe("mc")["version"]

    shell(catalog, "compact", "mc", num_regions=2)
    assert catalog.list_regions("mc").count() == 2
    # no cells dropped — the tombstone survives minor compaction
    assert catalog.table("mc").cells.count() == raw_before
    assert catalog.table("mc").cells.filter("type != 4").count() == 1
    # visible data unchanged (r005 still masked)
    snap = {r.row for r in catalog.table("mc").snapshot().collect()}
    assert "r005" not in snap and len(snap) == 29
    st = shell(catalog, "compaction_state", "mc")
    assert st["state"] == "NONE"
    assert st["version"] == v_before + 1
    assert st["regions"] == 2


def test_cleaner_chore_reclaims_unreferenced_version_dirs(catalog):
    """Archive cleaner (CleanerChore + SnapshotHFileCleaner): old
    version dirs are reclaimed only when neither a live descriptor nor
    a snapshot manifest references them; pinned dirs survive and the
    snapshot still restores afterwards."""
    from hbase_spark.shell import shell

    catalog.create_table("cc", ["f"])
    t = catalog.table("cc")
    for i in range(10):
        t = shell_put(t, f"r{i:02d}", "f:q", str(i), ts=1, seq=i)
    catalog.flush("cc", t, num_regions=2)          # cells-v1
    catalog.snapshot("pin", "cc")                   # pins v1
    t2 = shell_put(catalog.table("cc"), "r99", "f:q", "x", ts=2, seq=100)
    catalog.flush("cc", t2, num_regions=2)          # cells-v2
    t3 = shell_put(catalog.table("cc"), "r98", "f:q", "y", ts=3, seq=101)
    catalog.flush("cc", t3, num_regions=2)          # cells-v3 (live)

    dry = shell(catalog, "cleaner_chore_run", dry_run=True)
    assert any(d.endswith("cells-v2") for d in dry["deleted"])
    assert any(k.endswith("cells-v1") for k in dry["kept"])    # snapshot pin
    assert any(k.endswith("cells-v3") for k in dry["kept"])    # live
    # dry run deleted nothing
    assert {r.row for r in catalog.table("cc").snapshot().collect()} >= {"r99"}

    out = shell(catalog, "cleaner_chore_run")
    assert out["deleted"] == dry["deleted"]
    # live table intact, snapshot still restores to the pinned state
    assert {r.row for r in catalog.table("cc").snapshot().collect()} >= {"r98", "r99"}
    assert catalog.table_from_snapshot("pin").snapshot().count() == 10
    # idempotent: second run finds nothing new
    assert shell(catalog, "cleaner_chore_run")["deleted"] == []


def test_normalize_split_respects_key_prefix_groups(catalog):
    """KeyPrefix/DelimitedKeyPrefixRegionSplitPolicy: executed split
    points truncate to the group prefix, so all rows sharing a prefix
    end up in ONE daughter; a region holding a single group refuses to
    split rather than break it."""
    catalog.create_table("kp", ["f"])
    t = catalog.table("kp")
    seq = 0
    # 6 user groups x 20 fat rows plus 3 tiny singleton groups
    for u in range(6):
        for i in range(20):
            t = shell_put(t, f"user{u}_{i:02d}", "f:q", "x" * 300, ts=1, seq=seq)
            seq += 1
    for i in range(3):
        t = shell_put(t, f"v{i}_0", "f:q", "s", ts=1, seq=1000 + i)
    catalog.flush("kp", t, num_regions=1)
    # carve the tiny groups into their own regions (bare-prefix split
    # points, so no group is broken) -> the user region is > 2x avg
    for sp in ("v0", "v1", "v2"):
        catalog.split_region("kp", sp)
    plans = catalog.normalize(
        "kp", split_delimiter="_", merge_min_region_count=99
    )
    executed = [p for p in plans if p["type"] == "split" and "split_point" in p]
    assert executed, plans
    for p in executed:
        # split points are bare group prefixes (no delimiter suffix)
        assert "_" not in p["split_point"]
    # no region boundary splits a group: every group's rows sit inside
    # one region's [start, end] range
    regions = catalog.list_regions("kp").collect()
    rows = [r.row for r in catalog.table("kp").cells.select("row").distinct().collect()]
    by_group: dict = {}
    for row in rows:
        by_group.setdefault(row.split("_", 1)[0], []).append(row)
    for g, members in by_group.items():
        owners = set()
        for m in members:
            for reg in regions:
                if reg.start_key <= m <= reg.end_key:
                    owners.add(reg.region_file)
                    break
        assert len(owners) == 1, (g, owners)
    # a single-group region refuses to split (truncated point hits the
    # floor / too few rows) instead of breaking the group
    v0_region = next(r for r in regions if r.start_key.startswith("v0"))
    assert catalog._split_point_of(
        v0_region.region_file, delimiter="_", floor_key=v0_region.start_key
    ) is None


def test_snapshot_ttl_cleanup_and_dir_reclaim(catalog):
    """SnapshotCleanerChore: TTL'd snapshots expire (switch-gated),
    non-TTL snapshots never do, and a follow-up cleaner_chore reclaims
    the version dir the expired snapshot was pinning."""
    from hbase_spark.shell import shell

    catalog.create_table("sc", ["f"])
    t = catalog.table("sc")
    for i in range(5):
        t = shell_put(t, f"r{i}", "f:q", str(i), ts=1, seq=i)
    catalog.flush("sc", t, num_regions=1)                      # v1
    catalog.snapshot("ephemeral", "sc", ttl_sec=60, created_at=1000)
    catalog.snapshot("forever", "sc")
    t2 = shell_put(catalog.table("sc"), "r9", "f:q", "x", ts=2, seq=99)
    catalog.flush("sc", t2, num_regions=1)                     # v2 live

    # switch off -> nothing expires
    shell(catalog, "snapshot_cleanup_switch", False)
    assert not shell(catalog, "snapshot_cleanup_enabled")
    assert catalog.snapshot_cleaner_chore(now=10_000) == []
    shell(catalog, "snapshot_cleanup_switch", True)

    # before expiry: kept; after: only the TTL'd one goes
    assert catalog.snapshot_cleaner_chore(now=1030) == []
    assert catalog.snapshot_cleaner_chore(now=1060) == ["ephemeral"]
    assert catalog.list_snapshots() == ["forever"]
    # v1 is still pinned by 'forever'; delete it and the dir reclaims
    kept = shell(catalog, "cleaner_chore_run", dry_run=True)["kept"]
    assert any(k.endswith("cells-v1") for k in kept)
    catalog.delete_snapshot("forever")
    deleted = shell(catalog, "cleaner_chore_run")["deleted"]
    assert any(d.endswith("cells-v1") for d in deleted)
    assert {r.row for r in catalog.table("sc").snapshot().collect()} == {
        "r0", "r1", "r2", "r3", "r4", "r9"
    }


def test_balancer_report_and_balance_even_out_skew(catalog, spark):
    from hbase_spark.shell import shell, shell_put

    catalog.create_table("tb", ["f"])
    t = catalog.table("tb")
    for i in range(40):
        # fat values on a narrow key prefix -> one heavy region
        v = ("X" * 2000) if i < 8 else "v"
        t = shell_put(t, f"{i:04d}", "f:q", v, ts=10, seq=i)
    # all heavy keys below '0008': 4 range regions make region 0 heavy
    catalog.flush("tb", t, num_regions=4)
    rep = {r["table"]: r for r in shell(catalog, "balancer_report")}
    assert rep["tb"]["regions"] > 1
    assert rep["tb"]["imbalance"] > 1.2
    assert 0.0 < rep["tb"]["cost"] <= 1.0

    plans = catalog.balance(dry_run=True)
    assert "tb" in plans

    done = catalog.balance()
    assert "tb" in done
    rep2 = {r["table"]: r for r in shell(catalog, "balancer_report")}
    assert rep2["tb"]["imbalance"] < rep["tb"]["imbalance"]
    # data intact after the rewrite
    from hbase_spark.shell import shell_count

    assert shell_count(catalog.table("tb")) == 40

    # the balancer switch gates execution, like the reference
    assert shell(catalog, "balance_switch", False) is True
    with pytest.raises(RuntimeError):
        shell(catalog, "balancer")
    shell(catalog, "balance_switch", True)


def test_procedures_and_locks_journal_master_ops(catalog, spark):
    from hbase_spark.shell import shell, shell_put

    catalog.create_table("tp", ["f"])
    t = catalog.table("tp")
    for i in range(10):
        t = shell_put(t, f"{i:04d}", "f:q", "v", ts=10, seq=i)
    catalog.flush("tp", t, num_regions=2)
    catalog.split_region("tp", "0002")
    catalog.snapshot("snap-tp", "tp")
    catalog.disable_table("tp")
    catalog.restore_snapshot("snap-tp")

    procs = shell(catalog, "list_procedures")
    types = [p["type"] for p in procs]
    assert "SPLIT_REGION" in types
    assert "RESTORE_SNAPSHOT" in types
    assert all(p["state"] == "SUCCESS" for p in procs)
    assert all(p["completed_ts"] is not None for p in procs)
    # pids are unique and monotone
    pids = [p["pid"] for p in procs]
    assert pids == sorted(pids) and len(set(pids)) == len(pids)
    # no in-flight procedures -> no locks
    assert shell(catalog, "list_locks") == []
    # an in-flight procedure holds an exclusive table lock
    with catalog._procedure("MERGE_TABLE_REGIONS", "tp"):
        locks = shell(catalog, "list_locks")
        assert locks == [{
            "resource": "tp", "lock_type": "EXCLUSIVE",
            "proc_pid": locks[0]["proc_pid"],
            "proc_type": "MERGE_TABLE_REGIONS",
        }]
    # a failing procedure rolls back
    with pytest.raises(ValueError):
        with catalog._procedure("NORMALIZE", "tp"):
            raise ValueError("boom")
    assert shell(catalog, "list_procedures")[-1]["state"] == "ROLLEDBACK"
    # HBCK2 bypass: a procedure wedged RUNNABLE (a crashed master's
    # leftover — simulated by writing the entry a dead session leaves)
    # is cleared and its table lock released; completed entries are
    # untouched without force
    procs = catalog._read_procs()
    dead_pid = 1 + max(p["pid"] for p in procs)
    procs.append({
        "pid": dead_pid, "type": "MERGE_TABLE_REGIONS", "table": "tp",
        "lock": "EXCLUSIVE", "state": "RUNNABLE",
        "submitted_ts": 0.0, "completed_ts": None,
    })
    catalog._write_procs(procs)
    assert shell(catalog, "list_locks") != []
    assert catalog.hbck("tp", stuck_after_sec=60)["stuck_procedures"]
    assert catalog.bypass_procedure(dead_pid) is True
    assert shell(catalog, "list_locks") == []
    by = [p for p in catalog._read_procs() if p["pid"] == dead_pid][0]
    assert by["state"] == "BYPASSED" and by["completed_ts"] is not None
    done_pid = [p["pid"] for p in catalog._read_procs()
                if p["state"] == "SUCCESS"][0]
    assert catalog.bypass_procedure(done_pid) is False  # needs force
    assert catalog.bypass_procedure(done_pid, force=True) is True


def test_wal_roll_and_zk_dump(catalog, spark, tmp_path):
    from hbase_spark.shell import shell

    log_dir = str(tmp_path / "wal")
    df = spark.range(3).selectExpr("cast(id as string) as v")
    df.write.mode("overwrite").parquet(log_dir)
    out = shell(catalog, "wal_roll", log_dir)
    assert out["sealed"] >= 1
    import json as _json

    with open(out["manifest"]) as fh:
        man = _json.load(fh)
    assert len(man["sealed_files"]) == out["sealed"]
    # a second roll gets a new manifest sequence
    out2 = shell(catalog, "wal_roll", log_dir)
    assert out2["manifest"] != out["manifest"]

    catalog.create_table("tz", ["f"])
    dump = shell(catalog, "zk_dump")
    assert dump["tables"]["tz"] == "ENABLED"
    assert dump["switches"] == catalog._read_switches()
    assert dump["procedures_running"] == []


def test_round5_shell_scraps(catalog, spark):
    from hbase_spark.shell import (
        shell,
        shell_get_counter,
        shell_incr,
        shell_put,
        shell_show_filters,
    )

    # show_filters lists the ParseFilter-constructible names
    names = shell_show_filters()
    assert "SingleColumnValueFilter" in names and "FuzzyRowFilter" in names

    catalog.create_table("t5", ["f"])
    t = catalog.table("t5")
    t = shell_put(t, "r", "f:q", "v", ts=10, seq=1)
    t = shell_incr(t, "r", "f:cnt", 5, ts=20, seq=2)
    t = shell_incr(t, "r", "f:cnt", 7, ts=30, seq=3)
    assert shell_get_counter(t, "r", "f:cnt") == 12

    # snapshot / quota size listings are metadata walks over real dirs
    catalog.flush("t5", t, num_regions=2)
    catalog.snapshot("s5", "t5")
    sizes = shell(catalog, "list_snapshot_sizes")
    assert sizes["s5"] > 0
    qsizes = shell(catalog, "list_quota_table_sizes")
    assert qsizes["t5"] >= sizes["s5"]

    # replicated-table listing follows family replication scope
    assert shell(catalog, "list_replicated_tables") == []
    catalog.enable_table_replication("t5")
    assert shell(catalog, "list_replicated_tables") == ["t5"]

    # compaction switch gates both compactions
    assert shell(catalog, "compaction_switch", False) is True
    with pytest.raises(RuntimeError):
        catalog.compact("t5")
    with pytest.raises(RuntimeError):
        catalog.major_compact("t5")
    shell(catalog, "compaction_switch", True)
    catalog.compact("t5", num_regions=2)

    # catalog janitor honors its switch and reclaims like the chore
    shell(catalog, "catalogjanitor_switch", False)
    with pytest.raises(RuntimeError):
        shell(catalog, "catalogjanitor_run")
    shell(catalog, "catalogjanitor_switch", True)
    out = shell(catalog, "catalogjanitor_run", dry_run=True)
    assert isinstance(out, dict)

    # balance journals decisions/rejections
    catalog.balance()
    dec = shell(catalog, "get_balancer_decisions")
    rej = shell(catalog, "get_balancer_rejections")
    assert dec == [] or all("table" in d for d in dec)
    assert any(r["table"] == "t5" for r in rej)  # even table -> rejected


def test_round5_peer_config_refinements(catalog):
    from hbase_spark.shell import shell

    catalog.add_peer("p1", "/tmp/peer1", table_cfs={"ta": ["f"]})
    shell(catalog, "append_peer_table_cfs", "p1", {"ta": ["g"], "tb": None})
    assert shell(catalog, "show_peer_table_cfs", "p1") == {
        "ta": ["f", "g"], "tb": None,
    }
    shell(catalog, "remove_peer_table_cfs", "p1", {"ta": ["f"]})
    assert shell(catalog, "show_peer_table_cfs", "p1") == {
        "ta": ["g"], "tb": None,
    }
    shell(catalog, "remove_peer_table_cfs", "p1", {"ta": None, "tb": None})
    assert shell(catalog, "show_peer_table_cfs", "p1") is None

    shell(catalog, "set_peer_bandwidth", "p1", 1_000_000)
    shell(catalog, "set_peer_serial", "p1", True)
    cfg = shell(catalog, "list_peer_configs")["p1"]
    assert cfg["bandwidth"] == 1_000_000 and cfg["serial"] is True

    # the peer-modification switch gates every mutator
    assert shell(catalog, "peer_modification_switch", False) is True
    with pytest.raises(RuntimeError):
        shell(catalog, "set_peer_bandwidth", "p1", 5)
    with pytest.raises(RuntimeError):
        shell(catalog, "append_peer_table_cfs", "p1", {"tc": None})
    shell(catalog, "peer_modification_switch", True)


def test_peer_bandwidth_throttles_replication(catalog, spark):
    import tempfile

    from hbase_spark.quotas import RpcThrottlingException
    from hbase_spark.shell import shell

    catalog.create_table("rb", ["f"])
    catalog.enable_table_replication("rb")
    dest = tempfile.mkdtemp(prefix="hb_peer_bw_")
    catalog.add_peer("bw", dest)
    shell(catalog, "set_peer_bandwidth", "bw", 1000)  # 1000 B/s

    log = tempfile.mkdtemp(prefix="hb_log_bw_") + "/wal"
    _write_log(
        spark, log, [(f"r{i}", "f", "q", 10, 4, str(i), i) for i in range(8)]
    )
    # first ship always completes; the bucket goes into debt (a parquet
    # batch is far larger than the 1000-token bucket)
    assert catalog.replicate_log("rb", log, now_ms=1_000_000) == {"bw": 1}
    st = catalog.get_peer_config("bw")["_bw_state"]
    assert st["tokens"] < 0

    # immediately after (no refill time): further ships throttle
    _write_log(spark, log, [("x1", "f", "q", 20, 4, "9", 9)])
    with pytest.raises(RpcThrottlingException):
        catalog.replicate_log("rb", log, now_ms=1_000_000)

    # after enough wall-clock the debt refills and shipping resumes
    debt_ms = int(-st["tokens"] / 1000 * 1000) + 1000
    assert catalog.replicate_log(
        "rb", log, now_ms=1_000_000 + debt_ms
    ) == {"bw": 1}
    # a peer WITHOUT a bandwidth never throttles (same log, new peer;
    # far-future now so the throttled peer's debt is long cleared)
    dest2 = tempfile.mkdtemp(prefix="hb_peer_nobw_")
    catalog.add_peer("nobw", dest2)
    out = catalog.replicate_log("rb", log, now_ms=2_000_000_000)
    assert out["nobw"] == 1 and out["bw"] == 1


def test_truncate_region_drops_only_that_region(catalog, spark):
    from hbase_spark.shell import shell, shell_count, shell_put

    catalog.create_table("ttr", ["f"])
    t = catalog.table("ttr")
    for i in range(40):
        t = shell_put(t, f"{i:04d}", "f:q", str(i), ts=10, seq=i)
    catalog.flush("ttr", t, num_regions=4)
    regions = catalog.list_regions("ttr").collect()
    assert len(regions) == 4
    victim = catalog.locate_region("ttr", "0000")

    shell(catalog, "truncate_region", "ttr", "0000")
    t2 = catalog.table("ttr")
    rows = {r.row for r in t2.snapshot().select("row").distinct().collect()}
    # every row OUTSIDE the victim region survives; the victim's are gone
    lost = {f"{i:04d}" for i in range(40)} - rows
    assert lost and all(
        victim["start_key"] <= r <= victim["end_key"] for r in lost
    )
    assert shell_count(t2) == 40 - len(lost)
    # journaled like the other region procedures
    assert any(
        p["type"] == "TRUNCATE_REGION" for p in catalog.list_procedures()
    )


def test_compact_selection_hooks_coalesce_only_selected(catalog, spark):
    """preCompactSelection shrinks the candidate file list; only the
    selected region files are coalesced, the rest carry over."""
    from hbase_spark.plans.observers import Observer
    from hbase_spark.shell import shell_count, shell_put

    catalog.create_table("tcs", ["f"])
    t = catalog.table("tcs")
    for i in range(40):
        t = shell_put(t, f"{i:04d}", "f:q", str(i), ts=10, seq=i)
    catalog.flush("tcs", t, num_regions=4)
    files = sorted(r.region_file for r in catalog.list_regions("tcs").collect())
    assert len(files) == 4

    seen = {}
    ob = Observer(
        pre_compact_selection=lambda cands: sorted(cands)[:2],
        post_compact_selection=lambda sel: seen.__setitem__("sel", sorted(sel)),
    )
    catalog.compact("tcs", observers=[ob])
    assert seen["sel"] == files[:2]
    after = sorted(r.region_file for r in catalog.list_regions("tcs").collect())
    # 4 regions -> 3: two coalesced into one, two untouched
    assert len(after) == 3
    # carried-over files keep their basenames in the new version dir
    assert {f.rsplit("/", 1)[-1] for f in files[2:]} <= {
        f.rsplit("/", 1)[-1] for f in after
    }
    assert shell_count(catalog.table("tcs")) == 40  # no cells dropped
    assert any(p["type"] == "COMPACT_REGIONS" for p in catalog.list_procedures())

    # empty selection -> no compaction, layout untouched
    before = catalog.describe("tcs")["version"]
    catalog.compact("tcs", observers=[Observer(pre_compact_selection=lambda c: [])])
    assert catalog.describe("tcs")["version"] == before


def test_hbck_clean_catalog_reports_ok(catalog):
    from hbase_spark.shell import shell, shell_put

    catalog.create_table("hk1", ["f"])
    t = catalog.table("hk1")
    for i in range(8):
        t = shell_put(t, f"r{i}", "f:q", f"v{i}", ts=10, seq=i)
    catalog.flush("hk1", t, num_regions=2)
    rep = shell(catalog, "hbck_chore_run")
    assert rep["ok"], rep
    assert rep["overlaps"] == []
    # the pre-flush dir is cleanable archive, not an inconsistency
    catalog.cleaner_chore()
    assert catalog.hbck()["cleanable_dirs"] == []


def test_hbck_detects_overlap_and_family_mismatch(catalog):
    import glob
    import os
    import shutil as _sh

    from hbase_spark.shell import shell_put

    catalog.create_table("hk2", ["f"])
    t = catalog.table("hk2")
    for i in range(8):
        t = shell_put(t, f"r{i}", "f:q", f"v{i}", ts=10, seq=i)
    catalog.flush("hk2", t, num_regions=2)
    desc = catalog._read_desc("hk2")
    data_dir = catalog._abs_data_dir(desc, "hk2")
    # duplicate a region file inside the family dir -> overlapping ranges
    fam_dir = os.path.join(data_dir, "family=f")
    part = sorted(glob.glob(f"{fam_dir}/*.parquet"))[0]
    _sh.copy2(part, os.path.join(fam_dir, "part-dup.parquet"))
    # and an undeclared family dir with a stray (valid) file
    ghost = os.path.join(data_dir, "family=ghost")
    os.makedirs(ghost)
    _sh.copy2(part, os.path.join(ghost, "stray.parquet"))
    rep = catalog.hbck("hk2")
    assert not rep["ok"]
    assert any(o["table"] == "hk2" and o["family"] == "f"
               for o in rep["overlaps"])
    assert {"table": "hk2", "family": "ghost", "problem": "undeclared dir"} in (
        rep["family_mismatches"]
    )


def test_hbck_orphans_broken_snapshots_stuck_procs(catalog):
    import os
    import shutil as _sh

    from hbase_spark.shell import shell_put

    catalog.create_table("hk3", ["f"])
    t = catalog.table("hk3")
    for i in range(4):
        t = shell_put(t, f"r{i}", "f:q", f"v{i}", ts=10, seq=i)
    catalog.flush("hk3", t, num_regions=1)
    catalog.snapshot("snap-hk3", "hk3")
    # split creates cells-v2; the old dir stays pinned by the snapshot
    catalog.split_region("hk3", "r2")
    # v0 (pre-flush) is cleanable; v1 stays pinned by the snapshot
    cleanable = catalog.hbck()["cleanable_dirs"]
    assert all(not d.endswith("cells-v1") for d in cleanable)
    assert catalog.hbck()["ok"]
    # drop the snapshot's pinned dir -> broken snapshot; re-point the
    # manifest? no — delete the dir it references after unpinning check
    man = catalog._read_json(catalog._snap_path("snap-hk3"), "snap")
    _sh.rmtree(os.path.join(catalog.catalog_dir, man["data_dir"]))
    rep = catalog.hbck()
    assert any(b["snapshot"] == "snap-hk3" for b in rep["broken_snapshots"])
    # a hand-written RUNNABLE journal entry = a stuck procedure
    procs = catalog._read_procs()
    procs.append({"pid": 999, "type": "SPLIT_REGION", "table": "hk3",
                  "lock": "EXCLUSIVE", "state": "RUNNABLE",
                  "submitted_ts": 0.0, "completed_ts": None})
    catalog._write_procs(procs)
    rep = catalog.hbck(stuck_after_sec=60)
    assert any(p["pid"] == 999 for p in rep["stuck_procedures"])
    assert not rep["ok"]


def test_hbck_runs_on_disabled_tables(catalog):
    from hbase_spark.shell import shell_put

    catalog.create_table("hk4", ["f"])
    t = catalog.table("hk4")
    for i in range(4):
        t = shell_put(t, f"r{i}", "f:q", f"v{i}", ts=10, seq=i)
    catalog.flush("hk4", t, num_regions=1)
    catalog.disable_table("hk4")
    # repair is exactly when tables are disabled: the report must not
    # throw TableNotEnabledError (review finding)
    rep = catalog.hbck("hk4")
    assert rep["ok"], rep


def test_hbck_reports_contained_overlaps_not_just_adjacent(catalog):
    import glob
    import os
    import shutil as _sh

    from hbase_spark.shell import shell_put

    catalog.create_table("hk5", ["f"])
    t = catalog.table("hk5")
    for i in range(12):
        t = shell_put(t, f"r{i:02d}", "f:q", f"v{i}", ts=10, seq=i)
    catalog.flush("hk5", t, num_regions=3)
    desc = catalog._read_desc("hk5")
    fam_dir = os.path.join(catalog._abs_data_dir(desc, "hk5"), "family=f")
    parts = sorted(glob.glob(f"{fam_dir}/*.parquet"))
    assert len(parts) >= 3
    # plant a WIDE file spanning the whole key space (r00..r11): after
    # sorting it comes first, and every real region is CONTAINED in it
    # — only a running max-hi scan flags them all (review finding:
    # prev-only comparison reported just the first pair)
    spark = catalog.spark
    wide_df = (
        spark.read.parquet(parts[0])
        .unionByName(spark.read.parquet(parts[-1]))
    )
    tmp = os.path.join(os.path.dirname(fam_dir), "_wide_tmp")
    wide_df.coalesce(1).write.mode("overwrite").parquet(tmp)
    src = glob.glob(f"{tmp}/*.parquet")[0]
    _sh.move(src, os.path.join(fam_dir, "part-0000-wide.parquet"))
    _sh.rmtree(tmp, ignore_errors=True)
    rep = catalog.hbck("hk5")
    # the wide file overlaps EVERY one of the 3 original regions
    wide_pairs = [
        o for o in rep["overlaps"] if "wide" in o["a"] or "wide" in o["b"]
    ]
    assert len(wide_pairs) == 3, rep["overlaps"]


def test_visibility_admitted_set_memoized_per_frame_and_auths(
    spark, monkeypatch
):
    """Round-7 verdict item 8: an interactive session asking the same
    table N questions pays the distinct-label collect ONCE per
    (frame, auths) pair — a second identical call hits the cache, a
    different auth set (different admitted result) scans again, and
    cache=False forces a fresh scan."""
    import hbase_spark.functions.visibility as vis

    calls = {"n": 0}
    real = vis._distinct_labels

    def counting(cells, label_col, max_policies):
        calls["n"] += 1
        return real(cells, label_col, max_policies)

    monkeypatch.setattr(vis, "_distinct_labels", counting)
    vis._ADMITTED_CACHE.clear()

    from pyspark.sql import functions as F

    df = spark.range(8).select(
        F.col("id").cast("string").alias("row"),
        F.when(F.col("id") % 2 == 0, F.lit("ops")).otherwise(
            F.lit("ops & audit")
        ).alias("labels"),
    )
    a = vis.visible(df, {"ops"})
    b = vis.visible(df, {"ops"})  # same (frame, auths): cached
    assert calls["n"] == 1
    assert a.count() == b.count() == 4
    c = vis.visible(df, {"ops", "audit"})  # new auths: one more scan
    assert calls["n"] == 2 and c.count() == 8
    vis.visible(df, {"ops"}, cache=False)  # explicit refresh
    assert calls["n"] == 3


def test_region_lifecycle_hooks_fire_around_split_and_merge(catalog):
    """RegionObserver region-lifecycle hooks (preOpen :112 / postOpen
    :120 / preClose :322 / postClose :331) fire from the geometry
    rewrites: the split's parent closes and two daughters open; the
    merge closes both inputs and opens one — with pre_open always
    BEFORE the catalog flips to the new layout version and the post
    hooks after."""
    from hbase_spark.plans.observers import Observer

    catalog.create_table("lcy", ["f"])
    t = catalog.table("lcy")
    for i in range(20):
        t = shell_put(t, f"r{i:03d}", "f:q", str(i), ts=1, seq=i)
    catalog.flush("lcy", t, num_regions=2)

    events: list[tuple[str, str]] = []

    def note(kind):
        return lambda path: events.append((kind, path))

    ob = Observer(
        pre_close=note("pre_close"), post_close=note("post_close"),
        pre_open=note("pre_open"), post_open=note("post_open"),
    )
    catalog.split_region("lcy", "r005", observers=[ob])
    kinds = [k for k, _ in events]
    assert kinds.count("pre_close") == kinds.count("post_close") == 1
    assert kinds.count("pre_open") == kinds.count("post_open") == 2
    # ordering: close announced first; every pre_open precedes every
    # post_open/post_close (the catalog flip separates them)
    assert kinds[0] == "pre_close"
    assert max(i for i, k in enumerate(kinds) if k == "pre_open") < min(
        i for i, k in enumerate(kinds) if k.startswith("post_")
    )
    # daughters named by the split rewrite, parent retired
    opened = {p for k, p in events if k == "post_open"}
    assert len(opened) == 2 and all("split" in p for p in opened)

    events.clear()
    catalog.merge_region("lcy", "r000", "r010", observers=[ob])
    kinds = [k for k, _ in events]
    assert kinds.count("pre_close") == kinds.count("post_close") == 2
    assert kinds.count("pre_open") == kinds.count("post_open") == 1
    # data integrity after both observed rewrites
    got = {r.row: r.value for r in catalog.table("lcy").snapshot().collect()}
    assert got == {f"r{i:03d}": str(i) for i in range(20)}


# -- round-8 shell breadth: peer scope, rsgroup refinements, batch ops --


def test_peer_replication_scope_refinements(catalog):
    """ReplicationPeerConfig's full scope surface (set_peer_replicate_
    all / *_peer_namespaces / *_peer_exclude_namespaces /
    *_peer_exclude_tableCFs / update_peer_config): registry round-trip
    plus the ReplicationUtils.contains resolution _peer_scope feeds to
    replicate_log."""
    from hbase_spark.shell import shell

    catalog.add_peer("p1", "/tmp/na")
    # default: replicate-all; excludes carve out of it
    assert catalog._peer_scope({"enabled": True}, "t", ["f", "g"]) == ["f", "g"]
    shell(catalog, "set_peer_exclude_namespaces", "p1", ["secretns"])
    p = catalog.get_peer_config("p1")
    assert catalog._peer_scope(p, "secretns:t", ["f"]) == []
    assert catalog._peer_scope(p, "t", ["f"]) == ["f"]
    shell(catalog, "append_peer_exclude_table_cfs", "p1", {"t": ["g"]})
    p = catalog.get_peer_config("p1")
    assert catalog._peer_scope(p, "t", ["f", "g"]) == ["f"]
    shell(catalog, "remove_peer_exclude_table_cfs", "p1", {"t": ["g"]})
    p = catalog.get_peer_config("p1")
    assert catalog._peer_scope(p, "t", ["f", "g"]) == ["f", "g"]
    # replicate_all=false conflicts with a live exclude scope
    with pytest.raises(ValueError):
        shell(catalog, "set_peer_replicate_all", "p1", False)
    shell(catalog, "set_peer_exclude_namespaces", "p1", None)
    shell(catalog, "set_peer_replicate_all", "p1", False)
    # selective mode: namespaces include-list
    shell(catalog, "append_peer_namespaces", "p1", ["prod"])
    p = catalog.get_peer_config("p1")
    assert catalog._peer_scope(p, "prod:t", ["f"]) == ["f"]
    assert catalog._peer_scope(p, "other", ["f"]) == []
    shell(catalog, "remove_peer_namespaces", "p1", ["prod"])
    p = catalog.get_peer_config("p1")
    assert catalog._peer_scope(p, "prod:t", ["f"]) == []
    # and replicate_all=true conflicts with an include scope
    shell(catalog, "append_peer_namespaces", "p1", ["prod"])
    with pytest.raises(ValueError):
        shell(catalog, "set_peer_replicate_all", "p1", True)
    # update_peer_config merges arbitrary allowed fields
    cfg = shell(catalog, "update_peer_config", "p1", bandwidth=1024)
    assert cfg["bandwidth"] == 1024 and cfg["namespaces"] == ["prod"]
    with pytest.raises(ValueError):
        shell(catalog, "update_peer_config", "p1", bogus_field=1)


def test_rsgroup_refinements_rename_namespaces_config(catalog):
    from hbase_spark.shell import shell

    catalog.add_rsgroup("batch")
    catalog.create_namespace("etl")
    shell(catalog, "move_namespaces_rsgroup", ["etl"], "batch")
    assert shell(catalog, "get_namespace_rsgroup", "etl") == "batch"
    assert shell(catalog, "get_namespace_rsgroup", "nowhere") == "default"
    cfg = shell(catalog, "alter_rsgroup_config", "batch", {"k": "v", "x": "1"})
    assert cfg == {"k": "v", "x": "1"}
    cfg = shell(catalog, "alter_rsgroup_config", "batch", {"x": ""})  # unset
    assert shell(catalog, "show_rsgroup_config", "batch") == {"k": "v"}
    shell(catalog, "rename_rsgroup", "batch", "nightly")
    assert shell(catalog, "get_namespace_rsgroup", "etl") == "nightly"
    assert shell(catalog, "show_rsgroup_config", "nightly") == {"k": "v"}
    with pytest.raises(ValueError):
        shell(catalog, "rename_rsgroup", "missing", "z")
    catalog.create_table("rg_t", ["f"])
    shell(
        catalog, "move_servers_tables_rsgroup", ["s1:16020"], ["rg_t"], "nightly"
    )
    g = catalog.get_rsgroup("nightly")
    assert "rg_t" in g["tables"] and "s1:16020" in g["servers"]


def test_batch_table_ops_and_drop(catalog):
    from hbase_spark.shell import shell

    for n in ("ba_one", "ba_two", "other"):
        catalog.create_table(n, ["f"])
    assert sorted(shell(catalog, "disable_all", "^ba_")) == ["ba_one", "ba_two"]
    assert not catalog.is_table_enabled("ba_one")
    assert catalog.is_table_enabled("other")
    assert shell(catalog, "enable_all", "^ba_one$") == ["ba_one"]
    with pytest.raises(ValueError):  # enabled tables block drop_all
        shell(catalog, "drop_all", "^ba_")
    with pytest.raises(ValueError):  # drop requires disabled
        shell(catalog, "drop", "ba_one")
    catalog.disable_table("ba_one")
    shell(catalog, "drop", "ba_one")
    assert shell(catalog, "drop_all", "^ba_") == ["ba_two"]
    assert "ba_one" not in catalog.list_tables()
    assert "ba_two" not in catalog.list_tables()


def test_alter_namespace_and_table_snapshots_listing(catalog):
    from hbase_spark.shell import shell

    catalog.create_namespace("cfg")
    desc = shell(catalog, "alter_namespace", "cfg", {"quota": "5", "tmp": "x"})
    assert desc["config"] == {"quota": "5", "tmp": "x"}
    desc = shell(catalog, "alter_namespace", "cfg", {"tmp": ""})  # unset
    assert catalog.describe_namespace("cfg")["config"] == {"quota": "5"}
    with pytest.raises(ValueError):
        shell(catalog, "alter_namespace", "default", {"a": "b"})

    catalog.create_table("snapt", ["f"])
    t = shell_put(catalog.table("snapt"), "r", "f:q", "v", ts=1, seq=1)
    catalog.flush("snapt", t)
    catalog.snapshot("s_one", "snapt")
    catalog.snapshot("s_two", "snapt")
    catalog.create_table("snapu", ["f"])
    t2 = shell_put(catalog.table("snapu"), "r", "f:q", "v", ts=1, seq=1)
    catalog.flush("snapu", t2)
    catalog.snapshot("u_one", "snapu")
    assert sorted(shell(catalog, "list_table_snapshots", "snapt")) == [
        "s_one", "s_two",
    ]
    assert shell(catalog, "list_table_snapshots", "snapt", "two$") == ["s_two"]


def test_misc_introspection_regioninfo_walroll_capabilities(catalog, tmp_path):
    from hbase_spark.shell import shell

    caps = shell(catalog, "list_security_capabilities")
    assert "CELL_VISIBILITY" in caps and "AUTHORIZATION" in caps

    catalog.create_table("ri", ["f"])
    t = catalog.table("ri")
    for i in range(10):
        t = shell_put(t, f"r{i:02d}", "f:q", str(i), ts=1, seq=i)
    catalog.flush("ri", t, num_regions=2)
    info = shell(catalog, "regioninfo", "ri", "r05")
    assert info["start_key"] <= "r05" <= info["end_key"]
    assert info["data_bytes"] > 0

    import pyarrow as pa
    import pyarrow.parquet as pq

    for d in ("wala", "walb"):
        (tmp_path / d).mkdir()
        pq.write_table(
            pa.table({"x": [1]}), str(tmp_path / d / "seg1.parquet")
        )
    rolled = shell(
        catalog, "wal_roll_all", [str(tmp_path / "wala"), str(tmp_path / "walb")]
    )
    assert all(v["sealed"] == 1 for v in rolled.values())

    assert shell(catalog, "cleaner_chore_enabled")
    shell(catalog, "cleaner_chore_switch", False)
    with pytest.raises(RuntimeError):
        shell(catalog, "cleaner_chore_run")
    shell(catalog, "cleaner_chore_switch", True)
    assert isinstance(shell(catalog, "cleaner_chore_run", dry_run=True), dict)


def test_set_visibility_stamps_matching_cells(catalog):
    from hbase_spark.functions.visibility import visible
    from hbase_spark.shell import shell_set_visibility

    catalog.create_table("visx", ["f", "g"])
    t = catalog.table("visx")
    t = shell_put(t, "r1", "f:q", "a", ts=1, seq=1)
    t = shell_put(t, "r2", "f:q", "b", ts=1, seq=2)
    t = shell_put(t, "r2", "g:q", "c", ts=1, seq=3)
    t2 = shell_set_visibility(t, "secret & ops", family="f", row_prefix="r2")
    lbl = {
        (r.row, r.family): r.labels
        for r in t2.cells.select("row", "family", "labels").collect()
    }
    assert lbl[("r2", "f")] == "secret & ops"
    assert lbl[("r1", "f")] is None and lbl[("r2", "g")] is None
    # only readers holding BOTH labels see the stamped cell
    seen = visible(t2.cells, {"secret", "ops"}, cache=False)
    assert seen.count() == t2.cells.count()
    blocked = visible(t2.cells, {"ops"}, cache=False)
    rows = {(r.row, r.family) for r in blocked.select("row", "family").collect()}
    assert ("r2", "f") not in rows and len(rows) == 2
    with pytest.raises(ValueError):  # bad expression rejected up front
        shell_set_visibility(t, "a & ( b")
