"""Virtual topology layer: server registry, assignments, named queues,
store-file tracking, exceed-throttle, dynamic config.

Reference surfaces: master/ServerManager.java + DeadServer.java +
DrainingServerTracker.java (server states), master/assignment/
AssignmentManager.java (assignments + RIT), namequeues/
NamedQueueRecorder.java (slow/large log rings), regionserver/
storefiletracker/FileBasedStoreFileTracker.java (FILE manifests),
quotas/ExceedOperationQuota.java (machine-quota borrowing), and the
shell commands in hbase-shell/src/main/ruby/shell/commands/.
"""

import json
import shutil
import tempfile

import pytest

from hbase_spark.admin import Admin
from hbase_spark.quotas import RpcThrottlingException
from hbase_spark.shell import shell, shell_count, shell_put, shell_table_help
from hbase_spark.topology import MasterNotRunningError

SERVERS = ["rs1.example.com,16020,1", "rs2.example.com,16020,1",
           "rs3.example.com,16020,1"]


@pytest.fixture()
def catalog(spark):
    d = tempfile.mkdtemp(prefix="hb_topo_")
    admin = Admin(spark, d)
    admin.register_regionservers(SERVERS)
    yield admin
    shutil.rmtree(d, ignore_errors=True)


def _seed(catalog, name="t", rows=8, regions=4):
    catalog.create_table(name, ["f"])
    t = catalog.table(name)
    for i in range(rows):
        t = shell_put(t, f"r{i:02d}", "f:q", f"v{i}", ts=10, seq=i)
    catalog.flush(name, t, num_regions=regions)


# -- server registry ---------------------------------------------------------


def test_server_lifecycle_lists(catalog):
    assert catalog.list_liveservers() == sorted(SERVERS)
    assert catalog.list_deadservers() == []
    catalog.decommission_regionservers([SERVERS[0]])
    assert catalog.list_decommissioned_regionservers() == [SERVERS[0]]
    assert SERVERS[0] not in catalog.list_liveservers()
    catalog.recommission_regionserver(SERVERS[0])
    assert SERVERS[0] in catalog.list_liveservers()


def test_bad_server_name_rejected(catalog):
    with pytest.raises(ValueError, match="bad server name"):
        catalog.register_regionservers(["not a server name"])


def test_stop_regionserver_crash_procedure_and_clear_deadservers(catalog):
    _seed(catalog)
    catalog.stop_regionserver(SERVERS[1])
    assert catalog.list_deadservers() == [SERVERS[1]]
    # the crash was journaled like ServerCrashProcedure
    assert any(
        p["type"] == "SERVER_CRASH" and p["state"] == "SUCCESS"
        for p in catalog.list_procedures()
    )
    # no region is served by the dead server anymore
    assert SERVERS[1] not in set(catalog.assignments("t").values())
    # clear_deadservers returns the NOT-cleared names (ruby contract)
    assert shell(catalog, "clear_deadservers", SERVERS[1]) == []
    assert shell(catalog, "clear_deadservers", "rs9.example.com,1,1") == [
        "rs9.example.com,1,1"
    ]
    assert catalog.list_deadservers() == []


def test_unknownservers_surfaces_dangling_references(catalog):
    _seed(catalog)
    region = catalog._region_inventory("t")[0]
    catalog.move(region, SERVERS[2])
    catalog.stop_regionserver(SERVERS[2])
    catalog.clear_deadservers([SERVERS[2]])
    # rsgroup membership may also dangle; assignments were reassigned
    # on crash, so fabricate one via rsgroups
    catalog.add_rsgroup("g1")
    catalog.move_servers_rsgroup(["ghost.example.com,16020,9"], "g1")
    assert "ghost.example.com,16020,9" in catalog.list_unknownservers()


# -- assignments / move / unassign / rit -------------------------------------


def test_assignments_deterministic_and_rsgroup_confined(catalog):
    _seed(catalog)
    a1 = catalog.assignments("t")
    a2 = catalog.assignments("t")
    assert a1 == a2 and len(a1) == 4
    assert set(a1.values()) <= set(SERVERS)
    # pin the table to an rsgroup with one server: placement confines
    catalog.add_rsgroup("gold")
    catalog.move_servers_rsgroup([SERVERS[0]], "gold")
    catalog.move_tables_rsgroup(["t"], "gold")
    assert set(catalog.assignments("t").values()) == {SERVERS[0]}


def test_move_assign_unassign_rit_roundtrip(catalog):
    _seed(catalog)
    region = catalog._region_inventory("t")[0]
    dest = catalog.move(region, SERVERS[2])
    assert dest == SERVERS[2]
    assert catalog.server_of_region("t", region) == SERVERS[2]
    assert any(p["type"] == "MOVE_REGION" for p in catalog.list_procedures())
    catalog.unassign(region)
    assert catalog.server_of_region("t", region) is None
    rit = catalog.rit()
    assert [e["region"] for e in rit] == [region]
    assert rit[0]["state"] == "CLOSED"
    # hbck must surface the closed region via rit view; assign clears
    assert catalog.assign(region) in SERVERS
    assert catalog.rit() == []


def test_move_fires_region_lifecycle_observers(catalog):
    from hbase_spark.plans.observers import Observer

    _seed(catalog)
    events = []
    ob = Observer(
        pre_close=lambda r: events.append(("pre_close", r)),
        post_close=lambda r: events.append(("post_close", r)),
        pre_open=lambda r: events.append(("pre_open", r)),
        post_open=lambda r: events.append(("post_open", r)),
    )
    region = catalog._region_inventory("t")[0]
    catalog.move(region, SERVERS[1], observers=[ob])
    assert [e[0] for e in events] == [
        "pre_close", "post_close", "pre_open", "post_open"
    ]
    assert all(e[1] == region for e in events)


def test_move_rejects_dead_target(catalog):
    _seed(catalog)
    catalog.stop_regionserver(SERVERS[0])
    region = catalog._region_inventory("t")[0]
    with pytest.raises(ValueError, match="not live"):
        catalog.move(region, SERVERS[0])


def test_decommission_offload_evacuates(catalog):
    _seed(catalog, rows=12, regions=6)
    victim = next(iter(set(catalog.assignments("t").values())))
    # without offload the draining server KEEPS its current regions
    # (the marker only blocks NEW assignment — DrainingServerTracker)
    catalog.decommission_regionservers([victim])
    assert victim in set(catalog.assignments("t").values())
    catalog.recommission_regionserver(victim)
    catalog.decommission_regionservers([victim], offload=True)
    assert victim not in set(catalog.assignments("t").values())
    # and NEW placement avoids it: a fresh table derives elsewhere
    _seed(catalog, name="t2", rows=4, regions=2)
    assert victim not in set(catalog.assignments("t2").values())


def test_master_stop_gates_master_loop_ops(catalog):
    _seed(catalog)
    catalog.stop_master()
    with pytest.raises(MasterNotRunningError):
        catalog.balance()
    with pytest.raises(MasterNotRunningError):
        catalog.move(catalog._region_inventory("t")[0])
    catalog.start_master()
    assert catalog.balance(dry_run=True) is not None


def test_maintenance_mode_skips_balancer_and_normalizer(catalog):
    _seed(catalog)
    assert not catalog.is_in_maintenance_mode()
    catalog.set_maintenance_mode(True)
    assert catalog.is_in_maintenance_mode()
    assert catalog.balance() == {}
    assert catalog.normalize("t") == []
    catalog.set_maintenance_mode(False)


# -- named queues: slowlog / largelog / trace --------------------------------


def test_slowlog_filters_and_limits(catalog):
    _seed(catalog)
    for i in range(15):
        catalog.record_rpc(
            "Scan", table="t", duration_ms=10.0 * i, response_size=100 - i,
            user="alice" if i % 2 else "bob", client_ip="10.0.0.1",
        )
    # default LIMIT 10, newest first (ruby contract)
    recs = catalog.get_slowlog_responses("*")
    assert len(recs) == 10
    assert recs[0]["duration_ms"] > recs[-1]["duration_ms"]
    # OR filter semantics by default
    recs = catalog.get_slowlog_responses(
        "*", {"USER": "alice", "TABLE_NAME": "nope", "LIMIT": 50}
    )
    assert len(recs) == 7
    # AND requires all
    recs = catalog.get_slowlog_responses(
        "*", {"USER": "alice", "TABLE_NAME": "nope",
              "FILTER_BY_OPERATOR": "AND"}
    )
    assert recs == []
    # largelog orders by response size
    large = catalog.get_largelog_responses("*", {"LIMIT": 3})
    sizes = [r["response_size"] for r in large]
    assert sizes == sorted(sizes, reverse=True)
    assert catalog.clear_slowlog_responses() >= 1
    assert catalog.get_slowlog_responses("*") == []


def test_slow_op_times_real_work_and_ring_is_bounded(catalog):
    _seed(catalog)
    t = catalog.table("t")
    n = catalog.slow_op("Count", "t", lambda: shell_count(t))
    assert n == 8
    rec = catalog.get_slowlog_responses("*")[0]
    assert rec["op"] == "Count" and rec["duration_ms"] > 0
    assert rec["response_size"] == 8
    # bounded ring: never grows past capacity
    for i in range(600):
        catalog.record_rpc("Get", table="t")
    assert len(catalog._slowlog_ring) == 256


def test_trace_contract_and_span_events(catalog):
    assert catalog.trace("status") is False
    assert catalog.trace("start", "MySpan") is True
    assert catalog.trace("start") is True  # no nesting
    catalog.record_rpc("Get", table=None, duration_ms=1.0)
    assert catalog.trace("stop") is False
    assert catalog.trace("status") is False
    assert catalog._trace_spans[-1]["name"] == "MySpan"
    assert catalog._trace_spans[-1]["events"][0]["op"] == "Get"


def test_flush_master_store_persists_named_queues(catalog):
    catalog.record_rpc("Scan", table=None, duration_ms=5.0)
    counts = catalog.flush_master_store()
    assert counts["slowlog"] == 1
    store = catalog._read_json(catalog._master_store_path(), "store")
    assert store["slowlog"][-1]["op"] == "Scan"


# -- cache / compaction-queue / config knobs ----------------------------------


def test_clear_block_cache_and_refresh_hfiles(catalog):
    _seed(catalog)
    stats = catalog.clear_block_cache("t")
    assert stats["evicted_files"] > 0
    assert catalog.refresh_hfiles("t") == stats["evicted_files"]
    meta = catalog.refresh_meta()
    assert meta["t"] == 4


def test_compaction_queues_and_compact_rs(catalog):
    _seed(catalog)
    n = catalog.request_compaction("t", major=True)
    assert n == 4
    server = catalog._read_cqueue()[0]["server"]
    assert catalog.clear_compaction_queues(server, "long") > 0
    # re-enqueue minor and drain
    catalog.request_compaction("t")
    assert catalog.run_compaction_queues() == ["t"]
    assert catalog._read_cqueue() == []
    # compact_rs compacts the tables hosted on that server
    hosted = catalog.compact_regionserver(SERVERS[0], True)
    assert set(hosted) <= {"t"}
    assert shell_count(catalog.table("t")) == 8


def test_update_config_applies_dynamic_keys(catalog):
    with open(f"{catalog.catalog_dir}/config.json", "w") as fh:
        json.dump({
            "hbase.regionserver.slowlog.ringbuffer.size": 4,
            "hbase.regionserver.slowlog.systable.enabled": True,
            "custom.key": "v",
        }, fh)
    applied = catalog.update_config()
    assert applied["hbase.regionserver.slowlog.ringbuffer.size"] == 4
    for i in range(9):
        catalog.record_rpc("Get", table=None)
    assert len(catalog._slowlog_ring) == 4
    # systable sink persisted every record despite the small ring
    store = catalog._read_json(catalog._master_store_path(), "store")
    assert len(store["slowlog_systable"]) == 9
    per_server = catalog.update_all_config()
    assert set(per_server) == {"master", *SERVERS}


# -- store-file tracker -------------------------------------------------------


def test_change_sft_requires_disabled_and_reads_match(catalog, spark):
    _seed(catalog, "sft_t", rows=10, regions=3)
    before = {
        (r.row, r.value)
        for r in catalog.table("sft_t").cells.select("row", "value").collect()
    }
    with pytest.raises(ValueError, match="disabled"):
        catalog.change_sft("sft_t", "FILE")
    catalog.disable_table("sft_t")
    catalog.change_sft("sft_t", "FILE")
    catalog.enable_table("sft_t")
    assert catalog._read_desc("sft_t")["sft"] == "FILE"
    after = {
        (r.row, r.value)
        for r in catalog.table("sft_t").cells.select("row", "value").collect()
    }
    assert after == before
    # manifest exists and lists real files
    manifest = catalog._read_json(
        catalog._sft_manifest_path("sft_t"), "manifest"
    )
    assert manifest["files"] and all(
        f.endswith(".parquet") for f in manifest["files"]
    )


def test_sft_manifest_follows_flush_and_self_heals(catalog):
    _seed(catalog, "sft_f", rows=6, regions=2)
    catalog.disable_table("sft_f")
    catalog.change_sft("sft_f", "FILE")  # table form
    catalog.enable_table("sft_f")
    t = catalog.table("sft_f")
    t = shell_put(t, "zz", "f:q", "new", ts=99, seq=99)
    catalog.flush("sft_f", t, num_regions=2)
    manifest = catalog._read_json(
        catalog._sft_manifest_path("sft_f"), "manifest"
    )
    assert manifest["version"] == catalog._read_desc("sft_f")["version"]
    assert shell_count(catalog.table("sft_f")) == 7
    # stale manifest (simulate out-of-band version bump) self-heals
    catalog._write_json(
        catalog._sft_manifest_path("sft_f"),
        {"version": -1, "data_dir": "x", "files": []},
    )
    assert shell_count(catalog.table("sft_f")) == 7
    healed = catalog._read_json(
        catalog._sft_manifest_path("sft_f"), "manifest"
    )
    assert healed["version"] >= 0


def test_change_sft_family_form_and_change_sft_all(catalog):
    catalog.create_table("sft_g", ["a", "b"])
    catalog.disable_table("sft_g")
    catalog.change_sft("sft_g", "a", "FILE")
    desc = catalog._read_desc("sft_g")
    assert desc["sft_families"] == {"a": "FILE"}
    assert desc.get("sft") is None  # engages once every family opts in
    catalog.change_sft("sft_g", "b", "FILE")
    assert catalog._read_desc("sft_g")["sft"] == "FILE"
    # change_sft_all hits only disabled tables matching the pattern
    catalog.create_table("sft_h", ["f"])
    assert catalog.change_sft_all("DEFAULT", "sft_.*") == ["sft_g"]
    assert catalog._read_desc("sft_g").get("sft") is None


def test_sft_on_empty_table_reads_empty(catalog):
    """A FILE-tracker table with an empty manifest must read as empty
    (falling back to directory listing would resurrect out-of-band
    files the tracker exists to hide)."""
    catalog.create_table("sft_e", ["f"])
    catalog.disable_table("sft_e")
    catalog.change_sft("sft_e", "FILE")
    catalog.enable_table("sft_e")
    assert shell_count(catalog.table("sft_e")) == 0


def test_sft_manifest_commits_with_geometry(catalog):
    """Round-9 verdict task 6: split / merge / truncate on a
    FILE-tracked table commit the store-file manifest atomically with
    the catalog flip (like flush), so the read path opens exactly the
    manifest's files and never needs the self-heal re-list after the
    table's OWN region transitions."""
    import types

    _seed(catalog, "sft_geo", rows=12, regions=2)
    catalog.disable_table("sft_geo")
    catalog.change_sft("sft_geo", "FILE")
    catalog.enable_table("sft_geo")
    before = sorted(
        (r.row, r.value)
        for r in catalog.table("sft_geo").cells
        .select("row", "value").collect()
    )

    calls = {"n": 0}
    orig = catalog._list_layout_files

    def spy(self, desc, name):
        calls["n"] += 1
        return orig(desc, name)

    catalog._list_layout_files = types.MethodType(spy, catalog)

    # split: exactly ONE re-list (the geometry op committing its
    # manifest), and the post-split scan re-lists nothing
    catalog.split_region("sft_geo", "r06")
    assert calls["n"] == 1
    desc = catalog._read_desc("sft_geo")
    manifest = catalog._read_json(
        catalog._sft_manifest_path("sft_geo"), "manifest"
    )
    assert manifest["version"] == desc["version"]
    assert manifest["data_dir"] == desc["data_dir"]
    after_split = sorted(
        (r.row, r.value)
        for r in catalog.table("sft_geo").cells
        .select("row", "value").collect()
    )
    assert after_split == before
    assert calls["n"] == 1  # manifest-exact read, no heal

    # merge the daughters back: same discipline
    catalog.merge_region("sft_geo", "r00", "r11")
    assert calls["n"] == 2
    after_merge = sorted(
        (r.row, r.value)
        for r in catalog.table("sft_geo").cells
        .select("row", "value").collect()
    )
    assert after_merge == before
    assert calls["n"] == 2

    # truncate: the repoint step commits the truncated manifest (the
    # fresh layout's single empty part file); the read honors it
    # without a self-heal re-list and sees zero rows
    catalog.truncate_table("sft_geo")
    assert calls["n"] == 3
    desc = catalog._read_desc("sft_geo")
    manifest = catalog._read_json(
        catalog._sft_manifest_path("sft_geo"), "manifest"
    )
    assert manifest["version"] == desc["version"]
    assert manifest["data_dir"] == desc["data_dir"]
    assert shell_count(catalog.table("sft_geo")) == 0
    assert calls["n"] == 3


# -- exceed throttle quota ----------------------------------------------------


def test_exceed_throttle_quota_borrows_from_rs_bucket(catalog):
    catalog.set_throttle_quota(user="u1", throttle_type="REQUEST_NUMBER",
                               limit=2)
    with pytest.raises(ValueError, match="region server quota"):
        catalog.enable_exceed_throttle_quota()
    catalog.set_throttle_quota(regionserver=True,
                               throttle_type="REQUEST_NUMBER", limit=10)
    assert catalog.enable_exceed_throttle_quota() is False  # previous
    gate = catalog.throttle_limiter(user="u1")
    # 2 within the user quota, then 3 more borrowing from the RS bucket
    for _ in range(5):
        gate.consume(1, now_ms=0)
    # RS bucket: 10 - 5 consumed (always drawn) = 5 left; user bucket 0
    for _ in range(5):
        gate.consume(1, now_ms=0)
    with pytest.raises(RpcThrottlingException):
        gate.consume(1, now_ms=0)
    assert catalog.disable_exceed_throttle_quota() is True
    # with the switch off, the plain user limiter is back
    plain = catalog.throttle_limiter(user="u1")
    plain.consume(2, now_ms=0)
    with pytest.raises(RpcThrottlingException):
        plain.consume(1, now_ms=0)


def test_rs_quota_must_be_seconds_unit(catalog):
    catalog.set_throttle_quota(regionserver=True,
                               throttle_type="REQUEST_NUMBER", limit=10,
                               interval_ms=60_000)
    with pytest.raises(ValueError, match="seconds"):
        catalog.enable_exceed_throttle_quota()


# -- async alter / help -------------------------------------------------------


def test_alter_async_and_status(catalog):
    from hbase_spark.table import FamilyDescriptor

    _seed(catalog, "aa", rows=4, regions=2)
    pid = catalog.alter_async("aa", "g", FamilyDescriptor())
    assert pid > 0
    st = shell(catalog, "alter_status", "aa")
    assert st["regions_updated"] == st["regions_total"] == 2
    assert st["state"] == "SUCCESS"
    assert "g" in catalog._read_desc("aa")["families"]


def test_table_help_mentions_the_data_commands(catalog):
    text = shell_table_help()
    for cmd in ("shell_put", "shell_scan", "shell_count", "get_table"):
        assert cmd in text
