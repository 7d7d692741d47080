"""Space/throttle quota surface + enforcement.

Reference semantics: quotas/SpaceViolationPolicy.java,
quotas/ThrottleType.java, FixedIntervalRateLimiter.java,
AverageIntervalRateLimiter.java, RegionServerSpaceQuotaManager.java.
"""

import shutil
import tempfile

import pytest

from hbase_spark.admin import Admin, TableNotEnabledError
from hbase_spark.quotas import (
    RateLimiter,
    RpcThrottlingException,
    SpaceLimitingException,
)
from hbase_spark.shell import shell, shell_put


@pytest.fixture()
def catalog(spark):
    d = tempfile.mkdtemp(prefix="hb_quota_")
    yield Admin(spark, d)
    shutil.rmtree(d, ignore_errors=True)


def _seed(catalog, name="qt", rows=20):
    catalog.create_table(name, ["f"])
    t = catalog.table(name)
    for i in range(rows):
        t = shell_put(t, f"r{i:03d}", "f:a", "x" * 50, ts=10, seq=i)
    catalog.flush(name, t, num_regions=2)
    return name


# --------------------------------------------------------- space quotas


def test_space_quota_no_writes_blocks_flush(catalog):
    name = _seed(catalog)
    used = catalog.space_usage(name)
    assert used > 0
    catalog.set_space_quota(table=name, limit=used // 2, policy="NO_WRITES")
    t = shell_put(catalog.table(name), "rX", "f:a", "y", ts=20, seq=99)
    with pytest.raises(SpaceLimitingException):
        catalog.flush(name, t)
    # compactions are still allowed under NO_WRITES
    catalog.major_compact(name)


def test_space_quota_no_writes_compactions_blocks_compact(catalog):
    name = _seed(catalog)
    catalog.set_space_quota(
        table=name, limit=1, policy="NO_WRITES_COMPACTIONS"
    )
    with pytest.raises(SpaceLimitingException):
        catalog.major_compact(name)


def test_space_quota_no_inserts_allows_delete_batches(catalog):
    name = _seed(catalog)
    catalog.set_space_quota(table=name, limit=1, policy="NO_INSERTS")
    t = catalog.table(name)
    with pytest.raises(SpaceLimitingException):
        catalog.flush(name, t, action="write")
    catalog.flush(name, t, action="delete")  # deletes-only batch passes


def test_space_quota_disable_policy_disables_table(catalog):
    name = _seed(catalog)
    catalog.set_space_quota(table=name, limit=1, policy="DISABLE")
    report = catalog.enforce_quotas()
    assert report[name]["in_violation"] and report[name].get("disabled")
    with pytest.raises(TableNotEnabledError):
        catalog.table(name)


def test_space_quota_under_limit_passes_and_remove(catalog):
    name = _seed(catalog)
    catalog.set_space_quota(table=name, limit=10**9, policy="NO_WRITES")
    t = shell_put(catalog.table(name), "rY", "f:a", "z", ts=20, seq=100)
    catalog.flush(name, t)  # under the limit: fine
    catalog.set_space_quota(table=name, remove=True)
    assert catalog.get_space_quota_snapshot(name)["limit"] is None


def test_namespace_quota_applies_and_table_overrides(catalog):
    catalog.create_namespace("nsq")
    name = _seed(catalog, "nsq:t")
    catalog.set_space_quota(namespace="nsq", limit=1, policy="NO_WRITES")
    with pytest.raises(SpaceLimitingException):
        catalog.flush(name, catalog.table(name))
    # a table-level quota overrides the namespace quota
    catalog.set_space_quota(table=name, limit=10**9, policy="NO_WRITES")
    catalog.flush(name, catalog.table(name))


def test_snapshot_report(catalog):
    name = _seed(catalog)
    catalog.set_space_quota(table=name, limit=5, policy="NO_INSERTS")
    snap = catalog.get_space_quota_snapshot(name)
    assert snap["in_violation"] and snap["usage"] > 5
    assert snap["policy"] == "NO_INSERTS"


# ------------------------------------------------------------ throttles


def test_fixed_interval_limiter_refills_at_boundary():
    rl = RateLimiter(10, 1000, refill="fixed")
    rl.consume(10, now_ms=0)
    with pytest.raises(RpcThrottlingException) as e:
        rl.consume(1, now_ms=500)
    assert 0 < e.value.wait_ms <= 1000
    rl.consume(10, now_ms=1000)  # full refill at the boundary


def test_average_interval_limiter_accrues_pro_rata():
    rl = RateLimiter(10, 1000, refill="average")
    rl.consume(10, now_ms=0)
    with pytest.raises(RpcThrottlingException):
        rl.consume(10, now_ms=100)
    rl.consume(1, now_ms=200)  # 2 tokens accrued over 200ms
    assert rl.avail == 1


def test_throttle_lookup_precedence(catalog):
    catalog.set_throttle_quota(table="t", limit=100)
    catalog.set_throttle_quota(user="u", limit=50)
    catalog.set_throttle_quota(user="u", table="t", limit=5)
    assert catalog.throttle_limiter(user="u", table="t").limit == 5
    assert catalog.throttle_limiter(user="u").limit == 50
    assert catalog.throttle_limiter(table="t").limit == 100
    assert catalog.throttle_limiter(user="nobody") is None
    catalog.set_throttle_quota(user="u", table="t", remove=True, limit="NONE")
    assert catalog.throttle_limiter(user="u", table="t").limit == 50


# ------------------------------------------------------- shell surface


def test_shell_set_and_list_quota(catalog):
    name = _seed(catalog)
    shell(catalog, "set_quota", TYPE="SPACE", TABLE=name, LIMIT=123,
          POLICY="NO_INSERTS")
    shell(catalog, "set_quota", TYPE="THROTTLE", USER="bob",
          THROTTLE_TYPE="WRITE_NUMBER", LIMIT=7)
    q = shell(catalog, "list_quotas")
    assert q["space"][name] == {"limit": 123, "policy": "NO_INSERTS"}
    assert q["throttle"]["u=bob"]["limit"] == 7
    snaps = shell(catalog, "list_quota_snapshots")
    assert snaps[name]["in_violation"]
    shell(catalog, "set_quota", TYPE="SPACE", TABLE=name, LIMIT="NONE")
    assert name not in shell(catalog, "list_quotas")["space"]
    with pytest.raises(ValueError):
        shell(catalog, "set_quota", TYPE="SPACE", TABLE=name, LIMIT=1,
              POLICY="NO_WRITES", BOGUS=1)


def test_shell_status_processlist_version_whoami(catalog):
    name = _seed(catalog)
    st = shell(catalog, "status")
    assert st["servers"] == 1 and st["tables"] == 1 and st["regions"] >= 1
    det = shell(catalog, "status", "detailed")
    assert det["per_table_regions"][name] >= 1
    catalog.add_peer("p1", "/tmp/nowhere")
    rep = shell(catalog, "status", "replication")
    assert "p1" in rep["peers"]
    assert isinstance(shell(catalog, "processlist"), list)
    assert "Spark" in shell(catalog, "version")
    catalog.grant("default", "RW")
    who = shell(catalog, "whoami", "default")
    assert who["user"] == "default" and who["permissions"] == "RW"


def test_buffered_mutator_respects_write_throttle(spark, catalog):
    """WRITE_NUMBER throttle applied as client-side pushback in
    BufferedMutator (the RpcThrottlingException retry loop analog)."""
    from hbase_spark.table import BufferedMutator

    name = _seed(catalog, "tht", rows=2)
    catalog.set_throttle_quota(
        user="w", table=name, throttle_type="WRITE_NUMBER", limit=3
    )
    clock = {"ms": 0}
    bm = BufferedMutator(
        catalog.table(name),
        limiter=catalog.throttle_limiter(user="w", table=name),
        clock=lambda: clock["ms"],
    )
    for i in range(3):
        bm.mutate_put(f"n{i}", "f", "a", "v", ts=20, seq=200 + i)
    with pytest.raises(RpcThrottlingException) as e:
        bm.mutate_put("n3", "f", "a", "v", ts=20, seq=203)
    clock["ms"] += e.value.wait_ms  # wait what the exception asked
    bm.mutate_put("n3", "f", "a", "v", ts=20, seq=203)
    t = bm.flush()
    assert t.get("n3").count() == 1


def test_rpc_throttle_switch_bypasses_all_limiters(catalog):
    """enable/disable_rpc_throttle (Admin.switchRpcThrottle): while the
    switch is off every throttle_limiter lookup resolves to None — the
    reference's quota-manager bypass — and re-enabling restores
    enforcement."""
    from hbase_spark.shell import shell

    catalog.set_throttle_quota(user="u", table="t", limit=5)
    assert shell(catalog, "rpc_throttle_enabled")
    assert catalog.throttle_limiter(user="u", table="t").limit == 5
    prev = shell(catalog, "disable_rpc_throttle")
    assert prev is True and not shell(catalog, "rpc_throttle_enabled")
    assert catalog.throttle_limiter(user="u", table="t") is None
    shell(catalog, "enable_rpc_throttle")
    assert catalog.throttle_limiter(user="u", table="t").limit == 5
