"""Shell-flavored convenience surface (hbase-shell parity,
hbase-shell/src/main/ruby/shell/commands/ — HBase shell keyword
arguments re-expressed as Python kwargs).

Data commands take the table first and keep their own defs: the JRuby
shell's ``scan 't', STARTROW => 'a', FILTER => "..."`` becomes
``shell_scan(table, STARTROW='a', FILTER="...")``.  Filters are
ParseFilter strings (the same language the shell accepts); COLUMNS
use the shell's 'family:qualifier' form.

Admin commands take the admin first and run through one dispatcher:
``list`` becomes ``shell(admin, "list")``.  ``SHELL`` maps each
command name to the ``Admin`` method it runs (plus any leading
arguments the command binds, e.g. the switch kind), or to the def
below for the commands that hold logic of their own.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hbase_spark.operators.scan import Scan
from hbase_spark.table import Table


def _columns(cols: list[str] | None):
    """'fam:qual' shell column specs -> (families, qualifiers)."""
    if not cols:
        return None, None
    fams, quals = set(), set()
    for c in cols:
        if ":" in c:
            f, q = c.split(":", 1)
            fams.add(f)
            quals.add(q)
        else:
            fams.add(c)
    return sorted(fams) or None, (sorted(quals) or None)


def _prefix_stop_row(prefix):
    """Smallest key sorting after every key with ``prefix`` — the
    reference's ClientUtil.calculateTheClosestNextRowKeyForPrefix:
    increment the rightmost non-max unit, truncate the rest; all-max
    prefixes scan to the end of the table (None)."""
    if isinstance(prefix, (bytes, bytearray)):
        b = bytearray(prefix)
        while b and b[-1] == 0xFF:
            b.pop()
        if not b:
            return None
        b[-1] += 1
        return bytes(b)
    s = str(prefix)
    while s and ord(s[-1]) >= 0x10FFFF:
        s = s[:-1]
    if not s:
        return None
    return s[:-1] + chr(ord(s[-1]) + 1)


def shell_scan(
    table: Table,
    *,
    STARTROW=None,
    STOPROW=None,
    COLUMNS: list[str] | None = None,
    FILTER: str | None = None,
    LIMIT: int | None = None,
    REVERSED: bool = False,
    VERSIONS: int = 1,
    TIMERANGE: tuple | None = None,
    RAW: bool = False,
    ROWPREFIXFILTER: str | None = None,
) -> DataFrame:
    """hbase-shell `scan` (shell/commands/scan.rb argument surface).
    ROWPREFIXFILTER is the shell's prefix shorthand — mutually
    exclusive with STARTROW/STOPROW, exactly like the shell enforces
    (table.rb _hash_to_scan).  Translated to computed start/stop rows
    (ClientUtil.calculateTheClosestNextRowKeyForPrefix), matching the
    reference shell — NOT spliced into the filter string, so prefixes
    containing quotes or parser metacharacters are safe, and the range
    prunes at the source instead of filtering post-scan."""
    if ROWPREFIXFILTER is not None:
        if STARTROW is not None or STOPROW is not None:
            raise ValueError(
                "ROWPREFIXFILTER cannot be combined with STARTROW/STOPROW"
            )
        STARTROW = ROWPREFIXFILTER
        STOPROW = _prefix_stop_row(ROWPREFIXFILTER)
    families, qualifiers = _columns(COLUMNS)
    return table.scan(
        Scan(
            start_row=STARTROW,
            stop_row=STOPROW,
            families=families,
            qualifiers=qualifiers,
            filter=FILTER,
            limit=LIMIT,
            reversed=REVERSED,
            versions=VERSIONS,
            time_range=TIMERANGE,
            raw=RAW,
        )
    )


def shell_get(
    table: Table,
    row,
    *,
    COLUMNS: list[str] | None = None,
    VERSIONS: int = 1,
    TIMERANGE: tuple | None = None,
    FILTER: str | None = None,
) -> DataFrame:
    """hbase-shell `get` (shell/commands/get.rb): COLUMN/VERSIONS/
    TIMERANGE/FILTER keyword surface — a Get IS a one-row Scan, so the
    options pass straight through."""
    out = table.get(
        row, versions=VERSIONS, time_range=TIMERANGE, filter=FILTER
    )
    families, qualifiers = _columns(COLUMNS)
    if families:
        out = out.filter(out.family.isin(families))
    if qualifiers:
        out = out.filter(out.qualifier.isin(qualifiers))
    return out


def shell_put(table: Table, row, column: str, value, *, ts: int, seq: int) -> Table:
    fam, qual = column.split(":", 1)
    return table.put([(row, fam, qual, value)], ts=ts, seq=seq)


def shell_delete(table: Table, row, column: str, *, ts: int, seq: int) -> Table:
    fam, qual = column.split(":", 1)
    return table.delete([(row, fam, qual)], ts=ts, seq=seq)


def shell_count(table: Table, *, FILTER: str | None = None) -> int:
    """shell `count` (hbase-shell table.rb:321 uses FirstKeyOnly+KeyOnly;
    here: distinct visible row keys, optionally under a ParseFilter
    string — `count 't', FILTER => "..."`)."""
    if FILTER is None:
        return table.count()
    return (
        table.scan(Scan(filter=FILTER)).select("row").distinct().count()
    )


def shell_incr(table: Table, row, column: str, value: int = 1, *, ts: int, seq: int) -> Table:
    """shell `incr` (shell/commands/incr.rb)."""
    fam, qual = column.split(":", 1)
    return table.increment([(row, fam, qual, value)], ts=ts, seq=seq)


def shell_get_counter(table: Table, row, column: str) -> int | None:
    """shell `get_counter` (shell/commands/get_counter.rb) — the
    current value of an increment-maintained column."""
    fam, qual = column.split(":", 1)
    hit = (
        table.get(row)
        .filter((F.col("family") == fam) & (F.col("qualifier") == qual))
        .select("value")
        .collect()
    )
    return int(hit[0].value) if hit else None


def shell_append(table: Table, row, column: str, value: str, *, ts: int, seq: int) -> Table:
    """shell `append` (shell/commands/append.rb)."""
    fam, qual = column.split(":", 1)
    return table.append([(row, fam, qual, value)], ts=ts, seq=seq)


def shell_deleteall(table: Table, row, *, ts: int, seq: int) -> Table:
    """shell `deleteall` (shell/commands/deleteall.rb): the whole row —
    one DELETE_FAMILY marker per family the row has (or per declared
    family when the table has descriptors)."""
    from hbase_spark.model import CellType

    if table.families:
        fams = sorted(table.families)
    else:
        fams = [
            r.family
            for r in table.cells.filter(F.col("row") == row)
            .select("family")
            .distinct()
            .collect()
        ]
    return table.delete(
        [(row, f, None) for f in fams], ts=ts, seq=seq, kind=CellType.DELETE_FAMILY
    )


def shell_set_visibility(
    table,
    expression: str,
    *,
    family: str | None = None,
    qualifier=None,
    row_prefix: str | None = None,
    label_col: str = "labels",
):
    """shell `set_visibility 't', 'expr', {...criteria}`
    (set_visibility.rb; VisibilityController's setCellVisibility write
    path): stamp the visibility expression onto every existing cell
    matching the criteria.  Returns a Table whose cell frame carries
    the (new or updated) label column — one codegen'd conditional
    projection, no shuffle.  The expression is validated with the
    shared parser before any plan is built."""
    from hbase_spark.functions.visibility import evaluate

    evaluate(expression, frozenset())  # syntax check (result unused)
    cells = table.cells
    match = F.lit(True)
    if family is not None:
        match = match & (F.col("family") == family)
    if qualifier is not None:
        match = match & (F.col("qualifier") == qualifier)
    if row_prefix is not None:
        match = match & F.col("row").startswith(row_prefix)
    existing = (
        F.col(label_col) if label_col in cells.columns
        else F.lit(None).cast("string")
    )
    out = cells.withColumn(
        label_col, F.when(match, F.lit(expression)).otherwise(existing)
    )
    return Table(out, table.families, table.now)


# -- commands that need no table or admin (show_filters.rb,
# table_help.rb) --------------------------------------------------------

# ParseFilter registry names (filter/ParseFilter.java:52-100) — the
# filters the string DSL can construct (show_filters prints this list)
SUPPORTED_FILTERS = [
    "ColumnCountGetFilter", "ColumnPaginationFilter", "ColumnPrefixFilter",
    "ColumnRangeFilter", "ColumnValueFilter", "DependentColumnFilter",
    "FamilyFilter", "FilterList", "FirstKeyOnlyFilter", "FuzzyRowFilter",
    "InclusiveStopFilter", "KeyOnlyFilter", "MultiRowRangeFilter",
    "MultipleColumnPrefixFilter", "PageFilter", "PrefixFilter",
    "QualifierFilter", "RandomRowFilter", "RowFilter",
    "SingleColumnValueExcludeFilter", "SingleColumnValueFilter",
    "SkipFilter", "TimestampsFilter", "ValueFilter", "WhileMatchFilter",
]


def shell_show_filters(admin=None) -> list[str]:
    """shell `show_filters` — the ParseFilter-constructible filters."""
    return list(SUPPORTED_FILTERS)


def shell_table_help() -> str:
    """shell `table_help` (table_help.rb)."""
    from hbase_spark.topology import table_help

    return table_help()


# -- admin commands with logic of their own: they reshape their
# arguments or combine several Admin calls.  Each is registered in
# SHELL below and reached through shell(admin, cmd, ...). ---------------


def _alter(admin, name: str, spec: dict) -> None:
    """shell `alter 't', NAME => 'f', VERSIONS => 3, TTL => ...` —
    spec keys: NAME (family, required), VERSIONS, MIN_VERSIONS, TTL
    (seconds, like the shell), NEW_VERSION_BEHAVIOR, KEEP_DELETED_CELLS,
    METHOD ('delete' to drop the family)."""
    from hbase_spark.table import FamilyDescriptor

    fam = spec["NAME"]
    if spec.get("METHOD") == "delete":
        admin.alter(name, fam, method="delete")
        return
    ttl_s = spec.get("TTL")
    admin.alter(
        name,
        fam,
        FamilyDescriptor(
            max_versions=spec.get("VERSIONS", 1),
            min_versions=spec.get("MIN_VERSIONS", 0),
            ttl_ms=ttl_s * 1000 if ttl_s is not None else None,
            new_version_behavior=spec.get("NEW_VERSION_BEHAVIOR", False),
            keep_deleted_cells=spec.get("KEEP_DELETED_CELLS", False),
        ),
    )


def _describe(admin, name: str) -> dict:
    """shell `describe` — family schema in shell keyword form."""
    desc = admin.describe(name)
    return {
        "ENABLED": desc["enabled"],
        "FAMILIES": {
            f: {
                "VERSIONS": k["max_versions"],
                "MIN_VERSIONS": k["min_versions"],
                "TTL": (k["ttl_ms"] // 1000) if k["ttl_ms"] else None,
                "NEW_VERSION_BEHAVIOR": k["new_version_behavior"],
                "KEEP_DELETED_CELLS": k["keep_deleted_cells"],
            }
            for f, k in desc["families"].items()
        },
    }


def _snapshot(admin, table_name: str, snapshot_name: str) -> None:
    """shell `snapshot 't', 'snap'` — the shell names the table first,
    Admin.snapshot the snapshot."""
    admin.snapshot(snapshot_name, table_name)


def _set_quota(admin, **kw) -> None:
    """shell `set_quota` (shell/commands/set_quota.rb; quota args in
    hbase-shell/src/main/ruby/hbase/quotas.rb).

    ``TYPE='SPACE'``: TABLE=/NAMESPACE=, LIMIT= (bytes, or the string
    'NONE' to remove), POLICY= one of SpaceViolationPolicy.
    ``TYPE='THROTTLE'``: USER=/TABLE=, THROTTLE_TYPE=, LIMIT= (per
    INTERVAL_MS, default 1000), or LIMIT='NONE' to remove."""
    qtype = kw.pop("TYPE", "THROTTLE")
    limit = kw.pop("LIMIT", None)
    remove = limit == "NONE"
    if qtype == "SPACE":
        admin.set_space_quota(
            table=kw.pop("TABLE", None),
            namespace=kw.pop("NAMESPACE", None),
            limit=None if remove else limit,
            policy=kw.pop("POLICY", "NO_WRITES"),
            remove=remove,
        )
    elif qtype == "THROTTLE":
        admin.set_throttle_quota(
            user=kw.pop("USER", None),
            table=kw.pop("TABLE", None),
            throttle_type=kw.pop("THROTTLE_TYPE", "REQUEST_NUMBER"),
            limit=None if remove else limit,
            interval_ms=kw.pop("INTERVAL_MS", 1000),
            refill=kw.pop("REFILL", "fixed"),
            remove=remove,
        )
    else:
        raise ValueError(f"unknown quota TYPE {qtype!r}")
    if kw:
        raise ValueError(f"unknown set_quota args {sorted(kw)}")


def _list_quota_snapshots(admin) -> dict:
    """shell `list_quota_snapshots` — per-table usage/limit/violation
    (QuotaObserverChore view)."""
    return {
        name: admin.get_space_quota_snapshot(name)
        for name in admin.list_tables()
        if admin._space_quota_for(name) is not None
    }


def _status(admin, fmt: str = "summary") -> dict:
    """shell `status` (shell/commands/status.rb).

    There is one "server" — the Spark application.  'summary' gives
    the rolled-up counts; 'detailed' adds the per-table region list;
    'replication' reports the peer map."""
    tables = admin.list_tables()
    regions = 0
    per_table: dict[str, int] = {}
    for t in tables:
        try:
            n = len(admin._cached_region_inventory(t))
        except Exception:  # noqa: BLE001 — table with no layout yet
            n = 0
        per_table[t] = n
        regions += n
    out = {
        "servers": 1,
        "dead_servers": 0,
        "tables": len(tables),
        "regions": regions,
        "snapshots": len(admin.list_snapshots()),
    }
    if fmt == "detailed":
        out["per_table_regions"] = per_table
    elif fmt == "replication":
        out["peers"] = admin.list_peers()
    return out


def _processlist(admin) -> list[dict]:
    """shell `processlist` — active work in the engine: running Spark
    job groups (statusTracker) plus active streaming queries."""
    sc = admin.spark.sparkContext
    tracker = sc.statusTracker()
    procs = [
        {"kind": "job", "id": jid,
         "status": (info.status if (info := tracker.getJobInfo(jid)) else
                    "UNKNOWN")}
        for jid in tracker.getActiveJobsIds()
    ]
    procs += [
        {"kind": "stream", "id": q.id, "status": "ACTIVE",
         "name": q.name}
        for q in admin.spark.streams.active
    ]
    return procs


def _version(admin) -> str:
    """shell `version` — engine + Spark version string."""
    return f"hbase_spark on Spark {admin.spark.version}"


def _whoami(admin, user: str = "default") -> dict:
    """shell `whoami` — the acting user with its auths and grants."""
    return {
        "user": user,
        "auths": admin.get_auths(user),
        "permissions": admin.user_permission().get(user, ""),
    }


def _create(admin, name: str, *families, SPLITS=None, **fam_kw) -> None:
    """shell `create 't', 'f1', {NAME=>'f2', VERSIONS=>3},
    SPLITS => ['b','m']` (shell/commands/create.rb).

    Positional families are names or {NAME=>..., VERSIONS=>...,
    TTL=>ms, MIN_VERSIONS=>..., KEEP_DELETED_CELLS=>...,
    NEW_VERSION_BEHAVIOR=>..., MOB_THRESHOLD=>...} dicts."""
    from hbase_spark.table import FamilyDescriptor

    fams = {}
    for f in families:
        if isinstance(f, str):
            fams[f] = FamilyDescriptor()
            continue
        spec = dict(f)
        fname = spec.pop("NAME")
        fams[fname] = FamilyDescriptor(
            max_versions=spec.pop("VERSIONS", 1),
            min_versions=spec.pop("MIN_VERSIONS", 0),
            ttl_ms=spec.pop("TTL", None),
            new_version_behavior=spec.pop("NEW_VERSION_BEHAVIOR", False),
            keep_deleted_cells=spec.pop("KEEP_DELETED_CELLS", False),
            mob_threshold=spec.pop("MOB_THRESHOLD", None),
        )
        if spec:
            raise ValueError(f"unknown family attributes {sorted(spec)}")
    if fam_kw:
        raise ValueError(f"unknown create args {sorted(fam_kw)}")
    admin.create_table(name, fams, splits=SPLITS)


def _truncate_preserve(admin, name: str) -> None:
    """shell `truncate_preserve` (truncate_preserve.rb): drop all data
    but keep the region boundaries.  Declared split points live in the
    descriptor, which truncate keeps — so the next flush re-creates
    the same region dirs."""
    if not admin._read_desc(name).get("split_points"):
        raise ValueError(
            f"table {name!r} has no declared split points to preserve "
            "(use truncate)"
        )
    admin.truncate_table(name)


def _flush(admin, name: str, table=None) -> None:
    """shell `flush 't'` — persist the table's current state (pass the
    mutated Table; without one this is a no-op rewrite of the current
    snapshot, the memstore-flush analog)."""
    admin.flush(name, table if table is not None else admin.table(name))


def _top(admin, n: int = 10) -> list[dict]:
    """hbtop region-mode analog (hbase-hbtop): the n hottest regions
    by cell count across all enabled tables, with key ranges — the
    skew-spotting view (a hot region here is a salting/split
    candidate)."""
    rows = []
    for name in admin.list_tables():
        try:
            if not admin.is_table_enabled(name):
                continue
            region_rows = admin.list_regions(name).collect()
        except Exception:  # noqa: BLE001 — empty layout etc.
            continue
        for r in region_rows:
            rows.append(
                {"table": name, "start_key": r.start_key,
                 "end_key": r.end_key, "cells": r.cell_count}
            )
    return sorted(rows, key=lambda x: -x["cells"])[:n]


def _splitormerge_switch(admin, kind: str, enabled: bool) -> bool:
    """shell `splitormerge_switch 'SPLIT'|'MERGE', true|false` —
    returns the previous state."""
    return admin.set_switch(kind.lower(), enabled)


def _splitormerge_enabled(admin, kind: str) -> bool:
    """shell `splitormerge_enabled 'SPLIT'|'MERGE'`."""
    return admin.is_switch_enabled(kind.lower())


def _switched_cleaner_chore(admin, switch: str, **kw) -> dict:
    """shell `cleaner_chore_run` (cleaner_chore_run.rb) and
    `catalogjanitor_run`: archive cleanup of unreferenced layout
    version dirs (CatalogJanitor.java's cleanParent role maps to the
    same immutable-dir reclaim), gated on the command's master
    switch."""
    if not admin.is_switch_enabled(switch):
        raise RuntimeError(f"master switch {switch!r} is disabled")
    return admin.cleaner_chore(**kw)


def _balancer(admin, name: str | None = None, **kw) -> bool:
    """shell `balance` (balancer.rb): run the balancer now; returns
    True if it ran (i.e. the switch is on), like the reference shell.
    Keyword args pass through to Admin.balance (slop, dry_run)."""
    admin.balance(name, **kw)
    return True


def _show_peer_table_cfs(admin, peer_id: str):
    """shell `show_peer_tableCFs`."""
    return admin.get_peer_config(peer_id).get("table_cfs")


def _drop(admin, name: str) -> None:
    """shell `drop 't'` (drop.rb) — delete a DISABLED table."""
    if admin.is_table_enabled(name):
        raise ValueError(f"table {name!r} must be disabled before drop")
    admin.delete_table(name)


def _unassign(admin, encoded_region: str, force=None) -> None:
    """shell `unassign` (unassign.rb; the force flag is deprecated in
    the reference and ignored, same here)."""
    admin.unassign(encoded_region)


def _decommission_regionservers(admin, servers, offload=False) -> None:
    """shell `decommission_regionservers` — one server or a list."""
    if isinstance(servers, str):
        servers = [servers]
    admin.decommission_regionservers(servers, offload)


def _clear_deadservers(admin, *servers) -> list[str]:
    """shell `clear_deadservers` — returns servers NOT cleared."""
    return admin.clear_deadservers(list(servers) or None)


# -- the command table: name -> (Admin method name | def above, *bound
# leading arguments).  Every other argument passes straight through, so
# a command's arguments and defaults are its Admin method's. -------------

SHELL: dict[str, tuple] = {
    # tables: DDL, state, schema (alter.rb, describe.rb, list.rb, ...)
    "alter": (_alter,),
    "describe": (_describe,),
    "list": ("list_tables",),
    "truncate": ("truncate_table",),
    "exists": ("table_exists",),
    "create": (_create,),
    "truncate_preserve": (_truncate_preserve,),
    "flush": (_flush,),
    "get_table": ("table",),
    "enable": ("enable_table",),
    "disable": ("disable_table",),
    "is_enabled": ("is_table_enabled",),
    "is_disabled": ("is_table_disabled",),
    "list_enabled_tables": ("list_enabled_tables",),
    "list_disabled_tables": ("list_disabled_tables",),
    "clone_table_schema": ("clone_table_schema",),
    "enable_all": ("enable_all",),
    "disable_all": ("disable_all",),
    "drop": (_drop,),
    "drop_all": ("drop_all",),
    "alter_async": ("alter_async",),
    "alter_status": ("alter_status",),
    # snapshots (snapshot.rb, clone_snapshot.rb, restore_snapshot.rb, ...)
    "snapshot": (_snapshot,),
    "clone_snapshot": ("clone_snapshot",),
    "restore_snapshot": ("restore_snapshot",),
    "delete_snapshot": ("delete_snapshot",),
    "list_snapshots": ("list_snapshots",),
    "delete_table_snapshots": ("delete_table_snapshots",),
    "delete_all_snapshot": ("delete_all_snapshot",),
    "export_snapshot": ("export_snapshot",),
    "list_table_snapshots": ("list_table_snapshots",),
    "list_snapshot_sizes": ("list_snapshot_sizes",),
    # namespaces (create_namespace.rb, alter_namespace.rb, ...)
    "create_namespace": ("create_namespace",),
    "describe_namespace": ("describe_namespace",),
    "list_namespace": ("list_namespaces",),
    "drop_namespace": ("drop_namespace",),
    "list_namespace_tables": ("list_namespace_tables",),
    "alter_namespace": ("alter_namespace",),
    # regions and compaction (split.rb, merge_region.rb, compact.rb, ...)
    "major_compact": ("major_compact",),
    "list_regions": ("list_regions",),
    "get_splits": ("get_splits",),
    "locate_region": ("locate_region",),
    "split": ("split_region",),
    "merge_region": ("merge_region",),
    "normalize": ("normalize",),
    "compact": ("compact",),
    "compaction_state": ("compaction_state",),
    "truncate_region": ("truncate_region",),
    "regioninfo": ("regioninfo",),
    "top": (_top,),
    # visibility labels and ACLs (add_labels.rb, grant.rb, ...)
    "add_labels": ("add_labels",),
    "list_labels": ("list_labels",),
    "set_auths": ("set_auths",),
    "get_auths": ("get_auths",),
    "clear_auths": ("clear_auths",),
    "grant": ("grant",),
    "revoke": ("revoke",),
    "user_permission": ("user_permission",),
    "list_security_capabilities": ("list_security_capabilities",),
    # quotas (set_quota.rb, list_quotas.rb, ...)
    "set_quota": (_set_quota,),
    "list_quotas": ("list_quotas",),
    "list_quota_snapshots": (_list_quota_snapshots,),
    "list_quota_table_sizes": ("list_quota_table_sizes",),
    "enable_exceed_throttle_quota": ("enable_exceed_throttle_quota",),
    "disable_exceed_throttle_quota": ("disable_exceed_throttle_quota",),
    # cluster introspection (status.rb, processlist.rb, version.rb, ...)
    "status": (_status,),
    "processlist": (_processlist,),
    "version": (_version,),
    "whoami": (_whoami,),
    "list_procedures": ("list_procedures",),
    "list_locks": ("list_locks",),
    "wal_roll": ("wal_roll",),
    "wal_roll_all": ("wal_roll_all",),
    "zk_dump": ("zk_dump",),
    "hbck_chore_run": ("hbck",),
    # master switches (*_switch.rb returns the previous state, *_enabled.rb)
    "normalizer_switch": ("set_switch", "normalizer"),
    "normalizer_enabled": ("is_switch_enabled", "normalizer"),
    "splitormerge_switch": (_splitormerge_switch,),
    "splitormerge_enabled": (_splitormerge_enabled,),
    "balance_switch": ("set_switch", "balancer"),
    "balancer_enabled": ("is_switch_enabled", "balancer"),
    "snapshot_cleanup_switch": ("set_switch", "snapshot_cleanup"),
    "snapshot_cleanup_enabled": ("is_switch_enabled", "snapshot_cleanup"),
    "compaction_switch": ("set_switch", "compaction"),
    "catalogjanitor_switch": ("set_switch", "catalogjanitor"),
    "catalogjanitor_enabled": ("is_switch_enabled", "catalogjanitor"),
    "peer_modification_switch": ("set_switch", "peer_modification"),
    "peer_modification_enabled": ("is_switch_enabled", "peer_modification"),
    "enable_rpc_throttle": ("set_switch", "rpc_throttle", True),
    "disable_rpc_throttle": ("set_switch", "rpc_throttle", False),
    "rpc_throttle_enabled": ("is_switch_enabled", "rpc_throttle"),
    "cleaner_chore_switch": ("set_switch", "cleaner_chore"),
    "cleaner_chore_enabled": ("is_switch_enabled", "cleaner_chore"),
    # chores (cleaner_chore_run.rb, catalogjanitor_run.rb)
    "cleaner_chore_run": (_switched_cleaner_chore, "cleaner_chore"),
    "catalogjanitor_run": (_switched_cleaner_chore, "catalogjanitor"),
    # balancer (balancer.rb, get_balancer_decisions.rb, ...)
    "balancer": (_balancer,),
    "balancer_report": ("balancer_report",),
    "get_balancer_decisions": ("get_balancer_decisions",),
    "get_balancer_rejections": ("get_balancer_rejections",),
    # rsgroups (add_rsgroup.rb, move_servers_rsgroup.rb, ...)
    "add_rsgroup": ("add_rsgroup",),
    "remove_rsgroup": ("remove_rsgroup",),
    "list_rsgroups": ("list_rsgroups",),
    "get_rsgroup": ("get_rsgroup",),
    "get_table_rsgroup": ("get_rsgroup_of_table",),
    "get_server_rsgroup": ("get_rsgroup_of_server",),
    "move_servers_rsgroup": ("move_servers_rsgroup",),
    "move_tables_rsgroup": ("move_tables_rsgroup",),
    "remove_servers_rsgroup": ("remove_servers_rsgroup",),
    "balance_rsgroup": ("balance_rsgroup",),
    "rename_rsgroup": ("rename_rsgroup",),
    "move_namespaces_rsgroup": ("move_namespaces_rsgroup",),
    "get_namespace_rsgroup": ("get_namespace_rsgroup",),
    "move_servers_tables_rsgroup": ("move_servers_tables_rsgroup",),
    "move_servers_namespaces_rsgroup": ("move_servers_namespaces_rsgroup",),
    "alter_rsgroup_config": ("update_rsgroup_config",),
    "update_rsgroup_config": ("update_rsgroup_config",),
    "show_rsgroup_config": ("show_rsgroup_config",),
    # replication peers (append_peer_tableCFs.rb, set_peer_bandwidth.rb, ...)
    "list_replicated_tables": ("list_replicated_tables",),
    "append_peer_table_cfs": ("append_peer_table_cfs",),
    "remove_peer_table_cfs": ("remove_peer_table_cfs",),
    "show_peer_table_cfs": (_show_peer_table_cfs,),
    "transit_peer_sync_replication_state": ("transit_peer_sync_replication_state",),
    "set_peer_bandwidth": ("set_peer_bandwidth",),
    "set_peer_serial": ("set_peer_serial",),
    "list_peer_configs": ("list_peer_configs",),
    "set_peer_replicate_all": ("set_peer_replicate_all",),
    "set_peer_namespaces": ("set_peer_namespaces",),
    "append_peer_namespaces": ("append_peer_namespaces",),
    "remove_peer_namespaces": ("remove_peer_namespaces",),
    "set_peer_exclude_namespaces": ("set_peer_exclude_namespaces",),
    "append_peer_exclude_namespaces": ("append_peer_exclude_namespaces",),
    "remove_peer_exclude_namespaces": ("remove_peer_exclude_namespaces",),
    "set_peer_exclude_table_cfs": ("set_peer_exclude_table_cfs",),
    "append_peer_exclude_table_cfs": ("append_peer_exclude_table_cfs",),
    "remove_peer_exclude_table_cfs": ("remove_peer_exclude_table_cfs",),
    "update_peer_config": ("update_peer_config",),
    # topology: region movement and server pools (move.rb, assign.rb, ...;
    # hbase_spark/topology.py has the model)
    "move": ("move",),
    "assign": ("assign",),
    "unassign": (_unassign,),
    "close_region": ("close_region",),
    "rit": ("rit",),
    "reopen_regions": ("reopen_regions",),
    "list_liveservers": ("list_liveservers",),
    "list_deadservers": ("list_deadservers",),
    "list_unknownservers": ("list_unknownservers",),
    "list_decommissioned_regionservers": ("list_decommissioned_regionservers",),
    "decommission_regionservers": (_decommission_regionservers,),
    "recommission_regionserver": ("recommission_regionserver",),
    "clear_deadservers": (_clear_deadservers,),
    "stop_regionserver": ("stop_regionserver",),
    "stop_master": ("stop_master",),
    "is_in_maintenance_mode": ("is_in_maintenance_mode",),
    # topology: diagnostics, caches, store files, config
    "get_slowlog_responses": ("get_slowlog_responses",),
    "get_largelog_responses": ("get_largelog_responses",),
    "clear_slowlog_responses": ("clear_slowlog_responses",),
    "trace": ("trace",),
    "clear_block_cache": ("clear_block_cache",),
    "clear_compaction_queues": ("clear_compaction_queues",),
    "compact_rs": ("compact_regionserver",),
    "flush_master_store": ("flush_master_store",),
    "refresh_hfiles": ("refresh_hfiles",),
    "refresh_meta": ("refresh_meta",),
    "change_sft": ("change_sft",),
    "change_sft_all": ("change_sft_all",),
    "update_config": ("update_config",),
    "update_all_config": ("update_all_config",),
}


def shell(admin, cmd: str, *args, **kw):
    """Run the admin shell command ``cmd``: ``shell(admin, "list")`` is
    the shell's ``list``, ``shell(admin, "balance_switch", False)`` its
    ``balance_switch false``.  An unknown command raises ValueError."""
    try:
        target, *bound = SHELL[cmd]
    except KeyError:
        raise ValueError(f"unknown shell command {cmd!r}") from None
    if isinstance(target, str):
        return getattr(admin, target)(*bound, *args, **kw)
    return target(admin, *bound, *args, **kw)
