"""Virtual cluster topology: servers, assignments, named queues, SFT.

This engine has no region-server processes — Spark's scheduler places
partition work on executors — but the reference's operational surface
over servers is catalog METADATA plus a handful of real storage
effects, and every consumer of the remaining shell commands reads that
metadata or relies on those effects.  This module models both halves:

* a **server registry** with the reference's lifecycle states
  (``master/ServerManager.java`` online set, ``master/DeadServer.java``,
  the draining/decommissioned list ``master/DrainingServerTracker.java``);
* a **region -> server assignment map** and a regions-in-transition
  view (``master/assignment/AssignmentManager.java``; region = layout
  file, its basename standing in for the encoded region name — the
  same identity ``Admin.list_regions`` reports);
* the **named queues** behind get_slowlog/largelog_responses
  (``namequeues/NamedQueueRecorder.java``: an in-memory ring buffer,
  lost on restart unless the system-table option persists it — both
  behaviors modeled; ``flush_master_store`` writes the in-memory
  queues down, the reference's master-local-region flush analog);
* **FILE store-file tracking**
  (``regionserver/storefiletracker/FileBasedStoreFileTracker.java`` +
  ``StoreFileListFile.java``): enumerate the store files in a manifest
  instead of trusting directory listing.  This is the object-store
  story at 100 TB — S3 LIST is slow and eventually consistent — and
  the Spark mapping is exact: reads open precisely the manifest's
  files through ``spark.read.option("basePath", ...)`` so partition
  columns still derive and min/max pruning still applies, with zero
  directory listing on the read path.

Where a command's only reference meaning is RPC machinery, the analog
here is the nearest REAL effect, stated per method: clear_block_cache
and refresh_hfiles call ``spark.catalog.refreshByPath`` (drop the
cached FileIndex and any cached relation data for the table's path —
the subsequent query re-reads storage, exactly the reference's "next
read goes to the filesystem" consequence), reopen_regions re-lists the
region inventory, update_config re-applies the catalog's config.json.

Assignment placement is deterministic (md5 of the region key over the
eligible-server list), so a fresh Admin over the same catalog derives
the same map without storing one row per region — only explicit
``move``/``assign`` decisions persist.  At reference scale (millions
of regions) this is the difference between a bounded catalog file and
a meta table; the explicit map only grows with operator actions.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import time
from collections import deque

_SERVER_RE = re.compile(r"^[A-Za-z0-9._-]+,\d+(,\d+)?$")

# reference default: hbase.regionserver.slowlog.ringbuffer.size = 256
_DEFAULT_RING_SIZE = 256


class MasterNotRunningError(RuntimeError):
    """MasterNotRunningException analog — a master-loop operation was
    requested while the (virtual) master is stopped."""


def _require_server_name(server: str) -> None:
    if not _SERVER_RE.match(server):
        raise ValueError(
            f"bad server name {server!r} (want host,port[,startcode])"
        )


def _host_port(server: str) -> str:
    """host,port prefix — shell commands accept a server with or
    without its startcode (compact_rs.rb, recommission_regionserver.rb)."""
    return ",".join(server.split(",")[:2])


class TopologyMixin:
    """Admin mixin: the server/assignment layer plus the named queues.

    Uses only Admin seams: ``catalog_dir``, ``spark``, ``_read_json`` /
    ``_write_json``, ``_procedure``, ``list_regions``, ``_read_desc``,
    ``_read_rsgroups``, ``is_switch_enabled``.
    """

    # -- state ---------------------------------------------------------------

    def _init_topology_state(self) -> None:
        """In-memory named queues (NamedQueueRecorder.java keeps these
        in a ring buffer on each server; they do NOT survive restart
        unless the system-table sink is enabled — same here)."""
        self._slowlog_ring: deque = deque(maxlen=_DEFAULT_RING_SIZE)
        self._rpc_seq = 0
        self._tracing = False
        self._trace_span: dict | None = None
        self._trace_spans: list[dict] = []
        self._conf: dict = {}

    def _topology_path(self) -> str:
        return f"{self.catalog_dir}/topology.json"

    def _read_topology(self) -> dict:
        try:
            t = self._read_json(self._topology_path(), "topology")
        except ValueError:
            t = {}
        t.setdefault("servers", {})
        t.setdefault("assignments", {})
        t.setdefault("rit", {})
        t.setdefault("master", {"running": True, "maintenance": False})
        return t

    def _write_topology(self, t: dict) -> None:
        self._write_json(self._topology_path(), t)

    def _require_master(self) -> None:
        """Master-loop gate (MasterNotRunningException): balancer,
        normalizer, chores and assignment ops need the master; catalog
        reads/writes here are filesystem-direct and stay available
        (the reference's clients likewise keep reading regions while
        the master is down)."""
        if not self._read_topology()["master"].get("running", True):
            raise MasterNotRunningError("master is stopped")

    # -- server registry (ServerManager.java / DeadServer.java) ---------------

    def register_regionservers(self, servers: list[str]) -> None:
        """Server processes joining the cluster (ServerManager
        .regionServerStartup — the reference has no shell command for
        this; servers exist by running).  Names are host,port,startcode."""
        t = self._read_topology()
        for s in servers:
            _require_server_name(s)
            t["servers"][s] = {"state": "LIVE"}
        self._write_topology(t)

    def _servers_in_state(self, *states: str) -> list[str]:
        t = self._read_topology()
        return sorted(
            s for s, info in t["servers"].items() if info["state"] in states
        )

    def list_liveservers(self) -> list[str]:
        """shell `list_liveservers` (list_liveservers.rb)."""
        return self._servers_in_state("LIVE")

    def list_deadservers(self) -> list[str]:
        """shell `list_deadservers` (list_deadservers.rb; DeadServer.java)."""
        return self._servers_in_state("DEAD")

    def list_decommissioned_regionservers(self) -> list[str]:
        """shell `list_decommissioned_regionservers` — the draining
        list (DrainingServerTracker.java)."""
        return self._servers_in_state("DECOMMISSIONED")

    def list_unknownservers(self) -> list[str]:
        """shell `list_unknownservers`: servers something still
        references (an explicit assignment or an rsgroup membership)
        that the registry does not know — the reference's
        "in meta but not online" state."""
        t = self._read_topology()
        known = set(t["servers"])
        referenced = set(t["assignments"].values())
        for info in self._read_rsgroups().values():
            referenced.update(info.get("servers", []))
        return sorted(referenced - known)

    def clear_deadservers(self, servers: list[str] | None = None) -> list[str]:
        """shell `clear_deadservers`: drop DEAD entries; returns the
        servers that could NOT be cleared (the ruby command's
        contract), i.e. names that are not in the dead list."""
        t = self._read_topology()
        targets = servers or [
            s for s, i in t["servers"].items() if i["state"] == "DEAD"
        ]
        failed = []
        for s in targets:
            if t["servers"].get(s, {}).get("state") == "DEAD":
                del t["servers"][s]
            else:
                failed.append(s)
        self._write_topology(t)
        return failed

    def decommission_regionservers(
        self, servers: list[str], offload: bool = False
    ) -> None:
        """shell `decommission_regionservers`: mark servers draining so
        no NEW region lands on them (DrainingServerTracker) — they
        KEEP serving their current regions until ``offload=True``
        moves those to the remaining live servers, the reference's
        exact split between the marker and the region offload.
        Keeping is implemented by PINNING the server's current regions
        as explicit assignments before the state flips, so derived
        placement (which is live-only) cannot silently migrate them."""
        self._require_master()
        t = self._read_topology()
        for s in servers:
            if s not in t["servers"]:
                raise ValueError(f"unknown server {s!r}")
        for s in servers:
            if not offload:
                for table, region in self._regions_on(s):
                    t["assignments"][f"{table}/{region}"] = s
            t["servers"][s]["state"] = "DECOMMISSIONED"
        self._write_topology(t)
        if offload:
            for s in servers:
                self._evacuate_server(s)

    def recommission_regionserver(
        self, server: str, encoded_regions: list[str] | None = None
    ) -> None:
        """shell `recommission_regionserver`: lift the draining marker;
        optionally load the named regions back onto the server."""
        self._require_master()
        t = self._read_topology()
        if t["servers"].get(server, {}).get("state") != "DECOMMISSIONED":
            raise ValueError(f"server {server!r} is not decommissioned")
        t["servers"][server]["state"] = "LIVE"
        self._write_topology(t)
        for region in encoded_regions or []:
            self.move(region, server)

    def stop_regionserver(self, server: str) -> None:
        """shell `stop_regionserver`: the server goes down; the master
        runs the ServerCrashProcedure analog — journal the procedure,
        mark the server DEAD, reassign its regions to the remaining
        live servers (or park them in transition when none is left)."""
        self._require_master()
        t = self._read_topology()
        if server not in t["servers"]:
            raise ValueError(f"unknown server {server!r}")
        with self._procedure("SERVER_CRASH", None, lock="SHARED"):
            held = self._regions_on(server)
            t = self._read_topology()
            g = self._read_rsgroups()
            t["servers"][server]["state"] = "DEAD"
            for table, region in held:
                self._reassign_or_park_t(t, table, region, g)
            self._write_topology(t)

    def stop_master(self) -> None:
        """shell `stop_master`: master-loop operations (balance,
        normalize, chores, assignment) raise MasterNotRunningError
        until ``start_master`` — the process-restart analog (the shell
        has no start command; operators restart the process)."""
        t = self._read_topology()
        t["master"]["running"] = False
        self._write_topology(t)

    def start_master(self) -> None:
        t = self._read_topology()
        t["master"]["running"] = True
        self._write_topology(t)

    def is_in_maintenance_mode(self) -> bool:
        """shell `is_in_maintenance_mode` (read-only, like the ruby —
        the reference enters via hbase.master.maintenance_mode config;
        here via ``set_maintenance_mode`` or update_config with that
        key).  In maintenance the balancer/normalizer/chores skip."""
        return bool(self._read_topology()["master"].get("maintenance"))

    def set_maintenance_mode(self, flag: bool) -> None:
        t = self._read_topology()
        t["master"]["maintenance"] = bool(flag)
        self._write_topology(t)

    # -- assignments (AssignmentManager.java) ---------------------------------

    def _region_inventory(self, name: str) -> list[str]:
        """Encoded region names of a table = layout-file basenames
        (served from the per-version boundary cache — placement
        derivation must not cost a table scan per call)."""
        return sorted(
            os.path.basename(self._local_path(r["region_file"]))
            for r in self._cached_region_inventory(name)
        )

    def _eligible_servers(self, name: str, *, topo: dict | None = None,
                          groups: dict | None = None) -> list[str]:
        """Placement candidates for NEW assignments: LIVE servers in
        the table's rsgroup when the group has servers
        (RSGroupBasedLoadBalancer confines placement to the group),
        else every live server.  Draining servers are excluded —
        their CURRENT regions keep serving because decommission pins
        them as explicit assignments (DrainingServerTracker: the
        marker only prevents additional assignment).  Batch callers
        pass ``topo`` AND ``groups`` so a crash affecting R regions
        costs two catalog reads total, not 2R."""
        t = topo if topo is not None else self._read_topology()
        g = groups if groups is not None else self._read_rsgroups()
        pool = {
            s for s, info in t["servers"].items()
            if info["state"] == "LIVE"
        }
        group = next(
            (k for k, info in g.items() if name in info.get("tables", [])),
            None,
        )
        members = set(g.get(group, {}).get("servers", [])) if group else set()
        return sorted(pool & members) if (pool & members) else sorted(pool)

    def _derived_server(self, name: str, region: str,
                        topo: dict | None = None,
                        groups: dict | None = None) -> str | None:
        pool = self._eligible_servers(name, topo=topo, groups=groups)
        if not pool:
            return None
        h = int.from_bytes(
            hashlib.md5(f"{name}/{region}".encode()).digest()[:8], "big"
        )
        return pool[h % len(pool)]

    def _server_of_region_t(self, t: dict, name: str, region: str,
                            groups: dict | None = None) -> str | None:
        """server_of_region against already-read catalog dicts —
        batch callers read once and reuse (the catalog files are
        bounded, but per-region re-reads made crash handling O(R)
        file IO)."""
        explicit = t["assignments"].get(f"{name}/{region}")
        if explicit and t["servers"].get(explicit, {}).get("state") in (
            "LIVE", "DECOMMISSIONED",
        ):
            return explicit
        if f"{name}/{region}" in t["rit"]:
            return None
        return self._derived_server(name, region, t, groups)

    def server_of_region(self, name: str, region: str) -> str | None:
        """Who serves this region: the explicit assignment if an
        operator placed it (honored while the server is live or
        draining), else the deterministic derived placement.  None
        when no server is eligible (the region is then in
        transition)."""
        return self._server_of_region_t(self._read_topology(), name, region)

    def assignments(self, name: str) -> dict[str, str | None]:
        """Full region -> server map for a table (one topology read +
        one rsgroups read)."""
        t = self._read_topology()
        g = self._read_rsgroups()
        return {
            r: self._server_of_region_t(t, name, r, g)
            for r in self._region_inventory(name)
        }

    def _regions_on(self, server: str) -> list[tuple[str, str]]:
        """Every (table, region) currently served by ``server`` —
        explicit and derived.  One topology read + one rsgroups read;
        one region-inventory job per enabled table (bounded by region
        counts, the same collect list_regions already does)."""
        t = self._read_topology()
        g = self._read_rsgroups()
        out = []
        for name in self.list_tables():
            if not self.is_table_enabled(name):
                continue
            for region in self._region_inventory(name):
                if self._server_of_region_t(t, name, region, g) == server:
                    out.append((name, region))
        return out

    @staticmethod
    def _least_loaded(t: dict, pool: list[str]) -> str:
        counts = {s: 0 for s in pool}
        for s in t["assignments"].values():
            if s in counts:
                counts[s] += 1
        return min(pool, key=lambda s: (counts[s], s))

    def _find_region_table(self, region: str) -> str:
        for name in self.list_tables():
            if not self.is_table_enabled(name):
                continue
            if region in self._region_inventory(name):
                return name
        raise ValueError(f"unknown region {region!r}")

    def _reassign_or_park_t(self, t: dict, table: str, region: str,
                            groups: dict | None = None) -> None:
        """Reassign in the given topology dict (caller persists once)."""
        pool = self._eligible_servers(table, topo=t, groups=groups)
        key = f"{table}/{region}"
        if pool:
            t["assignments"][key] = self._least_loaded(t, pool)
            t["rit"].pop(key, None)
        else:
            t["assignments"].pop(key, None)
            t["rit"][key] = {
                "table": table, "region": region, "state": "CLOSED",
                "since_ts": time.time(),
            }

    def _reassign_or_park(self, table: str, region: str) -> None:
        t = self._read_topology()
        self._reassign_or_park_t(t, table, region)
        self._write_topology(t)

    def _evacuate_server(self, server: str) -> None:
        """Move every region off a draining server: one topology
        read-mutate-write, however many regions move."""
        held = self._regions_on(server)
        t = self._read_topology()
        g = self._read_rsgroups()
        for table, region in held:
            self._reassign_or_park_t(t, table, region, g)
        self._write_topology(t)

    def move(self, region: str, server: str | None = None,
             observers: list | None = None) -> str:
        """shell `move` (move.rb; AssignmentManager.move): move an
        encoded region to a target server, or a chosen one (the ruby
        picks at random; here the least-loaded eligible server, so the
        pick is deterministic).  Fires the region close/open observer
        hooks the reference's move path fires (preClose/postClose on
        the source, preOpen/postOpen on the destination).  Returns the
        destination server."""
        self._require_master()
        table = self._find_region_table(region)
        t = self._read_topology()
        if server is not None:
            state = t["servers"].get(server, {}).get("state")
            if state != "LIVE":
                raise ValueError(
                    f"server {server!r} is not live (state {state})"
                )
        else:
            pool = self._eligible_servers(table, topo=t)
            if not pool:
                raise ValueError("no live server to move to")
            server = self._least_loaded(t, pool)
        key = f"{table}/{region}"
        with self._procedure("MOVE_REGION", table, lock="SHARED"):
            for ob in observers or []:
                if getattr(ob, "pre_close", None):
                    ob.pre_close(region)
            for ob in observers or []:
                if getattr(ob, "post_close", None):
                    ob.post_close(region)
            t = self._read_topology()
            t["assignments"][key] = server
            t["rit"].pop(key, None)
            self._write_topology(t)
            for ob in observers or []:
                if getattr(ob, "pre_open", None):
                    ob.pre_open(region)
            for ob in observers or []:
                if getattr(ob, "post_open", None):
                    ob.post_open(region)
        return server

    def assign(self, region: str) -> str | None:
        """shell `assign` (assign.rb): (re)assign a region — clears its
        in-transition state and places it on the least-loaded eligible
        server."""
        self._require_master()
        table = self._find_region_table(region)
        self._reassign_or_park(table, region)
        return self.server_of_region(table, region)

    def unassign(self, region: str) -> None:
        """shell `unassign` (unassign.rb — "for experts only"): close a
        region without reassigning it.  It shows in ``rit`` until
        ``assign``/``move`` reopens it; storage stays readable (scans
        here never needed a serving process — the state machine is
        what this models), and ``hbck`` surfaces the closed region."""
        self._require_master()
        table = self._find_region_table(region)
        key = f"{table}/{region}"
        t = self._read_topology()
        t["assignments"].pop(key, None)
        t["rit"][key] = {
            "table": table, "region": region, "state": "CLOSED",
            "since_ts": time.time(),
        }
        self._write_topology(t)

    def close_region(self, region: str, server: str | None = None) -> None:
        """shell `close_region` (close_region.rb — deprecated in the
        reference in favor of unassign; same effect here)."""
        self.unassign(region)

    def rit(self) -> list[dict]:
        """shell `rit` (rit.rb): regions in transition, from the
        assignment manager's in-transition view."""
        t = self._read_topology()
        return sorted(t["rit"].values(), key=lambda e: e["region"])

    def reopen_regions(self, name: str) -> int:
        """shell `reopen_table_regions`-style reopen: close+open every
        region of a table to pick up new state.  The real effect here
        is ``spark.catalog.refreshByPath`` on the table's layout — the
        next scan re-lists and re-reads storage, exactly why the
        reference reopens regions after out-of-band changes.  Returns
        the region count reopened."""
        self._require_master()
        desc = self._read_desc(name)
        self.spark.catalog.refreshByPath(self._abs_data_dir(desc, name))
        regions = self._region_inventory(name)
        t = self._read_topology()
        for r in regions:
            t["rit"].pop(f"{name}/{r}", None)
        self._write_topology(t)
        return len(regions)

    # -- named queues (namequeues/NamedQueueRecorder.java) ---------------------

    def record_rpc(
        self, op: str, *, table: str | None = None,
        duration_ms: float = 0.0, response_size: int = 0,
        user: str = "default", client_ip: str = "127.0.0.1",
        region: str | None = None, param: str = "",
    ) -> None:
        """Append one RPC record to the slow/large-log ring (the
        reference records every RPC over the slow threshold into the
        per-server ring; the ring is in-memory and bounded, so this
        never grows with corpus size).  The serving server is derived
        from the region when known, else attributed to the master."""
        self._rpc_seq += 1
        server = "master"
        if table is not None and region is not None:
            server = self.server_of_region(table, region) or "master"
        rec = {
            "seq": self._rpc_seq, "server": server, "op": op,
            "table": table, "region": region, "user": user,
            "client_ip": client_ip, "param": param,
            "duration_ms": float(duration_ms),
            "response_size": int(response_size),
            "ts": time.time(),
        }
        self._slowlog_ring.append(rec)
        if self._conf.get("hbase.regionserver.slowlog.systable.enabled"):
            # the reference's system-table sink: records survive restart
            self._append_master_store("slowlog_systable", [rec])
        if self._tracing and self._trace_span is not None:
            self._trace_span["events"].append(
                {"op": op, "table": table, "duration_ms": duration_ms}
            )

    def slow_op(self, op: str, table: str | None, fn, *,
                user: str = "default", client_ip: str = "127.0.0.1",
                region: str | None = None, param: str = ""):
        """Time a callable and record it — the RPC-layer seam.  The
        shell data commands route their actions through this."""
        t0 = time.perf_counter()
        out = fn()
        dur = (time.perf_counter() - t0) * 1000.0
        size = 0
        if isinstance(out, (int, float)):
            size = int(out)
        elif isinstance(out, (list, dict, str, bytes)):
            size = len(out)
        self.record_rpc(op, table=table, duration_ms=dur,
                        response_size=size, user=user,
                        client_ip=client_ip, region=region, param=param)
        return out

    @staticmethod
    def _log_filters_match(rec: dict, filters: dict) -> bool:
        """get_slowlog_responses filter semantics
        (shell/commands/get_slowlog_responses.rb): provided filters OR
        by default; 'FILTER_BY_OPERATOR' => 'AND' requires all."""
        checks = []
        if "TABLE_NAME" in filters:
            checks.append(rec["table"] == filters["TABLE_NAME"])
        if "REGION_NAME" in filters:
            checks.append(rec["region"] == filters["REGION_NAME"])
        if "USER" in filters:
            checks.append(rec["user"] == filters["USER"])
        if "CLIENT_IP" in filters:
            want = filters["CLIENT_IP"]
            checks.append(
                rec["client_ip"] == want
                or rec["client_ip"].startswith(want.split(":")[0])
            )
        if not checks:
            return True
        if filters.get("FILTER_BY_OPERATOR", "OR").upper() == "AND":
            return all(checks)
        return any(checks)

    def _log_responses(self, servers, filters, *, key) -> list[dict]:
        filters = filters or {}
        limit = int(filters.get("LIMIT", 10))
        if servers in ("*", None):
            wanted = None
        else:
            if isinstance(servers, str):
                servers = [servers]
            wanted = {_host_port(s) for s in servers}
        recs = [
            r for r in self._slowlog_ring
            if (wanted is None or _host_port(r["server"]) in wanted)
            and self._log_filters_match(r, filters)
        ]
        recs.sort(key=key, reverse=True)
        return recs[:limit]

    def get_slowlog_responses(self, servers="*",
                              filters: dict | None = None) -> list[dict]:
        """shell `get_slowlog_responses`: latest slow-log records,
        newest first, default LIMIT 10, filters OR-combined unless
        FILTER_BY_OPERATOR=AND — the ruby command's exact contract."""
        return self._log_responses(servers, filters, key=lambda r: r["seq"])

    def get_largelog_responses(self, servers="*",
                               filters: dict | None = None) -> list[dict]:
        """shell `get_largelog_responses`: same ring, ordered by
        response size (the reference's large-log view over the shared
        NamedQueue)."""
        return self._log_responses(
            servers, filters, key=lambda r: (r["response_size"], r["seq"])
        )

    def clear_slowlog_responses(self, servers=None) -> int:
        """shell `clear_slowlog_responses`: clear the ring(s); returns
        how many server rings were cleared (the ruby prints a count)."""
        if servers in (None, "*"):
            n = 1 if self._slowlog_ring else 0
            self._slowlog_ring.clear()
            return max(n, 1)
        wanted = {_host_port(s) for s in (
            [servers] if isinstance(servers, str) else servers
        )}
        keep = [r for r in self._slowlog_ring
                if _host_port(r["server"]) not in wanted]
        self._slowlog_ring.clear()
        self._slowlog_ring.extend(keep)
        return len(wanted)

    def trace(self, startstop: str = "status",
              spanname: str = "HBaseShell") -> bool:
        """shell `trace` (trace.rb): start/stop/status of a tracing
        span; returns whether tracing is running (stop returns False on
        success, repeated start does not nest — the ruby contract).
        While tracing, recorded RPCs attach as span events."""
        if startstop == "start":
            if not self._tracing:
                self._tracing = True
                self._trace_span = {
                    "name": spanname, "start_ts": time.time(), "events": [],
                }
            return True
        if startstop == "stop":
            if self._tracing and self._trace_span is not None:
                self._trace_span["end_ts"] = time.time()
                self._trace_spans.append(self._trace_span)
                self._trace_span = None
            self._tracing = False
            return False
        if startstop == "status":
            return self._tracing
        raise ValueError(f"trace: unknown action {startstop!r}")

    def _master_store_path(self) -> str:
        return f"{self.catalog_dir}/master-store.json"

    def _append_master_store(self, key: str, entries: list[dict]) -> None:
        try:
            store = self._read_json(self._master_store_path(), "master store")
        except ValueError:
            store = {}
        store[key] = (store.get(key, []) + entries)[-4096:]
        self._write_json(self._master_store_path(), store)

    def flush_master_store(self) -> dict[str, int]:
        """shell `flush_master_store` (flush_master_store.rb: flush the
        master's local region).  The master-local state held in memory
        here is the named queues — the slow-log ring and closed trace
        spans; flushing persists them to the catalog so they survive
        the session the way a flushed master region survives restart."""
        counts = {
            "slowlog": len(self._slowlog_ring),
            "trace_spans": len(self._trace_spans),
        }
        self._append_master_store("slowlog", list(self._slowlog_ring))
        self._append_master_store("trace_spans", list(self._trace_spans))
        return counts

    # -- cache / queue / store knobs ------------------------------------------

    def clear_block_cache(self, name: str) -> dict:
        """shell `clear_block_cache` (clear_block_cache.rb;
        CacheEvictionStats): drop every cached block for the table.
        The Spark block cache for a parquet layout is the cached
        FileIndex + any cached relation data keyed by path —
        ``spark.catalog.refreshByPath`` evicts both, so the next query
        re-reads the filesystem, the exact documented consequence."""
        desc = self._read_desc(name)
        paths = [self._abs_data_dir(desc, name)]
        if desc.get("mob_dir"):
            paths.append(f"{self.catalog_dir}/{desc['mob_dir']}")
        files = sum(len(self._list_parquet(p)) for p in paths)
        for p in paths:
            self.spark.catalog.refreshByPath(p)
        return {"table": name, "evicted_paths": len(paths),
                "evicted_files": files}

    def refresh_hfiles(self, name: str) -> int:
        """`refresh_hfiles` (the example RefreshHFilesEndpoint): pick
        up store files added out-of-band under the table's layout —
        refreshByPath drops the cached listing; returns the file count
        now visible.  The layout's PUT-only record is re-read from the
        footers, adopted files included."""
        desc = self._read_desc(name)
        self._record_put_only(desc)
        self._write_desc(name, desc)
        self.spark.catalog.refreshByPath(self._abs_data_dir(desc, name))
        return len(self._list_layout_files(desc, name))

    def refresh_meta(self) -> dict[str, int]:
        """shell `refresh_meta`: sync the catalog's region view with
        backing storage (the read-replica use in the ruby help) —
        refresh every enabled table's path and report the region count
        actually on disk."""
        out = {}
        for name in self.list_tables():
            if not self.is_table_enabled(name):
                continue
            desc = self._read_desc(name)
            self.spark.catalog.refreshByPath(self._abs_data_dir(desc, name))
            out[name] = len(self._region_inventory(name))
        return out

    # -- compaction queues -----------------------------------------------------

    def _cqueue_path(self) -> str:
        return f"{self.catalog_dir}/compaction-queues.json"

    def _read_cqueue(self) -> list[dict]:
        try:
            return self._read_json(self._cqueue_path(), "compaction queues")[
                "entries"]
        except ValueError:
            return []

    def request_compaction(self, name: str, *, major: bool = False) -> int:
        """Admin.compactionSwitch-era requestCompaction analog: enqueue
        region compaction requests instead of running them.  Major
        requests go to the long queue, minor to the short one — the
        reference's CompactSplit thread-pool split.  Returns the number
        of enqueued region entries."""
        entries = self._read_cqueue()
        added = 0
        for region in self._region_inventory(name):
            entries.append({
                "table": name, "region": region,
                "server": self.server_of_region(name, region) or "master",
                "queue": "long" if major else "short",
            })
            added += 1
        self._write_json(self._cqueue_path(), {"entries": entries})
        return added

    def clear_compaction_queues(self, server: str,
                                queues=("long", "short")) -> int:
        """shell `clear_compaction_queues` (clear_compaction_queues.rb):
        drop the pending entries for a server's long and/or short
        queue; returns how many were dropped."""
        if isinstance(queues, str):
            queues = (queues,)
        bad = set(queues) - {"long", "short"}
        if bad:
            raise ValueError(f"unknown queue(s) {sorted(bad)}")
        entries = self._read_cqueue()
        keep = [
            e for e in entries
            if not (_host_port(e["server"]) == _host_port(server)
                    and e["queue"] in queues)
        ]
        self._write_json(self._cqueue_path(), {"entries": keep})
        return len(entries) - len(keep)

    def run_compaction_queues(self, server: str | None = None) -> list[str]:
        """Drain pending compaction requests (optionally one server's):
        each touched table gets one compaction run — long queue
        entries major, short minor — and its entries clear."""
        entries = self._read_cqueue()
        mine = [
            e for e in entries
            if server is None or _host_port(e["server"]) == _host_port(server)
        ]
        done = []
        for name in sorted({e["table"] for e in mine}):
            major = any(e["queue"] == "long" for e in mine
                        if e["table"] == name)
            if major:
                self.major_compact(name)
            else:
                self.compact(name)
            done.append(name)
        keep = [e for e in entries if e not in mine]
        self._write_json(self._cqueue_path(), {"entries": keep})
        return done

    def compact_regionserver(self, server: str, major: bool = False) -> list[str]:
        """shell `compact_rs` (compact_rs.rb): compact every region on
        the server.  Region compaction here is the table-layout rewrite
        (regions are files of one layout), so each table with at least
        one region on the server gets one compaction run."""
        self._require_master()
        tables = sorted({t for t, _ in self._regions_on(server)})
        for name in tables:
            if major:
                self.major_compact(name)
            else:
                self.compact(name)
        return tables

    # -- dynamic config (update_config.rb / update_all_config.rb) --------------

    def _config_path(self) -> str:
        return f"{self.catalog_dir}/config.json"

    def _apply_config(self) -> dict:
        try:
            conf = self._read_json(self._config_path(), "config")
        except ValueError:
            conf = {}
        applied = {}
        for key, val in conf.items():
            if key == "hbase.regionserver.slowlog.ringbuffer.size":
                ring = deque(self._slowlog_ring, maxlen=int(val))
                self._slowlog_ring = ring
                applied[key] = int(val)
            elif key == "hbase.regionserver.slowlog.systable.enabled":
                self._conf[key] = bool(val)
                applied[key] = bool(val)
            elif key == "hbase.master.maintenance_mode":
                self.set_maintenance_mode(bool(val))
                applied[key] = bool(val)
            elif key.startswith("spark."):
                # runtime-settable SQL confs reload live, like the
                # reference's online-config subset; static ones raise
                # in Spark and are reported unapplied
                try:
                    self.spark.conf.set(key, str(val))
                    applied[key] = val
                except Exception:
                    pass
            else:
                self._conf[key] = val
        return applied

    def update_config(self, server: str | None = None) -> dict:
        """shell `update_config`: reload the dynamic-config subset on
        one server from the catalog's config.json (the reference
        re-reads hbase-site.xml; the recognized dynamic keys apply
        live, anything else lands in the config map)."""
        return self._apply_config()

    def update_all_config(self) -> dict[str, dict]:
        """shell `update_all_config`: reload on every live server (and
        the master)."""
        applied = self._apply_config()
        return {s: applied for s in ["master"] + self.list_liveservers()}

    # -- store-file tracker (storefiletracker/FileBasedStoreFileTracker.java) --

    def _sft_manifest_path(self, name: str) -> str:
        safe = name.replace(":", "__")
        return f"{self.catalog_dir}/{safe}/sft-manifest.json"

    def _list_parquet(self, root: str) -> list[str]:
        """Recursive parquet listing via the Hadoop FS API (like
        ``_dir_bytes``), so manifests work on HDFS/object-store
        catalogs, not just local paths — the FILE tracker exists
        precisely for those."""
        jvm = self.spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(root)
        fs = p.getFileSystem(self.spark._jsc.hadoopConfiguration())
        if not fs.exists(p):
            return []
        qroot = fs.makeQualified(p).toString().rstrip("/")
        out = []
        it = fs.listFiles(p, True)
        while it.hasNext():
            f = it.next().getPath().toString()
            if f.endswith(".parquet") and f.startswith(qroot + "/"):
                out.append(f[len(qroot) + 1:])
        return sorted(out)

    def _list_layout_files(self, desc: dict, name: str) -> list[str]:
        return self._list_parquet(self._abs_data_dir(desc, name))

    def _write_sft_manifest(self, name: str, desc: dict) -> dict:
        """StoreFileListFile.java: persist the authoritative store-file
        list for the current layout version."""
        manifest = {
            "version": desc.get("version", 0),
            "data_dir": desc.get("data_dir"),
            "files": self._list_layout_files(desc, name),
        }
        self._write_json(self._sft_manifest_path(name), manifest)
        return manifest

    def _sft_files(self, name: str, desc: dict) -> list[str] | None:
        """Absolute store-file paths per the manifest, or None when the
        tracker is DEFAULT / the manifest is stale.  A stale manifest
        (layout version moved under it) self-heals by re-listing once
        and persisting — MigrationStoreFileTracker.java's dual-read
        discipline: fall back to listing, rewrite the file list."""
        if desc.get("sft") != "FILE":
            return None
        try:
            manifest = self._read_json(
                self._sft_manifest_path(name), "sft manifest"
            )
        except ValueError:
            manifest = None
        if (
            manifest is None
            or manifest.get("version") != desc.get("version", 0)
            or manifest.get("data_dir") != desc.get("data_dir")
        ):
            manifest = self._write_sft_manifest(name, desc)
        root = self._abs_data_dir(desc, name)
        return [f"{root}/{rel}" for rel in manifest["files"]]

    def change_sft(self, name: str, family_or_tracker: str,
                   tracker: str | None = None) -> None:
        """shell `change_sft` (change_sft.rb;
        ModifyTableStoreFileTrackerProcedure): switch the table (or one
        family) to FILE or DEFAULT store-file tracking.  FILE writes
        the manifest from the current layout and every subsequent read
        opens exactly the manifest's files — zero directory listing on
        the scan path, the object-store-consistency motivation.  Like
        the reference's procedure, requires the table disabled."""
        if tracker is None:
            family, tracker = None, family_or_tracker
        else:
            family = family_or_tracker
        tracker = tracker.upper()
        if tracker not in ("FILE", "DEFAULT"):
            raise ValueError(f"unknown store file tracker {tracker!r}")
        if self.is_table_enabled(name):
            raise ValueError(
                f"table {name!r} must be disabled to change its store "
                "file tracker"
            )
        with self._procedure("MODIFY_TABLE_SFT", name):
            desc = self._read_desc(name)
            if family is not None:
                if family not in desc["families"]:
                    raise ValueError(
                        f"family {family!r} not in table {name!r}"
                    )
                per_fam = desc.get("sft_families", {})
                per_fam[family] = tracker
                desc["sft_families"] = per_fam
                # the manifest covers the whole layout; the table-level
                # tracker engages once every family opted in
                if all(
                    per_fam.get(f) == "FILE" for f in desc["families"]
                ):
                    desc["sft"] = "FILE"
                elif tracker == "DEFAULT":
                    desc.pop("sft", None)
            else:
                if tracker == "FILE":
                    desc["sft"] = "FILE"
                else:
                    desc.pop("sft", None)
                    desc.pop("sft_families", None)
            if desc.get("sft") == "FILE":
                self._write_sft_manifest(name, desc)
            self._write_desc(name, desc)

    def change_sft_all(self, tracker: str, pattern: str = ".*") -> list[str]:
        """shell `change_sft_all`: change every matching DISABLED
        table's tracker (the reference requires disabled tables; the
        all-form here applies to those and reports them)."""
        changed = []
        rx = re.compile(pattern)
        for name in self.list_tables():
            if rx.fullmatch(name) and not self.is_table_enabled(name):
                self.change_sft(name, tracker)
                changed.append(name)
        return changed

    # -- exceed throttle quota (quotas/ExceedOperationQuota.java) ---------------

    def enable_exceed_throttle_quota(self) -> bool:
        """shell `enable_exceed_throttle_quota`: allow requests to
        exceed user/table throttles by consuming the region server
        quota when it has headroom.  Returns the previous value.  Like
        QuotaUtil.enableExceedThrottleQuota, requires a region-server
        throttle quota to exist with a seconds time unit — otherwise
        the overdraw bucket could refill on a much longer period than
        the quotas borrowing from it."""
        q = self._read_quotas()["throttle"]
        rs = q.get("rs=all")
        if rs is None:
            raise ValueError(
                "set a region server quota (regionserver=True) before "
                "enabling exceed throttle quota"
            )
        if rs["interval_ms"] != 1000:
            raise ValueError(
                "region server quota must be in seconds time unit to "
                "enable exceed throttle quota"
            )
        prev = self.is_switch_enabled("exceed_throttle_quota")
        self.set_switch("exceed_throttle_quota", True)
        return prev

    def disable_exceed_throttle_quota(self) -> bool:
        """shell `disable_exceed_throttle_quota`; returns previous."""
        prev = self.is_switch_enabled("exceed_throttle_quota")
        self.set_switch("exceed_throttle_quota", False)
        return prev

    # -- async alter (alter_async.rb / alter_status.rb) -------------------------

    def alter_async(self, name: str, family: str,
                    descriptor=None, *, method: str = "modify") -> int:
        """shell `alter_async`: run the alter under a journaled
        MODIFY_TABLE procedure and return its pid as the async handle
        (alters here apply in one catalog write, so the procedure
        completes immediately — the handle is real, the wait is zero).
        Region progress is recorded on the entry for alter_status."""
        regions = len(self._region_inventory(name))
        with self._procedure("MODIFY_TABLE", name) as pid:
            self.alter(name, family, descriptor, method=method)
        procs = self._read_procs()
        for p in procs:
            if p["pid"] == pid:
                p["regions_total"] = regions
                p["regions_updated"] = regions
        self._write_procs(procs)
        return pid

    def alter_status(self, name: str) -> dict:
        """shell `alter_status`: x/y regions updated for the table's
        most recent MODIFY_TABLE procedure."""
        procs = [
            p for p in self._read_procs()
            if p["table"] == name and p["type"] == "MODIFY_TABLE"
        ]
        if not procs:
            return {"table": name, "regions_updated": 0,
                    "regions_total": 0, "state": None}
        last = procs[-1]
        return {
            "table": name,
            "regions_updated": last.get("regions_updated", 0),
            "regions_total": last.get("regions_total", 0),
            "state": last["state"],
        }


TABLE_HELP = """Help for table-reference commands.

You can either create a table via 'create' and then manipulate it via
admin calls, or get a reference to a table with get_table:

  t = admin.table('t')         # or shell(admin, 'get_table', 't')

Data commands take the table reference first:

  shell_put(t, row, 'cf:q', value, ts=..., seq=...)
  shell_get(t, row)
  shell_scan(t, STARTROW=..., STOPROW=..., FILTER=...)
  shell_count(t)
  shell_incr(t, row, 'cf:ctr', 1, ts=..., seq=...)
  shell_append(t, row, 'cf:q', 'suffix', ts=..., seq=...)
  shell_delete(t, row, 'cf:q', ts=..., seq=...)
  shell_deleteall(t, row, ts=..., seq=...)

Mutations return a NEW table value (tables are immutable frames);
persist with admin.flush(name, t).  Admin commands (describe, alter,
snapshots, quotas, rsgroups, topology) take the admin first and run
through one dispatcher: shell(admin, 'describe', 't').
"""


def table_help() -> str:
    """shell `table_help` (table_help.rb): the table-reference usage
    text, in this engine's own terms."""
    return TABLE_HELP
