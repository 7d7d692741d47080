"""Admin — table lifecycle over a directory catalog
(client/Admin.java surface: createTable/disableTable/deleteTable/
listTableNames/getDescriptor/snapshot/cloneSnapshot/restoreSnapshot/
createNamespace, re-expressed for a storage-backed engine).

A "table" is a bulk layout directory plus a descriptor JSON recording
the per-family schema knobs (the ColumnFamilyDescriptor analog).
Enable/disable is a descriptor flag — reads of a disabled table raise,
like the reference's TableNotEnabledException.

Data directories are immutable versions (``cells-v{n}``): a flush
writes a NEW version dir and repoints the descriptor, never rewriting
in place.  That gives snapshots the reference's zero-copy semantics
(snapshot/SnapshotManifest.java — a manifest of store-file references,
no data copied): ``snapshot()`` records the current version dir,
``clone_snapshot()``/``restore_snapshot()`` repoint descriptors at it,
and superseded dirs await storage-level GC exactly like the
reference's archive directory.  At 100 TB this is the only viable
design — snapshot cost is O(1) metadata, not O(data).

Namespaces (NamespaceDescriptor.java) are first-level catalog
directories; ``ns:table`` names resolve to ``{catalog}/{ns}/{table}``
and the default namespace stays flat for back-compat.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from hbase_spark.model import CellType, cell_schema
from hbase_spark.sources.layout import read_table, write_table
from hbase_spark.sources.tables import materialize
from hbase_spark.table import FamilyDescriptor, Table
from hbase_spark.topology import TopologyMixin

_DESCRIPTOR = "table-descriptor.json"
_NAMESPACE_DESC = "namespace-descriptor.json"


class TableNotEnabledError(RuntimeError):
    pass


class AccessDeniedError(PermissionError):
    """security/AccessDeniedException analog."""


def _fam_dict(d: FamilyDescriptor) -> dict:
    """FamilyDescriptor -> the JSON knob dict stored in descriptors."""
    return {
        "max_versions": d.max_versions,
        "min_versions": d.min_versions,
        "ttl_ms": d.ttl_ms,
        "new_version_behavior": d.new_version_behavior,
        "keep_deleted_cells": d.keep_deleted_cells,
        "mob_threshold": d.mob_threshold,
    }


def _holds_tombstones(roots: list[str]) -> bool | None:
    """Whether the parquet files under ``roots`` hold any tombstone,
    read from their footer statistics on the driver (no Spark job).
    PUT is the smallest CellType code, so a max(type) of PUT over every
    row group means PUT-only; a layout with no rows holds none.  None
    (unknown) when a row group carries no type statistics or pyarrow
    cannot open the catalog's filesystem."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyarrow import fs as pafs

    for root in roots:
        if "://" not in root:
            fs = pafs.LocalFileSystem()
            path = os.path.abspath(Admin._local_path(root))
        else:
            try:
                fs, path = pafs.FileSystem.from_uri(root)
            except (pa.ArrowInvalid, OSError):
                return None
        sel = pafs.FileSelector(path, recursive=True, allow_not_found=True)
        for info in fs.get_file_info(sel):
            if not info.path.endswith(".parquet") or info.base_name[0] in "._":
                continue
            meta = pq.read_metadata(info.path, filesystem=fs)
            col = meta.schema.names.index("type")
            for g in range(meta.num_row_groups):
                stats = meta.row_group(g).column(col).statistics
                if stats is None or not stats.has_min_max:
                    return None
                if stats.max > CellType.PUT:
                    return True
    return False


def _recorded_delete_kinds(desc: dict) -> frozenset | None:
    """``frozenset()`` — no tombstone kind — when the last footer read
    found the descriptor's current layout PUT-only, else None
    (unknown).  The record names the dirs it describes, so a repoint
    that records nothing (truncate, restore, clone, an older
    descriptor) reads as unknown."""
    rec = desc.get("put_only")
    if rec and rec == {"data_dir": desc.get("data_dir"),
                       "mob_dir": desc.get("mob_dir")}:
        return frozenset()
    return None


def _table_path(name: str) -> str:
    """``ns:table`` -> ``ns/table`` (default namespace stays flat)."""
    if ":" in name:
        ns, tbl = name.split(":", 1)
        return tbl if ns == "default" else f"{ns}/{tbl}"
    return name


class Admin(TopologyMixin):
    def __init__(self, spark: SparkSession, catalog_dir: str):
        self.spark = spark
        self.catalog_dir = catalog_dir
        self._init_topology_state()
        # region-inventory cache for point lookups (the client-side
        # META location cache, client/AsyncNonMetaRegionLocator.java):
        # keyed by descriptor version, so any flush / geometry rewrite
        # (all bump the version) invalidates it
        self._region_cache: dict = {}

    # -- descriptor IO ------------------------------------------------------

    def _desc_path(self, name: str) -> str:
        return f"{self.catalog_dir}/{_table_path(name)}/{_DESCRIPTOR}"

    def _write_desc(self, name: str, desc: dict) -> None:
        self._write_text_state(self._desc_path(name), json.dumps(desc))

    # -- catalog state IO.  Catalog state (descriptors, topology, ACLs,
    # quotas, snapshots, the procedure journal) is METADATA on the hot
    # path of every Admin/gateway/procedure call; going through a Spark
    # job costs ~50-140ms per touch.  Local catalogs read the files
    # directly and write atomically (tmp + os.replace — strictly better
    # than the Spark writer's delete-then-write window); non-local
    # catalog URIs (s3://, hdfs://) keep the Spark reader/writer, which
    # speaks any Hadoop FS.  Both layouts interoperate: the local
    # reader accepts Spark's part-file directories, the Spark reader
    # accepts plain files. ------------------------------------------------

    @staticmethod
    def _is_local_uri(path: str) -> bool:
        return "://" not in path or path.startswith("file:")

    def _read_text_state(self, path: str, what: str) -> str:
        if self._is_local_uri(path):
            import glob
            import os

            local = self._local_path(path)
            try:
                if os.path.isfile(local):
                    return open(local).read()
                parts = sorted(glob.glob(f"{local}/part-*"))
                if not parts:
                    raise FileNotFoundError(local)
                return "\n".join(
                    open(p).read().rstrip("\n") for p in parts
                )
            except OSError as e:
                raise ValueError(f"{what} does not exist") from e
        try:
            rows = self.spark.read.text(path).collect()
        except Exception as e:  # noqa: BLE001
            raise ValueError(f"{what} does not exist") from e
        return "\n".join(r.value for r in rows)

    def _write_text_state(self, path: str, payload: str) -> None:
        if self._is_local_uri(path):
            import os
            import shutil
            import tempfile as _tf

            local = self._local_path(path)
            parent = os.path.dirname(local) or "."
            os.makedirs(parent, exist_ok=True)
            if os.path.isdir(local):
                # a prior Spark-written part-file directory: replace
                # with the plain-file layout
                shutil.rmtree(local)
            fd, tmp = _tf.mkstemp(dir=parent, prefix=".state-")
            try:
                with os.fdopen(fd, "w") as f:
                    f.write(payload)
                os.replace(tmp, local)
            finally:
                if os.path.exists(tmp):
                    os.unlink(tmp)
            return
        self.spark.createDataFrame([(payload,)], "v string").coalesce(
            1
        ).write.mode("overwrite").text(path)

    def _glob_state(self, pattern: str) -> list[str]:
        """Catalog discovery: paths matching ``pattern`` — a plain glob
        locally, the Hadoop-FS glob via Spark otherwise.  Matches both
        state layouts (plain files and Spark part-file dirs: the dir
        path itself matches the glob)."""
        if self._is_local_uri(pattern):
            import glob

            return sorted(glob.glob(self._local_path(pattern)))
        try:
            return sorted(self.spark.read.text(pattern).inputFiles())
        except Exception:  # noqa: BLE001 — nothing matches
            return []

    def _read_desc(self, name: str) -> dict:
        # a corrupt descriptor is NOT a missing table: the JSON error
        # surfaces, only IO errors map to "does not exist"
        return json.loads(
            self._read_text_state(
                self._desc_path(name), f"table {name!r}"
            )
        )

    # -- Admin surface ------------------------------------------------------

    def create_table(
        self, name: str, families: dict[str, FamilyDescriptor] | list[str],
        *, splits: list | None = None,
    ) -> None:
        """Admin.createTable — registers the descriptor and an empty
        layout.  ``splits``: explicit region boundaries (the shell's
        ``SPLITS =>`` form / Admin.createTable(desc, splitKeys)); every
        flush then writes those stable region ranges instead of
        sampling boundaries."""
        if name == "snapshots":
            raise ValueError("'snapshots' is reserved for snapshot manifests")
        if isinstance(families, list):
            families = {f: FamilyDescriptor() for f in families}
        data_dir = f"{_table_path(name)}/cells-v0"
        desc = {
            "enabled": True,
            "version": 0,
            "data_dir": data_dir,
            "families": {f: _fam_dict(d) for f, d in families.items()},
        }
        if splits is not None:
            desc["split_points"] = sorted(splits)
        empty = self.spark.createDataFrame([], schema=cell_schema())
        empty.write.mode("overwrite").parquet(f"{self.catalog_dir}/{data_dir}")
        self._write_desc(name, desc)

    def table(self, name: str, *, now: int | None = None) -> Table:
        """Open a table: layout + descriptor -> Table facade."""
        desc = self._read_desc(name)
        if not desc["enabled"]:
            raise TableNotEnabledError(name)
        fams = {
            f: FamilyDescriptor(**knobs) for f, knobs in desc["families"].items()
        }
        data_dir = desc.get("data_dir", f"{_table_path(name)}/cells")
        sft_files = self._sft_files(name, desc)
        if sft_files:
            # FILE store-file tracker: open exactly the manifest's
            # files (FileBasedStoreFileTracker.java) — no directory
            # listing on the read path; basePath keeps the partition
            # columns (family/_region) deriving so pruning still works
            df = self.spark.read.option(
                "basePath", f"{self.catalog_dir}/{data_dir}"
            ).parquet(*sft_files)
            cells = df.drop("_region") if "_region" in df.columns else df
        elif sft_files is not None:
            # FILE tracker with an EMPTY manifest: the table has no
            # store files — honor that (directory listing would
            # resurrect out-of-band files the tracker must hide)
            cells = self.spark.createDataFrame([], schema=cell_schema())
        else:
            cells = read_table(self.spark, f"{self.catalog_dir}/{data_dir}")
        if desc.get("mob_dir"):
            # MOB store files merge into the scan like the reference's
            # mob store (mob/DefaultMobStoreFlusher.java): same region
            # range-partitioning, so pruning applies to both unions.
            cells = cells.unionByName(
                read_table(self.spark, f"{self.catalog_dir}/{desc['mob_dir']}")
            )
        if fams:
            # only declared families are readable — a family dropped via
            # alter(method='delete') disappears immediately (its data is
            # physically removed on the next flush)
            from pyspark.sql import functions as F

            cells = cells.filter(F.col("family").isin(list(fams)))
        return Table(cells, fams, now, _delete_kinds=_recorded_delete_kinds(desc))

    def flush(self, name: str, table: Table, *, num_regions: int = 32,
              action: str = "write") -> None:
        """Persist a mutated Table back to the layout (memstore flush /
        major-compaction write analog).  Writes a NEW immutable version
        dir and repoints the descriptor — a single write, no
        read-back-and-overwrite, and every snapshot referencing the old
        dir stays valid (the reference's archive-dir discipline).

        ``action`` feeds space-quota enforcement
        (quotas/SpaceViolationPolicy.java): "write" (default),
        "compact" (major_compact's rewrite — allowed under NO_WRITES),
        or "delete" (a deletes-only batch — allowed under NO_INSERTS).

        Client-write flushes are fenced on a STANDBY sync cluster
        (assert_sync_writable); compaction rewrites stay allowed, like
        the reference's server-side operations.

        The flush records whether the layout it wrote is PUT-only, the
        analog of the delete-family count an HBase store file carries
        in its metadata: the driver reads the type statistics in the
        footers of the files just written (no extra Spark job; see
        ``_record_put_only``).  ``Admin.table()`` hands the fact to
        ``Table``, whose reads then skip tombstone masking (see
        operators.resolve.resolve)."""
        if action == "write":
            self.assert_sync_writable(name)
        self.check_space_quota(name, action=action)
        desc = self._read_desc(name)
        v = desc.get("version", 0) + 1
        data_dir = f"{_table_path(name)}/cells-v{v}"
        mob_thr = {
            f: k["mob_threshold"]
            for f, k in desc.get("families", {}).items()
            if k.get("mob_threshold") is not None
        }
        cells = table.cells
        wkw = {"num_regions": num_regions}
        if desc.get("split_points"):
            wkw["split_points"] = desc["split_points"]
        if mob_thr:
            # MOB split (mob/DefaultMobStoreFlusher.java:66): values over
            # the family threshold flush to a separate mob store dir so
            # the hot cell files stay small; both stores share the same
            # range partitioning and merge again at scan time.
            mob_pred = F.lit(False)
            for f, thr in mob_thr.items():
                mob_pred = mob_pred | (
                    (F.col("family") == f)
                    & F.col("value").isNotNull()
                    & (F.length("value") > thr)
                )
            cells = materialize(cells)
            mob_dir = f"{_table_path(name)}/mob-v{v}"
            write_table(cells.filter(mob_pred),
                        f"{self.catalog_dir}/{mob_dir}", **wkw)
            desc["mob_dir"] = mob_dir
            cells = cells.filter(~mob_pred)
        write_table(cells, f"{self.catalog_dir}/{data_dir}", **wkw)
        desc["version"] = v
        desc["data_dir"] = data_dir
        self._record_put_only(desc)
        self._write_desc(name, desc)
        if desc.get("sft") == "FILE":
            # FILE tracker: the flush commits its store-file list
            # atomically with the layout (StoreFileListFile.java)
            self._write_sft_manifest(name, desc)

    def disable_table(self, name: str) -> None:
        desc = self._read_desc(name)
        desc["enabled"] = False
        self._write_desc(name, desc)

    def enable_table(self, name: str) -> None:
        desc = self._read_desc(name)
        desc["enabled"] = True
        self._write_desc(name, desc)

    def delete_table(self, name: str) -> None:
        """Admin.deleteTable — requires disable first, like the
        reference.  Runs as a crash-recoverable stepped procedure
        (master/procedure/DeleteTableProcedure.java): unassign the
        regions, then tombstone the descriptor; data dirs are left for
        storage-level GC.  A crash between the steps resumes via
        ``recover_procedures``."""
        from hbase_spark.procedures import (
            DeleteTableProcedure, ProcedureExecutor,
        )

        ProcedureExecutor(self).submit(DeleteTableProcedure(table=name))

    def alter(
        self,
        name: str,
        family: str,
        descriptor: FamilyDescriptor | None = None,
        *,
        method: str = "modify",
    ) -> None:
        """Admin.modifyTable / shell `alter` (shell/commands/alter.rb):
        add or modify a column family's schema knobs, or drop a family
        (method='delete').  Dropping a family drops its data on the
        next flush (here: immediately filtered from reads via the
        descriptor, physically on the next flush — the reference's
        store-directory removal timing)."""
        desc = self._read_desc(name)
        if method == "delete":
            if family not in desc["families"]:
                raise ValueError(f"family {family!r} not in table {name!r}")
            del desc["families"][family]
        else:
            d = descriptor or FamilyDescriptor()
            desc["families"][family] = _fam_dict(d)
        self._write_desc(name, desc)

    def truncate_table(self, name: str) -> None:
        """shell `truncate` (shell/commands/truncate.rb): drop all data,
        keep the schema.  A new empty version dir, so snapshots taken
        before the truncate still restore.  Runs as a crash-recoverable
        stepped procedure (TruncateTableProcedure.java): layout first,
        descriptor repoint last — a crash between leaves the table
        intact and ``recover_procedures`` completes the repoint."""
        from hbase_spark.procedures import (
            ProcedureExecutor, TruncateTableProcedure,
        )

        ProcedureExecutor(self).submit(TruncateTableProcedure(table=name))

    def is_table_enabled(self, name: str) -> bool:
        """Admin.isTableEnabled / shell `is_enabled`."""
        return bool(self._read_desc(name)["enabled"])

    def is_table_disabled(self, name: str) -> bool:
        """Admin.isTableDisabled / shell `is_disabled`."""
        return not self.is_table_enabled(name)

    def list_enabled_tables(self) -> list[str]:
        """shell `list_enabled_tables`."""
        return [t for t in self.list_tables() if self.is_table_enabled(t)]

    def list_disabled_tables(self) -> list[str]:
        """shell `list_disabled_tables`."""
        return [t for t in self.list_tables() if self.is_table_disabled(t)]

    def clone_table_schema(self, src: str, dst: str) -> None:
        """Admin.cloneTableSchema / shell `clone_table_schema` — a new
        EMPTY table with the source's family descriptors (no data)."""
        if self.table_exists(dst):
            raise ValueError(f"table {dst!r} already exists")
        desc = self._read_desc(src)
        fams = {
            f: FamilyDescriptor(**knobs) for f, knobs in desc["families"].items()
        }
        self.create_table(dst, fams)

    def compact(self, name: str, *, num_regions: int = 32,
                observers: list | None = None) -> None:
        """Admin.compact / shell `compact` — MINOR compaction: coalesce
        the layout into ``num_regions`` sorted range files as a new
        immutable version dir.  No cell is dropped (the reference's
        minor compaction likewise retains deletes —
        rs/compactions/RatioBasedCompactionPolicy.java picks files,
        ScanQueryMatcher keeps tombstones); contrast ``major_compact``
        which applies the tombstone/TTL/version rewrite.  Honors the
        compaction master switch (shell `compaction_switch`).

        ``observers`` with compaction-selection hooks switch to the
        reference's FILE-SELECTING minor compaction
        (RegionObserver.java preCompactSelection :268 /
        postCompactSelection :290 around the compaction policy's
        store-file pick): candidates are the table's current region
        files, ``pre_compact_selection`` may shrink the list, and only
        the selected files are coalesced — the rest are carried into
        the new layout version untouched, exactly like unselected
        store files.  Selection is store-scoped in the reference, so
        the selected files must share one family dir."""
        self._require_switch("compaction")
        if observers and any(
            getattr(ob, "pre_compact_selection", None)
            or getattr(ob, "post_compact_selection", None)
            for ob in observers
        ):
            candidates = [
                r.region_file for r in self._cached_region_inventory(name)
            ]
            selected = list(candidates)
            for ob in observers:
                if getattr(ob, "pre_compact_selection", None):
                    selected = ob.pre_compact_selection(selected)
            if bad := set(selected) - set(candidates):
                raise ValueError(f"selection outside candidates: {bad}")
            for ob in observers:
                if getattr(ob, "post_compact_selection", None):
                    ob.post_compact_selection(selected)
            if len(selected) < 2:  # nothing to coalesce — like an
                return             # empty policy selection
            merged = self.spark.read.parquet(
                *[self._local_path(f) for f in selected]
            )

            def write_parts(new_root, fam_dir, v):
                self._write_region_file(
                    merged, new_root, fam_dir, f"compact-v{v}.parquet"
                )

            with self._procedure("COMPACT_REGIONS", name):
                self._rewrite_regions(name, selected, write_parts)
            return
        t = self.table(name)
        self.flush(name, t, num_regions=num_regions, action="compact")

    def compaction_state(self, name: str) -> dict:
        """Admin.getCompactionState / shell `compaction_state`.  Our
        compactions are synchronous Spark jobs, so between calls the
        state is always NONE; the row reports layout version and
        region count for observability."""
        desc = self._read_desc(name)
        try:
            n = len(self._cached_region_inventory(name))
        except Exception:  # noqa: BLE001 — empty/disabled layout
            n = 0
        return {
            "state": "NONE",
            "version": desc.get("version", 0),
            "regions": n,
        }

    def major_compact(self, name: str, *, now: int | None = None,
                      num_regions: int = 32) -> None:
        """Admin.majorCompact / shell `major_compact`: rewrite the
        table's layout with tombstones applied and versions pruned
        under the family schema knobs, as a NEW immutable version dir
        (snapshots referencing the old dir stay valid).  Honors the
        compaction master switch (shell `compaction_switch`)."""
        self._require_switch("compaction")
        self.flush(name, self.table(name, now=now).compact(),
                   num_regions=num_regions, action="compact")

    # -- region introspection (shell list_regions / get_splits /
    # locate_region; HRegionInfo over the layout's range files) ------------

    def list_regions(self, name: str):
        """shell `list_regions`: one row per layout file (the region
        analog) with its key range and cell count.  Aggregation only —
        the per-file min/max comes from a column scan, not a collect."""
        from pyspark.sql import functions as F

        t = self.table(name)
        return (
            t.cells.groupBy(F.input_file_name().alias("region_file"))
            .agg(
                F.min("row").alias("start_key"),
                F.max("row").alias("end_key"),
                F.count("*").alias("cell_count"),
                F.sum(
                    F.octet_length("row")
                    + F.octet_length("qualifier")
                    + F.coalesce(F.octet_length("value"), F.lit(0))
                ).alias("data_bytes"),
            )
            .orderBy("start_key")
        )

    def get_splits(self, name: str) -> list[str]:
        """shell `get_splits`: the region start keys after the first."""
        return [
            r.start_key for r in self._cached_region_inventory(name)
        ][1:]

    # -- region geometry (shell `split` / `merge_region`;
    # Admin.split/mergeRegionsAsync, server/util/RegionSplitter.java).
    # Region = layout file.  Both operations rewrite ONLY the affected
    # file(s) into a new immutable version dir — every other region
    # file is copied through untouched — so the cost is O(one region),
    # not O(table): the same daughter-region rewrite discipline the
    # reference applies (split writes two daughters referencing half
    # the parent each; merge writes one merged region).  Parquet
    # min/max row stats on the new files keep range pruning exact.
    # ----------------------------------------------------------------------

    def _record_put_only(self, desc: dict) -> None:
        """Set ``desc["put_only"]`` to the dirs of its current layout
        when their footers hold no tombstone, else drop it (unknown)."""
        desc.pop("put_only", None)
        dirs = {"data_dir": desc.get("data_dir"), "mob_dir": desc.get("mob_dir")}
        roots = [f"{self.catalog_dir}/{d}" for d in dirs.values() if d]
        if dirs["data_dir"] and _holds_tombstones(roots) is False:
            desc["put_only"] = dirs

    def _abs_data_dir(self, desc: dict, name: str) -> str:
        return (
            f"{self.catalog_dir}/"
            f"{desc.get('data_dir', f'{_table_path(name)}/cells')}"
        )

    @staticmethod
    def _local_path(region_file: str) -> str:
        for pre in ("file://", "file:"):
            if region_file.startswith(pre):
                return "/" + region_file[len(pre):].lstrip("/")
        return region_file

    def _rewrite_regions(self, name: str, drop_files: list[str], write_parts,
                         observers: list | None = None):
        """Shared split/merge machinery: new version dir = all current
        region files except ``drop_files`` (copied through), plus the
        files produced by ``write_parts(new_root, family_subdir)``.

        ``observers`` with region-lifecycle hooks (RegionObserver.java
        preClose :322 / postClose :331 / preOpen :112 / postOpen :120)
        are notified as the rewritten regions retire and their
        replacements appear: pre_close fires before the rewrite
        starts, pre_open fires per new region file before the catalog
        flips to the new version dir (the serve-handoff analog), and
        the post hooks fire after the flip."""
        import glob
        import os
        import shutil

        obs = observers or []
        for f in drop_files:  # preClose: the region is about to retire
            for ob in obs:
                if getattr(ob, "pre_close", None):
                    ob.pre_close(f)
        desc = self._read_desc(name)
        src_root = os.path.abspath(self._abs_data_dir(desc, name))
        v = desc.get("version", 0) + 1
        new_rel = f"{_table_path(name)}/cells-v{v}"
        new_root = f"{self.catalog_dir}/{new_rel}"
        dropped = {os.path.abspath(self._local_path(f)) for f in drop_files}
        fam_dirs, carried = set(), set()
        for f in glob.glob(f"{src_root}/**/*.parquet", recursive=True):
            if os.path.abspath(f) in dropped:
                fam_dirs.add(os.path.dirname(os.path.relpath(f, src_root)))
                continue
            rel = os.path.relpath(f, src_root)
            dst = f"{new_root}/{rel}"
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copy2(f, dst)
            carried.add(os.path.abspath(dst))
        if len(fam_dirs) != 1:
            raise ValueError(
                f"regions to rewrite must sit in one family dir, got {fam_dirs}"
            )
        write_parts(new_root, fam_dirs.pop(), v)
        opened = sorted(
            f
            for f in glob.glob(f"{new_root}/**/*.parquet", recursive=True)
            if os.path.abspath(f) not in carried
        )
        for f in opened:  # preOpen: daughters exist, not yet serving
            for ob in obs:
                if getattr(ob, "pre_open", None):
                    ob.pre_open(f)
        desc["version"] = v
        desc["data_dir"] = new_rel
        self._record_put_only(desc)
        self._write_desc(name, desc)  # the catalog flip = the handoff
        if desc.get("sft") == "FILE":
            # geometry commits its store-file list atomically with the
            # flip, exactly like flush (StoreFileListFile.java) — a
            # FILE-tracked table must never depend on the read-path
            # self-heal after its OWN region transitions
            self._write_sft_manifest(name, desc)
        for f in opened:
            for ob in obs:
                if getattr(ob, "post_open", None):
                    ob.post_open(f)
        for f in drop_files:
            for ob in obs:
                if getattr(ob, "post_close", None):
                    ob.post_close(f)

    def _write_region_file(self, df, new_root: str, fam_dir: str, fname: str):
        import glob
        import os
        import shutil

        sort_cols = [c for c in ("row", "family", "qualifier") if c in df.columns]
        tmp = f"{new_root}__tmp_{fname}"
        (
            df.coalesce(1)
            .sortWithinPartitions(
                *sort_cols, F.col("ts").desc(), F.col("seq").desc()
            )
            .write.mode("overwrite")
            .option("parquet.bloom.filter.enabled#row", "true")
            .parquet(tmp)
        )
        parts = glob.glob(f"{tmp}/*.parquet")
        dst_dir = os.path.join(new_root, fam_dir)
        os.makedirs(dst_dir, exist_ok=True)
        if parts:
            shutil.move(parts[0], os.path.join(dst_dir, fname))
        shutil.rmtree(tmp, ignore_errors=True)

    def split_region(self, name: str, split_point, *,
                     observers: list | None = None) -> None:
        """shell `split 't', 'splitkey'`: split the region containing
        ``split_point`` into two daughters at that key.  Honors the
        split master switch (MasterSwitchType.SPLIT).  ``observers``
        receive the region-lifecycle hooks (see _rewrite_regions)."""
        self._require_switch("split")
        regions = self._cached_region_inventory(name)
        target = next(
            (
                r
                for r in regions
                if r.start_key <= split_point <= r.end_key
            ),
            None,
        )
        if target is None:
            raise ValueError(
                f"no region of {name!r} contains split point {split_point!r}"
            )
        part = self.spark.read.parquet(self._local_path(target.region_file))

        def write_parts(new_root, fam_dir, v):
            lo = part.filter(F.col("row") < F.lit(split_point))
            hi = part.filter(F.col("row") >= F.lit(split_point))
            self._write_region_file(lo, new_root, fam_dir, f"split-v{v}-a.parquet")
            self._write_region_file(hi, new_root, fam_dir, f"split-v{v}-b.parquet")

        with self._procedure("SPLIT_REGION", name):
            self._rewrite_regions(name, [target.region_file], write_parts,
                                  observers=observers)

    def truncate_region(self, name: str, row, *,
                        observers: list | None = None) -> None:
        """shell `truncate_region 't', 'row'` (truncate_region.rb):
        delete all data of the single region containing ``row`` —
        the same immutable rewrite as split/merge, with the region's
        file dropped and nothing written in its place.  The region
        boundary itself disappears with its file (as in the reference,
        where the region is recreated empty and the next write
        re-materializes it)."""
        target = self.locate_region(name, row)

        def write_parts(new_root, fam_dir, v):  # nothing replaces it
            pass

        with self._procedure("TRUNCATE_REGION", name):
            self._rewrite_regions(name, [target["region_file"]], write_parts,
                                  observers=observers)

    def merge_region(self, name: str, row_a, row_b, *,
                     observers: list | None = None) -> None:
        """shell `merge_region`: merge the (distinct) regions containing
        ``row_a`` and ``row_b`` into one.  Like the reference's
        non-adjacent merge warning, adjacency is not required — the
        merged file simply covers the union of both ranges.  Honors the
        merge master switch (MasterSwitchType.MERGE)."""
        self._require_switch("merge")
        ra = self.locate_region(name, row_a)
        rb = self.locate_region(name, row_b)
        if ra["region_file"] == rb["region_file"]:
            raise ValueError("rows resolve to the same region")
        files = [ra["region_file"], rb["region_file"]]
        merged = self.spark.read.parquet(*[self._local_path(f) for f in files])

        def write_parts(new_root, fam_dir, v):
            self._write_region_file(
                merged, new_root, fam_dir, f"merge-v{v}.parquet"
            )

        with self._procedure("MERGE_TABLE_REGIONS", name):
            self._rewrite_regions(name, files, write_parts,
                                  observers=observers)

    def _scan_region_boundaries(self, name: str) -> list:
        """One slim boundary scan: (region_file, start_key, end_key)
        only — the row column alone, so parquet column pruning keeps
        this cheap even on value-heavy tables (unlike the shell's full
        ``list_regions`` report, which also sums value bytes)."""
        from pyspark.sql import functions as F

        t = self.table(name)
        return (
            t.cells.groupBy(F.input_file_name().alias("region_file"))
            .agg(F.min("row").alias("start_key"),
                 F.max("row").alias("end_key"))
            .orderBy("start_key")
            .collect()
        )

    def _cached_region_inventory(self, name: str) -> list:
        """The collected region-boundary list, memoized per descriptor
        state — one boundary scan per (version, data_dir, mob_dir,
        sft), then pure driver-side lookups until the next
        flush/geometry op."""
        desc = self._read_desc(name)
        key = (desc.get("version", 0), desc.get("data_dir"),
               desc.get("mob_dir"), desc.get("sft"))
        hit = self._region_cache.get(name)
        if hit is not None and hit[0] == key:
            return hit[1]
        rows = self._scan_region_boundaries(name)
        self._region_cache[name] = (key, rows)
        return rows

    def locate_region(self, name: str, row) -> dict:
        """shell `locate_region 't', 'row'`: the region whose range
        holds ``row`` (regions are sorted; the owner is the last region
        whose start_key <= row, mirroring MetaTableAccessor's
        floor-entry lookup).

        Unlike the reference — where the first region's start key is
        the empty byte string and genuinely owns every preceding row —
        ``start_key`` here is the *observed minimum* of the region's
        data, so a row sorting before it still floors to the first
        region by convention; such lookups carry ``out_of_range=True``
        so callers can distinguish ownership from the floor fallback.

        The boundary scan runs ONCE per table version (the layout is
        immutable version dirs, so boundaries cannot drift under a
        cached inventory) — repeated lookups are driver-side floor
        searches, like the reference's client META cache."""
        regions = self._cached_region_inventory(name)
        if not regions:
            raise ValueError(f"table {name!r} has no regions")
        owner = regions[0]
        out_of_range = not (
            owner.start_key is None or row >= owner.start_key
        )
        for r in regions:
            if r.start_key is not None and row >= r.start_key:
                owner = r
        return {
            "region_file": owner.region_file,
            "start_key": owner.start_key,
            "end_key": owner.end_key,
            "out_of_range": out_of_range,
        }

    # -- ACLs (AccessController's acl table: server/security/access/
    # AccessController.java; shell grant/revoke/user_permission.
    # Permission letters as in the shell: R read, W write, X execute,
    # C create, A admin) --------------------------------------------------

    def _acl_path(self) -> str:
        return f"{self.catalog_dir}/acl.json"

    def _read_acl(self) -> dict:
        try:
            return self._read_json(self._acl_path(), "acl")
        except ValueError:
            return {"global": {}, "tables": {}}

    def grant(self, user: str, perms: str, table: str | None = None) -> None:
        """shell `grant 'user', 'RW'[, 't']` — global or per-table."""
        bad = set(perms.upper()) - set("RWXCA")
        if bad:
            raise ValueError(f"unknown permission letters {sorted(bad)}")
        acl = self._read_acl()
        scope = acl["global"] if table is None else acl["tables"].setdefault(table, {})
        scope[user] = "".join(
            sorted(set(scope.get(user, "")) | set(perms.upper()))
        )
        self._write_json(self._acl_path(), acl)

    def revoke(self, user: str, table: str | None = None) -> None:
        """shell `revoke 'user'[, 't']`."""
        acl = self._read_acl()
        scope = acl["global"] if table is None else acl["tables"].get(table, {})
        scope.pop(user, None)
        self._write_json(self._acl_path(), acl)

    def user_permission(self, table: str | None = None) -> dict[str, str]:
        """shell `user_permission` — effective grants (global merged
        with per-table, like the reference's union of scopes)."""
        acl = self._read_acl()
        if table is None:
            return dict(acl["global"])
        merged = dict(acl["global"])
        for user, perms in acl["tables"].get(table, {}).items():
            merged[user] = "".join(sorted(set(merged.get(user, "")) | set(perms)))
        return merged

    def check_permission(self, user: str, table: str, action: str) -> bool:
        """AccessController.permissionGranted — does ``user`` hold
        ``action`` (one of RWXCA) on ``table``, globally or per-table?"""
        return action.upper() in self.user_permission(table).get(user, "")

    def table_as(self, user: str, name: str, *, now: int | None = None) -> Table:
        """Open a table AS a user: requires the R permission
        (AccessController.preScannerOpen); raises AccessDeniedError
        otherwise, like the reference's coprocessor veto."""
        if not self.check_permission(user, name, "R"):
            raise AccessDeniedError(f"user {user!r} lacks R on {name!r}")
        return self.table(name, now=now)

    # -- visibility label registry (VisibilityController's labels table:
    # server/security/visibility/VisibilityController.java — add_labels /
    # set_auths / get_auths / clear_auths / list_labels shell commands) ----

    def _labels_path(self) -> str:
        return f"{self.catalog_dir}/visibility-labels.json"

    def _read_labels(self) -> dict:
        try:
            return self._read_json(self._labels_path(), "labels")
        except ValueError:
            return {"labels": [], "auths": {}}

    def add_labels(self, labels: list[str]) -> None:
        """shell `add_labels` — register visibility labels (idents only,
        matching the expression grammar)."""
        import re as _re

        reg = self._read_labels()
        for lab in labels:
            if not _re.fullmatch(r"[A-Za-z0-9_.\-]+", lab):
                raise ValueError(f"invalid label {lab!r}")
            if lab not in reg["labels"]:
                reg["labels"].append(lab)
        self._write_json(self._labels_path(), reg)

    def list_labels(self) -> list[str]:
        """shell `list_labels`."""
        return sorted(self._read_labels()["labels"])

    def set_auths(self, user: str, labels: list[str]) -> None:
        """shell `set_auths 'user', ['A', 'B']` — labels must exist."""
        reg = self._read_labels()
        unknown = [l for l in labels if l not in reg["labels"]]
        if unknown:
            raise ValueError(f"labels not registered: {unknown}")
        have = set(reg["auths"].get(user, []))
        reg["auths"][user] = sorted(have | set(labels))
        self._write_json(self._labels_path(), reg)

    def get_auths(self, user: str) -> list[str]:
        """shell `get_auths 'user'`."""
        return list(self._read_labels()["auths"].get(user, []))

    def clear_auths(self, user: str, labels: list[str] | None = None) -> None:
        """shell `clear_auths` — remove some (or all) of a user's auths."""
        reg = self._read_labels()
        if labels is None:
            reg["auths"].pop(user, None)
        else:
            reg["auths"][user] = sorted(
                set(reg["auths"].get(user, [])) - set(labels)
            )
        self._write_json(self._labels_path(), reg)

    def table_exists(self, name: str) -> bool:
        """Admin.tableExists / shell `exists`."""
        try:
            return not self._read_desc(name).get("deleted", False)
        except ValueError:
            return False

    def list_tables(self) -> list[str]:
        import re

        names = set()
        for pattern, rx in (
            (f"{self.catalog_dir}/*/{_DESCRIPTOR}", r"/([^/]+)/" + _DESCRIPTOR),
            (
                f"{self.catalog_dir}/*/*/{_DESCRIPTOR}",
                r"/([^/]+)/([^/]+)/" + _DESCRIPTOR,
            ),
        ):
            for f in self._glob_state(pattern):
                m = re.search(rx, f)
                if not m:
                    continue
                name = (
                    m.group(1)
                    if m.lastindex == 1
                    else f"{m.group(1)}:{m.group(2)}"
                )
                if not self._read_desc(name).get("deleted"):
                    names.add(name)
        return sorted(names)

    def describe(self, name: str) -> dict:
        return self._read_desc(name)

    # -- snapshots (zero-copy manifests) ------------------------------------

    def _snap_path(self, snapshot: str) -> str:
        return f"{self.catalog_dir}/snapshots/{snapshot}.json"

    def _write_json(self, path: str, obj: dict) -> None:
        self._write_text_state(path, json.dumps(obj))

    def _read_json(self, path: str, what: str) -> dict:
        return json.loads(self._read_text_state(path, what))

    def snapshot(
        self,
        snapshot: str,
        name: str,
        *,
        ttl_sec: int | None = None,
        created_at: int | None = None,
    ) -> None:
        """Admin.snapshot (snapshot/SnapshotManifest.java): record a
        manifest referencing the table's current immutable version dir.
        O(1) metadata — no data is read or copied.  ``ttl_sec`` is the
        reference's snapshot TTL (shell `snapshot 't','s',{TTL=>n}`):
        ``snapshot_cleaner_chore`` deletes it once expired."""
        import time as _time

        desc = self._read_desc(name)
        self._write_json(
            self._snap_path(snapshot),
            {
                "table": name,
                "data_dir": desc.get("data_dir", f"{_table_path(name)}/cells"),
                "mob_dir": desc.get("mob_dir"),
                "families": desc["families"],
                "ttl_sec": ttl_sec,
                "created_at": (
                    int(_time.time()) if created_at is None else created_at
                ),
            },
        )

    def snapshot_cleaner_chore(self, *, now: int | None = None) -> list[str]:
        """SnapshotCleanerChore (master/cleaner/SnapshotCleanerChore.java):
        delete snapshots whose TTL has elapsed.  Honors the
        `snapshot_cleanup` switch (shell snapshot_cleanup_switch);
        snapshots without a TTL never expire.  Run `cleaner_chore`
        afterwards to reclaim the version dirs they pinned."""
        import time as _time

        if not self.is_switch_enabled("snapshot_cleanup"):
            return []
        now = int(_time.time()) if now is None else now
        deleted = []
        for s in self.list_snapshots():
            man = self._read_json(self._snap_path(s), f"snapshot {s!r}")
            ttl = man.get("ttl_sec")
            if ttl and man.get("created_at", 0) + ttl <= now:
                self.delete_snapshot(s)
                deleted.append(s)
        return deleted

    def clone_snapshot(self, snapshot: str, name: str) -> None:
        """Admin.cloneSnapshot: a new table whose descriptor points at
        the snapshot's version dir.  Copy-on-write: the clone's first
        flush writes its OWN new version dir, leaving the shared one
        untouched (the reference's HFile-link mechanism)."""
        man = self._read_json(self._snap_path(snapshot), f"snapshot {snapshot!r}")
        if self.table_exists(name):
            raise ValueError(f"table {name!r} already exists")
        self._write_desc(
            name,
            {
                "enabled": True,
                "version": 0,
                "data_dir": man["data_dir"],
                "mob_dir": man.get("mob_dir"),
                "families": man["families"],
            },
        )

    def restore_snapshot(self, snapshot: str) -> None:
        """Admin.restoreSnapshot: repoint the (disabled) source table at
        the snapshot's version dir and schema."""
        man = self._read_json(self._snap_path(snapshot), f"snapshot {snapshot!r}")
        desc = self._read_desc(man["table"])
        if desc["enabled"]:
            raise RuntimeError(
                f"table {man['table']!r} must be disabled before restore"
            )
        with self._procedure("RESTORE_SNAPSHOT", man["table"]):
            desc["data_dir"] = man["data_dir"]
            desc["mob_dir"] = man.get("mob_dir")
            desc["families"] = man["families"]
            self._write_desc(man["table"], desc)

    def table_from_snapshot(self, snapshot: str, *, now: int | None = None) -> Table:
        """TableSnapshotInputFormat (mr/TableSnapshotInputFormat.java:84):
        open a snapshot directly for reading — scan its immutable
        version dir with the snapshotted family schema, no clone, no
        catalog entry, no servers.  The standard way to run a heavy
        analytical scan without touching the live table."""
        man = self._read_json(self._snap_path(snapshot), f"snapshot {snapshot!r}")
        fams = {
            f: FamilyDescriptor(**knobs) for f, knobs in man["families"].items()
        }
        cells = read_table(self.spark, f"{self.catalog_dir}/{man['data_dir']}")
        if man.get("mob_dir"):
            cells = cells.unionByName(
                read_table(self.spark, f"{self.catalog_dir}/{man['mob_dir']}")
            )
        if fams:
            from pyspark.sql import functions as F

            cells = cells.filter(F.col("family").isin(list(fams)))
        return Table(cells, fams, now)

    def export_snapshot(self, snapshot: str, dest: "Admin") -> None:
        """ExportSnapshot (snapshot/ExportSnapshot.java): materialize a
        snapshot into ANOTHER catalog — manifest plus data files — so
        the destination can clone/restore it with no reference back to
        this catalog.  The reference streams HFiles between clusters;
        here the copy is a distributed parquet read+write (the one
        snapshot tool that moves data — in-catalog snapshot ops stay
        zero-copy)."""
        man = self._read_json(self._snap_path(snapshot), f"snapshot {snapshot!r}")
        dest_dir = f"exported/{snapshot}/cells"
        self.spark.read.parquet(
            f"{self.catalog_dir}/{man['data_dir']}"
        ).write.mode("errorifexists").parquet(f"{dest.catalog_dir}/{dest_dir}")
        dest._write_json(
            dest._snap_path(snapshot), {**man, "data_dir": dest_dir}
        )

    def delete_snapshot(self, snapshot: str) -> None:
        self._read_json(self._snap_path(snapshot), f"snapshot {snapshot!r}")
        self._write_json(self._snap_path(snapshot), {"deleted": True})

    def list_snapshots(self) -> list[str]:
        import re

        names = set()
        for f in self._glob_state(f"{self.catalog_dir}/snapshots/*.json"):
            m = re.search(r"/snapshots/([^/]+)\.json/", f + "/")
            if m:
                name = m.group(1)
                if not self._read_json(
                    self._snap_path(name), "snapshot"
                ).get("deleted"):
                    names.add(name)
        return sorted(names)

    # -- namespaces ---------------------------------------------------------

    def create_namespace(self, ns: str) -> None:
        """Admin.createNamespace (NamespaceDescriptor.java)."""
        if ns in ("default", "snapshots") or "/" in ns or ":" in ns:
            raise ValueError(f"invalid namespace name {ns!r}")
        self._write_json(
            f"{self.catalog_dir}/{ns}/{_NAMESPACE_DESC}", {"name": ns}
        )

    def list_namespaces(self) -> list[str]:
        import re

        names = {"default"}
        for f in self._glob_state(f"{self.catalog_dir}/*/{_NAMESPACE_DESC}"):
            m = re.search(r"/([^/]+)/" + _NAMESPACE_DESC, f)
            if m:
                d = self._read_json(
                    f"{self.catalog_dir}/{m.group(1)}/{_NAMESPACE_DESC}", "ns"
                )
                if not d.get("deleted"):
                    names.add(m.group(1))
        return sorted(names)

    def list_namespace_tables(self, ns: str) -> list[str]:
        """shell `list_namespace_tables 'ns'`."""
        self.describe_namespace(ns)  # raises if the namespace is unknown
        if ns == "default":
            return [t for t in self.list_tables() if ":" not in t]
        return [t for t in self.list_tables() if t.startswith(f"{ns}:")]

    def delete_table_snapshots(self, table: str) -> list[str]:
        """shell `delete_table_snapshots 't'` — drop every snapshot of
        one table; returns the deleted snapshot names."""
        gone = []
        for snap in self.list_snapshots():
            man = self._read_json(self._snap_path(snap), f"snapshot {snap!r}")
            if man.get("table") == table:
                self.delete_snapshot(snap)
                gone.append(snap)
        return gone

    def delete_all_snapshot(self, regex: str) -> list[str]:
        """shell `delete_all_snapshot 'regex'`."""
        import re as _re

        rx = _re.compile(regex)
        gone = []
        for snap in self.list_snapshots():
            if rx.fullmatch(snap):
                self.delete_snapshot(snap)
                gone.append(snap)
        return gone

    def describe_namespace(self, ns: str) -> dict:
        if ns == "default":
            return {"name": "default"}
        return self._read_json(
            f"{self.catalog_dir}/{ns}/{_NAMESPACE_DESC}", f"namespace {ns!r}"
        )

    def drop_namespace(self, ns: str) -> None:
        """Admin.deleteNamespace — refuses while tables remain, like the
        reference's ConstraintException."""
        desc = self.describe_namespace(ns)
        remaining = [t for t in self.list_tables() if t.startswith(f"{ns}:")]
        if remaining:
            raise RuntimeError(f"namespace {ns!r} still has tables: {remaining}")
        desc["deleted"] = True
        self._write_json(f"{self.catalog_dir}/{ns}/{_NAMESPACE_DESC}", desc)

    # -- quotas (client/Admin.java setQuota/getQuotaSettings;
    # quotas/SpaceViolationPolicy.java, quotas/ThrottleType.java;
    # enforcement analog of RegionServerSpaceQuotaManager.java and
    # the QuotaObserverChore).  Space usage is the layout dir's
    # ContentSummary — exactly what FileSystemUtilizationChore
    # measures — read through the Hadoop FileSystem API so the same
    # code works on local paths, HDFS and object stores.
    # ----------------------------------------------------------------------

    def _quotas_path(self) -> str:
        return f"{self.catalog_dir}/quotas.json"

    def _read_quotas(self) -> dict:
        try:
            return self._read_json(self._quotas_path(), "quotas")
        except ValueError:
            return {"space": {}, "throttle": {}}

    def _fs_exists(self, path: str) -> bool:
        jvm = self.spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(path)
        fs = p.getFileSystem(self.spark._jsc.hadoopConfiguration())
        return bool(fs.exists(p))

    def _dir_bytes(self, path: str) -> int:
        jvm = self.spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(path)
        fs = p.getFileSystem(self.spark._jsc.hadoopConfiguration())
        if not fs.exists(p):
            return 0
        return int(fs.getContentSummary(p).getLength())

    def set_space_quota(
        self, *, table: str | None = None, namespace: str | None = None,
        limit: int | None = None, policy: str = "NO_WRITES",
        remove: bool = False,
    ) -> None:
        """shell `set_quota TYPE => SPACE, LIMIT => ..., POLICY => ...`.

        Exactly one of ``table``/``namespace``; ``remove=True`` (the
        shell's `LIMIT => NONE`) drops the quota."""
        from hbase_spark.quotas import SPACE_POLICIES

        if (table is None) == (namespace is None):
            raise ValueError("exactly one of table/namespace required")
        key = table if table is not None else f"ns::{namespace}"
        q = self._read_quotas()
        if remove:
            q["space"].pop(key, None)
        else:
            if policy not in SPACE_POLICIES:
                raise ValueError(f"unknown space policy {policy!r}")
            if limit is None or limit < 0:
                raise ValueError("space quota needs a byte limit >= 0")
            q["space"][key] = {"limit": int(limit), "policy": policy}
        self._write_json(self._quotas_path(), q)

    def set_throttle_quota(
        self, *, user: str | None = None, table: str | None = None,
        throttle_type: str = "REQUEST_NUMBER", limit: int | None = None,
        interval_ms: int = 1000, refill: str = "fixed",
        remove: bool = False, regionserver: bool = False,
    ) -> None:
        """shell `set_quota TYPE => THROTTLE, ...` — user and/or table
        scoped; the most specific setting wins at lookup.
        ``regionserver=True`` stores the machine-level quota (the
        shell's ``REGIONSERVER => 'all'`` scope) — the pool
        exceed-throttle borrowing draws from."""
        from hbase_spark.quotas import THROTTLE_TYPES

        if regionserver:
            key = "rs=all"
        elif user is None and table is None:
            raise ValueError("at least one of user/table required")
        else:
            key = ",".join(
                p for p in (
                    f"u={user}" if user else "", f"t={table}" if table else ""
                ) if p
            )
        q = self._read_quotas()
        if remove:
            q["throttle"].pop(key, None)
        else:
            if throttle_type not in THROTTLE_TYPES:
                raise ValueError(f"unknown throttle type {throttle_type!r}")
            if limit is None or limit <= 0:
                raise ValueError("throttle quota needs a positive limit")
            q["throttle"][key] = {
                "type": throttle_type, "limit": int(limit),
                "interval_ms": int(interval_ms), "refill": refill,
            }
        self._write_json(self._quotas_path(), q)

    def list_quotas(self) -> dict:
        """shell `list_quotas`."""
        return self._read_quotas()

    def throttle_limiter(self, *, user: str | None = None,
                         table: str | None = None):
        """Most-specific throttle setting -> RateLimiter, or None.

        Precedence mirrors QuotaCache: (user, table) > user > table.
        The `rpc_throttle` master switch (shell enable/disable_rpc_
        throttle; Admin.switchRpcThrottle) gates ALL throttle
        enforcement — disabled means no limiter, exactly the
        reference's RegionServerRpcQuotaManager bypass.  With the
        exceed_throttle_quota switch on and a region server quota set
        (``regionserver=True``), the limiter is an ExceedGate:
        over-quota requests draw from the machine-level bucket
        (ExceedOperationQuota.java)."""
        from hbase_spark.quotas import ExceedGate, limiter_from_setting

        if not self.is_switch_enabled("rpc_throttle"):
            return None
        th = self._read_quotas()["throttle"]
        for key in (
            f"u={user},t={table}" if user and table else None,
            f"u={user}" if user else None,
            f"t={table}" if table else None,
        ):
            if key is not None and key in th:
                limiter = limiter_from_setting(th[key])
                if (
                    self.is_switch_enabled("exceed_throttle_quota")
                    and "rs=all" in th
                ):
                    return ExceedGate(
                        limiter, limiter_from_setting(th["rs=all"])
                    )
                return limiter
        if "rs=all" in th:
            # no user/table setting: the machine-level cap still applies
            return limiter_from_setting(th["rs=all"])
        return None

    def _space_quota_for(self, name: str) -> dict | None:
        q = self._read_quotas()["space"]
        if name in q:
            return q[name]
        ns = name.split(":", 1)[0] if ":" in name else "default"
        return q.get(f"ns::{ns}")

    def space_usage(self, name: str) -> int:
        """On-disk bytes of the table's CURRENT layout version,
        mob store included (FileSystemUtilizationChore analog)."""
        desc = self._read_desc(name)
        total = self._dir_bytes(self._abs_data_dir(desc, name))
        if desc.get("mob_dir"):
            total += self._dir_bytes(
                f"{self.catalog_dir}/{desc['mob_dir']}"
            )
        return total

    def get_space_quota_snapshot(self, name: str) -> dict:
        """Admin.getCurrentSpaceQuotaSnapshot analog."""
        quota = self._space_quota_for(name)
        usage = self.space_usage(name)
        if quota is None:
            return {"usage": usage, "limit": None, "in_violation": False,
                    "policy": None}
        return {
            "usage": usage, "limit": quota["limit"],
            "in_violation": usage > quota["limit"],
            "policy": quota["policy"],
        }

    def check_space_quota(self, name: str, *, action: str = "write") -> None:
        """Write-path enforcement (RegionServerSpaceQuotaManager).

        Policy semantics follow SpaceViolationPolicy.java: DISABLE and
        NO_WRITES_COMPACTIONS reject every materializing write;
        NO_WRITES still allows compactions; NO_INSERTS additionally
        allows deletes-only batches."""
        from hbase_spark.quotas import SpaceLimitingException

        quota = self._space_quota_for(name)
        if quota is None:
            return
        usage = self.space_usage(name)
        if usage <= quota["limit"]:
            return
        policy = quota["policy"]
        allowed = {
            "DISABLE": (),
            "NO_WRITES_COMPACTIONS": (),
            "NO_WRITES": ("compact",),
            "NO_INSERTS": ("compact", "delete"),
        }[policy]
        if action in allowed:
            return
        if policy == "DISABLE" and self.is_table_enabled(name):
            self.disable_table(name)
        raise SpaceLimitingException(name, policy, usage, quota["limit"])

    def enforce_quotas(self) -> dict[str, dict]:
        """QuotaObserverChore analog: snapshot every quota'd table and
        apply the DISABLE policy; returns {table: snapshot}."""
        report: dict[str, dict] = {}
        for name in self.list_tables():
            if self._space_quota_for(name) is None:
                continue
            snap = self.get_space_quota_snapshot(name)
            if (snap["in_violation"] and snap["policy"] == "DISABLE"
                    and self.is_table_enabled(name)):
                self.disable_table(name)
                snap["disabled"] = True
            report[name] = snap
        return report

    # -- replication peers (client/Admin.java addReplicationPeer /
    # removeReplicationPeer / listReplicationPeers / enable-/
    # disableReplicationPeer / enableTableReplication;
    # hbase-replication/.../ReplicationPeerConfig.java).
    #
    # A peer is a destination root directory (the clusterKey analog)
    # plus an optional table->families map (setTableCFsMap).  Shipping
    # is the streaming merge of merge.py run once per peer with a
    # PER-PEER checkpoint directory on the SOURCE side — the
    # ReplicationQueueStorage analog: each peer tracks its own offsets,
    # so a disabled peer simply stops advancing and catches up from its
    # checkpoint when re-enabled.  Family filtering = the per-family
    # REPLICATION_SCOPE flag intersected with the peer's table_cfs.
    # ----------------------------------------------------------------------

    def _peers_path(self) -> str:
        return f"{self.catalog_dir}/replication-peers.json"

    def _read_peers(self) -> dict:
        try:
            return self._read_json(self._peers_path(), "peers")
        except ValueError:
            return {}

    def add_peer(
        self,
        peer_id: str,
        cluster_key: str,
        *,
        table_cfs: dict[str, list[str] | None] | None = None,
        enabled: bool = True,
        remote_wal_dir: str | None = None,
    ) -> None:
        """Admin.addReplicationPeer — register a destination.

        ``cluster_key``: destination root directory.  ``table_cfs``:
        {table: [families] | None} — None family list means all scoped
        families; a None map means every replicated table (the
        ReplicationPeerConfig.replicateAllUserTables default).

        ``remote_wal_dir`` configures SYNCHRONOUS replication
        (HBASE-19064): the directory on the DESTINATION cluster where
        this cluster, while ACTIVE, duplicates its mutation log.  A
        sync peer is born in DOWNGRADE_ACTIVE, exactly like
        ReplicationPeerManager.addPeer
        (master/replication/ReplicationPeerManager.java:293-296:
        ``isSyncReplication() ? DOWNGRADE_ACTIVE : NONE``)."""
        peers = self._read_peers()
        if peer_id in peers:
            raise ValueError(f"peer {peer_id!r} already exists")
        peers[peer_id] = {
            "cluster_key": cluster_key,
            "table_cfs": table_cfs,
            "enabled": enabled,
            "remote_wal_dir": remote_wal_dir,
            "sync_state": "DOWNGRADE_ACTIVE" if remote_wal_dir else "NONE",
        }
        self._write_json(self._peers_path(), peers)

    def remove_peer(self, peer_id: str) -> None:
        """Admin.removeReplicationPeer.  A SYNC peer must be in
        DOWNGRADE_ACTIVE first (ReplicationPeerManager.java:210-214
        preRemovePeer -> checkPeerInDAStateIfSyncReplication): removing
        an ACTIVE peer would silently stop the remote WAL the standby
        depends on, and removing a STANDBY's peer would lift its write
        fence mid-failover."""
        peers = self._read_peers()
        if peer_id not in peers:
            raise ValueError(f"peer {peer_id!r} does not exist")
        state = peers[peer_id].get("sync_state", "NONE")
        if state not in ("NONE", "DOWNGRADE_ACTIVE"):
            raise ValueError(
                f"peer {peer_id!r} is in sync-replication state {state}; "
                "transit to DOWNGRADE_ACTIVE before removing"
            )
        del peers[peer_id]
        self._write_json(self._peers_path(), peers)

    def list_peers(self) -> dict:
        return self._read_peers()

    def get_peer_config(self, peer_id: str) -> dict:
        peers = self._read_peers()
        if peer_id not in peers:
            raise ValueError(f"peer {peer_id!r} does not exist")
        return peers[peer_id]

    def _set_peer_enabled(self, peer_id: str, enabled: bool) -> None:
        peers = self._read_peers()
        if peer_id not in peers:
            raise ValueError(f"peer {peer_id!r} does not exist")
        peers[peer_id]["enabled"] = enabled
        self._write_json(self._peers_path(), peers)

    def enable_peer(self, peer_id: str) -> None:
        self._set_peer_enabled(peer_id, True)

    def disable_peer(self, peer_id: str) -> None:
        """Admin.disableReplicationPeer — shipping pauses; the peer's
        checkpoint stays, so re-enabling resumes from where it left."""
        self._set_peer_enabled(peer_id, False)

    def _guard_sync_scope(self, peer_id: str) -> None:
        """Scope-change guard for every peer-config mutator that
        alters WHAT replicates (ReplicationPeerManager.java
        preUpdatePeerConfig diffs the whole config, not just
        table_cfs): replicate_all, namespaces, excludes included."""
        peer = self._read_peers().get(peer_id)
        if peer is not None:
            self._reject_sync_scope_change(peer, peer_id)

    def _reject_sync_scope_change(self, peer: dict, peer_id: str) -> None:
        """ReplicationPeerManager.java:258-268 preUpdatePeerConfig:
        changing the replicated table/family config on a SYNCHRONOUS
        peer is not allowed — the remote WAL layout is keyed by the
        scope the two clusters agreed on."""
        if peer.get("remote_wal_dir"):
            raise ValueError(
                f"changing the replicated table config on a synchronous "
                f"replication peer (peer_id: {peer_id}) is not allowed"
            )

    def set_peer_table_cfs(
        self, peer_id: str, table_cfs: dict[str, list[str] | None] | None
    ) -> None:
        """Admin.updateReplicationPeerConfig (table-CFs part)."""
        peers = self._read_peers()
        if peer_id not in peers:
            raise ValueError(f"peer {peer_id!r} does not exist")
        self._reject_sync_scope_change(peers[peer_id], peer_id)
        peers[peer_id]["table_cfs"] = table_cfs
        self._write_json(self._peers_path(), peers)

    def enable_table_replication(self, name: str) -> None:
        """Admin.enableTableReplication: set REPLICATION_SCOPE=1 on
        every family (ColumnFamilyDescriptor.setScope analog)."""
        desc = self._read_desc(name)
        desc["replication_scope"] = {f: 1 for f in desc["families"]}
        self._write_desc(name, desc)

    def disable_table_replication(self, name: str) -> None:
        desc = self._read_desc(name)
        desc["replication_scope"] = {f: 0 for f in desc["families"]}
        self._write_desc(name, desc)

    def _scoped_families(self, name: str) -> list[str]:
        desc = self._read_desc(name)
        scope = desc.get("replication_scope") or {}
        return [f for f, s in scope.items() if s]

    def _peer_table_dir(self, peer: dict, name: str) -> str:
        return f"{peer['cluster_key']}/{_table_path(name)}/cells"

    def replicate_log(
        self, name: str, log_dir: str, *, now_ms: int | None = None
    ) -> dict[str, int]:
        """Ship a table's mutation log to every enabled peer — one
        checkpointed availableNow stream per peer (the
        ReplicationSource/ReplicationEndpoint pair of merge.py).
        Idempotent per peer: offsets live in the per-peer checkpoint,
        so re-running ships only new log files.  Returns
        {peer_id: 1 if shipped, 0 if skipped}.

        Peers with ``set_peer_bandwidth`` are throttled on actually-
        shipped bytes with a token-DEBT bucket (the reference's
        ReplicationThrottler likewise charges after shipping and
        sleeps off the excess): a batch always completes, the bucket
        goes negative by its size, and further ships raise
        RpcThrottlingException until refill at ``bandwidth`` bytes/sec
        clears the debt.  ``now_ms`` is injectable for deterministic
        tests, like the other time-dependent admin ops."""
        from hbase_spark.quotas import RpcThrottlingException
        from hbase_spark.streaming.merge import mutation_stream, stream_merge

        now_ms = int(time.time() * 1000) if now_ms is None else now_ms
        scoped = self._scoped_families(name)
        shipped: dict[str, int] = {}
        for peer_id, peer in sorted(self._read_peers().items()):
            if not peer["enabled"] or not scoped:
                shipped[peer_id] = 0
                continue
            # full ReplicationPeerConfig scope resolution: replicate-all
            # minus excludes, or the namespaces/table_cfs include set
            fams = self._peer_scope(peer, name, scoped)
            if not fams:
                shipped[peer_id] = 0
                continue
            bw = peer.get("bandwidth")
            tokens = None
            if bw:
                state = peer.get("_bw_state") or {
                    "tokens": float(bw), "last_ms": now_ms
                }
                elapsed = max(0, now_ms - state["last_ms"])
                tokens = min(
                    float(bw), state["tokens"] + bw * elapsed / 1000.0
                )
                if tokens <= 0:
                    raise RpcThrottlingException(
                        f"replication bandwidth (peer {peer_id})",
                        int(-tokens / bw * 1000) + 1,
                    )
            stream = mutation_stream(self.spark, log_dir)
            from pyspark.sql import functions as F

            stream = stream.filter(F.col("family").isin(fams))
            ckpt = (
                f"{self.catalog_dir}/{_table_path(name)}/"
                f"replication/{peer_id}/ckpt"
            )
            dest = self._peer_table_dir(peer, name)
            before = self._dir_bytes(dest)
            q = stream_merge(stream, dest, ckpt, trigger_once=True)
            q.awaitTermination()
            if bw:
                delta = self._dir_bytes(dest) - before
                peers = self._read_peers()
                peers[peer_id]["_bw_state"] = {
                    "tokens": tokens - delta, "last_ms": now_ms
                }
                self._write_json(self._peers_path(), peers)
            shipped[peer_id] = 1
        return shipped

    def peer_table_cells(self, peer_id: str, name: str):
        """Read a peer's replicated CellFrame (for VerifyReplication)."""
        peer = self.get_peer_config(peer_id)
        return self.spark.read.schema(cell_schema()).parquet(
            self._peer_table_dir(peer, name)
        )

    # -- synchronous replication (HBASE-19064) ---------------------------
    #
    # Two catalogs model the two clusters, exactly as ExportSnapshot
    # already does for cross-cluster snapshots.  Each cluster holds the
    # peer pointing at the other with complementary sync states:
    #
    #   A (ACTIVE)   --remote WAL-->  {B's remote_wal_dir}
    #   A (ACTIVE)   --async ship-->  B's table cells (replicate_log)
    #   B (STANDBY)  rejects client writes to the peer's scope
    #
    # Failover: B: STANDBY -> DOWNGRADE_ACTIVE (replays A's remote
    # WALs, lifts the fence, serves) -> ACTIVE; A (when it returns):
    # ACTIVE -> DOWNGRADE_ACTIVE -> STANDBY.

    _SYNC_TRANSITIONS = {
        # master/replication/ReplicationPeerManager.java:111-117
        # (allowedTransition) — verbatim matrix; NONE has no entry, so
        # a non-sync peer can never transit (sync must be configured
        # at add_peer time via remote_wal_dir)
        "ACTIVE": {"DOWNGRADE_ACTIVE", "STANDBY"},
        "STANDBY": {"DOWNGRADE_ACTIVE"},
        "DOWNGRADE_ACTIVE": {"STANDBY", "ACTIVE"},
    }

    def get_peer_sync_replication_state(self, peer_id: str) -> str:
        """shell `list_peers` SYNC_REPLICATION_STATE column."""
        return self.get_peer_config(peer_id).get("sync_state", "NONE")

    def transit_peer_sync_replication_state(
        self, peer_id: str, state: str
    ) -> None:
        """shell `transit_peer_sync_replication_state` /
        Admin.transitReplicationPeerSyncReplicationState
        (master/replication/TransitPeerSyncReplicationStateProcedure
        .java): move a SYNC peer between ACTIVE / DOWNGRADE_ACTIVE /
        STANDBY, enforcing the reference's exact transition matrix
        (ReplicationPeerManager.java:273-283
        preTransitPeerSyncReplicationState — an illegal pair raises,
        like its DoNotRetryIOException).

        The STANDBY -> DOWNGRADE_ACTIVE promotion replays every remote
        WAL the active shipped into our ``remote_wal_dir`` and archives
        the consumed logs (SyncReplicationReplayWALProcedure +
        SyncReplicationReplayWALManager rename-to-replayed), so the
        promoted cluster serves from a log-complete table even for
        edits the async ship had not applied yet."""
        peers = self._read_peers()
        if peer_id not in peers:
            raise ValueError(f"peer {peer_id!r} does not exist")
        cur = peers[peer_id].get("sync_state", "NONE")
        allowed = self._SYNC_TRANSITIONS.get(cur)
        if not allowed or state not in allowed:
            raise ValueError(
                f"can not transit current cluster state from {cur} to "
                f"{state} for peer id={peer_id}"
            )
        promoting = cur == "STANDBY" and state == "DOWNGRADE_ACTIVE"
        if promoting:
            # shipped edits for a table this cluster lacks would be
            # silently lost: fail the promotion BEFORE any state
            # change so the operator can create the table and retry
            missing = sorted(
                n for n, _ in self._remote_wal_table_dirs(peers[peer_id])
                if n not in self.list_tables()
            )
            if missing:
                raise ValueError(
                    "remote WALs reference table(s) this cluster does "
                    f"not have: {missing}; create them before promoting"
                )
        with self._procedure(
            "TRANSIT_PEER_SYNC_REPLICATION_STATE", None
        ):
            # state first, replay second (the reference procedure
            # transitions the peer state before REPLAY_REMOTE_WAL) —
            # also required here so the replay's own flushes pass the
            # standby write fence
            peers = self._read_peers()
            peers[peer_id]["sync_state"] = state
            self._write_json(self._peers_path(), peers)
            if promoting:
                self._replay_remote_wals(peers[peer_id])

    def _remote_wal_table_dirs(self, peer: dict) -> list[tuple[str, str]]:
        import os

        root = peer.get("remote_wal_dir")
        if not root or not os.path.isdir(root):
            return []
        return [
            (d, os.path.join(root, d))
            for d in sorted(os.listdir(root))
            if os.path.isdir(os.path.join(root, d)) and "-replayed" not in d
        ]

    def _replay_remote_wals(self, peer: dict) -> None:
        """ReplaySyncReplicationWALs: wal_player over each table's
        remote-WAL directory, appended to our table cells, then the
        consumed directory renamed aside (the reference moves replayed
        WALs to a ``-replayed`` area rather than deleting — they are
        the failover audit trail)."""
        import os

        from hbase_spark.streaming.merge import wal_player

        for name, d in self._remote_wal_table_dirs(peer):
            if name not in self.list_tables():
                # transit prechecks this; reaching it mid-replay means
                # the table vanished under us — never silently drop
                # shipped edits
                raise ValueError(
                    f"remote WALs for unknown table {name!r}"
                )
            edits = wal_player(self.spark, d)
            t = self.table(name)
            merged = t.cells.unionByName(edits.select(*t.cells.columns))
            self.flush(name, Table(merged))
            os.rename(d, f"{d}-replayed-{int(time.time() * 1000)}")

    def sync_wal_ship(self, name: str, log_dir: str) -> dict[str, int]:
        """The ACTIVE side's remote-WAL duplication (the
        DualAsyncFSWAL analog, regionserver/wal/DualAsyncFSWAL.java:
        while ACTIVE every WAL append lands in the local log AND the
        standby's remote WAL directory): one checkpointed availableNow
        file-stream per ACTIVE sync peer appending the RAW log rows —
        not applied, not resolved — under
        ``{remote_wal_dir}/{table}``.  Idempotent per peer via the
        stream checkpoint, like replicate_log.  DOWNGRADE_ACTIVE ships
        nothing (that is the state's meaning: serve locally, no remote
        WAL), so returns {peer: 1 if shipped else 0}."""
        from hbase_spark.streaming.merge import mutation_stream

        shipped: dict[str, int] = {}
        scoped = self._scoped_families(name)
        for peer_id, peer in sorted(self._read_peers().items()):
            if (
                peer.get("sync_state") != "ACTIVE"
                or not peer["enabled"]
                or not scoped
                or not self._peer_scope(peer, name, scoped)
            ):
                shipped[peer_id] = 0
                continue
            stream = mutation_stream(self.spark, log_dir)
            ckpt = (
                f"{self.catalog_dir}/{_table_path(name)}/"
                f"sync-wal/{peer_id}/ckpt"
            )
            q = (
                stream.writeStream.format("parquet")
                .option("path", f"{peer['remote_wal_dir']}/{name}")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            shipped[peer_id] = 1
        return shipped

    def assert_sync_writable(self, name: str) -> None:
        """The STANDBY write fence: client writes to a table in a
        STANDBY sync peer's scope raise (regionserver/
        SyncReplicationPeerInfoProvider.java checkState with
        RejectRequestsFromClientStateChecker — the region server
        refuses client mutations while the cluster is the standby;
        replication applies are exempt, which in this model simply
        means replicate_log/stream_merge never call this check)."""
        if not self._fs_exists(self._peers_path()):
            return  # no peers at all: zero-cost fast path
        scoped = self._scoped_families(name)
        for peer_id, peer in self._read_peers().items():
            if peer.get("sync_state") != "STANDBY":
                continue
            if scoped and self._peer_scope(peer, name, scoped):
                raise ValueError(
                    f"table {name!r} is in the scope of STANDBY sync "
                    f"peer {peer_id!r}: client writes are rejected "
                    "until the cluster is promoted (transit to "
                    "DOWNGRADE_ACTIVE)"
                )

    # -- master switches (MasterSwitchType; shell splitormerge_switch /
    # normalizer_switch / balance_switch) ---------------------------------

    def _switches_path(self) -> str:
        return f"{self.catalog_dir}/master-switches.json"

    def _read_switches(self) -> dict:
        try:
            return self._read_json(self._switches_path(), "switches")
        except ValueError:
            return {}

    def set_switch(self, kind: str, enabled: bool) -> bool:
        """shell `splitormerge_switch` / `normalizer_switch` /
        `balance_switch`: flip a master switch, returning the PREVIOUS
        state (the shell prints the old value).  Kinds: split, merge,
        normalizer, balancer, snapshot_cleanup."""
        if kind not in (
            "split", "merge", "normalizer", "balancer", "snapshot_cleanup",
            "compaction", "catalogjanitor", "peer_modification",
            "rpc_throttle", "cleaner_chore", "exceed_throttle_quota",
        ):
            raise ValueError(f"unknown switch {kind!r}")
        sw = self._read_switches()
        prev = sw.get(kind, True)
        sw[kind] = bool(enabled)
        self._write_json(self._switches_path(), sw)
        return prev

    def is_switch_enabled(self, kind: str) -> bool:
        """shell `splitormerge_enabled` / `normalizer_enabled` /
        `balancer_enabled` — switches default ON like the reference
        (except exceed_throttle_quota, whose reference default is
        OFF — QuotaCache.exceedThrottleQuotaEnabled = false)."""
        default = kind != "exceed_throttle_quota"
        return bool(self._read_switches().get(kind, default))

    def _require_switch(self, kind: str) -> None:
        if not self.is_switch_enabled(kind):
            raise RuntimeError(f"master switch {kind!r} is disabled")

    # -- region normalizer (master/normalizer/SimpleRegionNormalizer.java:64;
    # shell `normalize` / `normalizer_switch`).  Region size = logical
    # cell bytes per region (the reference uses RegionMetrics store-file
    # MB, SimpleRegionNormalizer.java getRegionSizeMB).  Plans follow the
    # reference's shape: SPLIT any region larger than 2x the average
    # (computeSplitNormalizationPlans), MERGE maximal runs of adjacent
    # regions whose cumulative size stays within the average
    # (computeMergeNormalizationPlans' region-chain walk), gated on a
    # minimum region count.  Execution reuses the split/merge region
    # rewrite discipline, so each plan costs O(affected regions). --------

    def _region_sizes(self, name: str) -> list[dict]:
        """Region size = logical cell bytes (keys + values) from the
        layout scan, not file bytes — the parquet bloom-filter bitmap
        puts a ~1 MB floor under every file, which would mask real
        skew at small scales; the reference's store-file MB metric has
        the same intent (data mass per region)."""
        return [
            {
                "region_file": r.region_file,
                "start_key": r.start_key,
                "end_key": r.end_key,
                "bytes": int(r.data_bytes or 0),
            }
            for r in self.list_regions(name).collect()
        ]

    def compute_normalization_plans(
        self,
        name: str,
        *,
        merge_min_region_count: int = 3,
        target_region_size_bytes: int | None = None,
        merge_request_max_regions: int = 50,
    ) -> list[dict]:
        """The planning half of ``normalize`` (dry run)."""
        return plan_normalization(
            self._region_sizes(name),
            split_enabled=self.is_switch_enabled("split"),
            merge_enabled=self.is_switch_enabled("merge"),
            merge_min_region_count=merge_min_region_count,
            target_region_size_bytes=target_region_size_bytes,
            merge_request_max_regions=merge_request_max_regions,
        )

    def _merge_region_files(self, name: str, files: list[str]) -> None:
        merged = self.spark.read.parquet(
            *[self._local_path(f) for f in files]
        )

        def write_parts(new_root, fam_dir, v):
            self._write_region_file(
                merged, new_root, fam_dir, f"merge-v{v}.parquet"
            )

        self._rewrite_regions(name, files, write_parts)

    def _split_point_of(
        self,
        region_file: str,
        *,
        prefix_len: int | None = None,
        delimiter: str | None = None,
        floor_key=None,
    ):
        """Median distinct row of a region — the reference splits at the
        storefile midkey (SplitNormalizationPlan).  Bounded work: one
        region file, one small job.

        ``prefix_len`` / ``delimiter`` apply the reference's
        KeyPrefixRegionSplitPolicy / DelimitedKeyPrefixRegionSplitPolicy
        (rs/KeyPrefixRegionSplitPolicy.java:34,
        rs/DelimitedKeyPrefixRegionSplitPolicy.java:40): the midkey is
        truncated to the fixed-length — or first-delimiter — group
        prefix, so every row sharing a group key lands in ONE daughter
        (the bare prefix sorts before all its full keys).  Returns None
        when the truncated point cannot produce two non-empty daughters
        (whole region is one group)."""
        rows = (
            self.spark.read.parquet(self._local_path(region_file))
            .select("row")
            .distinct()
        )
        n = rows.count()
        if n < 2:
            return None
        p = rows.orderBy("row").offset(n // 2).limit(1).first()["row"]
        if isinstance(p, str):
            if delimiter is not None and delimiter in p:
                p = p.split(delimiter, 1)[0]
            elif prefix_len is not None:
                p = p[:prefix_len]
        if floor_key is not None and p <= floor_key:
            return None
        return p

    def normalize(
        self,
        name: str,
        *,
        split_prefix_len: int | None = None,
        split_delimiter: str | None = None,
        **plan_kw,
    ) -> list[dict]:
        """shell `normalize`: compute and execute normalization plans.
        Returns the executed plan list.  Merges run before splits (the
        region chain walked over the pre-plan geometry); every plan
        re-resolves its member regions by start key, because each
        rewrite produces a new version dir.  ``split_prefix_len`` /
        ``split_delimiter`` make executed splits respect key-prefix
        groups (KeyPrefix/DelimitedKeyPrefixRegionSplitPolicy).
        Skips in maintenance mode, like the balancer."""
        self._require_master()
        if self.is_in_maintenance_mode():
            return []
        self._require_switch("normalizer")
        plans = self.compute_normalization_plans(name, **plan_kw)
        if plans:
            with self._procedure("NORMALIZE", name):
                self._execute_normalization(
                    name, plans,
                    split_prefix_len=split_prefix_len,
                    split_delimiter=split_delimiter,
                )
        return plans

    def _execute_normalization(
        self,
        name: str,
        plans: list[dict],
        *,
        split_prefix_len: int | None = None,
        split_delimiter: str | None = None,
    ) -> None:
        for p in plans:
            if p["type"] != "merge":
                continue
            by_start = {
                r["start_key"]: r["region_file"]
                for r in self._region_sizes(name)
            }
            self._merge_region_files(
                name, [by_start[k] for k in p["start_keys"]]
            )
        for p in plans:
            if p["type"] != "split":
                continue
            by_start = {
                r["start_key"]: r["region_file"]
                for r in self._region_sizes(name)
            }
            split_at = self._split_point_of(
                by_start[p["start_key"]],
                prefix_len=split_prefix_len,
                delimiter=split_delimiter,
                floor_key=p["start_key"],
            )
            if split_at is not None:
                self.split_region(name, split_at)
                p["split_point"] = split_at

    # -- region server groups (rsgroup/RSGroupAdminClient.java:61,
    # RSGroupInfoManagerImpl.java; shell add_rsgroup / move_tables_rsgroup
    # / balance_rsgroup ...).  A group is a named resource pool: a set of
    # symbolic server names plus the tables pinned to them
    # (RSGroupBasedLoadBalancer constrains a group's tables to its
    # servers).  The analytic consequence here: ``balance_rsgroup``
    # re-buckets each member table's layout to a region count
    # proportional to the group's capacity, so a table moved to a
    # bigger/smaller pool physically re-partitions on the next balance.

    _DEFAULT_RSGROUP = "default"

    def _rsgroups_path(self) -> str:
        return f"{self.catalog_dir}/rsgroups.json"

    def _read_rsgroups(self) -> dict:
        try:
            return self._read_json(self._rsgroups_path(), "rsgroups")
        except ValueError:
            return {}

    def add_rsgroup(self, group: str) -> None:
        """RSGroupAdminClient.addRSGroup (:143)."""
        groups = self._read_rsgroups()
        if group == self._DEFAULT_RSGROUP or group in groups:
            raise ValueError(f"rsgroup {group!r} already exists")
        groups[group] = {"servers": [], "tables": []}
        self._write_json(self._rsgroups_path(), groups)

    def remove_rsgroup(self, group: str) -> None:
        """RSGroupAdminClient.removeRSGroup (:155) — must be empty."""
        groups = self._read_rsgroups()
        if group == self._DEFAULT_RSGROUP:
            raise ValueError("cannot remove the default rsgroup")
        if group not in groups:
            raise ValueError(f"rsgroup {group!r} does not exist")
        if groups[group]["servers"] or groups[group]["tables"]:
            raise ValueError(f"rsgroup {group!r} is not empty")
        del groups[group]
        self._write_json(self._rsgroups_path(), groups)

    def list_rsgroups(self) -> dict:
        """RSGroupAdminClient.listRSGroups (:181), including the
        implicit default group (unassigned tables live there)."""
        groups = dict(self._read_rsgroups())
        assigned = {t for g in groups.values() for t in g["tables"]}
        groups[self._DEFAULT_RSGROUP] = {
            "servers": [],
            "tables": sorted(set(self.list_tables()) - assigned),
        }
        return groups

    def get_rsgroup(self, group: str) -> dict:
        """RSGroupAdminClient.getRSGroupInfo (:73)."""
        groups = self.list_rsgroups()
        if group not in groups:
            raise ValueError(f"rsgroup {group!r} does not exist")
        return groups[group]

    def get_rsgroup_of_table(self, name: str) -> str:
        """RSGroupAdminClient.getRSGroupInfoOfTable (:89)."""
        for g, info in self._read_rsgroups().items():
            if name in info["tables"]:
                return g
        return self._DEFAULT_RSGROUP

    def get_rsgroup_of_server(self, server: str) -> str | None:
        """RSGroupAdminClient.getRSGroupOfServer (:199)."""
        for g, info in self._read_rsgroups().items():
            if server in info["servers"]:
                return g
        return None

    def move_servers_rsgroup(self, servers: list[str], target: str) -> None:
        """RSGroupAdminClient.moveServers (:106): reassign servers from
        whichever group holds them into ``target``."""
        groups = self._read_rsgroups()
        if target not in groups:
            raise ValueError(f"rsgroup {target!r} does not exist")
        for info in groups.values():
            info["servers"] = [s for s in info["servers"] if s not in servers]
        groups[target]["servers"] = sorted(
            set(groups[target]["servers"]) | set(servers)
        )
        self._write_json(self._rsgroups_path(), groups)

    def remove_servers_rsgroup(self, servers: list[str]) -> None:
        """RSGroupAdminClient.removeServers (:249) — decommission."""
        groups = self._read_rsgroups()
        for info in groups.values():
            info["servers"] = [s for s in info["servers"] if s not in servers]
        self._write_json(self._rsgroups_path(), groups)

    def move_tables_rsgroup(self, tables: list[str], target: str) -> None:
        """RSGroupAdminClient.moveTables (:125).  Moving to 'default'
        unpins the tables."""
        groups = self._read_rsgroups()
        if target != self._DEFAULT_RSGROUP and target not in groups:
            raise ValueError(f"rsgroup {target!r} does not exist")
        for name in tables:
            if not self.table_exists(name):
                raise ValueError(f"table {name!r} does not exist")
        for info in groups.values():
            info["tables"] = [t for t in info["tables"] if t not in tables]
        if target != self._DEFAULT_RSGROUP:
            groups[target]["tables"] = sorted(
                set(groups[target]["tables"]) | set(tables)
            )
        self._write_json(self._rsgroups_path(), groups)

    def cleaner_chore(self, *, dry_run: bool = False) -> dict:
        """Archive cleaner (master/cleaner/CleanerChore.java +
        HFileCleaner.java; SnapshotHFileCleaner keeps files any
        snapshot still references): every flush / split / merge /
        compaction writes a NEW immutable version dir and leaves the
        old one for exactly this chore.  Deletes `cells-v*` / `mob-v*`
        dirs referenced by NO live table descriptor (clones share dirs
        copy-on-write, so a clone's descriptor pins its source dir) and
        NO snapshot manifest.  Metadata-only: one descriptor/manifest
        read per table/snapshot and a directory walk — no data scan,
        the same O(files) discipline as the reference's chore."""
        import os
        import shutil

        referenced: set[str] = set()
        for name in self.list_tables():
            desc = self._read_desc(name)
            if desc.get("deleted"):
                continue
            for key in ("data_dir", "mob_dir"):
                if desc.get(key):
                    referenced.add(desc[key])
        for snap in self.list_snapshots():
            man = self._read_json(self._snap_path(snap), f"snapshot {snap!r}")
            for key in ("data_dir", "mob_dir"):
                if man.get(key):
                    referenced.add(man[key])

        deleted, kept = [], []
        for root, dirs, _files in os.walk(self.catalog_dir):
            for d in list(dirs):
                base = os.path.basename(d)
                if not (base.startswith("cells-v") or base.startswith("mob-v")):
                    continue
                dirs.remove(d)  # don't descend into version dirs
                rel = os.path.relpath(os.path.join(root, d), self.catalog_dir)
                if rel in referenced:
                    kept.append(rel)
                    continue
                deleted.append(rel)
                if not dry_run:
                    shutil.rmtree(os.path.join(root, d), ignore_errors=True)
        return {"deleted": sorted(deleted), "kept": sorted(kept),
                "dry_run": dry_run}

    def balance_rsgroup(
        self, group: str, *, regions_per_server: int = 4
    ) -> dict[str, int]:
        """RSGroupAdminClient.balanceRSGroup (:168): re-bucket every
        enabled member table to ``servers x regions_per_server``
        regions, so layout parallelism tracks the group's capacity.
        Returns {table: new_region_count}; honors the balancer switch."""
        self._require_switch("balancer")
        info = self.get_rsgroup(group)
        n_regions = max(1, len(info["servers"]) * regions_per_server)
        out: dict[str, int] = {}
        for name in info["tables"]:
            if not self.is_table_enabled(name):
                continue
            self.flush(name, self.table(name), num_regions=n_regions,
                       action="compact")
            out[name] = n_regions
        return out

    # -- remaining data-touching shell surface (round 5): snapshot /
    # quota size listings, replicated-table listing, peer-config
    # refinements, compaction + catalog-janitor switches ----------------

    def list_snapshot_sizes(self) -> dict[str, int]:
        """shell `list_snapshot_sizes` (list_snapshot_sizes.rb): bytes
        referenced by each snapshot manifest — a metadata walk plus one
        directory size per manifest, no data scan."""
        out = {}
        for s in self.list_snapshots():
            man = self._read_json(self._snap_path(s), f"snapshot {s!r}")
            out[s] = self._dir_bytes(
                f"{self.catalog_dir}/{man['data_dir']}"
            ) + (
                self._dir_bytes(f"{self.catalog_dir}/{man['mob_dir']}")
                if man.get("mob_dir") else 0
            )
        return out

    def list_quota_table_sizes(self) -> dict[str, int]:
        """shell `list_quota_table_sizes`: current space usage per
        table (the QuotaObserverChore's size report)."""
        return {
            t: self.space_usage(t)
            for t in self.list_tables()
        }

    def list_replicated_tables(self) -> list[str]:
        """shell `list_replicated_tables`: tables with at least one
        REPLICATION_SCOPE=1 family (enable_table_replication sets the
        scope, ColumnFamilyDescriptor.setScope analog)."""
        return sorted(
            t for t in self.list_tables() if self._scoped_families(t)
        )

    def append_peer_table_cfs(
        self, peer_id: str, table_cfs: dict[str, list[str] | None]
    ) -> None:
        """shell `append_peer_tableCFs`: add tables/families to a
        peer's replication map (Admin.appendReplicationPeerTableCFs)."""
        self._require_switch("peer_modification")
        peers = self._read_peers()
        if peer_id not in peers:
            raise ValueError(f"peer {peer_id!r} does not exist")
        self._reject_sync_scope_change(peers[peer_id], peer_id)
        cur = peers[peer_id].get("table_cfs") or {}
        for t, fams in table_cfs.items():
            if t in cur and cur[t] is not None and fams is not None:
                cur[t] = sorted(set(cur[t]) | set(fams))
            else:
                cur[t] = fams
        peers[peer_id]["table_cfs"] = cur
        self._write_json(self._peers_path(), peers)

    def remove_peer_table_cfs(
        self, peer_id: str, table_cfs: dict[str, list[str] | None]
    ) -> None:
        """shell `remove_peer_tableCFs`
        (Admin.removeReplicationPeerTableCFs)."""
        self._require_switch("peer_modification")
        peers = self._read_peers()
        if peer_id not in peers:
            raise ValueError(f"peer {peer_id!r} does not exist")
        self._reject_sync_scope_change(peers[peer_id], peer_id)
        cur = peers[peer_id].get("table_cfs") or {}
        for t, fams in table_cfs.items():
            if t not in cur:
                continue
            if fams is None or cur[t] is None:
                del cur[t]
            else:
                left = sorted(set(cur[t]) - set(fams))
                if left:
                    cur[t] = left
                else:
                    del cur[t]
        peers[peer_id]["table_cfs"] = cur or None
        self._write_json(self._peers_path(), peers)

    def set_peer_bandwidth(self, peer_id: str, bandwidth: int) -> None:
        """shell `set_peer_bandwidth`: per-peer replication throughput
        cap in bytes/sec (ReplicationPeerConfig.setBandwidth) — stored
        on the peer and consumed by the throttle limiter the same way
        table throttles are."""
        self._require_switch("peer_modification")
        peers = self._read_peers()
        if peer_id not in peers:
            raise ValueError(f"peer {peer_id!r} does not exist")
        peers[peer_id]["bandwidth"] = int(bandwidth)
        self._write_json(self._peers_path(), peers)

    def set_peer_serial(self, peer_id: str, serial: bool) -> None:
        """shell `set_peer_serial`: per-key-ordered shipping
        (ReplicationPeerConfig.setSerial; the serial replication path
        in streaming/stateful.py enforces the ordering)."""
        self._require_switch("peer_modification")
        peers = self._read_peers()
        if peer_id not in peers:
            raise ValueError(f"peer {peer_id!r} does not exist")
        peers[peer_id]["serial"] = bool(serial)
        self._write_json(self._peers_path(), peers)

    def list_peer_configs(self) -> dict[str, dict]:
        """shell `list_peer_configs` — full config map per peer."""
        return self._read_peers()

    # -- load balancer (master/balancer/StochasticLoadBalancer.java;
    # shell `balance`, `balance_switch`).  Spark has no region servers
    # to move regions BETWEEN — executor placement is the scheduler's
    # job (SURVEY §4.3: repartitionByRange + AQE are the runtime
    # analog).  What remains measurable and actionable is the part the
    # stochastic cost model spends most of its weight on: even data
    # mass per region.  ``balancer_report`` computes that cost per
    # table; ``balance`` rewrites any table whose skew exceeds the slop
    # (the reference's ``hbase.regions.slop`` gate,
    # BaseLoadBalancer.java) into equal-mass regions via the immutable
    # flush discipline — a targeted O(table) rewrite, not O(catalog). --

    def balancer_report(self, name: str | None = None) -> list[dict]:
        """Layout-skew report: per-table region-size distribution and
        an imbalance cost in [0, 1] shaped like the reference's
        CostFunction.cost() scaled sum-of-deviations
        (StochasticLoadBalancer.java computeCost)."""
        tables = [name] if name else [
            t for t in self.list_tables() if self.is_table_enabled(t)
        ]
        out = []
        for t in tables:
            sizes = [r["bytes"] for r in self._region_sizes(t)]
            n, total = len(sizes), sum(sizes)
            avg = total / n if n else 0.0
            # scaled sum of |size - avg|: 0 = perfectly even, 1 = all
            # mass on one region (the reference's cost normalization)
            dev = sum(abs(s - avg) for s in sizes)
            worst = 2.0 * total * (1.0 - 1.0 / n) if n > 1 and total else 0.0
            out.append({
                "table": t,
                "regions": n,
                "total_bytes": total,
                "min_bytes": min(sizes) if sizes else 0,
                "max_bytes": max(sizes) if sizes else 0,
                "imbalance": (max(sizes) / avg) if avg else 1.0,
                "cost": (dev / worst) if worst else 0.0,
            })
        return out

    def balance(
        self,
        name: str | None = None,
        *,
        slop: float = 0.2,
        dry_run: bool = False,
    ) -> dict[str, dict]:
        """shell `balance` / Admin.balance(): rebalance every enabled
        table (or one) whose max-region mass exceeds ``(1 + slop) x
        average`` — the reference's slop gate.  The rewrite keeps the
        region count and re-evens mass by range-repartitioning on the
        row key (flush with the same region count).  Returns
        {table: report_row} for the tables that needed (or would need)
        a rewrite; honors the balancer master switch, the virtual
        master (MasterNotRunningException), and maintenance mode (the
        reference disables the balancer while in maintenance)."""
        self._require_master()
        if self.is_in_maintenance_mode():
            return {}
        self._require_switch("balancer")
        report = self.balancer_report(name)
        plans = {
            r["table"]: r
            for r in report
            if r["regions"] > 1 and r["imbalance"] > 1.0 + slop
        }
        if dry_run:
            return plans
        for t, rep in plans.items():
            with self._procedure("BALANCE", t):
                table = self.table(t)
                pts = equal_mass_split_points(
                    self.spark, table.cells, rep["regions"]
                )
                desc = self._read_desc(t)
                desc["split_points"] = pts
                self._write_desc(t, desc)
                self.flush(t, table, num_regions=rep["regions"],
                           action="compact")
        # shell get_balancer_decisions / get_balancer_rejections
        # (NamedQueue BalancerDecision/BalancerRejection journals)
        self._append_balancer_log("decisions", [
            {"table": t, "imbalance": r["imbalance"], "cost": r["cost"],
             "regions": r["regions"]}
            for t, r in plans.items()
        ])
        self._append_balancer_log("rejections", [
            {"table": r["table"], "imbalance": r["imbalance"],
             "reason": f"imbalance <= slop gate {1.0 + slop:.2f}"}
            for r in report if r["table"] not in plans
        ])
        return plans

    def _balancer_log_path(self) -> str:
        return f"{self.catalog_dir}/balancer-log.json"

    def _append_balancer_log(self, kind: str, entries: list[dict]) -> None:
        try:
            log = self._read_json(self._balancer_log_path(), "balancer log")
        except ValueError:
            log = {"decisions": [], "rejections": []}
        log[kind] = (log.get(kind, []) + entries)[-250:]  # bounded journal
        self._write_json(self._balancer_log_path(), log)

    def get_balancer_decisions(self) -> list[dict]:
        """shell `get_balancer_decisions` (BalancerDecision named
        queue): tables the last balance runs rewrote, with their
        pre-rewrite skew."""
        try:
            return self._read_json(
                self._balancer_log_path(), "balancer log"
            ).get("decisions", [])
        except ValueError:
            return []

    def get_balancer_rejections(self) -> list[dict]:
        """shell `get_balancer_rejections` (BalancerRejection named
        queue): tables balance runs considered and skipped, with why."""
        try:
            return self._read_json(
                self._balancer_log_path(), "balancer log"
            ).get("rejections", [])
        except ValueError:
            return []

    # -- procedures & locks (shell `list_procedures` / `list_locks`,
    # master/procedure/*).  The reference's Procedure-v2 framework is
    # crash-recoverable DDL orchestration — scoped out as a catalog
    # transactionality concern (SURVEY §2.1).  What the two shell
    # commands actually expose — which master operations ran / are
    # running, and which table locks they hold — is observable here
    # too: long-running admin ops journal themselves to the catalog. --

    def _procs_path(self) -> str:
        return f"{self.catalog_dir}/procedures.json"

    def _read_procs(self) -> list[dict]:
        try:
            obj = self._read_json(self._procs_path(), "procedures")
            return obj.get("procedures", [])
        except ValueError:
            return []

    def _write_procs(self, procs: list[dict]) -> None:
        self._write_json(self._procs_path(), {"procedures": procs})

    @contextmanager
    def _procedure(self, ptype: str, table: str | None = None,
                   *, lock: str = "EXCLUSIVE"):
        """Journal a master operation as a procedure entry with the
        reference's lifecycle states (RUNNABLE -> SUCCESS /
        ROLLEDBACK, ProcedureState in Procedure.java) and an exclusive
        table lock for its duration (LockAndQueue semantics)."""
        procs = self._read_procs()
        pid = 1 + max((p["pid"] for p in procs), default=0)
        entry = {
            "pid": pid, "type": ptype, "table": table, "lock": lock,
            "state": "RUNNABLE", "submitted_ts": time.time(),
            "completed_ts": None,
        }
        self._write_procs(procs + [entry])
        try:
            yield pid
        except BaseException:
            self._finish_procedure(pid, "ROLLEDBACK")
            raise
        else:
            self._finish_procedure(pid, "SUCCESS")

    def _finish_procedure(self, pid: int, state: str) -> None:
        procs = self._read_procs()
        for p in procs:
            if p["pid"] == pid:
                p["state"] = state
                p["completed_ts"] = time.time()
        self._write_procs(procs)

    def list_procedures(self, *, completed: bool = True) -> list[dict]:
        """shell `list_procedures` (list_procedures.rb): every journaled
        master op, newest last; ``completed=False`` shows only in-flight
        ones."""
        procs = self._read_procs()
        if completed:
            return procs
        # FAILED_ROLLINGBACK is in-flight too: a crash mid-rollback
        # leaves that state holding the table lock — it must surface
        # in the incomplete view (and in hbck's stuck scan over it)
        return [
            p for p in procs
            if p["state"] in ("RUNNABLE", "FAILED_ROLLINGBACK")
        ]

    def bypass_procedure(
        self, pid: int, *, force: bool = False
    ) -> bool:
        """HBCK2 ``bypass`` (hbase-operator-tools HBCK2.java — the
        operator escape hatch for a procedure wedged RUNNABLE, e.g.
        after a master crash): mark the entry BYPASSED and release its
        table lock so new DDL on that table can proceed.  Returns
        whether anything changed.  Like the reference, bypassing a
        procedure does NOT undo its partial effects — ``hbck()`` is
        the report that surfaces any resulting inconsistency (its
        ``stuck_after_sec`` knob flags candidates for this call).
        ``force`` bypasses regardless of state, mirroring HBCK2's
        ``-r/-f`` overrides; without it only in-flight entries
        (RUNNABLE, or FAILED_ROLLINGBACK from a crash mid-rollback)
        are eligible."""
        procs = self._read_procs()
        hit = False
        for p in procs:
            if p["pid"] == pid and (
                force or p["state"] in ("RUNNABLE", "FAILED_ROLLINGBACK")
            ):
                p["state"] = "BYPASSED"
                p["completed_ts"] = time.time()
                hit = True
        if hit:
            self._write_procs(procs)
        return hit

    def submit_procedure(self, proc) -> int:
        """Run a stepped, crash-recoverable procedure
        (hbase_spark.procedures.StepProcedure; ProcedureExecutor.java
        submitProcedure).  Returns the pid."""
        from hbase_spark.procedures import ProcedureExecutor

        return ProcedureExecutor(self).submit(proc)

    def recover_procedures(self) -> list[dict]:
        """New-master takeover (ProcedureExecutor.load): resume every
        unfinished stepped procedure from its last persisted step —
        rollforward for RUNNABLE, resumed rollback for
        FAILED_ROLLINGBACK.  Plain journal entries are reported as
        left for ``bypass_procedure``.  Returns one summary row per
        procedure handled."""
        from hbase_spark.procedures import ProcedureExecutor

        return ProcedureExecutor(self).recover()

    def list_locks(self) -> list[dict]:
        """shell `list_locks` (list_locks.rb): table locks held by
        in-flight procedures."""
        return [
            {"resource": p["table"], "lock_type": p["lock"],
             "proc_pid": p["pid"], "proc_type": p["type"]}
            for p in self._read_procs()
            if p["state"] in ("RUNNABLE", "FAILED_ROLLINGBACK")
            and p["table"]
        ]

    def hbck(
        self, name: str | None = None, *, stuck_after_sec: float = 0.0,
        now: float | None = None,
    ) -> dict:
        """HbckChore / CatalogJanitor consistency report
        (master/hbck/HbckChore.java, master/janitor/CatalogJanitor.java
        + the HBCK2 report surface): inspect catalog and layout
        invariants WITHOUT fixing anything — report-only, like
        `hbase hbck` since 2.x.

        Checks, each a list in the returned dict:

        - ``overlaps``: region files of one (table, family) whose key
          ranges intersect — CatalogJanitor's overlap report.  Region
          ranges come from the same per-file min/max aggregation as
          ``list_regions`` (metadata-scale, no collect of data).
        - ``family_mismatches``: family dirs on disk without a
          descriptor entry and descriptor families with no dir (the
          no-such-CF half of meta/fs agreement).
        - ``cleanable_dirs``: cells-v*/mob-v* version dirs pinned by no
          live descriptor and no snapshot — the HFileCleaner delete
          set, reclaimed by ``cleaner_chore``.  INFORMATIONAL: every
          flush/split/merge leaves its predecessor dir for the chore
          by design (archived HFiles are not an hbck inconsistency),
          so this never fails ``ok``.
        - ``broken_snapshots``: manifests whose data_dir is gone
          (SnapshotHFileCleaner's corrupt-snapshot case).
        - ``stuck_procedures``: RUNNABLE journal entries older than
          ``stuck_after_sec`` with the locks they hold — the HBCK2
          `bypass` candidates.

        ``ok`` is True iff every list is empty.
        """
        import os
        import time as _time

        now = _time.time() if now is None else now
        report: dict = {
            "overlaps": [], "family_mismatches": [], "cleanable_dirs": [],
            "broken_snapshots": [], "stuck_procedures": [],
        }

        tables = [name] if name else self.list_tables()
        for t in tables:
            desc = self._read_desc(t)
            if desc.get("deleted"):
                continue
            # per-(family, file) key ranges -> overlap scan per family.
            # Read the layout directly (not Admin.table): hbck must run
            # on DISABLED tables too — repair is exactly when tables
            # are disabled — and needs no mob merge or enabled check.
            data_dir = self._abs_data_dir(desc, t)
            if os.path.isdir(data_dir):
                from hbase_spark.sources.layout import read_table

                cells = read_table(self.spark, data_dir)
                regs = (
                    cells.groupBy(
                        F.col("family"), F.input_file_name().alias("f")
                    )
                    .agg(F.min("row").alias("lo"), F.max("row").alias("hi"))
                    .collect()
                )
                by_fam: dict = {}
                for r in regs:
                    by_fam.setdefault(r.family, []).append(r)
                for fam, rows in by_fam.items():
                    # running max-hi (CatalogJanitor-style): a wide
                    # region must flag overlap with EVERY later region
                    # it contains, not only its sorted neighbor
                    rows.sort(key=lambda r: (r.lo, r.hi))
                    widest = None
                    for cur in rows:
                        if widest is not None and cur.lo <= widest.hi:
                            report["overlaps"].append(
                                {"table": t, "family": fam,
                                 "a": widest.f, "b": cur.f,
                                 "range_a": (widest.lo, widest.hi),
                                 "range_b": (cur.lo, cur.hi)}
                            )
                        if widest is None or cur.hi > widest.hi:
                            widest = cur
            # descriptor vs family dirs on disk
            disk_fams = {
                d.split("=", 1)[1]
                for d in (
                    os.listdir(data_dir) if os.path.isdir(data_dir) else []
                )
                if d.startswith("family=")
            }
            declared = set(desc.get("families", {}))
            if disk_fams:  # flat (by_family=False) layouts have no dirs
                for fam in sorted(disk_fams - declared):
                    report["family_mismatches"].append(
                        {"table": t, "family": fam, "problem": "undeclared dir"}
                    )
                for fam in sorted(declared - disk_fams):
                    report["family_mismatches"].append(
                        {"table": t, "family": fam, "problem": "missing dir"}
                    )

        # cleanable version dirs + broken snapshots (cleaner-chore set,
        # reported instead of deleted)
        report["cleanable_dirs"] = self.cleaner_chore(dry_run=True)["deleted"]
        for snap in self.list_snapshots():
            man = self._read_json(self._snap_path(snap), f"snapshot {snap!r}")
            if not os.path.isdir(f"{self.catalog_dir}/{man['data_dir']}"):
                report["broken_snapshots"].append(
                    {"snapshot": snap, "data_dir": man["data_dir"]}
                )

        for p in self.list_procedures(completed=False):
            if now - p["submitted_ts"] >= stuck_after_sec:
                report["stuck_procedures"].append(p)

        report["ok"] = not any(
            report[k] for k in (
                "overlaps", "family_mismatches",
                "broken_snapshots", "stuck_procedures",
            )
        )
        return report

    # -- WAL roll + master state dump (shell `wal_roll`, `zk_dump`) ----

    def wal_roll(self, log_dir: str) -> dict:
        """shell `wal_roll` (wal_roll.rb) / Admin.rollWALWriter: seal
        the active log segment so cleaners/backup can treat everything
        before the roll point as immutable.  The mutation log is a
        directory of immutable parquet files (appends create new
        files), so the roll point is a manifest of the files present at
        roll time — the analog of closing the active WAL file."""
        import os as _os

        files = sorted(
            f for f in (_os.listdir(log_dir) if _os.path.isdir(log_dir) else [])
            if f.endswith(".parquet")
        )
        manifest = {"rolled_ts": time.time(), "sealed_files": files}
        seq = len([f for f in _os.listdir(log_dir)
                   if f.startswith("_rolled_")]) if _os.path.isdir(log_dir) else 0
        path = f"{log_dir}/_rolled_{seq:06d}.json"
        with open(path, "w") as fh:
            json.dump(manifest, fh)
        return {"manifest": path, "sealed": len(files)}

    def wal_roll_all(self, log_dirs: list[str]) -> dict[str, dict]:
        """shell `wal_roll_all` (wal_roll_all.rb / Admin.rollWALWriter
        over every server): roll each mutation-log directory — the
        per-server WAL analog is one log dir per ingest source."""
        return {d: self.wal_roll(d) for d in log_dirs}

    # -- peer replication scope (ReplicationPeerConfig.java:
    # replicateAllUserTables / namespaces / excludeNamespaces /
    # excludeTableCFsMap; shell set_peer_replicate_all,
    # *_peer_namespaces, *_peer_exclude_namespaces,
    # *_peer_exclude_tableCFs, update_peer_config).  The registry
    # stores the same fields; ``_peer_scope`` resolves them to the
    # family list a replicate_log ship actually covers, mirroring
    # ReplicationUtils.contains. ---------------------------------------

    def _update_peer(self, peer_id: str, mutate) -> None:
        self._require_switch("peer_modification")
        peers = self._read_peers()
        if peer_id not in peers:
            raise ValueError(f"peer {peer_id!r} does not exist")
        mutate(peers[peer_id])
        self._write_json(self._peers_path(), peers)

    def _peer_scope(self, peer: dict, name: str, scoped: list[str]):
        """Families of ``name`` this peer replicates, given the table's
        REPLICATION_SCOPE'd families (ReplicationUtils.contains)."""
        ns = name.split(":", 1)[0] if ":" in name else "default"
        rep_all = peer.get("replicate_all")
        if rep_all is None:  # legacy default: table_cfs None = all
            rep_all = (
                peer.get("table_cfs") is None
                and not peer.get("namespaces")
            )
        if rep_all:
            if ns in (peer.get("exclude_namespaces") or []):
                return []
            ex = peer.get("exclude_table_cfs") or {}
            if name in ex:
                if ex[name] is None:
                    return []
                return [f for f in scoped if f not in ex[name]]
            return scoped
        if ns in (peer.get("namespaces") or []):
            return scoped
        cfs = peer.get("table_cfs") or {}
        if name not in cfs:
            return []
        if cfs[name] is None:
            return scoped
        return [f for f in scoped if f in cfs[name]]

    def set_peer_replicate_all(self, peer_id: str, flag: bool) -> None:
        """shell `set_peer_replicate_all` — like the reference,
        replicate-all conflicts with an explicit include scope and
        not-replicate-all conflicts with an exclude scope
        (ReplicationPeerConfigUtil checks the same)."""
        self._guard_sync_scope(peer_id)

        def mutate(p):
            if flag and (p.get("table_cfs") or p.get("namespaces")):
                raise ValueError(
                    "replicate_all=true conflicts with table_cfs/namespaces"
                )
            if not flag and (
                p.get("exclude_table_cfs") or p.get("exclude_namespaces")
            ):
                raise ValueError(
                    "replicate_all=false conflicts with exclude scope"
                )
            p["replicate_all"] = bool(flag)

        self._update_peer(peer_id, mutate)

    def _set_peer_list(self, peer_id: str, key: str, vals) -> None:
        self._update_peer(
            peer_id,
            lambda p: p.__setitem__(
                key, sorted(set(vals)) if vals is not None else None
            ),
        )

    def _append_peer_list(self, peer_id: str, key: str, vals) -> None:
        self._update_peer(
            peer_id,
            lambda p: p.__setitem__(
                key, sorted(set(p.get(key) or []) | set(vals))
            ),
        )

    def _remove_peer_list(self, peer_id: str, key: str, vals) -> None:
        self._update_peer(
            peer_id,
            lambda p: p.__setitem__(
                key, sorted(set(p.get(key) or []) - set(vals)) or None
            ),
        )

    def set_peer_namespaces(self, peer_id: str, namespaces) -> None:
        """shell `set_peer_namespaces`."""
        self._guard_sync_scope(peer_id)
        self._set_peer_list(peer_id, "namespaces", namespaces)

    def append_peer_namespaces(self, peer_id: str, namespaces) -> None:
        """shell `append_peer_namespaces`."""
        self._guard_sync_scope(peer_id)
        self._append_peer_list(peer_id, "namespaces", namespaces)

    def remove_peer_namespaces(self, peer_id: str, namespaces) -> None:
        """shell `remove_peer_namespaces`."""
        self._guard_sync_scope(peer_id)
        self._remove_peer_list(peer_id, "namespaces", namespaces)

    def set_peer_exclude_namespaces(self, peer_id: str, namespaces) -> None:
        """shell `set_peer_exclude_namespaces`."""
        self._guard_sync_scope(peer_id)
        self._set_peer_list(peer_id, "exclude_namespaces", namespaces)

    def append_peer_exclude_namespaces(self, peer_id: str, namespaces) -> None:
        """shell `append_peer_exclude_namespaces`."""
        self._guard_sync_scope(peer_id)
        self._append_peer_list(peer_id, "exclude_namespaces", namespaces)

    def remove_peer_exclude_namespaces(self, peer_id: str, namespaces) -> None:
        """shell `remove_peer_exclude_namespaces`."""
        self._guard_sync_scope(peer_id)
        self._remove_peer_list(peer_id, "exclude_namespaces", namespaces)

    @staticmethod
    def _merge_cfs(cur: dict, add: dict) -> dict:
        for t, fams in add.items():
            if t in cur and cur[t] is not None and fams is not None:
                cur[t] = sorted(set(cur[t]) | set(fams))
            else:
                cur[t] = fams
        return cur

    @staticmethod
    def _subtract_cfs(cur: dict, drop: dict):
        for t, fams in drop.items():
            if t not in cur:
                continue
            if fams is None or cur[t] is None:
                del cur[t]
            else:
                left = sorted(set(cur[t]) - set(fams))
                if left:
                    cur[t] = left
                else:
                    del cur[t]
        return cur or None

    def set_peer_exclude_table_cfs(self, peer_id: str, table_cfs) -> None:
        """shell `set_peer_exclude_tableCFs`."""
        self._guard_sync_scope(peer_id)
        self._update_peer(
            peer_id, lambda p: p.__setitem__("exclude_table_cfs", table_cfs)
        )

    def append_peer_exclude_table_cfs(self, peer_id: str, table_cfs) -> None:
        """shell `append_peer_exclude_tableCFs`."""
        self._guard_sync_scope(peer_id)
        self._update_peer(
            peer_id,
            lambda p: p.__setitem__(
                "exclude_table_cfs",
                self._merge_cfs(p.get("exclude_table_cfs") or {}, table_cfs),
            ),
        )

    def remove_peer_exclude_table_cfs(self, peer_id: str, table_cfs) -> None:
        """shell `remove_peer_exclude_tableCFs`."""
        self._guard_sync_scope(peer_id)
        self._update_peer(
            peer_id,
            lambda p: p.__setitem__(
                "exclude_table_cfs",
                self._subtract_cfs(
                    p.get("exclude_table_cfs") or {}, table_cfs
                ),
            ),
        )

    def update_peer_config(self, peer_id: str, **fields) -> dict:
        """shell `update_peer_config` /
        Admin.updateReplicationPeerConfig: merge the given config
        fields (cluster_key, table_cfs, namespaces, exclude_*,
        bandwidth, serial, replicate_all) into the peer; returns the
        updated config."""
        allowed = {
            "cluster_key", "table_cfs", "namespaces",
            "exclude_namespaces", "exclude_table_cfs", "bandwidth",
            "serial", "replicate_all",
        }
        bad = set(fields) - allowed
        if bad:
            raise ValueError(f"unknown peer config fields {sorted(bad)}")
        self._update_peer(peer_id, lambda p: p.update(fields))
        return self.get_peer_config(peer_id)

    # -- rsgroup refinements (rsgroup/RSGroupAdminClient.java;
    # shell rename_rsgroup, *_namespaces_rsgroup,
    # move_servers_tables_rsgroup, alter/show_rsgroup_config).
    # Namespace membership lives on the group ("namespaces" list, the
    # hbase.rsgroup.name namespace-config analog); group config is a
    # free-form dict. -----------------------------------------------------

    def rename_rsgroup(self, old: str, new: str) -> None:
        """shell `rename_rsgroup` (RSGroupAdminClient.renameRSGroup)."""
        groups = self._read_rsgroups()
        if old == self._DEFAULT_RSGROUP or old not in groups:
            raise ValueError(f"rsgroup {old!r} does not exist or is default")
        if new == self._DEFAULT_RSGROUP or new in groups:
            raise ValueError(f"rsgroup {new!r} already exists")
        groups[new] = groups.pop(old)
        self._write_json(self._rsgroups_path(), groups)

    def move_namespaces_rsgroup(self, namespaces: list[str], target: str) -> None:
        """shell `move_namespaces_rsgroup`: every table of the
        namespace follows the group from now on."""
        groups = self._read_rsgroups()
        if target not in groups:
            raise ValueError(f"rsgroup {target!r} does not exist")
        for ns in namespaces:
            self.describe_namespace(ns)  # raises if unknown
            for g in groups.values():
                g["namespaces"] = [
                    n for n in g.get("namespaces", []) if n != ns
                ]
            groups[target].setdefault("namespaces", []).append(ns)
        self._write_json(self._rsgroups_path(), groups)

    def get_namespace_rsgroup(self, ns: str) -> str:
        """shell `get_namespace_rsgroup`."""
        for g, info in self._read_rsgroups().items():
            if ns in info.get("namespaces", []):
                return g
        return self._DEFAULT_RSGROUP

    def move_servers_tables_rsgroup(
        self, servers: list[str], tables: list[str], target: str
    ) -> None:
        """shell `move_servers_tables_rsgroup` — one atomic reassign
        of both (RSGroupAdminClient.moveServersAndTables)."""
        self.move_servers_rsgroup(servers, target)
        self.move_tables_rsgroup(tables, target)

    def move_servers_namespaces_rsgroup(
        self, servers: list[str], namespaces: list[str], target: str
    ) -> None:
        """shell `move_servers_namespaces_rsgroup`."""
        self.move_servers_rsgroup(servers, target)
        self.move_namespaces_rsgroup(namespaces, target)

    def update_rsgroup_config(self, group: str, props: dict) -> dict:
        """shell `alter_rsgroup_config` / `update_rsgroup_config`:
        merge configuration keys onto the group (empty-string value
        unsets, like the reference's METHOD => 'unset')."""
        groups = self._read_rsgroups()
        if group not in groups:
            raise ValueError(f"rsgroup {group!r} does not exist")
        cfg = groups[group].setdefault("config", {})
        for k, v in props.items():
            if v in ("", None):
                cfg.pop(k, None)
            else:
                cfg[k] = v
        self._write_json(self._rsgroups_path(), groups)
        return dict(cfg)

    def show_rsgroup_config(self, group: str) -> dict:
        """shell `show_rsgroup_config`."""
        groups = self._read_rsgroups()
        if group == self._DEFAULT_RSGROUP:
            return {}
        if group not in groups:
            raise ValueError(f"rsgroup {group!r} does not exist")
        return dict(groups[group].get("config", {}))

    # -- namespace alter / batch table ops / misc introspection ---------

    def alter_namespace(self, ns: str, props: dict) -> dict:
        """shell `alter_namespace` / Admin.modifyNamespace: merge
        configuration properties onto the namespace descriptor
        (METHOD => 'unset' = empty value, like the reference)."""
        if ns == "default":
            raise ValueError("cannot alter the default namespace")
        desc = self.describe_namespace(ns)
        cfg = desc.setdefault("config", {})
        for k, v in props.items():
            if v in ("", None):
                cfg.pop(k, None)
            else:
                cfg[k] = v
        self._write_json(
            f"{self.catalog_dir}/{ns}/{_NAMESPACE_DESC}", desc
        )
        return desc

    def _tables_matching(self, regex: str) -> list[str]:
        import re as _re

        pat = _re.compile(regex)
        return [t for t in self.list_tables() if pat.search(t)]

    def enable_all(self, regex: str) -> list[str]:
        """shell `enable_all 'regex'` — returns the tables enabled."""
        hit = [
            t for t in self._tables_matching(regex)
            if not self.is_table_enabled(t)
        ]
        for t in hit:
            self.enable_table(t)
        return hit

    def disable_all(self, regex: str) -> list[str]:
        """shell `disable_all 'regex'`."""
        hit = [
            t for t in self._tables_matching(regex)
            if self.is_table_enabled(t)
        ]
        for t in hit:
            self.disable_table(t)
        return hit

    def drop_all(self, regex: str) -> list[str]:
        """shell `drop_all 'regex'` — drops (deletes) every DISABLED
        table matching; like the reference, enabled matches raise."""
        hit = self._tables_matching(regex)
        enabled = [t for t in hit if self.is_table_enabled(t)]
        if enabled:
            raise ValueError(f"tables must be disabled first: {enabled}")
        for t in hit:
            self.delete_table(t)
        return hit

    def list_table_snapshots(self, table: str, regex: str = ".*") -> list[str]:
        """shell `list_table_snapshots 't'[, 'regex']`."""
        import re as _re

        pat = _re.compile(regex)
        out = []
        for snap in self.list_snapshots():
            man = self._read_json(self._snap_path(snap), f"snapshot {snap!r}")
            if man.get("table") == table and pat.search(snap):
                out.append(snap)
        return out

    def list_security_capabilities(self) -> list[str]:
        """shell `list_security_capabilities`
        (Admin.getSecurityCapabilities): the enforcement surfaces this
        engine actually implements — the ACL registry (grant/revoke +
        read checks) and cell visibility labels.  The two
        authentication capabilities need an RPC layer; see the
        COVERAGE scope-out."""
        return ["AUTHORIZATION", "CELL_AUTHORIZATION", "CELL_VISIBILITY"]

    def regioninfo(self, name: str, row) -> dict:
        """shell `regioninfo` — the full region descriptor of the
        region holding ``row`` (locate + size + file)."""
        loc = self.locate_region(name, row)
        sizes = {
            r["region_file"]: r for r in self._region_sizes(name)
        }
        extra = sizes.get(loc["region_file"], {})
        return {**loc, "data_bytes": extra.get("bytes", 0)}

    def zk_dump(self) -> dict:
        """shell `zk_dump`: the coordination-state dump — for a
        catalog-backed engine that is the catalog itself: tables and
        enable state, namespaces, replication peers, rsgroups, master
        switches, snapshots, in-flight procedures."""
        return {
            "tables": {
                t: ("ENABLED" if self.is_table_enabled(t) else "DISABLED")
                for t in self.list_tables()
            },
            "namespaces": self.list_namespaces(),
            "peers": self.list_peers(),
            "rsgroups": self.list_rsgroups(),
            "switches": self._read_switches(),
            "snapshots": self.list_snapshots(),
            "procedures_running": self.list_procedures(completed=False),
        }


def equal_mass_split_points(
    spark: SparkSession, cells, num_regions: int
) -> list:
    """Mass-even region boundaries: weighted quantiles of the row-key
    space with weight = logical cell bytes — what the balancer needs
    when value sizes are skewed (row-count-even ranges would leave the
    fat keys piled in one region).

    Scale shape: NO global sort.  Range-shard the per-row masses
    (sampling pass), collect only the per-shard totals (bounded:
    ``4 x num_regions`` rows) to get each shard's cumulative offset —
    the same sharded-cumulative-sum discipline as sequence packing —
    then an intra-shard window finds the first row crossing each
    ``k/num_regions`` mass boundary.  Output is at most
    ``num_regions - 1`` rows collected."""
    from pyspark.sql import Window

    mass = (
        F.coalesce(F.length("value"), F.lit(0))
        + F.length("row")
        + F.length("qualifier")
    ).cast("long")
    shards = max(num_regions * 4, 8)
    per_row = (
        cells.groupBy("row").agg(F.sum(mass).alias("_m"))
        .repartitionByRange(shards, "row")
        .withColumn("_pid", F.spark_partition_id())
    )
    totals = {
        r._pid: r.t
        for r in per_row.groupBy("_pid").agg(F.sum("_m").alias("t")).collect()
    }
    # pid order == range order for repartitionByRange
    offs, acc = [], 0
    for p in sorted(totals):
        offs.append((p, acc))
        acc += totals[p]
    if not acc or num_regions < 2:
        return []
    target = acc / num_regions
    off_df = F.broadcast(
        spark.createDataFrame(offs, "_pid int, _off long")
    )
    w = Window.partitionBy("_pid").orderBy("row")
    cum = F.col("_off") + F.sum("_m").over(w)
    crossing = (
        per_row.join(off_df, "_pid")
        .withColumn("_k", F.floor(cum / F.lit(target)))
        .withColumn("_kp", F.floor((cum - F.col("_m")) / F.lit(target)))
        .filter((F.col("_k") > F.col("_kp")) & (F.col("_k") < num_regions))
    )
    return sorted(r.row for r in crossing.select("row").collect())


def plan_normalization(
    regions: list[dict],
    *,
    split_enabled: bool = True,
    merge_enabled: bool = True,
    merge_min_region_count: int = 3,
    target_region_size_bytes: int | None = None,
    merge_request_max_regions: int = 50,
) -> list[dict]:
    """Pure planning function behind Admin.compute_normalization_plans
    (SimpleRegionNormalizer.java:64 computeSplit/MergeNormalizationPlans)
    — takes [{start_key, bytes}, ...] in key order so the plan laws can
    be property-tested without a layout.  Invariants (pinned in
    tests/test_admin_shell.py): split plans only for regions > 2x the
    average; merge plans are runs of >= 2 ADJACENT regions, none
    split-flagged, cumulative size <= the average, at most
    ``merge_request_max_regions`` members."""
    if not regions:
        return []
    if target_region_size_bytes:
        avg = float(target_region_size_bytes)
    else:
        avg = sum(r["bytes"] for r in regions) / len(regions)
    plans: list[dict] = []
    if split_enabled:
        for r in regions:
            if r["bytes"] > 2 * avg:
                plans.append(
                    {"type": "split", "start_key": r["start_key"],
                     "bytes": r["bytes"]}
                )
    split_keys = {p["start_key"] for p in plans}
    if merge_enabled and len(regions) >= merge_min_region_count:
        run: list[dict] = []
        run_bytes = 0

        def _flush_run():
            if len(run) >= 2:
                plans.append(
                    {
                        "type": "merge",
                        "start_keys": [m["start_key"] for m in run],
                        "bytes": run_bytes,
                    }
                )

        for r in regions:
            if r["start_key"] in split_keys:
                _flush_run()
                run, run_bytes = [], 0
                continue
            if (
                not run
                or (
                    run_bytes + r["bytes"] <= avg
                    and len(run) < merge_request_max_regions
                )
            ):
                run.append(r)
                run_bytes += r["bytes"]
            else:
                _flush_run()
                run, run_bytes = [r], r["bytes"]
        _flush_run()
    return plans


def canary(admin: Admin, tables: list[str] | None = None) -> dict:
    """tool/Canary.java region-mode analog: probe every region of every
    enabled table with a lightweight range read and report per-region
    health + latency.  One Spark job per table (all its regions probed
    in one pruned scan), not one per region — the sniff cost stays
    O(tables), and a missing/corrupt region file surfaces as a failed
    probe rather than a silent zero."""
    import time as _t

    report: dict = {"tables": {}, "healthy": True}
    for name in tables or admin.list_tables():
        entry: dict = {"regions": 0, "failed": 0, "latency_ms": None}
        try:
            if not admin.is_table_enabled(name):
                entry["skipped"] = "disabled"
                report["tables"][name] = entry
                continue
            t0 = _t.monotonic()
            regions = admin._cached_region_inventory(name)
            entry["regions"] = len(regions)
            # one probe scan touching each region's start key range
            tbl = admin.table(name)
            entry["cells_sampled"] = tbl.cells.limit(
                max(1, len(regions))
            ).count()
            entry["latency_ms"] = int((_t.monotonic() - t0) * 1000)
        except Exception as e:  # noqa: BLE001 — the canary reports, never raises
            entry["failed"] += 1
            entry["error"] = f"{type(e).__name__}: {e}"
            report["healthy"] = False
        report["tables"][name] = entry
    return report
