"""Table — the user-facing HBase-parity facade.

Wraps a raw CellFrame plus per-family schema knobs
(client/ColumnFamilyDescriptorBuilder.java: MAX_VERSIONS :147, TTL :139,
NEW_VERSION_BEHAVIOR :197) and exposes the client surface:
get / exists / scan / put / delete / increment / append /
check_and_mutate (client/Table.java).

The Table is immutable-functional: mutations return a new Table whose
CellFrame has the mutation cells appended (deletes are tombstones, not
physical removal) — visibility happens at read time via snapshot
resolution, exactly the reference's LSM write path re-expressed
declaratively.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace

from pyspark.sql import DataFrame

from hbase_spark.operators.resolve import resolve
from hbase_spark.operators.scan import Scan, scan as scan_op


@dataclass(frozen=True)
class FamilyDescriptor:
    """Per-CF schema knobs that change query results (SURVEY.md §1.3)."""

    max_versions: int = 1          # ColumnFamilyDescriptorBuilder.java:147
    min_versions: int = 0          # :150 — survive TTL while rank <= min
    ttl_ms: int | None = None      # :139 (reference stores seconds; we use ms)
    new_version_behavior: bool = False  # :197
    keep_deleted_cells: bool = False    # :158 — back-in-time reads see deletes
    # IS_MOB + MOB_THRESHOLD (ColumnFamilyDescriptorBuilder.java
    # setMobEnabled/setMobThreshold; mob/MobConstants.java default 100KB):
    # values longer than this flush to a separate mob store so the hot
    # cell files stay small; None = MOB off.
    mob_threshold: int | None = None


class NoSuchColumnFamilyError(ValueError):
    """Mutation addressed a family the table does not declare
    (rs/HRegion.java checkFamily -> NoSuchColumnFamilyException)."""


@dataclass
class Table:
    cells: DataFrame
    families: dict[str, FamilyDescriptor] = field(default_factory=dict)
    now: int | None = None  # TTL clock, explicit for determinism
    # The tombstone kinds the cells can hold: frozenset() when the
    # Admin.flush that wrote their layout found none, None (unknown)
    # otherwise.  Set by Admin.table() only — a fact about the data,
    # never a user option; every read path hands it to the resolve core
    # as its delete_kinds contract (operators.resolve.resolve).  Tables
    # derived by a mutation start unknown again.
    _delete_kinds: frozenset | None = field(default=None, repr=False)

    def _check_families(self, items: list[tuple]) -> None:
        """Reject mutations to undeclared families, like the reference's
        region-side checkFamily.  A bare Table (no descriptors) stays
        permissive — it models a schemaless CellFrame."""
        if not self.families:
            return
        bad = sorted({t[1] for t in items} - set(self.families))
        if bad:
            raise NoSuchColumnFamilyError(
                f"column families {bad} not declared (have "
                f"{sorted(self.families)})"
            )

    # -- reads ---------------------------------------------------------------

    def _ttl_map(self) -> dict[str, int] | None:
        ttl = {f: d.ttl_ms for f, d in self.families.items() if d.ttl_ms}
        return ttl or None

    def _nvb(self) -> set[str] | bool:
        """Families with NEW_VERSION_BEHAVIOR — strictly per-CF in the
        reference (ColumnFamilyDescriptor), so a set, not an any()."""
        return {f for f, d in self.families.items() if d.new_version_behavior}

    def _min_versions(self) -> dict[str, int] | int:
        return {f: d.min_versions for f, d in self.families.items()} or 0

    def _kdc(self) -> set[str] | bool:
        return {f for f, d in self.families.items() if d.keep_deleted_cells}

    def _versions_map(self, requested: int | None = None) -> dict[str, int] | int:
        """Effective per-family version cap: min(schema MAX_VERSIONS,
        Scan.readVersions) — client/Scan.java:487.  Families without a
        descriptor keep the reference default MAX_VERSIONS=1."""
        if not self.families:
            return requested or 1
        return {
            f: min(requested, d.max_versions) if requested else d.max_versions
            for f, d in self.families.items()
        }

    def snapshot(self, versions: int | None = None, **kw) -> DataFrame:
        """The resolved visible table (default: schema MAX_VERSIONS)."""
        kw.setdefault("min_versions", self._min_versions())
        kw.setdefault("keep_deleted_cells", self._kdc())
        kw.setdefault("delete_kinds", self._delete_kinds)
        return resolve(
            self.cells,
            versions=self._versions_map(versions),
            ttl_by_family=self._ttl_map(),
            now=self.now,
            new_version_behavior=self._nvb(),
            **kw,
        )

    def scan(self, spec: Scan | None = None, **kwargs) -> DataFrame:
        spec = spec or Scan(**kwargs)
        if self.families and isinstance(spec.versions, int):
            # clamp the requested read versions at each family's schema
            # max before execution (the reference applies the min at the
            # region scanner; a bare Table with no descriptors stays
            # permissive).
            spec = replace(spec, versions=self._versions_map(spec.versions))
        return scan_op(
            self.cells,
            spec,
            ttl_by_family=self._ttl_map(),
            now=self.now,
            new_version_behavior=self._nvb(),
            min_versions=self._min_versions(),
            keep_deleted_cells=self._kdc(),
            _delete_kinds=self._delete_kinds,
        )

    def get(self, row_key, **kw) -> DataFrame:
        # route through scan() so the per-family schema knobs (TTL,
        # NVB, MIN_VERSIONS, KEEP_DELETED_CELLS) apply to point reads
        # exactly as they do to scans (a Get IS a one-row Scan —
        # client/Get.java:65)
        return self.scan(
            Scan(start_row=row_key, stop_row=row_key, stop_inclusive=True, **kw)
        )

    def multi_get(self, row_keys: list, **kw) -> DataFrame:
        from pyspark.sql import functions as F

        keys = self.cells.sparkSession.createDataFrame(
            [(k,) for k in row_keys], ["row"]
        )  # stays a LocalTableScan: broadcast builds driver-side, no job
        narrowed = self.cells.join(F.broadcast(keys), "row", "left_semi")
        return replace(self, cells=narrowed).scan(Scan(**kw))

    def exists(self, row_key) -> bool:
        return self.get(row_key).select("row").limit(1).count() > 0

    # -- writes (batch merges; see operators/mutations.py) --------------------

    def with_cells(self, more: DataFrame) -> "Table":
        """Append mutation cells (the memstore-apply analog)."""
        return Table(
            self.cells.unionByName(more.select(*self.cells.columns)),
            self.families,
            self.now,
        )

    def put(self, puts: list[tuple], *, ts: int, seq: int) -> "Table":
        """client/Table.java:221 — puts = [(row, family, qualifier, value)]."""
        from hbase_spark.operators.mutations import put_cells

        self._check_families(puts)
        return self.with_cells(
            put_cells(self.cells.sparkSession, puts, ts=ts, seq=seq)
        )

    def delete(self, deletes: list[tuple], *, ts: int, seq: int, kind=None) -> "Table":
        """Write tombstones — deletes = [(row, family, qualifier)]
        (client/Delete.java:64; kind defaults to DeleteColumn)."""
        from hbase_spark.model import CellType
        from hbase_spark.operators.mutations import delete_cells

        self._check_families(deletes)
        return self.with_cells(
            delete_cells(
                self.cells.sparkSession,
                deletes,
                ts=ts,
                seq=seq,
                kind=kind if kind is not None else CellType.DELETE_COLUMN,
            )
        )

    def _resolve_kw(self) -> dict:
        """Descriptor knobs for the read half of read-modify-write ops —
        the reference evaluates Increment/Append/CheckAndMutate guards
        under the same read rules as any scan."""
        return {
            "ttl_by_family": self._ttl_map(),
            "now": self.now,
            "new_version_behavior": self._nvb(),
            "min_versions": self._min_versions(),
            "delete_kinds": self._delete_kinds,
        }

    def increment(self, deltas, *, ts: int, seq: int) -> "Table":
        """client/Increment.java:53 — deltas: DataFrame(row, family,
        qualifier, delta) or [(row, family, qualifier, delta)]."""
        from hbase_spark.operators.mutations import apply_increments

        if isinstance(deltas, list):
            self._check_families(deltas)
        deltas = self._mutation_frame(deltas, "delta", "long")
        return Table(
            apply_increments(
                self.cells, deltas, ts=ts, seq=seq, resolve_kw=self._resolve_kw()
            ),
            self.families,
            self.now,
        )

    def append(self, appends, *, ts: int, seq: int) -> "Table":
        """client/Append.java:51 — appends: DataFrame(row, family,
        qualifier, delta[, seq]) or [(row, family, qualifier, delta)]."""
        from hbase_spark.operators.mutations import apply_appends

        if isinstance(appends, list):
            self._check_families(appends)
        appends = self._mutation_frame(appends, "delta", "string", with_seq=True)
        return Table(
            apply_appends(
                self.cells, appends, ts=ts, seq=seq, resolve_kw=self._resolve_kw()
            ),
            self.families,
            self.now,
        )

    def check_and_mutate(self, mutations: DataFrame, **guard) -> "Table":
        """client/CheckAndMutate.java:58 — guard kwargs as in
        operators.mutations.apply_check_and_mutate."""
        from hbase_spark.operators.mutations import apply_check_and_mutate

        return Table(
            apply_check_and_mutate(
                self.cells, mutations, resolve_kw=self._resolve_kw(), **guard
            ),
            self.families,
            self.now,
        )

    def batch(self, mutation_frames: list[DataFrame]) -> "Table":
        """client/Table.java:127 — heterogeneous bulk ops: one merge."""
        t = self
        for m in mutation_frames:
            t = t.with_cells(m)
        return t

    def _mutation_frame(self, m, value_col: str, value_type: str, with_seq: bool = False):
        if isinstance(m, DataFrame):
            return m
        spark = self.cells.sparkSession
        schema = f"row string, family string, qualifier string, {value_col} {value_type}"
        rows = m
        if with_seq:
            schema += ", seq long"
            rows = [(*t, i) for i, t in enumerate(m)]
        # one partition: a literal delta list is one client batch (see
        # operators.mutations.make_cells for the measured rationale)
        return spark.createDataFrame(rows, schema).coalesce(1)

    # -- jobs ------------------------------------------------------------------

    def count(self) -> int:
        """Shell `count` / RowCounter: distinct visible rows."""
        return self.snapshot().select("row").distinct().count()

    def compact(self) -> "Table":
        """Major compaction: materialize the snapshot (SURVEY.md §2.9).
        KEEP_DELETED_CELLS families retain tombstones and masked cells
        (CompactionScanQueryMatcher.java:95-102) so back-in-time reads
        survive the rewrite."""
        from hbase_spark.operators.resolve import compact as compact_op

        rewritten = compact_op(
            self.cells,
            versions=self._versions_map(),
            min_versions=self._min_versions(),
            ttl_by_family=self._ttl_map(),
            now=self.now,
            keep_deleted_cells=self._kdc(),
            _delete_kinds=self._delete_kinds,
        )
        return Table(rewritten, self.families, self.now)


class BufferedMutator:
    """client/BufferedMutator.java:60 — client-side write buffering.

    Mutations accumulate driver-side and apply as ONE batch merge on
    ``flush()`` (the reference coalesces RPCs; here we coalesce Spark
    plan nodes: one union + one set of mutation frames instead of one
    per put).  ``mutate_put`` / ``mutate_delete`` accept the same
    tuples as Table.put/delete; the buffer flushes automatically when
    ``buffer_size`` mutations accumulate (the writeBufferSize analog,
    counted in mutations, not bytes — byte sizing is meaningless for
    plan building).

    ``limiter``: an optional WRITE_NUMBER throttle
    (quotas.RateLimiter, e.g. from Admin.throttle_limiter) consulted
    per mutation — the client-side pushback the reference applies when
    a RegionServer returns RpcThrottlingException.  ``clock`` supplies
    milliseconds for the limiter (injectable for tests).
    """

    def __init__(self, table: Table, *, buffer_size: int = 10_000,
                 limiter=None, clock=None):
        self.table = table
        self.buffer_size = buffer_size
        self.limiter = limiter
        self._clock = clock
        self._puts: list[tuple] = []
        self._dels: list[tuple] = []

    def _consume_quota(self) -> None:
        if self.limiter is not None:
            import time

            now_ms = self._clock() if self._clock else int(time.time() * 1000)
            self.limiter.consume(1, now_ms=now_ms)

    def mutate_put(self, row, family, qualifier, value, *, ts: int, seq: int) -> None:
        self._consume_quota()
        self.table._check_families([(row, family)])
        self._puts.append((row, family, qualifier, ts, seq, value))
        self._maybe_flush()

    def mutate_delete(self, row, family, qualifier, *, ts: int, seq: int, kind=None) -> None:
        self._consume_quota()
        self.table._check_families([(row, family)])
        from hbase_spark.model import CellType

        self._dels.append(
            (row, family, qualifier, ts, seq, kind or CellType.DELETE_COLUMN)
        )
        self._maybe_flush()

    def _maybe_flush(self) -> None:
        if len(self._puts) + len(self._dels) >= self.buffer_size:
            self.flush()

    def flush(self) -> Table:
        """Apply everything buffered as one merge; returns (and
        rebinds) the updated Table."""
        from hbase_spark.model import CellType
        from hbase_spark.operators.mutations import make_cells

        if self._puts or self._dels:
            rows = [
                (r, f, q, ts, CellType.PUT, v, seq)
                for (r, f, q, ts, seq, v) in self._puts
            ] + [
                (r, f, q, ts, kind, None, seq)
                for (r, f, q, ts, seq, kind) in self._dels
            ]
            self.table = self.table.with_cells(
                make_cells(self.table.cells.sparkSession, rows)
            )
            self._puts, self._dels = [], []
        return self.table
