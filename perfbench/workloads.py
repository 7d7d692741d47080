"""The benchmark workloads.

The two workloads the benchmark runs, ``cell_api`` and
``doc_pipeline``, are each a pair of halves in one session (cell reads
+ cell writes, doc curation + stream ingest): one run pays 30-45 s of
set-up, and four separate workloads do not fit the run budget.  The
halves are base classes only.

Each workload owns its set-up, a fixed seeded schedule of op kinds, the
public ``hbase_spark`` call behind every op, and an independent check
of each op's output.  An op is built in two steps so the runner can
time them apart:

- ``build(op)`` is the public call up to the point it hands back work:
  a DataFrame (the runner materializes it through the noop sink) or a
  zero-argument callable (for calls that run their own jobs, such as
  ``Admin.flush`` or a streaming drain);
- ``check(op)`` recomputes the op's answer without the code under test
  (DuckDB SQL over the generated parquet, ``pe_value_py``, planted
  duplicates, or a batch twin) and raises ``CheckFailed`` on mismatch.
"""

from __future__ import annotations

import dataclasses
import json
import os

import duckdb
import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hbase_spark.model import CellType, cell_schema
from hbase_spark.sources.tables import load_table


class CheckFailed(AssertionError):
    pass


@dataclasses.dataclass(frozen=True)
class Op:
    kind: str
    param: object
    pass_no: int


def _norm_rows(rows) -> list[tuple]:
    return sorted(
        tuple(None if v is None else str(v) for v in r) for r in rows
    )


def _expect_equal(kind: str, got, want) -> None:
    if got != want:
        g, w = set(got), set(want)
        raise CheckFailed(
            f"{kind}: {len(got)} rows vs {len(want)} expected; "
            f"missing {sorted(w - g)[:3]}, unexpected {sorted(g - w)[:3]}"
        )


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
    return total


class Workload:
    """Base: subclasses set ``name`` and ``KINDS`` (op kind -> layer,
    the module that owns the public function)."""

    name = ""
    KINDS: dict[str, str] = {}
    # kind -> rounds per pass (default 1), so cheap kinds get several
    # latency samples per run
    REPEATS: dict[str, int] = {}

    def __init__(self, spark: SparkSession, inputs: dict, work: str,
                 seed: int, scale):
        self.spark = spark
        self.inputs = inputs
        self.root = os.path.dirname(inputs["paths"]["events"])
        self.work = work
        self.seed = seed
        self.scale = scale
        self.rng = np.random.default_rng(seed + 1)
        self.duck = duckdb.connect()
        for name, path in inputs["paths"].items():
            self.duck.execute(
                f"CREATE VIEW {name} AS SELECT * FROM "
                f"read_parquet('{path}/*.parquet')"
            )

    # parameters: each kind cycles through a seeded pool (one entry
    # per kind today), so every (kind, parameter) pair is checked once
    def params(self, kind: str) -> list:
        return [None]

    def schedule(self, pass_no: int) -> list[Op]:
        """One pass: the kinds in order, in rounds; a kind runs in the
        last ``REPEATS[kind]`` rounds (so a repeated read kind is timed
        before, not after, the write kinds of its pass)."""
        out = []
        rounds = max(self.REPEATS.values(), default=1)
        for r in range(rounds):
            for kind in self.KINDS:
                if r >= rounds - self.REPEATS.get(kind, 1):
                    pool = self._pools.setdefault(kind, self.params(kind))
                    out.append(Op(kind, pool[pass_no % len(pool)], pass_no))
        return out

    @property
    def _pools(self) -> dict:
        if not hasattr(self, "_pool_cache"):
            self._pool_cache = {}
        return self._pool_cache

    def setup(self) -> None:
        pass

    def build(self, op: Op):
        return getattr(self, f"op_{op.kind}")(op)

    def check(self, op: Op) -> int:
        """Raise CheckFailed on a wrong answer; return the op's result
        row count."""
        return getattr(self, f"check_{op.kind}")(op)

    def after_op(self, op: Op) -> None:
        pass

    def final_check(self) -> None:
        pass

    def stored_ratio(self) -> float:
        raise NotImplementedError


# ---------------------------------------------------------------- cell_reads

_EVENTS_CELLS_SQL = """
SELECT lpad(cast(user_id as varchar), 8, '0') AS rk, 'e' AS family,
       event_type AS qualifier, epoch_ms(ts) AS ts,
       CASE WHEN event_id % 23 = 0 THEN 12 ELSE 4 END AS type,
       cast(cast(value as decimal(18,4)) as varchar) AS value,
       event_id AS seq
FROM events
"""

_ORDERS_COLS = ["o_custkey", "o_orderpriority", "o_orderstatus"]
_ORDERS_CELLS_SQL = "\nUNION ALL\n".join(
    f"SELECT lpad(cast(o_orderkey as varchar), 12, '0') AS rk, "
    f"'{q}' AS qualifier, cast({q} as varchar) AS value FROM orders"
    for q in _ORDERS_COLS
)


def _resolved_events_sql(readpoint: int, versions: int) -> str:
    """Tombstone mask -> version rank over the as-of slice (seq <=
    readpoint): ScanDeleteTracker + version cap, written directly."""
    return f"""
WITH cells AS (SELECT * FROM ({_EVENTS_CELLS_SQL}) WHERE seq <= {readpoint}),
dels AS (SELECT rk, qualifier, ts FROM cells WHERE type = 12),
live AS (
    SELECT c.* FROM cells c
    WHERE c.type = 4 AND NOT EXISTS (
        SELECT 1 FROM dels d
        WHERE d.rk = c.rk AND d.qualifier = c.qualifier AND d.ts >= c.ts)),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY rk, qualifier ORDER BY ts DESC, seq DESC) AS rn
    FROM live)
SELECT rk, qualifier, ts, value FROM ranked WHERE rn <= {versions}"""


class CellReads(Workload):
    """Read API over an events melt (multi-version, DeleteColumn
    tombstones) and persisted bucketed orders/lineitem layouts."""

    KINDS = {
        "resolve_latest": "operators.resolve",
        "resolve_versions": "operators.resolve",
        "scan_range": "operators.scan",
        "multi_get": "operators.get",
        "filter_scvf": "filters",
        "agg_median": "operators.aggregations",
    }

    def params(self, kind):
        rng, s = self.rng, self.scale
        if kind in ("resolve_latest", "resolve_versions"):
            return [int(rng.integers(s.events // 2, s.events))]
        if kind == "scan_range":
            width = max(s.orders // 20, 1)
            lo = int(rng.integers(0, s.orders - width))
            return [(lo, lo + width)]
        if kind == "multi_get":
            return [tuple(sorted(int(k) for k in
                                 rng.choice(s.orders, 16, replace=False)))]
        if kind == "filter_scvf":
            return [str(rng.choice(["F", "O", "P"]))]
        if kind == "agg_median":
            half = s.lineitem // 2
            lo = int(rng.integers(0, s.lineitem - half))
            return [(lo, lo + half)]
        raise KeyError(kind)

    def setup(self):
        from hbase_spark.sources.layout import (
            read_bucketed_path,
            write_bucketed,
        )
        from hbase_spark.sources.melt import melt_table

        orders = melt_table(load_table(self.spark, self.root, "orders"),
                            "o_orderkey", "o", _ORDERS_COLS, ts=1)
        li = melt_table(load_table(self.spark, self.root, "lineitem"),
                        "pk", "li", ["l_quantity"], key_width=16)
        self.layout_dirs = {}
        self.layouts = {}
        for name, cells in (("orders", orders), ("lineitem", li)):
            path = f"{self.work}/layout_{name}"
            table = f"pb_{name}_layout"
            write_bucketed(cells, table, num_buckets=8, path=path)
            self.layout_dirs[name] = path
            self.layouts[name] = read_bucketed_path(
                self.spark, path, table, num_buckets=8)

    def _events_cells(self) -> DataFrame:
        ev = load_table(self.spark, self.root, "events")
        return ev.select(
            F.lpad(F.col("user_id").cast("string"), 8, "0").alias("row"),
            F.lit("e").alias("family"),
            F.col("event_type").alias("qualifier"),
            F.unix_millis(F.col("ts")).alias("ts"),
            F.when(F.col("event_id") % 23 == 0, F.lit(CellType.DELETE_COLUMN))
            .otherwise(F.lit(CellType.PUT)).cast("int").alias("type"),
            F.col("value").cast("decimal(18,4)").cast("string").alias("value"),
            F.col("event_id").alias("seq"),
        )

    # -- ops
    def op_resolve_latest(self, op):
        from hbase_spark.operators.resolve import resolve

        cells = self._events_cells().filter(F.col("seq") <= op.param)
        out = resolve(cells, versions=1,
                      delete_kinds={CellType.DELETE_COLUMN})
        return out.select("row", "qualifier", "ts", "value")

    def op_resolve_versions(self, op):
        from hbase_spark.operators.resolve import resolve

        cells = self._events_cells().filter(F.col("seq") <= op.param)
        return resolve(cells, versions=2).select(
            "row", "qualifier", "ts", "value")

    def op_scan_range(self, op):
        from hbase_spark.operators.scan import Scan, scan

        lo, hi = op.param
        out = scan(self.layouts["orders"],
                   Scan(start_row=str(lo).zfill(12), stop_row=str(hi).zfill(12)),
                   single_version=True)
        return out.select("row", "qualifier", "value")

    def op_multi_get(self, op):
        from hbase_spark.operators.get import multi_get

        keys = [str(k).zfill(12) for k in op.param]
        out = multi_get(self.layouts["orders"], keys, single_version=True)
        return out.select("row", "qualifier", "value")

    def op_filter_scvf(self, op):
        from hbase_spark.filters import SingleColumnValueFilter
        from hbase_spark.operators.scan import Scan, scan

        flt = SingleColumnValueFilter("o", "o_orderstatus", "=", op.param)
        out = scan(self.layouts["orders"], Scan(filter=flt),
                   single_version=True)
        return out.select("row", "qualifier", "value")

    def op_agg_median(self, op):
        from hbase_spark.operators.aggregations import median_two_phase
        from hbase_spark.operators.resolve import resolve

        lo, hi = op.param
        visible = resolve(
            self.layouts["lineitem"].filter(
                (F.col("row") >= str(lo).zfill(16))
                & (F.col("row") < str(hi).zfill(16))),
            versions=1, single_version=True)
        vals = visible.select(
            F.col("value").cast("decimal(18,2)").cast("decimal(38,10)")
            .alias("value"))
        return lambda: self._medians.__setitem__(
            op.param, median_two_phase(vals, F.col("value")))

    @property
    def _medians(self) -> dict:
        if not hasattr(self, "_median_cache"):
            self._median_cache = {}
        return self._median_cache

    # -- checks
    def _check_frame(self, op, sql: str) -> int:
        got = _norm_rows(self.build(op).collect())
        want = _norm_rows(self.duck.execute(sql).fetchall())
        _expect_equal(op.kind, got, want)
        return len(got)

    def check_resolve_latest(self, op):
        return self._check_frame(op, _resolved_events_sql(op.param, 1))

    def check_resolve_versions(self, op):
        return self._check_frame(op, _resolved_events_sql(op.param, 2))

    def check_scan_range(self, op):
        lo, hi = op.param
        return self._check_frame(op, f"""
            SELECT rk, qualifier, value FROM ({_ORDERS_CELLS_SQL})
            WHERE rk >= lpad('{lo}', 12, '0') AND rk < lpad('{hi}', 12, '0')""")

    def check_multi_get(self, op):
        keys = ", ".join(f"lpad('{k}', 12, '0')" for k in op.param)
        return self._check_frame(op, f"""
            SELECT rk, qualifier, value FROM ({_ORDERS_CELLS_SQL})
            WHERE rk IN ({keys})""")

    def check_filter_scvf(self, op):
        return self._check_frame(op, f"""
            WITH cells AS ({_ORDERS_CELLS_SQL})
            SELECT rk, qualifier, value FROM cells
            WHERE rk IN (SELECT rk FROM cells WHERE qualifier = 'o_orderstatus'
                         AND value = '{op.param}')""")

    def check_agg_median(self, op):
        self.build(op)()
        got = self._medians[op.param]
        lo, hi = op.param
        want = self.duck.execute(f"""
            SELECT median(cast(cast(l_quantity as decimal(18,2))
                               as decimal(38,10)))
            FROM lineitem WHERE pk >= {lo} AND pk < {hi}""").fetchone()[0]
        if got is None or abs(float(got) - float(want)) > 1e-9:
            raise CheckFailed(f"agg_median {op.param}: {got} != {want}")
        return 1


# --------------------------------------------------------------- cell_writes

class CellWrites(Workload):
    """PE-style table: every mutation op is a public Table mutation
    followed by ``Admin.flush`` (a full new layout version); one major
    compaction per pass; a read-after-write multi-get closes the pass.
    A Python model of every key's expected cells checks read-backs."""

    KINDS = {
        "bulk_put": "admin",
        "increment": "operators.mutations",
        "check_and_mutate": "operators.mutations",
        "major_compact": "admin",
        "read_after_write": "operators.get",
    }
    FAMILY = "info0"
    CAM_QUALIFIER = "CheckAndMutateTest"
    INC_QUALIFIER = "IncrementTest"

    def setup(self):
        from hbase_spark.pe import PEOptions, PerformanceEvaluation

        s = self.scale
        self.catalog = f"{self.work}/pe_catalog"
        self.pe = PerformanceEvaluation(self.spark, self.catalog, PEOptions(
            rows=s.pe_rows, value_size=s.pe_value_size, nclients=4,
            seed=self.seed))
        self.pe.sequential_write()
        self.table_name = self.pe.opts.table
        self.admin = self.pe.admin
        self.clock = 10
        # model: key index -> put salt / increment total / CAM value
        self.salt: dict[int, str] = {}
        self.counter: dict[int, int] = {}
        self.cam: dict[int, str] = {}
        self.cam_keys = sorted(int(k) for k in self.rng.choice(
            s.pe_rows, max(s.write_batch // 10, 4), replace=False))
        self.touched: dict[int, list[int]] = {}
        self.flush_ratios: list[float] = []

    def _tick(self) -> int:
        self.clock += 1
        return self.clock

    def _keys(self, op: Op, n: int) -> list[int]:
        # the check pass has negative pass numbers
        rng = np.random.default_rng(
            (self.seed, op.pass_no + 1000, len(op.kind)))
        return sorted(int(k) for k in rng.choice(
            self.scale.pe_rows, n, replace=False))

    @staticmethod
    def _row(k: int) -> str:
        return f"{k:026d}"

    def _key_frame(self, keys: list[int]) -> DataFrame:
        return self.spark.createDataFrame(
            [(self._row(k),) for k in keys], "row string")

    def _flush_callable(self, op: Op, table, user_bytes: int):
        def run():
            self.admin.flush(self.table_name, table, num_regions=4)
            desc = self.admin._read_desc(self.table_name)
            written = _dir_bytes(f"{self.catalog}/{desc['data_dir']}")
            self.flush_ratios.append(written / max(user_bytes, 1))
        return run

    # -- ops
    def op_bulk_put(self, op):
        from hbase_spark.pe import pe_value

        keys = self._keys(op, self.scale.write_batch)
        salt = f"p{op.pass_no}"
        ts = self._tick()
        cells = self._key_frame(keys).select(
            "row", F.lit(self.FAMILY).alias("family"),
            F.lit("0").alias("qualifier"),
            F.lit(ts).cast("long").alias("ts"),
            F.lit(int(CellType.PUT)).alias("type"),
            pe_value(F.concat_ws("|", "row", "family", "qualifier"),
                     self.scale.pe_value_size, salt).alias("value"),
            F.lit(ts).cast("long").alias("seq"),
        )
        t = self.admin.table(self.table_name).with_cells(cells)
        self._pending = ("put", keys, salt)
        user = len(keys) * (26 + len(self.FAMILY) + 1
                            + self.scale.pe_value_size)
        return self._flush_callable(op, t, user)

    def op_increment(self, op):
        keys = self._keys(op, self.scale.write_batch // 2)
        ts = self._tick()
        deltas = self._key_frame(keys).select(
            "row", F.lit(self.FAMILY).alias("family"),
            F.lit(self.INC_QUALIFIER).alias("qualifier"),
            F.lit(1).cast("long").alias("delta"))
        t = self.admin.table(self.table_name).increment(deltas, ts=ts, seq=ts)
        self._pending = ("inc", keys, None)
        user = len(keys) * (26 + len(self.FAMILY) + len(self.INC_QUALIFIER) + 4)
        return self._flush_callable(op, t, user)

    def op_check_and_mutate(self, op):
        from hbase_spark.filters.comparators import BinaryComparator

        keys = self.cam_keys
        ts = self._tick()
        new = f"v{op.pass_no}"
        prev = self.cam.get(keys[0])
        muts = self._key_frame(keys).select(
            "row", F.lit(self.FAMILY).alias("family"),
            F.lit(self.CAM_QUALIFIER).alias("qualifier"),
            F.lit(ts).cast("long").alias("ts"),
            F.lit(int(CellType.PUT)).alias("type"),
            F.lit(new).alias("value"),
            F.lit(ts).cast("long").alias("seq"))
        guard = {"comparator": BinaryComparator(prev)} if prev else {}
        t = self.admin.table(self.table_name).check_and_mutate(
            muts, guard_family=self.FAMILY,
            guard_qualifier=self.CAM_QUALIFIER, op="=", **guard)
        self._pending = ("cam", keys, new)
        user = len(keys) * (26 + len(self.FAMILY) + len(self.CAM_QUALIFIER)
                            + len(new))
        return self._flush_callable(op, t, user)

    def op_major_compact(self, op):
        self._pending = None
        return lambda: self.admin.major_compact(self.table_name, num_regions=4)

    def _raw_keys(self, op: Op) -> list[int]:
        keys = set(self.cam_keys)
        for kind in ("bulk_put", "increment"):
            keys.update(self.touched.get((op.pass_no, kind), [])[:200])
        return sorted(keys)

    def op_read_after_write(self, op):
        self._pending = None
        rows = [self._row(k) for k in self._raw_keys(op)]
        return self.admin.table(self.table_name).multi_get(rows).select(
            "row", "family", "qualifier", "value")

    def after_op(self, op):
        """Apply a successful mutation to the model."""
        pending, self._pending = getattr(self, "_pending", None), None
        if pending is None:
            return
        what, keys, arg = pending
        self.touched[(op.pass_no, op.kind)] = keys
        for k in keys:
            if what == "put":
                self.salt[k] = arg
            elif what == "inc":
                self.counter[k] = self.counter.get(k, 0) + 1
            else:
                self.cam[k] = arg

    # -- checks
    def _expected(self, keys: list[int]) -> list[tuple]:
        from hbase_spark.pe import pe_value_py

        out = []
        for k in keys:
            row = self._row(k)
            out.append((row, self.FAMILY, "0", pe_value_py(
                f"{row}|{self.FAMILY}|0", self.scale.pe_value_size,
                self.salt.get(k, ""))))
            if k in self.counter:
                out.append((row, self.FAMILY, self.INC_QUALIFIER,
                            str(self.counter[k])))
            if k in self.cam:
                out.append((row, self.FAMILY, self.CAM_QUALIFIER, self.cam[k]))
        return _norm_rows(out)

    def _read_back(self, keys: list[int]) -> int:
        rows = [self._row(k) for k in keys]
        got = _norm_rows(self.admin.table(self.table_name).multi_get(rows)
                         .select("row", "family", "qualifier", "value")
                         .collect())
        _expect_equal("read_after_write", got, self._expected(keys))
        return len(got)

    def check(self, op):
        """Mutations are checked by the read-back that closes their
        pass, so here they only run; the read-after-write op compares
        every touched key with the model."""
        if op.kind != "read_after_write":
            self.build(op)()
            return 0
        return self._read_back(self._raw_keys(op))

    def final_check(self):
        rng = np.random.default_rng(self.seed + 7)
        sample = rng.choice(self.scale.pe_rows,
                            min(self.scale.pe_rows, 1000), replace=False)
        self._read_back(sorted(set(int(k) for k in sample)
                               | set(self.counter) | set(self.cam)))

    def stored_ratio(self):
        """Live layout bytes per key+value byte of the live cells,
        after the run's last major compaction (every pass compacts,
        then only reads)."""
        desc = self.admin._read_desc(self.table_name)
        disk = _dir_bytes(f"{self.catalog}/{desc['data_dir']}")
        user = self.admin.table(self.table_name).snapshot().agg(F.sum(
            F.octet_length("row") + F.octet_length("family")
            + F.octet_length("qualifier")
            + F.coalesce(F.octet_length("value"), F.lit(0))
        )).first()[0]
        return disk / user


# -------------------------------------------------------------- doc_curation

# byte-level BPE merge list (the apply contract holds for any list)
_BBPE_MERGES = [
    ("Ġ", "t"), ("Ġt", "h"), ("Ġth", "e"), ("h", "e"), ("i", "n"),
    ("a", "n"), ("an", "d"), ("e", "r"), ("o", "u"), ("Ġ", "a"),
    ("r", "e"), ("o", "n"), ("Ġa", "nd"), ("in", "g"), ("e", "s"),
]
_NORM_SQL = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),"
    " ' +', ' ', 'g'))"
)


def _murmur3_32(data: bytes, seed: int = 42) -> int:
    """MurmurHash3 x86_32 as a signed Java int (Spark's HashingTF)."""
    c1, c2, mask = 0xCC9E2D51, 0x1B873593, 0xFFFFFFFF
    h = seed
    n = len(data) // 4 * 4
    for i in range(0, n, 4):
        k = int.from_bytes(data[i:i + 4], "little")
        k = (k * c1) & mask
        k = ((k << 15) | (k >> 17)) & mask
        h ^= (k * c2) & mask
        h = ((h << 13) | (h >> 19)) & mask
        h = (h * 5 + 0xE6546B64) & mask
    tail = data[n:]
    if tail:
        k = int.from_bytes(tail, "little")
        k = (k * c1) & mask
        k = ((k << 15) | (k >> 17)) & mask
        h ^= (k * c2) & mask
    h ^= len(data)
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & mask
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & mask
    h ^= h >> 16
    return h - (1 << 32) if h & 0x80000000 else h


class DocCuration(Workload):
    """LLM-data curation over a seeded corpus with planted exact and
    near duplicates.  The trigram-LM counts and the quality model are
    trained in set-up; the ops score and filter.  Half of the
    ``doc_pipeline`` workload."""

    KINDS = {
        "exact_dedup": "functions.dedup",
        "minhash_dedup": "functions.dedup",
        "curate": "streaming.ingest",
        "lm_backoff": "functions.lm",
        "bbpe_roundtrip": "functions.bpe",
        "quality_score": "functions.classifier",
    }

    def _docs(self) -> DataFrame:
        return load_table(self.spark, self.root, "documents").select(
            "doc_id", "text")

    def setup(self):
        from hbase_spark.functions.classifier import train_quality_classifier
        from hbase_spark.functions.lm import train_ngram_lm

        docs = load_table(self.spark, self.root, "documents")
        self.lm = train_ngram_lm(docs.filter(F.col("lang") == "en"), n=3)
        labeled = docs.select(
            "doc_id", "text",
            (F.col("lang") == "en").cast("double").alias("label"))
        self.clf = train_quality_classifier(labeled, max_iter=3)

    # -- ops
    def op_exact_dedup(self, op):
        from hbase_spark.functions.dedup import exact_dedup

        return exact_dedup(self._docs()).select("doc_id")

    def op_minhash_dedup(self, op):
        from hbase_spark.functions.dedup import minhash_dedup

        return minhash_dedup(self._docs(), threshold=0.9, num_hashes=64,
                             bands=16, on_overflow="error").select("doc_id")

    def op_curate(self, op):
        from hbase_spark.streaming.ingest import curate_documents

        return curate_documents(self._docs(), min_tokens=5).select(
            "doc_id", "lang_pred", "n_tokens")

    def op_lm_backoff(self, op):
        import __spark_entry__ as oracle
        from hbase_spark.functions.lm import lm_score_backoff

        # the repository's LM arm input: OOV / one-token / empty variants
        docs = self._docs().select(
            "doc_id", oracle._lm_variant_text().alias("text"))
        scored = lm_score_backoff(docs, self.lm)
        return scored.select("doc_id", F.concat_ws(
            ":", F.col("n_scored").cast("string"),
            F.col("n_backoffs").cast("string"), F.col("n_oov").cast("string"),
            F.coalesce(oracle._dec4(F.round("score_ppl", 4)), F.lit("null")),
        ).alias("value"))

    def op_bbpe_roundtrip(self, op):
        from hbase_spark.functions.bpe import bbpe_detokenize, bbpe_encode

        enc = bbpe_encode(self._docs(), _BBPE_MERGES)
        return enc.select("doc_id", bbpe_detokenize("tokens").alias("text"))

    def op_quality_score(self, op):
        from hbase_spark.functions.classifier import (
            pareto_select,
            quality_scores,
        )

        scored = quality_scores(self.clf, self._docs())
        return pareto_select(scored).select("doc_id", "quality_prob", "kept")

    # -- checks
    def _all_ids(self) -> set[int]:
        return {r[0] for r in self.duck.execute(
            "SELECT doc_id FROM documents").fetchall()}

    def _ids(self, op) -> set[int]:
        rows = self.build(op).collect()
        ids = [r[0] for r in rows]
        if len(ids) != len(set(ids)):
            raise CheckFailed(f"{op.kind}: duplicate ids in output")
        return set(ids)

    def check_exact_dedup(self, op):
        got = self._ids(op)
        want = {r[0] for r in self.duck.execute(
            f"SELECT min(doc_id) FROM documents GROUP BY {_NORM_SQL}"
        ).fetchall()}
        planted = set(self.inputs["planted"]["exact"])
        _expect_equal(op.kind, sorted(got), sorted(want))
        if got & planted:
            raise CheckFailed("exact_dedup kept a planted clone")
        return len(got)

    def check_minhash_dedup(self, op):
        got = self._ids(op)
        planted = self.inputs["planted"]
        want = self._all_ids() - set(planted["exact"]) - set(planted["near"])
        _expect_equal(op.kind, sorted(got), sorted(want))
        return len(got)

    def check_curate(self, op):
        import __spark_entry__ as oracle

        got = _norm_rows(self.build(op).collect())
        want = _norm_rows(self.duck.execute(f"""
            WITH {oracle._gopher_metrics_sql('documents')},
            lang AS ({oracle._lang_pred_sql('documents')})
            SELECT m.doc_id, lang.lang_pred, m.n FROM m
            JOIN lang USING (doc_id)
            WHERE ({oracle._GOPHER_KEEP_SQL}) AND m.n >= 5""").fetchall())
        _expect_equal(op.kind, got, want)
        return len(got)

    def check_lm_backoff(self, op):
        import __spark_entry__ as oracle

        got = _norm_rows(self.build(op).collect())
        want = _norm_rows(self.duck.execute(oracle._LM_BACKOFF_SQL).fetchall())
        _expect_equal(op.kind, got, want)
        return len(got)

    def check_bbpe_roundtrip(self, op):
        got = _norm_rows(self.build(op).collect())
        want = _norm_rows(self.duck.execute(
            "SELECT doc_id, text FROM documents").fetchall())
        _expect_equal(op.kind, got, want)
        return len(got)

    def check_quality_score(self, op):
        """Replay HashingTF (murmur3, seed 42, binary word 1..2-gram
        presence) and the LR dot product in Python from the fitted
        coefficients."""
        import math
        import re

        coef = self.clf.model.coefficients.toArray()
        icpt = self.clf.model.intercept
        nf = self.clf.num_features
        got = {r[0]: (r[1], r[2]) for r in self.build(op).collect()}
        rows = self.duck.execute("SELECT doc_id, text FROM documents").fetchall()
        if set(got) != {r[0] for r in rows}:
            raise CheckFailed("quality_score: scored doc set differs")
        for doc_id, text in rows:
            toks = [t for t in re.split("[^a-z0-9]+", text.lower()) if t]
            grams = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
            buckets = {_murmur3_32(g.encode()) % nf for g in grams}
            z = icpt + sum(coef[b] for b in buckets)
            p = 1.0 / (1.0 + math.exp(-z))
            gp, _ = got[doc_id]
            if abs(gp - p) > 1e-9:
                raise CheckFailed(f"quality_score doc {doc_id}: {gp} vs {p}")
        return len(got)


# ------------------------------------------------------------- stream_ingest

class StreamIngest(Workload):
    """Each op is one availableNow drain, with a fresh checkpoint, of
    seeded mutation-log segments or document segments.  The other half
    of the ``doc_pipeline`` workload."""

    KINDS = {
        "stream_merge": "streaming.merge",
        "latest_view": "streaming.merge",
        "stream_dedup": "streaming.dedup",
        "stream_minhash": "streaming.dedup",
    }
    DOC_SCHEMA = "doc_id long, text string, ts long"

    def setup(self):
        """Write the events melt (as in ``cell_reads``) as the mutation
        log, one parquet file per segment; segment i holds the events
        with ``seq % segments == i``, so later segments carry both older
        and newer versions.  File mtimes order the segments."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        s = self.scale
        self.log_dir = f"{self.work}/mutation_log"
        os.makedirs(self.log_dir)
        ev = pq.read_table(self.inputs["paths"]["events"]).slice(
            0, s.stream_events)
        seq = ev["event_id"].to_numpy()
        cells = pa.table({
            "row": [f"{u:08d}" for u in ev["user_id"].to_pylist()],
            "family": ["e"] * ev.num_rows,
            "qualifier": ev["event_type"],
            "ts": ev["ts"].cast(pa.int64()).to_numpy() // 1000,
            "type": np.where(seq % 23 == 0, CellType.DELETE_COLUMN,
                             CellType.PUT).astype(np.int32),
            "value": [f"{v:.4f}" for v in ev["value"].to_pylist()],
            "seq": seq,
        })
        for i in range(s.stream_segments):
            f = f"{self.log_dir}/part-{i:03d}.parquet"
            pq.write_table(cells.filter(seq % s.stream_segments == i), f)
            os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))
        self.duck.execute(f"""CREATE VIEW log_cells AS SELECT * FROM
            read_parquet('{self.log_dir}/*.parquet')""")
        self.n_ops = 0
        self.outputs: dict[Op, object] = {}

    def _fresh(self, op) -> tuple[str, str]:
        self.n_ops += 1
        base = f"{self.work}/stream_{self.n_ops}"
        return f"{base}/ckpt", f"{base}/out"

    def _log_stream(self):
        return self.spark.readStream.schema(cell_schema()).option(
            "maxFilesPerTrigger", 1).parquet(self.log_dir)

    def _doc_stream(self):
        return self.spark.readStream.schema(self.DOC_SCHEMA).option(
            "maxFilesPerTrigger", 1).parquet(self.inputs["paths"]["stream_docs"])

    def _drain(self, op, query, name: str | None = None):
        def run():
            query.awaitTermination()
            if query.exception() is not None:
                raise RuntimeError(str(query.exception()))
            self.outputs[op] = name
            self.last_stats = self._drain_stats(query.recentProgress)
        return run

    @staticmethod
    def _drain_stats(progress) -> dict:
        """Micro-batches, state rows after the last one, and the
        planning time summed over the drain."""
        progress = [json.loads(p.json) if hasattr(p, "json") else p
                    for p in progress]
        state = sum(s.get("numRowsTotal", 0)
                    for s in (progress[-1].get("stateOperators", [])
                              if progress else []))
        return {
            "batches": len(progress), "state_rows": state,
            "plan_s": sum(p.get("durationMs", {}).get("queryPlanning", 0)
                          for p in progress) / 1000.0,
        }

    def _memory(self, op, df: DataFrame):
        ckpt, _ = self._fresh(op)
        name = f"pb_{op.kind}_{self.n_ops}"
        q = (df.writeStream.outputMode("append").format("memory")
             .queryName(name).option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        return self._drain(op, q, name)

    def after_op(self, op):
        """Drop the previous memory-sink table of this kind (one is kept
        for the check)."""
        prev = getattr(self, "_last_sink", {}).get(op.kind)
        if prev:
            self.spark.catalog.dropTempView(prev)
        self._last_sink = {**getattr(self, "_last_sink", {}),
                           op.kind: self.outputs.get(op)}

    # -- ops
    def op_stream_merge(self, op):
        from hbase_spark.streaming.merge import stream_merge

        ckpt, out = self._fresh(op)
        stream = self._log_stream()

        def run():
            q = stream_merge(stream, out, ckpt)
            self._drain(op, q)()
            self.outputs[op] = out
        return run

    def op_latest_view(self, op):
        from hbase_spark.streaming.merge import latest_view_stream

        self._fresh(op)
        name = f"pb_{op.kind}_{self.n_ops}"
        stream = self._log_stream()

        def run():
            # a continuous complete-mode query: drain what the log
            # holds, then stop it
            q = latest_view_stream(stream, name)
            q.processAllAvailable()
            q.stop()
            self._drain(op, q, name)()
        return run

    def op_stream_dedup(self, op):
        from hbase_spark.streaming.dedup import stream_dedup

        return self._memory(op, stream_dedup(self._doc_stream()))

    def op_stream_minhash(self, op):
        from hbase_spark.streaming.dedup import stream_minhash_candidates

        return self._memory(op, stream_minhash_candidates(
            self._doc_stream(), num_hashes=64, bands=16))

    # -- checks: each stream output against its batch twin
    def _run(self, op):
        self.build(op)()
        return self.outputs[op]

    def check_stream_merge(self, op):
        out = self._run(op)
        got = _norm_rows(self.spark.read.schema(cell_schema()).parquet(out)
                         .collect())
        want = _norm_rows(self.duck.execute(
            "SELECT row, family, qualifier, ts, type, value, seq "
            "FROM log_cells").fetchall())
        _expect_equal(op.kind, got, want)
        return len(got)

    def check_latest_view(self, op):
        name = self._run(op)
        got = _norm_rows(self.spark.table(name).select(
            "row", "family", "qualifier", "ts", "value", "seq").collect())
        want = _norm_rows(self.duck.execute("""
            SELECT row, family, qualifier, ts, value, seq FROM (
                SELECT *, row_number() OVER (PARTITION BY row, family,
                    qualifier ORDER BY ts DESC, seq DESC) AS rn
                FROM log_cells WHERE type = 4) WHERE rn = 1""").fetchall())
        _expect_equal(op.kind, got, want)
        return len(got)

    def check_stream_dedup(self, op):
        name = self._run(op)
        got = _norm_rows(self.spark.table(name).select(
            "doc_id", "ts").collect())
        want = _norm_rows(self.duck.execute(f"""
            SELECT doc_id, ts FROM (
                SELECT doc_id, ts, row_number() OVER (PARTITION BY
                    {_NORM_SQL} ORDER BY ts, doc_id) AS rn
                FROM stream_docs) WHERE rn = 1""").fetchall())
        _expect_equal(op.kind, got, want)
        return len(got)

    def check_stream_minhash(self, op):
        from hbase_spark.functions.dedup import minhash_candidates

        name = self._run(op)
        got = sorted({(r.a, r.b) for r in self.spark.sql(
            f"SELECT DISTINCT a, b FROM {name}").collect()})
        docs = self.spark.read.schema(self.DOC_SCHEMA).parquet(
            self.inputs["paths"]["stream_docs"])
        want = sorted({(r["id_a"], r["id_b"]) for r in minhash_candidates(
            docs, bands=16, num_hashes=64).collect()})
        _expect_equal(op.kind, got, want)
        planted = {(i % 1_000_000, i) for i in self.duck.execute(
            "SELECT doc_id FROM stream_docs WHERE doc_id >= 1000000"
        ).fetchall() for i in [i[0]]}
        if not planted <= set(got):
            raise CheckFailed("stream_minhash missed a planted near-duplicate")
        return len(got)

    def stored_ratio(self):
        """Bytes the merge sink wrote per key+value byte of the log."""
        out = next((v for k, v in self.outputs.items()
                    if k.kind == "stream_merge"), None)
        disk = _dir_bytes(out)
        user = self.duck.execute("""SELECT sum(strlen(row)
            + strlen(family) + strlen(qualifier)
            + coalesce(strlen(value), 0)) FROM log_cells""").fetchone()[0]
        return disk / user


class CellApi(CellReads, CellWrites):
    """The cell API: the read ops and the write path, in one session.
    Stored bytes are the written table's."""

    name = "cell_api"
    KINDS = {**CellReads.KINDS, **CellWrites.KINDS}
    REPEATS = dict.fromkeys(CellReads.KINDS, 2)

    def params(self, kind):
        return CellReads.params(self, kind) if kind in CellReads.KINDS \
            else [None]

    def setup(self):
        CellReads.setup(self)
        CellWrites.setup(self)

    def check(self, op):
        if op.kind in CellWrites.KINDS:
            return CellWrites.check(self, op)
        return Workload.check(self, op)



class DocPipeline(DocCuration, StreamIngest):
    """The LLM-data pipeline: batch curation of the corpus, then the
    streaming drains, in one session (so one JVM start per run pays for
    both halves).  Stored bytes are the stream-merge sink's."""

    name = "doc_pipeline"
    KINDS = {**DocCuration.KINDS, **StreamIngest.KINDS}
    REPEATS = dict.fromkeys(DocCuration.KINDS, 2)

    def setup(self):
        DocCuration.setup(self)
        StreamIngest.setup(self)



WORKLOADS = {w.name: w for w in (CellApi, DocPipeline)}
