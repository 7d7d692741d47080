"""Local driver-parity check: run every __spark_entry__ query on Spark
AND its oracle SQL on DuckDB, compare row count, column names, and an
order-insensitive value hash (columns sorted by name, rows sorted by
their stringified values) — the same comparison shape the driver uses.

Usage: python tools/check_parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

import duckdb  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from hbase_spark.sources.tables import TABLES, get_spark  # noqa: E402


def _norm_value(v) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return f"{v:.9g}"
    return str(v)


_DUCK_TYPE_NORM = {
    "VARCHAR": "string",
    "BIGINT": "bigint",
    "INTEGER": "int",
    "SMALLINT": "smallint",
    "TINYINT": "tinyint",
    "DOUBLE": "double",
    "FLOAT": "float",
    "BOOLEAN": "boolean",
    "DATE": "date",
    "TIMESTAMP": "timestamp",
    "BLOB": "binary",
    "HUGEINT": "decimal(38,0)",
}


def _norm_duck_type(t: str) -> str:
    t = t.upper()
    if t.startswith("DECIMAL"):
        return t.lower().replace(" ", "")
    if t.startswith("TIMESTAMP"):
        return "timestamp"
    return _DUCK_TYPE_NORM.get(t, t.lower())


def _type_mismatches(
    spark_dtypes: list[tuple[str, str]], duck_types: dict[str, str]
) -> list[str]:
    """Exact output-type comparison — the driver's value hash has proven
    sensitive to int width and decimal precision, so name-identical
    columns must also be type-identical between the two engines."""
    out = []
    for name, st in spark_dtypes:
        dt = duck_types.get(name)
        if dt is None:
            continue
        if st.replace(" ", "") != _norm_duck_type(dt):
            out.append(f"{name}: spark={st} duck={dt}")
    return out


def _hash_rows(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(_norm_value(r[i]) for i in order) for r in rows)
    h = hashlib.md5()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    spark = get_spark("parity", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: spark error {type(e).__name__}: {e}")
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(rows)} rows, cols={cols} ({time.time()-t0:.1f}s)")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: duckdb error {type(e).__name__}: {e}")
            continue
        problems = []
        if sorted(cols) != sorted(ocols):
            problems.append(f"cols spark={sorted(cols)} duck={sorted(ocols)}")
        else:
            try:
                desc = con.execute(f"DESCRIBE {oracles[name]}").fetchall()
                duck_types = {r[0]: r[1] for r in desc}
                tm = _type_mismatches(df.dtypes, duck_types)
                if tm:
                    problems.append("type mismatch " + "; ".join(tm))
            except Exception:  # noqa: BLE001  (DESCRIBE can choke on CTEs)
                pass
        if len(rows) != len(orows):
            problems.append(f"rowcount spark={len(rows)} duck={len(orows)}")
        if not problems:
            hs = _hash_rows(cols, rows)
            ho = _hash_rows(ocols, orows)
            if hs != ho:
                problems.append("value-hash mismatch")
                order_s = sorted(range(len(cols)), key=lambda i: cols[i])
                order_o = sorted(range(len(ocols)), key=lambda i: ocols[i])
                ls = sorted(
                    "\x1f".join(_norm_value(r[i]) for i in order_s) for r in rows
                )
                lo = sorted(
                    "\x1f".join(_norm_value(r[i]) for i in order_o) for r in orows
                )
                for a, b in zip(ls, lo):
                    if a != b:
                        problems.append(f"  first diff:\n    spark={a!r}\n    duck ={b!r}")
                        break
        if problems:
            failures.append(name)
            print(f"FAIL  {name}: " + "; ".join(problems))
        else:
            print(f"OK    {name}: {len(rows)} rows ({time.time()-t0:.1f}s)")

    print(f"\n{len(queries) - len(failures)}/{len(queries)} queries OK; "
          f"{len(oracles)} have oracles")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
