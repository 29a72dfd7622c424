"""Local replica of the driver's correctness gate.

Runs every `queries()` entry on Spark and its `oracle_sql()` on
DuckDB at the given SF, compares row count, column names, and an
order-insensitive value hash (columns sorted by name, rows sorted).

Usage: python tools/verify_local.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
import time
from pathlib import Path

import duckdb

# Canonical driver-catalog table list — the single source of truth for
# every DuckDB-view setup (run_gate here, tests/test_oracle_int_types,
# tools/arrow_types_scan). The driver regenerates these parquet files
# between rounds; add new tables HERE only.
TABLES: tuple[str, ...] = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def connect_views(sf_dir: str) -> "duckdb.DuckDBPyConnection":
    """Fresh in-memory DuckDB connection with one view per catalog
    table over `sf_dir`'s parquet files."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def normalize_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return repr(float(v))
        return repr(v)
    if isinstance(v, bool):
        return str(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(normalize_cell(x) for x in v) + "]"
    return str(v)


def canonical(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = ["|".join(normalize_cell(r[i]) for i in order) for r in rows]
    out.sort()
    return out


def run_gate(spark, sf_dir: str, only: set[str] | None = None) -> tuple[int, int]:
    """Run the oracle gate on an EXISTING SparkSession; returns
    (n_pass, n_fail). Importable so pytest can smoke a subset with the
    shared test session (catches stale-artifact drift in-repo)."""
    from aurora_mito_etl_spark.plans.queries import ORACLES, QUERIES

    con = connect_views(sf_dir)

    n_pass = n_fail = 0
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            s_cols = df.columns
            s_rows = [tuple(r) for r in df.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        if name not in ORACLES:
            print(f"ROWS {name}: {len(s_rows)} rows (no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            res = con.execute(ORACLES[name])
            d_cols = [d[0] for d in res.description]
            d_rows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue
        ok = True
        msgs = []
        if sorted(s_cols) != sorted(d_cols):
            ok = False
            msgs.append(f"cols spark={sorted(s_cols)} duck={sorted(d_cols)}")
        if len(s_rows) != len(d_rows):
            ok = False
            msgs.append(f"rows spark={len(s_rows)} duck={len(d_rows)}")
        if ok:
            cs, cd = canonical(s_rows, s_cols), canonical(d_rows, d_cols)
            if cs != cd:
                ok = False
                diff = [(a, b) for a, b in zip(cs, cd) if a != b][:3]
                msgs.append(f"values differ, first diffs: {diff}")
        if ok:
            print(f"PASS {name} ({len(s_rows)} rows) [{time.time()-t0:.1f}s]")
            n_pass += 1
        else:
            print(f"FAIL {name}: " + "; ".join(msgs))
            n_fail += 1
    print(f"\n{n_pass} passed, {n_fail} failed")
    return n_pass, n_fail


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    from aurora_mito_etl_spark.session import get_spark

    spark = get_spark()
    _, n_fail = run_gate(spark, sf_dir, only or None)
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
