"""Dump `.explain("formatted")` for bench HEADLINE queries to files.

Usage: python tools/plan_dump.py <outdir-suffix> [query ...]
       python tools/plan_dump.py before            # plans/r13/<q>_before.txt
       python tools/plan_dump.py after emb_pq_encode

Writes plans/r13/<query>_<suffix>.txt for each query (default: every
HEADLINE entry). Analysis-only — no execution.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> int:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    only = set(sys.argv[2:])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import bench
    from aurora_mito_etl_spark.plans.queries import QUERIES
    from aurora_mito_etl_spark.session import get_spark

    spark = get_spark(app_name="plan-dump")
    spark.sparkContext.setLogLevel("ERROR")

    outdir = (
        Path(__file__).resolve().parent.parent
        / "plans"
        / os.environ.get("SPARK_GRAFT_PLAN_ROUND", "r14")
    )
    outdir.mkdir(parents=True, exist_ok=True)

    for name in bench.HEADLINE:
        if only and name not in only:
            continue
        try:
            df = QUERIES[name](spark, sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            (outdir / f"{name}_{suffix}.txt").write_text(buf.getvalue())
            print(f"wrote {name}_{suffix}.txt")
        except Exception as exc:  # noqa: BLE001 — report and continue
            print(f"FAIL {name}: {exc}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
