"""Rerun-consistency check: every registered query executed twice;
canonicalized results must be identical. Catches nondeterminism
(unpinned orderings, partition-dependent state) that the DuckDB
comparison can miss on a lucky run.

Usage: python tools/determinism_check.py [sf_dir]
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tools.verify_local import canonical  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from aurora_mito_etl_spark.plans.queries import QUERIES
    from aurora_mito_etl_spark.session import get_spark

    spark = get_spark(app_name="determinism-check")
    spark.sparkContext.setLogLevel("ERROR")
    n_bad = 0
    for name, fn in QUERIES.items():
        runs = []
        try:
            for _ in range(2):
                df = fn(spark, sf_dir)
                runs.append(canonical([tuple(r) for r in df.collect()], df.columns))
        except Exception as e:  # noqa: BLE001 — report, keep sweeping
            print(f"ERROR {name}: {e}")
            n_bad += 1
            continue
        if runs[0] != runs[1]:
            diff = [(a, b) for a, b in zip(runs[0], runs[1]) if a != b][:2]
            print(f"NONDETERMINISTIC {name}: {len(runs[0])} vs {len(runs[1])} rows; {diff}")
            n_bad += 1
        else:
            print(f"OK {name} ({len(runs[0])} rows)")
    print(f"\n{len(QUERIES) - n_bad} deterministic, {n_bad} nondeterministic")
    spark.stop()
    return 1 if n_bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
