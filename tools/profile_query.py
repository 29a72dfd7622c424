"""Per-query cost breakdown: build/analysis vs planning vs execution.

Usage: python tools/profile_query.py <query> [query ...]
       SPARK_GRAFT_SF_DIR=... python tools/profile_query.py emb_pq_encode

For each query: time DataFrame construction, `explain` (forces
analysis + physical planning), then three noop executions (first =
codegen+run, rest = warm). Separating these tells you whether a bench
floor is Catalyst planning, codegen compile, or actual execution —
they need different fixes (guide §1).
"""

from __future__ import annotations

import contextlib
import io
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> int:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from aurora_mito_etl_spark.plans.queries import QUERIES
    from aurora_mito_etl_spark.session import get_spark

    spark = get_spark(app_name="profile-query")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the session the same way bench does.
    QUERIES["pricing_summary"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    for name in names:
        fn = QUERIES[name]
        spark.sparkContext.setJobDescription(f"profile:{name}")
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        t_build = time.perf_counter() - t0

        t0 = time.perf_counter()
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        t_plan = time.perf_counter() - t0

        execs = []
        for _ in range(3):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            execs.append(round(time.perf_counter() - t0, 3))
        print(
            f"{name}: build={t_build:.3f}s plan={t_plan:.3f}s "
            f"exec={execs} (exec includes re-build+re-plan)"
        )
        spark.sparkContext.setJobDescription(None)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
