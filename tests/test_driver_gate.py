"""In-repo smoke of the driver's correctness gate (VERDICT r01 item 9).

Runs a representative 10-query slice of tools/verify_local.py against
the shared test SparkSession at sf0.001, so a query/oracle drift (the
round-1 stale-artifact situation) fails `pytest tests/` instead of
surfacing only at the next driver round.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

from verify_local import run_gate  # noqa: E402

SMOKE_QUERIES = {
    "pricing_summary",          # relational spine
    "order_rollup_per_customer",
    "window_order_stats",       # window functions
    "events_sessionize",        # gap/session semantics
    "events_asof_join",         # as-of join
    "docs_clean_text",          # text operators
    "docs_exact_dedup",         # dedup tier
    "docs_minhash_lsh_pairs",   # LSH tier (md5 hashes)
    "emb_lsh_near_dup",         # embedding LSH + Arrow parity
    "emb_ivf_topk",             # pinned-centroid IVF oracle
    "docs_gopher_quality",      # quality battery (round 2)
    "emb_semantic_dedup",       # SemDeDup cells (round 2)
    "flagship_training_corpus", # composed pipeline (round 2)
    "docs_simhash_pairs",       # SimHash tier
    "docs_decontaminate",       # n-gram decontamination
    "docs_duplicate_spans",     # exact substring spans
    "emb_pq_adc_topk",          # PQ ADC top-k (Arrow encoder)
}


def test_driver_sample_covers_llm_tier():
    """The driver's hard gate samples the FIRST 50 entries of queries()
    in dict order (VERDICT r04 ask #1). Pin that the curated export
    order is exactly the stalest-first window, that the flagships and
    an LLM-tier core stay inside it, and that the reorder lost
    nothing."""
    import __spark_entry__ as entry_mod
    from aurora_mito_etl_spark.plans.queries import (
        DRIVER_SAMPLE_PRIORITY,
        DRIVER_WINDOW_PINNED,
        ORACLES,
        QUERIES,
    )

    names = list(entry_mod.queries())
    first50 = set(names[:50])
    assert list(QUERIES)[:50] == names[:50]
    # Exactly the curated head, in the curated order, filling the
    # driver's sampled window.
    assert names[: len(DRIVER_SAMPLE_PRIORITY)] == list(DRIVER_SAMPLE_PRIORITY)
    assert len(DRIVER_SAMPLE_PRIORITY) == 50
    assert set(DRIVER_WINDOW_PINNED) <= first50
    # The engine's namesake LLM-training-data surface keeps a core in
    # every window regardless of rotation: document-tier and
    # embedding-tier queries (dedup/quality/sampling/retrieval/ANN).
    assert sum(n.startswith("docs_") for n in first50) >= 10
    assert sum(n.startswith("emb_") for n in first50) >= 4
    # The reorder is a permutation: nothing dropped, oracles intact.
    assert len(names) == len(set(names)) >= 91
    assert set(ORACLES) <= set(QUERIES)
    assert all(n in QUERIES for n in DRIVER_SAMPLE_PRIORITY)


def _last_driver_green_rounds(limit_round: int) -> tuple[dict[str, int], int]:
    """Last driver-green round per query from the committed
    CORRECTNESS_r*.json artifacts, considering only rounds
    < limit_round (the in-flight round's artifact lands after its
    window is built). Also returns the newest artifact round seen
    OVERALL (no limit) — the rebuild nudge."""
    import json
    import re

    root = Path(__file__).resolve().parents[1]
    last: dict[str, int] = {}
    newest = 0
    for f in sorted(root.glob("CORRECTNESS_r*.json")):
        n = int(re.search(r"r(\d+)", f.name).group(1))
        newest = max(newest, n)
        if n >= limit_round:
            continue
        for q, row in json.load(open(f)).items():
            ok = (
                row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match") in (True, None)
            )
            if ok:
                last[q] = max(last.get(q, 0), n)
    return last, newest


def test_driver_window_stalest_first():
    """Stalest-first window policy (VERDICT r10 ask #1). The driver
    regenerates testdata every round and regenerated-data reds
    historically surface only at the driver, so driver-gate freshness
    is the risk the 50-slot window must spend itself on:

    (a) nothing outside the window may be STALER than a non-pinned
        query inside it (ties allowed — family-spread swaps within
        the same round are fine);
    (b) every query lagging > MAX_LAG rounds must be in the window or
        in the documented DRIVER_WINDOW_DEFERRED backlog (which only
        exists while the stale pool exceeds 48 slots);
    (c) when a CORRECTNESS artifact newer than
        DRIVER_WINDOW_BUILT_FOR_ROUND lands, this test fails with a
        rebuild instruction — the next round's forcing function.

    If this test fails at round start: recompute last-green rounds
    from CORRECTNESS_r*.json, rebuild DRIVER_SAMPLE_PRIORITY from the
    pinned flagships + the stalest queries (family-spread tie-breaks
    documented in the rotation comment), refresh
    DRIVER_WINDOW_DEFERRED, and bump DRIVER_WINDOW_BUILT_FOR_ROUND.
    """
    from aurora_mito_etl_spark.plans.queries import (
        DRIVER_SAMPLE_PRIORITY,
        DRIVER_WINDOW_BUILT_FOR_ROUND,
        DRIVER_WINDOW_DEFERRED,
        DRIVER_WINDOW_PINNED,
        QUERIES,
    )

    MAX_LAG = 3
    last, newest = _last_driver_green_rounds(DRIVER_WINDOW_BUILT_FOR_ROUND)
    # STRICT: the build round's own artifact lands AFTER the build, so
    # CORRECTNESS_r{N} with N == BUILT_FOR_ROUND proves round N is over
    # and must force the round-N+1 rebuild (r11 VERDICT wrong-item #1:
    # the old <= guard let the next round silently reuse the window).
    assert newest < DRIVER_WINDOW_BUILT_FOR_ROUND, (
        f"CORRECTNESS_r{newest:02d}.json is newer than the window build "
        f"round {DRIVER_WINDOW_BUILT_FOR_ROUND}: rebuild "
        "DRIVER_SAMPLE_PRIORITY stalest-first (see this test's "
        "docstring) and bump DRIVER_WINDOW_BUILT_FOR_ROUND."
    )
    window = set(DRIVER_SAMPLE_PRIORITY)
    deferred = set(DRIVER_WINDOW_DEFERRED)
    assert not window & deferred
    inside = [q for q in DRIVER_SAMPLE_PRIORITY if q not in DRIVER_WINDOW_PINNED]
    outside = [q for q in QUERIES if q not in window]
    assert inside and outside
    # (a) stalest-first fill — a brand-new query (last=0) registered
    # mid-round lands outside and trips this until rotated in.
    assert max(last.get(q, 0) for q in inside) <= min(
        last.get(q, 0) for q in outside
    ), "window is not stalest-first: a fresher query holds a slot a staler one needs"
    # (b) lag bound: stale queries are all accounted for.
    stale_cut = DRIVER_WINDOW_BUILT_FOR_ROUND - MAX_LAG
    stale = {q for q in QUERIES if last.get(q, 0) < stale_cut}
    unaccounted = stale - window - deferred
    assert not unaccounted, (
        f"queries lagging > {MAX_LAG} rounds neither sampled nor in the "
        f"documented backlog: {sorted(unaccounted)}"
    )
    # The backlog is honest: only genuinely stale queries may defer.
    assert all(last.get(q, 0) < stale_cut for q in deferred)


def test_driver_gate_smoke(spark):
    n_pass, n_fail = run_gate(spark, "/root/testdata/sf0.001", SMOKE_QUERIES)
    assert n_fail == 0
    assert n_pass == len(SMOKE_QUERIES)


def test_release_sink_smoke_from_external_cwd(spark, tmp_path, monkeypatch):
    """K1-K4 e2e through the registered query, from a cwd that is not
    the repo root — the way the driver invokes everything."""
    monkeypatch.chdir(tmp_path)
    from aurora_mito_etl_spark.plans.queries import QUERIES

    rows = QUERIES["release_sink_smoke"](spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 25
    assert all(r["sha_ok"] for r in rows)          # provenance sha256 verifies
    assert all(r["prov_records"] == 1 for r in rows)
    assert rows[0]["link"].startswith("https://pubmed.ncbi.nlm.nih.gov/")
    assert all(r["excel_ok"] for r in rows)  # to_excel ran iff openpyxl exists


def test_all_query_outputs_are_scalar_and_no_cartesian(spark):
    """Two whole-registry invariants in one plan-build pass (analysis
    only for every query EXCEPT release_sink_smoke, whose builder by
    design executes its release pipeline into a temp dir and returns
    the read-back verification rows — building it here runs that
    pipeline once):

    1. No registered query returns Array/Struct/Map columns — the
       driver canonicalizer pandas-sorts every output column and
       cannot hash python lists (the invariant emb_quantize_int8's
       docstring cites).
    2. No physical plan contains a CartesianProduct — the one join
       shape that can never survive scale. (BroadcastNestedLoopJoin
       from single-row aggregate cross-joins is allowed; see
       tools/plan_audit.py for the full per-query posture table.)
    """
    import sys as _sys
    from pathlib import Path as _Path

    from pyspark.sql import types as T

    from aurora_mito_etl_spark.plans.queries import QUERIES

    _sys.path.insert(0, str(_Path(__file__).resolve().parents[1] / "tools"))
    from plan_audit import audit_one, formatted_plan

    bad = []
    for name, fn in QUERIES.items():
        df = fn(spark, "/root/testdata/sf0.001")
        for field in df.schema.fields:
            if isinstance(field.dataType, (T.ArrayType, T.MapType, T.StructType)):
                bad.append(f"{name}.{field.name}: {field.dataType.simpleString()}")
        if audit_one(formatted_plan(df))["cartesian"]:
            bad.append(f"{name}: CartesianProduct in physical plan")
    assert not bad, f"registry invariant violations: {bad}"
