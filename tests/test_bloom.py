"""Bloom-filter membership prefilter (operators/bloom.py)."""

from __future__ import annotations

import pytest


from aurora_mito_etl_spark.operators import bloom as bl
from aurora_mito_etl_spark.operators import decontaminate as dc

DOCS = [
    (i, f"alpha beta gamma delta epsilon zeta token{i} eta theta") for i in range(20)
] + [
    (100 + i, f"entirely different words nothing shared num{i} x y z")
    for i in range(5)
] + [(200, None), (201, "too short")]
BENCH_FILTER = "doc_id < 5"


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def _as_map(df):
    return {r["doc_id"]: (r["n_hit_ngrams"], r["contaminated"]) for r in df.collect()}


def test_bloom_matches_exact_contamination(spark):
    docs = _docs(spark)
    bench = docs.filter(BENCH_FILTER)
    exact = _as_map(dc.ngram_contamination(docs, bench, n=4))
    bloomed = _as_map(
        bl.ngram_contamination_bloom(docs, bench, n=4, m_bits=1 << 12, k=3)
    )
    assert exact == bloomed


def test_tiny_bloom_forces_false_positives_but_same_answer(spark):
    # m=64 bits / k=1 over dozens of grams → nearly every gram passes
    # the Bloom; the exact verify must still produce the exact result.
    docs = _docs(spark)
    bench = docs.filter(BENCH_FILTER)
    exact = _as_map(dc.ngram_contamination(docs, bench, n=4))
    bloomed = _as_map(
        bl.ngram_contamination_bloom(docs, bench, n=4, m_bits=64, k=1)
    )
    assert exact == bloomed


def test_member_filter_no_false_negatives(spark):
    keys = spark.createDataFrame([(f"key{i}",) for i in range(100)], "s string")
    blocks = bl.bloom_bit_blocks(keys, "s", m_bits=1 << 10, k=4)
    probe = spark.createDataFrame(
        [(f"key{i}",) for i in range(200)], "s string"
    )
    kept = {r["s"] for r in bl.bloom_member_filter(
        probe, "s", blocks, m_bits=1 << 10, k=4
    ).collect()}
    # every true member passes
    assert {f"key{i}" for i in range(100)} <= kept


def test_member_filter_rejects_most_non_members(spark):
    keys = spark.createDataFrame([(f"key{i}",) for i in range(50)], "s string")
    blocks = bl.bloom_bit_blocks(keys, "s", m_bits=1 << 16, k=4)
    probe = spark.createDataFrame(
        [(f"other{i}",) for i in range(500)], "s string"
    )
    kept = bl.bloom_member_filter(probe, "s", blocks, m_bits=1 << 16, k=4).count()
    # n=50 in m=65536 bits with k=4 → fp ≈ (1-e^(-4*50/65536))^4 ≈ 8e-11
    assert kept == 0


def test_block_table_is_bounded(spark):
    keys = spark.createDataFrame([(f"key{i}",) for i in range(1000)], "s string")
    blocks = bl.bloom_bit_blocks(keys, "s", m_bits=1 << 10, k=4).collect()
    assert len(blocks) <= (1 << 10) // 64
    assert all(r["bits"] != 0 for r in blocks)


def test_validation():
    with pytest.raises(ValueError):
        bl._validate(100, 4)  # not a multiple of 64
    with pytest.raises(ValueError):
        bl._validate(1 << 10, 0)
    with pytest.raises(ValueError):
        bl._validate(1 << 10, 9)


def test_plan_shape(spark):
    """The scale contract: block-table joins broadcast; the exact
    verify against the bench gram set is a SortMergeJoin (never a
    broadcast — the operator exists for non-broadcastable probes);
    the corpus side reaches the Bloom filter without an Exchange."""
    docs = _docs(spark)
    bench = docs.filter(BENCH_FILTER)
    out = bl.ngram_contamination_bloom(
        docs, bench, n=4, m_bits=1 << 12, k=3, hits_broadcast_rows=None
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert plan.count("BroadcastHashJoin") >= 3  # k block joins (+ hits-back)


def test_hits_broadcast_guard(spark):
    """The hits-back join broadcasts only under the row cap; a
    pathological probe set (hits above cap) must fall back to a
    shuffle join instead of OOMing the driver (VERDICT r5 #8)."""
    docs = _docs(spark)
    bench = docs.filter(BENCH_FILTER)
    guarded = bl.ngram_contamination_bloom(
        docs, bench, n=4, m_bits=1 << 12, k=3, hits_broadcast_rows=0
    )
    plan = guarded._jdf.queryExecution().executedPlan().toString()
    # the final id-join must NOT broadcast when hits exceeds the cap
    # (the checkpoint truncates the verify sub-plan, so the only joins
    # left in this plan are the hits-back join)
    assert "BroadcastHashJoin" not in plan
    # and the results are identical to the broadcast form
    unguarded = bl.ngram_contamination_bloom(
        docs, bench, n=4, m_bits=1 << 12, k=3, hits_broadcast_rows=None
    )
    assert sorted(map(tuple, guarded.collect())) == sorted(
        map(tuple, unguarded.collect())
    )
