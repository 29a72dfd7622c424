"""Benchmark decontamination (operators/decontaminate.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from aurora_mito_etl_spark.operators import decontaminate as dc

DOCS = [
    (1, "alpha beta gamma delta epsilon zeta"),      # contains bench 4-gram
    (2, "one two three four five six seven"),        # clean
    (3, "x alpha beta gamma delta y"),               # same 4-gram mid-doc
    (4, "alpha beta gamma"),                         # 3 words < n → clean
    (5, None),                                       # NULL text → clean
]
BENCH = [(100, "prefix alpha beta gamma delta suffix words here")]


def _flags(spark):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    bench = spark.createDataFrame(BENCH, "doc_id long, text string")
    out = dc.ngram_contamination(docs, bench, n=4)
    return {r["doc_id"]: (r["n_hit_ngrams"], r["contaminated"]) for r in out.collect()}


def test_contamination_flags(spark):
    got = _flags(spark)
    assert got[1] == (1, True)   # 'alpha beta gamma delta'
    assert got[3] == (1, True)
    assert got[2] == (0, False)
    assert got[4] == (0, False)  # too short for any 4-gram
    assert got[5] == (0, False)  # NULL text is clean, not NULL


def test_repeated_gram_counts_once(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d x a b c d y a b c d")], "doc_id long, text string"
    )
    bench = spark.createDataFrame([(9, "a b c d")], "doc_id long, text string")
    out = dc.ngram_contamination(docs, bench, n=4).collect()
    assert out[0]["n_hit_ngrams"] == 1  # distinct grams, not occurrences


def test_drop_contaminated(spark):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    bench = spark.createDataFrame(BENCH, "doc_id long, text string")
    kept = sorted(
        r["doc_id"] for r in dc.drop_contaminated(docs, bench, n=4).collect()
    )
    assert kept == [2, 4, 5]


def test_probe_is_broadcast_no_corpus_shuffle(spark):
    # The benchmark probe must be a broadcast hash join: the corpus
    # side of the gram join carries no Exchange (only the tiny hits
    # aggregation shuffles).
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    bench = spark.createDataFrame(BENCH, "doc_id long, text string")
    plan = (
        dc.ngram_contamination(docs, bench, n=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
