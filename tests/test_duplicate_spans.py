"""Cross-document duplicate spans (dedup.duplicate_spans)."""

from __future__ import annotations

from aurora_mito_etl_spark.operators import dedup as dd


def _spans(spark, docs, **kw):
    df = spark.createDataFrame(docs, "doc_id long, text string")
    kw.setdefault("k", 3)
    kw.setdefault("min_span_tokens", 4)
    return dd.duplicate_spans(df, "text", "doc_id", **kw).collect()


def test_maximal_span_detected(spark):
    # docs share the 5-token run 'one two three four five' at
    # different offsets
    out = _spans(
        spark,
        [
            (1, "x one two three four five y"),
            (2, "one two three four five z w"),
        ],
    )
    assert len(out) == 1
    r = out[0]
    assert (r["id_a"], r["id_b"]) == (1, 2)
    assert (r["start_a"], r["start_b"], r["span_tokens"]) == (1, 0, 5)


def test_gap_splits_spans(spark):
    # shared prefix and suffix runs with a divergent middle → two
    # separate spans, not one merged
    out = _spans(
        spark,
        [
            (1, "a b c d DIFF e f g h"),
            (2, "a b c d OTHER e f g h"),
        ],
    )
    spans = sorted((r["start_a"], r["span_tokens"]) for r in out)
    assert spans == [(0, 4), (5, 4)]


def test_min_span_filter(spark):
    out = _spans(
        spark,
        [(1, "a b c x1 y1 z1"), (2, "a b c x2 y2 z2")],
        min_span_tokens=4,
    )
    assert out == []  # only a 3-token run — below the floor


def test_repeated_substring_multiple_diagonals(spark):
    # the run appears twice in doc 2 → two spans on two diagonals
    out = _spans(
        spark,
        [
            (1, "p q r s t u"),
            (2, "p q r s w w w p q r s v"),
        ],
        min_span_tokens=4,
    )
    starts_b = sorted(r["start_b"] for r in out)
    assert starts_b == [0, 7]
    assert all(r["start_a"] == 0 and r["span_tokens"] == 4 for r in out)


def test_hot_window_cap_drops_boilerplate(spark):
    docs = [(i, "same boiler plate text here") for i in range(6)]
    full = _spans(spark, docs, min_span_tokens=5)
    assert len(full) == 15  # all 6-choose-2 pairs share the span
    capped = _spans(spark, docs, min_span_tokens=5, max_window_docs=3)
    assert capped == []  # windows in >3 docs dropped from the join


# ---------------------------------------------------------------------------
# Exact substring-duplication spans (dedup.exact_substring_spans)
# ---------------------------------------------------------------------------


def _xspans(spark, docs, **kw):
    df = spark.createDataFrame(docs, "doc_id long, text string")
    kw.setdefault("k", 3)
    rows = dd.exact_substring_spans(df, "text", "doc_id", **kw).collect()
    return sorted(
        (r["doc_id"], r["span_start"], r["span_end"], r["n_windows"])
        for r in rows
    )


def test_exact_substring_spans_basic(spark):
    # 'one two three four five' duplicated across docs at different
    # offsets: with k=3 every covering window is duplicated, so each
    # doc gets ONE maximal merged span over exactly those 5 tokens
    out = _xspans(
        spark,
        [
            (1, "x one two three four five y"),
            (2, "one two three four five z w"),
        ],
    )
    assert out == [(1, 1, 6, 3), (2, 0, 5, 3)]


def test_exact_substring_spans_within_one_doc(spark):
    # ExactSubstr counts OCCURRENCES, not documents: a run repeated
    # inside a single doc is duplicated too (both copies marked)
    out = _xspans(spark, [(1, "p q r s MID p q r s")])
    assert out == [(1, 0, 4, 2), (1, 5, 9, 2)]


def test_exact_substring_spans_gap_splits(spark):
    # divergent middles break the merge into two spans per doc
    out = _xspans(
        spark,
        [
            (1, "a b c d DIFF e f g h"),
            (2, "a b c d OTHER e f g h"),
        ],
    )
    assert out == [
        (1, 0, 4, 2), (1, 5, 9, 2),
        (2, 0, 4, 2), (2, 5, 9, 2),
    ]


def test_exact_substring_spans_hot_cap(spark):
    # a window shared by more docs than max_window_docs stops marking
    # (boilerplate suppression); spans only shrink
    docs = [(i, f"start{i} common run here tail{i}") for i in range(1, 6)]
    uncapped = _xspans(spark, docs)
    assert len(uncapped) == 5  # 'common run here' marked everywhere
    capped = _xspans(spark, docs, max_window_docs=3)
    assert capped == []
