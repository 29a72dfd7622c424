from __future__ import annotations

import contextlib
import io as _io

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aurora_mito_etl_spark.operators import dedup as dd
from aurora_mito_etl_spark.sources import io as eio


def _plan(df) -> str:
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_read_jsonl(spark, tmp_path):
    p = tmp_path / "docs.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "hello"}\n{"doc_id": 2, "text": "world"}\n'
    )
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    got = sorted(
        (r["doc_id"], r["text"]) for r in eio.read_jsonl(spark, str(p), schema).collect()
    )
    assert got == [(1, "hello"), (2, "world")]


def test_bucketed_join_avoids_shuffle(spark):
    # managed tables land in the default warehouse dir (gitignored);
    # DROP TABLE below removes the files.
    a = spark.range(1000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("va"))
    b = spark.range(1000).select(F.col("id").alias("k"), (F.col("id") * 3).alias("vb"))
    eio.write_bucketed_table(a, "bkt_a", ["k"], num_buckets=4, sort_cols=["k"])
    eio.write_bucketed_table(b, "bkt_b", ["k"], num_buckets=4, sort_cols=["k"])
    ta, tb = spark.table("bkt_a"), spark.table("bkt_b")
    # force a non-broadcast join so the exchange question is real
    joined = ta.join(tb.hint("merge"), "k")
    plan = _plan(joined)
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan  # bucketing replaced the shuffle
    assert joined.count() == 1000
    spark.sql("DROP TABLE bkt_a")
    spark.sql("DROP TABLE bkt_b")


def test_persisted_corpus_index_round_trip(spark):
    """VERDICT r04 ask #6: the corpus side of the incremental near-dup
    join, persisted once via persist_corpus_index, must (a) produce
    pair-identical results to the recompute path and (b) arrive
    pre-bucketed so the band probe join needs NO corpus-side Exchange.
    """
    from aurora_mito_etl_spark.sources.catalog import load_table

    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    new = d.filter(F.col("doc_id") % 2 == 1)
    corpus = d.filter(F.col("doc_id") % 2 == 0)
    kw = dict(k_shingle=3, num_hashes=16, bands=4)

    bands_t, sets_t = dd.persist_corpus_index(
        corpus, "text", "doc_id", "t_corpus_idx", num_buckets=8, **kw
    )
    try:
        direct = {
            (r["new_id"], r["corpus_id"]): r["jaccard"]
            for r in dd.minhash_lsh_join(
                new, corpus, "text", "doc_id", threshold=0.3, **kw
            ).collect()
        }
        persisted = {
            (r["new_id"], r["corpus_id"]): r["jaccard"]
            for r in dd.minhash_lsh_join_persisted(
                spark, new, "text", "doc_id", "t_corpus_idx",
                threshold=0.3, **kw
            ).collect()
        }
        assert direct and persisted == direct

        # Exchange-free corpus side: probe join on exactly the bucket
        # cols -> the ONLY Exchange in the band join is the new side's.
        probe = dd._minhash_banded(
            dd._minhash_hashed(new, "text", "doc_id", 3),
            "doc_id", 16, 4,
        )
        joined = probe.join(spark.table(bands_t).hint("merge"), ["band", "bh"])
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        # The corpus branch (the non-":"-prefixed SMJ child, ending at
        # the bands-table scan) must contain NO Exchange; the probe
        # side keeps its own shuffles (spread, agg, join).
        tree = plan.split("\n\n")[0].splitlines()
        scan_i = next(i for i, l in enumerate(tree) if bands_t in l)
        smj_i = next(i for i, l in enumerate(tree) if "SortMergeJoin" in l)
        corpus_branch = [
            l for l in tree[smj_i + 1 : scan_i + 1]
            if not l.lstrip().startswith(":")
        ]
        assert corpus_branch and not any(
            "Exchange" in l for l in corpus_branch
        ), plan
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {bands_t}")
        spark.sql(f"DROP TABLE IF EXISTS {sets_t}")


def test_near_dedup_survivors(spark):
    df = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, "x"), (4, "y")], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (2, 3, 0.9)], "id_a long, id_b long, jaccard double"
    )
    out = sorted(
        r["doc_id"] for r in dd.near_dedup_survivors(df, pairs, "doc_id").collect()
    )
    # 2 and 3 each have a smaller near-dup -> dropped; 1 and 4 survive
    assert out == [1, 4]
