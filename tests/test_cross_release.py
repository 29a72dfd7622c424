"""Cross-release near-dup recipe (r12 VERDICT ask #7): release N+1
dedups against release N through the snapshot manifests + the
persisted LSH index — release N's data files are never re-opened and
its text never re-shingled."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aurora_mito_etl_spark.operators import dedup as dd
from aurora_mito_etl_spark.sources import merge as mg

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat "
    "watches from the warm windowsill and the rain falls outside"
)

KW = dict(k_shingle=3, num_hashes=16, bands=4)


def test_cross_release_near_dup_reads_only_the_delta(spark, tmp_path):
    table = str(tmp_path / "docs_release")
    docs1 = [
        (i, f"doc number {i} " + BASE + f" tail variant {i} " + BASE)
        for i in range(1, 7)
    ]
    spark.createDataFrame(docs1, "doc_id long, text string").repartition(
        3
    ).write.parquet(table)
    assert mg.snapshot_init(table) == 1
    bands_t, sets_t = dd.index_snapshot(
        spark, table, "text", "doc_id", "t_rel_idx", num_buckets=4, **KW
    )
    try:
        v1_files = set(mg._read_manifest(table, 1))
        # release 2: update an existing key, add a near-dup of doc 1
        # and a genuinely novel doc
        updates = spark.createDataFrame(
            [
                (3, "doc number 3 rewritten completely different text"),
                (100, "doc number 1 " + BASE + " tail variant 1 " + BASE),
                (101, "entirely novel content with no shared shingles at all here"),
            ],
            "doc_id long, text string",
        )
        v2, stats = mg.merge_upsert_snapshot(spark, table, updates, "doc_id")
        assert v2 == 2 and stats["rows_inserted"] == 2

        # the physical delta opens ONLY files added in v2
        delta = mg.release_delta(spark, table, 1, 2)
        assert delta.count() >= 3  # updates + any rewritten survivors
        opened = {f.rsplit("/", 1)[-1] for f in delta.inputFiles()}
        assert opened and not (opened & v1_files)

        pairs = {
            (r["new_id"], r["corpus_id"]): r["jaccard"]
            for r in dd.cross_release_near_dup(
                spark, table, "text", "doc_id", "t_rel_idx",
                threshold=0.5, **KW
            ).collect()
        }
        # the near-dup of doc 1 is found against the PRIOR index …
        assert (100, 1) in pairs and pairs[(100, 1)] >= 0.5
        # … the novel doc pairs with nothing, and rewritten survivors
        # / updated keys never appear as the new side
        assert all(nid == 100 for nid, _ in pairs)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {bands_t}")
        spark.sql(f"DROP TABLE IF EXISTS {sets_t}")


def test_cross_release_guards(spark, tmp_path):
    table = str(tmp_path / "solo_release")
    spark.createDataFrame(
        [(1, "only one release here")], "doc_id long, text string"
    ).write.parquet(table)
    mg.snapshot_init(table)
    with pytest.raises(ValueError, match="two snapshot versions"):
        dd.cross_release_near_dup(
            spark, table, "text", "doc_id", "t_whatever", **KW
        )
    # release_delta with an empty diff -> empty frame, table schema
    empty = mg.release_delta(spark, table, 1, 1)
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == ["doc_id", "text"]
