"""Lakehouse table-maintenance walkthrough on the bundled testdata.

The round-5 storage/maintenance tier as one runnable script:

1. Z-ORDER a copy of the orders table on (o_custkey, o_totalprice)
   and measure row-group skipping for a 2-D predicate against a
   plain layout (`sources/layout.py`).
2. MERGE a batch of keyed updates + deletes into the z-ordered table,
   rewriting only the files that contain affected keys
   (`sources/merge.py`).
3. Read a schema-drifted landing directory back to a canonical
   contract (`sources/io.py read_evolving_parquet`).
4. Decontaminate the documents table against a probe set treated as
   non-broadcastable, via the Bloom block table
   (`operators/bloom.py`), and cross-check counts against the
   broadcast path.

Usage: python examples/run_lakehouse_ops.py [sf_dir] [work_dir]
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F
from pyspark.sql import types as T

from aurora_mito_etl_spark.operators import bloom as bl
from aurora_mito_etl_spark.operators import decontaminate as dc
from aurora_mito_etl_spark.session import get_spark
from aurora_mito_etl_spark.sources import layout as ly
from aurora_mito_etl_spark.sources.catalog import load_table
from aurora_mito_etl_spark.sources.io import read_evolving_parquet
from aurora_mito_etl_spark.sources.merge import merge_upsert


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    work = Path(sys.argv[2]) if len(sys.argv) > 2 else Path(tempfile.mkdtemp())
    work.mkdir(parents=True, exist_ok=True)
    spark = get_spark(app_name="lakehouse-ops-example")
    spark.sparkContext.setLogLevel("ERROR")

    # 1. z-order vs plain layout ------------------------------------------
    orders = load_table(spark, sf_dir, "orders")
    plain, zpath = str(work / "orders_plain"), str(work / "orders_z")
    orders.repartition(4).write.mode("overwrite").option(
        "parquet.block.size", 256 * 1024
    ).parquet(plain)
    ly.write_zordered(
        orders, zpath, ["o_custkey", "o_totalprice"], bits=13,
        num_files=4, rows_per_rowgroup=256 * 1024,
    )
    report = {}
    for name, path in (("plain", plain), ("zorder", zpath)):
        sk_c = ly.rowgroup_skip_fraction(path, "o_custkey", 100, 200)
        sk_p = ly.rowgroup_skip_fraction(path, "o_totalprice", 50_000.0, 60_000.0)
        report[name] = {"custkey_skip": f"{sk_c[0]}/{sk_c[1]}",
                        "totalprice_skip": f"{sk_p[0]}/{sk_p[1]}"}
    print("row-group skipping:", json.dumps(report))

    # 2. copy-on-write MERGE into the z-ordered table ---------------------
    some = [r["o_orderkey"] for r in orders.select("o_orderkey").limit(3).collect()]
    updates = orders.where(F.col("o_orderkey").isin(some[:2])).withColumn(
        "o_orderpriority", F.lit("0-MERGED")
    )
    deletes = spark.createDataFrame([(some[2],)], "o_orderkey long")
    stats = merge_upsert(spark, zpath, updates, "o_orderkey", deletes=deletes)
    print("merge stats:", json.dumps(stats))
    merged = spark.read.parquet(zpath)
    assert merged.where(F.col("o_orderpriority") == "0-MERGED").count() == 2
    assert merged.where(F.col("o_orderkey") == some[2]).count() == 0

    # 3. schema-evolution landing read ------------------------------------
    landing = work / "landing"
    spark.createDataFrame(
        [(1, "first batch", 2)], "doc_id long, text string, n_tokens int"
    ).write.mode("overwrite").parquet(str(landing / "b1"))
    spark.createDataFrame(
        [(2, "second batch", "en", 2)],
        "doc_id long, text string, lang string, n_tokens long",
    ).write.mode("overwrite").parquet(str(landing / "b2"))
    canonical = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("n_tokens", T.LongType()),
    ])
    evolved = read_evolving_parquet(spark, str(landing), canonical)
    print("evolving read:", [tuple(r) for r in evolved.orderBy("doc_id").collect()])

    # 4. Bloom decontamination vs broadcast path --------------------------
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 13 == 0)
    via_bloom = bl.ngram_contamination_bloom(docs, bench, n=5, m_bits=1 << 20, k=4)
    via_bcast = dc.ngram_contamination(docs, bench, n=5)
    nb = via_bloom.where("contaminated").count()
    nx = via_bcast.where("contaminated").count()
    print(f"contaminated docs: bloom={nb} broadcast={nx}")
    assert nb == nx

    spark.stop()
    shutil.rmtree(work, ignore_errors=True)
    print("lakehouse ops example: OK")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
