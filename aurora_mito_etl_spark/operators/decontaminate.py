"""Benchmark decontamination: flag training documents that share a
word n-gram with an evaluation corpus.

The standard leakage guard in LLM training-data pipelines (GPT-3
appendix C / PaLM-style 13-gram overlap): any document containing an
n-gram that also appears in a benchmark/eval set is contaminated and
dropped before training.

Scale posture (the whole point of the operator): the benchmark side
is small — eval suites are millions of n-grams, not billions — so it
is distinct-reduced, hashed to a 60-bit long, and BROADCAST; the
100 TB corpus side is never shuffled for the probe. Per-document
shingling fans out Arrow-batched (`shingles_arrow`), the broadcast
hash join runs map-side, and only the (rare) hit rows shuffle for the
per-document count. Beyond-reference surface: the reference filters
by dictionary regex only (merge_filter.sh:21-43), never by n-gram
overlap against a second corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aurora_mito_etl_spark.functions.hashing import md5_prefix60
from aurora_mito_etl_spark.operators.dedup import _spread
from aurora_mito_etl_spark.operators.textstats import shingles_arrow


def _contamination_hits(
    docs: DataFrame,
    bench: DataFrame,
    n: int,
    text_col: str,
    id_col: str,
    bench_text_col: str,
) -> DataFrame:
    """(id, n_hit_ngrams) for documents sharing >=1 n-gram with bench
    — the broadcast probe both public operators build on. Contains
    ONLY the contaminated ids (clean docs don't appear)."""
    bench_grams = (
        _spread(bench)
        .select(
            F.explode(
                F.array_distinct(shingles_arrow(F.col(bench_text_col), n))
            ).alias("s")
        )
        .select(md5_prefix60(F.col("s")).alias("h"))
        .distinct()
    )
    doc_grams = _spread(docs).select(
        F.col(id_col),
        F.explode(
            F.array_distinct(shingles_arrow(F.col(text_col), n))
        ).alias("s"),
    ).select(id_col, md5_prefix60(F.col("s")).alias("h"))
    return (
        doc_grams.join(F.broadcast(bench_grams), "h")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hit_ngrams"))
    )


def ngram_contamination(
    docs: DataFrame,
    bench: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
) -> DataFrame:
    """One row per input document: ``n_hit_ngrams`` (distinct word
    n-grams shared with `bench`) and the ``contaminated`` verdict.

    N-grams are lowercased, ASCII-whitespace-normalized word shingles
    (the dedup tier's definition, so decontamination and dedup agree
    on tokenization). Both sides dedupe their shingles per document
    before the join, so ``n_hit_ngrams`` counts distinct grams — a
    gram repeated in the document or the benchmark counts once.

    Grams join on their 60-bit md5 prefix, which DuckDB reproduces
    bit for bit, so the operator is oracle-checked. A cross-gram hash
    collision can only ADD a false-positive flag (never mask a hit)
    and needs a 60-bit collision against the broadcast set —
    negligible, and the conservative direction for a leakage guard.

    Documents shorter than `n` words have no shingles and are clean
    by definition (0, false) — never NULL.
    """
    hits = _contamination_hits(docs, bench, n, text_col, id_col, bench_text_col)
    # hits is bounded by the documents overlapping the (small) eval
    # set — broadcast it back rather than shuffling every corpus id.
    return docs.select(id_col).join(F.broadcast(hits), id_col, "left").select(
        F.col(id_col),
        F.coalesce("n_hit_ngrams", F.lit(0)).alias("n_hit_ngrams"),
        (F.coalesce("n_hit_ngrams", F.lit(0)) > 0).alias("contaminated"),
    )


def drop_contaminated(
    docs: DataFrame,
    bench: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
) -> DataFrame:
    """The decontaminated corpus: `docs` minus contaminated rows
    (anti join against the flagged ids — same broadcast-probe plan)."""
    flagged = _contamination_hits(
        docs, bench, n, text_col, id_col, bench_text_col
    ).select(id_col)
    return docs.join(F.broadcast(flagged), id_col, "left_anti")
