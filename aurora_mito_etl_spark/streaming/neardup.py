"""Streaming near-duplicate detection: banded MinHash-LSH with
per-bucket state (applyInPandasWithState).

The batch dedup tier (operators/dedup.py) answers "which pairs in
this corpus are near-dups"; a 100 TB INGEST pipeline needs the
streaming form — "is this NEW document a near-dup of anything seen so
far" — without re-scanning history every micro-batch. Same MinHash
definitions as the batch tier (portable md5-base hash, the
`_perm_params` permutations, `shingles_arrow` tokenization), so a
document gets the identical signature in either path.

Operator shape: per-row signature (one Arrow pass, no aggregation —
streaming-safe) → explode band keys → stateful compare-and-store per
band bucket. State per bucket is the (id, signature) list of prior
members, O(bucket width · num_hashes); candidate comparison happens
only within buckets (the LSH guarantee), so per-batch work is
O(new_rows · bands · bucket_width) regardless of history size.

Emission contract: a colliding pair is emitted in the micro-batch
where its second member arrives, AT LEAST once (a pair sharing
several bands emits from each — dedupe downstream with
dropDuplicates in foreachBatch if exactly-once pairs matter).
Estimated Jaccard = matching signature fraction; callers wanting
exact verification join text back and apply the batch verifier.
"""

from __future__ import annotations

import hashlib

import pandas as pd

from aurora_mito_etl_spark.functions.numeric import fixed6_py as _f6py
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from aurora_mito_etl_spark.operators.dedup import _MERSENNE_P, _perm_params
from aurora_mito_etl_spark.operators.textstats import ascii_ws_tokens

PAIRS_SCHEMA = T.StructType(
    [
        T.StructField("id_a", T.LongType(), False),
        T.StructField("id_b", T.LongType(), False),
        T.StructField("est_jaccard", T.DoubleType(), False),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("ids", T.ArrayType(T.LongType())),
        T.StructField("sigs", T.ArrayType(T.ArrayType(T.LongType()))),
    ]
)


def _signature_udf(k_shingle: int, num_hashes: int):
    """Arrow-batched per-row MinHash signature — the same shingle
    normalization as shingles_arrow and the same md5-base +
    permutation scheme as the batch tier, computed
    row-locally (no shuffle, required for streaming)."""
    perms = _perm_params(num_hashes)

    def batch(s: pd.Series) -> pd.Series:
        out = []
        for t in s:
            toks = ascii_ws_tokens(t)
            if len(toks) < k_shingle:
                out.append(None)
                continue
            shs = {
                " ".join(toks[i : i + k_shingle])
                for i in range(len(toks) - k_shingle + 1)
            }
            hs = [
                int(hashlib.md5(x.encode("utf-8")).hexdigest()[:15], 16)
                % _MERSENNE_P
                for x in shs
            ]
            out.append(
                [min((a * h + b) % _MERSENNE_P for h in hs) for a, b in perms]
            )
        return pd.Series(out)

    return pandas_udf(batch, T.ArrayType(T.LongType()))


def _banded(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k_shingle: int,
    num_hashes: int,
    bands: int,
) -> DataFrame:
    """(id, __sig, __band): one row per (document, band key). Pure
    projections + explode — legal on a streaming DataFrame."""
    rows_per_band = num_hashes // bands
    sig = _signature_udf(k_shingle, num_hashes)(F.col(text_col))
    with_sig = df.select(
        F.col(id_col), sig.alias("__sig")
    ).filter(F.col("__sig").isNotNull())
    band_keys = F.array(
        *[
            F.concat_ws(
                ",",
                F.lit(str(i)),
                *[
                    F.col("__sig")[i * rows_per_band + r].cast("string")
                    for r in range(rows_per_band)
                ],
            )
            for i in range(bands)
        ]
    )
    return with_sig.select(
        id_col, "__sig", F.explode(band_keys).alias("__band")
    )


def minhash_near_dup_stream(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k_shingle: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    max_per_bucket: int = 1000,
) -> DataFrame:
    """Streaming near-dup pairs: (id_a, id_b, est_jaccard) whenever a
    new document's signature matches a stored same-bucket signature
    in >= `threshold` of positions. `max_per_bucket` caps state per
    bucket (first-seen members are kept; an overflowing bucket stops
    ADMITTING new members but keeps matching against the stored ones
    — the graceful-degradation direction for a boilerplate bucket)."""

    def update(key, pdfs, state: GroupState):
        ids, sigs = (state.get if state.exists else ([], []))
        ids, sigs = list(ids), [list(s) for s in sigs]
        known = set(ids)
        rows: list[tuple[int, int, float]] = []
        for pdf in pdfs:
            for nid, nsig in zip(pdf[id_col], pdf["__sig"]):
                # plain Python ints: the state store pickles through the
                # JVM and numpy scalars don't unpickle there
                nid, nsig = int(nid), [int(x) for x in nsig]
                for oid, osig in zip(ids, sigs):
                    if oid == nid:
                        continue
                    est = sum(x == y for x, y in zip(nsig, osig)) / len(nsig)
                    if est >= threshold:
                        a, b = (oid, nid) if oid < nid else (nid, oid)
                        rows.append((a, b, _f6py(est)))
                # membership check: an at-least-once source re-delivers
                # documents, and re-admitting one would duplicate its
                # future pair emissions and eat the bucket cap
                if nid not in known and len(ids) < max_per_bucket:
                    known.add(nid)
                    ids.append(nid)
                    sigs.append(nsig)
        state.update((ids, sigs))
        if rows:
            yield pd.DataFrame(rows, columns=["id_a", "id_b", "est_jaccard"])

    banded = _banded(df, text_col, id_col, k_shingle, num_hashes, bands)
    return banded.groupBy("__band").applyInPandasWithState(
        update,
        outputStructType=PAIRS_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def minhash_near_dup_batch(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k_shingle: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Batch twin (same signatures, same bucket comparison, id-order
    instead of arrival-order) for tests and backfills; distinct pairs."""

    def compare(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = []
        members = sorted(
            zip(pdf[id_col], pdf["__sig"]), key=lambda t: int(t[0])
        )
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                (ia, sa), (ib, sb) = members[i], members[j]
                est = sum(x == y for x, y in zip(sa, sb)) / len(sa)
                if est >= threshold:
                    rows.append((int(ia), int(ib), _f6py(est)))
        return pd.DataFrame(rows, columns=["id_a", "id_b", "est_jaccard"])

    banded = _banded(df, text_col, id_col, k_shingle, num_hashes, bands)
    return (
        banded.groupBy("__band")
        .applyInPandas(compare, PAIRS_SCHEMA)
        .dropDuplicates(["id_a", "id_b"])
    )
