"""Deterministic sampling operators for training-data pipelines.

Beyond-reference surface (BASELINE.json north star): reproducible
subsampling is how LLM pipelines build ablation sets, data mixtures,
and holdouts. `rand()` is banned here — a task retry or a different
partitioning would change the sample. Instead every decision is a pure
function of (salt, id): stable across runs, partitionings, engines —
and therefore fully DuckDB-oracle-checkable (md5 everywhere).

Scale notes: hash_sample is a stateless map-side filter (no shuffle,
pushes through codegen); stratified_sample_fixed is one window sort
per stratum — the same shuffle a groupBy(stratum) would pay. For a
global budget over very hot strata, cap with `n_per_stratum` rather
than re-partitioning by random keys.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from aurora_mito_etl_spark.functions.hashing import md5_prefix60

# 60-bit md5 prefix → uniform bucket in [0, 1e6): the same portable
# construction the dedup sketches use (dedup.py).
_BUCKETS = 1_000_000


def _hash_bucket(id_col: Column, salt: str) -> Column:
    return (
        md5_prefix60(F.concat(F.lit(salt), F.lit("#"), id_col.cast("string")))
        % _BUCKETS
    )


def hash_sample(
    df: DataFrame, id_col: str, rate: float, salt: str = "s0"
) -> DataFrame:
    """Deterministic Bernoulli sample: keep a row iff
    md5(salt#id) mod 1e6 < rate·1e6.

    The same (salt, id) is kept or dropped in every run and on every
    engine; disjoint salts give independent samples (ablation arms).
    Granularity is 1/1e6 — rate is quantized to floor(rate·1e6).
    """
    return df.filter(_hash_bucket(F.col(id_col), salt) < int(rate * _BUCKETS))


def stratified_sample_fixed(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    n_per_stratum: int,
    salt: str = "s0",
) -> DataFrame:
    """Deterministic stratified sample: the `n_per_stratum` rows with
    the smallest md5(salt#id) per stratum (ties broken by id).

    Equivalent to a uniform without-replacement draw per stratum, but
    reproducible and engine-portable; the standard way to balance a
    data mixture across sources. One row_number window per stratum.
    """
    w = Window.partitionBy(strata_col).orderBy(
        _hash_bucket(F.col(id_col), salt).asc(),
        F.md5(F.concat(F.lit(salt), F.lit("#"), F.col(id_col).cast("string"))).asc(),
        F.col(id_col).asc(),
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n_per_stratum)
        .drop("__rn")
    )


def split_train_holdout(
    df: DataFrame, id_col: str, holdout_rate: float, salt: str = "split"
) -> tuple[DataFrame, DataFrame]:
    """Disjoint, exhaustive, deterministic train/holdout split on the
    same hash coordinate (a row is in exactly one side, forever)."""
    cut = int(holdout_rate * _BUCKETS)
    bucket = _hash_bucket(F.col(id_col), salt)
    return df.filter(bucket >= cut), df.filter(bucket < cut)


def epoch_shuffle(
    df: DataFrame,
    id_col: str,
    epoch: int,
    n_shards: int,
    salt: str = "epoch",
) -> DataFrame:
    """Deterministic training-order shuffle: (shard, pos) per row.

    A training run wants a different-but-reproducible order per epoch
    WITHOUT a global sort: shard = md5(salt+epoch#id) mod n_shards,
    pos = rank of the same hash within the shard. Readers stream
    shards in any order and rows within a shard by pos — jointly a
    uniform permutation keyed only by (epoch, id), independent of
    partitioning, engine, or cluster size.

    Scale shape: one hash projection (map-side) + one row_number
    window PER SHARD — each window partition is corpus/n_shards rows,
    so pick n_shards so a shard fits a task (e.g. 10⁵ shards at
    100 TB). No global ordering ever materializes.
    """
    key = md5_prefix60(
        F.concat(F.lit(f"{salt}{epoch}#"), F.col(id_col).cast("string"))
    )
    out = df.withColumn("shuffle_key", key).withColumn(
        "shard", F.pmod(F.col("shuffle_key"), F.lit(n_shards)).cast("int")
    )
    w = Window.partitionBy("shard").orderBy("shuffle_key", id_col)
    return out.withColumn("pos", F.row_number().over(w))


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    salt: str = "ws1",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement, k rows
    with inclusion probability proportional to `weight_col`
    (Efraimidis–Spirakis A-Res, exponential-key form): each row draws
    u ~ U(0,1] from the portable 60-bit md5 hash of (salt, id) and
    keeps key = −ln(u)/w; the k SMALLEST keys win.

    rand()-free like every sampler here — the draw is a pure function
    of (salt, id), so the sample is reproducible across engines,
    partitionings, and reruns, and refreshable by changing the salt.
    Keys are fixed-point-rounded (functions.numeric.fixed6, the DSIR
    convention for log-derived scores) with id as the deterministic
    tie-break, so the boundary of the top-k is engine-stable.

    Scale shape: one hash projection, then a distributed top-k
    (TakeOrderedAndProject — per-partition heaps merged on the
    driver's single k-row result; no global sort materializes).

    Output: (id, wt, skey) for the k sampled rows.
    """
    from aurora_mito_etl_spark.functions.numeric import fixed6

    u = (
        md5_prefix60(F.concat(F.lit(salt), F.lit("#"), F.col(id_col).cast("string")))
        + F.lit(1)
    ).cast("double") / F.lit(float(1 << 60))
    wt = F.col(weight_col).cast("double")
    key = fixed6(-F.log(u) / wt)
    # A-Res requires w > 0: wt = 0 makes the key NULL (Spark double
    # div-by-zero) and wt < 0 makes it negative, and BOTH sort first
    # under ascending orderBy — silently inverting the semantics to
    # "prefer invalid-weight rows". Exclude them at the operator level
    # (ADVICE r5): zero/negative/NULL weight means zero inclusion
    # probability.
    return (
        df.select(F.col(id_col), wt.alias("wt"), key.alias("skey"))
        .where(F.col("wt") > 0)
        .orderBy("skey", id_col)
        .limit(k)
    )


def split_leakage_report(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    score_col: str = "jaccard",
    holdout_rate: float = 0.2,
    salt: str = "split",
) -> DataFrame:
    """Near-duplicate leakage audit for the deterministic train/
    holdout split: given a near-dup pair table, report every HOLDOUT
    document that has a near-duplicate on the TRAIN side — the eval
    rows whose scores are contaminated by memorization (the reason
    a random split is not enough and decontamination pipelines exist;
    cf. Lee et al. 2022 "Deduplicating Training Data Makes Language
    Models Better" §5).

    Because :func:`split_train_holdout` assigns sides by a pure hash
    of the id, side membership is RECOMPUTED from the pair table's id
    columns — no join against either split side, no corpus access:
    the audit costs one pass over the (already small) pair table.

    Output: (doc_id, n_train_neighbors, max_score) — one row per
    leaky holdout doc; drop these from eval (or their partners from
    train) before measuring."""
    cut = int(holdout_rate * _BUCKETS)

    def is_hold(c: Column) -> Column:
        return _hash_bucket(c, salt) < cut

    crossing = pairs.where(
        is_hold(F.col(id_a)) != is_hold(F.col(id_b))
    ).select(
        F.when(is_hold(F.col(id_a)), F.col(id_a))
        .otherwise(F.col(id_b))
        .alias("doc_id"),
        F.col(score_col),
    )
    return crossing.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_train_neighbors"),
        F.max(score_col).alias("max_score"),
    )
