"""One-pass column profiling: the data-quality EDA surface.

(col_name, n_rows, n_nulls, n_distinct, min_num, max_num, min_str,
max_str) in long format for any set of numeric and string columns —
the table-health report a pipeline runs before and after every stage
(complements schema/validate.py, which checks declared constraints;
this measures the distribution facts you didn't declare).

Two execution paths, same answer:

``exact=True`` (oracle-checkable) — the naive formulation (one
aggregate with N ``count(DISTINCT)`` clauses) plans an Expand (rows
x N_cols) followed by SORT-based aggregation, because min/max over
STRING columns have immutable aggregation buffers that HashAggregate
cannot hold: measured ~21s on sf0.1 lineitem, a sort of 7M expanded
rows. So the exact path is instead the classic unpivot + two-level
aggregate: explode each row into (col_idx, num, str) entries — ONE
Generate, no Expand — then ``groupBy(idx, num, str).count()``
(pure-count buffers: HashAggregate, map-side combine collapses
repeated values before the shuffle), then a per-column aggregate
over the DISTINCT-VALUE table only, which is vocabulary-sized — the
only sort-aggregated input is already tiny. Hot values cost one
combiner cell per map task; per-column skew is bounded by that
column's distinct count, not the row count.

``exact=False`` (the 100 TB fast path) — a single aggregate pass
where n_distinct is HyperLogLog++ (``approx_count_distinct``,
default 5% rsd): no Expand, no explode, no second shuffle. Same
output schema; pytest-pinned against the exact path on fixtures.

Numeric values are normalized through ``CAST(c AS DOUBLE) + 0.0``
before min/max/distinct: the +0.0 collapses IEEE -0.0 into +0.0 so
distinct counts and extrema cannot diverge between engines on
signed-zero inputs (adversarial-data lesson of tools/fuzz_gate.py);
integers up to 2^53 and epoch-microsecond timestamps stay exact.

Beyond-reference surface: the reference validates records one by one
(`validate.py` jsonschema row loop); it has no distribution profiler.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _norm_num(c: str):
    return F.col(c).cast("double") + F.lit(0.0)


def profile_table(
    df: DataFrame,
    numeric_cols: list[str],
    string_cols: list[str],
    exact: bool = True,
) -> DataFrame:
    """Long-format profile of `numeric_cols` + `string_cols`; one row
    per column, in the given order. min_num/max_num are NULL for
    string columns, min_str/max_str for numeric ones; n_distinct
    ignores NULLs (COUNT DISTINCT semantics on both engines)."""
    if not numeric_cols and not string_cols:
        raise ValueError("profile_table needs at least one column")
    if exact:
        return _exact_profile(df, numeric_cols, string_cols)
    return _approx_profile(df, numeric_cols, string_cols)


def _exact_profile(
    df: DataFrame, numeric_cols: list[str], string_cols: list[str]
) -> DataFrame:
    names = list(numeric_cols) + list(string_cols)
    n_num = len(numeric_cols)
    entries = F.array(
        *[
            F.struct(
                F.lit(i).cast("long").alias("idx"),
                _norm_num(c).alias("num"),
                F.lit(None).cast("string").alias("str"),
            )
            for i, c in enumerate(numeric_cols)
        ],
        *[
            F.struct(
                F.lit(n_num + i).cast("long").alias("idx"),
                F.lit(None).cast("double").alias("num"),
                F.col(c).alias("str"),
            )
            for i, c in enumerate(string_cols)
        ],
    )
    long = df.select(F.explode(entries).alias("e")).select("e.*")
    # Distinct-value collapse: count-only buffers keep this a
    # HashAggregate with map-side combine; repeated values cost one
    # combiner cell per map task, so the shuffle carries the distinct
    # values, not the rows.
    dv = long.groupBy("idx", "num", "str").agg(F.count(F.lit(1)).alias("cnt"))
    is_null = F.col("num").isNull() & F.col("str").isNull()
    prof = dv.groupBy("idx").agg(
        F.sum("cnt").cast("long").alias("n_rows"),
        F.coalesce(
            F.sum(F.when(is_null, F.col("cnt"))), F.lit(0)
        ).cast("long").alias("n_nulls"),
        F.count(F.when(~is_null, F.lit(1))).cast("long").alias("n_distinct"),
        F.min("num").alias("min_num"),
        F.max("num").alias("max_num"),
        F.min("str").alias("min_str"),
        F.max("str").alias("max_str"),
    )
    # Column spine: a profiled column must come back even when the
    # table is empty (zero counts, NULL extrema) — and it restores
    # the requested column order.
    spine = df.sparkSession.range(len(names)).withColumnRenamed("id", "idx")
    name_of = F.element_at(
        F.array(*[F.lit(n) for n in names]), (F.col("idx") + 1).cast("int")
    )
    return (
        spine.join(F.broadcast(prof), "idx", "left")
        .orderBy("idx")
        .select(
            name_of.alias("col_name"),
            F.coalesce("n_rows", F.lit(0)).cast("long").alias("n_rows"),
            F.coalesce("n_nulls", F.lit(0)).cast("long").alias("n_nulls"),
            F.coalesce("n_distinct", F.lit(0)).cast("long").alias("n_distinct"),
            "min_num",
            "max_num",
            "min_str",
            "max_str",
        )
    )


def _approx_profile(
    df: DataFrame, numeric_cols: list[str], string_cols: list[str]
) -> DataFrame:
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in numeric_cols:
        x = _norm_num(c)
        aggs += [
            F.count(x).alias(f"_nn_{c}"),
            F.approx_count_distinct(x).alias(f"_nd_{c}"),
            F.min(x).alias(f"_mn_{c}"),
            F.max(x).alias(f"_mx_{c}"),
        ]
    for c in string_cols:
        aggs += [
            F.count(F.col(c)).alias(f"_nn_{c}"),
            F.approx_count_distinct(F.col(c)).alias(f"_nd_{c}"),
            F.min(F.col(c)).alias(f"_mn_{c}"),
            F.max(F.col(c)).alias(f"_mx_{c}"),
        ]
    row = df.agg(*aggs)

    def entry(c: str, numeric: bool):
        return F.struct(
            F.lit(c).alias("col_name"),
            F.col("_n").cast("long").alias("n_rows"),
            (F.col("_n") - F.col(f"_nn_{c}")).cast("long").alias("n_nulls"),
            F.col(f"_nd_{c}").cast("long").alias("n_distinct"),
            (F.col(f"_mn_{c}") if numeric else F.lit(None).cast("double")).alias(
                "min_num"
            ),
            (F.col(f"_mx_{c}") if numeric else F.lit(None).cast("double")).alias(
                "max_num"
            ),
            (F.lit(None).cast("string") if numeric else F.col(f"_mn_{c}")).alias(
                "min_str"
            ),
            (F.lit(None).cast("string") if numeric else F.col(f"_mx_{c}")).alias(
                "max_str"
            ),
        )

    entries = F.array(
        *[entry(c, True) for c in numeric_cols],
        *[entry(c, False) for c in string_cols],
    )
    return row.select(F.explode(entries).alias("e")).select("e.*")
