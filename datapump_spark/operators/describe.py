"""Descriptive statistics (pandas ``df.describe(include='all')`` parity).

Reference (datapump.py:329-336,343,355-356,371): one row per stat in
{count, unique, top, freq, mean, std, min, 25%, 50%, 75%, max} × one column
per input column; numeric columns get count/mean/std/min/percentiles/max,
string columns get count/unique/top/freq; a leading ``stat`` text column is
the primary key. Percentiles use linear interpolation — Spark's exact
``percentile`` matches pandas; ``percentile_approx``/``summary()`` do NOT
(SURVEY §2.4 A2).

Scale design: all numeric stats for all columns are computed in ONE global
aggregation (map-side partial aggregates, single-row result — no shuffle of
data rows, only of partial states). ``unique``/``top``/``freq`` need per-column
value counts: each is a groupBy on that column alone (shuffle of distinct
values only) with the modal row picked via ``max_by`` over a (count, value)
struct — no window over the full data. The row-per-stat pivot happens on the
single-row aggregate output — driver-side-sized, not data-sized.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

NUMERIC_STATS = ["count", "mean", "std", "min", "25%", "50%", "75%", "max"]
STRING_STATS = ["count", "unique", "top", "freq"]
ALL_STATS = ["count", "unique", "top", "freq", "mean", "std", "min",
             "25%", "50%", "75%", "max"]


def describe_numeric(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Long-format numeric describe: (column, stat, value double).

    One aggregation pass for every column; stats ordered as NUMERIC_STATS.
    """
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.col(c)).cast("double").alias(f"{c}__count"),
            F.avg(F.col(c)).alias(f"{c}__mean"),
            F.stddev_samp(F.col(c)).alias(f"{c}__std"),
            F.min(F.col(c)).cast("double").alias(f"{c}__min"),
            F.percentile(F.col(c), F.lit(0.25)).alias(f"{c}__25%"),
            F.percentile(F.col(c), F.lit(0.5)).alias(f"{c}__50%"),
            F.percentile(F.col(c), F.lit(0.75)).alias(f"{c}__75%"),
            F.max(F.col(c)).cast("double").alias(f"{c}__max"),
        ]
    row = df.agg(*aggs)
    structs = [
        F.struct(
            F.lit(c).alias("column"),
            F.lit(s).alias("stat"),
            F.col(f"{c}__{s}").alias("value"),
        )
        for c in cols
        for s in NUMERIC_STATS
    ]
    return row.select(F.explode(F.array(*structs)).alias("kv")).select("kv.*")


def describe_string(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Long-format string describe: (column, stat, value string).

    count / unique are global aggregates; top / freq come from a per-column
    value-count groupBy with the modal value picked by (count desc, value asc)
    via ``max_by`` — ties resolve to the smallest value, deterministic.
    """
    out = None
    for c in cols:
        counts = (
            df.where(F.col(c).isNotNull())
            .groupBy(F.col(c).alias("v"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        # max_by over a struct: highest cnt wins; on cnt ties the *largest*
        # struct wins, so invert the value ordering by using min_by on
        # (-cnt, value) — (lowest -cnt = highest cnt, then smallest value).
        one = counts.agg(
            F.count(F.lit(1)).cast("string").alias("unique"),
            # all-null column: no value counts, but pandas reports count 0
            F.coalesce(F.sum("cnt"), F.lit(0)).cast("string").alias("count"),
            F.min_by(F.col("v"), F.struct((-F.col("cnt")).alias("n"), F.col("v").alias("v"))).alias("top"),
            F.max("cnt").cast("string").alias("freq"),
        ).select(
            F.explode(
                F.array(*[
                    F.struct(F.lit(c).alias("column"), F.lit(s).alias("stat"),
                             F.col(s).alias("value"))
                    for s in STRING_STATS
                ])
            ).alias("kv")
        ).select("kv.*")
        out = one if out is None else out.unionByName(one)
    return out


def describe_table(
    df: DataFrame,
    numeric_cols: Sequence[str] | None = None,
    string_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Reference-shaped wide describe: ``stat`` + one all-string column per
    input column, rows ordered like pandas describe(include='all')
    (datapump.py:332-336). Inapplicable cells are NULL (elided at the sink by
    the sparse-record writer, SURVEY §2.3 F2).
    """
    from pyspark.sql import types as T

    if numeric_cols is None or string_cols is None:
        from datapump_spark.operators.resample import numeric_columns
        nc = numeric_columns(df)
        numeric_cols = nc if numeric_cols is None else numeric_cols
        string_cols = (
            [f.name for f in df.schema.fields
             if isinstance(f.dataType, T.StringType)]
            if string_cols is None else string_cols
        )

    longs = []
    if numeric_cols:
        longs.append(
            describe_numeric(df, numeric_cols)
            .withColumn("value", F.col("value").cast("string"))
        )
    if string_cols:
        longs.append(describe_string(df, string_cols))
    long_df = longs[0]
    for other in longs[1:]:
        long_df = long_df.unionByName(other)

    order = F.lit(list(ALL_STATS))
    wide = (
        long_df.groupBy("stat")
        .pivot("column", [*numeric_cols, *string_cols])
        .agg(F.first("value"))
        .withColumn("__ord", F.array_position(order, F.col("stat")))
        .orderBy("__ord")
        .drop("__ord")
    )
    return wide


def gini_concentration(
    df,
    group_col: str,
    weight_col: str,
):
    """Gini coefficient of how unevenly ``weight_col`` mass concentrates
    across ``group_col`` (one row out: n_groups, total, gini ∈ [0, 1)).
    THE corpus-curation concentration report: a pre-training mix where
    three domains carry 90% of tokens has a Gini near 1 and needs
    per-domain caps (operators/sampling.group_cap) before training.

    Computed on the per-group totals via the sorted-cumulative formula
    G = (2·Σ i·xᵢ)/(n·Σx) − (n+1)/n with x ascending (i 1-based) — an
    ordered running sum over the GROUP table (group-cardinality-sized,
    not row-sized; the single-partition sort is over n_groups rows,
    which is the already-aggregated small side). Ties order by group id
    so the rank assignment — though not the Gini value, which is
    tie-invariant — is deterministic."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    per = df.groupBy(group_col).agg(
        F.sum(weight_col).cast("double").alias("__x"))
    w = Window.orderBy(F.col("__x").asc(), F.col(group_col).asc())
    ranked = per.withColumn("__i", F.row_number().over(w))
    return ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.round(F.sum("__x"), 6).alias("total"),
        F.round(
            (2.0 * F.sum(F.col("__i") * F.col("__x")))
            / (F.count(F.lit(1)) * F.sum("__x"))
            - (F.count(F.lit(1)) + 1) / F.count(F.lit(1)),
            6).alias("gini"),
    )
