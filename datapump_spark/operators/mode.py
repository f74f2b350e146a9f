"""Per-column mode with ties (pandas ``df.mode()`` parity).

Reference (datapump.py:337-344): ranked modal values per column; ties produce
multiple rows sorted ascending; the row index becomes a ``stat`` column
(0,1,2,…). Columns are INDEPENDENT — row k holds each column's k-th modal
value, not co-occurring records (SURVEY §2.4 A3). Spark's builtin ``mode()``
returns a single value, so ties need the count-and-rank plan below.

Scale: one scan for all columns. Each row explodes into one entry per
column, ``(__i, slot_0 … slot_{t-1})`` with one value slot per distinct
Spark type among the columns (t ≤ number of columns) and only the slot of
column ``__i``'s type set, so values keep their types and the stacked row
stays t slots wide however many columns there are. One value-count groupBy
on ``(__i, slots)`` combines map-side, so the shuffle carries only the
distinct (column, value) pairs. One window partitioned by ``__i`` and
ordered by (count desc, slots asc) ranks each column's values: the running
max is the column's max count and the row number among the rows that reach
it is the tie rank. The windowed set is the distinct values, not the data.
A groupBy on the rank pivots the (tiny) modal set back to one column per
input. The job count is fixed, whatever the number of columns.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def column_modes(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """pandas df.mode() shape: ``stat`` rank index + one column per input
    column holding its rank-k modal value (NULL once a column's ties are
    exhausted). Ties rank ascending by value; nulls are excluded (pandas
    ``mode(dropna=True)``). Output sorted by stat."""
    dtypes = {f.name: f.dataType for f in df.schema.fields}
    types = list(dict.fromkeys(dtypes[c] for c in cols))
    slots = [f"__v{j}" for j in range(len(types))]
    slot = {c: slots[types.index(dtypes[c])] for c in cols}
    entries = F.array(*[
        F.struct(F.lit(i).alias("__i"), *[
            (F.col(c) if s == slot[c] else F.lit(None).cast(t)).alias(s)
            for s, t in zip(slots, types)])
        for i, c in enumerate(cols)])
    counts = (
        df.select(F.explode(entries).alias("__e")).select("__e.*")
        .where(" OR ".join(f"{s} IS NOT NULL" for s in slots))
        .groupBy("__i", *slots).count()
    )
    w = Window.partitionBy("__i").orderBy(F.col("count").desc(), *slots)
    ranked = (
        counts.withColumn("__mx", F.max("count").over(w))
        .withColumn("stat", (F.row_number().over(w) - 1).cast("bigint"))
        .where(F.col("count") == F.col("__mx"))
    )
    return (
        ranked.groupBy("stat").agg(*[
            F.first(F.when(F.col("__i") == i, F.col(slot[c])),
                    ignorenulls=True).alias(c)
            for i, c in enumerate(cols)])
        .orderBy("stat")
    )
