"""A2 describe + A3 mode vs pandas models (datapump.py:329-344)."""

from __future__ import annotations

import math

import pandas as pd
import pytest

from datapump_spark.operators.describe import describe_numeric, describe_string, describe_table
from datapump_spark.operators.mode import column_modes

ROWS = [
    (1.0, "x"), (2.0, "y"), (2.0, "x"), (3.0, "z"),
    (4.0, "x"), (None, "y"), (10.0, None),
]
COLS = ["v", "s"]


@pytest.fixture(scope="module")
def df(spark):
    return spark.createDataFrame(ROWS, "v double, s string")


def test_describe_numeric_matches_pandas(df):
    pdf = pd.DataFrame(ROWS, columns=COLS)
    desc = pdf["v"].describe()  # count mean std min 25% 50% 75% max
    got = {r["stat"]: r["value"] for r in describe_numeric(df, ["v"]).collect()}
    for stat, key in [("count", "count"), ("mean", "mean"), ("std", "std"),
                      ("min", "min"), ("25%", "25%"), ("50%", "50%"),
                      ("75%", "75%"), ("max", "max")]:
        assert math.isclose(got[stat], desc[key], rel_tol=1e-9), stat


def test_describe_string_matches_pandas(df):
    pdf = pd.DataFrame(ROWS, columns=COLS)
    desc = pdf["s"].describe()  # count unique top freq
    got = {r["stat"]: r["value"] for r in describe_string(df, ["s"]).collect()}
    assert got["count"] == str(desc["count"])
    assert got["unique"] == str(desc["unique"])
    assert got["top"] == desc["top"]
    assert got["freq"] == str(desc["freq"])


def test_describe_table_shape(df):
    wide = describe_table(df).toPandas()
    assert list(wide.columns) == ["stat", "v", "s"]
    # numeric col has no unique/top/freq; string col has no mean
    by_stat = wide.set_index("stat")
    assert by_stat.loc["unique", "v"] is None
    assert by_stat.loc["mean", "s"] is None
    assert by_stat.loc["count", "v"] == "6.0"  # non-null count, float-formatted


def test_mode_matches_pandas_with_ties(df):
    pdf = pd.DataFrame(ROWS, columns=COLS)
    expected = pdf.mode()  # v -> [2.0]; s -> [x]
    got = column_modes(df, ["v", "s"]).toPandas().sort_values("stat")
    assert list(got["v"].dropna()) == list(expected["v"].dropna())
    assert list(got["s"].dropna()) == list(expected["s"].dropna())


def test_mode_tie_ordering(spark):
    df = spark.createDataFrame([(3,), (3,), (1,), (1,), (2,)], "x int")
    got = column_modes(df, ["x"]).toPandas()
    # ties ranked ascending by value, stat = 0-based rank (pandas parity)
    assert list(got["stat"]) == [0, 1]
    assert list(got["x"]) == [1, 3]


def test_mode_mixed_types_matches_pandas(spark):
    """Timestamp, bigint, double and string columns, one all-null column,
    and 1, 2 and 3 tied modes (so the NULL padding shows); two bigint
    columns share one value slot of the stacked plan."""
    from datetime import datetime

    t1, t2, t3 = (datetime(2021, 10, 1, h) for h in (1, 2, 3))
    rows = [
        (t1, 5, 7, 2.5, "b", None),
        (t1, 5, 7, 2.5, "b", None),
        (t2, 3, 9, 1.5, "a", None),
        (t3, 3, 9, 1.5, "c", None),
        (None, 1, 8, 0.5, None, None),
        (t2, None, 8, 0.5, "a", None),
    ]
    cols = ["ts", "b", "b3", "d", "s", "n"]
    ddl = ("ts timestamp, b bigint, b3 bigint, d double, s string, "
           "n double")
    df = spark.createDataFrame(rows, ddl)
    expected = pd.DataFrame(rows, columns=cols).mode()
    got_df = column_modes(df, cols)

    assert [(f.name, f.dataType.simpleString())
            for f in got_df.schema.fields] == [
        ("stat", "bigint"), *[(c, t) for c, t in df.dtypes]]
    got = got_df.toPandas()
    assert list(got["stat"]) == [0, 1, 2]
    for c in cols:
        assert list(got[c].isna()) == list(expected[c].isna()), c
        assert list(got[c].dropna()) == list(expected[c].dropna()), c


def _jobs_in_group(spark, name, action):
    import uuid

    sc = spark.sparkContext
    group = f"{name}-{uuid.uuid4().hex}"
    sc.setJobGroup(group, name)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_mode_job_count_independent_of_column_count(spark):
    """The stacked plan scans once for all columns: 8 columns cost the
    same Spark jobs as 2."""
    from datetime import datetime

    rows = [(i % 3, i % 5, float(i % 4), f"s{i % 2}",
             datetime(2021, 1, 1 + i % 6), i % 7, float(i % 3), f"t{i % 4}")
            for i in range(40)]
    df = spark.createDataFrame(
        rows, "a bigint, b bigint, c double, d string, e timestamp, "
              "f bigint, g double, h string")
    two = _jobs_in_group(spark, "modes2",
                         lambda: column_modes(df, df.columns[:2]).collect())
    eight = _jobs_in_group(spark, "modes8",
                           lambda: column_modes(df, df.columns).collect())
    assert two == eight


def test_edge_empty_and_all_null_inputs(spark):
    """Operators degrade gracefully on empty / all-null input (the driver
    may call any query on any SF; no operator may throw on degenerate
    data)."""
    from datapump_spark.operators.describe import describe_numeric, describe_string
    from datapump_spark.operators.mode import column_modes
    from datapump_spark.operators.resample import freq_resample

    empty = spark.createDataFrame([], "k bigint, ts timestamp, v double, s string")
    nulls = spark.createDataFrame(
        [(1, None, None, None), (2, None, None, None)],
        "k bigint, ts timestamp, v double, s string")

    assert len(describe_numeric(empty, ["v"]).collect()) == 8   # stats rows, null values
    assert len(describe_numeric(nulls, ["v"]).collect()) == 8
    # pandas describe(include='all') on an all-null text column: count 0,
    # unique 0, no top/freq
    assert {r["stat"]: r["value"] for r in
            describe_string(nulls, ["s"]).collect()} == {
        "count": "0", "unique": "0", "top": None, "freq": None}
    assert column_modes(nulls, ["s", "v"]).count() == 0         # no non-null modes
    assert freq_resample(empty, ["k"], "ts", "H").count() == 0


def test_gini_concentration(spark):
    from pyspark.sql import functions as F

    from datapump_spark.operators.describe import gini_concentration

    # perfectly even mass → gini 0
    even = spark.createDataFrame(
        [(f"g{i}", 10.0) for i in range(8)], "g string, w double")
    r = gini_concentration(even, "g", "w").collect()[0]
    assert r["gini"] == 0.0 and r["n_groups"] == 8 and r["total"] == 80.0
    # one group holds everything → gini → (n-1)/n
    skewed = spark.createDataFrame(
        [("a", 1000.0)] + [(f"g{i}", 0.0) for i in range(9)],
        "g string, w double")
    r2 = gini_concentration(skewed, "g", "w").collect()[0]
    assert r2["gini"] == pytest.approx(9 / 10, abs=1e-6)
    # invariance to input layout
    r3 = gini_concentration(skewed.repartition(5), "g", "w").collect()[0]
    assert r3["gini"] == r2["gini"]
