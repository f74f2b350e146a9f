"""Expectation-suite operator: seeded violations must be counted exactly,
and the row-level pass must stay a single aggregation job."""

from __future__ import annotations

from datapump_spark.operators.expectations import (
    Check, ExpectationSuite, in_range, in_set, matches, not_null,
    referential_integrity, run_suites)
from pyspark.sql import functions as F


def _rows(df):
    return {(r["check"], r["violated"], r["total"], r["ok"])
            for r in df.collect()}


def test_row_level_checks_count_violations(spark):
    df = spark.createDataFrame(
        [(1, "a", 5.0), (2, None, 50.0), (3, "zz", -1.0), (3, "a", 5.0)],
        "id int, tag string, score double")
    suite = ExpectationSuite("t", [
        not_null("tag"),
        in_set("tag", ["a", "zz"]),
        in_range("score", 0.0, 10.0),
        matches("tag", "^[a-z]+$"),
    ], unique_keys=["id"])
    got = _rows(suite.run(df))
    assert ("not_null:tag", 1, 4, False) in got
    # null tag fails set membership too (null predicate -> violation)
    assert ("in_set:tag", 1, 4, False) in got
    assert ("in_range:score", 2, 4, False) in got  # -1.0 and 50.0
    assert ("matches:tag", 1, 4, False) in got
    assert ("unique:id", 1, 4, False) in got  # id=3 twice


def test_clean_table_passes(spark):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, tag string")
    suite = ExpectationSuite("t", [not_null("tag")], unique_keys=["id"])
    assert all(r["ok"] for r in suite.run(df).collect())


def test_row_level_pass_is_single_aggregate(spark):
    """All row-level checks + uniqueness must compile to one Aggregate
    over the table — no self-joins, no one-job-per-check."""
    df = spark.createDataFrame([(1, "a", 1.0)], "id int, tag string, score double")
    suite = ExpectationSuite("t", [not_null("tag"), in_range("score", 0, 2)],
                             unique_keys=["id"])
    plan = suite.run(df)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Aggregate") == 1
    assert "Join" not in plan


def test_referential_integrity_orphans(spark):
    fact = spark.createDataFrame([(1,), (2,), (9,), (9,)], "k int")
    dim = spark.createDataFrame([(1,), (2,), (3,)], "k int")
    out = referential_integrity(fact, "k", dim, "k", "fact", "dim").collect()
    assert len(out) == 1
    r = out[0]
    assert r["violated"] == 2 and r["total"] == 4 and not r["ok"]
    assert r["check"] == "ri:fact.k->dim.k"


def test_run_suites_unions_all(spark):
    a = spark.createDataFrame([(1,)], "x int")
    b = spark.createDataFrame([(None,)], "y string")
    out = run_suites([
        (ExpectationSuite("a", [not_null("x")]), a),
        (ExpectationSuite("b", [not_null("y")]), b),
    ])
    got = {(r["table_name"], r["check"], r["ok"]) for r in out.collect()}
    assert got == {("a", "not_null:x", True), ("b", "not_null:y", False)}


def test_custom_check_predicate(spark):
    df = spark.createDataFrame([(2,), (4,), (5,)], "x int")
    suite = ExpectationSuite("t", [Check("even:x", F.col("x") % 2 == 0)])
    [r] = suite.run(df).collect()
    assert r["violated"] == 1 and r["total"] == 3


def test_benford_deviation(spark):
    from pyspark.sql import functions as F

    from datapump_spark.operators.expectations import benford_deviation

    # geometric data follows Benford closely; shifted-uniform does not
    geo = spark.range(400).select(
        (F.pow(F.lit(1.3), F.col("id") % 60) * 1.7).alias("v"))
    uni = spark.range(400).select((F.col("id") % 50 + 50.0).alias("v"))
    chi_geo = sum(r["chi2_part"] for r in
                  benford_deviation(geo, "v").collect())
    chi_uni = sum(r["chi2_part"] for r in
                  benford_deviation(uni, "v").collect())
    assert chi_uni > 10 * chi_geo          # 50-99 has no leading 1s
    # sub-1 magnitudes keep their leading significant digit; zeros drop
    small = spark.createDataFrame(
        [(0.05,), (0.5,), (0.0,), (None,), (-0.07,)], "v double")
    rows = {r["digit"]: r["n"] for r in
            benford_deviation(small, "v").collect()}
    assert rows == {5: 2, 7: 1}


def test_sql_lit_edge_cases(spark):
    """r12 ADVICE: None/NaN/inf literals and backticked identifiers must
    render as parseable SQL (old repr() fallthrough emitted bare None
    and invalid infD); unsupported types raise instead of silently
    producing unparseable text."""
    import pytest as _pytest

    from datapump_spark.functions.hashing import sql_ident
    from datapump_spark.operators.expectations import (Check,
                                                       ExpectationSuite,
                                                       _sql_lit, in_range,
                                                       in_set)

    assert _sql_lit(None) == "NULL"
    assert _sql_lit(float("nan")) == "CAST('NaN' AS DOUBLE)"
    assert _sql_lit(float("inf")) == "CAST('Infinity' AS DOUBLE)"
    assert _sql_lit(float("-inf")) == "CAST('-Infinity' AS DOUBLE)"
    assert sql_ident("a`b") == "`a``b`"
    with _pytest.raises(TypeError):
        _sql_lit(object())
    with _pytest.raises(TypeError):
        _sql_lit(__import__("decimal").Decimal("1.5"))

    # in_set with a None member parses and behaves like the Column API
    # (x IN (..., NULL) is null for non-members -> counted violated)
    df = spark.createDataFrame([(1,), (2,), (None,)], "x int")
    suite = ExpectationSuite("t", [in_set("x", [1, None])])
    [r] = suite.run(df).collect()
    assert r["total"] == 3 and r["violated"] == 2  # only x=1 passes

    # non-finite range bounds parse and evaluate
    df2 = spark.createDataFrame([(1.0,), (None,)], "y double")
    suite2 = ExpectationSuite("t", [in_range("y", float("-inf"),
                                             float("inf"))])
    [r2] = suite2.run(df2).collect()
    assert r2["violated"] == 1  # the null row

    # a column name carrying a backtick cannot break the quoting
    df3 = spark.createDataFrame([(1,), (None,)], ["a`b"])
    suite3 = ExpectationSuite(
        "t", [Check("nn", f"{sql_ident('a`b')} IS NOT NULL")])
    [r3] = suite3.run(df3).collect()
    assert r3["violated"] == 1
