"""operators/stats.exact_percentiles — bit-equality vs Spark's own
exact ``percentile`` aggregate (round-10 optimization: the distributed
two-pass replacement for the single-task value-map merge+sort)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from luxo_rs_spark.operators.stats import exact_percentiles
from luxo_rs_spark.sources.registry import load_table

SF_DIR = "/root/testdata/sf0.001"


def spark_pcts(df, col, probs):
    arr = ", ".join(str(p) for p in probs)
    return df.agg(
        F.expr(f"percentile({col}, array({arr}))").alias("ps")
    ).head()["ps"]


@pytest.mark.parametrize(
    "probs",
    [
        [0.01, 0.99],
        [0.25, 0.5, 0.75],
        [0.5],
        [0.0, 1.0],
        [0.123, 0.456, 0.789],
    ],
)
def test_double_column_bit_identical(spark, probs):
    li = load_table(spark, SF_DIR, "lineitem")
    expected = spark_pcts(li, "l_extendedprice", probs)
    got = exact_percentiles(li, "l_extendedprice", probs).head()["ps"]
    assert got == expected  # exact, not approx: same doubles bit-for-bit


def test_integer_column_bit_identical(spark):
    li = load_table(spark, SF_DIR, "lineitem")
    probs = [0.1, 0.5, 0.9]
    expected = spark_pcts(li, "l_partkey", probs)
    got = exact_percentiles(li, "l_partkey", probs).head()["ps"]
    assert got == expected


def test_decimal_column_bit_identical(spark):
    li = load_table(spark, SF_DIR, "lineitem").select(
        F.col("l_extendedprice").cast("decimal(12,2)").alias("price")
    )
    probs = [0.25, 0.5, 0.75]
    expected = spark_pcts(li, "price", probs)
    got = exact_percentiles(li, "price", probs).head()["ps"]
    assert got == expected


@pytest.mark.parametrize(
    "values",
    [
        [3.5],                      # single row: every percentile = it
        [1.0, 2.0],                 # forced interpolation
        [7.0, 7.0, 7.0, 7.0],       # constant column (equal-key path)
        [-5.25, -1.5, 0.0, 2.75],   # negatives straddling zero
        [1e-3, 1.0, 1e6, 1e7],      # wide magnitude range
        [1.0, float("nan"), 2.0],   # NaN sorts above every value
        [float("-inf"), 0.0, float("inf")],
        [float("nan"), float("inf"), float("-inf"), 5.0, float("nan")],
        [1e300, -1e300, 1.5e300, 0.0],  # beyond the 2^62 bucket clamp
    ],
)
def test_small_frames_bit_identical(spark, values):
    df = spark.createDataFrame([(v,) for v in values], "v double")
    probs = [0.0, 0.1, 0.5, 0.9, 1.0]
    expected = spark_pcts(df, "v", probs)
    got = exact_percentiles(df, "v", probs).head()["ps"]
    # repr: NaN != NaN, and -0.0 == 0.0 would hide a sign difference
    assert [repr(x) for x in got] == [repr(x) for x in expected]


def test_nulls_ignored_and_all_null_returns_null_row(spark):
    df = spark.createDataFrame(
        [(1.0,), (None,), (3.0,), (None,)], "v double"
    )
    expected = spark_pcts(df, "v", [0.5])
    got = exact_percentiles(df, "v", [0.5]).head()["ps"]
    assert got == expected
    # all-null input: Spark's aggregate returns ONE row with NULL —
    # the operator must too (a zero-row frame would silently drop a
    # downstream broadcast-join bounds row)
    allnull = spark.createDataFrame([(None,), (None,)], "v double")
    rows = exact_percentiles(allnull, "v", [0.5]).collect()
    assert len(rows) == 1 and rows[0]["ps"] is None


def test_unsupported_type_raises(spark):
    df = spark.createDataFrame([("x",)], "v string")
    with pytest.raises(ValueError, match="unsupported type"):
        exact_percentiles(df, "v", [0.5])


def test_wide_decimal_raises(spark):
    df = spark.createDataFrame([(1.0,)], "v double").select(
        F.col("v").cast("decimal(20,2)").alias("v")
    )
    with pytest.raises(ValueError, match="64-bit"):
        exact_percentiles(df, "v", [0.5])


def test_no_single_task_value_sort_in_plan(spark):
    """The point of the operator: no stage may carry every VALUE row
    through one task. The only unpartitioned windows run over the
    bucket aggregate (bounded by value range >> shift); the value-row
    windows are partitioned by bucket."""
    li = load_table(spark, SF_DIR, "lineitem")
    df = exact_percentiles(li, "l_extendedprice", [0.5])
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    # the exact Percentile aggregate (the single-task buffer) is gone
    assert "percentile(" not in plan.lower()
