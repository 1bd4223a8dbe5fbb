"""Two-phase distributed ranking vs the native global window."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from thecrowler_spark.operators.ranking import (
    global_row_number,
    lag_range_partitioned,
    ntile_distributed,
)


def _nums(spark, n):
    return spark.range(n).select(
        F.col("id"),
        ((F.col("id") * 37) % 11).alias("key"),  # heavy ties
    )


def test_global_row_number_matches_window(spark):
    df = _nums(spark, 1000)
    order = [F.desc("key"), F.asc("id")]
    got = {
        (r["id"], r["rn"])
        for r in global_row_number(df, order, num_partitions=7).collect()
    }
    w = Window.orderBy(*order)
    want = {
        (r["id"], r["rn"])
        for r in df.select("id", F.row_number().over(w).alias("rn")).collect()
    }
    assert got == want


def test_ntile_matches_window_uneven(spark):
    # 1003 % 4 = 3 → three buckets of 251, one of 250
    df = _nums(spark, 1003)
    order = [F.desc("key"), F.asc("id")]
    got = {
        (r["id"], r["b"])
        for r in ntile_distributed(df, 4, order, out_col="b", num_partitions=5).collect()
    }
    w = Window.orderBy(*order)
    want = {
        (r["id"], r["b"])
        for r in df.select("id", F.ntile(4).over(w).alias("b")).collect()
    }
    assert got == want


def test_ntile_fewer_rows_than_buckets(spark):
    df = spark.range(3).select(F.col("id"))
    got = sorted(
        (r["id"], r["b"])
        for r in ntile_distributed(df, 4, [F.asc("id")], out_col="b").collect()
    )
    assert got == [(0, 1), (1, 2), (2, 3)]


def test_global_row_number_no_global_sort(spark):
    df = _nums(spark, 100)
    plan = (
        global_row_number(df, [F.asc("key"), F.asc("id")], num_partitions=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the only Sort nodes must be per-partition (global=false) or over
    # the O(#partitions) offsets frame; no full-width global sort
    for line in plan.splitlines():
        if "Sort [" in line and "true" in line.split("Sort [", 1)[1][:200]:
            raise AssertionError(f"global sort found: {line.strip()}")


def test_lag_range_partitioned_null_group_matches_window(spark):
    """A NULL group key is one partition for the native window; the
    carry row handed across range chunks must reach it too."""
    df = spark.range(4000).select(
        F.col("id"),
        F.when(F.col("id") % 10 < 8, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("g"), (F.col("id") % 2).cast("string")))
        .alias("grp"),
        ((F.col("id") * 7) % 13).alias("v"),
    )
    got = lag_range_partitioned(df, ["grp"], ["id"], ["v"], num_partitions=8)
    w = Window.partitionBy("grp").orderBy("id")
    want = df.select("id", F.lag("v").over(w).alias("_lag_v"))
    diff = got.select("id", "_lag_v").exceptAll(want)
    assert diff.count() == 0, diff.orderBy("id").limit(5).collect()
    assert got.count() == 4000
