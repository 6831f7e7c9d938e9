"""Unit tests for the distributed prefix sum and the KMV sketch estimator
(the pieces of d16/d18 whose properties the oracle gate can't see:
equivalence with the naive global window, and estimation quality)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from etl_docker_spark.operators.prefix import prefix_sum_ordered


def test_prefix_sum_matches_naive_global_window(spark):
    df = spark.range(0, 2_000).select(
        F.col("id"),
        (F.pmod(F.col("id") * 37, F.lit(101))).alias("v"),
        # a deliberately tie-heavy ranking column
        F.pmod("id", F.lit(7)).alias("score"),
    )
    order = [F.desc("score"), F.asc("id")]
    got = prefix_sum_ordered(df, order, "v", out_col="cum")
    naive = df.withColumn(
        "cum",
        F.sum("v").over(
            Window.orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    assert got.exceptAll(naive).isEmpty() and naive.exceptAll(got).isEmpty()
    assert got.count() == 2_000


def test_prefix_sum_single_row_and_empty(spark):
    one = spark.range(5, 6).select("id", F.lit(3).alias("v"))
    [r] = prefix_sum_ordered(one, [F.asc("id")], "v").collect()
    assert r.cum == 3
    empty = spark.range(0).select("id", F.lit(1).alias("v"))
    assert prefix_sum_ordered(empty, [F.asc("id")], "v").count() == 0


def test_kmv_estimate_within_tolerance(spark):
    """KMV with k=64 over ~5k distinct ids: relative error should land
    well inside the ~4/sqrt(k) (~50%) coarse bound — typically a few %."""
    from etl_docker_spark.plans.d import _KMV_K, _KMV_RANGE

    n = 5_000
    h = spark.range(0, n).select(
        F.conv(F.substring(F.md5(F.col("id").cast("string")
                                 .cast("binary")), 1, 8), 16, 10)
        .cast("long").alias("h"))
    kth = (h.orderBy("h").limit(_KMV_K)
           .agg(F.max("h").alias("hk")).collect()[0].hk)
    est = (_KMV_K - 1) * _KMV_RANGE / kth
    assert abs(est - n) / n < 0.5
