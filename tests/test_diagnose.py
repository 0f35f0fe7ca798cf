"""Skew reporting over controlled distributions."""

from pyspark.sql import functions as F

from relationalize_spark.plans.diagnose import skew_report


def test_skew_report_flags_hot_key(spark):
    # one key holds ~50% of rows
    df = spark.range(10_000).select(
        F.when(F.col("id") < 5_000, F.lit(7)).otherwise(F.col("id")).alias("k")
    )
    rep = skew_report(df, "k")
    assert rep.total_rows == 10_000
    assert rep.top_keys[0] == (7, 5_000)
    assert rep.top_share > 0.49
    assert "salt" in rep.recommendation


def test_skew_report_flat_keys(spark):
    df = spark.range(10_000).select((F.col("id") % 100).alias("k"))
    rep = skew_report(df, "k")
    assert rep.distinct_keys == 100
    assert abs(rep.p99_to_mean - 1.0) < 0.2
    assert "flat" in rep.recommendation


def test_skew_report_composite_key(spark):
    df = spark.range(1000).select(
        (F.col("id") % 10).alias("a"), (F.col("id") % 7).alias("b")
    )
    rep = skew_report(df, ["a", "b"], top_n=3)
    assert rep.distinct_keys == 70
    assert len(rep.top_keys[0]) == 3  # a, b, count
