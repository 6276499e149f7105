"""Salted aggregate == unsalted results, on a pathologically skewed key."""

from __future__ import annotations

from pyspark.sql import functions as F

from block_crawler_spark.operators.skew import salted_aggregate


def _skewed(spark):
    # 10k rows, 95% on one hot key
    return spark.range(10_000).select(
        F.when(F.col("id") % 20 != 0, F.lit("HOT")).otherwise(F.concat(F.lit("k"), F.col("id") % 7)).alias("k"),
        F.col("id").alias("v"),
    )


def test_salted_aggregate_matches_plain(spark):
    df = _skewed(spark).withColumn("d", F.col("v").cast("decimal(18,2)"))
    plain = {
        r["k"]: (r["s"], r["mx"])
        for r in df.groupBy("k").agg(F.sum("d").alias("s"), F.max("v").alias("mx")).collect()
    }
    salted = {
        r["k"]: (r["sum_d"], r["max_v"])
        for r in salted_aggregate(df, ["k"], {"d": "sum", "v": "max"}, salt_factor=5).collect()
    }
    assert plain == salted

    counts_plain = {r["k"]: r["n"] for r in df.groupBy("k").agg(F.count("v").alias("n")).collect()}
    counts_salted = {
        r["k"]: r["count_v"]
        for r in salted_aggregate(df, ["k"], {"v": "count"}, salt_factor=5).collect()
    }
    assert counts_plain == counts_salted
