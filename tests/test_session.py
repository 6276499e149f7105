"""The engine's session plans shuffled joins as sort-merge joins, which spill."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_shuffled_join_is_sort_merge_not_shuffled_hash(spark):
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")  # force a shuffled join
    try:
        big = spark.range(5000).select((F.col("id") % 1000).alias("k"), "id")
        small = spark.range(1000).withColumnRenamed("id", "k")
        joined = big.join(small, "k")
        assert len(joined.collect()) == 5000
        plan = joined._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, prev)
    assert "isFinalPlan=true" in plan, plan
    assert "SortMergeJoin" in plan, plan
    assert "ShuffledHashJoin" not in plan, plan
