"""Bucketed silver tables: co-located joins with zero shuffle.

At 100 TB the tokens/owners/transfers tables are repeatedly joined on the
token key; bucketing both sides by (collection_id, token_id_hex) removes
the shuffle from every such join.  This test materializes bucketed tables
and asserts the physical plan contains NO shuffle exchange on the join.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from block_crawler_spark.operators.decode import decode_token_transfers
from block_crawler_spark.operators.folds import fold_token_state
from block_crawler_spark.schemas import LOG_SCHEMA
from block_crawler_spark.sources.chainfix import standard_scenario


@pytest.mark.slow
def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    # default warehouse dir (static conf) — tables are dropped in finally
    prev_threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force non-broadcast
    spark.sql("DROP TABLE IF EXISTS b_transfers")
    spark.sql("DROP TABLE IF EXISTS b_tokens")
    try:
        fb = standard_scenario()
        logs = spark.createDataFrame(fb.rows, LOG_SCHEMA)
        transfers = decode_token_transfers(logs).withColumn("blockchain", F.lit("t"))
        tokens = fold_token_state(transfers)

        (transfers.write.mode("overwrite")
            .bucketBy(4, "collection_id", "token_id_hex")
            .sortBy("collection_id", "token_id_hex")
            .saveAsTable("b_transfers"))
        (tokens.write.mode("overwrite")
            .bucketBy(4, "collection_id", "token_id_hex")
            .sortBy("collection_id", "token_id_hex")
            .saveAsTable("b_tokens"))

        j = spark.table("b_transfers").join(
            spark.table("b_tokens").select("collection_id", "token_id_hex", "quantity"),
            ["collection_id", "token_id_hex"],
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan[:2000]
        # and the join still returns every transfer row
        assert j.count() == spark.table("b_transfers").count()
    finally:
        spark.sql("DROP TABLE IF EXISTS b_transfers")
        spark.sql("DROP TABLE IF EXISTS b_tokens")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_threshold)
