"""applyInPandasWithState: cross-batch per-key state == batch aggregation.

The reference's extension point is "implement a Consumer and register it on
the bus" (SURVEY §2.10); the Structured Streaming analog for a *stateful*
consumer is ``applyInPandasWithState``: per-key state that survives across
micro-batches.  Here a running (n_events, total_value_cents, last_event_id)
per user over the events stream, in integer cents so state never
accumulates float error."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout
from test_streaming import EVENTS

from block_crawler_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"
STATE = "n_events long, total_cents long, last_event_id long"


def test_running_stats_match_batch(spark, tmp_path):
    # defined here, not at module level: the Python workers cannot import
    # a test module, so the function must pickle by value
    def update_user(key, pdfs, state):
        (user_id,) = key
        n, total, last = state.get if state.exists else (0, 0, -1)
        for pdf in pdfs:
            n += len(pdf)
            total += int(round(pdf["value"].astype(float).mul(100).round()).sum())
            last = max(last, int(pdf["event_id"].max()))
        state.update((n, total, last))
        yield pd.DataFrame([{"user_id": user_id, "n_events": n, "total_cents": total, "last_event_id": last}])

    events = load_table(spark, SF, "events")
    src = str(tmp_path / "chunks")
    events.repartition(4).write.parquet(src)

    stream = spark.readStream.schema(EVENTS).parquet(src)
    running = (
        stream.select("user_id", "event_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update_user,
            outputStructType=f"user_id long, {STATE}",
            stateStructType=STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    q = (
        running.writeStream.format("memory")
        .queryName("user_stats")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    # update mode emits one row per key per batch that touched it — keep the
    # final state per user (highest last_event_id)
    final = (
        spark.sql("select * from user_stats")
        .groupBy("user_id")
        .agg(
            F.max_by("n_events", "last_event_id").alias("n_events"),
            F.max_by("total_cents", "last_event_id").alias("total_cents"),
        )
    )
    got = {r["user_id"]: (r["n_events"], r["total_cents"]) for r in final.collect()}

    exp_df = events.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum(F.expr("CAST(round(value * 100) AS BIGINT)")).alias("cents"),
    )
    exp = {r["user_id"]: (r["n"], r["cents"]) for r in exp_df.collect()}
    assert got == exp and len(got) > 5
