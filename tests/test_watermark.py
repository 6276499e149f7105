"""Watermark semantics in append mode: late rows beyond the watermark are
dropped from already-finalized windows (the streaming-state story ST7),
in contrast to the entity sinks where late events are version-merged (ST4).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from test_streaming import EVENTS, windowed_event_counts


def _mk(spark, rows):
    return spark.createDataFrame([(i, t, u, e, v, "{}") for i, (t, u, e, v) in enumerate(rows)], EVENTS)


def test_late_data_dropped_in_append_mode(spark, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    base = dt.datetime(2024, 1, 1, 0, 0, 0)

    def run():
        q = (
            windowed_event_counts(spark.readStream.schema(EVENTS).parquet(src), window="1 hour", watermark="2 hours")
            .select(F.col("win.start").alias("wstart"), "event_type", "n", "total_value")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # batch 1: two events in hour 0, stream head at hour 6 → watermark ≈ 4:00,
    # hour-0 window finalizes and is appended
    _mk(spark, [
        (base + dt.timedelta(minutes=10), 1, "click", 1.0),
        (base + dt.timedelta(minutes=20), 2, "click", 2.0),
        (base + dt.timedelta(hours=6), 3, "click", 4.0),
    ]).write.mode("append").parquet(src)
    run()

    first = {(r["wstart"], r["event_type"]): r["n"] for r in spark.read.parquet(out).collect()}
    assert first.get((base, "click")) == 2  # hour-0 window finalized with 2 events

    # batch 2: a LATE event in hour 0 (far behind the watermark) plus head
    # movement — the late row must be dropped, hour-0 stays at n=2
    _mk(spark, [
        (base + dt.timedelta(minutes=30), 9, "click", 100.0),  # late
        (base + dt.timedelta(hours=9), 4, "click", 8.0),
    ]).write.mode("append").parquet(src)
    run()

    rows = spark.read.parquet(out).collect()
    hour0 = [r for r in rows if r["wstart"] == base and r["event_type"] == "click"]
    assert len(hour0) == 1 and hour0[0]["n"] == 2  # late row did not resurrect the window


def test_stream_dedup_within_watermark(spark, tmp_path):
    """``dropDuplicatesWithinWatermark`` keeps each key's state only until
    the watermark passes — the streaming form of the engine's idempotent
    append sink (K6): a redelivered micro-batch is dropped exactly once."""
    src = str(tmp_path / "dsrc")
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (base + dt.timedelta(minutes=m), u, "click", 1.0) for m, u in [(1, 1), (2, 2), (3, 3)]
    ]
    df = _mk(spark, rows)
    # duplicate every row (same event_ids) — a redelivered micro-batch
    df.unionByName(df).write.mode("append").parquet(src)

    q = (
        spark.readStream.schema(EVENTS)
        .parquet(src)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select event_id, count(*) c from dedup_out group by 1").collect()
    assert len(got) == 3 and all(r["c"] == 1 for r in got)
