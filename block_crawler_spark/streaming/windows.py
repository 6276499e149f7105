"""Structured Streaming operators (ST1/ST7): watermarked windows + foreachBatch tail.

Two genuinely streaming surfaces on top of the batch engine:

* ``windowed_event_counts`` — tumbling event-time windows with a watermark
  over a streaming events source.  The reference has no window operators
  (SURVEY ST7) — this is a beyond-parity extension; the aggregation body is
  the same expression set as the batch ``evt_window_hourly`` query, so batch
  and streaming results agree (tested with ``availableNow`` over file
  chunks).
* ``stream_tail`` — Structured Streaming over a bronze logs directory with
  ``foreachBatch`` applying the batch crawl DAG + version-guarded merges
  per micro-batch.  Spark's checkpoint gives at-least-once delivery; the
  merges' idempotence upgrades it to effectively-once (ST3-ST5), exactly
  the batch TailRunner's contract but driven by the streaming engine and
  resumable from its checkpoint.

Late data: the watermark only bounds streaming *state*; the entity sinks
never drop late events — a late transfer is applied iff its version wins
(ST4), which is why the tail path needs no watermark at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.crawl import crawl_plan
from ..schemas import LOG_SCHEMA
from .store import SilverStore


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling window per event_type: count, decimal value sum, user count.

    Works on both batch and streaming DataFrames (the streaming one must
    carry an event-time ``ts`` column); with a stream, the watermark bounds
    state for late rows.
    """
    src = events
    if src.isStreaming:
        src = src.withWatermark("ts", watermark)
    return src.groupBy(F.window("ts", window).alias("win"), F.col("event_type")).agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("decimal(38,2)").alias("total_value"),
        F.approx_count_distinct("user_id").alias("approx_users"),
    )


def session_event_stats(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Native session windows per user: Spark's ``session_window`` merges
    events whose gaps are under ``gap`` into one growing window — the
    built-in form of the batch ``evt_sessionize`` plan (which computes the
    same sessions relationally for the DuckDB oracle).  Streaming input
    gets watermark-bounded state: a session closes (and its state frees)
    once the watermark passes its end.
    """
    src = events
    if src.isStreaming:
        src = src.withWatermark("ts", watermark)
    return src.groupBy(F.session_window("ts", gap).alias("session"), F.col("user_id")).agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("decimal(38,2)").alias("total_value"),
    )


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    interval: str = "1 hour",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Watermarked STREAM-STREAM interval join (beyond-parity ST surface —
    the reference's streaming loop has no two-stream operators at all):
    each LEFT event is joined to the same user's RIGHT events from the
    preceding ``interval`` — the attribution shape (purchase ⋈ recent
    clicks).  Both sides carry watermarks and the join predicate bounds
    ``r_ts`` to [l_ts − interval, l_ts], which is exactly what Spark needs
    to BOUND the join state: either side's buffered rows are dropped once
    the other side's watermark passes their interval, so state is
    O(rate × (interval + watermark)) — never unbounded — and results emit
    in append mode.

    ``how="left_outer"`` keeps unmatched LEFT events: on a stream they
    emit (with null right columns) only once the watermark passes their
    join window — Spark must be sure no matching right row can still
    arrive — so outer results are delayed by up to interval + watermark,
    the documented stream-stream outer trade (demonstrated across a
    checkpoint restart in tests/test_streaming.py).

    Works on batch frames too (watermarks skipped; same join predicate),
    which is how the streaming result is equality-tested against the
    batch self-join.
    """
    l = left.select(
        "user_id",
        F.col("ts").alias("l_ts"),
        F.col("event_type").alias("l_type"),
        F.col("event_id").alias("l_id"),
    )
    r = right.select(
        F.col("user_id").alias("r_user"),
        F.col("ts").alias("r_ts"),
        F.col("event_type").alias("r_type"),
        F.col("event_id").alias("r_id"),
    )
    if l.isStreaming:
        l = l.withWatermark("l_ts", watermark)
    if r.isStreaming:
        r = r.withWatermark("r_ts", watermark)
    cond = (
        (F.col("user_id") == F.col("r_user"))
        & (F.col("r_ts") >= F.expr(f"l_ts - interval {interval}"))
        & (F.col("r_ts") <= F.col("l_ts"))
        & (F.col("l_id") != F.col("r_id"))
    )
    return l.join(r, cond, how).select(
        "user_id", "l_id", "l_ts", "l_type", "r_id", "r_ts", "r_type"
    )


def read_events_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """File-based streaming source over events parquet chunks (µs ts)."""
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    return spark.readStream.schema(schema).parquet(source_dir)


def stream_tail(
    spark: SparkSession,
    logs_source: "str | DataFrame",
    blocks_df: DataFrame,
    store: SilverStore,
    checkpoint_dir: str,
    blockchain: str = "ethereum-mainnet",
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Streaming tail: readStream(bronze logs) → foreachBatch(crawl DAG → merges).

    ``logs_source`` is either a bronze-logs parquet directory (file source)
    or an already-built STREAMING DataFrame with LOG_SCHEMA columns — e.g.
    ``spark.readStream.format("evm_logs_stream")`` (the custom chain
    DataSource, ``sources/datasource.py``), whose block-height offsets make
    the checkpoint a chain position instead of a file inventory.

    Each micro-batch runs the identical batch plan over its slice; Spark's
    checkpoint tracks which offsets were consumed (ST3), retries re-run the
    batch (ST5), and every sink is idempotent — keyed transfer append,
    tokens AND owners rebuilt from committed transfers — so duplicates and
    re-runs are absorbed (ST4).
    """
    if isinstance(logs_source, str):
        reader = spark.readStream.schema(LOG_SCHEMA)
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        logs_stream = reader.parquet(logs_source)
    else:
        if not logs_source.isStreaming:
            raise ValueError("logs_source DataFrame must be a streaming DataFrame")
        logs_stream = logs_source

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        dv, _last = store.get_config(blockchain)
        silver = crawl_plan(store.spark, batch_df, blocks_df, blockchain=blockchain, data_version=dv)
        try:
            # the retry-safe sink sequence lives in ONE place — see its docstring
            store.apply_silver(silver, dv, blockchains=[blockchain])
        finally:
            silver.release()
        top = batch_df.agg(F.max("block_number")).collect()[0][0]
        _, last = store.get_config(blockchain)
        store.set_config(blockchain, dv, max(top, last) if last is not None else top)

    writer = (
        logs_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_dedup(
    events: DataFrame,
    keys: list[str],
    event_time_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming deduplication with bounded state.

    ``dropDuplicatesWithinWatermark`` keeps each key's state only until the
    watermark passes — the streaming form of the engine's idempotent-append
    sink (K6): duplicate deliveries inside the watermark horizon are dropped
    exactly once, state never grows unboundedly.  For the chain-tail path
    the natural key is ``attribute_version_hex`` (+ batch_index); for event
    streams, the event id.
    """
    return events.withWatermark(event_time_col, watermark).dropDuplicatesWithinWatermark(keys)
