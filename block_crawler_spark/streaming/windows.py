"""Structured Streaming operators (ST1 and beyond): a stream-stream
interval join and a foreachBatch tail.

* ``stream_interval_join`` — a watermarked two-stream interval join.  The
  reference's streaming loop has no two-stream operators; this is a
  beyond-parity extension whose state the watermarks bound.
* ``stream_tail`` — Structured Streaming over a bronze logs directory with
  ``foreachBatch`` applying the batch crawl DAG + version-guarded merges
  per micro-batch.  Spark's checkpoint gives at-least-once delivery; the
  merges' idempotence upgrades it to effectively-once (ST3-ST5), exactly
  the batch TailRunner's contract but driven by the streaming engine and
  resumable from its checkpoint.  No CLI command runs it yet: the CLI's
  one tail driver is ``streaming.tail.TailRunner`` (ROADMAP direction 8
  keeps one of the two).

Windowed aggregates, session windows, streaming dedup and stateful
consumers are Structured Streaming's own declarative operators
(``window``, ``session_window``, ``dropDuplicatesWithinWatermark``,
``applyInPandasWithState``); the engine adds no wrapper over them.

Late data: the watermark only bounds streaming *state*; the entity sinks
never drop late events — a late transfer is applied iff its version wins
(ST4), which is why the tail path needs no watermark at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import LOG_SCHEMA
from .store import SilverStore
from .tail import commit_batch


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
        dv, last = store.get_config(blockchain)
        top = batch_df.agg(F.max("block_number")).collect()[0][0]
        # a late file never moves the pointer back
        commit_batch(store, batch_df, blocks_df, blockchain, dv, max(top, last) if last is not None else top)

    writer = (
        logs_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
