"""Incremental tail == bulk crawl — the engine's core streaming invariant.

The reference's design contract (ST4, CHANGES.md v1.1.0): version-guarded,
additive sinks make ingestion insensitive to batching and order.  Here:
running the tail in N micro-batches over the fixture chain must produce the
same owner balances and token state as one bulk crawl over everything.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from block_crawler_spark.plans.crawl import crawl_plan
from block_crawler_spark.schemas import LOG_SCHEMA
from block_crawler_spark.sources.chainfix import standard_scenario
from block_crawler_spark.streaming.store import SilverStore
from block_crawler_spark.streaming.tail import TableChainSource, TailRunner, seed


@pytest.fixture()
def chain(spark):
    fb = standard_scenario()
    logs = spark.createDataFrame(fb.rows, LOG_SCHEMA).cache()
    blocks = spark.createDataFrame(
        fb.blocks(),
        "number long, hash string, parent_hash string, miner string, timestamp long, "
        "gas_limit long, gas_used long, size long, difficulty long, transaction_hashes array<string>",
    ).cache()
    return fb, logs, blocks


def _owners_set(df):
    return {
        (r["account"], r["collection_id"], r["token_id_hex"]): r["quantity"]
        for r in df.collect()
    }


def _tokens_map(df):
    return {
        (r["collection_id"], r["token_id_hex"]): (
            r["quantity"], r["original_owner"], r["mint_block"], r["current_owner"],
        )
        for r in df.collect()
    }


def test_tail_equals_bulk(spark, chain, tmp_path):
    fb, logs, blocks = chain
    store = SilverStore(spark, str(tmp_path / "silver"))
    src = TableChainSource(logs, blocks)

    # trail_blocks=0 so the fixture's top block is included
    runner = TailRunner(store, src, blockchain="testnet", trail_blocks=0)

    # force several micro-batches by capping the visible chain height
    nums = sorted(r["number"] for r in blocks.select("number").distinct().collect())
    height = nums[-1]
    cut1, cut2 = nums[len(nums) // 3], nums[2 * len(nums) // 3]
    full_blocks = blocks

    runner.source = TableChainSource(logs, full_blocks.filter(F.col("number") <= cut1))
    assert runner.run_once() is not None
    runner.source = TableChainSource(logs, full_blocks.filter(F.col("number") <= cut2))
    assert runner.run_once() is not None
    runner.source = TableChainSource(logs, full_blocks)
    assert runner.run_once() is not None
    # caught up → no-op batch
    assert runner.run_once() is None

    bulk = crawl_plan(spark, logs, blocks, blockchain="testnet", data_version=1)

    # owners: additive tail deltas == snapshot fold (incl. zero-drop)
    tail_owners = _owners_set(store.read("owners"))
    bulk_owners = _owners_set(bulk.owners)
    assert tail_owners == bulk_owners

    # tokens: per-field merge across batches == one-shot fold
    tail_tokens = _tokens_map(store.read("tokens"))
    bulk_tokens = _tokens_map(bulk.tokens)
    assert tail_tokens == bulk_tokens

    # transfers: idempotent append accumulated everything exactly once
    assert store.read("token_transfers").count() == bulk.token_transfers.count()

    # config advanced to the final height
    dv, last = store.get_config("testnet")
    assert last == height


def test_tail_batches_release_their_cache(spark, chain, tmp_path):
    """Each batch unpersists the transfers crawl_plan cached, so a long tail
    keeps the context's persistent RDDs at their pre-tail count."""
    fb, logs, blocks = chain
    logs.count(), blocks.count()  # materialise the fixture's own caches first
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = persistent().size()

    store = SilverStore(spark, str(tmp_path / "silver"))
    runner = TailRunner(store, TableChainSource(logs, blocks), blockchain="testnet", trail_blocks=0)
    nums = sorted(r["number"] for r in blocks.select("number").distinct().collect())
    for cut in (nums[len(nums) // 3], nums[2 * len(nums) // 3], nums[-1]):
        runner.source = TableChainSource(logs, blocks.filter(F.col("number") <= cut))
        assert runner.run_once() is not None
    assert persistent().size() == before


def test_tail_batch_retry_is_idempotent(spark, chain, tmp_path):
    """Replaying the same batch (at-least-once delivery) changes NOTHING —
    ST5's micro-batch retry contract.  Round-2 (ADVICE r1): owners are
    rebuilt from the idempotent transfers table, so a retried batch at the
    SAME data_version rewrites identical balances instead of double-adding
    deltas."""
    fb, logs, blocks = chain
    store = SilverStore(spark, str(tmp_path / "silver"))
    src = TableChainSource(logs, blocks)
    runner = TailRunner(store, src, blockchain="testnet", trail_blocks=0)
    assert runner.run_once() is not None

    before = _owners_set(store.read("owners"))
    # simulate retry: rewind the checkpoint and reprocess the same range
    seed(store, "testnet", -1)
    assert runner.run_once() is not None
    after = _owners_set(store.read("owners"))
    assert after == before  # the double-count ADVICE r1 flagged is gone

    # a data_version bump (run epoch) must also converge to the bulk state
    store2 = SilverStore(spark, str(tmp_path / "silver2"))
    runner2 = TailRunner(store2, src, blockchain="testnet", trail_blocks=0)
    runner2.run_once()
    store2.increment_data_version("testnet")
    seed(store2, "testnet", -1)
    runner2.run_once()
    bulk = crawl_plan(spark, logs, blocks, blockchain="testnet", data_version=2)
    assert _owners_set(store2.read("owners")) == {
        (r["account"], r["collection_id"], r["token_id_hex"]): r["quantity"] for r in bulk.owners.collect()
    }
