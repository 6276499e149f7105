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
from block_crawler_spark.sources.chainfix import ZERO, FixtureBuilder, addr, standard_scenario
from block_crawler_spark.streaming.stats import StatsService, codegen_compiles
from block_crawler_spark.streaming.store import SilverStore
from block_crawler_spark.streaming.tail import TableChainSource, TailRunner, seed


def _bronze(spark, fb):
    logs = spark.createDataFrame(fb.rows, LOG_SCHEMA).cache()
    blocks = spark.createDataFrame(
        fb.blocks(),
        "number long, hash string, parent_hash string, miner string, timestamp long, "
        "gas_limit long, gas_used long, size long, difficulty long, transaction_hashes array<string>",
    ).cache()
    return logs, blocks


@pytest.fixture()
def chain(spark):
    fb = standard_scenario()
    return (fb, *_bronze(spark, fb))


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


@pytest.mark.slow
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


@pytest.mark.slow
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


def test_replayed_tail_batch_compiles_no_classes(spark, chain, tmp_path):
    """A steady-state batch reuses its generated code: replaying a batch
    whose plans already ran compiles no class, and the runner's
    ``codegen_compiles`` counter agrees."""
    fb, logs, blocks = chain
    stats = StatsService()
    store = SilverStore(spark, str(tmp_path / "silver"))
    runner = TailRunner(store, TableChainSource(logs, blocks), blockchain="testnet", trail_blocks=0, stats=stats)
    assert runner.run_once() is not None
    # the first replay plans against a populated store; the second repeats it
    for _ in range(2):
        seed(store, "testnet", -1)
        before, counted = codegen_compiles(spark), stats.get_count("codegen_compiles")
        assert runner.run_once() is not None
    assert codegen_compiles(spark) - before == 0
    assert stats.get_count("codegen_compiles") == counted


def _round_trips(spark, fn):
    """py4j round trips (commands sent to the JVM) while ``fn`` runs."""
    client = spark.sparkContext._gateway._gateway_client
    send, sent = client.send_command, []

    def counting(*args, **kwargs):
        sent.append(1)
        return send(*args, **kwargs)

    client.send_command = counting
    try:
        out = fn()
    finally:
        del client.send_command  # back to the class's method
    return len(sent), out


def test_steady_tail_batch_reuses_code_and_plans_cheaply(spark, chain, tmp_path):
    """A batch is planned from expressions built once per process and its
    decode stages read the cached decodable logs, so a steady batch on a
    new block range compiles few classes, while the range still reaches
    the bronze scan's pushed filters; planning a batch takes few py4j
    round trips (~3.8k when every decode expression was rebuilt).  The
    first batch fills an empty store, whose pruned reads plan differently,
    so the steady pair is the second and third batch."""
    fb, logs, blocks = chain
    logs.write.parquet(str(tmp_path / "logs"))
    logs = spark.read.parquet(str(tmp_path / "logs"))
    store = SilverStore(spark, str(tmp_path / "silver"))
    stats = StatsService()
    runner = TailRunner(store, TableChainSource(logs, blocks), blockchain="testnet", trail_blocks=0, stats=stats)
    nums = sorted(r["number"] for r in blocks.select("number").distinct().collect())
    cuts = (nums[len(nums) // 3], nums[2 * len(nums) // 3], nums[-1])
    for cut in cuts:
        runner.source = TableChainSource(logs, blocks.filter(F.col("number") <= cut))
        counted = stats.get_count("codegen_compiles")
        assert runner.run_once() is not None
    assert stats.get_count("codegen_compiles") - counted <= 8

    def plan(lo, hi):
        return crawl_plan(
            spark, TableChainSource(logs, blocks).logs(lo, hi), blocks, blockchain="testnet", data_version=1
        )

    plan(cuts[0] + 1, cuts[1]).release()  # every fixed expression is built by now
    n, silver = _round_trips(spark, lambda: plan(cuts[1] + 1, cuts[2]))
    try:
        assert n <= 1000, n
        scan = silver.transfers._jdf.queryExecution().executedPlan().toString()
        pushed = scan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
        assert f"GreaterThanOrEqual(block_number,{cuts[1] + 1})" in pushed, pushed
        assert f"LessThanOrEqual(block_number,{cuts[2]})" in pushed, pushed
    finally:
        silver.release()


def test_uri_only_batch_keeps_metadata_url_equal_to_bulk(spark, tmp_path):
    """A URI event in a batch that does not transfer its token still sets
    the token's ``metadata_url``, as the bulk crawl does."""
    c1155 = addr(0xBB02)
    fb = FixtureBuilder()
    fb.erc1155_single(c1155, addr(0xEE), ZERO, addr(1), 7, 1)
    mint_block = fb.block
    fb.block, fb.tx, fb.log = mint_block + 10, 0, 0
    fb.erc1155_uri(c1155, 7, "ipfs://meta/{id}")
    logs, blocks = _bronze(spark, fb)

    store = SilverStore(spark, str(tmp_path / "silver"))
    first = TableChainSource(logs, blocks.filter(F.col("number") <= mint_block))
    runner = TailRunner(store, first, blockchain="testnet", trail_blocks=0)
    assert runner.run_once() == (0, mint_block)
    runner.source = TableChainSource(logs, blocks)
    assert runner.run_once() == (mint_block + 1, mint_block + 10)

    def urls(df):
        return {(r["collection_id"], r["token_id_hex"]): r["metadata_url"] for r in df.collect()}

    bulk = crawl_plan(spark, logs, blocks, blockchain="testnet", data_version=1)
    assert list(urls(bulk.tokens).values()) == ["ipfs://meta/7"]
    assert urls(store.read("tokens")) == urls(bulk.tokens)
