"""End-to-end crawl plan + verify reconciliation tests."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from block_crawler_spark.operators.verify import (
    reconcile_balances,
    reconcile_tokens,
    reconcile_transfers,
)
from block_crawler_spark.plans.crawl import crawl_plan, total_supply_check
from block_crawler_spark.schemas import (
    CONTRACT_SCHEMA,
    LOG_SCHEMA,
    RECEIPT_SCHEMA,
)
from block_crawler_spark.sources.chainfix import addr, standard_scenario
from block_crawler_spark.streaming.store import SilverStore
from block_crawler_spark.streaming.tail import commit_batch


@pytest.fixture(scope="module")
def chain(spark):
    fb = standard_scenario()
    logs = spark.createDataFrame(fb.rows, LOG_SCHEMA)
    blocks = spark.createDataFrame(fb.blocks(), "number long, hash string, parent_hash string, miner string, timestamp long, gas_limit long, gas_used long, size long, difficulty long, transaction_hashes array<string>")
    c721, c1155 = addr(0xAA01), addr(0xBB02)
    receipts = spark.createDataFrame(
        [
            ("0x01", 99, 0, addr(0xC0), None, c721, 21000, 21000, 1),
            ("0x02", 99, 1, addr(0xC1), None, c1155, 21000, 42000, 1),
            ("0x03", 99, 2, addr(0xC2), None, addr(0xDD), 21000, 63000, 1),  # not a collection
            ("0x04", 99, 3, addr(0xC3), addr(0xEE), None, 21000, 84000, 1),  # normal tx
        ],
        RECEIPT_SCHEMA,
    )
    contracts = spark.createDataFrame(
        [
            (c721, True, False, "Kitty Cats", "KC", "0x" + "0" * 62 + "0d", addr(0xC0)),
            (c1155, False, True, "MultiThing", "MT", None, addr(0xC1)),
            (addr(0xDD), False, False, None, None, None, None),
        ],
        CONTRACT_SCHEMA,
    )
    return fb, logs, blocks, receipts, contracts


@pytest.fixture(scope="module")
def silver(spark, chain):
    fb, logs, blocks, receipts, contracts = chain
    return crawl_plan(
        spark, logs, blocks, receipts=receipts, transactions=None, contracts=contracts,
        blockchain="testnet", data_version=7,
    )


def test_collections(spark, silver):
    cols = {r["collection_id"]: r for r in silver.collections.collect()}
    assert set(cols) == {addr(0xAA01), addr(0xBB02)}
    c = cols[addr(0xAA01)]
    assert c["specification"] == "ERC-721"
    assert c["name_lower"] == "kitty cats"
    assert c["creator"] == addr(0xC0)
    assert c["data_version"] == 7
    # block 99 is not in the fixture blocks table → no timestamp
    assert cols[addr(0xBB02)]["specification"] == "ERC-1155"


def test_transfers_have_timestamps(spark, silver):
    t = silver.token_transfers
    assert t.filter(F.col("timestamp").isNull()).count() == 0
    assert t.filter(F.col("data_version") != 7).count() == 0
    # idempotent key is unique
    n = t.count()
    assert t.select("collection_id", "attribute_version_hex", "token_id_hex", "batch_index").distinct().count() == n


def test_tokens_and_owners_consistent(spark, silver):
    tokens = silver.tokens
    owners = silver.owners
    # every ERC-721 owner row's token exists in the token table
    j = owners.join(
        tokens.select("collection_id", "token_id_hex").withColumn("x", F.lit(1)),
        ["collection_id", "token_id_hex"],
        "left",
    )
    assert j.filter(F.col("x").isNull()).count() == 0
    # supply check runs and reports per-collection counts
    report = total_supply_check(silver.collections, tokens).collect()
    assert len(report) == 2


@pytest.mark.slow
def test_verify_clean_roundtrip(spark, chain, silver):
    """Silver built from the logs reconciles cleanly against those logs."""
    fb, logs, *_ = chain
    assert reconcile_transfers(logs, silver.token_transfers).count() == 0
    assert (
        reconcile_tokens(
            logs, silver.tokens.filter(F.col("collection_id").isin(addr(0xAA01), addr(0xBB02)))
        ).count()
        == 0
    )
    # full owners table (both specs) reconciles against the A5 recompute
    assert reconcile_balances(logs, silver.owners).count() == 0


def test_verify_is_clean_over_duplicated_bronze(spark, chain, tmp_path):
    """A bronze in which every log appears twice loads the same transfers as
    clean bronze, and verify, which recomputes with the store's folds over
    transfers deduplicated as the store commits them, reports no error."""
    fb, logs, blocks, *_ = chain
    top = max(r["block_number"] for r in fb.rows)
    doubled = logs.unionAll(logs)
    stored = {}
    for name, bronze in (("clean", logs), ("doubled", doubled)):
        store = SilverStore(spark, str(tmp_path / name))
        commit_batch(store, bronze, blocks, "testnet", 1, top)
        stored[name] = Counter(map(tuple, store.read("token_transfers").collect()))
    assert stored["doubled"] == stored["clean"] and stored["clean"]
    assert reconcile_transfers(doubled, store.read("token_transfers")).count() == 0
    assert reconcile_tokens(doubled, store.read("tokens")).count() == 0
    assert reconcile_balances(doubled, store.read("owners")).count() == 0


def test_verify_detects_corruption(spark, chain, silver):
    fb, logs, *_ = chain
    # corrupt one stored transfer's recipient → field_mismatch
    t = silver.token_transfers
    first_key = t.orderBy("attribute_version_hex").first()
    corrupted = t.withColumn(
        "to_",
        F.when(F.col("attribute_version_hex") == first_key["attribute_version_hex"], F.lit(addr(0xBAD))).otherwise(
            F.col("to_")
        ),
    )
    errs = reconcile_transfers(logs, corrupted).collect()
    assert any(e["error"] == "field_mismatch" for e in errs)

    # drop a row → missing_in_db
    dropped = t.filter(F.col("attribute_version_hex") != first_key["attribute_version_hex"])
    errs2 = reconcile_transfers(logs, dropped).collect()
    assert any(e["error"] == "missing_in_db" for e in errs2)

    # add a phantom row → not_in_logs
    phantom = t.limit(1).withColumn("block_id", F.lit(999_999))
    errs3 = reconcile_transfers(logs, t.unionByName(phantom)).collect()
    assert any(e["error"] == "not_in_logs" for e in errs3)


def test_verify_chain_continuity(spark):
    """Linked chain → clean; a gap and a reorged parent hash are flagged."""
    from block_crawler_spark.operators.verify import verify_chain_continuity

    def blk(n, h, p):
        return (n, h, p)

    good = spark.createDataFrame(
        [blk(1, "0xa1", "0xa0"), blk(2, "0xa2", "0xa1"), blk(3, "0xa3", "0xa2")],
        "number long, hash string, parent_hash string",
    )
    assert verify_chain_continuity(good).count() == 0

    bad = spark.createDataFrame(
        [
            blk(1, "0xa1", "0xa0"),
            blk(2, "0xa2", "0xa1"),
            blk(4, "0xa4", "0xa3"),  # height gap (3 missing)
            blk(5, "0xa5", "0xdead"),  # parent hash not a4 → reorg signature
        ],
        "number long, hash string, parent_hash string",
    )
    errs = {r["number"]: r["error"] for r in verify_chain_continuity(bad).collect()}
    assert errs == {4: "height_gap", 5: "parent_mismatch"}

    # two blocks at the SAME height (unhandled-reorg signature) must get its
    # own label, not be lumped in as height_gap
    dup = spark.createDataFrame(
        [
            blk(1, "0xa1", "0xa0"),
            blk(2, "0xa2", "0xa1"),
            blk(2, "0xb2", "0xa1"),  # reorg sibling at height 2
            blk(3, "0xa3", "0xb2"),
        ],
        "number long, hash string, parent_hash string",
    )
    dup_errs = [(r["number"], r["error"]) for r in verify_chain_continuity(dup).collect()]
    assert (2, "duplicate_height") in dup_errs
    assert not any(e == "height_gap" for _, e in dup_errs)

def test_verify_chain_continuity_range_bounded_composes(spark):
    """Per-range checks with ONE overlapping block compose to the unbounded
    answer (min_block/max_block apply the filter BEFORE the global window,
    so an audit over recent history never serializes the whole bronze)."""
    from block_crawler_spark.operators.verify import verify_chain_continuity

    rows, h = [], "0x00"
    for n in range(0, 20):
        if n == 7:
            continue  # height gap at 7
        parent = h if n != 13 else "0xdead"  # parent mismatch at 13
        nh = f"0x{n:02x}"
        rows.append((n, nh, parent))
        h = nh
    rows.append((17, "0xb17", rows[-4][1]))  # duplicate height at 17
    blocks = spark.createDataFrame(rows, "number long, hash string, parent_hash string")

    unbounded = {(r["number"], r["error"]) for r in verify_chain_continuity(blocks).collect()}
    composed = set()
    for lo, hi in ((0, 10), (10, 20)):  # block 10 overlaps both ranges
        composed |= {
            (r["number"], r["error"])
            for r in verify_chain_continuity(blocks, min_block=lo, max_block=hi).collect()
        }
    assert composed == unbounded and unbounded, (composed, unbounded)
    # and the bound really prunes: a range past the defects comes back clean
    assert verify_chain_continuity(blocks, min_block=14, max_block=16).count() == 0

    # a gap exactly AT a shared boundary: blocks 0..20 except 10 — the left
    # range ends before it and the right range's first row has no lag
    # predecessor, so without the min_block-presence assertion both ranges
    # would miss it (round-7 review finding)
    rows2 = [(n, f"0x{n:02x}", f"0x{n - 1:02x}") for n in range(0, 21) if n != 10]
    blocks2 = spark.createDataFrame(rows2, "number long, hash string, parent_hash string")
    unbounded2 = {(r["number"], r["error"]) for r in verify_chain_continuity(blocks2).collect()}
    composed2 = set()
    for lo, hi in ((0, 10), (10, 20)):
        composed2 |= {
            (r["number"], r["error"])
            for r in verify_chain_continuity(blocks2, min_block=lo, max_block=hi).collect()
        }
    assert unbounded2 == {(11, "height_gap")}
    assert composed2 == unbounded2, (composed2, unbounded2)


def test_verify_chain_continuity_wholly_empty_range_is_flagged(spark):
    """A range whose EVERY block is missing must not pass the audit: with
    min_block set and zero rows surviving the filter, a synthetic
    (min_block, height_gap) violation is emitted (round-8 advice — the
    first_gapped guard only fires when at least one block survives)."""
    from block_crawler_spark.operators.verify import verify_chain_continuity

    rows = [(n, f"0x{n:02x}", f"0x{n - 1:02x}") for n in range(0, 5)]
    blocks = spark.createDataFrame(rows, "number long, hash string, parent_hash string")
    got = [(r["number"], r["error"]) for r in verify_chain_continuity(
        blocks, min_block=10, max_block=20
    ).collect()]
    assert got == [(10, "height_gap")], got
    # a populated range stays unaffected by the synthetic-row machinery
    assert verify_chain_continuity(blocks, min_block=0, max_block=4).count() == 0
    # and an unbounded call over empty bronze still reports nothing (no
    # min_block → no range assertion to make)
    empty = spark.createDataFrame([], "number long, hash string, parent_hash string")
    assert verify_chain_continuity(empty).count() == 0
