"""Offline tests for the partitioned RPC source (fake transport)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from block_crawler_spark.operators.decode import decode_token_transfers
from block_crawler_spark.schemas import (
    INTERFACE_ID_ERC721,
    INTERFACE_ID_ERC1155,
    SELECTOR_NAME,
)
from block_crawler_spark.sources.chainfix import addr, enc_string, enc_uint, standard_scenario
from block_crawler_spark.sources.rpc import (
    FakeChainTransport,
    RpcError,
    TokenBucket,
    _get_logs_adaptive,
    _supports_interface_data,
    fetch_blocks,
    fetch_logs,
    fetch_receipts,
    fetch_transactions,
    get_height,
    probe_contracts,
)


def _rpc_log(r: dict) -> dict:
    return {
        "blockNumber": hex(r["block_number"]),
        "transactionIndex": hex(r["transaction_index"]),
        "logIndex": hex(r["log_index"]),
        "transactionHash": r["transaction_hash"],
        "address": r["address"],
        "topics": r["topics"],
        "data": r["data"],
        "removed": False,
    }


@pytest.fixture(scope="module")
def transport():
    fb = standard_scenario()
    blocks = {
        b["number"]: {
            "number": hex(b["number"]),
            "hash": b["hash"],
            "parentHash": b["parent_hash"],
            "miner": b["miner"],
            "timestamp": hex(b["timestamp"]),
            "gasLimit": hex(b["gas_limit"]),
            "gasUsed": hex(b["gas_used"]),
            "size": hex(b["size"]),
            "difficulty": hex(b["difficulty"]),
            "transactions": [],
        }
        for b in fb.blocks()
    }
    logs = [dict(_rpc_log(r), block_number=r["block_number"]) for r in fb.rows]
    receipts = {
        "0xabc": {
            "transactionHash": "0xabc",
            "blockNumber": "0x63",
            "transactionIndex": "0x0",
            "from": addr(0xC0),
            "to": None,
            "contractAddress": addr(0xAA01),
            "gasUsed": "0x5208",
            "cumulativeGasUsed": "0x5208",
            "status": "0x1",
        }
    }
    c721 = addr(0xAA01)
    calls = {
        (c721, _supports_interface_data(INTERFACE_ID_ERC721)): "0x" + enc_uint(1),
        (c721, _supports_interface_data(INTERFACE_ID_ERC1155)): "0x" + enc_uint(0),
        (c721, SELECTOR_NAME): enc_string("Kitty Cats"),
    }
    return FakeChainTransport(blocks=blocks, receipts=receipts, logs=logs, calls=calls), fb


def test_height(transport):
    t, fb = transport
    assert get_height(t) == max(b["number"] for b in fb.blocks())


def test_fetch_blocks(spark, transport):
    t, fb = transport
    lo = min(t.blocks)
    hi = max(t.blocks)
    got = fetch_blocks(spark, lo, hi, t, partitions=3).collect()
    assert len(got) == len(t.blocks)
    by_num = {r["number"]: r for r in got}
    assert by_num[lo]["timestamp"] == 1_600_000_000 + 13 * lo


def test_fetch_receipts(spark, transport):
    t, _ = transport
    df = spark.createDataFrame([("0xabc",), ("0xmissing",)], ["h"])
    got = fetch_receipts(df, t).collect()
    assert len(got) == 1
    assert got[0]["contract_address"] == addr(0xAA01)


def test_fetch_logs_end_to_end_decode(spark, transport):
    """Distributed log fetch feeds the standard decode pipeline unchanged."""
    t, fb = transport
    lo, hi = min(t.blocks), max(t.blocks)
    logs_df = fetch_logs(spark, lo, hi, t, chunk_size=4, partitions=4)
    n_logs = logs_df.count()
    assert n_logs == len(fb.rows)
    transfers = decode_token_transfers(logs_df).withColumn("blockchain", F.lit("x"))
    assert transfers.count() > 0


def test_topic_filter_pushdown(spark, transport):
    """Topic filter rides in the request — the fake only returns matches."""
    t, fb = transport
    lo, hi = min(t.blocks), max(t.blocks)
    topic0 = fb.rows[0]["topics"][0]
    got = fetch_logs(spark, lo, hi, t, topics=[topic0], chunk_size=1000).collect()
    assert len(got) == sum(1 for r in fb.rows if r["topics"][0] == topic0)
    assert all(r["topics"][0] == topic0 for r in got)


def test_adaptive_range_splitting(transport):
    """Provider range cap → ÷10 shrink → full coverage with more requests."""
    t, fb = transport
    capped = FakeChainTransport(blocks=t.blocks, logs=t.logs, max_log_range=2)
    lo, hi = min(t.blocks), max(t.blocks)
    got = list(_get_logs_adaptive(capped, lo, hi, None, None))
    assert len(got) == len(fb.rows)
    n_requests = sum(1 for m in capped.request_log if m == "eth_getLogs")
    assert n_requests > 1  # had to split

    # an uncapped transport does it in one request
    free = FakeChainTransport(blocks=t.blocks, logs=t.logs)
    got2 = list(_get_logs_adaptive(free, lo, hi, None, None))
    assert len(got2) == len(fb.rows)
    assert sum(1 for m in free.request_log if m == "eth_getLogs") == 1


def test_adaptive_non_range_error_propagates():
    t = FakeChainTransport()  # no logs method data → still fine; force error via unknown method

    class Boom:
        def call(self, method, *params):
            raise RpcError(-99, "boom")

    with pytest.raises(RpcError):
        list(_get_logs_adaptive(Boom(), 0, 10, None, None))


def test_probe_contracts(spark, transport):
    t, _ = transport
    df = spark.createDataFrame([(addr(0xAA01),), (addr(0xDEAD),)], ["address"])
    got = {r["address"]: r for r in probe_contracts(df, t).collect()}
    assert got[addr(0xAA01)]["supports_erc721"] is True
    assert got[addr(0xAA01)]["supports_erc1155"] is False
    assert got[addr(0xAA01)]["name"] == "Kitty Cats"
    # unknown contract: every call reverts → not a collection
    assert got[addr(0xDEAD)]["supports_erc721"] is False


def test_token_bucket_rate():
    import time

    b = TokenBucket(50)  # 50 req/s
    t0 = time.monotonic()
    for _ in range(60):
        b.acquire()
    elapsed = time.monotonic() - t0
    # 60 requests at 50/s with a full initial bucket → ≥ ~0.2s
    assert elapsed >= 0.15


def test_fetch_transactions_explodes_full_bodies(spark):
    """T3 parity: get_block(id, True) fans every tx body out, one row per
    transaction (reference evm/transformers.py:48-87)."""

    def tx(bn, i, to):
        return {
            "blockNumber": hex(bn),
            "transactionIndex": hex(i),
            "hash": f"0xt{bn:02x}{i:02x}",
            "from": addr(0xC0 + i).replace("0x", "0X"),  # mixed case → lowered
            "to": to,
            "gas": hex(21000),
            "gasPrice": hex(10**9),
            "nonce": hex(i),
            "value": hex(5),
            "input": "0x",
        }

    blocks = {
        1: {"number": "0x1", "transactions": [tx(1, 0, addr(0xA1)), tx(1, 1, None)]},
        2: {"number": "0x2", "transactions": []},  # empty block → zero rows
        3: {"number": "0x3", "transactions": [tx(3, 0, addr(0xA2))]},
    }
    t = FakeChainTransport(blocks=blocks)
    df = fetch_transactions(spark, 1, 3, t, partitions=2)
    rows = {r["hash"]: r for r in df.collect()}
    assert len(rows) == 3  # 2 + 0 + 1, pinned explode count
    assert rows["0xt0101"]["to_"] is None  # NULL to_ ⇒ contract creation
    assert rows["0xt0100"]["from_"] == addr(0xC0)  # normalized lowercase
    assert rows["0xt0300"]["block_number"] == 3
    assert rows["0xt0300"]["gas"] == 21000 and rows["0xt0300"]["gas_price"] == 10**9
    # the same fixture still serves hashes-only callers (S3 path unchanged)
    blk = t.call("eth_getBlockByNumber", "0x1", False)
    assert blk["transactions"] == ["0xt0100", "0xt0101"]


def test_hashes_only_body_raises_rpc_error_on_both_paths(spark, monkeypatch):
    """A full-transactions request answered with bare hashes fails with the
    same RpcError through the mapInPandas fetcher and the DataSource reader."""
    from block_crawler_spark.sources import datasource

    t = FakeChainTransport(blocks={1: {"number": "0x1", "transactions": ["0xt0100"]}})
    with pytest.raises(Exception, match="RpcError"):
        fetch_transactions(spark, 1, 1, t, partitions=1).collect()
    monkeypatch.setattr(datasource, "_make_transport", lambda options: t)
    reader = datasource.EvmTransactionsReader({"start": "1", "end": "1"})
    with pytest.raises(RpcError, match="full transactions"):
        list(reader.read(reader.partitions()[0]))
