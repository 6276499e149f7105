"""Spark 4 Python DataSource exposing EVM chain data as named formats.

The mapInPandas stages in ``sources.rpc`` are the workhorse; this wraps the
same fetch logic in the public ``pyspark.sql.datasource.DataSource`` API so
chain data reads like any other source:

    spark.read.format("evm_logs")
        .option("start", 100).option("end", 2_000_000)
        .option("endpoints", "http://node-a:8545,http://node-b:8545")
        .option("topic0", ERC721_TRANSFER_TOPIC)
        .option("chunk_size", 100_000)
        .load()

Partition planning mirrors the reference's block-chunking: one input
partition per ``chunk_size`` block range (``nft/bin/crawl.py:179-203``'s
chunk loop, distributed).  The topic/address options are *pushed into the
RPC request* by each partition reader — source-level predicate pushdown.

Offline mode (``mode=fixture``) serves the deterministic synthetic chain
from ``sources.chainfix`` so the DataSource path is testable without a
node; the partition/read machinery is identical.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from ..schemas import BLOCK_SCHEMA, LOG_SCHEMA, TRANSACTION_SCHEMA


class _BlockRange(InputPartition):
    def __init__(self, start: int, end: int):
        self.start = start
        self.end = end


def _make_transport(options: dict):
    if options.get("mode", "rpc") == "fixture":
        from .chainfix import standard_scenario
        from .rpc import FakeChainTransport

        fb = standard_scenario(seed=int(options.get("seed", "42")))
        logs = [
            {
                "blockNumber": hex(r["block_number"]),
                "transactionIndex": hex(r["transaction_index"]),
                "logIndex": hex(r["log_index"]),
                "transactionHash": r["transaction_hash"],
                "address": r["address"],
                "topics": r["topics"],
                "data": r["data"],
                "removed": False,
                "block_number": r["block_number"],
            }
            for r in fb.rows
        ]
        # full tx bodies synthesized from the logs' own (block, tx_index,
        # hash) triples, so the fixture's transactions are chain-consistent
        # with the events they emitted; hashes-only callers still get plain
        # hashes (FakeChainTransport maps dicts → hashes when full=False)
        txs: dict[int, dict[int, dict]] = {}
        for r in fb.rows:
            bn, ti = r["block_number"], r["transaction_index"]
            txs.setdefault(bn, {})[ti] = {
                "blockNumber": hex(bn),
                "transactionIndex": hex(ti),
                "hash": r["transaction_hash"],
                "from": "0x" + r["transaction_hash"][-40:],
                "to": r["address"],
                "gas": hex(21_000 + ti),
                "gasPrice": hex(10**9),
                "nonce": hex(ti),
                "value": "0x0",
                "input": "0x",
            }
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
                "transactions": [t for _, t in sorted(txs.get(b["number"], {}).items())],
            }
            for b in fb.blocks()
        }
        return FakeChainTransport(blocks=blocks, logs=logs)
    endpoints = tuple(e.strip() for e in options["endpoints"].split(",") if e.strip())
    rate = options.get("rate_per_second")
    if endpoints and endpoints[0].startswith(("ws://", "wss://")):
        # S7 full parity: multiplexed websocket transport with
        # reconnect/replay (sources.ws, reference core/rpc.py:104-437)
        from .ws import WsRpcTransport

        return WsRpcTransport(endpoints=endpoints)
    from .rpc import HttpRpcTransport

    return HttpRpcTransport(endpoints=endpoints, rate_per_second=float(rate) if rate else None)


class _RangePlanner:
    """Shared partition planning: one partition per chunk of blocks."""

    def __init__(self, options: dict, default_chunk: int):
        self.options = dict(options)
        self.start = int(options.get("start", "0"))
        self.end = int(options["end"])
        self.chunk = int(options.get("chunk_size", str(default_chunk)))

    def partitions(self) -> Sequence[InputPartition]:
        return [
            _BlockRange(lo, min(lo + self.chunk - 1, self.end))
            for lo in range(self.start, self.end + 1, self.chunk)
        ]


def _log_rows(options: dict, lo: int, hi: int) -> Iterator[tuple]:
    """LOG_SCHEMA rows of blocks ``lo..hi``, the topic/address options
    pushed into the ``eth_getLogs`` request."""
    from .rpc import _get_logs_adaptive, log_row

    topics = [options["topic0"]] if options.get("topic0") else None
    return map(log_row, _get_logs_adaptive(_make_transport(options), lo, hi, topics, options.get("address")))


class EvmLogsReader(_RangePlanner, DataSourceReader):
    def __init__(self, options: dict):
        _RangePlanner.__init__(self, options, default_chunk=100_000)

    def read(self, partition: _BlockRange) -> Iterator[tuple]:
        return _log_rows(self.options, partition.start, partition.end)


class EvmBlocksReader(_RangePlanner, DataSourceReader):
    def __init__(self, options: dict):
        _RangePlanner.__init__(self, options, default_chunk=10_000)

    def read(self, partition: _BlockRange) -> Iterator[tuple]:
        from .rpc import block_rows

        return block_rows(_make_transport(self.options), range(partition.start, partition.end + 1))


class EvmTransactionsReader(_RangePlanner, DataSourceReader):
    """T3 through the DataSource API (rows from ``rpc.transaction_rows``)."""

    def __init__(self, options: dict):
        _RangePlanner.__init__(self, options, default_chunk=10_000)

    def read(self, partition: _BlockRange) -> Iterator[tuple]:
        from .rpc import transaction_rows

        return transaction_rows(_make_transport(self.options), range(partition.start, partition.end + 1))


class EvmLogsDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "evm_logs"

    def schema(self):
        return LOG_SCHEMA

    def reader(self, schema) -> DataSourceReader:
        return EvmLogsReader(self.options)


class EvmBlocksDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "evm_blocks"

    def reader(self, schema) -> DataSourceReader:
        return EvmBlocksReader(self.options)

    def schema(self):
        return BLOCK_SCHEMA


class EvmTransactionsDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "evm_transactions"

    def reader(self, schema) -> DataSourceReader:
        return EvmTransactionsReader(self.options)

    def schema(self):
        return TRANSACTION_SCHEMA


# ---------------------------------------------------------------------------
# Streaming reader: readStream.format("evm_logs") — the tail lifecycle (ST1)
# through the public source API. Offsets are block heights, so Spark's
# checkpoint IS the last_block_id control record (ST3); trail_blocks applies
# the reference's confirmation lag (ST2).
# ---------------------------------------------------------------------------

from pyspark.sql.datasource import SimpleDataSourceStreamReader  # noqa: E402


class _HeightOffsetStreamReader(SimpleDataSourceStreamReader):
    """Shared height-offset machinery: offsets are block heights (the
    checkpoint IS last_block_id, ST3), ``trail_blocks`` applies the
    confirmation lag (ST2), and ``max_blocks_per_batch`` caps one trigger's
    catch-up — read() materializes the batch on the driver, so an unbounded
    catch-up from far behind chain head could OOM it (ADVICE r1).
    Subclasses define ``_fetch(lo, hi)`` and ``_DEFAULT_MAX_BLOCKS``."""

    _DEFAULT_MAX_BLOCKS = 10_000

    def __init__(self, options: dict):
        self.options = dict(options)
        self.trail = int(options.get("trail_blocks", "1"))
        self.start = int(options.get("start", "0"))
        self.max_blocks = int(options.get("max_blocks_per_batch", str(self._DEFAULT_MAX_BLOCKS)))

    def initialOffset(self) -> dict:
        return {"next_block": self.start}

    def _height(self, transport) -> int:
        return int(transport.call("eth_blockNumber"), 16)

    def _fetch(self, lo: int, hi: int) -> Iterator[tuple]:
        raise NotImplementedError

    def read(self, start: dict):
        # rows must be an ITERATOR (the engine calls next() on it) whose
        # contents the prefetch cache can PICKLE (generators can't) —
        # a list_iterator satisfies both
        transport = _make_transport(self.options)
        lo = start["next_block"]
        hi = self._height(transport) - self.trail
        if hi < lo:
            return iter([]), start
        hi = min(hi, lo + self.max_blocks - 1)
        return iter(list(self._fetch(lo, hi))), {"next_block": hi + 1}

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter(list(self._fetch(start["next_block"], end["next_block"] - 1)))


class EvmLogsStreamReader(_HeightOffsetStreamReader):
    def _fetch(self, lo: int, hi: int):
        return _log_rows(self.options, lo, hi)


class EvmLogsStreamDataSource(DataSource):
    """Separate name so batch and streaming intents stay explicit."""

    @classmethod
    def name(cls) -> str:
        return "evm_logs_stream"

    def schema(self):
        return LOG_SCHEMA

    def simpleStreamReader(self, schema) -> SimpleDataSourceStreamReader:
        return EvmLogsStreamReader(self.options)


class EvmTransactionsStreamReader(_HeightOffsetStreamReader):
    """Streaming T3 (rows from ``rpc.transaction_rows``).  The per-batch cap
    defaults far lower than the logs stream's: a batch materializes FULL
    transaction bodies (calldata included) on the driver, so 10k blocks of
    a busy chain would be the exact unbounded-batch OOM the cap exists to
    prevent — 500 blocks ≈ 100k txs is a safe default; tune upward for
    sparse chains via ``max_blocks_per_batch``."""

    _DEFAULT_MAX_BLOCKS = 500

    def _fetch(self, lo: int, hi: int):
        from .rpc import transaction_rows

        return transaction_rows(_make_transport(self.options), range(lo, hi + 1))


class EvmTransactionsStreamDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "evm_transactions_stream"

    def schema(self):
        return TRANSACTION_SCHEMA

    def simpleStreamReader(self, schema) -> SimpleDataSourceStreamReader:
        return EvmTransactionsStreamReader(self.options)


def register(spark) -> None:
    """Register the formats: ``spark.read.format('evm_logs' | 'evm_blocks' |
    'evm_transactions')`` and ``spark.readStream.format('evm_logs_stream' |
    'evm_transactions_stream')``."""
    spark.dataSource.register(EvmLogsDataSource)
    spark.dataSource.register(EvmBlocksDataSource)
    spark.dataSource.register(EvmTransactionsDataSource)
    spark.dataSource.register(EvmLogsStreamDataSource)
    spark.dataSource.register(EvmTransactionsStreamDataSource)
