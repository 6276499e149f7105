"""The crawl/load pipeline: bronze chain tables → four silver entity tables.

This is the reference's `nft crawl`/`nft load` lifecycle (SURVEY §3.1-3.2)
re-planned Spark-first.  Where the reference discovers collections one at a
time and replays each collection's history with its own RPC scan
(`nft/bin/load.py:202-280`), this plan does **one pass**: decode all transfer
logs, derive collections from creation receipts, then broadcast-join the
(small) collections dimension onto the (huge) transfers fact and run the
A1 and A5 folds as global group-bys.  The per-collection sequential folds become
one shuffle keyed by (blockchain, collection_id, token_id_hex).

Scale notes (100 TB target):
- logs/blocks/receipts are read with explicit column pruning; filters on
  topics reach the parquet scan;
- ``blocks`` → transfer timestamp lookup is a broadcast join when blocks is
  small per batch; at full history scale it's an equi-join on block_number,
  which AQE will plan shuffle-side with both inputs pre-bucketable by
  block_number;
- collections is dimension-sized (millions, not billions) → broadcast join;
- transfers are appended under their idempotent key, and the store rebuilds
  tokens and owners of the touched collection buckets from the committed
  transfers (``SilverStore.apply_silver``), so re-running any block range
  is idempotent.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import cache

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hexint import hex_to_dec
from ..operators.decode import decodable_logs, decode_token_transfers, decode_uri_updates
from ..operators.folds import owner_balances_from_silver, token_state_from_silver, transfers_to_silver
from ..schemas import SPEC_ERC721, SPEC_ERC1155


@dataclass
class SilverTables:
    collections: DataFrame
    token_transfers: DataFrame
    transfers: DataFrame  # the cached decoded transfers the folds read
    uri_updates: DataFrame  # the decoded URI events, with ``blockchain``
    data_version: int
    logs: DataFrame  # the cached decodable logs both decodes read

    @property
    def tokens(self) -> DataFrame:
        """The store's token-state fold over this batch's transfers and
        metadata rows: what ``SilverStore.apply_silver`` writes into an
        empty store's ``tokens``."""
        return token_state_from_silver(self.token_transfers, self.token_metadata)

    @property
    def owners(self) -> DataFrame:
        """The store's balance fold over this batch's transfers: what
        ``SilverStore.apply_silver`` writes into an empty store's
        ``owners``."""
        return owner_balances_from_silver(self.token_transfers).withColumn("data_version", F.lit(self.data_version))

    @property
    def token_metadata(self) -> DataFrame:
        """The batch's metadata rows for ``SilverStore.rebuild_tokens``: one
        per transfer, carrying its token's ``specification``, and one per
        URI event, carrying its URL under the event's version hex.  A URI
        event counts whether or not the batch also transfers its token: the
        store folds it with the token's committed transfers."""
        specs, uris = _metadata_cols()
        dv = F.lit(self.data_version).cast("long").alias("data_version")
        return self.transfers.select(*specs, dv).union(self.uri_updates.select(*uris, dv))

    def release(self) -> None:
        """Unpersist the cached transfers, then the decodable logs they were
        decoded from.  A batch's sinks call this in a ``finally`` after
        their last read: otherwise every crawl chunk, tail or stream batch
        leaves two cached relations behind, growing memory and every later
        cache lookup without bound."""
        self.transfers.unpersist()
        self.logs.unpersist()


@cache
def _metadata_cols() -> tuple[tuple[Column, ...], tuple[Column, ...]]:
    """:attr:`SilverTables.token_metadata`'s columns but ``data_version``:
    of a transfer row, then of a URI row."""
    none = F.lit(None).cast("string")
    keys = (F.col("blockchain"), F.col("collection_id"), F.col("token_id_hex"))
    specs = (*keys, F.col("specification"), none.alias("metadata_url"), none.alias("metadata_url_version_hex"))
    uris = (
        *keys,
        none.alias("specification"),
        F.col("metadata_url"),
        F.col("attribute_version_hex").alias("metadata_url_version_hex"),
    )
    return specs, uris


@cache
def _block_times() -> tuple[Column, Column]:
    return F.col("number").alias("block_number"), F.col("timestamp")


def derive_collections(
    receipts: DataFrame,
    transactions: DataFrame,
    blocks: DataFrame,
    contracts: DataFrame,
    blockchain: str,
    data_version: int,
) -> DataFrame:
    """Collections from contract-creation receipts (reference P2 + T7).

    The reference fetches each creation receipt then probes ERC-165 +
    name/symbol/totalSupply/owner via ``eth_call``
    (``nft/evm/transformers.py:48-197``).  Offline, the probe results come
    from the ``contracts`` lookup table (FIXTURES §1.5) joined on address;
    the live-RPC variant swaps that join for a ``mapInPandas`` enrichment
    (Milestone 5) — the surrounding plan is identical.
    """
    creations = receipts.filter(F.col("contract_address").isNotNull()).select(
        F.col("contract_address").alias("collection_id"),
        F.col("from_").alias("creator"),
        F.col("block_number").alias("block_created"),
        F.col("transaction_hash"),
    )
    # specification classification — ERC-165 probe results routed with when()
    probed = creations.join(
        F.broadcast(contracts), creations.collection_id == contracts.address, "inner"
    ).withColumn(
        "specification",
        F.when(F.col("supports_erc721"), F.lit(SPEC_ERC721)).when(
            F.col("supports_erc1155"), F.lit(SPEC_ERC1155)
        ),
    ).filter(F.col("specification").isNotNull())

    with_time = probed.join(
        F.broadcast(blocks.select(F.col("number").alias("block_created"), F.col("timestamp"))),
        "block_created",
        "left",
    )
    return with_time.select(
        F.lit(blockchain).alias("blockchain"),
        "collection_id",
        "creator",
        "owner",
        "name",
        # reference truncates name_lower to the first 1024 chars (dynamodb.py:94)
        F.substring(F.lower(F.col("name")), 1, 1024).alias("name_lower"),
        "symbol",
        "total_supply_hex",
        "specification",
        "block_created",
        F.col("timestamp").alias("date_created"),
        F.lit(data_version).alias("data_version"),
    )


def crawl_plan(
    spark: SparkSession,
    logs: DataFrame,
    blocks: DataFrame,
    receipts: DataFrame | None = None,
    transactions: DataFrame | None = None,
    contracts: DataFrame | None = None,
    blockchain: str = "ethereum-mainnet",
    data_version: int = 1,
) -> SilverTables:
    """Full one-pass plan: logs (+blocks) → transfers, tokens, owners
    (+ collections when receipts/contracts provided).

    The logs are read once: the decodable ones (``decode.decodable_logs``)
    are cached, and both decodes read that cache.  So the caller's
    predicates on ``logs`` — a batch's block range — run in the one scan
    stage that fills it and still reach the parquet scan's pushed filters,
    while the decode stages carry no batch constant and compile once per
    session.  The decoded transfers are cached too, for the folds and sinks
    that share them; the caller frees both caches with
    :meth:`SilverTables.release`."""
    decodable = decodable_logs(logs).cache()
    chain = F.lit(blockchain).alias("blockchain")
    transfers = (
        decode_token_transfers(decodable)
        .join(F.broadcast(blocks.select(*_block_times())), "block_number", "left")
        .select(F.col("*"), chain)
    )
    uris = decode_uri_updates(decodable).select(F.col("*"), chain)

    collections = None
    if receipts is not None and contracts is not None:
        collections = derive_collections(
            receipts, transactions, blocks, contracts, blockchain, data_version
        )
        # restrict folds to known NFT collections (the reference only tracks
        # logs of detected collections); broadcast the small dimension
        known = F.broadcast(collections.select("collection_id"))
        transfers = transfers.join(known, "collection_id", "left_semi")
        uris = uris.join(known, "collection_id", "left_semi")

    transfers = transfers.cache()
    token_transfers = transfers_to_silver(transfers, data_version)

    if collections is None:
        collections = spark.createDataFrame([], "blockchain string, collection_id string")
    return SilverTables(collections, token_transfers, transfers, uris, data_version, decodable)


def total_supply_check(collections: DataFrame, tokens: DataFrame) -> DataFrame:
    """J4 — token count per collection vs the collection's claimed totalSupply."""
    counts = tokens.groupBy("blockchain", "collection_id").agg(F.count("*").alias("token_count"))
    return (
        collections.select(
            "blockchain", "collection_id", hex_to_dec(F.col("total_supply_hex")).alias("total_supply")
        )
        .join(counts, ["blockchain", "collection_id"], "left")
        .withColumn("token_count", F.coalesce("token_count", F.lit(0)))
        .withColumn("matches", F.col("token_count") == F.col("total_supply"))
    )


def force_load_collection(
    spark: SparkSession,
    transport,
    collection_id: str,
    creation_tx_hash: str,
    blockchain: str,
    data_version: int,
    default_specification: str | None = None,
) -> DataFrame:
    """T13 — manual collection bootstrap from a known creation transaction.

    Mirrors ``EvmForceLoadContractTransformer`` (reference
    ``nft/evm/transformers.py:434-569``): fetch the creation receipt and its
    block, probe interfaces/metadata, fall back to the CLI-supplied
    specification when ERC-165 answers nothing.  Operates on one row —
    driver-side orchestration reusing the distributed probe stage.
    """
    from ..sources.rpc import fetch_blocks, fetch_receipts, probe_contracts

    receipt = fetch_receipts(spark.createDataFrame([(creation_tx_hash,)], ["h"]), transport)
    probed = probe_contracts(spark.createDataFrame([(collection_id,)], ["address"]), transport)
    r = receipt.collect()
    p = probed.collect()[0]
    creator = r[0]["from_"] if r else None
    block_created = r[0]["block_number"] if r else None
    timestamp = None
    if block_created is not None:
        b = fetch_blocks(spark, block_created, block_created, transport).collect()
        timestamp = b[0]["timestamp"] if b else None
    spec = (
        SPEC_ERC721
        if p["supports_erc721"]
        else SPEC_ERC1155
        if p["supports_erc1155"]
        else default_specification
    )
    row = (
        blockchain,
        collection_id,
        creator,
        p["owner"],
        p["name"],
        (p["name"] or "").lower()[:1024] or None,
        p["symbol"],
        p["total_supply_hex"],
        spec,
        block_created,
        timestamp,
        data_version,
    )
    from ..schemas import COLLECTION_SCHEMA

    return spark.createDataFrame([row], COLLECTION_SCHEMA)
