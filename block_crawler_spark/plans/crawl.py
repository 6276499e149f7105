"""The crawl/load pipeline: bronze chain tables → four silver entity tables.

This is the reference's `nft crawl`/`nft load` lifecycle (SURVEY §3.1-3.2)
re-planned Spark-first.  Where the reference discovers collections one at a
time and replays each collection's history with its own RPC scan
(`nft/bin/load.py:202-280`), this plan does **one pass**: decode all transfer
logs, derive collections from creation receipts, then broadcast-join the
(small) collections dimension onto the (huge) transfers fact and run the
A1–A3 folds as global group-bys.  The per-collection sequential folds become
one shuffle keyed by (blockchain, collection_id, token_id_hex).

Scale notes (100 TB target):
- logs/blocks/receipts are read with explicit column pruning; filters on
  topics reach the parquet scan;
- ``blocks`` → transfer timestamp lookup is a broadcast join when blocks is
  small per batch; at full history scale it's an equi-join on block_number,
  which AQE will plan shuffle-side with both inputs pre-bucketable by
  block_number;
- collections is dimension-sized (millions, not billions) → broadcast join;
- every sink write goes through the version-guarded merges in
  ``operators.merge``, so re-running any block range is idempotent.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hexint import hex_to_dec
from ..operators.decode import decode_token_transfers, decode_uri_updates
from ..operators.folds import (
    fold_owner_deltas,
    fold_owners,
    fold_token_state,
    transfers_to_silver,
)
from ..schemas import SPEC_ERC721, SPEC_ERC1155


@dataclass
class SilverTables:
    collections: DataFrame
    tokens: DataFrame
    token_transfers: DataFrame
    owners: DataFrame  # snapshot fold (A2 ∪ A3) — bulk/load path
    owner_deltas: DataFrame  # ± incremental fold (A5) — tail path
    transfers: DataFrame  # the cached decoded transfers the folds above read

    def release(self) -> None:
        """Unpersist the cached transfers.  A batch's sinks call this in a
        ``finally`` after their last read: otherwise every crawl chunk, tail
        or stream batch leaves one cached relation behind, growing memory
        and every later cache lookup without bound."""
        self.transfers.unpersist()


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
    (+ collections when receipts/contracts provided).  The decoded
    transfers are cached for the folds and sinks that share them; the
    caller frees them with :meth:`SilverTables.release`."""
    block_times = blocks.select(F.col("number").alias("block_number"), F.col("timestamp"))

    transfers = (
        decode_token_transfers(logs)
        .join(F.broadcast(block_times), "block_number", "left")
        .withColumn("blockchain", F.lit(blockchain))
    )
    uris = decode_uri_updates(logs)

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

    tokens = fold_token_state(transfers, uris).withColumn("data_version", F.lit(data_version))
    owners = fold_owners(transfers).withColumn("data_version", F.lit(data_version))
    owner_deltas = fold_owner_deltas(transfers)
    token_transfers = transfers_to_silver(transfers, data_version)

    if collections is None:
        collections = spark.createDataFrame([], "blockchain string, collection_id string")
    return SilverTables(collections, tokens, token_transfers, owners, owner_deltas, transfers)


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
