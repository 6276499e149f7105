"""Log → token-transfer / URI-update decode (reference T8–T11, P3/P4 filters).

Reference behavior being re-expressed (``nft/evm/transformers.py``):

* ERC-721 ``Transfer``: exactly 4 topics (the 4-topic check excludes ERC-20,
  which shares the signature, ``:265-269``); from/to in topics[1..2],
  token id in topics[3]; quantity = 1.
* ERC-1155 ``TransferSingle``: from/to in topics[2..3]; data = (id, value)
  static tuple (``:287-310``).
* ERC-1155 ``TransferBatch``: data = (uint256[] ids, uint256[] values),
  zipped into one transfer per element (``:313-336``).
* ERC-1155 ``URI``: data = (string uri); literal ``{id}`` substituted with
  the decimal token id (``:339-376``).

Everything is a single declarative DataFrame expression: filters push to the
parquet scan, the four event families are carved out of one cached logs scan,
and the batch case uses ``arrays_zip``+``explode`` rather than a per-row loop.
Dynamic ABI values (the batch arrays, the URI string) read offsets and
lengths that :func:`bind_dynamic_slots` projected once per row — see the
bind-once rule in ``functions.abi``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.abi import decode_string, decode_uint256_array, head_offset, word
from ..functions.hexint import (
    UINT256_HEX_WIDTH,
    hex_to_dec,
    hex_to_long,
    normalize_hex,
    topic_to_address,
)
from ..operators.oracles import attribute_version, attribute_version_hex
from ..schemas import (
    ERC721_TRANSFER_TOPIC,
    ERC1155_TRANSFER_BATCH_TOPIC,
    ERC1155_TRANSFER_SINGLE_TOPIC,
    ERC1155_URI_TOPIC,
    SPEC_ERC721,
    SPEC_ERC1155,
)

_ONE_HEX = "0x" + "1".rjust(UINT256_HEX_WIDTH, "0")

# Topic access uses getItem (GetArrayItem) rather than element_at: Catalyst's
# SimplifyExtractValueOps collapses GetArrayItem(CreateArray(...), literal)
# to the single element, so synthetic/constructed topic arrays (tests, the
# nft_ops oracle queries) don't inline the whole array expression at every
# use site — with element_at the duplicated expression tree blew past the
# janino 64KB method limit and silently disabled whole-stage codegen
# (~6× slower end-to-end at sf0.1).


def _topic(i: int):
    """1-based topic accessor."""
    return F.col("topics").getItem(i - 1)


def _topic0(df: DataFrame):
    return _topic(1)


def _base_cols(df: DataFrame) -> DataFrame:
    """Provenance + ordering columns shared by every decoded event."""
    return df.withColumn(
        "attribute_version",
        attribute_version(F.col("block_number"), F.col("transaction_index"), F.col("log_index")),
    ).withColumn(
        "attribute_version_hex",
        attribute_version_hex(F.col("block_number"), F.col("transaction_index"), F.col("log_index")),
    )


def bind_dynamic_slots(df: DataFrame, *slots: int) -> DataFrame:
    """Project each dynamic ABI slot ``k`` of ``data`` as ``_off{k}`` (word
    index of its length word) and ``_len{k}`` (its length).

    Each level is its own projection, so every value is computed once per
    row and later expressions read it by name; ``CollapseProject`` keeps
    the levels apart because each is read more than once.  The head and
    length words (``_head{k}``, ``_lenw{k}``) are bound too, because
    ``hex_to_long`` copies its input into the plan ~two dozen times.
    """
    data = F.col("data")
    df = df.withColumns({f"_head{k}": word(data, k) for k in slots})
    df = df.withColumns({f"_off{k}": head_offset(F.col(f"_head{k}")) for k in slots})
    df = df.withColumns({f"_lenw{k}": word(data, F.col(f"_off{k}")) for k in slots})
    return df.withColumns({f"_len{k}": hex_to_long(F.col(f"_lenw{k}")) for k in slots})


def decode_erc721_transfers(logs: DataFrame) -> DataFrame:
    """ERC-721 Transfer logs → one transfer row each (reference T8)."""
    out = (
        logs.filter((F.size("topics") == 4) & (_topic0(logs) == F.lit(ERC721_TRANSFER_TOPIC)))
        .withColumn("from_", topic_to_address(_topic(2)))
        .withColumn("to_", topic_to_address(_topic(3)))
        .withColumn("token_id_hex", normalize_hex(_topic(4)))
        .withColumn("quantity_hex", F.lit(_ONE_HEX))
        .withColumn("specification", F.lit(SPEC_ERC721))
    )
    return _finish_transfer(out)


def decode_erc1155_single_transfers(logs: DataFrame) -> DataFrame:
    """ERC-1155 TransferSingle logs → one transfer row each (reference T9)."""
    out = (
        logs.filter((F.size("topics") == 4) & (_topic0(logs) == F.lit(ERC1155_TRANSFER_SINGLE_TOPIC)))
        .withColumn("from_", topic_to_address(_topic(3)))
        .withColumn("to_", topic_to_address(_topic(4)))
        .withColumn("token_id_hex", normalize_hex(word(F.col("data"), 0)))
        .withColumn("quantity_hex", normalize_hex(word(F.col("data"), 1)))
        .withColumn("specification", F.lit(SPEC_ERC1155))
    )
    return _finish_transfer(out)


def decode_erc1155_batch_transfers(logs: DataFrame) -> DataFrame:
    """ERC-1155 TransferBatch logs → one transfer row per (id, value) pair.

    The reference zips the two decoded arrays in a Python loop
    (``nft/evm/transformers.py:231-253``); here it's ``arrays_zip`` +
    ``posexplode`` so a single log fans out inside the JVM.  The reference
    assigns every element of a batch the same per-log attribute_version; we
    preserve that and keep a separate ``batch_index`` column for the J2
    reconciliation key (which adds token_id for 1155 batch items,
    ``verify.py:810-817``).
    """
    batches = logs.filter(
        (F.size("topics") == 4) & (_topic0(logs) == F.lit(ERC1155_TRANSFER_BATCH_TOPIC))
    )
    out = (
        bind_dynamic_slots(batches, 0, 1)
        .withColumn("from_", topic_to_address(_topic(3)))
        .withColumn("to_", topic_to_address(_topic(4)))
        .withColumn("ids", decode_uint256_array(F.col("data"), F.col("_off0"), F.col("_len0")))
        .withColumn("values", decode_uint256_array(F.col("data"), F.col("_off1"), F.col("_len1")))
        .select(
            "*",
            F.posexplode(F.arrays_zip(F.col("ids"), F.col("values"))).alias("batch_index", "pair"),
        )
        .withColumn("token_id_hex", normalize_hex(F.col("pair.ids")))
        .withColumn("quantity_hex", normalize_hex(F.col("pair.values")))
        .withColumn("specification", F.lit(SPEC_ERC1155))
        .drop("ids", "values", "pair")
    )
    return _finish_transfer(out)


def _finish_transfer(df: DataFrame) -> DataFrame:
    """Shared tail: provenance, version oracle, quantity decode, type oracle.

    Ingest contract: ``address`` and the decoded from_/to_ are canonical
    lowercase "0x"+40 hex (topic_to_address lowers; sources lower addresses
    on ingest, reference normalizes at the CLI, ``core/click.py:58-66``), so
    the mint/burn classification compares them directly instead of routing
    through ``classify_transfer``'s re-normalization — keeps the generated
    code comfortably inside whole-stage codegen limits.
    """
    df = _base_cols(df)
    zero = F.lit("0x" + "0" * 40)
    coll = F.lower(F.col("address"))
    tx_type = (
        F.when(F.col("to_") == zero, F.lit("burn"))
        .when(((F.col("from_") == zero) | (F.col("from_") == coll)) & (F.col("to_") != coll), F.lit("mint"))
        .otherwise(F.lit("transfer"))
    )
    cols = [
        coll.alias("collection_id"),
        "specification",
        "block_number",
        "transaction_index",
        "log_index",
        "transaction_hash",
        "attribute_version",
        "attribute_version_hex",
        "from_",
        "to_",
        "token_id_hex",
        "quantity_hex",
        hex_to_dec(F.col("quantity_hex")).alias("quantity"),
        tx_type.alias("transaction_type"),
    ]
    if "batch_index" in df.columns:
        cols.append("batch_index")
    else:
        cols.append(F.lit(0).alias("batch_index"))
    return df.select(*cols)


def _drop_removed(logs: DataFrame) -> DataFrame:
    """Reorg guard: a websocket subscription can redeliver a log with
    ``removed=true`` when its block is orphaned — such logs must never
    reach the folds.  Batch ``eth_getLogs`` over canonical history always
    carries ``removed=false``, so this predicate prunes nothing there (and
    pushes to the scan).  Tolerates frames without the column."""
    if "removed" in logs.columns:
        return logs.filter(~F.coalesce(F.col("removed"), F.lit(False)))
    return logs


def decode_token_transfers(logs: DataFrame) -> DataFrame:
    """All three transfer families from one logs scan, unioned.

    Callers should ``.cache()`` the logs DataFrame (or rely on the shared
    parquet scan) — the three branches share identical pushed filters on
    ``topics`` size so Catalyst prunes non-transfer rows early.
    """
    logs = _drop_removed(logs)
    return (
        decode_erc721_transfers(logs)
        .unionByName(decode_erc1155_single_transfers(logs))
        .unionByName(decode_erc1155_batch_transfers(logs))
    )


def decode_uri_updates(logs: DataFrame) -> DataFrame:
    """ERC-1155 URI events → metadata-URL updates (reference T11).

    ``{id}`` is substituted with the decimal token id exactly as the
    reference does (``nft/evm/transformers.py:365``); if the id overflows
    Decimal(38,0) the substitution is skipped (URI kept verbatim) in line
    with the engine-wide clamp-to-null policy.
    """
    logs = _drop_removed(logs)
    uri_logs = logs.filter((F.size("topics") == 2) & (_topic0(logs) == F.lit(ERC1155_URI_TOPIC)))
    out = (
        bind_dynamic_slots(uri_logs, 0)
        .withColumn("token_id_hex", normalize_hex(F.element_at("topics", 2)))
        .withColumn("uri_raw", decode_string(F.col("data"), F.col("_off0"), F.col("_len0")))
        .withColumn("token_id_dec", hex_to_dec(F.col("token_id_hex")).cast("string"))
        .withColumn(
            "metadata_url",
            F.when(
                F.col("token_id_dec").isNotNull(),
                F.regexp_replace(F.col("uri_raw"), r"\{id\}", F.col("token_id_dec")),
            ).otherwise(F.col("uri_raw")),
        )
    )
    out = _base_cols(out)
    return out.select(
        F.col("address").alias("collection_id"),
        "block_number",
        "transaction_index",
        "log_index",
        "attribute_version",
        "attribute_version_hex",
        "token_id_hex",
        "metadata_url",
    )
