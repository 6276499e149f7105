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

Everything is a single declarative DataFrame expression: the four event
families are carved out of one logs relation (``plans.crawl`` caches it,
narrowed by :func:`decodable_logs`), and the batch case uses
``arrays_zip``+``explode`` rather than a per-row loop.  Dynamic ABI values
(the batch arrays, the URI string) read offsets and lengths that
:func:`_slot_levels` projects once per row — see the bind-once rule in
``functions.abi``.

Build-once rule: every expression here is fixed, so each is built once per
process by a ``functools.cache`` builder and kept as a tuple of Columns.  A
Column is an unresolved, session-independent expression tree in the JVM
(the py4j gateway outlives ``SparkContext.stop``), so the cached tuples
serve every crawl chunk, tail batch and stream batch; rebuilding them cost
each tail batch ~3.8k py4j round trips.  Each projection level is applied
with one ``select``, so a decode costs a few dozen analysed DataFrame calls.
"""

from __future__ import annotations

from functools import cache

from pyspark.sql import Column, DataFrame
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


def _topic(i: int) -> Column:
    """1-based topic accessor."""
    return F.col("topics").getItem(i - 1)


@cache
def _event_filters() -> tuple[Column, Column, Column, Column]:
    """The (topic0, topic count) predicates of the ERC-721 Transfer,
    ERC-1155 TransferSingle, TransferBatch and URI events, in that order."""

    def event(topic0: str, n_topics: int) -> Column:
        return (F.size("topics") == n_topics) & (_topic(1) == F.lit(topic0))

    return (
        event(ERC721_TRANSFER_TOPIC, 4),
        event(ERC1155_TRANSFER_SINGLE_TOPIC, 4),
        event(ERC1155_TRANSFER_BATCH_TOPIC, 4),
        event(ERC1155_URI_TOPIC, 2),
    )


@cache
def _live() -> Column:
    return ~F.coalesce(F.col("removed"), F.lit(False))


@cache
def _any_event() -> Column:
    erc721, single, batch, uri = _event_filters()
    return erc721 | single | batch | uri


@cache
def _provenance() -> tuple[Column, Column]:
    """The total event order as a long and as the 40-char version hex."""
    pos = (F.col("block_number"), F.col("transaction_index"), F.col("log_index"))
    return (
        attribute_version(*pos).alias("attribute_version"),
        attribute_version_hex(*pos).alias("attribute_version_hex"),
    )


def _project(df: DataFrame, levels: tuple[tuple[Column, ...], ...]) -> DataFrame:
    """Apply each projection level in turn, one ``select`` per level."""
    for level in levels:
        df = df.select(*level)
    return df


@cache
def _slot_levels(slots: tuple[int, ...]) -> tuple[tuple[Column, ...], ...]:
    """Four projection levels that bind each dynamic ABI slot ``k`` of
    ``data`` as ``_off{k}`` (word index of its length word) and ``_len{k}``
    (its length).

    Each level is its own projection, so every value is computed once per
    row and later expressions read it by name; ``CollapseProject`` keeps
    the levels apart because each is read more than once.  The head and
    length words (``_head{k}``, ``_lenw{k}``) are bound too, because
    ``hex_to_long`` copies its input into the plan ~two dozen times."""
    data = F.col("data")
    return (
        (F.col("*"), *(word(data, k).alias(f"_head{k}") for k in slots)),
        (F.col("*"), *(head_offset(F.col(f"_head{k}")).alias(f"_off{k}") for k in slots)),
        (F.col("*"), *(word(data, F.col(f"_off{k}")).alias(f"_lenw{k}") for k in slots)),
        (F.col("*"), *(hex_to_long(F.col(f"_lenw{k}")).alias(f"_len{k}") for k in slots)),
    )


def decodable_logs(logs: DataFrame) -> DataFrame:
    """``logs`` narrowed to the live logs of the four event families the
    decoders keep (ERC-20 ``Transfer`` logs, 3 topics, drop out).  A crawl
    caches this relation, so the decode stages that read it carry no
    predicate of the caller's, such as a batch's block range."""
    return _drop_removed(logs).filter(_any_event())


@cache
def _transfer_cols() -> tuple[Column, ...]:
    """The decoded transfer's columns but ``batch_index``, read from a
    family's ``from_``/``to_``/``token_id_hex``/``quantity_hex``/
    ``specification`` level.

    Ingest contract: ``address`` and the decoded from_/to_ are canonical
    lowercase "0x"+40 hex (topic_to_address lowers; sources lower addresses
    on ingest, reference normalizes at the CLI, ``core/click.py:58-66``), so
    the mint/burn classification (reference ``TokenTransactionTypeOracle``,
    T15) compares them directly with no re-normalization — keeps the
    generated code comfortably inside whole-stage codegen limits.
    """
    zero = F.lit("0x" + "0" * 40)
    coll = F.lower(F.col("address"))
    tx_type = (
        F.when(F.col("to_") == zero, F.lit("burn"))
        .when(((F.col("from_") == zero) | (F.col("from_") == coll)) & (F.col("to_") != coll), F.lit("mint"))
        .otherwise(F.lit("transfer"))
    )
    return (
        coll.alias("collection_id"),
        F.col("specification"),
        F.col("block_number"),
        F.col("transaction_index"),
        F.col("log_index"),
        F.col("transaction_hash"),
        *_provenance(),
        F.col("from_"),
        F.col("to_"),
        F.col("token_id_hex"),
        F.col("quantity_hex"),
        hex_to_dec(F.col("quantity_hex")).alias("quantity"),
        tx_type.alias("transaction_type"),
    )


@cache
def _erc721_plan() -> tuple[Column, tuple[tuple[Column, ...], ...]]:
    """(filter, projection levels) of ERC-721 Transfer logs."""
    level = (
        F.col("*"),
        topic_to_address(_topic(2)).alias("from_"),
        topic_to_address(_topic(3)).alias("to_"),
        normalize_hex(_topic(4)).alias("token_id_hex"),
        F.lit(_ONE_HEX).alias("quantity_hex"),
        F.lit(SPEC_ERC721).alias("specification"),
    )
    return _event_filters()[0], (level, (*_transfer_cols(), F.lit(0).alias("batch_index")))


@cache
def _single_plan() -> tuple[Column, tuple[tuple[Column, ...], ...]]:
    """(filter, projection levels) of TransferSingle logs."""
    level = (
        F.col("*"),
        topic_to_address(_topic(3)).alias("from_"),
        topic_to_address(_topic(4)).alias("to_"),
        normalize_hex(word(F.col("data"), 0)).alias("token_id_hex"),
        normalize_hex(word(F.col("data"), 1)).alias("quantity_hex"),
        F.lit(SPEC_ERC1155).alias("specification"),
    )
    return _event_filters()[1], (level, (*_transfer_cols(), F.lit(0).alias("batch_index")))


@cache
def _batch_plan() -> tuple[Column, tuple[tuple[Column, ...], ...]]:
    """(filter, projection levels) of TransferBatch logs: the bound slots,
    the zipped arrays exploded, the transfer level, the output."""
    ids = decode_uint256_array(F.col("data"), F.col("_off0"), F.col("_len0")).alias("ids")
    values = decode_uint256_array(F.col("data"), F.col("_off1"), F.col("_len1")).alias("values")
    pairs = (
        F.col("*"),
        topic_to_address(_topic(3)).alias("from_"),
        topic_to_address(_topic(4)).alias("to_"),
        F.posexplode(F.arrays_zip(ids, values)).alias("batch_index", "pair"),
    )
    level = (
        F.col("*"),
        normalize_hex(F.col("pair.ids")).alias("token_id_hex"),
        normalize_hex(F.col("pair.values")).alias("quantity_hex"),
        F.lit(SPEC_ERC1155).alias("specification"),
    )
    levels = (*_slot_levels((0, 1)), pairs, level, (*_transfer_cols(), F.col("batch_index")))
    return _event_filters()[2], levels


def decode_erc721_transfers(logs: DataFrame) -> DataFrame:
    """ERC-721 Transfer logs → one transfer row each (reference T8)."""
    where, levels = _erc721_plan()
    return _project(logs.filter(where), levels)


def decode_erc1155_single_transfers(logs: DataFrame) -> DataFrame:
    """ERC-1155 TransferSingle logs → one transfer row each (reference T9)."""
    where, levels = _single_plan()
    return _project(logs.filter(where), levels)


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
    where, levels = _batch_plan()
    return _project(logs.filter(where), levels)


def _drop_removed(logs: DataFrame) -> DataFrame:
    """Reorg guard: a websocket subscription can redeliver a log with
    ``removed=true`` when its block is orphaned — such logs must never
    reach the folds.  Batch ``eth_getLogs`` over canonical history always
    carries ``removed=false``, so this predicate prunes nothing there (and
    pushes to the scan).  Tolerates frames without the column."""
    if "removed" in logs.columns:
        return logs.filter(_live())
    return logs


def decode_token_transfers(logs: DataFrame) -> DataFrame:
    """All three transfer families from one logs relation, unioned.

    Callers should ``.cache()`` the logs DataFrame (``plans.crawl`` caches
    :func:`decodable_logs`) or rely on the shared parquet scan.
    """
    logs = _drop_removed(logs)
    # the three share one output projection, so a positional union lines up
    return (
        decode_erc721_transfers(logs)
        .union(decode_erc1155_single_transfers(logs))
        .union(decode_erc1155_batch_transfers(logs))
    )


@cache
def _uri_plan() -> tuple[Column, tuple[tuple[Column, ...], ...]]:
    """(filter, projection levels) of URI logs: the bound slot, the token
    id and raw URI, the decimal id, the output.

    ``{id}`` is substituted with the decimal token id exactly as the
    reference does (``nft/evm/transformers.py:365``); if the id overflows
    Decimal(38,0) the substitution is skipped (URI kept verbatim) in line
    with the engine-wide clamp-to-null policy.
    """
    raw = (
        F.col("*"),
        normalize_hex(F.element_at("topics", 2)).alias("token_id_hex"),
        decode_string(F.col("data"), F.col("_off0"), F.col("_len0")).alias("uri_raw"),
    )
    dec = (F.col("*"), hex_to_dec(F.col("token_id_hex")).cast("string").alias("token_id_dec"))
    url = F.when(
        F.col("token_id_dec").isNotNull(),
        F.regexp_replace(F.col("uri_raw"), r"\{id\}", F.col("token_id_dec")),
    ).otherwise(F.col("uri_raw"))
    out = (
        F.col("address").alias("collection_id"),
        F.col("block_number"),
        F.col("transaction_index"),
        F.col("log_index"),
        *_provenance(),
        F.col("token_id_hex"),
        url.alias("metadata_url"),
    )
    return _event_filters()[3], (*_slot_levels((0,)), raw, dec, out)


def decode_uri_updates(logs: DataFrame) -> DataFrame:
    """ERC-1155 URI events → metadata-URL updates (reference T11)."""
    where, levels = _uri_plan()
    return _project(_drop_removed(logs).filter(where), levels)
