"""The `verify` reconciliation engine (reference J1–J5, ``nft/bin/verify.py``).

The reference recomputes truth from chain logs and cross-checks the database
with an O(n²) in-memory list scan (``verify.py:959-966``).  Here every check
is a DataFrame join; the transfer reconciliation (J2) is a **full outer
join** on the event key whose null sides are exactly the two error classes
("in DB but not in logs" / "in logs but not in DB",
``verify.py:975-981, 1018-1023``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .decode import decode_token_transfers
from .folds import dedup_transfers, fold_token_state, owner_balances_from_silver

# J2 match key: (block, tx index, log index) + token for 1155 batch items
# (verify.py:810-817) + batch_index to disambiguate same-token-twice batches.
_J2_KEY = ["block_number", "transaction_index", "log_index", "token_id_hex", "batch_index"]


def reconcile_transfers(chain_logs: DataFrame, db_transfers: DataFrame) -> DataFrame:
    """J2 — recompute transfers from logs, full-outer-join the stored table.

    Returns an error-report DataFrame (check, key columns, error) with one
    row per discrepancy; empty result = clean reconciliation.
    """
    recomputed = decode_token_transfers(chain_logs).select(
        *_J2_KEY,
        F.col("collection_id").alias("chain_collection_id"),
        F.col("from_").alias("chain_from"),
        F.col("to_").alias("chain_to"),
        F.col("transaction_type").alias("chain_type"),
        F.col("quantity_hex").alias("chain_quantity_hex"),
    )
    stored = db_transfers.select(
        F.col("block_id").alias("block_number"),
        "transaction_index",
        "log_index",
        "token_id_hex",
        *(["batch_index"] if "batch_index" in db_transfers.columns else [F.lit(0).alias("batch_index")]),
        F.col("collection_id").alias("db_collection_id"),
        F.col("from_").alias("db_from"),
        F.col("to_").alias("db_to"),
        F.col("transaction_type").alias("db_type"),
        F.col("quantity_hex").alias("db_quantity_hex"),
    )
    joined = recomputed.join(stored, _J2_KEY, "full_outer")

    field_mismatch = (
        (F.col("chain_from") != F.col("db_from"))
        | (F.col("chain_to") != F.col("db_to"))
        | (F.col("chain_type") != F.col("db_type"))
        | (F.col("chain_quantity_hex") != F.col("db_quantity_hex"))
        | (F.col("chain_collection_id") != F.col("db_collection_id"))
    )
    return joined.select(
        *_J2_KEY,
        F.when(F.col("db_collection_id").isNull(), F.lit("missing_in_db"))
        .when(F.col("chain_collection_id").isNull(), F.lit("not_in_logs"))
        .when(field_mismatch, F.lit("field_mismatch"))
        .alias("error"),
    ).filter(F.col("error").isNotNull())


def _committed_transfers(chain_logs: DataFrame) -> DataFrame:
    """The transfers the store commits for ``chain_logs``: decoded, then
    deduplicated on the silver transfer key, so a log repeated in bronze
    counts once here as it does in the store."""
    return dedup_transfers(decode_token_transfers(chain_logs).withColumn("blockchain", F.lit("_")))


def reconcile_tokens(chain_logs: DataFrame, db_tokens: DataFrame) -> DataFrame:
    """J3 — recompute token state from logs with the store's A1 fold;
    compare quantity/owners."""
    expected = fold_token_state(_committed_transfers(chain_logs)).select(
        "collection_id",
        "token_id_hex",
        F.col("quantity").alias("exp_quantity"),
        F.col("original_owner").alias("exp_original_owner"),
        F.col("current_owner").alias("exp_current_owner"),
    )
    stored = db_tokens.select(
        "collection_id", "token_id_hex", "quantity", "original_owner", "current_owner"
    )
    joined = expected.join(stored, ["collection_id", "token_id_hex"], "full_outer")
    return joined.select(
        "collection_id",
        "token_id_hex",
        F.when(F.col("quantity").isNull() & F.col("exp_quantity").isNotNull(), F.lit("missing_in_db"))
        .when(F.col("exp_quantity").isNull() & F.col("quantity").isNotNull(), F.lit("not_in_logs"))
        .when(~F.col("exp_quantity").eqNullSafe(F.col("quantity")), F.lit("quantity_mismatch"))
        .when(~F.col("exp_current_owner").eqNullSafe(F.col("current_owner")), F.lit("owner_mismatch"))
        .when(~F.col("exp_original_owner").eqNullSafe(F.col("original_owner")), F.lit("original_owner_mismatch"))
        .alias("error"),
    ).filter(F.col("error").isNotNull())


def reconcile_balances(chain_logs: DataFrame, db_owners: DataFrame) -> DataFrame:
    """J5-style owner check: balances recomputed from logs vs stored owner
    rows.

    Recomputes with the store's A5 fold (``folds.owner_balances_from_silver``)
    over the transfers it commits, both specs, so the check applies the
    definition the owners writer applies; zero balances have no row on
    either side.
    """
    expected = owner_balances_from_silver(_committed_transfers(chain_logs)).select(
        "collection_id", "token_id_hex", "account", F.col("quantity").alias("exp_quantity")
    )
    stored = db_owners.select("collection_id", "token_id_hex", "account", "quantity")
    joined = expected.join(stored, ["collection_id", "token_id_hex", "account"], "full_outer")
    return joined.select(
        "collection_id",
        "token_id_hex",
        "account",
        F.when(F.col("quantity").isNull() & F.col("exp_quantity").isNotNull(), F.lit("missing_in_db"))
        .when(F.col("exp_quantity").isNull() & F.col("quantity").isNotNull(), F.lit("not_in_logs"))
        .when(~F.col("exp_quantity").eqNullSafe(F.col("quantity")), F.lit("quantity_mismatch"))
        .alias("error"),
    ).filter(F.col("error").isNotNull())


def reconcile_collections(db_collections: DataFrame, contracts: DataFrame) -> DataFrame:
    """J1 — stored collection rows vs (re-)probed contract state.

    ``contracts`` is CONTRACT_SCHEMA shaped — a fixture table offline or
    ``sources.rpc.probe_contracts`` output live.  Field-by-field compare of
    name/symbol/owner/total_supply + recomputed ``name_lower`` + the
    ERC-165 spec classification (reference ``verify.py:453-571``).
    """
    probed = contracts.select(
        F.col("address").alias("collection_id"),
        F.when(F.col("supports_erc721"), F.lit("ERC-721"))
        .when(F.col("supports_erc1155"), F.lit("ERC-1155"))
        .alias("exp_specification"),
        F.col("name").alias("exp_name"),
        F.col("symbol").alias("exp_symbol"),
        F.col("owner").alias("exp_owner"),
        F.col("total_supply_hex").alias("exp_total_supply_hex"),
    )
    joined = db_collections.join(probed, "collection_id", "full_outer")
    checks = [
        ("not_a_collection", F.col("exp_specification").isNull() & F.col("specification").isNotNull()),
        ("missing_in_db", F.col("specification").isNull() & F.col("exp_specification").isNotNull()),
        ("spec_mismatch", ~F.col("specification").eqNullSafe(F.col("exp_specification"))),
        ("name_mismatch", ~F.col("name").eqNullSafe(F.col("exp_name"))),
        (
            "name_lower_mismatch",
            ~F.col("name_lower").eqNullSafe(F.substring(F.lower(F.col("exp_name")), 1, 1024)),
        ),
        ("symbol_mismatch", ~F.col("symbol").eqNullSafe(F.col("exp_symbol"))),
        ("owner_mismatch", ~F.col("owner").eqNullSafe(F.col("exp_owner"))),
        ("total_supply_mismatch", ~F.col("total_supply_hex").eqNullSafe(F.col("exp_total_supply_hex"))),
    ]
    err = None
    for label, cond in checks:
        err = F.when(cond, F.lit(label)) if err is None else err.when(cond, F.lit(label))
    return joined.select("collection_id", err.alias("error")).filter(F.col("error").isNotNull())


def verify_chain_continuity(
    blocks: DataFrame, min_block: int | None = None, max_block: int | None = None
) -> DataFrame:
    """Chain-linkage check over the blocks bronze: every block's
    ``parent_hash`` must equal the previous block's ``hash`` and heights
    must be gap-free.  A mismatch is the on-disk signature of an unhandled
    reorg (the trail-blocks lag makes them rare, not impossible); a gap is
    a lost batch; two blocks at the SAME height is the classic
    unhandled-reorg signature and gets its own label so triage never
    confuses it with a lost batch.  Returns one row per violation:
    (number, error ∈ {duplicate_height, height_gap, parent_mismatch}).

    The single window serializes whatever it covers, so at 100 TB scale
    the check MUST be range-bounded: ``min_block``/``max_block`` apply the
    height filter BEFORE the window (round 7 — previously the per-range
    compose was docstring advice with no API).  Continuity is transitive,
    so per-range calls whose ranges share ONE overlapping block compose to
    the unbounded answer: ``[0, N] ∪ [N, 2N] ∪ …`` finds exactly the
    unbounded check's violations.  A range ADDITIONALLY asserts that its
    ``min_block`` itself is present: when the first block found in range
    sits above ``min_block``, that first block is flagged ``height_gap`` —
    without this, a gap exactly AT a shared range boundary would be
    invisible to both adjacent ranges (the left range ends before it, the
    right range's first row has no lag predecessor; round-7 review
    finding).  A WHOLLY empty range cannot pass either: when ``min_block``
    is set and the filter yields zero rows, a synthetic
    ``(min_block, height_gap)`` violation is emitted — otherwise a range
    whose every block was lost would produce zero violations and the audit
    would read as clean (round-8 advice finding).  Pick boundaries on
    blocks known to exist (the previous range's committed top — every
    caller has one).
    """
    from pyspark.sql import Window

    if min_block is not None:
        blocks = blocks.filter(F.col("number") >= min_block)
    if max_block is not None:
        blocks = blocks.filter(F.col("number") <= max_block)
    w = Window.orderBy("number")
    prev = blocks.select("number", "hash", "parent_hash").withColumn(
        "prev_number", F.lag("number").over(w)
    ).withColumn("prev_hash", F.lag("hash").over(w))
    empty_range = None
    if min_block is not None:
        # one synthetic row, alive only when the whole range is missing: a
        # 1-row anti-join against (any row in range, limit 1) — both sides
        # are ≤1 row, so the nested-loop anti join is a no-op at scale
        any_row = blocks.select(F.lit(1).alias("one")).limit(1)
        empty_range = (
            blocks.sparkSession.range(1)
            .join(any_row, F.lit(True), "left_anti")
            .select(
                F.lit(min_block).cast("long").alias("number"),
                F.lit("height_gap").alias("error"),
            )
        )
    # duplicate_height must be tested BEFORE the gap check: number ==
    # prev_number fails the +1 test too, and labeling it height_gap (the
    # pre-round-5 behavior) both misclassifies the reorg and makes the
    # parent_hash compare run against the wrong sibling row
    first_gapped = (
        F.col("prev_number").isNull()
        & F.lit(min_block is not None)
        & (F.col("number") > F.lit(min_block if min_block is not None else 0))
    )
    out = prev.filter(F.col("prev_number").isNotNull() | first_gapped).select(
        "number",
        F.when(first_gapped, F.lit("height_gap"))
        .when(F.col("number") == F.col("prev_number"), F.lit("duplicate_height"))
        .when(F.col("number") != F.col("prev_number") + 1, F.lit("height_gap"))
        .when(F.col("parent_hash") != F.col("prev_hash"), F.lit("parent_mismatch"))
        .alias("error"),
    ).filter(F.col("error").isNotNull())
    if empty_range is not None:
        out = out.unionByName(empty_range)
    return out
