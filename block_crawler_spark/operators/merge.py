"""Version-guarded upserts — the universal sink semantic (reference K1–K9).

The reference's DynamoDB writes are all conditional on version attributes
(``nft/data_services/dynamodb.py``): a write wins iff its ``data_version`` is
newer (or equal, for additive updates); ``attribute_version`` breaks ties
inside a run.  That makes every writer idempotent and order-insensitive —
retries and out-of-order arrival are safe (ST4, CHANGES.md v1.1.0).

Here the same semantics are batch-relational: union the existing table with
the incoming rows and keep the winner per key.  This works on plain Parquet
(rewrite) and maps 1:1 onto a Delta ``MERGE`` when a transactional store is
available (the MERGE conditions are documented per function).  At 100 TB the
pattern is partition-overwrite-friendly: group keys are prefix-partitioned by
``blockchain`` so a merge only rewrites touched partitions.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def latest_by_version(df: DataFrame, keys: Sequence[str], version_cols: Sequence[str]) -> DataFrame:
    """Keep the single highest-version row per key (NULL versions lose)."""
    order = [F.col(c).desc_nulls_last() for c in version_cols]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def versioned_upsert(
    existing: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    version_cols: Sequence[str] = ("data_version",),
) -> DataFrame:
    """K1/K2/K5-style conditional put: update wins iff version ≥ existing.

    Delta equivalent::

        MERGE INTO t USING s ON <keys>
        WHEN MATCHED AND (s.v1, ...) >= (t.v1, ...) THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *

    Ties go to the update (the reference's condition is "absent or ≤ new",
    ``dynamodb.py:121-122``), implemented with a source-priority tiebreak.
    """
    e = existing.withColumn("_src", F.lit(0))
    u = updates.withColumn("_src", F.lit(1))
    order = [F.col(c).desc_nulls_last() for c in version_cols] + [F.col("_src").desc()]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        e.unionByName(u, allowMissingColumns=True)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_src")
    )


def metadata_url_upsert(existing: DataFrame, updates: DataFrame, keys: Sequence[str]) -> DataFrame:
    """K3 — conditional update on (data_version, metadata_url_version).

    Wins iff newer ``data_version``, or same ``data_version`` and newer
    ``metadata_url_version_hex`` (``dynamodb.py:140-200``).  The zero-padded
    hex version compares correctly as a string.
    """
    return versioned_upsert(existing, updates, keys, ("data_version", "metadata_url_version_hex"))


def additive_upsert(
    existing: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    qty_col: str = "quantity",
    version_col: str = "data_version",
    drop_zero: bool = False,
) -> DataFrame:
    """K4/K7 — two-phase ADD/SET additive merge.

    Reference semantics (``dynamodb.py:202-268, 365-441``): an update with the
    *same* ``data_version`` as the stored row adds its delta (ADD); a *newer*
    ``data_version`` replaces the value (SET); an older one is ignored.
    Batch-relational form: per key, the winning version is the max seen
    across both sides; the result quantity is the sum of contributions at
    exactly that version.  NULL deltas (uint256 overflow clamp) poison the
    sum to NULL, matching the reference's out-of-range → null behavior.

    ``drop_zero=True`` applies K8 (delete zero-quantity owner rows).

    NOT idempotent across retries: applying the same delta batch twice at
    the same ``data_version`` adds twice (ADVICE r1).  Crawl/tail therefore
    rebuild the owners of each touched collection bucket whole from the
    idempotent transfers table (``folds.owner_balances_from_silver`` +
    ``SilverStore.rebuild_owners``);
    use this merge only when delta delivery is exactly-once.
    """
    e = existing.select(*keys, qty_col, version_col)
    u = updates.select(*keys, qty_col, version_col)
    unioned = e.unionByName(u)
    winner = unioned.groupBy(*keys).agg(F.max(version_col).alias("_win_v"))
    at_winner = unioned.join(winner, list(keys), "inner").filter(F.col(version_col) == F.col("_win_v"))
    any_null = F.max(F.col(qty_col).isNull().cast("int")) == 1
    merged = at_winner.groupBy(*keys).agg(
        F.when(any_null, F.lit(None).cast("decimal(38,0)")).otherwise(F.sum(qty_col)).alias(qty_col),
        F.max(version_col).alias(version_col),
    )
    if drop_zero:
        merged = merged.filter(F.col(qty_col).isNull() | (F.col(qty_col) != 0))
    return merged


def token_state_merge(existing: DataFrame, updates: DataFrame) -> DataFrame:
    """Per-field token-state merge for incremental batches (K2+K4+K5+K3).

    Mirrors the reference's field-level conditional writes on the ``token``
    table:

    * ``quantity`` — additive within a ``data_version``, SET on a newer one
      (K4 two-phase ADD/SET); NULL (overflow clamp) poisons.
    * ``mint_block``/``mint_timestamp``/``original_owner`` — earliest mint
      wins (K2 writes mint fields once; out-of-order batches pick the lower
      mint_block).
    * ``current_owner`` — last-writer-wins on (data_version,
      current_owner_version_hex) (K5).
    * ``metadata_url`` — last-writer-wins on (data_version,
      metadata_url_version_hex) (K3).
    """
    keys = ["blockchain", "collection_id", "token_id_hex"]
    e = existing.withColumn("_src", F.lit(0))
    u = updates.withColumn("_src", F.lit(1))
    unioned = e.unionByName(u, allowMissingColumns=True)

    # two-phase ADD/SET: find the winning data_version per key, then sum
    # quantity contributions at exactly that version (same shape as
    # additive_upsert — aggregates cannot nest)
    winner = unioned.groupBy(*keys).agg(F.max("data_version").alias("_win_v"))
    both = unioned.join(winner, keys, "inner").withColumn(
        "_is_win", F.col("data_version") == F.col("_win_v")
    )

    qty_at_win = F.sum(F.when(F.col("_is_win"), F.col("quantity")))
    qty_poison = F.max((F.col("quantity").isNull() & F.col("_is_win")).cast("int")) == 1

    return both.groupBy(*keys).agg(
        F.first("specification", ignorenulls=True).alias("specification"),
        F.when(qty_poison, F.lit(None).cast("decimal(38,0)")).otherwise(qty_at_win).alias("quantity"),
        F.min_by(
            F.struct("original_owner", "mint_block", "mint_timestamp"),
            F.when(F.col("mint_block").isNotNull(), F.col("mint_block")),
        ).alias("_mint"),
        F.max_by(
            F.struct("current_owner", "current_owner_version_hex"),
            F.when(
                F.col("current_owner_version_hex").isNotNull(),
                F.struct(F.col("data_version"), F.col("current_owner_version_hex")),
            ),
        ).alias("_own"),
        F.max_by(
            F.struct("metadata_url", "metadata_url_version_hex"),
            F.when(
                F.col("metadata_url_version_hex").isNotNull(),
                F.struct(F.col("data_version"), F.col("metadata_url_version_hex")),
            ),
        ).alias("_meta"),
        F.max("data_version").alias("data_version"),
    ).select(
        *keys,
        "specification",
        "quantity",
        F.col("_mint.original_owner").alias("original_owner"),
        F.col("_mint.mint_block").alias("mint_block"),
        F.col("_mint.mint_timestamp").alias("mint_timestamp"),
        F.col("_own.current_owner").alias("current_owner"),
        F.col("_own.current_owner_version_hex").alias("current_owner_version_hex"),
        F.col("_meta.metadata_url").alias("metadata_url"),
        F.col("_meta.metadata_url_version_hex").alias("metadata_url_version_hex"),
        "data_version",
    )


def idempotent_append(
    existing: DataFrame, updates: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """K6 — insert-only merge: new keys appended, existing keys untouched.

    Delta equivalent: ``MERGE ... WHEN NOT MATCHED THEN INSERT *``.
    """
    fresh = updates.dropDuplicates(list(keys)).join(
        existing.select(*keys), list(keys), "left_anti"
    )
    return existing.unionByName(fresh, allowMissingColumns=True)
