"""Parquet-backed silver store with version-guarded merge semantics.

The reference's sink is DynamoDB with conditional writes (K1–K13); here the
same semantics run against plain parquet tables via ``operators.merge``.
On a transactional table format the merge functions map 1:1 onto ``MERGE
INTO`` (conditions documented per function in ``operators.merge``); the
parquet fallback rewrites the table — fine for silver-sized entity state.

Layout: each table has one declared schema (:data:`STORED_SCHEMAS`) and one
on-disk layout.  Every version is written ``partitionBy("blockchain")``;
the three tables that grow with chain history (``tokens``,
``token_transfers``, ``owners``) carry a second partition level,
``cbucket = pmod(xxhash64(collection_id), N_BUCKETS)``.  Reads bind the
declared schema instead of inferring one from the files, so building a
read starts no Spark job, and :meth:`SilverStore.overwrite` rejects a frame
whose columns differ from it.

Pruning: the crawl/tail/CLI paths run per chain, mirroring the reference's
per-blockchain write budget (``nft/bin/load.py:232-233``), and name the
partitions a merge touches — its blockchains and, via
:meth:`SilverStore.touched_buckets`, the collection buckets the batch's
transfers and URI events fall in.  The merge reads only those partitions
(static ``PartitionFilters`` on ``blockchain`` and ``cbucket``) and
rewrites only them.  Untouched ``blockchain=X`` trees and ``cbucket=K``
subtrees are hard-linked file-by-file from the previous version into the
new one (same inode — zero data movement, byte-identical; on an object
store this becomes a metadata copy).  Tail micro-batches touch a handful of collections, so
steady-state merge cost is O(touched collection buckets) for reads and
writes, not O(chain history).

Rebuild granularity: a touched bucket is the unit of state.  Tokens and
owners of a touched ``(blockchain, cbucket)`` partition are recomputed
whole from its committed transfers — no join against the batch's touched
keys.  I/O is unchanged (the scans already read whole buckets and the
rewrite already writes them whole); aggregation covers each touched
bucket's whole history rather than the touched keys' share of it.  Every
owner row of a rewritten bucket carries the batch's ``data_version``;
tokens keep the max of their existing and batch ``data_version``.

Durability: each rewrite lands in a fresh ``v-N`` directory under the table
path, then the one-line ``_CURRENT`` pointer is flipped to it
(``streaming.commit``, the protocol the corpus store shares).  A crash or
executor loss at any point leaves the previous complete version readable —
the single-writer equivalent of a transactional table format's snapshot
commit.  Because the new version is written *beside* the files being read,
the read-modify-write needs no lineage break (no localCheckpoint, no
executor-memory copy of the table).  Superseded versions are pruned only
after the pointer flip succeeds.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Sequence
from dataclasses import dataclass, field
from functools import cache
from urllib.parse import unquote

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from ..operators import merge as M
from ..schemas import (
    COLLECTION_SCHEMA,
    CRAWLER_CONFIG_SCHEMA,
    OWNER_SCHEMA,
    TOKEN_SCHEMA,
    TOKEN_TRANSFER_SCHEMA,
)
from . import commit

# The one stored schema per table.  Silver tokens carry the ERC-165 probe
# result, silver transfers the ERC-1155 batch disambiguator.  New
# StructTypes, because StructType.add mutates in place.
STORED_SCHEMAS = {
    "collections": COLLECTION_SCHEMA,
    "tokens": StructType(TOKEN_SCHEMA.fields + [StructField("specification", StringType(), True)]),
    "token_transfers": StructType(
        TOKEN_TRANSFER_SCHEMA.fields + [StructField("batch_index", IntegerType(), True)]
    ),
    "owners": OWNER_SCHEMA,
    "crawler_config": CRAWLER_CONFIG_SCHEMA,
}

KEYS = {
    "collections": ["blockchain", "collection_id"],
    "tokens": ["blockchain", "collection_id", "token_id_hex"],
    "token_transfers": ["blockchain", "collection_id", "attribute_version_hex", "token_id_hex", "batch_index"],
    "owners": ["blockchain", "account", "collection_id", "token_id_hex"],
    "crawler_config": ["blockchain"],
}

# history-sized tables get the collection-bucket partition level; collections
# and crawler_config stay blockchain-only (small, and bucketing them would
# just multiply file count)
_BUCKETED = frozenset({"tokens", "token_transfers", "owners"})
_CBUCKET = StructField("cbucket", IntegerType(), True)
# collection buckets per blockchain: the unit a merge reads and rewrites
N_BUCKETS = 16


# Fixed expressions are built once per process (see operators.decode's
# build-once rule): Columns are unresolved and session-independent.
@cache
def _bucket() -> Column:
    """The collection-bucket partition value — a pure function of
    collection_id, so rows re-bucket identically on every rewrite."""
    return F.pmod(F.xxhash64(F.coalesce(F.col("collection_id"), F.lit(""))), F.lit(N_BUCKETS)).cast("int")


def _version(text: str) -> str:
    """A ``_CURRENT`` pointer's content: the ``v-N`` directory it names."""
    if not (text.startswith("v-") and text[2:].isdigit()):
        raise ValueError(f"_CURRENT names no version: {text!r}")
    return text


@cache
def _stored_cols(table: str) -> tuple[Column, ...]:
    return tuple(F.col(name) for name in STORED_SCHEMAS[table].names)


@cache
def _stored_casts(table: str) -> tuple[Column, ...]:
    return tuple(F.col(f.name).cast(f.dataType).alias(f.name) for f in STORED_SCHEMAS[table].fields)


@dataclass
class SilverStore:
    spark: SparkSession
    root: str
    # blockchain -> (crawler_config pointer stamp, config) of this store's
    # last set_config; see get_config
    _configs: dict = field(default_factory=dict, init=False, repr=False, compare=False)

    def _path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def touched_buckets(self, rows: DataFrame) -> list[int]:
        """Distinct cbucket values of ``rows`` (any frame with a
        ``collection_id``) — at most ``N_BUCKETS`` ints, collected once per
        batch and shared by all three entity-table rewrites."""
        return sorted(r[0] for r in rows.select(_bucket()).distinct().collect())

    def _current_version(self, table: str) -> str | None:
        """The version ``_CURRENT`` names; ``None`` only while the table
        has no pointer.  An unreadable pointer raises: taken for "no
        version", it would make the next overwrite commit a table holding
        only its own rows and prune the real one."""
        return commit.read_pointer(os.path.join(self._path(table), "_CURRENT"), _version)

    def _frame(self, table: str, row: Sequence | None = None) -> DataFrame:
        """``row`` (or no row) under the table's stored schema, projected
        from ``spark.range(1)``.  The empty frame ends in ``limit(0)``, which
        the optimizer folds to an empty ``LocalRelation``: collecting it
        starts no Spark job, and a merge into an empty table prunes its
        joins.  ``createDataFrame`` would plan an opaque Python RDD
        instead."""
        fields = STORED_SCHEMAS[table].fields
        values = row if row is not None else [None] * len(fields)
        df = self.spark.range(1).select(
            *[F.lit(v).cast(f.dataType).alias(f.name) for v, f in zip(values, fields)]
        )
        return df if row is not None else df.limit(0)

    def read(
        self,
        table: str,
        blockchains: Sequence[str] | None = None,
        buckets: Sequence[int] | None = None,
    ) -> DataFrame:
        """Scan the current version under its stored schema (an empty frame
        of that schema when no version exists).  ``blockchains``/``buckets``
        filter on the partition columns, so Spark statically prunes the scan
        to the named ``blockchain=X`` / ``cbucket=K`` trees; ``buckets``
        applies to the bucketed tables only.  A merge passes the same
        partitions to :meth:`overwrite`, which hard-links every other one,
        so its pruned existing-side read loses no rows."""
        stored = STORED_SCHEMAS[table]
        cur = self._current_version(table)
        if cur is None:
            return self._frame(table)
        bucketed = table in _BUCKETED
        scan = StructType(stored.fields + [_CBUCKET]) if bucketed else stored
        df = self.spark.read.schema(scan).parquet(os.path.join(self._path(table), cur))
        if blockchains is not None:
            df = df.filter(F.col("blockchain").isin([str(b) for b in blockchains]))
        if buckets is not None and bucketed:
            df = df.filter(F.col("cbucket").isin([int(b) for b in buckets]))
        return df.select(*_stored_cols(table))

    @staticmethod
    def _link_tree(src: str, dst: str) -> None:
        """Recreate ``src`` under ``dst`` hard-linking every file (same
        inode — byte-identical, no data copied); falls back to a real copy
        on filesystems without links (or across devices)."""
        for root, _dirs, files in os.walk(src):
            rel = os.path.relpath(root, src)
            out = os.path.join(dst, rel) if rel != "." else dst
            os.makedirs(out, exist_ok=True)
            for name in files:
                s, d = os.path.join(root, name), os.path.join(out, name)
                try:
                    os.link(s, d)
                except OSError:
                    shutil.copy2(s, d)

    def overwrite(
        self,
        table: str,
        df: DataFrame,
        touched_blockchains: Sequence[str] | None = None,
        touched_buckets: Sequence[int] | None = None,
    ) -> None:
        """Snapshot-commit rewrite: write ``v-N+1`` beside the current
        version, flip ``_CURRENT`` atomically, prune superseded versions.
        ``N`` is the highest version directory on disk, so a version a
        crashed overwrite left behind is never written into, and is pruned
        with the superseded ones.

        ``df`` must carry exactly the table's stored columns (a
        ``ValueError`` names the difference otherwise: a column the stored
        schema lacks would vanish on the next read); they are written in
        stored order and type.

        With ``touched_blockchains`` the rewrite is partition-pruned: only
        those blockchains' rows are written, and every other
        ``blockchain=X`` tree is hard-linked from the current version
        (dynamic-partition-overwrite semantics on the snapshot layout).  On
        the bucketed tables ``touched_buckets`` (see :meth:`touched_buckets`)
        prunes one level deeper: only the touched ``cbucket=K`` subtrees are
        rewritten, the rest hard-link.  A touched partition that ends the
        merge with zero rows has its directory dropped — correct delete
        semantics.  With neither, the table is rewritten fully.

        ``df`` must hold rows of the touched buckets only, and the write
        does not filter on them: a filter would inline the bucket ids into
        the generated code, so every batch would compile its own classes.
        Instead, after the write and before the pointer flip, the new
        version's ``cbucket=K`` directories are listed; if any bucket was
        not named, ``v-N+1`` is deleted and a ``ValueError`` names the
        stray buckets, leaving ``_CURRENT`` and ``v-N`` as they were.

        Retention is one commit deep: ``v-N`` (the version current until
        this flip) survives until the NEXT overwrite, so a concurrent
        reader — or a lazily-evaluated DataFrame handle taken before the
        flip — can still scan its files; only ``v-N-1`` and older are
        deleted now.  The same grace window object stores and table
        formats give their snapshot readers.  Pruning old versions never
        invalidates linked files: links share inodes, so data survives
        until its last referencing version is deleted.
        """
        stored = STORED_SCHEMAS[table]
        if set(df.columns) != set(stored.names):
            missing = [c for c in stored.names if c not in df.columns]
            extra = [c for c in df.columns if c not in stored.names]
            raise ValueError(
                f"{table}: frame columns differ from the stored schema "
                f"(missing {missing}, extra {extra})"
            )
        base = self._path(table)
        os.makedirs(base, exist_ok=True)
        cur = self._current_version(table)
        nxt = commit.next_dir(base, "v")
        bucketed = table in _BUCKETED
        touched = set(touched_blockchains) if touched_blockchains is not None else None
        tb = {int(b) for b in touched_buckets} if bucketed and touched_buckets is not None else None
        out = df.select(*_stored_casts(table))
        if touched is not None:
            out = out.filter(F.col("blockchain").isin(sorted(touched)))
        # The plan may read the current version's files; they stay in place
        # until after the pointer flip, so no lineage break is needed.
        if bucketed:
            out = out.select(F.col("*"), _bucket().alias("cbucket"))
        part_cols = ["blockchain", "cbucket"] if bucketed else ["blockchain"]
        out.write.mode("overwrite").partitionBy(*part_cols).parquet(os.path.join(base, nxt))
        if tb is not None:
            self._reject_stray_buckets(table, os.path.join(base, nxt), tb)
        if cur is not None and (touched is not None or tb is not None):
            cur_path = os.path.join(base, cur)
            for d in os.listdir(cur_path):
                if not d.startswith("blockchain="):
                    continue
                if touched is not None and unquote(d.split("=", 1)[1]) not in touched:
                    self._link_tree(os.path.join(cur_path, d), os.path.join(base, nxt, d))
                elif tb is not None:
                    for b in os.listdir(os.path.join(cur_path, d)):
                        if b.startswith("cbucket=") and int(unquote(b.split("=", 1)[1])) not in tb:
                            self._link_tree(os.path.join(cur_path, d, b), os.path.join(base, nxt, d, b))
        commit.write_pointer(os.path.join(base, "_CURRENT"), nxt)  # the commit point
        commit.prune(base, "v", (nxt, cur))

    @staticmethod
    def _reject_stray_buckets(table: str, version: str, buckets: set[int]) -> None:
        """Delete the uncommitted ``version`` and raise if it holds a
        ``cbucket=K`` directory for a bucket outside ``buckets``."""
        written = {
            int(unquote(b.split("=", 1)[1]))
            for d in os.listdir(version)
            if d.startswith("blockchain=")
            for b in os.listdir(os.path.join(version, d))
            if b.startswith("cbucket=")
        }
        stray = sorted(written - buckets)
        if stray:
            shutil.rmtree(version, ignore_errors=True)
            raise ValueError(f"{table}: rows outside the named buckets, in buckets {stray}")

    # -- merge operations (K1-K9) ------------------------------------------
    def upsert_collections(self, updates: DataFrame, blockchains: Sequence[str] | None = None) -> None:
        self.overwrite(
            "collections",
            M.versioned_upsert(
                self.read("collections", blockchains), updates, KEYS["collections"]
            ),
            touched_blockchains=blockchains,
        )

    def rebuild_tokens(
        self,
        batch_meta: DataFrame,
        blockchains: Sequence[str] | None = None,
        buckets: Sequence[int] | None = None,
    ) -> None:
        """Idempotent tokens update (the retry-safe A1 path, parallel to
        :meth:`rebuild_owners`): rebuild every token of the named partitions
        whole from the committed ``token_transfers`` table.  A retried batch
        — or a bulk crawl re-run over the same bronze — rewrites the same
        values instead of re-adding additive quantities.

        One group-by (``folds.token_state_from_silver``) folds each
        partition's whole transfer history together with its metadata rows:
        the partitions' existing tokens ∪ ``batch_meta``.  Every transfer of
        a token lives in its token's blockchain partition and cbucket, a
        pure function of collection_id, so a token the batch did not touch
        re-derives its stored values.  ``specification`` (an ERC-165 probe
        result, constant per token) and the ``metadata_url`` pair (K3 LWW on
        (data_version, metadata_url_version_hex)) are not functions of the
        transfer stream, so they come from the metadata rows;
        ``data_version`` is their max.  A token without a committed transfer
        gets no row.  ``batch_meta`` holds the token key, those metadata
        columns and ``data_version`` (see
        ``plans.crawl.SilverTables.token_metadata``); it may hold several
        rows per token.
        """
        from ..operators.folds import token_state_from_silver

        transfers = self.read("token_transfers", blockchains, buckets)
        rebuilt = token_state_from_silver(transfers, self.read("tokens", blockchains, buckets), batch_meta)
        self.overwrite("tokens", rebuilt, touched_blockchains=blockchains, touched_buckets=buckets)

    def apply_silver(
        self, silver, data_version: int, blockchains: Sequence[str] | None = None
    ) -> None:
        """The retry-safe sink sequence for one crawl/tail/stream batch —
        the single definition of the idempotence contract, shared by every
        crawl, tail and stream path:

        1. collect the collection buckets the batch's transfers and URI
           events fall in;
        2. commit transfers (keyed idempotent append) — the rebuilds below
           read the COMMITTED table;
        3. rebuild tokens, then owners, of those buckets whole from
           committed history — pure functions of the transfers table, so
           any retry (task, stage, foreachBatch checkpoint recovery, full
           re-crawl) rewrites identical values.

        With ``blockchains=None`` nothing is pruned: the three tables are
        rewritten whole.  ``silver`` is a ``plans.crawl.SilverTables``-shaped
        object (``token_transfers`` and ``token_metadata`` are read); config
        (last_block_id) commits stay with the caller, AFTER this returns.
        """
        # one row per transfer and per URI event, so its buckets cover both
        meta = silver.token_metadata
        # one tiny job (≤ N_BUCKETS rows to the driver) turns every rewrite
        # below from O(chain) into O(touched collection buckets)
        buckets = self.touched_buckets(meta) if blockchains is not None else None
        self.append_transfers(silver.token_transfers, blockchains=blockchains, buckets=buckets)
        self.rebuild_tokens(meta, blockchains=blockchains, buckets=buckets)
        self.rebuild_owners(data_version, blockchains=blockchains, buckets=buckets)

    def append_transfers(
        self,
        updates: DataFrame,
        blockchains: Sequence[str] | None = None,
        buckets: Sequence[int] | None = None,
    ) -> None:
        self.overwrite(
            "token_transfers",
            M.idempotent_append(
                self.read("token_transfers", blockchains, buckets),
                updates,
                KEYS["token_transfers"],
            ),
            touched_blockchains=blockchains,
            touched_buckets=buckets,
        )

    def rebuild_owners(
        self,
        data_version: int,
        blockchains: Sequence[str] | None = None,
        buckets: Sequence[int] | None = None,
    ) -> None:
        """Idempotent owners update (the retry-safe K7 path): rebuild every
        owner row of the named partitions whole from balances recomputed
        over their committed ``token_transfers`` history.  The existing
        owners are not read; every rewritten row carries ``data_version``.
        A retried batch rewrites the same values instead of re-adding
        deltas."""
        from ..operators.folds import owner_balances_from_silver

        balances = owner_balances_from_silver(self.read("token_transfers", blockchains, buckets))
        self.overwrite(
            "owners",
            balances.withColumn("data_version", F.lit(data_version)),
            touched_blockchains=blockchains,
            touched_buckets=buckets,
        )

    def rewind(self, blockchain: str, to_block: int) -> None:
        """Reorg REPAIR (beyond the reference, which only *avoids* reorgs
        via the trail-blocks lag, ``nft/bin/tail.py:34-39``): drop every
        transfer of ``blockchain`` above ``to_block`` and rebuild the
        buckets those transfers fall in from the surviving committed
        history — then a re-crawl/tail from ``to_block + 1`` ingests the
        canonical branch.  Pure reuse of the idempotent rebuild calls: a
        token whose every transfer was orphaned (mint itself rewound)
        disappears; balances re-derive exactly; an untouched blockchain's
        partitions are untouched (pruned rewrite).

        Metadata caveat: ``specification``/``metadata_url`` survive the
        rewind (they merge from existing rows and are not block-attributed)
        — a URI observed only on the orphaned branch persists until the
        canonical branch overwrites it under K3's version rule.

        ``last_block_id`` is clamped to ``to_block`` so the next tail
        resumes at the fork point.
        """
        # collected BEFORE the transfers overwrite: every row the rewind
        # drops or rebuilds lies in these buckets, so the rest stay linkable
        orphaned = self.read("token_transfers", [blockchain]).filter(F.col("block_id") > to_block)
        buckets = self.touched_buckets(orphaned)
        kept = self.read("token_transfers", [blockchain], buckets).filter(F.col("block_id") <= to_block)
        self.overwrite("token_transfers", kept, touched_blockchains=[blockchain], touched_buckets=buckets)
        # no batch rows: metadata merges from the existing tokens alone
        self.rebuild_tokens(self._frame("tokens"), blockchains=[blockchain], buckets=buckets)
        dv, last = self.get_config(blockchain)
        self.rebuild_owners(dv, blockchains=[blockchain], buckets=buckets)
        if last is not None and last > to_block:
            self.set_config(blockchain, dv, to_block)

    # -- control table (K12) -----------------------------------------------
    def _config_stamp(self) -> tuple[str | None, int] | None:
        """The ``crawler_config`` version ``_CURRENT`` names and the
        pointer's mtime.  Every commit replaces the pointer file, so a
        commit by any store on this root changes the stamp."""
        try:
            mtime = os.stat(os.path.join(self._path("crawler_config"), "_CURRENT")).st_mtime_ns
        except FileNotFoundError:
            return None
        return self._current_version("crawler_config"), mtime

    def get_config(self, blockchain: str) -> tuple[int, int | None]:
        """(data_version, last_block_id) — data_version starts at 1.  The
        row this store committed last is returned without a Spark job while
        ``_CURRENT`` still names the version that commit made."""
        known = self._configs.get(blockchain)
        if known is not None and known[0] == self._config_stamp():
            return known[1]
        rows = self.read("crawler_config", blockchains=[blockchain]).collect()
        if not rows:
            return 1, None
        return rows[0]["data_version"], rows[0]["last_block_id"]

    def set_config(self, blockchain: str, data_version: int, last_block_id: int | None) -> None:
        updates = self._frame("crawler_config", (blockchain, data_version, last_block_id))
        # the other blockchains' config partitions hard-link unchanged
        self.overwrite("crawler_config", updates, touched_blockchains=[blockchain])
        last = int(last_block_id) if last_block_id is not None else None
        self._configs[blockchain] = (self._config_stamp(), (int(data_version), last))

    def increment_data_version(self, blockchain: str) -> int:
        """Atomic-enough for a single-writer driver: the reference's
        ``data_version + 1`` run-epoch bump (``shared.py:153-184``)."""
        dv, last = self.get_config(blockchain)
        new = dv + 1
        self.set_config(blockchain, new, last)
        return new

    def reset(self) -> None:
        """K13 — drop all tables."""
        if os.path.exists(self.root):
            shutil.rmtree(self.root)
