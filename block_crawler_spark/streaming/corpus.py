"""Streaming corpus ingestion with cross-batch online deduplication.

The batch dedup operators (``operators.dedup``) answer "is this corpus
internally duplicate-free"; a live training-data pipeline needs the streaming
form: documents arrive continuously, and a document whose fingerprint was
EVER seen before must not enter the corpus — across micro-batches, across
restarts.  ``dropDuplicatesWithinWatermark`` cannot express this (its state
is watermark-bounded by design; corpus membership never expires), so the
operator is a ``foreachBatch`` merge against a durable fingerprint set, the
same pattern the chain tail uses for silver merges (``streaming/tail.py``).
Keyed by the same ``fingerprint()`` column, the native operator and this
gate admit the same set while duplicates arrive inside the watermark
horizon, and diverge exactly where documented: a fingerprint re-arriving
after its key state was evicted is re-admitted natively and still blocked
here (``test_stream_dedup_native_twin_vs_corpus_gate``).

Storage layout (append-only, replay-idempotent), committed through
``streaming.commit``, the protocol the silver store shares:

    root/docs/batch-<id>/...parquet   one directory per committed micro-batch
    root/docs/compact-<n>/            a snapshot folding earlier directories
    root/docs/_LIVE                   pointer: the directories a read includes

``foreachBatch`` hands Spark's monotonic ``batch_id`` to the sink; a
replayed batch (restart between sink write and checkpoint commit) finds its
``batch-<id>`` directory committed and skips — the idempotent foreachBatch
contract (exactly-once corpus content).  The read set and the replay set are
tracked apart: ``_LIVE`` names what a read includes, while each
``batch-<id>/_SUCCESS`` survives compaction as a tombstone, so a replayed
batch id stays a no-op forever.  Compaction writes its snapshot fully
before it flips ``_LIVE`` and prunes data only after the flip, so every
moment reads a consistent corpus.

The seen set lives in derived SIDE TABLES, one narrow directory per live
docs directory, healed from the docs (the single source of truth) whenever
a crash leaves them behind: ``root/index`` holds ``(doc_id, fp[, sig])``,
near-dup stores keep the admitted docs' LSH band rows in ``root/bindex``,
perceptual stores their dHash band rows in ``root/phindex`` (the 8-byte
signature rides each row, so Hamming verification needs no corpus fetch),
and semantic stores their trained-cell memberships and vectors in
``root/vindex``.

Scale shape at 100 TB: the per-batch work is (tiny batch) × (huge seen set),
and BOTH halves of that product are kept off the shuffle path:

* the seen side is a side table — the wide corpus (text bytes, media) is
  never opened on the ingest path except to shingle-verify the handful of
  near-dup candidates;
* every batch-vs-seen join is collision-shaped: the (broadcast) batch keys
  probe the side-table scan (semi-join → tiny hit set), then the batch
  anti-joins the hit set.  A left-anti with the huge set on the right would
  shuffle it every micro-batch — broadcasting the batch side instead means
  the side table is only ever SCANNED, an O(corpus/width) streaming read
  with no exchange.

Each side table is partitioned so a probe prunes its scan statically to the
batch's buckets: ``ibucket = pmod(xxhash64(fp), INDEX_BUCKETS)``; ``bbucket``
and ``pbucket = pmod(xxhash64(band_index, band_value), INDEX_BUCKETS)``;
``vbucket = pmod(cid, min(|codebook|, 1024))``.  The one remaining full-index
consumer (the doc_id identity probe) reads a single pruned column — at 1 B
admitted docs ~8 GB, a per-micro-batch read a 1000-executor cluster
absorbs.  :meth:`CorpusIngestStore.compact` folds the accumulated batch
directories (docs and side tables alike) into one snapshot, out of band.  On
an object store the same layout maps onto transactional tables partitioned
by the bucket columns — nothing else changes.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..functions.text import fingerprint, shingles
from ..operators.dedup import (
    band_buckets,
    band_pairs,
    jaccard_pairs,
    minhash_lsh_candidates,
    minhash_signatures,
)
from . import commit

DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"

# partition count of the fp index (ibucket) and the band tables (bbucket,
# pbucket): a probe reads ~(batch buckets / INDEX_BUCKETS) of its table
INDEX_BUCKETS = 16
# batches at or under this row count broadcast their probe keys into the
# collision joins (the side table is scanned, never exchanged); a larger
# batch — an availableNow backfill can be corpus-scale — is not
# force-broadcast (driver OOM), and AQE picks the join strategy
BROADCAST_MAX_BATCH_ROWS = 1_000_000


def _parse_live(text: str) -> tuple[list[str], set[str]]:
    """``_LIVE``'s ``include:<dir>`` and ``exclude:<batch dir>`` lines."""
    include: list[str] = []
    exclude: set[str] = set()
    for line in text.splitlines():
        kind, _, d = line.partition(":")
        if kind == "include":
            include.append(d)
        elif kind == "exclude":
            exclude.add(d)
        else:
            raise ValueError(f"_LIVE line is neither include: nor exclude: {line!r}")
    return include, exclude


@dataclass
class CorpusIngestStore:
    """A deduplicated corpus under ``root``, fed one micro-batch at a time.

    ``near_dup=True`` additionally blocks MinHash near-duplicates of every
    admitted document (exact-Jaccard-verified, threshold
    ``jaccard_threshold``), storing each admitted doc's minhash signature so
    the admitted side of the LSH band join never re-shingles — the corpus
    scan feeding it reads only (doc_id, sig).  A store's mode is fixed at
    creation (the parquet schema differs); don't flip it mid-corpus."""

    spark: SparkSession
    root: str
    near_dup: bool = False
    jaccard_threshold: float = 0.5
    quality_min_ppm: int | None = None
    # SEMANTIC admission gate, the streaming twin of the batch
    # dedup_semantic_* family: batches must carry an ``embedding
    # array<float>`` column, and a document whose embedding sits within
    # ``semantic_sqdist_max`` (integer micro² L2 — the SAME threshold
    # constant as the batch family) of ANY admitted document in a trained
    # cell it probes is blocked.  The cells come from a ≤SEM_K_MAX-row
    # codebook (train it offline with ``operators.ann.kmeans_lloyd_fixed``)
    # passed as ``semantic_centroids``; the first write pins it to
    # ``root/_centroids`` and later opens use the pinned one, because
    # admission is only consistent across restarts if every batch assigns
    # against the same cells.  Like the batch family, recall is bounded by
    # the assignment trade: a near-dup pair whose probed cells never meet is
    # not blocked (docs/SCALING.md §"Semantic pair-RECALL" measures that
    # trade on the batch side).
    semantic: bool = False
    semantic_sqdist_max: int | None = None
    semantic_centroids: DataFrame | None = None
    # optional Gopher-panel admission screen: a document must pass ALL four
    # rule flags of plans.text_ops.with_gopher_flags (token-count bounds,
    # mean-word-length bounds, stopword evidence, repetition cap) — the
    # SAME definition the doc_gopher_rules registry query aggregates, so
    # batch audit numbers predict streaming admission exactly.  Composes
    # with quality_min_ppm (both screens run before dedup: a rejected doc
    # never enters the seen set, so a later compliant duplicate can still
    # be admitted).
    gopher_rules: bool = False
    # PERCEPTUAL media admission gate, the streaming twin of the batch
    # dHash families: every document's content bytes are fingerprinted by
    # the SAME Arrow-stage ``content_dhash`` the batch
    # ``media_phash_near_dup_pairs`` family uses, and a doc whose 60-bit
    # signature lands within ``phash_max_hamming`` of ANY admitted doc is
    # blocked — the re-encode/level-shift near-dup class a byte-exact fp can
    # never catch.  Candidates come from the batch family's banding (4 ×
    # 15-bit band equi-join) against the ``root/phindex`` band table, whose
    # rows CARRY the full 8-byte signature, so verification is one
    # ``bit_count(xor)`` on the collision row.  Degenerate all-zero
    # signatures (flat content) are admitted but never emit band rows and
    # never block — the batch family's no-evidence policy.  This store
    # ingests text corpora, so the fingerprint runs over the UTF-8 bytes; a
    # media table would point the same stage at its content column.
    media_phash: bool = False
    phash_max_hamming: int = 6
    # admitted-side cell memberships per doc in the SEMANTIC vector table:
    # 1 stores each admitted doc under its top-1 cell; 2 stores both nearest
    # cells (2× vindex size, 2× probe scan) for SYMMETRIC boundary coverage
    # — with the batch-side top-2 probe alone, a pair still slips through
    # when the batch doc's top-2 {A,B} misses the admitted doc's top-1 C
    # although its top-2 is {C,A}.  The first write pins the value to
    # ``root/_VINDEX_PROBES`` and later opens use the pinned one: a heal must
    # re-project the layout ingest wrote.
    vindex_probes: int = 1
    # optional StatsService (streaming/stats.py): per-batch admission
    # counters for the 60 s ticker — corpus.batches / corpus.docs_in
    # (within-batch unique candidates) / corpus.admitted / corpus.blocked /
    # corpus.replays.  The admitted count costs one extra small job per
    # batch (a count of the committed narrow dir), so it only runs when a
    # ticker is attached (the reference's stats writer reports the tail's
    # row volumes the same way, shared.py:187-305)
    stats: object | None = None

    def _docs_root(self) -> str:
        return os.path.join(self.root, "docs")

    def _committed_batches(self) -> list[str]:
        base = self._docs_root()
        try:
            names = os.listdir(base)
        except FileNotFoundError:
            return []
        return sorted(d for d in names if d.startswith("batch-") and commit.committed(os.path.join(base, d)))

    def _live_path(self) -> str:
        return os.path.join(self._docs_root(), "_LIVE")

    def _live(self) -> tuple[list[str], set[str]]:
        """The directories a corpus read includes, and the batch directories
        ``_LIVE`` excludes.  Reads include the snapshot ``_LIVE`` names plus
        every committed batch it does not exclude.  The pointer's
        exclusions — not the later, best-effort data pruning — take folded
        batches out of reads, so a crash at any point between snapshot
        write, pointer flip and pruning still reads each document exactly
        once.  Ingest never touches the pointer: batches committed after a
        compaction are read from the moment they commit."""
        include, exclude = commit.read_pointer(self._live_path(), _parse_live) or ([], set())
        return include + [b for b in self._committed_batches() if b not in exclude], exclude

    def _live_dirs(self) -> list[str]:
        return self._live()[0]

    def compact(self) -> int:
        """Fold every currently-live directory into one snapshot.  Returns
        the number of directories folded (0 = nothing to do).  Out-of-band
        maintenance: safe to run between (not during) ingest batches.
        Replay markers are preserved — a folded ``batch-<id>`` keeps its
        ``_SUCCESS`` tombstone so re-delivery of that id stays a no-op, and
        stays excluded from reads in every later ``_LIVE``."""
        live, excluded = self._live()
        folded = live if len(live) > 1 else []
        if folded:
            base = self._docs_root()
            snap = commit.next_dir(base, "compact")
            # snapshot EXACTLY the captured live list — a batch committed
            # between the listing above and this write must not be folded
            # without also being excluded, or it would be read twice forever
            self.spark.read.parquet(*[os.path.join(base, d) for d in folded]).write.mode(
                "overwrite"
            ).parquet(os.path.join(base, snap))
            excluded |= {d for d in folded if d.startswith("batch-")}
            lines = [f"include:{snap}\n"] + [f"exclude:{d}\n" for d in sorted(excluded)]
            commit.write_pointer(self._live_path(), "".join(lines))  # the commit point
        # Space reclamation only — correctness rests on the pointer.  It also
        # runs with nothing to fold, since a compaction that crashed after
        # its flip and before pruning would otherwise leak that space while
        # the store stays at one live dir.  The side tables then follow the
        # live set (the same source-of-truth rule).
        self._prune_unreferenced(self._live_dirs())
        self._sync_index()
        return len(folded)

    def _prune_unreferenced(self, live: list[str]) -> None:
        """Reclaim space for directories reads no longer reference: data
        files of non-live batch dirs tombstone to bare ``_SUCCESS`` (the
        replay marker must outlive the data); non-live snapshots — the
        superseded one, or one a crash left before its pointer flip — are
        removed whole.  The ``_LIVE`` pointer alone defines the read set,
        so this is safe to re-run after any crash."""
        base = self._docs_root()
        for d in self._committed_batches():
            if d not in live:
                p = os.path.join(base, d)
                for name in os.listdir(p):
                    if name != "_SUCCESS":
                        os.remove(os.path.join(p, name))
        commit.prune(base, "compact", live)

    def _stored_schema(self) -> str:
        return (
            DOC_SCHEMA
            + ", fp string"
            + (", sig array<string>" if self.near_dup else "")
            + (", embedding array<float>" if self.semantic else "")
            + (", dhash long" if self.media_phash else "")
        )

    def corpus(self) -> DataFrame:
        dirs = self._live_dirs()
        if not dirs:
            return self.spark.createDataFrame([], self._stored_schema())
        return self.spark.read.parquet(*[os.path.join(self._docs_root(), d) for d in dirs])

    # -- the seen-set side tables -------------------------------------------
    def _index_root(self) -> str:
        return os.path.join(self.root, "index")

    def _bindex_root(self) -> str:
        """Root of the near-dup band side table: one dir per live docs dir,
        rows ``(doc_id, band_index, band_value)`` partitioned by
        ``bbucket`` — the band analog of the fp-bucketed ``index``."""
        return os.path.join(self.root, "bindex")

    def _vindex_root(self) -> str:
        """Root of the semantic vector side table: one dir per live docs
        dir, rows ``(doc_id, cid, v)`` — the trained-cell membership(s)
        and micro-fixed vector of every admitted doc (one row per doc, or
        two under ``vindex_probes=2``) — partitioned by ``vbucket``, so the
        per-batch semantic probe scans only the cells the batch touches."""
        return os.path.join(self.root, "vindex")

    def _index_schema(self) -> str:
        return "doc_id long, fp string" + (", sig array<string>" if self.near_dup else "")

    def _index_cols(self) -> list[str]:
        return [f.split()[0] for f in self._index_schema().split(",")]

    _BINDEX_COLS = ["doc_id", "band_index", "band_value"]
    _BINDEX_SCHEMA = "doc_id long, band_index int, band_value string"

    # the phash band table carries the full 60-bit signature on every band
    # row (8 bytes — cheaper than a verify-time corpus fetch by orders of
    # magnitude), so the Hamming verification happens ON the collision row
    _PHINDEX_COLS = ["doc_id", "band_index", "band_value", "dhash"]
    _PHINDEX_SCHEMA = "doc_id long, band_index int, band_value long, dhash long"

    def _phindex_root(self) -> str:
        """Root of the perceptual band side table: one dir per live docs
        dir, rows ``(doc_id, band_index, band_value, dhash)`` partitioned
        by ``pbucket`` — the band analog of ``bindex`` for the dHash gate."""
        return os.path.join(self.root, "phindex")

    @staticmethod
    def _phash_bands(sigs: DataFrame) -> DataFrame:
        """(doc_id, dhash) → one row per (doc, band): the batch media
        family's 4 × 15-bit banding (``media_ops.PHASH_BANDS`` over
        ``multimodal.DHASH_BITS``), with all-zero signatures excluded —
        they carry no locality evidence and would be the one hot band
        bucket, so degenerate docs neither block nor get blocked."""
        from ..operators.multimodal import DHASH_BITS
        from ..plans.media_ops import PHASH_BANDS

        width = DHASH_BITS // PHASH_BANDS
        mask = (1 << width) - 1
        return sigs.filter(F.col("dhash") != 0).select(
            "doc_id",
            "dhash",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band_index"),
                            F.shiftright(F.col("dhash"), DHASH_BITS - (b + 1) * width)
                            .bitwiseAND(F.lit(mask))
                            .alias("band_value"),
                        )
                        for b in range(PHASH_BANDS)
                    ]
                )
            ).alias("bd"),
        ).select("doc_id", "bd.band_index", "bd.band_value", "dhash")

    def phash_index(self, buckets: Sequence[int] | None = None) -> DataFrame:
        """The perceptual band side table: one row per (admitted doc, dHash
        band), signature riding along.  ``buckets`` prunes committed dirs
        to those ``pbucket=K`` partitions — the per-batch probe reads
        O(batch band buckets / INDEX_BUCKETS) of the admitted band set.
        Side-effect-free like :meth:`index`: uncovered or unreadable dirs
        project lazily from docs (the stored ``dhash`` column is the
        source of truth; no Arrow re-decode on the heal path)."""

        def project(docs: DataFrame, bucket_list) -> DataFrame:
            out = self._phash_bands(docs.select("doc_id", "dhash"))
            if bucket_list is not None:
                out = out.filter(self._bbucket_expr().isin(bucket_list))
            return out.select(*self._PHINDEX_COLS)

        return self._read_side_table(
            self._phindex_root(),
            self._PHINDEX_COLS,
            self._PHINDEX_SCHEMA,
            "pbucket",
            buckets,
            project,
        )
    _VINDEX_COLS = ["doc_id", "cid", "v"]
    _VINDEX_SCHEMA = "doc_id long, cid long, v array<bigint>"

    def _vindex_buckets(self) -> int:
        """The vector table's bucket count, min(|codebook|, 1024): one dir
        per cell up to a count any store handles.  It derives from the
        codebook the store pins, so every open partitions and prunes on the
        count the layout was written with."""
        self._centroids()  # populate the driver cache
        return min(max(1, len(self._cents_rows[0])), 1024)

    def _vindex_probes(self) -> int:
        """Admitted-side memberships the vindex is written with: the pinned
        ``_VINDEX_PROBES`` once a write has pinned it, else this instance's
        ``vindex_probes``."""
        n = commit.read_pointer(os.path.join(self.root, "_VINDEX_PROBES"), int)
        n = self.vindex_probes if n is None else n
        if n not in (1, 2):
            raise ValueError(f"vindex_probes must be 1 or 2, got {n}")
        return n

    def _pin_semantic(self) -> None:
        """Pin what the vector table's layout depends on — the codebook and
        the membership count — before a write path projects against them."""
        self._pin_centroids()
        commit.pin(os.path.join(self.root, "_VINDEX_PROBES"), str(self._vindex_probes()))

    def _ibucket_expr(self):
        """The index's fp-bucket partition value — a pure function of fp,
        so rows re-bucket identically on every heal and compaction."""
        return F.pmod(F.xxhash64(F.col("fp")), F.lit(INDEX_BUCKETS)).cast("int")

    def _bbucket_expr(self):
        """The band tables' partition value (``bbucket``, and ``pbucket``
        in the phash table) — a pure function of the band key, index AND
        value, on which the collision joins match."""
        return F.pmod(F.xxhash64(F.col("band_index"), F.col("band_value")), F.lit(INDEX_BUCKETS)).cast("int")

    def _vbucket_expr(self):
        """The vector table's partition value — a pure function of the
        trained cell id and :meth:`_vindex_buckets`.  cid itself is bounded
        (the caller trains a capped codebook), so plain modulo spreads the
        cells evenly without hashing; up to 1024 cells it is the identity
        partitioning — one dir per cell, so the per-batch probe's footprint
        is EXACTLY the batch's cells."""
        return F.pmod(F.col("cid"), F.lit(self._vindex_buckets())).cast("int")

    def _sqdist_max(self) -> int:
        if self.semantic_sqdist_max is not None:
            return self.semantic_sqdist_max
        from ..plans.embed_ops import SEM_SQDIST_MAX

        return SEM_SQDIST_MAX

    def _pin_centroids(self) -> None:
        """Durably pin the codebook to ``root/_centroids`` — on the WRITE
        paths only (ingest, compact), so reads never modify the store.
        Written to a temp dir and swapped in; a no-op once pinned."""
        dst = os.path.join(self.root, "_centroids")
        if commit.committed(dst):
            return
        if self.semantic_centroids is None:
            raise ValueError(
                "semantic store has no pinned codebook: pass semantic_centroids "
                "(train with operators.ann.kmeans_lloyd_fixed) on first use"
            )
        tmp = f"{dst}.tmp-{os.getpid()}"
        # pin the SAME evaluation this session admits against: _centroids()
        # driver-caches the codebook rows (possibly already, from an earlier
        # read path) and its recreation is what gets written — re-executing
        # self.semantic_centroids here could pin a DIFFERENT evaluation if
        # the caller's lineage is not re-execution-deterministic, making
        # every restart adopt cells this session never used
        self._centroids().write.mode("overwrite").parquet(tmp)
        commit.swap_dir(tmp, dst)

    def _centroids(self) -> DataFrame:
        """The trained-cell codebook (cid, c), driver-cached and READ-ONLY:
        the committed ``root/_centroids`` when present (the disk is the
        truth — admission decisions are only consistent across restarts if
        every batch assigns against the same cells), else the codebook the
        store was constructed with, used without writing it (the write
        paths pin it via :meth:`_pin_centroids`).  Bounded by the caller's
        k cap (the SEM_K_MAX contract of the batch family), so the
        collect/broadcast is constant-sized."""
        cached = getattr(self, "_cents_rows", None)
        if cached is None:
            dst = os.path.join(self.root, "_centroids")
            if commit.committed(dst):
                df = self.spark.read.parquet(dst).select("cid", "c")
            elif self.semantic_centroids is not None:
                df = self.semantic_centroids.select("cid", "c")
            else:
                raise ValueError(
                    "semantic store has no pinned codebook: pass semantic_centroids "
                    "(train with operators.ann.kmeans_lloyd_fixed) on first use"
                )
            cached = (df.collect(), df.schema)
            self._cents_rows = cached
        rows, schema = cached
        return self.spark.createDataFrame(rows, schema)

    def _vindex_project(self, docs: DataFrame) -> DataFrame:
        """Pure projection docs → (doc_id, cid, v, vbucket): re-derives the
        assignment from the PINNED codebook (top-1, or both nearest cells
        when the store pins ``vindex_probes = 2``), so a healed dir is
        bit-identical to the one the ingest path wrote."""
        from ..operators.ann import centroid_assign, centroid_assign_top2, micro_fixed

        vecs = docs.select(F.col("doc_id").alias("vid"), micro_fixed(F.col("embedding")).alias("v"))
        assign = centroid_assign_top2 if self._vindex_probes() == 2 else centroid_assign
        asg = assign(vecs, self._centroids()).join(vecs, "vid")
        return asg.select(F.col("vid").alias("doc_id"), "cid", "v").withColumn(
            "vbucket", self._vbucket_expr()
        )

    @staticmethod
    def _dir_has_data(dst: str) -> bool | None:
        """``True`` iff a committed bucketed dir holds a data file under a
        partition subdir, ``False`` iff it is VERIFIABLY empty (partitionBy
        of zero rows: the listing succeeded and showed no data), ``None``
        iff the listing itself failed (mid-swap, permissions, transient
        I/O).  The three must not be conflated: treating an unreadable dir
        as empty would silently drop its fingerprints from the seen set —
        the caller falls back to the docs projection on ``None`` exactly as
        it does when the parquet open fails."""
        try:
            with os.scandir(dst) as it:
                for e in it:
                    if e.is_dir() and "=" in e.name and os.listdir(e.path):
                        return True
        except OSError:
            return None
        return False

    def _heal_side_table(self, live: list[str], root: str, project, bucket_col: str) -> None:
        """Heal ONE side table against the live docs set: (re)project
        uncovered dirs from docs, prune dirs whose docs dir is no longer
        live.  ``project(docs_df)`` returns the rows to store;
        ``bucket_col`` is the partition column."""
        for d in live:
            dst = os.path.join(root, d)
            if commit.committed(dst):
                continue
            tmp = f"{dst}.tmp-{os.getpid()}"
            shutil.rmtree(tmp, ignore_errors=True)
            project(self.spark.read.parquet(os.path.join(self._docs_root(), d))).write.mode(
                "overwrite"
            ).partitionBy(bucket_col).parquet(tmp)
            commit.swap_dir(tmp, dst)
        keep = set(live)
        try:
            entries = os.listdir(root)
        except OSError:
            return
        for d in entries:
            if d not in keep:
                shutil.rmtree(os.path.join(root, d), ignore_errors=True)

    def _sync_index(self) -> None:
        """Make the durable side tables mirror the docs live set, dir for
        dir.  Docs are the source of truth and every side table is a pure
        projection of them, so this is self-healing against a crash at ANY
        point: a live docs dir with no committed side-table dir gets
        (re)projected; a side-table dir whose docs dir is no longer live
        (folded batch, superseded snapshot) is pruned.

        Runs only on the WRITE paths (ingest, compact), so reads are
        side-effect-free; each projection lands in a temp dir, then swaps
        in.  Idempotent, and cheap when in sync (existence checks only)."""
        live = self._live_dirs()
        cols = self._index_cols()
        self._heal_side_table(
            live,
            self._index_root(),
            lambda docs: docs.select(*cols).withColumn("ibucket", self._ibucket_expr()),
            "ibucket",
        )
        if self.near_dup:
            self._heal_side_table(
                live,
                self._bindex_root(),
                lambda docs: band_buckets(docs.select("doc_id", "sig")).withColumn(
                    "bbucket", self._bbucket_expr()
                ),
                "bbucket",
            )
        if self.media_phash:
            self._heal_side_table(
                live,
                self._phindex_root(),
                lambda docs: self._phash_bands(docs.select("doc_id", "dhash")).withColumn(
                    "pbucket", self._bbucket_expr()
                ),
                "pbucket",
            )
        if self.semantic:
            self._pin_semantic()
            self._heal_side_table(live, self._vindex_root(), self._vindex_project, "vbucket")

    def index(self, buckets: Sequence[int] | None = None) -> DataFrame:
        """The narrow seen-set table: (doc_id, fp[, sig]) for every admitted
        document.  Side-effect-free: committed index dirs are scanned; a
        dir the durable heal hasn't covered yet (crash window) is projected
        LAZILY from its docs dir — the read stays correct without writing
        anything (durable healing happens on the ingest/compact paths via
        ``_sync_index``).

        ``buckets`` prunes committed dirs to those ``ibucket=K`` partitions
        (static ``PartitionFilters``) and applies the same predicate as a
        data filter to any lazily-projected dir — the exact-dedup fp probe
        reads O(batch buckets / INDEX_BUCKETS) of the seen set."""

        def project(docs: DataFrame, bucket_list) -> DataFrame:
            if bucket_list is not None:
                docs = docs.filter(self._ibucket_expr().isin(bucket_list))
            return docs.select(*self._index_cols())

        return self._read_side_table(
            self._index_root(),
            self._index_cols(),
            self._index_schema(),
            "ibucket",
            buckets,
            project,
        )

    def band_index(self, buckets: Sequence[int] | None = None) -> DataFrame:
        """The near-dup band side table: one row per (admitted doc, LSH
        band) — ``(doc_id, band_index, band_value)``.  ``buckets`` prunes
        committed dirs to those ``bbucket=K`` partitions, so the per-batch
        band probe reads O(batch band buckets / INDEX_BUCKETS) of the
        admitted band set instead of re-deriving bands from every admitted
        signature.  Side-effect-free like :meth:`index`: uncovered or
        unreadable dirs project lazily from docs (the source of truth)."""

        def project(docs: DataFrame, bucket_list) -> DataFrame:
            out = band_buckets(docs.select("doc_id", "sig"))
            if bucket_list is not None:
                out = out.filter(self._bbucket_expr().isin(bucket_list))
            return out.select(*self._BINDEX_COLS)

        return self._read_side_table(
            self._bindex_root(),
            self._BINDEX_COLS,
            self._BINDEX_SCHEMA,
            "bbucket",
            buckets,
            project,
        )

    def vindex(self, buckets: Sequence[int] | None = None) -> DataFrame:
        """The semantic vector side table: (doc_id, cid, v) per admitted
        doc.  ``buckets`` prunes committed dirs to those ``vbucket=K``
        partitions — the per-batch semantic probe reads only the admitted
        rows of the CELLS the batch touches (≤ batch_rows distinct cells),
        never the whole admitted vector set.  Side-effect-free like
        :meth:`index`: uncovered or unreadable dirs project lazily from
        docs + the pinned codebook (the source of truth)."""

        def project(docs: DataFrame, bucket_list) -> DataFrame:
            out = self._vindex_project(docs)
            if bucket_list is not None:
                out = out.filter(F.col("vbucket").isin(bucket_list))
            return out.select(*self._VINDEX_COLS)

        return self._read_side_table(
            self._vindex_root(),
            self._VINDEX_COLS,
            self._VINDEX_SCHEMA,
            "vbucket",
            buckets,
            project,
        )

    def _read_side_table(
        self,
        root: str,
        cols: list[str],
        schema: str,
        bucket_col: str,
        buckets: Sequence[int] | None,
        project,
    ) -> DataFrame:
        """Shared read path of the side tables.  Per live dir: a committed
        dir WITH data files scans (bucket partition filters applied); a
        committed dir with no data files is genuinely empty (partitionBy of
        zero rows) and contributes nothing; a dir that is uncovered,
        mid-swap, or FAILS to read falls back to ``project``-ing the docs
        dir — a read failure must never silently shrink the seen set."""
        dirs = self._live_dirs()
        if not dirs:
            return self.spark.createDataFrame([], schema)
        bucket_list = [int(b) for b in buckets] if buckets is not None else None
        parts: list[DataFrame] = []
        for d in dirs:
            df = None
            dst = os.path.join(root, d)
            if commit.committed(dst):
                has_data = self._dir_has_data(dst)
                if has_data is False:
                    continue  # VERIFIED committed-empty: zero rows stored
                if has_data:  # None (unreadable listing) keeps df=None → docs fallback
                    try:
                        # footer/schema failures surface here (Spark runs the
                        # footer-inference job eagerly) — as AnalysisException or
                        # a raw SparkException depending on where the corruption
                        # bites, so the net is deliberately wide: ANY failure to
                        # open the side table falls back to the docs projection
                        # (correct, merely slower); only a failure mid-query of a
                        # successfully opened dir still propagates (fail loud)
                        df = self.spark.read.parquet(dst)
                        if bucket_list is not None and bucket_col in df.columns:
                            df = df.filter(F.col(bucket_col).isin(bucket_list))
                        df = df.select(*cols)
                    except Exception:  # noqa: BLE001 — fallback is the source of truth
                        df = None
            if df is None:
                df = project(self.spark.read.parquet(os.path.join(self._docs_root(), d)), bucket_list)
            parts.append(df)
        if not parts:
            return self.spark.createDataFrame([], schema)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def seen_fingerprints(self) -> DataFrame:
        """The dedup state: every fingerprint ever admitted — a scan of the
        index side table, not of the wide corpus."""
        return self.index().select("fp")

    def ingest_batch(self, batch: DataFrame, batch_id: int) -> None:
        """Admit a micro-batch: fingerprint → within-batch keep-lowest-id →
        anti-join against every previously admitted fingerprint → commit as
        an immutable ``batch-<id>`` directory.  Re-invocation with an
        already-committed id is a no-op (replay after crash)."""
        out = os.path.join(self._docs_root(), f"batch-{batch_id}")
        if self.semantic:
            # pinned up front, so a crash anywhere past this point leaves a
            # store that heals without the constructor-supplied centroids
            self._pin_semantic()
        if commit.committed(out):
            if self.stats is not None:
                self.stats.increment("corpus.replays")
            return
        if self.quality_min_ppm is not None:
            # quality gate BEFORE dedup: rejected docs never enter the seen
            # set, so a later higher-quality duplicate can still be admitted.
            # Same formula (and therefore same thresholds) as the batch
            # pipeline's doc_quality_ppm.
            from ..plans.text_ops import with_quality_ppm

            orig_cols = batch.columns  # with_quality_ppm overwrites n_chars
            batch = (
                with_quality_ppm(batch)
                .filter(F.col("quality_ppm") >= self.quality_min_ppm)
                .select(*orig_cols)
            )
        if self.gopher_rules:
            # rule screen BEFORE dedup, same rationale as the quality gate
            from ..plans.text_ops import with_gopher_flags

            orig_cols = batch.columns
            batch = (
                with_gopher_flags(batch)
                .filter(F.col("p_len") & F.col("p_wordlen") & F.col("p_stop") & F.col("p_rep"))
                .select(*orig_cols)
            )
        fresh = batch.withColumn("fp", fingerprint(F.col("text")))
        firsts = fresh.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
        # cache the within-batch survivors: they feed the batch count (the
        # broadcast gate), the fp-bucket probe list, the dedup joins, and in
        # near-dup mode the signature stage — one lineage run per batch
        fresh = fresh.join(firsts, ["fp", "doc_id"], "semi").cache()
        to_unpersist: list[DataFrame] = [fresh]
        try:
            # ONE driver job yields both the batch count (the broadcast gate)
            # and the fp-bucket footprint (the index scan pruning list).  The
            # band-bucket probe in _near_dup_filter stays a separate job by
            # necessity: band rows only exist after the signature stage,
            # which runs on the post-exact-dedup survivors.
            bucket_rows = fresh.groupBy(self._ibucket_expr().alias("b")).count().collect()
            n_rows = sum(r["count"] for r in bucket_rows)
            small = n_rows <= BROADCAST_MAX_BATCH_ROWS
            fp_buckets = sorted(r["b"] for r in bucket_rows)
            fresh = self._exact_dedup_filter(fresh, small_batch=small, fp_buckets=fp_buckets)
            cols = [f.split()[0] for f in DOC_SCHEMA.split(",")] + ["fp"]
            if self.near_dup:
                # the exact-dedup lineage (cached batch → anti-join vs the
                # seen set) feeds both the signature stage and the final
                # survivor join — cache it so it runs once per batch
                fresh = fresh.cache()
                to_unpersist.append(fresh)
                fresh, staged = self._near_dup_filter(fresh, small_batch=small)
                to_unpersist.extend(staged)
                cols.append("sig")
            if self.semantic:
                # after the text-level gates: a doc must be textually fresh
                # AND semantically fresh to enter the seen set
                fresh = fresh.cache()
                to_unpersist.append(fresh)
                fresh = self._semantic_filter(fresh, small_batch=small)
                cols.append("embedding")
            if self.media_phash:
                # after every other gate: a doc must also be PERCEPTUALLY
                # fresh (no admitted doc within phash_max_hamming)
                fresh = fresh.cache()
                to_unpersist.append(fresh)
                fresh, ph_staged = self._phash_filter(fresh, small_batch=small)
                to_unpersist.extend(ph_staged)
                cols.append("dhash")
            fresh.select(*cols).write.mode("overwrite").parquet(out)
        finally:
            for df in to_unpersist:
                df.unpersist()
        # commit the batch's index projection AFTER the docs commit (docs are
        # the source of truth; a crash in between is healed by the next
        # ingest/compact, and reads lazily project uncovered dirs meanwhile)
        self._sync_index()
        if self.stats is not None:
            admitted = self.spark.read.schema(self._stored_schema()).parquet(out).count()
            self.stats.increment("corpus.batches")
            self.stats.increment("corpus.docs_in", n_rows)
            self.stats.increment("corpus.admitted", admitted)
            self.stats.increment("corpus.blocked", n_rows - admitted)

    def _hint(self, df: DataFrame, small_batch: bool) -> DataFrame:
        """Broadcast the batch-derived side only when the batch is known
        small; a corpus-scale backfill batch keeps the default strategy
        (AQE still broadcasts at runtime if its stats allow) instead of a
        forced driver-OOM broadcast."""
        return F.broadcast(df) if small_batch else df

    def _exact_dedup_filter(
        self,
        fresh: DataFrame,
        small_batch: bool = True,
        fp_buckets: Sequence[int] | None = None,
    ) -> DataFrame:
        """Cross-batch exact dedup, collision-shaped: probe the index scan
        with the (small-batch: broadcast) batch keys — semi-join →
        batch-bounded hit sets — then anti-join the batch against the hits.
        The alternative — batch LEFT ANTI seen-set — puts the corpus-scale
        side on the build side of the join and shuffles it every
        micro-batch; this way the index is only scanned, never exchanged.
        The fp probe additionally prunes the scan to the batch's fp buckets
        (``fp_buckets`` — partition filters on the bucketed index layout),
        so it reads O(batch buckets / INDEX_BUCKETS) of the seen set; the
        doc_id probe keys don't correlate with fp buckets and scan the full
        (single-column-pruned) index — the documented residual.  doc_id is
        the corpus identity: a re-arriving id (even with revised text) never
        re-enters — this also keeps the near-dup verification sound, whose
        shingle frames assume one row per id."""
        idx = self.index()
        id_hits = idx.join(self._hint(fresh.select("doc_id"), small_batch), "doc_id", "semi").select(
            "doc_id"
        )
        fresh = fresh.join(id_hits, "doc_id", "anti")
        idx_fp = self.index(buckets=fp_buckets) if fp_buckets is not None else idx
        fp_hits = idx_fp.join(self._hint(fresh.select("fp"), small_batch), "fp", "semi").select("fp")
        return fresh.join(fp_hits, "fp", "anti")

    def _near_dup_filter(
        self, fresh: DataFrame, small_batch: bool = True
    ) -> tuple[DataFrame, list[DataFrame]]:
        """Drop near-duplicates, first within the batch (keep-lowest-id),
        then against every admitted document.  Candidates come from LSH band
        equi-joins — the admitted side read from the BAND index table's
        stored (doc_id, band_index, band_value) rows with the scan pruned to
        the batch's band buckets (no re-shingling, no wide-corpus scan, no
        full-signature re-banding), the batch side broadcast (small
        batches) so the admitted side never shuffles; every candidate is
        verified on true shingle sets before it blocks anything.  Only the
        verified candidates' text is fetched from the corpus (semi-join
        with the candidate ids).  The batch's band rows are consumed twice
        (the bucket-probe collect, then the collision join) and ``cross`` —
        the band collision pairs — is consumed twice (candidate ids for the
        text fetch, then the verify join), so both are persisted for the
        batch.  Returns (survivors with their ``sig`` column, the persisted
        frames for the caller to unpersist after its write action)."""
        staged: list[DataFrame] = []
        sigs, sig_stage = minhash_signatures(fresh.select("doc_id", "text"), return_staged=True)
        if sig_stage is not None:
            staged.append(sig_stage)
        in_pairs = jaccard_pairs(
            sigs, minhash_lsh_candidates(sigs), threshold=self.jaccard_threshold
        )
        drop_in = in_pairs.select(F.col("id_b").alias("doc_id")).distinct()
        sigs = sigs.join(drop_in, "doc_id", "anti")

        batch_bands = band_buckets(sigs.select("doc_id", "sig")).cache()
        staged.append(batch_bands)
        # the batch's band-bucket footprint: ≤ batch_rows × n_bands values,
        # collected driver-side to drive static partition pruning of the
        # admitted band table (the ibucket idiom, applied to bands)
        bbuckets = sorted(
            r["b"] for r in batch_bands.select(self._bbucket_expr().alias("b")).distinct().collect()
        )
        cross = band_pairs(
            self.band_index(buckets=bbuckets),
            self._hint(batch_bands, small_batch),
        ).cache()
        staged.append(cross)
        old_sh = (
            self.corpus()
            .join(
                self._hint(cross.select(F.col("id_a").alias("doc_id")).distinct(), small_batch),
                "doc_id",
                "semi",
            )
            .select("doc_id", shingles(F.col("text")).alias("shingles"))
        )
        sh_both = sigs.select("doc_id", "shingles").unionByName(old_sh)
        verified = jaccard_pairs(sh_both, cross, threshold=self.jaccard_threshold)
        drop_cross = verified.select(F.col("id_b").alias("doc_id")).distinct()
        sigs = sigs.join(drop_cross, "doc_id", "anti")
        return fresh.join(sigs.select("doc_id", "sig"), "doc_id"), staged

    def _phash_filter(
        self, fresh: DataFrame, small_batch: bool = True
    ) -> tuple[DataFrame, list[DataFrame]]:
        """Drop perceptual near-duplicates, first within the batch
        (keep-lowest-id), then against every admitted document.  The
        fingerprint is the REAL Arrow-stage ``content_dhash`` over the
        document's UTF-8 bytes (content never leaves the stage; 24-byte
        signature rows are all that moves).  Candidates come from the
        batch family's 4 × 15-bit band equi-join — within the batch a
        band self-join, cross-batch a probe of the admitted band table
        with the scan pruned to the batch's band buckets (the bindex
        idiom) and the batch side broadcast, so the admitted side is only
        ever SCANNED.  Verification is exact ``bit_count(xor)`` ON the
        collision row (the stored signature rides the band rows — no
        corpus fetch, unlike the minhash gate).  The batch's band rows
        are consumed twice (bucket-probe collect, then both collision
        joins), so they are persisted for the batch.  Returns (survivors
        with their ``dhash`` column, persisted frames for the caller to
        unpersist after its write action)."""
        from ..operators.multimodal import content_dhash

        staged: list[DataFrame] = []
        h = self.phash_max_hamming
        sigs = content_dhash(
            fresh.select(
                F.col("doc_id").alias("media_id"), F.encode(F.col("text"), "UTF-8").alias("content")
            )
        ).select(F.col("media_id").alias("doc_id"), "dhash")
        bands = self._phash_bands(sigs).cache()
        staged.append(bands)
        # within-batch: keep-lowest-id among verified band-collision pairs
        a = bands.select(
            F.col("doc_id").alias("id_a"), "band_index", "band_value", F.col("dhash").alias("ha")
        )
        b = bands.select(
            F.col("doc_id").alias("id_b"), "band_index", "band_value", F.col("dhash").alias("hb")
        )
        drop_in = (
            a.join(b, ["band_index", "band_value"])
            .filter(F.col("id_a") < F.col("id_b"))
            .filter(F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))) <= h)
            .select(F.col("id_b").alias("doc_id"))
            .distinct()
        )
        sigs = sigs.join(drop_in, "doc_id", "anti")
        surv_bands = bands.join(drop_in, "doc_id", "anti")
        # the batch's band-bucket footprint drives static partition pruning
        # of the admitted band table (the bbucket idiom)
        pbuckets = sorted(
            r["p"]
            for r in surv_bands.select(self._bbucket_expr().alias("p")).distinct().collect()
        )
        probe = self._hint(
            surv_bands.select("doc_id", "band_index", "band_value", F.col("dhash").alias("hb")),
            small_batch,
        )
        drop_cross = (
            self.phash_index(buckets=pbuckets)
            .join(probe, ["band_index", "band_value"])
            .filter(F.bit_count(F.col("dhash").bitwiseXOR(F.col("hb"))) <= h)
            .select(probe["doc_id"].alias("doc_id"))
            .distinct()
        )
        sigs = sigs.join(drop_cross, "doc_id", "anti")
        return fresh.join(sigs.select("doc_id", "dhash"), "doc_id"), staged

    def _semantic_filter(self, fresh: DataFrame, small_batch: bool = True) -> DataFrame:
        """Drop semantic near-duplicates, first within the batch
        (keep-lowest-id), then against every admitted document.  The BATCH
        side probes its TWO nearest cells: with a single probe, a near-dup
        whose top-1 cell differed from its admitted twin's was admitted —
        the cell-boundary loss the batch family measured dominating and
        mitigated with mp2.  The ADMITTED side stores one membership per
        doc by default (a candidate pair is generated when EITHER of the
        batch doc's probes lands in an admitted membership cell, so
        catching most boundary-straddlers needs no admitted-side storage
        change, at ~2× probe cost); ``vindex_probes=2`` stores both
        admitted memberships for symmetric coverage of the
        probe-sets-share-no-cell residual.

        Shape mirrors the band probe: top-2 assignment against the ≤k-row
        broadcast codebook (two passes, no exploded shuffle —
        ``operators.ann.centroid_assign_top2``), collect the batch's
        cell-bucket footprint driver-side (≤ 2·batch_rows values) to
        statically prune the admitted vector table's scan, then equi-join
        on cid with the batch side broadcast — the admitted side is only
        ever SCANNED.  Every candidate is verified on exact integer sqdist
        before it blocks anything.  Per-batch cost is
        |batch| × (admitted rows in the batch's ≤2·|batch| cells):
        collision-shaped like the band probe; a hot cell makes the probe
        linear in that cell's population — the documented residual (the
        batch side caps pair GENERATION with SEM_CELL_CAP shards, but an
        admission probe must consult every admitted member of the cell or
        it would re-admit a duplicate)."""
        from ..operators.ann import centroid_assign_top2, int_sqdist, micro_fixed

        dmax = self._sqdist_max()
        vecs = fresh.select(F.col("doc_id").alias("vid"), micro_fixed(F.col("embedding")).alias("v"))
        asg = centroid_assign_top2(vecs, self._centroids(), keep_v=True).select(
            "vid", "cid", "v"
        )
        # within-batch keep-lowest-id: a pair is a candidate when ANY of
        # the two probes of one member lands in a probe cell of the other
        # (a pair sharing both cells dedupes via the id_b distinct)
        a = asg.select(F.col("vid").alias("id_a"), "cid", F.col("v").alias("va"))
        b = asg.select(F.col("vid").alias("id_b"), "cid", F.col("v").alias("vb"))
        drop_in = (
            a.join(b, "cid")
            .filter(F.col("id_a") < F.col("id_b"))
            .filter(int_sqdist(F.col("va"), F.col("vb")) <= dmax)
            .select(F.col("id_b").alias("vid"))
            .distinct()
        )
        asg = asg.join(drop_in, "vid", "anti")
        # the batch's cell-bucket footprint (≤ batch_rows values) — the
        # whole asg lineage re-derives from the caller-cached batch, so no
        # extra persist is needed for this one extra small job
        vbuckets = sorted(
            r["b"] for r in asg.select(self._vbucket_expr().alias("b")).distinct().collect()
        )
        hits = (
            self.vindex(buckets=vbuckets)
            .withColumnRenamed("v", "v_adm")
            .join(self._hint(asg, small_batch), "cid")
            .filter(int_sqdist(F.col("v_adm"), F.col("v")) <= dmax)
            .select(F.col("vid").alias("doc_id"))
            .distinct()
        )
        drop_in_ids = drop_in.select(F.col("vid").alias("doc_id"))
        return fresh.join(drop_in_ids, "doc_id", "anti").join(hits, "doc_id", "anti")

    def _pin_checkpoint(self, checkpoint_dir: str) -> None:
        """The ``batch-<id>`` replay tombstones are only meaningful for the
        checkpoint whose epoch numbering produced them: a different (or
        reset) checkpoint restarts batch ids at 0, and its early batches
        would silently no-op against the old markers.  Pin the checkpoint on
        first stream start; refuse a different one thereafter."""
        norm = os.path.abspath(checkpoint_dir)
        pinned = commit.pin(os.path.join(self.root, "_STREAM_CHECKPOINT"), norm)
        if pinned != norm:
            raise ValueError(
                f"corpus at {self.root} is bound to checkpoint {pinned}; streaming it "
                f"with {norm} would collide batch ids with committed replay markers. "
                "Use the original checkpoint, or a fresh corpus root."
            )

    def start_stream(
        self,
        source_dir: str,
        checkpoint_dir: str,
        available_now: bool = True,
        max_files_per_trigger: int | None = None,
    ) -> StreamingQuery:
        """Tail a document drop-directory into the deduplicated corpus.

        ``max_files_per_trigger`` bounds each micro-batch to that many
        source files — the backfill throttle: draining a corpus-scale drop
        directory as ONE availableNow batch would hit the broadcast gate
        and make the crash-replay unit the whole backfill; splitting keeps
        every batch inside the small-batch fast path and each replay
        O(batch).  (Spark's file source honors maxFilesPerTrigger under
        availableNow by splitting the catalog into multiple batches.)"""
        self._pin_checkpoint(checkpoint_dir)
        reader = self.spark.readStream.schema(DOC_SCHEMA)
        if max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
        stream = reader.parquet(source_dir)
        writer = stream.writeStream.foreachBatch(self.ingest_batch).option(
            "checkpointLocation", checkpoint_dir
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()
