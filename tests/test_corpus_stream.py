"""Streaming corpus ingestion with cross-batch dedup (streaming/corpus).

Proves the three contracts: (1) a fingerprint admitted in an earlier
micro-batch blocks later re-admission, (2) within-batch duplicates keep the
lowest doc_id, (3) replay of a committed batch id is a no-op, so the corpus
is exactly-once across restarts.
"""

from __future__ import annotations

import pytest

from block_crawler_spark.streaming import commit
from block_crawler_spark.streaming import corpus as corpus_mod
from block_crawler_spark.streaming.corpus import DOC_SCHEMA, INDEX_BUCKETS, CorpusIngestStore


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", "srcX", len(t)) for i, t in rows], DOC_SCHEMA
    )


def _corpus_ids(store):
    return sorted(r["doc_id"] for r in store.corpus().collect())


def test_stream_ingest_dedups_across_batches_and_restarts(spark, tmp_path):
    src = str(tmp_path / "src")
    ck = str(tmp_path / "ck")
    store = CorpusIngestStore(spark, str(tmp_path / "corpus"))

    # batch 1: doc 2 duplicates doc 1's text (case/whitespace variant)
    _docs(spark, [(1, "spark shuffles data"), (2, "  Spark   SHUFFLES data "), (3, "unique text one")]).write.mode(
        "append"
    ).parquet(src)
    store.start_stream(src, ck).awaitTermination(120)
    assert _corpus_ids(store) == [1, 3]

    # batch 2: doc 4 duplicates batch-1's doc 1 → blocked; doc 5 is new
    _docs(spark, [(4, "spark shuffles data"), (5, "unique text two")]).write.mode("append").parquet(src)
    store.start_stream(src, ck).awaitTermination(120)
    assert _corpus_ids(store) == [1, 3, 5]

    # restart with the same checkpoint: nothing new → corpus unchanged
    store.start_stream(src, ck).awaitTermination(120)
    assert _corpus_ids(store) == [1, 3, 5]

    # batch 3 after "restart": dup of doc 5 + one new doc
    _docs(spark, [(6, "unique  TEXT two"), (7, "unique text three")]).write.mode("append").parquet(src)
    store.start_stream(src, ck).awaitTermination(120)
    assert _corpus_ids(store) == [1, 3, 5, 7]

    # every admitted fingerprint is distinct
    fps = [r["fp"] for r in store.seen_fingerprints().collect()]
    assert len(fps) == len(set(fps)) == 4


def test_compaction_preserves_corpus_and_replay_markers(spark, tmp_path):
    store = CorpusIngestStore(spark, str(tmp_path / "corpus"))
    store.ingest_batch(_docs(spark, [(1, "one two"), (2, "three four")]), 0)
    store.ingest_batch(_docs(spark, [(3, "five six")]), 1)
    before = _corpus_ids(store)

    assert store.compact() == 2
    assert _corpus_ids(store) == before == [1, 2, 3]

    # replay of a folded batch id stays a no-op (tombstoned _SUCCESS)
    store.ingest_batch(_docs(spark, [(9, "would resurrect")]), 0)
    assert _corpus_ids(store) == [1, 2, 3]

    # dedup still sees compacted fingerprints; new batches land beside the snapshot
    store.ingest_batch(_docs(spark, [(4, "ONE  two"), (5, "seven eight")]), 2)
    assert _corpus_ids(store) == [1, 2, 3, 5]

    # second compaction folds the snapshot + the new batch into one
    assert store.compact() == 2
    assert _corpus_ids(store) == [1, 2, 3, 5]
    assert store.compact() == 0  # single live dir: nothing to do


def test_compaction_killed_before_its_pointer_flip_reads_each_doc_once(spark, tmp_path, fail_pointer_flip):
    """A compaction that dies between its snapshot write and the ``_LIVE``
    flip leaves every document readable exactly once and every replay
    marker in force; the next compaction commits and reclaims the orphaned
    snapshot."""
    import os

    store = CorpusIngestStore(spark, str(tmp_path / "corpus"))
    store.ingest_batch(_docs(spark, [(1, "one two"), (2, "three four")]), 0)
    store.ingest_batch(_docs(spark, [(3, "five six")]), 1)
    docs = store._docs_root()

    fail_pointer_flip()
    with pytest.raises(OSError, match="killed before flipping _LIVE"):
        store.compact()
    assert commit.committed(os.path.join(docs, "compact-1")), "the snapshot write finished"
    assert _corpus_ids(store) == [1, 2, 3]
    store.ingest_batch(_docs(spark, [(9, "would resurrect")]), 0)
    assert _corpus_ids(store) == [1, 2, 3], "re-ingesting a batch id is still a no-op"

    assert store.compact() == 2
    assert sorted(d for d in os.listdir(docs) if d.startswith("compact-")) == ["compact-2"]
    assert _corpus_ids(store) == [1, 2, 3]
    store.ingest_batch(_docs(spark, [(9, "would resurrect")]), 1)
    store.ingest_batch(_docs(spark, [(4, "FIVE  six")]), 2)
    assert _corpus_ids(store) == [1, 2, 3]


BASE = "alpha bravo charlie delta echo foxtrot golf hotel india juliett kilo lima mike november oscar papa quebec romeo sierra tango"


@pytest.mark.slow
def test_near_dup_mode_blocks_within_and_across_batches(spark, tmp_path):
    store = CorpusIngestStore(spark, str(tmp_path / "corpus"), near_dup=True)
    near1 = BASE.replace("tango", "zulu")  # 3 of 18 shingles differ → J≈0.71
    distinct = "one two three four five six seven eight nine ten eleven twelve"

    # batch 0: base, a near-dup of base (higher id → dropped), a distinct doc
    store.ingest_batch(_docs(spark, [(1, BASE), (2, near1), (3, distinct)]), 0)
    assert _corpus_ids(store) == [1, 3]

    # batch 1: another near-dup of base → blocked against the ADMITTED set;
    # an exact dup of the distinct doc → blocked by the fingerprint set;
    # a genuinely new doc → admitted
    near2 = BASE.replace("alpha", "yankee")
    new = "red orange yellow green blue indigo violet cyan magenta black white gray"
    store.ingest_batch(_docs(spark, [(4, near2), (5, distinct.upper()), (6, new)]), 1)
    assert _corpus_ids(store) == [1, 3, 6]

    # admitted rows carry their signatures; compaction keeps the mode's schema
    assert "sig" in store.corpus().columns
    assert store.compact() == 2
    assert _corpus_ids(store) == [1, 3, 6]

    # near-dup blocking still works against the compacted snapshot
    store.ingest_batch(_docs(spark, [(7, BASE.replace("echo", "x-ray"))]), 2)
    assert _corpus_ids(store) == [1, 3, 6]


def test_quality_gate_rejects_before_dedup(spark, tmp_path):
    """quality_min_ppm filters at ingest with the batch pipeline's formula,
    and a rejected doc does NOT poison the seen set — a later duplicate of
    its text can still be admitted."""
    from block_crawler_spark.plans.text_ops import with_quality_ppm

    good = BASE + " the of and to in is was for on that"  # stopword-rich
    bad = "!!! ??? ### $$$ %%%"  # punctuation soup, no stopwords
    probe = _docs(spark, [(1, good), (2, bad)])
    scores = {r["doc_id"]: r["quality_ppm"] for r in with_quality_ppm(probe).collect()}
    cut = (scores[1] + scores[2]) // 2

    store = CorpusIngestStore(spark, str(tmp_path / "corpus"), quality_min_ppm=cut)
    store.ingest_batch(probe, 0)
    assert _corpus_ids(store) == [1]
    # the rejected text arrives again above the bar?  No — same text, same
    # score; but a DIFFERENT doc duplicating the GOOD text is still blocked
    # by the fingerprint set, proving dedup still runs after the gate
    store.ingest_batch(_docs(spark, [(3, good)]), 1)
    assert _corpus_ids(store) == [1]


def test_checkpoint_is_pinned_to_the_corpus(spark, tmp_path):
    """Replay tombstones are only valid for the checkpoint that numbered
    them: a different checkpoint must be refused, not silently no-opped."""
    src = str(tmp_path / "src")
    store = CorpusIngestStore(spark, str(tmp_path / "corpus"))
    _docs(spark, [(1, "some text here")]).write.mode("append").parquet(src)
    store.start_stream(src, str(tmp_path / "ck1")).awaitTermination(120)
    assert _corpus_ids(store) == [1]
    with pytest.raises(ValueError, match="bound to checkpoint"):
        store.start_stream(src, str(tmp_path / "ck2"))
    # the original checkpoint still works
    store.start_stream(src, str(tmp_path / "ck1")).awaitTermination(120)
    assert _corpus_ids(store) == [1]


@pytest.mark.slow
def test_rearriving_doc_id_never_readmits(spark, tmp_path):
    """doc_id is the corpus identity: a revised text under an admitted id is
    rejected (and cannot corrupt near-dup verification with duplicate ids)."""
    store = CorpusIngestStore(spark, str(tmp_path / "corpus"), near_dup=True)
    store.ingest_batch(_docs(spark, [(1, BASE)]), 0)
    revised = "completely different words " + " ".join(f"w{i}" for i in range(15))
    store.ingest_batch(_docs(spark, [(1, revised), (2, revised + " tail")]), 1)
    ids = _corpus_ids(store)
    assert ids.count(1) == 1 and len(ids) == 2  # old 1 kept once; 2 admitted
    texts = {r["doc_id"]: r["text"] for r in store.corpus().collect()}
    assert texts[1] == BASE


@pytest.mark.slow
def test_near_dup_ingest_does_not_accumulate_cached_frames(spark, tmp_path):
    """Regression for the per-batch cache leak: a long-running near-dup
    stream must not pin one more shingle/lineage table per micro-batch."""
    store = CorpusIngestStore(spark, str(tmp_path / "corpus"), near_dup=True)
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    for i in range(3):
        store.ingest_batch(_docs(spark, [(10 * i + k, f"text number {10 * i + k} " + BASE) for k in range(3)]), i)
    after = jsc.getPersistentRDDs().size()
    assert after <= before, f"cached RDDs grew {before} -> {after}"


def test_index_side_table_heals_after_crash(spark, tmp_path):
    """A crash between the docs commit and the index write must not lose
    dedup state: docs are the source of truth, and the next read heals the
    index from them — a duplicate of the 'unindexed' batch is still blocked."""
    import os
    import shutil

    store = CorpusIngestStore(spark, str(tmp_path / "corpus"))
    store.ingest_batch(_docs(spark, [(1, "alpha beta gamma")]), 0)
    # simulate the crash window: docs batch-0 committed, index write lost
    shutil.rmtree(os.path.join(store._index_root(), "batch-0"))
    reopened = CorpusIngestStore(spark, str(tmp_path / "corpus"))
    reopened.ingest_batch(_docs(spark, [(2, "ALPHA  beta gamma"), (3, "fresh text")]), 1)
    assert _corpus_ids(reopened) == [1, 3], "healed index must still block the duplicate"
    assert os.path.exists(os.path.join(reopened._index_root(), "batch-0", "_SUCCESS"))


@pytest.mark.slow
def test_index_side_table_consistent_across_compaction(spark, tmp_path):
    """After compaction the index mirrors the docs live set dir-for-dir and
    row-for-row (near-dup mode: signatures included)."""
    import os

    store = CorpusIngestStore(spark, str(tmp_path / "corpus"), near_dup=True)
    store.ingest_batch(_docs(spark, [(1, BASE), (2, "one two three four five six seven")]), 0)
    store.ingest_batch(_docs(spark, [(3, "eight nine ten eleven twelve thirteen")]), 1)
    assert store.compact() == 2
    assert sorted(os.listdir(store._index_root())) == sorted(store._live_dirs())
    idx = {r["doc_id"]: r["fp"] for r in store.index().collect()}
    cor = {r["doc_id"]: r["fp"] for r in store.corpus().collect()}
    assert idx == cor
    assert "sig" in store.index().columns
    # and dedup still works entirely off the folded index
    store.ingest_batch(_docs(spark, [(4, BASE.replace("tango", "zulu"))]), 2)
    assert _corpus_ids(store) == [1, 2, 3]


def test_ingest_plan_joins_against_index_not_corpus(spark, tmp_path):
    """The exact-dedup path must scan the narrow index side table — never the
    wide docs files — and must not shuffle the index side (the batch keys are
    broadcast into collision semi-joins)."""
    from pyspark.sql import functions as F

    from block_crawler_spark.functions.text import fingerprint

    store = CorpusIngestStore(spark, str(tmp_path / "corpus"))
    store.ingest_batch(_docs(spark, [(1, "seed text")]), 0)
    batch = _docs(spark, [(2, "probe text")]).withColumn("fp", fingerprint(F.col("text")))
    # FileScan locations are truncated to spark.sql.maxMetadataStringLength
    # (default 100 — shorter than pytest tmp paths); widen for the assert
    spark.conf.set("spark.sql.maxMetadataStringLength", "1000")
    try:
        plan = store._exact_dedup_filter(batch)._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.unset("spark.sql.maxMetadataStringLength")
    assert "corpus/index" in plan, "dedup must scan the index side table"
    assert "corpus/docs" not in plan, "dedup must not open the wide corpus files"
    assert "BroadcastHashJoin" in plan, "batch keys must broadcast (index side never shuffles)"
    assert "ShuffleExchange" not in plan and "Exchange hashpartitioning" not in plan


def test_ingest_batch_replay_is_noop(spark, tmp_path):
    store = CorpusIngestStore(spark, str(tmp_path / "corpus"))
    b = _docs(spark, [(10, "alpha beta"), (11, "gamma delta")])
    store.ingest_batch(b, 0)
    assert _corpus_ids(store) == [10, 11]
    # replay the SAME batch id with different content — committed dir wins
    store.ingest_batch(_docs(spark, [(12, "would duplicate")]), 0)
    assert _corpus_ids(store) == [10, 11]
    # a new batch id with an already-seen fingerprint admits nothing
    store.ingest_batch(_docs(spark, [(13, "ALPHA   beta")]), 1)
    assert _corpus_ids(store) == [10, 11]


def test_index_is_bucketed_and_fp_probe_prunes_partitions(spark, tmp_path):
    """The index side table is written partitionBy(ibucket = pmod(xxhash64
    (fp), N)); the exact-dedup fp probe passes the batch's fp buckets and
    the scan carries static PartitionFilters — the probe reads O(batch
    buckets / index_buckets) of the seen set, not all of it."""
    import os

    from pyspark.sql import functions as F

    from block_crawler_spark.functions.text import fingerprint

    store = CorpusIngestStore(spark, str(tmp_path / "corpus"))
    store.ingest_batch(_docs(spark, [(1, "seed text one"), (2, "seed text two")]), 0)
    idx_dir = os.path.join(store._index_root(), "batch-0")
    assert any(d.startswith("ibucket=") for d in os.listdir(idx_dir)), "index must be bucketed"

    batch = _docs(spark, [(3, "probe text")]).withColumn("fp", fingerprint(F.col("text")))
    buckets = sorted(r["b"] for r in batch.select(store._ibucket_expr().alias("b")).distinct().collect())
    spark.conf.set("spark.sql.maxMetadataStringLength", "1000")
    try:
        plan = (
            store._exact_dedup_filter(batch, small_batch=True, fp_buckets=buckets)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    finally:
        spark.conf.unset("spark.sql.maxMetadataStringLength")
    assert "PartitionFilters: [ibucket" in plan.replace("PartitionFilters: [isnotnull(ibucket", "PartitionFilters: [ibucket") or (
        "PartitionFilters" in plan and "ibucket" in plan.split("PartitionFilters", 1)[1][:300]
    ), plan
    assert "corpus/docs" not in plan, "committed index dirs must serve the probe, not the corpus"


@pytest.mark.slow
def test_index_read_is_side_effect_free_and_heals_lazily(spark, tmp_path):
    """A read-only consumer gets a complete, correct index without writing
    anything (ADVICE r6 corpus.py:262): with a crashed-away index dir,
    index()/seen_fingerprints() project the missing dir lazily from docs and
    create no files; the durable heal happens on the next ingest."""
    import os
    import shutil

    store = CorpusIngestStore(spark, str(tmp_path / "corpus"))
    store.ingest_batch(_docs(spark, [(1, "alpha beta gamma")]), 0)
    store.ingest_batch(_docs(spark, [(2, "delta epsilon zeta")]), 1)
    shutil.rmtree(os.path.join(store._index_root(), "batch-1"))

    reader = CorpusIngestStore(spark, str(tmp_path / "corpus"))
    fps = sorted(r["fp"] for r in reader.seen_fingerprints().collect())
    assert len(fps) == 2, "lazy projection must cover the uncovered dir"
    assert not os.path.exists(os.path.join(reader._index_root(), "batch-1")), (
        "read path must not write the index"
    )
    # bucket-pruned read over the mixed (committed + lazy) set is correct too
    all_buckets = list(range(INDEX_BUCKETS))
    assert reader.index(buckets=all_buckets).count() == 2
    # the next ingest heals durably — and still blocks the unindexed dup
    reader.ingest_batch(_docs(spark, [(3, "DELTA  epsilon zeta"), (4, "new text here")]), 2)
    assert _corpus_ids(reader) == [1, 2, 4]
    assert os.path.exists(os.path.join(reader._index_root(), "batch-1", "_SUCCESS"))


@pytest.mark.slow
def test_large_batch_skips_forced_broadcast_but_stays_correct(spark, tmp_path, monkeypatch):
    """A batch above BROADCAST_MAX_BATCH_ROWS must not carry a forced
    broadcast hint (an availableNow backfill batch can be corpus-scale);
    dedup results are identical either way."""
    monkeypatch.setattr(corpus_mod, "BROADCAST_MAX_BATCH_ROWS", 0)
    store = CorpusIngestStore(spark, str(tmp_path / "corpus"), near_dup=True)
    store.ingest_batch(_docs(spark, [(1, BASE), (2, "one two three four five six seven")]), 0)
    # exact dup, near dup, and a new doc — all via the unhinted join path
    store.ingest_batch(
        _docs(
            spark,
            [
                (3, BASE.replace("tango", "zulu")),
                (4, "ONE two three four five six seven"),
                (5, "completely new words here padding the shingle count nicely"),
            ],
        ),
        1,
    )
    assert _corpus_ids(store) == [1, 2, 5]


def test_band_index_is_bucketed_and_near_dup_probe_prunes(spark, tmp_path):
    """Near-dup stores keep a second side table (bindex) of exploded LSH band
    rows partitioned by bbucket; the per-batch band probe passes the batch's
    band buckets and the admitted-band scan carries static PartitionFilters
    — the probe reads O(batch band buckets / index_buckets) of the admitted
    band set, never every admitted signature (round 8: previously the last
    unbounded per-batch scan)."""
    import os

    from block_crawler_spark.operators.dedup import band_buckets, band_pairs, minhash_signatures

    store = CorpusIngestStore(spark, str(tmp_path / "corpus"), near_dup=True)
    store.ingest_batch(_docs(spark, [(1, BASE), (2, "one two three four five six seven")]), 0)
    bdir = os.path.join(store._bindex_root(), "batch-0")
    assert os.path.exists(os.path.join(bdir, "_SUCCESS"))
    assert any(d.startswith("bbucket=") for d in os.listdir(bdir)), "band index must be bucketed"

    sigs = minhash_signatures(_docs(spark, [(9, BASE.replace("tango", "zulu"))]).select("doc_id", "text"), materialize=False)
    batch_bands = band_buckets(sigs.select("doc_id", "sig"))
    bb = sorted(r["b"] for r in batch_bands.select(store._bbucket_expr().alias("b")).distinct().collect())
    assert 0 < len(bb) <= INDEX_BUCKETS
    spark.conf.set("spark.sql.maxMetadataStringLength", "1000")
    try:
        plan = (
            band_pairs(store.band_index(buckets=bb), batch_bands)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    finally:
        spark.conf.unset("spark.sql.maxMetadataStringLength")
    assert "PartitionFilters" in plan and "bbucket" in plan.split("PartitionFilters", 1)[1][:300], plan
    assert "corpus/docs" not in plan, "committed band-index dirs must serve the probe, not the corpus"


@pytest.mark.slow
def test_band_index_heals_and_legacy_corpus_adopts_layout(spark, tmp_path):
    """A near-dup corpus written before the band index existed (simulated by
    deleting bindex) still blocks near-dups — band_index() projects lazily
    from docs — and the next ingest heals the band table durably."""
    import os
    import shutil

    store = CorpusIngestStore(spark, str(tmp_path / "corpus"), near_dup=True)
    store.ingest_batch(_docs(spark, [(1, BASE), (2, "one two three four five six seven")]), 0)
    shutil.rmtree(store._bindex_root())

    reader = CorpusIngestStore(spark, str(tmp_path / "corpus"), near_dup=True)
    assert reader.band_index().count() > 0, "lazy projection must cover the missing band table"
    assert not os.path.exists(reader._bindex_root()), "read path must not write the band index"
    # ingest over the legacy layout: near-dup of doc 1 blocked, new doc admitted
    reader.ingest_batch(
        _docs(spark, [(3, BASE.replace("tango", "zulu")), (4, "totally different words here now")]), 1
    )
    assert _corpus_ids(reader) == [1, 2, 4]
    assert commit.committed(os.path.join(reader._bindex_root(), "batch-0"))
    assert commit.committed(os.path.join(reader._bindex_root(), "batch-1"))
    # compaction folds the band table with everything else and stays correct
    assert reader.compact() == 2
    reader.ingest_batch(_docs(spark, [(5, BASE.replace("alpha", "yankee"))]), 2)
    assert _corpus_ids(reader) == [1, 2, 4]


def test_unreadable_index_dir_falls_back_to_docs_not_empty(spark, tmp_path):
    """A committed index dir whose data files fail to read must NOT be
    treated as empty: the read falls back to projecting the docs dir (the
    source of truth), so the seen set never silently shrinks and a
    previously admitted fingerprint cannot be re-admitted (round-8 advice:
    the old path swallowed any AnalysisException as 'committed empty')."""
    import os

    store = CorpusIngestStore(spark, str(tmp_path / "corpus"))
    store.ingest_batch(_docs(spark, [(1, "alpha beta gamma"), (2, "delta epsilon zeta")]), 0)
    idx = os.path.join(store._index_root(), "batch-0")
    # corrupt every data file in place: _SUCCESS and the partition dirs
    # survive, so the dir still looks committed and non-empty
    for sub in os.listdir(idx):
        p = os.path.join(idx, sub)
        if os.path.isdir(p):
            for f in os.listdir(p):
                with open(os.path.join(p, f), "wb") as fh:
                    fh.write(b"not a parquet file")
    reader = CorpusIngestStore(spark, str(tmp_path / "corpus"))
    fps = sorted(r["fp"] for r in reader.seen_fingerprints().collect())
    assert len(fps) == 2, "read failure must fall back to docs, not drop fingerprints"
    # a dup of the affected batch is still blocked end-to-end
    reader.ingest_batch(_docs(spark, [(3, "ALPHA  beta gamma"), (4, "fresh words")]), 1)
    assert _corpus_ids(reader) == [1, 2, 4]


def test_committed_empty_index_dir_is_skipped_not_projected(spark, tmp_path):
    """The genuine-emptiness case stays cheap: a batch whose every row was
    deduped away commits an index dir with no data files, and reads skip it
    without touching the docs dir."""
    import os

    store = CorpusIngestStore(spark, str(tmp_path / "corpus"))
    store.ingest_batch(_docs(spark, [(1, "alpha beta gamma")]), 0)
    store.ingest_batch(_docs(spark, [(2, "ALPHA beta  gamma")]), 1)  # fully deduped
    idx1 = os.path.join(store._index_root(), "batch-1")
    assert os.path.exists(os.path.join(idx1, "_SUCCESS"))
    assert not store._dir_has_data(idx1)
    assert store.index().count() == 1
    assert _corpus_ids(store) == [1]


def test_admission_counters_track_batches(spark, tmp_path):
    """With a StatsService attached, ingest reports the reference-style
    ticker facts: docs_in (within-batch unique candidates), admitted,
    blocked (= docs_in − admitted), batches, and replays — and the counters
    stay coherent across a replayed batch id (no double counting)."""
    from block_crawler_spark.streaming.stats import StatsService

    stats = StatsService()
    store = CorpusIngestStore(spark, str(tmp_path / "corpus"), stats=stats)
    # 3 rows, one within-batch dup → docs_in 2, both admitted
    store.ingest_batch(_docs(spark, [(1, "alpha beta"), (2, "ALPHA  beta"), (3, "gamma delta")]), 0)
    # 2 rows, one cross-batch dup → docs_in 2, admitted 1, blocked 1
    store.ingest_batch(_docs(spark, [(4, "gamma  DELTA"), (5, "epsilon zeta")]), 1)
    snap = stats.snapshot()
    assert snap["corpus.batches"] == 2
    assert snap["corpus.docs_in"] == 4
    assert snap["corpus.admitted"] == 3
    assert snap["corpus.blocked"] == 1
    # replay of a committed id is a no-op AND counted as such
    store.ingest_batch(_docs(spark, [(4, "gamma  DELTA"), (5, "epsilon zeta")]), 1)
    snap = stats.snapshot()
    assert snap["corpus.replays"] == 1
    assert snap["corpus.batches"] == 2 and snap["corpus.admitted"] == 3
    assert _corpus_ids(store) == [1, 3, 5]


def test_cli_ingest_stats_ticker(spark, tmp_path, capsys):
    """--stats-interval on the ingest CLI prints a final STATS line with the
    corpus.* counters."""
    import json as _json

    from block_crawler_spark.cli import main

    _docs(spark, [(1, "one two three"), (2, "four five six"), (3, "ONE two  three")]).write.parquet(
        str(tmp_path / "drop")
    )
    rc = main(["ingest", "--source", str(tmp_path / "drop"), "--corpus", str(tmp_path / "corpus"),
               "--stats-interval", "600"])
    assert rc == 0
    out = capsys.readouterr().out
    stats_lines = [ln for ln in out.splitlines() if ln.startswith("STATS ")]
    assert stats_lines and "corpus.admitted=2" in stats_lines[-1], out
    summary = _json.loads(out.splitlines()[-1])
    assert summary["docs_admitted"] == 2


def test_max_files_per_trigger_splits_the_drain(spark, tmp_path):
    """A multi-file drop with max_files_per_trigger=1 drains as multiple
    micro-batches (the backfill throttle) — and cross-batch dedup still
    holds across the split batches."""
    src = str(tmp_path / "src")
    _docs(spark, [(1, "alpha beta gamma")]).coalesce(1).write.mode("append").parquet(src)
    _docs(spark, [(2, "ALPHA beta  gamma"), (3, "delta epsilon")]).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    store = CorpusIngestStore(spark, str(tmp_path / "corpus"))
    q = store.start_stream(src, str(tmp_path / "ck"), max_files_per_trigger=1)
    q.awaitTermination(120)
    batches = [d for d in __import__("os").listdir(store._docs_root()) if d.startswith("batch-")]
    assert len(batches) >= 2, batches
    ids = _corpus_ids(store)
    assert 1 in ids and 3 in ids and len(ids) == 2 + (2 in ids and 1 not in ids)


def test_gopher_rules_admission_screen(spark, tmp_path):
    """gopher_rules=True rejects at ingest with the SAME per-doc flags the
    doc_gopher_rules registry query aggregates, and — like the quality
    gate — a rejected doc does not poison the seen set."""
    from block_crawler_spark.plans.text_ops import with_gopher_flags

    # 30 distinct short words with stopword evidence: passes all four rules
    good = "the quick brown fox and dogs " + " ".join(f"w{i:02d}" for i in range(24))
    bad = "too short"  # fails the token-count bound
    probe = _docs(spark, [(1, good), (2, bad)])
    flags = {
        r["doc_id"]: (r["p_len"], r["p_wordlen"], r["p_stop"], r["p_rep"])
        for r in with_gopher_flags(probe).collect()
    }
    assert all(flags[1]), flags[1]
    assert not all(flags[2]), flags[2]

    store = CorpusIngestStore(spark, str(tmp_path / "corpus"), gopher_rules=True)
    store.ingest_batch(probe, 0)
    assert _corpus_ids(store) == [1]
    # the good text re-submitted as a new doc is still dedup-blocked —
    # the rule screen runs BEFORE dedup, it doesn't replace it
    store.ingest_batch(_docs(spark, [(3, good), (4, bad)]), 1)
    assert _corpus_ids(store) == [1]


# -- semantic admission gate (round 11) --------------------------------------

SEM_DOC_SCHEMA = DOC_SCHEMA + ", embedding array<float>"


def _sem_docs(spark, rows):
    """rows: (doc_id, text, embedding list[float])."""
    return spark.createDataFrame(
        [(i, t, "en", "srcX", len(t), e) for i, t, e in rows], SEM_DOC_SCHEMA
    )


def _train_cents(spark):
    """A tiny deterministic 2-cell codebook over two well-separated seeds
    (the offline-training stand-in)."""
    from block_crawler_spark.operators.ann import kmeans_lloyd_fixed

    seed = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    _, cents = kmeans_lloyd_fixed(seed, k=2, iters=1)
    return cents


@pytest.mark.slow
def test_semantic_gate_blocks_near_vectors_across_batches(spark, tmp_path):
    store = CorpusIngestStore(
        spark, str(tmp_path / "corpus"), semantic=True, semantic_centroids=_train_cents(spark)
    )
    # batch 0: doc 1 admitted; doc 2 is a semantic near-dup of doc 1
    # (same cell, tiny sqdist) despite DIFFERENT text → blocked in-batch;
    # doc 3 is in the other cell → admitted
    store.ingest_batch(
        _sem_docs(
            spark,
            [
                (1, "alpha text", [1.0, 0.0, 0.0, 0.0]),
                (2, "totally different words", [0.999, 0.01, 0.0, 0.0]),
                (3, "orthogonal doc", [0.0, 1.0, 0.0, 0.0]),
            ],
        ),
        0,
    )
    assert _corpus_ids(store) == [1, 3]
    # batch 1: doc 4 near-dups ADMITTED doc 1 (cross-batch) → blocked;
    # doc 5 is near the cell-1 centroid but far from doc 3? no — make it
    # far from everything admitted (distance to doc 3 large) → admitted
    store.ingest_batch(
        _sem_docs(
            spark,
            [
                (4, "fresh words entirely", [0.998, 0.02, 0.0, 0.0]),
                (5, "another fresh doc", [0.0, 0.0, 1.0, 0.0]),
            ],
        ),
        1,
    )
    assert _corpus_ids(store) == [1, 3, 5]
    # replay of batch 1 is a no-op
    store.ingest_batch(
        _sem_docs(spark, [(4, "fresh words entirely", [0.998, 0.02, 0.0, 0.0])]), 1
    )
    assert _corpus_ids(store) == [1, 3, 5]
    # the vector side table mirrors the admitted set
    assert sorted(r["doc_id"] for r in store.vindex().collect()) == [1, 3, 5]


@pytest.mark.slow
def test_semantic_gate_adopts_pinned_codebook_on_reopen(spark, tmp_path):
    root = str(tmp_path / "corpus")
    store = CorpusIngestStore(spark, root, semantic=True, semantic_centroids=_train_cents(spark))
    store.ingest_batch(_sem_docs(spark, [(1, "alpha", [1.0, 0.0, 0.0, 0.0])]), 0)
    # reopen WITHOUT passing centroids: the pinned codebook is adopted and
    # admission decisions stay consistent (doc 2 near-dups admitted doc 1)
    store2 = CorpusIngestStore(spark, root, semantic=True)
    store2.ingest_batch(
        _sem_docs(
            spark,
            [
                (2, "beta", [0.999, 0.005, 0.0, 0.0]),
                (3, "gamma", [0.0, 1.0, 0.0, 0.0]),
            ],
        ),
        1,
    )
    assert _corpus_ids(store2) == [1, 3]


@pytest.mark.slow
def test_semantic_vindex_heals_from_docs(spark, tmp_path):
    import shutil as _sh
    import os as _os

    root = str(tmp_path / "corpus")
    store = CorpusIngestStore(spark, root, semantic=True, semantic_centroids=_train_cents(spark))
    store.ingest_batch(
        _sem_docs(
            spark,
            [(1, "alpha", [1.0, 0.0, 0.0, 0.0]), (2, "beta", [0.0, 1.0, 0.0, 0.0])],
        ),
        0,
    )
    before = sorted(tuple(r) for r in store.vindex().collect())
    _sh.rmtree(_os.path.join(root, "vindex"))
    # read path falls back to the docs projection (correct, slower)
    assert sorted(tuple(r) for r in store.vindex().collect()) == before
    # and admission against the fallen-back index still blocks
    store.ingest_batch(_sem_docs(spark, [(3, "gamma", [0.999, 0.01, 0.0, 0.0])]), 1)
    assert _corpus_ids(store) == [1, 2]
    # the next write path re-heals the durable dir
    assert _os.path.exists(_os.path.join(root, "vindex"))
    assert sorted(tuple(r) for r in store.vindex().collect()) == before


def _two_cell_codebook(spark):
    """A hand-built 2-cell codebook in micro-fixed space: c0 at the origin,
    c1 at (2.0, 0, 0, 0) — geometry chosen so a vector near 1.0 on the
    first axis sits just on one side of the midpoint (its top-1 cell flips
    at 1.0) while staying CLOSE to a vector just on the other side."""
    return spark.createDataFrame(
        [(0, [0, 0, 0, 0]), (1, [2_000_000, 0, 0, 0])], "cid long, c array<bigint>"
    )


@pytest.mark.slow
def test_semantic_gate_top2_blocks_boundary_straddling_dup(spark, tmp_path):
    """The planted cell-boundary straddler (VERDICT r11 task 4): doc 1 at
    x=0.90 is admitted into cell 0; doc 2 at x=1.05 is a true near-dup
    (sqdist 2.25e10 ≤ the 1e11 gate) whose TOP-1 cell is 1 — under the
    r11 single-probe gate it probed only cell 1, found nothing, and was
    ADMITTED.  The top-2 batch-side probe also consults cell 0 and blocks
    it, with no admitted-side storage change (vindex keeps one row per
    doc).  Doc 3 probes both cells too but is far from everything →
    admitted (the probe widens candidates, the exact verify still
    decides)."""
    store = CorpusIngestStore(
        spark,
        str(tmp_path / "corpus"),
        semantic=True,
        semantic_centroids=_two_cell_codebook(spark),
        semantic_sqdist_max=100_000_000_000,
    )
    store.ingest_batch(_sem_docs(spark, [(1, "alpha text", [0.9, 0.0, 0.0, 0.0])]), 0)
    assert _corpus_ids(store) == [1]
    store.ingest_batch(
        _sem_docs(
            spark,
            [
                (2, "different words entirely", [1.05, 0.0, 0.0, 0.0]),
                (3, "far away doc", [3.0, 0.0, 0.0, 0.0]),
            ],
        ),
        1,
    )
    assert _corpus_ids(store) == [1, 3], "boundary straddler must be blocked via the second probe"
    # within-batch: two straddlers of the SAME boundary meeting only
    # through the second probe keep the lowest id
    store.ingest_batch(
        _sem_docs(
            spark,
            [
                (4, "completely fresh four", [5.0, 0.95, 0.0, 0.0]),
                (5, "completely fresh five", [5.0, 1.05, 0.0, 0.0]),
            ],
        ),
        2,
    )
    # both assign top-1 to cell 1, so this pair is same-cell; the planted
    # CROSS-cell within-batch case needs vectors near the midpoint:
    store.ingest_batch(
        _sem_docs(
            spark,
            [
                (6, "fresh six here", [0.95, 3.0, 0.0, 0.0]),
                (7, "fresh seven here", [1.05, 3.0, 0.0, 0.0]),
            ],
        ),
        3,
    )
    ids = _corpus_ids(store)
    assert 4 in ids and 5 not in ids, "same-cell within-batch near-dup keeps lowest id"
    assert 6 in ids and 7 not in ids, "cross-cell within-batch near-dup caught by second probe"


def test_vindex_bucket_count_derives_from_codebook_and_pins(spark, tmp_path):
    """The vector side table's bucket count derives from the pinned
    codebook, min(K, 1024), so the per-batch probe's partition pruning
    tracks cells exactly (one dir per cell), and a reopen without a
    codebook derives the same count from the pinned one."""
    import os

    root = str(tmp_path / "corpus")
    store = CorpusIngestStore(
        spark,
        root,
        semantic=True,
        semantic_centroids=_two_cell_codebook(spark),
        semantic_sqdist_max=100_000_000_000,
    )
    store.ingest_batch(
        _sem_docs(
            spark,
            [(1, "alpha", [0.1, 0.0, 0.0, 0.0]), (2, "beta", [2.1, 0.0, 0.0, 0.0])],
        ),
        0,
    )
    assert store._vindex_buckets() == 2  # |codebook| = 2 → one bucket per cell
    assert not os.path.exists(os.path.join(root, "_VINDEX_BUCKETS"))
    # on-disk layout: vbucket=cid partition dirs
    vdirs = set()
    vroot = os.path.join(root, "vindex")
    for d in os.listdir(vroot):
        for sub in os.listdir(os.path.join(vroot, d)):
            if "=" in sub:
                vdirs.add(sub)
    assert vdirs == {"vbucket=0", "vbucket=1"}
    # a reopen with no codebook derives the count from the pinned one
    store2 = CorpusIngestStore(spark, root, semantic=True)
    assert store2._vindex_buckets() == 2
    # pruned read returns exactly the requested cell's rows
    assert sorted(r["doc_id"] for r in store2.vindex(buckets=[1]).collect()) == [2]


def test_semantic_read_paths_never_write(spark, tmp_path):
    """Reads are side-effect-free — a store constructed with a codebook
    whose only activity is READS (vindex scan, corpus scan) must not
    create root/_centroids or any marker; the first WRITE path pins
    everything."""
    import os

    root = str(tmp_path / "corpus")
    store = CorpusIngestStore(
        spark, root, semantic=True, semantic_centroids=_two_cell_codebook(spark)
    )
    store.vindex().collect()
    store.corpus().collect()
    store._centroids()
    assert not os.path.exists(os.path.join(root, "_centroids"))
    assert not os.path.exists(os.path.join(root, "_VINDEX_PROBES"))
    store.ingest_batch(_sem_docs(spark, [(1, "alpha", [0.1, 0.0, 0.0, 0.0])]), 0)
    assert os.path.exists(os.path.join(root, "_centroids", "_SUCCESS"))
    assert os.path.exists(os.path.join(root, "_VINDEX_PROBES"))
    # a reopened store with NO constructor codebook reads the pinned one
    store2 = CorpusIngestStore(spark, root, semantic=True)
    assert sorted(r["cid"] for r in store2._centroids().collect()) == [0, 1]


@pytest.mark.slow
def test_vindex_probes2_blocks_symmetric_straddler(spark, tmp_path):
    """The residual the batch-side top-2 alone can't close (r12 optional):
    with 3 cells C/A/B, admitted x has top-2 {C, B} and batch y has top-2
    {B, A} — the probe sets share NO cell through the admitted top-1 (C),
    so a single-membership vindex admits y even though it near-dups x.
    With ``vindex_probes=2`` the admitted side stores both memberships and
    the sets intersect at B → blocked.  The default store documents the
    residual; the opt-in closes it at 2× vindex size."""
    cents = spark.createDataFrame(
        [(0, [0, 0, 0, 0]), (1, [2_000_000, 0, 0, 0]), (2, [1_000_000, 2_000_000, 0, 0])],
        "cid long, c array<bigint>",
    )
    x = (1, "admitted doc x", [0.95, 0.75, 0.0, 0.0])
    y = (2, "arriving doc y", [1.05, 0.9, 0.0, 0.0])
    kw = dict(semantic=True, semantic_centroids=cents, semantic_sqdist_max=100_000_000_000)
    # default (single-membership): the symmetric straddler is ADMITTED
    s1 = CorpusIngestStore(spark, str(tmp_path / "c1"), **kw)
    s1.ingest_batch(_sem_docs(spark, [x]), 0)
    s1.ingest_batch(_sem_docs(spark, [y]), 1)
    assert _corpus_ids(s1) == [1, 2], "residual documented: probe sets share no cell"
    # opt-in probes=2: blocked, and the vindex carries 2 rows per doc
    root2 = str(tmp_path / "c2")
    s2 = CorpusIngestStore(spark, root2, vindex_probes=2, **kw)
    s2.ingest_batch(_sem_docs(spark, [x]), 0)
    assert sorted(r["cid"] for r in s2.vindex().collect()) == [0, 2]  # x under C and B
    s2.ingest_batch(_sem_docs(spark, [y]), 1)
    assert _corpus_ids(s2) == [1], "symmetric straddler blocked via admitted top-2"
    # the membership count is pinned: a reopen without the kwarg adopts 2,
    # and the healed projection reproduces the 2-row layout
    import os as _os
    import shutil as _sh

    with open(_os.path.join(root2, "_VINDEX_PROBES")) as f:
        assert f.read().strip() == "2"
    s3 = CorpusIngestStore(spark, root2, semantic=True, semantic_sqdist_max=100_000_000_000)
    assert s3._vindex_probes() == 2
    before = sorted(tuple(r) for r in s3.vindex().collect())
    _sh.rmtree(_os.path.join(root2, "vindex"))
    s3.ingest_batch(_sem_docs(spark, [(9, "fresh niner", [0.0, 0.0, 3.0, 0.0])]), 2)
    after = sorted(tuple(r) for r in s3.vindex().collect())
    assert [t for t in after if t[0] != 9] == before, "heal reproduces the 2-row layout"
