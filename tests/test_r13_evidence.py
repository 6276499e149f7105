"""Round-13 evidence tests: the perceptual media dHash family, the
semantic pair/closure session memos, and the ADVICE r12 hardening pins
(codebook layout validation; the bitsign kNN-join's map-side partial
top-L)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from block_crawler_spark.sources.tables import load_table

SF0 = "/root/testdata/sf0.001"


def test_bitsign_knn_partial_limit_pushed(spark):
    """The kNN-join's stage-1 shortlist is NOT a single-task full-corpus
    sort per query (ADVICE r12): Spark's window-group-limit pushdown must
    place a PARTIAL WindowGroupLimit (map-side top-L per scan partition)
    BEFORE the q_id exchange, bounding every post-shuffle sort to
    n_scan_partitions·L rows per query.  Pinned on the physical plan so a
    regression (e.g. an expression change that defeats the pushdown, or
    spark.sql.optimizer.windowGroupLimitThreshold=0) fails loudly."""
    from block_crawler_spark.plans.embed_ops import BITSIGN_JOIN_SHORTLIST, bitsign_knn_join_query

    plan = (
        bitsign_knn_join_query(spark, SF0)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert f"row_number(), {BITSIGN_JOIN_SHORTLIST}, Partial" in plan, plan


def _dhash_ref(arr, grid=61):
    """Independent numpy recompute of the block-mean dHash."""
    import numpy as np

    arr = np.asarray(arr, dtype=np.int64)
    n = len(arr)
    if n == 0:
        return 0
    blk = (np.arange(n, dtype=np.int64) * grid) // n
    s = np.bincount(blk, weights=arr, minlength=grid).astype(np.int64)
    c = np.bincount(blk, minlength=grid).astype(np.int64)
    h = 0
    for bit in s[1:] * c[:-1] > s[:-1] * c[1:]:
        h = (h << 1) | int(bit)
    return h


def test_content_dhash_planted_transforms(spark):
    """The dHash family's perceptual contract on a planted corpus
    (VERDICT r12 task 1 'done' criterion): a brightness-shifted twin pairs
    at Hamming 0 (exact invariance — a global level shift cancels in the
    cross-multiplied mean comparison), a ±1-noise twin pairs at Hamming 0,
    a front-cropped twin pairs within the pigeonhole total-recall zone,
    and unrelated random content does NOT pair.  The smooth sine 'image'
    models real media intensity profiles (block means trace the wave), the
    regime where dHash earns its keep."""
    import numpy as np

    from block_crawler_spark.operators.dedup import simhash_band_pairs
    from block_crawler_spark.operators.multimodal import DHASH_BITS, content_dhash
    from block_crawler_spark.plans.media_ops import PHASH_BANDS, PHASH_MAX_HAMMING

    i = np.arange(4096)
    orig = (128 + 60 * np.sin(2 * np.pi * 5 * i / 4096)).astype(np.int64)
    rng = np.random.default_rng(7)
    blobs = {
        0: orig,
        1: np.minimum(orig + 10, 255),  # brightness twin
        2: orig + rng.integers(-1, 2, 4096),  # noise twin
        3: orig[32:],  # cropped twin
        4: rng.integers(0, 256, 4096),  # unrelated
        5: rng.integers(0, 256, 4096),  # unrelated
    }
    df = spark.createDataFrame(
        [(k, v.astype(np.uint8).tobytes()) for k, v in blobs.items()],
        "media_id long, content binary",
    )
    sigs = content_dhash(df)
    rows = {r["media_id"]: r for r in sigs.collect()}
    # the Arrow stage agrees with the independent recompute, bit for bit
    for k, v in blobs.items():
        assert rows[k]["dhash"] == _dhash_ref(v), k
        assert rows[k]["n_bytes"] == len(v)
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_band_pairs(
            sigs.select("media_id", F.col("dhash").alias("simhash")),
            id_col="media_id",
            bits=DHASH_BITS,
            bands=PHASH_BANDS,
            max_hamming=PHASH_MAX_HAMMING,
        ).collect()
    }
    assert pairs[(0, 1)] == 0  # brightness: exact invariance
    assert pairs[(0, 2)] == 0  # ±1 noise: absorbed by the block means
    assert 0 < pairs[(0, 3)] < PHASH_BANDS  # crop: pigeonhole-recall zone
    assert not any(4 in p or 5 in p for p in pairs), pairs


def test_content_dhash_empty_and_short_blobs(spark):
    """Degenerate payloads stay total and deterministic: an empty blob
    hashes to 0 (all-empty blocks compare 0>0 false) and a blob shorter
    than the grid leaves trailing blocks empty without error."""
    from block_crawler_spark.operators.multimodal import content_dhash

    df = spark.createDataFrame(
        [(0, b""), (1, bytes([5, 200, 5]))], "media_id long, content binary"
    )
    rows = {r["media_id"]: r for r in content_dhash(df).collect()}
    assert rows[0]["dhash"] == 0 and rows[0]["n_bytes"] == 0
    assert rows[1]["dhash"] == _dhash_ref([5, 200, 5]) and rows[1]["n_bytes"] == 3


def test_flat_content_never_pairs(spark, tmp_path):
    """The all-zero-signature exclusion (r13 review): flat content —
    every strict block comparison false — hashes to 0, and two unrelated
    flat blobs would otherwise pair at Hamming 0 through the band-0
    bucket (the one hot bucket the band join could have at scale).  A
    corpus of solid-byte docs of different lengths and values must
    produce ZERO pairs from every media pair family."""
    from block_crawler_spark.plans.media_ops import (
        media_audio_energy_query,
        media_image_dhash_query,
        media_phash_near_dup_query,
    )

    rows = [
        (0, "a" * 200, "en", "s", 200),
        (1, "b" * 320, "en", "s", 320),
        (2, "a" * 200, "en", "s", 200),  # even an EXACT flat dup: no signature evidence
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    sf = str(tmp_path)
    assert media_phash_near_dup_query(spark, sf).count() == 0
    assert media_image_dhash_query(spark, sf).count() == 0
    assert media_audio_energy_query(spark, sf).count() == 0


def test_media_phash_registry_finds_exactly_the_planted_twins(spark):
    """End-to-end registry behavior at sf0.001: every planted brightness
    twin pairs with its original (Hamming 0 when no byte exceeds
    255 − delta so the clamp never saturates — ADVICE r13: on near-255
    bytes the clamp can flip near-tie blocks, so the general bound is
    PHASH_MAX_HAMMING), and NO pair joins blobs derived from different
    source documents (the selectivity claim — on this corpus unrelated
    blobs hash far apart, so the band join + Hamming cut admit zero false
    pairs)."""
    from block_crawler_spark.plans.media_ops import (
        PHASH_BRIGHT_DELTA,
        PHASH_BRIGHT_MOD,
        PHASH_MAX_HAMMING,
        PHASH_TWIN_OFFSET,
        media_phash_near_dup_query,
    )

    docs = load_table(spark, SF0, "documents").select("doc_id", "text").collect()
    doc_ids = sorted(r["doc_id"] for r in docs)
    clamp_free = {
        r["doc_id"]
        for r in docs
        if max((r["text"] or "").encode("utf-8"), default=0) <= 255 - PHASH_BRIGHT_DELTA
    }
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in media_phash_near_dup_query(spark, SF0).collect()
    }
    assert pairs, "planted twins must be found"
    for a, b in pairs:
        assert a % PHASH_TWIN_OFFSET == b % PHASH_TWIN_OFFSET, (a, b)
    for did in doc_ids:
        if did % PHASH_BRIGHT_MOD == 0:
            hamming = pairs[(did, did + PHASH_TWIN_OFFSET)]
            assert hamming <= PHASH_MAX_HAMMING
            if did in clamp_free:
                assert hamming == 0  # exact level-shift invariance holds


@pytest.mark.slow
def test_stream_dedup_native_twin_vs_corpus_gate(spark, tmp_path):
    """API-parity proof for the corpus gate's exact stage vs the NATIVE
    ``dropDuplicatesWithinWatermark`` operator (VERDICT r12 optional a),
    both sides keyed by the SAME ``fingerprint()`` column: (1) while every
    duplicate arrives inside the watermark horizon the two admit the SAME
    fingerprint set, exactly once each; (2) the corpus.py header's
    documented divergence is demonstrated, not asserted — a duplicate
    re-arriving AFTER its key's state was evicted by the watermark is
    re-admitted by the native operator but still blocked by the store's
    durable fingerprint index."""
    import datetime as dt

    from block_crawler_spark.functions.text import fingerprint
    from block_crawler_spark.streaming.corpus import CorpusIngestStore

    src, out, ckpt = (str(tmp_path / d) for d in ("chunks", "out", "ckpt"))
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    schema = "doc_id long, ts timestamp, text string, lang string, source string, n_chars long"

    def write_chunk(rows):
        spark.createDataFrame(
            [(i, ts, tx, "en", "s", len(tx)) for i, ts, tx in rows], schema
        ).write.mode("append").parquet(src)

    def run_native():
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            stream.withColumn("fp", fingerprint(F.col("text")))
            .withWatermark("ts", "2 hours")
            .dropDuplicatesWithinWatermark(["fp"])
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    store = CorpusIngestStore(spark, str(tmp_path / "corpus"))

    def store_fps():
        return sorted(
            r["fp"]
            for r in store.corpus().withColumn("fp", fingerprint(F.col("text"))).select("fp").collect()
        )

    # phase 1: a dup pair inside the horizon + a far-future watermark dragger
    p1 = [
        (0, t0, "alpha beta gamma"),
        (1, t0 + dt.timedelta(minutes=1), "alpha beta gamma"),
        (2, t0 + dt.timedelta(minutes=2), "delta epsilon"),
        (9, t0 + dt.timedelta(hours=10), "horizon dragger"),
    ]
    write_chunk(p1)
    run_native()
    store.ingest_batch(spark.read.parquet(src), 0)
    native1 = sorted(r["fp"] for r in spark.read.parquet(out).collect())
    assert len(native1) == len(set(native1)) == 3, native1
    assert native1 == store_fps(), "same admitted fingerprint set inside the horizon"

    # phase 2: the alpha fingerprint re-arrives with a FRESH event time,
    # after the watermark (~t0+8h) evicted its key state
    p2 = [
        (20, t0 + dt.timedelta(hours=10, minutes=1), "alpha beta gamma"),
        (21, t0 + dt.timedelta(hours=10, minutes=2), "zeta eta"),
    ]
    write_chunk(p2)
    run_native()
    store.ingest_batch(
        spark.createDataFrame(
            [(i, ts, tx, "en", "s", len(tx)) for i, ts, tx in p2], schema
        ),
        1,
    )
    native2 = sorted(r["fp"] for r in spark.read.parquet(out).collect())
    from collections import Counter

    c = Counter(native2)
    assert len(native2) == 5 and max(c.values()) == 2, c  # alpha admitted TWICE natively
    assert len(store_fps()) == 4, "the durable index still blocks the re-sent duplicate"


def test_image_dhash_resolution_and_brightness_invariance():
    """The 2-D image dHash's theorems, on a REAL synthetic picture (2-D
    gradient + texture): a k× pixel-replication upscale of the
    grid-aligned region hashes IDENTICALLY (block sums scale by exactly
    k², comparisons unchanged — integer-exact, k=2 and k=3 both pinned), a
    brightness shift hashes identically, a small vertical crop lands
    within a few bits, an unrelated image lands far, and a sub-grid image
    hashes NULL (the no-evidence policy)."""
    import numpy as np

    from block_crawler_spark.operators.multimodal import image_dhash_blob

    y, x = np.mgrid[0:48, 0:32]
    img = ((y * 3 + x * 2 + (y * x) % 7) % 200 + 20).astype(np.uint8)  # 48×32
    rng = np.random.default_rng(11)
    rows = {
        0: (32, img),
        1: (64, np.repeat(np.repeat(img, 2, axis=0), 2, axis=1)),  # 2× upscale
        2: (96, np.repeat(np.repeat(img, 3, axis=0), 3, axis=1)),  # 3× upscale
        3: (32, np.minimum(img.astype(np.int64) + 25, 255).astype(np.uint8)),  # brightness
        4: (32, img[8:]),  # crop: first 8 rows gone (40 rows → hu=40)
        5: (32, rng.integers(0, 256, (48, 32)).astype(np.uint8)),  # unrelated
        6: (4, img[:4, :4]),  # sub-grid → NULL
    }
    got = {k: image_dhash_blob(a.tobytes(), w)[1] for k, (w, a) in rows.items()}
    assert got[1] == got[0], "2x upscale: identical hash (exact theorem)"
    assert got[2] == got[0], "3x upscale: identical hash"
    assert got[3] == got[0], "brightness shift: identical hash"
    assert got[6] is None, "sub-grid image hashes NULL"
    crop_ham = bin(got[0] ^ got[4]).count("1")
    unrel_ham = bin(got[0] ^ got[5]).count("1")
    assert crop_ham <= 8, crop_ham
    assert unrel_ham > 12, unrel_ham


def test_audio_energy_dhash_gain_and_polarity_invariance():
    """The audio energy-envelope dHash's theorems on a real pcm16 fixture
    (amplitude-ramped sine — an ASYMMETRIC envelope): a ×2 louder copy
    (no clipping) hashes identically (g² cancels cross-multiplied), a
    phase-inverted copy hashes identically ((−s)² = s²), light noise
    lands within a few bits, and a time-REVERSED copy does not pair (the
    envelope is what's hashed, and this one is direction-asymmetric)."""
    import numpy as np

    from block_crawler_spark.operators.multimodal import AUDIO_DHASH_GRID, audio_energy_dhash_blob

    n = 8000
    t = np.arange(n)
    ramp = 1000 + (t * 14000) // n  # amplitude grows 1k → 15k
    s = (np.sin(2 * np.pi * 440 * t / 16000) * ramp).astype(np.int64)
    rng = np.random.default_rng(3)
    rows = {
        0: s,
        1: s * 2,  # gain (max ~30k, no clipping)
        2: -s,  # polarity
        3: s + rng.integers(-50, 51, n),  # light noise
        4: s[::-1].copy(),  # time-reversed
        5: rng.integers(-15000, 15000, n),  # unrelated
    }
    got = {k: audio_energy_dhash_blob(v.astype("<i2").tobytes(), AUDIO_DHASH_GRID)[1] for k, v in rows.items()}
    assert got[1] == got[0], "gain x2: identical hash (exact theorem)"
    assert got[2] == got[0], "polarity inversion: identical hash"
    assert bin(got[0] ^ got[3]).count("1") <= 6
    assert bin(got[0] ^ got[4]).count("1") > 12, "reversed envelope is a different sound"
    assert bin(got[0] ^ got[5]).count("1") > 12


def test_lm_gated_quality_null_band_policy(spark, tmp_path):
    """The LM-gated blend's no-evidence rule: a document with fewer than
    two tokens has no bigrams, so it FAILS the LM gate by policy even when
    its quality decile clears the floor — attributed as fail_lm_only, not
    silently admitted.  Crafted corpus: a single-stopword doc (decile
    clears the floor, no bigrams) and a healthy multi-token doc (passes
    both)."""
    from block_crawler_spark.plans.text_ops import lm_gated_quality_query

    rows = [
        (0, "the", "en", "s", 3),
        (1, "the quick brown fox jumps over the lazy dog and runs on", "en", "s", 56),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {r["source"]: r for r in lm_gated_quality_query(spark, str(tmp_path)).collect()}
    r = out["s"]
    assert r["n_docs"] == 2
    assert r["fail_lm_only"] == 1, "no bigrams => LM gate fails by policy"
    assert r["pass_both"] + r["fail_quality_only"] + r["fail_lm_only"] + r["fail_both"] == 2


def test_media_family_overlap_subsumption(spark):
    """The exact-vs-perceptual agreement matrix's structural theorem:
    identical bytes ⇒ identical dhash ⇒ all bands shared ⇒ Hamming 0, so
    the exact detector's pair set is a SUBSET of the perceptual one —
    only_exact must be 0, both must equal the planted verbatim-copy count,
    and only_phash carries the transformed-twin mass a byte-exact dedup
    would miss."""
    from block_crawler_spark.plans.media_ops import (
        PHASH_EXACT_MOD,
        media_family_overlap_query,
    )

    docs = [r["doc_id"] for r in load_table(spark, SF0, "documents").select("doc_id").collect()]
    n_exact = sum(1 for d in docs if d % PHASH_EXACT_MOD == 0)
    rows = media_family_overlap_query(spark, SF0).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["only_exact"] == 0, "exact ⊆ perceptual is structural"
    assert r["both"] == n_exact
    assert r["only_phash"] > 0, "the perceptual surplus is the point of the matrix"


def test_clustered_fixture_determinism_and_ivf_saturation(spark):
    """The shared clustered-corpus fixture (tests/datagen.clustered_embeddings,
    VERDICT r12 task 4) is a pure content-hash function of the ids —
    pinned against an independent hashlib recompute — and IVF saturates on
    it (cells align with density modes: near-total recall at nprobe=2,
    where the isotropic corpus needs nprobe=8 for 0.836), the headline
    movement of the r13 clustered grid in docs/PLAN_AUDIT.md."""
    import hashlib

    from datagen import clustered_embeddings

    from block_crawler_spark.operators.ann import ivf_topk, knn_join_brute

    emb = clustered_embeddings(spark, n=400, n_clusters=8, jitter_milli=70).cache()

    def h(key: str, span: int) -> float:
        return (int(hashlib.md5(key.encode()).hexdigest()[:6], 16) % (2 * span + 1) - span) / 1000.0

    row5 = emb.filter(F.col("vec_id") == 5).collect()[0]
    for j in range(4):
        want = h(f"c{j}|{5 % 8}", 1000) + h(f"v{j}|5", 70)
        assert abs(row5["embedding"][j] - want) < 1e-6, j

    queries = emb.filter(F.col("vec_id") < 10)
    truth = {(r["q_id"], r["c_id"]) for r in knn_join_brute(queries, emb, k=5).collect()}
    cents = emb.filter(F.col("vec_id") < 32)

    def recall(nprobe: int) -> float:
        got = {
            (r["q_id"], r["c_id"])
            for r in ivf_topk(queries, emb, cents, k=5, nprobe=nprobe).collect()
        }
        return len(got & truth) / len(truth)

    # measured ladder on this downsized fixture: 0.62 / 0.86 / 1.00 at
    # nprobe 1/2/4 — saturation at a quarter of the probe budget the
    # isotropic corpus needs for 0.836 (the full 2000/32 fixture saturates
    # at nprobe=2; the mini config keeps the test at pytest cost)
    assert recall(2) >= 0.8
    assert recall(4) == 1.0
    emb.unpersist()


@pytest.mark.slow
def test_semantic_stage_memo_hit_is_result_identical(spark):
    """The semantic pair/closure session memos (VERDICT r12 task 2) change
    no result: a cold build and a warm memo hit return bit-identical rows
    for every consumer — pairs (both probe counts), keep verdicts, and the
    balanced sample — and the warm pass actually hits the memo (the
    sempairs/semcomp keys are present and reused)."""
    from block_crawler_spark.plans import memo
    from block_crawler_spark.plans.embed_ops import (
        balanced_sample_mp_query,
        semantic_cells_mp_query,
        semantic_keep_mp_query,
        semantic_keep_query,
    )

    def snap(df):
        return sorted(tuple(r) for r in df.collect())

    # cold: purge the memo, then build
    memo.clear()
    cold = {
        "cells_mp2": snap(semantic_cells_mp_query(spark, SF0)),
        "keep1": snap(semantic_keep_query(spark, SF0)),
        "keep2": snap(semantic_keep_mp_query(spark, SF0)),
        "sample2": snap(balanced_sample_mp_query(spark, SF0)),
    }
    keys = {k[0] for k in memo.entries()}
    assert {"sempairs", "semcomp"} <= keys, keys
    # warm: every consumer replays the memoized stages
    warm = {
        "cells_mp2": snap(semantic_cells_mp_query(spark, SF0)),
        "keep1": snap(semantic_keep_query(spark, SF0)),
        "keep2": snap(semantic_keep_mp_query(spark, SF0)),
        "sample2": snap(balanced_sample_mp_query(spark, SF0)),
    }
    assert cold == warm
    assert cold["cells_mp2"], "the mp2 pair stage must find pairs at sf0.001"

    # the safety valve: past the row cap no ROWS are memoized — the LIVE
    # frame comes back with the same values — and the over-cap VERDICT is
    # cached so later calls skip the take probe (r13 review: the first
    # valve paid the probe's extra stage execution on every call)
    memo.clear()
    orig = memo.MAX_ROWS
    memo.MAX_ROWS = 1
    try:
        live = snap(semantic_cells_mp_query(spark, SF0))
        assert live == cold["cells_mp2"]
        verdicts = {k: v for k, v in memo.entries().items() if k[0] in ("sempairs", "semcomp")}
        assert verdicts and all(v is None for v in verdicts.values()), verdicts
        live2 = snap(semantic_cells_mp_query(spark, SF0))
        assert live2 == cold["cells_mp2"]
    finally:
        memo.MAX_ROWS = orig
        memo.clear()


@pytest.mark.slow
def test_residual_codebook_layout_mismatch_raises(spark):
    """A caller-supplied residual codebook with a different (m, sub_dim,
    n_codewords) layout must raise, not silently produce wrong ADC
    distances (ADVICE r12)."""
    from block_crawler_spark.operators.pq import ivfpq_residual_codebook, ivfpq_residual_topk

    M, K, SUB = 16, 64, 4
    emb = load_table(spark, SF0, "embeddings")
    queries = emb.filter(F.col("vec_id") < 2)
    cents = emb.filter(F.col("vec_id") < 4)

    # trained with HALF the subspaces (m=8, sub_dim=8): wrong m and width
    wrong = ivfpq_residual_codebook(emb, cents, M // 2, SUB * 2, K, 0, None)
    with pytest.raises(ValueError, match="does not match the requested layout"):
        ivfpq_residual_topk(queries, emb, cents, M, SUB, 3, n_codewords=K, codebook=wrong)

    # trained with MORE codewords: codes past n_codewords are definite
    # mismatches (fewer is legal — Lloyd drops empty clusters)
    big = ivfpq_residual_codebook(emb, cents, M, SUB, K * 2, 0, None)
    with pytest.raises(ValueError, match="does not match the requested layout"):
        ivfpq_residual_topk(queries, emb, cents, M, SUB, 3, n_codewords=K, codebook=big)

    # the MATCHING layout passes the check and returns k rows per query
    ok = ivfpq_residual_codebook(emb, cents, M, SUB, K, 0, None)
    rows = ivfpq_residual_topk(
        queries, emb, cents, M, SUB, 3, n_codewords=K, codebook=ok
    ).collect()
    assert len(rows) == 2 * 3
