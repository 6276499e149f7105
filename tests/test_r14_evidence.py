"""Round-14 evidence tests: the ADVICE r13 hardening pins (audio int16
wrap on high UTF-8 bytes, twin-id aliasing), the trained-PQ ADC→rerank
two-stage query, the video perceptual family, the de-degenerated LM
gate attribution, the overlap pair-frame memo, the streaming perceptual
gate, and the cross-modality agreement matrix vs an independent
recompute."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from block_crawler_spark.sources.tables import table_path

SF0 = "/root/testdata/sf0.001"

DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def _write_docs(spark, tmp_path, rows):
    spark.createDataFrame(rows, DOC_SCHEMA).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    return str(tmp_path)


def _duck_rows(sql: str, sf_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet/*.parquet')"
    )
    return sorted(map(tuple, con.execute(sql).fetchall()))


def test_audio_energy_no_int16_wrap_on_high_bytes(spark, tmp_path):
    """ADVICE r13 (medium): at the old AUDIO_SAMPLE_SCALE=100 the ×2 gain
    twin's numpy ``astype('<i2')`` silently WRAPPED int16 for source bytes
    ≥ 228 (CJK/emoji UTF-8 lead bytes) while the DuckDB oracle computed
    unwrapped energies — a latent Spark/oracle hash divergence on any
    non-ASCII corpus.  With the scale lowered so 2·(255−64)·scale fits
    int16, this corpus — CJK text whose UTF-8 bytes reach 0xE6–0xF0,
    planted on gain-twin doc_ids (% AUDIO_GAIN_MOD == 0) — must (1) agree
    with the oracle row-for-row and (2) keep the exact gain theorem: the
    louder twin pairs with its original at Hamming 0."""
    from block_crawler_spark.plans.media_ops import (
        AUDIO_GAIN_MOD,
        PHASH_TWIN_OFFSET,
        _media_audio_energy_sql,
        media_audio_energy_query,
    )

    cjk = "日本語のテキストと絵文字🎵が高位バイトを運ぶ"  # lead bytes ≥ 0xE3
    rows = [
        (i * AUDIO_GAIN_MOD, (cjk + "、段落" + str(i)) * (3 + i % 4), "ja", "s", 60)
        for i in range(6)
    ]
    raw = rows[0][1].encode("utf-8")
    assert max(raw) >= 228, "corpus must exercise the wrap-prone byte range"
    sf = _write_docs(spark, tmp_path, rows)

    got = sorted(
        (r["id_a"], r["id_b"], r["hamming"])
        for r in media_audio_energy_query(spark, sf).collect()
    )
    assert got == _duck_rows(_media_audio_energy_sql(), sf)
    for doc_id, *_ in rows:
        assert (doc_id, doc_id + PHASH_TWIN_OFFSET, 0) in got, doc_id


def test_planted_stage_rejects_twin_id_aliasing(spark, tmp_path):
    """ADVICE r13 (low): a corpus carrying doc_id ≥ PHASH_TWIN_OFFSET
    would alias minted twin ids and silently mispair — every planted
    stage must fail loudly instead."""
    # Py4J surfaces a Python-worker error as the converted PythonException
    # in a fresh session but as the raw Py4JJavaError deep into a long
    # suite session (conversion depends on how the aborting task's error
    # is classified) — accept either; the message match is the contract.
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import PythonException

    from block_crawler_spark.plans.media_ops import (
        PHASH_TWIN_OFFSET,
        media_audio_energy_query,
        media_image_dhash_query,
        media_phash_near_dup_query,
    )

    sf = _write_docs(
        spark, tmp_path, [(PHASH_TWIN_OFFSET + 1, "word " * 40, "en", "s", 200)]
    )
    for q in (media_phash_near_dup_query, media_image_dhash_query, media_audio_energy_query):
        with pytest.raises((PythonException, Py4JJavaError), match="PHASH_TWIN_OFFSET"):
            q(spark, sf).count()


def test_pq_rerank_recovers_exact_topk(spark):
    """The trained-PQ ADC→rerank two-stage query (VERDICT r13 task 1) at
    sf0.001: with the committed L=100 shortlist the rerank returns the
    EXACT integer-L2 top-5 for every query (recall@5 = 1.0), and every
    emitted distance equals the exact brute-force distance — the property
    the flat ADC tier cannot have (its adc_dist is the quantized
    approximation that degrades on clustered geometry; the rerank's
    output is exact BY CONSTRUCTION, only its membership depends on the
    shortlist)."""
    from pyspark.sql import Window

    from block_crawler_spark.operators.ann import int_sqdist, micro_fixed
    from block_crawler_spark.plans.embed_ops import (
        KNN_QUERY_IDS,
        PQ_TOPK,
        pq_rerank_topk_query,
    )
    from block_crawler_spark.sources.tables import load_table

    emb = load_table(spark, SF0, "embeddings")
    vm = emb.select(F.col("vec_id").alias("c_id"), micro_fixed(F.col("embedding")).alias("v"))
    qm = vm.filter(F.col("c_id") < KNN_QUERY_IDS).select(
        F.col("c_id").alias("q_id"), F.col("v").alias("qv")
    )
    w = Window.partitionBy("q_id").orderBy(F.col("d").asc(), F.col("c_id").asc())
    truth = {
        (r.q_id, r.c_id): r.d
        for r in qm.crossJoin(vm)
        .filter(F.col("q_id") != F.col("c_id"))
        .withColumn("d", int_sqdist(F.col("qv"), F.col("v")))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= PQ_TOPK)
        .collect()
    }
    got = {(r.q_id, r.c_id): r.dist for r in pq_rerank_topk_query(spark, SF0).collect()}
    assert set(got) == set(truth), "recall@5 must be 1.0 at the committed L on sf0.001"
    assert all(got[k] == truth[k] for k in got), "rerank distances are exact"


def _video_frame_dhash(frame_bytes, w, grid=8):
    """Independent numpy recompute of the per-frame 2-D dHash."""
    import numpy as np

    arr = np.frombuffer(frame_bytes, dtype=np.uint8).astype(np.int64)
    img = arr.reshape(len(arr) // w, w)
    hu, wu = img.shape[0], w
    blocks = img.reshape(grid, hu // grid, grid, wu // grid).sum(axis=(1, 3))
    h = 0
    for y in range(grid):
        for x in range(grid - 1):
            h = (h << 1) | int(blocks[y, x + 1] > blocks[y, x])
    return h


def test_video_dhash_planted_twins(spark, tmp_path):
    """The video family's sequence-level contract (VERDICT r13 task 4) on
    a controlled 4-frame clip of pairwise-dissimilar frames: the planted
    BRIGHTNESS twin pairs at 100 % frame agreement (per-frame exact
    level-shift invariance), the planted FRAME-REVERSED twin — same frame
    multiset, destroyed temporal alignment — does NOT pair, and an
    unrelated clip does not pair with either."""
    import numpy as np

    from block_crawler_spark.plans.media_ops import (
        PHASH_TWIN_OFFSET,
        VIDEO_FRAME_BYTES,
        VIDEO_FRAME_MAX_HAMMING,
        VIDEO_W,
        media_video_dhash_query,
    )

    rng = np.random.default_rng(3)

    def clip(n_frames):
        return rng.integers(33, 127, n_frames * VIDEO_FRAME_BYTES, dtype=np.uint8)

    c0, c7 = clip(4), clip(4)
    # precondition: the frames this test relies on are pairwise FAR apart
    # (orig sampled positions {0: f0, 2: f2}; the reversed clip puts f3 at
    # position 0 and f1 at position 2) and none hashes to 0
    fb = VIDEO_FRAME_BYTES
    sigs = [_video_frame_dhash(bytes(c0[i * fb : (i + 1) * fb]), VIDEO_W) for i in range(4)]
    assert all(s != 0 for s in sigs)
    assert bin(sigs[0] ^ sigs[3]).count("1") > VIDEO_FRAME_MAX_HAMMING
    assert bin(sigs[2] ^ sigs[1]).count("1") > VIDEO_FRAME_MAX_HAMMING

    rows = [
        (0, bytes(c0).decode("ascii"), "en", "s", 4 * fb),  # %6==0 and %10==0: both twins
        (7, bytes(c7).decode("ascii"), "en", "s", 4 * fb),  # no twins planted
    ]
    sf = _write_docs(spark, tmp_path, rows)
    pairs = {
        (r.id_a, r.id_b): r.agree_ppm for r in media_video_dhash_query(spark, sf).collect()
    }
    assert pairs.get((0, PHASH_TWIN_OFFSET)) == 1_000_000  # brightness twin: FOUND
    assert (0, 2 * PHASH_TWIN_OFFSET) not in pairs  # reversed twin: NOT paired
    assert all(a % PHASH_TWIN_OFFSET == b % PHASH_TWIN_OFFSET for a, b in pairs), pairs


def test_lm_gate_planted_corpus_populates_all_four_cells(spark):
    """The planted LM-gate query (VERDICT r13 task 5): on the harness
    corpus every doc lands in LM band 5, so the real-corpus
    ``doc_lm_gated_quality`` pins fail_lm_only = fail_both = 0; the
    planted twin must populate ALL FOUR (quality × LM-band) attribution
    cells, with each planted source landing ENTIRELY in its designed
    cell — noise docs (hub + unique continuation: band = ⌊log2 n1(hub)⌋+1
    > 8, quality exactly at the decile-4 floor) in fail_lm_only,
    boilerplate docs (repeated punct token: band 1, decile 0) in
    fail_both."""
    from block_crawler_spark.plans.text_ops import lm_gated_quality_planted_query

    rows = lm_gated_quality_planted_query(spark, SF0).collect()
    total = {
        c: sum(r[c] for r in rows)
        for c in ("pass_both", "fail_quality_only", "fail_lm_only", "fail_both")
    }
    assert all(v > 0 for v in total.values()), total
    noise = next(r for r in rows if r.source == "planted_noise")
    boiler = next(r for r in rows if r.source == "planted_boiler")
    assert noise.fail_lm_only == noise.n_docs > 0
    assert boiler.fail_both == boiler.n_docs > 0


def test_lm_gate_planted_rejects_id_aliasing(spark, tmp_path):
    """The planted LM corpus's twin-id guard (the media families' ADVICE
    r13 pattern, expressed relationally with assert_true): a corpus
    carrying doc_id ≥ LMP_TWIN_OFFSET must fail loudly, not silently
    merge planted and real docs."""
    from pyspark.errors import SparkRuntimeException

    from block_crawler_spark.plans.text_ops import (
        LMP_TWIN_OFFSET,
        lm_gated_quality_planted_query,
    )

    sf = _write_docs(
        spark, tmp_path, [(LMP_TWIN_OFFSET + 5, "plain words here", "en", "s", 16)]
    )
    with pytest.raises(SparkRuntimeException, match="LMP_TWIN_OFFSET"):
        lm_gated_quality_planted_query(spark, sf).collect()


@pytest.mark.slow
def test_family_overlap_pair_memo_hit_is_result_identical(spark):
    """The overlap pair-frame session memo (VERDICT r13 task 3 optional):
    a second ``dedup_family_overlap`` invocation replays the memoized
    pair sets and must return BIT-IDENTICAL rows; the under-valve
    families hold materialized memo entries while over-valve families
    (simhash at sf0.1) would cache only the 'toobig' verdict."""
    from block_crawler_spark.plans import memo
    from block_crawler_spark.plans.text_ops import family_overlap_query

    first = sorted(map(tuple, family_overlap_query(spark, SF0).collect()))
    # other tests may have populated ovlpairs entries for THEIR sf dirs
    # (full-suite session) — count only this corpus's keys
    entries = memo.entries()
    keys = [k for k in entries if k[0] == "ovlpairs" and k[2][0][0] == table_path(SF0, "documents")]
    assert len(keys) == 5, keys  # all five families took the memo path
    materialized = [k for k in keys if entries[k] is not None]
    assert materialized, "at sf0.001 at least the tiny families must memoize"
    second = sorted(map(tuple, family_overlap_query(spark, SF0).collect()))
    assert first == second


@pytest.mark.slow
def test_minhash_closure_memo_hit_is_result_identical(spark):
    """The minhash pair/closure session memos (round 14 — the semantic
    family's r13 pattern applied to the closure consumers): a cold build
    and a warm memo hit return bit-identical rows for every consumer —
    the closure assignment, the cluster-size histogram, the per-source
    rate, and PageRank — and the warm pass actually hits the memo."""
    from block_crawler_spark.plans import memo
    from block_crawler_spark.plans.text_ops import (
        dedup_cc_query,
        dedup_cluster_size_hist_query,
        dedup_rate_by_source_query,
        pair_pagerank_query,
    )

    def snap(df):
        return sorted(tuple(r) for r in df.collect())

    memo.clear()
    cold = {
        "cc": snap(dedup_cc_query(spark, SF0)),
        "hist": snap(dedup_cluster_size_hist_query(spark, SF0)),
        "rate": snap(dedup_rate_by_source_query(spark, SF0)),
        "pr": snap(pair_pagerank_query(spark, SF0)),
    }
    keys = {k[0] for k in memo.entries()}
    assert {"mhpairs", "mhcomp"} <= keys, keys
    warm = {
        "cc": snap(dedup_cc_query(spark, SF0)),
        "hist": snap(dedup_cluster_size_hist_query(spark, SF0)),
        "rate": snap(dedup_rate_by_source_query(spark, SF0)),
        "pr": snap(pair_pagerank_query(spark, SF0)),
    }
    assert cold == warm
    assert any(r[2] for r in cold["cc"]), "sf0.001 must contain near-dup clusters"


@pytest.mark.slow
def test_modality_pair_memo_hit_is_result_identical(spark):
    """The modality pair-frame session memos (round 14 — the overlap-pairs
    pattern applied to the media matrix): a second
    ``media_modality_overlap`` invocation replays the five memoized pair
    sets and must return BIT-IDENTICAL rows; all five families take the
    memo path and materialize at sf0.001."""
    from block_crawler_spark.plans import memo
    from block_crawler_spark.plans.media_ops import media_modality_overlap_query

    memo.clear()
    first = sorted(map(tuple, media_modality_overlap_query(spark, SF0).collect()))
    entries = memo.entries()
    keys = [k for k in entries if k[0] == "modpairs" and k[2][0][0] == table_path(SF0, "documents")]
    assert len(keys) == 5, keys
    assert all(entries[k] is not None for k in keys)
    second = sorted(map(tuple, media_modality_overlap_query(spark, SF0).collect()))
    assert first == second


@pytest.mark.slow
def test_corpus_phash_gate_blocks_perceptual_twins(spark, tmp_path):
    """The streaming perceptual gate (VERDICT r13 optional b — the dHash
    twin of the corpus store's minhash gate): (1) a brightness-shifted
    re-encode of an admitted doc — different bytes, different fp, same
    dHash — is BLOCKED cross-batch by the phindex band probe; (2) within
    a batch the lowest doc_id of a perceptual twin set wins; (3)
    unrelated content admits; (4) flat (all-zero-signature) docs admit
    and never block each other — the no-evidence policy; (5) a replayed
    batch id is a no-op.  The fp exact gate cannot catch (1): the twin's
    text differs byte-for-byte."""
    import numpy as np

    from block_crawler_spark.streaming.corpus import CorpusIngestStore

    rng = np.random.default_rng(11)

    def doc(n=400):
        return bytes(rng.integers(40, 120, n, dtype=np.uint8)).decode("ascii")

    def bright(text, delta=3):
        return bytes(b + delta for b in text.encode("ascii")).decode("ascii")

    base_a, base_b, base_c = doc(), doc(), doc()
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    store = CorpusIngestStore(spark, str(tmp_path / "corpus"), media_phash=True)

    def ingest(rows, bid):
        store.ingest_batch(
            spark.createDataFrame(
                [(i, t, "en", "s", len(t)) for i, t in rows], schema
            ),
            bid,
        )

    # batch 0: A, a within-batch bright twin of A (higher id: dropped),
    # an unrelated B, and a flat doc
    ingest([(0, base_a), (5, bright(base_a)), (1, base_b), (2, "z" * 300)], 0)
    ids0 = sorted(r["doc_id"] for r in store.corpus().collect())
    assert ids0 == [0, 1, 2], ids0

    # batch 1: a DIFFERENT bright twin of A (blocked cross-batch via the
    # band probe — fp differs, bytes differ), unrelated C (admitted),
    # another flat doc (admitted: zero signatures never block)
    ingest([(10, bright(base_a, delta=5)), (11, base_c), (12, "q" * 250)], 1)
    ids1 = sorted(r["doc_id"] for r in store.corpus().collect())
    assert ids1 == [0, 1, 2, 11, 12], ids1

    # stored dhash column: flat docs carry 0; A's signature is nonzero
    rows = {r["doc_id"]: r["dhash"] for r in store.corpus().collect()}
    assert rows[2] == 0 and rows[12] == 0 and rows[0] != 0

    # replay of batch 1 is a no-op
    ingest([(10, bright(base_a, delta=5)), (11, base_c), (12, "q" * 250)], 1)
    assert sorted(r["doc_id"] for r in store.corpus().collect()) == ids1

    # the durable side table mirrors the admitted non-degenerate docs
    ph = store.phash_index().select("doc_id").distinct().collect()
    assert sorted(r["doc_id"] for r in ph) == [0, 1, 11]

    # compaction folds docs and heals phindex from the stored dhash
    # column; the gate still blocks a perceptual twin afterwards
    assert store.compact() == 2
    ingest([(20, bright(base_b, delta=2)), (21, doc())], 2)
    assert sorted(r["doc_id"] for r in store.corpus().collect()) == ids1 + [21]


def test_modality_overlap_matches_independent_recompute(spark):
    """The cross-modality matrix (VERDICT r13 optional a) against an
    independent Python recompute: collect each family's pair set at
    sf0.001, map to source-doc pairs (mod the twin offset, self-links
    excluded) in plain Python, rebuild all 10 matrix cells, and require
    cell-for-cell equality with the query.  Also pins the corpus
    finding the docstring states: the 1-D content hash and the audio
    envelope are fully selective on text bytes (zero cross-document
    links), while the image raster view admits word-length-beat pairs
    that the video view (per-frame image hashing) largely shares."""
    from itertools import combinations

    from block_crawler_spark.plans.media_ops import (
        PHASH_TWIN_OFFSET,
        _phash_doc_blobs,
        media_audio_energy_query,
        media_image_dhash_query,
        media_modality_overlap_query,
        media_phash_near_dup_query,
        media_video_dhash_query,
    )
    from block_crawler_spark.sources.tables import load_table

    def src_pairs(rows):
        out = set()
        for r in rows:
            a, b = r["id_a"] % PHASH_TWIN_OFFSET, r["id_b"] % PHASH_TWIN_OFFSET
            if a != b:
                out.add((min(a, b), max(a, b)))
        return out

    by_blob = {}
    for r in load_table(spark, SF0, "documents").select("doc_id", "text").collect():
        for mid, blob in _phash_doc_blobs(r["doc_id"], r["text"]):
            by_blob.setdefault(blob, []).append(mid)
    exact = [
        {"id_a": x, "id_b": y}
        for ids in by_blob.values()
        for x, y in combinations(sorted(ids), 2)
    ]
    fams = {
        "exact": src_pairs(exact),
        "phash": src_pairs(media_phash_near_dup_query(spark, SF0).collect()),
        "image": src_pairs(media_image_dhash_query(spark, SF0).collect()),
        "audio": src_pairs(media_audio_energy_query(spark, SF0).collect()),
        "video": src_pairs(media_video_dhash_query(spark, SF0).collect()),
    }
    got = {
        (r["family_a"], r["family_b"]): (r["both"], r["only_a"], r["only_b"], r["agree_ppm"])
        for r in media_modality_overlap_query(spark, SF0).collect()
    }
    assert len(got) == 10
    for (fa, fb), (both, oa, ob, ppm) in got.items():
        A, B = fams[fa], fams[fb]
        assert both == len(A & B) and oa == len(A - B) and ob == len(B - A), (fa, fb)
        union = len(A | B)
        assert ppm == (len(A & B) * 1_000_000 // union if union else 0)
    # the pinned corpus finding: content/audio views fully selective,
    # raster views structurally linked and largely agreeing
    assert not fams["phash"] and not fams["audio"]
    assert fams["image"] and fams["video"]
    assert got[("image", "video")][0] > 0


@pytest.mark.slow
def test_ivfpq_rerank_exactness_and_pruning_contract(spark):
    """The IVFADC→rerank composition (round 14) at sf0.001: (1) every
    emitted distance equals the exact brute int64-L2 distance (the rerank
    is exact by construction); (2) every returned candidate lies in one
    of its query's nprobe probed cells — the pruning contract that also
    BOUNDS recall: a true neighbor in an unprobed cell is unreachable, so
    (3) measured recall@5 is 0.925 (37/40 — the three misses live in
    unprobed cells, verified), NOT 1.0 like the flat-shortlist
    ``emb_pq_rerank_topk``.  Raising nprobe, not L, is the recall dial."""
    from pyspark.sql import Window

    from block_crawler_spark.operators.ann import int_sqdist, ivf_assign, micro_fixed
    from block_crawler_spark.plans.embed_ops import (
        IVFPQ_CELLS,
        IVFPQ_NPROBE,
        KNN_QUERY_IDS,
        PQ_TOPK,
        ivfpq_rerank_topk_query,
    )
    from block_crawler_spark.sources.tables import load_table

    emb = load_table(spark, SF0, "embeddings")
    vm = emb.select(F.col("vec_id").alias("c_id"), micro_fixed(F.col("embedding")).alias("v"))
    qm = vm.filter(F.col("c_id") < KNN_QUERY_IDS).select(
        F.col("c_id").alias("q_id"), F.col("v").alias("qv")
    )
    w = Window.partitionBy("q_id").orderBy(F.col("d").asc(), F.col("c_id").asc())
    brute = {
        (r.q_id, r.c_id): (r.d, r.rank)
        for r in qm.crossJoin(vm)
        .filter(F.col("q_id") != F.col("c_id"))
        .withColumn("d", int_sqdist(F.col("qv"), F.col("v")))
        .withColumn("rank", F.row_number().over(w))
        .collect()
    }
    truth = {k for k, (_, rk) in brute.items() if rk <= PQ_TOPK}

    centroids = emb.filter(F.col("vec_id") < IVFPQ_CELLS)
    cell = {r["vec_id"]: r["centroid_id"] for r in ivf_assign(emb, centroids).collect()}
    probes = {}
    for r in ivf_assign(
        emb.filter(F.col("vec_id") < KNN_QUERY_IDS), centroids, n_assign=IVFPQ_NPROBE
    ).collect():
        probes.setdefault(r["vec_id"], set()).add(r["centroid_id"])

    got = {(r.q_id, r.c_id): r.dist for r in ivfpq_rerank_topk_query(spark, SF0).collect()}
    for (q, c), dist in got.items():
        assert dist == brute[(q, c)][0]  # exact rerank distances
        assert cell[c] in probes[q], (q, c)  # pruning contract
    hits = set(got) & truth
    assert len(hits) / len(truth) == 0.925, len(hits)
    # the misses are exactly the true neighbors living in unprobed cells
    for q, c in truth - set(got):
        assert cell[c] not in probes[q], (q, c)


def test_stream_phash_admission_sim_matches_independent_recompute(spark):
    """The streaming perceptual gate's relational twin
    (media_stream_phash_admission_sim) against a FULL independent Python
    recompute at sf0.001: re-derive the planted corpus (numpy byte
    transforms), re-fingerprint with the reference dHash, re-band, and
    replay the admission rule (within-batch keep-lowest-id, then the
    admitted-corpus probe, Hamming <= PHASH_MAX_HAMMING, all-zero
    signatures never banded) — cell-for-cell equality required.  Also
    pins the gate finding: EVERY planted twin is blocked (no 'admitted'
    verdict — brightness/copy are Hamming 0, all noise twins land within
    the banded radius), and the store's default Hamming budget cannot
    drift from the batch family's."""
    import numpy as np
    import pandas as pd
    from test_r13_evidence import _dhash_ref

    from block_crawler_spark.plans.media_ops import (
        PHASH_BANDS,
        PHASH_BRIGHT_DELTA,
        PHASH_BRIGHT_MOD,
        PHASH_EXACT_MOD,
        PHASH_MAX_HAMMING,
        PHASH_NOISE_EVERY,
        PHASH_NOISE_MOD,
        PHASH_NOISE_STRIDE,
        PHASH_TWIN_OFFSET,
        media_stream_phash_admission_sim_query,
    )
    from block_crawler_spark.operators.multimodal import DHASH_BITS
    from block_crawler_spark.streaming.corpus import CorpusIngestStore

    assert (
        CorpusIngestStore.__dataclass_fields__["phash_max_hamming"].default
        == PHASH_MAX_HAMMING
    )

    docs = pd.read_parquet(f"{SF0}/documents.parquet")
    off = PHASH_TWIN_OFFSET
    sig = {}
    for did, txt in zip(docs["doc_id"], docs["text"]):
        did = int(did)
        arr = np.frombuffer((txt or "").encode("utf-8"), dtype=np.uint8).astype(np.int64)
        sig[did] = _dhash_ref(arr)
        if did % PHASH_BRIGHT_MOD == 0:
            sig[did + off] = _dhash_ref(np.minimum(arr + PHASH_BRIGHT_DELTA, 255))
        if did % PHASH_NOISE_MOD == 0:
            i = np.arange(len(arr), dtype=np.int64)
            noise = (i * PHASH_NOISE_STRIDE + did) % PHASH_NOISE_EVERY == 0
            sig[did + 2 * off] = _dhash_ref(np.minimum(arr + noise, 255))
        if did % PHASH_EXACT_MOD == 0:
            sig[did + 3 * off] = sig[did]

    width = DHASH_BITS // PHASH_BANDS
    mask = (1 << width) - 1

    def bands(h):
        return {
            (b, (h >> (DHASH_BITS - (b + 1) * width)) & mask) for b in range(PHASH_BANDS)
        }

    batch = sorted(i for i in sig if i >= off)
    by_band = {}
    for i in (i for i in sig if i < off):
        if sig[i] != 0:
            for bv in bands(sig[i]):
                by_band.setdefault(bv, []).append(i)
    cells = {}
    for i in batch:
        kind = ("bright", "noise", "copy")[i // off - 1]
        if sig[i] == 0:
            v = "admitted_degenerate"
        else:
            bb = bands(sig[i])
            in_batch = any(
                j < i and sig[j] != 0 and bands(sig[j]) & bb
                and bin(sig[i] ^ sig[j]).count("1") <= PHASH_MAX_HAMMING
                for j in batch
            )
            seen = any(
                bin(sig[i] ^ sig[j]).count("1") <= PHASH_MAX_HAMMING
                for bv in bb
                for j in by_band.get(bv, ())
            )
            v = "blocked_batch" if in_batch else ("blocked_seen" if seen else "admitted")
        cells[(kind, v)] = cells.get((kind, v), 0) + 1

    got = {
        (r["twin_kind"], r["verdict"]): r["n_docs"]
        for r in media_stream_phash_admission_sim_query(spark, SF0).collect()
    }
    assert got == cells
    assert not any(v == "admitted" for _, v in got)
    assert sum(got.values()) == len(batch)


@pytest.mark.slow
def test_minhash_admission_sim_matches_the_real_store_and_exact_superset(spark, tmp_path):
    """dedup_stream_minhash_admission_sim claims to be the relational twin
    of the corpus store's NEAR-DUP gate on the exact sim's re-submission
    protocol — prove it against the REAL store: feed
    CorpusIngestStore(near_dup=True) the same admitted set + synthetic
    batch; because identical fp ⇒ Jaccard 1.0, the minhash gate's blocked
    set subsumes the exact gate's, so the store's (exact → near-dup)
    composition must admit EXACTLY the sim's 'admitted' count.  Also pins
    the superset theorem against dedup_stream_admission_sim's verdicts on
    the same input (the surplus = intrinsic near-dups at >= 0.5 true
    Jaccard), and the drift guards tying the sim's constants to the
    store's threshold and the operators' signature layout."""
    import inspect

    from block_crawler_spark.operators.dedup import band_buckets, minhash_signatures
    from block_crawler_spark.plans.text_ops import (
        BAND_SIZE,
        NUM_HASHES,
        STORE_JACCARD_PPM,
        stream_admission_sim_query,
        stream_minhash_admission_sim_query,
    )
    from block_crawler_spark.sources.tables import load_table
    from block_crawler_spark.streaming.corpus import CorpusIngestStore

    assert (
        int(CorpusIngestStore.__dataclass_fields__["jaccard_threshold"].default * 1_000_000)
        == STORE_JACCARD_PPM
    )
    assert inspect.signature(minhash_signatures).parameters["num_hashes"].default == NUM_HASHES
    assert inspect.signature(band_buckets).parameters["band_size"].default == BAND_SIZE

    sim = {
        r["verdict"]: r["n_docs"]
        for r in stream_minhash_admission_sim_query(spark, SF0).collect()
    }
    exact = {
        r["verdict"]: r["n_docs"] for r in stream_admission_sim_query(spark, SF0).collect()
    }
    # superset theorem: every exact-blocked doc is minhash-blocked too
    assert sim["admitted"] <= exact["admitted"]
    assert sim.get("blocked_batch", 0) >= exact.get("blocked_batch", 0)
    assert sum(sim.values()) == sum(exact.values())
    # non-vacuity: the near-dup gate adds blocks the exact gate misses
    # (the corpus's intrinsic near-dups straddling the batch boundary)
    assert sim["admitted"] < exact["admitted"]

    docs = load_table(spark, SF0, "documents")
    admitted0 = docs.filter(F.col("doc_id") % 5 != 4)
    src = F.expr(
        "CASE WHEN doc_id % 25 = 24 THEN doc_id - 5 "
        "WHEN doc_id % 10 = 9 THEN doc_id - 4 ELSE doc_id END"
    )
    batch = (
        docs.filter(F.col("doc_id") % 5 == 4)
        .select("doc_id", "lang", "source", src.alias("src_id"))
        .join(docs.select(F.col("doc_id").alias("src_id"), "text", "n_chars"), "src_id")
        .select("doc_id", "text", "lang", "source", "n_chars")
    )
    assert sum(sim.values()) == batch.count()
    store = CorpusIngestStore(spark, str(tmp_path / "corpus"), near_dup=True)
    store.ingest_batch(admitted0, 0)
    n0 = store.corpus().count()
    store.ingest_batch(batch, 1)
    assert store.corpus().count() - n0 == sim["admitted"], sim


def test_semantic_admission_sim_matches_independent_recompute(spark):
    """The semantic gate's relational twin
    (dedup_stream_semantic_admission_sim) against a FULL independent
    Python recompute at sf0.001: re-derive the micro-fixed vectors, run
    the Lloyd trainer from scratch in numpy (lowest-id seeds, struct-min
    ties, floor-mean updates, empty cells dropped — the SQL chain's
    arithmetic), re-assign admitted top-1 / batch top-2, and replay the
    admission rule — cell-for-cell equality required.  Also pins that the
    sim models the store's DEFAULT vindex layout (one membership per
    admitted doc) and that all three verdicts are populated."""
    import numpy as np
    import pandas as pd

    from block_crawler_spark.plans.embed_ops import (
        SEM_CELLS_ITERS,
        SEM_K_MAX,
        SEM_SQDIST_MAX,
        SEM_TARGET_CELL,
        stream_semantic_admission_sim_query,
    )
    from block_crawler_spark.streaming.corpus import CorpusIngestStore

    assert CorpusIngestStore.__dataclass_fields__["vindex_probes"].default == 1

    emb = pd.read_parquet(f"{SF0}/embeddings.parquet").sort_values("vec_id")
    vids = emb["vec_id"].to_numpy()
    V = np.floor(np.stack(emb["embedding"].to_numpy()).astype(np.float64) * 1_000_000).astype(
        np.int64
    )
    byid = {int(i): V[j] for j, i in enumerate(vids)}
    adm_ids = sorted(i for i in byid if i % 5 != 4)
    batch_ids = sorted(i for i in byid if i % 5 == 4)
    bvec = {}
    for i in batch_ids:
        s = i - 5 if i % 25 == 24 else (i - 4 if i % 10 == 9 else i)
        bvec[i] = byid[s]

    A = np.stack([byid[i] for i in adm_ids])
    k = min(max(8, len(adm_ids) // SEM_TARGET_CELL), SEM_K_MAX)
    cents = [(c, A[c].astype(np.float64)) for c in range(k)]  # seeds: k lowest-id
    for _ in range(SEM_CELLS_ITERS):
        C = np.stack([c for _, c in cents])
        d = ((A[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)  # first min = lowest cid (cents cid-ordered)
        nxt = []
        for j, (cid, _) in enumerate(cents):
            mem = A[assign == j]
            if len(mem):
                nxt.append((cid, np.floor(mem.sum(axis=0) / len(mem))))
        cents = nxt
    C = np.stack([c for _, c in cents]).astype(np.int64)
    cids = [cid for cid, _ in cents]

    def sqd(a, b):
        x = (a - b).astype(np.int64)
        return int((x * x).sum())

    def probes(v, n):
        d = ((C - v.astype(np.int64)) ** 2).sum(axis=1)
        order = sorted(range(len(cids)), key=lambda j: (d[j], cids[j]))
        return [cids[j] for j in order[:n]]

    adm_cell = {}
    for i in adm_ids:
        adm_cell.setdefault(probes(byid[i], 1)[0], []).append(i)
    bprobe = {i: set(probes(bvec[i], 2)) for i in batch_ids}
    cells = {}
    for i in batch_ids:
        in_batch = any(
            j < i and (bprobe[j] & bprobe[i]) and sqd(bvec[j], bvec[i]) <= SEM_SQDIST_MAX
            for j in batch_ids
        )
        seen = any(
            sqd(bvec[i], byid[m]) <= SEM_SQDIST_MAX
            for c in bprobe[i]
            for m in adm_cell.get(c, ())
        )
        v = "blocked_batch" if in_batch else ("blocked_seen" if seen else "admitted")
        cells[v] = cells.get(v, 0) + 1

    got = {
        r["verdict"]: r["n_docs"]
        for r in stream_semantic_admission_sim_query(spark, SF0).collect()
    }
    assert got == cells, (got, cells)
    assert all(got.get(v, 0) > 0 for v in ("blocked_batch", "blocked_seen", "admitted"))
