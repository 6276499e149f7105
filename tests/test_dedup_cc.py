"""Connected-components dedup assignment (transitive closure) semantics."""

from __future__ import annotations

from pyspark.sql import functions as F

from block_crawler_spark.operators.dedup import (
    dedup_assignments,
    dedup_assignments_cc,
    dedup_components,
)


def _docs(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], ["doc_id"])


def _pairs(spark, edges):
    return spark.createDataFrame(edges, ["id_a", "id_b"])


def test_chain_collapses_to_one_component(spark):
    # 1-2, 2-3, 3-4: multi-hop chain needs >1 propagation round
    comp = {r["id"]: r["comp"] for r in dedup_components(_pairs(spark, [(1, 2), (2, 3), (3, 4)])).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1}


def test_star_where_greedy_over_drops(spark):
    """Pairs (1,2),(1,3): closure and greedy agree here — but with pairs
    (2,3),(2,4) plus doc 1 unrelated, the cluster keeps its true minimum
    (2), and 1 stays independent."""
    docs = _docs(spark, [1, 2, 3, 4])
    pairs = _pairs(spark, [(2, 3), (2, 4)])
    got = {r["doc_id"]: (r["keep_id"], r["is_duplicate"]) for r in dedup_assignments_cc(docs, pairs).collect()}
    assert got == {1: (1, False), 2: (2, False), 3: (2, True), 4: (2, True)}


def test_transitive_keep_id_on_partial_pair_enumeration(spark):
    """Edges (11,12),(12,13): 13 is a near-dup of 11 only transitively —
    LSH never emitted (11,13) — yet closure assigns it keep_id 11.  The
    greedy rule can only say drop/keep; closure additionally names the
    cluster survivor for every member."""
    docs = _docs(spark, [11, 12, 13])
    pairs = _pairs(spark, [(11, 12), (12, 13)])
    cc = {r["doc_id"]: r["keep_id"] for r in dedup_assignments_cc(docs, pairs).collect()}
    assert cc == {11: 11, 12: 11, 13: 11}
    # greedy agrees on is_duplicate for this shape (sanity cross-check)
    greedy = {r["doc_id"]: r["is_duplicate"] for r in dedup_assignments(docs, pairs).collect()}
    assert greedy == {11: False, 12: True, 13: True}


def test_no_pairs_everything_kept(spark):
    docs = _docs(spark, [1, 2])
    empty = spark.createDataFrame([], "id_a long, id_b long")
    got = {r["doc_id"]: (r["keep_id"], r["is_duplicate"]) for r in dedup_assignments_cc(docs, empty).collect()}
    assert got == {1: (1, False), 2: (2, False)}


def test_minhash_stage_path_materializes_and_matches_cache(spark, tmp_path):
    """The 100 TB materialization path: stage_path writes the shingle table
    to parquet and reads it back; results must equal the cache() path and
    the stage files must actually exist on disk."""
    import os

    from block_crawler_spark.operators.dedup import jaccard_pairs, minhash_lsh_candidates, minhash_signatures

    def minhash_dedup_pairs(docs, threshold, stage_path=None):
        sigs = minhash_signatures(docs, stage_path=stage_path)
        return jaccard_pairs(sigs, minhash_lsh_candidates(sigs), threshold=threshold)

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "completely unrelated text about spark shuffles"),
            (4, "the quick brown fox jumps over the lazy dog"),
        ],
        "doc_id long, text string",
    )
    stage = str(tmp_path / "shingle_stage")
    via_stage = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in minhash_dedup_pairs(docs, threshold=0.3, stage_path=stage).collect()
    }
    via_cache = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in minhash_dedup_pairs(docs, threshold=0.3).collect()
    }
    assert via_stage == via_cache and via_stage, "stage path must not change results"
    assert any(n.endswith(".parquet") for n in os.listdir(stage)), "stage table written"


def test_simhash_band_pairs_pigeonhole_and_hamming(spark):
    """Banded SimHash pairs: any pair within Hamming < bands shares a band
    (pigeonhole → found); verified distance is exact; pairs with a shared
    band but distance > max_hamming are filtered; fully distinct sigs with
    no shared band never surface."""
    from block_crawler_spark.operators.dedup import simhash_band_pairs

    base = 0b1010_1100_0011_0101_1111_0000_1100_1010  # arbitrary 32-bit sig
    sigs = spark.createDataFrame(
        [
            (1, base),
            (2, base),                     # identical → hamming 0
            (3, base ^ 0b11),              # 2 low bits differ (one band) → hamming 2
            (4, base ^ 0x11111111),        # 1 bit per nibble: every band differs, hamming 8
            (5, base ^ 0x000000FF),        # last band differs fully; shares 3 bands, hamming 8 → filtered
        ],
        "doc_id long, simhash long",
    )
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_band_pairs(sigs, bits=32, bands=4, max_hamming=3).collect()
    }
    assert got[(1, 2)] == 0 and got[(2, 3)] == 2 and got[(1, 3)] == 2
    assert not any(4 in p for p in got), "no shared band → never a candidate"
    assert not any(5 in p for p in got), "candidate but hamming 8 > 3 → verified away"


def test_pii_primitives(spark):
    """Email/URL counts and redaction: spans counted, replaced with typed
    placeholders; PII-free text passes through (case-normalized) unchanged."""
    from pyspark.sql import functions as F

    from block_crawler_spark.functions.text import pii_email_count, pii_url_count, redact_pii

    rows = [
        (1, "Mail A.B+c@Ex.org or x@y.io, docs at https://d.io/p?q=1"),
        (2, "no personal data here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string").select(
        "doc_id",
        pii_email_count(F.col("text")).alias("e"),
        pii_url_count(F.col("text")).alias("u"),
        redact_pii(F.col("text")).alias("red"),
    )
    got = {r["doc_id"]: r for r in df.collect()}
    assert (got[1]["e"], got[1]["u"]) == (2, 1)
    assert got[1]["red"] == "mail <email> or <email>, docs at <url>"
    assert (got[2]["e"], got[2]["u"]) == (0, 0)
    assert got[2]["red"] == "no personal data here"


def test_simhash64_full_width_prefix_property(spark):
    """The 32-bit signature is exactly the top half of the 64-bit one (both
    read their bits off the same md5 prefix), so widening the signature
    only ADDS discrimination — the deterministic form of '64-bit recall
    configuration refines 32-bit', pinned without an oracle query (SQL
    can't recompose the sign bit portably)."""
    from pyspark.sql import functions as F

    from block_crawler_spark.operators.dedup import simhash64

    docs = spark.createDataFrame(
        [(i, f"alpha bravo charlie delta echo w{i} x{i * 7 % 13}") for i in range(20)],
        "doc_id long, text string",
    )
    s32 = {r["doc_id"]: r["simhash"] for r in simhash64(docs, bits=32).collect()}
    s64 = simhash64(docs, bits=64)
    top = {
        r["doc_id"]: r["hi"]
        for r in s64.select("doc_id", F.shiftrightunsigned("simhash", 32).alias("hi")).collect()
    }
    assert top == s32
    # the sign-bit path must actually execute: over 20 docs the first md5
    # bit is ~certain to be 1 for some doc → at least one negative long
    assert any(r["simhash"] < 0 for r in s64.collect()), "no signature exercised the sign bit"


def test_simhash_band_pairs_64bit_recall_supersets_32bit(spark):
    """64-bit banding recall on a seeded near-dup fixture.  With the band
    boundaries ALIGNED to the 32-bit registry configuration (8 bands of
    8 bits — the 32-bit sig is the 64-bit sig's prefix, so each 32-bit
    band IS a 64-bit band), every candidate the 32-bit config generates
    is generated at 64 bits too, hence recall ⊇ with a scaled Hamming
    budget.  (The 16-bit-band corpus config trades that guarantee for
    65 536-bucket density — its pigeonhole floor is checked below.)"""
    from block_crawler_spark.operators.dedup import simhash64, simhash_band_pairs

    rows, did = [], 0
    for v in range(8):
        toks = [f"v{v}tok{i}" for i in range(40)]
        text = " ".join(toks)
        rows.append((did, text)); did += 1
        # near-dup: one token replaced out of 40 (variants fully disjoint)
        rows.append((did, text.replace(f"v{v}tok7", f"v{v}swap"))); did += 1
    for v in range(6):  # distinct background docs
        rows.append((did, " ".join(f"zz{v}x{i}" for i in range(30)))); did += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    s32 = simhash64(docs, bits=32)
    s64 = simhash64(docs, bits=64)
    pairs32 = {
        (r["id_a"], r["id_b"])
        for r in simhash_band_pairs(s32, bits=32, bands=4, max_hamming=3).collect()
    }
    pairs64 = {
        (r["id_a"], r["id_b"])
        for r in simhash_band_pairs(s64, bits=64, bands=8, max_hamming=8).collect()
    }
    assert pairs32, "fixture must produce 32-bit near-dup pairs"
    assert pairs64 >= pairs32, f"64-bit lost pairs: {pairs32 - pairs64}"
    # the doubled width pays off on this fixture: strictly more true pairs
    seeded_truth = {(2 * v, 2 * v + 1) for v in range(8)}
    assert pairs64 & seeded_truth > pairs32 & seeded_truth

    # pigeonhole floor of the corpus-scale 16-bit-band config: banding
    # finds EVERY pair with Hamming < bands — cross-check vs direct xor
    import itertools

    sig = {r["doc_id"]: r["simhash"] for r in s64.collect()}
    truth_3 = {
        (a, b)
        for a, b in itertools.combinations(sorted(sig), 2)
        if bin((sig[a] ^ sig[b]) & ((1 << 64) - 1)).count("1") <= 3
    }
    found_3 = {
        (r["id_a"], r["id_b"])
        for r in simhash_band_pairs(s64, bits=64, bands=4, max_hamming=3).collect()
    }
    assert found_3 == truth_3


def test_containment_catches_subset_duplication_jaccard_misses(spark):
    """A short document fully embedded in a long one: Jaccard is tiny (the
    container dilutes the union) but containment of the short side is
    1.0 — the quote/boilerplate-leakage case the symmetric near-dup cut
    can never flag."""
    from pyspark.sql import functions as F

    from block_crawler_spark.operators.dedup import (
        jaccard_pairs,
        minhash_lsh_candidates,
        minhash_signatures,
    )

    short = "alpha bravo charlie delta echo foxtrot golf hotel india juliett"
    long_ = short + " " + " ".join(f"filler{i}" for i in range(8))
    docs = spark.createDataFrame([(1, short), (2, long_)], "doc_id long, text string")
    sigs = minhash_signatures(docs)
    cands = minhash_lsh_candidates(sigs)
    sh = sigs.select("doc_id", "shingles")
    j = (
        cands.join(sh.withColumnRenamed("doc_id", "id_a").withColumnRenamed("shingles", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("doc_id", "id_b").withColumnRenamed("shingles", "sh_b"), "id_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("cont_a_ppm", F.expr("CAST(inter * 1000000 DIV size(sh_a) AS BIGINT)"))
        .withColumn("jacc_ppm", F.expr("CAST(inter * 1000000 DIV size(array_union(sh_a, sh_b)) AS BIGINT)"))
        .collect()
    )
    # the pair must band-collide (shared prefix shingles dominate the short
    # doc's signature) and show the asymmetry
    assert j, "subset pair must surface as an LSH candidate on this fixture"
    row = j[0]
    assert row["cont_a_ppm"] == 1_000_000, row
    assert row["jacc_ppm"] <= 500_000, row  # far under the containment cut (0.8)
    # the symmetric Jaccard verifier at a standard 0.6 near-dup cut drops
    # the pair that containment flags at 1.0 — the asymmetry in one line
    assert jaccard_pairs(sigs, minhash_lsh_candidates(sigs), threshold=0.6).count() == 0


def test_winnow_pairs_catch_partial_span_overlap(spark, tmp_path, monkeypatch):
    """A copied paragraph inside an otherwise-unrelated document: the
    winnowing pair detector flags the pair via the shared span's window
    minima — order-sensitive local overlap that whole-document Jaccard
    dilutes."""
    from block_crawler_spark.plans import text_ops as T

    para = "the quick brown fox jumps over the lazy dog near the quiet river bank today"
    doc_a = para + " and then some closing words only in a"
    doc_b = " ".join(f"unrelated{i}" for i in range(20)) + " " + para
    doc_c = " ".join(f"other{i}" for i in range(25))
    docs = spark.createDataFrame(
        [(1, doc_a, "en", "s", len(doc_a)), (2, doc_b, "en", "s", len(doc_b)), (3, doc_c, "en", "s", len(doc_c))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = str(tmp_path / "docs.parquet")
    docs.write.parquet(out)

    import block_crawler_spark.plans.text_ops as mod

    def fake_load(spark_, sf_dir, name):
        assert name == "documents"
        return spark_.read.parquet(out)

    monkeypatch.setattr(mod, "load_table", fake_load)
    rows = {(r["id_a"], r["id_b"]): r for r in T.winnow_pair_query(spark, "ignored").collect()}
    assert (1, 2) in rows, rows
    assert rows[(1, 2)]["n_shared"] >= T.WINNOW_PAIR_MIN_SHARED
    assert not any(3 in k for k in rows), "unrelated doc must not pair"
