"""Evidence tests for the round-11 changes: the shared trained-centroid
memo (result-identity under cold vs warm memo — the one thing a memo must
prove), and the semantic recall probe's loss-split identity (retained =
same-cell ∧ same-shard, so the probe's cell/shard split is exact by
construction, asserted here against an independent recomputation)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from block_crawler_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def _frozen(rows):
    return sorted(tuple(r) for r in rows)


@pytest.mark.slow
def test_centroid_memo_hit_is_result_identical(spark):
    """Cold (trains, populates the memo) vs warm (memo hit: stored
    centroids + single-pass assignment) must produce the same frame for
    every memoized family — the trainer's determinism makes this an exact
    equality, not a tolerance check."""
    from block_crawler_spark.plans import embed_ops, memo

    for fn in (
        embed_ops.semantic_cells_query,
        embed_ops.kmeans_stats_query,
        embed_ops.centroid_outliers_query,
    ):
        memo.clear()
        cold = _frozen(fn(spark, SF).collect())
        assert memo.entries(), "cold run must populate the memo"
        warm = _frozen(fn(spark, SF).collect())
        assert cold == warm, f"{fn.__name__}: memo hit diverged from training"


@pytest.mark.slow
def test_semantic_trio_shares_one_training(spark):
    """The semantic trio (cells → keep composes cells; balanced sample)
    all train the identical (sf_dir, _sem_k(N), iters) codebook: after one
    of them runs, the memo holds exactly one CENTROID entry and the others
    reuse it (the r10 verdict's capture/bench cost fix).  Since round 13
    the same dict also memoizes the shared pair stage ("sempairs") and
    closure ("semcomp") — the trio must still converge to exactly one
    entry of EACH kind, never one per consumer."""
    from block_crawler_spark.plans import embed_ops, memo

    def kinds():
        from collections import Counter

        return Counter(
            k[0] if k[0] in ("sempairs", "semcomp") else "centroids" for k in memo.entries()
        )

    memo.clear()
    embed_ops.semantic_cells_query(spark, SF).collect()
    assert kinds()["centroids"] == 1
    embed_ops.semantic_keep_query(spark, SF).collect()
    embed_ops.balanced_sample_query(spark, SF).collect()
    got = kinds()
    assert got["centroids"] == 1, "trio must share one codebook entry"
    assert got["sempairs"] == 1 and got["semcomp"] == 1, got


def test_semantic_pairs_loss_split_is_exact(spark):
    """The recall probe's decomposition (cell loss + shard loss + recall
    = 1) relies on retained pairs being EXACTLY the truth pairs whose
    members share (cell, shard).  Recompute that set independently from
    the assignment — including the r11 distance-band shard key (rank
    within cell by (dist, vid), equal-frequency bands) — under a forced
    tiny cap so n_shards > 1 genuinely fires, and compare to what
    _semantic_pairs emits."""
    from block_crawler_spark.operators.ann import int_sqdist, kmeans_lloyd_fixed, micro_fixed
    from block_crawler_spark.plans.embed_ops import (
        SEM_CELLS_ITERS,
        SEM_SQDIST_MAX,
        _semantic_pairs,
    )

    emb = load_table(spark, SF, "embeddings")
    vecs = emb.select(F.col("vec_id").alias("vid"), micro_fixed(F.col("embedding")).alias("v"))
    # small k + tiny cap so n_shards > 1 genuinely fires in the fixture
    assign, _ = kmeans_lloyd_fixed(emb, k=8, iters=SEM_CELLS_ITERS)
    cap = 25
    got = {
        (r["id_a"], r["id_b"]) for r in _semantic_pairs(assign, vecs, cell_cap=cap).collect()
    }

    a = vecs.select(F.col("vid").alias("id_a"), F.col("v").alias("va"))
    b = vecs.select(F.col("vid").alias("id_b"), F.col("v").alias("vb"))
    truth = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("sqdist", int_sqdist(F.col("va"), F.col("vb")))
        .filter(F.col("sqdist") <= SEM_SQDIST_MAX)
        .select("id_a", "id_b")
        .collect()
    )
    arows = assign.collect()
    amap = {r["vid"]: r["cid"] for r in arows}
    dmap = {r["vid"]: r["dist"] for r in arows}
    by_cell: dict = {}
    for v, c in amap.items():
        by_cell.setdefault(c, []).append(v)
    shard: dict = {}
    for c, vs in by_cell.items():
        n = (len(vs) + cap - 1) // cap
        band = (len(vs) + n - 1) // n
        for i, v in enumerate(sorted(vs, key=lambda v: (dmap[v], v))):
            shard[v] = i // band
    n_shards = {c: (len(vs) + cap - 1) // cap for c, vs in by_cell.items()}
    assert max(n_shards.values()) > 1, "fixture must exercise the sharded regime"
    expected = {
        (r["id_a"], r["id_b"])
        for r in truth
        if amap[r["id_a"]] == amap[r["id_b"]] and shard[r["id_a"]] == shard[r["id_b"]]
    }
    assert got == expected


def test_bigram_surprisal_conserves_occurrences_and_floors(spark):
    """Conservation: each doc contributes exactly max(len-1, 0) bigram
    occurrences (bigrams never cross documents); identity: the reported
    mean is sum_bits*1000 DIV n_bigrams; floor: every bits value is >= 1
    (n1 >= n2 by construction) so mean >= 1000 milli-bits."""
    from block_crawler_spark.functions.text import tokens
    from block_crawler_spark.plans.text_ops import bigram_surprisal_query

    rows = bigram_surprisal_query(spark, SF).collect()
    assert rows
    per_doc = (
        load_table(spark, SF, "documents")
        .select(
            "source",
            F.greatest(
                F.size(tokens(F.lower(F.trim(F.col("text"))))) - 1, F.lit(0)
            ).alias("nb"),
        )
        .groupBy("source")
        .agg(F.sum("nb").alias("nb"))
    )
    expected = {r["source"]: r["nb"] for r in per_doc.collect()}
    for r in rows:
        assert r["n_bigrams"] == expected[r["source"]]
        assert r["mean_surprisal_mbits"] == r["sum_bits"] * 1000 // r["n_bigrams"]
        assert r["mean_surprisal_mbits"] >= 1000
    assert sum(r["n_bigrams"] for r in rows) == sum(expected.values())


def test_multiprobe_pairs_superset_and_true(spark):
    """p=2 multi-probe must (1) emit a SUPERSET of the single-probe pairs
    IN THE UNSHARDED REGIME (top-2 contains top-1, and with every cell
    under SEM_CELL_CAP in both runs the band partitioning can't differ —
    past the cap the doubled memberships re-band cells and the superset
    claim does NOT hold in general, per the knee-mp2 probe row; the guard
    asserts the fixture stays in the regime where the claim is a
    theorem), (2) emit only TRUE within-threshold pairs (it widens
    candidates, never the verdict), (3) emit each pair once (the
    struct-min dedupe)."""
    from block_crawler_spark.operators.ann import int_sqdist, micro_fixed
    from block_crawler_spark.plans.embed_ops import (
        SEM_SQDIST_MAX,
        semantic_cells_mp_query,
        semantic_cells_query,
    )

    single_rows = semantic_cells_query(spark, SF).collect()
    single = {(r["id_a"], r["id_b"]) for r in single_rows}
    mp_rows = semantic_cells_mp_query(spark, SF).collect()
    mp = [(r["id_a"], r["id_b"]) for r in mp_rows]
    assert len(mp) == len(set(mp)), "a pair meeting in both shared cells must dedupe"
    unsharded = all(r["n_shards"] == 1 for r in single_rows) and all(
        r["n_shards"] == 1 for r in mp_rows
    )
    assert unsharded, "fixture left the regime where superset is a theorem — re-derive"
    assert single <= set(mp), "top-2 cells contain the top-1 cell"
    vecs = load_table(spark, SF, "embeddings").select(
        F.col("vec_id").alias("vid"), micro_fixed(F.col("embedding")).alias("v")
    )
    vmap = {r["vid"]: r["v"] for r in vecs.collect()}
    for r in mp_rows:
        a, b = vmap[r["id_a"]], vmap[r["id_b"]]
        sq = sum((x - y) * (x - y) for x, y in zip(a, b))
        assert sq == r["sqdist"] <= SEM_SQDIST_MAX


def test_rp_rerank_beats_raw_sketch(spark):
    """The two-stage search must turn the honest-low sketch recall into a
    usable number: measured rerank recall@10 is 0.6 at sf0.001 and 0.8 at
    sf0.01 (vs 0.1/0.3 for the raw sketch — the 10× overfetch only needs
    the true neighbors anywhere in the top-100).  Banded so a shortlist
    regression that collapses to sketch-level recall fails."""
    from block_crawler_spark.plans.embed_ops import rp_rerank_topk_query, rp_topk_query
    from tests.test_r10_evidence import _brute_topk_ids

    for sf, floor in (("/root/testdata/sf0.001", 0.5), ("/root/testdata/sf0.01", 0.6)):
        truth = _brute_topk_ids(spark, sf)
        rer = {r["vec_id"] for r in rp_rerank_topk_query(spark, sf).collect()}
        raw = {r["vec_id"] for r in rp_topk_query(spark, sf).collect()}
        rec, raw_rec = len(rer & truth) / len(truth), len(raw & truth) / len(truth)
        assert floor <= rec <= 1.0, f"{sf}: rerank recall {rec} out of band"
        assert rec > raw_rec, f"{sf}: rerank must beat the raw sketch ({rec} vs {raw_rec})"
        # distances must be EXACT (rank-1 is the query itself at distance 0)
        rows = sorted(rp_rerank_topk_query(spark, sf).collect(), key=lambda r: r["rank"])
        assert rows[0]["vec_id"] == 0 and rows[0]["dist"] == 0
        dists = [r["dist"] for r in rows]
        assert dists == sorted(dists)


def test_shard_mixing_audit_consistent_with_shuffle(spark):
    """The audit must describe the SAME shard assignment doc_shuffle_shards
    emits: per-shard doc counts equal between the two queries, every doc in
    exactly one shard, deviations inside [0, 1e6], and sum_dev >= max_dev."""
    from block_crawler_spark.plans.text_ops import (
        shard_mixing_audit_query,
        shuffle_shards_query,
    )

    audit = {r["shard"]: r for r in shard_mixing_audit_query(spark, SF).collect()}
    shuf = {
        r["shard"]: r["n"]
        for r in shuffle_shards_query(spark, SF).groupBy("shard").agg(F.count("*").alias("n")).collect()
    }
    assert set(audit) == set(shuf)
    assert {s: a["n_docs"] for s, a in audit.items()} == shuf
    n_total = load_table(spark, SF, "documents").count()
    assert sum(a["n_docs"] for a in audit.values()) == n_total
    for a in audit.values():
        assert 0 <= a["max_dev_ppm"] <= 1_000_000
        assert a["sum_dev_ppm"] >= a["max_dev_ppm"]
        assert a["n_sources"] >= 1


def test_mixing_audit_charges_absent_sources(spark, tmp_path):
    """The worst mixing failure is a source entirely ABSENT from a shard —
    the audit must charge that shard the source's full global share as
    deviation (the r11 review caught the observed-cells-only version
    silently omitting exactly that term).  Synthetic corpus: 'bigsrc'
    docs are steered away from shard 7 using the query's own md5 rule."""
    import hashlib

    from block_crawler_spark.plans.text_ops import (
        SHUFFLE_SEED,
        SHUFFLE_SHARDS,
        shard_mixing_audit_query,
    )

    def shard_of(i: int) -> int:
        h = hashlib.md5(f"{SHUFFLE_SEED}|{i}".encode()).hexdigest()[:8]
        return int(h, 16) % SHUFFLE_SHARDS

    rows = []
    for i in range(600):
        src = "bigsrc" if shard_of(i) != 7 and i % 2 == 0 else "common"
        rows.append((i, "some text here", "en", src, 14))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    out = {r["shard"]: r for r in shard_mixing_audit_query(spark, str(tmp_path)).collect()}
    n_big = sum(1 for r in rows if r[3] == "bigsrc")
    big_share_ppm = n_big * 1_000_000 // len(rows)
    assert big_share_ppm > 100_000, "fixture must make bigsrc a major source"
    s7 = out[7]
    assert s7["n_sources"] == 1, "bigsrc absent from shard 7 by construction"
    assert s7["max_dev_ppm"] >= big_share_ppm, (
        "the absent source's full global share must appear as deviation"
    )
    # shards where bigsrc is present deviate far less than the absence term
    assert any(out[s]["max_dev_ppm"] < big_share_ppm for s in out if s != 7)


def test_keep_mp2_drops_superset_of_single_probe(spark):
    """More candidate pairs can only GROW connected components, so the mp2
    keep verdict must mark a superset of the single-probe duplicates (and
    both must agree the corpus covers every vec_id exactly once)."""
    from block_crawler_spark.plans.embed_ops import semantic_keep_mp_query, semantic_keep_query

    single = {r["vec_id"]: r for r in semantic_keep_query(spark, SF).collect()}
    mp = {r["vec_id"]: r for r in semantic_keep_mp_query(spark, SF).collect()}
    assert set(single) == set(mp) == set(
        r["vec_id"] for r in load_table(spark, SF, "embeddings").select("vec_id").collect()
    )
    dup_single = {v for v, r in single.items() if r["is_duplicate"]}
    dup_mp = {v for v, r in mp.items() if r["is_duplicate"]}
    assert dup_single <= dup_mp, "extra probes can only merge clusters, never split"
    # keep_id is always the component minimum: never marked duplicate itself
    for r in mp.values():
        assert not mp[r["keep_id"]]["is_duplicate"]
