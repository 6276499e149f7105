"""Round-8 corpus/ops audit queries: invariants the oracles can't express.

doc_pack_fill_stats, doc_token_concentration, emb_dim_variance,
evt_key_skew_topk — each oracle-checked for values; these tests pin the
cross-query conservation laws and algebraic invariants.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from block_crawler_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def test_pack_fill_conserves_tokens_and_bounds_fill(spark):
    from block_crawler_spark.plans.pack_ops import SEQ_LEN_TOK, n_tok_col, pack_fill_stats_query

    rows = pack_fill_stats_query(spark, SF).collect()
    assert rows
    corpus_tok = (
        load_table(spark, SF, "documents").select(n_tok_col().alias("n")).agg(F.sum("n")).collect()[0][0]
    )
    assert sum(r["tok_sum"] for r in rows) == corpus_tok, "every token lands in exactly one bin"
    for r in rows:
        # a bin is opened only by a document START inside it, so it holds at
        # least one doc; mean fill is positive and max can exceed SEQ_LEN by
        # at most one document's tail (doc-starts-here rule)
        assert 0 < r["min_bin_tok"] <= r["max_bin_tok"]
        assert r["mean_fill_ppm"] > 0
        assert r["tok_sum"] >= (r["n_bins"] - 1) * SEQ_LEN_TOK, (
            "all bins but the shard's last must have been filled past the cut"
        )


def test_token_concentration_is_monotone_and_bounded(spark):
    from block_crawler_spark.plans.text_ops import token_concentration_query

    r = token_concentration_query(spark, SF).collect()[0]
    assert 0 < r["top1_ppm"] <= r["top10_ppm"] <= r["top100_ppm"] <= 1_000_000
    assert r["distinct_tokens"] <= r["total_tokens"]
    # the synthetic corpus vocabulary is small, so top-100 covers it all
    if r["distinct_tokens"] <= 100:
        assert r["top100_ppm"] >= 999_999 - 100  # integer-division slack


def test_dim_variance_moments_are_consistent(spark):
    from block_crawler_spark.plans.embed_ops import dim_variance_query

    rows = dim_variance_query(spark, SF).collect()
    n_vec = load_table(spark, SF, "embeddings").count()
    dims = sorted(r["dim"] for r in rows)
    assert dims == list(range(len(dims))), "every dimension exactly once"
    for r in rows:
        assert r["n"] == n_vec
        # Cauchy-Schwarz in integers: n·sumsq ≥ sum² (variance ≥ 0)
        assert r["n"] * r["sumsq_micro"] >= r["sum_micro"] ** 2
        assert r["mean_micro"] == r["sum_micro"] // r["n"] or (
            # floor(sum/n) in double space equals // for these magnitudes
            abs(r["mean_micro"] - r["sum_micro"] // r["n"]) <= 1
        )


def test_key_skew_ranks_and_shares(spark):
    from block_crawler_spark.plans.events_ops import key_skew_topk

    rows = sorted(key_skew_topk(spark, SF).collect(), key=lambda r: r["rank"])
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    counts = [r["n_events"] for r in rows]
    assert counts == sorted(counts, reverse=True), "heaviest first"
    total = load_table(spark, SF, "events").count()
    for r in rows:
        assert r["share_ppm"] == r["n_events"] * 1_000_000 // total
    assert sum(r["share_ppm"] for r in rows) <= 1_000_000


@pytest.mark.slow
def test_admission_sim_matches_the_real_store(spark, tmp_path):
    """dedup_stream_admission_sim claims to be the relational twin of the
    corpus store's exact-dedup admission rule — prove it: feed the ACTUAL
    CorpusIngestStore the same admitted set + synthetic batch and the
    store's admitted count must equal the sim's 'admitted' verdict count
    (and the blocked counts must account for the rest)."""
    from block_crawler_spark.plans.text_ops import stream_admission_sim_query
    from block_crawler_spark.streaming.corpus import CorpusIngestStore

    sim = {r["verdict"]: r["n_docs"] for r in stream_admission_sim_query(spark, SF).collect()}
    docs = load_table(spark, SF, "documents")
    admitted0 = docs.filter(F.col("doc_id") % 5 != 4)
    src = F.expr(
        "CASE WHEN doc_id % 25 = 24 THEN doc_id - 5 "
        "WHEN doc_id % 10 = 9 THEN doc_id - 4 ELSE doc_id END"
    )
    batch = (
        docs.filter(F.col("doc_id") % 5 == 4)
        .select("doc_id", "lang", "source", src.alias("src_id"))
        .join(
            docs.select(F.col("doc_id").alias("src_id"), "text", "n_chars"),
            "src_id",
        )
        .select("doc_id", "text", "lang", "source", "n_chars")
    )
    n_batch = batch.count()
    assert sum(sim.values()) == n_batch

    store = CorpusIngestStore(spark, str(tmp_path / "corpus"))
    store.ingest_batch(admitted0, 0)
    n0 = store.corpus().count()
    store.ingest_batch(batch, 1)
    store_admitted = store.corpus().count() - n0
    assert store_admitted == sim.get("admitted", 0), (sim, store_admitted)
    assert sim.get("blocked_batch", 0) > 0 and sim.get("blocked_seen", 0) > 0


def test_tfidf_top_terms_ranks_and_bounds(spark):
    from block_crawler_spark.plans.text_ops import (
        TFIDF_MIN_TOTAL_TF,
        TFIDF_TOP_PER_SOURCE,
        tfidf_top_terms_query,
    )

    rows = tfidf_top_terms_query(spark, SF).collect()
    assert rows
    by_src: dict[str, list] = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
        assert 1 <= r["rank"] <= TFIDF_TOP_PER_SOURCE
        assert 0 < r["conc_ppm"] <= 1_000_000
        assert r["tf"] <= r["tf_total"]
        assert r["tf_total"] >= TFIDF_MIN_TOTAL_TF
        assert 1 <= r["n_sources"]
    for src, rs in by_src.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1)), src
        # rank order follows concentration (the primary sort key)
        concs = [r["conc_ppm"] for r in rs]
        assert concs == sorted(concs, reverse=True), src


def test_intradoc_dup_unit_and_aggregate_invariants(spark):
    from block_crawler_spark.plans.text_ops import _intradoc_dup_cols, intradoc_dup_stats_query

    # unit: "a b a b a b" → 6 tokens → 4 shingles, 2 distinct → 500000 ppm
    total, distinct = _intradoc_dup_cols()
    df = spark.createDataFrame([("a b a b a b",), ("x y",)], ["text"])
    got = df.select(total.alias("n_sh"), distinct.alias("n_distinct")).collect()
    assert (got[0]["n_sh"], got[0]["n_distinct"]) == (4, 2)
    assert (got[1]["n_sh"], got[1]["n_distinct"]) == (1, 1)  # short-doc fallback

    rows = intradoc_dup_stats_query(spark, SF).collect()
    assert rows
    for r in rows:
        assert 0 <= r["mean_dup_ppm"] <= r["max_dup_ppm"] <= 1_000_000
        assert 0 <= r["n_flagged"] <= r["n_docs"]


def test_gopher_rules_panel_invariants(spark):
    from block_crawler_spark.plans.text_ops import gopher_rules_query

    rows = gopher_rules_query(spark, SF).collect()
    assert rows
    saw_partial_fail = False
    for r in rows:
        for c in ("pass_len", "pass_wordlen", "pass_stop", "pass_rep"):
            assert 0 <= r[c] <= r["n_docs"]
        # the conjunction can't beat its weakest conjunct
        assert r["pass_all"] <= min(
            r["pass_len"], r["pass_wordlen"], r["pass_stop"], r["pass_rep"]
        )
        assert r["pass_all_ppm"] == r["pass_all"] * 1_000_000 // r["n_docs"]
        if r["pass_all"] < r["n_docs"]:
            saw_partial_fail = True
    # thresholds are calibrated to actually split the synthetic corpus —
    # a panel that passes everything tests nothing
    assert saw_partial_fail


def test_sq_topk_ranks_and_quantization_bounds(spark):
    from block_crawler_spark.plans.embed_ops import SQ_TOPK_K, sq_topk_query

    rows = sq_topk_query(spark, SF).collect()
    assert len(rows) == SQ_TOPK_K
    rows.sort(key=lambda r: r["rank"])
    assert [r["rank"] for r in rows] == list(range(1, SQ_TOPK_K + 1))
    dists = [r["dist"] for r in rows]
    assert dists == sorted(dists) and all(d >= 0 for d in dists)
    # the query vector reconstructs itself to within per-bin quantization
    # error — orders of magnitude under any true inter-vector distance, so
    # it must rank first
    assert rows[0]["vec_id"] == 0


def test_sq_reconstruction_stays_in_bin(spark):
    """SQ8 code/reconstruction invariants on the real corpus: every
    reconstruction lies within its dimension's [lo, hi] and within one bin
    width of the original — the contract that makes SQ distances rank-safe."""
    from pyspark.sql import functions as F

    from block_crawler_spark.operators.ann import micro_fixed
    from block_crawler_spark.plans.embed_ops import SQ_BINS

    emb = load_table(spark, SF, "embeddings")
    vecs = emb.select("vec_id", micro_fixed(F.col("embedding")).alias("v"))
    dims = (
        vecs.select(F.posexplode("v").alias("d", "x"))
        .groupBy("d").agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
        .orderBy("d").collect()
    )
    lo = [int(r["lo"]) for r in dims]
    hi = [int(r["hi"]) for r in dims]
    sample = vecs.limit(20).collect()
    for row in sample:
        for i, x in enumerate(row["v"]):
            span = hi[i] - lo[i]
            c = min((x - lo[i]) * SQ_BINS // max(span, 1), SQ_BINS - 1)
            assert 0 <= c < SQ_BINS
            recon = lo[i] + (2 * c + 1) * span // (2 * SQ_BINS)
            assert lo[i] <= recon <= hi[i]
            assert abs(recon - x) <= span // SQ_BINS + 1, (i, x, recon)


@pytest.mark.slow
def test_semantic_cells_exact_recall_characterization(spark):
    """dedup_semantic_cells = (brute close pairs) ∩ (same trained cell)
    ∩ (same shard) — the SemDeDup pruning trade plus the r9 skew guard,
    stated as an exact set identity with the corpus-DERIVED cell count."""
    from pyspark.sql import functions as F

    from block_crawler_spark.operators.ann import int_sqdist, kmeans_lloyd_fixed, micro_fixed
    from block_crawler_spark.plans.embed_ops import (
        SEM_CELL_CAP,
        SEM_CELLS_ITERS,
        SEM_SQDIST_MAX,
        _sem_k,
        semantic_cells_query,
    )

    got = {(r["id_a"], r["id_b"]) for r in semantic_cells_query(spark, SF).collect()}

    emb = load_table(spark, SF, "embeddings")
    vecs = emb.select(F.col("vec_id").alias("vid"), micro_fixed(F.col("embedding")).alias("v"))
    a = vecs.select(F.col("vid").alias("id_a"), F.col("v").alias("va"))
    b = vecs.select(F.col("vid").alias("id_b"), F.col("v").alias("vb"))
    brute = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("sqdist", int_sqdist(F.col("va"), F.col("vb")))
        .filter(F.col("sqdist") <= SEM_SQDIST_MAX)
    )
    brute_pairs = {(r["id_a"], r["id_b"]) for r in brute.collect()}
    assign, _ = kmeans_lloyd_fixed(emb, k=_sem_k(emb.count()), iters=SEM_CELLS_ITERS)
    arows = assign.collect()
    cell = {r["vid"]: r["cid"] for r in arows}
    dist = {r["vid"]: r["dist"] for r in arows}
    pop: dict[int, int] = {}
    for c in cell.values():
        pop[c] = pop.get(c, 0) + 1
    # r11 band key: within-cell rank by (dist-to-centroid, vid), cut into
    # ceil(pop/CAP) equal-frequency bands
    rank: dict[int, int] = {}
    by_cell: dict[int, list[int]] = {}
    for v, c in cell.items():
        by_cell.setdefault(c, []).append(v)
    for c, vs in by_cell.items():
        for i, v in enumerate(sorted(vs, key=lambda v: (dist[v], v))):
            rank[v] = i

    def shard(v: int) -> int:
        p = pop[cell[v]]
        n = -(-p // SEM_CELL_CAP)
        return rank[v] // (-(-p // n))

    expected = {
        (x, y) for (x, y) in brute_pairs if cell[x] == cell[y] and shard(x) == shard(y)
    }
    assert got == expected
    assert got <= brute_pairs


def test_lang_confusion_mass_conservation(spark):
    from block_crawler_spark.plans.text_ops import lang_confusion_query

    rows = lang_confusion_query(spark, SF).collect()
    assert rows
    n_docs_total = sum(r["n_docs"] for r in rows)
    assert n_docs_total == load_table(spark, SF, "documents").count()
    by_lang: dict[str, int] = {}
    for r in rows:
        by_lang[r["lang"]] = by_lang.get(r["lang"], 0) + r["n_docs"]
        assert 0 < r["recall_ppm"] <= 1_000_000
    for r in rows:
        assert by_lang[r["lang"]] == r["lang_total"], "lang_total = the row label's marginal"


def test_minhash_est_error_brackets_the_threshold_pairs(spark):
    from block_crawler_spark.plans.text_ops import (
        JACCARD_PPM_THRESHOLD,
        minhash_est_error_query,
        minhash_pairs_query,
    )

    audit = {(r["id_a"], r["id_b"]): r for r in minhash_est_error_query(spark, SF).collect()}
    assert audit
    for r in audit.values():
        assert 0 <= r["est_ppm"] <= 1_000_000
        assert 0 <= r["exact_ppm"] <= 1_000_000
        assert r["abs_err_ppm"] == abs(r["est_ppm"] - r["exact_ppm"])
    # the thresholded near-dup pairs are exactly the audit pairs whose EXACT
    # jaccard clears the cut — same candidates, same shingle sets
    kept = {(r["id_a"], r["id_b"]) for r in minhash_pairs_query(spark, SF).collect()}
    from_audit = {k for k, r in audit.items() if r["exact_ppm"] >= JACCARD_PPM_THRESHOLD}
    assert kept == from_audit


@pytest.mark.slow
def test_power_iteration_finds_planted_dominant_axis(spark):
    from pyspark.sql import functions as F  # noqa: F401

    from block_crawler_spark.plans.embed_ops import POWER_SCALE, power_iterate_topdim, power_topdim_query

    # planted corpus: dimension 3 carries 10× the energy of any other
    base = [0.01] * 64
    rows = []
    for i in range(50):
        v = list(base)
        v[3] = 2.0 if i % 2 == 0 else -2.0  # dominant axis, mixed sign
        v[(i * 7) % 64] += 0.05             # noise
        rows.append(([float(x) for x in v],))
    df = spark.createDataFrame(rows, ["embedding"])
    comp = {r["dim"]: r["component"] for r in power_iterate_topdim(df).collect()}
    assert len(comp) == 64
    top = max(comp, key=lambda d: abs(comp[d]))
    assert top == 3
    assert abs(comp[3]) >= POWER_SCALE  # normalization pins the max axis to ~scale

    # real corpus: complete dim set, normalized max component
    real = {r["dim"]: r["component"] for r in power_topdim_query(spark, SF).collect()}
    assert sorted(real) == list(range(64))
    mx = max(abs(x) for x in real.values())
    assert POWER_SCALE <= mx < 2 * POWER_SCALE


@pytest.mark.slow
def test_pair_pagerank_hub_outranks_leaves(spark):
    from block_crawler_spark.operators.dedup import pair_pagerank
    from block_crawler_spark.plans.text_ops import pair_pagerank_query

    # planted star: 0 is the hub of 4 leaves; 10-11-12 is a chain
    pairs = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (0, 4), (10, 11), (11, 12)], ["id_a", "id_b"]
    )
    pr = {r["node"]: r for r in pair_pagerank(pairs).collect()}
    assert pr[0]["deg"] == 4
    assert all(pr[0]["pr"] > pr[leaf]["pr"] for leaf in (1, 2, 3, 4))
    assert pr[11]["pr"] > pr[10]["pr"]  # chain middle beats endpoints

    rows = pair_pagerank_query(spark, SF).collect()
    assert rows
    base = 1_000_000 * 15 // 100
    for r in rows:
        assert r["deg"] >= 1
        assert r["pr_micro"] >= base  # damping floor


def test_funnel_latency_percentiles_are_ordered(spark):
    from block_crawler_spark.plans.events_ops import funnel_latency

    rows = {r["transition"]: r for r in funnel_latency(spark, SF).collect()}
    assert set(rows) == {"signup>view", "view>purchase", "signup>purchase"}
    for t, r in rows.items():
        assert r["n"] > 0, t
        assert 1 <= r["p50_s"] <= r["p90_s"] <= r["p99_s"], t  # strictly-after => >=1s


def test_semantic_keep_closure_invariants(spark):
    from block_crawler_spark.plans.embed_ops import semantic_cells_query, semantic_keep_query

    keep = {r["vec_id"]: r for r in semantic_keep_query(spark, SF).collect()}
    assert len(keep) == load_table(spark, SF, "embeddings").count()
    for r in keep.values():
        assert r["keep_id"] <= r["vec_id"]
        assert r["is_duplicate"] == (r["keep_id"] != r["vec_id"])
    # closure: both endpoints of every close pair land in the same cluster
    for p in semantic_cells_query(spark, SF).collect():
        assert keep[p["id_a"]]["keep_id"] == keep[p["id_b"]]["keep_id"]


@pytest.mark.slow
def test_minhash_family_queries_leave_no_cached_frames(spark):
    """The minhash registry queries use materialize=False (round-8 review):
    a lazily-returned query can never unpersist, so a cache() inside would
    pin one frame per invocation in the CacheManager — the
    pq_train_codebook leak class.  The check targets the CacheManager
    specifically (DataFrame caches are held until explicit unpersist);
    pair_pagerank's localCheckpoint blocks are NOT the leak class — they
    are ContextCleaner-collectable once the RDD is garbage-collected."""
    from block_crawler_spark.plans.text_ops import (
        minhash_est_error_query,
        minhash_pairs_query,
        pair_pagerank_query,
    )

    cm = spark._jsparkSession.sharedState().cacheManager()
    # start from a provably empty cache: `isEmpty() == was_empty` is vacuous
    # when another test left entries behind (ADVICE r9) — a leak here would
    # pass as long as the cache was already non-empty
    spark.catalog.clearCache()
    assert cm.isEmpty()
    for fn in (minhash_pairs_query, minhash_est_error_query, pair_pagerank_query):
        fn(spark, SF).collect()
    assert cm.isEmpty(), "a registry query pinned a DataFrame cache"


def test_sliding_window_is_sum_of_its_tumbling_halves(spark):
    """A 2h/1h hopping window's count equals the sum of the two tumbling
    hourly buckets it covers — the algebraic identity tying
    evt_window_sliding to evt_window_hourly."""
    from block_crawler_spark.plans.events_ops import window_hourly, window_sliding

    hourly = {
        (r["hour"], r["event_type"]): (r["n"], r["total_value"])
        for r in window_hourly(spark, SF).collect()
    }
    from datetime import timedelta

    for r in window_sliding(spark, SF).collect():
        h0 = hourly.get((r["window_start"], r["event_type"]), (0, 0))
        h1 = hourly.get((r["window_start"] + timedelta(hours=1), r["event_type"]), (0, 0))
        assert r["n"] == h0[0] + h1[0]
        assert r["total_value"] == h0[1] + h1[1]


def test_markov_transitions_conserve_steps(spark):
    from pyspark.sql import functions as F

    from block_crawler_spark.plans.events_ops import markov_transitions

    rows = markov_transitions(spark, SF).collect()
    assert rows
    by_prev: dict[str, int] = {}
    for r in rows:
        by_prev[r["prev_type"]] = by_prev.get(r["prev_type"], 0) + r["n"]
        assert 0 < r["prob_ppm"] <= 1_000_000
    for r in rows:
        assert by_prev[r["prev_type"]] == r["out_total"]
    # total transitions = Σ per-user (events - 1)
    e = load_table(spark, SF, "events")
    per_user = e.groupBy("user_id").agg(F.count("*").alias("c"))
    expected = sum(r["c"] - 1 for r in per_user.collect())
    assert sum(r["n"] for r in rows) == expected


def test_cube_subtotals_are_consistent(spark):
    from block_crawler_spark.plans.events_ops import cube_type_day

    rows = cube_type_day(spark, SF).collect()
    cells = {(r["event_type"], r["weekday"]): (r["n"], r["total_value"]) for r in rows}
    grand = cells[("<ALL>", "<ALL>")]
    # every marginal sums its detail cells, and the grand total sums both ways
    type_marginals = [k for k in cells if k[0] != "<ALL>" and k[1] == "<ALL>"]
    day_marginals = [k for k in cells if k[0] == "<ALL>" and k[1] != "<ALL>"]
    for et, _ in type_marginals:
        detail = [v for (a, b), v in cells.items() if a == et and b != "<ALL>"]
        assert cells[(et, "<ALL>")][0] == sum(n for n, _ in detail)
        assert cells[(et, "<ALL>")][1] == sum(t for _, t in detail)
    assert grand[0] == sum(cells[k][0] for k in type_marginals)
    assert grand[0] == sum(cells[k][0] for k in day_marginals)
    assert grand[1] == sum(cells[k][1] for k in type_marginals)


def test_edit_distance_pairs_verify_candidates(spark):
    from pyspark.sql import functions as F

    from block_crawler_spark.plans.text_ops import (
        LEV_MAX_DIST,
        LEV_PREFIX,
        edit_distance_pairs_query,
    )

    rows = edit_distance_pairs_query(spark, SF).collect()
    assert rows
    docs = {
        r["doc_id"]: r["nt"]
        for r in load_table(spark, SF, "documents")
        .select(
            "doc_id",
            F.substring(
                F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), 1, LEV_PREFIX
            ).alias("nt"),
        )
        .collect()
    }
    for r in rows:
        assert 0 <= r["edit_dist"] <= LEV_MAX_DIST
        a, b = docs[r["id_a"]], docs[r["id_b"]]
        # classic levenshtein bounds: |len(a)-len(b)| <= dist; 0 iff equal
        assert r["edit_dist"] >= abs(len(a) - len(b))
        assert (r["edit_dist"] == 0) == (a == b)


def test_balanced_sample_composition_invariants(spark):
    from block_crawler_spark.plans.embed_ops import (
        CELL_CAP,
        balanced_sample_query,
        semantic_keep_query,
    )

    rows = balanced_sample_query(spark, SF).collect()
    assert rows
    survivors = {
        r["vec_id"] for r in semantic_keep_query(spark, SF).collect() if not r["is_duplicate"]
    }
    by_cell: dict[int, list] = {}
    for r in rows:
        assert r["vec_id"] in survivors, "sampled set ⊆ dedup survivors"
        by_cell.setdefault(r["cell"], []).append(r)
    for cell, rs in by_cell.items():
        assert len(rs) <= CELL_CAP
        rs.sort(key=lambda r: r["cell_rank"])
        assert [r["cell_rank"] for r in rs] == list(range(1, len(rs) + 1))
        ids = [r["vec_id"] for r in rs]
        assert ids == sorted(ids), "lowest ids kept first (deterministic)"


def test_ivfsq_recall_and_rank_shape(spark):
    """IVF-SQ8 returns the SQ-exact top-k WITHIN the probed cells: every
    (q, c) hit must also appear in the flat SQ ranking's top results when
    restricted to the same candidate set — verified here via the weaker but
    exact invariant that rank sequences are contiguous per query and
    distances nondecreasing."""
    from block_crawler_spark.plans.embed_ops import KNN_K, KNN_QUERY_IDS, ivfsq_topk_query

    rows = ivfsq_topk_query(spark, SF).collect()
    assert rows
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r["q_id"], []).append(r)
        assert r["q_id"] != r["c_id"]
        assert r["dist"] >= 0
    assert set(by_q) <= set(range(KNN_QUERY_IDS))
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= KNN_K
        dists = [r["dist"] for r in rs]
        assert dists == sorted(dists), q


def test_dedup_rate_by_source_conserves_verdicts(spark):
    from block_crawler_spark.plans.text_ops import dedup_cc_query, dedup_rate_by_source_query

    rows = dedup_rate_by_source_query(spark, SF).collect()
    assert rows
    verdicts = dedup_cc_query(spark, SF).collect()
    assert sum(r["n_docs"] for r in rows) == len(verdicts)
    assert sum(r["n_dups"] for r in rows) == sum(1 for v in verdicts if v["is_duplicate"])
    for r in rows:
        assert 0 <= r["n_dups"] <= r["n_docs"]
        assert r["dup_ppm"] == r["n_dups"] * 1_000_000 // r["n_docs"]


def test_length_percentiles_match_naive_ranks(spark):
    """The bucketed selection must equal the naive sorted nearest-rank pick
    — verified per source against a driver-side sort."""
    from pyspark.sql import functions as F

    from block_crawler_spark.plans.text_ops import length_percentiles_query

    got = {r["source"]: r for r in length_percentiles_query(spark, SF).collect()}
    assert got
    from block_crawler_spark.functions.text import n_tokens

    docs = (
        load_table(spark, SF, "documents")
        .select("source", n_tokens(F.col("text")).alias("n_tok"))
        .collect()
    )
    by_src: dict[str, list[int]] = {}
    for r in docs:
        by_src.setdefault(r["source"], []).append(r["n_tok"])
    for src, lens in by_src.items():
        lens.sort()
        n = len(lens)
        r = got[src]
        assert r["n"] == n
        for p in (50, 90, 99):
            assert r[f"p{p}_tok"] == lens[(n * p + 99) // 100 - 1], (src, p)


@pytest.mark.slow
def test_kmeans_family_queries_leave_no_cached_frames(spark):
    """kmeans_lloyd_fixed cache()s the fixed-point corpus for the training
    loop — r9 it driver-materializes the ≤k-row centroids and unpersists
    before returning (the pq._lloyd_train_sub pattern), so the FIVE
    lazily-returned registry queries built on it pin nothing in the
    CacheManager (VERDICT r8: one leaked corpus-sized frame per
    invocation).  Same check class as the minhash leak test above."""
    from block_crawler_spark.plans.embed_ops import (
        balanced_sample_query,
        kmeans_stats_query,
        semantic_cells_query,
    )

    cm = spark._jsparkSession.sharedState().cacheManager()
    # provably-empty start (ADVICE r9 — see the minhash leak test above)
    spark.catalog.clearCache()
    assert cm.isEmpty()
    for fn in (kmeans_stats_query, semantic_cells_query, balanced_sample_query):
        fn(spark, SF).collect()
    assert cm.isEmpty(), "a kmeans-family query pinned a DataFrame cache"


def test_sem_k_derived_and_capped():
    """_sem_k keeps a constant target cell size (pair budget linear in N)
    but never exceeds SEM_K_MAX: Lloyd assignment is O(N·K) distances
    against a K-row broadcast, so an uncapped K = N/25 is O(N²/25) with a
    data-scaled broadcast (VERDICT r9 task 3).  Floor, derived region, and
    cap region — and the oracle's kp CTE mirrors all three."""
    from block_crawler_spark.plans.embed_ops import SEM_K_MAX, SEM_TARGET_CELL, _sem_k

    assert _sem_k(0) == 8 and _sem_k(100) == 8  # floor
    assert _sem_k(2_000) == 2_000 // SEM_TARGET_CELL  # derived region
    assert _sem_k(10**9) == SEM_K_MAX  # cap region
    assert _sem_k(SEM_K_MAX * SEM_TARGET_CELL + 1) == SEM_K_MAX  # boundary


def test_semantic_pair_shard_guard_fires_on_skew(spark):
    """A cell whose population exceeds SEM_CELL_CAP is split into
    equal-frequency DISTANCE BANDS (round 11: rank by dist-to-centroid,
    vid ties): every emitted pair stays within one band (so the per-task
    pair budget is ≤ CAP²/2 no matter how hot the cell), the n_shards
    diagnostic column reports the split, and the dropped mass is exactly
    the cross-band pairs — the no-silent-caps rule made testable with a
    synthetic all-one-cell assignment of identical vectors (dist ties →
    band = vid rank DIV band_size)."""
    from block_crawler_spark.plans.embed_ops import SEM_CELL_CAP, _semantic_pairs

    n = SEM_CELL_CAP + 50  # one cell, guard must split into 2 shards
    rows = [(i, 0, 0) for i in range(n)]
    assign = spark.createDataFrame(rows, "vid long, cid long, dist long")
    # identical vectors: every within-shard pair is at distance 0 (close)
    vecs = assign.select("vid", F.expr("array(1000000L, 0L)").alias("v"))
    pairs = _semantic_pairs(assign, vecs).collect()
    assert pairs, "identical vectors must produce close pairs"
    n_shards = -(-n // SEM_CELL_CAP)
    assert n_shards == 2
    band = -(-n // n_shards)  # equal-frequency band size (ties → vid rank)
    for p in pairs:
        assert p["cell_pop"] == n
        assert p["n_shards"] == n_shards, "guard diagnostic must report the split"
        assert p["id_a"] // band == p["id_b"] // band, "pairs never straddle bands"
        assert p["sqdist"] == 0
    # exact surviving-pair count: C(|band|, 2) summed over the bands
    per_shard = [sum(1 for i in range(n) if i // band == s) for s in range(n_shards)]
    assert len(pairs) == sum(c * (c - 1) // 2 for c in per_shard)
    # and the guard is inert below the cap: one fewer member than the cap
    small = spark.createDataFrame([(i, 0, 0) for i in range(5)], "vid long, cid long, dist long")
    svecs = small.select("vid", F.expr("array(1000000L, 0L)").alias("v"))
    spairs = _semantic_pairs(small, svecs).collect()
    assert {p["n_shards"] for p in spairs} == {1}
    assert len(spairs) == 5 * 4 // 2, "unsharded cell keeps all pairs"


def test_residual_train_sample_validation():
    """train_sample smaller than n_codewords would silently shrink the
    codebook (seeds are _id < n_codewords); the operator now rejects it —
    and 0 is a rejected value, not a truthy-unset (ADVICE r8)."""
    from block_crawler_spark.operators.pq import ivfpq_residual_topk

    for bad in (0, 3):
        with pytest.raises(ValueError, match="train_sample"):
            ivfpq_residual_topk(
                None, None, None, m=2, sub_dim=2, k=1,
                n_codewords=4, train_iters=1, train_sample=bad,
            )
