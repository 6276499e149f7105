"""Measure, don't guess: recall@k of the approximate ANN paths vs brute force.

Runs the k-NN join strategies (brute-force oracle, sign-LSH at several plane
counts, IVF at several nprobe values) over the embeddings table and reports
recall + scored-pair counts — the quality/cost tradeoff the scale paths buy.
``cost`` is scored pairs as a fraction of brute force.  Usage:

    python scripts/ann_recall.py [--sf DIR] [--k 5] [--queries 50]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from pyspark.sql import functions as F  # noqa: E402

from block_crawler_spark.operators.ann import ivf_topk, knn_join_brute, lsh_topk  # noqa: E402
from block_crawler_spark.session import get_spark  # noqa: E402
from block_crawler_spark.sources.tables import load_table  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--k", type=int, default=5)
    ap.add_argument("--queries", type=int, default=50)
    ap.add_argument("--planes", type=int, default=8)
    ap.add_argument("--centroids", type=int, default=64)
    # round 13 (VERDICT r12 task 4): the SAME grid over the clustered
    # fixture (tests/datagen.clustered_embeddings — the r12 corpus that
    # changed the semantic family's story), so the search families'
    # committed constants are graded on both geometries
    ap.add_argument("--clustered", action="store_true")
    args = ap.parse_args()

    spark = get_spark("ann-recall")
    spark.sparkContext.setLogLevel("ERROR")
    if args.clustered:
        sys.path.insert(0, os.path.join(_REPO, "tests"))
        from datagen import clustered_embeddings

        emb = clustered_embeddings(spark, n=2000, n_clusters=32, jitter_milli=70).cache()
    else:
        emb = load_table(spark, args.sf, "embeddings").cache()
    n = emb.count()
    queries = emb.filter(F.col("vec_id") < args.queries)

    truth = {
        (r["q_id"], r["c_id"]) for r in knn_join_brute(queries, emb, k=args.k).collect()
    }

    def recall(approx_df):
        got = {(r["q_id"], r["c_id"]) for r in approx_df.collect()}
        return round(len(got & truth) / len(truth), 4), len(got)

    brute_pairs = args.queries * (n - 1)
    out = {
        "corpus": n,
        "k": args.k,
        "queries": args.queries,
        "brute_scored_pairs": brute_pairs,
        "lsh": {},
        "ivf": {},
    }
    for planes in (args.planes, args.planes // 2):
        r, cnt = recall(lsh_topk(queries, emb, k=args.k, num_planes=planes))
        # scored pairs ≈ queries × corpus / 2^planes (uniform buckets)
        out["lsh"][f"planes={planes}"] = {"recall": r, "results": cnt, "cost": round(1 / (1 << planes), 4)}
    cent = emb.filter(F.col("vec_id") < args.centroids)
    for nprobe in (1, 2, 4, 8, 16):
        r, cnt = recall(ivf_topk(queries, emb, cent, k=args.k, nprobe=nprobe))
        out["ivf"][f"nprobe={nprobe}"] = {
            "recall": r,
            "results": cnt,
            "cost": round(nprobe / args.centroids, 4),
        }
    # trained centroids (fixed-point Lloyd) vs the naive first-k seed set,
    # at matched cell counts — the recall k-means actually buys
    from block_crawler_spark.operators.ann import kmeans_lloyd_fixed

    out["ivf_trained"] = {}
    for cells in (16, args.centroids):
        _, cents = kmeans_lloyd_fixed(emb, k=cells, iters=2)
        trained = cents.select(F.col("cid").alias("vec_id"), F.col("c").alias("embedding"))
        seeded = emb.filter(F.col("vec_id") < cells)
        for nprobe in (2, 4, 8):
            rt, _ = recall(ivf_topk(queries, emb, trained, k=args.k, nprobe=nprobe))
            rs, _ = recall(ivf_topk(queries, emb, seeded, k=args.k, nprobe=nprobe))
            out["ivf_trained"][f"cells={cells},nprobe={nprobe}"] = {
                "recall_trained": rt,
                "recall_seeded": rs,
                "cost": round(nprobe / cells, 4),
            }

    # PQ / IVFPQ (round 7 — the unfinished half of r5 task 5): ADC
    # approximates squared-L2 in micro space, so its natural truth set is
    # the EXACT integer-L2 top-k (isolates quantization loss from the
    # L2-vs-cosine metric gap); recall vs the cosine truth is reported too.
    from pyspark.sql import Window  # noqa: E402

    from block_crawler_spark.operators.ann import int_sqdist, micro_fixed  # noqa: E402
    from block_crawler_spark.operators.pq import (  # noqa: E402
        ivfpq_adc_topk,
        pq_adc_topk,
        pq_codebook,
        pq_encode,
        pq_train_codebook,
    )

    m, k_cb, sub = 16, 64, 4  # the registry queries' PQ layout (embed_ops)
    qm = queries.select(F.col("vec_id").alias("q_id"), micro_fixed(F.col("embedding")).alias("qv"))
    cm = emb.select(F.col("vec_id").alias("c_id"), micro_fixed(F.col("embedding")).alias("cv"))
    w = Window.partitionBy("q_id").orderBy(F.col("d").asc(), F.col("c_id").asc())
    truth_l2 = {
        (r["q_id"], r["c_id"])
        for r in qm.crossJoin(cm)
        .filter(F.col("q_id") != F.col("c_id"))
        .withColumn("d", int_sqdist(F.col("qv"), F.col("cv")))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= args.k)
        .collect()
    }

    def recall_vs(approx_df, truth_set):
        got = {(r["q_id"], r["c_id"]) for r in approx_df.collect()}
        return round(len(got & truth_set) / len(truth_set), 4)

    out["pq"] = {}
    books = {
        "seeded": pq_codebook(emb, m, k_cb, sub),
        "trained": pq_train_codebook(emb, m, k_cb, sub, iters=2),
    }
    codes_by = {}
    for label, cb in books.items():
        codes_by[label] = pq_encode(emb, cb, m, sub).cache()
        flat = pq_adc_topk(queries, codes_by[label], cb, m, sub, k=args.k)
        out["pq"][label] = {
            "recall_l2": recall_vs(flat, truth_l2),
            "recall_cos": recall_vs(flat, truth),
            # every code row is scanned (cost 1.0 in pairs) but at m bytes
            # per vector vs 4·dim float bytes — the ADC compression ratio
            "cost": 1.0,
            "bytes_frac": round(m / (4 * m * sub), 4),
        }

    # round 8: OPQ-lite — variance-balanced dimension permutation before PQ
    # (squared-L2 is permutation-invariant; only subspace grouping changes)
    from block_crawler_spark.plans.embed_ops import PQ_M, PQ_SUB, dim_variance_query  # noqa: E402

    if args.clustered:
        # same stats as the registry query, over the in-memory fixture
        stats = (
            emb.select(F.posexplode(micro_fixed(F.col("embedding"))).alias("dim", "x"))
            .groupBy("dim")
            .agg(
                F.count("*").alias("n"),
                F.sum("x").alias("sum_micro"),
                F.sum(F.col("x") * F.col("x")).alias("sumsq_micro"),
            )
            .collect()
        )
    else:
        stats = dim_variance_query(spark, args.sf).collect()
    ranked = sorted(stats, key=lambda r: (-(r["n"] * r["sumsq_micro"] - r["sum_micro"] ** 2), r["dim"]))
    perm = [0] * len(ranked)
    for r_i, row in enumerate(ranked):
        perm[(r_i % PQ_M) * PQ_SUB + (r_i // PQ_M)] = int(row["dim"])
    permuted = emb.select("vec_id", F.array(*[F.col("embedding")[p] for p in perm]).alias("embedding"))
    cbb = pq_codebook(permuted, m, k_cb, sub)
    codesb = pq_encode(permuted, cbb, m, sub).cache()
    flatb = pq_adc_topk(permuted.filter(F.col("vec_id") < args.queries), codesb, cbb, m, sub, k=args.k)
    out["pq"]["balanced"] = {
        "recall_l2": recall_vs(flatb, truth_l2),
        "recall_cos": recall_vs(flatb, truth),
        "cost": 1.0,
        "bytes_frac": round(m / (4 * m * sub), 4),
    }
    codesb.unpersist()

    out["ivfpq"] = {}
    n_cells = 16  # the registry query's IVFPQ layout
    cent = emb.filter(F.col("vec_id") < n_cells)
    for nprobe in (1, 2, 4, 8):
        approx = ivfpq_adc_topk(
            queries, emb, cent, books["trained"], codes_by["trained"], m, sub, args.k, nprobe=nprobe
        )
        out["ivfpq"][f"cells={n_cells},nprobe={nprobe}"] = {
            "recall_l2": recall_vs(approx, truth_l2),
            "cost": round(nprobe / n_cells, 4),
        }

    # residual encoding (Jégou §IV full form) vs the no-residual variant at
    # matched cells/nprobe — measures what residual quantization buys on
    # this corpus (isotropic vectors: expected ≈ a wash; clustered real
    # embeddings are where residuals pay)
    from block_crawler_spark.operators.pq import ivfpq_residual_topk  # noqa: E402

    out["ivfpq_residual"] = {}
    for nprobe in (2, 4, 8):
        approx = ivfpq_residual_topk(
            queries, emb, cent, m, sub, args.k, n_codewords=k_cb, nprobe=nprobe
        )
        # round 8: the TRAINED residual codebook (grouped Lloyd over the
        # residual subvectors of the first 256 rows — the registry query's
        # layout) next to the seeded one, same grid
        trained_res = ivfpq_residual_topk(
            queries, emb, cent, m, sub, args.k, n_codewords=k_cb, nprobe=nprobe,
            train_iters=2, train_sample=256,
        )
        out["ivfpq_residual"][f"cells={n_cells},nprobe={nprobe}"] = {
            "recall_l2": recall_vs(approx, truth_l2),
            "recall_l2_trained": recall_vs(trained_res, truth_l2),
            "cost": round(nprobe / n_cells, 4),
        }
    # round 14 (VERDICT r13 task 1): trained-PQ ADC shortlist → EXACT rerank
    # (emb_pq_rerank_topk's two-stage shape), same multi-query grid as
    # rp_rerank/bitsign_rerank — the row that decides whether the rerank
    # stage recovers the clustered-geometry loss the r13 grid found in the
    # flat PQ tier (0.536 → 0.376).  ONE ADC rank pass at the largest L
    # (the rank column contains every smaller shortlist), then per-L
    # filters; stage-2 is the registry query's exact int64-L2 re-score.
    from block_crawler_spark.plans.embed_ops import PQ_RERANK_SHORTLIST  # noqa: E402

    out["pq_rerank"] = {}
    L_MAX_PQ = 200
    vm_pq = emb.select(F.col("vec_id").alias("c_id"), micro_fixed(F.col("embedding")).alias("v"))
    adc_rank = (
        pq_adc_topk(queries, codes_by["trained"], books["trained"], m, sub, k=L_MAX_PQ)
        .select("q_id", "c_id", F.col("rank").alias("srank"))
        .cache()
    )
    for L in (25, 50, PQ_RERANK_SHORTLIST, L_MAX_PQ):
        rer = (
            adc_rank.filter(F.col("srank") <= L)
            .join(vm_pq, "c_id")
            .join(qm, "q_id")
            .withColumn("d", int_sqdist(F.col("qv"), F.col("v")))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= args.k)
        )
        out["pq_rerank"][f"L={L}"] = {
            "recall_l2": recall_vs(rer, truth_l2),
            "cost": round(L / n, 4),
            "bytes_frac": round(m / (4 * m * sub), 4),
        }
    adc_rank.unpersist()
    # round 14: IVFADC shortlist → exact rerank (emb_ivfpq_rerank_topk's
    # composition — prune, compress, rerank).  The rerank recovers ADC's
    # ranking loss but NOT the coarse pruning loss, so these rows measure
    # the cell-pruning ceiling at the committed nprobe and how fast L
    # saturates toward it.
    out["ivfpq_rerank"] = {}
    ivfadc_rank = (
        ivfpq_adc_topk(
            queries, emb, cent, books["trained"], codes_by["trained"], m, sub,
            L_MAX_PQ, nprobe=4,
        )
        .select("q_id", "c_id", F.col("rank").alias("srank"))
        .cache()
    )
    for L in (25, 50, PQ_RERANK_SHORTLIST, L_MAX_PQ):
        rer = (
            ivfadc_rank.filter(F.col("srank") <= L)
            .join(vm_pq, "c_id")
            .join(qm, "q_id")
            .withColumn("d", int_sqdist(F.col("qv"), F.col("v")))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= args.k)
        )
        out["ivfpq_rerank"][f"L={L},nprobe=4"] = {
            "recall_l2": recall_vs(rer, truth_l2),
            "cost": round(L / n, 4),
        }
    ivfadc_rank.unpersist()
    for c in codes_by.values():
        c.unpersist()

    # round 8: SQ8 — per-dim 256-bin scalar quantization (emb_sq_topk's
    # layout) vs exact integer L2; isolates the 4×-compression rank loss
    from block_crawler_spark.plans.embed_ops import SQ_BINS  # noqa: E402

    vm = emb.select(F.col("vec_id").alias("c_id"), micro_fixed(F.col("embedding")).alias("v"))
    dimstats = (
        vm.select(F.posexplode("v").alias("d", "x"))
        .groupBy("d").agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
        .orderBy("d").collect()
    )
    lo = [int(r["lo"]) for r in dimstats]
    hi = [int(r["hi"]) for r in dimstats]
    nd = len(lo)
    recon_expr = (
        f"transform(sequence(0, {nd - 1}), i -> element_at(lo, i+1) + "
        f"(least(((element_at(v, i+1) - element_at(lo, i+1)) * {SQ_BINS}) "
        f"DIV greatest(element_at(hi, i+1) - element_at(lo, i+1), 1), {SQ_BINS - 1}) * 2 + 1) "
        f"* (element_at(hi, i+1) - element_at(lo, i+1)) DIV {2 * SQ_BINS})"
    )
    recon = (
        vm.withColumn("lo", F.array(*[F.lit(x) for x in lo]))
        .withColumn("hi", F.array(*[F.lit(x) for x in hi]))
        .select("c_id", F.expr(recon_expr).alias("rv"))
    )
    sq = (
        qm.crossJoin(recon)
        .filter(F.col("q_id") != F.col("c_id"))
        .withColumn("d", int_sqdist(F.col("qv"), F.col("rv")))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= args.k)
    )
    out["sq"] = {
        "recall_l2": recall_vs(sq, truth_l2),
        "cost": 1.0,
        "bytes_frac": 0.25,  # 8 bits/dim vs float32
    }

    # IVF-SQ8 (emb_ivfsq_topk's layout at matched cells): cell pruning on
    # top of the SQ8 distance — the third corner of the quantization matrix
    from block_crawler_spark.operators.ann import ivf_assign  # noqa: E402
    from block_crawler_spark.plans.embed_ops import _sq_dist_expr  # noqa: E402

    out["ivfsq"] = {}
    cent16 = emb.filter(F.col("vec_id") < 16)
    ca = ivf_assign(emb, cent16).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"), "centroid_id"
    )
    for nprobe in (1, 2, 4, 8):
        qa = ivf_assign(queries, cent16, n_assign=nprobe).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"), "centroid_id"
        )
        sq_ivf = (
            qa.join(ca, "centroid_id")
            .filter(F.col("q_id") != F.col("c_id"))
            .withColumn("qv", micro_fixed(F.col("q_vec")))
            .withColumn("v", micro_fixed(F.col("c_vec")))
            .withColumn("lo", F.array(*[F.lit(x) for x in lo]))
            .withColumn("hi", F.array(*[F.lit(x) for x in hi]))
            .withColumn("d", F.expr(_sq_dist_expr(nd)))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= args.k)
        )
        out["ivfsq"][f"cells=16,nprobe={nprobe}"] = {
            "recall_l2": recall_vs(sq_ivf, truth_l2),
            "cost": round(nprobe / 16, 4),
        }
    # round 10: the two TRAINING-FREE corners (VERDICT r9 — shape-only until
    # measured) — JL random projection (emb_rp_topk's 16-sign-projection
    # layout) and prefix truncation (emb_prefix_topk's first-16-dims layout)
    # vs exact integer L2, multi-query grid.  Expect LOW recall on this
    # corpus: isotropic unit-norm vectors have no low-dim structure, so
    # these are shortlist baselines, not final rankings.
    from block_crawler_spark.plans.embed_ops import PREFIX_DIMS, RP_PROJ, rp_proj_cols  # noqa: E402

    proj_cols, _ = rp_proj_cols("v")  # the registry query's exact sketch layout
    sk = vm.select("c_id", *proj_cols)
    qsk = sk.filter(F.col("c_id") < args.queries).select(
        F.col("c_id").alias("q_id"), *[F.col(f"y{p}").alias(f"qy{p}") for p in range(RP_PROJ)]
    )
    d_rp = None
    for p in range(RP_PROJ):
        t = F.col(f"y{p}") - F.col(f"qy{p}")
        d_rp = t * t if d_rp is None else d_rp + t * t
    rp = (
        qsk.crossJoin(sk)
        .filter(F.col("q_id") != F.col("c_id"))
        .withColumn("d", d_rp)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= args.k)
    )
    out["rp"] = {
        "recall_l2": recall_vs(rp, truth_l2),
        "recall_cos": recall_vs(rp, truth),
        "bytes_frac": round(RP_PROJ * 8 / (4 * 64), 4),  # 16 int64 vs 64 float32
    }
    pre_c = vm.select("c_id", F.slice(F.col("v"), 1, PREFIX_DIMS).alias("pv"))
    pre_q = pre_c.filter(F.col("c_id") < args.queries).select(
        F.col("c_id").alias("q_id"), F.col("pv").alias("qpv")
    )
    pre = (
        pre_q.crossJoin(pre_c)
        .filter(F.col("q_id") != F.col("c_id"))
        .withColumn("d", int_sqdist(F.col("qpv"), F.col("pv")))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= args.k)
    )
    out["prefix"] = {
        "recall_l2": recall_vs(pre, truth_l2),
        "recall_cos": recall_vs(pre, truth),
        "bytes_frac": round(PREFIX_DIMS / 64, 4),
    }
    # round 11: JL shortlist → EXACT rerank (emb_rp_rerank_topk's two-stage
    # shape), multi-query grid over shortlist sizes — how much overfetch
    # the training-free sketch needs before the exact stage recovers
    # full-search quality.  cost = L / corpus (exact re-scores per query).
    out["rp_rerank"] = {}
    # ONE sketch-rank pass at the largest L (the rank column contains every
    # smaller shortlist — the r11 review caught the per-L recompute running
    # the probe's dominant cross-join stage 4×), then per-L filters
    L_MAX = 200
    sk_rank = (
        qsk.crossJoin(sk)
        .filter(F.col("q_id") != F.col("c_id"))
        .withColumn("d", d_rp)
        .withColumn("srank", F.row_number().over(w))
        .filter(F.col("srank") <= L_MAX)
        .select("q_id", "c_id", "srank")
    ).cache()
    for L in (25, 50, 100, L_MAX):
        rer = (
            sk_rank.filter(F.col("srank") <= L)
            .join(vm, "c_id")
            .join(qm, "q_id")
            .withColumn("d", int_sqdist(F.col("qv"), F.col("v")))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= args.k)
        )
        out["rp_rerank"][f"L={L}"] = {
            "recall_l2": recall_vs(rer, truth_l2),
            "cost": round(L / n, 4),
        }
    sk_rank.unpersist()
    # round 12: 1-bit sign sketch → EXACT rerank (emb_bitsign_rerank_topk's
    # two-stage shape), same multi-query grid as rp_rerank — the SAME-METRIC
    # comparison between the two training-free shortlists (the registry
    # docstrings cite these rows).  Stage-1 is two half-used int64 sign
    # words = 16 B/vector as stored (8 B packed into one word at
    # deployment) vs the JL sketch's 128 B (16 int64 projections) — the
    # bytes_frac below reports the STORED 16 B, matching the layout that
    # actually ran.
    from block_crawler_spark.plans.embed_ops import _bitsign_words  # noqa: E402

    w0c, w1c = _bitsign_words("embedding")
    bs = emb.select(F.col("vec_id").alias("c_id"), w0c.alias("w0"), w1c.alias("w1"))
    qbs = bs.filter(F.col("c_id") < args.queries).select(
        F.col("c_id").alias("q_id"), F.col("w0").alias("qw0"), F.col("w1").alias("qw1")
    )
    hd = F.bit_count(F.col("w0").bitwiseXOR(F.col("qw0"))) + F.bit_count(
        F.col("w1").bitwiseXOR(F.col("qw1"))
    )
    out["bitsign_rerank"] = {}
    bs_rank = (
        qbs.crossJoin(bs)
        .filter(F.col("q_id") != F.col("c_id"))
        .withColumn("d", hd.cast("long"))
        .withColumn("srank", F.row_number().over(w))
        .filter(F.col("srank") <= L_MAX)
        .select("q_id", "c_id", "srank")
    ).cache()
    for L in (25, 50, 100, L_MAX):
        rer = (
            bs_rank.filter(F.col("srank") <= L)
            .join(vm, "c_id")
            .join(qm, "q_id")
            .withColumn("d", int_sqdist(F.col("qv"), F.col("v")))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= args.k)
        )
        out["bitsign_rerank"][f"L={L}"] = {
            "recall_l2": recall_vs(rer, truth_l2),
            "cost": round(L / n, 4),
            "bytes_frac": round(16 / (4 * 64), 4),
        }
    bs_rank.unpersist()
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
