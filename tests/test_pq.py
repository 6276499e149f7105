"""Product quantization: encode invariants, ADC exactness, recall floor.

PQ has no reference-engine counterpart (the reference is a chain crawler);
the contract is the public PQ/ADC semantics (Jégou et al. 2011) under the
repo's exact integer micro-space rule, plus a measured recall floor
against an exact squared-L2 numpy oracle.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from block_crawler_spark.operators.pq import pq_adc_topk, pq_codebook, pq_encode
from block_crawler_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"
M, K, SUB = 16, 64, 4  # 64-dim corpus → 16 subspaces of 4 dims, 64 codewords


@pytest.fixture(scope="module")
def pq_parts(spark):
    emb = load_table(spark, SF, "embeddings").cache()
    cb = pq_codebook(emb, M, K, SUB).cache()
    codes = pq_encode(emb, cb, M, SUB).cache()
    return emb, cb, codes


def test_codebook_shape(pq_parts):
    emb, cb, _ = pq_parts
    rows = cb.collect()
    assert len(rows) == M * K  # K codewords per subspace
    assert all(0 <= r["code"] < K and len(r["cvec"]) == SUB for r in rows)


@pytest.mark.slow
def test_encode_invariants(pq_parts):
    emb, cb, codes = pq_parts
    n = emb.count()
    rows = codes.collect()
    assert len(rows) == n * M  # one code per (vector, subspace)
    assert all(0 <= r["code"] < K for r in rows)
    # a seed vector encodes to ITSELF in every subspace (distance 0,
    # lowest-code tie-break can only pick an identical earlier codeword —
    # with distinct random seeds it is the vector's own id)
    self_codes = {(r["vec_id"], r["m"]): r["code"] for r in rows if r["vec_id"] < K}
    # the invariant is PER-SUBSPACE: two seeds sharing one identical
    # subvector legitimately encode to the lower code id, so guard on
    # duplicate (m, sv) pairs among seed SUBVECTORS, not whole embeddings
    dup = (
        cb.groupBy("m", "cvec")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    if dup == 0:
        assert all(code == vid for (vid, _m), code in self_codes.items())


@pytest.mark.slow
def test_encode_partitioning_invariant(spark, pq_parts):
    emb, cb, codes = pq_parts
    again = pq_encode(emb.repartition(7), cb, M, SUB)
    assert sorted(map(tuple, codes.collect())) == sorted(map(tuple, again.collect()))


def test_adc_rank_and_self_exclusion(pq_parts):
    emb, cb, codes = pq_parts
    queries = emb.filter(F.col("vec_id") < 4)
    got = pq_adc_topk(queries, codes, cb, M, SUB, k=3).collect()
    by_q = {}
    for r in got:
        assert r["q_id"] != r["c_id"]
        assert r["adc_dist"] >= 0
        by_q.setdefault(r["q_id"], []).append((r["rank"], r["adc_dist"]))
    assert set(by_q) == {0, 1, 2, 3}
    for pairs in by_q.values():
        pairs.sort()
        assert [p[0] for p in pairs] == list(range(1, len(pairs) + 1))
        dists = [p[1] for p in pairs]
        assert dists == sorted(dists)  # rank follows ADC distance


def test_pq_recall_floor_vs_exact_l2(spark, pq_parts):
    """recall@5 of PQ-ADC against EXACT squared-L2 top-5 in the same micro
    space (numpy oracle), averaged over 8 queries.  Isotropic random
    embeddings are PQ's worst case — near-equidistant neighbors, no
    cluster structure for codewords — and the measured grid is 0.225 at
    M=4/K=16, 0.50 at the shipped M=16/K=64, 0.85 at M=32/K=256; the 0.35
    floor pins 'approximate', not 'arbitrary', at 16x compression."""
    import math

    import numpy as np

    emb, cb, codes = pq_parts
    k = 5
    q_ids = list(range(8))
    queries = emb.filter(F.col("vec_id") < len(q_ids))
    pq_hits = {}
    for r in pq_adc_topk(queries, codes, cb, M, SUB, k=k).collect():
        pq_hits.setdefault(r["q_id"], set()).add(r["c_id"])
    rows = sorted(emb.select("vec_id", "embedding").collect(), key=lambda r: r["vec_id"])
    ids = np.array([r["vec_id"] for r in rows])
    micro = np.array(
        [[math.floor(float(x) * 1_000_000) for x in r["embedding"]] for r in rows],
        dtype=np.int64,
    )
    hits = total = 0
    for qi, qid in enumerate(q_ids):
        d2 = ((micro - micro[qi]) ** 2).sum(axis=1).astype(float)
        d2[qi] = np.inf
        exact = set(ids[np.argsort(d2, kind="stable")[:k]].tolist())
        hits += len(exact & pq_hits.get(qid, set()))
        total += k
    assert hits / total >= 0.35, f"PQ recall@5 collapsed: {hits}/{total}"


def test_pq_train_codebook_leaves_no_cached_frames(spark):
    """Each invocation must release its loop cache (ADVICE r6: bench samples
    a query several times — a leaked cached RDD per call pins executor
    memory for the session)."""
    from block_crawler_spark.operators.pq import pq_train_codebook

    emb = load_table(spark, SF, "embeddings")
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    for _ in range(2):
        pq_train_codebook(emb, m=2, k=4, sub_dim=4, iters=1).collect()
    after = jsc.getPersistentRDDs().size()
    assert after <= before, f"cached RDDs grew {before} -> {after}"


@pytest.mark.slow
def test_ivfpq_residual_matches_flat_adc_when_single_cell(spark):
    """With ONE cell, residual IVFADC degenerates to flat ADC over shifted
    vectors: every vector's residual is v - c0, distances between residuals
    equal distances between the originals' micro vectors shifted by a
    constant — so the ranking (and, because int subtraction is exact, the
    adc_dist values) must equal pq_adc_topk on a codebook built from the
    same shifted seeds."""
    from block_crawler_spark.operators.pq import ivfpq_residual_topk, pq_adc_topk

    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 4)
    one_cell = emb.filter(F.col("vec_id") < 1)  # a single centroid
    got = {
        (r["q_id"], r["rank"]): (r["c_id"], r["adc_dist"])
        for r in ivfpq_residual_topk(
            queries, emb, one_cell, M, SUB, 3, n_codewords=K, nprobe=1
        ).collect()
    }
    assert len(got) == 4 * 3

    # flat-ADC reference over residual space: subtract centroid 0's micros
    from block_crawler_spark.operators.ann import micro_fixed

    c0 = emb.filter(F.col("vec_id") == 0).select(micro_fixed(F.col("embedding")).alias("cv"))
    shifted = emb.crossJoin(F.broadcast(c0)).select(
        "vec_id",
        F.zip_with(micro_fixed(F.col("embedding")), F.col("cv"), lambda a, b: a - b).alias("rv"),
    )
    from block_crawler_spark.operators.pq import _subvectors

    rsub = _subvectors(shifted, "vec_id", "rv", M, SUB, fixed=True)
    cb = rsub.filter(F.col("_id") < K).select("m", F.col("_id").alias("code"), F.col("sv").alias("cvec"))
    from block_crawler_spark.operators.ann import int_sqdist

    best = F.min(F.struct("d", "code")).alias("b")
    codes = (
        rsub.join(F.broadcast(cb), "m")
        .select("_id", "m", "code", int_sqdist(F.col("sv"), F.col("cvec")).alias("d"))
        .groupBy("_id", "m").agg(best)
        .select(F.col("_id").alias("vec_id"), "m", F.col("b.code").alias("code"))
    )
    q_shift = shifted.filter(F.col("vec_id") < 4).withColumnRenamed("rv", "embedding")
    # pq_adc_topk fix-points its query input; feed the residual as micros/1e6?
    # No — compare via the same manual LUT path instead (exact ints end to end)
    q_rsub = _subvectors(q_shift.select("vec_id", F.col("embedding").alias("rv")), "vec_id", "rv", M, SUB, fixed=True)
    lut = q_rsub.join(F.broadcast(cb), "m").select(
        F.col("_id").alias("q_id"), "m", "code", int_sqdist(F.col("sv"), F.col("cvec")).alias("d")
    )
    from pyspark.sql import Window

    cand = (
        codes.join(F.broadcast(lut), ["m", "code"])
        .filter(F.col("q_id") != F.col("vec_id"))
        .groupBy("q_id", "vec_id").agg(F.sum("d").alias("adc_dist"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("adc_dist").asc(), F.col("vec_id").asc())
    want = {
        (r["q_id"], r["rank"]): (r["vec_id"], r["adc_dist"])
        for r in cand.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 3).collect()
    }
    assert got == want


@pytest.mark.slow
def test_trained_residual_codebook_refines_and_leaks_nothing(spark):
    """The trained residual path (round 8): train_iters>0 runs the shared
    grouped-Lloyd loop over the residual subvectors of the bounded sample.
    Contracts: (a) results are a valid top-k (rank 1..k per query, no
    self-pairs), (b) iters=0 is exactly the seeded path (param default
    compatibility), (c) no cached frame survives the call (the r6 leak
    class), (d) the trained codebook CHANGES the answer vs seeded — the
    training loop is actually wired in, not decorative."""
    from block_crawler_spark.operators.pq import ivfpq_residual_topk

    emb = load_table(spark, SF, "embeddings")
    cent = emb.filter(F.col("vec_id") < 4)
    queries = emb.filter(F.col("vec_id") < 6)

    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    trained = ivfpq_residual_topk(
        queries, emb, cent, m=4, sub_dim=16, k=3, n_codewords=16, nprobe=2,
        train_iters=2, train_sample=64,
    ).collect()
    assert jsc.getPersistentRDDs().size() <= before, "training leaked a cached frame"

    by_q = {}
    for r in trained:
        assert r["q_id"] != r["c_id"]
        by_q.setdefault(r["q_id"], []).append(r["rank"])
    for q, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), (q, ranks)

    seeded = ivfpq_residual_topk(
        queries, emb, cent, m=4, sub_dim=16, k=3, n_codewords=16, nprobe=2
    ).collect()
    t_pairs = {(r["q_id"], r["c_id"], r["adc_dist"]) for r in trained}
    s_pairs = {(r["q_id"], r["c_id"], r["adc_dist"]) for r in seeded}
    assert t_pairs != s_pairs, "trained codebook must change distances/candidates"


def test_adc_raises_when_a_code_has_no_lut_entry(pq_parts):
    """Codes encoded with the full codebook, searched with one subspace-0
    codeword gone: the (m, code) join would drop that term and rank the
    pair on a partial sum, so the search raises instead."""
    emb, cb, codes = pq_parts
    queries = emb.filter(F.col("vec_id") < 8)
    short_cb = cb.filter(~((F.col("m") == 0) & (F.col("code") == 0)))
    with pytest.raises(Exception, match="subspace terms"):
        pq_adc_topk(queries, codes, short_cb, M, SUB, k=5).collect()
