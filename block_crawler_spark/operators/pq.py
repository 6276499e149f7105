"""Product quantization (PQ) for embedding ANN at corpus scale.

PQ (Jégou et al., "Product Quantization for Nearest Neighbor Search",
TPAMI 2011 — public paper) splits a D-dim vector into M subspaces and
replaces each subvector with the id of its nearest codeword from a
per-subspace codebook of K entries.  A 64-dim float vector (256 B)
compresses to M single-byte codes — the difference between an embedding
index that fits in executor memory at 100 TB and one that doesn't.  Query
time never touches the original vectors: an M×K lookup table of
query-to-codeword distances is broadcast, and candidate distance is M
integer adds per corpus row (asymmetric distance computation, ADC).

Spark shapes:

- **Codebook** — K rows × M subspaces, built from a deterministic seed
  set (``vec_id < K``, :func:`pq_codebook`) or TRAINED per subspace with
  grouped fixed-point Lloyd (:func:`pq_train_codebook` — all M subspaces
  in one loop, exactly the integer-exact scheme ``emb_ivf_trained_topk``
  uses for the IVF coarse quantizer).  Always broadcast — it is M·K rows.
- **Encode** — one corpus scan: explode into M subvectors, broadcast-join
  the codebook, per-(vector, subspace) argmin.  One shuffle on
  ``(vec_id, m)`` with map-side partial aggregation; output is the codes
  table, the only thing the search path ever scans.
- **ADC search** — LUT = queries × codebook (broadcast, Q·M·K rows);
  codes ⋈ LUT on ``(m, code)`` then one ``(q_id, vec_id)`` sum-agg and a
  per-query top-k window (WindowGroupLimit).  No full-vector math on the
  corpus side.

Exactness (the repo's shared portability rule, via ``ann.micro_fixed`` /
``ann.int_sqdist``): components fix-point to micros (``floor(x·1e6)`` in
double space, IEEE-exact), all distances are int64 sums of squared
integer diffs, so every emitted value hash-matches a DuckDB replica
bit-for-bit.  The Spark argmin uses ``min(struct(dist, code))`` (total
order, lowest-code tie-break, no overflow mode for any scale/dim); the
DuckDB oracle (`plans/embed_ops._pq_sql`) packs ``min(d·K + code)``,
which is tie-equivalent but bounded — safe there because the registry
query pins sub_dim=4, K=64, unit-range micros (d·K ≲ 1e15 ≪ 2^63), NOT
safe for arbitrary scale/dim; raise either and the SQL must move to a
struct min too.

Reference parity note: the reference engine has no ANN surface at all
(`/root/reference/` is an NFT chain crawler); this module is part of the
beyond-parity LLM-training-data pipeline the build plan calls for.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .ann import int_sqdist, micro_fixed


# ---------------------------------------------------------------------------
# r14 map-side core: the ≤M·K-row codebook packed into ONE broadcastable row
# (array over m of the subspace's (code, cvec) list), so encode / LUT / ADC
# are single projections — no K-fold row explosion, no groupBy exchange
# (guide §2.3/2.4: shuffle fewer bytes, remove shuffles outright).  At scale
# this removes the M× exploded corpus shuffle the old shape paid.
# ---------------------------------------------------------------------------


def _by_m(a, b) -> Column:
    return (
        F.when(a["m"] < b["m"], F.lit(-1)).when(a["m"] > b["m"], F.lit(1)).otherwise(F.lit(0))
    )


def _packed_cb(codebook: DataFrame) -> DataFrame:
    """1-row frame ``_cb``: array over m (sorted) of (m, cw) where cw is the
    subspace's (code, cvec) struct list sorted by code.  Bounded by
    construction (≤ M·K entries)."""
    gcb = codebook.groupBy("m").agg(
        F.array_sort(F.collect_list(F.struct("code", "cvec"))).alias("cw")
    )
    return gcb.agg(F.array_sort(F.collect_list(F.struct("m", "cw")), _by_m).alias("_cb"))


def _codes_col(vec: Column, sub_dim: int) -> Column:
    """Array over m of the argmin codeword id for ``vec``'s m-th subvector
    — ties to the lowest code via the same lexicographic (d, code)
    struct-min as the old grouped argmin.  Evaluated against ``_cb``."""
    return F.transform(
        F.col("_cb"),
        lambda e: F.array_min(
            F.transform(
                e["cw"],
                lambda c: F.struct(
                    int_sqdist(F.slice(vec, e["m"] * sub_dim + 1, sub_dim), c["cvec"]).alias(
                        "d"
                    ),
                    c["code"].alias("code"),
                ),
            )
        )["code"],
    )


def _luts_col(vec: Column, sub_dim: int) -> Column:
    """Array over m of map(code → int64 sqdist(query subvector, codeword))
    — the per-query ADC lookup table as ONE nested literal, evaluated
    against ``_cb``.  A map (not a positional array) so codebooks with
    dropped codewords (trained Lloyd) stay exact."""
    return F.transform(
        F.col("_cb"),
        lambda e: F.map_from_entries(
            F.transform(
                e["cw"],
                lambda c: F.struct(
                    c["code"],
                    int_sqdist(F.slice(vec, e["m"] * sub_dim + 1, sub_dim), c["cvec"]),
                ),
            )
        ),
    )


def _adc_col(codes: Column, luts: Column, m: int) -> Column:
    """sum over m of luts[m][codes[m]] — the ADC distance; int64-exact, so
    addition order is irrelevant and the value equals the old join+sum."""
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0).cast("long"),
        lambda acc, i: acc + F.element_at(F.element_at(luts, i + 1), F.element_at(codes, i + 1)),
    )


def _subvectors(
    df: DataFrame, id_col: str, vec_col: str, m: int, sub_dim: int, fixed: bool = False
) -> DataFrame:
    """(id, m, sv): the M micro-int subvectors of each row's vector.
    ``fixed=True`` treats ``vec_col`` as ALREADY micro-int (the residual
    path subtracts micros in integer space — ``micro(v) − micro(c)`` is
    exact and portable, ``micro(v − c)`` would round differently)."""
    v = df.select(
        F.col(id_col).alias("_id"),
        (F.col(vec_col) if fixed else micro_fixed(F.col(vec_col))).alias("_v"),
    )
    parts = F.array(
        *[
            F.struct(F.lit(i).alias("m"), F.slice("_v", i * sub_dim + 1, sub_dim).alias("sv"))
            for i in range(m)
        ]
    )
    return v.select("_id", F.explode(parts).alias("p")).select(
        F.col("_id"), F.col("p.m").alias("m"), F.col("p.sv").alias("sv")
    )


def pq_codebook(emb: DataFrame, m: int, k: int, sub_dim: int) -> DataFrame:
    """Seed-set codebook: (m, code, cvec) from corpus rows ``vec_id < k``
    (deterministic; swap in a per-subspace Lloyd run to train)."""
    seeds = emb.filter(F.col("vec_id") < k)
    return _subvectors(seeds, "vec_id", "embedding", m, sub_dim).select(
        "m", F.col("_id").alias("code"), F.col("sv").alias("cvec")
    )


def pq_train_codebook(
    emb: DataFrame, m: int, k: int, sub_dim: int, iters: int = 2
) -> DataFrame:
    """Per-subspace Lloyd k-means in fixed-point integer space — the trained
    variant of :func:`pq_codebook`, with ALL M subspaces trained in one
    grouped loop (``m`` joins the group keys) instead of M separate runs.

    Same exactness rules as ``ann.kmeans_lloyd_fixed``: integer squared-L2
    distances, argmin ties to the lowest code via ``min(struct(d, code))``,
    centroid update ``floor(sum / count)`` in double space — bit-reproducible
    across engines, so even the trained codewords hash-check against the
    DuckDB replica.  Seeds are the ``vec_id < k`` subvectors (exactly the
    seed-set codebook), so training strictly refines the untrained baseline.
    A codeword that loses all members drops out (that subspace's k shrinks)
    — mirrored by the SQL oracle.

    Scale shape per iteration: one broadcast of the M·K-row codebook against
    the subvector table (no shuffle to assign) + one posexplode/groupBy
    update (shuffle bounded by M·K·sub_dim rows out).  The subvector table
    is cached for the loop and unpersisted before returning — the returned
    M·K-row codebook is materialized through the driver (bounded by
    construction) so it carries no lineage back into the released cache
    (ADVICE r6: each invocation used to leak one cached RDD for the
    session).  At corpus scale persist the subvector table to a parquet
    stage instead (same lever as ``dedup.minhash_signatures``)."""
    return _lloyd_train_sub(_subvectors(emb, "vec_id", "embedding", m, sub_dim), k, iters)


_LLOYD_SUB_MAX_ROWS = 262_144  # runaway bound: samples are constants (≤ K·M or sample·M)


def _lloyd_train_sub(sub: DataFrame, k: int, iters: int) -> DataFrame:
    """The grouped Lloyd loop over an ``(_id, m, sv)`` subvector frame —
    shared by :func:`pq_train_codebook` (raw subvectors) and the residual
    path of :func:`ivfpq_residual_topk` (residual subvectors; round 8).
    Seeds are ``_id < k``; returns the (m, code, cvec) codebook
    driver-materialized (≤ M·K rows).

    r14 (guide §1.2): the training INPUT is bounded by construction — every
    caller filters to a constant ``vec_id < sample`` set before exploding
    into subvectors — so the iterations run DRIVER-SIDE over the collected
    sample instead of as ~6 distributed stages per iteration over a few
    thousand rows (the old engine loop spent ~11 s of pure stage-scheduling
    latency training 256 vectors; the train-small/encode-everything shape
    means the sample never grows with the corpus).  The arithmetic is the
    exact integer scheme the engine loop ran and the SQL oracle replays:
    micro fixed-pointing happened ENGINE-side before the collect, distances
    are exact int64 squared-L2 (numpy int64 — no float path), argmin ties
    to the lowest code (codes scanned ascending, strict-less keeps the
    first), centroid update ``floor(sum / count)`` with the division in
    IEEE double exactly as ``F.floor(F.sum / F.count)`` computes it, and a
    codeword that loses all members drops out.  Bit-identical codebooks —
    the trained-path oracle hashes still match."""
    import numpy as np
    from pyspark.sql.types import ArrayType, IntegerType, LongType, StructField, StructType

    rows = sub.select("_id", "m", "sv").collect()
    if len(rows) > _LLOYD_SUB_MAX_ROWS:
        raise ValueError(
            f"_lloyd_train_sub: {len(rows)} subvector rows exceed the bounded-sample "
            f"contract ({_LLOYD_SUB_MAX_ROWS}) — train on a vec_id < sample subset"
        )
    by_m: dict[int, list[tuple[int, np.ndarray]]] = {}
    for r in rows:
        by_m.setdefault(r["m"], []).append((r["_id"], np.asarray(r["sv"], dtype=np.int64)))
    # seeds: the _id < k subvectors, per subspace
    cb: dict[int, dict[int, np.ndarray]] = {
        m: {vid: v for vid, v in vecs if vid < k} for m, vecs in by_m.items()
    }
    vmats = {m: np.stack([v for _vid, v in vecs]) for m, vecs in by_m.items()}
    for _ in range(iters):
        nxt: dict[int, dict[int, np.ndarray]] = {m: {} for m in by_m}
        for m, vmat in vmats.items():
            codes = sorted(cb[m])  # ascending → np.argmin's first-min = lowest code
            cmat = np.stack([cb[m][c] for c in codes])
            # chunk the distance/argmin over vmat rows (ADVICE r14): the
            # full N×K×sub_dim int64 diff tensor near the row bound with
            # K=256 is multi-GB of transient driver memory; per-chunk peak
            # is O(chunk·K·sub_dim) with identical argmin results.
            chunk = 8192
            assign = np.empty(vmat.shape[0], dtype=np.int64)
            for lo in range(0, vmat.shape[0], chunk):
                part = vmat[lo : lo + chunk]
                diff = part[:, None, :] - cmat[None, :, :]  # int64 — exact
                d = (diff * diff).sum(axis=2)
                assign[lo : lo + chunk] = d.argmin(axis=1)  # first min → lowest code
            counts = np.bincount(assign, minlength=len(codes))
            sums = np.zeros((len(codes), vmat.shape[1]), dtype=np.int64)
            np.add.at(sums, assign, vmat)
            for ci in np.nonzero(counts)[0]:
                # double division + floor, element-wise — exactly what
                # F.floor(F.sum / F.count) computes; sums ≪ 2^53 so the
                # double path is exact
                nxt[m][codes[ci]] = np.floor(
                    sums[ci].astype(np.float64) / float(counts[ci])
                ).astype(np.int64)
        cb = nxt
    out = [
        (int(m), int(code), [int(x) for x in c.tolist()])
        for m in sorted(cb)
        for code, c in sorted(cb[m].items())
    ]
    schema = StructType(
        [
            StructField("m", IntegerType(), False),
            StructField("code", LongType(), False),
            StructField("cvec", ArrayType(LongType(), False), False),
        ]
    )
    return sub.sparkSession.createDataFrame(out, schema)


def _codes_as_rows(codes: DataFrame) -> DataFrame:
    """Accept codes in either layout: legacy (vec_id, m, code) rows pass
    through; the (vec_id, codes array) layout explodes back to rows."""
    if "codes" not in codes.columns:
        return codes
    return codes.select("vec_id", F.posexplode("codes").alias("m", "code"))


def pq_encode(emb: DataFrame, codebook: DataFrame, m: int, sub_dim: int) -> DataFrame:
    """Corpus → codes (vec_id, m, code): per-subspace nearest codeword by
    exact integer squared-L2, ties to the lowest code id.

    r15 (VERDICT r14 task 1): RESTORED to the r13 broadcast-join +
    grouped-argmin shape.  The r14 packed-codebook projection removed this
    exchange but evaluated interpreted higher-order-function lambdas per
    corpus row, and two r15 interleaved bench-context A/Bs
    (scripts/r15_pqfam_bench.py, r13 vs r14 worktrees) measured the join
    shape faster at 8 cores (family sum 20.1-20.8 s vs 27.2-28.4 s) and
    within noise at 32 (22.6 vs 21.4) — whole-stage codegen over simple
    expressions beats interpreted HOF trees on the CPU-bound path.  The
    RESIDUAL search keeps the r14 map-side shape, which won at both core
    counts (same probe)."""
    sub = _subvectors(emb, "vec_id", "embedding", m, sub_dim)
    scored = sub.join(F.broadcast(codebook), "m").select(
        F.col("_id").alias("vec_id"), "m", "code", int_sqdist(F.col("sv"), F.col("cvec")).alias("d")
    )
    best = F.min(F.struct("d", "code")).alias("b")
    return (
        scored.groupBy("vec_id", "m")
        .agg(best)
        .select("vec_id", "m", F.col("b.code").alias("code"))
    )


def pq_adc_topk(
    queries: DataFrame, codes: DataFrame, codebook: DataFrame, m: int, sub_dim: int, k: int
) -> DataFrame:
    """ADC top-k join: (q_id, c_id, adc_dist, rank) for each query, over
    the codes table only — the corpus's float vectors are never read.

    r15: RESTORED to the r13 shape (see :func:`pq_encode` — same
    measurement): LUT = queries × codebook broadcast (Q·M·K rows); the
    dense (m, code) inner join contributes exactly M rows per
    (query, candidate), so the (q_id, vec_id) sum-agg is total.  ``codes``
    may be legacy (vec_id, m, code) rows or the array layout."""
    q_sub = _subvectors(queries, "vec_id", "embedding", m, sub_dim)
    lut = q_sub.join(F.broadcast(codebook), "m").select(
        F.col("_id").alias("q_id"), "m", "code", int_sqdist(F.col("sv"), F.col("cvec")).alias("d")
    )
    cand = (
        _codes_as_rows(codes).join(F.broadcast(lut), ["m", "code"])
        .filter(F.col("q_id") != F.col("vec_id"))
        .groupBy("q_id", "vec_id")
        .agg(F.sum("d").alias("adc_dist"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("adc_dist").asc(), F.col("vec_id").asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", F.col("vec_id").alias("c_id"), "adc_dist", "rank")
    )


def ivfpq_adc_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    codebook: DataFrame,
    codes: DataFrame | None,
    m: int,
    sub_dim: int,
    k: int,
    nprobe: int = 4,
) -> DataFrame:
    """IVF cell pruning composed with ADC scoring — the IVFADC layout of
    Jégou et al. §IV without residual encoding: the coarse quantizer only
    PRUNES (each query scores the codes of its ``nprobe`` nearest cells),
    while PQ codes encode the raw vectors.  Residual encoding (PQ over
    ``v − centroid``) is the standard refinement when the corpus has cluster
    structure worth exploiting; on isotropic embeddings it buys nothing, and
    either way the composition shape below is unchanged (the codes table
    would simply store residual codes per cell).

    Scale shape (r15 — the r13 join shape restored, see :func:`pq_encode`
    for the measurement): candidate pairs come from the (query-probe ⋈
    corpus-cell) equi-join on centroid_id — the corpus side is the CODES
    table keyed by cell, never the float vectors; the per-query LUT
    (Q·M·K rows) and the k-row centroid table broadcast.  Cost per query
    ≈ nprobe/n_cells of the flat ADC scan, on top of ADC's ~16× byte
    compression.  ``codes=None`` encodes the corpus via :func:`pq_encode`;
    a pre-built code table (rows or array layout) also works.
    """
    from .ann import ivf_assign

    ca = ivf_assign(corpus, centroids).select(F.col("vec_id").alias("c_id"), "centroid_id")
    qa = ivf_assign(queries, centroids, n_assign=nprobe).select(
        F.col("vec_id").alias("q_id"), "centroid_id"
    )
    # cells are disjoint for the corpus, so nprobe probes produce no
    # duplicate (q_id, c_id) pairs — no dedup needed
    pairs = qa.join(ca, "centroid_id").filter(F.col("q_id") != F.col("c_id")).select("q_id", "c_id")
    code_rows = _codes_as_rows(pq_encode(corpus, codebook, m, sub_dim) if codes is None else codes)
    q_sub = _subvectors(queries, "vec_id", "embedding", m, sub_dim)
    lut = q_sub.join(F.broadcast(codebook), "m").select(
        F.col("_id").alias("q_id"), "m", "code", int_sqdist(F.col("sv"), F.col("cvec")).alias("d")
    )
    cand = (
        pairs.join(code_rows.withColumnRenamed("vec_id", "c_id"), "c_id")
        .join(F.broadcast(lut), ["q_id", "m", "code"])
        .groupBy("q_id", "c_id")
        .agg(F.sum("d").alias("adc_dist"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("adc_dist").asc(), F.col("c_id").asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "c_id", "adc_dist", "rank")
    )


def _residual_sub_factory(centroids: DataFrame, m: int, sub_dim: int):
    """Returns ``(residual_vec, residual_sub)``:

    - ``residual_vec(vectors, id_alias, n_assign)`` → (id_alias,
      centroid_id, rv) — the per-(vector, assigned-cell) residual vector
      ``micro(v) − micro(centroid)``, computed entirely map-side (r14):
      cell assignment via the map-side :func:`ann.ivf_assign` and the
      centroid micro-vectors broadcast as ONE map literal
      (centroid_id → cv), so no join touches the corpus.
    - ``residual_sub(...)`` → the legacy (id_alias, centroid_id, m, sv)
      exploded subvector frame (residual_vec + one narrow explode), used
      by the bounded codebook-training inputs.

    Shared by :func:`ivfpq_residual_topk` and
    :func:`ivfpq_residual_codebook` so the search and the standalone
    trainer can never residualize differently."""
    from .ann import ivf_assign

    cmap = centroids.select(
        F.col("vec_id").alias("centroid_id"), micro_fixed(F.col("embedding")).alias("cv")
    ).agg(F.map_from_entries(F.collect_list(F.struct("centroid_id", "cv"))).alias("_cm"))
    parts = F.array(
        *[
            F.struct(F.lit(i).alias("m"), F.slice("rv", i * sub_dim + 1, sub_dim).alias("sv"))
            for i in range(m)
        ]
    )

    def residual_vec(vectors: DataFrame, id_alias: str, n_assign: int) -> DataFrame:
        a = ivf_assign(vectors, centroids, n_assign=n_assign)
        return a.crossJoin(F.broadcast(cmap)).select(
            F.col("vec_id").alias(id_alias),
            "centroid_id",
            F.zip_with(
                micro_fixed(F.col("embedding")),
                F.element_at(F.col("_cm"), F.col("centroid_id")),
                lambda x, y: x - y,
            ).alias("rv"),
        )

    def residual_sub(vectors: DataFrame, id_alias: str, n_assign: int) -> DataFrame:
        res = residual_vec(vectors, id_alias, n_assign)
        return res.select(id_alias, "centroid_id", F.explode(parts).alias("p")).select(
            id_alias, "centroid_id", F.col("p.m").alias("m"), F.col("p.sv").alias("sv")
        )

    return residual_vec, residual_sub


def ivfpq_residual_codebook(
    corpus: DataFrame,
    centroids: DataFrame,
    m: int,
    sub_dim: int,
    n_codewords: int,
    train_iters: int,
    train_sample: int | None = None,
) -> DataFrame:
    """The TRAINED residual codebook of :func:`ivfpq_residual_topk`'s
    ``train_iters > 0`` path, exposed standalone (round 12) so the plan
    layer can train once per session and pass the ≤M·K-row result back via
    the ``codebook`` parameter: Lloyd over the residual subvectors of the
    bounded deterministic ``vec_id < train_sample`` sample, seeded by the
    same ``vec_id < n_codewords`` residuals the untrained path uses, so
    training strictly refines the baseline.  Driver-materialized by
    ``_lloyd_train_sub`` (bounded by construction, zero persisted state)."""
    if train_sample is not None and train_sample < n_codewords:
        raise ValueError(
            f"train_sample={train_sample} must be >= n_codewords={n_codewords}: "
            "the first n_codewords sampled residuals seed the codebook"
        )
    _residual_vec, residual_sub = _residual_sub_factory(centroids, m, sub_dim)
    sample_n = n_codewords if train_sample is None else train_sample
    tsub = residual_sub(corpus.filter(F.col("vec_id") < sample_n), "_id", 1).select(
        "_id", "m", "sv"
    )
    return _lloyd_train_sub(tsub, n_codewords, train_iters)


def ivfpq_residual_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    m: int,
    sub_dim: int,
    k: int,
    n_codewords: int,
    nprobe: int = 4,
    train_iters: int = 0,
    train_sample: int | None = None,
    codebook: DataFrame | None = None,
) -> DataFrame:
    """IVFADC WITH residual encoding — the full Jégou et al. §IV layout
    (:func:`ivfpq_adc_topk` is the documented no-residual variant): PQ
    codes quantize ``v − centroid(cell(v))``, so the codebook spends its
    budget on the within-cell displacement instead of re-encoding the cell
    position the coarse quantizer already knows.  The query side pays the
    standard price: the ADC lookup table is per (query, PROBED CELL) —
    Q·nprobe·M·K rows instead of Q·M·K — because the query's residual
    differs in every probed cell.

    Exactness: residuals are ``micro(v) − micro(centroid)`` in int64 space
    (exact; subtracting micros, never micro-ing a float difference), so
    every ADC distance still hash-matches the DuckDB replica.  Codebook
    seeds are the residuals of ``vec_id < n_codewords``; ``train_iters > 0``
    refines them with the shared grouped Lloyd loop over the RESIDUAL
    subvectors of the ``vec_id < train_sample`` rows (round 8 — the trained
    twin of the seed-set residual codebook, same fixed-point exactness as
    :func:`pq_train_codebook`, so even the trained residual codewords
    hash-check against the SQL replica).

    Scale shape: identical to the no-residual form — candidates come from
    the (probed-cell ⋈ corpus-cell) equi-join on the CODES table (now
    keyed (centroid_id, m, code)), float vectors never join, centroid and
    codebook tables broadcast; the only growth is the LUT's nprobe factor,
    still query-side-tiny."""
    # A sample smaller than the codeword count would silently shrink the
    # codebook (seeds are _id < n_codewords), so reject it up front — and
    # compare against None, not truthiness, so train_sample=0 errors
    # instead of quietly meaning "unset" (ADVICE r8).
    if train_iters > 0 and train_sample is not None and train_sample < n_codewords:
        raise ValueError(
            f"train_sample={train_sample} must be >= n_codewords={n_codewords}: "
            "the first n_codewords sampled residuals seed the codebook"
        )

    residual_vec, residual_sub = _residual_sub_factory(centroids, m, sub_dim)

    if codebook is not None:
        # pre-trained residual codebook supplied by the caller (the plan
        # layer's session memo — round 12): MUST have been produced by
        # ivfpq_residual_codebook with the SAME (centroids, m, sub_dim,
        # n_codewords, iters, sample).  The caller owns the centroid/iters/
        # sample part of that contract (unverifiable from the frame), but
        # the LAYOUT is checked here (ADVICE r12): a codebook trained with
        # a different (m, sub_dim, n_codewords) would silently produce
        # wrong ADC distances, not an error.  The codebook is ≤ M·K rows
        # and already driver-materialized by every caller, so the check is
        # one cheap bounded action.
        layout = (
            codebook.groupBy("m")
            .agg(
                F.max("code").alias("max_code"),
                F.collect_set(F.size("cvec")).alias("widths"),
            )
            .collect()
        )
        got_ms = sorted(r["m"] for r in layout)
        # NB: a trained codebook legitimately carries FEWER than n_codewords
        # codes per subspace (Lloyd drops empty clusters), so only codes AT
        # OR PAST n_codewords are definitely a different layout
        bad_codes = {r["m"]: r["max_code"] for r in layout if r["max_code"] >= n_codewords}
        bad_widths = {r["m"]: r["widths"] for r in layout if set(r["widths"]) != {sub_dim}}
        if got_ms != list(range(m)) or bad_codes or bad_widths:
            raise ValueError(
                f"ivfpq_residual_topk: supplied codebook does not match the requested "
                f"layout (m={m}, sub_dim={sub_dim}, n_codewords={n_codewords}): "
                f"subspaces={got_ms}, out-of-range codes={bad_codes}, "
                f"wrong codeword widths={bad_widths}"
            )
        cb = codebook
    elif train_iters > 0:
        cb = ivfpq_residual_codebook(
            corpus, centroids, m, sub_dim, n_codewords, train_iters, train_sample
        )
    else:
        # codebook from the SEEDS' residuals only — a seed's cell assignment
        # depends on nothing but its own row, so this tiny lineage (≤ K
        # vectors through the window) equals filtering the full residual table
        cb = residual_sub(corpus.filter(F.col("vec_id") < n_codewords), "c_id", 1).select(
            "m", F.col("c_id").alias("code"), F.col("sv").alias("cvec")
        )
    # r14 map-side search (guide §2.3/2.4): residual codes and the
    # per-(query, probed-cell) residual LUTs are each ONE projection
    # against the packed codebook; candidates come from one broadcast-hash
    # equi-join on centroid_id, and the only exchange is the top-k window.
    pcb = _packed_cb(cb)
    codes = (
        residual_vec(corpus, "c_id", 1)
        .crossJoin(F.broadcast(pcb))
        .select("c_id", "centroid_id", _codes_col(F.col("rv"), sub_dim).alias("codes"))
    )
    qlut = (
        residual_vec(queries, "q_id", nprobe)
        .crossJoin(F.broadcast(pcb))
        .select("q_id", "centroid_id", _luts_col(F.col("rv"), sub_dim).alias("luts"))
    )
    cand = (
        codes.join(F.broadcast(qlut), "centroid_id")
        .filter(F.col("q_id") != F.col("c_id"))
        .select("q_id", "c_id", _adc_col(F.col("codes"), F.col("luts"), m).alias("adc_dist"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("adc_dist").asc(), F.col("c_id").asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "c_id", "adc_dist", "rank")
    )
