"""Product quantization (PQ) for embedding ANN at corpus scale.

PQ (Jégou et al., "Product Quantization for Nearest Neighbor Search",
TPAMI 2011 — public paper) splits a D-dim vector into M subspaces and
replaces each subvector with the id of its nearest codeword from a
per-subspace codebook of K entries.  A 64-dim float vector (256 B)
compresses to M single-byte codes — the difference between an embedding
index that fits in executor memory at 100 TB and one that doesn't.  Query
time never touches the original vectors: a lookup table (LUT) of
query-to-codeword distances is broadcast, and candidate distance is M
integer adds per corpus row (asymmetric distance computation, ADC).

One layout and one search shape serve the flat, IVF-pruned and residual
searches:

- **Codebook** — ``(m, code, cvec)`` rows, at most M·K, always broadcast.
  Built from a deterministic seed set (``vec_id < K``, :func:`pq_codebook`)
  or trained per subspace with fixed-point Lloyd (:func:`pq_train_codebook`,
  the integer-exact scheme ``emb_ivf_trained_topk`` uses for the IVF coarse
  quantizer).
- **Subvectors** — :func:`_subvectors` explodes each vector into its M
  micro-int subvectors ``(_id, *keys, m, sv)``; ``keys`` carries the cell
  id on the residual path.
- **Encode** — the subvectors broadcast-join the codebook on ``m`` and a
  grouped ``min(struct(d, code))`` picks each subvector's codeword: one
  shuffle on ``(id, *keys, m)`` with map-side partial aggregation.  Codes
  are ``(id, *keys, m, code)`` rows, the only thing a search scans.
- **LUT** — the same join over the query subvectors, kept unreduced:
  ``(q_id, *keys, m, code, d)``, Q·M·K rows (Q·nprobe·M·K for residuals,
  whose LUT is per probed cell).
- **ADC tail** — codes join the broadcast LUT on ``(*keys, m, code)``; one
  ``(q_id, c_id)`` sum-agg checks that all M terms arrived, and a
  per-query ``row_number`` keeps the top k (a WindowGroupLimit).

Residual IVFADC is the same ADC: the codebook quantizes
``micro(v) − micro(centroid)`` and the LUT is keyed per (query, probed
cell), so the join key gains ``centroid_id`` and nothing else changes.

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

The reference engine (an NFT chain crawler) has no ANN surface; this
module serves the LLM-training-data pipeline's embedding dedup and search.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .ann import int_sqdist, ivf_assign, micro_fixed


def _subvectors(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    m: int,
    sub_dim: int,
    fixed: bool = False,
    keys: tuple[str, ...] = (),
) -> DataFrame:
    """(_id, *keys, m, sv): the M micro-int subvectors of each row's
    vector, with the ``keys`` columns carried through.  ``fixed=True``
    treats ``vec_col`` as already micro-int (the residual path subtracts
    micros in integer space — ``micro(v) − micro(c)`` is exact and
    portable, ``micro(v − c)`` would round differently)."""
    v = df.select(
        F.col(id_col).alias("_id"),
        *keys,
        (F.col(vec_col) if fixed else micro_fixed(F.col(vec_col))).alias("_v"),
    )
    parts = F.array(
        *[
            F.struct(F.lit(i).alias("m"), F.slice("_v", i * sub_dim + 1, sub_dim).alias("sv"))
            for i in range(m)
        ]
    )
    return v.select("_id", *keys, F.explode(parts).alias("p")).select(
        "_id", *keys, F.col("p.m").alias("m"), F.col("p.sv").alias("sv")
    )


def _distances(
    sub: DataFrame, codebook: DataFrame, id_name: str, keys: tuple[str, ...] = ()
) -> DataFrame:
    """(id_name, *keys, m, code, d): every subvector's exact squared-L2 to
    every codeword of its subspace — the broadcast codebook join behind
    both the encode and the LUT."""
    return sub.join(F.broadcast(codebook), "m").select(
        F.col("_id").alias(id_name),
        *keys,
        "m",
        "code",
        int_sqdist(F.col("sv"), F.col("cvec")).alias("d"),
    )


def _encode(
    sub: DataFrame, codebook: DataFrame, id_name: str, keys: tuple[str, ...] = ()
) -> DataFrame:
    """(id_name, *keys, m, code): each subvector's nearest codeword, ties to
    the lowest code (``min`` of the ``(d, code)`` struct)."""
    best = F.min(F.struct("d", "code")).alias("b")
    return (
        _distances(sub, codebook, id_name, keys)
        .groupBy(id_name, *keys, "m")
        .agg(best)
        .select(id_name, *keys, "m", F.col("b.code").alias("code"))
    )


def _adc_topk(terms: DataFrame, m: int, k: int) -> DataFrame:
    """(q_id, c_id, adc_dist, rank): each query's ``k`` nearest candidates
    by ADC distance, ties to the lowest c_id, never the query itself.
    ``terms`` holds one ``(q_id, c_id, d)`` row per subspace.  A code with
    no LUT entry (codes encoded against another codebook) loses its term
    in the inner join, so a pair with fewer than M terms raises instead of
    ranking on a partial sum."""
    cand = (
        terms.filter(F.col("q_id") != F.col("c_id"))
        .groupBy("q_id", "c_id")
        .agg(F.sum("d").alias("adc_dist"), F.count("d").alias("_n"))
    )
    short = F.raise_error(
        F.format_string(
            "ADC for q_id=%d, c_id=%d summed %d of %d subspace terms: "
            "a code is missing from the search codebook",
            "q_id",
            "c_id",
            "_n",
            F.lit(m),
        )
    )
    total = F.when(F.col("_n") == m, F.col("adc_dist")).otherwise(short)
    w = Window.partitionBy("q_id").orderBy(F.col("adc_dist").asc(), F.col("c_id").asc())
    return (
        cand.select("q_id", "c_id", total.alias("adc_dist"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def pq_codebook(emb: DataFrame, m: int, k: int, sub_dim: int) -> DataFrame:
    """Seed-set codebook: (m, code, cvec) from corpus rows ``vec_id < k``
    (deterministic; :func:`pq_train_codebook` refines it)."""
    seeds = emb.filter(F.col("vec_id") < k)
    return _subvectors(seeds, "vec_id", "embedding", m, sub_dim).select(
        "m", F.col("_id").alias("code"), F.col("sv").alias("cvec")
    )


def pq_train_codebook(
    emb: DataFrame, m: int, k: int, sub_dim: int, iters: int = 2
) -> DataFrame:
    """Per-subspace Lloyd k-means in fixed-point integer space — the trained
    variant of :func:`pq_codebook`, with all M subspaces trained in one loop.

    Same exactness rules as ``ann.kmeans_lloyd_fixed``: integer squared-L2
    distances, argmin ties to the lowest code, centroid update
    ``floor(sum / count)`` in double space — bit-reproducible across
    engines, so the trained codewords hash-check against the DuckDB
    replica.  Seeds are the ``vec_id < k`` subvectors (exactly the seed-set
    codebook), so training refines the untrained baseline.  A codeword that
    loses all members drops out (that subspace's k shrinks), as in the SQL
    oracle.  Callers pass a bounded sample (``vec_id < sample``): train on
    a sample, encode everything."""
    return _lloyd_train_sub(_subvectors(emb, "vec_id", "embedding", m, sub_dim), k, iters)


_LLOYD_SUB_MAX_ROWS = 262_144  # runaway bound: samples are constants (≤ K·M or sample·M)


def _lloyd_train_sub(sub: DataFrame, k: int, iters: int) -> DataFrame:
    """The Lloyd loop over an ``(_id, m, sv)`` subvector frame — raw
    subvectors for :func:`pq_train_codebook`, residual ones for
    :func:`ivfpq_residual_codebook`.  Seeds are ``_id < k``; returns the
    (m, code, cvec) codebook driver-materialized (≤ M·K rows), so it
    carries no lineage and leaves no cached frame behind.

    The training input is a bounded sample by contract, so the iterations
    run driver-side in numpy over the collected rows instead of as several
    distributed stages per iteration over a few thousand rows.  The
    arithmetic is the integer scheme the SQL oracle replays: micro
    fixed-pointing happens engine-side before the collect, distances are
    exact int64 squared-L2, argmin ties to the lowest code (codes scanned
    ascending, first minimum kept), the centroid update is
    ``floor(sum / count)`` with the division in IEEE double, and a codeword
    that loses all members drops out."""
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
            # chunk the distance/argmin over vmat rows: the full
            # N×K×sub_dim int64 diff tensor near the row bound with K=256
            # is multi-GB of transient driver memory; per-chunk peak is
            # O(chunk·K·sub_dim) with identical argmin results.
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


def pq_encode(emb: DataFrame, codebook: DataFrame, m: int, sub_dim: int) -> DataFrame:
    """Corpus → codes (vec_id, m, code): per-subspace nearest codeword by
    exact integer squared-L2, ties to the lowest code id."""
    return _encode(_subvectors(emb, "vec_id", "embedding", m, sub_dim), codebook, "vec_id")


def _query_lut(queries: DataFrame, codebook: DataFrame, m: int, sub_dim: int) -> DataFrame:
    """(q_id, m, code, d): the Q·M·K-row ADC lookup table."""
    return _distances(_subvectors(queries, "vec_id", "embedding", m, sub_dim), codebook, "q_id")


def pq_adc_topk(
    queries: DataFrame, codes: DataFrame, codebook: DataFrame, m: int, sub_dim: int, k: int
) -> DataFrame:
    """ADC top-k: (q_id, c_id, adc_dist, rank) for each query, over the
    (vec_id, m, code) codes table only — the corpus's float vectors are
    never read.  Codes join the broadcast LUT on ``(m, code)``."""
    lut = _query_lut(queries, codebook, m, sub_dim)
    terms = codes.withColumnRenamed("vec_id", "c_id").join(F.broadcast(lut), ["m", "code"])
    return _adc_topk(terms, m, k)


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
    prunes (each query scores the codes of its ``nprobe`` nearest cells)
    while the PQ codes encode the raw vectors.  :func:`ivfpq_residual_topk`
    is the residual form.

    Candidate pairs come from the (query-probe ⋈ corpus-cell) equi-join on
    centroid_id; the corpus side is the codes table, never the float
    vectors, and the LUT and centroid table broadcast.  Cost per query is
    about nprobe/n_cells of the flat ADC scan.  ``codes=None`` encodes the
    corpus with :func:`pq_encode`; a pre-built (vec_id, m, code) table also
    works."""
    ca = ivf_assign(corpus, centroids).select(F.col("vec_id").alias("c_id"), "centroid_id")
    qa = ivf_assign(queries, centroids, n_assign=nprobe).select(
        F.col("vec_id").alias("q_id"), "centroid_id"
    )
    # cells are disjoint for the corpus, so nprobe probes produce no
    # duplicate (q_id, c_id) pairs
    pairs = qa.join(ca, "centroid_id").select("q_id", "c_id")
    codes = pq_encode(corpus, codebook, m, sub_dim) if codes is None else codes
    terms = pairs.join(codes.withColumnRenamed("vec_id", "c_id"), "c_id").join(
        F.broadcast(_query_lut(queries, codebook, m, sub_dim)), ["q_id", "m", "code"]
    )
    return _adc_topk(terms, m, k)


def _residual_subvectors(
    vectors: DataFrame, centroids: DataFrame, n_assign: int, m: int, sub_dim: int
) -> DataFrame:
    """(_id, centroid_id, m, sv): the residual ``micro(v) − micro(centroid)``
    subvectors of each vector in each of its ``n_assign`` nearest cells.
    The centroids' micro vectors broadcast-join on centroid_id.  One
    function for the search and the trainer, so they cannot residualize
    differently."""
    cv = centroids.select(
        F.col("vec_id").alias("centroid_id"), micro_fixed(F.col("embedding")).alias("cv")
    )
    res = (
        ivf_assign(vectors, centroids, n_assign=n_assign)
        .join(F.broadcast(cv), "centroid_id")
        .select(
            "vec_id",
            "centroid_id",
            F.zip_with(micro_fixed(F.col("embedding")), F.col("cv"), lambda x, y: x - y).alias(
                "rv"
            ),
        )
    )
    return _subvectors(res, "vec_id", "rv", m, sub_dim, fixed=True, keys=("centroid_id",))


def _check_train_sample(train_sample: int | None, n_codewords: int) -> None:
    # A sample smaller than the codeword count would silently shrink the
    # codebook (seeds are _id < n_codewords); compare against None, not
    # truthiness, so train_sample=0 errors instead of meaning "unset".
    if train_sample is not None and train_sample < n_codewords:
        raise ValueError(
            f"train_sample={train_sample} must be >= n_codewords={n_codewords}: "
            "the first n_codewords sampled residuals seed the codebook"
        )


def ivfpq_residual_codebook(
    corpus: DataFrame,
    centroids: DataFrame,
    m: int,
    sub_dim: int,
    n_codewords: int,
    train_iters: int,
    train_sample: int | None = None,
) -> DataFrame:
    """The trained residual codebook of :func:`ivfpq_residual_topk`, built
    standalone so a caller can train once and pass the ≤M·K-row result back
    through its ``codebook`` parameter: Lloyd over the residual subvectors
    of the bounded ``vec_id < train_sample`` sample, seeded by the same
    ``vec_id < n_codewords`` residuals the untrained path uses, so training
    refines the baseline.  Driver-materialized by ``_lloyd_train_sub``."""
    _check_train_sample(train_sample, n_codewords)
    sample_n = n_codewords if train_sample is None else train_sample
    tsub = _residual_subvectors(
        corpus.filter(F.col("vec_id") < sample_n), centroids, 1, m, sub_dim
    ).select("_id", "m", "sv")
    return _lloyd_train_sub(tsub, n_codewords, train_iters)


def _check_codebook_layout(codebook: DataFrame, m: int, sub_dim: int, n_codewords: int) -> None:
    """Reject a supplied codebook built for another (m, sub_dim,
    n_codewords): it would give wrong ADC distances, not an error.  One
    bounded action over ≤ M·K rows.  A trained codebook legitimately holds
    fewer than n_codewords codes per subspace (Lloyd drops empty clusters),
    so only codes at or past n_codewords mark another layout."""
    layout = (
        codebook.groupBy("m")
        .agg(F.max("code").alias("max_code"), F.collect_set(F.size("cvec")).alias("widths"))
        .collect()
    )
    got_ms = sorted(r["m"] for r in layout)
    bad_codes = {r["m"]: r["max_code"] for r in layout if r["max_code"] >= n_codewords}
    bad_widths = {r["m"]: r["widths"] for r in layout if set(r["widths"]) != {sub_dim}}
    if got_ms != list(range(m)) or bad_codes or bad_widths:
        raise ValueError(
            f"ivfpq_residual_topk: supplied codebook does not match the requested "
            f"layout (m={m}, sub_dim={sub_dim}, n_codewords={n_codewords}): "
            f"subspaces={got_ms}, out-of-range codes={bad_codes}, "
            f"wrong codeword widths={bad_widths}"
        )


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
    """IVFADC with residual encoding — the full Jégou et al. §IV layout:
    PQ codes quantize ``v − centroid(cell(v))``, so the codebook spends its
    budget on the within-cell displacement instead of re-encoding the cell
    position the coarse quantizer already knows.  The query side pays the
    standard price: the LUT is per (query, probed cell), Q·nprobe·M·K rows
    instead of Q·M·K, because the query's residual differs in every probed
    cell.

    The codebook is, in order of precedence: ``codebook`` (a residual
    codebook from :func:`ivfpq_residual_codebook` with the same centroids,
    layout, iters and sample; its layout is checked), the trained one
    (``train_iters > 0``), or the residuals of ``vec_id < n_codewords``.
    Residuals are ``micro(v) − micro(centroid)`` in int64 space, so every
    ADC distance hash-matches the DuckDB replica.

    Shape: the flat search's, keyed by cell — codes are
    ``(c_id, centroid_id, m, code)`` rows and join the broadcast LUT on
    ``(centroid_id, m, code)``; float vectors never join."""
    if train_iters > 0:
        _check_train_sample(train_sample, n_codewords)
    if codebook is not None:
        _check_codebook_layout(codebook, m, sub_dim, n_codewords)
        cb = codebook
    elif train_iters > 0:
        cb = ivfpq_residual_codebook(
            corpus, centroids, m, sub_dim, n_codewords, train_iters, train_sample
        )
    else:
        # a seed's cell depends only on its own row, so residualizing the
        # ≤K seeds alone equals filtering the full residual table
        seeds = corpus.filter(F.col("vec_id") < n_codewords)
        cb = _residual_subvectors(seeds, centroids, 1, m, sub_dim).select(
            "m", F.col("_id").alias("code"), F.col("sv").alias("cvec")
        )
    cell = ("centroid_id",)
    codes = _encode(_residual_subvectors(corpus, centroids, 1, m, sub_dim), cb, "c_id", cell)
    lut = _distances(_residual_subvectors(queries, centroids, nprobe, m, sub_dim), cb, "q_id", cell)
    return _adc_topk(codes.join(F.broadcast(lut), ["centroid_id", "m", "code"]), m, k)
