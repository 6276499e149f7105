"""Deduplication operators for training-data pipelines.

Exact (hash group-by), MinHash+LSH (shingle → minhash → band → bucket join),
SimHash, and n-gram Jaccard — each designed Spark-first:

* all signatures are computed with built-in column expressions (md5 +
  array lambdas), no Python UDFs;
* candidate generation is a *bucket equi-join* (shuffle on band value),
  never an O(n²) cross join — the property that keeps MinHash-LSH viable at
  100 TB: pair count scales with bucket collisions, not documents²;
* md5 hex strings act as the portable hash domain (lexicographic min on
  fixed-width hex = numeric min), so every stage has an exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import fingerprint, shingles, tokens


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup on the normalized-text fingerprint; keeps the lowest id.

    One hash-aggregate; at scale this is a single shuffle on the md5 key
    (map-side partial aggregation applies).
    """
    return (
        docs.withColumn("fp", fingerprint(F.col(text_col)))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("dup_count"))
    )


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    shingle_k: int = 3,
    storage_level=None,
    stage_path: str | None = None,
    return_staged: bool = False,
    materialize: bool = True,
) -> DataFrame | tuple[DataFrame, DataFrame | None]:
    """MinHash signature per document: h_i = min over shingles of md5(i|s).

    The min of fixed-width lowercase hex strings is the numeric min, so the
    signature is a portable array<string> of length ``num_hashes``.

    The shingle array is materialized before the per-seed minhash
    transforms: otherwise Catalyst inlines the shingle-construction
    expression once per hash seed and the stage falls out of whole-stage
    codegen.  At cluster scale the same boundary is where you'd persist the
    shingle table anyway (it is reused by candidate verification).

    Materialization, in order of scale:

    * default — ``cache()`` (MEMORY_AND_DISK, spills rather than OOMs);
    * ``storage_level=StorageLevel.DISK_ONLY`` — when the shingle table
      would crowd out executor memory;
    * ``stage_path="/warehouse/stage/shingles"`` — the 100 TB path: the
      shingle table is WRITTEN to parquet there and read back, so the
      stage survives executor loss, never occupies block-manager memory,
      and every downstream consumer (banding, exact-Jaccard verification)
      scans columnar files with pushdown instead of replaying lineage.
      ``stage_path`` wins when both are given.
    """
    sh = shingles(F.col(text_col), shingle_k)
    staged = docs.select(F.col(id_col), F.col(text_col), sh.alias("shingles"))
    if stage_path is not None:
        staged.write.mode("overwrite").parquet(stage_path)
        staged = docs.sparkSession.read.parquet(stage_path)
    elif materialize:
        # NB: DataFrame cache() pins the plan in the CacheManager until an
        # explicit unpersist — a one-shot caller that cannot unpersist after
        # its action (a lazily-returned registry query) should pass
        # ``materialize=False`` and pay the shingle recompute per consumer
        # instead of leaking one pinned frame per invocation
        staged = staged.cache() if storage_level is None else staged.persist(storage_level)

    def seeded_min(seed: str):
        # NB: the lambda must be single-argument — F.transform dispatches on
        # arity, and a second parameter (even a defaulted one) would be bound
        # to the array-index column, silently replacing the seed.
        return F.array_min(F.transform(F.col("shingles"), lambda s: F.md5(F.concat(F.lit(seed), s))))

    sig = F.array(*[seeded_min(f"{i}|") for i in range(num_hashes)])
    out = staged.select(F.col(id_col), F.col(text_col), F.col("shingles"), sig.alias("sig"))
    if return_staged:
        # explicit lifecycle handle: a long-running consumer (the streaming
        # corpus ingest, one call per micro-batch) must unpersist the staged
        # frame after its action or dead per-batch shingle tables accumulate
        # in the block manager.  None when stage_path made it a parquet stage.
        return out, (None if stage_path is not None else staged)
    return out


def band_buckets(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    band_size: int = 2,
) -> DataFrame:
    """LSH bucket keys per document: (id, band_index, band_value) rows, where
    a band is the concatenation of ``band_size`` adjacent minhashes.  Shared
    by the batch self-join (:func:`minhash_lsh_candidates`) and the streaming
    corpus store's new-vs-admitted cross join (``streaming.corpus``)."""
    n_bands = num_hashes // band_size
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_index"),
                F.concat_ws("", F.slice(F.col("sig"), b * band_size + 1, band_size)).alias("band_value"),
            )
            for b in range(n_bands)
        ]
    )
    return signatures.select(F.col(id_col), F.explode(bands).alias("band")).select(
        id_col, F.col("band.band_index").alias("band_index"), F.col("band.band_value").alias("band_value")
    )


def band_pairs(
    bands_a: DataFrame,
    bands_b: DataFrame | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Candidate pairs from band buckets: equi-join on (band_index,
    band_value) → distinct (id_a, id_b).  One frame ⇒ de-mirrored self-join
    (``id_a < id_b``); two frames ⇒ cross-frame pairs (``id_a`` from
    ``bands_a``, ``id_b`` from ``bands_b``) — the streaming corpus's
    admitted-vs-incoming shape.  The ONE definition of the banding join, so
    skew/null handling changes land in every call site at once."""
    a = bands_a.alias("a")
    b = (bands_a if bands_b is None else bands_b).alias("b")
    cond = (F.col("a.band_index") == F.col("b.band_index")) & (
        F.col("a.band_value") == F.col("b.band_value")
    )
    if bands_b is None:
        cond = cond & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    return (
        a.join(b, cond)
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def minhash_lsh_candidates(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    band_size: int = 2,
) -> DataFrame:
    """LSH banding: documents sharing any band bucket become candidate pairs.

    Candidates come from a self-equi-join on (band_index, band_value) — a
    shuffle join on the band key, with ``a.id < b.id`` to de-mirror pairs.
    """
    return band_pairs(band_buckets(signatures, id_col, num_hashes, band_size), id_col=id_col)


def jaccard_pairs(
    signatures: DataFrame,
    candidates: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.0,
) -> DataFrame:
    """Exact Jaccard verification of candidate pairs on true shingle sets.

    |A∩B| / |A∪B| as decimal(18,6); the join fans the (small) candidate set
    against the shingle table twice — both joins are hash equi-joins.
    """
    sh = signatures.select(F.col(id_col), F.col("shingles"))
    j = (
        candidates.join(sh.withColumnRenamed(id_col, "id_a").withColumnRenamed("shingles", "sh_a"), "id_a")
        .join(sh.withColumnRenamed(id_col, "id_b").withColumnRenamed("shingles", "sh_b"), "id_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("uni", F.size(F.array_union("sh_a", "sh_b")))
        .withColumn("jaccard", (F.col("inter").cast("decimal(18,6)") / F.col("uni")).cast("decimal(18,6)"))
    )
    return j.filter(F.col("jaccard") >= threshold).select("id_a", "id_b", "inter", "uni", "jaccard")


def dedup_assignments(docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Near-dup pairs → keep/drop decision per document (greedy form).

    Standard LSH-dedup "keep lowest id" rule: any document appearing as the
    larger id of a near-dup pair is dropped.  Greedy, not transitive
    closure — the id_a < id_b convention makes every cluster keep its
    minimum surviving chain, which is the common web-scale policy.  The
    drop-list join is left un-hinted on purpose: under heavy duplication the
    drop set is corpus-scale, and a forced broadcast would OOM the driver
    where AQE picks a shuffle join (and still broadcasts small drop lists at
    runtime via its size estimate).  For exact per-cluster semantics use
    :func:`dedup_components` / :func:`dedup_assignments_cc`.
    """
    drops = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return docs.join(drops.withColumn("_drop", F.lit(True)), id_col, "left").select(
        id_col, F.coalesce(F.col("_drop"), F.lit(False)).alias("is_duplicate")
    )


def dedup_components(pairs: DataFrame, max_iterations: int = 25) -> DataFrame:
    """Near-dup edges → connected-component labels, label = min doc id
    reachable through any chain of near-dup pairs.

    Iterative min-label propagation (the "hash-to-min" scheme): every node
    starts labeled with itself; each round takes the min of its own label
    and its neighbors' labels, until a fixed point.  Converges in
    O(component diameter) rounds — near-dup clusters are shallow (stars and
    short chains), so a handful of rounds suffices in practice;
    ``max_iterations`` is a runaway bound, and the loop exits early on the
    first round with zero label changes.

    Scale shape: each round is one equi-join edges⋈labels + one groupBy min
    — all shuffles on the node id, no cross products, and the edge set
    (near-dup pairs, orders of magnitude smaller than the corpus) is the
    only input.  ``localCheckpoint`` truncates the plan per round so the
    lineage doesn't grow with iteration count; on a real cluster point
    ``spark.sparkContext.setCheckpointDir`` at durable storage and swap in
    ``checkpoint`` if executor loss during the loop matters.

    Returns (id, comp): one row per node that appears in any pair.
    """
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")).unionAll(
        pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    )
    edges = edges.distinct().localCheckpoint()
    labels = edges.select(F.col("src").alias("id")).distinct().withColumn("comp", F.col("id"))

    def propagate(cur: DataFrame) -> tuple[DataFrame, int]:
        nbr_min = (
            edges.join(cur.select(F.col("id").alias("dst"), F.col("comp").alias("nbr_comp")), "dst")
            .groupBy("src")
            .agg(F.min("nbr_comp").alias("nbr_min"))
            .select(F.col("src").alias("id"), "nbr_min")
        )
        # r14: the moved? check rides the SAME checkpointed pass as the
        # label update (``nbr_min < comp`` ⇔ the old "n.comp != o.comp"
        # join test) — the old shape paid a second nxt⋈cur join-and-count
        # job per round on top of the checkpoint job
        nxt = cur.join(nbr_min, "id", "left").select(
            "id",
            F.least(F.col("comp"), F.coalesce(F.col("nbr_min"), F.col("comp"))).alias("comp"),
            (F.coalesce(F.col("nbr_min"), F.col("comp")) < F.col("comp")).alias("_moved"),
        ).localCheckpoint()
        moved = nxt.filter(F.col("_moved")).limit(1).count()
        return nxt.select("id", "comp"), moved

    changed = 1
    for _ in range(max_iterations):
        labels, changed = propagate(labels)
        if changed == 0:
            break
    if changed != 0:
        # the last permitted round still moved labels — but a diameter of
        # EXACTLY max_iterations converges on that round, so certify with
        # one verification round before declaring failure (a converged
        # state propagates to itself)
        labels, changed = propagate(labels)
        if changed != 0:
            # silently-wrong labels would split one cluster into several
            # "survivors" — fail loudly instead (round-4 review finding)
            raise RuntimeError(
                f"dedup_components did not reach a fixed point in {max_iterations} "
                "iterations — a component's diameter exceeds the bound; raise max_iterations"
            )
    return labels


def dedup_assignments_cc(
    docs: DataFrame,
    pairs: DataFrame | None,
    id_col: str = "doc_id",
    components: DataFrame | None = None,
) -> DataFrame:
    """Exact near-dup assignment by transitive closure: every document maps
    to its component's minimum id (``keep_id``); everything else in the
    component is a duplicate.  Fixes the greedy rule's miss where B<C are
    only linked through pairs (A,B),(A,C): greedy keeps the chain minimum
    per edge, closure keeps exactly one survivor per cluster.

    ``components`` short-circuits the closure with a precomputed
    (id, comp) map — it MUST be :func:`dedup_components` of the caller's
    pair set (the caller owns that contract; the plan layer's session
    memo uses it so three consumers of one pair stage run the iterative
    closure once per session instead of once per query, round 13).  When
    given, ``pairs`` is unused and should be None — exactly one of the
    two must be supplied (r13 review: accepting both invites passing an
    inconsistent combination).
    """
    if (pairs is None) == (components is None):
        raise ValueError("dedup_assignments_cc: supply exactly one of pairs / components")
    comp = dedup_components(pairs) if components is None else components
    return docs.join(
        comp.select(F.col("id").alias(id_col), F.col("comp")), id_col, "left"
    ).select(
        id_col,
        F.coalesce(F.col("comp"), F.col(id_col)).alias("keep_id"),
        (F.coalesce(F.col("comp"), F.col(id_col)) != F.col(id_col)).alias("is_duplicate"),
    )


def simhash64(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 16) -> DataFrame:
    """SimHash over word tokens (default 16-bit for oracle portability).

    bit_j(doc) = 1 iff Σ_tokens (2·bit_j(md5(token)) − 1) > 0.  Bits come
    from the first ``bits/4`` hex digits of each token's md5 — pure column
    expressions, mirrored 1:1 in SQL.  Near-dups then differ in ≤ d bits of
    the signature (Hamming); at scale candidates come from equality joins on
    signature chunks, same banding idea as MinHash-LSH.

    ``bits`` up to the full 64 is executable (round 7 — previously the
    corpus-scale 64-bit configuration was documentation only): the
    signature is recomposed with JVM-side ``shiftleft`` + ``bitwiseOR``, so
    bit 0 of a 64-bit signature lands on the long's SIGN bit (two's
    complement — negative signatures are expected and handled by the
    banding's shift/mask arithmetic).  The 16/32-bit values are unchanged
    from the arithmetic recomposition (all bits positive), which is what
    keeps the SQL oracle's BIGINT recomposition portable at those widths —
    SQL stays on the sign-bit-free domains, 64-bit is pinned by pytest
    (prefix property + pigeonhole recall) instead.

    A signature wider than its bit count can't be represented: ``bits`` ∈
    {16, 32, 64} (md5 supplies up to 32 hex digits; a long holds 64 bits).
    """
    if bits not in (16, 32, 64):
        raise ValueError(f"simhash64: bits must be 16, 32 or 64, got {bits}")
    toks = F.array_distinct(tokens(F.lower(F.col(text_col))))

    # Materialize the md5-derived bit words ONCE per token row in a
    # projection below the aggregate: writing `md5(...)` inside every
    # per-bit sum leaves `bits` copies of the digest in the plan and
    # codegen does not reliably collapse them (measured: 64 md5 nodes in
    # the 16-bit plan, ~1.8× the stage time).  One `conv` of the hex
    # prefix packs up to 32 bits per word (a 32-bit word tops out at
    # 0xFFFFFFFF, inside long range; 64-bit signatures use two words so
    # the conv→long cast never sees the sign bit).  Bit j of a width-W
    # word starting at offset `off` sits at shift `off + W - 1 - j` —
    # identical to the old per-digit arithmetic (digit j//4, nibble bit
    # 3-j%4), verified bit-identical at 16/32/64 on sf0.1.
    exploded = docs.select(F.col(id_col), F.explode(toks).alias("t"))
    h = F.md5(F.concat(F.lit("s|"), F.col("t")))
    if bits <= 32:
        words = [(0, bits, F.conv(F.substring(h, 1, bits // 4), 16, 10).cast("long"))]
    else:
        words = [
            (0, 32, F.conv(F.substring(h, 1, 8), 16, 10).cast("long")),
            (32, 32, F.conv(F.substring(h, 9, 8), 16, 10).cast("long")),
        ]
    packed = exploded.select(
        F.col(id_col), *[w.alias(f"w{i}") for i, (_off, _wd, w) in enumerate(words)]
    )

    def bit_sum(j: int):
        for i, (off, wd, _w) in enumerate(words):
            if off <= j < off + wd:
                bit = F.shiftright(F.col(f"w{i}"), off + wd - 1 - j).bitwiseAND(F.lit(1))
                return bit * 2 - 1
        raise AssertionError(f"bit {j} outside signature width {bits}")

    agg = packed.groupBy(id_col).agg(
        *[F.sum(bit_sum(j)).alias(f"b{j}") for j in range(bits)]
    )
    sig_bits = [
        F.shiftleft(
            F.when(F.col(f"b{j}") > 0, F.lit(1)).otherwise(F.lit(0)).cast("long"),
            bits - 1 - j,
        )
        for j in range(bits)
    ]
    recomposed = sig_bits[0]
    for b in sig_bits[1:]:
        recomposed = recomposed.bitwiseOR(b)
    return agg.select(F.col(id_col), recomposed.alias("simhash"))


def simhash_band_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs: banded candidate generation + exact Hamming
    verify — the equality-join scale path the ``simhash64`` docstring
    promises (round 5; previously documented but not built).

    Split each ``bits``-wide signature into ``bands`` equal chunks and
    equi-join on (band_index, band_value): by pigeonhole, any pair with
    Hamming distance < ``bands`` shares at least one exact band, so recall
    is total for distances up to ``bands - 1`` (and probabilistic above).
    Candidates are verified exactly with ``bit_count(xor)`` and filtered to
    ``hamming <= max_hamming``.

    Scale shape: one explode (×bands) + one shuffle equi-join on the band
    key; pair fan-out is bounded by band-bucket collisions, never n².
    Bucket cardinality is 2^(bits/bands) per band — at corpus scale run
    ``simhash64(..., bits=64)`` with the default 4 bands = 16-bit bands
    (65 536 buckets per band; executable and pytest-pinned since round 7:
    the sign bit rides the shift/mask arithmetic, ``bit_count(xor)``
    Hamming is sign-agnostic).  The 32-bit registry default matches the
    oracle-portable signature domain (a 64-bit recomposition in SQL would
    need BIGINT's sign bit, which portable arithmetic recomposition can't
    express — so the 64-bit path is pinned by the prefix-property and
    pigeonhole tests instead of an oracle query).

    Input: ``(id_col, simhash)`` from :func:`simhash64`.  Output:
    (id_a, id_b, hamming), de-mirrored with ``id_a < id_b``.
    """
    width = bits // bands
    mask = (1 << width) - 1
    band_arr = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_index"),
                F.shiftright(F.col("simhash"), bits - (b + 1) * width)
                .bitwiseAND(F.lit(mask))
                .alias("band_value"),
            )
            for b in range(bands)
        ]
    )
    e = sigs.select(F.col(id_col), F.col("simhash"), F.explode(band_arr).alias("band")).select(
        id_col,
        "simhash",
        F.col("band.band_index").alias("band_index"),
        F.col("band.band_value").alias("band_value"),
    )
    a, b = e.alias("a"), e.alias("b")
    joined = a.join(
        b,
        (F.col("a.band_index") == F.col("b.band_index"))
        & (F.col("a.band_value") == F.col("b.band_value"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    )
    # A pair sharing several bands must appear once.  Instead of
    # `.distinct()` over the candidate fire-hose (a full extra Exchange +
    # Aggregate on the widest frame in the DAG), keep only the FIRST
    # matching band: band k of the pair matches iff band k of
    # sh_a XOR sh_b is zero, so "some earlier band matched" is a cheap
    # shift/mask predicate evaluable inside the join's output projection.
    # Emitting each pair at exactly its first matching band is
    # set-identical to distinct (verified sym-diff 0 at sf0.1).
    xor = F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))

    def band_xor(k: int):
        return F.shiftright(xor, bits - (k + 1) * width).bitwiseAND(F.lit(mask))

    earlier_match = F.lit(False)
    for k in range(bands - 1):
        earlier_match = earlier_match | (
            (F.lit(k) < F.col("a.band_index")) & (band_xor(k) == 0)
        )
    ham = F.bit_count(xor)
    return (
        joined.filter(~earlier_match & (ham <= max_hamming))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            ham.cast("long").alias("hamming"),
        )
    )


def pair_pagerank(
    pairs: DataFrame,
    iters: int = 2,
    scale: int = 1_000_000,
    damp_num: int = 85,
    damp_den: int = 100,
) -> DataFrame:
    """Fixed-point PageRank over the (undirected) near-dup pair graph —
    the centrality screen on dedup clusters: a document with high rank is a
    hub that near-duplicates MANY others (template/boilerplate epicenter),
    which plain pair counts and component sizes both miss (a long chain and
    a star have the same component size but very different hubs).

    Integer semantics, bit-identical across engines: rank starts at
    ``scale`` per node; each iteration distributes ``pr DIV deg`` along
    every edge and recombines as ``base + damp·Σcontrib DIV damp_den`` with
    ``base = scale·(damp_den−damp_num) DIV damp_den`` — truncate-toward-zero
    division everywhere (Spark ``DIV`` == DuckDB ``//``), sums are exact
    int64 (overflow needs > 10¹² participating nodes).

    Scale shape (the distributed-PageRank canon): per iteration one edge ⋈
    rank equi-join + one dst-keyed agg — shuffles on the node id only, edge
    set never replicated; ``localCheckpoint`` truncates lineage per round
    exactly as :func:`dedup_components` does.  Returns one row per node
    that appears in any pair: (node, deg, pr).
    """
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionAll(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
        .localCheckpoint()
    )
    deg = edges.groupBy("src").agg(F.count("*").cast("long").alias("deg")).localCheckpoint()
    base = scale * (damp_den - damp_num) // damp_den
    pr = deg.select(F.col("src").alias("node"), F.lit(scale).cast("long").alias("pr"))
    for _ in range(iters):
        contrib = (
            edges.join(deg, "src")
            .join(pr.select(F.col("node").alias("src"), "pr"), "src")
            .select("dst", F.expr("pr DIV deg").alias("c"))
        )
        pr = (
            contrib.groupBy("dst")
            .agg(F.sum("c").cast("long").alias("s"))
            .select(
                F.col("dst").alias("node"),
                F.expr(f"CAST({base} + {damp_num} * s DIV {damp_den} AS BIGINT)").alias("pr"),
            )
            .localCheckpoint()
        )
    return pr.join(deg.select(F.col("src").alias("node"), "deg"), "node").select("node", "deg", "pr")
