"""Text-analysis and deduplication queries over ``documents``.

Oracle-checked versions of the training-data-pipeline operators: token
statistics, quality scoring, language ID, exact dedup, MinHash+LSH near-dup
pairs, and SimHash signatures.  All ratios are emitted as **integer ppm**
(``x * 1_000_000 DIV denominator``) — integer division is the one rounding
rule both engines share bit-for-bit; decimal casts of nonterminating
fractions are not (half-up vs half-even at the cut digit).

The MinHash/SimHash SQL oracles are generated programmatically so the hash
layouts (seed prefixes, band widths, bit order) stay provably in lockstep
with the Spark operators in ``operators.dedup``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import (
    PUNCT_PATTERN,
    PUNCT_PATTERN_SQL,
    STOPWORDS,
    TOKEN_PATTERN,
    fingerprint,
    lang_id,
    n_tokens,
    regex_token_count,
    shingles,
    stopword_hits,
    tokens,
)
from ..operators.dedup import (
    dedup_assignments,
    dedup_assignments_cc,
    exact_dedup,
    minhash_lsh_candidates,
    minhash_signatures,
    simhash64,
)
from ..sources.tables import load_table, table_path
from . import memo

NUM_HASHES = 8
BAND_SIZE = 2
SHINGLE_K = 3
SIMHASH_BITS = 16
JACCARD_PPM_THRESHOLD = 100_000  # 0.1


# ---------------------------------------------------------------------------
# token statistics
# ---------------------------------------------------------------------------

def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    total_chars = F.length(F.regexp_replace(F.col("text"), r"\s", ""))
    return d.select(
        "doc_id",
        n_tokens(F.col("text")).alias("n_tok"),
        regex_token_count(F.col("text")).alias("n_regex_tok"),
        total_chars.alias("token_chars"),
        F.expr(
            "CAST(length(regexp_replace(text, '\\\\s', '')) * 100 DIV "
            "size(split(trim(text), '\\\\s+')) AS BIGINT)"
        ).alias("avg_len_centi"),
    )


TOKEN_STATS_SQL = f"""
SELECT doc_id,
       len(string_split_regex(trim(text), '\\s+')) AS n_tok,
       len(regexp_extract_all(text, '{TOKEN_PATTERN}')) AS n_regex_tok,
       length(regexp_replace(text, '\\s', '', 'g')) AS token_chars,
       CAST(length(regexp_replace(text, '\\s', '', 'g')) * 100 // len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS avg_len_centi
FROM documents
"""


# ---------------------------------------------------------------------------
# quality scoring (ppm domain)
# ---------------------------------------------------------------------------

def with_quality_ppm(d: DataFrame, text_col: str = "text") -> DataFrame:
    """Append the integer-ppm quality columns to any frame with a text
    column — the ONE definition of the quality formula, shared by the
    ``doc_quality_ppm`` registry query, the curation pipeline's quality
    gate, and the streaming corpus store's ingest filter.  Adds ``n_tok``,
    ``n_stop``, ``n_punct``, ``stop_ppm``, ``punct_ppm``, ``quality_ppm``
    (plus the intermediates ``n_chars``/``len_term_ppm``)."""
    text = F.col(text_col)
    n = n_tokens(text)
    stop = stopword_hits(text, "en")
    punct = F.length(text) - F.length(F.regexp_replace(text, PUNCT_PATTERN, ""))
    return (
        d.withColumn("n_tok", n)
        .withColumn("n_stop", stop)
        .withColumn("n_punct", punct)
        .withColumn("n_chars", F.length(text))
        .withColumn("stop_ppm", F.expr("CAST(n_stop * 1000000 DIV n_tok AS BIGINT)"))
        .withColumn("punct_ppm", F.expr("CAST(n_punct * 1000000 DIV n_chars AS BIGINT)"))
        .withColumn("len_term_ppm", F.least(F.col("n_tok").cast("long") * 10_000, F.lit(1_000_000).cast("long")))
        .withColumn(
            "quality_ppm",
            F.expr("CAST((4 * len_term_ppm + 4 * stop_ppm + 2 * (1000000 - punct_ppm)) DIV 10 AS BIGINT)"),
        )
    )


def quality_ppm(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    scored = with_quality_ppm(d)
    return scored.select("doc_id", "n_tok", "n_stop", "n_punct", "stop_ppm", "punct_ppm", "quality_ppm")


_EN = ", ".join(f"'{w}'" for w in STOPWORDS["en"])

QUALITY_SQL = f"""
WITH base AS (
  SELECT doc_id,
         len(string_split_regex(trim(text), '\\s+')) AS n_tok,
         len(list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x IN ({_EN}))) AS n_stop,
         length(text) - length(regexp_replace(text, '{PUNCT_PATTERN_SQL}', '', 'g')) AS n_punct,
         length(text) AS n_chars
  FROM documents
), ppm AS (
  SELECT doc_id, n_tok, n_stop, n_punct,
         CAST(n_stop * 1000000 // n_tok AS BIGINT) AS stop_ppm,
         CAST(n_punct * 1000000 // n_chars AS BIGINT) AS punct_ppm,
         least(CAST(n_tok AS BIGINT) * 10000, 1000000) AS len_term_ppm
  FROM base
)
SELECT doc_id, n_tok, n_stop, n_punct, stop_ppm, punct_ppm,
       CAST((4 * len_term_ppm + 4 * stop_ppm + 2 * (1000000 - punct_ppm)) // 10 AS BIGINT) AS quality_ppm
FROM ppm
"""


# ---------------------------------------------------------------------------
# language ID
# ---------------------------------------------------------------------------

def lang_id_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", "lang", lang_id(F.col("text")).alias("lang_pred"))


def _lang_pred_sql_parts() -> tuple[str, str]:
    """(per-language hit expressions, argmax CASE chain) — ONE definition of
    the SQL prediction mirror (including the reverse-code tie-break that
    must match functions.text.lang_id), shared by the per-doc query and the
    confusion matrix."""
    hits = ",\n         ".join(
        f"len(list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x IN ({', '.join(chr(39) + w + chr(39) for w in STOPWORDS[lang])}))) AS h_{lang}"
        for lang in STOPWORDS
    )
    langs_desc = sorted(STOPWORDS, reverse=True)
    best = f"greatest({', '.join('h_' + lang for lang in STOPWORDS)})"
    case = " ".join(f"WHEN h_{lang} = {best} THEN '{lang}'" for lang in langs_desc)
    return hits, case


def _lang_sql() -> str:
    hits, case = _lang_pred_sql_parts()
    return f"""
WITH h AS (
  SELECT doc_id, lang,
         {hits}
  FROM documents
)
SELECT doc_id, lang, CASE {case} END AS lang_pred FROM h
"""


LANG_SQL = _lang_sql()


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_dedup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(load_table(spark, sf_dir, "documents"))


EXACT_DEDUP_SQL = """
SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
       MIN(doc_id) AS keep_id, COUNT(*) AS dup_count
FROM documents GROUP BY 1
"""


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup pairs
# ---------------------------------------------------------------------------

def _exact_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs with the EXACT shingle Jaccard — the ONE
    definition of the banding + exact-verify stage, shared by
    ``dedup_minhash_lsh_pairs`` (thresholded) and ``dedup_threshold_sweep``
    (the full curve) so the two can never band or score differently (the
    r10 review caught the sweep's first hand-copy dropping the int64 cast
    on ``size()`` — a latent int32 overflow past ~2148 shared shingles).

    materialize=False on the signatures: a lazily-returned registry query
    can never unpersist, so a cache() here would pin one frame per
    invocation (the pq_train_codebook leak class) — pay the shingle
    recompute instead."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs, num_hashes=NUM_HASHES, shingle_k=SHINGLE_K, materialize=False)
    cands = minhash_lsh_candidates(sigs, num_hashes=NUM_HASHES, band_size=BAND_SIZE)
    sh = sigs.select("doc_id", "shingles")
    return (
        cands.join(sh.withColumnRenamed("doc_id", "id_a").withColumnRenamed("shingles", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("doc_id", "id_b").withColumnRenamed("shingles", "sh_b"), "id_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")).cast("long"))
        .withColumn("uni", F.size(F.array_union("sh_a", "sh_b")).cast("long"))
        .withColumn("jaccard_ppm", F.expr("CAST(inter * 1000000 DIV uni AS BIGINT)"))
    )


def minhash_pairs_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    j = _exact_jaccard_pairs(spark, sf_dir)
    return j.filter(F.col("jaccard_ppm") >= JACCARD_PPM_THRESHOLD).select(
        "id_a", "id_b", "inter", "uni", "jaccard_ppm"
    )


_MINHASH_KNOBS = (NUM_HASHES, SHINGLE_K, BAND_SIZE, JACCARD_PPM_THRESHOLD)


def minhash_pair_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The thresholded MinHash pair stage, built once per key through the
    build-time memo: ``dedup_cluster_size_hist``, ``dedup_rate_by_source``
    and ``dedup_pair_pagerank`` replay one ~256-row pair set (sf0.1) instead
    of each re-running the shingle → signature → band join → exact-Jaccard
    DAG.  ``dedup_minhash_lsh_pairs`` itself returns this frame verbatim and
    stays a live plan."""
    return memo.frame(
        spark,
        "mhpairs",
        _MINHASH_KNOBS,
        [table_path(sf_dir, "documents")],
        lambda: minhash_pairs_query(spark, sf_dir),
        max_rows=memo.MAX_ROWS,
    )


def minhash_closure_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The transitive-closure component map (id, comp) over the minhash pair
    stage: the iterative min-label propagation runs once per key."""
    from ..operators.dedup import dedup_components

    return memo.frame(
        spark,
        "mhcomp",
        _MINHASH_KNOBS,
        [table_path(sf_dir, "documents")],
        lambda: dedup_components(minhash_pair_stage(spark, sf_dir).select("id_a", "id_b")),
        max_rows=memo.MAX_ROWS,
    )


def _shingle_sql_expr() -> str:
    return (
        "list_sort(list_distinct(CASE WHEN len(t) >= 3 THEN "
        "list_transform(range(len(t)-2), i -> array_to_string(list_slice(t, i+1, i+3), ' ')) "
        "ELSE [array_to_string(t, ' ')] END))"
    )


def _minhash_cand_ctes() -> str:
    """The shared tk→shn→sg→bands→cand CTE chain (signature layout, band
    stride, candidate join) — ONE definition so the pair query and the
    estimator-error audit can never band differently."""
    sig_list = ", ".join(
        f"list_min(list_transform(sh, s -> md5('{i}|' || s)))" for i in range(NUM_HASHES)
    )
    n_bands = NUM_HASHES // BAND_SIZE
    band_expr = " || ".join(f"sig[{BAND_SIZE}*b+{j + 1}]" for j in range(BAND_SIZE))
    return f"""tk AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t FROM documents
), shn AS (
  SELECT doc_id, {_shingle_sql_expr()} AS sh FROM tk
), sg AS (
  SELECT doc_id, sh, [{sig_list}] AS sig FROM shn
), bands AS (
  SELECT doc_id, b, {band_expr} AS bv
  FROM sg, unnest(range({n_bands})) AS u(b)
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
  FROM bands a JOIN bands b2 ON a.b = b2.b AND a.bv = b2.bv AND a.doc_id < b2.doc_id
)"""


def _minhash_sql() -> str:
    return f"""
WITH {_minhash_cand_ctes()}, pairs AS (
  SELECT id_a, id_b,
         CAST(len(list_intersect(x.sh, y.sh)) AS BIGINT) AS inter,
         CAST(len(list_distinct(list_concat(x.sh, y.sh))) AS BIGINT) AS uni
  FROM cand JOIN sg x ON x.doc_id = id_a JOIN sg y ON y.doc_id = id_b
)
SELECT id_a, id_b, inter, uni, CAST(inter * 1000000 // uni AS BIGINT) AS jaccard_ppm
FROM pairs WHERE inter * 1000000 // uni >= {JACCARD_PPM_THRESHOLD}
"""


MINHASH_SQL = _minhash_sql()


# ---------------------------------------------------------------------------
# SimHash signatures
# ---------------------------------------------------------------------------

def simhash_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash64(load_table(spark, sf_dir, "documents"), bits=SIMHASH_BITS)


def _simhash_ctes(bits: int) -> str:
    """CTE chain ``tok, bitsums, sig`` recomputing simhash64(bits) in SQL —
    shared by the signature oracle and the banded-pairs oracle."""
    bit_sums = []
    for j in range(bits):
        di, bd = j // 4 + 1, 3 - (j % 4)
        bit_sums.append(
            f"SUM(2 * (((strpos('0123456789abcdef', substr(md5('s|' || t), {di}, 1)) - 1) >> {bd}) & 1) - 1) AS b{j}"
        )
    recompose = " + ".join(
        f"CASE WHEN b{j} > 0 THEN {1 << (bits - 1 - j)} ELSE 0 END" for j in range(bits)
    )
    return f"""tok AS (
  SELECT doc_id, unnest(list_distinct(string_split_regex(trim(lower(text)), '\\s+'))) AS t
  FROM documents
), bitsums AS (
  SELECT doc_id, {', '.join(bit_sums)}
  FROM tok GROUP BY doc_id
), sig AS (
  SELECT doc_id, CAST({recompose} AS BIGINT) AS simhash FROM bitsums
)"""


SIMHASH_SQL = f"WITH {_simhash_ctes(SIMHASH_BITS)}\nSELECT doc_id, simhash FROM sig"

def char_ngram_jaccard_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-3-gram Jaccard over the MinHash-LSH candidate pairs —
    the n-gram flavor of near-dup verification (shingle flavor is
    ``dedup_minhash_lsh_pairs``).  Grams are built JVM-side from a plain
    column reference (no re-evaluation blowup)."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs, num_hashes=NUM_HASHES, shingle_k=SHINGLE_K).cache()
    cands = minhash_lsh_candidates(sigs, num_hashes=NUM_HASHES, band_size=BAND_SIZE)

    text = F.lower(F.trim(F.col("text")))
    grams = F.array_sort(
        F.array_distinct(
            F.when(
                F.length(text) >= 3,
                F.transform(
                    F.sequence(F.lit(1), F.length(text) - 2),
                    lambda i: F.substring(text, i.cast("int"), F.lit(3)),
                ),
            ).otherwise(F.array(text))
        )
    )
    g = docs.select("doc_id", grams.alias("grams")).cache()
    j = (
        cands.join(g.withColumnRenamed("doc_id", "id_a").withColumnRenamed("grams", "g_a"), "id_a")
        .join(g.withColumnRenamed("doc_id", "id_b").withColumnRenamed("grams", "g_b"), "id_b")
        .withColumn("inter", F.size(F.array_intersect("g_a", "g_b")).cast("long"))
        .withColumn("uni", F.size(F.array_union("g_a", "g_b")).cast("long"))
        .withColumn("cjaccard_ppm", F.expr("CAST(inter * 1000000 DIV uni AS BIGINT)"))
    )
    return j.select("id_a", "id_b", "inter", "uni", "cjaccard_ppm")


def _char_ngram_sql() -> str:
    sig_list = ", ".join(
        f"list_min(list_transform(sh, s -> md5('{i}|' || s)))" for i in range(NUM_HASHES)
    )
    n_bands = NUM_HASHES // BAND_SIZE
    grams = (
        "list_sort(list_distinct(CASE WHEN length(lower(trim(text))) >= 3 THEN "
        "list_transform(range(length(lower(trim(text))) - 2), i -> substr(lower(trim(text)), i+1, 3)) "
        "ELSE [lower(trim(text))] END))"
    )
    return f"""
WITH tk AS (
  SELECT doc_id, text, string_split_regex(trim(lower(text)), '\\s+') AS t FROM documents
), shn AS (
  SELECT doc_id, text, {_shingle_sql_expr()} AS sh FROM tk
), sg AS (
  SELECT doc_id, [{sig_list}] AS sig FROM shn
), bands AS (
  SELECT doc_id, b, sig[2*b+1] || sig[2*b+2] AS bv
  FROM sg, unnest(range({n_bands})) AS u(b)
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
  FROM bands a JOIN bands b2 ON a.b = b2.b AND a.bv = b2.bv AND a.doc_id < b2.doc_id
), g AS (
  SELECT doc_id, {grams} AS grams FROM documents
)
SELECT id_a, id_b,
       CAST(len(list_intersect(x.grams, y.grams)) AS BIGINT) AS inter,
       CAST(len(list_distinct(list_concat(x.grams, y.grams))) AS BIGINT) AS uni,
       CAST(CAST(len(list_intersect(x.grams, y.grams)) AS BIGINT) * 1000000 // len(list_distinct(list_concat(x.grams, y.grams))) AS BIGINT) AS cjaccard_ppm
FROM cand JOIN g x ON x.doc_id = id_a JOIN g y ON y.doc_id = id_b
"""


def dedup_keep_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup decision: minhash → LSH → Jaccard ≥ threshold →
    keep/drop per document (keep-lowest-id rule).  The pairs come from the
    build-time memo (:func:`minhash_pair_stage`); the corpus-sized docs
    join stays live."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_pair_stage(spark, sf_dir)
    return dedup_assignments(docs, pairs)


def _dedup_keep_sql() -> str:
    # reuse the minhash pair SQL as a CTE, then apply the keep-lowest-id rule
    pair_sql = _minhash_sql().strip().rstrip()
    return f"""
WITH pairs AS ({pair_sql})
SELECT d.doc_id,
       COALESCE(dr.is_dup, FALSE) AS is_duplicate
FROM documents d
LEFT JOIN (SELECT DISTINCT id_b AS doc_id, TRUE AS is_dup FROM pairs) dr USING (doc_id)
"""


def dedup_cc_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup assignment by transitive closure: minhash → LSH → Jaccard
    pairs → iterative connected components → one survivor (the minimum id)
    per near-dup CLUSTER, not per edge.  The Spark side is the min-label
    propagation loop of ``operators.dedup.dedup_components``; the oracle
    recomputes the closure with a recursive CTE.

    The pair stage and the closure come from the build-time memo
    (:func:`minhash_pair_stage` / :func:`minhash_closure_stage`): the three
    closure consumers (this, ``dedup_cluster_size_hist``,
    ``dedup_rate_by_source``) replay one computed component map instead of
    three full minhash DAGs and three propagation loops; each still
    performs its own corpus-sized docs join and aggregation, so the bench
    rows stay real engine plans."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup_assignments_cc(docs, None, components=minhash_closure_stage(spark, sf_dir))


def _dedup_cc_sql() -> str:
    # same pattern as _dedup_keep_sql: the full minhash-pair query nests as
    # one CTE; the transitive closure is a recursive CTE over its edges
    pair_sql = _minhash_sql().strip()
    return f"""
WITH RECURSIVE np AS ({pair_sql}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM np
  UNION
  SELECT id_b, id_a FROM np
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
comp AS (
  SELECT src AS doc_id, LEAST(src, MIN(dst)) AS keep_id FROM reach GROUP BY src
)
SELECT d.doc_id,
       COALESCE(c.keep_id, d.doc_id) AS keep_id,
       COALESCE(c.keep_id, d.doc_id) <> d.doc_id AS is_duplicate
FROM documents d LEFT JOIN comp c USING (doc_id)
"""


# ---------------------------------------------------------------------------
# Repetition ratio + vocabulary stats (Gopher-style quality rules)
# ---------------------------------------------------------------------------

REP_K = 5  # word k-gram size for the repetition rule
TOP_TOKENS_K = 10


def repetition_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document within-document repetition: duplicate word 5-grams per
    million grams.  Zero-shuffle — pure column expressions per row."""
    from ..functions.text import repetition_ppm, word_kgrams

    docs = load_table(spark, sf_dir, "documents")
    g = word_kgrams(F.col("text"), REP_K)
    return docs.select(
        "doc_id",
        F.size(g).cast("long").alias("n_grams"),
        F.size(F.array_distinct(g)).cast("long").alias("distinct_grams"),
        repetition_ppm(F.col("text"), REP_K).alias("rep_ppm"),
    )


def _repetition_sql() -> str:
    return f"""
WITH tk AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t FROM documents
), g AS (
  SELECT doc_id,
         CASE WHEN len(t) >= {REP_K}
              THEN list_transform(range(len(t) - {REP_K - 1}),
                                  i -> array_to_string(list_slice(t, i + 1, i + {REP_K}), ' '))
              ELSE [array_to_string(t, ' ')] END AS grams
  FROM tk
)
SELECT doc_id,
       CAST(len(grams) AS BIGINT) AS n_grams,
       CAST(len(list_distinct(grams)) AS BIGINT) AS distinct_grams,
       CAST((len(grams) - len(list_distinct(grams))) * 1000000 // len(grams) AS BIGINT) AS rep_ppm
FROM g
"""


def top_tokens_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TOP_TOKENS_K} tokens per source — vocabulary stats for tokenizer
    training.  Explode → two-phase hash count (map-side partials) → per-group
    top-k window; with a group cardinality this is WindowGroupLimit-eligible,
    so executors keep only k rows per source before the final sort."""
    from pyspark.sql import Window

    from ..functions.text import tokens as tok

    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select("source", F.explode(tok(F.lower(F.trim(F.col("text"))))).alias("token"))
        .groupBy("source", "token")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("source").orderBy(F.desc("n"), F.asc("token"))
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_TOKENS_K)
        .select("source", "token", "n", "rank")
    )


def _top_tokens_sql() -> str:
    return f"""
WITH tok AS (
  SELECT source, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
  FROM documents
), counts AS (
  SELECT source, token, COUNT(*) AS n FROM tok GROUP BY source, token
)
SELECT source, token, n, rank FROM (
  SELECT source, token, n,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY n DESC, token ASC) AS rank
  FROM counts
) WHERE rank <= {TOP_TOKENS_K}
"""


# ---------------------------------------------------------------------------
# Deterministic stratified sampling (corpus mix rebalancing)
# ---------------------------------------------------------------------------


def _stratified_rate_u() -> tuple:
    """The ONE definition of the stratified sampler's (rate_pct, u)
    column pair — shared by the registry query and the curation
    pipeline's inlined keep-filter (r14) so the two can never derive
    different samples."""
    idx = F.regexp_extract(F.col("source"), r"(\d+)$", 1).cast("int")
    rate = (F.lit(20) + (idx % 20) * 3).cast("long")
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("samp|"), F.col("doc_id").cast("string"))), 1, 8),
            16,
            10,
        ).cast("long")
        % 100
    )
    return rate, u


def stratified_keep_pred():
    """Row-local keep predicate of the stratified sampler (needs
    ``doc_id`` and ``source`` columns in scope)."""
    rate, u = _stratified_rate_u()
    return u < rate


def stratified_sample_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-based stratified downsampling — rebalancing an over-represented
    source mix is a standard training-corpus step, and Spark's ``sampleBy``
    is seeded-random (unreproducible across engines/partitionings).  The
    deterministic form keeps a document iff a uniform hash of its id falls
    under its stratum's rate: same inputs → same sample, on any engine, at
    any parallelism.  Per-source rates here derive from the source index
    (20–77%); real pipelines pass a rate table.  Zero-shuffle row filter."""
    docs = load_table(spark, sf_dir, "documents")
    rate, u = _stratified_rate_u()
    return (
        docs.select("doc_id", "source", rate.alias("rate_pct"), u.alias("u"))
        .filter(F.col("u") < F.col("rate_pct"))
        .select("doc_id", "source", "rate_pct")
    )


STRATIFIED_SAMPLE_SQL = r"""
WITH d AS (
  SELECT doc_id, source,
         CAST(20 + (TRY_CAST(regexp_extract(source, '(\d+)$', 1) AS INT) % 20) * 3 AS BIGINT) AS rate_pct,
         CAST('0x' || substr(md5('samp|' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 AS u
  FROM documents
)
SELECT doc_id, source, rate_pct FROM d WHERE u < rate_pct
"""


# ---------------------------------------------------------------------------
# Winnowing document fingerprints (rolling-hash family)
# ---------------------------------------------------------------------------

WINNOW_WINDOW = 4  # consecutive shingle hashes per winnowing window


def _winnow_fps(docs: DataFrame) -> DataFrame:
    """The shared winnow front — distinct (doc_id, fp) window-minimum
    fingerprints (tokenize → ordered 3-gram → md5 → per-doc positional
    window min → distinct).  ONE definition for
    ``doc_winnow_fingerprint`` / ``dedup_winnow_span_pairs`` /
    ``doc_span_dup_coverage`` (r12 review: the coverage query's
    pair-consistency guarantee was enforced by copy-paste before; now the
    three queries cannot shingle or window differently by construction).
    Mirrored verbatim by the SQL side's ``_WINNOW_CTES``."""
    toks = docs.select("doc_id", F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("t"))
    sh = toks.select(
        "doc_id",
        F.when(
            F.size("t") >= 3,
            F.expr("transform(sequence(0, size(t)-3), i -> array_join(slice(t, i+1, 3), ' '))"),
        )
        .otherwise(F.array(F.array_join("t", " ")))
        .alias("sh"),
    )
    # r14 (guide §2.4): the positional window min is computed INSIDE the
    # per-doc array (slice + array_min per position) instead of exploding
    # the shingle-hash table through a doc_id-partitioned window — the old
    # shape shuffled and sorted every (doc, pos) row just to look W-1 rows
    # ahead within its own document, then paid a second exchange for the
    # row-level distinct.  array_distinct within the doc yields the same
    # (doc_id, fp) row set (fps are doc-scoped), so the whole front is now
    # map-side: tokenize → hash → slide → dedup → one narrow explode.
    hv = F.expr("transform(sh, s -> md5(s))")
    fps = F.expr(
        f"array_distinct(transform(sequence(0, size(_hv)-1), "
        f"i -> array_min(slice(_hv, i+1, {WINNOW_WINDOW}))))"
    )
    return (
        sh.select("doc_id", hv.alias("_hv"))
        .select("doc_id", F.explode(fps).alias("fp"))
    )


# the SQL twin of _winnow_fps: tk → sh → h → wmin → d (distinct (doc_id, fp))
_WINNOW_CTES = f"""tk AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t FROM documents
), sh AS (
  SELECT doc_id, i AS pos,
         CASE WHEN len(t) >= 3 THEN array_to_string(list_slice(t, i+1, i+3), ' ')
              ELSE array_to_string(t, ' ') END AS s
  FROM tk, unnest(range(CASE WHEN len(t) >= 3 THEN len(t)-2 ELSE 1 END)) AS u(i)
), h AS (
  SELECT doc_id, pos, md5(s) AS hv FROM sh
), wmin AS (
  SELECT doc_id, min(hv) OVER (PARTITION BY doc_id ORDER BY pos
                               ROWS BETWEEN CURRENT ROW AND {WINNOW_WINDOW - 1} FOLLOWING) AS fp
  FROM h
), d AS (
  SELECT DISTINCT doc_id, fp FROM wmin
)"""


def winnow_fingerprint_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting by winnowing (the rolling-hash scheme of
    Schleimer/Wilkerson/Aiken, SIGMOD'03): hash every ORDERED word 3-gram,
    slide a window of ``WINNOW_WINDOW`` consecutive hashes, keep each
    window's minimum, and fingerprint the document with the distinct set of
    window minima.  Near-identical documents share most fingerprints even
    under local edits — the guarantee MinHash doesn't give (it is
    order-blind).

    All column expressions: split → ordered-shingle transform → posexplode →
    md5 → windowed min over (doc, position) → distinct → per-doc aggregate
    (the shared ``_winnow_fps`` front).  md5 hex compares lexicographically
    == numerically (the engine's shared-hash rule), so MIN over hashes is
    engine-agnostic.
    """
    fps = _winnow_fps(load_table(spark, sf_dir, "documents"))
    return fps.groupBy("doc_id").agg(
        F.count("*").alias("n_fingerprints"),
        F.min("fp").alias("min_fp"),
        F.max("fp").alias("max_fp"),
    )


WINNOW_SQL = f"""
WITH {_WINNOW_CTES}
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fingerprints, MIN(fp) AS min_fp, MAX(fp) AS max_fp
FROM d GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) distinct-count sketch
# ---------------------------------------------------------------------------

KMV_K = 16  # small vocab in the fixture (~31 distinct/source) — k=16 keeps the estimator engaged
_KMV_HEX_DIGITS = 14  # hash fraction resolution: 16^14 ≈ 7.2e16
_KMV_SCALE = 16 ** _KMV_HEX_DIGITS  # (k-1)*SCALE ≈ 4.5e18 < int64 max


def kmv_distinct_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count sketch per source (the mergeable-sketch family,
    Bar-Yossef et al. / DataSketches theta): keep the k smallest hash
    values of the distinct tokens; estimate distinct ≈ (k−1)/R where R is
    the k-th minimum as a fraction of hash space.

    Everything here is DETERMINISTIC — the sketch is an exact function of
    the data (md5, the shared hash domain) and the estimate is integer
    arithmetic on it — so unlike approx_count_distinct (whose HLL buckets
    are engine-private) this sketch hash-checks against DuckDB exactly.
    ``exact_distinct`` rides along so the estimate's error is visible in
    the output itself.  Sketches merge by unioning hash sets and re-taking
    the k smallest — the property that makes them partial-aggregate-shaped
    at 100 TB.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("tok")
    )
    hashes = toks.select(
        "source", F.conv(F.substring(F.md5("tok"), 1, _KMV_HEX_DIGITS), 16, 10).cast("long").alias("hv")
    ).distinct()
    # one agg after the window does everything: max(rn) = exact distinct,
    # the k-th min and k_used come from the rn<=k slice — and since the
    # window and the groupBy share the `source` partitioning, the agg adds
    # no extra Exchange
    w = Window.partitionBy("source").orderBy("hv")
    ranked = hashes.withColumn("rn", F.row_number().over(w))
    in_k = F.col("rn") <= KMV_K
    stats = ranked.groupBy("source").agg(
        F.max("rn").alias("exact_distinct"),
        F.max(F.when(in_k, F.col("hv"))).alias("kth_min"),
        F.sum(F.when(in_k, 1).otherwise(0)).alias("k_used"),
    )
    est = (
        F.when(F.col("k_used") < KMV_K, F.col("exact_distinct"))  # fewer than k values ⇒ exact
        .otherwise(F.expr(f"(k_used - 1) * CAST({_KMV_SCALE} AS BIGINT) div kth_min"))
        .cast("long")
    )
    return stats.select(
        "source", "kth_min", F.col("exact_distinct").cast("long").alias("exact_distinct"), est.alias("distinct_est")
    )


KMV_SQL = f"""
WITH toks AS (
  SELECT source, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok FROM documents
), hx AS (
  SELECT DISTINCT source,
         CAST('0x' || substr(md5(tok), 1, {_KMV_HEX_DIGITS}) AS BIGINT) AS hv
  FROM toks
), ranked AS (
  SELECT source, hv, row_number() OVER (PARTITION BY source ORDER BY hv) AS rn FROM hx
), sk AS (
  SELECT source, MAX(hv) AS kth_min, COUNT(*) AS k_used FROM ranked WHERE rn <= {KMV_K} GROUP BY source
), ex AS (
  SELECT source, COUNT(*) AS exact_distinct FROM hx GROUP BY source
)
SELECT sk.source, kth_min, CAST(exact_distinct AS BIGINT) AS exact_distinct,
       CAST(CASE WHEN k_used < {KMV_K} THEN exact_distinct
                 ELSE (k_used - 1) * CAST({_KMV_SCALE} AS BIGINT) // kth_min END AS BIGINT) AS distinct_est
FROM sk JOIN ex USING (source)
"""


QUERIES = {
    "doc_token_stats": (token_stats, TOKEN_STATS_SQL),
    "doc_winnow_fingerprint": (winnow_fingerprint_query, WINNOW_SQL),
    "doc_kmv_distinct": (kmv_distinct_query, KMV_SQL),
    "dedup_minhash_keep": (dedup_keep_query, _dedup_keep_sql()),
    "dedup_connected_components": (dedup_cc_query, _dedup_cc_sql()),
    "dedup_char_ngram_jaccard": (char_ngram_jaccard_query, _char_ngram_sql()),
    "doc_quality_ppm": (quality_ppm, QUALITY_SQL),
    "doc_repetition_ppm": (repetition_query, _repetition_sql()),
    "doc_stratified_sample": (stratified_sample_query, STRATIFIED_SAMPLE_SQL),
    "doc_top_tokens": (top_tokens_query, _top_tokens_sql()),
    "doc_lang_id": (lang_id_query, LANG_SQL),
    "dedup_exact": (exact_dedup_query, EXACT_DEDUP_SQL),
    "dedup_minhash_lsh_pairs": (minhash_pairs_query, MINHASH_SQL),
    "dedup_simhash": (simhash_query, SIMHASH_SQL),
}


# ---------------------------------------------------------------------------
# SimHash banded near-dup pairs (round 5)
# ---------------------------------------------------------------------------

SIMHASH_PAIR_BITS = 32  # oracle-portable recomposition domain (sign-bit-free)
SIMHASH_PAIR_BANDS = 4
SIMHASH_MAX_HAMMING = 3


def simhash_pairs_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded SimHash near-dup pairs over documents: 32-bit signatures →
    4 × 8-bit band equi-join → exact ``bit_count(xor)`` Hamming verify
    (``operators.dedup.simhash_band_pairs``).  Pigeonhole gives total
    recall for Hamming < 4; at corpus scale the same shape runs with
    64-bit signatures and 16-bit bands (65 536 buckets per band)."""
    from ..operators.dedup import simhash_band_pairs

    # cache: the band self-join reads the signature table twice, and without
    # this the tokenize -> 32-column bit-sum aggregate runs twice end-to-end
    # (verified in the captured plan: two full pipelines, no ReusedExchange
    # once one side becomes a BroadcastExchange) — same pattern as the
    # MinHash pipeline's sigs.cache()
    sigs = simhash64(load_table(spark, sf_dir, "documents"), bits=SIMHASH_PAIR_BITS).cache()
    return simhash_band_pairs(
        sigs,
        bits=SIMHASH_PAIR_BITS,
        bands=SIMHASH_PAIR_BANDS,
        max_hamming=SIMHASH_MAX_HAMMING,
    )


def _simhash_pairs_sql() -> str:
    width = SIMHASH_PAIR_BITS // SIMHASH_PAIR_BANDS
    mask = (1 << width) - 1
    band_ids = ", ".join(str(b) for b in range(SIMHASH_PAIR_BANDS))
    return f"""
WITH {_simhash_ctes(SIMHASH_PAIR_BITS)}, bands AS (
  SELECT doc_id, simhash, b AS band_index,
         (simhash >> ({SIMHASH_PAIR_BITS} - (b + 1) * {width})) & {mask} AS band_value
  FROM sig, unnest([{band_ids}]) AS t(b)
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM bands a
JOIN bands b
  ON a.band_index = b.band_index AND a.band_value = b.band_value AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}
"""


QUERIES["dedup_simhash_pairs"] = (simhash_pairs_query, _simhash_pairs_sql())


# ---------------------------------------------------------------------------
# PII scrubbing stats (round 5)
# ---------------------------------------------------------------------------

def pii_stats_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document PII scrub pass: email/URL span counts, a has_pii flag,
    and the md5 of the redacted text — the md5 pins the *replacement*
    semantics cross-engine, not just the counts.  Zero shuffles: pure
    column expressions over one scan (``functions.text`` PII primitives).

    The synthetic corpus contains no real PII, which would make the oracle
    pass VACUOUSLY (a round-5 review catch: an escaping bug in the DuckDB
    pattern went unnoticed because nothing ever matched).  Both engines
    therefore scan the text with a deterministic email+URL suffix appended
    per doc — every row exercises ≥1 match of each pattern, so the counts
    AND the replacement semantics are genuinely pinned."""
    from ..functions.text import pii_email_count, pii_url_count, redact_pii

    d = load_table(spark, sf_dir, "documents")
    scanned = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com via https://ex.org/d/"),
        F.col("doc_id").cast("string"),
    )
    return d.select(
        "doc_id",
        pii_email_count(scanned).cast("long").alias("n_emails"),
        pii_url_count(scanned).cast("long").alias("n_urls"),
        (pii_email_count(scanned) + pii_url_count(scanned) > 0).alias("has_pii"),
        F.md5(redact_pii(scanned)).alias("redacted_md5"),
    )


def _pii_sql() -> str:
    # NB: DuckDB string literals do NOT process backslash escapes — the
    # pattern goes in verbatim, single backslashes included (the round-5
    # review found a doubled-backslash version that could never match)
    from ..functions.text import EMAIL_PATTERN, URL_PATTERN

    em, ur = EMAIL_PATTERN, URL_PATTERN
    return f"""
WITH scanned AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com via https://ex.org/d/' || CAST(doc_id AS VARCHAR) AS t
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(lower(t), '{em}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(t, '{ur}')) AS BIGINT) AS n_urls,
       len(regexp_extract_all(lower(t), '{em}')) + len(regexp_extract_all(t, '{ur}')) > 0 AS has_pii,
       md5(regexp_replace(regexp_replace(lower(t), '{em}', '<email>', 'g'), '{ur}', '<url>', 'g')) AS redacted_md5
FROM scanned
"""


QUERIES["doc_pii_stats"] = (pii_stats_query, _pii_sql())


# ---------------------------------------------------------------------------
# Benchmark decontamination (round 5)
# ---------------------------------------------------------------------------

DECON_BENCH_MOD = 97  # doc_id % 97 == 0 plays the held-out benchmark set


def decontaminate_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any word
    3-shingle with a held-out benchmark set (here: ``doc_id % 97 == 0``
    stands in for the eval corpus; real pipelines pass one).

    Scale shape — the decontamination standard: shingle both sides, make
    the benchmark shingle set DISTINCT (its size is benchmark-bounded, not
    corpus-bounded), and equi-join training shingles against it; per-doc
    overlap is a count-distinct after the join.  No cross join, no
    broadcast of the corpus — cost scales with shingle collisions.  Output:
    every training doc with its shared-shingle count and a contaminated
    flag (0-overlap docs included: the negative case is part of the
    contract)."""
    docs = load_table(spark, sf_dir, "documents")
    is_bench = (F.col("doc_id") % DECON_BENCH_MOD) == 0
    sh = docs.select(
        "doc_id", is_bench.alias("bench"), F.explode(shingles(F.col("text"))).alias("s")
    )
    return _decon_from_shn(docs, sh)


def _decon_from_shn(docs: DataFrame, shn: DataFrame) -> DataFrame:
    """Decontamination verdicts from a prebuilt shingle frame ``shn``
    with columns (doc_id, bench, s) — duplicate (doc_id, s) rows are
    allowed (everything downstream is DISTINCT/count_distinct, so a
    caller may hand in a deduplicated frame it materialized for other
    uses: ``pipeline_contamination`` shares ONE exploded-shingle pass
    across its report columns and this stage, r14 guide §2.4)."""
    is_bench = (F.col("doc_id") % DECON_BENCH_MOD) == 0
    bench_sh = shn.filter(F.col("bench")).select("s").distinct()
    train_sh = shn.filter(~F.col("bench")).select("doc_id", "s")
    shared = (
        train_sh.join(bench_sh, "s")
        .groupBy("doc_id")
        .agg(F.count_distinct("s").alias("n_shared"))
    )
    return (
        docs.filter(~is_bench)
        .select("doc_id")
        .join(shared, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_shared"), F.lit(0)).cast("long").alias("n_shared"),
            (F.coalesce(F.col("n_shared"), F.lit(0)) > 0).alias("contaminated"),
        )
    )


def _decontaminate_sql() -> str:
    return f"""
WITH tk AS (
  SELECT doc_id, doc_id % {DECON_BENCH_MOD} = 0 AS bench,
         string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM documents
), shn AS (
  SELECT doc_id, bench, unnest({_shingle_sql_expr()}) AS s FROM tk
), bench_sh AS (
  SELECT DISTINCT s FROM shn WHERE bench
), shared AS (
  SELECT shn.doc_id, COUNT(DISTINCT shn.s) AS n_shared
  FROM shn JOIN bench_sh USING (s)
  WHERE NOT shn.bench
  GROUP BY shn.doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(shared.n_shared, 0) AS BIGINT) AS n_shared,
       COALESCE(shared.n_shared, 0) > 0 AS contaminated
FROM documents d LEFT JOIN shared ON shared.doc_id = d.doc_id
WHERE d.doc_id % {DECON_BENCH_MOD} <> 0
"""


QUERIES["doc_decontaminate"] = (decontaminate_query, _decontaminate_sql())


# ---------------------------------------------------------------------------
# Deterministic training-order shuffle (round 5)
# ---------------------------------------------------------------------------

SHUFFLE_SHARDS = 8  # graded-scale shard count; at corpus scale = target file count
SHUFFLE_SEED = "shuf1"


def shuffle_shards_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle for training-data ordering: every
    document gets a shard and a position within that shard, derived only
    from ``md5(seed | doc_id)`` — so the loading order is reproducible
    across engines, runs, and input partitionings, unlike ``orderBy(rand())``
    (seeded per-partition, so a repartition silently reshuffles the corpus).

    This is the last pass of a curation pipeline: the order a trainer reads
    is part of the experiment and must be replayable.  Scale shape: one
    hash shuffle on ``shard`` (the window's partitionBy), an in-shard sort
    on the 128-bit key, and each shard maps to one output file — shard
    count is the file-count knob, raised with the corpus (8 here; thousands
    at 100 TB so no shard outgrows a task).  Positions are dense per shard,
    which a pack/seek-based loader wants; a global position, if needed, is
    ``shard``-major and derivable from per-shard counts without a second
    sort."""
    docs = load_table(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.lit(SHUFFLE_SEED + "|"), F.col("doc_id").cast("string")))
    shard = (F.conv(F.substring(key, 1, 8), 16, 10).cast("long") % SHUFFLE_SHARDS).alias("shard")
    d = docs.select("doc_id", key.alias("k"), shard)
    w = Window.partitionBy("shard").orderBy("k", "doc_id")
    return d.select("doc_id", "shard", F.row_number().over(w).alias("pos"))


SHUFFLE_SHARDS_SQL = f"""
WITH d AS (
  SELECT doc_id,
         md5('{SHUFFLE_SEED}|' || CAST(doc_id AS VARCHAR)) AS k,
         CAST('0x' || substr(md5('{SHUFFLE_SEED}|' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
           % {SHUFFLE_SHARDS} AS shard
  FROM documents
)
SELECT doc_id, shard, row_number() OVER (PARTITION BY shard ORDER BY k, doc_id) AS pos
FROM d
"""

QUERIES["doc_shuffle_shards"] = (shuffle_shards_query, SHUFFLE_SHARDS_SQL)


def shard_mixing_audit_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-quality audit of the training shards (round 11): per shard,
    how far the source mixture deviates from the corpus-global mixture —
    the check a trainer runs before trusting ``doc_shuffle_shards``' order
    (a shard whose source shares drift from global feeds the model biased
    slices; a hash shuffle should mix to within sampling noise).  Per
    shard: doc count, distinct sources, and the max/total absolute
    deviation of per-source share from global share, in ppm.

    Uses the SAME ``md5(seed | doc_id)`` shard key as
    ``doc_shuffle_shards`` (one definition of the training order, two
    audits over it — pytest pins the per-shard counts equal between the
    two queries).

    Deviations are computed over the FULL shard × source grid, not just
    the observed (shard, source) cells: a source entirely ABSENT from a
    shard is the worst mixing failure, and it must contribute its full
    global share as deviation (|0 − g| — the r11 review caught the
    observed-cells-only version silently omitting exactly that term).
    ``n_sources`` counts sources PRESENT in the shard.

    Scale shape: ONE corpus scan into a (shard, source) hash-agg —
    bounded keys (shards × sources), partial-agg absorbs any hot source —
    then a bounded grid cross (distinct shards × distinct sources) left
    joined to the cells, bounded roll-up joins and a 1-row total
    broadcast (the threshold-compare BNLJ class).  Integer bounds: n·1e6
    stays int64-safe to ~9.2e12 docs per cell — beyond any graded or
    planned corpus (100 TB ≈ 1e11 docs)."""
    docs = load_table(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.lit(SHUFFLE_SEED + "|"), F.col("doc_id").cast("string")))
    shard = (F.conv(F.substring(key, 1, 8), 16, 10).cast("long") % SHUFFLE_SHARDS).alias("shard")
    # r14 (guide §1.2): cell is BOUNDED (shards × sources keys) but was
    # referenced six times below (grid ×2, full, per-shard, per-source,
    # total) — each re-ran the corpus scan + md5 + agg.  localCheckpoint
    # materializes the tiny frame once per invocation (1 scan instead of
    # 6; ContextCleaner-collectable, nothing pinned).
    cell = docs.select(shard, "source").groupBy("shard", "source").agg(
        F.count("*").alias("n")
    ).localCheckpoint()
    grid = cell.select("shard").distinct().crossJoin(cell.select("source").distinct())
    full = grid.join(cell, ["shard", "source"], "left").withColumn(
        "n", F.coalesce(F.col("n"), F.lit(0))
    )
    per_shard = cell.groupBy("shard").agg(F.sum("n").alias("tot"))
    per_source = cell.groupBy("source").agg(F.sum("n").alias("g"))
    total = cell.agg(F.sum("n").alias("gt"))
    dev = F.expr("abs(n * 1000000 DIV tot - g * 1000000 DIV gt)")
    return (
        full.join(per_shard, "shard")
        .join(per_source, "source")
        .crossJoin(F.broadcast(total))
        .withColumn("dev", dev)
        .groupBy("shard")
        .agg(
            F.sum("n").cast("long").alias("n_docs"),
            F.sum((F.col("n") > 0).cast("long")).cast("long").alias("n_sources"),
            F.max("dev").cast("long").alias("max_dev_ppm"),
            F.sum("dev").cast("long").alias("sum_dev_ppm"),
        )
    )


SHARD_MIXING_SQL = f"""
WITH cell AS (
  SELECT CAST('0x' || substr(md5('{SHUFFLE_SEED}|' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
           % {SHUFFLE_SHARDS} AS shard,
         source, CAST(count(*) AS BIGINT) AS n
  FROM documents GROUP BY 1, 2
),
grid AS (
  SELECT s.shard, src.source
  FROM (SELECT DISTINCT shard FROM cell) s, (SELECT DISTINCT source FROM cell) src
),
fullc AS (
  SELECT g.shard, g.source, CAST(COALESCE(c.n, 0) AS BIGINT) AS n
  FROM grid g LEFT JOIN cell c ON g.shard = c.shard AND g.source = c.source
),
ps AS (SELECT shard, CAST(SUM(n) AS BIGINT) AS tot FROM cell GROUP BY shard),
pg AS (SELECT source, CAST(SUM(n) AS BIGINT) AS g FROM cell GROUP BY source),
t AS (SELECT CAST(SUM(n) AS BIGINT) AS gt FROM cell)
SELECT fullc.shard,
       CAST(SUM(n) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN n > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_sources,
       CAST(MAX(abs(n * 1000000 // tot - g * 1000000 // gt)) AS BIGINT) AS max_dev_ppm,
       CAST(SUM(abs(n * 1000000 // tot - g * 1000000 // gt)) AS BIGINT) AS sum_dev_ppm
FROM fullc JOIN ps USING (shard) JOIN pg USING (source), t
GROUP BY fullc.shard
"""

QUERIES["doc_shard_mixing_audit"] = (shard_mixing_audit_query, SHARD_MIXING_SQL)


# ---------------------------------------------------------------------------
# Toy-BPE token statistics (round 7) — tokenizer-aware counting
# ---------------------------------------------------------------------------

def bpe_token_stats_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-aware token counts: the deterministic toy-BPE merge chain
    (``functions.text.BPE_MERGES`` — fixed public-precedent vocabulary,
    single-char symbols so each merge is one substring replace) applied per
    regex token, summed per document, next to the whitespace count the
    shaping operators used until round 7.  ``compression_centi`` =
    non-space chars per BPE token ×100 — the chars-per-token ratio a real
    tokenizer reports.  Zero-shuffle column expressions; at 100 TB this is
    one scan fused into whatever pipeline stage reads the text anyway."""
    from ..functions.text import bpe_token_count

    d = load_table(spark, sf_dir, "documents")
    token_chars = F.length(F.regexp_replace(F.col("text"), r"\s", ""))
    return d.select(
        "doc_id",
        bpe_token_count(F.col("text")).alias("n_bpe_tok"),
        n_tokens(F.col("text")).cast("long").alias("n_ws_tok"),
        token_chars.cast("long").alias("token_chars"),
    ).withColumn(
        "compression_centi",
        F.expr("CAST(token_chars * 100 DIV n_bpe_tok AS BIGINT)"),
    )


def _bpe_token_stats_sql() -> str:
    from ..functions.text import bpe_count_sql_expr

    return f"""
SELECT doc_id, n_bpe_tok, n_ws_tok, token_chars,
       CASE WHEN n_bpe_tok = 0 THEN NULL
            ELSE CAST(token_chars * 100 // n_bpe_tok AS BIGINT) END AS compression_centi
FROM (
  SELECT doc_id,
         {bpe_count_sql_expr('text')} AS n_bpe_tok,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_ws_tok,
         CAST(length(regexp_replace(text, '\\s', '', 'g')) AS BIGINT) AS token_chars
  FROM documents
)
"""


QUERIES["doc_bpe_token_stats"] = (bpe_token_stats_query, _bpe_token_stats_sql())


def bpe_pair_freqs_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE vocabulary INDUCTION: the top-50 adjacent-symbol-pair frequencies
    over the corpus in its current merge state — exactly the statistic BPE
    training maximizes to pick the next merge rule (the ``BPE_MERGES``
    table is the fixed artifact; this measures what rule #17 would be).
    Already-merged pairs can never appear (their components always fuse),
    so every reported pair is a genuine next-merge candidate.

    Scale shape: the per-character explode is the volume driver and stays
    map-side; ONE hash-agg shuffle on the pair key (symbol alphabet² ≈
    a few thousand distinct keys, heavy map-side partials); the top-50
    window runs on that bounded aggregate — a single-partition sort of
    ≤ |alphabet|² rows, not of the corpus."""
    from ..functions.text import bpe_encode

    d = load_table(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_PATTERN), F.lit(0))
    words = d.select(F.explode(F.transform(toks, lambda t: bpe_encode(t))).alias("w")).filter(
        F.length("w") >= 2
    )
    pairs = words.select(
        F.explode(F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).alias(
            "pair"
        )
    )
    agg = pairs.groupBy("pair").agg(F.count("*").cast("long").alias("n_occ"))
    win = Window.orderBy(F.col("n_occ").desc(), F.col("pair").asc())
    return agg.withColumn("rank", F.row_number().over(win).cast("long")).filter(F.col("rank") <= 50)


def _bpe_pair_freqs_sql() -> str:
    from ..functions.text import bpe_sql_expr

    return f"""
WITH enc AS (
  SELECT unnest(list_transform(regexp_extract_all(lower(text), '{TOKEN_PATTERN}'),
                t -> {bpe_sql_expr('t')})) AS w
  FROM documents
), pairs AS (
  SELECT substr(w, CAST(i AS INT), 2) AS pair
  FROM enc, unnest(range(1, length(w))) AS t(i)
  WHERE length(w) >= 2
), agg AS (
  SELECT pair, CAST(count(*) AS BIGINT) AS n_occ FROM pairs GROUP BY pair
)
SELECT pair, n_occ, CAST(rank AS BIGINT) AS rank FROM (
  SELECT pair, n_occ, row_number() OVER (ORDER BY n_occ DESC, pair ASC) AS rank FROM agg
) WHERE rank <= 50
"""


QUERIES["doc_bpe_pair_freqs"] = (bpe_pair_freqs_query, _bpe_pair_freqs_sql())


def source_overlap_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: for every pair of sources, the
    number of distinct word 3-shingles they share and the shingle-set
    Jaccard (ppm) — the leakage statistic behind mixture decisions (two
    "different" sources that are really mirrors show up as a high-Jaccard
    cell and should be collapsed before ``doc_mixture_plan`` weights them
    as independent).

    Scale shape — the decontamination join generalized to all-pairs-of-
    sources: distinct (source, shingle) first (one shuffle; the corpus
    never self-joins at doc granularity), then the shingle equi-join fans
    out at most |sources|² rows per shingle — bounded by the source count,
    never by documents².  The per-source totals are a ≤|sources|-row
    broadcast; output is ≤ C(|sources|, 2) rows."""
    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select("source", F.explode(shingles(F.col("text"))).alias("s")).distinct()
    per = sh.groupBy("source").agg(F.count("*").cast("long").alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    ov = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.source") < F.col("b.source")))
        .groupBy(F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b"))
        .agg(F.count("*").cast("long").alias("n_shared"))
    )
    pa = per.select(F.col("source").alias("source_a"), F.col("n_sh").alias("n_a"))
    pb = per.select(F.col("source").alias("source_b"), F.col("n_sh").alias("n_b"))
    return (
        ov.join(F.broadcast(pa), "source_a")
        .join(F.broadcast(pb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            F.expr("CAST(n_shared * 1000000 DIV (n_a + n_b - n_shared) AS BIGINT)").alias(
                "jaccard_ppm"
            ),
        )
    )


def _source_overlap_sql() -> str:
    return f"""
WITH tk AS (
  SELECT source, string_split_regex(trim(lower(text)), '\\s+') AS t FROM documents
), shn AS (
  SELECT DISTINCT source, unnest({_shingle_sql_expr()}) AS s FROM tk
), per AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_sh FROM shn GROUP BY source
), ov AS (
  SELECT a.source AS source_a, b.source AS source_b, CAST(count(*) AS BIGINT) AS n_shared
  FROM shn a JOIN shn b ON a.s = b.s AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT ov.source_a, ov.source_b, ov.n_shared,
       CAST(ov.n_shared * 1000000 // (pa.n_sh + pb.n_sh - ov.n_shared) AS BIGINT) AS jaccard_ppm
FROM ov
JOIN per pa ON pa.source = ov.source_a
JOIN per pb ON pb.source = ov.source_b
"""


QUERIES["doc_source_overlap"] = (source_overlap_query, _source_overlap_sql())


def quality_hist_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality distribution: document counts per decile of the
    shared quality_ppm formula — the diagnostic that says WHERE to put a
    corpus-wide quality threshold before it feeds ``doc_mixture_plan``
    (a source whose mass sits under the cut contributes far fewer tokens
    than its ``avail_tok`` suggests).  One scan + one (source, decile)
    hash-agg; output ≤ |sources| × 11 rows."""
    scored = with_quality_ppm(load_table(spark, sf_dir, "documents"))
    return (
        scored.select(
            "source", F.expr("CAST(quality_ppm DIV 100000 AS BIGINT)").alias("decile")
        )
        .groupBy("source", "decile")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )


def _quality_hist_sql() -> str:
    return f"""
WITH base AS (
  SELECT source,
         len(string_split_regex(trim(text), '\\s+')) AS n_tok,
         len(list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x IN ({_EN}))) AS n_stop,
         length(text) - length(regexp_replace(text, '{PUNCT_PATTERN_SQL}', '', 'g')) AS n_punct,
         length(text) AS n_chars
  FROM documents
), ppm AS (
  SELECT source,
         CAST(n_stop * 1000000 // n_tok AS BIGINT) AS stop_ppm,
         CAST(n_punct * 1000000 // n_chars AS BIGINT) AS punct_ppm,
         least(CAST(n_tok AS BIGINT) * 10000, 1000000) AS len_term_ppm
  FROM base
), q AS (
  SELECT source,
         CAST((4 * len_term_ppm + 4 * stop_ppm + 2 * (1000000 - punct_ppm)) // 10 AS BIGINT) AS quality_ppm
  FROM ppm
)
SELECT source, CAST(quality_ppm // 100000 AS BIGINT) AS decile, CAST(count(*) AS BIGINT) AS n_docs
FROM q GROUP BY source, CAST(quality_ppm // 100000 AS BIGINT)
"""


QUERIES["doc_quality_hist_by_source"] = (quality_hist_query, _quality_hist_sql())


CONTAINMENT_THRESHOLD_PPM = 800_000  # max-direction containment cut


def containment_pairs_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup detection: for LSH candidate pairs, the shingle
    CONTAINMENT in both directions — |A∩B|/|A| and |A∩B|/|B| in ppm — and
    keep pairs where either direction ≥ 0.8.  Jaccard misses
    subset duplication by construction (a quoted or embedded document has
    tiny Jaccard against its container but containment ≈ 1), and subset
    dups are exactly what training-data quote/boilerplate leakage looks
    like.

    Scale shape: identical to the MinHash pipeline (shingle → signature →
    band equi-join → verify on true sets); the verify fans the bounded
    candidate set against the shingle table in two hash equi-joins.
    Honest recall caveat (in-code, mirrored by the oracle): symmetric
    MinHash banding under-recalls low-Jaccard/high-containment pairs —
    total recall needs an asymmetric scheme; candidates here are the
    standard bands, so this measures containment ON the candidate set."""
    from ..operators.dedup import minhash_lsh_candidates, minhash_signatures

    docs = load_table(spark, sf_dir, "documents")
    # materialize=False: a lazily-returned query can never unpersist, so
    # recompute the shingle stage per consumer instead of pinning one
    # cached frame per invocation (the pq_train_codebook leak class)
    sigs = minhash_signatures(docs, num_hashes=NUM_HASHES, shingle_k=SHINGLE_K, materialize=False)
    sh = sigs.select("doc_id", "shingles")
    cands = minhash_lsh_candidates(sigs)
    j = (
        cands.join(sh.withColumnRenamed("doc_id", "id_a").withColumnRenamed("shingles", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("doc_id", "id_b").withColumnRenamed("shingles", "sh_b"), "id_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")).cast("long"))
        .withColumn("n_a", F.size("sh_a").cast("long"))
        .withColumn("n_b", F.size("sh_b").cast("long"))
        .withColumn("cont_a_ppm", F.expr("CAST(inter * 1000000 DIV n_a AS BIGINT)"))
        .withColumn("cont_b_ppm", F.expr("CAST(inter * 1000000 DIV n_b AS BIGINT)"))
    )
    return j.filter(
        F.greatest("cont_a_ppm", "cont_b_ppm") >= CONTAINMENT_THRESHOLD_PPM
    ).select("id_a", "id_b", "inter", "n_a", "n_b", "cont_a_ppm", "cont_b_ppm")


def _containment_sql() -> str:
    sig_list = ", ".join(
        f"list_min(list_transform(sh, s -> md5('{i}|' || s)))" for i in range(NUM_HASHES)
    )
    n_bands = NUM_HASHES // BAND_SIZE
    return f"""
WITH tk AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t FROM documents
), shn AS (
  SELECT doc_id, {_shingle_sql_expr()} AS sh FROM tk
), sg AS (
  SELECT doc_id, sh, [{sig_list}] AS sig FROM shn
), bands AS (
  SELECT doc_id, b, sig[2*b+1] || sig[2*b+2] AS bv
  FROM sg, unnest(range({n_bands})) AS u(b)
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
  FROM bands a JOIN bands b2 ON a.b = b2.b AND a.bv = b2.bv AND a.doc_id < b2.doc_id
), pairs AS (
  SELECT id_a, id_b,
         CAST(len(list_intersect(x.sh, y.sh)) AS BIGINT) AS inter,
         CAST(len(x.sh) AS BIGINT) AS n_a,
         CAST(len(y.sh) AS BIGINT) AS n_b
  FROM cand JOIN sg x ON x.doc_id = id_a JOIN sg y ON y.doc_id = id_b
)
SELECT id_a, id_b, inter, n_a, n_b,
       CAST(inter * 1000000 // n_a AS BIGINT) AS cont_a_ppm,
       CAST(inter * 1000000 // n_b AS BIGINT) AS cont_b_ppm
FROM pairs
WHERE greatest(inter * 1000000 // n_a, inter * 1000000 // n_b) >= {CONTAINMENT_THRESHOLD_PPM}
"""


QUERIES["dedup_containment_pairs"] = (containment_pairs_query, _containment_sql())


QUALITY_BUDGET_DIV = 3  # keep the best third of tokens


def _budget_cut_from_scored(scored: DataFrame) -> DataFrame:
    """Budget-cut selection over an already-scored frame (needs ``n_tok``
    and ``quality_ppm`` columns).  Split out (r14, guide §2.4) so the
    curation pipeline can feed ONE materialized scoring pass to both its
    quality filter and this cut instead of re-running the corpus scoring
    subtree; the total-token budget is folded into a window over the
    ≤101-row histogram (``sum(tok) over ()`` ≡ the old separate
    ``per.agg(sum(n_tok))`` subtree — same integer sum, grouped first),
    so the SECOND corpus scan the old ``total`` aggregate paid is gone
    (2 scans → 1; the bigram prev-marginal fold pattern)."""
    per = scored.select(
        F.col("n_tok").cast("long").alias("n_tok"),
        F.expr("CAST(quality_ppm DIV 10000 AS BIGINT)").alias("qb"),
    )
    hist = per.groupBy("qb").agg(
        F.sum("n_tok").alias("tok"), F.count("*").cast("long").alias("n")
    )
    w = Window.orderBy(F.col("qb").desc()).rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = (
        hist.withColumn("cum_tok", F.sum("tok").over(w))
        .withColumn("cum_docs", F.sum("n").over(w))
        .withColumn("tot", F.sum("tok").over(wall))
        .withColumn("budget_tok", F.expr(f"CAST(tot DIV {QUALITY_BUDGET_DIV} AS BIGINT)"))
    )
    return (
        cum.filter(F.col("cum_tok") >= F.col("budget_tok"))
        .orderBy(F.col("qb").desc())
        .limit(1)
        .select(
            F.expr("CAST(qb * 10000 AS BIGINT)").alias("cut_ppm"),
            F.col("cum_docs").cast("long").alias("docs_kept"),
            F.col("cum_tok").cast("long").alias("tokens_kept"),
            "budget_tok",
        )
    )


def quality_budget_cut_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budget-driven quality threshold selection: the quality_ppm cut that
    keeps the highest-quality documents until a token budget (total/3) is
    reached — the planning step between quality SCORING and quality
    FILTERING (pick the cut from data, don't guess it).  One row out:
    (cut_ppm, docs_kept, tokens_kept, budget_tok).

    Scale shape: ONE scan → ≤101-bucket hash-agg (quality centi-buckets) →
    window cumsum + window total over those ≤101 rows (r14: the budget
    total is a window over the histogram, not a second corpus scan) — the
    corpus is never sorted, the selection happens on the bounded
    histogram."""
    return _budget_cut_from_scored(with_quality_ppm(load_table(spark, sf_dir, "documents")))


def _quality_budget_cut_sql() -> str:
    return f"""
WITH base AS (
  SELECT len(string_split_regex(trim(text), '\\s+')) AS n_tok,
         len(list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x IN ({_EN}))) AS n_stop,
         length(text) - length(regexp_replace(text, '{PUNCT_PATTERN_SQL}', '', 'g')) AS n_punct,
         length(text) AS n_chars
  FROM documents
), q AS (
  SELECT CAST(n_tok AS BIGINT) AS n_tok,
         CAST((4 * least(CAST(n_tok AS BIGINT) * 10000, 1000000)
             + 4 * CAST(n_stop * 1000000 // n_tok AS BIGINT)
             + 2 * (1000000 - CAST(n_punct * 1000000 // n_chars AS BIGINT))) // 10 // 10000 AS BIGINT) AS qb
  FROM base
), hist AS (
  SELECT qb, CAST(sum(n_tok) AS BIGINT) AS tok, CAST(count(*) AS BIGINT) AS n FROM q GROUP BY qb
), cum AS (
  SELECT qb,
         CAST(sum(tok) OVER (ORDER BY qb DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok,
         CAST(sum(n) OVER (ORDER BY qb DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_docs
  FROM hist
), tot AS (SELECT CAST(sum(n_tok) // {QUALITY_BUDGET_DIV} AS BIGINT) AS budget_tok FROM q)
SELECT CAST(qb * 10000 AS BIGINT) AS cut_ppm, cum_docs AS docs_kept, cum_tok AS tokens_kept, budget_tok
FROM cum, tot
WHERE cum_tok >= budget_tok
ORDER BY qb DESC
LIMIT 1
"""


QUERIES["doc_quality_budget_cut"] = (quality_budget_cut_query, _quality_budget_cut_sql())


def dedup_cluster_size_hist_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER SIZE distribution: how many transitive-closure
    clusters exist at each size (singletons included) and how many
    documents they hold — the statistic that says whether duplication is a
    long tail of pairs or a few mega-clusters (mirror dumps), which decides
    keep-one-per-cluster vs source-level exclusion.

    Scale shape: the connected-components labels (iterative min-label
    propagation, rounds ∝ cluster diameter) feed two tiny hash-aggs —
    per-cluster size, then per-size counts; both keyed far below corpus
    cardinality."""
    labels = dedup_cc_query(spark, sf_dir)
    per_cluster = labels.groupBy("keep_id").agg(F.count("*").cast("long").alias("cluster_size"))
    return per_cluster.groupBy("cluster_size").agg(
        F.count("*").cast("long").alias("n_clusters"),
        F.sum("cluster_size").cast("long").alias("n_docs"),
    )


def _dedup_cluster_size_hist_sql() -> str:
    cc_sql = _dedup_cc_sql().strip()
    # the recursive WITH must stay the outermost clause: splice the cc body
    # in as-is and layer the two aggregations around its SELECT
    assert cc_sql.startswith("WITH RECURSIVE")
    body = cc_sql[len("WITH RECURSIVE"):]
    head, _, final_select = body.rpartition("SELECT d.doc_id")
    head = head.rstrip().rstrip(",")
    return f"""
WITH RECURSIVE {head},
labels AS (
  SELECT d.doc_id{final_select}
), per_cluster AS (
  SELECT keep_id, CAST(count(*) AS BIGINT) AS cluster_size FROM labels GROUP BY keep_id
)
SELECT cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sum(cluster_size) AS BIGINT) AS n_docs
FROM per_cluster GROUP BY cluster_size
"""


QUERIES["dedup_cluster_size_hist"] = (dedup_cluster_size_hist_query, _dedup_cluster_size_hist_sql())


WINNOW_PAIR_MIN_SHARED = 2  # pairs must share at least this many fingerprints
WINNOW_PAIR_MAX_DF = 50  # fingerprints in more docs than this are stop-prints


def winnow_pair_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-overlap pair detection by shared winnowing fingerprints — the
    ORDER-SENSITIVE complement to MinHash pairs: two documents sharing a
    contiguous run of text share the window minima inside it, so partially
    overlapping documents (shared paragraphs, plagiarized spans) surface
    even when whole-document Jaccard is negligible.  Output per pair:
    shared-fingerprint count, per-doc totals, and overlap vs the smaller
    side (containment-flavored, in ppm).

    Scale shape: distinct (doc_id, fp) → drop STOP-PRINTS (fingerprints in
    more than ``WINNOW_PAIR_MAX_DF`` docs — a boilerplate minimum shared by
    thousands of docs would otherwise make the self-join fan out as
    docs-per-fp²; the cap bounds pair fan-out per fp by MAX_DF², the same
    df-cap idiom as stop-shingle removal) → fp equi-join → per-pair count.
    No cross join; cost tracks true shared-text volume."""
    # r14 (guide §1.2): the winnowing-fingerprint DAG fed four consumers
    # (the df stop-print agg, the live build, and live's three readers) —
    # each re-ran the tokenize + window-slide front.  Checkpoint the
    # narrow (doc_id, fp) frames once per invocation (16 B rows — at
    # cluster scale this is exactly the fingerprint stage table you'd
    # persist); A/B: 2.76 -> 1.96 s best-of-3 at sf0.1, row-identical.
    d = _winnow_fps(load_table(spark, sf_dir, "documents")).localCheckpoint()
    live = d.join(
        d.groupBy("fp").agg(F.count("*").alias("df")).filter(F.col("df") <= WINNOW_PAIR_MAX_DF),
        "fp",
    ).select("doc_id", "fp").localCheckpoint()
    per = live.groupBy("doc_id").agg(F.count("*").cast("long").alias("n_fp"))
    a, b = live.alias("a"), live.alias("b")
    pairs = (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count("*").cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= WINNOW_PAIR_MIN_SHARED)
    )
    pa = per.select(F.col("doc_id").alias("id_a"), F.col("n_fp").alias("n_a"))
    pb = per.select(F.col("doc_id").alias("id_b"), F.col("n_fp").alias("n_b"))
    return (
        pairs.join(pa, "id_a")
        .join(pb, "id_b")
        .select(
            "id_a",
            "id_b",
            "n_shared",
            "n_a",
            "n_b",
            F.expr("CAST(n_shared * 1000000 DIV least(n_a, n_b) AS BIGINT)").alias("overlap_ppm"),
        )
    )


def _winnow_pair_sql() -> str:
    return f"""
WITH {_WINNOW_CTES}, live AS (
  SELECT d.doc_id, d.fp FROM d
  JOIN (SELECT fp, count(*) AS df FROM d GROUP BY fp HAVING count(*) <= {WINNOW_PAIR_MAX_DF}) f
  USING (fp)
), per AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp FROM live GROUP BY doc_id
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS n_shared
  FROM live a JOIN live b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
  HAVING count(*) >= {WINNOW_PAIR_MIN_SHARED}
)
SELECT p.id_a, p.id_b, p.n_shared, pa.n_fp AS n_a, pb.n_fp AS n_b,
       CAST(p.n_shared * 1000000 // least(pa.n_fp, pb.n_fp) AS BIGINT) AS overlap_ppm
FROM pairs p
JOIN per pa ON pa.doc_id = p.id_a
JOIN per pb ON pb.doc_id = p.id_b
"""


QUERIES["dedup_winnow_span_pairs"] = (winnow_pair_query, _winnow_pair_sql())


SPAN_HEAVY_PPM = 500_000  # a doc is dup-heavy when ≥ half its spans are shared


def span_dup_coverage_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SOURCE span-level duplication coverage — the mask-or-drop
    decision stat for exact-substring dedup: of each document's winnowing
    fingerprints (≈ its contiguous text spans), what fraction also appears
    in other documents?  ``dedup_winnow_span_pairs`` names WHO shares spans;
    this answers HOW MUCH of each source's volume is duplicated span mass —
    the number that decides between masking spans, dropping docs, or
    leaving a source alone.  Fingerprints are classed by document frequency:
    ``shared`` (2 ≤ df ≤ WINNOW_PAIR_MAX_DF — true cross-doc overlap) vs
    ``boilerplate`` (df > MAX_DF — the stop-print mass the pair query drops;
    here it is REPORTED instead, because boilerplate share is itself a
    curation signal).  Output per source: doc count, mean shared/boilerplate
    coverage (ppm of per-doc fingerprints, averaged over docs), and the
    count of dup-heavy docs (shared coverage ≥ SPAN_HEAVY_PPM).

    Scale shape: the winnow chain is the span-pair query's own front
    (posexplode → windowed min partitioned by doc → distinct); the df class
    comes from one fp-keyed agg joined back fp-keyed (no self-join at all —
    this is the CHEAPER sibling of the pair query); per-doc then per-source
    hash aggs.  Nothing downstream of the distinct is larger than
    (doc, fp); output is |sources| rows."""
    docs = load_table(spark, sf_dir, "documents")
    d = _winnow_fps(docs)
    df_cls = d.groupBy("fp").agg(F.count("*").alias("df"))
    classed = d.join(df_cls, "fp").select(
        "doc_id",
        F.when((F.col("df") >= 2) & (F.col("df") <= WINNOW_PAIR_MAX_DF), 1)
        .otherwise(0)
        .alias("is_shared"),
        F.when(F.col("df") > WINNOW_PAIR_MAX_DF, 1).otherwise(0).alias("is_boiler"),
    )
    per_doc = classed.groupBy("doc_id").agg(
        F.count("*").alias("n_fp"),
        F.sum("is_shared").alias("n_shared"),
        F.sum("is_boiler").alias("n_boiler"),
    )
    per_doc = per_doc.select(
        "doc_id",
        F.expr("CAST(n_shared * 1000000 DIV n_fp AS BIGINT)").alias("shared_ppm"),
        F.expr("CAST(n_boiler * 1000000 DIV n_fp AS BIGINT)").alias("boiler_ppm"),
    )
    joined = per_doc.join(docs.select("doc_id", "source"), "doc_id")
    return joined.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.expr("CAST(sum(shared_ppm) DIV count(*) AS BIGINT)").alias("mean_shared_ppm"),
        F.expr("CAST(sum(boiler_ppm) DIV count(*) AS BIGINT)").alias("mean_boiler_ppm"),
        F.sum(F.when(F.col("shared_ppm") >= SPAN_HEAVY_PPM, 1).otherwise(0))
        .cast("long")
        .alias("heavy_docs"),
    )


def _span_dup_coverage_sql() -> str:
    return f"""
WITH {_WINNOW_CTES}, dfc AS (
  SELECT fp, count(*) AS df FROM d GROUP BY fp
), classed AS (
  SELECT d.doc_id,
         CASE WHEN dfc.df >= 2 AND dfc.df <= {WINNOW_PAIR_MAX_DF} THEN 1 ELSE 0 END AS is_shared,
         CASE WHEN dfc.df > {WINNOW_PAIR_MAX_DF} THEN 1 ELSE 0 END AS is_boiler
  FROM d JOIN dfc USING (fp)
), per_doc AS (
  SELECT doc_id,
         CAST(sum(is_shared) * 1000000 // count(*) AS BIGINT) AS shared_ppm,
         CAST(sum(is_boiler) * 1000000 // count(*) AS BIGINT) AS boiler_ppm
  FROM classed GROUP BY doc_id
)
SELECT s.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(p.shared_ppm) // count(*) AS BIGINT) AS mean_shared_ppm,
       CAST(sum(p.boiler_ppm) // count(*) AS BIGINT) AS mean_boiler_ppm,
       CAST(sum(CASE WHEN p.shared_ppm >= {SPAN_HEAVY_PPM} THEN 1 ELSE 0 END) AS BIGINT) AS heavy_docs
FROM per_doc p JOIN documents s USING (doc_id)
GROUP BY s.source
"""


QUERIES["doc_span_dup_coverage"] = (span_dup_coverage_query, _span_dup_coverage_sql())


CMS_D = 4  # sketch rows (independent md5-seeded hash functions)
CMS_W = 64  # sketch columns per row
CMS_TOP = 20  # report the exact top-N tokens' estimates


def token_cms_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic count-min sketch over the corpus token stream, audited
    against exact counts: build a ``CMS_D × CMS_W`` counter grid (column =
    md5-seeded hash of the token per row), then report, for the exact
    top-``CMS_TOP`` tokens, both the true count and the sketch estimate
    (min over rows).  The classic CMS guarantee — estimate ≥ truth, error
    bounded by collisions — becomes hash-checkable because every hash is
    md5-derived and every counter is an integer (unlike engine-private
    approx_count sketches, the same grid builds bit-identically anywhere).

    Scale shape: the sketch build is ONE shuffle on (row, col) — D·W = 256
    grouped keys with heavy map-side partials, the fixed-size-state shape
    that lets a 100 TB token stream reduce to a KB-sized summary; the
    estimate probe joins the broadcast top-token list against the 256-cell
    grid.  The exact-top-N audit side is a ``orderBy().limit(CMS_TOP)`` —
    Spark compiles that to TakeOrderedAndProject (per-partition partial
    top-N, driver merge of ≤N·partitions rows), never a single-partition
    window over the full vocabulary (round-8 fix of the r7 funnel
    finding).  Output: (token, exact_n, cms_n), cms_n ≥ exact_n always."""
    from ..functions.text import tokens as tok

    docs = load_table(spark, sf_dir, "documents")
    stream = docs.select(F.explode(tok(F.lower(F.trim(F.col("text"))))).alias("t"))

    def col_expr(row: int, t="t"):
        h = F.md5(F.concat(F.lit(f"cms{row}|"), F.col(t)))
        return (F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % CMS_W).cast("long")

    cells = (
        stream.select(
            F.explode(
                F.array(*[
                    F.struct(F.lit(r).cast("long").alias("row"), col_expr(r).alias("col"))
                    for r in range(CMS_D)
                ])
            ).alias("rc")
        )
        .select(F.col("rc.row").alias("row"), F.col("rc.col").alias("col"))
        .groupBy("row", "col")
        .agg(F.count("*").cast("long").alias("cell_n"))
    )

    exact = stream.groupBy("t").agg(F.count("*").cast("long").alias("exact_n"))
    # TakeOrderedAndProject, NOT row_number() over a global window: the
    # token vocabulary is corpus-sized, and a partition-less WindowExec
    # funnels it through one task (operators/ann.py's single-partition
    # rule); the tie-break on t keeps the cut deterministic either way
    top = exact.orderBy(F.desc("exact_n"), F.asc("t")).limit(CMS_TOP)
    probes = top.select(
        "t",
        "exact_n",
        F.explode(
            F.array(*[
                F.struct(F.lit(r).cast("long").alias("row"), col_expr(r).alias("col"))
                for r in range(CMS_D)
            ])
        ).alias("rc"),
    ).select("t", "exact_n", F.col("rc.row").alias("row"), F.col("rc.col").alias("col"))
    return (
        probes.join(cells, ["row", "col"])
        .groupBy(F.col("t").alias("token"), "exact_n")
        .agg(F.min("cell_n").alias("cms_n"))
    )


def _token_cms_sql() -> str:
    col = "CAST(CAST('0x' || substr(md5('cms' || r || '|' || t), 1, 8) AS BIGINT) % {w} AS BIGINT)".format(
        w=CMS_W
    )
    return f"""
WITH stream AS (
  SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS t FROM documents
), cells AS (
  SELECT r AS row, {col} AS col, CAST(count(*) AS BIGINT) AS cell_n
  FROM stream, unnest(range({CMS_D})) AS u(r)
  GROUP BY r, {col}
), exact AS (
  SELECT t, CAST(count(*) AS BIGINT) AS exact_n FROM stream GROUP BY t
), top AS (
  SELECT t, exact_n FROM exact ORDER BY exact_n DESC, t ASC LIMIT {CMS_TOP}
), probes AS (
  SELECT t, exact_n, r AS row, {col} AS col
  FROM top, unnest(range({CMS_D})) AS u(r)
)
SELECT p.t AS token, p.exact_n, CAST(MIN(c.cell_n) AS BIGINT) AS cms_n
FROM probes p JOIN cells c ON c.row = p.row AND c.col = p.col
GROUP BY p.t, p.exact_n
"""


QUERIES["doc_token_cms_estimates"] = (token_cms_query, _token_cms_sql())


TOKCON_TOP = 100  # concentration is reported at top-1 / top-10 / top-100


def token_concentration_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-mass concentration — the Zipf-health summary a corpus audit
    wants before vocabulary decisions: what fraction of ALL token
    occurrences the single most frequent token, the top-10, and the
    top-100 account for (plus total/distinct token counts).  A corpus
    whose top-10 mass is abnormally high is boilerplate-heavy; one whose
    distinct count explodes relative to mass has tokenizer problems.

    Scale shape: one token-count shuffle (map-side partials), then the
    top-100 via ``orderBy().limit()`` → TakeOrderedAndProject (never a
    global row_number window — the r7 CMS lesson), a rank window over ONLY
    those ≤100 survivor rows, and a 1-row total broadcast.  Output is one
    row, all BIGINT."""
    from ..functions.text import tokens as tok

    stream = load_table(spark, sf_dir, "documents").select(
        F.explode(tok(F.lower(F.trim(F.col("text"))))).alias("t")
    )
    counts = stream.groupBy("t").agg(F.count("*").cast("long").alias("n"))
    top = counts.orderBy(F.desc("n"), F.asc("t")).limit(TOKCON_TOP)
    w = Window.orderBy(F.desc("n"), F.asc("t"))  # ≤100 rows post-limit (bounded)
    ranked = top.withColumn("rk", F.row_number().over(w))
    totals = counts.agg(
        F.sum("n").cast("long").alias("total_tokens"),
        F.count("*").cast("long").alias("distinct_tokens"),
    )
    return (
        ranked.crossJoin(F.broadcast(totals))
        .agg(
            F.first("total_tokens").alias("total_tokens"),
            F.first("distinct_tokens").alias("distinct_tokens"),
            F.expr("CAST(sum(CASE WHEN rk <= 1 THEN n ELSE 0 END) * 1000000 DIV first(total_tokens) AS BIGINT)").alias("top1_ppm"),
            F.expr("CAST(sum(CASE WHEN rk <= 10 THEN n ELSE 0 END) * 1000000 DIV first(total_tokens) AS BIGINT)").alias("top10_ppm"),
            F.expr("CAST(sum(CASE WHEN rk <= 100 THEN n ELSE 0 END) * 1000000 DIV first(total_tokens) AS BIGINT)").alias("top100_ppm"),
        )
    )


def _token_concentration_sql() -> str:
    return f"""
WITH stream AS (
  SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS t FROM documents
), counts AS (
  SELECT t, CAST(count(*) AS BIGINT) AS n FROM stream GROUP BY t
), top AS (
  SELECT t, n FROM counts ORDER BY n DESC, t ASC LIMIT {TOKCON_TOP}
), ranked AS (
  SELECT n, row_number() OVER (ORDER BY n DESC, t ASC) AS rk FROM top
), tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS total_tokens, CAST(count(*) AS BIGINT) AS distinct_tokens
  FROM counts
)
SELECT total_tokens, distinct_tokens,
       CAST(sum(CASE WHEN rk <= 1 THEN n ELSE 0 END) * 1000000 // total_tokens AS BIGINT) AS top1_ppm,
       CAST(sum(CASE WHEN rk <= 10 THEN n ELSE 0 END) * 1000000 // total_tokens AS BIGINT) AS top10_ppm,
       CAST(sum(CASE WHEN rk <= 100 THEN n ELSE 0 END) * 1000000 // total_tokens AS BIGINT) AS top100_ppm
FROM ranked, tot
GROUP BY total_tokens, distinct_tokens
"""


QUERIES["doc_token_concentration"] = (token_concentration_query, _token_concentration_sql())


def stream_admission_sim_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked relational twin of the streaming corpus store's
    exact-dedup admission rule (``streaming/corpus.py`` — whose end-to-end
    behavior is pytest/probe-pinned but not SQL-expressible as a stream):
    docs with ``doc_id % 5 == 4`` play the incoming micro-batch, the rest
    the admitted corpus.  The synthetic corpus is duplicate-free, so the
    batch deterministically re-submits earlier texts to make every branch
    fire: ids ``% 25 == 24`` carry the text of ``doc_id − 5`` (another
    BATCH doc → ``blocked_batch``, the within-batch keep-lowest-id rule),
    ids ``% 10 == 9`` the text of ``doc_id − 4`` (an ADMITTED doc →
    ``blocked_seen``, the collision-shaped fp probe), the rest their own
    (→ ``admitted``).  The query emits per-verdict doc counts — a
    value-level hash of the admission SEMANTICS to hold next to the
    streaming pytest/probe evidence.

    Scale shape: one fp hash-agg on the batch side + one batch-vs-admitted
    fp semi-join (at store runtime that probe is partition-pruned by
    fp bucket; the relational form is the same equi-join) + a 3-key agg."""
    base = load_table(spark, sf_dir, "documents").select(
        "doc_id", fingerprint(F.col("text")).alias("fp")
    )
    src = F.expr(
        "CASE WHEN doc_id % 25 = 24 THEN doc_id - 5 "
        "WHEN doc_id % 10 = 9 THEN doc_id - 4 ELSE doc_id END"
    )
    batch = (
        base.filter(F.col("doc_id") % 5 == 4)
        .select("doc_id", src.alias("src_id"))
        .join(base.select(F.col("doc_id").alias("src_id"), "fp"), "src_id")
        .select("doc_id", "fp")
    )
    admitted = base.filter(F.col("doc_id") % 5 != 4)
    firsts = batch.groupBy("fp").agg(F.min("doc_id").alias("keep_id"))
    seen = admitted.select("fp").distinct()
    verdicts = (
        batch.join(firsts, "fp")
        .join(seen.withColumn("is_seen", F.lit(1)), "fp", "left")
        .select(
            "doc_id",
            F.when(F.col("doc_id") != F.col("keep_id"), F.lit("blocked_batch"))
            .when(F.col("is_seen").isNotNull(), F.lit("blocked_seen"))
            .otherwise(F.lit("admitted"))
            .alias("verdict"),
        )
    )
    return verdicts.groupBy("verdict").agg(F.count("*").cast("long").alias("n_docs"))


ADMISSION_SIM_SQL = """
WITH docs AS (
  SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp FROM documents
), batch AS (
  SELECT b.doc_id, s.fp
  FROM (SELECT doc_id,
               CASE WHEN doc_id % 25 = 24 THEN doc_id - 5
                    WHEN doc_id % 10 = 9 THEN doc_id - 4 ELSE doc_id END AS src_id
        FROM docs WHERE doc_id % 5 = 4) b
  JOIN docs s ON s.doc_id = b.src_id
), admitted AS (
  SELECT DISTINCT fp FROM docs WHERE doc_id % 5 <> 4
), firsts AS (
  SELECT fp, MIN(doc_id) AS keep_id FROM batch GROUP BY fp
)
SELECT CASE WHEN b.doc_id <> f.keep_id THEN 'blocked_batch'
            WHEN a.fp IS NOT NULL THEN 'blocked_seen'
            ELSE 'admitted' END AS verdict,
       CAST(count(*) AS BIGINT) AS n_docs
FROM batch b JOIN firsts f USING (fp) LEFT JOIN admitted a ON a.fp = b.fp
GROUP BY 1
"""


QUERIES["dedup_stream_admission_sim"] = (stream_admission_sim_query, ADMISSION_SIM_SQL)


# The streaming store's near-dup gate verifies candidates at TRUE Jaccard
# >= jaccard_threshold (default 0.5); the sim replays the same rule in
# exact integer ppm (inter*1e6 DIV uni >= this) — equivalent for any doc
# under 10^6 distinct shingles (the decimal(18,6) rounding edge), and the
# drift guard pytest ties the two constants together.
STORE_JACCARD_PPM = 500_000


def stream_minhash_admission_sim_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked relational twin of the streaming corpus store's
    MINHASH near-dup admission rule (round 14 —
    ``streaming/corpus.py:_near_dup_filter``; completes the admission-sim
    set: exact-fp r8, perceptual dHash r14, and now the banded-Jaccard
    gate between them).  The re-submission protocol is IDENTICAL to
    ``dedup_stream_admission_sim`` — docs with ``doc_id % 5 == 4`` play
    the micro-batch, ids ``% 25 == 24`` carrying the text of ``doc_id−5``
    (another batch doc), ids ``% 10 == 9`` the text of ``doc_id−4`` (an
    admitted doc), the rest their own — so the two sims are directly
    comparable on the same input.  The rule is replayed with the STORE'S
    OWN operators (:func:`operators.dedup.minhash_signatures` →
    ``band_buckets``/``band_pairs`` LSH candidates → TRUE-shingle Jaccard
    verify at the store's 0.5 threshold, in exact integer ppm): a batch
    doc in a verified pair with a lower-id batch doc is ``blocked_batch``
    (keep-lowest-id), a survivor verified against any admitted doc is
    ``blocked_seen``, the rest are ``admitted``.

    The pinned relationship (pytest, both theorems): identical fp ⇒
    identical token stream ⇒ identical shingle set ⇒ Jaccard 1.0, so the
    minhash gate's blocked set is a SUPERSET of the exact gate's on the
    same protocol — and the surplus is exactly the corpus's intrinsic
    near-dups (whitespace-normalized but not byte-identical twins) that
    straddle the batch boundary at >= 0.5 true Jaccard: what the
    near-dup gate exists to add over exact fp.  The store stages its
    probes (cross-batch runs on within-batch survivors); verdict
    PRECEDENCE here assigns identical labels without the anti-join.

    Scale shape: the gate's own shape — banded candidates (band
    equi-joins, never batch² or batch×admitted), exact verification only
    on collision pairs, a 3-row verdict agg.  At store runtime the
    admitted band table is additionally partition-pruned to the batch's
    band buckets and read from STORED signatures (no re-shingling of the
    corpus side) — cost refinements invisible to semantics, which is
    what lets this sim re-derive both sides from the raw table."""
    from ..operators.dedup import band_buckets, band_pairs, jaccard_pairs, minhash_signatures

    base = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = F.expr(
        "CASE WHEN doc_id % 25 = 24 THEN doc_id - 5 "
        "WHEN doc_id % 10 = 9 THEN doc_id - 4 ELSE doc_id END"
    )
    batch_docs = (
        base.filter(F.col("doc_id") % 5 == 4)
        .select("doc_id", src.alias("src_id"))
        .join(base.select(F.col("doc_id").alias("src_id"), "text"), "src_id")
        .select("doc_id", "text")
    )
    adm_docs = base.filter(F.col("doc_id") % 5 != 4)
    # r14 (guide §2.1): ONE signature pass over the combined role frame —
    # the old shape built bsig/asig as separate lazy DAGs and every band
    # join / Jaccard verify below re-executed its side's shingle+signature
    # lineage (~8 shingle passes in the physical plan).  The union mirrors
    # the oracle's single `sg` CTE; role membership is recoverable from
    # doc_id (batch ⇔ doc_id % 5 = 4).  cache(), not localCheckpoint: the
    # checkpoint's eager serialization of the fat shingle arrays measured
    # SLOWER than the recompute (4.4 vs 3.1 s) — the CacheManager dedupes
    # identical plans, so repeat invocations share one pinned entry (the
    # simhash_pairs_query sigs.cache() note).
    sig_all = minhash_signatures(
        batch_docs.unionByName(adm_docs), materialize=False
    ).cache()
    bsig = sig_all.filter(F.col("doc_id") % 5 == 4)
    asig = sig_all.filter(F.col("doc_id") % 5 != 4)
    in_cand = band_pairs(band_buckets(bsig))
    in_ver = (
        jaccard_pairs(bsig, in_cand)
        .filter(F.expr(f"inter * 1000000 div uni >= {STORE_JACCARD_PPM}"))
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
        .withColumn("in_batch_dup", F.lit(1))
    )
    cr_cand = band_pairs(band_buckets(asig), band_buckets(bsig))
    sh_both = asig.select("doc_id", "shingles").unionByName(bsig.select("doc_id", "shingles"))
    cr_ver = (
        jaccard_pairs(sh_both, cr_cand)
        .filter(F.expr(f"inter * 1000000 div uni >= {STORE_JACCARD_PPM}"))
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
        .withColumn("seen_dup", F.lit(1))
    )
    verdict = (
        F.when(F.col("in_batch_dup").isNotNull(), F.lit("blocked_batch"))
        .when(F.col("seen_dup").isNotNull(), F.lit("blocked_seen"))
        .otherwise(F.lit("admitted"))
    )
    return (
        batch_docs.join(in_ver, "doc_id", "left")
        .join(cr_ver, "doc_id", "left")
        .select(verdict.alias("verdict"))
        .groupBy("verdict")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )


def _minhash_admission_sim_sql() -> str:
    n_bands = NUM_HASHES // BAND_SIZE
    sig_list = ", ".join(
        f"list_min(list_transform(sh, s -> md5('{i}|' || s)))" for i in range(NUM_HASHES)
    )
    band_expr = " || ".join(f"sig[{BAND_SIZE}*b+{j + 1}]" for j in range(BAND_SIZE))
    return f"""
WITH roles AS (
  SELECT doc_id,
         CASE WHEN doc_id % 25 = 24 THEN doc_id - 5
              WHEN doc_id % 10 = 9 THEN doc_id - 4 ELSE doc_id END AS src_id,
         doc_id % 5 = 4 AS is_batch
  FROM documents
), dtext AS (
  SELECT r.doc_id, r.is_batch, s.text
  FROM roles r JOIN documents s
    ON s.doc_id = CASE WHEN r.is_batch THEN r.src_id ELSE r.doc_id END
), tk AS (
  SELECT doc_id, is_batch, string_split_regex(trim(lower(text)), '\\s+') AS t FROM dtext
), sg AS (
  SELECT doc_id, is_batch, sh, [{sig_list}] AS sig
  FROM (SELECT doc_id, is_batch, {_shingle_sql_expr()} AS sh FROM tk)
), bands AS (
  SELECT doc_id, is_batch, b, {band_expr} AS bv
  FROM sg, unnest(range({n_bands})) AS u(b)
), in_ver AS (
  SELECT DISTINCT c.id_b AS doc_id
  FROM (SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
        FROM bands a JOIN bands b2
          ON a.b = b2.b AND a.bv = b2.bv AND a.doc_id < b2.doc_id
        WHERE a.is_batch AND b2.is_batch) c
  JOIN sg x ON x.doc_id = c.id_a JOIN sg y ON y.doc_id = c.id_b
  WHERE len(list_intersect(x.sh, y.sh)) * 1000000
        // len(list_distinct(list_concat(x.sh, y.sh))) >= {STORE_JACCARD_PPM}
), cr_ver AS (
  SELECT DISTINCT c.id_b AS doc_id
  FROM (SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
        FROM bands a JOIN bands b2 ON a.b = b2.b AND a.bv = b2.bv
        WHERE NOT a.is_batch AND b2.is_batch) c
  JOIN sg x ON x.doc_id = c.id_a JOIN sg y ON y.doc_id = c.id_b
  WHERE len(list_intersect(x.sh, y.sh)) * 1000000
        // len(list_distinct(list_concat(x.sh, y.sh))) >= {STORE_JACCARD_PPM}
)
SELECT CASE WHEN i.doc_id IS NOT NULL THEN 'blocked_batch'
            WHEN s.doc_id IS NOT NULL THEN 'blocked_seen'
            ELSE 'admitted' END AS verdict,
       CAST(count(*) AS BIGINT) AS n_docs
FROM (SELECT doc_id FROM sg WHERE is_batch) b
LEFT JOIN in_ver i ON i.doc_id = b.doc_id
LEFT JOIN cr_ver s ON s.doc_id = b.doc_id
GROUP BY 1
"""


QUERIES["dedup_stream_minhash_admission_sim"] = (
    stream_minhash_admission_sim_query,
    _minhash_admission_sim_sql(),
)


def hapax_per_source_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary health per source: hapax legomena (tokens occurring
    exactly once WITHIN the source) as a share of the source's distinct
    vocabulary, plus the underlying counts.  A source whose hapax share
    collapses is template/boilerplate text; one where it explodes is
    OCR/tokenizer noise — the standard corpus-linguistics screen applied
    per ingestion source.

    Scale shape: one (source, token) hash-agg (map-side partials collapse
    the within-doc repeats) feeding a per-source agg — keys bounded by
    sources × vocabulary, never corpus rows."""
    from ..functions.text import tokens as tok

    stream = load_table(spark, sf_dir, "documents").select(
        "source", F.explode(tok(F.lower(F.trim(F.col("text"))))).alias("t")
    )
    per = stream.groupBy("source", "t").agg(F.count("*").alias("n"))
    return per.groupBy("source").agg(
        F.count("*").cast("long").alias("distinct_tokens"),
        F.sum("n").cast("long").alias("total_tokens"),
        F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).cast("long").alias("hapax_tokens"),
        F.expr("CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) * 1000000 DIV count(*) AS BIGINT)").alias(
            "hapax_ppm"
        ),
    )


HAPAX_SQL = """
WITH stream AS (
  SELECT source, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS t FROM documents
), per AS (
  SELECT source, t, CAST(count(*) AS BIGINT) AS n FROM stream GROUP BY source, t
)
SELECT source,
       CAST(count(*) AS BIGINT) AS distinct_tokens,
       CAST(sum(n) AS BIGINT) AS total_tokens,
       CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax_tokens,
       CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS hapax_ppm
FROM per
GROUP BY source
"""


QUERIES["doc_hapax_per_source"] = (hapax_per_source_query, HAPAX_SQL)


NOVELTY_BUCKET = 50  # novelty curve granularity (docs per doc_id bucket)


def ngram_novelty_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus novelty curve: for each ``doc_id`` bucket of 50 docs, the ppm
    of its (doc, shingle) observations whose 3-gram shingle FIRST appears
    in that bucket's docs (owner = lowest doc_id carrying the shingle).
    Falling novelty across buckets is the expected dedup-after-dedup
    signature; a flat curve near 1e6 means sources never overlap, and a
    cliff localizes where a mirrored dump entered the corpus — the
    data-ordering diagnostic curriculum/streaming ingest decisions read.

    Scale shape: explode to distinct (doc, shingle) → one shingle-keyed
    min-agg (the first-owner table) → an equi-join back on shingle → a
    ≤corpus/50-key bucket agg.  Same join discipline as the dedup family:
    shingle keys shuffle once, nothing is quadratic."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(shingles(F.col("text"))).alias("sh")
    )
    first = docs.groupBy("sh").agg(F.min("doc_id").alias("first_doc"))
    return (
        docs.join(first, "sh")
        .groupBy(F.expr(f"CAST(doc_id DIV {NOVELTY_BUCKET} AS BIGINT)").alias("doc_bucket"))
        .agg(
            F.count("*").cast("long").alias("n_shingle_obs"),
            F.sum(
                F.when(
                    F.expr(f"first_doc DIV {NOVELTY_BUCKET}") == F.expr(f"doc_id DIV {NOVELTY_BUCKET}"),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("novel_obs"),
            F.expr(
                f"CAST(sum(CASE WHEN first_doc DIV {NOVELTY_BUCKET} = doc_id DIV {NOVELTY_BUCKET} "
                "THEN 1 ELSE 0 END) * 1000000 DIV count(*) AS BIGINT)"
            ).alias("novelty_ppm"),
        )
    )


def _ngram_novelty_sql() -> str:
    return f"""
WITH tk AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t FROM documents
), sh AS (
  -- same short-doc fallback as every other shingle twin in this module:
  -- < 3 tokens emits the single full-text shingle, matching Spark shingles()
  SELECT doc_id, unnest({_shingle_sql_expr()}) AS sh FROM tk
), first AS (
  SELECT sh, MIN(doc_id) AS first_doc FROM sh GROUP BY sh
)
SELECT CAST(s.doc_id // {NOVELTY_BUCKET} AS BIGINT) AS doc_bucket,
       CAST(count(*) AS BIGINT) AS n_shingle_obs,
       CAST(sum(CASE WHEN f.first_doc // {NOVELTY_BUCKET} = s.doc_id // {NOVELTY_BUCKET} THEN 1 ELSE 0 END) AS BIGINT) AS novel_obs,
       CAST(sum(CASE WHEN f.first_doc // {NOVELTY_BUCKET} = s.doc_id // {NOVELTY_BUCKET} THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS novelty_ppm
FROM sh s JOIN first f USING (sh)
GROUP BY 1
"""


QUERIES["doc_ngram_novelty"] = (ngram_novelty_query, _ngram_novelty_sql())

# ---------------------------------------------------------------------------
# TF-IDF distinctive terms per source
# ---------------------------------------------------------------------------

TFIDF_TOP_PER_SOURCE = 5
TFIDF_MIN_TOTAL_TF = 5  # noise floor: a term must occur corpus-wide at least this often


def tfidf_top_terms_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most DISTINCTIVE terms per source — the corpus-linguistics screen for
    "what does this source talk about that the others don't".  Scoring is an
    integer-exact TF-IDF analog: a term's concentration
    ``tf_in_source * 1e6 DIV tf_corpus_wide`` (a term everyone uses scores
    ~its source-share; a term only this source uses scores 1e6), floored by
    a corpus-wide frequency minimum so hapax noise never ranks.

    Scale shape: one (source, term) hash-agg over the token stream
    (map-side partials collapse within-doc repeats), a vocabulary-bounded
    re-agg for corpus totals, a vocab-sized equi-join on the term, and a
    per-source top-k window — WindowGroupLimit pushes the rank filter into
    the shuffle, so only k rows per source survive the exchange.  Nothing
    is ever corpus-row-sized after the first agg; no global sort.
    """
    from ..functions.text import tokens as tok

    stream = load_table(spark, sf_dir, "documents").select(
        "source", F.explode(tok(F.lower(F.trim(F.col("text"))))).alias("t")
    )
    tf = stream.groupBy("source", "t").agg(F.count("*").alias("tf"))
    tot = tf.groupBy("t").agg(
        F.sum("tf").alias("tf_total"), F.count("*").alias("n_sources")
    )
    scored = (
        tf.join(tot, "t")
        .filter(F.col("tf_total") >= TFIDF_MIN_TOTAL_TF)
        .withColumn("conc_ppm", F.expr("CAST(tf * 1000000 DIV tf_total AS BIGINT)"))
    )
    w = Window.partitionBy("source").orderBy(
        F.desc("conc_ppm"), F.desc("tf"), F.asc("t")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TFIDF_TOP_PER_SOURCE)
        .select(
            "source",
            F.col("t").alias("term"),
            F.col("tf").cast("long").alias("tf"),
            F.col("tf_total").cast("long").alias("tf_total"),
            F.col("n_sources").cast("long").alias("n_sources"),
            "conc_ppm",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def _tfidf_sql() -> str:
    return f"""
WITH stream AS (
  SELECT source, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS t FROM documents
), tf AS (
  SELECT source, t, CAST(count(*) AS BIGINT) AS tf FROM stream GROUP BY source, t
), tot AS (
  SELECT t, CAST(sum(tf) AS BIGINT) AS tf_total, CAST(count(*) AS BIGINT) AS n_sources
  FROM tf GROUP BY t
), scored AS (
  SELECT tf.source, tf.t, tf.tf, tot.tf_total, tot.n_sources,
         CAST(tf.tf * 1000000 // tot.tf_total AS BIGINT) AS conc_ppm
  FROM tf JOIN tot USING (t)
  WHERE tot.tf_total >= {TFIDF_MIN_TOTAL_TF}
)
SELECT source, t AS term, tf, tf_total, n_sources, conc_ppm,
       CAST(rank AS BIGINT) AS rank
FROM (SELECT *, row_number() OVER (
        PARTITION BY source ORDER BY conc_ppm DESC, tf DESC, t ASC) AS rank
      FROM scored)
WHERE rank <= {TFIDF_TOP_PER_SOURCE}
"""


QUERIES["doc_tfidf_top_terms"] = (tfidf_top_terms_query, _tfidf_sql())


# ---------------------------------------------------------------------------
# intra-document duplication (self-repetition at the shingle level)
# ---------------------------------------------------------------------------

INTRADOC_DUP_FLAG_PPM = 8_000  # ≥0.8% repeated shingles flags a doc


def _intradoc_dup_cols(text_col: str = "text") -> tuple[Column, Column]:
    """(total shingle count incl. repeats, distinct shingle count) for a
    document — shares the exact shingle construction (k=3, lowercase,
    whitespace split, short-doc fallback) with the dedup family."""
    t = tokens(F.lower(F.trim(F.col(text_col))))
    total = F.when(F.size(t) >= 3, F.size(t) - 2).otherwise(F.lit(1))
    distinct = F.size(shingles(F.trim(F.col(text_col))))
    return total.cast("long"), distinct.cast("long")


def intradoc_dup_stats_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition at the shingle level, aggregated per
    source — the C4/Gopher "repetitious text" screen: a doc whose 3-gram
    stream collapses under dedup is template/looping output, and a SOURCE
    whose mean collapses is a generator, not prose.  ``dup_ppm`` =
    repeated-shingle share of the doc's shingle stream.

    Scale shape: zero-shuffle per-row array expressions (the shingle set is
    built and measured inside one projection; text never leaves its
    partition) feeding a single per-source hash-agg of four counters."""
    d = load_table(spark, sf_dir, "documents")
    total, distinct = _intradoc_dup_cols()
    per = d.select(
        "source", total.alias("n_sh"), distinct.alias("n_distinct")
    ).withColumn(
        "dup_ppm", F.expr("CAST((n_sh - n_distinct) * 1000000 DIV n_sh AS BIGINT)")
    )
    return per.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.expr("CAST(sum(dup_ppm) DIV count(*) AS BIGINT)").alias("mean_dup_ppm"),
        F.max("dup_ppm").cast("long").alias("max_dup_ppm"),
        F.sum(
            F.when(F.col("dup_ppm") >= INTRADOC_DUP_FLAG_PPM, 1).otherwise(0)
        ).cast("long").alias("n_flagged"),
    )


def _intradoc_dup_sql() -> str:
    return f"""
WITH tk AS (
  SELECT source, string_split_regex(trim(lower(text)), '\\s+') AS t FROM documents
), per AS (
  SELECT source,
         CAST(CASE WHEN len(t) >= 3 THEN len(t) - 2 ELSE 1 END AS BIGINT) AS n_sh,
         CAST(len({_shingle_sql_expr()}) AS BIGINT) AS n_distinct
  FROM tk
), d AS (
  SELECT source, CAST((n_sh - n_distinct) * 1000000 // n_sh AS BIGINT) AS dup_ppm FROM per
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(dup_ppm) // count(*) AS BIGINT) AS mean_dup_ppm,
       CAST(max(dup_ppm) AS BIGINT) AS max_dup_ppm,
       CAST(sum(CASE WHEN dup_ppm >= {INTRADOC_DUP_FLAG_PPM} THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
FROM d GROUP BY source
"""


QUERIES["doc_intradoc_dup_stats"] = (intradoc_dup_stats_query, _intradoc_dup_sql())


# ---------------------------------------------------------------------------
# Gopher-style quality rule panel
# ---------------------------------------------------------------------------

GOPHER_MIN_TOK = 25
GOPHER_MAX_TOK = 80
GOPHER_MIN_WORDLEN_MILLI = 3_000   # mean word length in [3.0, 4.6] chars
GOPHER_MAX_WORDLEN_MILLI = 4_600
GOPHER_MIN_STOPWORDS = 2           # Gopher: a real-prose doc has ≥2 stopword hits
GOPHER_MAX_DUP_PPM = 10_000        # ≤1% repeated shingles


def with_gopher_flags(d: DataFrame, text_col: str = "text") -> DataFrame:
    """Append the four per-document Gopher rule flags (``p_len``,
    ``p_wordlen``, ``p_stop``, ``p_rep``) plus their integer intermediates
    to any frame with a text column — the ONE definition of the rule panel,
    shared by the ``doc_gopher_rules`` registry query and the streaming
    corpus store's optional admission screen (``gopher_rules=True``), the
    same single-definition contract as :func:`with_quality_ppm`."""
    text = F.col(text_col)
    t = tokens(F.lower(F.trim(text)))
    total, distinct = _intradoc_dup_cols(text_col)
    return (
        d.withColumn("n_tok", F.size(t).cast("long"))
        .withColumn("nospace", F.length(F.regexp_replace(text, r"\s", "")).cast("long"))
        .withColumn("n_stop", stopword_hits(text).cast("long"))
        .withColumn("n_sh", total)
        .withColumn("n_distinct", distinct)
        .withColumn("wordlen_milli", F.expr("CAST(nospace * 1000 DIV n_tok AS BIGINT)"))
        .withColumn("dup_ppm", F.expr("CAST((n_sh - n_distinct) * 1000000 DIV n_sh AS BIGINT)"))
        .withColumn("p_len", (F.col("n_tok") >= GOPHER_MIN_TOK) & (F.col("n_tok") <= GOPHER_MAX_TOK))
        .withColumn("p_wordlen", (F.col("wordlen_milli") >= GOPHER_MIN_WORDLEN_MILLI)
                    & (F.col("wordlen_milli") <= GOPHER_MAX_WORDLEN_MILLI))
        .withColumn("p_stop", F.col("n_stop") >= GOPHER_MIN_STOPWORDS)
        .withColumn("p_rep", F.col("dup_ppm") <= GOPHER_MAX_DUP_PPM)
    )


def gopher_rules_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule panel (Rae et al. 2021 §A1.1 shape, integer-exact
    thresholds): per-document pass/fail on four independent screens —
    token-count bounds, mean-word-length bounds, minimum stopword evidence,
    and the repetition cap — rolled up per source so the panel reads as
    "which rule would remove how much of which source".  Unlike the scalar
    ``quality_ppm`` blend, each rule stays separately attributable (the
    Gopher paper's point: a blend can't tell you WHY a source is losing
    mass).  The per-doc flags come from :func:`with_gopher_flags`, which the
    streaming corpus store shares as its admission screen.

    Scale shape: every rule is a zero-shuffle per-row expression over the
    token array; one per-source hash-agg of six counters ends the plan."""
    per = with_gopher_flags(load_table(spark, sf_dir, "documents"))
    cnt = lambda c: F.sum(F.when(F.col(c), 1).otherwise(0)).cast("long")  # noqa: E731
    return per.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        cnt("p_len").alias("pass_len"),
        cnt("p_wordlen").alias("pass_wordlen"),
        cnt("p_stop").alias("pass_stop"),
        cnt("p_rep").alias("pass_rep"),
        F.sum(
            F.when(F.col("p_len") & F.col("p_wordlen") & F.col("p_stop") & F.col("p_rep"), 1).otherwise(0)
        ).cast("long").alias("pass_all"),
        F.expr(
            "CAST(sum(CASE WHEN p_len AND p_wordlen AND p_stop AND p_rep THEN 1 ELSE 0 END)"
            " * 1000000 DIV count(*) AS BIGINT)"
        ).alias("pass_all_ppm"),
    )


def _gopher_sql() -> str:
    return f"""
WITH tk AS (
  SELECT source, text, string_split_regex(trim(lower(text)), '\\s+') AS t FROM documents
), per AS (
  SELECT source,
         CAST(len(t) AS BIGINT) AS n_tok,
         CAST(length(regexp_replace(text, '\\s', '', 'g')) AS BIGINT) AS nospace,
         CAST(len(list_filter(t, x -> x IN ({_EN}))) AS BIGINT) AS n_stop,
         CAST(CASE WHEN len(t) >= 3 THEN len(t) - 2 ELSE 1 END AS BIGINT) AS n_sh,
         CAST(len({_shingle_sql_expr()}) AS BIGINT) AS n_distinct
  FROM tk
), flags AS (
  SELECT source,
         n_tok BETWEEN {GOPHER_MIN_TOK} AND {GOPHER_MAX_TOK} AS p_len,
         (nospace * 1000 // n_tok) BETWEEN {GOPHER_MIN_WORDLEN_MILLI} AND {GOPHER_MAX_WORDLEN_MILLI} AS p_wordlen,
         n_stop >= {GOPHER_MIN_STOPWORDS} AS p_stop,
         ((n_sh - n_distinct) * 1000000 // n_sh) <= {GOPHER_MAX_DUP_PPM} AS p_rep
  FROM per
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN p_len THEN 1 ELSE 0 END) AS BIGINT) AS pass_len,
       CAST(sum(CASE WHEN p_wordlen THEN 1 ELSE 0 END) AS BIGINT) AS pass_wordlen,
       CAST(sum(CASE WHEN p_stop THEN 1 ELSE 0 END) AS BIGINT) AS pass_stop,
       CAST(sum(CASE WHEN p_rep THEN 1 ELSE 0 END) AS BIGINT) AS pass_rep,
       CAST(sum(CASE WHEN p_len AND p_wordlen AND p_stop AND p_rep THEN 1 ELSE 0 END) AS BIGINT) AS pass_all,
       CAST(sum(CASE WHEN p_len AND p_wordlen AND p_stop AND p_rep THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS pass_all_ppm
FROM flags GROUP BY source
"""


QUERIES["doc_gopher_rules"] = (gopher_rules_query, _gopher_sql())


# ---------------------------------------------------------------------------
# language-ID confusion matrix (labeled lang vs n-gram heuristic prediction)
# ---------------------------------------------------------------------------

def lang_confusion_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the stopword-argmax language identifier against
    the corpus's LABELED ``lang`` column — the classifier audit that says
    which language pairs the heuristic confuses and how much of each
    labeled slice survives a predicted-language filter (``recall_ppm``).
    The scalar ``doc_lang_id`` emits per-doc predictions; this rolls them
    into the decision-grade matrix.

    Scale shape: prediction is a zero-shuffle CASE chain over per-language
    stopword counts; one (lang, lang_pred) hash-agg (≤|langs|² keys) plus a
    per-lang re-agg joined back — bounded output, nothing corpus-sized
    after the scan."""
    d = load_table(spark, sf_dir, "documents")
    pred = d.select("lang", lang_id(F.col("text")).alias("lang_pred"))
    cm = pred.groupBy("lang", "lang_pred").agg(F.count("*").cast("long").alias("n_docs"))
    tot = cm.groupBy("lang").agg(F.sum("n_docs").alias("lang_total"))
    return cm.join(tot, "lang").select(
        "lang",
        "lang_pred",
        "n_docs",
        F.col("lang_total").cast("long").alias("lang_total"),
        F.expr("CAST(n_docs * 1000000 DIV lang_total AS BIGINT)").alias("recall_ppm"),
    )


def _lang_confusion_sql() -> str:
    hits, case = _lang_pred_sql_parts()
    return f"""
WITH h AS (
  SELECT lang,
         {hits}
  FROM documents
), pred AS (
  SELECT lang, CASE {case} END AS lang_pred FROM h
), cm AS (
  SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n_docs FROM pred GROUP BY lang, lang_pred
), tot AS (
  SELECT lang, CAST(sum(n_docs) AS BIGINT) AS lang_total FROM cm GROUP BY lang
)
SELECT cm.lang, cm.lang_pred, cm.n_docs, tot.lang_total,
       CAST(cm.n_docs * 1000000 // tot.lang_total AS BIGINT) AS recall_ppm
FROM cm JOIN tot USING (lang)
"""


QUERIES["doc_lang_confusion"] = (lang_confusion_query, _lang_confusion_sql())


# ---------------------------------------------------------------------------
# MinHash estimator-error audit (estimate vs exact Jaccard on candidates)
# ---------------------------------------------------------------------------

def minhash_est_error_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy audit for the MinHash pipeline (the ``doc_token_cms``
    pattern applied to the dedup sketch): for every LSH candidate pair,
    the signature-match ESTIMATE of Jaccard (matching components / num
    hashes) next to the EXACT shingle-set Jaccard, plus the absolute error
    — the measurement that justifies (or indicts) the 8-hash budget.

    Scale shape: identical to the near-dup pair query — candidates from the
    band equi-join only (never all-pairs), shingle arrays re-joined for the
    exact side (the stage boundary minhash_signatures already materializes);
    the estimate adds a zip_with fold over the 8-component signatures."""
    docs = load_table(spark, sf_dir, "documents")
    # materialize=False: same leak-class rule as minhash_pairs_query above
    sigs = minhash_signatures(docs, num_hashes=NUM_HASHES, shingle_k=SHINGLE_K, materialize=False)
    cands = minhash_lsh_candidates(sigs, num_hashes=NUM_HASHES, band_size=BAND_SIZE)
    side = lambda suf: sigs.select(  # noqa: E731
        F.col("doc_id").alias(f"id_{suf}"),
        F.col("shingles").alias(f"sh_{suf}"),
        F.col("sig").alias(f"sig_{suf}"),
    )
    j = (
        cands.join(side("a"), "id_a")
        .join(side("b"), "id_b")
        .withColumn(
            "est_matches",
            F.expr("aggregate(zip_with(sig_a, sig_b, (x, y) -> CASE WHEN x = y THEN 1L ELSE 0L END), 0L, (acc, m) -> acc + m)"),
        )
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")).cast("long"))
        .withColumn("uni", F.size(F.array_union("sh_a", "sh_b")).cast("long"))
        .withColumn("est_ppm", F.expr(f"CAST(est_matches * 1000000 DIV {NUM_HASHES} AS BIGINT)"))
        .withColumn("exact_ppm", F.expr("CAST(inter * 1000000 DIV uni AS BIGINT)"))
    )
    return j.select(
        "id_a",
        "id_b",
        "est_ppm",
        "exact_ppm",
        F.expr("CAST(abs(est_ppm - exact_ppm) AS BIGINT)").alias("abs_err_ppm"),
    )


def _minhash_est_error_sql() -> str:
    return f"""
WITH {_minhash_cand_ctes()}, pairs AS (
  SELECT id_a, id_b,
         CAST(list_sum(list_transform(range({NUM_HASHES}), i -> CASE WHEN x.sig[i+1] = y.sig[i+1] THEN 1 ELSE 0 END)) AS BIGINT) AS est_matches,
         CAST(len(list_intersect(x.sh, y.sh)) AS BIGINT) AS inter,
         CAST(len(list_distinct(list_concat(x.sh, y.sh))) AS BIGINT) AS uni
  FROM cand JOIN sg x ON x.doc_id = id_a JOIN sg y ON y.doc_id = id_b
)
SELECT id_a, id_b,
       CAST(est_matches * 1000000 // {NUM_HASHES} AS BIGINT) AS est_ppm,
       CAST(inter * 1000000 // uni AS BIGINT) AS exact_ppm,
       CAST(abs(est_matches * 1000000 // {NUM_HASHES} - inter * 1000000 // uni) AS BIGINT) AS abs_err_ppm
FROM pairs
"""


QUERIES["dedup_minhash_est_error"] = (minhash_est_error_query, _minhash_est_error_sql())


# ---------------------------------------------------------------------------
# PageRank centrality over the near-dup pair graph
# ---------------------------------------------------------------------------

PR_ITERS = 2


def pair_pagerank_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hub detection in the near-dup graph: fixed-point PageRank
    (``operators.dedup.pair_pagerank``) over the thresholded MinHash pair
    edges — ranks the template/boilerplate EPICENTERS that component size
    alone can't distinguish from long chains.  Two unrolled iterations,
    integer-exact; the oracle replays the identical recurrence in SQL.

    The edges come from the memoized pair stage
    (:func:`minhash_pair_stage`); the two unrolled PageRank iterations
    (the query's own computation) still execute live."""
    from ..operators.dedup import pair_pagerank

    pairs = minhash_pair_stage(spark, sf_dir)
    return pair_pagerank(pairs, iters=PR_ITERS).select(
        F.col("node").alias("doc_id"), "deg", F.col("pr").alias("pr_micro")
    )


def _pair_pagerank_sql() -> str:
    pair_sql = _minhash_sql().strip()
    scale, dn, dd = 1_000_000, 85, 100
    base = scale * (dd - dn) // dd
    parts = [
        f"np AS ({pair_sql})",
        "edges AS (SELECT id_a AS src, id_b AS dst FROM np UNION SELECT id_b, id_a FROM np)",
        "deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src)",
        f"pr0 AS (SELECT src AS node, CAST({scale} AS BIGINT) AS pr FROM deg)",
    ]
    for t in range(1, PR_ITERS + 1):
        parts.append(
            f"""c{t} AS (
  SELECT e.dst, CAST(SUM(p.pr // d.deg) AS BIGINT) AS s
  FROM edges e JOIN deg d ON d.src = e.src JOIN pr{t - 1} p ON p.node = e.src
  GROUP BY e.dst
)"""
        )
        parts.append(
            f"pr{t} AS (SELECT dst AS node, CAST({base} + {dn} * s // {dd} AS BIGINT) AS pr FROM c{t})"
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT p.node AS doc_id, d.deg, p.pr AS pr_micro
FROM pr{PR_ITERS} p JOIN deg d ON d.src = p.node
"""
    )


QUERIES["dedup_pair_pagerank"] = (pair_pagerank_query, _pair_pagerank_sql())




# ---------------------------------------------------------------------------
# Edit-distance verification of LSH candidates (levenshtein, JVM built-in)
# ---------------------------------------------------------------------------

LEV_PREFIX = 80     # chars of normalized text compared (bounds the O(n·m) DP)
LEV_MAX_DIST = 24   # emit pairs at or under this distance


def edit_distance_pairs_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level near-dup verification: LSH band candidates scored by
    LEVENSHTEIN distance over the first ``LEV_PREFIX`` chars of the
    whitespace-normalized text — the edit-distance lens catches
    insertions/typo variants that token-set Jaccard dilutes (one edited
    word flips three shingles), and the prefix cap bounds the O(n·m) DP
    row cost to a constant.  Both engines' ``levenshtein`` is the classic
    unit-cost DP, so the distance is engine-exact.

    Scale shape: identical to every candidate verifier here — the DP runs
    only on the band equi-join's survivors, never all pairs."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs, num_hashes=NUM_HASHES, shingle_k=SHINGLE_K, materialize=False)
    cands = minhash_lsh_candidates(sigs, num_hashes=NUM_HASHES, band_size=BAND_SIZE)
    norm = F.substring(F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), 1, LEV_PREFIX)
    t = docs.select("doc_id", norm.alias("nt"))
    j = (
        cands.join(t.select(F.col("doc_id").alias("id_a"), F.col("nt").alias("ta")), "id_a")
        .join(t.select(F.col("doc_id").alias("id_b"), F.col("nt").alias("tb")), "id_b")
        .withColumn("edit_dist", F.levenshtein(F.col("ta"), F.col("tb")).cast("long"))
        .filter(F.col("edit_dist") <= LEV_MAX_DIST)
    )
    return j.select("id_a", "id_b", "edit_dist")


def _edit_distance_sql() -> str:
    return f"""
WITH {_minhash_cand_ctes()}, t AS (
  SELECT doc_id, substr(regexp_replace(lower(trim(text)), '\\\\s+', ' ', 'g'), 1, {LEV_PREFIX}) AS nt
  FROM documents
)
SELECT c.id_a, c.id_b, CAST(levenshtein(a.nt, b.nt) AS BIGINT) AS edit_dist
FROM cand c JOIN t a ON a.doc_id = c.id_a JOIN t b ON b.doc_id = c.id_b
WHERE levenshtein(a.nt, b.nt) <= {LEV_MAX_DIST}
"""


QUERIES["dedup_edit_distance_pairs"] = (edit_distance_pairs_query, _edit_distance_sql())


# ---------------------------------------------------------------------------
# Dedup attribution per source (which feed loses how much to near-dup)
# ---------------------------------------------------------------------------

def dedup_rate_by_source_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup survivorship PER SOURCE: the transitive-closure keep/drop
    verdict (``dedup_connected_components``) joined back to the source
    column and aggregated — the attribution that turns a corpus-wide dedup
    rate into a per-feed decision (a feed losing half its mass to
    duplicates is a mirror; one losing nothing may be under-crawled).
    Complements ``doc_gopher_rules``' quality attribution with the dedup
    axis.

    Scale shape: the closure inherits the edge-set-sized CC rounds; the
    attribution adds one doc_id equi-join and a ≤|sources|-key agg."""
    docs = load_table(spark, sf_dir, "documents")
    verdicts = dedup_cc_query(spark, sf_dir)
    j = verdicts.join(docs.select("doc_id", "source"), "doc_id")
    return j.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("is_duplicate"), 1).otherwise(0)).cast("long").alias("n_dups"),
        F.expr(
            "CAST(sum(CASE WHEN is_duplicate THEN 1 ELSE 0 END) * 1000000 DIV count(*) AS BIGINT)"
        ).alias("dup_ppm"),
    )


def _dedup_rate_by_source_sql() -> str:
    cc_sql = _dedup_cc_sql().strip()
    # the closure query already carries WITH RECURSIVE — nest it whole
    return f"""
WITH verdicts AS ({cc_sql})
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN v.is_duplicate THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
       CAST(sum(CASE WHEN v.is_duplicate THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS dup_ppm
FROM verdicts v JOIN documents d USING (doc_id)
GROUP BY d.source
"""


QUERIES["dedup_rate_by_source"] = (dedup_rate_by_source_query, _dedup_rate_by_source_sql())


# ---------------------------------------------------------------------------
# Document-length percentiles per source (the curation length profile)
# ---------------------------------------------------------------------------

_LEN_PCTS = (50, 90, 99)


def length_percentiles_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact nearest-rank p50/p90/p99 of token length PER SOURCE — the
    length profile every curation decision references (truncation budget,
    packing bin size, the Gopher length bounds) computed the scale-safe
    way: the shared bucketed rank selection
    (``events_ops._exact_rank_values``), which never funnels a source's
    rows through one task's sort.

    Scale shape: one zero-shuffle length projection, then the selection's
    three bounded passes (per-source stats, ≤sources×B bucket histogram,
    candidate-bucket ranking)."""
    from .events_ops import _exact_rank_values

    d = load_table(spark, sf_dir, "documents").select(
        "source", n_tokens(F.col("text")).cast("long").alias("n_tok")
    )
    ranks = {f"p{p}_tok": f"(n * {p} + 99) div 100" for p in _LEN_PCTS}
    return _exact_rank_values(d, "n_tok", ranks, group_col="source").select(
        "source", "n", *[f"p{p}_tok" for p in _LEN_PCTS]
    )


def _length_percentiles_sql() -> str:
    picks = ",\n       ".join(
        f"CAST(MAX(CASE WHEN rn = (n * {p} + 99) // 100 THEN n_tok END) AS BIGINT) AS p{p}_tok"
        for p in _LEN_PCTS
    )
    return f"""
WITH d AS (
  SELECT source, CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tok FROM documents
), c AS (
  SELECT source, COUNT(*) AS n FROM d GROUP BY source
), r AS (
  SELECT d.source, d.n_tok, c.n,
         row_number() OVER (PARTITION BY d.source ORDER BY d.n_tok) AS rn
  FROM d JOIN c USING (source)
)
SELECT source, CAST(MAX(n) AS BIGINT) AS n,
       {picks}
FROM r GROUP BY source
"""


QUERIES["doc_length_percentiles"] = (length_percentiles_query, _length_percentiles_sql())


# ---------------------------------------------------------------------------
# Zipf bucket histogram, tokenizer fertility, benchmark-side contamination
# (round 9)
# ---------------------------------------------------------------------------


def zipf_bucket_hist_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary Zipf diagnostic: every distinct token's corpus frequency
    is dropped into a power-of-two bucket (bucket = ⌊log2 freq⌋ + 1 =
    binary digit count — exact integer math on both engines, no float log),
    and each bucket reports its type count and total token mass.  A healthy
    natural-language corpus shows the Zipf signature (type counts falling
    ~geometrically with the bucket, the head buckets carrying most mass);
    a synthetic or template-heavy corpus bends it — the cheap screen run
    before spending tokenizer-training budget.

    Scale shape: explode → vocabulary-bounded hash count (map-side
    partials) → ≤64-key bucket agg.  Nothing after the first agg is
    corpus-row-sized."""
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(tokens(F.lower(F.trim(F.col("text"))))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )
    return (
        counts.withColumn("bucket", F.length(F.bin(F.col("n"))).cast("long"))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_types"),
            F.sum("n").alias("tok_mass"),
        )
    )


def _zipf_bucket_sql() -> str:
    return r"""
WITH tok AS (
  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
  FROM documents
),
counts AS (SELECT token, COUNT(*) AS n FROM tok GROUP BY token)
SELECT CAST(length(bin(n)) AS BIGINT) AS bucket,
       COUNT(*) AS n_types,
       CAST(SUM(n) AS BIGINT) AS tok_mass
FROM counts GROUP BY bucket
"""


QUERIES["doc_zipf_bucket_hist"] = (zipf_bucket_hist_query, _zipf_bucket_sql())


def token_fertility_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per source: BPE tokens emitted per whitespace
    word (ppm) — the standard figure for how well a tokenizer fits a
    corpus slice (fertility near 1 token/word = efficient; high fertility
    = the tokenizer fragments that source and its documents cost more
    sequence budget than their text warrants).  Uses the repo's toy-BPE
    merge chain (functions.text.bpe_token_count) against the whitespace
    count, both already oracle-pinned.

    Scale shape: one zero-shuffle projection computing both counts per
    document inside codegen, then a single ≤|sources|-key hash agg."""
    from ..functions.text import bpe_token_count

    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "source",
        n_tokens(F.col("text")).alias("ws"),
        bpe_token_count(F.col("text")).alias("bpe"),
    )
    return per_doc.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("ws").alias("ws_tokens"),
        F.sum("bpe").alias("bpe_tokens"),
        F.expr("sum(bpe) * 1000000 DIV greatest(sum(ws), 1)").alias("fertility_ppm"),
    )


def _token_fertility_sql() -> str:
    from ..functions.text import bpe_count_sql_expr

    bpe = bpe_count_sql_expr("text")
    return rf"""
WITH per_doc AS (
  SELECT source,
         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS ws,
         {bpe} AS bpe
  FROM documents
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(ws) AS BIGINT) AS ws_tokens,
       CAST(SUM(bpe) AS BIGINT) AS bpe_tokens,
       CAST(SUM(bpe) * 1000000 // GREATEST(SUM(ws), 1) AS BIGINT) AS fertility_ppm
FROM per_doc GROUP BY source
"""


QUERIES["doc_token_fertility"] = (token_fertility_query, _token_fertility_sql())


def contamination_by_bench_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-side contamination attribution: for every held-out
    benchmark item (``doc_id % DECON_BENCH_MOD == 0``, the same stand-in
    split as ``doc_decontaminate``), how many TRAINING documents share a
    word 3-shingle with it and how many of its shingles are compromised —
    the report an eval owner reads (which eval items are burned?), where
    ``doc_decontaminate`` answers the trainer's side (which docs to drop?).
    Zero-overlap items are included: a clean benchmark row is part of the
    contract.

    Scale shape: mirror of the decontaminate join — the DISTINCT
    benchmark shingle set is benchmark-bounded, the equi-join against
    training shingles costs collisions only, and both aggregates are keyed
    by benchmark doc (benchmark-sized output)."""
    docs = load_table(spark, sf_dir, "documents")
    is_bench = (F.col("doc_id") % DECON_BENCH_MOD) == 0
    sh = docs.select(
        "doc_id", is_bench.alias("bench"), F.explode(shingles(F.col("text"))).alias("s")
    )
    bench_sh = sh.filter(F.col("bench")).select(F.col("doc_id").alias("bench_id"), "s").distinct()
    train_sh = sh.filter(~F.col("bench")).select(F.col("doc_id").alias("train_id"), "s").distinct()
    hits = bench_sh.join(train_sh, "s").groupBy("bench_id").agg(
        F.count_distinct("train_id").alias("n_contaminating_docs"),
        F.count_distinct("s").alias("n_shared_shingles"),
    )
    return (
        docs.filter(is_bench)
        .select(F.col("doc_id").alias("bench_id"))
        .join(hits, "bench_id", "left")
        .select(
            "bench_id",
            F.coalesce(F.col("n_contaminating_docs"), F.lit(0)).cast("long").alias("n_contaminating_docs"),
            F.coalesce(F.col("n_shared_shingles"), F.lit(0)).cast("long").alias("n_shared_shingles"),
        )
    )


def _contamination_by_bench_sql() -> str:
    return f"""
WITH tk AS (
  SELECT doc_id, doc_id % {DECON_BENCH_MOD} = 0 AS bench,
         string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM documents
),
shn AS (
  SELECT doc_id, bench, unnest({_shingle_sql_expr()}) AS s FROM tk
),
bench_sh AS (SELECT DISTINCT doc_id AS bench_id, s FROM shn WHERE bench),
train_sh AS (SELECT DISTINCT doc_id AS train_id, s FROM shn WHERE NOT bench),
hits AS (
  SELECT bench_id,
         COUNT(DISTINCT train_id) AS n_contaminating_docs,
         COUNT(DISTINCT s) AS n_shared_shingles
  FROM bench_sh JOIN train_sh USING (s)
  GROUP BY bench_id
)
SELECT d.doc_id AS bench_id,
       CAST(COALESCE(h.n_contaminating_docs, 0) AS BIGINT) AS n_contaminating_docs,
       CAST(COALESCE(h.n_shared_shingles, 0) AS BIGINT) AS n_shared_shingles
FROM documents d LEFT JOIN hits h ON h.bench_id = d.doc_id
WHERE d.doc_id % {DECON_BENCH_MOD} = 0
"""


QUERIES["doc_contamination_by_bench"] = (
    contamination_by_bench_query,
    _contamination_by_bench_sql(),
)


# ---------------------------------------------------------------------------
# Quality-classifier calibration (lift table) and unigram-LM surprisal screen
# (round 10)
# ---------------------------------------------------------------------------

# Hard ceiling on the calibration lift table's driver-side materialization:
# 11 deciles × a sane source vocabulary.  `source` is data-derived, so this
# is an asserted precondition, not a structural bound (r11, ADVICE r10).
CALIB_MAX_CELLS = 4096


def quality_calibration_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-classifier CALIBRATION: the (score-decile × source) lift
    table — for every decile of the shared quality_ppm formula, each
    source's share of that decile divided by its corpus-wide base rate, in
    ppm.  lift > 1e6 means the classifier over-selects that source at that
    score band; a flat-lift classifier is source-neutral and its threshold
    moves token mixture the way ``doc_mixture_plan`` assumes — the check a
    curation pipeline runs BEFORE trusting a quality cut (the classifier
    may be a proxy for source, not quality).

    All ratios stay in bounded ppm space (share_ppm and base_ppm are each
    ≤ 1e6, lift multiplies ppm × 1e6 ≤ 1e12) so the integer math never
    outgrows int64 at ANY corpus size — a direct n_docs·n_total product
    would overflow at ~1e12 documents.

    Scale shape: ONE corpus scan into the (decile, source) hash-agg
    (≤ 11·|sources| rows), which is driver-materialized (bounded by
    construction) because FOUR downstream branches re-aggregate it — live
    lineage would re-run the corpus scan once per branch (the r8
    lazy-subtree double-execution class).  Everything after the first agg
    is constant-sized."""
    scored = with_quality_ppm(load_table(spark, sf_dir, "documents"))
    bs = (
        scored.select("source", F.expr("CAST(quality_ppm DIV 100000 AS BIGINT)").alias("decile"))
        .groupBy("decile", "source")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )
    # The collect is bounded by 11 deciles × |sources| — but `source` is
    # data-derived, not an enum, so a pathological corpus (per-doc source
    # strings) would scale this collect AND the downstream broadcast with
    # the data (the r9 uncapped-K class).  The LIMIT bounds the fetch
    # itself (an unbounded collect would OOM the driver BEFORE a
    # post-collect length check could fire — r11 review), so the guard is
    # protective at any cardinality: a corpus with >CALIB_MAX (decile,
    # source) cells needs a coarser source rollup first.
    rows = bs.limit(CALIB_MAX_CELLS + 1).collect()
    if len(rows) > CALIB_MAX_CELLS:
        raise ValueError(
            f"quality_calibration: over {CALIB_MAX_CELLS} (decile, source) cells "
            f"(CALIB_MAX_CELLS); roll sources up before calibrating"
        )
    bs = spark.createDataFrame(rows, bs.schema)
    per_decile = bs.groupBy("decile").agg(F.sum("n_docs").alias("n_decile"))
    per_source = bs.groupBy("source").agg(F.sum("n_docs").alias("n_source"))
    total = bs.agg(F.sum("n_docs").alias("n_total"))
    return (
        bs.join(per_decile, "decile")
        .join(per_source, "source")
        .crossJoin(F.broadcast(total))
        .select(
            "decile",
            "source",
            "n_docs",
            F.expr("CAST(n_docs * 1000000 DIV n_decile AS BIGINT)").alias("share_ppm"),
            F.expr("CAST(n_source * 1000000 DIV n_total AS BIGINT)").alias("base_ppm"),
            # GREATEST(base, 1): a source under 1-ppm corpus share floors
            # base_ppm to 0 — DuckDB // would error, Spark DIV would NULL
            F.expr(
                "CAST((n_docs * 1000000 DIV n_decile) * 1000000 DIV "
                "greatest(n_source * 1000000 DIV n_total, 1) AS BIGINT)"
            ).alias("lift_ppm"),
        )
    )


def _quality_decile_ctes(key_col: str, src: str = "documents") -> str:
    """The DuckDB quality-decile chain (base/ppm/q CTEs) keyed by
    ``key_col`` — the SQL twin of ``with_quality_ppm`` + decile bucketing,
    shared by the source-lift calibration and the bigram×quality
    cross-tab so the formula can't drift between them.  ``src`` names the
    table/CTE to read (the planted LM-gate corpus; ``documents``
    default)."""
    return f"""base AS (
  SELECT {key_col},
         len(string_split_regex(trim(text), '\\s+')) AS n_tok,
         len(list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x IN ({_EN}))) AS n_stop,
         length(text) - length(regexp_replace(text, '{PUNCT_PATTERN_SQL}', '', 'g')) AS n_punct,
         length(text) AS n_chars
  FROM {src}
), ppm AS (
  SELECT {key_col},
         CAST(n_stop * 1000000 // n_tok AS BIGINT) AS stop_ppm,
         CAST(n_punct * 1000000 // n_chars AS BIGINT) AS punct_ppm,
         least(CAST(n_tok AS BIGINT) * 10000, 1000000) AS len_term_ppm
  FROM base
), q AS (
  SELECT {key_col},
         CAST((4 * len_term_ppm + 4 * stop_ppm + 2 * (1000000 - punct_ppm)) // 10 // 100000 AS BIGINT) AS decile
  FROM ppm
)"""


def _quality_calibration_sql() -> str:
    return f"""
WITH {_quality_decile_ctes("source")}, bs AS (
  SELECT decile, source, CAST(count(*) AS BIGINT) AS n_docs FROM q GROUP BY decile, source
), pd AS (SELECT decile, SUM(n_docs) AS n_decile FROM bs GROUP BY decile),
ps AS (SELECT source, SUM(n_docs) AS n_source FROM bs GROUP BY source),
tot AS (SELECT SUM(n_docs) AS n_total FROM bs)
SELECT bs.decile, bs.source, bs.n_docs,
       CAST(bs.n_docs * 1000000 // pd.n_decile AS BIGINT) AS share_ppm,
       CAST(ps.n_source * 1000000 // tot.n_total AS BIGINT) AS base_ppm,
       CAST((bs.n_docs * 1000000 // pd.n_decile) * 1000000 //
            GREATEST(ps.n_source * 1000000 // tot.n_total, 1) AS BIGINT) AS lift_ppm
FROM bs JOIN pd USING (decile) JOIN ps USING (source), tot
"""


QUERIES["doc_quality_calibration"] = (quality_calibration_query, _quality_calibration_sql())


def unigram_surprisal_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM surprisal screen per source: train the simplest LM the
    corpus itself defines (unigram frequencies), score every token
    occurrence by its INTEGER surprisal — bitlen(T ÷ freq) =
    ⌊log2(T/freq)⌋ + 1 bits, the dyadic surrogate for −log2 p(token) that
    both engines compute bit-identically via ``length(bin(·))`` (no float
    log) — and report each source's mean bits-per-token in milli-bits.
    Low mean = template/boilerplate-heavy slice (mass on corpus-common
    tokens); high mean = rare-token-heavy slice (OCR noise, code, non-text)
    — the perplexity-style screen run next to ``doc_token_fertility``
    before spending training budget on a source.

    Scale shape: explode → vocabulary-bounded frequency agg; scoring is
    the corpus-occurrence ⋈ vocabulary equi-join on token (collision cost
    only, the TF-IDF shape); final agg is ≤ |sources| keys.  The 1-row
    total T is DRIVER-MATERIALIZED and inlined as a literal (the
    bounded-frame idiom): left in-plan it fans the freq subtree into two
    branches, re-running the vocabulary agg and adding a third corpus scan
    per action (the r8 lazy-subtree double-execution class — caught by the
    r10 plan-capture review).  Eager like the trained families: the total
    runs at construction time."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(tokens(F.lower(F.trim(F.col("text"))))).alias("token"))
    freq = tok.groupBy("token").agg(F.count("*").alias("n"))
    # sum over zero rows is NULL, not 0 — an empty documents table must
    # return an empty frame like every other registry query, not TypeError
    t_raw = freq.agg(F.sum("n")).head()[0]
    if t_raw is None:
        return spark.createDataFrame(
            [], "source string, n_tokens bigint, sum_bits bigint, mean_surprisal_mbits bigint"
        )
    t = int(t_raw)
    scored = tok.join(freq, "token").withColumn(
        "bits", F.length(F.bin(F.expr(f"{t} DIV n"))).cast("long")
    )
    return scored.groupBy("source").agg(
        F.count("*").alias("n_tokens"),
        F.sum("bits").alias("sum_bits"),
        F.expr("CAST(sum(bits) * 1000 DIV count(*) AS BIGINT)").alias("mean_surprisal_mbits"),
    )


def _unigram_surprisal_sql() -> str:
    return r"""
WITH tok AS (
  SELECT source, unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
  FROM documents
),
freq AS (SELECT token, COUNT(*) AS n FROM tok GROUP BY token),
tot AS (SELECT SUM(n) AS t FROM freq),
scored AS (
  SELECT tok.source, CAST(length(bin(tot.t // freq.n)) AS BIGINT) AS bits
  FROM tok JOIN freq USING (token), tot
)
SELECT source, COUNT(*) AS n_tokens, CAST(SUM(bits) AS BIGINT) AS sum_bits,
       CAST(SUM(bits) * 1000 // COUNT(*) AS BIGINT) AS mean_surprisal_mbits
FROM scored GROUP BY source
"""


QUERIES["doc_unigram_surprisal"] = (unigram_surprisal_query, _unigram_surprisal_sql())


def _bigram_occurrences(docs: DataFrame, key_col: str) -> DataFrame:
    """Within-document bigram occurrences keyed by ``key_col`` — the ONE
    definition of the bigram extraction (tokens → adjacent (prev, tok)
    pairs via a transform over the token array; bigrams never leave the
    document), shared by the per-source surprisal screen and the
    quality×surprisal calibration so the two can't drift."""
    tk = docs.select(key_col, tokens(F.lower(F.trim(F.col("text")))).alias("t"))
    return tk.select(
        key_col,
        F.explode(
            F.expr(
                "transform(slice(t, 1, greatest(size(t) - 1, 0)),"
                " (x, i) -> struct(x AS prev, t[i + 1] AS tok))"
            )
        ).alias("bg"),
    ).select(key_col, F.col("bg.prev").alias("prev"), F.col("bg.tok").alias("tok"))


def _bigram_freq_marg(occ: DataFrame) -> DataFrame:
    """(prev, tok, n2, n1) — the bigram-vocabulary table with BOTH the pair
    count and the prev-marginal in one subtree (round 14, guide §2.4):
    n1 = sum(n2) over (partition by prev) is value-identical to the old
    separate ``freq.groupBy(prev).agg(sum(n2))`` frame joined back on
    prev, but as a window over the vocab-bounded freq table it shares
    freq's lineage instead of re-deriving the corpus scan + tokenize +
    explode + agg a second time — one corpus subtree per query instead of
    two, for every bigram-LM consumer (surprisal, calibration, both LM
    gates).  The window's exchange is on the vocab-bounded freq rows,
    the same bytes the old marginal agg exchanged."""
    freq = occ.groupBy("prev", "tok").agg(F.count("*").alias("n2"))
    return freq.withColumn("n1", F.sum("n2").over(Window.partitionBy("prev")))


def _bigram_occ_sql(key_col: str, src: str = "documents") -> str:
    """The DuckDB twin of :func:`_bigram_occurrences` (tk + occ CTEs).
    ``src`` names the table/CTE to read (round 14: the planted LM-gate
    corpus reads a derived ``corpus`` CTE; every other caller keeps the
    ``documents`` default)."""
    return rf"""tk AS (
  SELECT {key_col}, string_split_regex(trim(lower(text)), '\s+') AS t FROM {src}
),
occ AS (
  SELECT {key_col}, t[i] AS prev, t[i+1] AS tok
  FROM tk, unnest(range(1, len(t))) AS u(i)
)"""


def bigram_surprisal_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM CONDITIONAL surprisal screen per source (round 11 — the
    natural upgrade of ``doc_unigram_surprisal``): train the corpus's own
    bigram LM (within-document (prev, tok) adjacency counts), score every
    bigram occurrence by its integer conditional surprisal —
    bitlen(n(prev) ÷ n(prev, tok)) = ⌊log2(1/p(tok|prev))⌋ + 1 bits, the
    same dyadic ``length(bin(·))`` surrogate both engines compute
    bit-identically — and report each source's mean bits-per-bigram in
    milli-bits.  Where the unigram screen flags rare-TOKEN slices, this
    one flags rare-TRANSITION slices: shuffled/templated text scores high
    even when its token inventory is ordinary (the n-gram LM fact the
    screen exploits), and boilerplate scores near the 1-bit floor.

    Scale shape: bigrams never leave the document (a transform over the
    token array — no window, no self-join); the frequency agg is
    observed-bigram-bounded (≤ corpus bigram vocabulary, not corpus
    size); the prev-marginal is a second agg OVER THE FREQUENCY TABLE
    (vocab-bounded input, so the "the"-row hot key costs one combine);
    scoring is the occurrence ⋈ bigram-vocabulary equi-join (collision
    cost, the unigram/TF-IDF shape) plus a vocab-bounded marginal join.
    Fully LAZY — the conditional form needs no corpus-total scalar, so
    unlike the unigram screen there is no eager driver-materialized
    total."""
    docs = load_table(spark, sf_dir, "documents")
    occ = _bigram_occurrences(docs, "source")
    scored = (
        occ.join(_bigram_freq_marg(occ), ["prev", "tok"])
        .withColumn("bits", F.length(F.bin(F.expr("n1 DIV n2"))).cast("long"))
    )
    return scored.groupBy("source").agg(
        F.count("*").alias("n_bigrams"),
        F.sum("bits").alias("sum_bits"),
        F.expr("CAST(sum(bits) * 1000 DIV count(*) AS BIGINT)").alias("mean_surprisal_mbits"),
    )


def _bigram_surprisal_sql() -> str:
    return f"""
WITH {_bigram_occ_sql("source")},
freq AS (SELECT prev, tok, COUNT(*) AS n2 FROM occ GROUP BY prev, tok),
marg AS (SELECT prev, CAST(SUM(n2) AS BIGINT) AS n1 FROM freq GROUP BY prev),
scored AS (
  SELECT o.source, CAST(length(bin(m.n1 // f.n2)) AS BIGINT) AS bits
  FROM occ o JOIN freq f USING (prev, tok) JOIN marg m USING (prev)
)
SELECT source, COUNT(*) AS n_bigrams, CAST(SUM(bits) AS BIGINT) AS sum_bits,
       CAST(SUM(bits) * 1000 // COUNT(*) AS BIGINT) AS mean_surprisal_mbits
FROM scored GROUP BY source
"""


QUERIES["doc_bigram_surprisal"] = (bigram_surprisal_query, _bigram_surprisal_sql())


def bigram_quality_calibration_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-blend × bigram-LM cross-calibration (round 12 — VERDICT r11
    optional c): every document scored BOTH by the heuristic quality blend
    (``with_quality_ppm``, decile-bucketed — the formula the curation
    pipeline's budget cut trusts) and by the corpus's own bigram LM (mean
    integer conditional surprisal per bigram, whole-bit bands), then the
    (decile × band) cross-tab with share and lift — the check that the
    cheap blend and the LM screen AGREE before a curator relies on either:
    lift ≫ 1e6 in (low decile, low band) means the blend's rejects are
    boilerplate the LM also flags (redundant signals, either suffices);
    high-decile mass in extreme bands means the blend passes text the LM
    calls noise (orthogonal signals — gate on both).

    Scale shape: the bigram side is the ``doc_bigram_surprisal`` machinery
    (shared ``_bigram_occurrences`` extraction: vocab-bounded freq/marginal
    aggs, occurrence ⋈ vocabulary collision joins) with a per-DOC mean in
    place of the per-source one; the quality side is one more corpus scan
    of the shared formula; they meet in a narrow doc_id equi-join.  The
    cross-tab is DOMAIN-bounded — decile ≤ 10 (ppm space), band ≤ 64
    (bitlen of an int64 ratio) — so the collect/rebroadcast needs no cap
    guard (unlike the source-keyed calibration, whose key is data-derived)
    and the four downstream re-aggregations run on a ≤11·65-row
    driver-materialized frame, never the corpus (the r8 lazy-subtree
    class).  Documents with fewer than two tokens have no bigrams and drop
    from the cross-tab (inner join) — both engines identically."""
    docs = load_table(spark, sf_dir, "documents")
    scored = with_quality_ppm(docs).select(
        "doc_id", F.expr("CAST(quality_ppm DIV 100000 AS BIGINT)").alias("decile")
    )
    occ = _bigram_occurrences(docs, "doc_id")
    per_doc = (
        occ.join(_bigram_freq_marg(occ), ["prev", "tok"])
        .withColumn("bits", F.length(F.bin(F.expr("n1 DIV n2"))).cast("long"))
        .groupBy("doc_id")
        .agg(F.expr("CAST(sum(bits) DIV count(*) AS BIGINT)").alias("band"))
    )
    bs = (
        scored.join(per_doc, "doc_id")
        .groupBy("decile", "band")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )
    bs = spark.createDataFrame(bs.collect(), bs.schema)  # ≤ 11 × 65 rows by domain
    per_decile = bs.groupBy("decile").agg(F.sum("n_docs").alias("n_decile"))
    per_band = bs.groupBy("band").agg(F.sum("n_docs").alias("n_band"))
    total = bs.agg(F.sum("n_docs").alias("n_total"))
    return (
        bs.join(per_decile, "decile")
        .join(per_band, "band")
        .crossJoin(F.broadcast(total))
        .select(
            "decile",
            "band",
            "n_docs",
            F.expr("CAST(n_docs * 1000000 DIV n_decile AS BIGINT)").alias("share_ppm"),
            F.expr("CAST(n_band * 1000000 DIV n_total AS BIGINT)").alias("base_ppm"),
            F.expr(
                "CAST((n_docs * 1000000 DIV n_decile) * 1000000 DIV "
                "greatest(n_band * 1000000 DIV n_total, 1) AS BIGINT)"
            ).alias("lift_ppm"),
        )
    )


def _bigram_quality_calibration_sql() -> str:
    return f"""
WITH {_bigram_occ_sql("doc_id")},
freq AS (SELECT prev, tok, COUNT(*) AS n2 FROM occ GROUP BY prev, tok),
marg AS (SELECT prev, CAST(SUM(n2) AS BIGINT) AS n1 FROM freq GROUP BY prev),
per_doc AS (
  SELECT o.doc_id, CAST(SUM(length(bin(m.n1 // f.n2))) // COUNT(*) AS BIGINT) AS band
  FROM occ o JOIN freq f USING (prev, tok) JOIN marg m USING (prev)
  GROUP BY o.doc_id
),
{_quality_decile_ctes("doc_id")},
bs AS (
  SELECT q.decile, per_doc.band, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM q JOIN per_doc USING (doc_id) GROUP BY q.decile, per_doc.band
),
pd AS (SELECT decile, SUM(n_docs) AS n_decile FROM bs GROUP BY decile),
pb AS (SELECT band, SUM(n_docs) AS n_band FROM bs GROUP BY band),
tot AS (SELECT SUM(n_docs) AS n_total FROM bs)
SELECT bs.decile, bs.band, bs.n_docs,
       CAST(bs.n_docs * 1000000 // pd.n_decile AS BIGINT) AS share_ppm,
       CAST(pb.n_band * 1000000 // tot.n_total AS BIGINT) AS base_ppm,
       CAST((bs.n_docs * 1000000 // pd.n_decile) * 1000000 //
            GREATEST(pb.n_band * 1000000 // tot.n_total, 1) AS BIGINT) AS lift_ppm
FROM bs JOIN pd USING (decile) JOIN pb USING (band), tot
"""


QUERIES["doc_bigram_quality_calibration"] = (
    bigram_quality_calibration_query,
    _bigram_quality_calibration_sql(),
)


# LM-gated quality blend (round 13 — VERDICT r12 optional c): the
# committed two-gate admission rule the r12 calibration cross-tab exists
# to justify.  A doc is admitted when BOTH the heuristic blend clears the
# decile floor AND the corpus's own bigram LM puts its mean conditional
# surprisal inside the sane band window (too low = boilerplate the LM has
# memorized, too high = noise it cannot predict).
LM_GATE_DECILE_MIN = 4
LM_GATE_BAND_MIN, LM_GATE_BAND_MAX = 2, 8


def lm_gated_quality_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source attribution of the LM-gated quality blend (round 13):
    ``doc_bigram_quality_calibration`` (r12) reports whether the cheap
    quality blend and the bigram-LM screen AGREE; this query COMPOSES them
    into the admission rule a curator would actually run — quality decile
    ≥ {LM_GATE_DECILE_MIN} AND mean bigram surprisal band in
    [{LM_GATE_BAND_MIN}, {LM_GATE_BAND_MAX}] — and attributes every
    rejection to the gate that fired (the Gopher-rules lesson: a blend
    can't tell you WHY a source is losing mass; this table can).
    Documents with fewer than two tokens have no bigrams and FAIL the LM
    gate by policy (no evidence ≠ pass — the null-band left join, both
    engines identically).

    Honest corpus note: the synthetic documents table is
    generator-uniform in LM band (every doc lands in band 5 at the graded
    SFs), so ``fail_lm_only``/``fail_both`` are zero HERE and the
    admission split is carried by the quality axis — the machinery (two
    independent gates, four-way attribution, null-band policy) is what
    the oracle pins; a real corpus populates all four cells.

    Scale shape: the bigram side is the shared ``_bigram_occurrences``
    machinery (vocab-bounded aggs + collision joins); the quality side is
    the shared formula's corpus scan; they meet in one narrow doc_id
    equi-join and collapse to a ≤|sources|-row conditional agg."""
    docs = load_table(spark, sf_dir, "documents")
    scored = with_quality_ppm(docs).select(
        "doc_id",
        "source",
        F.expr("CAST(quality_ppm DIV 100000 AS BIGINT)").alias("decile"),
    )
    occ = _bigram_occurrences(docs, "doc_id")
    per_doc = (
        occ.join(_bigram_freq_marg(occ), ["prev", "tok"])
        .withColumn("bits", F.length(F.bin(F.expr("n1 DIV n2"))).cast("long"))
        .groupBy("doc_id")
        .agg(F.expr("CAST(sum(bits) DIV count(*) AS BIGINT)").alias("band"))
    )
    j = scored.join(per_doc, "doc_id", "left")
    passq = F.col("decile") >= LM_GATE_DECILE_MIN
    passlm = (
        F.col("band").isNotNull()
        & (F.col("band") >= LM_GATE_BAND_MIN)
        & (F.col("band") <= LM_GATE_BAND_MAX)
    )
    agg = j.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.when(passq & passlm, 1).otherwise(0)).cast("long").alias("pass_both"),
        F.sum(F.when(~passq & passlm, 1).otherwise(0)).cast("long").alias("fail_quality_only"),
        F.sum(F.when(passq & ~passlm, 1).otherwise(0)).cast("long").alias("fail_lm_only"),
        F.sum(F.when(~passq & ~passlm, 1).otherwise(0)).cast("long").alias("fail_both"),
    )
    return agg.withColumn(
        "admit_ppm", F.expr("CAST(pass_both * 1000000 DIV n_docs AS BIGINT)")
    )


def _lm_gated_quality_sql() -> str:
    return f"""
WITH {_bigram_occ_sql("doc_id")},
freq AS (SELECT prev, tok, COUNT(*) AS n2 FROM occ GROUP BY prev, tok),
marg AS (SELECT prev, CAST(SUM(n2) AS BIGINT) AS n1 FROM freq GROUP BY prev),
per_doc AS (
  SELECT o.doc_id, CAST(SUM(length(bin(m.n1 // f.n2))) // COUNT(*) AS BIGINT) AS band
  FROM occ o JOIN freq f USING (prev, tok) JOIN marg m USING (prev)
  GROUP BY o.doc_id
),
{_quality_decile_ctes("doc_id")},
jj AS (
  SELECT d.source, q.decile, per_doc.band
  FROM q JOIN documents d USING (doc_id) LEFT JOIN per_doc USING (doc_id)
),
flags AS (
  SELECT source,
         decile >= {LM_GATE_DECILE_MIN} AS passq,
         band IS NOT NULL AND band >= {LM_GATE_BAND_MIN} AND band <= {LM_GATE_BAND_MAX} AS passlm
  FROM jj
),
agg AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN passq AND passlm THEN 1 ELSE 0 END) AS BIGINT) AS pass_both,
         CAST(SUM(CASE WHEN NOT passq AND passlm THEN 1 ELSE 0 END) AS BIGINT) AS fail_quality_only,
         CAST(SUM(CASE WHEN passq AND NOT passlm THEN 1 ELSE 0 END) AS BIGINT) AS fail_lm_only,
         CAST(SUM(CASE WHEN NOT passq AND NOT passlm THEN 1 ELSE 0 END) AS BIGINT) AS fail_both
  FROM flags GROUP BY source
)
SELECT source, n_docs, pass_both, fail_quality_only, fail_lm_only, fail_both,
       CAST(pass_both * 1000000 // n_docs AS BIGINT) AS admit_ppm
FROM agg
"""


QUERIES["doc_lm_gated_quality"] = (lm_gated_quality_query, _lm_gated_quality_sql())


# Planted LM-gate corpus (round 14 — VERDICT r13 task 5): the harness
# corpus is generator-uniform in LM band (every doc lands in band 5), so
# doc_lm_gated_quality's fail_lm_only/fail_both cells are structurally
# zero there — the oracle was pinning zeros.  The planted twin query
# derives a corpus that populates ALL FOUR (quality × LM-band) cells with
# docs whose cell membership is provable, the media-family pattern.
LMP_TWIN_OFFSET = 10_000_000  # planted ids = doc_id + k·offset (guarded)
LMP_HUB = "the"  # stopword hub: common as a bigram PREV, and its presence
# lifts the noise doc's stop_ppm to exactly the decile-4 admission floor
LMP_BOILER_MOD = 3
LMP_BOILER_TEXT = "!!! !!! !!! !!! !!!"
# the noise doc's band is its single bigram's bits = ⌊log2 n1(hub)⌋ + 1;
# one noise doc per source doc means n1(hub) ≥ |documents|, so 256 docs
# guarantee band ≥ 9 > LM_GATE_BAND_MAX no matter what the corpus text
# contains (corpus hub occurrences only push it higher)
LMP_MIN_DOCS_FOR_HIGH_BAND = 256


def _planted_lm_corpus(docs: DataFrame) -> DataFrame:
    """documents → (doc_id, text, source) corpus with planted LM-band
    twins: per source doc, a NOISE doc ``"{LMP_HUB} qz<doc_id>"`` — a
    single bigram whose prev is the corpus-common hub and whose
    continuation is globally unique, so its conditional surprisal band is
    ⌊log2 n1(hub)⌋+1 > {LM_GATE_BAND_MAX} while its quality (2 tokens,
    one stopword, zero punct) sits exactly at the decile-{LM_GATE_DECILE_MIN}
    admission floor → fail_lm_only by construction; and per
    {LMP_BOILER_MOD}rd doc a BOILERPLATE doc (one punct token repeated —
    every bigram ratio 1 → band 1 < {LM_GATE_BAND_MIN}; punct-heavy, five
    tokens → decile 0) → fail_both by construction.  The original docs
    carry pass_both/fail_quality_only as before (band 5 on the harness
    corpus).  Planted ids are doc_id + k·{LMP_TWIN_OFFSET}; a source
    doc_id at or past the offset would alias them, so the derivation
    fails loudly (the media families' Arrow guard, expressed relationally:
    the check is FOLDED INTO the doc_id expression itself — a standalone
    assert column would be pruned by the optimizer and never execute)."""
    checked = docs.select(
        F.expr(
            f"CASE WHEN doc_id >= {LMP_TWIN_OFFSET} THEN CAST(raise_error("
            "'doc_id >= LMP_TWIN_OFFSET: planted ids would alias real docs'"
            ") AS BIGINT) ELSE doc_id END"
        ).alias("doc_id"),
        "text",
        "source",
    )
    noise = checked.select(
        (F.col("doc_id") + LMP_TWIN_OFFSET).alias("doc_id"),
        F.concat(F.lit(LMP_HUB + " qz"), F.col("doc_id").cast("string")).alias("text"),
        F.lit("planted_noise").alias("source"),
    )
    boiler = checked.filter(F.col("doc_id") % LMP_BOILER_MOD == 0).select(
        (F.col("doc_id") + 2 * LMP_TWIN_OFFSET).alias("doc_id"),
        F.lit(LMP_BOILER_TEXT).alias("text"),
        F.lit("planted_boiler").alias("source"),
    )
    return checked.select("doc_id", "text", "source").unionByName(noise).unionByName(boiler)


def lm_gated_quality_planted_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``doc_lm_gated_quality`` with ALL FOUR attribution cells populated
    and oracle-pinned (round 14 — VERDICT r13 task 5: on the harness
    corpus the real-corpus query's ``fail_lm_only``/``fail_both`` are
    structurally zero, so the oracle pinned zeros and the four-way
    attribution was never value-checked).  Same gate constants, same
    shared ``_bigram_occurrences``/``with_quality_ppm``/decile machinery,
    over the planted corpus of :func:`_planted_lm_corpus` — the
    ``planted_noise`` source lands entirely in ``fail_lm_only`` (quality
    at the admission floor, band > {LM_GATE_BAND_MAX}), ``planted_boiler``
    entirely in ``fail_both`` (decile 0, band 1), and the original
    sources carry ``pass_both``/``fail_quality_only`` — all four cells
    nonzero at every graded SF, pinned by pytest AND hash-checked (the
    DuckDB oracle derives the same corpus and replays the gate).

    Scale shape: identical to ``doc_lm_gated_quality`` — the planted
    union adds ~2 narrow corpus scans before the same vocab-bounded
    bigram aggs and the one doc_id equi-join; output ≤ |sources|+2
    rows."""
    corpus = _planted_lm_corpus(load_table(spark, sf_dir, "documents"))
    scored = with_quality_ppm(corpus).select(
        "doc_id",
        "source",
        F.expr("CAST(quality_ppm DIV 100000 AS BIGINT)").alias("decile"),
    )
    occ = _bigram_occurrences(corpus, "doc_id")
    per_doc = (
        occ.join(_bigram_freq_marg(occ), ["prev", "tok"])
        .withColumn("bits", F.length(F.bin(F.expr("n1 DIV n2"))).cast("long"))
        .groupBy("doc_id")
        .agg(F.expr("CAST(sum(bits) DIV count(*) AS BIGINT)").alias("band"))
    )
    j = scored.join(per_doc, "doc_id", "left")
    passq = F.col("decile") >= LM_GATE_DECILE_MIN
    passlm = (
        F.col("band").isNotNull()
        & (F.col("band") >= LM_GATE_BAND_MIN)
        & (F.col("band") <= LM_GATE_BAND_MAX)
    )
    agg = j.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.when(passq & passlm, 1).otherwise(0)).cast("long").alias("pass_both"),
        F.sum(F.when(~passq & passlm, 1).otherwise(0)).cast("long").alias("fail_quality_only"),
        F.sum(F.when(passq & ~passlm, 1).otherwise(0)).cast("long").alias("fail_lm_only"),
        F.sum(F.when(~passq & ~passlm, 1).otherwise(0)).cast("long").alias("fail_both"),
    )
    return agg.withColumn(
        "admit_ppm", F.expr("CAST(pass_both * 1000000 DIV n_docs AS BIGINT)")
    )


def _lm_gated_quality_planted_sql() -> str:
    return f"""
WITH corpus AS (
  SELECT doc_id, text, source FROM documents
  UNION ALL
  SELECT doc_id + {LMP_TWIN_OFFSET}, '{LMP_HUB} qz' || CAST(doc_id AS VARCHAR), 'planted_noise'
  FROM documents
  UNION ALL
  SELECT doc_id + {2 * LMP_TWIN_OFFSET}, '{LMP_BOILER_TEXT}', 'planted_boiler'
  FROM documents WHERE doc_id % {LMP_BOILER_MOD} = 0
),
{_bigram_occ_sql("doc_id", src="corpus")},
freq AS (SELECT prev, tok, COUNT(*) AS n2 FROM occ GROUP BY prev, tok),
marg AS (SELECT prev, CAST(SUM(n2) AS BIGINT) AS n1 FROM freq GROUP BY prev),
per_doc AS (
  SELECT o.doc_id, CAST(SUM(length(bin(m.n1 // f.n2))) // COUNT(*) AS BIGINT) AS band
  FROM occ o JOIN freq f USING (prev, tok) JOIN marg m USING (prev)
  GROUP BY o.doc_id
),
{_quality_decile_ctes("doc_id", src="corpus")},
jj AS (
  SELECT d.source, q.decile, per_doc.band
  FROM q JOIN corpus d USING (doc_id) LEFT JOIN per_doc USING (doc_id)
),
flags AS (
  SELECT source,
         decile >= {LM_GATE_DECILE_MIN} AS passq,
         band IS NOT NULL AND band >= {LM_GATE_BAND_MIN} AND band <= {LM_GATE_BAND_MAX} AS passlm
  FROM jj
),
agg AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN passq AND passlm THEN 1 ELSE 0 END) AS BIGINT) AS pass_both,
         CAST(SUM(CASE WHEN NOT passq AND passlm THEN 1 ELSE 0 END) AS BIGINT) AS fail_quality_only,
         CAST(SUM(CASE WHEN passq AND NOT passlm THEN 1 ELSE 0 END) AS BIGINT) AS fail_lm_only,
         CAST(SUM(CASE WHEN NOT passq AND NOT passlm THEN 1 ELSE 0 END) AS BIGINT) AS fail_both
  FROM flags GROUP BY source
)
SELECT source, n_docs, pass_both, fail_quality_only, fail_lm_only, fail_both,
       CAST(pass_both * 1000000 // n_docs AS BIGINT) AS admit_ppm
FROM agg
"""


QUERIES["doc_lm_gated_quality_planted"] = (
    lm_gated_quality_planted_query,
    _lm_gated_quality_planted_sql(),
)


def dedup_threshold_sweep_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard-threshold sensitivity sweep (round 10): every LSH candidate
    pair's EXACT Jaccard dropped into a decile bucket, with the count per
    bucket and the cumulative pairs at-or-above each decile — the curve a
    curator reads to place the dedup cut (``JACCARD_PPM_THRESHOLD``)
    before committing to it: a cliff between deciles means the corpus
    separates cleanly into dup/non-dup; smooth mass means the threshold
    moves real volume and deserves a manual sample.  Same candidate and
    exact-verify stages as ``dedup_minhash_lsh_pairs`` (one banding
    definition), WITHOUT the threshold filter.

    Scale shape: the band-bucket equi-join prices candidates at collision
    cost; the sweep adds one ≤11-key agg and a cumulative window over
    those ≤11 rows (bounded by the ppm domain, never corpus-sized)."""
    hist = (
        _exact_jaccard_pairs(spark, sf_dir)
        .select(F.expr("CAST(jaccard_ppm DIV 100000 AS BIGINT)").alias("decile"))
        .groupBy("decile")
        .agg(F.count("*").cast("long").alias("n_pairs"))
    )
    w = Window.orderBy(F.desc("decile")).rowsBetween(Window.unboundedPreceding, 0)
    return hist.withColumn("cum_pairs_at_or_above", F.sum("n_pairs").over(w).cast("long"))


def _threshold_sweep_sql() -> str:
    return f"""
WITH {_minhash_cand_ctes()}, pairs AS (
  SELECT CAST((CAST(len(list_intersect(x.sh, y.sh)) AS BIGINT) * 1000000 //
               len(list_distinct(list_concat(x.sh, y.sh)))) // 100000 AS BIGINT) AS decile
  FROM cand JOIN sg x ON x.doc_id = id_a JOIN sg y ON y.doc_id = id_b
), hist AS (
  SELECT decile, CAST(count(*) AS BIGINT) AS n_pairs FROM pairs GROUP BY decile
)
SELECT decile, n_pairs,
       CAST(sum(n_pairs) OVER (ORDER BY decile DESC ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS cum_pairs_at_or_above
FROM hist
"""


QUERIES["dedup_threshold_sweep"] = (dedup_threshold_sweep_query, _threshold_sweep_sql())


# ---------------------------------------------------------------------------
# Cross-detector agreement audit (round 12)
# ---------------------------------------------------------------------------

CHARNGRAM_OVERLAP_PPM = 900_000
# The audit's detection cut for the char-ngram family: its registry query
# (``dedup_char_ngram_jaccard``) is deliberately the UNthresholded verify
# stage, so entering it raw would make its "detections" identical to the LSH
# candidate set.  0.9 char-3-gram Jaccard is the conventional near-dup cut
# at this gram size (measured at sf0.01: candidate cjaccard median 0.977,
# p99 0.992 — the cut keeps the true near-dup mass and sheds the tail).

# (bit, family name, detection-pair producer) — bit i = 1 << position,
# positions FIXED across rounds so the mask layout stays stable (winnow
# appended in r12 with bit 16 rather than re-alphabetizing).  Pairs from
# every family are already canonical (id_a < id_b, DISTINCT within the
# family).
_OVERLAP_FAMILIES = ("charngram", "containment", "minhash", "simhash", "winnow")

# The overlap pair frames are capped at memo.MAX_ROWS.  Measured at sf0.1:
# charngram 255 / containment 256 / minhash 256 / winnow 8 736 pairs are
# memoized; simhash (1 079 805 pairs) is over the cap and stays a live
# re-executed plan (the over-cap verdict is stored, so later builds skip
# the probe).


def _overlap_pair_frames(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """The five detection-pair sets, each produced by the SAME query fn the
    registry exposes (projection only — zero re-implementation, so the audit
    can never drift from the families it audits).  Winnow is the only
    ORDER-SENSITIVE detector in the matrix — its rows answer whether local
    contiguous-span duplication surfaces pairs the order-blind set-overlap
    families miss (and vice versa: a doc pair with shuffled token order
    keeps its Jaccard but loses its spans)."""
    # Each family's (id_a, id_b) pair set comes from the build-time memo,
    # keyed by every constant that shapes it: without it every build re-ran
    # all five banded DAGs.  The standalone registry queries stay live plans.
    docs = [table_path(sf_dir, "documents")]
    builds = {
        "charngram": (
            lambda: char_ngram_jaccard_query(spark, sf_dir)
            .filter(F.col("cjaccard_ppm") >= CHARNGRAM_OVERLAP_PPM)
            .select("id_a", "id_b"),
            (CHARNGRAM_OVERLAP_PPM,),
        ),
        "containment": (
            lambda: containment_pairs_query(spark, sf_dir).select("id_a", "id_b"),
            (CONTAINMENT_THRESHOLD_PPM,),
        ),
        "minhash": (
            # the memoized minhash pair stage, shared with the closure and
            # pagerank consumers
            lambda: minhash_pair_stage(spark, sf_dir).select("id_a", "id_b"),
            (JACCARD_PPM_THRESHOLD,),
        ),
        "simhash": (
            lambda: simhash_pairs_query(spark, sf_dir).select("id_a", "id_b"),
            (SIMHASH_MAX_HAMMING,),
        ),
        "winnow": (
            lambda: winnow_pair_query(spark, sf_dir).select("id_a", "id_b"),
            (),
        ),
    }
    return {
        fam: memo.frame(spark, "ovlpairs", (fam,) + knobs, docs, build, max_rows=memo.MAX_ROWS)
        for fam, (build, knobs) in builds.items()
    }


def family_overlap_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-detector agreement matrix — for every unordered pair of near-dup
    families (char-ngram@0.9, containment@0.8, MinHash-LSH@0.1-Jaccard,
    SimHash-32@ham≤3, winnow-span@2-shared), how many document pairs BOTH
    detect and how many each detects alone, plus the pair-set Jaccard in
    ppm.  This is the curation decision the individual families can't
    answer: which detector subsumes which, where a cheap one (SimHash) is
    really measuring something else (distributional similarity — at sf0.01
    it fires on ~11 000 pairs where the shingle families agree on ~25), and
    whether the order-sensitive winnow detector surfaces span-dup pairs the
    order-blind set-overlap families miss.

    Scale shape: each family is its registry DAG (banded equi-joins — never
    all-pairs); the union is pair-set-sized; ``bit_or`` collapses it to one
    mask per pair in a single shuffle keyed (id_a, id_b); the mask histogram
    is ≤2⁵ rows, and the 10-row matrix comes from a broadcast join of two
    bounded frames — nothing downstream of the mask agg is corpus-sized."""
    frames = _overlap_pair_frames(spark, sf_dir)
    # r15 NEGATIVE RESULT (VERDICT r14 task 6, recorded in
    # OPTIMIZATION_r15.md): a restructure that kept the 1.08 M-row live
    # simhash arm out of this pair-key exchange (broadcast-join the four
    # bounded families' mask frame onto the simhash pairs map-side, then
    # aggregate by the ≤2⁴-value small-mask and recover small-only masks by
    # subtraction) was implemented, oracle-verified at sf0.01 AND sf0.1,
    # and then MEASURED SLOWER in interleaved bench-context A/Bs (min-of-5
    # rounds: 3.77 s vs this shape's 3.03 s at c32) — the broadcast build,
    # the checkpoint job boundary, and the extra tail joins cost more
    # locally than the zero-collapse exchange they removed.  At a scale
    # where the simhash arm's pair count makes this exchange the
    # bottleneck, that shape (commit 5df646c) is the one to revive.
    tagged = None
    for i, fam in enumerate(_OVERLAP_FAMILIES):
        t = frames[fam].withColumn("m", F.lit(1 << i).cast("long"))
        tagged = t if tagged is None else tagged.unionByName(t)
    masks = tagged.groupBy("id_a", "id_b").agg(F.expr("bit_or(m)").alias("mask"))
    hist = masks.groupBy("mask").agg(F.count("*").cast("long").alias("cnt"))
    combos = spark.createDataFrame(
        [
            (_OVERLAP_FAMILIES[a], 1 << a, _OVERLAP_FAMILIES[b], 1 << b)
            for a in range(len(_OVERLAP_FAMILIES))
            for b in range(a + 1, len(_OVERLAP_FAMILIES))
        ],
        "family_a string, bit_a long, family_b string, bit_b long",
    )
    # left join on TRUE (not crossJoin): an empty histogram must still yield
    # all C(n,2) combo rows (10 for the 5 families) with zero counts, not
    # an empty result
    joined = combos.join(F.broadcast(hist), F.lit(True), "left")
    in_a = F.col("mask").bitwiseAND(F.col("bit_a")) > 0
    in_b = F.col("mask").bitwiseAND(F.col("bit_b")) > 0
    agg = joined.groupBy("family_a", "family_b").agg(
        F.coalesce(F.sum(F.when(in_a & in_b, F.col("cnt"))), F.lit(0)).cast("long").alias("both"),
        F.coalesce(F.sum(F.when(in_a & ~in_b, F.col("cnt"))), F.lit(0)).cast("long").alias("only_a"),
        F.coalesce(F.sum(F.when(~in_a & in_b, F.col("cnt"))), F.lit(0)).cast("long").alias("only_b"),
    )
    total = F.col("both") + F.col("only_a") + F.col("only_b")
    jac = F.when(total > 0, F.expr("CAST(both * 1000000 DIV (both + only_a + only_b) AS BIGINT)")).otherwise(
        F.lit(0).cast("long")
    )
    return agg.select("family_a", "family_b", "both", "only_a", "only_b", jac.alias("agree_ppm"))


def _family_overlap_sql() -> str:
    fam_sqls = {
        "charngram": f"SELECT id_a, id_b FROM ({_char_ngram_sql()}) WHERE cjaccard_ppm >= {CHARNGRAM_OVERLAP_PPM}",
        "containment": f"SELECT id_a, id_b FROM ({_containment_sql()})",
        "minhash": f"SELECT id_a, id_b FROM ({MINHASH_SQL})",
        "simhash": f"SELECT id_a, id_b FROM ({_simhash_pairs_sql()})",
        "winnow": f"SELECT id_a, id_b FROM ({_winnow_pair_sql()})",
    }
    tagged = "\n  UNION ALL\n  ".join(
        f"SELECT id_a, id_b, CAST({1 << i} AS BIGINT) AS m FROM f{i}"
        for i in range(len(_OVERLAP_FAMILIES))
    )
    fam_ctes = ",\n".join(
        f"f{i} AS ({fam_sqls[fam]})" for i, fam in enumerate(_OVERLAP_FAMILIES)
    )
    combo_rows = ", ".join(
        f"('{_OVERLAP_FAMILIES[a]}', {1 << a}, '{_OVERLAP_FAMILIES[b]}', {1 << b})"
        for a in range(len(_OVERLAP_FAMILIES))
        for b in range(a + 1, len(_OVERLAP_FAMILIES))
    )
    return f"""
WITH {fam_ctes},
tagged AS (
  {tagged}
),
masks AS (SELECT id_a, id_b, bit_or(m) AS mask FROM tagged GROUP BY id_a, id_b),
hist AS (SELECT mask, CAST(count(*) AS BIGINT) AS cnt FROM masks GROUP BY mask),
combos(family_a, bit_a, family_b, bit_b) AS (VALUES {combo_rows}),
j AS (SELECT * FROM combos LEFT JOIN hist ON TRUE)
SELECT family_a, family_b,
       CAST(COALESCE(SUM(CASE WHEN (mask & bit_a) > 0 AND (mask & bit_b) > 0 THEN cnt END), 0) AS BIGINT) AS both,
       CAST(COALESCE(SUM(CASE WHEN (mask & bit_a) > 0 AND (mask & bit_b) = 0 THEN cnt END), 0) AS BIGINT) AS only_a,
       CAST(COALESCE(SUM(CASE WHEN (mask & bit_a) = 0 AND (mask & bit_b) > 0 THEN cnt END), 0) AS BIGINT) AS only_b,
       CAST(CASE WHEN COALESCE(SUM(CASE WHEN (mask & (bit_a | bit_b)) > 0 THEN cnt END), 0) > 0
                 THEN COALESCE(SUM(CASE WHEN (mask & bit_a) > 0 AND (mask & bit_b) > 0 THEN cnt END), 0) * 1000000
                      // COALESCE(SUM(CASE WHEN (mask & (bit_a | bit_b)) > 0 THEN cnt END), 0)
                 ELSE 0 END AS BIGINT) AS agree_ppm
FROM j
GROUP BY family_a, family_b
"""


QUERIES["dedup_family_overlap"] = (family_overlap_query, _family_overlap_sql())
