"""Text-analysis column functions for large-scale training-data pipelines.

All pure built-in column expressions (JVM-side, codegen-friendly): tokenize,
token/char statistics, stopword-based language ID, and
document fingerprinting.  Each has an exact DuckDB-SQL equivalent (the
driver's correctness oracle), which is why hashing is md5-based: md5 is the
one hash both engines share, and on fixed-width lowercase hex strings the
*lexicographic* min/order equals the numeric one, so signatures stay
portable strings end to end.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic. Deliberately small and hard-coded so the SQL oracle can inline
# the identical lists.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "a"],
    "es": ["el", "la", "de", "que", "y", "los", "un"],
    "de": ["der", "die", "das", "und", "ist", "ein", "zu"],
    "fr": ["le", "la", "les", "et", "des", "un", "est"],
    "zh": ["de", "shi", "le", "zai", "you", "wo", "ta"],
}

TOKEN_PATTERN = r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"  # BPE-ish: words + punctuation marks
PUNCT_PATTERN = r"""[.,;:!?'"()\[\]{}-]"""
PUNCT_PATTERN_SQL = PUNCT_PATTERN.replace("'", "''")  # single quotes doubled for SQL literals


def tokens(text: Column) -> Column:
    """Whitespace tokenization of trimmed text."""
    return F.split(F.trim(text), r"\s+")


def n_tokens(text: Column) -> Column:
    return F.size(tokens(text))


def regex_token_count(text: Column) -> Column:
    """Token count under the BPE-ish pattern (words + punctuation)."""
    return F.size(F.regexp_extract_all(text, F.lit(TOKEN_PATTERN), F.lit(0)))


def stopword_hits(text: Column, lang: str = "en") -> Column:
    """Number of tokens that are stopwords of `lang`."""
    words = STOPWORDS[lang]
    return F.size(F.filter(tokens(F.lower(text)), lambda t: t.isin(*words)))


def lang_scores(text: Column) -> list[tuple[str, Column]]:
    return [(lang, stopword_hits(text, lang)) for lang in STOPWORDS]


def lang_id(text: Column) -> Column:
    """argmax over per-language stopword hit counts.

    Deterministic tie-break: languages are tested in reverse code order
    (zh, fr, es, en, de), so a tie resolves to the lexicographically last
    code — trivially mirrored in the SQL oracle as a CASE chain.
    """
    scores = dict(lang_scores(text))
    best = F.greatest(*scores.values())
    expr = None
    for lang in sorted(scores, reverse=True):
        cond = scores[lang] == best
        expr = F.when(cond, F.lit(lang)) if expr is None else expr.when(cond, F.lit(lang))
    return expr


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 of lowercased, whitespace-collapsed text."""
    return F.md5(F.regexp_replace(F.lower(F.trim(text)), r"\s+", " "))


def shingles(text: Column, k: int = 3) -> Column:
    """Word k-shingles (distinct, sorted) — the dedup/similarity unit set.

    Built with ``zip_with`` over shifted copies of the token array instead of
    ``transform(sequence, i -> slice(t, i, k))``: the slice-per-index form
    re-evaluates the tokenization expression once *per shingle* (O(n²) work
    per row, and enough generated code to break codegen); zip_with evaluates
    each input array once.  k is fixed at 3 here — the SQL oracle and the
    LSH layout assume it.
    """
    if k != 3:
        raise ValueError("shingles: only k=3 is supported (oracle parity)")
    t = tokens(F.lower(text))
    n = F.size(t)
    pairs = F.zip_with(t, F.slice(t, 2, F.greatest(n - 1, F.lit(1))), lambda x, y: F.concat_ws(" ", x, y))
    # concat_ws skips nulls, so guard the tail explicitly via slice below
    triples = F.zip_with(pairs, F.slice(t, 3, F.greatest(n - 2, F.lit(1))), lambda xy, z: F.concat_ws(" ", xy, z))
    joined = F.when(n >= k, F.slice(triples, 1, n - k + 1)).otherwise(F.array(F.concat_ws(" ", t)))
    return F.array_sort(F.array_distinct(joined))


def word_kgrams(text: Column, k: int) -> Column:
    """ORDERED word k-grams, duplicates retained — the repetition unit.

    Unlike :func:`shingles` (a distinct set for Jaccard), repetition
    scoring needs every occurrence.  Same zip_with construction (each input
    array evaluated once, stays in codegen); documents shorter than ``k``
    words collapse to their single full-text gram.
    """
    t = tokens(F.lower(F.trim(text)))
    n = F.size(t)
    acc = t
    for j in range(1, k):
        # concat_ws skips the nulls past each shifted tail; the final slice
        # drops those partial grams
        acc = F.zip_with(
            acc, F.slice(t, j + 1, F.greatest(n - j, F.lit(1))), lambda a, b: F.concat_ws(" ", a, b)
        )
    return F.when(n >= k, F.slice(acc, 1, n - k + 1)).otherwise(F.array(F.concat_ws(" ", t)))


def repetition_ppm(text: Column, k: int = 5) -> Column:
    """Within-document repetition (Gopher-style quality rule): the fraction
    of word ``k``-grams that are repeats of an earlier gram, in ppm.
    ``(total - distinct) * 1e6 // total`` — boilerplate-heavy documents
    (navbars, templated spam) score high and get filtered before training.
    """
    g = word_kgrams(text, k)
    total = F.size(g)
    distinct = F.size(F.array_distinct(g))
    return F.floor(((total - distinct).cast("long") * F.lit(1_000_000)) / total).cast("long")


# ---------------------------------------------------------------------------
# Toy BPE token counting (round 7) — tokenizer-aware shaping units
# ---------------------------------------------------------------------------

# A deterministic byte-pair-encoding vocabulary: ordered merge rules over
# single-character symbols, each merge emitting a fresh single placeholder
# character (Latin Extended-A — outside the corpus alphabet), exactly the
# BPE training artifact shape (Sennrich et al. 2016; GPT-2's merges.txt is
# the public precedent).  The pairs are the highest-frequency English
# character bigrams plus two second-order merges ("the", "ing").  Because
# every symbol is ONE character, applying a merge is a plain substring
# replace of a 2-char pair with a 1-char symbol — ``replace`` is
# leftmost-first non-overlapping in Spark, DuckDB and Python alike, which
# is precisely BPE's scan order, so the encoding is portable across all
# three engines and the token count is SQL-oracle-checkable.  A real
# tokenizer swaps in its own merges table; the OPERATOR shape (chained
# JVM-side replaces, zero shuffles, one scan) is what matters at 100 TB.
BPE_MERGES: list[tuple[str, str]] = [
    ("th", "Ā"),
    ("in", "ā"),
    ("er", "Ă"),
    ("an", "ă"),
    ("re", "Ą"),
    ("on", "ą"),
    ("at", "Ć"),
    ("en", "ć"),
    ("or", "Ĉ"),
    ("es", "ĉ"),
    ("ti", "Ċ"),
    ("st", "ċ"),
    ("ar", "Č"),
    ("te", "č"),
    ("Āe", "Ď"),  # Āe = "the"
    ("āg", "ď"),  # āg = "ing"
]


def bpe_encode(word: Column) -> Column:
    """Apply the merge rules in priority order to one token's text; the
    result's CHARACTER COUNT is its BPE token count (every remaining
    character is one symbol)."""
    out = word
    for pair, sym in BPE_MERGES:
        out = F.replace(out, F.lit(pair), F.lit(sym))
    return out


def bpe_token_count(text: Column) -> Column:
    """Total BPE tokens of a document: lowercase → regex word/punct split
    (the shared TOKEN_PATTERN) → per-token merge chain → summed symbol
    counts.  Pure column expressions (codegen-friendly): the merge chain is
    ~16 chained ``replace`` calls inside one ``transform`` lambda."""
    toks = F.regexp_extract_all(F.lower(text), F.lit(TOKEN_PATTERN), F.lit(0))
    counts = F.transform(toks, lambda t: F.length(bpe_encode(t)))
    return F.coalesce(
        F.aggregate(counts, F.lit(0).cast("long"), lambda acc, x: acc + x),
        F.lit(0).cast("long"),
    )


def bpe_sql_expr(inner: str) -> str:
    """The DuckDB replica of :func:`bpe_encode` as a nested ``replace``
    chain around ``inner`` — both engines' replace is leftmost-first
    non-overlapping, so the chain is value-identical."""
    for pair, sym in BPE_MERGES:
        inner = f"replace({inner}, '{pair}', '{sym}')"
    return inner


def bpe_count_sql_expr(text_expr: str) -> str:
    """DuckDB expression for :func:`bpe_token_count` of ``text_expr``."""
    return (
        "CAST(COALESCE(list_sum(list_transform("
        f"regexp_extract_all(lower({text_expr}), '{TOKEN_PATTERN}'), "
        f"t -> length({bpe_sql_expr('t')}))), 0) AS BIGINT)"
    )


# ---------------------------------------------------------------------------
# PII detection / redaction (round 5) — training-data scrubbing primitives
# ---------------------------------------------------------------------------

# Deliberately simple character-class patterns: both engines (Java regex /
# RE2-ish DuckDB) interpret them identically, which keeps the redaction
# hash oracle-exact.  Real pipelines swap in stricter validators; the
# operator shape (count + replace, zero shuffles) is what scales.
EMAIL_PATTERN = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z][a-z]+"
URL_PATTERN = r"https?://[^ ]+"


def pii_email_count(text: Column) -> Column:
    """Number of email-shaped spans (case-normalized)."""
    return F.regexp_count(F.lower(text), F.lit(EMAIL_PATTERN))


def pii_url_count(text: Column) -> Column:
    """Number of URL-shaped spans."""
    return F.regexp_count(text, F.lit(URL_PATTERN))


def redact_pii(text: Column) -> Column:
    """Case-normalized text with emails → ``<email>`` and URLs → ``<url>``.
    Emails first: a URL replacement can never create an email span, so the
    order is confluent for these two patterns."""
    lowered = F.lower(text)
    no_mail = F.regexp_replace(lowered, EMAIL_PATTERN, "<email>")
    return F.regexp_replace(no_mail, URL_PATTERN, "<url>")
