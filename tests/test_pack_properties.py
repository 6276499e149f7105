"""Property-based tests for chunking and packing (plans/pack_ops).

Ground truth is pure Python over the same strings: chunk windows are
code-point slices (Python slicing == Spark substring semantics, both
code-point-based), packing is an explicit sequential simulation.  Each
hypothesis example materializes a tiny documents.parquet in an sf-dir layout
and runs the REAL registry queries over it.
"""

from __future__ import annotations

import hashlib

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from block_crawler_spark.plans.pack_ops import (
    CHUNK_CHARS,
    PACK_SHARDS,
    SEQ_LEN_TOK,
    STRIDE_CHARS,
    chunk_stats_query,
    pack_sequences_query,
)

SPARK_SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)

# words over several scripts — chunk windows must count CODE POINTS, and the
# md5 must hash the UTF-8 bytes of exactly that window
_word = st.text(
    alphabet=st.characters(
        whitelist_categories=("Ll", "Lu", "Lo", "Nd"), blacklist_characters="\x00"
    ),
    min_size=1,
    max_size=12,
)
_text = st.lists(_word, min_size=1, max_size=160).map(" ".join)


def _write_docs(spark, tmp_path, texts):
    rows = [(i, t, "xx", f"src{i % 3}", len(t)) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long")
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    return str(tmp_path)


@pytest.mark.slow
@given(texts=st.lists(_text, min_size=1, max_size=6))
@SPARK_SETTINGS
def test_chunks_are_exact_codepoint_windows(spark, tmp_path_factory, texts):
    sf = _write_docs(spark, tmp_path_factory.mktemp("chunks"), texts)
    got = {}
    for r in chunk_stats_query(spark, sf).collect():
        got[(r["doc_id"], r["chunk_idx"])] = (r["chunk_len"], r["chunk_md5"])
    expect = {}
    for i, t in enumerate(texts):
        start = 0
        idx = 0
        while start < len(t):
            win = t[start : start + CHUNK_CHARS]
            expect[(i, idx)] = (len(win), hashlib.md5(win.encode("utf-8")).hexdigest())
            start += STRIDE_CHARS
            idx += 1
    assert got == expect


@pytest.mark.slow
@given(texts=st.lists(_text, min_size=1, max_size=10))
@SPARK_SETTINGS
def test_packing_matches_sequential_simulation(spark, tmp_path_factory, texts):
    sf = _write_docs(spark, tmp_path_factory.mktemp("pack"), texts)
    rows = pack_sequences_query(spark, sf).collect()
    got = {
        (r["shard"], r["bin_id"]): (r["n_docs"], r["tok_sum"], r["first_doc"], r["last_doc"])
        for r in rows
    }

    # simulate: same hash → shard, doc_id order within shard, cut every SEQ_LEN
    def shard_of(doc_id):
        h = hashlib.md5(f"pack|{doc_id}".encode()).hexdigest()[:8]
        return int(h, 16) % PACK_SHARDS

    per_shard: dict[int, list[tuple[int, int]]] = {}
    for i, t in enumerate(texts):
        n_tok = len(t.strip().split())
        per_shard.setdefault(shard_of(i), []).append((i, n_tok))
    expect: dict = {}
    for shard, docs in per_shard.items():
        cum = 0
        for doc_id, n_tok in sorted(docs):
            bin_id = cum // SEQ_LEN_TOK
            key = (shard, bin_id)
            n, tok, first, last = expect.get(key, (0, 0, doc_id, doc_id))
            expect[key] = (n + 1, tok + n_tok, min(first, doc_id), max(last, doc_id))
            cum += n_tok
    assert got == expect
