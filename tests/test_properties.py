"""Property-based tests (hypothesis) for the engine's core invariants.

SURVEY 'hard parts' #2: correctness under retries/out-of-order hinges on the
version-guarded merge semantics — 'apply transfers in random order ⇒
identical final state'.  These properties generate random event histories
and random batchings/permutations and assert convergence.
"""

from __future__ import annotations

from decimal import Decimal

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from block_crawler_spark.operators.decode import decode_erc721_transfers
from block_crawler_spark.operators.folds import fold_token_state, owner_balances_from_silver
from block_crawler_spark.operators.merge import additive_upsert, token_state_merge, versioned_upsert
from block_crawler_spark.schemas import ERC721_TRANSFER_TOPIC, LOG_SCHEMA
from block_crawler_spark.sources.chainfix import ZERO, addr, topic_addr, topic_uint

# --- strategies -------------------------------------------------------------

_accounts = st.integers(min_value=1, max_value=5).map(addr)
_tokens = st.integers(min_value=1, max_value=4)


@st.composite
def event_history(draw):
    """A consistent ERC-721 history: mint → transfers → maybe burn, per token."""
    n = draw(st.integers(min_value=1, max_value=12))
    owner: dict[int, str] = {}
    rows = []
    pos = 0
    for _ in range(n):
        tok = draw(_tokens)
        actor = draw(_accounts)
        cur = owner.get(tok)
        if cur is None:
            frm, to = ZERO, actor
            owner[tok] = actor
        elif draw(st.booleans()):
            frm, to = cur, actor
            owner[tok] = actor
        else:
            frm, to = cur, ZERO
            del owner[tok]
        rows.append(
            {
                "block_number": 100 + pos // 3,
                "transaction_index": pos % 3,
                "log_index": 0,
                "transaction_hash": "0x" + f"{pos:064x}",
                "address": addr(0xAA),
                "topics": [ERC721_TRANSFER_TOPIC, topic_addr(frm), topic_addr(to), topic_uint(tok)],
                "data": "0x",
                "removed": False,
            }
        )
        pos += 1
    return rows


# --- properties -------------------------------------------------------------

SPARK_SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)


@pytest.mark.slow
@given(rows=event_history(), seed=st.integers(min_value=0, max_value=2**16))
@SPARK_SETTINGS
def test_fold_is_order_insensitive(spark, rows, seed):
    import random

    shuffled = list(rows)
    random.Random(seed).shuffle(shuffled)

    def state(rws):
        logs = spark.createDataFrame(rws, LOG_SCHEMA)
        t = decode_erc721_transfers(logs).withColumn("blockchain", F.lit("p"))
        return {
            (r["collection_id"], r["token_id_hex"]): (
                r["quantity"], r["original_owner"], r["current_owner"],
            )
            for r in fold_token_state(t).collect()
        }

    assert state(rows) == state(shuffled)


@pytest.mark.slow
@given(rows=event_history(), cut=st.integers(min_value=0, max_value=12))
@SPARK_SETTINGS
def test_chunked_additive_merge_equals_bulk(spark, rows, cut):
    """Owner deltas applied in two chunks == one bulk fold (A5 invariant)."""
    cut = min(cut, len(rows))
    a, b = rows[:cut], rows[cut:]

    def deltas(rws):
        if not rws:
            return None
        logs = spark.createDataFrame(rws, LOG_SCHEMA)
        t = decode_erc721_transfers(logs).withColumn("blockchain", F.lit("p"))
        return owner_balances_from_silver(t).withColumn("data_version", F.lit(1))

    keys = ["blockchain", "account", "collection_id", "token_id_hex"]
    merged = None
    for chunk in (a, b):
        d = deltas(chunk)
        if d is None:
            continue
        merged = d if merged is None else additive_upsert(merged, d, keys, drop_zero=False)
    got = (
        {}
        if merged is None
        else {
            (r["account"], r["token_id_hex"]): r["quantity"]
            for r in merged.collect()
            if r["quantity"] != 0
        }
    )
    bulk = deltas(rows)
    exp = (
        {}
        if bulk is None
        else {
            (r["account"], r["token_id_hex"]): r["quantity"]
            for r in bulk.collect()
            if r["quantity"] != 0
        }
    )
    assert got == exp


@pytest.mark.slow
@given(
    updates=st.lists(
        st.tuples(st.sampled_from(["k1", "k2", "k3"]), st.integers(1, 5), st.integers(0, 100)),
        min_size=1,
        max_size=8,
    ),
    seed=st.integers(0, 2**16),
)
@SPARK_SETTINGS
def test_versioned_upsert_is_permutation_invariant(spark, updates, seed):
    """Applying versioned upserts in any order yields the same final rows
    when (version, value) pairs are unique per key (LWW determinism)."""
    import random

    # make (key, version) unique so LWW has a well-defined winner
    dedup = {}
    for k, v, val in updates:
        dedup[(k, v)] = val
    seq = [(k, val, v) for (k, v), val in dedup.items()]
    shuffled = list(seq)
    random.Random(seed).shuffle(shuffled)

    def apply(seq_rows):
        df = spark.createDataFrame([(seq_rows[0][0], seq_rows[0][1], seq_rows[0][2])], ["k", "val", "data_version"])
        for k, val, v in seq_rows[1:]:
            upd = spark.createDataFrame([(k, val, v)], ["k", "val", "data_version"])
            df = versioned_upsert(df, upd, ["k"])
        return {r["k"]: (r["val"], r["data_version"]) for r in df.collect()}

    assert apply(seq) == apply(shuffled)


@pytest.mark.slow
@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=25,
    )
)
def test_dedup_components_match_union_find(spark, edges):
    """dedup_components == a pure-Python union-find oracle, for arbitrary
    edge sets (duplicates, both orientations, chains, stars)."""
    from block_crawler_spark.operators.dedup import dedup_components

    pairs = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges], "id_a long, id_b long"
    )
    got = {r["id"]: r["comp"] for r in dedup_components(pairs).collect()}

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    exp = {x: find(x) for x in parent}
    assert got == exp


def test_bucketed_rank_selection_matches_sorted_multiset(spark):
    """`_middle_rank_sum` (two-pass bucketed selection, round-5 scale fix)
    must equal the brute-force doubled median of the sorted multiset on
    every shape: odd n, even n, fully-constant values (hi == lo
    short-circuit), heavy duplicates, negatives, and a singleton type."""
    from block_crawler_spark.plans.events_ops import _middle_rank_sum

    cases = {
        "odd": [3, 1, 2],
        "even": [10, 20, 30, 40],
        "const": [7, 7, 7, 7, 7],
        "dup_heavy": [5] * 40 + [1, 9] * 3,
        "neg": [-5, -1, -3, 100],
        "single": [42],
        "wide": list(range(0, 5000, 7)),
    }
    rows = [(t, v) for t, vs in cases.items() for v in vs]
    e = spark.createDataFrame(rows, "event_type string, cents long")
    got = {
        r["event_type"]: (r["n"], r["median2x"])
        for r in _middle_rank_sum(e, "cents", "median2x").collect()
    }
    for t, vs in cases.items():
        s, n = sorted(vs), len(vs)
        want = s[(n + 1) // 2 - 1] + s[(n + 2) // 2 - 1]
        assert got[t] == (n, want), f"{t}: got {got[t]}, want {(n, want)}"


def test_exact_rank_values_percentiles_match_sorted_multiset(spark):
    """The generalized multi-rank selection must equal brute-force
    nearest-rank percentiles on every shape (odd/even/constant/duplicate
    heavy/negative/singleton)."""
    from block_crawler_spark.plans.events_ops import _exact_rank_values

    cases = {
        "odd": [3, 1, 2, 9, 5],
        "even": [10, 20, 30, 40],
        "const": [7] * 9,
        "dup_heavy": [5] * 40 + [1, 9] * 3,
        "neg": [-5, -1, -3, 100],
        "single": [42],
        "wide": list(range(0, 5000, 7)),
    }
    pcts = (25, 50, 75, 90, 99)
    rows = [(t, v) for t, vs in cases.items() for v in vs]
    e = spark.createDataFrame(rows, "event_type string, cents long")
    ranks = {f"p{p}": f"(n * {p} + 99) div 100" for p in pcts}
    got = {r["event_type"]: r.asDict() for r in _exact_rank_values(e, "cents", ranks).collect()}
    for t, vs in cases.items():
        s, n = sorted(vs), len(vs)
        for p in pcts:
            want = s[(n * p + 99) // 100 - 1]
            assert got[t][f"p{p}"] == want, (t, p, got[t], want)
        assert got[t]["n"] == n


@pytest.mark.slow
@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    groups=st.dictionaries(
        st.sampled_from(["a", "b", "c"]),
        st.lists(st.integers(min_value=-(10**12), max_value=10**12), min_size=1, max_size=60),
        min_size=1,
        max_size=3,
    ),
    seed=st.randoms(),
)
def test_rank_selection_random_differential(spark, groups, seed):
    """Randomized differential: bucketed selection == sorted-multiset
    nearest-rank values for arbitrary group shapes, magnitudes (±1e12 —
    near the bucket-width arithmetic's edge), duplicates, and rank sets."""
    from block_crawler_spark.plans.events_ops import _exact_rank_values

    rows = [(t, v) for t, vs in groups.items() for v in vs]
    seed.shuffle(rows)
    e = spark.createDataFrame(rows, "event_type string, cents long")
    pcts = (1, 50, 100)
    ranks = {f"p{p}": f"(n * {p} + 99) div 100" for p in pcts}
    got = {r["event_type"]: r.asDict() for r in _exact_rank_values(e, "cents", ranks).collect()}
    assert set(got) == set(groups)
    for t, vs in groups.items():
        s, n = sorted(vs), len(vs)
        for p in pcts:
            assert got[t][f"p{p}"] == s[(n * p + 99) // 100 - 1], (t, p, n)


# ---------------------------------------------------------------------------
# Deterministic training-order shuffle (round 5)
# ---------------------------------------------------------------------------


def test_shuffle_shards_deterministic_and_dense(spark):
    """doc_shuffle_shards: same order on re-run; positions dense 1..n per
    shard; every doc appears exactly once (the replayable-training-order
    invariant orderBy(rand()) cannot give)."""
    from block_crawler_spark.plans.text_ops import SHUFFLE_SHARDS, shuffle_shards_query

    sf = "/root/testdata/sf0.001"
    a = shuffle_shards_query(spark, sf).collect()
    b = shuffle_shards_query(spark, sf).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    n_docs = len({r["doc_id"] for r in a})
    assert len(a) == n_docs
    by_shard = {}
    for r in a:
        assert 0 <= r["shard"] < SHUFFLE_SHARDS
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    for positions in by_shard.values():
        assert sorted(positions) == list(range(1, len(positions) + 1))
