"""Tests for the last SURVEY §2 parity pieces: A4/T12 tokenURI backfill,
T13 force-load, J1 collection reconciliation, IVF."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from block_crawler_spark.operators.ann import ivf_assign, ivf_topk
from block_crawler_spark.operators.verify import reconcile_collections
from block_crawler_spark.plans.crawl import force_load_collection
from block_crawler_spark.schemas import (
    COLLECTION_SCHEMA,
    CONTRACT_SCHEMA,
    INTERFACE_ID_ERC721,
    SELECTOR_NAME,
    SELECTOR_TOKEN_URI,
)
from block_crawler_spark.sources.chainfix import addr, enc_string, enc_uint
from block_crawler_spark.sources.rpc import (
    FakeChainTransport,
    _supports_interface_data,
    fetch_token_uris,
)


def test_fetch_token_uris(spark):
    coll = addr(0xAA01)
    tid = "0x" + enc_uint(7)
    t = FakeChainTransport(
        calls={(coll, SELECTOR_TOKEN_URI + tid[2:]): enc_string("ipfs://meta/7")}
    )
    tokens = spark.createDataFrame(
        [(coll, tid), (coll, "0x" + enc_uint(8))], ["collection_id", "token_id_hex"]
    )
    got = {r["token_id_hex"]: r["metadata_url"] for r in fetch_token_uris(tokens, t).collect()}
    assert got[tid] == "ipfs://meta/7"
    assert got["0x" + enc_uint(8)] is None  # revert → NULL, not an error


def test_fetch_token_uris_pinned_at_mint_block(spark):
    """T12 parity: the reference calls tokenURI at the token's mint block
    (nft/evm/consumers.py:328-374); a mint_block column pins each call."""
    coll = addr(0xAA01)
    tid = "0x" + enc_uint(7)
    data = SELECTOR_TOKEN_URI + tid[2:]
    t = FakeChainTransport(
        calls={
            (coll, data, hex(5)): enc_string("ipfs://at-mint/7"),
            (coll, data): enc_string("https://latest/7"),  # tag-less fallback
        }
    )
    tokens = spark.createDataFrame(
        [(coll, tid, 5)], ["collection_id", "token_id_hex", "mint_block"]
    )
    pinned = fetch_token_uris(tokens, t).collect()[0]["metadata_url"]
    assert pinned == "ipfs://at-mint/7"
    # explicit tag overrides the mint_block column
    latest = fetch_token_uris(tokens, t, block_tag="latest").collect()[0]["metadata_url"]
    assert latest == "https://latest/7"


def test_fetch_token_uris_latest_fallback_on_pruned_node(spark):
    """Against a pruned (non-archive) node the pinned historical call
    reverts; ``latest_fallback=True`` retries once at the head, the default
    keeps the reference-matching NULL."""
    coll = addr(0xAA01)
    tid = "0x" + enc_uint(7)
    data = SELECTOR_TOKEN_URI + tid[2:]
    # only head state is servable — the archive pin at block 5 reverts
    t = FakeChainTransport(calls={(coll, data, "latest"): enc_string("https://head/7")})
    tokens = spark.createDataFrame(
        [(coll, tid, 5)], ["collection_id", "token_id_hex", "mint_block"]
    )
    assert fetch_token_uris(tokens, t).collect()[0]["metadata_url"] is None
    got = fetch_token_uris(tokens, t, latest_fallback=True).collect()[0]["metadata_url"]
    assert got == "https://head/7"


def test_force_load_collection(spark):
    coll = addr(0xAA01)
    t = FakeChainTransport(
        blocks={
            99: {"number": "0x63", "hash": "0x" + "9" * 64, "parentHash": "0x" + "8" * 64,
                 "miner": addr(1), "timestamp": hex(1_600_001_287), "gasLimit": "0x1",
                 "gasUsed": "0x1", "size": "0x1", "difficulty": "0x1", "transactions": []}
        },
        receipts={
            "0xcafe": {"transactionHash": "0xcafe", "blockNumber": "0x63", "transactionIndex": "0x0",
                       "from": addr(0xC0), "to": None, "contractAddress": coll,
                       "gasUsed": "0x1", "cumulativeGasUsed": "0x1", "status": "0x1"}
        },
        calls={
            (coll, _supports_interface_data(INTERFACE_ID_ERC721)): "0x" + enc_uint(1),
            (coll, SELECTOR_NAME): enc_string("Forced"),
        },
    )
    row = force_load_collection(spark, t, coll, "0xcafe", "testnet", 3).collect()[0]
    assert row["specification"] == "ERC-721"
    assert row["creator"] == addr(0xC0)
    assert row["block_created"] == 99
    assert row["date_created"] == 1_600_001_287
    assert row["name"] == "Forced"
    assert row["name_lower"] == "forced"

    # fallback spec when ERC-165 answers nothing
    t2 = FakeChainTransport(receipts=t.receipts, blocks=t.blocks)
    row2 = force_load_collection(spark, t2, coll, "0xcafe", "testnet", 3, "ERC-1155").collect()[0]
    assert row2["specification"] == "ERC-1155"


def test_reconcile_collections(spark):
    coll_ok, coll_bad, coll_ghost = addr(1), addr(2), addr(3)
    db = spark.createDataFrame(
        [
            ("t", coll_ok, None, addr(9), "Good", "good", "G", None, "ERC-721", 1, 1, 1),
            ("t", coll_bad, None, addr(9), "WrongName", "wrongname", "W", None, "ERC-721", 1, 1, 1),
            ("t", coll_ghost, None, None, "Ghost", "ghost", "GH", None, "ERC-721", 1, 1, 1),
        ],
        COLLECTION_SCHEMA,
    )
    truth = spark.createDataFrame(
        [
            (coll_ok, True, False, "Good", "G", None, addr(9)),
            (coll_bad, True, False, "Actual", "W", None, addr(9)),
            (coll_ghost, False, False, None, None, None, None),  # not a collection
            (addr(4), True, False, "Missing", "M", None, None),  # absent from DB
        ],
        CONTRACT_SCHEMA,
    )
    errs = {r["collection_id"]: r["error"] for r in reconcile_collections(db, truth).collect()}
    assert coll_ok not in errs
    assert errs[coll_bad] == "name_mismatch"
    assert errs[coll_ghost] == "not_a_collection"
    assert errs[addr(4)] == "missing_in_db"


def test_ivf_recall_vs_brute(spark):
    from block_crawler_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").cache()
    queries = emb.filter(F.col("vec_id") < 5)
    centroids = emb.filter(F.col("vec_id") < 8)
    # assignment: every vector lands in exactly one cell
    assigned = ivf_assign(emb, centroids)
    assert assigned.count() == emb.count()
    assert assigned.select("centroid_id").distinct().count() <= 8
    # IVF (nprobe=1) property: every returned neighbor shares the query's cell
    ivf = ivf_topk(queries, emb, centroids, k=3).collect()
    assert len(ivf) > 0
    cell = {r["vec_id"]: r["centroid_id"] for r in assigned.collect()}
    for r in ivf:
        assert cell[r["q_id"]] == cell[r["c_id"]]
    # and ranks are dense starting at 1 per query
    by_q = {}
    for r in ivf:
        by_q.setdefault(r["q_id"], []).append(r["rank"])
    for ranks in by_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def _cells(assigned) -> dict[int, set[int]]:
    out: dict[int, set[int]] = {}
    for r in assigned.collect():
        out.setdefault(r["vec_id"], set()).add(r["centroid_id"])
    return out


@pytest.mark.parametrize("n_assign", [1, 3])
def test_ivf_assign_ranks_nan_sims_first(spark, n_assign):
    """A zero-norm vector or centroid, or a NaN component, scores NaN
    instead of raising under ANSI division, and NaN ranks first: a NaN
    vector's cells are its lowest centroid ids, and a zero centroid comes
    before every real match.  No centroids means no rows."""
    vec = "vec_id long, embedding array<double>"
    centroids = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0]), (3, [1.0, 1.0, 0.0])], vec
    )
    vectors = spark.createDataFrame(
        [(10, [0.0, 0.0, 0.0]), (11, [1.0, 0.1, 0.0]), (12, [float("nan"), 1.0, 0.0])], vec
    )
    # by (NaN first, sim desc, id): vector 11 orders centroids 1 (NaN), 0, 3, 2
    order = {10: [0, 1, 2, 3], 11: [1, 0, 3, 2], 12: [0, 1, 2, 3]}
    got = _cells(ivf_assign(vectors, centroids, n_assign=n_assign))
    assert got == {v: set(ids[:n_assign]) for v, ids in order.items()}
    assert ivf_assign(vectors, centroids.limit(0), n_assign=n_assign).count() == 0


def test_ivf_assign_breaks_equal_cosines_to_the_lowest_centroid_id(spark):
    """Centroids at exactly equal cosine to a vector are taken lowest id
    first, so the cells match ``row_number() OVER (PARTITION BY vec_id
    ORDER BY sim DESC, centroid_id)`` over the same cosines."""
    from pyspark.sql import Window

    from block_crawler_spark.operators.ann import cosine_scored

    vec = "vec_id long, embedding array<double>"
    # to [0, 1, 1], centroids 2, 5 and 7 score 1/sqrt(2) bit for bit; to
    # [1, 0, 0], centroids 2, 5, 6 and 7 score 0
    centroids = spark.createDataFrame(
        [(5, [0.0, 1.0, 0.0]), (2, [0.0, 0.0, 1.0]), (7, [0.0, 2.0, 0.0]), (8, [1.0, 0.0, 0.0]), (6, [0.0, -1.0, 0.0])],
        vec,
    )
    vectors = spark.createDataFrame([(20, [0.0, 1.0, 1.0]), (21, [1.0, 0.0, 0.0])], vec)
    c = centroids.select(F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("c_vec"))
    sims = cosine_scored(vectors.crossJoin(c), ["vec_id", "centroid_id"], F.col("embedding"), F.col("c_vec"))
    sims = sims.withColumnRenamed("score", "sim")
    w = Window.partitionBy("vec_id").orderBy(F.col("sim").desc(), F.col("centroid_id"))
    ranked = sims.withColumn("rn", F.row_number().over(w))
    tied = ranked.filter(F.col("vec_id") == 20).filter(F.col("centroid_id").isin(2, 5, 7))
    assert tied.select("sim").distinct().count() == 1
    assert _cells(ivf_assign(vectors, centroids)) == {20: {2}, 21: {8}}
    reference = _cells(ranked.filter(F.col("rn") <= 3))
    assert reference == {20: {2, 5, 7}, 21: {8, 2, 5}}
    assert _cells(ivf_assign(vectors, centroids, n_assign=3)) == reference


def test_zero_norm_vector_tops_cosine_topk_and_pairs_with_nothing(spark, tmp_path):
    """A zero-norm vector scores NaN instead of raising under ANSI
    division: the brute-force top-k ranks it first (Spark orders NaN above
    every double), and the near-dup query, whose threshold test NaN would
    pass, emits no pair for it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from block_crawler_spark.operators.ann import brute_force_topk
    from block_crawler_spark.plans.embed_ops import cosine_near_dup_query

    vecs = [[0.0, 0.0], [0.0, 0.0], [1.0, 2.0], [1.0, 2.0], [2.0, 1.0]]
    table = pa.table(
        {"vec_id": pa.array(range(len(vecs)), pa.int64()), "embedding": pa.array(vecs, pa.list_(pa.float32()))}
    )
    pq.write_table(table, str(tmp_path / "embeddings.parquet"))
    emb = spark.createDataFrame(list(enumerate(vecs)), "vec_id long, embedding array<float>")
    ranks = {r["vec_id"]: r["rank"] for r in brute_force_topk(emb, [1.0, 2.0], k=3).collect()}
    assert ranks == {0: 1, 1: 2, 2: 3}
    pairs = {(r["id_a"], r["id_b"]) for r in cosine_near_dup_query(spark, str(tmp_path)).collect()}
    assert (2, 3) in pairs and not any({0, 1} & set(p) for p in pairs)


def test_ivf_query_rebuild_makes_few_py4j_round_trips(spark, tmp_path):
    """``ivf_topk`` and ``ivf_assign`` take their fixed Columns from cached
    builders and the table load binds a memoised schema, so rebuilding the
    ``emb_ivf_topk`` query makes ~0.2k py4j round trips (~1.1k when every
    build rebuilt its expressions and inferred the schema)."""
    from datagen import clustered_embeddings
    from test_tail import _round_trips

    from block_crawler_spark.plans.embed_ops import ivf_topk_query

    sf_dir = str(tmp_path)
    clustered_embeddings(spark, n=200, dim=8).write.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    ivf_topk_query(spark, sf_dir)  # builds the cached Columns and the schema memo
    n, df = _round_trips(spark, lambda: ivf_topk_query(spark, sf_dir))
    assert n <= 400
    assert df.columns == ["q_id", "c_id", "rank"]


def test_fetch_token_uris_null_mint_block_falls_back_to_latest(spark):
    """A token first seen via transfer has NULL mint_block — the pinned
    path must fall back to 'latest', not crash on int(NaN)."""
    coll = addr(0xAA01)
    tid = "0x" + enc_uint(9)
    t = FakeChainTransport(calls={(coll, SELECTOR_TOKEN_URI + tid[2:]): enc_string("https://latest/9")})
    tokens = spark.createDataFrame(
        [(coll, tid, None)], "collection_id string, token_id_hex string, mint_block long"
    )
    got = fetch_token_uris(tokens, t).collect()[0]["metadata_url"]
    assert got == "https://latest/9"
