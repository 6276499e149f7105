"""`load` / `force-load` CLI subcommands (reference ``nft/bin/load.py:202-280``,
``nft/bin/force.py``; round-2 per VERDICT r1 "What's missing" #2/#3).

`load` is the fixed-height bulk backfill: over the same block range it must
produce exactly the silver that `crawl` produces, and pin ``last_block_id``
to HEIGHT so a tail takes over at HEIGHT+1.
"""

from __future__ import annotations

import json

import pytest

from block_crawler_spark.cli import main
from block_crawler_spark.schemas import LOG_SCHEMA
from block_crawler_spark.sources.chainfix import standard_scenario
from block_crawler_spark.streaming.store import SilverStore

BLOCKS_DDL = (
    "number long, hash string, parent_hash string, miner string, timestamp long, "
    "gas_limit long, gas_used long, size long, difficulty long, transaction_hashes array<string>"
)


@pytest.fixture(scope="module")
def bronze(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("bronze")
    fb = standard_scenario()
    spark.createDataFrame(fb.rows, LOG_SCHEMA).write.parquet(str(root / "logs"))
    spark.createDataFrame(fb.blocks(), BLOCKS_DDL).write.parquet(str(root / "blocks"))
    height = max(b["number"] for b in fb.blocks())
    return str(root / "logs"), str(root / "blocks"), height


def _table_set(store: SilverStore, table: str) -> set[tuple]:
    return {tuple(r) for r in store.read(table).collect()}


@pytest.mark.slow
def test_load_equals_crawl_over_same_range(spark, bronze, tmp_path, capsys):
    logs, blocks, height = bronze
    s_load, s_crawl = str(tmp_path / "sl"), str(tmp_path / "sc")
    assert main(["load", "--logs", logs, "--blocks", blocks, "--silver", s_load,
                 "--blockchain", "testnet", "--height", str(height)]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["loaded_to"] == height
    assert main(["crawl", "--logs", logs, "--blocks", blocks, "--silver", s_crawl,
                 "--blockchain", "testnet"]) == 0
    st_l, st_c = SilverStore(spark, s_load), SilverStore(spark, s_crawl)
    for table in ("token_transfers", "tokens", "owners"):
        assert _table_set(st_l, table) == _table_set(st_c, table), table
    assert st_l.get_config("testnet") == st_c.get_config("testnet")


@pytest.mark.slow
def test_load_height_clips_and_tail_resumes(spark, bronze, tmp_path, capsys):
    """Loading to height-1 must exclude the top block's transfers and leave
    last_block_id = height-1 (the tail's resume point)."""
    logs, blocks, height = bronze
    s = str(tmp_path / "clip")
    assert main(["load", "--logs", logs, "--blocks", blocks, "--silver", s,
                 "--blockchain", "testnet", "--height", str(height - 1),
                 "--increment-data-version"]) == 0
    store = SilverStore(spark, s)
    dv, last = store.get_config("testnet")
    assert (dv, last) == (2, height - 1)  # epoch bumped 1→2, pinned to HEIGHT
    from pyspark.sql import functions as F

    assert store.read("token_transfers").filter(F.col("block_id") > height - 1).count() == 0


def test_force_load_fixture(spark, tmp_path, capsys):
    s = str(tmp_path / "forced")
    collection = "0x" + "ab" * 20
    assert main(["force-load", "--silver", s, "--blockchain", "testnet",
                 "--collection", collection, "--tx", "0x" + "01" * 32,
                 "--fixture", "--spec", "ERC-721"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out == {"collection": collection, "specification": "ERC-721"}
    store = SilverStore(spark, s)
    rows = store.read("collections").collect()
    assert len(rows) == 1 and rows[0]["collection_id"] == collection


@pytest.mark.slow
def test_chunked_crawl_equals_single_pass(spark, bronze, tmp_path, capsys):
    """--chunk-size N must produce the same silver as the one-pass crawl,
    with last_block_id committed at the final chunk boundary."""
    logs, blocks, height = bronze
    s_chunk, s_once = str(tmp_path / "chunk"), str(tmp_path / "once")
    assert main(["crawl", "--logs", logs, "--blocks", blocks, "--silver", s_chunk,
                 "--blockchain", "testnet", "--chunk-size", str(max(1, height // 3))]) == 0
    assert main(["crawl", "--logs", logs, "--blocks", blocks, "--silver", s_once,
                 "--blockchain", "testnet"]) == 0
    st_ch, st_1 = SilverStore(spark, s_chunk), SilverStore(spark, s_once)
    for table in ("token_transfers", "tokens", "owners"):
        assert _table_set(st_ch, table) == _table_set(st_1, table), table
    assert st_ch.get_config("testnet") == st_1.get_config("testnet")


@pytest.mark.slow
def test_sigint_mid_crawl_commits_progress_and_resumes(spark, bronze, tmp_path, capsys):
    """Graceful stop (reference nft/bin/crawl.py:188-195): an interrupt
    delivered mid-crawl stops at the next chunk boundary with a committed
    config row; re-running resumes from it and converges to the same silver
    as an uninterrupted crawl."""
    import os
    import signal

    from block_crawler_spark.cli import GracefulStop, _bulk_crawl

    logs_p, blocks_p, height = bronze
    logs, blocks = spark.read.parquet(logs_p), spark.read.parquet(blocks_p)
    bottom = blocks.agg({"number": "min"}).collect()[0][0]
    chunk = max(1, (height - bottom) // 3)  # several chunks within the real range

    # deliver a REAL SIGINT to ourselves right after the first chunk's
    # progress commit (hooking set_config, which fires once per chunk)
    store = SilverStore(spark, str(tmp_path / "sig"))
    commits = []
    orig_set = store.set_config

    def counting_set(blockchain, dv, last):
        orig_set(blockchain, dv, last)
        commits.append(last)
        if len(commits) == 1:
            os.kill(os.getpid(), signal.SIGINT)

    store.set_config = counting_set
    with GracefulStop() as stop:
        done = _bulk_crawl(store, logs, blocks, "testnet", 1, height,
                           chunk_size=chunk, signals=stop)
    assert stop.interrupted, "the SIGINT must be absorbed as a graceful stop"
    first_hi = bottom + chunk - 1  # first chunk [bottom, bottom+chunk-1]
    assert commits == [first_hi]
    assert done == first_hi
    dv, last = store.get_config("testnet")
    assert last == first_hi, "interrupted crawl must leave a committed resume point"

    # clean resume: plain handler, runs to completion from the commit point
    store.set_config = orig_set
    done2 = _bulk_crawl(store, logs, blocks, "testnet", 1, height, chunk_size=chunk)
    assert done2 == height
    ref = SilverStore(spark, str(tmp_path / "ref"))
    _bulk_crawl(ref, logs, blocks, "testnet", 1, height)
    for table in ("token_transfers", "tokens", "owners"):
        assert _table_set(store, table) == _table_set(ref, table), table


@pytest.mark.slow
def test_recrawl_same_range_is_idempotent(spark, bronze, tmp_path, capsys):
    """Re-running crawl over the same bronze must rewrite identical silver —
    the additive token quantity must not double-count (ST5 retry
    idempotence; caught by `verify` returning token errors after a second
    crawl)."""
    logs, blocks, _height = bronze
    s = str(tmp_path / "twice")
    for _ in range(2):
        assert main(["crawl", "--logs", logs, "--blocks", blocks, "--silver", s,
                     "--blockchain", "testnet"]) == 0
    capsys.readouterr()
    assert main(["verify", "--logs", logs, "--silver", s]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["clean"] is True, out


@pytest.mark.slow
def test_query_subcommand_sql_over_silver_and_bronze(spark, bronze, tmp_path, capsys):
    """`query` runs ad-hoc Spark SQL over registered bronze + silver views
    — the capability the reference lacks; --save writes parquet without a
    driver collect."""
    logs, blocks, height = bronze
    s = str(tmp_path / "qsilver")
    assert main(["crawl", "--logs", logs, "--blocks", blocks, "--silver", s,
                 "--blockchain", "testnet"]) == 0
    capsys.readouterr()

    assert main(["query", "--silver", s, "--logs", logs,
                 "SELECT COUNT(*) AS n_transfers, COUNT(DISTINCT collection_id) AS n_coll "
                 "FROM token_transfers"]) == 0
    row = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert row["n_transfers"] > 0 and row["n_coll"] > 0

    # join a silver view against a bronze view in one statement
    assert main(["query", "--silver", s, "--logs", logs,
                 "SELECT t.collection_id, COUNT(*) AS n FROM token_transfers t "
                 "JOIN logs l ON l.block_number = t.block_id GROUP BY 1 ORDER BY n DESC",
                 "--limit", "3"]) == 0
    lines = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert 1 <= len(lines) <= 3 and all(x["n"] > 0 for x in lines)

    out = str(tmp_path / "qout")
    assert main(["query", "--silver", s, "SELECT * FROM owners", "--save", out]) == 0
    saved = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert saved == {"saved": out}
    assert spark.read.parquet(out).count() > 0


@pytest.mark.slow
def test_rewind_equals_clipped_crawl(spark, bronze, tmp_path, capsys):
    """Reorg repair: crawl the full chain, rewind to N, and the silver must
    equal a crawl that never saw blocks > N — orphaned-branch tokens
    disappear, balances re-derive, last_block_id clamps to the fork point."""
    logs, blocks, height = bronze
    fork = height - 3
    s_full, s_clip = str(tmp_path / "rw"), str(tmp_path / "clip2")
    assert main(["crawl", "--logs", logs, "--blocks", blocks, "--silver", s_full,
                 "--blockchain", "testnet"]) == 0
    assert main(["rewind", "--silver", s_full, "--blockchain", "testnet",
                 "--to-block", str(fork)]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rewound_to"] == fork and out["config"][1] == fork

    assert main(["load", "--logs", logs, "--blocks", blocks, "--silver", s_clip,
                 "--blockchain", "testnet", "--height", str(fork)]) == 0
    st_rw, st_cl = SilverStore(spark, s_full), SilverStore(spark, s_clip)
    for table in ("token_transfers", "tokens", "owners"):
        assert _table_set(st_rw, table) == _table_set(st_cl, table), table
    assert st_rw.get_config("testnet") == st_cl.get_config("testnet")

    # the repaired store re-crawls cleanly from the fork point to the tip
    assert main(["crawl", "--logs", logs, "--blocks", blocks, "--silver", s_full,
                 "--blockchain", "testnet"]) == 0
    capsys.readouterr()
    assert main(["verify", "--logs", logs, "--silver", s_full]) == 0
    assert json.loads(capsys.readouterr().out.strip().splitlines()[-1])["clean"] is True


@pytest.mark.slow
def test_chunked_load_fresh_epoch_reprocesses(spark, bronze, tmp_path, capsys):
    """--increment-data-version + --chunk-size must reprocess from the
    bronze start under the new epoch (round-5 review: resume-from-config
    silently made the fresh-epoch reload a no-op)."""
    logs, blocks, height = bronze
    s = str(tmp_path / "epoch")
    assert main(["load", "--logs", logs, "--blocks", blocks, "--silver", s,
                 "--blockchain", "testnet", "--height", str(height)]) == 0
    assert main(["load", "--logs", logs, "--blocks", blocks, "--silver", s,
                 "--blockchain", "testnet", "--height", str(height),
                 "--increment-data-version", "--chunk-size", str(max(1, height // 3))]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["loaded_to"] == height and out["data_version"] == 2
    from pyspark.sql import functions as F

    store = SilverStore(spark, s)
    tokens = store.read("tokens")
    assert tokens.count() > 0
    assert tokens.filter(F.col("data_version") == 2).count() == tokens.count(), \
        "every token row must carry the new epoch after the chunked reload"


@pytest.mark.slow
def test_chunked_crawl_clamps_to_bronze_min(spark, bronze, tmp_path):
    """A fresh store over high-block bronze must not grind empty chunks up
    from block 0 — the chunk loop starts at the bronze range's min block."""
    from block_crawler_spark.cli import _bulk_crawl

    logs_p, blocks_p, height = bronze
    from pyspark.sql import functions as F

    logs = spark.read.parquet(logs_p).filter(F.col("block_number") >= 100)
    blocks = spark.read.parquet(blocks_p).filter(F.col("number") >= 100)

    store = SilverStore(spark, str(tmp_path / "hi"))
    commits = []
    orig_set = store.set_config
    store.set_config = lambda bc, dv, last: (orig_set(bc, dv, last), commits.append(last))
    done = _bulk_crawl(store, logs, blocks, "testnet", 1, height, chunk_size=5)
    assert done == height
    assert len(commits) <= (height - 100) // 5 + 1, f"empty low chunks ran: {commits}"
    assert commits[0] >= 104, "first chunk must start at the bronze min, not block 0"


def test_chunked_crawl_empty_bronze_is_clean_noop(spark, tmp_path):
    """Empty bronze + --chunk-size: no TypeError, a clean no-op."""
    from block_crawler_spark.cli import _bulk_crawl
    from block_crawler_spark.schemas import LOG_SCHEMA

    logs = spark.createDataFrame([], LOG_SCHEMA)
    blocks = spark.createDataFrame([], BLOCKS_DDL)
    store = SilverStore(spark, str(tmp_path / "emptyb"))
    assert _bulk_crawl(store, logs, blocks, "testnet", 1, None, chunk_size=10) is None
    assert store.read("token_transfers").count() == 0


def test_graceful_stop_restores_non_python_handler(spark):
    """signal.signal() returns None for handlers installed outside Python;
    restoring that must normalize to SIG_DFL, not raise TypeError."""
    import signal as sg

    from block_crawler_spark.cli import GracefulStop

    saved = {s: sg.getsignal(s) for s in (sg.SIGINT, sg.SIGTERM)}
    try:
        g = GracefulStop().__enter__()
        g._prev = {sg.SIGINT: None, sg.SIGTERM: None}  # simulate C-installed prior handlers
        g.__exit__()  # must not raise
        assert sg.getsignal(sg.SIGINT) == sg.SIG_DFL
    finally:
        for s, h in saved.items():
            sg.signal(s, h if h is not None else sg.SIG_DFL)


def test_rewind_on_fresh_store_is_noop(spark, tmp_path, capsys):
    """rewind on a store with no committed tables must be a clean no-op
    (round-5 review: the tokens schema lacks `specification` until the
    first crawl, and rewind's batch construction crashed on it)."""
    s = str(tmp_path / "fresh")
    assert main(["rewind", "--silver", s, "--blockchain", "testnet", "--to-block", "5"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["transfers"] == 0
