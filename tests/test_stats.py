"""Stats surface (reference ``core/stats.py`` + the 60 s ticker in
``nft/bin/crawl.py:72`` / ``shared.py:187-305``): counters, ticker lines,
and the tail CLI emitting STATS output."""

from __future__ import annotations

import json
import time

import pytest

from block_crawler_spark.streaming.stats import StatsService, StatsTicker, codegen_compiles


def test_counters_and_line():
    s = StatsService()
    s.increment("rpc.eth_getLogs", 3)
    s.increment("blocks", 10)
    s.increment("blocks", 5)
    assert s.get_count("blocks") == 15
    assert s.get_count("missing") == 0
    line = s.line()
    assert line.startswith("STATS uptime_s=")
    assert "blocks=15" in line and "rpc.eth_getLogs=3" in line
    s.reset()
    assert s.get_count("blocks") == 0


def test_ticker_emits_lines():
    s = StatsService()
    out: list[str] = []
    t = StatsTicker(s, interval=0.05, writer=out.append)
    t.start()
    s.increment("batches")
    time.sleep(0.3)
    t.stop(final_line=True)
    assert len(out) >= 2, "ticker must have fired at least once before the final line"
    assert all(line.startswith("STATS ") for line in out)
    assert "batches=1" in out[-1]


@pytest.mark.slow
def test_tail_runner_counts(spark, tmp_path):
    from block_crawler_spark.schemas import LOG_SCHEMA
    from block_crawler_spark.sources.chainfix import standard_scenario
    from block_crawler_spark.streaming.store import SilverStore
    from block_crawler_spark.streaming.tail import TableChainSource, TailRunner

    fb = standard_scenario()
    logs = spark.createDataFrame(fb.rows, LOG_SCHEMA)
    blocks = spark.createDataFrame(
        fb.blocks(),
        "number long, hash string, parent_hash string, miner string, timestamp long, "
        "gas_limit long, gas_used long, size long, difficulty long, transaction_hashes array<string>",
    )
    stats = StatsService()
    store = SilverStore(spark, str(tmp_path / "silver"))
    runner = TailRunner(store, TableChainSource(logs, blocks), blockchain="testnet",
                        trail_blocks=0, stats=stats)
    assert runner.run_once() is not None
    snap = stats.snapshot()
    assert snap["batches"] == 1
    assert snap["blocks"] > 0
    assert snap["transfer_rows"] == store.read("token_transfers").count()
    assert snap["owner_rows"] == store.read("owners").count()
    assert "codegen_compiles" in snap


def test_codegen_compiles_counts_a_new_class(spark):
    """The probe moves when Spark compiles a class it has not seen: an
    integer literal new to this JVM is inlined into the generated code."""
    from pyspark.sql import functions as F

    before = codegen_compiles(spark)
    spark.range(3).select((F.col("id") * F.lit(time.time_ns())).alias("x")).collect()
    assert codegen_compiles(spark) > before


@pytest.mark.slow
def test_tail_cli_stats_line(spark, tmp_path, capsys):
    from block_crawler_spark.cli import main
    from block_crawler_spark.schemas import LOG_SCHEMA
    from block_crawler_spark.sources.chainfix import standard_scenario

    fb = standard_scenario()
    spark.createDataFrame(fb.rows, LOG_SCHEMA).write.parquet(str(tmp_path / "logs"))
    spark.createDataFrame(
        fb.blocks(),
        "number long, hash string, parent_hash string, miner string, timestamp long, "
        "gas_limit long, gas_used long, size long, difficulty long, transaction_hashes array<string>",
    ).write.parquet(str(tmp_path / "blocks"))
    rc = main(["tail", "--logs", str(tmp_path / "logs"), "--blocks", str(tmp_path / "blocks"),
               "--silver", str(tmp_path / "silver"), "--blockchain", "testnet",
               "--trail-blocks", "0", "--once", "--stats-interval", "600"])
    assert rc == 0
    out = capsys.readouterr().out
    stats_lines = [ln for ln in out.splitlines() if ln.startswith("STATS ")]
    assert stats_lines and "batches=1" in stats_lines[-1]
    summary = json.loads(out.splitlines()[-1])
    assert summary["batches"] == 1


@pytest.mark.slow
def test_crawl_cli_stats_line(spark, tmp_path, capsys):
    """The reference's 60 s stats writer runs during BULK loads too
    (shared.py:187-305) — crawl/load now carry --stats-interval and emit a
    final STATS line with per-chunk counters (round 7; previously the
    ticker existed only on the tail)."""
    from block_crawler_spark.cli import main
    from block_crawler_spark.schemas import LOG_SCHEMA
    from block_crawler_spark.sources.chainfix import standard_scenario

    fb = standard_scenario()
    spark.createDataFrame(fb.rows, LOG_SCHEMA).write.parquet(str(tmp_path / "logs"))
    spark.createDataFrame(
        fb.blocks(),
        "number long, hash string, parent_hash string, miner string, timestamp long, "
        "gas_limit long, gas_used long, size long, difficulty long, transaction_hashes array<string>",
    ).write.parquet(str(tmp_path / "blocks"))
    rc = main(["crawl", "--logs", str(tmp_path / "logs"), "--blocks", str(tmp_path / "blocks"),
               "--silver", str(tmp_path / "silver"), "--blockchain", "testnet",
               "--chunk-size", "2", "--stats-interval", "600"])
    assert rc == 0
    out = capsys.readouterr().out
    stats_lines = [ln for ln in out.splitlines() if ln.startswith("STATS ")]
    assert stats_lines, out
    assert "chunks=" in stats_lines[-1] and "height_span=" in stats_lines[-1]
    summary = json.loads(out.splitlines()[-1])
    assert summary["crawled_to"] is not None


def test_cms_overestimates_never_under(spark):
    """The count-min invariant on real data: min-over-rows estimate ≥ exact
    count for every probed token, with equality when no collision lands in
    any of the token's cells."""
    from block_crawler_spark.plans.text_ops import token_cms_query

    rows = token_cms_query(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 20
    assert all(r["cms_n"] >= r["exact_n"] for r in rows), [
        (r["token"], r["exact_n"], r["cms_n"]) for r in rows if r["cms_n"] < r["exact_n"]
    ]
