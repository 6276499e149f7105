"""The analytics-table loader: every read binds a memoised schema, so
building a query over unchanged tables starts no Spark job, while a
rewritten file or a stale compaction cache is still picked up."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from test_store import _jobs_in_group

from block_crawler_spark.sources import tables
from block_crawler_spark.sources.tables import load_table


def _write(path: str, n: int, extra: bool = False) -> None:
    cols = {"o_orderkey": pa.array(range(n), pa.int64()), "o_totalprice": pa.array([k * 1.5 for k in range(n)])}
    if extra:
        cols["o_comment"] = pa.array([f"c{k}" for k in range(n)])
    pq.write_table(pa.table(cols), path)


def test_second_load_of_an_unchanged_table_starts_no_job(spark, tmp_path):
    _write(str(tmp_path / "orders.parquet"), 10)
    assert load_table(spark, str(tmp_path), "orders").count() == 10
    assert _jobs_in_group(spark, "load-unchanged", lambda: load_table(spark, str(tmp_path), "orders")) == []


def test_rewritten_file_is_read_under_its_new_schema(spark, tmp_path):
    path = str(tmp_path / "orders.parquet")
    _write(path, 10)
    assert load_table(spark, str(tmp_path), "orders").columns == ["o_orderkey", "o_totalprice"]
    _write(path, 12, extra=True)
    df = load_table(spark, str(tmp_path), "orders")
    assert df.columns == ["o_orderkey", "o_totalprice", "o_comment"]
    assert sorted(r["o_comment"] for r in df.collect()) == sorted(f"c{k}" for k in range(12))


def test_events_nanos_timestamps_load_without_a_job_once_known(spark, tmp_path):
    """``events.ts`` written as TIMESTAMP(NANOS) is read as epoch nanos and
    surfaced as a timestamp, on the inferring load and the schema-bound one."""
    ts = pa.array([1_600_000_000_123_456_789, 1_600_000_001_000_000_000], pa.timestamp("ns"))
    pq.write_table(pa.table({"event_id": pa.array([1, 2], pa.int64()), "ts": ts}), str(tmp_path / "events.parquet"))
    first = load_table(spark, str(tmp_path), "events")
    assert _jobs_in_group(spark, "load-events", lambda: load_table(spark, str(tmp_path), "events")) == []
    again = load_table(spark, str(tmp_path), "events")
    assert dict(again.dtypes)["ts"] == "timestamp"
    assert sorted(map(str, again.collect())) == sorted(map(str, first.collect()))


def test_stale_compaction_cache_is_rebuilt(spark, tmp_path, monkeypatch):
    """A file large enough to compact is read from its cache copy; after the
    source is rewritten the stale copy is rebuilt, and the rebuilt copy is
    then loaded without a job."""
    cache_root = tmp_path / "cache"
    monkeypatch.setattr(tables, "_CACHE_ROOT", str(cache_root))
    sf = tmp_path / "sf"
    sf.mkdir()
    src = str(sf / "orders.parquet")
    n = 20_000
    _write(src, n)
    assert os.path.getsize(src) >= tables._COMPACT_MIN_BYTES
    assert load_table(spark, str(sf), "orders").count() == n
    success = cache_root / "sf" / "orders" / "_SUCCESS"
    built = success.stat().st_mtime_ns

    _write(src, n + 5, extra=True)
    assert os.stat(src).st_mtime_ns > built
    df = load_table(spark, str(sf), "orders")
    assert success.stat().st_mtime_ns > built
    assert df.columns == ["o_orderkey", "o_totalprice", "o_comment"]
    assert df.count() == n + 5
    assert _jobs_in_group(spark, "load-rebuilt", lambda: load_table(spark, str(sf), "orders")) == []
