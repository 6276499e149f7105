"""The build-time memo (``plans/memo.py``): entries are keyed by their input
tables' file state, a hit replays the build's rows, and a stage over its
row cap stays a live frame with only the verdict stored."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from block_crawler_spark.plans import memo
from block_crawler_spark.sources.tables import file_state
from test_store import _jobs_in_group

SF = "/root/testdata/sf0.001"


@pytest.fixture(autouse=True)
def _empty_memo():
    memo.clear()
    yield
    memo.clear()


def _write(path: str, ids: list[int]) -> None:
    pq.write_table(pa.table({"id": pa.array(ids, pa.int64())}), path)


def _counting_build(spark, path: str):
    builds: list[int] = []

    def build():
        builds.append(1)
        return spark.read.parquet(path)

    return build, builds


def _ids(df) -> list[int]:
    return sorted(r["id"] for r in df.collect())


def test_rewritten_table_rebuilds_its_entry(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    _write(path, [1, 2, 3])
    build, builds = _counting_build(spark, path)

    assert _ids(memo.frame(spark, "t", (), [path], build)) == [1, 2, 3]
    assert _ids(memo.frame(spark, "t", (), [path], build)) == [1, 2, 3]
    assert len(builds) == 1

    _write(path, [7, 8, 9, 10])
    assert _ids(memo.frame(spark, "t", (), [path], build)) == [7, 8, 9, 10]
    assert len(builds) == 2


def test_in_place_rewrite_of_one_part_file_rebuilds(spark, tmp_path):
    """A directory table's own stat does not change when a part file is
    rewritten under the same name; the key still does."""
    table = tmp_path / "t.parquet"
    table.mkdir()
    for i in range(3):
        _write(str(table / f"part-{i}.parquet"), [i])
    path = str(table)
    build, builds = _counting_build(spark, path)
    assert _ids(memo.frame(spark, "t", (), [path], build)) == [0, 1, 2]

    dir_stat = os.stat(path)
    state = file_state(path)
    _write(str(table / "part-2.parquet"), [20, 21])
    assert os.stat(path).st_mtime_ns == dir_stat.st_mtime_ns
    assert file_state(path) != state
    assert _ids(memo.frame(spark, "t", (), [path], build)) == [0, 1, 20, 21]
    assert len(builds) == 2


def test_params_and_kind_are_part_of_the_key(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    _write(path, [1])
    build, builds = _counting_build(spark, path)
    memo.frame(spark, "t", (1,), [path], build)
    memo.frame(spark, "t", (2,), [path], build)
    memo.frame(spark, "u", (1,), [path], build)
    memo.frame(spark, "t", (1,), [path], build)
    assert len(builds) == 3
    assert len(memo.entries()) == 3


def test_hit_is_row_identical_to_the_build(spark):
    """A trained model replayed from the memo gives the query the same rows,
    and a warm build of either SQ8 query starts no Spark job."""
    from block_crawler_spark.plans.embed_ops import ivfsq_topk_query, sq_topk_query

    for fn in (sq_topk_query, ivfsq_topk_query):
        cold = sorted(map(tuple, fn(spark, SF).collect()))
        warm = sorted(map(tuple, fn(spark, SF).collect()))
        assert cold and cold == warm, fn.__name__
    assert [k[0] for k in memo.entries()] == ["sqbounds"]
    assert _jobs_in_group(spark, "memo-warm-ivfsq", lambda: ivfsq_topk_query(spark, SF)) == []
    assert _jobs_in_group(spark, "memo-warm-sq", lambda: sq_topk_query(spark, SF)) == []


def test_over_the_row_cap_only_the_verdict_is_stored(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    _write(path, [1, 2, 3])
    build, builds = _counting_build(spark, path)
    live = []

    def keep():
        live.append(build())
        return live[-1]

    first = memo.frame(spark, "t", (), [path], keep, max_rows=2)
    assert first is live[0]
    assert list(memo.entries().values()) == [None]
    second = memo.frame(spark, "t", (), [path], keep, max_rows=2)
    assert second is live[1]
    assert _ids(second) == [1, 2, 3]
    assert len(builds) == 2
