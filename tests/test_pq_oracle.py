"""The PQ family's registry queries against their DuckDB oracle SQL at
sf0.001, in the test session: row count, column set and the
order-insensitive value hash of ``scripts/check_oracle.py`` (both engines
fetched through pandas, as there).  The query names sit in one tuple so
the module can grow to the full registry."""

from __future__ import annotations

import importlib.util
import os

import duckdb
import pytest

from block_crawler_spark.plans.registry import all_queries
from block_crawler_spark.sources.tables import TABLE_NAMES

SF = "/root/testdata/sf0.001"
ORACLE_QUERIES = (
    "emb_pq_topk",
    "emb_pq_trained_topk",
    "emb_pq_balanced_topk",
    "emb_pq_rerank_topk",
    "emb_ivfpq_topk",
    "emb_ivfpq_rerank_topk",
    "emb_ivfpq_residual_topk",
    "emb_ivfpq_residual_trained",
)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    yield con
    con.close()


@pytest.fixture(scope="module")
def hash_rows():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location("check_oracle", os.path.join(root, "scripts", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod._hash_rows


def _cols_rows(pdf) -> tuple[list[str], list[tuple]]:
    return list(pdf.columns), [tuple(r) for r in pdf.itertuples(index=False, name=None)]


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_query_matches_duckdb_oracle(spark, duck, hash_rows, name):
    fn, sql = all_queries()[name]
    s_cols, s_rows = _cols_rows(fn(spark, SF).toPandas())
    d_cols, d_rows = _cols_rows(duck.sql(sql).df())
    assert len(s_rows) == len(d_rows)
    assert sorted(s_cols) == sorted(d_cols)
    assert hash_rows(s_cols, s_rows) == hash_rows(d_cols, d_rows)
