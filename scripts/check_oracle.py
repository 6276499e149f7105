"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB
over the same sf dir, then compares row count, sorted column names, and an
order-insensitive value hash (rows stringified, sorted, md5'd).  Exit code
!= 0 on any mismatch.  Usage:

    python scripts/check_oracle.py [--sf DIR] [--only name1,name2]

IMPORTANT (round-2 finding, VERDICT.md r1): the driver fetches BOTH engines
through a pandas-style path — DuckDB ``.df()`` and Spark ``.toPandas()`` —
before hashing.  That fetch turns DuckDB DECIMAL(38,x)/HUGEINT into float64
("138014.0") while Spark Decimals stay Decimal ("138014.00"), so any
decimal/hugeint output column hash-fails even when every cell is equal.
This script therefore fetches through the SAME pandas path, so a local
ALL OK implies a driver ALL OK.  The engine-side rule is stricter: every
oracle-checked output column must be int64/string/bool/date on BOTH engines
(BIGINT fixed-point for money — cents/micros).
"""

from __future__ import annotations

import argparse
import hashlib
import importlib.util
import os
import sys
import time
from decimal import Decimal

import duckdb
import numpy as np
import pandas as pd

# the checkout this script lives in: its entry module and its package
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)


def _norm_cell(v) -> str:
    if v is None:
        return "<NULL>"
    if isinstance(v, float):
        if v != v:  # NaN (pandas null for float columns)
            return "<NULL>"
        return repr(v)
    if isinstance(v, (np.floating,)):
        f = float(v)
        return "<NULL>" if f != f else repr(f)
    if isinstance(v, (np.integer,)):
        return str(int(v))
    if isinstance(v, np.bool_):
        return str(bool(v))
    if isinstance(v, Decimal):
        return str(v)
    if isinstance(v, bytes):
        return v.hex()
    if v is pd.NaT:
        return "<NULL>"
    if isinstance(v, np.ndarray):
        return "[" + ",".join(_norm_cell(x) for x in v.tolist()) + "]"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    return str(v)


def _hash_rows(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.md5()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None, help="comma-separated query names")
    args = ap.parse_args()

    spec = importlib.util.spec_from_file_location("entry", os.path.join(_REPO, "__spark_entry__.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    from block_crawler_spark.session import get_spark
    from block_crawler_spark.sources.tables import TABLE_NAMES

    spark = get_spark("check-oracle")
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{args.sf}/{t}.parquet'")

    qs = mod.queries()
    sqls = mod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if args.only and name not in args.only.split(","):
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, args.sf)
            s_pdf = sdf.toPandas()
            s_cols = list(s_pdf.columns)
            s_rows = [tuple(r) for r in s_pdf.itertuples(index=False, name=None)]
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {e}")
            continue
        if name not in sqls:
            print(f"rows  {name}: {len(s_rows)} rows (no oracle — rows-only)")
            continue
        try:
            d_pdf = con.sql(sqls[name]).df()
            d_cols = list(d_pdf.columns)
            d_rows = [tuple(r) for r in d_pdf.itertuples(index=False, name=None)]
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {e}")
            continue
        dt = time.time() - t0
        problems = []
        if len(s_rows) != len(d_rows):
            problems.append(f"rowcount {len(s_rows)} vs {len(d_rows)}")
        if sorted(s_cols) != sorted(d_cols):
            problems.append(f"cols {sorted(s_cols)} vs {sorted(d_cols)}")
        elif _hash_rows(s_cols, s_rows) != _hash_rows(d_cols, d_rows):
            problems.append("value-hash mismatch")
            # show a few differing lines to debug
            order_s = sorted(range(len(s_cols)), key=lambda i: s_cols[i])
            order_d = sorted(range(len(d_cols)), key=lambda i: d_cols[i])
            ls = sorted("|".join(_norm_cell(r[i]) for i in order_s) for r in s_rows)
            ld = sorted("|".join(_norm_cell(r[i]) for i in order_d) for r in d_rows)
            diff = [(a, b) for a, b in zip(ls, ld) if a != b][:3]
            for a, b in diff:
                print(f"      spark : {a[:200]}")
                print(f"      duckdb: {b[:200]}")
        if problems:
            failures.append(name)
            print(f"FAIL  {name}: {'; '.join(problems)}")
        else:
            print(f"OK    {name}: {len(s_rows)} rows  ({dt:.1f}s)")
    print(f"\n{len(failures)} failures" if failures else "\nALL OK")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
