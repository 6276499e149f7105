"""Deterministic TPC-H-ish analytics tables from a seed.

Same ten tables, column names and types as the scale-factor test tables
described in TESTDATA.md, so every registry query and its DuckDB oracle run on them
unchanged.  ``(l_orderkey, l_linenumber)`` is unique, as in TPC-H.  About
6% of the documents are near-duplicates of an earlier one, and the
embeddings are unit vectors around ten labelled centres, so the dedup and
ANN operators have real work to find.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "scan column window order sort part agg value line key join merge group query a vector "
    "hash slow stream filter fast the batch spark table small data big customer row"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.15, 0.14, 0.14, 0.13]
SEGMENTS = ["FURNITURE", "BUILDING", "MACHINERY", "HOUSEHOLD", "AUTOMOBILE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]
PART_ADJ = ["cold", "small", "large", "blue", "old", "new"]
PART_NOUN = ["widget", "bolt", "rod", "anvil", "ring", "gizmo", "plate"]
PART_TYPES = ["ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD", "SMALL"]
DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000  # 1995-01-01 in µs
EPOCH_2024 = 1_704_067_200_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def generate(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_part, n_supp = int(150_000 * sf), int(200_000 * sf), max(10, int(10_000 * sf))
    n_orders, n_events = int(1_500_000 * sf), int(1_000_000 * sf)
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    price = np.round(900 + (np.arange(n_part) % 200) * 0.1, 2)
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": price,
        }
    )

    odate = EPOCH_1995 + rng.integers(0, 2404, n_orders) * DAY_US  # up to 2001-08-01
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_orders),
            "o_orderstatus": rng.choice(["O", "F", "P"], n_orders),
            "o_totalprice": np.round(rng.uniform(1000, 500_000, n_orders), 2),
            "o_orderdate": _ts(odate),
            "o_orderpriority": rng.choice(PRIORITIES, n_orders),
        }
    )
    lines = rng.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    n_li = len(okey)
    linenumber = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32)
    partkey = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": okey,
            "l_partkey": partkey,
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": linenumber,
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * price[partkey] * rng.uniform(0.9, 2.3, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100,
            "l_tax": rng.integers(0, 9, n_li) / 100,
            "l_returnflag": rng.choice(["N", "R", "A"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": _ts(odate[okey] + rng.integers(1, 122, n_li) * DAY_US),
        }
    )

    ev_ts = np.sort(EPOCH_2024 + rng.integers(0, 30 * DAY_US, n_events))
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": _ts(ev_ts),
            "user_id": rng.integers(0, max(15, n_events // 66), n_events),
            "event_type": rng.choice(EVENT_TYPES, n_events),
            "value": np.maximum(0.01, np.round(rng.exponential(50, n_events), 2)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )

    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.06:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = list(rng.choice(WORDS, int(rng.integers(8, 100))))
        texts.append(" ".join(words))
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n_docs, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
        }
    )

    centres = rng.normal(size=(10, 64))
    label = rng.integers(0, 10, n_emb)
    vec = centres[label] + rng.normal(scale=1.5, size=(n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vec.ravel()), 64).cast(pa.list_(pa.float32())),
            "label": label.astype(np.int32),
        }
    )
    return t


def write(tables: dict[str, pa.Table], out_dir: str) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
