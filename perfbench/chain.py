"""Deterministic chain derived from the generated analytics tables.

The logs follow the mappings of ``block_crawler_spark.plans.nft_ops``, laid
out on one chain:

* ERC-721 Transfer logs from ``lineitem``: block = ``l_orderkey``, tx
  index = ``l_linenumber``, token id = ``l_partkey``; the recipient is the
  order's customer (``o_custkey`` + ``OWNER_BASE``).
* ERC-1155 TransferSingle logs from ``events``, in ``event_id`` (= time)
  order, spread evenly over the blocks, one per block at most, after the
  block's line items: one collection, token id = ``user_id % 50``, the
  recipient is ``user_id + 1000``.

Unlike the nft_ops streams, every log has a unique ``(block, tx_index,
log_index)`` position and every token's history is consistent: its first
event mints it, each later event moves the whole supply from the previous
recipient, and a last event flagged as a return (``l_returnflag = 'R'``)
or an error (``event_type = 'error'``) burns it.  An ERC-1155 token's
supply is its minting event's ``round(value * 100)``.  A fresh load of
this chain therefore reconciles with zero ``verify`` errors.

Collections are skewed by block window: the ERC-721 logs of each window of
``window`` blocks (one tail batch) fall on ``hot_per_window`` suppliers
drawn from the seed, the log's own ``l_suppkey`` picking among them.  So a
batch touches at most ``hot_per_window`` + 1 of the store's 16 collection
buckets, the shape the store's O(touched buckets) merge is built for.
The value 3 is a choice that meets that shape, not a measurement of a
real chain.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import sfgen

# keccak topics of the two event signatures the decoder reads
ERC721_TRANSFER = "0xddf252ad1be2c89b69c2b068fc378daa952ba7f163c4a11628f55a4df523b3ef"
ERC1155_SINGLE = "0xc3d58168c5ae7397731d063d5bbf3d657854427343f4c083240f7aacaa2d0f62"
ZERO_WORD = "0x" + "0" * 64
GENESIS_TS = 1_600_000_000
OWNER_BASE = 1_000_000_000  # ERC-721 recipients: customer key + OWNER_BASE
USER_BASE = 1_000  # ERC-1155 recipients: user id + USER_BASE
SUPPLIER_BASE = 0x1000  # ERC-721 collection address: supplier key + SUPPLIER_BASE
ERC1155_COLLECTION = 777
EVENT_TX = 8  # tx index of a block's event log, after line numbers 1..7


@dataclass(frozen=True)
class ChainSpec:
    sf: float  # scale of the generated tables the logs come from
    window: int  # blocks per tail batch
    tail_batches: int  # the chain's last tail_batches windows arrive as tail batches
    hot_per_window: int = 3


def _hex(values, width: int) -> list[str]:
    """Unsigned ints → ``0x`` + ``width`` zero-padded hex digits (40 for an
    address, 64 for a topic word)."""
    return [f"0x{int(v):0{width}x}" for v in values]


def _histories(tkey: np.ndarray, to_acct: np.ndarray, ends_burn: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(from, to) per log, for logs in chain order: a token's first log
    mints (from 0), each later one comes from the previous recipient, and a
    last log with ``ends_burn`` set burns (to 0)."""
    n = len(tkey)
    by_token = np.argsort(tkey, kind="stable")  # chain order within a token
    tk = tkey[by_token]
    first = np.ones(n, dtype=bool)
    first[1:] = tk[1:] != tk[:-1]
    last = np.ones(n, dtype=bool)
    last[:-1] = tk[:-1] != tk[1:]
    to_sorted = to_acct[by_token]
    prev_to = np.empty(n, dtype=np.int64)
    prev_to[1:] = to_sorted[:-1]
    from_acct, to_final = np.empty(n, dtype=np.int64), np.empty(n, dtype=np.int64)
    from_acct[by_token] = np.where(first, 0, prev_to)
    to_final[by_token] = np.where(last & ends_burn[by_token] & ~first, 0, to_sorted)
    return from_acct, to_final


def generate(spec: ChainSpec, seed: int) -> tuple[pa.Table, pa.Table, pd.DataFrame]:
    """(logs, blocks, events): bronze Arrow tables in LOG_SCHEMA /
    BLOCK_SCHEMA order, plus the decoded truth one row per log."""
    t = sfgen.generate(spec.sf, seed)
    li = t["lineitem"].select(["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_returnflag"]).to_pandas()
    cust = t["orders"].column("o_custkey").to_numpy()
    ev = t["events"].select(["event_id", "user_id", "event_type", "value"]).to_pandas()
    n_blocks = len(cust)
    rng = np.random.default_rng(seed)

    n_supp = t["supplier"].num_rows
    n_windows = -(-n_blocks // spec.window)
    hot = np.stack([rng.choice(n_supp, spec.hot_per_window, replace=False) for _ in range(n_windows)])
    block721 = li.l_orderkey.to_numpy()
    window = (n_blocks - 1 - block721) // spec.window  # counted back from the head, so a tail batch is one window
    supp = hot[window, li.l_suppkey.to_numpy() % spec.hot_per_window]
    e_block = ev.event_id.to_numpy() * n_blocks // len(ev)
    assert len(np.unique(e_block)) == len(ev), "at most one event log per block"

    d = pd.DataFrame(
        {
            "block": np.concatenate([block721, e_block]),
            "tx": np.concatenate([li.l_linenumber.to_numpy(), np.full(len(ev), EVENT_TX)]).astype(np.int32),
            "coll": np.concatenate([supp + SUPPLIER_BASE, np.full(len(ev), ERC1155_COLLECTION)]),
            "token": np.concatenate([li.l_partkey.to_numpy(), ev.user_id.to_numpy() % 50]),
            "to_": np.concatenate([cust[block721] + OWNER_BASE, ev.user_id.to_numpy() + USER_BASE]),
            "burn": np.concatenate([(li.l_returnflag == "R").to_numpy(), (ev.event_type == "error").to_numpy()]),
            "is1155": np.r_[np.zeros(len(li), dtype=bool), np.ones(len(ev), dtype=bool)],
            "cents": np.r_[np.ones(len(li)), np.round(ev.value.to_numpy() * 100)].astype(np.int64),
        }
    )
    d = d.sort_values(["block", "tx"], ignore_index=True)  # chain order
    tkey = d.coll.to_numpy() * 1_000_000 + d.token.to_numpy()
    d["from_"], d["to_"] = _histories(tkey, d.to_.to_numpy(), d.burn.to_numpy())
    d["qty"] = d.groupby(["coll", "token"]).cents.transform("first")  # the mint's amount
    n = len(d)

    block = d.block.to_numpy()
    from_w, to_w, token_w = _hex(d.from_, 64), _hex(d.to_, 64), _hex(d.token, 64)
    is1155 = d.is1155.to_numpy()
    topics = [
        [ERC1155_SINGLE, from_w[i], from_w[i], to_w[i]] if is1155[i] else [ERC721_TRANSFER, from_w[i], to_w[i], token_w[i]]
        for i in range(n)
    ]
    data = [f"0x{tok:064x}{q:064x}" if e else "0x" for e, tok, q in zip(is1155, d.token.tolist(), d.qty.tolist())]
    tx = d.tx.to_numpy()
    logs = pa.table(
        {
            "block_number": block,
            "transaction_index": tx,
            "log_index": np.zeros(n, dtype=np.int32),
            "transaction_hash": [f"0x{b:048x}{i:016x}" for b, i in zip(block.tolist(), tx.tolist())],
            "address": _hex(d.coll, 40),
            "topics": pa.array(topics, type=pa.list_(pa.string())),
            "data": data,
            "removed": np.zeros(n, dtype=bool),
        }
    )
    numbers = np.arange(n_blocks, dtype=np.int64)
    hashes = [f"0x{seed & 0xFFFFFFFF:08x}{b:056x}" for b in numbers.tolist()]
    blocks = pa.table(
        {
            "number": numbers,
            "hash": hashes,
            "parent_hash": [ZERO_WORD] + hashes[:-1],
            "miner": _hex(numbers % 7 + 0x2000, 40),
            "timestamp": GENESIS_TS + 12 * numbers,
            "gas_limit": np.full(n_blocks, 30_000_000, dtype=np.int64),
            "gas_used": np.full(n_blocks, 12_000_000, dtype=np.int64),
            "size": np.full(n_blocks, 50_000, dtype=np.int64),
            "difficulty": np.zeros(n_blocks, dtype=np.int64),
            "transaction_hashes": pa.array([[] for _ in range(n_blocks)], type=pa.list_(pa.string())),
        }
    )
    return logs, blocks, d[["block", "coll", "token", "from_", "to_", "qty"]]


def expected_state(events: pd.DataFrame, top: int) -> dict[str, pd.DataFrame]:
    """What the silver store must hold after ingesting blocks ``0..top``:
    the transfer count, every non-zero balance and every token's supply,
    mint block and original owner.  Computed from the generator's truth,
    independently of the engine."""
    ev = events[events.block <= top]
    deltas = pd.concat(
        [
            ev[ev.to_ != 0].assign(acct=ev.to_, q=ev.qty),
            ev[ev.from_ != 0].assign(acct=ev.from_, q=-ev.qty),
        ]
    )
    owners = deltas.groupby(["acct", "coll", "token"], as_index=False).q.sum()
    owners = owners[owners.q != 0]
    mints = ev[ev.from_ == 0]  # a token's first event, and only that one, mints it
    burned = ev[ev.to_ == 0].groupby(["coll", "token"]).qty.sum().rename("burned")
    tokens = mints.join(burned, on=["coll", "token"]).fillna({"burned": 0})
    return {
        "transfers": len(ev),
        "owners": pd.DataFrame(
            {
                "account": _hex(owners.acct, 40),
                "collection_id": _hex(owners.coll, 40),
                "token_id_hex": _hex(owners.token, 64),
                "quantity": owners.q.astype("int64").to_numpy(),
            }
        ),
        "tokens": pd.DataFrame(
            {
                "collection_id": _hex(tokens.coll, 40),
                "token_id_hex": _hex(tokens.token, 64),
                "quantity": (tokens.qty - tokens.burned).astype("int64").to_numpy(),
                "mint_block": tokens.block.astype("int64").to_numpy(),
                "original_owner": _hex(tokens.to_, 40),
            }
        ),
    }


def write(table: pa.Table, out_dir: str, files: int) -> str:
    """Split ``table`` into ``files`` parquet files (contiguous row ranges,
    so each file covers one block range), giving Spark one scan task per
    file."""
    os.makedirs(out_dir, exist_ok=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(out_dir, f"part-{i:03d}.parquet"))
    return out_dir
