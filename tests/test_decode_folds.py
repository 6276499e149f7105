"""Decode → fold pipeline vs an independent pure-Python oracle.

The oracle below re-implements the reference fold semantics (SURVEY §2.4-2.5)
directly from the raw fixture logs with plain ints/dicts — sharing no code
with the Spark operators — so agreement is a real correctness check.
Also asserts order-insensitivity: shuffled input ⇒ identical state (ST4).
"""

from __future__ import annotations

import random
import re
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from block_crawler_spark.operators.decode import decode_token_transfers, decode_uri_updates
from block_crawler_spark.operators.folds import (
    fold_erc1155_balances,
    fold_erc721_owners,
    fold_token_state,
)
from block_crawler_spark.schemas import (
    ERC721_TRANSFER_TOPIC,
    ERC1155_TRANSFER_BATCH_TOPIC,
    ERC1155_TRANSFER_SINGLE_TOPIC,
    ERC1155_URI_TOPIC,
    LOG_SCHEMA,
)
from block_crawler_spark.sources.chainfix import ZERO, standard_scenario

DEC_MAX = Decimal(10) ** 38


def _clamp(v: int) -> Decimal | None:
    return Decimal(v) if -DEC_MAX < v < DEC_MAX else None


def _hex64(v: int) -> str:
    return "0x" + f"{v:064x}"


def oracle_decode(rows):
    """Independent decode: raw log dicts → transfer/uri event dicts."""
    transfers, uris = [], []
    for r in rows:
        t0 = r["topics"][0]
        version = r["block_number"] * 10**9 + r["transaction_index"] * 10**4 + r["log_index"]
        base = dict(coll=r["address"], version=version, block=r["block_number"])
        if t0 == ERC721_TRANSFER_TOPIC and len(r["topics"]) == 4:
            frm, to = "0x" + r["topics"][1][-40:], "0x" + r["topics"][2][-40:]
            transfers.append({**base, "spec": "ERC-721", "frm": frm, "to": to,
                              "token": int(r["topics"][3], 16), "qty": 1})
        elif t0 == ERC1155_TRANSFER_SINGLE_TOPIC and len(r["topics"]) == 4:
            frm, to = "0x" + r["topics"][2][-40:], "0x" + r["topics"][3][-40:]
            d = r["data"][2:]
            transfers.append({**base, "spec": "ERC-1155", "frm": frm, "to": to,
                              "token": int(d[0:64], 16), "qty": int(d[64:128], 16)})
        elif t0 == ERC1155_TRANSFER_BATCH_TOPIC and len(r["topics"]) == 4:
            frm, to = "0x" + r["topics"][2][-40:], "0x" + r["topics"][3][-40:]
            d = r["data"][2:]
            off_ids = int(d[0:64], 16) * 2
            off_vals = int(d[64:128], 16) * 2
            n_ids = int(d[off_ids : off_ids + 64], 16)
            ids = [int(d[off_ids + 64 * (i + 1) : off_ids + 64 * (i + 2)], 16) for i in range(n_ids)]
            n_vals = int(d[off_vals : off_vals + 64], 16)
            vals = [int(d[off_vals + 64 * (i + 1) : off_vals + 64 * (i + 2)], 16) for i in range(n_vals)]
            for tid, v in zip(ids, vals):
                transfers.append({**base, "spec": "ERC-1155", "frm": frm, "to": to, "token": tid, "qty": v})
        elif t0 == ERC1155_URI_TOPIC and len(r["topics"]) == 2:
            tid = int(r["topics"][1], 16)
            d = r["data"][2:]
            off = int(d[0:64], 16) * 2
            nbytes = int(d[off : off + 64], 16)
            uri = bytes.fromhex(d[off + 64 : off + 64 + nbytes * 2]).decode("utf-8")
            if tid < 10**38:
                uri = uri.replace("{id}", str(tid))
            uris.append({**base, "token": tid, "uri": uri})
    for t in transfers:
        t["type"] = (
            "burn" if t["to"] == ZERO
            else "mint" if t["frm"] in (ZERO, t["coll"]) and t["to"] != t["coll"]
            else "transfer"
        )
    return transfers, uris


def oracle_fold(transfers, uris):
    tokens, owners721, balances = {}, {}, {}
    for t in sorted(transfers, key=lambda x: x["version"]):
        key = (t["coll"], t["token"])
        st = tokens.setdefault(key, {"spec": t["spec"], "supply": 0, "poison": False,
                                     "orig": None, "mint_block": None, "cur": None, "cur_v": None})
        if t["type"] == "mint":
            if _clamp(t["qty"]) is None:
                st["poison"] = True
            st["supply"] += t["qty"]
            if st["orig"] is None:
                st["orig"] = t["to"]
            if st["mint_block"] is None:
                st["mint_block"] = t["block"]
        elif t["type"] == "burn":
            if _clamp(t["qty"]) is None:
                st["poison"] = True
            st["supply"] -= t["qty"]
        if t["type"] in ("mint", "transfer"):
            st["cur"], st["cur_v"] = t["to"], t["version"]
        # A2 — erc721 last event incl. burn
        if t["spec"] == "ERC-721":
            owners721[key] = (t["to"], t["type"])
        # A3 — erc1155 ± balances (type-aware: mint credits only, burn debits only)
        if t["spec"] == "ERC-1155":
            if t["type"] == "mint":
                sides = [(t["to"], t["qty"])]
            elif t["type"] == "burn":
                sides = [(t["frm"], -t["qty"])]
            else:
                sides = [(t["to"], t["qty"]), (t["frm"], -t["qty"])]
            for acct, delta in sides:
                if acct != ZERO:
                    b = balances.setdefault((t["coll"], t["token"], acct), {"sum": 0, "poison": False})
                    if _clamp(delta) is None:
                        b["poison"] = True
                    b["sum"] += delta
    latest_uri = {}
    for u in sorted(uris, key=lambda x: x["version"]):
        latest_uri[(u["coll"], u["token"])] = u["uri"]
    return tokens, owners721, balances, latest_uri


@pytest.fixture(scope="module")
def fixture_rows():
    return standard_scenario().rows


@pytest.fixture(scope="module")
def decoded(spark, fixture_rows):
    # shuffled input: results must not depend on arrival order
    rows = list(fixture_rows)
    random.Random(7).shuffle(rows)
    logs = spark.createDataFrame(rows, LOG_SCHEMA)
    transfers = decode_token_transfers(logs).withColumn("blockchain", F.lit("testnet")).cache()
    uris = decode_uri_updates(logs).cache()
    return transfers, uris


def test_decode_matches_oracle(spark, decoded, fixture_rows):
    transfers, _ = decoded
    exp_transfers, exp_uris = oracle_decode(fixture_rows)
    got = transfers.collect()
    assert len(got) == len(exp_transfers)
    exp_set = {
        (t["coll"], t["version"], _hex64(t["token"]), t["frm"], t["to"], t["type"], _clamp(t["qty"]))
        for t in exp_transfers
    }
    got_set = {
        (r["collection_id"], r["attribute_version"], r["token_id_hex"], r["from_"], r["to_"],
         r["transaction_type"], r["quantity"])
        for r in got
    }
    assert got_set == exp_set


def test_uri_decode_matches_oracle(spark, decoded, fixture_rows):
    _, uris = decoded
    _, exp_uris = oracle_decode(fixture_rows)
    got = {(r["collection_id"], r["token_id_hex"], r["attribute_version"]): r["metadata_url"] for r in uris.collect()}
    exp = {(u["coll"], _hex64(u["token"]), u["version"]): u["uri"] for u in exp_uris}
    assert got == exp


def test_token_state_fold(spark, decoded, fixture_rows):
    transfers, uris = decoded
    exp_tokens, _, _, exp_uri = oracle_fold(*oracle_decode(fixture_rows))
    got = {(r["collection_id"], r["token_id_hex"]): r for r in fold_token_state(transfers, uris).collect()}
    assert set(got) == {(c, _hex64(t)) for c, t in exp_tokens}
    for (coll, tid), st in exp_tokens.items():
        r = got[(coll, _hex64(tid))]
        assert r["specification"] == st["spec"]
        assert r["quantity"] == (None if st["poison"] else _clamp(st["supply"])), (coll, tid)
        assert r["original_owner"] == st["orig"]
        assert r["mint_block"] == st["mint_block"]
        if st["spec"] == "ERC-721":
            assert r["current_owner"] == st["cur"], (coll, tid)
        else:
            assert r["current_owner"] is None
        assert r["metadata_url"] == exp_uri.get((coll, tid))


def test_erc721_owners_fold(spark, decoded, fixture_rows):
    transfers, _ = decoded
    _, exp_owners, _, _ = oracle_fold(*oracle_decode(fixture_rows))
    exp = {
        (c, _hex64(t)): to for (c, t), (to, typ) in exp_owners.items() if typ != "burn"
    }
    got = {(r["collection_id"], r["token_id_hex"]): r["account"] for r in fold_erc721_owners(transfers).collect()}
    assert got == exp


def test_erc1155_balances_fold(spark, decoded, fixture_rows):
    transfers, _ = decoded
    _, _, exp_bal, _ = oracle_fold(*oracle_decode(fixture_rows))
    exp = {}
    for (c, t, a), b in exp_bal.items():
        q = None if b["poison"] else _clamp(b["sum"])
        if q is None or q != 0:
            exp[(c, _hex64(t), a)] = q
    got = {
        (r["collection_id"], r["token_id_hex"], r["account"]): r["quantity"]
        for r in fold_erc1155_balances(transfers).collect()
    }
    assert got == exp


@pytest.mark.slow
def test_holding_stats_window_equals_pandas(spark):
    """The registry `nft_holding_stats` is the JVM window plan; the grouped-
    pandas form stays as the SURVEY §2.10 API pin.  They must agree, and the
    registry plan must not contain a FlatMapGroupsInPandas node."""
    from block_crawler_spark.plans.nft_ops import holding_stats_pandas, holding_stats_query

    sf = "/root/testdata/sf0.001"
    win = holding_stats_query(spark, sf)
    assert "FlatMapGroupsInPandas" not in win._jdf.queryExecution().executedPlan().toString()
    pdf_w = {tuple(r) for r in win.collect()}
    pdf_p = {tuple(r) for r in holding_stats_pandas(spark, sf).collect()}
    assert pdf_w == pdf_p


@pytest.mark.slow
def test_removed_logs_never_reach_folds(spark, fixture_rows):
    """Reorg guard: a log redelivered with removed=true (orphaned block)
    must be dropped by decode; the same log with removed=false decodes."""
    base = [dict(r) for r in fixture_rows if r["topics"][0] == ERC721_TRANSFER_TOPIC][:3]
    assert base, "fixture must contain ERC-721 transfers"
    live = spark.createDataFrame([tuple(r[f.name] for f in LOG_SCHEMA.fields) for r in base], LOG_SCHEMA)
    n_live = decode_token_transfers(live).count()
    assert n_live == len(base)
    orphaned = [dict(r, removed=True) for r in base]
    mixed = spark.createDataFrame(
        [tuple(r[f.name] for f in LOG_SCHEMA.fields) for r in base + orphaned], LOG_SCHEMA
    )
    assert decode_token_transfers(mixed).count() == n_live  # removed rows pruned


def test_decode_plans_bind_abi_offsets_once(spark, fixture_rows):
    """Guard for the bind-once rule (functions/abi.py): with the ABI offset
    and length helpers inlined, the optimised transfer decode plan read
    ``data`` ~2.5k times and the URI plan ~1.2k times.  Plans only, no job."""
    logs = spark.createDataFrame(fixture_rows, LOG_SCHEMA)
    for decode, cap in ((decode_token_transfers, 200), (decode_uri_updates, 80)):
        plan = decode(logs)._jdf.queryExecution().optimizedPlan().toString()
        refs = len(re.findall(r"\bdata#\d+", plan))
        assert 0 < refs <= cap, f"{decode.__name__}: {refs} references to data"


def test_overflowing_uint256_sum_folds_to_null(spark):
    """Seven mints of 2^124 - 1 (31 hex digits, each inside Decimal(38,0))
    to one account sum past Decimal(38,0).  Both store folds give the
    documented clamp-to-NULL quantity: under ANSI a plain ``sum`` raises,
    and a tail batch that hits it fails on every retry."""
    from block_crawler_spark.operators.folds import owner_balances_from_silver, token_state_from_silver
    from block_crawler_spark.plans.crawl import crawl_plan
    from block_crawler_spark.sources.chainfix import FixtureBuilder, addr

    fb = FixtureBuilder()
    for _ in range(7):
        fb.erc1155_single(addr(0xBB02), addr(0xEE), ZERO, addr(1), 1, int("f" * 31, 16))
    logs = spark.createDataFrame(fb.rows, LOG_SCHEMA)
    blocks = spark.createDataFrame([(b["number"], b["timestamp"]) for b in fb.blocks()], "number long, timestamp long")
    silver = crawl_plan(spark, logs, blocks, blockchain="testnet", data_version=1)
    try:
        owners = owner_balances_from_silver(silver.token_transfers).collect()
        tokens = token_state_from_silver(silver.token_transfers, silver.token_metadata).collect()
    finally:
        silver.release()
    assert [(r["account"], r["quantity"]) for r in owners] == [(addr(1), None)]
    assert [r["quantity"] for r in tokens] == [None]
