"""The package holds only what an entry point reaches.

An AST scan of ``block_crawler_spark/``.  The roots are the package's
module-level statements (the ``QUERIES`` dicts, the CLI dispatch), plus
``bench.py``, ``__spark_entry__.py`` and ``perfbench/``.  From the names the
roots reference, the scan follows every top-level def (function or class)
of that name, and the names its body references, transitively.  It matches
names rather than resolving them, so it over-counts reach; a def it calls
unreached has no caller outside tests and scripts.

Every unreached def must be on ``ALLOWLIST`` with its reason, and every
entry must name a def that exists and is unreached, so the list cannot go
stale.  The entries not tagged ``direction 8`` total at most
``MAX_ALLOWED_LINES`` lines.  No Spark session: a pure-Python scan.
"""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "block_crawler_spark"
ENTRY_POINTS = ("bench.py", "__spark_entry__.py", "perfbench")
MAX_ALLOWED_LINES = 200

DIRECTION_8 = (
    "direction 8: the live-RPC chain source; no offline entry point supplies "
    "a node, so only tests reach it until `crawl`/`tail` take an RPC source"
)
_RPC = {
    f"sources/rpc.py:{name}": DIRECTION_8
    for name in (
        "get_height",
        "transaction_rows",
        "log_row",
        "fetch_transactions",
        "_get_logs_adaptive",
        "fetch_logs",
        "fetch_token_uris",
    )
}
_DATASOURCE = {
    f"sources/datasource.py:{name}": DIRECTION_8
    for name in (
        "_BlockRange",
        "_RangePlanner",
        "_log_rows",
        "EvmLogsReader",
        "EvmBlocksReader",
        "EvmTransactionsReader",
        "EvmLogsDataSource",
        "EvmBlocksDataSource",
        "EvmTransactionsDataSource",
        "_HeightOffsetStreamReader",
        "EvmLogsStreamReader",
        "EvmLogsStreamDataSource",
        "EvmTransactionsStreamReader",
        "EvmTransactionsStreamDataSource",
        "register",
    )
}
_LIVE_PROBE = (
    DIRECTION_8 + "; its truth input is a live contract probe (reference verify "
    "check {}), which no offline entry point supplies"
)

ALLOWLIST = {
    **_RPC,
    **_DATASOURCE,
    "streaming/windows.py:stream_tail": DIRECTION_8
    + "; the second tail driver, kept until direction 8 settles on one",
    "operators/verify.py:reconcile_collections": _LIVE_PROBE.format("J1"),
    "plans/crawl.py:total_supply_check": _LIVE_PROBE.format("J4"),
    "operators/merge.py:token_state_merge": "direction 2: the silver true-append "
    "candidate, an incremental per-field merge instead of a whole-bucket rebuild",
    "operators/merge.py:additive_upsert": "direction 2: the additive (K4/K7/K8) "
    "merge a true-append owners sink would apply",
    "operators/merge.py:metadata_url_upsert": "direction 2: the K3 metadata-url "
    "merge a true-append tokens sink would apply",
    "plans/nft_ops.py:holding_stats_pandas": "the grouped-pandas reference that "
    "test_decode_folds checks the registry's window plan of nft_holding_stats against",
}


def _py_files(root: str):
    for dirpath, dirnames, files in os.walk(root):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for f in sorted(files):
            if f.endswith(".py"):
                yield os.path.join(dirpath, f)


def _names(node: ast.AST) -> set[str]:
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
            if n.asname:
                out.add(n.asname)
    return out


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as f:
        return ast.parse(f.read(), path)


def unreached_defs() -> dict[str, int]:
    """``{"module/path.py:name": line count}`` of every top-level def of the
    package that no root reaches."""
    pkg = os.path.join(REPO, PACKAGE)
    defs: dict[str, list[tuple[str, int, ast.AST]]] = {}
    roots: set[str] = set()
    for path in _py_files(pkg):
        for stmt in _parse(path).body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                start = min([stmt.lineno] + [d.lineno for d in stmt.decorator_list])
                key = f"{os.path.relpath(path, pkg)}:{stmt.name}"
                defs.setdefault(stmt.name, []).append((key, stmt.end_lineno - start + 1, stmt))
            else:
                roots |= _names(stmt)
    for entry in ENTRY_POINTS:
        path = os.path.join(REPO, entry)
        for p in _py_files(path) if os.path.isdir(path) else [path]:
            roots |= _names(_parse(p))
    reached: set[str] = set()
    todo = list(roots)
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        for _key, _lines, node in defs.get(name, ()):
            todo.extend(_names(node) - reached)
    return {key: lines for name, entries in defs.items() if name not in reached for key, lines, _ in entries}


def test_every_unreached_def_is_allowlisted_with_a_reason():
    unreached = unreached_defs()
    assert not unreached.keys() - ALLOWLIST.keys(), (
        "top-level defs no entry point reaches; wire them in, delete them "
        f"with their tests, or allowlist them with a reason: {sorted(unreached.keys() - ALLOWLIST.keys())}"
    )
    stale = sorted(ALLOWLIST.keys() - unreached.keys())
    assert not stale, f"allowlist entries that are reached or gone: {stale}"
    assert all(reason.strip() for reason in ALLOWLIST.values())
    counted = {k: unreached[k] for k, reason in ALLOWLIST.items() if not reason.startswith("direction 8")}
    assert sum(counted.values()) <= MAX_ALLOWED_LINES, counted
