"""The commit protocol of both parquet stores: write beside, flip a pointer.

A commit writes its data into a new directory beside the committed ones,
then replaces a small pointer file that names what reads include.  The
replace is an atomic rename, so a crash at any point before it leaves the
pointer naming complete data, and a crash after it leaves only directories
no pointer names, which the next commit prunes.  The silver store
(``streaming.store``) keeps a ``v-N`` directory per table version under a
``_CURRENT`` pointer; the corpus store (``streaming.corpus``) appends
``batch-<id>`` directories and folds them into ``compact-N`` snapshots
named by a ``_LIVE`` pointer.

A missing pointer means nothing is committed yet.  Any other read error,
or content that does not parse, raises: a store that took an unreadable
pointer for an absent one would commit from an empty state and prune the
data the pointer named.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable, Iterable
from typing import TypeVar

T = TypeVar("T")


def read_pointer(path: str, parse: Callable[[str], T] = str) -> T | None:
    """``parse`` applied to the stripped text of the pointer file at
    ``path``; ``None`` iff the file does not exist."""
    try:
        with open(path) as f:
            text = f.read()
    except FileNotFoundError:
        return None
    return parse(text.strip())


def write_pointer(path: str, text: str) -> None:
    """Replace the pointer file atomically: a reader sees the old text or
    the new one, never part of either.  The temp name carries the pid, so
    two writers never share a temp file."""
    tmp = f"{path}.tmp-{os.getpid()}"
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, path)


def pin(path: str, text: str) -> str:
    """Write-once marker: the text already pinned at ``path``, or ``text``
    after pinning it there."""
    pinned = read_pointer(path)
    if pinned is not None:
        return pinned
    os.makedirs(os.path.dirname(path), exist_ok=True)
    write_pointer(path, text)
    return text


def committed(path: str) -> bool:
    """True iff Spark finished writing the directory at ``path``: its file
    committer creates ``_SUCCESS`` after every data file."""
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def next_dir(base: str, prefix: str) -> str:
    """``<prefix>-<N+1>`` for the highest ``<prefix>-<N>`` under ``base``,
    committed or not, so a commit never writes into a directory that a
    crashed commit left behind."""
    try:
        names = os.listdir(base)
    except FileNotFoundError:
        names = []
    n = max((int(d[len(prefix) + 1 :]) for d in names if d.startswith(f"{prefix}-")), default=0)
    return f"{prefix}-{n + 1}"


def prune(base: str, prefix: str, keep: Iterable[str | None]) -> None:
    """Delete every ``<prefix>-*`` directory under ``base`` outside ``keep``:
    superseded versions and the leftovers of crashed commits.  Only space
    is at stake, so a directory that fails to delete is left for the next
    prune."""
    keep = set(keep)
    try:
        names = os.listdir(base)
    except FileNotFoundError:
        return
    for d in names:
        if d.startswith(f"{prefix}-") and d not in keep:
            shutil.rmtree(os.path.join(base, d), ignore_errors=True)


def swap_dir(tmp: str, dst: str) -> None:
    """Move the fully written directory ``tmp`` to ``dst``, replacing any
    directory there.  The old one is renamed aside, the new one renamed in,
    then the aside copy deleted, so a reader racing the swap sees the whole
    old directory, the whole new one, or none, and never one whose
    ``_SUCCESS`` survives while its data files are being deleted.  If the
    rename in fails (a concurrent writer got there first), ``tmp`` is
    dropped and, when ``dst`` is then absent, the old directory restored."""
    aside = f"{dst}.old-{os.getpid()}"
    shutil.rmtree(aside, ignore_errors=True)
    if os.path.exists(dst):
        os.rename(dst, aside)
    try:
        os.rename(tmp, dst)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.exists(dst) and os.path.exists(aside):
            os.rename(aside, dst)
            return
    shutil.rmtree(aside, ignore_errors=True)
