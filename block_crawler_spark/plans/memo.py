"""Build-time memo: the one owner of what a query build materializes on the
driver.

Some query builds train a model (k-means centroids, PQ codebooks, the SQ8
bounds) or compute a small stage that several queries share (near-dup pair
sets and their closures).  Each is computed once per process and replayed
from its collected rows.  An entry is keyed by its ``kind``, the constants
that shape it (``params``) and the :func:`~..sources.tables.file_state` of
every table it reads, so a rewritten table is rebuilt rather than replayed.
Every builder is deterministic, so a hit is row-identical to a build.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql.types import StructType

from ..sources.tables import file_state

# Row cap of a stage whose size depends on the data: 100k rows are a few MB
# of driver rows.
MAX_ROWS = 100_000
# Entries per process; past it the memo starts over, so a process that
# builds over many inputs cannot grow it without bound.
MAX_ENTRIES = 64

# key -> (rows, schema), or None: the stage was over its row cap
_entries: dict[tuple, tuple[list[Row], StructType] | None] = {}


def _key(kind: str, params: tuple, tables: Iterable[str]) -> tuple:
    return (kind, params, tuple((path, file_state(path)) for path in tables))


def _store(key: tuple, value: tuple[list[Row], StructType] | None) -> None:
    if len(_entries) >= MAX_ENTRIES:
        _entries.clear()
    _entries[key] = value


def frame(
    spark: SparkSession,
    kind: str,
    params: tuple,
    tables: Iterable[str],
    build: Callable[[], DataFrame],
    max_rows: int | None = None,
) -> DataFrame:
    """``build()``'s rows as a frame, built once per key.  Over ``max_rows``
    only that verdict is stored and the live frame is returned, now and on
    every later call, so no call pays the cap probe twice."""
    key = _key(kind, params, tables)
    if key in _entries:
        hit = _entries[key]
        return build() if hit is None else spark.createDataFrame(*hit)
    df = build()
    if max_rows is None:
        got = df.collect()
    else:
        got = df.take(max_rows + 1)
        if len(got) > max_rows:
            _store(key, None)
            return df
    _store(key, (got, df.schema))
    return spark.createDataFrame(got, df.schema)


def rows(kind: str, params: tuple, tables: Iterable[str], build: Callable[[], DataFrame]) -> list[Row]:
    """``build()``'s collected rows, built once per key: for trained
    parameters the driver reads itself, which a hit serves with no job."""
    key = _key(kind, params, tables)
    hit = _entries.get(key)
    if hit is None:
        df = build()
        hit = (df.collect(), df.schema)
        _store(key, hit)
    return hit[0]


def entries() -> dict[tuple, tuple[list[Row], StructType] | None]:
    """A snapshot: key -> (rows, schema), or None for an over-cap stage."""
    return dict(_entries)


def clear() -> None:
    _entries.clear()
