"""Readers for the driver-provided analytics tables (TESTDATA.md).

All ten tables of the TPC-H-ish star schema plus events/documents/embeddings,
read via a one-time **bronze compaction cache**: the driver's parquet files
are single-row-group, so a raw scan is one task no matter how many cores
exist — the classic badly-sized-ingest problem.  On first access each
sizable table is rewritten once into multi-partition parquet under
``SPARK_GRAFT_CACHE`` (default ``<repo>/.bronze_cache``); every subsequent
scan parallelizes across the cluster.  This is the same compaction any
100 TB deployment runs on small-file/misrowgrouped bronze; pruning and
pushdown still apply to the compacted copy.

Every read is schema-bound: the schema Spark infers for a path is memoised
per process, keyed by the :func:`file_state` of the file that marks its
state (the raw file itself, or a compacted copy's ``_SUCCESS``), so
building a query over unchanged tables starts no schema-inference job.  The
files are still listed on every load, and a rewritten file has a new state,
so a changed table is read under its new schema.  The build-time memo
(``plans/memo.py``) keys its entries by the same file state.
"""

from __future__ import annotations

import os
import stat
from functools import cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

_CACHE_ROOT = os.environ.get(
    "SPARK_GRAFT_CACHE",
    os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))), ".bronze_cache"),
)
_COMPACT_MIN_BYTES = 200 * 1024
_COMPACT_PARTITIONS = 32


def _normalize_events_ts(df: DataFrame) -> DataFrame:
    """Surface ``events.ts`` as a timestamp regardless of how the parquet
    writer encoded it.

    Driver-generated testdata has shipped ``ts`` both as TIMESTAMP(NANOS)
    (which Spark 4 only reads via the nanos-as-long legacy conf, i.e. as a
    raw ``bigint`` of epoch-nanos) and as plain ``timestamp[us]``.  Inspect
    the *loaded* dtype instead of assuming either: only the raw-long case
    needs the ``timestamp_micros(ts div 1000)`` conversion; a real timestamp
    column passes through untouched.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    dtype = df.schema["ts"].dataType
    if isinstance(dtype, LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(dtype, TimestampNTZType):
        # parquet micros without isAdjustedToUTC loads as TIMESTAMP_NTZ;
        # downstream plans (and the DuckDB oracle) treat the wall-clock as
        # UTC instants, so surface the session-tz TIMESTAMP type every other
        # code path produces (session tz is pinned to UTC in session.py).
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir}/{name}.parquet"


def file_state(path: str) -> tuple | None:
    """What changes when ``path`` is rewritten: (inode, mtime in ns, size)
    of a file; for a directory, that state of every entry by name, since an
    in-place rewrite of one part file leaves the directory's own stat
    unchanged.  ``None`` when ``path`` cannot be statted.  Local file
    systems only: an object store would key on etags."""
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return (st.st_ino, st.st_mtime_ns, st.st_size)
        names = sorted(os.listdir(path))
    except OSError:
        return None
    return tuple((name, file_state(os.path.join(path, name))) for name in names)


@cache
def _inferred_schema(spark: SparkSession, path: str, state: tuple) -> StructType:
    """The schema Spark infers for ``path`` (one Spark job), memoised for
    its marker's file ``state``."""
    return spark.read.parquet(path).schema


def _read(spark: SparkSession, path: str, marker: str) -> DataFrame:
    """``path`` read under the schema inferred while ``marker`` had its
    current file state."""
    state = file_state(marker)
    if state is None:
        return spark.read.parquet(path)  # Spark's error names the missing path
    return spark.read.schema(_inferred_schema(spark, path, state)).parquet(path)


def _read_raw(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = table_path(sf_dir, name)
    if name == "events":
        # Tolerate TIMESTAMP(NANOS) encodings: the conf makes Spark read a
        # nanos column as bigint instead of refusing the file outright; it is
        # a no-op for micros/millis encodings.  The dtype check below decides
        # whether any conversion is actually needed.  Set before every read:
        # it governs the scan as well as the inference.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return _normalize_events_ts(_read(spark, path, path))
    return _read(spark, path, path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    src = table_path(sf_dir, name)
    try:
        size = os.path.getsize(src)
    except OSError:
        return _read_raw(spark, sf_dir, name)
    if size < _COMPACT_MIN_BYTES:
        return _read_raw(spark, sf_dir, name)

    cache_dir = os.path.join(_CACHE_ROOT, os.path.basename(os.path.normpath(sf_dir)), name)
    success = os.path.join(cache_dir, "_SUCCESS")
    # A cache entry older than its source is stale — the driver regenerates
    # the testdata between rounds (possibly with a different schema), so a
    # compaction from a previous generation must be rebuilt, not trusted.
    stale = os.path.exists(success) and os.path.getmtime(success) < os.path.getmtime(src)
    if stale or not os.path.exists(success):
        _read_raw(spark, sf_dir, name).repartition(_COMPACT_PARTITIONS).write.mode(
            "overwrite"
        ).parquet(cache_dir)
    return _read(spark, cache_dir, success)


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}
