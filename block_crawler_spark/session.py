"""The one SparkSession builder, for the engine and its tests.

Two deployment settings come from the environment: ``SPARK_GRAFT_CPUS``
(``local[N]`` and the shuffle partition count; default: the usable cores)
and ``SPARK_GRAFT_DRIVER_MEM`` (default ``8g``).  Everything else is fixed
in :data:`SESSION_CONF`, one reason per value.  AQE, with its partition
coalescing and skew-join splitting, is on by Spark's defaults.

- ``coalescePartitions.parallelismFirst=false`` with a 64 MB advisory size:
  AQE sizes post-shuffle partitions by bytes rather than maximising their
  count, so small stages coalesce into few tasks at any scale.  The
  coalesced count keeps a floor of ``max(2, cores // 8)`` so CPU-dense but
  byte-small stages (keccak decode windows, sessionize) stay parallel.
- ``autoBroadcastJoinThreshold=64m``: dimension tables (region/nation/
  customer-sized, or the NFT ``collections``/``crawler_config`` tables)
  broadcast instead of shuffling.
- Shuffled joins are Spark's default sort-merge joins, because those
  spill.  A shuffled-hash build cannot spill, and its size bound is
  checked against shuffle bytes, not the in-memory hash map: with
  shuffled-hash joins preferred, the bulk load of a 2.1M-log chain failed
  with "not enough memory to build hash map".
- Arrow on, for the pandas-UDF paths (ABI edge cases, multimodal).
- Session time zone UTC: block timestamps are UTC.
- UI off: nothing serves it; ``perfbench/run.py --trace 1`` reads stage
  metrics from Spark's status store instead.
- ``spark.sql.codegen.cache.maxEntries=1000``: a load-plus-tail session
  cycles through more generated classes than the default LRU cache of 100
  holds, so most lookups missed: each batch compiled 143–145 classes and
  an identical replay 105–114 (``chain_tail`` benchmark, seed 7, 4 cores).
  At 1000 a batch compiles 16 (the ones that inline its block range or new
  ``last_block_id``) and a replay 0.  This is a static conf, read once per
  JVM, so it must be on the builder before the first session.
- ``spark.python.sql.dataFrameDebugging.enabled=false``: PySpark captures
  the Python call site of every DataFrame operation for error messages;
  without it a batch makes ~7k py4j round trips instead of ~15k.  The
  trade-off: a runtime error loses the DataFrame call-site fragment in its
  message, while the Python traceback remains.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


SESSION_CONF = {
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64m",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.enabled": "false",
    "spark.sql.codegen.cache.maxEntries": "1000",
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def get_spark(app_name: str = "block-crawler-spark") -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    return (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.coalescePartitions.minPartitionNum", str(max(2, cpus // 8)))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config(map=SESSION_CONF)
        .getOrCreate()
    )
