"""SparkSession factory with scale-oriented defaults.

Local testing runs on local[N]; the conf below is chosen so the same plans
survive a 1000-executor cluster at ~100 TB:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing);
- broadcast threshold high enough that dimension tables (region/nation/
  customer-sized, or the NFT ``collections``/``crawler_config`` tables)
  broadcast instead of shuffling;
- shuffle partitions sized for the local harness but expected to be
  overridden (or AQE-coalesced) on a real cluster;
- Arrow enabled for the few pandas-UDF paths (ABI edge cases, multimodal);
- :data:`SESSION_CONF`, fixed values that let a steady-state tail batch
  reuse its generated code and skip debug call-site capture.  The test
  session applies the same mapping.

Why each :data:`SESSION_CONF` value (measured on the ``chain_tail``
benchmark workload, seed 7, 4-core box, batches after the first):

- ``spark.sql.codegen.cache.maxEntries=1000``: a load-plus-tail session
  cycles through more generated classes than the default LRU cache of 100
  holds, so most lookups missed: each batch compiled 143–145 classes and
  an identical replay 105–114.  At 1000 a batch compiles 16 (the ones that
  inline its block range or new ``last_block_id``) and a replay 0.
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
    "spark.sql.codegen.cache.maxEntries": "1000",
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}

_FLAG_VALUES = {"1": "true", "true": "true", "yes": "true", "0": "false", "false": "false", "no": "false"}


def env_flag(name: str, default: bool) -> str:
    """Boolean env var as Spark's ``true``/``false``.  Accepts 1/0/true/false/
    yes/no in any case; anything else raises here, naming the variable,
    rather than at Spark's first read of the conf."""
    raw = os.environ.get(name)
    if raw is None:
        return "true" if default else "false"
    try:
        return _FLAG_VALUES[raw.strip().lower()]
    except KeyError:
        raise ValueError(f"{name}={raw!r}: expected one of 1/0/true/false/yes/no") from None


def get_spark(app_name: str = "block-crawler-spark", *, shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or int(cpus)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Size post-shuffle partitions by the advisory BYTE target rather
        # than maximizing partition count — the production-recommended
        # setting for AQE coalescing at any scale (fewer, larger reduce
        # partitions; shuffle blocks grow quadratically with partition
        # count).  Both knobs are env-overridable for cluster tuning; the
        # defaults below are batch-ETL values.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get("SPARK_GRAFT_ADVISORY_PARTITION", "64m"),
        )
        # floor on coalesced partition count: byte-sized targets alone would
        # collapse CPU-dense-but-small-byte stages (keccak decode windows,
        # sessionize) to ONE task; a small cpus-scaled floor keeps them
        # parallel while tiny aggregate stages still coalesce hard.  At
        # cluster scale the advisory size dominates (partitions ≫ floor),
        # so this is a local-parallelism guard, not a tuned constant.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionNum",
            os.environ.get("SPARK_GRAFT_MIN_COALESCED", str(max(2, int(cpus) // 8))),
        )
        # Allow shuffled-hash joins when a build side fits per-partition —
        # skips the sort phase of sort-merge; AQE's local-map threshold
        # converts SMJ→SHJ at runtime when every post-shuffle partition is
        # under the bound, so the OOM risk stays bounded by the same
        # advisory size the coalescer targets.  The STATIC (non-AQE) SHJ
        # selection is separately bounded by canBuildLocalHashMap (build
        # side < autoBroadcastJoinThreshold × shuffle partitions, from plan
        # stats).  The flag is env-overridable so a cluster whose stats
        # under-estimate build sides can restore sort-merge's spill path
        # without a code change.
        .config("spark.sql.join.preferSortMergeJoin", env_flag("SPARK_GRAFT_PREFER_SMJ", False))
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            os.environ.get("SPARK_GRAFT_SHJ_LOCAL_MAP_MAX", "64m"),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config(map=SESSION_CONF)
    )
    return builder.getOrCreate()
