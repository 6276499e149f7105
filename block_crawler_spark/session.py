"""SparkSession factory with scale-oriented defaults.

Local testing runs on local[N]; the conf below is chosen so the same plans
survive a 1000-executor cluster at ~100 TB:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing);
- broadcast threshold high enough that dimension tables (region/nation/
  customer-sized, or the NFT ``collections``/``crawler_config`` tables)
  broadcast instead of shuffling;
- shuffle partitions sized for the local harness but expected to be
  overridden (or AQE-coalesced) on a real cluster;
- Arrow enabled for the few pandas-UDF paths (ABI edge cases, multimodal).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


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
        # r14 (optimization guide §2.2): size post-shuffle partitions by the
        # advisory BYTE target rather than maximizing partition count — the
        # production-recommended setting for AQE coalescing at any scale
        # (fewer, larger reduce partitions; quadratic shuffle-block growth is
        # §2.2's scale killer).  Both knobs are env-overridable for cluster
        # tuning; the defaults below are the guide's batch-ETL numbers.
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
        # r14 (guide §3.1/§9): allow shuffled-hash joins when a build side
        # fits per-partition — skips the sort phase of sort-merge; AQE's
        # local-map threshold converts SMJ→SHJ at runtime when every
        # post-shuffle partition is under the bound, so the OOM risk stays
        # bounded by the same advisory size the coalescer targets.  The
        # STATIC (non-AQE) SHJ selection is separately bounded by
        # canBuildLocalHashMap (build side < autoBroadcastJoinThreshold ×
        # shuffle partitions, from plan stats); r15 (ADVICE r14): the flag
        # is env-overridable so a cluster whose stats under-estimate build
        # sides can restore sort-merge's spill path without a code change.
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
    )
    return builder.getOrCreate()
