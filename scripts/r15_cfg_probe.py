"""r15 config bisect for nft_token_state_from_lineitem (VERDICT r14 task 1b).

The query regressed 1.52 -> 1.90 s between r13 and r14 with no code change;
the r14 diff was session config (bytes-first AQE coalescing + SHJ
preference).  This probe times ONE registry query in a fresh session under
an env-provided config so variants can be interleaved from a driver shell:

    python scripts/r15_cfg_probe.py <query> [runs]

Config comes from the same env knobs session.py already exposes
(SPARK_GRAFT_MIN_COALESCED, SPARK_GRAFT_ADVISORY_PARTITION,
SPARK_GRAFT_SHJ_LOCAL_MAP_MAX) plus SPARK_GRAFT_PREFER_SMJ=1 to restore the
r13 join preference.  Prints one line: query, config summary, all samples,
best.
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)


def main() -> None:
    name = sys.argv[1]
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from block_crawler_spark.plans.registry import all_queries
    from block_crawler_spark.session import get_spark

    spark = get_spark(f"cfg-probe-{name}")
    spark.sparkContext.setLogLevel("ERROR")
    if os.environ.get("SPARK_GRAFT_PARALLELISM_FIRST") == "1":
        spark.conf.set("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
    fn = all_queries()[name][0]
    # warm: build the bronze cache + JIT once, untimed
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    samples = []
    for _ in range(runs):
        t0 = time.time()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        samples.append(round(time.time() - t0, 3))
    cfg = {
        k: os.environ.get(k)
        for k in (
            "SPARK_GRAFT_MIN_COALESCED",
            "SPARK_GRAFT_ADVISORY_PARTITION",
            "SPARK_GRAFT_SHJ_LOCAL_MAP_MAX",
            "SPARK_GRAFT_PREFER_SMJ",
            "SPARK_GRAFT_PARALLELISM_FIRST",
        )
        if os.environ.get(k)
    }
    print(
        json.dumps(
            {
                "query": name,
                "cfg": cfg,
                "samples": samples,
                "best": min(samples),
                "load1": round(os.getloadavg()[0], 1),
            }
        )
    )


if __name__ == "__main__":
    main()
