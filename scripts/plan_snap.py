"""Snapshot ``explain("formatted")`` for named registry queries into
``<out>/<query>_<tag>.txt`` — before/after plan evidence for an
optimization.

    python scripts/plan_snap.py --out DIR --tag before --only q1,q2
    python scripts/plan_snap.py --out DIR --tag after  --only q1,q2 --time

``--time`` additionally runs each query once through the noop sink and
appends the wall seconds as a trailing comment line (a smoke number, not
the bench record — bench.py remains the record).
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from block_crawler_spark.plans.registry import all_queries  # noqa: E402
from block_crawler_spark.session import get_spark  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--out", required=True, help="directory the plan files are written to")
    ap.add_argument("--tag", required=True)
    ap.add_argument("--only", required=True, help="comma-separated query names")
    ap.add_argument("--time", action="store_true")
    args = ap.parse_args()

    os.makedirs(args.out, exist_ok=True)
    spark = get_spark("plan-snap")
    spark.sparkContext.setLogLevel("ERROR")
    registry = all_queries()
    names = [n.strip() for n in args.only.split(",") if n.strip()]
    for name in names:
        fn, _sql = registry[name]
        spark.sparkContext.setJobDescription(f"plan snap: {name}")
        df = fn(spark, args.sf)
        plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
        extra = ""
        if args.time:
            t0 = time.time()
            df.write.format("noop").mode("overwrite").save()
            extra = f"\n-- noop wall: {time.time() - t0:.2f}s (single sample, not the bench record)\n"
        path = os.path.join(args.out, f"{name}_{args.tag}.txt")
        with open(path, "w") as f:
            f.write(plan + extra)
        print(f"wrote {path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
