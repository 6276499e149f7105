"""Benchmark of the chain pipeline and the query engine.

Run from the repository root:

    python3 perfbench/run.py --workload chain_tail --seed 1 --seconds 3 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 3

One invocation runs one workload in this fresh process (``all`` runs each
workload twice, untraced then traced, each in a child process).  Spark
runs at ``local[<usable cores>]`` with the package on the Python workers'
path.  Inputs come only from ``--seed``; every file the run writes lives
in a temp directory under ``.perfbench_tmp/`` that is removed at exit, so
no run reads what an earlier one wrote.  With ``--trace 1`` the run's
spans are written to ``.perfbench_out/``.

Output: one line per metric (``metric <name> <value> <unit> <workload>``),
an ``env`` line, then a final JSON line ``{"correct", "attempted",
"failed", "metrics"}`` carrying the end-to-end metrics (``--trace 0``) or
the per-layer metrics (``--trace 1``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from workloads import QUERIES, STORE_CALLS, WORKLOADS, Run  # noqa: E402

E2E = {"setup_s": "s", "cold_s": "s", "warm_s": "s"}
# A run must end within RUN_LIMIT_S; its work stops SHUTDOWN_S earlier,
# leaving time to stop Spark and print the results.
RUN_LIMIT_S, SHUTDOWN_S = 180, 15


def layer_metrics() -> dict[str, str]:
    names = {"session.start_s": "s", "tables.load_all_s": "s", "load.s": "s", "crawl.plan_s": "s"}
    names |= {k: "s" for k in ("decode.s", "folds.token_state_s", "folds.owners_s")}
    names |= {f"verify.{k}_s": "s" for k in ("transfers", "tokens", "balances")}
    names |= {f"store.{c}_s": "s" for c in STORE_CALLS} | {"store.apply_silver_self_s": "s"}
    names |= {"store.jobs": "count", "store.files_written": "count", "store.files_linked": "count"}
    names |= {"store.buckets_touched": "count", "store.bytes_written_mb": "MB", "store.rewrite_frac": "ratio"}
    names |= {"store.mb": "MB", "tail.batch_s": "s", "tail.height_s": "s", "tail.self_s": "s", "tail.jobs_per_batch": "count"}
    for q in QUERIES:
        names |= {f"q.{q}.cold_s": "s", f"q.{q}.warm_s": "s", f"q.{q}.jobs": "count", f"q.{q}.driver_s": "s"}
    names |= {"spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count"}
    names |= {f"spark.{k}": "s" for k in ("stage_union_s", "executor_run_s", "driver_s")}
    names |= {f"spark.{k}": "MB" for k in ("shuffle_read_mb", "shuffle_write_mb", "spill_mb")}
    names |= {"mem.peak_rss_mb": "MB", "traced.cold_s": "s", "traced.warm_s": "s", "trace.overhead_s": "s"}
    return names


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def pin_env(root: str, tmp: str) -> None:
    """Environment for Spark, set before the JVM starts: the package on the
    Python workers' path, one Spark core per usable core, and every
    scratch file under ``tmp``."""
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(_cores())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_GRAFT_CACHE"] = os.path.join(tmp, "bronze_cache")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')} "
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
    )


def _peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _git_sha(root: str) -> str:
    """HEAD of the checkout's own repository; ``none`` outside a git checkout."""
    cmd = ["git", f"--git-dir={os.path.join(root, '.git')}", "rev-parse", "HEAD"]
    try:
        out = subprocess.run(cmd, capture_output=True, text=True, check=False)
    except OSError:
        return "none"
    return out.stdout.strip() or "none"


def run_one(args, root: str, tmp: str, started: float) -> int:
    pin_env(root, tmp)
    sys.path[:0] = [root, os.path.join(root, "scripts")]
    load_before = os.getloadavg()[0]

    import pyspark

    from block_crawler_spark.session import get_spark
    from spans import Tracer

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t0
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    jvm = sc._gateway.proc
    tracer = Tracer(spark, f"{args.workload}-{args.seed}", enabled=bool(args.trace))
    run = Run(spark, tracer, tmp, args.seed, float(args.seconds), started + RUN_LIMIT_S - SHUTDOWN_S)
    try:
        input_setup_s = WORKLOADS[args.workload](run)
        peak_rss = _peak_rss_mb(os.getpid()) + _peak_rss_mb(jvm.pid)
    finally:
        spark.stop()
        jvm.stdin.close()  # the gateway JVM exits on EOF
        jvm.wait(timeout=60)

    run.e2e["setup_s"] = session_s + input_setup_s
    if args.trace:
        run.layer |= {
            "session.start_s": session_s,
            "mem.peak_rss_mb": peak_rss,
            "traced.cold_s": run.e2e.get("cold_s", 0.0),
            "traced.warm_s": run.e2e.get("warm_s", 0.0),
            "trace.overhead_s": tracer.overhead_s,
        }
        out_dir = os.path.join(root, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-spans.jsonl"))
        units = layer_metrics()
        values = {k: run.layer.get(k, 0.0) for k in units}
    else:
        units = E2E
        values = {k: run.e2e[k] for k in units if k in run.e2e}
    for name, value in values.items():
        print(f"metric {name} {value:.6g} {units[name]} {args.workload}")
    print(
        f"env nproc={_cores()} loadavg_before={load_before:.2f} loadavg_after={os.getloadavg()[0]:.2f} "
        f"spark={pyspark.__version__} git={_git_sha(root)} attempted={run.attempted} failed={run.failed} "
        f"failed_frac={run.failed / max(run.attempted, 1):.3f}"
    )
    correct = run.failed == 0 and len(values) == len(units)
    result = {
        "correct": correct,
        "attempted": max(run.attempted, 1),
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }
    print(json.dumps(result, separators=(",", ":")))
    return 0 if correct else 1


def run_all(args) -> int:
    """Each workload untraced then traced, each in a fresh process; prints
    their lines, the tracing overhead, and one combined JSON line."""
    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for workload in WORKLOADS:
        results = []
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload, "--seed", str(args.seed)]
            cmd += ["--seconds", str(args.seconds), "--trace", str(trace)]
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False)
            lines = proc.stdout.strip().splitlines()
            print("\n".join(lines[:-1]), flush=True)
            results.append(json.loads(lines[-1]) if lines else {"correct": False, "attempted": 1, "failed": 1, "metrics": {}})
        plain, traced = results
        for key in ("cold_s", "warm_s"):
            if key in plain["metrics"] and f"traced.{key}" in traced["metrics"]:
                extra = traced["metrics"][f"traced.{key}"]["value"] - plain["metrics"][key]["value"]
                print(f"metric trace_overhead.{key} {extra:.6g} s {workload}")
        for r in results:
            combined["correct"] &= r["correct"]
            combined["attempted"] += r["attempted"]
            combined["failed"] += r["failed"]
        combined["metrics"] |= {f"{workload}.{k}": v for k, v in plain["metrics"].items()}
    print(json.dumps(combined, separators=(",", ":")))
    return 0 if combined["correct"] else 1


def main() -> int:
    started = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="length of the warm closed loop")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "block_crawler_spark", "__init__.py")):
        print("perfbench: run from the repository root; block_crawler_spark/ is missing here", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    tmp = os.path.join(root, ".perfbench_tmp", f"{args.workload}-{os.getpid()}")
    os.makedirs(tmp)
    try:
        return run_one(args, root, tmp, started)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
