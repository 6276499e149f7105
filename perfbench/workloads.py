"""The two workloads: ``chain_tail`` and ``query_mix``.

Each workload gets a started Spark session and a per-run temp directory,
makes its inputs from the seed, runs its timed part, then checks its
outputs outside the timed part.  The timed part reports two end-to-end
numbers, each the wall time of one unit of work:

* ``cold_s`` — the first unit in the fresh session, paying codegen and
  session memo builds;
* ``warm_s`` — the median of the units that follow it, in a closed loop
  (each starts when the previous one has finished) that runs until
  ``seconds`` have passed: at least one tail batch, or at least
  ``MIN_WARM_PASSES`` query passes (summing each query's median wall).

With tracing on, the same work runs with spans around the package's public
calls, plus the traced-only probes and checks that would slow the timed
runs: ``verify`` and a replayed tail batch in ``chain_tail``, decode and
the folds on the chain load's input in ``query_mix`` (whose ``nft_*``
query runs them too; ``chain_tail``'s traced run has no time left for them
under the per-run limit).

Every counted operation (the load, a tail batch, a query, a verify) has a
label; an output check judges one labelled operation, so an operation
fails at most once, whether it raised or its output was wrong.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import chain
import sfgen

CHAIN = "ethereum-mainnet"
# ~16k logs loaded in bulk, then tail batches of ~930 logs
CHAIN_SPEC = chain.ChainSpec(sf=0.003, window=200, tail_batches=5)
QUERY_SF = 0.001
QUERIES = (
    "tpch_q1_pricing_summary",
    "nft_token_state_from_lineitem",
    "emb_ivf_topk",
)
SETUP_REPEATS = 3
# Warm units are few and short, and their wall drifts down as the JIT warms,
# so a fixed minimum count (not only the time window) keeps runs comparable.
MIN_WARM_PASSES = 3
# the SilverStore calls a tail batch makes, each traced as its own span
STORE_CALLS = ("append_transfers", "rebuild_tokens", "rebuild_owners", "touched_buckets", "get_config", "set_config")


@dataclass
class Run:
    spark: object
    tracer: object
    tmp: str
    seed: int
    seconds: float
    deadline: float  # perf_counter() by which the run's work must be done
    e2e: dict[str, float] = field(default_factory=dict)
    layer: dict[str, float] = field(default_factory=dict)
    ops: dict[str, bool] = field(default_factory=dict)  # operation label → passed

    @property
    def attempted(self) -> int:
        return len(self.ops)

    @property
    def failed(self) -> int:
        return sum(not ok for ok in self.ops.values())

    def op(self, label: str, fn):
        """Run one counted operation under a new label; an exception fails
        it and returns None."""
        assert label not in self.ops, label
        try:
            out = fn()
        except Exception:
            self.ops[label] = False
            print(f"FAILED {label}", file=sys.stderr)
            traceback.print_exc()
            return None
        self.ops[label] = True
        return out

    def check(self, label: str, what: str, ok: bool) -> None:
        """An output check of the operation ``label``; a miss fails it."""
        assert label in self.ops, label
        if not ok:
            self.ops[label] = False
            print(f"CHECK FAILED {label}: {what}", file=sys.stderr)


def _median_setup(make) -> tuple[object, float]:
    """Build the inputs SETUP_REPEATS times; keep the last, return the
    median build time."""
    walls, out = [], None
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        out = make()
        walls.append(time.perf_counter() - t0)
    return out, statistics.median(walls)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _write_chain(run: Run):
    """The chain's bronze logs and blocks under the run's temp directory;
    returns (decoded truth, last block of the bulk load)."""
    logs_t, blocks_t, events = chain.generate(CHAIN_SPEC, run.seed)
    chain.write(logs_t, os.path.join(run.tmp, "bronze", "logs"), 8)
    chain.write(blocks_t, os.path.join(run.tmp, "bronze", "blocks"), 1)
    return events, blocks_t.num_rows - CHAIN_SPEC.tail_batches * CHAIN_SPEC.window - 1


# -- silver store, read back without Spark -----------------------------------
def _current_dir(store_root: str, table: str) -> str | None:
    try:
        with open(os.path.join(store_root, table, "_CURRENT")) as f:
            return os.path.join(store_root, table, f.read().strip())
    except OSError:
        return None


def _store_files(store_root: str) -> dict[str, tuple[int, int]]:
    """Every data file the tables' ``_CURRENT`` pointers reference:
    path → (inode, size)."""
    out = {}
    for table in sorted(os.listdir(store_root)):
        cur = _current_dir(store_root, table)
        if cur is None:
            continue
        for root, _dirs, files in os.walk(cur):
            for name in files:
                if name.endswith(".parquet"):
                    st = os.stat(os.path.join(root, name))
                    out[os.path.join(root, name)] = (st.st_ino, st.st_size)
    return out


def _read_table(store_root: str, table: str):
    import pyarrow.dataset as ds

    return ds.dataset(_current_dir(store_root, table), format="parquet", partitioning="hive").to_table().to_pandas()


def _store_hash(store_root: str) -> dict[str, tuple]:
    return {t: _rows_hash(_read_table(store_root, t)) for t in ("token_transfers", "tokens", "owners", "crawler_config")}


def _check_state(run: Run, store_root: str, expected: dict, label: str) -> None:
    """The store's transfers, owners and tokens against ``expected``; a miss
    fails the operation ``label`` that left the store in this state."""
    transfers = _read_table(store_root, "token_transfers")
    run.check(label, "transfer count", len(transfers) == expected["transfers"])
    owners = _read_table(store_root, "owners")
    got = {(r.account, r.collection_id, r.token_id_hex, int(r.quantity)) for r in owners.itertuples()}
    want = set(expected["owners"].itertuples(index=False, name=None))
    run.check(label, "owners", got == want)
    tok = _read_table(store_root, "tokens")
    got = {
        (r.collection_id, r.token_id_hex, int(r.quantity), int(r.mint_block), r.original_owner) for r in tok.itertuples()
    }
    want = set(expected["tokens"].itertuples(index=False, name=None))
    run.check(label, "tokens", got == want)


# -- chain_tail --------------------------------------------------------------
def chain_tail(run: Run) -> float:
    """Bulk load of the chain's history into an empty store (``cold_s``),
    then one-window micro-batches through ``TailRunner.run_once``
    (``warm_s``).  Traced, it then verifies the store and replays the last
    batch, after the traced batches so that they run as warm as the untraced
    ones.  Returns the input set-up time."""
    from pyspark.sql import functions as F

    from block_crawler_spark.streaming.store import SilverStore
    from block_crawler_spark.streaming.tail import TableChainSource, TailRunner

    import block_crawler_spark.streaming.tail as tail_mod

    spark, tr = run.spark, run.tracer
    spec = CHAIN_SPEC
    (events, cut), setup_s = _median_setup(lambda: _write_chain(run))
    logs = spark.read.parquet(os.path.join(run.tmp, "bronze", "logs"))
    blocks = spark.read.parquet(os.path.join(run.tmp, "bronze", "blocks"))
    store_root = os.path.join(run.tmp, "silver")
    store = SilverStore(spark, store_root)

    if tr.enabled:
        for attr in (*STORE_CALLS, "apply_silver"):
            tr.wrap(store, attr, f"store.{attr}")
        tr.wrap(tail_mod, "crawl_plan", "crawl.plan")
    plan = tail_mod.crawl_plan  # the traced wrapper when tracing

    def load():
        src = TableChainSource(logs, blocks)
        with tr.span("load"):
            dv, _ = store.get_config(CHAIN)
            silver = plan(spark, src.logs(0, cut), src.blocks(0, cut), blockchain=CHAIN, data_version=dv)
            store.apply_silver(silver, dv, blockchains=[CHAIN])
            store.set_config(CHAIN, dv, cut)

    t0 = time.perf_counter()
    run.op("load", load)
    run.e2e["cold_s"] = time.perf_counter() - t0
    if not run.ops["load"]:
        return setup_s
    stored = len(_read_table(store_root, "token_transfers"))
    run.check("load", "transfer count", stored == chain.expected_state(events, cut)["transfers"])

    runner = TailRunner(store, TableChainSource(logs, blocks), blockchain=CHAIN, trail_blocks=0)
    walls, top, batch_stats = [], cut, []
    t_start = time.perf_counter()
    while len(walls) < spec.tail_batches and (not walls or time.perf_counter() - t_start < run.seconds):
        top += spec.window
        runner.source = TableChainSource(logs, blocks.filter(F.col("number") <= top))
        if tr.enabled:
            tr.wrap(runner.source, "height", "tail.height")
        before = _store_files(store_root) if tr.enabled else None
        label = f"tail batch {len(walls) + 1}"
        t0 = time.perf_counter()
        with tr.span("tail.run_once"):
            done = run.op(label, runner.run_once)
        walls.append(time.perf_counter() - t0)
        run.check(label, "batch range", done == (top - spec.window + 1, top))
        if before is not None:
            batch_stats.append(_diff_versions(before, _store_files(store_root)))
    run.e2e["warm_s"] = statistics.median(walls)
    _check_state(run, store_root, chain.expected_state(events, top), label)

    if tr.enabled:
        _chain_layers(run, store_root, batch_stats, len(walls))
        _traced_verify(run, logs.filter(F.col("block_number") <= top), store)
        # a replay costs about one batch; skip it rather than overrun the run's limit
        if time.perf_counter() + max(walls) < run.deadline:
            _replay_check(run, runner, store_root, top - spec.window)
        else:
            print("skipped: replayed batch (no time left in this run)")
    return setup_s


def _diff_versions(before: dict, after: dict) -> dict[str, float]:
    """What one commit wrote: files new to the current versions, split by
    whether their inode existed before (hard-linked) or not (written)."""
    old_inodes = {ino for ino, _ in before.values()}
    new = {p: v for p, v in after.items() if p not in before}
    written = {p: size for p, (ino, size) in new.items() if ino not in old_inodes}
    cur_bytes = sum(size for _, size in before.values())
    return {
        "buckets_touched": len({p.split("cbucket=")[1].split(os.sep)[0] for p in written if "cbucket=" in p}),
        "files_written": len(written),
        "files_linked": len(new) - len(written),
        "bytes_written_mb": sum(written.values()) / 2**20,
        "rewrite_frac": sum(written.values()) / cur_bytes if cur_bytes else 1.0,
    }


def _traced_verify(run: Run, chain_logs, store) -> None:
    """Traced run only, after the timed part: verify over the final store
    must find no errors."""
    from block_crawler_spark.operators import verify

    tr = run.tracer
    for name, fn, table in (
        ("transfers", verify.reconcile_transfers, "token_transfers"),
        ("tokens", verify.reconcile_tokens, "tokens"),
        ("balances", verify.reconcile_balances, "owners"),
    ):
        t0 = time.perf_counter()
        with tr.span(f"verify.{name}"):
            n = run.op(f"verify {name}", lambda: fn(chain_logs, store.read(table)).count())
        run.layer[f"verify.{name}_s"] = time.perf_counter() - t0
        run.check(f"verify {name}", "no errors", n == 0)


def _traced_decode_folds(run: Run) -> None:
    """Traced run only: decode and the folds on the chain load's input, each
    on its own into a noop sink."""
    from pyspark.sql import functions as F

    from block_crawler_spark.operators.decode import decode_token_transfers
    from block_crawler_spark.operators.folds import fold_owners, fold_token_state

    _, cut = _write_chain(run)
    logs = run.spark.read.parquet(os.path.join(run.tmp, "bronze", "logs"))
    transfers = decode_token_transfers(logs.filter(F.col("block_number") <= cut)).withColumn("blockchain", F.lit(CHAIN))
    tr = run.tracer
    for key, fn in (
        ("decode.s", lambda: _noop(transfers)),
        ("folds.token_state_s", lambda: _noop(fold_token_state(transfers))),
        ("folds.owners_s", lambda: _noop(fold_owners(transfers))),
    ):
        t0 = time.perf_counter()
        with tr.span(key):
            run.op(key, fn)
        run.layer[key] = time.perf_counter() - t0


def _chain_layers(run: Run, store_root: str, batch_stats: list, n_batches: int) -> None:
    """Per-batch means of the traced tail batches' spans and store diffs."""
    tr = run.tracer
    batches = tr.named("tail.run_once")
    inner = [s for b in batches for s in tr.descendants(b)]

    def per_batch(name: str) -> float:
        return sum(s.end - s.start for s in inner if s.name == name) / n_batches

    for call in STORE_CALLS:
        run.layer[f"store.{call}_s"] = per_batch(f"store.{call}")
    run.layer["store.apply_silver_self_s"] = sum(
        tr.self_time(s) for s in inner if s.name == "store.apply_silver"
    ) / n_batches
    run.layer["store.jobs"] = len({j for s in inner if s.name.startswith("store.") for j in s.jobs}) / n_batches
    for key in batch_stats[0]:
        run.layer[f"store.{key}"] = statistics.mean(b[key] for b in batch_stats)
    run.layer["store.mb"] = sum(size for _, size in _store_files(store_root).values()) / 2**20
    run.layer["crawl.plan_s"] = per_batch("crawl.plan")
    run.layer["tail.height_s"] = per_batch("tail.height")
    run.layer["tail.self_s"] = sum(tr.self_time(b) for b in batches) / n_batches
    run.layer["tail.batch_s"] = sum(b.end - b.start for b in batches) / n_batches
    run.layer["load.s"] = sum(s.end - s.start for s in tr.named("load"))
    stats = tr.spark_stats(batches)
    run.layer["tail.jobs_per_batch"] = stats["jobs"] / n_batches
    for k, v in stats.items():
        run.layer[f"spark.{k}"] = v / n_batches


def _replay_check(run: Run, runner, store_root: str, prev_last: int) -> None:
    """Replaying the last batch must leave every table's rows identical."""
    from block_crawler_spark.streaming.tail import seed

    before = _store_hash(store_root)
    seed(runner.store, CHAIN, prev_last)
    run.op("replayed batch", runner.run_once)
    run.check("replayed batch", "rows identical", _store_hash(store_root) == before)


# -- query_mix -----------------------------------------------------------------
def query_mix(run: Run) -> float:
    """A cold pass over QUERIES in a fresh session (``cold_s``), then warm
    passes (``warm_s``), every query forced through a noop sink."""
    from block_crawler_spark.plans.registry import all_queries
    from block_crawler_spark.sources.tables import load_all

    spark, tr = run.spark, run.tracer
    sf_dir = os.path.join(run.tmp, "sf")
    _, setup_s = _median_setup(lambda: sfgen.write(sfgen.generate(QUERY_SF, run.seed), sf_dir))
    registry = all_queries()

    def one_pass(tag: str, label: str) -> list[float]:
        walls = []
        for name in QUERIES:
            t0 = time.perf_counter()
            with tr.span(f"q.{name}.{tag}"):
                run.op(f"{name} {label}", lambda: _noop(registry[name][0](spark, sf_dir)))
            walls.append(time.perf_counter() - t0)
        return walls

    t0 = time.perf_counter()
    with tr.span("tables.load_all"):
        load_all(spark, sf_dir)
    run.layer["tables.load_all_s"] = time.perf_counter() - t0
    run.e2e["cold_s"] = time.perf_counter() - t0 + sum(one_pass("cold", "cold"))
    warm = []
    t_start = time.perf_counter()
    while len(warm) < MIN_WARM_PASSES or time.perf_counter() - t_start < run.seconds:
        warm.append(one_pass("warm", f"warm {len(warm) + 1}"))
    # per-query medians, so a slow spell on a shared machine that hits one
    # query in one pass and another query in the next is left out
    run.e2e["warm_s"] = sum(statistics.median(q) for q in zip(*warm))
    _check_queries(run, registry, sf_dir)

    if tr.enabled:
        for name in QUERIES:
            for tag in ("cold", "warm"):
                spans = tr.named(f"q.{name}.{tag}")
                run.layer[f"q.{name}.{tag}_s"] = sum(s.end - s.start for s in spans) / len(spans)
            warm_spans = tr.named(f"q.{name}.warm")
            stats = tr.spark_stats(warm_spans)
            run.layer[f"q.{name}.jobs"] = stats["jobs"] / len(warm_spans)
            run.layer[f"q.{name}.driver_s"] = stats["driver_s"] / len(warm_spans)
        passes = len(warm)
        for k, v in tr.spark_stats([s for s in tr.spans if s.name.endswith(".warm")]).items():
            run.layer[f"spark.{k}"] = v / passes
        _traced_decode_folds(run)
    return setup_s


def _check_queries(run: Run, registry, sf_dir: str) -> None:
    """Each query's rows hash-match its registry DuckDB SQL; a miss fails
    the query's cold operation."""
    import duckdb

    from block_crawler_spark.sources.tables import TABLE_NAMES

    con = duckdb.connect()
    try:
        for t in TABLE_NAMES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        for name in QUERIES:
            fn, sql = registry[name]
            try:
                same = _rows_hash(fn(run.spark, sf_dir).toPandas()) == _rows_hash(con.sql(sql).df())
            except Exception:
                traceback.print_exc()
                same = False
            run.check(f"{name} cold", "matches DuckDB", same)
    finally:
        con.close()


def _rows_hash(df) -> tuple:
    """(row count, sorted columns, order-insensitive md5) of a pandas frame,
    hashed as the registry's oracle check (scripts/check_oracle.py) does."""
    from check_oracle import _hash_rows

    cols = list(df.columns)
    return len(df), sorted(cols), _hash_rows(cols, list(df.itertuples(index=False, name=None)))


WORKLOADS = {"chain_tail": chain_tail, "query_mix": query_mix}
