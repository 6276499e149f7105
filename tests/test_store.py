"""SilverStore: snapshot-commit durability, partition pruning, and the
declared per-table schemas.

The store's overwrite must be crash-safe: a failure at any point before the
atomic ``_CURRENT`` pointer flip leaves the previous complete version
readable; stale version dirs and torn pointer temp files never corrupt a
read.  Reads bind each table's stored schema, so building one starts no
Spark job, and an overwrite whose columns differ from it is rejected.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from block_crawler_spark.streaming.store import STORED_SCHEMAS, SilverStore, _bucket


def _mk(spark, tmp_path):
    return SilverStore(spark, str(tmp_path / "silver"))


def _cfg(spark, blockchain, dv, last):
    from block_crawler_spark.schemas import CRAWLER_CONFIG_SCHEMA

    return spark.createDataFrame([(blockchain, dv, last)], CRAWLER_CONFIG_SCHEMA)


def test_overwrite_versions_and_prunes(spark, tmp_path):
    """Retention is one commit deep: the just-superseded version survives
    until the NEXT overwrite (grace window for concurrent readers); older
    versions are pruned."""
    store = _mk(spark, tmp_path)
    store.overwrite("crawler_config", _cfg(spark, "a", 1, 10))
    store.overwrite("crawler_config", _cfg(spark, "a", 1, 20))
    base = store._path("crawler_config")
    versions = sorted(d for d in os.listdir(base) if d.startswith("v-"))
    assert versions == ["v-1", "v-2"], "previous version kept one commit for in-flight readers"
    store.overwrite("crawler_config", _cfg(spark, "a", 1, 30))
    versions = sorted(d for d in os.listdir(base) if d.startswith("v-"))
    assert versions == ["v-2", "v-3"], "v-1 pruned once two commits behind"
    assert store.get_config("a") == (1, 30)


def test_reader_handle_survives_one_overwrite(spark, tmp_path):
    """A lazily-evaluated DataFrame handle taken before an overwrite must
    still scan afterwards — its files live until the next commit."""
    store = _mk(spark, tmp_path)
    store.overwrite("crawler_config", _cfg(spark, "a", 1, 10))
    held = store.read("crawler_config")  # plan pinned to v-1 files
    store.overwrite("crawler_config", _cfg(spark, "a", 1, 20))
    rows = held.collect()  # v-1 still on disk → no FileNotFound
    assert rows[0]["last_block_id"] == 10
    assert store.get_config("a") == (1, 20)


def test_read_survives_torn_write(spark, tmp_path):
    """A crashed write = a stray v-dir and/or a _CURRENT.tmp, but no pointer
    flip.  Reads must keep returning the last committed version."""
    store = _mk(spark, tmp_path)
    store.overwrite("crawler_config", _cfg(spark, "a", 1, 10))
    base = store._path("crawler_config")
    # simulate: next version partially written, crash before pointer flip
    os.makedirs(os.path.join(base, "v-2"), exist_ok=True)
    with open(os.path.join(base, "v-2", "part-garbage.parquet"), "wb") as f:
        f.write(b"\x00not parquet")
    with open(os.path.join(base, "_CURRENT.tmp"), "w") as f:
        f.write("v-2")
    assert store.get_config("a") == (1, 10)
    # and the NEXT successful overwrite commits cleanly past the debris
    store.overwrite("crawler_config", _cfg(spark, "a", 1, 30))
    assert store.get_config("a") == (1, 30)


def test_overwrite_killed_before_its_pointer_flip_keeps_the_previous_version(spark, tmp_path, fail_pointer_flip):
    """An overwrite that dies between its data write and the ``_CURRENT``
    flip leaves the previous version current and reading back identically;
    the next overwrite commits past the orphaned version and prunes it."""
    store = _mk(spark, tmp_path)
    store.set_config("a", 1, 10)
    store.set_config("b", 1, 20)
    base = store._path("crawler_config")
    before = _rows(store, "crawler_config")

    fail_pointer_flip()
    with pytest.raises(OSError, match="killed before flipping _CURRENT"):
        store.set_config("a", 1, 30)
    assert store._current_version("crawler_config") == "v-2"
    assert os.path.exists(os.path.join(base, "v-3", "_SUCCESS")), "the data write finished"
    assert _rows(store, "crawler_config") == before
    assert store.get_config("a") == (1, 10)

    store.set_config("a", 1, 40)
    assert store._current_version("crawler_config") == "v-4"
    assert sorted(d for d in os.listdir(base) if d.startswith("v-")) == ["v-2", "v-4"]
    assert (store.get_config("a"), store.get_config("b")) == ((1, 40), (1, 20))


def test_unreadable_current_pointer_fails_the_overwrite_and_loses_nothing(spark, tmp_path, monkeypatch):
    """A read error on ``_CURRENT`` other than its absence fails the
    overwrite.  Taken for "no version", it would commit a table holding only
    the overwrite's own rows and prune the one the pointer named."""
    import builtins
    import errno

    store = _mk(spark, tmp_path)
    store.set_config("ethereum", 1, 10)
    store.set_config("polygon", 1, 20)
    before = _rows(store, "crawler_config")

    real_open, failed = builtins.open, []

    def open_failing_once(file, *args, **kwargs):
        if not failed and os.path.basename(str(file)) == "_CURRENT":
            failed.append(file)
            raise OSError(errno.EIO, "Input/output error", str(file))
        return real_open(file, *args, **kwargs)

    monkeypatch.setattr(builtins, "open", open_failing_once)
    with pytest.raises(OSError) as err:
        store.set_config("ethereum", 2, 30)
    monkeypatch.undo()
    assert err.value.errno == errno.EIO
    assert _rows(store, "crawler_config") == before
    assert store.get_config("polygon") == (1, 20)


def test_read_modify_write_same_table(spark, tmp_path):
    """The new version is written beside the files being read — a merge that
    reads the current version needs no lineage break."""
    store = _mk(spark, tmp_path)
    store.overwrite("crawler_config", _cfg(spark, "a", 1, 1))
    for i in range(2, 5):
        cur = store.read("crawler_config")  # lazy read of committed version
        nxt = cur.withColumn("last_block_id", F.col("last_block_id") + 1)
        store.overwrite("crawler_config", nxt)  # executes the read mid-write
    assert store.get_config("a") == (1, 4)


def _transfer_row(bc, owner="0xowner1", collection="0xc"):
    return (bc, collection, "00" * 19 + "05", "0x" + "07".rjust(64, "0"), 1_600_000_000, 5,
            "0xabc", 0, 0, "mint", "0x" + "0" * 40, owner, "0x" + "1".rjust(64, "0"), 1)


def _transfers(spark, rows):
    from block_crawler_spark.schemas import TOKEN_TRANSFER_SCHEMA

    return spark.createDataFrame(rows, TOKEN_TRANSFER_SCHEMA).withColumn(
        "batch_index", F.lit(0).cast("int")
    )


def _partition_files(base_dir, cur, part):
    """{relative path: sha256} of every file under <base>/<cur>/blockchain=<part>."""
    import hashlib

    root = os.path.join(base_dir, cur, f"blockchain={part}")
    out = {}
    for r, _d, files in os.walk(root):
        for n in files:
            p = os.path.join(r, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = hashlib.sha256(f.read()).hexdigest()
    return out


def test_partition_pruned_merge_leaves_untouched_blockchain_byte_identical(spark, tmp_path):
    """A merge that declares its touched blockchains rewrites only those
    partition trees; the other chain's files are carried into the new
    version byte-identical (hard links), and reads see both chains."""
    store = _mk(spark, tmp_path)
    store.append_transfers(_transfers(spark, [_transfer_row("chain-a"), _transfer_row("chain-b")]))
    base = store._path("token_transfers")
    before = _partition_files(base, store._current_version("token_transfers"), "chain-b")
    assert before, "seed must have written a chain-b partition dir"

    upd = _transfers(spark, [_transfer_row("chain-a", owner="0xowner2")]).withColumn(
        "attribute_version_hex", F.lit("0x" + "2".rjust(64, "0"))
    )
    store.append_transfers(upd, blockchains=["chain-a"])

    after = _partition_files(base, store._current_version("token_transfers"), "chain-b")
    assert after == before, "untouched blockchain partition must be byte-identical"
    got = store.read("token_transfers")
    assert got.filter(F.col("blockchain") == "chain-a").count() == 2
    assert got.filter(F.col("blockchain") == "chain-b").count() == 1


def _two_collections_in_distinct_buckets(store, spark):
    """Pick two collection ids that land in different cbuckets (pure function
    of the id — deterministic across runs)."""
    cands = [f"0xc{i:02d}" for i in range(40)]
    df = spark.createDataFrame([(c,) for c in cands], "collection_id string")
    rows = df.select("collection_id", _bucket().alias("b")).collect()
    first = rows[0]
    other = next(r for r in rows[1:] if r["b"] != first["b"])
    return (first["collection_id"], first["b"]), (other["collection_id"], other["b"])


def _bucket_inodes(base_dir, cur, chain, bucket):
    root = os.path.join(base_dir, cur, f"blockchain={chain}", f"cbucket={bucket}")
    out = {}
    for r, _d, files in os.walk(root):
        for n in files:
            p = os.path.join(r, n)
            out[os.path.relpath(p, root)] = os.stat(p).st_ino
    return out


def test_bucket_pruned_merge_leaves_untouched_bucket_hard_linked(spark, tmp_path):
    """Within a TOUCHED blockchain, a merge that declares its touched
    collection buckets rewrites only those cbucket subtrees: the other
    collection's bucket is carried into the new version as hard links (same
    inode — byte-identical without copying), and reads see both."""
    store = _mk(spark, tmp_path)
    (col_x, b_x), (col_y, b_y) = _two_collections_in_distinct_buckets(store, spark)
    seed = _transfers(
        spark, [_transfer_row("chain-a", collection=col_x), _transfer_row("chain-a", collection=col_y)]
    )
    store.append_transfers(seed)
    base = store._path("token_transfers")
    before = _bucket_inodes(base, store._current_version("token_transfers"), "chain-a", b_y)
    assert before, "seed must have written col_y's bucket dir"

    upd = _transfers(spark, [_transfer_row("chain-a", owner="0xowner2", collection=col_x)]).withColumn(
        "attribute_version_hex", F.lit("0x" + "2".rjust(64, "0"))
    )
    buckets = store.touched_buckets(upd.select("blockchain", "collection_id", "token_id_hex").distinct())
    assert buckets == sorted({b_x})
    store.append_transfers(upd, blockchains=["chain-a"], buckets=buckets)

    after = _bucket_inodes(base, store._current_version("token_transfers"), "chain-a", b_y)
    assert after == before, "untouched bucket inside the touched blockchain must be hard-linked"
    got = store.read("token_transfers")
    assert got.filter(F.col("collection_id") == col_x).count() == 2
    assert got.filter(F.col("collection_id") == col_y).count() == 1
    assert "cbucket" not in got.columns


def test_overwrite_rejects_rows_outside_the_named_buckets(spark, tmp_path):
    """A bucket-pruned overwrite whose frame holds a row of a bucket it did
    not name raises, naming that bucket, and commits nothing: ``_CURRENT``
    and the previous version stay as they were."""
    store = _mk(spark, tmp_path)
    (col_x, b_x), (col_y, b_y) = _two_collections_in_distinct_buckets(store, spark)
    store.append_transfers(
        _transfers(spark, [_transfer_row("chain-a", collection=col_x), _transfer_row("chain-a", collection=col_y)])
    )
    base = store._path("token_transfers")
    before = sorted(map(str, store.read("token_transfers").collect()))
    inodes = _bucket_inodes(base, "v-1", "chain-a", b_y)

    both = _transfers(
        spark, [_transfer_row("chain-a", "0xo2", collection=col_x), _transfer_row("chain-a", "0xo2", collection=col_y)]
    )
    with pytest.raises(ValueError, match=rf"token_transfers: rows outside the named buckets.*\[{b_y}\]"):
        store.overwrite("token_transfers", both, touched_blockchains=["chain-a"], touched_buckets=[b_x])
    assert store._current_version("token_transfers") == "v-1"
    assert sorted(d for d in os.listdir(base) if d.startswith("v-")) == ["v-1"]
    assert _bucket_inodes(base, "v-1", "chain-a", b_y) == inodes
    assert sorted(map(str, store.read("token_transfers").collect())) == before


@pytest.mark.slow
def test_apply_silver_bucket_prunes_all_three_tables(spark, tmp_path):
    """The crawl/tail sink sequence derives touched buckets from the batch:
    a batch touching only col_x leaves col_y's bucket hard-linked in
    transfers, tokens AND owners."""
    from types import SimpleNamespace

    store = _mk(spark, tmp_path)
    (col_x, b_x), (col_y, b_y) = _two_collections_in_distinct_buckets(store, spark)

    def silver_for(col, vhex="0x" + "1".rjust(64, "0")):
        tr = _transfers(spark, [_transfer_row("chain-a", collection=col)]).withColumn(
            "attribute_version_hex", F.lit(vhex)
        )
        toks = spark.createDataFrame(
            [("chain-a", col, "0x" + "07".rjust(64, "0"), "erc721", None, None, 1)],
            "blockchain string, collection_id string, token_id_hex string, specification string, "
            "metadata_url string, metadata_url_version_hex string, data_version long",
        )
        return SimpleNamespace(token_transfers=tr, token_metadata=toks)

    store.apply_silver(silver_for(col_x), 1, blockchains=["chain-a"])
    store.apply_silver(silver_for(col_y), 1, blockchains=["chain-a"])
    snaps = {
        t: _bucket_inodes(store._path(t), store._current_version(t), "chain-a", b_y)
        for t in ("token_transfers", "tokens", "owners")
    }
    assert all(snaps.values()), "col_y must have bucket dirs in all three tables"

    store.apply_silver(silver_for(col_x, vhex="0x" + "2".rjust(64, "0")), 1, blockchains=["chain-a"])
    for t, before in snaps.items():
        after = _bucket_inodes(store._path(t), store._current_version(t), "chain-a", b_y)
        assert after == before, f"{t}: col_y bucket must be untouched (hard-linked)"
    assert store.read("owners").filter(F.col("collection_id") == col_y).count() == 1


def test_empty_partitioned_write_reads_back_empty(spark, tmp_path):
    """partitionBy writes no data files for zero rows; a committed empty
    version — like a fresh store — must read back as an empty frame of the
    stored schema (silver tokens with ``specification``, silver transfers
    with ``batch_index``), not error."""
    store = _mk(spark, tmp_path)
    assert "specification" in STORED_SCHEMAS["tokens"].names
    assert "batch_index" in STORED_SCHEMAS["token_transfers"].names
    for t in ("tokens", "token_transfers"):
        assert store.read(t).columns == STORED_SCHEMAS[t].names

    store.append_transfers(_transfers(spark, []))
    store.overwrite("tokens", spark.createDataFrame([], STORED_SCHEMAS["tokens"]))
    for t in ("tokens", "token_transfers"):
        assert store._current_version(t) == "v-1"
        got = store.read(t)
        assert got.count() == 0
        assert got.columns == STORED_SCHEMAS[t].names


def test_overwrite_rejects_frames_that_differ_from_the_stored_schema(spark, tmp_path):
    """A missing column, or an extra one the declared-schema read would
    silently drop, fails the write and commits nothing."""
    store = _mk(spark, tmp_path)
    cfg = _cfg(spark, "a", 1, 10)
    with pytest.raises(ValueError, match=r"crawler_config.*missing \['last_block_id'\]"):
        store.overwrite("crawler_config", cfg.drop("last_block_id"))
    with pytest.raises(ValueError, match=r"crawler_config.*extra \['note'\]"):
        store.overwrite("crawler_config", cfg.withColumn("note", F.lit("x")))
    assert store._current_version("crawler_config") is None
    store.overwrite("crawler_config", cfg.select("last_block_id", "blockchain", "data_version"))
    assert store.read("crawler_config").columns == STORED_SCHEMAS["crawler_config"].names
    assert store.get_config("a") == (1, 10)


def test_rebuild_tokens_keeps_metadata_across_epochs(spark, tmp_path):
    """K3 parity in the rebuild path: a higher-data_version batch with NO
    URI event must not clobber existing metadata_url to NULL."""
    from pyspark.sql import functions as F

    from block_crawler_spark.schemas import TOKEN_TRANSFER_SCHEMA

    store = _mk(spark, tmp_path)
    tr = spark.createDataFrame(
        [("bc", "0xc", "00" * 19 + "05", "0x" + "07".rjust(64, "0"), 1_600_000_000, 5,
          "0xabc", 0, 0, "mint", "0x" + "0" * 40, "0xowner1", "0x" + "1".rjust(64, "0"), 1)],
        TOKEN_TRANSFER_SCHEMA,
    ).withColumn("batch_index", F.lit(0).cast("int"))
    store.append_transfers(tr)

    def tok(dv, url, vhex):
        return spark.createDataFrame(
            [("bc", "0xc", "0x" + "07".rjust(64, "0"), "erc721", url, vhex, dv)],
            "blockchain string, collection_id string, token_id_hex string, specification string, "
            "metadata_url string, metadata_url_version_hex string, data_version long",
        )

    store.rebuild_tokens(tok(1, "ipfs://x", "0" * 39 + "5"))
    assert store.read("tokens").collect()[0]["metadata_url"] == "ipfs://x"
    # epoch 2 batch carries no URI data → metadata must survive
    store.rebuild_tokens(tok(2, None, None))
    row = store.read("tokens").collect()[0]
    assert row["metadata_url"] == "ipfs://x"
    assert row["data_version"] == 2


def test_read_prunes_partitions_statically(spark, tmp_path):
    """read(blockchains=, buckets=) filters on the PARTITION columns before
    normalization drops them, so the scan carries PartitionFilters on
    blockchain AND cbucket — the tail path's per-batch token/owner rebuilds
    scan only touched subtrees, not the whole transfers history."""
    store = _mk(spark, tmp_path)
    (col_x, b_x), (col_y, b_y) = _two_collections_in_distinct_buckets(store, spark)
    seed = _transfers(
        spark,
        [_transfer_row("chain-a", collection=col_x), _transfer_row("chain-b", collection=col_y)],
    )
    store.append_transfers(seed)
    pruned = store.read("token_transfers", blockchains=["chain-a"], buckets=[b_x])
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan, plan
    tail = plan.split("PartitionFilters", 1)[1][:400]
    assert "blockchain" in tail, plan
    assert "cbucket" in tail, plan
    rows = pruned.collect()
    assert {(r["blockchain"], r["collection_id"]) for r in rows} == {("chain-a", col_x)}
    assert "cbucket" not in pruned.columns


@pytest.mark.slow
def test_apply_silver_results_identical_with_and_without_read_pruning(spark, tmp_path):
    """End-to-end: the pruned-read tail path produces byte-for-byte the same
    silver state as the unpruned path (blockchains=None disables all
    pruning) for a multi-chain, multi-bucket history."""
    from types import SimpleNamespace

    def silver_for(bc, col, owner, vhex):
        tr = _transfers(spark, [_transfer_row(bc, owner=owner, collection=col)]).withColumn(
            "attribute_version_hex", F.lit(vhex)
        )
        toks = spark.createDataFrame(
            [(bc, col, "0x" + "07".rjust(64, "0"), "erc721", None, None, 1)],
            "blockchain string, collection_id string, token_id_hex string, specification string, "
            "metadata_url string, metadata_url_version_hex string, data_version long",
        )
        return SimpleNamespace(token_transfers=tr, token_metadata=toks)

    pruned_store = SilverStore(spark, str(tmp_path / "pruned"))
    full_store = SilverStore(spark, str(tmp_path / "full"))
    (col_x, _bx), (col_y, _by) = _two_collections_in_distinct_buckets(pruned_store, spark)
    batches = [
        ("chain-a", col_x, "0xo1", "0x" + "1".rjust(64, "0")),
        ("chain-b", col_y, "0xo2", "0x" + "1".rjust(64, "0")),
        ("chain-a", col_y, "0xo3", "0x" + "2".rjust(64, "0")),
        ("chain-a", col_x, "0xo4", "0x" + "3".rjust(64, "0")),
    ]
    for bc, col, owner, vhex in batches:
        pruned_store.apply_silver(silver_for(bc, col, owner, vhex), 1, blockchains=[bc])
        full_store.apply_silver(silver_for(bc, col, owner, vhex), 1, blockchains=None)
    for t in ("token_transfers", "tokens", "owners"):
        a = sorted(map(str, pruned_store.read(t).collect()))
        b = sorted(map(str, full_store.read(t).collect()))
        assert a == b, f"{t}: pruned-read path diverged from full-read path"


def _jobs_in_group(spark, group, fn):
    """Spark job ids started by ``fn`` under job group ``group``.  A
    one-job sentinel in a second group runs after ``fn``; the status store
    records jobs in start order, so once the sentinel shows up every job
    ``fn`` started has too."""
    import time

    sc = spark.sparkContext
    try:
        sc.setJobGroup(group, group)
        fn()
        sc.setJobGroup(group + "-sentinel", "sentinel")
        sc.parallelize([1], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    deadline = time.time() + 30
    while not tracker.getJobIdsForGroup(group + "-sentinel") and time.time() < deadline:
        time.sleep(0.05)
    assert tracker.getJobIdsForGroup(group + "-sentinel"), "sentinel job never reached the status store"
    return list(tracker.getJobIdsForGroup(group))


def test_building_reads_starts_no_spark_job(spark, tmp_path):
    """Reads bind the declared schema instead of inferring one from the
    files, so building ``store.read(t)`` — pruned or not — starts no Spark
    job, on a fresh store and on one holding all five tables."""
    from types import SimpleNamespace

    from block_crawler_spark.schemas import COLLECTION_SCHEMA

    store = _mk(spark, tmp_path)
    tables = list(STORED_SCHEMAS)

    def build_reads():
        for t in tables:
            store.read(t)
            store.read(t, blockchains=["chain-a"], buckets=[0, 1])

    assert _jobs_in_group(spark, "read-fresh", build_reads) == []

    tr = _transfers(spark, [_transfer_row("chain-a")])
    toks = spark.createDataFrame(
        [("chain-a", "0xc", "0x" + "07".rjust(64, "0"), "erc721", None, None, 1)],
        "blockchain string, collection_id string, token_id_hex string, specification string, "
        "metadata_url string, metadata_url_version_hex string, data_version long",
    )
    store.apply_silver(SimpleNamespace(token_transfers=tr, token_metadata=toks), 1, blockchains=["chain-a"])
    coll = ("chain-a", "0xc", None, None, "n", "n", "S", None, "ERC-721", 5, 1_600_000_000, 1)
    store.upsert_collections(spark.createDataFrame([coll], COLLECTION_SCHEMA), blockchains=["chain-a"])
    store.set_config("chain-a", 1, 5)
    assert all(store._current_version(t) for t in tables)

    assert _jobs_in_group(spark, "read-populated", build_reads) == []
    assert store.read("owners").count() == 1


def test_fresh_store_config_and_reads_start_no_spark_job(spark, tmp_path):
    """On a fresh store every read optimizes to an empty ``LocalRelation``,
    so ``get_config`` (which collects one) and building any read start no
    Spark job."""
    store = _mk(spark, tmp_path)
    got = []

    def config_and_reads():
        got.append(store.get_config("chain-a"))
        for t in STORED_SCHEMAS:
            store.read(t, blockchains=["chain-a"], buckets=[0])

    assert _jobs_in_group(spark, "fresh-config", config_and_reads) == []
    assert got == [(1, None)]
    for t in STORED_SCHEMAS:
        df = store.read(t)
        assert df.columns == STORED_SCHEMAS[t].names
        assert df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName() == "LocalRelation"
    store.set_config("chain-a", 2, 5)
    assert store.get_config("chain-a") == (2, 5)


def test_get_config_after_set_config_starts_no_job_and_sees_other_writers(spark, tmp_path):
    """``get_config`` returns the row this store committed last without a
    Spark job while ``_CURRENT`` names that commit's version; once another
    store on the same root commits, it reads the new row."""
    store = _mk(spark, tmp_path)
    store.set_config("chain-a", 3, 40)
    got = []
    assert _jobs_in_group(spark, "config-memo", lambda: got.append(store.get_config("chain-a"))) == []
    assert got == [(3, 40)]

    other = _mk(spark, tmp_path)
    other.set_config("chain-a", 4, 60)
    assert store.get_config("chain-a") == (4, 60)
    other.set_config("chain-b", 1, None)  # hard-links chain-a's partition
    assert other.get_config("chain-a") == (4, 60)
    assert store.get_config("chain-b") == (1, None)


_ALICE, _BOB = "0x" + "a" * 40, "0x" + "b" * 40


def _event(token, block, kind, frm, to, collection="0xc"):
    """One silver transfer of ``token`` (an int id) at ``block``, quantity 1."""
    zero = "0x" + "0" * 40
    return ("chain-a", collection, f"{block:036x}{token:04x}", "0x" + f"{token:064x}", 1_600_000_000 + block,
            block, f"0x{block:x}", 0, token, kind, frm or zero, to or zero, "0x" + "1".rjust(64, "0"), 1)


def _batch(spark, events):
    """A SilverTables-shaped ERC-721 batch: its transfers and one token row
    per touched token, with no URI data."""
    from types import SimpleNamespace

    from block_crawler_spark.schemas import SPEC_ERC721

    tr = _transfers(spark, events)
    toks = tr.select("blockchain", "collection_id", "token_id_hex").distinct().select(
        "*",
        F.lit(SPEC_ERC721).alias("specification"),
        F.lit(None).cast("string").alias("metadata_url"),
        F.lit(None).cast("string").alias("metadata_url_version_hex"),
        F.lit(1).cast("long").alias("data_version"),
    )
    return SimpleNamespace(token_transfers=tr, token_metadata=toks)


def _rows(store, table, where=None):
    df = store.read(table)
    return sorted(map(str, (df if where is None else df.filter(where)).collect()))


def test_apply_silver_rebuilds_touched_buckets_whole(spark, tmp_path):
    """A batch touching one token of a collection rebuilds that
    collection's whole bucket from the committed transfers: the bucket's
    untouched token keeps its tokens and owners rows, and both tables equal
    a fold of the committed transfers."""
    from block_crawler_spark.operators.folds import owner_balances_from_silver, token_state_from_silver

    store = _mk(spark, tmp_path)
    store.apply_silver(
        _batch(spark, [_event(7, 5, "mint", None, _ALICE), _event(8, 6, "mint", None, _ALICE)]), 1, ["chain-a"]
    )
    untouched = F.col("token_id_hex") == "0x" + f"{8:064x}"
    before = {t: _rows(store, t, untouched) for t in ("tokens", "owners")}
    assert all(before.values())
    store.apply_silver(_batch(spark, [_event(7, 10, "transfer", _ALICE, _BOB)]), 1, ["chain-a"])
    assert {t: _rows(store, t, untouched) for t in ("tokens", "owners")} == before

    transfers = store.read("token_transfers")
    owners = store.read("owners")
    want = owner_balances_from_silver(transfers).withColumn("data_version", F.lit(1).cast("long"))
    assert _rows(store, "owners") == sorted(map(str, want.select(*owners.columns).collect()))
    assert {(r["account"], int(r["token_id_hex"], 16)) for r in owners.collect()} == {(_BOB, 7), (_ALICE, 8)}

    cols = ["token_id_hex", "quantity", "original_owner", "mint_block", "mint_timestamp"]
    tokens = store.read("tokens")
    folded = token_state_from_silver(transfers, tokens)
    assert sorted(map(tuple, tokens.select(*cols, "current_owner").collect())) == sorted(
        map(tuple, folded.select(*cols, "current_owner").collect())
    )
    assert {(int(r["token_id_hex"], 16), r["current_owner"]) for r in tokens.collect()} == {(7, _BOB), (8, _ALICE)}


def test_rewind_to_mid_history_equals_fresh_load_of_the_prefix(spark, tmp_path):
    """``rewind`` to a block inside the history leaves every table equal to
    a fresh store that loaded only the history up to that block — including
    a token minted after it (gone) and a collection bucket that only the
    orphaned blocks wrote (emptied)."""
    rewound = SilverStore(spark, str(tmp_path / "rewound"))
    fresh = SilverStore(spark, str(tmp_path / "fresh"))
    (col_x, _bx), (col_y, _by) = _two_collections_in_distinct_buckets(rewound, spark)
    prefix = [_event(7, 5, "mint", None, _ALICE, col_x), _event(8, 6, "mint", None, _ALICE, col_x)]
    orphaned = [
        _event(7, 10, "transfer", _ALICE, _BOB, col_x),
        _event(9, 11, "mint", None, _BOB, col_x),
        _event(1, 12, "mint", None, _BOB, col_y),
    ]
    for events, top in ((prefix, 6), (orphaned, 12)):
        rewound.apply_silver(_batch(spark, events), 1, ["chain-a"])
        rewound.set_config("chain-a", 1, top)
    rewound.rewind("chain-a", 6)
    fresh.apply_silver(_batch(spark, prefix), 1, ["chain-a"])
    fresh.set_config("chain-a", 1, 6)
    for t in ("token_transfers", "tokens", "owners", "crawler_config"):
        assert _rows(rewound, t) == _rows(fresh, t), t
    assert {int(r["token_id_hex"], 16) for r in rewound.read("tokens").collect()} == {7, 8}


def test_rebuild_tokens_folds_transfers_and_metadata_in_one_aggregation(spark, tmp_path):
    """``rebuild_tokens`` folds a bucket's committed transfers and its
    metadata rows in one group-by.  A URI event for a token that was never
    transferred adds no token row; an overflowed ``quantity_hex`` leaves
    that token's ``quantity`` NULL and its bucket neighbours exact; an
    ERC-1155 token's ``current_owner`` stays NULL."""
    from block_crawler_spark.schemas import SPEC_ERC721, SPEC_ERC1155

    def qty(event, value_hex):
        return event[:12] + ("0x" + value_hex.rjust(64, "0"),) + event[13:]

    store = _mk(spark, tmp_path)
    store.append_transfers(
        _transfers(
            spark,
            [
                _event(7, 5, "mint", None, _ALICE),
                qty(_event(8, 6, "mint", None, _ALICE), "f" * 64),  # above Decimal(38,0)
                qty(_event(9, 7, "mint", None, _BOB), "3"),
                qty(_event(9, 8, "transfer", _BOB, _ALICE), "3"),
            ],
        )
    )

    def tok(token):
        return "0x" + f"{token:064x}"

    meta = spark.createDataFrame(
        [
            ("chain-a", "0xc", tok(7), SPEC_ERC721, None, None, 1),
            ("chain-a", "0xc", tok(8), SPEC_ERC1155, None, None, 1),
            ("chain-a", "0xc", tok(9), SPEC_ERC1155, None, None, 1),
            ("chain-a", "0xc", tok(9), None, "ipfs://9", f"{8:040x}", 1),
            ("chain-a", "0xc", tok(10), None, "ipfs://10", f"{8:040x}", 1),  # never transferred
        ],
        "blockchain string, collection_id string, token_id_hex string, specification string, "
        "metadata_url string, metadata_url_version_hex string, data_version long",
    )
    store.rebuild_tokens(meta, blockchains=["chain-a"], buckets=store.touched_buckets(meta))

    rows = {int(r["token_id_hex"], 16): r for r in store.read("tokens").collect()}
    assert sorted(rows) == [7, 8, 9]
    assert rows[8]["quantity"] is None
    assert (rows[7]["quantity"], rows[9]["quantity"]) == (1, 3)
    assert rows[7]["current_owner"] == _ALICE
    assert rows[8]["current_owner"] is None and rows[9]["current_owner"] is None
    assert rows[9]["current_owner_version_hex"] is None
    assert (rows[9]["original_owner"], rows[9]["mint_block"]) == (_BOB, 7)
    assert (rows[9]["metadata_url"], rows[9]["specification"]) == ("ipfs://9", SPEC_ERC1155)
