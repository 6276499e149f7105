"""`curate` CLI: shard-partitioned training docs + manifest, consistent with
the registry pipeline query."""

from __future__ import annotations

import json

import pytest

from block_crawler_spark.cli import main
from block_crawler_spark.plans.pipeline import curation_pipeline_query

SF = "/root/testdata/sf0.001"


@pytest.mark.slow
def test_curate_writes_shards_and_consistent_manifest(spark, tmp_path, capsys):
    out = str(tmp_path / "curated")
    assert main(["curate", "--documents", SF, "--out", out]) == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    docs = spark.read.parquet(f"{out}/docs")
    manifest = spark.read.parquet(f"{out}/manifest")
    assert summary["docs_kept"] == docs.count() > 0
    assert summary["bins"] == manifest.count() > 0
    assert summary["tokens_packed"] == sum(r["tok_sum"] for r in manifest.collect())

    # the written manifest equals the registry query's result (defaults match)
    expect = {
        (r["shard"], r["bin_id"]): (r["n_docs"], r["tok_sum"], r["doc_digest"])
        for r in curation_pipeline_query(spark, SF).collect()
    }
    got = {
        (r["shard"], r["bin_id"]): (r["n_docs"], r["tok_sum"], r["doc_digest"])
        for r in manifest.collect()
    }
    assert got == expect

    # partition layout: every doc row sits under its shard directory
    assert {r["shard"] for r in docs.select("shard").distinct().collect()} == {
        s for s, _b in expect
    }


def test_curate_with_zero_survivors_reports_cleanly(spark, tmp_path, capsys):
    out = str(tmp_path / "curated-empty")
    assert main(["curate", "--documents", SF, "--out", out, "--quality-min", "2000000"]) == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["docs_kept"] == 0 and summary["bins"] == 0 and summary["tokens_packed"] == 0


@pytest.mark.slow
def test_curate_mixture_sampling_is_a_valid_alternative(spark, tmp_path, capsys):
    from block_crawler_spark.plans.pipeline import curated_doc_ids

    strat = {r["doc_id"] for r in curated_doc_ids(spark, SF).collect()}
    mix = {r["doc_id"] for r in curated_doc_ids(spark, SF, sampling="mixture").collect()}
    assert mix and mix != strat, "mixture rates produce a different (non-empty) sample"

    out = str(tmp_path / "curated-mix")
    assert main(["curate", "--documents", SF, "--out", out, "--sampling", "mixture"]) == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["docs_kept"] == len(mix)
