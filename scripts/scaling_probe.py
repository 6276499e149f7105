"""Empirical scaling curve: registry queries timed at one or more scale factors.

The 100 TB argument in docs/SCALE.md is structural (shuffle inventory,
partition math); this probe adds the measurement.  Two query sets:

* ``--queries families`` (default): one representative per operator
  family at sf0.001/0.01/0.1, spanning 100× input growth.  A query whose
  time grows ~linearly (or better, sub-linearly while input outpaces
  overheads) has no hidden super-linear stage at these sizes; anything
  quadratic would already bend visibly across 100×.
* ``--queries top10``: the ten most expensive registry queries, for the
  core-count × scale-factor rows (run once per ``SPARK_GRAFT_CPUS``).

Per SF the probe scans every table once (noop sink), then runs each query
``--repeat`` times against the noop sink.  ``probes`` holds the best
sample, ``cold`` the first: a query riding the build-time memo
(``plans/memo.py``, keyed by the input tables) pays its build in the first
sample of each SF.  Usage, from any directory:

    python scripts/scaling_probe.py [--queries families|top10] [--sf DIR ...] [--repeat N]

Prints one JSON line {queries, cpus, sfs, probes, cold, load1}.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
# the Python workers import the package too
os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (_REPO, os.environ.get("PYTHONPATH")) if p)

from block_crawler_spark.session import get_spark  # noqa: E402

SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]

# one representative per operator family, heaviest first
FAMILIES = [
    "nft_token_state_from_lineitem",  # decode + A1 fold (flagship)
    "tpch_q8_market_share",  # multi-join relational
    "dedup_minhash_lsh_pairs",  # shingle explosion + band join
    "join_range_ship_windows",  # bucketized range join
    "evt_sessionize",  # rank windows
    "doc_winnow_fingerprint",  # rolling windows per doc
    "tx_sender_gas_stats",  # single-shuffle hash agg
    "evt_value_percentiles",  # bucketed multi-rank selection (round 5)
    "dedup_simhash_pairs",  # banded signature equi-join + Hamming verify (round 5)
    "doc_decontaminate",  # benchmark shingle equi-join (round 5)
    "doc_pack_sequences",  # shard-parallel window cumsum (round 5)
    "doc_curation_pipeline",  # six-stage composed DAG (round 5)
    "emb_pq_topk",  # PQ encode + ADC code-scan top-k (round 5)
    "doc_shuffle_shards",  # deterministic training-order shuffle (round 5)
    "emb_ivfpq_topk",  # IVF cell pruning × ADC on the codes table (round 6)
    "doc_pack_sequences_bpe",  # toy-BPE budget packing — merge chain in codegen (round 7)
    "emb_sq_topk",  # SQ8 coding + TakeOrderedAndProject top-k (round 8)
    "dedup_pair_pagerank",  # iterative edge-join PageRank over the pair graph (round 8)
    "doc_tfidf_top_terms",  # vocab-bounded aggs + per-source WindowGroupLimit (round 8)
    # round 9: the r8-added families the r8 curve missed (VERDICT r9 task 4)
    # — the semantic rows quantify the derived-K + shard-guard fix
    "dedup_semantic_keep",  # Lloyd train + derived-K sharded cell pairs + CC closure (round 9)
    "emb_balanced_sample",  # semantic survivors + per-cell WindowGroupLimit cap (round 9)
    "emb_ivfsq_topk",  # IVF cell pruning × SQ8 bin-midpoint scoring (round 9)
    "evt_funnel_latency",  # chained same-key aggs + bucketed percentile selection (round 9)
    # round 11: the two skew-exposed r10 screens (VERDICT r10 task 5) —
    # surprisal's corpus-occurrence ⋈ vocabulary token equi-join carries the
    # heavy-hitter skew ("the" concentrates a partition at scale; AQE
    # skew-split is the designed mitigation), calibration is the
    # collect-bounded lift table whose cost is the ONE corpus scan
    "doc_unigram_surprisal",  # explode → vocab agg → heavy-hitter token equi-join (round 10)
    "doc_quality_calibration",  # one corpus scan → driver-bounded lift table (round 10)
    # round 12: the promoted multi-probe curation consumer — two assignment
    # passes + doubled-membership band pairs + CC survivor verdict; its
    # curve against emb_balanced_sample prices the measured recall upgrade
    # (2.7× loose / perfect on clustered geometry) across 100× input
    "emb_balanced_sample_mp2",
    # round 12: the cross-detector audit — four banded pair DAGs + one
    # bit_or mask agg; its curve certifies that composing the families
    # stays the SUM of their banded costs (no accidental cross-family
    # blowup), the riskiest new shape of the round
    "dedup_family_overlap",
    # round 13: the perceptual media triad's riskiest shape (two chained
    # Arrow stages + planted-twin corpus + band equi-join) and the
    # two-scan LM-gate composition (bigram collision join + quality scan)
    "media_image_dhash_pairs",
    "doc_lm_gated_quality",
    # round 13: the memoized semantic flagship — its curve now prices the
    # WARM path (memo hit + assignment + cap window); the cold lineage is
    # the r12 row
    "dedup_semantic_keep_mp2",
    # round 14: the trained-PQ shortlist → broadcast exact rerank (stage-2
    # cost must stay L-bounded across 100×) and the video family's three
    # chained Arrow stages + per-(frame, band) equi-join
    "emb_pq_rerank_topk",
    "media_video_dhash_pairs",
]

# by the r15 start-of-round telemetry
TOP10 = [
    "emb_ivfpq_residual_topk",
    "emb_ivfpq_topk",
    "emb_pq_rerank_topk",
    "emb_ivfpq_rerank_topk",
    "dedup_family_overlap",
    "pipeline_contamination",
    "doc_curation_pipeline",
    "media_modality_overlap",
    "nft_token_state_from_lineitem",
    "dedup_stream_semantic_admission_sim",
]

QUERY_SETS = {"families": FAMILIES, "top10": TOP10}


def main() -> int:
    from block_crawler_spark.plans.registry import all_queries
    from block_crawler_spark.sources.tables import load_all

    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", choices=sorted(QUERY_SETS), default="families")
    ap.add_argument("--sf", action="append", help="scale-factor directory; repeat for several (default: %s)" % SFS)
    ap.add_argument("--repeat", type=int, default=2)
    args = ap.parse_args()
    sfs = args.sf or SFS

    spark = get_spark("scaling-probe")
    spark.sparkContext.setLogLevel("ERROR")
    registry = all_queries()
    out: dict = {
        "queries": args.queries,
        "cpus": spark.sparkContext.defaultParallelism,
        "sfs": sfs,
        "probes": {},
        "cold": {},
    }
    for sf in sfs:
        key = sf.rstrip("/").rsplit("/", 1)[-1]
        # warm-up: scan every table + JIT the common codegen paths
        for df in load_all(spark, sf).values():
            df.write.format("noop").mode("overwrite").save()
        for name in QUERY_SETS[args.queries]:
            fn, _ = registry[name]
            spark.sparkContext.setJobDescription(f"scaling-probe {name}")
            samples = []
            for _ in range(args.repeat):
                t0 = time.monotonic()
                fn(spark, sf).write.format("noop").mode("overwrite").save()
                samples.append(time.monotonic() - t0)
            out["probes"].setdefault(name, {})[key] = round(min(samples), 3)
            out["cold"].setdefault(name, {})[key] = round(samples[0], 3)
    out["load1"] = round(os.getloadavg()[0], 1)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
