"""Empirical scaling curve: representative queries at sf0.001/0.01/0.1.

The 100 TB argument in docs/SCALE.md is structural (shuffle inventory,
partition math); this probe adds the measurement: per-query wall-clock at
three scale factors spanning 100× input growth.  A query whose time grows
~linearly (or better, sub-linearly while input outpaces overheads) has no
hidden super-linear stage at these sizes; anything quadratic would already
bend visibly across 100×.

Each timing is best-of-2 against the noop sink, after a warm-up query per
SF so scan caches/JIT are comparable.  Usage:

    PYTHONPATH=/root/repo python scripts/scaling_probe.py
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, "/root/repo")

from block_crawler_spark.session import get_spark  # noqa: E402

SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]

# one representative per operator family, heaviest first
PROBES = [
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

# Probes whose first execution per SF pays a session-memo build (the memo
# keys include sf_dir, so each SF's first sample is genuinely cold): for
# these the probe reports BOTH curves — cold (first sample) and warm
# (best-of-rest) — per VERDICT r13 task 6 (the warm flatness was the r13
# headline scale claim; the cold path deserves the same three-SF row).
MEMO_PROBES = {
    "dedup_semantic_keep",  # Lloyd train + p1 pair stage + closure build
    "emb_balanced_sample_mp2",  # FIRST mp2 probe in list order, so its
    # first sample pays the mp2 pair+closure build (centroids already
    # memoized by the p1 probes — exactly what a fresh session replaying
    # this order pays; dedup_semantic_keep_mp2 later is fully warm)
    "emb_pq_rerank_topk",  # trained-PQ codebook build (emb_pq_topk earlier
    # in the list uses the SEED codebook, not the memo)
    "dedup_family_overlap",  # four under-valve pair-frame memos (r14)
    "doc_curation_pipeline",  # FIRST minhash-pair memo consumer in list
    # order (its near-dup drop list is the memoized minhash_pair_stage) —
    # its first sample per SF pays that build; dedup_pair_pagerank later
    # in the list replays the memo warm
}


def main() -> int:
    from block_crawler_spark.plans.registry import all_queries

    spark = get_spark("scaling-probe")
    spark.sparkContext.setLogLevel("ERROR")
    registry = all_queries()
    out: dict = {"probes": {}, "sfs": SFS}
    for sf in SFS:
        # warm-up: touch every table + JIT the common codegen paths
        registry["tpch_q6_revenue_forecast"][0](spark, sf).write.format("noop").mode(
            "overwrite"
        ).save()
        for name in PROBES:
            fn, _ = registry[name]
            samples = []
            for _ in range(2):
                t0 = time.monotonic()
                fn(spark, sf).write.format("noop").mode("overwrite").save()
                dt = time.monotonic() - t0
                samples.append(dt)
            key = sf.rsplit("/", 1)[-1]
            out["probes"].setdefault(name, {})[key] = round(min(samples), 3)
            if name in MEMO_PROBES:
                # first sample per SF is the memo-cold execution (keys
                # include sf_dir); min-of-rest is the warm steady state
                out.setdefault("cold", {}).setdefault(name, {})[key] = round(samples[0], 3)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
