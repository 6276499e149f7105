"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Each query is forced end-to-end with a noop sink (full column computation,
no driver collect overhead).  Prints ONE JSON line:
    {"metric": ..., "value": <total sec>, "unit": "sec", "queries": {...}, "sf": ...}
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from block_crawler_spark.plans import memo
from block_crawler_spark.plans.registry import all_queries
from block_crawler_spark.session import get_spark

HEADLINE = [
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier",
    "tpch_q10_returned_items",
    "tpch_q8_market_share",
    "agg_orders_monthly",
    "agg_rollup_region_nation",
    "doc_winnow_fingerprint",
    "evt_token_state_fold",
    "evt_json_balances",
    "evt_window_hourly",
    "evt_sessionize",
    "doc_quality_ppm",
    "media_binary_features",
    "dedup_exact",
    "dedup_minhash_lsh_pairs",
    "dedup_simhash",
    "emb_topk_cosine",
    "emb_knn_join",
    "emb_lsh_buckets",
    "emb_ivf_topk",
    "dedup_embedding_cosine_pairs",
    "join_asof_last_signup",
    "join_range_ship_windows",
    "evt_value_percentiles",
    "dedup_simhash_pairs",
    "doc_decontaminate",
    "doc_pii_stats",
    "media_frame_stats",
    "doc_chunk_stats",
    "doc_chunk_dup_stats",
    "doc_pack_sequences",
    "doc_mixture_plan",
    "doc_curation_pipeline",
    "nft_uint256_clamp_policy",
    "nft_token_state_from_lineitem",
    "nft_owners_from_lineitem",
    "nft_transfers_decode_from_lineitem",
    "nft_1155_balances_from_events",
    "tx_sender_gas_stats",
    "emb_pq_topk",
    "doc_shuffle_shards",
    "emb_pq_trained_topk",
    "emb_ivfpq_topk",
    "doc_bpe_token_stats",
    "doc_pack_sequences_bpe",
    "emb_ivfpq_residual_topk",
    "doc_bpe_pair_freqs",
    "doc_source_overlap",
    "doc_quality_hist_by_source",
    "dedup_containment_pairs",
    # round 8: the r7-added tail (previously untrended — ADVICE r7) and the
    # round's new trained-residual query
    "dedup_winnow_span_pairs",
    "dedup_cluster_size_hist",
    "doc_quality_budget_cut",
    "doc_token_cms_estimates",
    "emb_ivf_cell_balance",
    "emb_ivfpq_residual_trained",
    "doc_pack_fill_stats",
    "doc_token_concentration",
    "emb_dim_variance",
    "evt_key_skew_topk",
    "emb_pq_balanced_topk",
    "evt_funnel_counts",
    "evt_retention_cohorts",
    "dedup_stream_admission_sim",
    "doc_hapax_per_source",
    "doc_ngram_novelty",
    "doc_tfidf_top_terms",
    "doc_intradoc_dup_stats",
    "doc_gopher_rules",
    "emb_sq_topk",
    "dedup_semantic_cells",
    "doc_lang_confusion",
    "dedup_minhash_est_error",
    "emb_power_topdim",
    "dedup_pair_pagerank",
    "evt_funnel_latency",
    "dedup_semantic_keep",
    "evt_window_sliding",
    "evt_markov_transitions",
    "evt_cube_type_day",
    "dedup_edit_distance_pairs",
    "emb_balanced_sample",
    "emb_ivfsq_topk",
    "dedup_rate_by_source",
    "doc_length_percentiles",
    # round 10: the r9-added tail (previously untrended — VERDICT r9 task 1)
    # and the round's seven new queries
    "emb_rp_topk",
    "emb_prefix_topk",
    "doc_zipf_bucket_hist",
    "doc_token_fertility",
    "doc_contamination_by_bench",
    "doc_quality_calibration",
    "doc_unigram_surprisal",
    "doc_pack_attention_waste",
    "dedup_threshold_sweep",
    "doc_pack_sorted_fill_stats",
    "emb_centroid_outliers",
    "evt_rate_spikes",
    # round 11
    "pipeline_contamination",
    "doc_bigram_surprisal",
    "dedup_semantic_cells_mp2",
    "dedup_semantic_keep_mp2",
    "emb_rp_rerank_topk",
    "doc_shard_mixing_audit",
    # round 12
    "emb_balanced_sample_mp2",
    "doc_bigram_quality_calibration",
    "dedup_semantic_threshold_sweep",
    "emb_bitsign_rerank_topk",
    "dedup_family_overlap",
    "doc_span_dup_coverage",
    "emb_cell_label_purity",
    "emb_ivf_recall_audit",
    "emb_bitsign_knn_join",
    "evt_attribution_interval_join",
    # round 13
    "media_phash_near_dup_pairs",
    "media_dup_family_overlap",
    "media_image_dhash_pairs",
    "media_audio_energy_pairs",
    "doc_lm_gated_quality",
    # round 14
    "emb_pq_rerank_topk",
    "media_video_dhash_pairs",
    "doc_lm_gated_quality_planted",
    "media_modality_overlap",
    "emb_ivfpq_rerank_topk",
    "media_stream_phash_admission_sim",
    "dedup_stream_minhash_admission_sim",
    "dedup_stream_semantic_admission_sim",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    registry = all_queries()

    # warm the JVM/codegen path and build the bronze compaction cache once
    from block_crawler_spark.sources.tables import load_all

    for df in load_all(spark, sf_dir).values():
        df.write.format("noop").mode("overwrite").save()
    registry["tpch_q6_revenue_forecast"][0](spark, sf_dir).write.format("noop").mode("overwrite").save()

    # best-of-3 per query with a load-average guard: the harness box runs
    # co-tenant load and a single sample routinely swings ±50%; min-of-N
    # measures the engine, not the neighbors.  When the 1-min load average
    # is already high at sample time, one extra sample is taken — cheap
    # insurance against scoring a query entirely under neighbor noise.
    ncpu = os.cpu_count() or 1
    timings: dict[str, float] = {}
    query_loads: dict[str, list[float]] = {}
    query_samples: dict[str, list[float]] = {}
    # (query, sample seconds) of every sample that built build-time memo
    # entries: a fresh session pays these builds on top of the warm sum
    memo_builds: list[tuple[str, float]] = []

    def sample(name, fn):
        runs, i = 3, 0
        while i < runs:
            load1 = os.getloadavg()[0]
            query_loads.setdefault(name, []).append(round(load1, 1))
            before = memo.entries().keys()
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            query_samples.setdefault(name, []).append(round(time.time() - t0, 3))
            if memo.entries().keys() - before:
                memo_builds.append((name, query_samples[name][-1]))
            if i == runs - 1 and runs == 3 and load1 > ncpu * 0.5:
                runs = 4  # noisy box: one extra sample
            i += 1
        timings[name] = min(query_samples[name])

    for name in HEADLINE:
        sample(name, registry[name][0])

    total = round(sum(timings.values()), 3)
    # cold-vs-warm: warm is what `total` sums (best-of-N, memo hits); the
    # extra is what each memo-building sample took over its query's best
    memo_cold: dict[str, list[float]] = {}
    for name, sec in memo_builds:
        memo_cold.setdefault(name, []).append(sec)
    cold_extra = round(sum(sec - timings[name] for name, sec in memo_builds), 3)
    # Telemetry goes to the sidecar file; stdout carries only two compact
    # lines, because the driver keeps a bounded TAIL of stdout and a long
    # final line truncates its own head.  The second-to-last line is a 2-dp
    # {"queries":{name:sec}} dict, so the tail keeps per-query visibility;
    # the final line is a constant-size object.
    telemetry = {
        "queries": timings,
        "samples": query_samples,
        "memo_cold": memo_cold,
        "load_avg_per_query": query_loads,
    }
    try:
        with open(os.path.join(_REPO, "bench_telemetry.json"), "w") as f:
            json.dump(telemetry, f)
    except OSError:
        pass
    print(
        json.dumps(
            {"queries": {k: round(v, 2) for k, v in timings.items()}},
            separators=(",", ":"),
        )
    )
    print(
        json.dumps(
            {
                "metric": "headline query wall-clock (noop sink), best-of-3 per query, sum",
                "value": total,
                "unit": "sec",
                "sf": sf_dir,
                "n_queries": len(timings),
                # fresh-session sum = value + this (the memo-building
                # samples' cost over their query's best; detail in telemetry)
                "memo_cold_extra_sec": cold_extra,
                "value_cold": round(total + cold_extra, 3),
            },
            separators=(",", ":"),
        )
    )


if __name__ == "__main__":
    main()
