"""Unified query registry: every driver-checkable query in one dict.

Keys are stable operator names (SURVEY §2 families + beyond-parity ops);
values are (spark_fn, duckdb_sql | None).  ``None`` SQL ⇒ the driver records
a weaker rows-only check (reserved for genuinely non-SQL-expressible ops).

NOT all query fns are lazy (ADVICE r9): the iterative/trained families
(`emb_kmeans_stats`, `emb_ivf_trained_topk`, `emb_centroid_outliers`, the
`dedup_semantic_*` / `emb_balanced_sample` trio, `emb_power_topdim`, the
trained-PQ pair) and
the bounded-frame materializers (`doc_quality_calibration`,
`doc_unigram_surprisal`) run Spark jobs
at DataFrame-CONSTRUCTION time — the deliberate collect/recreate discipline
that keeps lazily-returned lineage bounded and the CacheManager empty.
Trained models (k-means centroids, PQ and residual codebooks, SQ8 bounds)
and the pair and closure stages several queries share are built once per
process by the build-time memo (`plans/memo.py`).  It keys each entry by
kind, shaping constants and the file state of each input table, and every
builder is deterministic, so a hit is row-identical to a build.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from . import embed_ops, events_ops, media_ops, nft_ops, pack_ops, pipeline, text_ops, tpch, tx_ops

# Ordering matters to external samplers that take a prefix of the merged
# dict (Python dicts preserve insertion order).  The prefix is rotated per
# round so every family accumulates current driver-green rows — and any
# query ADDED OR CHANGED in a round must sit inside the prefix that round
# (ADVICE r6: new code gets verified the round it lands, not rounds later).
# Round 5 fronted the LLM-pipeline families; round 6 the relational tail;
# round 7 embed_ops + text/pack; round 8 its 31 additions; round 9 the
# semantic/trainer changes + the r6-era relational tail; round 10 the r9
# orphans + its seven additions + the r7-era tail; round 11 its six
# additions + twelve changes + the r8-era tail; round 12 its ten
# additions + twelve changes + the r9-era tail; round 13 its five
# additions + nine memo-touched changes + the r8/r9 leftovers.  Round 14
# fronts ``_FRONT``: FIRST the eight queries ADDED this round, then the
# four CHANGED (ADVICE r13 media hardening + the family_overlap pair
# memo), then the LONGEST-UNSAMPLED rotation — the full 35-query r10-era
# block (three rounds without a driver row, the oldest in the records)
# and the first 5 of the r11-era block.  Round 15 (an optimization round,
# no additions): the 19 queries whose operator code CHANGED, then the
# longest-unsampled rotation — the remaining 30-query r11-era block plus
# the first r12-era query.  The judge's independent full-registry oracle
# re-run is the backstop covering the rest.
_FRONT = (
    # -- CHANGED in r15 (every query whose operator code moved this round
    #    must sit in the driver's 50-sample prefix, ADVICE r6 rule):
    #    PQ hybrid shapes (pq.py: r13 join shapes for encode/flat-ADC/IVFPQ,
    #    r14 map-side kept for the residual pair; callers moved to
    #    pq_encode), ann.ivf_assign's NaN-first cell order (all IVF
    #    consumers), fold group keys hash-prefixed (folds.py), the
    #    family-overlap mask-histogram restructure, and the modality
    #    matrix's dropped per-family distincts --
    "emb_pq_topk",
    "emb_pq_trained_topk",
    "emb_pq_balanced_topk",
    "emb_ivfpq_topk",
    "emb_ivfpq_residual_topk",
    "emb_ivfpq_residual_trained",
    "emb_pq_rerank_topk",
    "emb_ivfpq_rerank_topk",
    "emb_ivf_topk",
    "emb_ivf_trained_topk",
    "emb_ivfsq_topk",
    "emb_ivf_cell_balance",
    "emb_ivf_recall_audit",
    "nft_token_state_from_lineitem",
    "nft_owners_from_lineitem",
    "nft_1155_balances_from_events",
    "evt_token_state_fold",
    "dedup_family_overlap",
    "media_modality_overlap",
    # -- longest-unsampled rotation (computed from the CORRECTNESS_r*
    #    records: the r11-era block below last had a driver row four
    #    rounds ago), then the first of the r12-era block alphabetically.
    #    19 changed + 30 + 1 = exactly the driver's 50-sample prefix. --
    "dedup_pair_pagerank",
    "dedup_rate_by_source",
    "dedup_stream_admission_sim",
    "doc_curation_pipeline",
    "doc_gopher_rules",
    "doc_hapax_per_source",
    "doc_intradoc_dup_stats",
    "doc_lang_confusion",
    "doc_ngram_novelty",
    "doc_pack_attention_waste",
    "doc_pack_fill_stats",
    "doc_pack_sorted_fill_stats",
    "doc_quality_budget_cut",
    "doc_shard_mixing_audit",
    "doc_tfidf_top_terms",
    "doc_token_cms_estimates",
    "doc_token_concentration",
    "doc_unigram_surprisal",
    "emb_dim_variance",
    "emb_power_topdim",
    "emb_rp_rerank_topk",
    "emb_sq_topk",
    "evt_cube_type_day",
    "evt_funnel_counts",
    "evt_funnel_latency",
    "evt_key_skew_topk",
    "evt_markov_transitions",
    "evt_retention_cohorts",
    "evt_window_sliding",
    "pipeline_contamination",
    "agg_rollup_region_nation",
)
_MODULES = (tpch, events_ops, nft_ops, tx_ops, embed_ops, text_ops, pack_ops, pipeline, media_ops)


def all_queries() -> dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]]:
    merged: dict = {}
    for m in _MODULES:
        overlap = merged.keys() & m.QUERIES.keys()
        if overlap:
            raise ValueError(f"duplicate query names: {overlap}")
        merged.update(m.QUERIES)
    missing = [n for n in _FRONT if n not in merged]
    if missing:
        raise ValueError(f"_FRONT names not in any module: {missing}")
    return {n: merged[n] for n in _FRONT} | {
        n: q for n, q in merged.items() if n not in _FRONT
    }
