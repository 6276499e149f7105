"""Run every registry query and capture its final executed physical plan
into one artifact, plus a red-flag scan (nested-loop / cartesian /
grouped-pandas nodes and Exchange counts) — the evidence file behind
docs/PLAN_AUDIT.md.  Under AQE the plan is read after the query ran, so it
is the final adaptive plan (``isFinalPlan=true``) with the runtime
rewrites (join strategy switches, skew splits, coalesced reads) the scan
must see.

    python scripts/capture_plans.py [--sf DIR] [--out FILE]
"""

from __future__ import annotations

import argparse
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

RED_FLAGS = ("BroadcastNestedLoopJoin", "CartesianProduct", "FlatMapGroupsInPandas")

# Round-8 flag classes (the r7 CMS funnel slipped past the node-name scan):
#  - SinglePartitionWindow: a Sort whose child is Exchange SinglePartition —
#    the physical shape of a Window with no partitionBy (every row through
#    ONE task; a top-N over an unbounded key domain must be
#    orderBy().limit() → TakeOrderedAndProject instead).
#  - GlobalSort: Exchange rangepartitioning — a full global sort.  Bounded
#    presentation sorts over grouped output are common and fine; anything
#    sorting corpus-scale cardinality must be adjudicated or rewritten.
_SP_WINDOW = re.compile(
    r"Sort \[[^\]]*\], false, 0\s*\n"
    # a final adaptive plan puts its query stage and shuffle read in between
    r"(?:\s*[+:\- ]*(?:ShuffleQueryStage \d+|AQEShuffleRead[^\n]*)\s*\n)*"
    r"\s*[+:\- ]*Exchange SinglePartition"
)
_GLOBAL_SORT = re.compile(r"Exchange rangepartitioning")


def _pattern_flags(plan: str) -> list[str]:
    out = []
    if _SP_WINDOW.search(plan):
        out.append("SinglePartitionWindow")
    if _GLOBAL_SORT.search(plan):
        out.append("GlobalSort")
    return out

# Flags that are BOUNDED BY DESIGN, keyed (query, flag) so an adjudication
# for one flag class never silently excuses a different one appearing later
# on the same query (round 8 — previously keyed by query alone).  BNLJ
# entries: the nested-loop's build side is a scalar or dimension-sized
# broadcast, not a data-scaled relation.  SinglePartitionWindow/GlobalSort
# entries: the serialized row count is bounded by construction (stated).
# Anything flagged and NOT listed here fails the scan.
_BNLJ = "BroadcastNestedLoopJoin"
ADJUDICATED = {
    ("tpch_q11_important_stock", _BNLJ): "1-row global-total broadcast (threshold compare)",
    ("tpch_q22_rich_idle_customers", _BNLJ): "1-row global-stats broadcast (threshold compare)",
    ("emb_topk_cosine", _BNLJ): "rank self-join over the ≤k-row top-k set (windowless rank)",
    ("emb_ivf_topk", _BNLJ): "centroid scoring: corpus × broadcast centroid table (dimension-sized by design)",
    ("emb_kmeans_stats", _BNLJ): "Lloyd assignment: corpus × broadcast k-row centroid table (k=4 by construction)",
    ("emb_ivf_trained_topk", _BNLJ): "Lloyd assignment + IVF cell scoring: corpus × broadcast 16-row trained centroid table",
    ("emb_ivfpq_topk", _BNLJ): "IVF cell assignment: corpus × broadcast 16-row centroid table (the ADC scoring itself is an equi-join on the codes table)",
    ("emb_ivfpq_rerank_topk", _BNLJ): "IVF cell assignment: corpus × broadcast 16-row centroid table (stage-1 of the prune+compress+rerank composition; stage 2 is broadcast equi-joins)",
    ("emb_ivfpq_residual_topk", _BNLJ): "IVF cell assignment: corpus × broadcast 16-row centroid table (residual ADC scoring is an equi-join on the codes table)",
    ("emb_ivfpq_residual_trained", _BNLJ): "IVF cell assignment: corpus × broadcast 16-row centroid table (trained residual ADC scoring is an equi-join on the codes table)",
    ("doc_quality_budget_cut", _BNLJ): "1-row total-tokens broadcast onto the ≤101-bucket quality histogram (threshold compare)",
    ("emb_ivf_cell_balance", _BNLJ): "IVF cell assignment: corpus × broadcast 16-row centroid table + 1-row total broadcast (share ppm)",
    ("doc_mixture_plan", _BNLJ): "1-row global budget/weight-sum broadcast onto the per-source plan (≤#sources rows)",
    ("doc_curation_pipeline", _BNLJ): "1-row budget-cut broadcast into the quality stage + 1-row mixture-budget broadcast (round 8 composition)",
    ("doc_quality_budget_cut", "SinglePartitionWindow"): "cumsum window over the ≤101-row quality-centi-bucket histogram (corpus never sorted)",
    ("doc_curation_pipeline", "SinglePartitionWindow"): "the inherited budget-cut stage's ≤101-row histogram cumsum",
    ("pipeline_contamination", _BNLJ): "the inherited curated_doc_ids subplan's 1-row budget-cut broadcast (same stage doc_curation_pipeline adjudicates)",
    ("pipeline_contamination", "SinglePartitionWindow"): "the inherited budget-cut stage's ≤101-row histogram cumsum (same stage doc_curation_pipeline adjudicates)",
    ("nft_uint256_clamp_policy", "SinglePartitionWindow"): "ordering window bounded to the ≤2000-row filtered clamp-audit set (plans/nft_ops.py:302)",
    ("emb_kmeans_stats", "GlobalSort"): "presentation sort over ≤k=4 per-cluster stat rows",
    ("doc_token_concentration", _BNLJ): "1-row total/distinct-token broadcast onto the ≤100-row top set (share ppm)",
    ("doc_shard_mixing_audit", _BNLJ): "1-row corpus-total broadcast onto the bounded (shard, source) cell frame (share-deviation ppm)",
    ("doc_token_concentration", "SinglePartitionWindow"): "rank window over the ≤100-row TakeOrderedAndProject survivors",
    ("evt_key_skew_topk", _BNLJ): "1-row total-events broadcast onto the ≤20-row top set (share ppm)",
    ("evt_key_skew_topk", "SinglePartitionWindow"): "rank window over the ≤20-row TakeOrderedAndProject survivors",
    ("evt_funnel_counts", "SinglePartitionWindow"): "lag window over the 3-row per-stage union (bounded by the funnel length)",
    ("emb_sq_topk", "SinglePartitionWindow"): "rank window over the ≤10-row TakeOrderedAndProject survivors",
    ("emb_sq_topk", _BNLJ): "corpus × the broadcast 1-row query vector (vec_id 0)",
    ("dedup_semantic_cells", _BNLJ): "Lloyd assignment: corpus × broadcast derived-K centroid table, K = min(max(8, N/25), SEM_K_MAX=4096) — ≤4096 rows by construction (r10 cap)",
    ("dedup_semantic_keep", _BNLJ): "inherited from the semantic-cells stage: corpus × broadcast derived-K (≤SEM_K_MAX=4096-row) centroid table",
    ("dedup_semantic_cells_mp2", _BNLJ): "two-pass top-2 Lloyd assignment: corpus × broadcast derived-K (≤SEM_K_MAX=4096-row) centroid table, twice by design (second-nearest re-score)",
    ("dedup_semantic_keep_mp2", _BNLJ): "inherited from the mp2 pair stage: the two-pass top-2 assignment's broadcast centroid re-score",
    ("emb_balanced_sample", _BNLJ): "Lloyd assignment: corpus × broadcast derived-K (≤SEM_K_MAX=4096-row) centroid table (shared by the cell and pair stages)",
    ("emb_balanced_sample_mp2", _BNLJ): "two-pass top-2 Lloyd assignment: corpus × broadcast derived-K (≤SEM_K_MAX=4096-row) centroid table, twice by design (second-nearest re-score; dedup_semantic_cells_mp2's class)",
    ("emb_ivfsq_topk", _BNLJ): "IVF cell assignment: corpus × broadcast 16-row centroid table (SQ scoring is the cell equi-join)",
    ("emb_rp_topk", "SinglePartitionWindow"): "rank window over the ≤10-row TakeOrderedAndProject survivors (emb_sq_topk's class)",
    ("emb_prefix_topk", "SinglePartitionWindow"): "rank window over the ≤10-row TakeOrderedAndProject survivors (emb_sq_topk's class)",
    ("doc_quality_calibration", _BNLJ): "1-row total-docs broadcast onto the ≤11·|sources|-row driver-materialized lift table (base-rate denominator)",
    ("doc_bigram_quality_calibration", _BNLJ): "1-row total broadcast onto the ≤11×64-cell driver-materialized cross-tab (base-rate denominator; doc_quality_calibration's class)",
    ("dedup_threshold_sweep", "SinglePartitionWindow"): "cumulative window over the ≤11-row jaccard-decile histogram (the budget-cut cumsum class)",
    ("dedup_semantic_threshold_sweep", _BNLJ): "inherited from the semantic-cells stage: corpus × broadcast derived-K (≤SEM_K_MAX=4096-row) centroid table",
    ("dedup_semantic_threshold_sweep", "SinglePartitionWindow"): "cumulative window over the ≤11-row sqdist-decile histogram (dedup_threshold_sweep's cumsum class)",
    ("emb_centroid_outliers", _BNLJ): "Lloyd assignment: corpus × broadcast 16-row trained centroid table (the flag pass joins the ≤16-row driver-materialized cell stats by equi-key)",
    ("dedup_family_overlap", _BNLJ): "10-row combos × broadcast ≤2⁵-row mask histogram (literal-TRUE left join so an empty histogram still yields the matrix rows)",
    ("media_modality_overlap", _BNLJ): "10-row combos × broadcast ≤2⁵-row mask histogram (the dedup_family_overlap tail, applied to the five media detectors' source-pair masks)",
    ("emb_cell_label_purity", _BNLJ): "Lloyd assignment: corpus × broadcast derived-K (≤SEM_K_MAX=4096-row) centroid table (dedup_semantic_cells' class)",
    ("dedup_stream_semantic_admission_sim", _BNLJ): "top-2 (batch) + top-1 (admitted) assignment: both splits × the broadcast derived-K (≤SEM_K_MAX=4096-row) admitted-trained centroid table (dedup_semantic_cells_mp2's class; candidates themselves are cid equi-joins)",
    ("emb_ivf_recall_audit", _BNLJ): "the brute TRUTH side: bounded 8-query sample × corpus — the exact search a recall audit pays on its query sample by construction (plus the IVF side's 64-row centroid broadcast)",
    ("emb_bitsign_knn_join", _BNLJ): "8-row broadcast query-code sample × the 16 B/vector codes scan — stage 1 of the batched two-stage sign search (floats touched only for the ≤|Q|·L rerank rows)",
}


def final_plan(df) -> str:
    """Run ``df``, then return its executed plan.  Under AQE that is the
    final adaptive plan; its ``== Initial Plan ==`` section, the plan as
    built before any stage ran, is cut off."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("\n+- == Initial Plan ==")[0]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default="docs/PLANS_CAPTURED.md")
    args = ap.parse_args()

    from block_crawler_spark.plans.registry import all_queries
    from block_crawler_spark.session import get_spark

    spark = get_spark("capture-plans")
    spark.sparkContext.setLogLevel("ERROR")

    lines = [
        "# Captured executed plans (generated by scripts/capture_plans.py)",
        "",
        f"Scale dir: {args.sf}.  Each query ran once; under AQE its plan is the final",
        "adaptive plan.  Summary table first; full plans below.",
        "",
        "| query | Exchanges | red flags |",
        "|---|---|---|",
    ]
    bodies = []
    flagged = []
    for name, (fn, _sql) in sorted(all_queries().items()):
        try:
            plan = final_plan(fn(spark, args.sf))
        except Exception as e:  # pragma: no cover
            lines.append(f"| {name} | ? | BUILD ERROR: {e} |")
            flagged.append(name)
            continue
        n_ex = len(re.findall(r"\bExchange\b", plan))
        flags = [f for f in RED_FLAGS if f in plan] + _pattern_flags(plan)
        note = "—"
        if flags:
            parts, bad = [], False
            for fl in flags:
                reason = ADJUDICATED.get((name, fl))
                if reason is not None:
                    parts.append(f"{fl} — bounded: {reason}")
                else:
                    parts.append(f"{fl} — UNADJUDICATED")
                    bad = True
            note = "; ".join(parts)
            if bad:
                flagged.append(name)
        lines.append(f"| {name} | {n_ex} | {note} |")
        bodies.append(f"\n## {name}\n\n```\n{plan[:4000]}\n```\n")

    with open(args.out, "w") as f:
        f.write("\n".join(lines) + "\n" + "".join(bodies))
    print(f"wrote {args.out}; {len(flagged)} flagged: {flagged}")
    return 1 if flagged else 0


if __name__ == "__main__":
    sys.exit(main())
