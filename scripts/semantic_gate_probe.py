"""Streaming SEMANTIC-gate scaling probe: per-batch cost vs admitted corpus.

The text-dedup ingest path has a measured flat-cost curve
(scripts/corpus_ingest_probe.py); this probe gives the round-11 semantic
admission gate the same treatment — a fixed 200-row micro-batch (half
fresh embeddings, half near-duplicates of admitted ones) admitted into
stores whose vector seen-set is grown 1×/10×/100×.

What the numbers mean, honestly: unlike the fp/band probes (whose bucket
keys are content hashes, so a batch's footprint is a SMALL fraction of
the buckets), the vindex is bucketed by TRAINED CELL, and a
cell-diverse 200-row batch touches more distinct cells than there are
buckets — the partition pruning saturates, and the per-batch vindex scan
is an O(admitted) narrow read (doc_id, cid, v — the same accepted class
as the doc_id identity probe).  The JOIN stays collision-bounded (only
same-cell rows match; each batch row meets ~admitted/K rows).  So the
expected curve is near-flat wall dominated by fixed job overhead at these
sizes, with a linear narrow-scan term that a cluster absorbs; the probe
reports both the wall and the admitted-rows-scanned bound so the claim is
checkable rather than asserted.

Vectors are deterministic md5-derived 8-dim points; near-dups perturb
dim 0 by 5e-4 (micro² sqdist 2.5e5).  The probe passes its own
``semantic_sqdist_max`` (1e9, dist ≈ 0.032): the default threshold is
tuned for unit-norm 64-dim embeddings and would swallow most of an 8-dim
cube (the first probe run saturated the seen set at ~510 admitted docs
regardless of seed size — random cube points almost all had a
within-threshold lower-id neighbor).  Usage:

    PYTHONPATH=/root/repo python scripts/semantic_gate_probe.py [--sizes 1000,10000,100000]
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402

from block_crawler_spark.operators.ann import kmeans_lloyd_fixed  # noqa: E402
from block_crawler_spark.session import get_spark  # noqa: E402
from block_crawler_spark.streaming.corpus import CorpusIngestStore  # noqa: E402

BATCH_ROWS = 200
DIM = 8
K_CELLS = 64


def _docs(spark, start: int, n: int, dup_of: int | None = None, pin_to: int | None = None):
    """n rows with deterministic distinct texts and md5-derived embeddings
    in [-1, 1]^DIM; ``dup_of`` re-keys the EMBEDDING generator (texts stay
    fresh) so those rows are semantic near-dups of the seed rows — the
    gate, not the fp dedup, must block them.  ``pin_to`` keys EVERY row's
    embedding to that single seed id (with a tiny per-row dim-0 spread) —
    the CELL-CONCENTRATED batch whose probe footprint is 1–2 cells."""
    if pin_to is not None:
        base = F.lit(pin_to)
    elif dup_of is not None:
        base = F.col("id") - start + dup_of
    else:
        base = F.col("id")
    comp = [
        (
            (F.conv(F.substring(F.md5(F.concat(base.cast("string"), F.lit(f"|e{j}"))), 1, 6), 16, 10)
             .cast("long") % 2000 - 1000) / 1000.0
        ).cast("float")
        for j in range(DIM)
    ]
    if dup_of is not None:
        comp[0] = (comp[0] + F.lit(0.0005)).cast("float")
    if pin_to is not None:
        # distinct-but-concentrated: a base-5 lattice over dims 1-4 with
        # 0.04 spacing — pairwise micro² sqdist ≥ (40000)² = 1.6e9 > the
        # probe's 1e9 gate, so the rows SURVIVE the within-batch semantic
        # dedup (r12 review: a 1e-6 spread collapsed the batch to one row
        # and the concentrated wall timed a degenerate 1-row probe), while
        # the whole lattice spans ≤0.16 per dim around the pinned point —
        # still a handful of cells
        for j in range(1, 5):
            comp[j] = (
                comp[j]
                + F.expr(f"(id - {start}) DIV {5 ** (j - 1)} % 5").cast("double") * F.lit(0.04)
            ).cast("float")
    word = lambda j: F.concat(  # noqa: E731
        F.lit("w"), F.substring(F.md5(F.concat(F.col("id").cast("string"), F.lit(f"|{j}"))), 1, 6)
    )
    text = F.concat_ws(" ", *[word(j) for j in range(12)])
    return spark.range(start, start + n).select(
        F.col("id").alias("doc_id"),
        text.alias("text"),
        F.lit("en").alias("lang"),
        F.lit("probe").alias("source"),
        F.length(text).alias("n_chars"),
        F.array(*comp).alias("embedding"),
    )


def _near_dup_batch(spark, store, n_targets: int, id_base: int):
    """A batch of TRUE near-dups of actually-admitted docs: each row's
    embedding is an admitted doc's point plus a deterministic md5-derived
    jitter of ≤0.01 per dim (micro² sqdist ≤ 8e8 < the probe's 1e9 gate —
    every row SHOULD be blocked), large enough relative to the 64-cell
    partition of the 8-dim cube that cell memberships genuinely flip —
    the boundary-straddling geometry the asymmetric-slip question is
    about (VERDICT r12 task 3)."""
    adm = [
        r["doc_id"]
        for r in store.corpus().select("doc_id").orderBy("doc_id").limit(n_targets).collect()
    ]
    tgt = spark.createDataFrame([(i, t) for i, t in enumerate(adm)], "rid long, base long")
    comp = []
    for j in range(DIM):
        seed = (
            F.conv(F.substring(F.md5(F.concat(F.col("base").cast("string"), F.lit(f"|e{j}"))), 1, 6), 16, 10)
            .cast("long") % 2000 - 1000
        ) / 1000.0
        jit = (
            F.conv(F.substring(F.md5(F.concat(F.col("rid").cast("string"), F.lit(f"|d{j}"))), 1, 6), 16, 10)
            .cast("long") % 2000 - 1000
        ) / 1000.0 * 0.01
        comp.append((seed + jit).cast("float"))
    word = lambda j: F.concat(  # noqa: E731
        F.lit("s"), F.substring(F.md5(F.concat((F.col("rid") + id_base).cast("string"), F.lit(f"|{j}"))), 1, 6)
    )
    text = F.concat_ws(" ", *[word(j) for j in range(12)])
    return tgt.select(
        (F.col("rid") + id_base).alias("doc_id"),
        text.alias("text"),
        F.lit("en").alias("lang"),
        F.lit("probe").alias("source"),
        F.length(text).alias("n_chars"),
        F.array(*comp).alias("embedding"),
    )


def _slip_rates(spark, cents, work) -> dict:
    """The ASYMMETRIC-SLIP measurement (VERDICT r12 task 3): with the
    default ``vindex_probes=1`` a true near-dup slips when its batch-side
    top-2 cells miss the admitted twin's stored top-1 cell (the
    pytest-pinned hole); ``vindex_probes=2`` closes it whenever ANY of the
    four memberships meet.  Two stores, same codebook, same 10k-seed
    corpus, same 200-row planted near-dup batch (every row has an admitted
    doc within the gate's threshold — the honest slip denominator); the
    report carries each config's blocked/slipped counts plus the vindex
    size and probe-scan deltas the default decision trades against."""
    n_seed, n_batch = 10_000, 200
    out = {}

    def _membership_rates(spark, store, batch, id_base):
        """Structural slip predictors, independent of the end-to-end count:
        for each (batch row X, planted twin Y) — how often top1(X) ≠
        top1(Y) (a boundary FLIP: the single-probe-única regime would slip
        here), how often {top1,top2}(X) ∩ {top1(Y)} = ∅ (the probes=1
        gate's actual miss condition), and ∩ {top1(Y), top2(Y)} = ∅ (the
        probes=2 condition).  If flips are zero the corpus never exercises
        boundaries and the end-to-end 0 would be vacuous — these rates make
        the measurement checkable."""
        from block_crawler_spark.operators.ann import centroid_assign_top2, micro_fixed

        cents = store._centroids()

        def top2_map(df, idc):
            vecs = df.select(F.col(idc).alias("vid"), micro_fixed(F.col("embedding")).alias("v"))
            m: dict[int, list[int]] = {}
            # cid is the final sort key: an exact integer-distance tie
            # between the two probes must break to the lowest cid (the
            # engine's own rule) or top1_flip_pct goes nondeterministic
            for r in centroid_assign_top2(vecs, cents).orderBy("vid", "dist", "cid").collect():
                m.setdefault(r["vid"], []).append(r["cid"])
            return m

        bx = top2_map(batch, "doc_id")
        # batch doc_id = id_base + rid; its twin is the rid-th admitted id
        adm = [
            r["doc_id"]
            for r in store.corpus().select("doc_id").orderBy("doc_id").limit(len(bx)).collect()
        ]
        ty = top2_map(
            store.corpus().filter(F.col("doc_id").isin(adm)).select("doc_id", "embedding"),
            "doc_id",
        )
        flips = p1_miss = p2_miss = 0
        for vid, cells in bx.items():
            twin = adm[vid - id_base]
            tcells = ty[twin]
            flips += cells[0] != tcells[0]
            p1_miss += not (set(cells) & {tcells[0]})
            p2_miss += not (set(cells) & set(tcells))
        n = len(bx)
        return {
            "top1_flip_pct": round(100.0 * flips / n, 2),
            "p1_membership_miss_pct": round(100.0 * p1_miss / n, 2),
            "p2_membership_miss_pct": round(100.0 * p2_miss / n, 2),
        }

    for probes in (1, 2):
        root = f"{work}/slip-p{probes}"
        store = CorpusIngestStore(
            spark, root, semantic=True, semantic_centroids=cents,
            semantic_sqdist_max=10**9, vindex_probes=probes,
        )
        store.ingest_batch(_docs(spark, 0, n_seed), 0)
        admitted_seed = store.corpus().count()
        batch = _near_dup_batch(spark, store, n_batch, id_base=10 * n_seed)
        # the pruned-scan bound for THIS batch under this probe config
        from block_crawler_spark.operators.ann import centroid_assign_top2, micro_fixed

        vecs = batch.select(F.col("doc_id").alias("vid"), micro_fixed(F.col("embedding")).alias("v"))
        touched = sorted(
            r["b"]
            for r in centroid_assign_top2(vecs, store._centroids())
            .select(store._vbucket_expr().alias("b"))
            .distinct()
            .collect()
        )
        rows_scanned = int(store.vindex(buckets=touched).count())
        rates = _membership_rates(spark, store, batch, id_base=10 * n_seed)
        store.ingest_batch(batch, 1)
        slipped = int(store.corpus().count() - admitted_seed)
        out[f"probes={probes}"] = {
            "admitted_seed": int(admitted_seed),
            "planted_near_dups": n_batch,
            "slipped": slipped,
            "slip_pct": round(100.0 * slipped / n_batch, 2),
            "vindex_rows": int(store.vindex().count()),
            "buckets_touched": len(touched),
            "rows_scanned": rows_scanned,
            **rates,
        }
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sizes", default="1000,10000,100000")
    ap.add_argument("--slip-only", action="store_true")
    args = ap.parse_args()
    sizes = [int(s) for s in args.sizes.split(",")]

    spark = get_spark("semantic-gate-probe")
    spark.sparkContext.setLogLevel("ERROR")
    # one shared codebook trained on a fixed seed slice — every store pins
    # the SAME cells, so admission decisions are comparable across sizes
    _, cents = kmeans_lloyd_fixed(
        _docs(spark, 0, 512).select("doc_id", "embedding"),
        k=K_CELLS,
        iters=1,
        id_col="doc_id",
    )
    out: dict = {"batch_rows": BATCH_ROWS, "k_cells": K_CELLS, "sizes": {}}
    work = tempfile.mkdtemp(prefix="semgate-probe-")
    try:
        out["asymmetric_slip"] = _slip_rates(spark, cents, work)
        if args.slip_only:
            print(json.dumps(out))
            return 0
        for n in sizes:
            root = f"{work}/corpus-{n}"
            store = CorpusIngestStore(
                spark, root, semantic=True, semantic_centroids=cents,
                semantic_sqdist_max=10**9,  # dist 0.032: blocks the planted 5e-4 jitter, never random cube points
            )
            store.ingest_batch(_docs(spark, 0, n), 0)
            admitted_seed = store.corpus().count()

            half = BATCH_ROWS // 2
            batch = _docs(spark, n, half).unionByName(
                _docs(spark, n + half, half, dup_of=0)
            )
            def _scan_bound(b):
                """The pruned vindex read the gate would do for batch ``b``:
                top-2 assign against the pinned codebook, distinct vbucket
                footprint, rows living in those buckets (the exact
                _semantic_filter probe shape)."""
                from block_crawler_spark.operators.ann import (
                    centroid_assign_top2,
                    micro_fixed,
                )

                vecs = b.select(
                    F.col("doc_id").alias("vid"), micro_fixed(F.col("embedding")).alias("v")
                )
                asg = centroid_assign_top2(vecs, store._centroids())
                touched = sorted(
                    r["b"] for r in asg.select(store._vbucket_expr().alias("b")).distinct().collect()
                )
                return len(touched), int(store.vindex(buckets=touched).count())

            # each batch's scan bound is measured against the seen set AT
            # THE MOMENT OF ITS OWN INGEST (r12 review: measuring the
            # diverse bound after its ingest inflated it with the batch's
            # own freshly admitted rows while the concentrated bound was
            # pre-ingest — an asymmetric comparison)
            div_buckets, div_rows = _scan_bound(batch)
            t0 = time.monotonic()
            store.ingest_batch(batch, 1)
            wall = time.monotonic() - t0
            total = store.corpus().count()
            vindex_rows = int(store.vindex().count())  # pre-conc: the r11 series definition
            # the cell-CONCENTRATED batch (round 12): every row pinned near
            # one seed point → footprint is the top-2 cells of that point;
            # with the vindex bucketed per-cell (min(K,1024) buckets) the
            # pruned read is ~2/K of the admitted rows, not O(admitted)
            conc = _docs(spark, n + BATCH_ROWS, BATCH_ROWS, pin_to=0)
            conc_buckets, conc_rows = _scan_bound(conc)
            t0 = time.monotonic()
            store.ingest_batch(conc, 2)
            conc_wall = time.monotonic() - t0
            out["sizes"][str(n)] = {
                "admitted_seed": int(admitted_seed),
                "probe_wall_s": round(wall, 2),
                "probe_admitted": int(total - admitted_seed),
                "probe_blocked": BATCH_ROWS - int(total - admitted_seed),
                "vindex_rows": vindex_rows,
                "vindex_buckets": store._vindex_buckets(),
                # the honest scan bounds: admitted rows living in the batch's
                # touched vbuckets (what the pruned vindex read covers) —
                # diverse batches still saturate (documented residual),
                # concentrated batches now prune to their cells
                "diverse_buckets_touched": div_buckets,
                "diverse_rows_scanned": div_rows,
                "concentrated_buckets_touched": conc_buckets,
                "concentrated_rows_scanned": conc_rows,
                "concentrated_wall_s": round(conc_wall, 2),
            }
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
