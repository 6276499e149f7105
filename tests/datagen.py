"""Test-only data generators: deterministic corpora the engine never reads
from a query, used by tests and the ANN recall probe
(``scripts/ann_recall.py --clustered``)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def clustered_embeddings(
    spark,
    n: int = 2000,
    n_clusters: int = 32,
    jitter_milli: int = 70,
    dim: int = 64,
) -> DataFrame:
    """Deterministic CLUSTERED embedding corpus for recall probes: the
    search families' constants were tuned on the isotropic testdata corpus,
    the no-structure worst case.  Every vector is an md5-derived cluster
    center (``vec_id % n_clusters``, components in [-1, 1]) plus a small
    md5-derived jitter (±jitter_milli/1000 per dim), so density modes are
    real (cross-cluster distances ≫ within-cluster) and IVF/PQ/sketch
    structure has something to find.  No RNG anywhere — both the centers
    and the jitter are content-hash functions of the ids, reproducible on
    any engine, so every probe shares one fixture definition.

    Output schema matches the testdata embeddings table: (vec_id,
    embedding array<float>)."""
    cl = (F.col("id") % n_clusters).cast("string")

    def h(key, span):
        return (
            F.conv(F.substring(F.md5(key), 1, 6), 16, 10).cast("long") % (2 * span + 1) - span
        ) / 1000.0

    comp = [
        (
            h(F.concat(F.lit(f"c{j}|"), cl), 1000)
            + h(F.concat(F.lit(f"v{j}|"), F.col("id").cast("string")), jitter_milli)
        ).cast("float")
        for j in range(dim)
    ]
    return spark.range(n).select(F.col("id").alias("vec_id"), F.array(*comp).alias("embedding"))
