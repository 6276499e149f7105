"""Skew mitigation: salted aggregation for pathological hot keys.

AQE's skew-join splitting (enabled in ``session.get_spark``) handles skewed
joins at runtime.  An *extreme* hot aggregation key — one NFT collection
receiving half of all transfers — can still bottleneck a single task.
Classic fix: salt.  The salt is derived from stable row content (xxhash64
of all columns), not ``rand()``, so plans stay deterministic and
retry-safe — the same property the engine's version-guarded sinks rely on.

``salted_aggregate`` is two-phase group-by for skewed aggregation keys:
partial aggregate on (key, salt), final on key.  (For algebraic aggregates
Spark's map-side partial aggregation already does this; the explicit form
exists for aggregation via ``collect_list``/UDAF-ish shapes where partials
don't apply automatically.)
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _content_salt(df: DataFrame, salt_factor: int) -> Column:
    return F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(salt_factor)).cast("int")


def salted_aggregate(
    df: DataFrame,
    keys: Sequence[str],
    aggs: dict[str, str],
    salt_factor: int = 8,
) -> DataFrame:
    """Two-phase aggregation over a salted key: (key, salt) partials → final.

    ``aggs`` maps column → one of sum/count/min/max (the algebraic set that
    composes across phases).
    """
    fns = {"sum": F.sum, "min": F.min, "max": F.max}
    salted = df.withColumn("_salt", _content_salt(df, salt_factor))
    partial_exprs = []
    final_exprs = []
    for col, fn in aggs.items():
        if fn == "count":
            partial_exprs.append(F.count(col).alias(f"_p_{col}"))
            final_exprs.append(F.sum(f"_p_{col}").alias(f"{fn}_{col}"))
        elif fn in fns:
            partial_exprs.append(fns[fn](col).alias(f"_p_{col}"))
            final_exprs.append(fns[fn](f"_p_{col}").alias(f"{fn}_{col}"))
        else:
            raise ValueError(f"unsupported aggregate {fn}")
    partial = salted.groupBy(*keys, "_salt").agg(*partial_exprs)
    return partial.groupBy(*keys).agg(*final_exprs)
