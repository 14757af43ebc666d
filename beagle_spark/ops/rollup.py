"""Hypertable-style continuous aggregates.

Rollups maintain a small pre-aggregated table of MERGEABLE partials
(count/sum/min/max per time bucket x dims). Queries over long ranges
hit the rollup instead of the fact table; partials from different
ingests merge by re-aggregation — the TimescaleDB continuous-aggregate
/ materialized-view pattern expressed as plain Spark jobs over
partitioned parquet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def build_rollup(
    df: DataFrame,
    ts_col: str,
    dims: list[str],
    value_col: str,
    bucket: str = "1 hour",
) -> DataFrame:
    """One rollup row per (time bucket x dims) with mergeable partials."""
    return df.groupBy(
        F.window(ts_col, bucket).alias("w"), *dims
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(value_col).alias("sum_v"),
        F.min(value_col).alias("min_v"),
        F.max(value_col).alias("max_v"),
    ).select(F.col("w.start").alias("bucket_start"), *dims, "cnt", "sum_v", "min_v", "max_v")


def merge_rollups(*rollups: DataFrame) -> DataFrame:
    """Merge partial rollups (e.g. per-ingest increments) by
    re-aggregation — count/sum add, min/max combine. avg derives as
    sum/cnt at query time (never store non-mergeable aggregates)."""
    base = rollups[0]
    for r in rollups[1:]:
        base = base.unionByName(r)
    dims = [c for c in base.columns if c not in ("cnt", "sum_v", "min_v", "max_v")]
    return base.groupBy(*dims).agg(
        F.sum("cnt").alias("cnt"),
        F.sum("sum_v").alias("sum_v"),
        F.min("min_v").alias("min_v"),
        F.max("max_v").alias("max_v"),
    )


def query_rollup(rollup: DataFrame, dims: list[str]) -> DataFrame:
    """Final aggregates from partials (avg = sum/cnt)."""
    return rollup.groupBy(*dims).agg(
        F.sum("cnt").alias("n"),
        F.round(F.sum("sum_v"), 3).alias("total"),
        F.round(F.sum("sum_v") / F.sum("cnt"), 6).alias("avg_v"),
        F.min("min_v").alias("min_v"),
        F.max("max_v").alias("max_v"),
    )
