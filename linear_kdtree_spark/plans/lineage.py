"""Lineage + per-partition metrics (north_rule: "resumable from checkpoint
with per-partition lineage + metrics").

The build loop already records per-level node statistics (LktIndex.lineage);
this module adds the physical-layout side: per-partition row counts and
sort_key ranges of the final kd-ordered table — the skew signal that drives
salting decisions (SURVEY.md §4.3). ``sources/catalog.save_index`` persists
both next to the index.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def partition_metrics(points: DataFrame) -> DataFrame:
    """(partition_id, n_rows, min_sort_key, max_sort_key) of the kd-ordered
    point table — one cheap pass."""
    return (
        points.withColumn("partition_id", F.spark_partition_id())
        .groupBy("partition_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("sort_key").alias("min_sort_key"),
            F.max("sort_key").alias("max_sort_key"),
        )
    )


def skew_stats(points: DataFrame) -> dict:
    rows = partition_metrics(points).collect()
    counts = sorted(r["n_rows"] for r in rows)
    if not counts:
        return {"partitions": 0}
    total = sum(counts)
    return {
        "partitions": len(counts),
        "rows": total,
        "min_rows": counts[0],
        "max_rows": counts[-1],
        "p50_rows": counts[len(counts) // 2],
        "skew_ratio": round(counts[-1] / max(1, total / len(counts)), 3),
    }
