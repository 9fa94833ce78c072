"""Exact k-nearest-neighbour lookup over an :class:`LktIndex`
(SURVEY.md §2.3-Q2 — the reference builds the index for exactly this kind
of workload but ships no query side; semantics follow from the split
invariant every node establishes: left subtree < value on its axis,
right ≥ value — reference nocuda.cpp:91-93).

Single-scan exact algorithm, all pruning expressed as ``sort_key``
intervals (each subtree is contiguous in kd order):

  Plan (a ``mapInPandas`` stage over the query DataFrame, against the
  leaf table — one row per non-empty leaf with its interval, count and
  exact data bbox — read from the tree's one broadcast per session,
  ``SplitTree.broadcast``, shared with the label UDF; no data scan): each query orders the leaves
  by the distance to their bbox's far corner, and r_q is that distance at
  the first leaf where the running point count reaches k — those leaves
  hold ≥ k points within r_q, so r_q bounds the k-th distance. Every leaf
  whose data bbox lies within r_q of the query becomes part of its cover
  (adjacent leaves merged into one interval). Queries are planned in
  chunks of at most ``PLAN_CELLS`` query × leaf cells.

  Scan (the only data pass): the bucketed band join of
  operators/interval_join.py pairs points with cover intervals; exact
  distance + per-query top-k window gives the exact answer.

There is no driver loop over queries. ``SplitTree.knn_seed_node``,
``knn_r2_bound`` and ``ranges_for_circle`` run the same planner code for
one query.

Ties at equal distance break by ascending key (FIXTURES.md F5).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from linear_kdtree_spark.functions.geometry import dist2
from linear_kdtree_spark.operators.build import LktIndex
from linear_kdtree_spark.operators.interval_join import bucket_join, bucket_shift
from linear_kdtree_spark.operators.tree import circle_cover, knn_seed
from linear_kdtree_spark.session import local_frame

# query × leaf cells one planner step holds: queries are planned in chunks
# of PLAN_CELLS // n_leaves, so the planner's memory stays bounded
PLAN_CELLS = 2_000_000


def knn(
    index: LktIndex,
    queries: list[tuple[int, float, float]] | DataFrame,
    k: int,
) -> DataFrame:
    """queries: [(query_id, qx, qy), ...] or a DataFrame with those columns.
    Returns (query_id, key, dist2, rank) with rank 1..k: :func:`knn_batch`
    over the queries (a list becomes a small DataFrame first)."""
    if not isinstance(queries, DataFrame):
        queries = local_frame(
            index.points.sparkSession,
            [(int(q), float(x), float(y)) for q, x, y in queries],
            "query_id long, qx double, qy double",
        )
    return knn_batch(index, queries, k)


def knn_batch(
    index: LktIndex,
    queries: DataFrame,
    k: int,
    query_id: str = "query_id",
    qx_col: str = "qx",
    qy_col: str = "qy",
    broadcast_cover: bool = True,
) -> DataFrame:
    """Exact kNN, fully distributed: the per-query planning (leaf-table
    bound + circle cover) runs inside ``mapInPandas`` over the query
    DataFrame against the broadcast leaf table, and the cover joins the points
    through :func:`bucket_join` — the driver never touches a query row, so
    the query side may be data-scale (10^5+ rows).

    (r6, measured and rejected: planning small batches on the driver — a
    bounded ``take`` probe + the same numpy planner + ``createDataFrame``
    — removed the python planning stage and its tree-array broadcast, but
    an interleaved same-session A/B at 4.8 M/local[32] showed it SLOWER:
    best 1.045 / med 1.137 s vs 0.948 / 1.044 s for this path. The
    per-call probe job + the Python-worker job that
    ``createDataFrame(list)`` runs to read its ``parallelize``d rows cost
    more than the one 40-row mapInPandas stage they replaced; an earlier
    session's opposite reading came from a polluted window. An Arrow
    LocalRelation (``session.local_frame``) removes the second cost but
    not the probe job; the verdict stands.)

    ``broadcast_cover=True`` (default) hints the cover side into a
    broadcast hash join so the POINT table is never shuffled — right up to
    ~10^6-interval covers. Beyond that, set False: the join becomes a
    shuffle on ``bucket`` (both sides partitioned by key — the correct
    shape when the query batch itself is data-scale; AQE skew-split
    applies)."""
    spark = index.points.sparkSession
    tree = index.tree
    total = tree.total_points
    if total == 0:
        return local_frame(
            spark, [], "query_id long, key long, dist2 double, rank int"
        )
    k_eff = min(k, total)
    md = tree.max_depth
    n_leaves = len(tree.leaves["node"])
    # bucket width from the tree alone: the leaves tile the key space
    shift = bucket_shift((1 << md) / n_leaves, md)
    chunk = max(1, PLAN_CELLS // n_leaves)
    out_schema = "query_id long, qx double, qy double, r2 double, lo long, hi long"

    pts = index.points.select("key", "x", "y", "sort_key")
    bc = tree.broadcast(spark)

    def plan(batches):
        L = bc.value["leaves"]
        for pdf in batches:
            ids = pdf[query_id].to_numpy()
            qxs = pdf[qx_col].to_numpy(dtype=np.float64)
            qys = pdf[qy_col].to_numpy(dtype=np.float64)
            for s in range(0, len(pdf), chunk):
                qx, qy = qxs[s:s + chunk], qys[s:s + chunk]
                _, r2 = knn_seed(qx, qy, L, k_eff)
                qi, lo, hi = circle_cover(qx, qy, r2, L)
                yield pd.DataFrame(
                    {
                        "query_id": ids[s:s + chunk][qi],
                        "qx": qx[qi],
                        "qy": qy[qi],
                        "r2": r2[qi],
                        "lo": lo,
                        "hi": hi,
                    }
                )

    cover = queries.select(query_id, qx_col, qy_col).mapInPandas(plan, out_schema)
    w = Window.partitionBy("query_id").orderBy("d2", "key")
    return (
        bucket_join(pts, cover, shift, "broadcast" if broadcast_cover else None)
        .withColumn("d2", dist2(F.col("x"), F.col("y"), F.col("qx"), F.col("qy")))
        .filter(F.col("d2") <= F.col("r2"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k_eff)
        .select(
            "query_id",
            "key",
            F.col("d2").alias("dist2"),
            F.col("rank").cast("int").alias("rank"),
        )
    )
