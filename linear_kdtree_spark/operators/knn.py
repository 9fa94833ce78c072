"""Exact k-nearest-neighbour lookup over an :class:`LktIndex`
(SURVEY.md §2.3-Q2 — the reference builds the index for exactly this kind
of workload but ships no query side; semantics follow from the split
invariant every node establishes: left subtree < value on its axis,
right ≥ value — reference nocuda.cpp:91-93).

Single-scan exact algorithm, all pruning expressed as ``sort_key``
intervals (each subtree is contiguous in kd order):

  Plan (a ``mapInPandas`` stage over the query DataFrame, against the
  broadcast flat tree arrays; no data scan): each query descends the tree
  to the deepest node on its path still holding ≥ k points (the seed
  node), and takes the far corner of the seed's exact data bbox —
  recorded by the build's own stats shuffle — as an upper bound r_q on
  the k-th distance: the ≥ k seed points all lie inside that bbox. Every
  leaf region intersecting circle(q, r_q) then becomes a sort_key
  interval of the query's cover.

  Scan (the only data pass): the bucketed band join of
  operators/interval_join.py pairs points with cover intervals; exact
  distance + per-query top-k window gives the exact answer.

There is no driver loop over queries. The scalar ``SplitTree``
traversals (``knn_seed_node``, ``knn_r2_bound``, ``ranges_for_circle``)
are the reference the vectorized planner is tested against.

Ties at equal distance break by ascending key (FIXTURES.md F5).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from linear_kdtree_spark.functions.geometry import dist2
from linear_kdtree_spark.operators.build import LktIndex
from linear_kdtree_spark.operators.interval_join import bucket_join
from linear_kdtree_spark.session import local_frame


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


def _seed_r2_bound(qx: np.ndarray, qy: np.ndarray, A: dict, k: int) -> np.ndarray:
    """Vectorized per-query k-th-distance² upper bound: descend the flat
    tree arrays; the bound is the far corner of the data bbox of the
    deepest path node still holding ≥ k points (numpy twin of
    SplitTree.knn_seed_node + knn_r2_bound)."""
    n = len(qx)
    if len(A["ids"]) == 0 or A["ids"][0] != 0:
        return np.full(n, np.inf)
    axis, value = A["axis"], A["value"]
    left, right = A["left"], A["right"]
    nl, nr = A["n_left"], A["n_right"]
    bbox, bvalid = A["bbox"], A["bbox_valid"]
    pos = np.zeros(n, dtype=np.int64)
    alive = np.ones(n, dtype=bool)
    cur = np.full((n, 4), np.nan)
    if bvalid[0]:
        cur[:] = bbox[0]
    seed = cur.copy()  # root always holds ≥ k (k is pre-clamped to total)
    for _ in range(A["max_depth"]):
        if not alive.any():
            break
        idx = np.flatnonzero(alive)
        p = pos[idx]
        v = np.where(axis[p] == 0, qx[idx], qy[idx])
        wl = v < value[p]
        child_pos = np.where(wl, left[p], right[p])
        child_cnt = np.where(wl, nl[p], nr[p])
        has_b = (child_pos >= 0) & bvalid[np.maximum(child_pos, 0)]
        cur[idx[has_b]] = bbox[child_pos[has_b]]
        ok = child_cnt >= k
        seed[idx[ok]] = cur[idx[ok]]
        alive[idx] = child_pos >= 0
        pos[idx] = np.maximum(child_pos, 0)
    dx = np.maximum(np.abs(qx - seed[:, 0]), np.abs(qx - seed[:, 1]))
    dy = np.maximum(np.abs(qy - seed[:, 2]), np.abs(qy - seed[:, 3]))
    r2 = dx * dx + dy * dy
    return np.where(np.isnan(r2), np.inf, r2)


def _cover_intervals(
    qx: np.ndarray, qy: np.ndarray, r2: np.ndarray, A: dict
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized circle cover: level-synchronous frontier expansion over
    (query, node) pairs — the numpy twin of SplitTree.ranges_for_circle.
    Returns (query_row_idx, lo, hi); leaf intervals are disjoint by
    construction, so no merge/dedup is needed."""
    n = len(qx)
    md = A["max_depth"]
    one = np.int64(1)
    if len(A["ids"]) == 0 or A["ids"][0] != 0:
        return (
            np.arange(n, dtype=np.int64),
            np.zeros(n, dtype=np.int64),
            np.full(n, one << md, dtype=np.int64),
        )
    # degrade path (review r5): a query with no finite seed bound (tree
    # reloaded without node_bounds) must cover the WHOLE key range as ONE
    # interval — descending with r=inf would take both children at every
    # split and emit every leaf separately per query, exploding the cover
    # to n_queries x n_leaves rows.
    unbounded = ~np.isfinite(r2)
    if unbounded.any():
        uq = np.flatnonzero(unbounded).astype(np.int64)
        bq, blo, bhi = _cover_intervals(
            qx[~unbounded], qy[~unbounded], r2[~unbounded], A
        )
        fq = np.flatnonzero(~unbounded).astype(np.int64)
        return (
            np.concatenate([uq, fq[bq]]),
            np.concatenate([np.zeros(len(uq), np.int64), blo]),
            np.concatenate([np.full(len(uq), one << md, np.int64), bhi]),
        )
    with np.errstate(invalid="ignore"):
        r = np.sqrt(r2)
    xlo, xhi, ylo, yhi = qx - r, qx + r, qy - r, qy + r
    axis, value = A["axis"], A["value"]
    left, right = A["left"], A["right"]
    fq = np.arange(n, dtype=np.int64)
    fpos = np.zeros(n, dtype=np.int64)
    fnode = np.zeros(n, dtype=np.int64)
    out_q, out_lo, out_hi = [], [], []

    def emit(q, node):
        if len(q) == 0:
            return
        v = node + 1
        lvl = (np.frexp(v.astype(np.float64))[1] - 1).astype(np.int64)
        lo = (v - (one << lvl)) << (md - lvl)
        out_q.append(q)
        out_lo.append(lo)
        out_hi.append(lo + (one << (md - lvl)))

    for _ in range(md + 1):
        if len(fq) == 0:
            break
        p = fpos
        lo_v = np.where(axis[p] == 0, xlo[fq], ylo[fq])
        hi_v = np.where(axis[p] == 0, xhi[fq], yhi[fq])
        nq, npos, nnode = [], [], []
        for go, child_of, bit in (
            (lo_v < value[p], left, 0),
            (hi_v >= value[p], right, 1),
        ):
            cq = fq[go]
            cpos = child_of[p[go]]
            cnode = fnode[go] * 2 + 1 + bit
            leaf = cpos < 0
            emit(cq[leaf], cnode[leaf])
            nq.append(cq[~leaf])
            npos.append(cpos[~leaf])
            nnode.append(cnode[~leaf])
        fq = np.concatenate(nq)
        fpos = np.concatenate(npos)
        fnode = np.concatenate(nnode)
    if not out_q:
        return (np.empty(0, np.int64),) * 3
    return np.concatenate(out_q), np.concatenate(out_lo), np.concatenate(out_hi)


def knn_batch(
    index: LktIndex,
    queries: DataFrame,
    k: int,
    query_id: str = "query_id",
    qx_col: str = "qx",
    qy_col: str = "qy",
    broadcast_cover: bool = True,
) -> DataFrame:
    """Exact kNN, fully distributed: the per-query planning (seed bound +
    circle cover) runs inside ``mapInPandas`` over the query DataFrame
    against broadcast flat tree arrays, and the cover joins the points
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
    # bucket width: mean leaf interval spans ≲ 4 buckets (same rule as
    # operators/interval_join.choose_shift, computed from the tree alone)
    mean_len = (1 << md) / max(len(tree.nodes) + 1, 1)
    shift = min(max(0, int(mean_len / 4).bit_length() - 1), md)
    out_schema = "query_id long, qx double, qy double, r2 double, lo long, hi long"

    pts = index.points.select("key", "x", "y", "sort_key")
    bc = spark.sparkContext.broadcast(tree.to_query_arrays())

    def plan(batches):
        A = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            qxv = pdf[qx_col].to_numpy(dtype=np.float64)
            qyv = pdf[qy_col].to_numpy(dtype=np.float64)
            r2 = _seed_r2_bound(qxv, qyv, A, k_eff)
            qi, lo, hi = _cover_intervals(qxv, qyv, r2, A)
            yield pd.DataFrame(
                {
                    "query_id": pdf[query_id].to_numpy()[qi],
                    "qx": qxv[qi],
                    "qy": qyv[qi],
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
