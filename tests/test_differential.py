"""Differential tests: independent code paths inside the engine must agree
exactly — the strongest cheap correctness evidence after the DuckDB gates.

- fused hybrid build (mapInPandas local finish) ≡ pure level-synchronous
  build, per strategy and coord type — the fused path's global-id
  remapping and single-shuffle ordering are exactly equivalent;
- convex half-plane refine ≡ general ray-cast refine on convex polygons;
- distributed batch kNN ≡ numpy brute force (more configs than the
  targeted test in test_queries);
- the leaf-table kNN planner's bound and cover ⊇ brute force.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from linear_kdtree_spark.operators.build import lkt_build


def _pts(spark, n, seed, clustered=True):
    rng = np.random.default_rng(seed)
    if clustered:
        centers = rng.uniform(10, 90, (6, 2))
        which = rng.integers(0, 6, n)
        xy = centers[which] + rng.normal(0, 2.0, (n, 2))
    else:
        xy = rng.uniform(0, 100, (n, 2))
    return spark.createDataFrame(
        pd.DataFrame({"key": np.arange(n), "x": xy[:, 0], "y": xy[:, 1]})
    )


@pytest.mark.parametrize(
    "strategy,coord_type,leaf",
    [("mean", "double", 16), ("mean", "float", 8), ("median", "double", 32)],
)
def test_fused_build_equals_level_sync(spark, strategy, coord_type, leaf):
    pts = _pts(spark, 4000, seed=hash((strategy, leaf)) % 1000)
    a = lkt_build(pts, max_depth=10, strategy=strategy, leaf_size=leaf,
                  coord_type=coord_type)  # hybrid → fused local finish
    b = lkt_build(pts, max_depth=10, strategy=strategy, leaf_size=leaf,
                  coord_type=coord_type, local_threshold=0)  # pure level-sync
    cols = ["key", "node", "path_len", "code", "sort_key"]
    ra = sorted(tuple(r) for r in a.points.select(cols).collect())
    rb = sorted(tuple(r) for r in b.points.select(cols).collect())
    assert ra == rb
    sa = sorted(tuple(r) for r in a.splits.collect())
    sb = sorted(tuple(r) for r in b.splits.collect())
    assert len(sa) == len(sb)
    for x, y in zip(sa, sb):
        # (node_id, depth, axis, value, n_left, n_right, left, right)
        assert x[:3] == y[:3] and x[4:] == y[4:]
        if strategy == "median":
            # a median is an actual data value — bit-identical required
            assert x[3] == y[3]
        else:
            # mean split values may differ at the last ulp between numpy's
            # pairwise summation (local finish) and Spark's sequential
            # partial aggregation — the documented float-summation
            # nondeterminism class; topology and assignments must not
            assert x[3] == pytest.approx(y[3], rel=1e-12)
    # and the physical order is the same kd order in both paths
    oa = [r["key"] for r in a.points.select("key").collect()]
    ob = [r["key"] for r in b.points.select("key").collect()]
    assert oa == ob


def test_convex_refine_equals_raycast(spark):
    from linear_kdtree_spark.operators.pip import Polygon, point_in_polygons

    pts = _pts(spark, 6000, seed=3)
    idx = lkt_build(pts, max_depth=12, leaf_size=16, coord_type="double")
    def hull(points):
        # Andrew monotone chain — genuinely convex fixtures (sorted-angle
        # noisy circles are NOT convex; the convex path's contract demands
        # convexity, so the fixture must honor it)
        pts_sorted = sorted(map(tuple, points))

        def half(seq):
            out = []
            for p in seq:
                while len(out) >= 2 and (
                    (out[-1][0] - out[-2][0]) * (p[1] - out[-2][1])
                    - (out[-1][1] - out[-2][1]) * (p[0] - out[-2][0])
                ) <= 0:
                    out.pop()
                out.append(p)
            return out

        lower, upper = half(pts_sorted), half(reversed(pts_sorted))
        return lower[:-1] + upper[:-1]

    rng = np.random.default_rng(4)
    polys = []
    for pid in range(8):
        cx, cy = rng.uniform(20, 80, 2)
        m = rng.integers(5, 12)
        cloud = np.column_stack(
            [cx + rng.uniform(-12, 12, m), cy + rng.uniform(-12, 12, m)]
        )
        polys.append(Polygon(pid, hull(cloud)))
    a = sorted(tuple(r) for r in
               point_in_polygons(idx, polys, exact="convex").collect())
    b = sorted(tuple(r) for r in
               point_in_polygons(idx, polys, exact="raycast").collect())
    # boundary points may differ between formulations at float ulps; the
    # fixture draws continuous coordinates, so exact equality is expected
    assert a == b
    assert len(a) > 50


def test_knn_batch_brute_force_configs(spark):
    from linear_kdtree_spark.operators.knn import knn_batch
    from tests.oracle import brute_knn

    pts = _pts(spark, 5000, seed=9, clustered=True)
    ref = pts.toPandas()
    keys, px, py = (ref[c].to_numpy() for c in ("key", "x", "y"))
    for k, leaf in [(1, 4), (12, 64)]:
        idx = lkt_build(pts, max_depth=12, leaf_size=leaf, coord_type="double")
        rng = np.random.default_rng(k)
        qs = [(i, float(a), float(b))
              for i, (a, b) in enumerate(rng.uniform(-10, 110, (30, 2)))]
        qdf = spark.createDataFrame(qs, "query_id long, qx double, qy double")
        got = sorted((r["query_id"], r["rank"], r["key"])
                     for r in knn_batch(idx, qdf, k).collect())
        want = sorted(
            (qid, rank, key)
            for qid, qx, qy in qs
            for rank, (key, _) in enumerate(brute_knn(px, py, keys, qx, qy, k), 1)
        )
        assert got == want, (k, leaf)


def test_knn_planner_bound_and_cover_brute_force(spark):
    """The leaf-table kNN planner against brute force: for every query,
    r² is ≥ the exact k-th distance², and every point within that
    distance (each true neighbour, ties included) lies in the query's
    cover — on random, clustered and duplicate-coordinate data, queries
    inside and outside the data bbox, k larger than a leaf and k equal to
    the total. The scalar SplitTree methods give the same bound."""
    from linear_kdtree_spark.operators.tree import circle_cover, knn_seed

    rng = np.random.default_rng(5)
    q = np.vstack([
        rng.uniform(0, 100, (100, 2)),
        rng.uniform(-60, -10, (20, 2)),  # outside the data bbox
        rng.uniform(110, 160, (20, 2)),
    ])
    qx, qy = q[:, 0].copy(), q[:, 1].copy()
    dup = rng.uniform(0, 100, (40, 2))[rng.integers(0, 40, 3000)]
    datasets = {
        "random": _pts(spark, 3000, seed=21, clustered=False),
        "clustered": _pts(spark, 3000, seed=22),
        "duplicates": spark.createDataFrame(pd.DataFrame(
            {"key": np.arange(3000), "x": dup[:, 0], "y": dup[:, 1]})),
    }
    for name, pts in datasets.items():
        for leaf in (4, 64):
            idx = lkt_build(pts, max_depth=16, leaf_size=leaf)
            p = idx.points.select("x", "y", "sort_key").toPandas()
            px, py = p.x.to_numpy(np.float64), p.y.to_numpy(np.float64)
            sk = p.sort_key.to_numpy()
            L = idx.tree.leaves
            total = idx.tree.total_points
            for k in (1, 7, 100, total):  # 100 > any leaf at leaf_size 64
                _, r2 = knn_seed(qx, qy, L, k)
                qi, lo, hi = circle_cover(qx, qy, r2, L)
                for i in range(len(qx)):
                    d2 = (px - qx[i]) ** 2 + (py - qy[i]) ** 2
                    kth = np.partition(d2, k - 1)[k - 1]
                    assert r2[i] >= kth, (name, leaf, k, i)
                    sel = qi == i
                    near = sk[d2 <= kth]
                    at = np.searchsorted(lo[sel], near, side="right") - 1
                    assert (at >= 0).all() and (near < hi[sel][at]).all(), (
                        name, leaf, k, i)
                for i in range(0, len(qx), 35):
                    x, y = float(qx[i]), float(qy[i])
                    seed = idx.tree.knn_seed_node(x, y, k)
                    assert idx.tree.knn_r2_bound(x, y, seed) == r2[i]
