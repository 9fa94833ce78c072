"""Differential tests: independent code paths inside the engine must agree
exactly — the strongest cheap correctness evidence after the DuckDB gates.

- fused hybrid build (mapInPandas local finish) ≡ pure level-synchronous
  build, per strategy and coord type — the fused path's global-id
  remapping and single-shuffle ordering are exactly equivalent;
- convex half-plane refine ≡ general ray-cast refine on convex polygons,
  and a mixed polygon batch ≡ the serial PIP oracle through both polygon
  operators;
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


def _raycast_everything(monkeypatch):
    """Classify every polygon non-convex, so ``pip.refine`` sends convex
    polygons through the ray cast too."""
    from linear_kdtree_spark.functions import geometry
    from linear_kdtree_spark.operators import pip

    monkeypatch.setattr(
        pip, "ccw_edges", lambda v: (geometry.ccw_edges(v)[0], False))


def test_convex_refine_equals_raycast(spark, monkeypatch):
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
    a = sorted(tuple(r) for r in point_in_polygons(idx, polys).collect())
    _raycast_everything(monkeypatch)
    b = sorted(tuple(r) for r in point_in_polygons(idx, polys).collect())
    # near-boundary points may differ between formulations at float ulps;
    # the fixture draws continuous coordinates, so exact equality is
    # expected
    assert a == b
    assert len(a) > 50


def _integer_ngon(cx, cy, r, m):
    """A convex m-gon with integer vertices (CCW), so the midpoint of every
    edge lies exactly on it in double arithmetic."""
    ang = np.linspace(0.0, 2 * np.pi, m, endpoint=False)
    verts = [(float(round(cx + r * np.cos(a))), float(round(cy + r * np.sin(a))))
             for a in ang]
    for i in range(m):  # strictly convex after rounding
        (x0, y0), (x1, y1), (x2, y2) = (verts[(i + j) % m] for j in range(3))
        assert (x1 - x0) * (y2 - y1) - (y1 - y0) * (x2 - x1) > 0
    return verts


def _half_plane_brute(px, py, verts):
    """numpy: strictly left of every CCW edge (the convex refine's rule)."""
    inside = np.ones(len(px), dtype=bool)
    m = len(verts)
    for i in range(m):
        x1, y1 = verts[i]
        x2, y2 = verts[(i + 1) % m]
        inside &= (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1) > 0.0
    return inside


def _star(cx, cy, a, b):
    """A concave 4-pointed star, the shape of the ``pip_concave`` gate."""
    return [(cx + a, cy), (cx + b / 2, cy + b / 2), (cx, cy + a),
            (cx - b / 2, cy + b / 2), (cx - a, cy), (cx - b / 2, cy - b / 2),
            (cx, cy - a), (cx + b / 2, cy - b / 2)]


@pytest.fixture(scope="module")
def mixed_polygons(spark):
    """Over one index whose points include every vertex and every edge
    midpoint: three convex polygons first (a triangle, a 16-gon and a
    40-gon), then a concave star, a pentagram {5/2} (all five turns left,
    but it winds twice), a rectangle as a closed ring (its last vertex
    repeats the first), the same rectangle open, and the CLI's degenerate
    rectangle of ``x0 == x1``."""
    from linear_kdtree_spark.operators.pip import Polygon

    pent = [(1500 + round(300 * np.cos(np.pi / 2 + k * 4 * np.pi / 5)),
             2400 + round(300 * np.sin(np.pi / 2 + k * 4 * np.pi / 5)))
            for k in range(5)]
    rect = [(100.0, 1000.0), (600.0, 1000.0), (600.0, 1600.0), (100.0, 1600.0)]
    verts = {
        1: [(100.0, 100.0), (700.0, 150.0), (300.0, 800.0)],
        2: _integer_ngon(700, 2300, 400, 16),
        3: _integer_ngon(2000, 800, 700, 40),
        4: _star(2300.0, 2300.0, 400.0, 150.0),
        5: [(float(x), float(y)) for x, y in pent],
        6: rect + rect[:1],
        7: rect,
        8: [(800.0, 1000.0), (800.0, 1000.0), (800.0, 1600.0), (800.0, 1600.0)],
    }
    rng = np.random.default_rng(11)
    xy = [rng.uniform(0, 3000, (6000, 2))]
    boundary = []
    for vs in verts.values():
        a = np.asarray(vs)
        boundary += [a, (a + np.roll(a, -1, axis=0)) / 2]
    on_edge = np.concatenate(boundary)
    xy = np.concatenate(xy + [on_edge])
    n = len(xy)
    pts = spark.createDataFrame(
        pd.DataFrame({"key": np.arange(n), "x": xy[:, 0], "y": xy[:, 1]})
    )
    idx = lkt_build(pts, max_depth=14, leaf_size=16, coord_type="double")
    polys = [Polygon(pid, vs) for pid, vs in verts.items()]
    return idx, polys, xy, n - len(on_edge)


@pytest.mark.parametrize("unroll", [2, 16])
def test_convex_refine_mixed_edge_counts(spark, mixed_polygons, monkeypatch,
                                         unroll):
    """Polygons of 3, 16 and 40 edges in one call: the unrolled edges plus
    the forall over the rest (every polygon reaches it at unroll = 2, only
    the 40-gon at 16) equal a numpy half-plane brute force, points on an
    edge included (and excluded from the result), and equal the ray-cast
    refine, on-edge points included."""
    from linear_kdtree_spark.operators import pip
    from linear_kdtree_spark.operators.pip import point_in_polygons

    monkeypatch.setattr(pip, "UNROLL", unroll)
    idx, polys, xy, n_interior = mixed_polygons
    polys = polys[:3]
    got = {tuple(r) for r in point_in_polygons(idx, polys).collect()}
    want = {
        (p.poly_id, int(k))
        for p in polys
        for k in np.nonzero(_half_plane_brute(xy[:, 0], xy[:, 1], p.vertices))[0]
    }
    assert got == want
    assert all(k < n_interior for _, k in got)  # no vertex or edge point
    assert {pid for pid, _ in got} == {1, 2, 3}
    _raycast_everything(monkeypatch)
    assert got == {tuple(r) for r in point_in_polygons(idx, polys).collect()}


def test_convex_refine_runs_no_lambda(spark, mixed_polygons):
    """Up to 16 edges per polygon the executed join condition has no
    higher-order function: every half-plane test is generated code, not
    an interpreted lambda on each candidate."""
    from linear_kdtree_spark.operators.pip import point_in_polygons

    idx, polys, _, _ = mixed_polygons
    small = [p for p in polys[:3] if len(p.vertices) <= 16]
    plan = point_in_polygons(idx, small)._jdf \
        .queryExecution().executedPlan().toString()
    assert "HashJoin" in plan
    assert "lambdafunction" not in plan.lower()
    wide = point_in_polygons(idx, polys[:3])._jdf \
        .queryExecution().executedPlan().toString()
    assert "lambdafunction" in wide.lower()  # the 40-gon's tail


def _brute(xy, polys):
    """(poly_id, key) by the serial oracle: even-odd, on-edge excluded."""
    from tests.oracle import point_in_polygon

    out = set()
    for p in polys:
        xmin, ymin, xmax, ymax = p.bbox()
        near = np.nonzero((xy[:, 0] >= xmin) & (xy[:, 0] <= xmax)
                          & (xy[:, 1] >= ymin) & (xy[:, 1] <= ymax))[0]
        out |= {(p.poly_id, int(k)) for k in near
                if point_in_polygon(xy[k, 0], xy[k, 1], p.vertices)}
    return out


def test_pip_mixed_batch_equals_brute_force(spark, mixed_polygons):
    """Convex, concave, self-intersecting, closed-ring and degenerate
    polygons in one call: point_in_polygons and spatial_join_polygons
    both equal the oracle, which excludes every vertex and edge midpoint;
    the closed ring gives the open ring's rows, the degenerate rectangle
    none."""
    from linear_kdtree_spark.operators.pip import point_in_polygons
    from linear_kdtree_spark.operators.spatial_join import spatial_join_polygons

    idx, polys, xy, n_interior = mixed_polygons
    want = _brute(xy, polys)
    via_index = {tuple(r) for r in point_in_polygons(idx, polys).collect()}
    raw = idx.points.select("key", "x", "y")
    via_join = {tuple(r) for r in spatial_join_polygons(
        raw, polys, depth=6, bounds=(0.0, 0.0, 3000.0, 3000.0)).collect()}
    assert via_index == via_join == want
    assert all(k < n_interior for _, k in want)
    by_poly = {pid: {k for q, k in want if q == pid} for pid in range(1, 9)}
    assert all(by_poly[pid] for pid in range(1, 8))
    assert by_poly[6] == by_poly[7] and not by_poly[8]


def _python_evals(df) -> int:
    """Python UDF evaluation nodes in ``df``'s physical plan, planned but
    not run, so an adaptive plan prints it once. (A run one prints a final
    and an initial plan, and so does the cached index's own plan.)"""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("ArrowEvalPython") + plan.count("BatchEvalPython")


def test_pip_plans_python_only_for_the_raycast(spark, mixed_polygons):
    """An all-convex call plans no Python stage; a call with any other
    polygon plans exactly one, however many such polygons it has."""
    from linear_kdtree_spark.operators.pip import point_in_polygons
    from linear_kdtree_spark.operators.spatial_join import spatial_join_polygons

    idx, polys, _, _ = mixed_polygons
    raw = idx.points.select("key", "x", "y")
    for ps, want in ((polys[:3], 0), (polys, 1)):
        assert _python_evals(point_in_polygons(idx, ps)) == want
        assert _python_evals(spatial_join_polygons(
            raw, ps, depth=6, bounds=(0.0, 0.0, 3000.0, 3000.0))) == want


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
