"""Query operators vs brute-force oracles (SURVEY.md §5.3): kNN, PIP,
tiles, spatial join, radius join, raster — exact row-set equality."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from linear_kdtree_spark.functions.morton import tile_bounds
from linear_kdtree_spark.operators.build import lkt_build
from linear_kdtree_spark.operators.knn import knn
from linear_kdtree_spark.operators.pip import Polygon, point_in_polygons
from linear_kdtree_spark.operators.raster import rasterize, vectorize
from linear_kdtree_spark.operators.spatial_join import (
    radius_join,
    spatial_join_polygons,
)
from linear_kdtree_spark.operators.tile import assign_tiles_lkt, assign_tiles_morton
from tests.oracle import brute_knn, point_in_polygon

BOUNDS = (0.0, 0.0, 100.0, 100.0)


@pytest.fixture(scope="module")
def dataset():
    rng = np.random.default_rng(42)
    n = 4000
    # clustered + uniform mix (the skewed case)
    n_c = int(n * 0.7)
    centers = rng.uniform(10, 90, (12, 2))
    which = rng.integers(0, 12, n_c)
    cpts = centers[which] + rng.normal(0, 2.0, (n_c, 2))
    upts = rng.uniform(0, 100, (n - n_c, 2))
    xy = np.clip(np.vstack([cpts, upts]), 0, 99.999).astype(np.float32)
    keys = np.arange(n, dtype=np.int64)
    return keys, xy[:, 0], xy[:, 1]


@pytest.fixture(scope="module")
def index(spark, dataset):
    keys, x, y = dataset
    df = spark.createDataFrame(
        pd.DataFrame({"key": keys, "x": x, "y": y})
    )
    idx = lkt_build(df, max_depth=12, strategy="mean", leaf_size=8)
    idx.points = idx.points.persist()
    idx.points.count()
    return idx


def test_knn_exact(spark, index, dataset):
    keys, x, y = dataset
    rng = np.random.default_rng(7)
    queries = [
        (i, float(q[0]), float(q[1]))
        for i, q in enumerate(rng.uniform(0, 100, (40, 2)))
    ]
    k = 5
    got = knn(index, queries, k).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["key"], r["dist2"]))
    xf = x.astype(np.float64)
    yf = y.astype(np.float64)
    for qid, qx, qy in queries:
        d2 = (xf - qx) ** 2 + (yf - qy) ** 2
        order = np.lexsort((keys, d2))[:k]
        expect = [int(keys[i]) for i in order]
        rows = sorted(by_q[qid])
        assert [r[1] for r in rows] == expect, f"query {qid}"
        assert [r[0] for r in rows] == list(range(1, k + 1))


def test_knn_k_larger_than_dataset(spark, index, dataset):
    keys, x, y = dataset
    got = knn(index, [(0, 50.0, 50.0)], k=len(keys) + 10)
    assert got.count() == len(keys)


@pytest.mark.parametrize("k", [1, 50])
def test_knn_k_variants(spark, index, dataset, k):
    """FIXTURES.md F5: k=1 and k=50 against the brute-force oracle."""
    keys, x, y = dataset
    queries = [(0, 33.3, 66.6), (1, 99.0, 1.0), (2, 50.0, 50.0)]
    got = {}
    for r in knn(index, queries, k).collect():
        got.setdefault(r["query_id"], []).append((r["rank"], r["key"]))
    xf, yf = x.astype(np.float64), y.astype(np.float64)
    for qid, qx, qy in queries:
        d2 = (xf - qx) ** 2 + (yf - qy) ** 2
        order = np.lexsort((keys, d2))[:k]
        assert [kk for _, kk in sorted(got[qid])] == [int(keys[i]) for i in order]


def test_pip_exact(spark, index, dataset):
    keys, x, y = dataset
    rng = np.random.default_rng(11)
    polys = []
    for pid in range(8):
        cx, cy = rng.uniform(20, 80, 2)
        kgon = rng.integers(3, 9)
        radii = rng.uniform(3, 12, kgon)
        ang = np.sort(rng.uniform(0, 2 * np.pi, kgon))
        verts = [
            (float(cx + r * np.cos(a)), float(cy + r * np.sin(a)))
            for r, a in zip(radii, ang)
        ]
        polys.append(Polygon(pid, verts))
    # degenerate sliver triangle
    polys.append(Polygon(98, [(0.0, 0.0), (100.0, 0.001), (100.0, 0.002)]))

    got = {
        (r["poly_id"], r["key"])
        for r in point_in_polygons(index, polys).collect()
    }
    expect = set()
    for p in polys:
        for i in range(len(keys)):
            if point_in_polygon(float(x[i]), float(y[i]), p.vertices):
                expect.add((p.poly_id, int(keys[i])))
    assert got == expect


def test_spatial_join_matches_pip(spark, index, dataset):
    """Index-pruned PIP and tile-join PIP must agree row-for-row."""
    rng = np.random.default_rng(13)
    polys = []
    for pid in range(5):
        cx, cy = rng.uniform(20, 80, 2)
        verts = [
            (float(cx + 8 * np.cos(a)), float(cy + 8 * np.sin(a)))
            for a in np.linspace(0, 2 * np.pi, 6, endpoint=False)
        ]
        polys.append(Polygon(pid, verts))
    via_index = {
        (r["poly_id"], r["key"])
        for r in point_in_polygons(index, polys).collect()
    }
    raw = index.points.select("key", "x", "y")
    via_join = {
        (r["poly_id"], r["key"])
        for r in spatial_join_polygons(raw, polys, depth=6, bounds=BOUNDS).collect()
    }
    assert via_index == via_join


def test_radius_join_exact(spark, dataset):
    keys, x, y = dataset
    sub = 600
    df = spark.createDataFrame(
        pd.DataFrame({"key": keys[:sub], "x": x[:sub], "y": y[:sub]})
    )
    r = 1.5
    got = {
        (a, b)
        for a, b in radius_join(df, df, r, dedup_pairs=True)
        .select("a_key", "b_key")
        .collect()
    }
    xf = x[:sub].astype(np.float64)
    yf = y[:sub].astype(np.float64)
    expect = set()
    for i in range(sub):
        d2 = (xf - xf[i]) ** 2 + (yf - yf[i]) ** 2
        for j in np.flatnonzero(d2 < r * r):
            if i < j:
                expect.add((int(keys[i]), int(keys[j])))
    assert got == expect


def test_tiles_lkt_prefix(spark, index):
    """lkt tile at depth d = the point's node-path prefix — verify against
    sort_key prefix arithmetic."""
    d = 4
    rows = (
        assign_tiles_lkt(index, d)
        .join(index.points.select("key", "sort_key", "path_len", "node"), "key")
        .collect()
    )
    for r in rows:
        if r["path_len"] >= d:
            prefix = r["sort_key"] >> (index.tree.max_depth - d)
            assert r["tile"] == prefix + (1 << d) - 1
        else:
            assert r["tile"] == r["node"]


def test_morton_tiles_and_raster(spark, index, dataset):
    keys, x, y = dataset
    d = 5
    pts = index.points.select("key", "x", "y")
    got = {
        r["key"]: r["tile"]
        for r in assign_tiles_morton(pts, d, BOUNDS).select("key", "tile").collect()
    }
    nx = 1 << d
    scale = nx / 100.0  # same double ops as grid_cell_col
    for i in range(0, len(keys), 37):
        ix = min(int(np.floor((float(np.float32(x[i])) - 0.0) * scale)), nx - 1)
        iy = min(int(np.floor((float(np.float32(y[i])) - 0.0) * scale)), nx - 1)
        tile = 0
        for b in range(d):
            tile |= ((ix >> b) & 1) << (2 * b)
            tile |= ((iy >> b) & 1) << (2 * b + 1)
        assert got[int(keys[i])] == tile, i

    ras = rasterize(pts, d, bounds=BOUNDS)
    assert ras.agg(F.sum("n_points")).collect()[0][0] == len(keys)
    vec = vectorize(ras, d, bounds=BOUNDS).collect()
    for r in vec[:20]:
        xmin, ymin, xmax, ymax = tile_bounds(r["tile"], d, BOUNDS)
        assert (r["xmin"], r["ymin"], r["xmax"], r["ymax"]) == pytest.approx(
            (xmin, ymin, xmax, ymax)
        )


def test_knn_batch_matches_brute_force(spark, index, dataset):
    """The fully-distributed batch planner (mapInPandas seed/cover, no
    driver loop) must equal the numpy brute force — including tie ranks —
    over a query batch straddling clusters, edges and far-outside
    points."""
    from linear_kdtree_spark.operators.knn import knn_batch

    keys, x, y = dataset
    rng = np.random.default_rng(17)
    pts = np.vstack([
        rng.uniform(0, 100, (60, 2)),
        rng.uniform(-50, 160, (20, 2)),  # incl. outside the data bbox
    ])
    queries = [(i, float(p[0]), float(p[1])) for i, p in enumerate(pts)]
    k = 7
    qdf = spark.createDataFrame(queries, "query_id long, qx double, qy double")
    got = sorted(
        (r["query_id"], r["rank"], r["key"])
        for r in knn_batch(index, qdf, k).collect()
    )
    want = sorted(
        (qid, rank, key)
        for qid, qx, qy in queries
        for rank, (key, _) in enumerate(brute_knn(x, y, keys, qx, qy, k), 1)
    )
    assert got == want
    assert len(got) == len(pts) * k


def test_raster_pyramid_rollup(spark, dataset):
    """Every pyramid level must equal a direct rasterize at that depth,
    and level sums must all equal the point count (nothing dropped)."""
    from linear_kdtree_spark.operators.raster import rasterize, rasterize_pyramid

    keys, x, y = dataset
    pts = spark.createDataFrame(
        pd.DataFrame({"key": keys, "x": x.astype("float64"),
                      "y": y.astype("float64")})
    )
    pyr = rasterize_pyramid(pts, 4).collect()
    by_depth = {}
    for r in pyr:
        by_depth.setdefault(r["depth"], {})[r["tile"]] = r["n_points"]
    assert set(by_depth) == set(range(5))
    for d in range(5):
        assert sum(by_depth[d].values()) == len(keys), d
        direct = {r["tile"]: r["n_points"]
                  for r in rasterize(pts, d).collect()}
        assert by_depth[d] == direct, d
    assert by_depth[0] == {0: len(keys)}


def test_deinterleave_exact_above_2_53(spark):
    """Bit extraction from Z-order tiles must be exact integer arithmetic:
    a double-divide form loses low bits for tiles >= 2^53 (depth >= 27)."""
    from linear_kdtree_spark.operators.raster import _deinterleave

    d = 28
    # a tile in the upper id range with LSBs set (the bits a double loses)
    ix_ref = (1 << d) - 3
    iy_ref = (1 << (d - 1)) + 5
    tile = 0
    for b in range(d):
        tile |= ((ix_ref >> b) & 1) << (2 * b)
        tile |= ((iy_ref >> b) & 1) << (2 * b + 1)
    assert tile >= (1 << 53)
    row = (
        spark.range(1)
        .select(
            _deinterleave(F.lit(tile), d, odd=False).alias("ix"),
            _deinterleave(F.lit(tile), d, odd=True).alias("iy"),
        )
        .first()
    )
    assert (row["ix"], row["iy"]) == (ix_ref, iy_ref)


def test_interval_join_auto_broadcast_cap(spark):
    """interval_join only hints broadcast while the exploded interval side
    is small; a huge cover must leave the join strategy to Catalyst/AQE
    (review r5: the unconditional hint overrode the size threshold)."""
    import linear_kdtree_spark.operators.interval_join as ij

    pts = spark.range(100).select(
        F.col("id").alias("key"), F.col("id").alias("sort_key")
    )
    ivals = [(i, i, i + 1) for i in range(50)]
    small = ij.interval_join(pts, ivals, "poly_id long, lo long, hi long")
    assert "ResolvedHint (strategy=broadcast)" in small._jdf.queryExecution().logical().toString()
    forced = ij.interval_join(
        pts, ivals, "poly_id long, lo long, hi long", broadcast=False
    )
    # no HINT — Catalyst/AQE may still pick broadcast for a tiny side,
    # but nothing overrides autoBroadcastJoinThreshold for a huge one
    assert "ResolvedHint" not in forced._jdf.queryExecution().logical().toString()
    assert small.count() == forced.count() == 50
    # the auto cap: a cover past BROADCAST_ROW_CAP rows gets no hint
    assert ij.BROADCAST_ROW_CAP >= 1000


def test_grid_cell_null_coordinates_stay_null(spark):
    """NULL coordinates must map to a NULL tile, not the corner cell
    (Spark's greatest/least skip nulls — review r5)."""
    from linear_kdtree_spark.functions.morton import grid_cell_col, morton_tile_col

    df = spark.createDataFrame(
        [(0, None, 5.0), (1, 5.0, None), (2, 5.0, 5.0)],
        "key long, x double, y double",
    )
    out = {r["key"]: (r["cx"], r["tile"]) for r in df.select(
        "key",
        grid_cell_col(F.col("x"), 0.0, 10.0, 4).alias("cx"),
        morton_tile_col(F.col("x"), F.col("y"), 4, (0.0, 0.0, 10.0, 10.0)).alias("tile"),
    ).collect()}
    assert out[0] == (None, None)
    assert out[1][1] is None
    assert out[2][0] == 8 and out[2][1] is not None
