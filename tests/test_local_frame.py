"""Driver-side tables as Arrow LocalRelations (``session.local_frame``):
types and rows survive, the library's plans read no Python-built RDD, the
payload-aware interval broadcast, and the applicationId-keyed memos."""

import ast
import os

import numpy as np
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import linear_kdtree_spark
from linear_kdtree_spark.functions.murmur import partition_tokens, verify_tokens
from linear_kdtree_spark.operators.build import SPLITS_SCHEMA, lkt_build
from linear_kdtree_spark.operators.knn import knn
from linear_kdtree_spark.operators.pip import Polygon, point_in_polygons
from linear_kdtree_spark.oracle import point_in_polygon
from linear_kdtree_spark.session import local_frame

EDGES = "array<struct<x1:double,y1:double,dx:double,dy:double>>"


def optimized(df: DataFrame) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.fixture(scope="module")
def dataset():
    rng = np.random.default_rng(7)
    n = 3000
    xy = rng.uniform(0, 100, (n, 2)).astype(np.float32)
    return np.arange(n, dtype=np.int64), xy[:, 0], xy[:, 1]


@pytest.fixture(scope="module")
def index(spark, dataset):
    keys, x, y = dataset
    pts = local_frame(
        spark,
        [(int(k), float(a), float(b)) for k, a, b in zip(keys, x, y)],
        "key long, x float, y float",
    )
    idx = lkt_build(pts, max_depth=16, strategy="mean", leaf_size=4)
    idx.points = idx.points.persist()
    idx.points.count()
    return idx


@pytest.mark.parametrize(
    "rows, schema",
    [
        ([(0, 1, 0, 0.5, 3, 4, 1, 2), (1, 2, 1, -1.25, 1, 2, 3, 4)], SPLITS_SCHEMA),
        (
            [(7, [(0.0, 1.0, 2.0, 3.0), (4.0, 5.0, 6.0, 7.0)], 3, 9),
             (8, [], 0, 1)],
            f"poly_id long, edges {EDGES}, lo long, hi long",
        ),
        ([(1, [0.5, -2.25, 3.0]), (2, [])], "cell long, c_embedding array<float>"),
        ([(1, None, True), (2, 3.5, None)], "k long, v double, f boolean"),
        ([], "poly_id long, key long, x double, y double"),
    ],
)
def test_local_frame_matches_create_dataframe(spark, rows, schema):
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    plan = optimized(got)
    assert "LocalRelation" in plan and "LogicalRDD" not in plan


def test_local_frame_keeps_nullability(spark):
    got = local_frame(spark, [(0, 1, 0, 0.5, 3, 4, 1, 2)], SPLITS_SCHEMA)
    assert got.schema == SPLITS_SCHEMA
    assert not any(f.nullable for f in got.schema.fields)


def test_library_plans_read_no_python_rdd(spark, index, monkeypatch):
    """PIP (convex and ray-cast), interval_join, knn over a list and the
    token check plan a LocalRelation and no LogicalRDD: none of them runs
    a Python job to read its driver-side table."""
    from linear_kdtree_spark.operators.interval_join import interval_join

    polys = [
        Polygon(1, [(20.0, 20.0), (60.0, 25.0), (40.0, 70.0)]),
        Polygon(2, [(70.0, 70.0), (90.0, 70.0), (90.0, 90.0), (70.0, 90.0)]),
    ]
    ivals = [(1, 0, 1 << 10), (2, 1 << 12, 1 << 14)]
    frames = {
        "pip_convex": point_in_polygons(index, polys, exact="convex"),
        "pip_raycast": point_in_polygons(index, polys),
        "interval_join": interval_join(
            index.points, ivals, "poly_id long, lo long, hi long",
            max_depth=index.max_depth,
        ),
        "knn_list": knn(index, [(0, 50.0, 50.0), (1, 10.0, 90.0)], 3),
    }
    for name, df in frames.items():
        plan = optimized(df)
        assert "LocalRelation" in plan, name
        assert "LogicalRDD" not in plan, name

    collected = []
    cls = type(spark.range(1))  # the concrete (classic) DataFrame class
    real_collect = cls.collect

    def spy(self):
        collected.append(optimized(self))
        return real_collect(self)

    monkeypatch.setattr(cls, "collect", spy)
    assert verify_tokens(spark, partition_tokens(8))
    assert len(collected) == 1
    assert "LocalRelation" in collected[0] and "LogicalRDD" not in collected[0]


def test_wide_convex_cover_plans_a_shuffle_join(spark, index, dataset):
    """A convex polygon of 10^5 vertices carries ~3.2 MB of edges on every
    interval row: interval_join must size the broadcast by payload, not by
    row count, and plan a shuffle join (Catalyst's own estimate for a
    LocalRelation counts one element per array and would broadcast it).
    A 7-gon over the same cover still broadcasts."""
    from linear_kdtree_spark.operators.interval_join import choose_shift

    keys, x, y = dataset
    m = 100_000
    cx, cy, r = 50.0, 50.0, 6.0
    ang = np.linspace(0.0, 2 * np.pi, m, endpoint=False)
    verts = [(float(cx + r * np.cos(a)), float(cy + r * np.sin(a))) for a in ang]
    poly = Polygon(5, verts)

    xmin, ymin, xmax, ymax = poly.bbox()
    cover = index.tree.ranges_for_bbox(xmin, ymin, xmax, ymax)
    shift = choose_shift(cover, index.max_depth)
    replicated = sum(((hi - 1) >> shift) - (lo >> shift) + 1 for lo, hi in cover)
    threshold = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    assert replicated * m * 32 > threshold  # the case under test

    out = point_in_polygons(index, [poly], exact="convex")
    physical = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in physical
    assert "BroadcastExchange" not in physical
    got = {r["key"] for r in out.collect()}

    near = np.nonzero((x - cx) ** 2 + (y - cy) ** 2 < (r + 0.1) ** 2)[0]
    want = {int(keys[i]) for i in near
            if point_in_polygon(float(x[i]), float(y[i]), verts)}
    assert got == want and want

    # a 7-gon inscribed in the same circle: same cover, still broadcast
    few = Polygon(6, verts[:: m // 6])
    small = point_in_polygons(index, [few], exact="convex")
    assert "BroadcastHashJoin" in small._jdf.queryExecution().executedPlan().toString()


def test_memos_drop_stopped_sessions(spark):
    import linear_kdtree_spark.operators.build as build
    import linear_kdtree_spark.operators.dedup as dedup

    stale = ("app-stopped-0000", 4)
    build._TOKEN_CACHE[stale] = [0, 1, 2, 3]
    build._verified_tokens(spark, 13)
    assert stale not in build._TOKEN_CACHE
    assert (spark.sparkContext.applicationId, 13) in build._TOKEN_CACHE

    stale = ("app-stopped-0000", 123, 4)
    dedup._WIDEN_PROBE_CACHE[stale] = 1
    dedup.widen_partitions(spark.range(17).withColumn("v", F.col("id") * 3))
    assert stale not in dedup._WIDEN_PROBE_CACHE
    app = spark.sparkContext.applicationId
    assert any(k[0] == app for k in dedup._WIDEN_PROBE_CACHE)


# the two writers that infer a schema from lineage dicts; an explicit
# schema there could reorder the columns of persisted tables
_LINEAGE_WRITERS = {
    ("sources/catalog.py", "save_index"),
    ("plans/lineage.py", "write_lineage"),
}


class _CreateDataFrameCalls(ast.NodeVisitor):
    """(innermost enclosing function or None, line) of every
    ``<anything>.createDataFrame(...)`` call."""

    def __init__(self):
        self.scope = [None]
        self.found = []

    def visit_FunctionDef(self, node):
        self.scope.append(node.name)
        self.generic_visit(node)
        self.scope.pop()

    visit_AsyncFunctionDef = visit_FunctionDef

    def visit_Call(self, node):
        if isinstance(node.func, ast.Attribute) and node.func.attr == "createDataFrame":
            self.found.append((self.scope[-1], node.lineno))
        self.generic_visit(node)


def test_no_create_dataframe_outside_local_frame():
    """``createDataFrame(list)`` is parallelize + a Python identity map:
    a job on Python workers every time the table is read. Library code
    goes through ``session.local_frame``."""
    root = os.path.dirname(linear_kdtree_spark.__file__)
    allowed = {("session.py", "local_frame")} | _LINEAGE_WRITERS
    seen, bad = set(), []
    for dirpath, _dirs, files in os.walk(root):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            rel = os.path.relpath(path, root)
            with open(path) as f:
                calls = _CreateDataFrameCalls()
                calls.visit(ast.parse(f.read(), rel))
            for fn, line in calls.found:
                seen.add((rel, fn))
                if (rel, fn) not in allowed:
                    bad.append(f"{rel}:{line} in {fn}")
    assert not bad, f"createDataFrame outside session.local_frame: {bad}"
    assert seen == allowed  # the scan sees the calls it allows
