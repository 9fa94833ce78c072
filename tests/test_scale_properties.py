"""Scale-behavior properties: salting correctness, range-partition balance
under skew, parquet filter pushdown on sort_key, no Python in the build
plan — the 'would this survive 100×' assertions (SURVEY.md §4.1/§4.3)."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from linear_kdtree_spark.operators.build import lkt_build
from linear_kdtree_spark.operators.spatial_join import (
    replicate_salted,
    salt_tiles,
)
from linear_kdtree_spark.operators.tile import assign_tiles_morton
from linear_kdtree_spark.plans.lineage import skew_stats


def _skewed_points(spark, n=20000, seed=9):
    """90% of points in one city — a deliberately hot tile."""
    rng = np.random.default_rng(seed)
    n_hot = int(n * 0.9)
    hot = rng.normal(loc=(10.0, 20.0), scale=0.3, size=(n_hot, 2))
    cold = rng.uniform(-170, 170, size=(n - n_hot, 2))
    xy = np.vstack([hot, cold]).astype(np.float32)
    return spark.createDataFrame(
        pd.DataFrame({"key": np.arange(n), "x": xy[:, 0], "y": np.clip(xy[:, 1], -85, 85)})
    )


def test_salted_join_equals_unsalted(spark):
    pts = _skewed_points(spark, 5000)
    tiled = assign_tiles_morton(pts, 4).select("key", "tile")
    dim = tiled.groupBy("tile").count().select("tile", F.col("count").alias("n"))

    plain = tiled.join(dim, "tile").select("key", "n")

    hot = [
        r["tile"]
        for r in tiled.groupBy("tile").count().filter(F.col("count") > 500).collect()
    ]
    n_salt = 8
    salted_big = salt_tiles(tiled, "tile", hot, n_salt)
    salted_dim = replicate_salted(
        dim.withColumn("key", F.lit(0)), "tile", hot, n_salt
    ).drop("key")
    salted = salted_big.join(salted_dim, "tile").select("key", "n")

    assert plain.exceptAll(salted).count() == 0
    assert salted.exceptAll(plain).count() == 0
    # hot tile really split across salts
    per_key = salted_big.filter(
        F.col("tile").isin([t * n_salt + s for t in hot for s in range(n_salt)])
    )
    n_buckets = per_key.select("tile").distinct().count()
    assert n_buckets > len(hot)


def test_range_partitions_balanced_under_skew(spark):
    """repartitionByRange balances ROW COUNTS even when the value
    distribution is extremely skewed — the property the build relies on."""
    pts = _skewed_points(spark, 20000)
    idx = lkt_build(pts, max_depth=16, strategy="mean", leaf_size=64,
                    num_partitions=8)
    idx.points = idx.points.persist()
    idx.points.count()
    stats = skew_stats(idx.points)
    assert stats["rows"] == 20000
    assert stats["skew_ratio"] < 2.5, stats


def test_parquet_pushdown_on_sort_key(spark, tmp_path):
    pts = _skewed_points(spark, 5000)
    idx = lkt_build(pts, max_depth=12, strategy="mean", leaf_size=32)
    path = str(tmp_path / "idx_points")
    idx.points.write.parquet(path)
    scan = spark.read.parquet(path).filter(
        (F.col("sort_key") >= 12345) & (F.col("sort_key") < 99999999)
    )
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(sort_key" in plan


def test_build_plan_has_no_python(spark):
    # pure level-synchronous path: Python-free plan, terminal range shuffle
    pts = _skewed_points(spark, 2000)
    idx = lkt_build(pts, max_depth=8, strategy="mean", leaf_size=32,
                    local_threshold=0)
    plan = idx.points._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan  # Batch/ArrowEvalPython = Python in plan
    assert "rangepartitioning(sort_key" in plan


def test_fused_build_plan_single_shuffle(spark):
    """Hybrid path: the ONLY full-data shuffle is the driver-planned
    hash partition (murmur token routing — NO range-sampling pass at all)
    feeding the fused local finish, which emits the final kd-ordered
    table directly (no terminal sort exchange, no scalar-UDF Python)."""
    pts = _skewed_points(spark, 2000)
    idx = lkt_build(pts, max_depth=8, strategy="mean", leaf_size=32)
    plan = idx.points._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    assert "rangepartitioning" not in plan  # no sampling scan anywhere
    assert "hashpartitioning(_tok" in plan
    assert "Sort" not in plan.split("MapInPandas")[0]  # no post-pass sort
    # global kd order must still hold: ascending sort_key across the
    # partition sequence
    parts = idx.points.select("sort_key").rdd.glom().collect()
    flat = [v["sort_key"] for part in parts for v in part]
    assert flat == sorted(flat)


def test_fused_build_range_fallback(spark, monkeypatch):
    """When the murmur tokens fail verification the fused pass routes its
    subtrees with ``repartitionByRange(sort_key)`` instead, and builds the
    same index: same points, splits and leaves, each partition one
    contiguous ``sort_key`` range in ``(sort_key, key)`` order."""
    import linear_kdtree_spark.operators.build as build

    pts = _skewed_points(spark, 4000)
    args = dict(max_depth=12, strategy="mean", leaf_size=16,
                num_partitions=4, local_threshold=300)
    want = lkt_build(pts, **args)
    monkeypatch.setattr(build, "_verified_tokens", lambda spark, n: None)
    got = lkt_build(pts, **args)

    plan = got.points._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning(sort_key" in plan
    assert "hashpartitioning(_tok" not in plan
    assert sorted(map(tuple, got.points.collect())) == sorted(
        map(tuple, want.points.collect())
    )
    for table in ("splits", "leaves"):
        for c, v in getattr(want.tree, table).items():
            assert np.array_equal(getattr(got.tree, table)[c], v), (table, c)
    parts = [
        [(r["sort_key"], r["key"]) for r in part]
        for part in got.points.select("sort_key", "key").rdd.glom().collect()
    ]
    assert sum(1 for p in parts if p) > 1
    # ascending across the partition sequence: each is one ordered range
    flat = [v for p in parts for v in p]
    assert flat == sorted(flat)


def test_interval_join_matches_theta_join(spark):
    from linear_kdtree_spark.operators.interval_join import interval_join

    pts = _skewed_points(spark, 3000)
    idx = lkt_build(pts, max_depth=12, strategy="mean", leaf_size=16)
    intervals = []
    # synthesize assorted intervals incl. degenerate and whole-range
    md = idx.tree.max_depth
    intervals = [
        (0, 0, 1 << md),
        (1, 123456, 123456),  # empty (hi == lo) — must yield nothing
        (2, 1 << (md - 3), 3 << (md - 3)),
        (3, (1 << md) - 1000, 1 << md),
    ]
    got = (
        interval_join(idx.points, intervals, "iid long, lo long, hi long",
                      max_depth=md)
        .groupBy("iid").count().collect()
    )
    got = {r["iid"]: r["count"] for r in got}
    rows = idx.points.select("sort_key").collect()
    sks = [r["sort_key"] for r in rows]
    for iid, lo, hi in [(0, 0, 1 << md), (1, 123456, 123456),
                        (2, 1 << (md - 3), 3 << (md - 3)),
                        (3, (1 << md) - 1000, 1 << md)]:
        expect = sum(1 for s in sks if lo <= s < hi)
        assert got.get(iid, 0) == expect, iid


def test_pip_convex_plan_single_join(spark):
    """Convex PIP refine rides the pruning equi-join itself (r6): the
    edge arrays travel on the interval rows, so the executed plan has
    exactly ONE join — no second broadcast join on poly_id after the
    interval pruning, and no Python anywhere."""
    from linear_kdtree_spark.operators.pip import Polygon, point_in_polygons

    pts = _skewed_points(spark, 4000)
    idx = lkt_build(pts, max_depth=10, strategy="mean", leaf_size=32)
    polys = [
        Polygon(0, [(0.0, 10.0), (20.0, 10.0), (20.0, 30.0), (0.0, 30.0)]),
        Polygon(1, [(-60.0, -40.0), (-20.0, -40.0), (-40.0, 0.0)]),
    ]
    out = point_in_polygons(idx, polys)
    out.count()  # let AQE finalize the executed plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan and "MapInPandas" not in plan.split(
        "InMemoryRelation"
    )[0]
    n_joins = sum(plan.count(j) for j in
                  ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
                   "BroadcastNestedLoopJoin", "CartesianProduct"))
    # the index build below the InMemoryRelation boundary is not re-planned
    # here; the query side above it must contain exactly the bucket join
    assert n_joins == 1, plan
