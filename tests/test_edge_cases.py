"""Edge-case coverage: duplicate coordinates (kNN tie-breaks by key —
FIXTURES.md F5), polygon fully enclosing a cluster (F4), randomized build
invariants across seeds/strategies."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from linear_kdtree_spark.operators.build import lkt_build
from linear_kdtree_spark.operators.knn import knn
from linear_kdtree_spark.operators.pip import Polygon, point_in_polygons
from tests.oracle import build_oracle


def test_knn_duplicate_coordinates_tiebreak(spark):
    """Many points at identical coordinates: exact kNN must break ties by
    ascending key deterministically."""
    rows = [(i, 10.0, 10.0) for i in range(20)] + [
        (100 + i, 10.5, 10.0) for i in range(5)
    ] + [(200, 50.0, 50.0)]
    df = spark.createDataFrame(rows, "key long, x float, y float")
    idx = lkt_build(df, max_depth=10, strategy="mean", leaf_size=4)
    got = sorted(
        (r["rank"], r["key"]) for r in knn(idx, [(0, 10.0, 10.0)], k=7).collect()
    )
    # 7 nearest: all at distance 0 → keys 0..6 in key order
    assert [k for _, k in got] == [0, 1, 2, 3, 4, 5, 6]


def test_pip_polygon_enclosing_cluster(spark):
    rng = np.random.default_rng(21)
    cluster = rng.normal((30, 30), 0.5, (500, 2)).astype(np.float32)
    outside = rng.uniform(60, 90, (100, 2)).astype(np.float32)
    xy = np.vstack([cluster, outside])
    df = spark.createDataFrame(
        pd.DataFrame({"key": np.arange(len(xy)), "x": xy[:, 0], "y": xy[:, 1]})
    )
    idx = lkt_build(df, max_depth=12, strategy="mean", leaf_size=16)
    # big box strictly containing the whole cluster, none of the outside
    poly = Polygon(0, [(20.0, 20.0), (40.0, 20.0), (40.0, 40.0), (20.0, 40.0)])
    got = {r["key"] for r in point_in_polygons(idx, [poly]).collect()}
    expect = {
        int(i)
        for i in range(len(xy))
        if 20 < xy[i, 0] < 40 and 20 < xy[i, 1] < 40
    }
    assert got == expect
    assert len(got) >= 490  # virtually the whole cluster


@pytest.mark.parametrize("seed", [1, 7, 123])
def test_build_invariants_random_seeds(spark, seed):
    """Randomized invariant sweep (SURVEY.md §5.1): split-side invariant,
    contiguity, count conservation — hybrid build vs serial oracle."""
    rng = np.random.default_rng(seed)
    n = 1500
    x = rng.uniform(-180, 180, n).astype(np.float32)
    y = rng.uniform(-85, 85, n).astype(np.float32)
    # inject duplicates and a constant-x stripe (degenerate-split stress)
    x[:50] = x[0]
    y[:10] = y[0]
    df = spark.createDataFrame(
        pd.DataFrame({"key": np.arange(n), "x": x, "y": y})
    )
    strategy = ["mean", "median"][seed % 2]
    oracle = build_oracle(x, y, max_depth=8, strategy=strategy)
    idx = lkt_build(df, max_depth=8, strategy=strategy, local_threshold=500)
    got = {r["key"]: r for r in idx.points.collect()}
    for i in range(n):
        assert got[i]["node"] == oracle.node[i], (seed, i)
        assert got[i]["code"] == oracle.code[i], (seed, i)
        assert got[i]["sort_key"] == oracle.sort_key[i], (seed, i)
    n_splits = idx.splits.count()
    assert n_splits == len(oracle.splits)
    # count conservation at root
    if n_splits:
        root = idx.splits.filter(F.col("node_id") == 0).first()
        assert root["n_left"] + root["n_right"] == n
