"""Distributed build ↔ serial oracle parity (SURVEY.md §5.2: node-for-node,
row-for-row) plus label-UDF and node-transform consistency."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from linear_kdtree_spark.functions.morton import (
    code_from_node,
    path_len_from_node,
    sort_key_from_node,
    with_derived_cols,
)
from linear_kdtree_spark.operators.build import lkt_build
from linear_kdtree_spark.operators.codes import attach_labels
from linear_kdtree_spark.oracle import build_oracle
from tests.conftest import F3_EXPECTED, F3_POINTS, F3_SPLITS


def _points_df(spark, keys, x, y):
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame({"key": keys, "x": x.astype("float32"), "y": y.astype("float32")})
    )


@pytest.fixture(scope="module")
def random_points():
    rng = np.random.default_rng(42)
    n = 5000
    return (
        np.arange(n, dtype=np.int64),
        rng.uniform(0, 100, n).astype(np.float32),
        rng.uniform(0, 100, n).astype(np.float32),
    )


def test_build_f3_exact(spark):
    keys = np.array([p[0] for p in F3_POINTS])
    x = np.array([p[1] for p in F3_POINTS], dtype=np.float32)
    y = np.array([p[2] for p in F3_POINTS], dtype=np.float32)
    idx = lkt_build(_points_df(spark, keys, x, y), strategy="mean")

    splits = {r["node_id"]: r for r in idx.splits.collect()}
    assert set(splits) == set(F3_SPLITS)
    for nid, (depth, axis, value) in F3_SPLITS.items():
        r = splits[nid]
        assert (r["depth"], r["axis"], r["value"]) == (depth, axis, value)
    assert splits[0]["n_left"] == 4 and splits[0]["n_right"] == 4

    rows = idx.points.orderBy("sort_key", "key").collect()
    assert [r["key"] for r in rows] == [7, 2, 1, 4, 0, 3, 6, 5]
    for r in rows:
        code, _sk3 = F3_EXPECTED[r["key"]]
        assert r["code"] == code
        assert r["path_len"] == 3


@pytest.mark.parametrize(
    ("strategy", "local_threshold"),
    [
        ("median", 0),      # pure level-synchronous distributed path
        ("mean", 700),      # hybrid: ~3 distributed levels, then local
        ("median", 700),    # hybrid with bit-exact median splits
    ],
)
def test_build_matches_oracle(spark, random_points, strategy, local_threshold):
    keys, x, y = random_points
    max_depth = 10
    oracle = build_oracle(x, y, max_depth=max_depth, strategy=strategy)
    idx = lkt_build(
        _points_df(spark, keys, x, y),
        max_depth=max_depth,
        strategy=strategy,
        local_threshold=local_threshold,
    )

    # splits: node-for-node
    got = {r["node_id"]: r for r in idx.splits.collect()}
    assert set(got) == set(oracle.splits)
    for nid, s in oracle.splits.items():
        g = got[nid]
        assert g["depth"] == s.depth and g["axis"] == s.axis
        if strategy == "median":
            assert g["value"] == s.value  # data value → bit-exact
        else:
            assert g["value"] == pytest.approx(s.value, rel=1e-12)
        assert (g["n_left"], g["n_right"]) == (s.n_left, s.n_right)

    # points: row-for-row codes / nodes / sort keys
    rows = idx.points.select("key", "code", "node", "path_len", "sort_key").collect()
    assert len(rows) == len(keys)
    by_key = {r["key"]: r for r in rows}
    for i, k in enumerate(keys):
        r = by_key[int(k)]
        assert r["code"] == oracle.code[i]
        assert r["node"] == oracle.node[i]
        assert r["path_len"] == oracle.path_len[i]
        assert r["sort_key"] == oracle.sort_key[i]


def test_label_udf_matches_build(spark, random_points):
    keys, x, y = random_points
    idx = lkt_build(_points_df(spark, keys, x, y), max_depth=10, strategy="median")
    raw = _points_df(spark, keys, x, y)
    labelled = attach_labels(raw, idx.tree, max_depth=10)
    joined = (
        labelled.alias("l")
        .join(idx.points.alias("b"), "key")
        .select(
            "key",
            (F.col("l.code") == F.col("b.code")).alias("code_ok"),
            (F.col("l.node") == F.col("b.node")).alias("node_ok"),
            (F.col("l.sort_key") == F.col("b.sort_key")).alias("sk_ok"),
        )
    )
    bad = joined.filter(~(F.col("code_ok") & F.col("node_ok") & F.col("sk_ok"))).count()
    assert bad == 0


def _derived_node_df(spark):
    nodes = list(range(0, 4096)) + [(1 << d) - 1 for d in range(1, 33)] + [
        (1 << 32) - 2, (1 << 33) - 2,
    ]
    return spark.createDataFrame([(n,) for n in nodes], "node long"), nodes


def test_with_derived_cols_equal_reference_exprs(spark):
    """Branch-free projection chain == didactic per-bit expressions for
    every node id up to depth 32."""
    df, nodes = _derived_node_df(spark)
    for md in (8, 24, 32):
        ok_nodes = [n for n in nodes if (n + 2).bit_length() - 1 <= md]
        sub = with_derived_cols(df.filter(F.col("node").isin(ok_nodes)), md)
        assert sub.columns == ["node", "path_len", "code", "sort_key"]
        out = sub.select(
            "path_len",
            "code",
            "sort_key",
            path_len_from_node(F.col("node"), md).alias("p1"),
            code_from_node(F.col("node"), md).alias("c1"),
            sort_key_from_node(F.col("node"), md).alias("s1"),
        )
        bad = out.filter(
            (F.col("p1") != F.col("path_len"))
            | (F.col("c1") != F.col("code"))
            | (F.col("s1") != F.col("sort_key"))
        ).count()
        assert bad == 0, md


def test_with_derived_cols_plan_stays_small(spark):
    """Each bit step reads its input twice: if the optimizer inlined the
    chain back into one expression (e.g. under
    spark.sql.optimizer.collapseProjectAlwaysInline) the plan would hold
    thousands of copies of ``node`` (~78 KB at max_depth 24) and every
    build would pay seconds of driver-side optimization and codegen."""
    df, _ = _derived_node_df(spark)
    plan = with_derived_cols(df, 24)._jdf.queryExecution().optimizedPlan()
    assert len(plan.toString()) < 8192


def test_aggregate_over_derived_cols(spark):
    """An aggregate directly over the three derived columns compiles and
    runs (the single-expression form failed codegen with IllegalAccessError
    in a generated hashAgg nested class) and sums to the pure-int values."""
    from linear_kdtree_spark.operators.build import _node_prefix

    md = 24
    n = 5000
    d = with_derived_cols(spark.range(0, n).withColumnRenamed("id", "node"), md)
    row = d.agg(
        F.sum("path_len").alias("p"), F.sum("code").alias("c"),
        F.sum("sort_key").alias("s"),
    ).collect()[0]
    want = [_node_prefix(g, md) for g in range(n)]
    assert (row.p, row.c, row.s) == (
        sum(w[0] for w in want), sum(w[1] for w in want),
        sum(w[3] for w in want),
    )


def test_node_transform_exprs(spark, random_points):
    """code/sort_key derived from the heap node id alone must equal the
    values accumulated during the build (functions/morton.py)."""
    keys, x, y = random_points
    idx = lkt_build(_points_df(spark, keys, x, y), max_depth=10, strategy="median")
    df = idx.points.select(
        "code",
        "sort_key",
        "path_len",
        code_from_node(F.col("node"), idx.max_depth).alias("code2"),
        sort_key_from_node(F.col("node"), idx.max_depth).alias("sort_key2"),
        path_len_from_node(F.col("node"), idx.max_depth).alias("plen2"),
    )
    bad = df.filter(
        (F.col("code") != F.col("code2"))
        | (F.col("sort_key") != F.col("sort_key2"))
        | (F.col("path_len") != F.col("plen2"))
    ).count()
    assert bad == 0


def test_build_all_duplicate_points(spark):
    """Degenerate input: identical coordinates → no splits, single leaf."""
    keys = np.arange(16)
    x = np.full(16, 5.0, dtype=np.float32)
    y = np.full(16, 5.0, dtype=np.float32)
    idx = lkt_build(_points_df(spark, keys, x, y), strategy="mean")
    assert idx.splits.count() == 0
    rows = idx.points.collect()
    assert all(r["node"] == 0 and r["code"] == 0 and r["sort_key"] == 0 for r in rows)


def test_build_leaf_size_bounds_tree(spark, random_points):
    keys, x, y = random_points
    idx = lkt_build(
        _points_df(spark, keys, x, y), max_depth=32, strategy="mean", leaf_size=200
    )
    # every split node's children hold > leaf_size/2 … parent held > 200
    for r in idx.splits.collect():
        assert r["n_left"] + r["n_right"] > 200
    # and the tree stays small: n / leaf_size bound
    assert idx.splits.count() <= 2 * len(keys) // 200


def test_fused_build_records_leaf_granular_bounds(spark):
    """The fused local finish must ship per-split bboxes into
    tree.node_bounds — without them the kNN radius bound degrades to the
    handoff-threshold region size (r4 regression: 53M candidates for 40
    queries). Bounds must extend well past the distributed levels and
    be exact data bboxes."""
    import numpy as np
    import pandas as pd

    from linear_kdtree_spark.operators.build import lkt_build
    from linear_kdtree_spark.operators.tree import node_depth

    rng = np.random.default_rng(31)
    n = 20_000
    df = spark.createDataFrame(pd.DataFrame({
        "key": np.arange(n),
        "x": rng.normal(50, 10, n).astype(np.float64),
        "y": rng.normal(50, 10, n).astype(np.float64),
    }))
    idx = lkt_build(df, max_depth=16, strategy="mean", leaf_size=64,
                    local_threshold=5_000)
    depths = [node_depth(nid) for nid in idx.tree.node_bounds]
    # distributed phase stops at ~log2(n/threshold) = 2 levels; local
    # splits must contribute bounds at leaf depth (64-point leaves at
    # depth ~8)
    assert max(depths) >= 6, sorted(set(depths))
    # spot-check exactness: a recorded deep node's bbox contains exactly
    # its subtree's points
    pts = idx.points.toPandas()
    deep = max(idx.tree.node_bounds, key=node_depth)
    from linear_kdtree_spark.operators.tree import node_interval

    lo, hi = node_interval(deep, idx.tree.max_depth)
    sub = pts[(pts.sort_key >= lo) & (pts.sort_key < hi)]
    xmin, xmax, ymin, ymax = idx.tree.node_bounds[deep]
    assert len(sub) > 0
    assert np.isclose(sub.x.min(), xmin) and np.isclose(sub.x.max(), xmax)
    assert np.isclose(sub.y.min(), ymin) and np.isclose(sub.y.max(), ymax)
