"""Distributed build ↔ serial oracle parity (SURVEY.md §5.2: node-for-node,
row-for-row) plus label-UDF and node-transform consistency."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from linear_kdtree_spark.functions.morton import with_derived_cols
from linear_kdtree_spark.operators.build import lkt_build
from linear_kdtree_spark.operators.codes import attach_labels
from tests.conftest import F3_EXPECTED, F3_POINTS, F3_SPLITS
from tests.oracle import build_oracle, node_bits


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
    labelled = attach_labels(raw, idx.tree)
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


@pytest.mark.parametrize("coord_type, node_3", [("double", 1), ("float", 2)])
def test_labels_compare_in_index_coord_type(spark, coord_type, node_3):
    """The tree carries its coord_type: labels and ``leaf_for`` cast new
    points to it before comparing, as the build did. Key 3's x is
    0.1 - 1e-12; the root split (the mean x) is 0.09999999999975 in double,
    which key 3 lies below, and 0.1f in float, where key 3 rounds to 0.1f
    and goes right."""
    pts = spark.createDataFrame(
        [(0, 0.0, 0.0), (1, 0.0, 0.0), (2, 0.3, 0.0), (3, 0.1 - 1e-12, 0.0)],
        "key long, x double, y double",
    )
    idx = lkt_build(pts, max_depth=1, coord_type=coord_type, local_threshold=0)
    built = {r["key"]: r["node"] for r in idx.points.collect()}
    assert built == {0: 1, 1: 1, 2: 2, 3: node_3}
    labelled = attach_labels(pts, idx.tree).collect()
    assert {r["key"]: r["node"] for r in labelled} == built
    assert all(idx.tree.leaf_for(r["x"], r["y"]) == r["node"] for r in labelled)


@pytest.mark.parametrize("max_depth", [3, 6])
def test_level_loop_reads_source_once(spark, max_depth):
    """A level-synchronous build reads its source once: a level cache is
    freed only after a scan has materialized the next one, so no later
    scan recomputes the levels from the source."""
    n = 4000
    scanned = spark.sparkContext.accumulator(0)

    @F.udf("double")
    def counted(v):
        scanned.add(1)
        return v

    src = spark.range(n).select(
        F.col("id").alias("key"),
        counted((F.col("id") * 7919 % 4001).cast("double")).alias("x"),
        (F.col("id") * 104729 % 3989).cast("double").alias("y"),
    )
    idx = lkt_build(src, max_depth=max_depth, leaf_size=1, local_threshold=0)
    idx.points.unpersist()
    assert scanned.value / n == 1


def _derived_node_df(spark):
    nodes = list(range(0, 4096)) + [(1 << d) - 1 for d in range(1, 33)] + [
        (1 << 32) - 2, (1 << 33) - 2,
    ]
    return spark.createDataFrame([(n,) for n in nodes], "node long"), nodes


def test_with_derived_cols_equal_reference_exprs(spark):
    """Branch-free projection chain == the per-bit definition
    (tests/oracle.node_bits) for every node id up to depth 32."""
    df, nodes = _derived_node_df(spark)
    for md in (8, 24, 32):
        ok_nodes = [n for n in nodes if (n + 2).bit_length() - 1 <= md]
        sub = with_derived_cols(df.filter(F.col("node").isin(ok_nodes)), md)
        assert sub.columns == ["node", "path_len", "code", "sort_key"]
        got = sorted(tuple(r) for r in sub.collect())
        assert got == [(n, *node_bits(n, md)) for n in sorted(ok_nodes)], md


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


@pytest.mark.parametrize("n_pairs", [5, 70])  # CASE chain, broadcast join
def test_lookup_plan_independent_of_pair_order(spark, n_pairs):
    """The stats job returns the split nodes in no fixed order: ``_lookup``
    over a pair list and over the same list reversed gives one optimized
    plan (expression ids aside) and the same values."""
    import re

    from linear_kdtree_spark.operators.build import _lookup

    df = spark.range(0, 2 * n_pairs).withColumnRenamed("id", "node")
    pairs = [(3 * i % (2 * n_pairs), i + 0.5) for i in range(n_pairs)]
    outs = [_lookup(spark, df, p, "sv", "double") for p in (pairs, pairs[::-1])]
    plans = [
        re.sub(r"#\d+L?", "#", o._jdf.queryExecution().optimizedPlan().toString())
        for o in outs
    ]
    assert plans[0] == plans[1]
    want = sorted((int(n), dict(pairs).get(n)) for n in range(2 * n_pairs))
    for o in outs:
        assert sorted(tuple(r) for r in o.collect()) == want


def test_node_transform_exprs(spark, random_points):
    """code/sort_key derived from the heap node id alone must equal the
    values accumulated during the build (functions/morton.py)."""
    keys, x, y = random_points
    idx = lkt_build(_points_df(spark, keys, x, y), max_depth=10, strategy="median")
    rows = idx.points.select("node", "path_len", "code", "sort_key").collect()
    bad = [
        r for r in rows
        if tuple(r[1:]) != node_bits(r["node"], idx.tree.max_depth)
    ]
    assert rows and not bad


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


def _leaf_case(spark, case, tmp_path):
    """(points DataFrame, build kwargs) for one leaf-table fixture; the
    resumed case builds an interrupted run first."""
    import os

    import pandas as pd

    rng = np.random.default_rng(31)
    if case == "all_duplicates":
        x = np.full(16, 5.0, dtype=np.float32)
        return _points_df(spark, np.arange(16), x, x.copy()), {}
    if case == "degenerate_stripe":
        # the duplicate and constant-x stripe of test_build_invariants
        n = 1500
        x = rng.uniform(-180, 180, n).astype(np.float32)
        y = rng.uniform(-85, 85, n).astype(np.float32)
        x[:50] = x[0]
        y[:10] = y[0]
        df = _points_df(spark, np.arange(n), x, y)
        return df, dict(max_depth=8, local_threshold=500)
    # clustered points plus a 2,500-point duplicate cluster: above the
    # fused case's local_threshold, so the distributed phase decides it is
    # a leaf (degenerate split) and the fused pass routes it through
    n = 12_000
    xy = rng.normal(50, 10, (n, 2))
    xy[:2500] = (120.0, 120.0)
    df = spark.createDataFrame(
        pd.DataFrame({"key": np.arange(n), "x": xy[:, 0], "y": xy[:, 1]})
    )
    kw = dict(max_depth=12, leaf_size=32)
    if case == "fused":
        return df, dict(kw, local_threshold=2_000)
    if case == "level_sync_median":
        return df, dict(kw, local_threshold=0, strategy="median")
    # resumed: an interrupted run stops after depth 3, then resumes to a
    # depth where the loop ends at max_depth (children counted after it)
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(ckpt)
    lkt_build(df, max_depth=4, checkpoint_dir=ckpt, checkpoint_every=2)
    return df, dict(max_depth=7, checkpoint_dir=ckpt, checkpoint_every=2)


@pytest.mark.parametrize(
    "case",
    ["fused", "level_sync_median", "resumed", "all_duplicates",
     "degenerate_stripe"],
)
def test_leaf_table_equals_group_by(spark, tmp_path, case):
    """On every build path the leaf table is exactly a groupBy("node")
    over the built points: one row per non-empty leaf with its count and
    data bbox, and each row's [lo, hi) holds its points' sort_keys."""
    df, kw = _leaf_case(spark, case, tmp_path)
    idx = lkt_build(df, strategy=kw.pop("strategy", "mean"), **kw)
    want = sorted(
        tuple(r)
        for r in idx.points.groupBy("node").agg(
            F.count(F.lit(1)), F.min("x"), F.max("x"), F.min("y"),
            F.max("y"), F.min("sort_key"), F.max("sort_key"),
        ).collect()
    )
    L = idx.tree.leaves
    got = sorted(zip(*(L[c].tolist() for c in (
        "node", "count", "xmin", "xmax", "ymin", "ymax"))))
    assert got == [w[:6] for w in want]
    assert idx.tree.total_points == df.count()
    # sorted by lo, tiling the key space, each interval holding its points
    assert (L["lo"][1:] == L["hi"][:-1]).all()
    assert L["lo"][0] == 0 and L["hi"][-1] == 1 << idx.tree.max_depth
    span = {w[0]: w[6:] for w in want}
    for node, lo, hi in zip(L["node"], L["lo"], L["hi"]):
        assert lo <= span[node][0] and span[node][1] < hi


def test_build_local_fast_leaf_rows():
    """The fused kernel's leaf rows, including a subtree that never
    splits (all points equal: one leaf, the subtree root)."""
    from linear_kdtree_spark.operators.kernel import build_local_fast

    rng = np.random.default_rng(4)
    x = rng.uniform(0, 10, 500).astype(np.float32)
    y = rng.uniform(0, 10, 500).astype(np.float32)
    for xs, ys in ((x, y), (np.full(40, 3.0, np.float32),) * 2):
        res = build_local_fast(xs, ys, max_depth=10, min_split=9)
        xk, yk = xs[res.perm], ys[res.perm]  # rows come in kd order
        lv = res.leaves
        assert lv["count"].sum() == len(xs)
        for i, node in enumerate(lv["node"]):
            sel = res.node == node
            assert lv["count"][i] == sel.sum()
            assert lv["path_len"][i] == res.path_len[sel][0]
            assert (lv["xmin"][i], lv["xmax"][i]) == (xk[sel].min(), xk[sel].max())
            assert (lv["ymin"][i], lv["ymax"][i]) == (yk[sel].min(), yk[sel].max())
    assert list(lv["node"]) == [0] and not res.splits
