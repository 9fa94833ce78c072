"""Driver-side tables as Arrow LocalRelations (``session.local_frame``):
types and rows survive, the library's plans read no Python-built RDD, the
payload-aware interval broadcast, the session memo (``session.memo``), and
the Python workers' zip importers that re-read only a changed archive
(``session._install_zip_stamps``)."""

import ast
import importlib
import os
import sys
import threading
import time
import zipfile
import zipimport

import numpy as np
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import linear_kdtree_spark
from linear_kdtree_spark.functions.murmur import partition_tokens, verify_tokens
from linear_kdtree_spark.operators.build import lkt_build
from linear_kdtree_spark.operators.codes import attach_labels
from linear_kdtree_spark.operators.knn import knn, knn_batch
from linear_kdtree_spark.operators.pip import Polygon, point_in_polygons
from linear_kdtree_spark.operators.tree import SPLITS_SCHEMA, SplitTree
from linear_kdtree_spark.session import _install_zip_stamps, local_frame, memo
from tests.oracle import point_in_polygon

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


def test_tree_frames_equal_row_frames(spark, index, monkeypatch):
    """split_frame and leaf_frame hand local_frame the numpy columns as one
    Arrow table; they equal the frames the same columns give as rows of
    Python values, on a built tree and on an empty one."""
    from linear_kdtree_spark.operators import tree as tree_mod

    def row_frame(spark, cols, schema):
        return local_frame(spark, list(zip(*(c.tolist() for c in cols))), schema)

    empty = SplitTree.from_rows([], [], 16, "float")
    for t in (index.tree, empty):
        got = [t.split_frame(spark), t.leaf_frame(spark)]
        with monkeypatch.context() as m:
            m.setattr(tree_mod, "_frame", row_frame)
            want = [t.split_frame(spark), t.leaf_frame(spark)]
        for g, w in zip(got, want):
            assert g.schema == w.schema
            assert g.collect() == w.collect()
    assert index.tree.split_frame(spark).count() == len(index.tree.splits["node_id"])


def test_get_spark_turns_dataframe_debugging_off(spark, monkeypatch):
    """get_spark turns PySpark's call-site capture off by default, and
    extra_conf turns it back on. The conf is static, so the override is
    checked on the builder get_spark configures, not on a second session."""
    from linear_kdtree_spark import session

    key = "spark.python.sql.dataFrameDebugging.enabled"
    assert spark.conf.get(key) == "false"

    class Builder:
        def __init__(self):
            self.conf = {}

        def master(self, _):
            return self

        appName = master

        def config(self, k, v):
            self.conf[k] = v
            return self

        def getOrCreate(self):
            return self

        sparkContext = property(lambda self: self)
        setLogLevel = master

    for extra, want in ((None, "false"), ({key: "true"}, "true")):
        monkeypatch.setattr(session.SparkSession, "builder", Builder())
        assert session.get_spark(master="local[1]", extra_conf=extra).conf[key] == want


def test_library_plans_read_no_python_rdd(spark, index, monkeypatch):
    """PIP (convex and ray-cast), interval_join, knn over a list and the
    token check plan a LocalRelation and no LogicalRDD: none of them runs
    a Python job to read its driver-side table. The star is concave, so
    it takes the ray cast."""
    from linear_kdtree_spark.operators.interval_join import interval_join

    polys = [
        Polygon(1, [(20.0, 20.0), (60.0, 25.0), (40.0, 70.0)]),
        Polygon(2, [(70.0, 70.0), (90.0, 70.0), (90.0, 90.0), (70.0, 90.0)]),
    ]
    ivals = [(1, 0, 1 << 10), (2, 1 << 12, 1 << 14)]
    frames = {
        "pip_convex": point_in_polygons(index, polys),
        "pip_raycast": point_in_polygons(index, [Polygon(3, [
            (50.0, 30.0), (52.0, 48.0), (70.0, 50.0), (52.0, 52.0),
            (50.0, 70.0), (48.0, 52.0), (30.0, 50.0), (48.0, 48.0)])]),
        "interval_join": interval_join(
            index.points, ivals, "poly_id long, lo long, hi long",
            max_depth=index.tree.max_depth,
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
    shift = choose_shift(cover, index.tree.max_depth)
    replicated = sum(((hi - 1) >> shift) - (lo >> shift) + 1 for lo, hi in cover)
    threshold = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    assert replicated * m * 32 > threshold  # the case under test

    out = point_in_polygons(index, [poly])
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
    small = point_in_polygons(index, [few])
    assert "BroadcastHashJoin" in small._jdf.queryExecution().executedPlan().toString()


def test_memos_drop_stopped_sessions(spark, index):
    """One token, widen or tree-broadcast call that makes a value drops
    the entries of a stopped session (an applicationId never reused)."""
    import linear_kdtree_spark.operators.build as build
    import linear_kdtree_spark.operators.dedup as dedup

    app = spark.sparkContext.applicationId
    stale = ("app-stopped-0000", "key")
    # a fresh tree over the same tables: its memo is empty
    tree = SplitTree(index.tree.splits, index.tree.leaves, index.tree.max_depth)
    for store, call in (
        (build._TOKENS, lambda: build._verified_tokens(spark, 13)),
        (dedup._WIDTHS, lambda: dedup.widen_partitions(
            spark.range(17).withColumn("v", F.col("id") * 3))),
        (tree._memo, lambda: tree.broadcast(spark)),
    ):
        store[stale] = object()
        call()
        assert stale not in store
        assert store and all(k[0] == app for k in store)


def test_tree_broadcast_once_per_session(spark, dataset, monkeypatch):
    """Two knn_batch and two attach_labels calls on one fresh index make
    one broadcast: the tree's, which both read."""
    keys, x, y = dataset
    rows = [(int(k), float(a), float(b)) for k, a, b in zip(keys, x, y)]
    pts = local_frame(spark, rows, "key long, x float, y float")
    idx = lkt_build(pts, max_depth=16, strategy="mean", leaf_size=8)
    queries = local_frame(
        spark, [(0, 50.0, 50.0), (1, 5.0, 95.0)], "query_id long, qx double, qy double"
    )
    sc = spark.sparkContext
    made = []
    real = sc.broadcast

    def counting(value):
        made.append(value)
        return real(value)

    monkeypatch.setattr(sc, "broadcast", counting)
    for _ in range(2):
        assert len(knn_batch(idx, queries, 3).collect()) == 6
        labelled = attach_labels(pts.limit(50), idx.tree).collect()
        assert all(idx.tree.leaf_for(r["x"], r["y"]) == r["node"] for r in labelled)
    assert len(made) == 1
    assert set(made[0]) == {"splits", "leaves"}


def _within(seconds, fn):
    """fn() in a daemon thread; its result, or a failure if it has not
    returned after ``seconds`` (a deadlock)."""
    out = []
    t = threading.Thread(target=lambda: out.append(fn()), daemon=True)
    t.start()
    t.join(seconds)
    assert not t.is_alive(), "memo call did not return"
    return out[0]


def test_memo_nested_and_concurrent(spark):
    """A make() that calls memo on another key completes (the lock is
    re-entrant), and threads racing first calls on the same keys get one
    value per key, made once."""
    store = {}
    outer = _within(10, lambda: memo(
        spark, store, "outer", lambda: ("outer", memo(spark, store, "inner", object))
    ))
    assert outer[1] is memo(spark, store, "inner", object)

    n_threads, keys = 8, range(4)
    made, got = [], {k: [] for k in keys}
    start = threading.Barrier(n_threads)

    def make():
        made.append(1)
        time.sleep(0.02)  # the other threads arrive while this one makes
        return object()

    def racer():
        start.wait()
        for k in keys:
            got[k].append(memo(spark, store, ("raced", k), make))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=racer, daemon=True) for _ in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(30)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
    assert len(made) == len(keys)
    for k in keys:
        assert len(got[k]) == n_threads and all(v is got[k][0] for v in got[k])


def test_application_id_read_in_session_only():
    """Every per-application memo goes through ``session.memo``, the one
    reader of the applicationId."""
    root = os.path.dirname(linear_kdtree_spark.__file__)
    readers = set()
    for dirpath, _dirs, files in os.walk(root):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            with open(path) as f:
                tree = ast.parse(f.read(), path)
            for node in ast.walk(tree):
                if isinstance(node, ast.Attribute) and node.attr == "applicationId":
                    readers.add(os.path.relpath(path, root))
    assert readers == {"session.py"}


# the writer that infers a schema from lineage dicts; an explicit schema
# there could reorder the columns of the persisted build log
_LINEAGE_WRITER = ("sources/catalog.py", "save_index")


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
    allowed = {("session.py", "local_frame"), _LINEAGE_WRITER}
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


def _write_module_zip(path, body, mtime_ns):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("zstamp_mod.py", body)
    os.utime(path, ns=(mtime_ns, mtime_ns))


def test_zip_importer_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    """Once installed, ``importlib.invalidate_caches()`` re-reads a zip
    importer's archive on its first call and when the archive changed,
    and never otherwise; installing twice leaves one wrapper."""
    archive = str(tmp_path / "mods.zip")
    _write_module_zip(archive, "VALUE = 1\n", 1_700_000_000 * 10**9)
    monkeypatch.syspath_prepend(archive)
    stdlib = zipimport.zipimporter.invalidate_caches
    # restores the stdlib method at teardown
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stdlib)
    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda p: reads.append(p) or real(p))
    try:
        import zstamp_mod

        assert zstamp_mod.VALUE == 1
        _install_zip_stamps()
        _install_zip_stamps()
        assert zipimport.zipimporter.invalidate_caches.__wrapped__ is stdlib
        importlib.invalidate_caches()  # the importer's first call reads
        before = reads.count(archive)
        assert before == 2  # the import's read, then the first call's
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads.count(archive) == before

        # a new body of another length: a stale directory would misread it
        _write_module_zip(archive, "VALUE = 'rewritten'\n", 1_700_000_001 * 10**9)
        importlib.invalidate_caches()
        assert reads.count(archive) == before + 1
        del sys.modules["zstamp_mod"]
        import zstamp_mod

        assert zstamp_mod.VALUE == "rewritten"
    finally:
        sys.modules.pop("zstamp_mod", None)
        sys.path_importer_cache.pop(archive, None)


def test_reused_worker_rereads_no_archive(spark):
    """A task on a Python worker that already ran a library closure
    re-reads none of its zip archives (pyspark.zip, py4j's) on
    ``importlib.invalidate_caches()``, the call Spark's worker setup makes
    on every task. Each run's 16 tasks cycle through the idle workers, so
    every task of the second run lands on a worker the first run used."""

    def rereads(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        import linear_kdtree_spark.session  # noqa: F401

        for _ in batches:
            pass
        calls = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda p: calls.append(p) or real(p)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        zips = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
        yield pd.DataFrame({"rereads": [len(calls)], "zips": [zips]})

    def run():
        df = spark.range(0, 16, 1, 16)
        return df.mapInPandas(rereads, "rereads long, zips long").collect()

    run()
    second = run()
    assert len(second) == 16
    if not any(r["zips"] for r in second):
        pytest.skip("the Python workers import nothing from a zip archive")
    assert [r["rereads"] for r in second] == [0] * 16
