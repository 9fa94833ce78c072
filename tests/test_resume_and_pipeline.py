"""Resume/lineage (FIXTURES.md F7), extraction invariants (F1), CLI and
lineage metrics."""

import json
import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from linear_kdtree_spark.operators.build import lkt_build
from linear_kdtree_spark.plans.lineage import skew_stats
from linear_kdtree_spark.sources.catalog import TableCatalog, save_index
from linear_kdtree_spark.sources.pages import synth_pages
from linear_kdtree_spark.sources.points import extract_points, text_from_html


def _pts(spark, n=3000, seed=42):
    rng = np.random.default_rng(seed)
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "key": np.arange(n),
                "x": rng.uniform(0, 100, n).astype("float32"),
                "y": rng.uniform(0, 100, n).astype("float32"),
            }
        )
    )


def _snapshot(idx):
    splits = sorted(
        (r["node_id"], r["depth"], r["axis"], r["value"], r["n_left"], r["n_right"])
        for r in idx.splits.collect()
    )
    points = sorted(
        (r["key"], r["node"], r["code"], r["sort_key"])
        for r in idx.points.collect()
    )
    return splits, points


def test_resume_identical_to_uninterrupted(spark, tmp_path):
    pts = _pts(spark)
    full = lkt_build(pts, max_depth=6, strategy="mean", local_threshold=0)

    ckpt = str(tmp_path / "ckpt")
    os.makedirs(ckpt)
    # "interrupted" run: stops after depth 3 (checkpoint_every=2 → manifests
    # at depths 1 and 3)
    lkt_build(pts, max_depth=4, strategy="mean", checkpoint_dir=ckpt,
              checkpoint_every=2)
    manifest = json.load(open(os.path.join(ckpt, "manifest.json")))
    assert manifest["next_depth"] == 4

    # resumed run continues from the manifest — must match the
    # uninterrupted build exactly (F7: byte-identical)
    resumed = lkt_build(pts, max_depth=6, strategy="mean", checkpoint_dir=ckpt,
                        checkpoint_every=2)
    assert _snapshot(full) == _snapshot(resumed)
    # lineage covers every level exactly once
    assert [lv["depth"] for lv in resumed.lineage] == list(range(6))


def test_lineage_and_skew_metrics(spark, tmp_path):
    idx = lkt_build(_pts(spark, 2000), max_depth=8, strategy="mean", leaf_size=16)
    for lv in idx.lineage:
        assert lv["n_active_points"] <= 2000
    assert idx.lineage[0]["n_active_points"] == 2000

    cat = TableCatalog(spark, str(tmp_path / "cat"))
    save_index(cat, idx)
    assert cat.read("lkt_build_log").count() == len(idx.lineage)
    parts = cat.read("lkt_partition_metrics")
    assert parts.agg(F.sum("n_rows")).first()[0] == 2000
    assert skew_stats(idx.points)["rows"] == 2000

    # range partitions must be sort_key-disjoint (the linear layout)
    rows = sorted(
        (r["min_sort_key"], r["max_sort_key"]) for r in parts.collect()
    )
    for (lo1, hi1), (lo2, _hi2) in zip(rows, rows[1:]):
        assert hi1 <= lo2


def test_extraction_invariants(spark):
    pages = synth_pages(spark, 500).persist()
    # html wraps text byte-identically (north_star invariant)
    assert pages.filter(text_from_html(F.col("html")) != F.col("text")).count() == 0
    pts = extract_points(pages)
    # keys unique; coordinates within mention bounds; ordinal dense from 0
    n = pts.count()
    assert pts.select("key").distinct().count() == n
    bad = pts.filter(
        (F.col("x") < -181) | (F.col("x") > 181) | (F.col("y") < -86) | (F.col("y") > 86)
    ).count()
    assert bad == 0
    # re-extraction is deterministic
    pts2 = extract_points(pages)
    assert pts.exceptAll(pts2).count() == 0 and pts2.exceptAll(pts).count() == 0


def test_cli_roundtrip(spark, tmp_path):
    """Drive the CLI surface end-to-end: extract → build → knn/pip/tile."""
    from linear_kdtree_spark import cli

    pages_path = str(tmp_path / "pages")
    synth_pages(spark, 400).write.parquet(pages_path)
    pts_path = str(tmp_path / "pts")
    idx_path = str(tmp_path / "idx")
    q_path = str(tmp_path / "queries")
    out_knn = str(tmp_path / "knn_out")
    out_tile = str(tmp_path / "tile_out")
    poly_csv = str(tmp_path / "polys.csv")
    out_pip = str(tmp_path / "pip_out")

    base = ["--master", "local[2]", "--shuffle-partitions", "2"]
    assert cli.main(base + ["extract", "--input", pages_path, "--output", pts_path]) == 0
    assert cli.main(
        base + ["build", "--input", pts_path, "--output", idx_path,
                "--max-depth", "8", "--leaf-size", "8", "--resumable"]
    ) == 0
    spark.createDataFrame(
        [(0, 10.0, 10.0), (1, -50.0, 30.0)], "query_id long, qx double, qy double"
    ).write.parquet(q_path)
    assert cli.main(base + ["knn", "--index", idx_path, "--queries", q_path,
                            "--output", out_knn, "-k", "3"]) == 0
    assert spark.read.parquet(out_knn).count() == 6
    with open(poly_csv, "w") as f:
        f.write("0,-180,-85,0,0\n1,0,0,180,85\n")
    assert cli.main(base + ["pip", "--index", idx_path, "--polygons", poly_csv,
                            "--output", out_pip]) == 0
    assert spark.read.parquet(out_pip).select("poly_id").distinct().count() == 2
    assert cli.main(base + ["tile", "--input", pts_path, "--output", out_tile,
                            "--depth", "6"]) == 0
    assert "tile" in spark.read.parquet(out_tile).columns

    # kNN through a RELOADED index (leaf table round-trip) must equal
    # the numpy brute force over the extracted points
    from tests.oracle import brute_knn

    ref = spark.read.parquet(pts_path).toPandas()
    keys, px, py = (ref[c].to_numpy() for c in ("key", "x", "y"))
    want = sorted(
        (qid, rank, key)
        for qid, qx, qy in [(0, 10.0, 10.0), (1, -50.0, 30.0)]
        for rank, (key, _) in enumerate(brute_knn(px, py, keys, qx, qy, 3), 1)
    )
    got = sorted(map(tuple, spark.read.parquet(out_knn)
                     .select("query_id", "rank", "key").collect()))
    assert got == want

    out_s2 = str(tmp_path / "s2_out")
    assert cli.main(base + ["tile", "--input", pts_path, "--output", out_s2,
                            "--mode", "s2", "--level", "8"]) == 0
    assert "s2_cell" in spark.read.parquet(out_s2).columns


def test_concurrent_batch_builds_overlap_and_match(spark):
    """build_batches(concurrent=True) — the reference's CPU/GPU pipeline
    overlap re-expressed as multi-threaded job submission (lkt.cu:71-104)
    — must (a) produce results identical to the sequential path and
    (b) actually interleave: with 2 pool threads over 4 batches, some
    build's wall-clock window must overlap another's."""
    import threading
    import time as _time

    from linear_kdtree_spark.streaming.incremental import build_batches

    batches = [_pts(spark, 2500, seed=100 + i) for i in range(4)]
    windows = {}
    orig = lkt_build
    lock = threading.Lock()

    def traced(b, **kw):
        t0 = _time.time()
        out = orig(b, **kw)
        out.points = out.points.persist()
        out.points.count()  # materialize inside the window
        with lock:
            windows[id(b)] = (t0, _time.time())
        return out

    import linear_kdtree_spark.streaming.incremental as inc

    inc.lkt_build, saved = traced, inc.lkt_build
    try:
        conc = build_batches(batches, max_depth=8, leaf_size=32,
                             concurrent=True, pools=2)
    finally:
        inc.lkt_build = saved
    seq = build_batches(batches, max_depth=8, leaf_size=32)
    for a, b in zip(conc, seq):
        got = sorted(
            tuple(r) for r in a.points.select("key", "node", "sort_key").collect()
        )
        want = sorted(
            tuple(r) for r in b.points.select("key", "node", "sort_key").collect()
        )
        assert got == want
    spans = sorted(windows.values())
    assert len(spans) == 4
    overlaps = any(
        s2 < e1 for (s1, e1), (s2, e2) in zip(spans, spans[1:])
    )
    assert overlaps, spans
