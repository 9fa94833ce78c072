"""Driver-contract gate queries: every operator exposed as a
``(spark, sf_dir) → DataFrame`` callable plus an equivalent ANSI-SQL oracle
string DuckDB can run on the same parquet tables.

Determinism discipline (the driver hash-compares values): every gated query
derives its inputs from the shared tables via **pure int64 arithmetic and
IEEE-exact double ops written once as SQL text** (`POINTS_SQL` etc.) that
both Spark SQL and DuckDB parse identically, and outputs only integers
(keys, ranks, tiles, node ids, counts) or doubles produced by the identical
expression in both engines. Aggregated floats (avg/sum over many rows) are
never output — summation order differs across engines at the last ulp.

The Spark side of each query exercises the real engine operator
(lkt_build / knn / point_in_polygons / morton tiles / radius_join / ...);
the DuckDB oracle is an independent brute-force formulation.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from linear_kdtree_spark.session import memo

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# ---------------------------------------------------------------------------
# shared deterministic derivations (identical text run by Spark and DuckDB)
# ---------------------------------------------------------------------------

# web-mined-style skewed points: 70 % in 24 integer-ish "city" clusters with
# ±1° jitter, 30 % uniform — from lineitem rows (the largest table: 60 k rows
# at sf0.01, 600 k at sf0.1) via pure int64 arithmetic; key = unique
# composite l_orderkey·8 + l_linenumber
POINTS_SQL = """
SELECT key,
  CASE WHEN (key * 2654435761) % 100 < 70 THEN
    CAST((((key * 2654435761) % 24) * 137) % 340 AS DOUBLE) - 169.5
      + (CAST((key * 40503 + 12345) % 20001 AS DOUBLE) - 10000.0) / 10000.0
  ELSE CAST((key * 40503 + 12345) % 3600000 AS DOUBLE) / 10000.0 - 180.0 END AS x,
  CASE WHEN (key * 2654435761) % 100 < 70 THEN
    CAST((((key * 2654435761) % 24) * 61) % 160 AS DOUBLE) - 79.5
      + (CAST((key * 69069 + 1013904223) % 20001 AS DOUBLE) - 10000.0) / 10000.0
  ELSE CAST((key * 69069 + 1013904223) % 1700000 AS DOUBLE) / 10000.0 - 85.0 END AS y
FROM (SELECT l_orderkey * 8 + l_linenumber AS key FROM lineitem) base
""".strip()

KNN_QUERIES_SQL = """
SELECT doc_id AS query_id,
  CAST((doc_id * 48271 + 11) % 3400000 AS DOUBLE) / 10000.0 - 170.0 AS qx,
  CAST((doc_id * 16807 + 7) % 1600000 AS DOUBLE) / 10000.0 - 80.0 AS qy
FROM documents WHERE doc_id < 40
""".strip()

KNN_BATCH_QUERIES_SQL = KNN_QUERIES_SQL.replace("doc_id < 40", "doc_id < 200")

KNN_K = 5
RADIUS = 0.5
TILE_DEPTH = 8
RASTER_DEPTH = 6
BUILD_DEPTH = 4


def rect_params(nationkey: int) -> tuple[float, float, float, float]:
    """Rectangle dim derived from the nation table — mirrored in
    RECTS_SQL; all values are exact halves/integers in double."""
    cx = float((nationkey * 97) % 300) - 149.5
    cy = float((nationkey * 53) % 140) - 69.5
    hw = float(5 + nationkey % 7)
    hh = float(4 + nationkey % 5)
    return cx, cy, hw, hh


RECTS_SQL = """
SELECT n_nationkey AS poly_id,
  CAST((n_nationkey * 97) % 300 AS DOUBLE) - 149.5 AS cx,
  CAST((n_nationkey * 53) % 140 AS DOUBLE) - 69.5 AS cy,
  CAST(5 + (n_nationkey % 7) AS DOUBLE) AS hw,
  CAST(4 + (n_nationkey % 5) AS DOUBLE) AS hh
FROM nation
""".strip()

# augmented pages with deterministic integer-formatted geo mentions
# (string assembly identical in both dialects: CAST-to-STRING of ints + lpad)
AUG_PAGES_SQL = """
SELECT 'https://' || source || '.example/' || CAST(doc_id AS STRING) AS url,
  text || ' geo:' || CAST((doc_id * 7) % 70 + 10 AS STRING) || '.'
       || lpad(CAST((doc_id * 31) % 10000 AS STRING), 4, '0')
       || ',' || CAST((doc_id * 13) % 160 + 10 AS STRING) || '.'
       || lpad(CAST((doc_id * 17) % 10000 AS STRING), 4, '0')
       || CASE WHEN doc_id % 3 = 0 THEN
            ' geo:' || CAST((doc_id * 19) % 70 + 10 AS STRING) || '.'
            || lpad(CAST((doc_id * 23) % 10000 AS STRING), 4, '0')
            || ',' || CAST((doc_id * 29) % 160 + 10 AS STRING) || '.'
            || lpad(CAST((doc_id * 37) % 10000 AS STRING), 4, '0')
          ELSE '' END AS text
FROM documents
""".strip()

GEO_RE = r"geo:(\d+\.\d+),(\d+\.\d+)"


def load_views(spark: SparkSession, sf_dir: str, tables=TABLES) -> None:
    for t in tables:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)


def points_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, ("lineitem",))
    return spark.sql(POINTS_SQL)


# ---------------------------------------------------------------------------
# gated queries — spatial engine
# ---------------------------------------------------------------------------

def q_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sanity anchor: the shared point derivation itself."""
    return points_df(spark, sf_dir)


# the gate builds, made once per session (session.memo) and shared by
# every gate that reads the same build
_GATE_INDEXES: dict = {}


def _levelsync_build(spark, sf_dir, strategy="mean", coord_type="double",
                     max_depth=BUILD_DEPTH):
    """Memoized pure level-synchronous gate build (local_threshold=0 —
    gating the distributed path itself). lkt_build_nodes and lkt_codes
    share one build; the f32/median variants get their own entries."""
    from linear_kdtree_spark.operators.build import lkt_build

    return memo(
        spark, _GATE_INDEXES,
        ("levelsync", sf_dir, strategy, coord_type, max_depth),
        lambda: lkt_build(
            points_df(spark, sf_dir),
            max_depth=max_depth,
            strategy=strategy,
            coord_type=coord_type,
            local_threshold=0,
        ),
    )


def q_lkt_build_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine build (depth 4, mean splits, double coords) → (key, node)."""
    idx = _levelsync_build(spark, sf_dir)
    return idx.points.select("key", "node")


def q_lkt_build_nodes_f32(spark: SparkSession, sf_dir: str) -> DataFrame:
    """float32 ``ord_t`` parity build (reference lkt.h:13): identical to
    lkt_build_nodes but with coords quantized to FLOAT before splitting —
    the oracle CTE quantizes the same way, so any float32-vs-float64 drift
    in split comparisons flips the hash."""
    idx = _levelsync_build(spark, sf_dir, coord_type="float")
    return idx.points.select("key", "node")


def q_lkt_build_nodes_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-split build (the north_star's mandated split strategy:
    canonical discrete upper median, an actual data value — even more
    hash-robust than means, no summation at all) → (key, node)."""
    idx = _levelsync_build(spark, sf_dir, strategy="median")
    return idx.points.select("key", "node")


HYBRID_DEPTH = 10
HYBRID_LEAF = 512  # the bench/CLI leaf_size (bench.py:_materialized_build)
HYBRID_THRESHOLD = 30_000


def q_lkt_build_nodes_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION build path: hybrid level-sync + FUSED mapInPandas
    local finish (build.py:_local_finish_fused) — the exact code the bench
    and CLI run. local_threshold is sized so the fused handoff actually
    triggers at sf0.01 (60 k points > 30 k at the root → ≥1 distributed
    level, then every node ≤ 30 k → fused finish), leaf_size matches the
    bench config. The fused path promises bit-identity with the pure
    level-synchronous semantics (tests/test_differential.py), so the same
    unrolled-CTE oracle must pass → (key, node)."""
    from linear_kdtree_spark.operators.build import lkt_build

    idx = lkt_build(
        points_df(spark, sf_dir),
        max_depth=HYBRID_DEPTH,
        strategy="mean",
        leaf_size=HYBRID_LEAF,
        coord_type="double",
        local_threshold=HYBRID_THRESHOLD,
    )
    return idx.points.select("key", "node")


def q_lkt_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-faithful per-point tree-path code (bit = 1 ⇔ went left,
    LSB-first — lkt.cpp:140-157) plus the monotone sort_key transform
    (SURVEY.md §1.3), both pinned to the driver hash check."""
    idx = _levelsync_build(spark, sf_dir)
    return idx.points.select("key", "code", "sort_key")


def _gate_index(spark, sf_dir, leaf_size=16, max_depth=16):
    """The shared kNN/PIP gate index, built once per sf_dir per session."""
    from linear_kdtree_spark.operators.build import lkt_build

    return memo(
        spark, _GATE_INDEXES, ("index", sf_dir, leaf_size, max_depth),
        lambda: lkt_build(
            points_df(spark, sf_dir),
            max_depth=max_depth,
            strategy="mean",
            leaf_size=leaf_size,
            coord_type="double",
        ),
    )


def q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact kNN through the index → (query_id, key, rank)."""
    from linear_kdtree_spark.operators.knn import knn

    idx = _gate_index(spark, sf_dir)
    load_views(spark, sf_dir, ("documents",))
    queries = spark.sql(KNN_QUERIES_SQL)
    return knn(idx, queries, KNN_K).select("query_id", "key", "rank")


def q_knn_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fully-distributed batch kNN (mapInPandas planner, no driver loop
    over queries) — 200 queries → (query_id, key, rank)."""
    from linear_kdtree_spark.operators.knn import knn_batch

    idx = _gate_index(spark, sf_dir)
    load_views(spark, sf_dir, ("documents",))
    queries = spark.sql(KNN_BATCH_QUERIES_SQL)
    return knn_batch(idx, queries, KNN_K).select("query_id", "key", "rank")


def q_pip_rect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-pruned point-in-polygon over nation-derived rectangles
    (strict-inside, convex half-plane refine) → (poly_id, key)."""
    from linear_kdtree_spark.operators.pip import Polygon, point_in_polygons

    idx = _gate_index(spark, sf_dir)
    load_views(spark, sf_dir, ("nation",))
    polys = []
    for r in spark.sql("SELECT n_nationkey FROM nation").collect():
        nk = int(r[0])
        cx, cy, hw, hh = rect_params(nk)
        polys.append(
            Polygon(nk, [(cx - hw, cy - hh), (cx + hw, cy - hh),
                         (cx + hw, cy + hh), (cx - hw, cy + hh)])
        )
    return point_in_polygons(idx, polys, exact="convex")


def hexagon_vertices(nationkey: int) -> list[tuple[float, float]]:
    """CCW convex hexagon with trig-free exact-double vertices (ints and
    exact halves) — mirrored verbatim in the oracle SQL generator."""
    cx, cy, _, _ = rect_params(nationkey)
    a = float(4 + nationkey % 5)
    b = float(3 + nationkey % 4)
    return [
        (cx + a, cy), (cx + a / 2, cy + b), (cx - a / 2, cy + b),
        (cx - a, cy), (cx - a / 2, cy - b), (cx + a / 2, cy - b),
    ]


def q_pip_convex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-pruned point-in-polygon over CONVEX HEXAGONS (strict
    half-plane forall refine — the general-convex path, where pip_rect
    only exercises axis-aligned rectangles) → (poly_id, key). Hash-exact:
    the engine's broadcast edge-array cross products and the oracle's
    inline cross products compute identical IEEE expressions on identical
    exact-double vertices."""
    from linear_kdtree_spark.operators.pip import Polygon, point_in_polygons

    idx = _gate_index(spark, sf_dir)
    load_views(spark, sf_dir, ("nation",))
    polys = [
        Polygon(int(r[0]), hexagon_vertices(int(r[0])))
        for r in spark.sql("SELECT n_nationkey FROM nation").collect()
    ]
    return point_in_polygons(idx, polys, exact="convex")


def pip_convex_oracle_sql(n_nations: int = 25) -> str:
    parts = []
    for nk in range(n_nations):
        verts = hexagon_vertices(nk)
        conds = []
        m = len(verts)
        for i in range(m):
            x1, y1 = verts[i]
            x2, y2 = verts[(i + 1) % m]
            conds.append(
                f"({x2 - x1!r}) * (p.y - ({y1!r})) - "
                f"({y2 - y1!r}) * (p.x - ({x1!r})) > 0"
            )
        parts.append(
            f"SELECT {nk} AS poly_id, p.key FROM pts p WHERE "
            + " AND ".join(conds)
        )
    return (
        f"WITH {_points_cte()}\n" + "\nUNION ALL\n".join(parts)
    )


def star_vertices(nationkey: int) -> list[tuple[float, float]]:
    """CCW CONCAVE 4-pointed star with trig-free exact-double vertices
    (ints and exact halves), alternating spike radius ``a`` and inner
    half-width ``b/2 < a`` — mirrored verbatim in the oracle SQL."""
    cx, cy, _, _ = rect_params(nationkey)
    a = float(4 + nationkey % 5)
    b = float(2 + nationkey % 3)
    return [
        (cx + a, cy), (cx + b / 2, cy + b / 2), (cx, cy + a),
        (cx - b / 2, cy + b / 2), (cx - a, cy), (cx - b / 2, cy - b / 2),
        (cx, cy - a), (cx + b / 2, cy - b / 2),
    ]


def q_pip_concave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-pruned point-in-polygon over CONCAVE star polygons — the
    general simple-polygon path (Arrow-batched even-odd ray cast,
    operators/pip.py exact='raycast'), which pip_rect/pip_convex do not
    exercise. Hash-exact: the oracle recomputes the identical IEEE
    crossing test (same literals, same divide) per edge →
    (poly_id, key)."""
    from linear_kdtree_spark.operators.pip import Polygon, point_in_polygons

    idx = _gate_index(spark, sf_dir)
    load_views(spark, sf_dir, ("nation",))
    polys = [
        Polygon(int(r[0]), star_vertices(int(r[0])))
        for r in spark.sql("SELECT n_nationkey FROM nation").collect()
    ]
    return point_in_polygons(idx, polys, exact="raycast")


def pip_concave_oracle_sql(n_nations: int = 25) -> str:
    """Even-odd ray cast as SQL: per edge, the crossing predicate and the
    x-intersection use the exact expressions of
    functions/geometry.raycast_numpy; inside ⇔ odd crossing count."""
    parts = []
    for nk in range(n_nations):
        verts = star_vertices(nk)
        m = len(verts)
        hits = []
        for i in range(m):
            x1, y1 = verts[i]
            x2, y2 = verts[(i + 1) % m]
            hits.append(
                "(CASE WHEN "
                f"(({y1!r} > p.y) != ({y2!r} > p.y)) AND "
                f"(p.x < {x1!r} + (p.y - {y1!r}) * ({x2 - x1!r}) / "
                f"({y2 - y1!r})) THEN 1 ELSE 0 END)"
            )
        parts.append(
            f"SELECT {nk} AS poly_id, p.key FROM pts p WHERE "
            f"({' + '.join(hits)}) % 2 = 1"
        )
    return f"WITH {_points_cte()}\n" + "\nUNION ALL\n".join(parts)


def q_tile_morton(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-grid Z-order tile counts at depth 8 → (tile, n_points)."""
    from linear_kdtree_spark.operators.tile import assign_tiles_morton

    pts = points_df(spark, sf_dir)
    return (
        assign_tiles_morton(pts, TILE_DEPTH)
        .groupBy("tile")
        .agg(F.count(F.lit(1)).alias("n_points"))
    )


def q_raster_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rasterize at depth 6 + vectorize tile rectangles →
    (tile, n_points, xmin, ymin, xmax, ymax)."""
    from linear_kdtree_spark.operators.raster import rasterize, vectorize

    pts = points_df(spark, sf_dir)
    ras = rasterize(pts, RASTER_DEPTH)
    return vectorize(ras, RASTER_DEPTH).select(
        "tile", "n_points", "xmin", "ymin", "xmax", "ymax"
    )


def q_raster_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution tile rollup (depths 0..6): one data scan at the
    finest level, every coarser level aggregated from the previous level's
    aggregate → (depth, tile, n_points)."""
    from linear_kdtree_spark.operators.raster import rasterize_pyramid

    pts = points_df(spark, sf_dir)
    return rasterize_pyramid(pts, RASTER_DEPTH).select(
        F.col("depth").cast("int").alias("depth"), "tile", "n_points"
    )


def q_radius_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self radius join (grid-cell equi-join + exact refine) →
    (a_key, b_key), a < b. Deterministic ~6 % subsample keeps the DuckDB
    brute-force oracle (quadratic) tractable."""
    from linear_kdtree_spark.operators.spatial_join import radius_join

    pts = points_df(spark, sf_dir).filter("key % 31 < 2")
    return radius_join(pts, pts, RADIUS, dedup_pairs=True)


TILE_LKT_BUILD_DEPTH = 6
TILE_LKT_DEPTH = 4


def q_tile_lkt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lkt-NATIVE tile counts (heap ancestor at depth 4 — the index's own
    data-adaptive H3/S2 analogue) over a depth-6 level-sync build. Gated
    hash-exact: the DuckDB oracle unrolls the same 6 build levels and takes
    the ancestor-at-depth-4 of each point's heap node."""
    from linear_kdtree_spark.operators.build import lkt_build
    from linear_kdtree_spark.operators.tile import assign_tiles_lkt

    idx = lkt_build(
        points_df(spark, sf_dir),
        max_depth=TILE_LKT_BUILD_DEPTH,
        strategy="mean",
        coord_type="double",
        local_threshold=0,
    )
    return (
        assign_tiles_lkt(idx, TILE_LKT_DEPTH)
        .groupBy("tile")
        .agg(F.count(F.lit(1)).alias("n_points"))
    )


# deterministic cube-face coordinates from lineitem keys (int arithmetic +
# one exact-integer division — parses identically in Spark SQL and DuckDB)
S2_UV_SQL = """
SELECT key, key % 6 AS face,
  CAST((key * 48271 + 7) % 20001 - 10000 AS DOUBLE) / 10000.0 AS u,
  CAST((key * 69621 + 11) % 20001 - 10000 AS DOUBLE) / 10000.0 AS v
FROM (SELECT l_orderkey * 8 + l_linenumber AS key FROM lineitem) base
""".strip()


def q_tile_s2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True S2 cell ids (leaf level): the from-scratch quadratic-ST +
    Hilbert-curve + id-packing core (functions/s2.py), gated bit-exactly
    against a 30-level unrolled DuckDB oracle. The lat/lng→face/uv trig
    front-end is pytest-verified (tests/test_s2.py) — trig is not
    bit-reproducible across engines, the rest is."""
    from linear_kdtree_spark.operators.tile import s2_cells_from_face_uv

    load_views(spark, sf_dir, ("lineitem",))
    base = spark.sql(S2_UV_SQL)
    return s2_cells_from_face_uv(base, 30).select("key", "s2_cell")


# deterministic icosahedron-face gnomonic coordinates from lineitem keys
# (int arithmetic + one exact division; radius ≤ ~0.99 exercises both
# interior cells and the clamped face-boundary descent)
HEX_XY_SQL = """
SELECT key, key % 20 AS face,
  CAST((key * 48271 + 7) % 14001 - 7000 AS DOUBLE) / 10000.0 AS hx,
  CAST((key * 69621 + 11) % 14001 - 7000 AS DOUBLE) / 10000.0 AS hy
FROM (SELECT l_orderkey * 8 + l_linenumber AS key FROM lineitem) base
""".strip()

HEX_RES = 7


def q_tile_hex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """From-scratch aperture-7 icosahedral hex cells (functions/hexgrid.py)
    at res 7: the trig-free (face, x, y) → id core, gated bit-exactly
    against a DuckDB oracle that unrolls the per-level nearest-of-7-children
    descent. The lat/lng trig front-end is pytest-verified
    (tests/test_hexgrid.py) — trig is not bit-reproducible across engines,
    the rest is."""
    from linear_kdtree_spark.operators.tile import hex_cells_from_face_xy

    load_views(spark, sf_dir, ("lineitem",))
    base = spark.sql(HEX_XY_SQL)
    return hex_cells_from_face_xy(base, HEX_RES).select("key", "hex_cell")


def tile_hex_oracle_sql(res: int = HEX_RES) -> str:
    """Independent DuckDB twin of the hexgrid core: identical double
    expressions for the fractional axial coords and hex-metric distances,
    integer child bookkeeping, LEAST + first-match digit selection (≡ the
    engine's strict-< scan), one CTE level per resolution step."""
    import numpy as np

    from linear_kdtree_spark.functions.hexgrid import (
        AP7,
        DIGIT_DIRS,
        INV_SQRT3,
    )

    sql = f"""WITH base AS ({HEX_XY_SQL}),
h0 AS (SELECT key,
  hx * {INV_SQRT3!r} - hy * {1.0 / 3.0!r} AS i0,
  hy * {2.0 / 3.0!r} AS j0,
  CAST(0 AS BIGINT) AS vi, CAST(0 AS BIGINT) AS vj,
  CAST({res} AS BIGINT) * {1 << 50} + (key % 20) * CAST({1 << 45} AS BIGINT) AS acc
FROM base)"""
    ak = np.eye(2, dtype=np.int64)
    for k in range(1, res + 1):
        ak = AP7 @ ak
        dists = []
        for d, (di, dj) in enumerate(DIGIT_DIRS.tolist()):
            ei = f"(pi + {di} - fi)"
            ej = f"(pj + {dj} - fj)"
            dists.append(f"{ei} * {ei} + {ei} * {ej} + {ej} * {ej} AS d{d}")
        dig_case = " ".join(f"WHEN d{d} = m THEN {d}" for d in range(7))
        vi_case = " ".join(
            f"WHEN {d} THEN pi + {int(di)}"
            for d, (di, dj) in enumerate(DIGIT_DIRS.tolist())
        )
        vj_case = " ".join(
            f"WHEN {d} THEN pj + {int(dj)}"
            for d, (di, dj) in enumerate(DIGIT_DIRS.tolist())
        )
        sql += f""",
h{k} AS (SELECT key, i0, j0,
  CASE dig {vi_case} END AS vi,
  CASE dig {vj_case} END AS vj,
  acc + dig * CAST({1 << (45 - 3 * k)} AS BIGINT) AS acc
FROM (SELECT *, CASE {dig_case} END AS dig
  FROM (SELECT *, LEAST(d0, d1, d2, d3, d4, d5, d6) AS m
    FROM (SELECT key, i0, j0, pi, pj, acc, {", ".join(dists)}
      FROM (SELECT key, i0, j0, acc,
        2 * vi - vj AS pi, vi + 3 * vj AS pj,
        {int(ak[0, 0])} * i0 + {int(ak[0, 1])} * j0 AS fi,
        {int(ak[1, 0])} * i0 + {int(ak[1, 1])} * j0 AS fj
      FROM h{k - 1}) a) b) c) e)"""
    pad = sum(7 << (45 - 3 * k) for k in range(res + 1, 16))
    sql += f"\nSELECT key, acc + {pad} AS hex_cell FROM h{res}"
    return sql


HEX_ROLLUP_RES = 4


def q_tile_hex_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hex-cell rollup as a PURE COLUMN EXPRESSION (hex_parent_col digit
    truncation) applied to the engine's res-7 cells, gated against the
    oracle computing res-4 cells DIRECTLY from coordinates — the
    cross-engine pin of the exact-nesting theorem (parent(cell(p,7),4) ≡
    cell(p,4)), which is what makes multi-resolution hex rollups a
    groupBy on a bitmask instead of a recompute."""
    from linear_kdtree_spark.operators.tile import (
        hex_cells_from_face_xy,
        hex_parent_col,
    )

    load_views(spark, sf_dir, ("lineitem",))
    base = spark.sql(HEX_XY_SQL)
    cells = hex_cells_from_face_xy(base, HEX_RES)
    return cells.select(
        "key",
        hex_parent_col(F.col("hex_cell"), HEX_ROLLUP_RES).alias("hex_parent"),
    )


def tile_hex_rollup_oracle_sql() -> str:
    sql = tile_hex_oracle_sql(res=HEX_ROLLUP_RES)
    return sql.replace("AS hex_cell FROM", "AS hex_parent FROM")


# deterministic face-local H3 hex2d coordinates from lineitem keys, in
# the res-5 scaling (sqrt(7)^5 ~ 129.6): box +-125.5 = radius <= 1.37
# res-0 units, inside the face coverage region (cf. tests/test_h3.py)
H3_XY_SQL = """
SELECT key, key % 20 AS face,
  CAST((key * 48271 + 7) % 25101 - 12550 AS DOUBLE) / 100.0 AS hx,
  CAST((key * 69621 + 11) % 25101 - 12550 AS DOUBLE) / 100.0 AS hy
FROM (SELECT l_orderkey * 8 + l_linenumber AS key FROM lineitem) base
""".strip()

H3_RES = 5


def q_tile_h3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE Uber-H3 ids at res 5: the from-scratch trig-free int core
    (functions/h3.py — hex-grid rounding, integer aperture-7
    up-aggregation, the tablegen-derived 540-entry base-cell lookup,
    rotations and pentagon leading-K adjustments, id packing), gated
    bit-exactly against a DuckDB oracle that unrolls the whole pipeline.
    The lat/lng trig front-end is pytest-pinned against the PUBLISHED
    example cells (tests/test_h3.py::test_published_example_cells) —
    trig is not bit-reproducible across engines, the rest is."""
    from linear_kdtree_spark.operators.tile import h3_cells_from_face_hex2d

    load_views(spark, sf_dir, ("lineitem",))
    base = spark.sql(H3_XY_SQL)
    return h3_cells_from_face_hex2d(base, H3_RES).select("key", "h3_cell")


def tile_h3_oracle_sql(res: int = H3_RES) -> str:
    """Independent DuckDB twin of the H3 int core: identical double
    expressions for the hex-grid rounding, exact integer lround-by-7
    up-aggregation (normalize == subtract-LEAST), the derived base-cell
    table as a VALUES join, and the rotation / pentagon digit
    adjustments as unrolled CASE stages."""
    from linear_kdtree_spark.functions.h3 import (
        CCW_DIGIT,
        CW_DIGIT,
        SIN60,
        _table,
    )
    from linear_kdtree_spark.functions.h3_tables import BASE_CELL_DATA

    def ccw(col: str) -> str:
        whens = " ".join(
            f"WHEN {d} THEN {int(CCW_DIGIT[d])}" for d in range(7)
        )
        return f"CASE {col} {whens} END"

    def cw(col: str) -> str:
        whens = " ".join(
            f"WHEN {d} THEN {int(CW_DIGIT[d])}" for d in range(7)
        )
        return f"CASE {col} {whens} END"

    def lead(cols: list[str]) -> str:
        whens = " ".join(f"WHEN {c} <> 0 THEN {c}" for c in cols)
        return f"CASE {whens} ELSE 0 END"

    digits = [f"d{r}" for r in range(1, res + 1)]

    # --- hex-grid rounding (coordijk.c::_hex2dToCoordIJK shape) -------
    sql = f"""WITH base AS ({H3_XY_SQL}),
rnd0 AS (SELECT key, face, hx, hy,
  ABS(hx) + (ABS(hy) / {SIN60!r}) / 2.0 AS x1,
  ABS(hy) / {SIN60!r} AS x2
FROM base),
rnd1 AS (SELECT *, CAST(FLOOR(x1) AS BIGINT) AS m1,
  CAST(FLOOR(x2) AS BIGINT) AS m2,
  x1 - CAST(FLOOR(x1) AS BIGINT) AS r1,
  x2 - CAST(FLOOR(x2) AS BIGINT) AS r2
FROM rnd0),
rnd2 AS (SELECT key, face, hx, hy,
  CASE
    WHEN r1 < 0.5 AND r1 < {1.0 / 3.0!r} THEN m1
    WHEN r1 < 0.5 THEN
      CASE WHEN ({1.0!r} - r1) <= r2 AND r2 < (2.0 * r1)
           THEN m1 + 1 ELSE m1 END
    WHEN r1 < {2.0 / 3.0!r} THEN
      CASE WHEN (2.0 * r1 - {1.0!r}) < r2 AND r2 < ({1.0!r} - r1)
           THEN m1 ELSE m1 + 1 END
    ELSE m1 + 1
  END AS fi,
  CASE
    WHEN r1 < 0.5 AND r1 < {1.0 / 3.0!r} THEN
      CASE WHEN r2 < ({1.0!r} + r1) / 2.0 THEN m2 ELSE m2 + 1 END
    WHEN r1 < 0.5 THEN
      CASE WHEN r2 < ({1.0!r} - r1) THEN m2 ELSE m2 + 1 END
    WHEN r1 < {2.0 / 3.0!r} THEN
      CASE WHEN r2 < ({1.0!r} - r1) THEN m2 ELSE m2 + 1 END
    ELSE CASE WHEN r2 < (r1 / 2.0) THEN m2 ELSE m2 + 1 END
  END AS fj
FROM rnd1),
rnd3 AS (SELECT key, face,
  CASE WHEN hy < 0.0 THEN gi - (2 * gj + 1) // 2 ELSE gi END AS ni,
  CASE WHEN hy < 0.0 THEN -gj ELSE gj END AS nj
FROM (SELECT key, face, hy,
  CASE WHEN hx < 0.0 THEN
    CASE WHEN fj % 2 = 0 THEN fi - 2 * (fi - fj // 2)
         ELSE fi - (2 * (fi - (fj + 1) // 2) + 1) END
  ELSE fi END AS gi,
  fj AS gj
FROM rnd2) fold),
c{res} AS (SELECT key, face,
  ni - LEAST(ni, nj, 0) AS pi,
  nj - LEAST(ni, nj, 0) AS pj,
  0 - LEAST(ni, nj, 0) AS pk
FROM rnd3)"""

    # --- aperture-7 up-aggregation with digit extraction --------------
    for r in range(res, 0, -1):
        carried = ", ".join(f"d{q}" for q in range(res, r, -1))
        carried = (carried + ", ") if carried else ""
        if r % 2 == 1:  # Class III
            up_i = "CAST(FLOOR((2 * (3 * ai - aj) + 7) / 14.0) AS BIGINT)"
            up_j = "CAST(FLOOR((2 * (ai + 2 * aj) + 7) / 14.0) AS BIGINT)"
            dn_i = "3 * ui + uj"
            dn_j = "3 * uj + uk"
            dn_k = "ui + 3 * uk"
        else:
            up_i = "CAST(FLOOR((2 * (2 * ai + aj) + 7) / 14.0) AS BIGINT)"
            up_j = "CAST(FLOOR((2 * (3 * aj - ai) + 7) / 14.0) AS BIGINT)"
            dn_i = "3 * ui + uk"
            dn_j = "ui + 3 * uj"
            dn_k = "uj + 3 * uk"
        sql += f""",
c{r - 1} AS (SELECT key, face, {carried}
  4 * (pi - ci - LEAST(pi - ci, pj - cj, pk - ck))
  + 2 * (pj - cj - LEAST(pi - ci, pj - cj, pk - ck))
  + (pk - ck - LEAST(pi - ci, pj - cj, pk - ck)) AS d{r},
  ui AS pi, uj AS pj, uk AS pk
FROM (SELECT *,
  {dn_i} - LEAST({dn_i}, {dn_j}, {dn_k}) AS ci,
  {dn_j} - LEAST({dn_i}, {dn_j}, {dn_k}) AS cj,
  {dn_k} - LEAST({dn_i}, {dn_j}, {dn_k}) AS ck
FROM (SELECT *,
  ni - LEAST(ni, nj, 0) AS ui,
  nj - LEAST(ni, nj, 0) AS uj,
  0 - LEAST(ni, nj, 0) AS uk
FROM (SELECT key, face, {carried}pi, pj, pk,
  {up_i} AS ni, {up_j} AS nj
FROM (SELECT *, pi - pk AS ai, pj - pk AS aj FROM c{r}) aa) bb) cc) dd)"""

    # --- derived base-cell lookup (tools/h3_tablegen.py) --------------
    bc_tab, rot_tab = _table()
    rows = []
    for f in range(20):
        for i in range(3):
            for j in range(3):
                for k in range(3):
                    bc = int(bc_tab[f, i, j, k])
                    rot = int(rot_tab[f, i, j, k])
                    pent = int(BASE_CELL_DATA[bc][2])
                    cw1, cw2 = BASE_CELL_DATA[bc][3]
                    rows.append(
                        f"({f},{i},{j},{k},{bc},{rot},{pent},{cw1},{cw2})"
                    )
    dcols = ", ".join(digits)
    sql += f""",
bctab (f, i, j, k, bc, rot, pent, cw1, cw2) AS (VALUES {", ".join(rows)}),
lk AS (SELECT a.key, a.face, {dcols}, t.bc, t.rot, t.pent, t.cw1, t.cw2
FROM c0 a JOIN bctab t
  ON a.face = t.f AND a.pi = t.i AND a.pj = t.j AND a.pk = t.k)"""

    # --- pentagon leading-K adjustment (before rotations) -------------
    adj_digits = ", ".join(
        f"CASE WHEN pent = 1 AND lead0 = 1 AND (face = cw1 OR face = cw2)"
        f" THEN {cw(d)} WHEN pent = 1 AND lead0 = 1"
        f" THEN {ccw(d)} ELSE {d} END AS {d}"
        for d in digits
    )
    sql += f""",
adj AS (SELECT key, face, bc, rot, pent, {adj_digits}
FROM (SELECT *, {lead(digits)} AS lead0 FROM lk) z)"""

    # --- base-cell rotations: 5 unrolled conditional ccw steps, each
    # with the pentagon deleted-K re-rotation -------------------------
    prev = "adj"
    for it in range(5):
        e_digits = ", ".join(
            f"CASE WHEN rot > {it} THEN {ccw(d)} ELSE {d} END AS {d}"
            for d in digits
        )
        f_digits = ", ".join(
            f"CASE WHEN rot > {it} AND pent = 1 AND leadk = 1"
            f" THEN {ccw(d)} ELSE {d} END AS {d}"
            for d in digits
        )
        sql += f""",
it{it} AS (SELECT key, face, bc, rot, pent, {f_digits}
FROM (SELECT *, {lead(digits)} AS leadk
FROM (SELECT key, face, bc, rot, pent, {e_digits} FROM {prev}) e) g)"""
        prev = f"it{it}"

    # --- id packing ---------------------------------------------------
    head = (1 << 59) | (res << 52)
    pad = sum(7 << (45 - 3 * r) for r in range(res + 1, 16))
    terms = " + ".join(
        f"d{r} * {1 << (45 - 3 * r)}" for r in range(1, res + 1)
    )
    sql += f"""
SELECT key,
  {head} + bc * CAST({1 << 45} AS BIGINT) + {terms} + {pad} AS h3_cell
FROM {prev}"""
    return sql


# H3-native radius join (VERDICT r4 next-#5): the hex2d radius is 4.0
# (the key-derivation LCG's lattice structure makes the minimum same-face
# spacing ~3 units, so smaller radii find zero pairs); k=6 rings
# over-cover it — measured k=5 suffices at sf0.001 AND sf0.01 (center
# spacing ~0.88 hex2d units at res 5), +1 ring of margin costs only
# refine work, never correctness.
H3_DISK_RADIUS = 4.0
H3_DISK_K = 6


def q_h3_disk_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H3-native radius join: expand each query's cell into its k-ring
    (operators/tile.h3_disk_expand — ring-BFS over the derived exact
    adjacency graph, functions/h3_geom.neighbors), broadcast-equi-join
    the disks against every point's cell id, refine by the exact hex2d
    distance on the same face. Because k rings COVER the radius, the
    result equals a plain distance join — which IS the DuckDB oracle, so
    the gate proves the inverse/adjacency surface (h3_to_faceijk,
    neighbor gluing, pentagon handling) end-to-end: one wrong neighbor
    edge drops a candidate cell and the row sets diverge. Scale shape:
    the expanded query side is tiny (1 + 3k(k+1) = 127 cells/query) and
    broadcasts; the points side never shuffles on anything but its own
    cell id."""
    from linear_kdtree_spark.operators.tile import (
        h3_cells_from_face_hex2d,
        h3_disk_expand,
    )

    load_views(spark, sf_dir, ("lineitem",))
    pts = h3_cells_from_face_hex2d(spark.sql(H3_XY_SQL), H3_RES)
    qs = pts.filter("key % 97 = 0").select(
        F.col("key").alias("q_key"),
        F.col("face").alias("q_face"),
        F.col("hx").alias("q_hx"),
        F.col("hy").alias("q_hy"),
        F.col("h3_cell").alias("q_cell"),
    )
    disks = h3_disk_expand(
        qs, cell_col="q_cell", k=H3_DISK_K, out_col="disk_cell",
        dist_col=None,
    )
    dx = F.col("q_hx") - F.col("hx")
    dy = F.col("q_hy") - F.col("hy")
    return (
        F.broadcast(disks)
        .join(pts, F.col("disk_cell") == F.col("h3_cell"))
        .filter(
            (F.col("q_face") == F.col("face"))
            & (F.col("q_key") != F.col("key"))
            & (dx * dx + dy * dy < F.lit(H3_DISK_RADIUS * H3_DISK_RADIUS))
        )
        .select("q_key", F.col("key").alias("p_key"))
    )


def h3_disk_join_oracle_sql(radius: float = H3_DISK_RADIUS) -> str:
    """Plain quadratic same-face distance join — expressible because the
    k-ring expansion is a covering optimization, not a semantics change."""
    return f"""
WITH base AS ({H3_XY_SQL}),
q AS (SELECT * FROM base WHERE key % 97 = 0)
SELECT q.key AS q_key, p.key AS p_key
FROM q JOIN base p ON q.face = p.face
WHERE q.key <> p.key
  AND (q.hx - p.hx) * (q.hx - p.hx) + (q.hy - p.hy) * (q.hy - p.hy)
      < {radius * radius!r}
""".strip()


def h3_star_vertices(nationkey: int) -> tuple[int, list[tuple[float, float]]]:
    """(face, hex2d ring) for the pip_h3fill gate: a CCW concave
    4-pointed star per nation in res-5 hex2d coordinates, centers and
    radii exact halves/integers in double, extent <= 105.5 units —
    well inside both the H3_XY_SQL point box (+-125.5) and the face
    coverage region, so no overage folding is in play."""
    cx = float((nationkey * 97) % 180) - 89.5
    cy = float((nationkey * 53) % 160) - 79.5
    a = float(10 + nationkey % 7)
    b = float(4 + nationkey % 5)
    return nationkey % 20, [
        (cx + a, cy), (cx + b / 2, cy + b / 2), (cx, cy + a),
        (cx - b / 2, cy + b / 2), (cx - a, cy), (cx - b / 2, cy - b / 2),
        (cx, cy - a), (cx + b / 2, cy - b / 2),
    ]


def q_pip_h3fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H3-native point-in-polygon via polyfill covers (operators/tile.
    pip_h3_cover): each star polygon's cover cells (from-scratch polyfill,
    functions/h3_geom.hex2d_polyfill) broadcast-equi-join the points' res-5
    cell ids; FULL cells accept outright, band cells refine with the exact
    even-odd ray cast. Equals a plain per-point ray cast (the cover is a
    decomposition, not a semantics change — tests/test_h3_cover.py), which
    IS the DuckDB oracle, so the gate pins polyfill completeness +
    full-cell soundness + the id packing end-to-end: one wrongly-FULL cell
    admits an outside point, one missing cover cell drops an inside one,
    and the row sets diverge. -> (poly_id, key)."""
    from linear_kdtree_spark.operators.tile import (
        h3_cells_from_face_hex2d,
        pip_h3_cover,
    )

    load_views(spark, sf_dir, ("lineitem", "nation"))
    pts = h3_cells_from_face_hex2d(spark.sql(H3_XY_SQL), H3_RES)
    polys = {
        int(r[0]): h3_star_vertices(int(r[0]))
        for r in spark.sql("SELECT n_nationkey FROM nation").collect()
    }
    return pip_h3_cover(pts, polys, H3_RES).select("poly_id", "key")


def pip_h3fill_oracle_sql(n_nations: int = 25) -> str:
    """Per-point even-odd ray cast in hex2d coordinates (identical IEEE
    expressions to functions/geometry.raycast_numpy), face-filtered."""
    parts = []
    for nk in range(n_nations):
        face, verts = h3_star_vertices(nk)
        m = len(verts)
        hits = []
        for i in range(m):
            x1, y1 = verts[i]
            x2, y2 = verts[(i + 1) % m]
            hits.append(
                "(CASE WHEN "
                f"(({y1!r} > p.hy) != ({y2!r} > p.hy)) AND "
                f"(p.hx < {x1!r} + (p.hy - {y1!r}) * ({x2 - x1!r}) / "
                f"({y2 - y1!r})) THEN 1 ELSE 0 END)"
            )
        parts.append(
            f"SELECT {nk} AS poly_id, p.key FROM base p "
            f"WHERE p.face = {face} AND ({' + '.join(hits)}) % 2 = 1"
        )
    return (
        f"WITH base AS ({H3_XY_SQL})\n" + "\nUNION ALL\n".join(parts)
    )


def q_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pairs via banded sign-LSH + exact cosine
    refine (threshold 0.95). Gated hash-exact against a brute-force
    cosine cross-join oracle: the injected positives are exact duplicates
    (identical vectors collide in every band → deterministic recall 1.0),
    and the refine removes every sub-threshold candidate, so engine ≡
    brute force. Probabilistic recall on near-but-not-identical pairs is
    covered by tests/test_pipeline_ops.py::test_near_dup_recall."""
    from linear_kdtree_spark.operators.similarity import cosine_near_dup_pairs

    load_views(spark, sf_dir, ("embeddings",))
    vecs = spark.table("embeddings").select("vec_id", "embedding")
    # inject exact duplicates (every 7th vector) — random gaussians alone
    # have no ≥0.95-cosine pairs, which would make the check vacuous
    dups = vecs.filter(F.pmod(F.col("vec_id"), F.lit(7)) == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
    )
    return cosine_near_dup_pairs(vecs.unionByName(dups), threshold=0.95)


SESSION_GAP_MIN = 30


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join over the events stream: every non-reference event matched
    to the latest reference event (event_id ≡ 0 mod 3) at-or-before it for
    the same user — gated against DuckDB's NATIVE ASOF JOIN (a genuinely
    independent implementation). Right side pre-deduplicated per (user,
    ts) so tie semantics are pinned in both engines."""
    from linear_kdtree_spark.operators.temporal import as_of_join

    load_views(spark, sf_dir, ("events",))
    ev = spark.table("events")
    left = ev.filter(F.col("event_id") % 3 != 0).select(
        F.col("event_id").alias("l_id"), "user_id", "ts"
    )
    right = (
        ev.filter(F.col("event_id") % 3 == 0)
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("r_id"))
    )
    out = as_of_join(left, right, by="user_id", ts_col="ts",
                     right_cols=["r_id"], out_prefix="")
    return out.select(
        "l_id", F.coalesce(F.col("r_id"), F.lit(-1)).alias("r_id")
    )


def asof_join_oracle_sql() -> str:
    return """
WITH l AS (SELECT event_id AS l_id, user_id, ts FROM events WHERE event_id % 3 != 0),
r AS (SELECT user_id, ts, MAX(event_id) AS r_id FROM events
      WHERE event_id % 3 = 0 GROUP BY user_id, ts)
SELECT l.l_id, COALESCE(r.r_id, -1) AS r_id
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
""".strip()


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions per user (Spark native session_window) →
    integer-only columns, vs the classic gaps-and-islands SQL."""
    from linear_kdtree_spark.operators.temporal import sessionize

    load_views(spark, sf_dir, ("events",))
    return sessionize(
        spark.table("events"), gap=f"{SESSION_GAP_MIN} minutes"
    )


def sessionize_oracle_sql(gap_min: int = SESSION_GAP_MIN) -> str:
    gap_us = gap_min * 60 * 1_000_000
    return f"""
WITH o AS (SELECT user_id, ts, event_id,
    LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts
  FROM events),
f AS (SELECT *, CASE WHEN pts IS NULL
        OR epoch_us(ts) - epoch_us(pts) > {gap_us} THEN 1 ELSE 0 END AS brk
  FROM o),
g AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        ROWS UNBOUNDED PRECEDING) AS sid FROM f)
SELECT user_id,
  CAST(epoch_us(MIN(ts)) AS BIGINT) AS session_start_us,
  CAST(epoch_us(MAX(ts)) AS BIGINT) + {gap_us} AS session_end_us,
  COUNT(*) AS n_events,
  MIN(event_id) AS min_event_id,
  MAX(event_id) AS max_event_id
FROM g GROUP BY user_id, sid
""".strip()


def q_extract_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex point extraction from deterministic geo-augmented pages →
    (url, ordinal, x, y)."""
    from linear_kdtree_spark.sources.points import extract_points

    load_views(spark, sf_dir, ("documents",))
    aug = spark.sql(AUG_PAGES_SQL)
    out = extract_points(aug, coord_type="double")
    return out.select("url", F.col("ordinal").cast("long").alias("ordinal"), "x", "y")


# ---------------------------------------------------------------------------
# oracle SQL builders
# ---------------------------------------------------------------------------

def _points_cte() -> str:
    return f"pts AS ({POINTS_SQL})"


def _build_cte(
    depth: int, f32: bool = False, strategy: str = "mean", min_split: int = 2
) -> str:
    """Unrolled level-synchronous build as a CTE chain ending at
    ``lvl{depth}`` with columns (key, x, y, node, code) — the independent
    DuckDB twin of operators/build.py's distributed loop. ``f32`` quantizes
    coords to FLOAT first (reference ``ord_t``, lkt.h:13). ``strategy``
    'mean' or 'median' (canonical discrete upper median sorted[n // 2],
    ties by key — FLOOR before CAST because DuckDB CAST rounds half-even
    while the engine truncates). ``min_split`` = leaf_size + 1 (a node only
    splits while it holds ≥ min_split points). The ``code`` column
    accumulates the reference tree-path code: bit d = 1 ⇔ went left at
    depth d, LSB-first (lkt.cpp:149-150)."""
    src = (
        "SELECT key, CAST(x AS FLOAT) AS x, CAST(y AS FLOAT) AS y FROM pts"
        if f32
        else "SELECT key, x, y FROM pts"
    )
    sql = (
        f"WITH {_points_cte()},\n"
        f"src AS ({src}),\n"
        "lvl0 AS (SELECT key, x, y, CAST(0 AS BIGINT) AS node,"
        " CAST(0 AS BIGINT) AS code FROM src)"
    )
    for d in range(depth):
        ax = "x" if d % 2 == 0 else "y"
        lo = (1 << d) - 1
        split = (
            f"s.snode IS NOT NULL AND s.c >= {min_split}"
            " AND s.sv > s.mn AND s.sv <= s.mx"
        )
        if strategy == "mean":
            # f32 builds quantize the mean split to FLOAT (ord_t, lkt.h:13)
            # exactly like the engine (kernel.split_value / _split_stats).
            # The double path compares raw AVG(double) across engines whose
            # SUMMATION ORDER differs (Spark partial aggs vs DuckDB serial)
            # — bit-equal only while no point sits within ~1 ulp of a mean
            # split, which holds for the float32-derived fixture coords
            # (verified every round); a point ON the boundary would flip
            # sides in one engine only. The f32 gate pins the
            # quantized-split contract that is robust to this by design.
            avg = (
                f"CAST(CAST(AVG({ax}) AS FLOAT) AS DOUBLE)"
                if f32
                else f"AVG({ax})"
            )
            stats = f"""
s{d} AS (SELECT node AS snode, {avg} AS sv, COUNT(*) AS c,
                MIN({ax}) AS mn, MAX({ax}) AS mx
         FROM lvl{d} WHERE node >= {lo} GROUP BY node)"""
        else:
            stats = f"""
s{d} AS (SELECT node AS snode, CAST(v AS DOUBLE) AS sv, c, mn, mx FROM (
    SELECT node, {ax} AS v, key,
           ROW_NUMBER() OVER (PARTITION BY node ORDER BY {ax}, key) AS rn,
           COUNT(*) OVER (PARTITION BY node) AS c,
           MIN({ax}) OVER (PARTITION BY node) AS mn,
           MAX({ax}) OVER (PARTITION BY node) AS mx
    FROM lvl{d} WHERE node >= {lo})
  WHERE rn = CAST(FLOOR(c / 2.0) AS BIGINT) + 1)"""
        sql += "," + stats + f""",
lvl{d + 1} AS (SELECT p.key, p.x, p.y,
  CASE WHEN {split}
       THEN CASE WHEN p.{ax} < s.sv THEN p.node * 2 + 1 ELSE p.node * 2 + 2 END
       ELSE p.node END AS node,
  CASE WHEN {split} AND p.{ax} < s.sv
       THEN p.code + {1 << d} ELSE p.code END AS code
  FROM lvl{d} p LEFT JOIN s{d} s ON p.node = s.snode)"""
    return sql


def _node_depth_case(depth: int, col: str = "node") -> str:
    """SQL depth of a heap node id (≤ ``depth``): piecewise on level lows."""
    branches = " ".join(
        f"WHEN {col} >= {(1 << d) - 1} THEN {d}" for d in range(depth, 0, -1)
    )
    return f"(CASE {branches} ELSE 0 END)"


def build_nodes_oracle_sql(
    depth: int = BUILD_DEPTH,
    f32: bool = False,
    strategy: str = "mean",
    min_split: int = 2,
) -> str:
    return (
        _build_cte(depth, f32, strategy, min_split)
        + f"\nSELECT key, node FROM lvl{depth}"
    )


def build_codes_oracle_sql(depth: int = BUILD_DEPTH) -> str:
    """(key, code, sort_key): sort_key = (node+1)·2^(depth−L) − 2^depth —
    the MSB-first 0=left monotone transform (SURVEY.md §1.3); exact in
    doubles for these tiny powers."""
    dep = _node_depth_case(depth)
    sk = (
        f"CAST((node + 1) * CAST(POWER(2, {depth} - {dep}) AS BIGINT)"
        f" - {1 << depth} AS BIGINT)"
    )
    return (
        _build_cte(depth)
        + f"\nSELECT key, code, {sk} AS sort_key FROM lvl{depth}"
    )


def tile_lkt_oracle_sql(
    build_depth: int = TILE_LKT_BUILD_DEPTH, tile_depth: int = TILE_LKT_DEPTH
) -> str:
    """Ancestor-at-depth tile of each point's heap node: strip (L − d)
    levels via (node+1) >> (L−d), nodes at depth ≤ d are their own tile."""
    dep = _node_depth_case(build_depth)
    branches = " ".join(
        f"WHEN {dep} = {level} THEN "
        f"CAST(FLOOR((node + 1) / {float(1 << (level - tile_depth))!r}) AS BIGINT) - 1"
        for level in range(build_depth, tile_depth, -1)
    )
    tile = f"(CASE {branches} ELSE node END)"
    return (
        _build_cte(build_depth)
        + f"""
, tiles AS (SELECT key, {tile} AS tile FROM lvl{build_depth})
SELECT tile, COUNT(*) AS n_points FROM tiles GROUP BY tile"""
    )


def tile_s2_oracle_sql() -> str:
    """Independent DuckDB twin of the S2 core: quadratic ST, clamped
    2^30-grid ij, then the 30-level Hilbert walk unrolled as a CTE chain
    carrying (pos, orientation) state — tables from the published S2
    construction (functions/s2.py cites it). Every float op is sqrt /
    power-of-two scaling / floor: correctly rounded in both engines."""
    from linear_kdtree_spark.functions.s2 import (
        _IJ_TO_POS,
        _POS_TO_ORIENTATION,
        MAX_LEVEL,
    )

    n = 1 << MAX_LEVEL
    st = (
        "CASE WHEN {w} >= 0 THEN 0.5 * SQRT(1 + 3 * {w}) "
        "ELSE 1 - 0.5 * SQRT(1 - 3 * {w}) END"
    )
    ij = (
        f"LEAST(GREATEST(CAST(FLOOR(({{s}}) * {float(n)!r}) AS BIGINT), 0), {n - 1})"
    )
    sql = f"""WITH base AS ({S2_UV_SQL}),
st AS (SELECT key, face, {st.format(w="u")} AS s, {st.format(w="v")} AS t FROM base),
h0 AS (SELECT key, face,
  {ij.format(s="s")} AS i, {ij.format(s="t")} AS j,
  CAST(0 AS BIGINT) AS pos, face % 2 AS orient FROM st)"""
    for step, k in enumerate(range(MAX_LEVEL - 1, -1, -1)):
        p_branches = " ".join(
            f"WHEN {o * 4 + b} THEN {int(_IJ_TO_POS[o, b])}"
            for o in range(4)
            for b in range(4)
        )
        o_branches = " ".join(
            f"WHEN {p} THEN xor(orient, {int(_POS_TO_ORIENTATION[p])})"
            for p in range(4)
            if int(_POS_TO_ORIENTATION[p]) != 0
        )
        sql += f""",
h{step + 1} AS (SELECT key, face, i, j,
  pos * 4 + p AS pos, CASE p {o_branches} ELSE orient END AS orient
  FROM (SELECT *, CASE orient * 4 + ((i // {1 << k}) % 2) * 2 + ((j // {1 << k}) % 2)
                  {p_branches} END AS p FROM h{step}))"""
    sql += f"""
SELECT key, CAST(CASE WHEN idv >= 9223372036854775808 THEN idv - 18446744073709551616
                      ELSE idv END AS BIGINT) AS s2_cell
FROM (SELECT key, CAST(face AS HUGEINT) * {1 << 61} + CAST(pos AS HUGEINT) * 2 + 1 AS idv
      FROM h{MAX_LEVEL})"""
    return sql


def embed_neardup_oracle_sql(threshold: float = 0.95) -> str:
    """Brute-force cosine cross-join over the same dup-injected table —
    tractable at gate scale; independent of the LSH bucketing."""
    return f"""
WITH d AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings
  WHERE vec_id % 7 = 0
)
SELECT a.vec_id AS a_id, b.vec_id AS b_id
FROM d a JOIN d b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.embedding, b.embedding) >= {threshold!r}
""".strip()


def knn_oracle_sql(k: int = KNN_K, queries_sql: str = KNN_QUERIES_SQL) -> str:
    return f"""
WITH {_points_cte()},
qs AS ({queries_sql}),
d AS (SELECT q.query_id, p.key,
        (p.x - q.qx) * (p.x - q.qx) + (p.y - q.qy) * (p.y - q.qy) AS d2
      FROM qs q CROSS JOIN pts p),
r AS (SELECT query_id, key,
        CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d2, key) AS INTEGER) AS rank
      FROM d)
SELECT query_id, key, rank FROM r WHERE rank <= {k}
""".strip()


def pip_rect_oracle_sql() -> str:
    return f"""
WITH {_points_cte()},
rects AS ({RECTS_SQL})
SELECT r.poly_id, p.key
FROM rects r CROSS JOIN pts p
WHERE p.x > r.cx - r.hw AND p.x < r.cx + r.hw
  AND p.y > r.cy - r.hh AND p.y < r.cy + r.hh
""".strip()


def tile_oracle_sql(depth: int = TILE_DEPTH) -> str:
    from linear_kdtree_spark.functions.morton import morton_tile_sql

    tile = morton_tile_sql("x", "y", depth)
    return (
        f"WITH {_points_cte()}\n"
        f"SELECT {tile} AS tile, COUNT(*) AS n_points FROM pts GROUP BY 1"
    )


def raster_oracle_sql(depth: int = RASTER_DEPTH) -> str:
    from linear_kdtree_spark.functions.morton import WORLD, morton_tile_sql

    xmin_b, ymin_b, xmax_b, ymax_b = WORLD
    wx = (xmax_b - xmin_b) / (1 << depth)
    wy = (ymax_b - ymin_b) / (1 << depth)
    tile = morton_tile_sql("x", "y", depth)
    ix_terms = " + ".join(
        f"(CAST(FLOOR(tile / {float(1 << (2 * i))!r}) AS BIGINT) % 2) * {1 << i}"
        for i in range(depth)
    )
    iy_terms = " + ".join(
        f"(CAST(FLOOR(tile / {float(1 << (2 * i + 1))!r}) AS BIGINT) % 2) * {1 << i}"
        for i in range(depth)
    )
    return f"""
WITH {_points_cte()},
ras AS (SELECT {tile} AS tile, COUNT(*) AS n_points FROM pts GROUP BY 1),
cells AS (SELECT tile, n_points, ({ix_terms}) AS ix, ({iy_terms}) AS iy FROM ras)
SELECT tile, n_points,
  {xmin_b!r} + ix * {wx!r} AS xmin,
  {ymin_b!r} + iy * {wy!r} AS ymin,
  {xmin_b!r} + ix * {wx!r} + {wx!r} AS xmax,
  {ymin_b!r} + iy * {wy!r} + {wy!r} AS ymax
FROM cells
""".strip()


def raster_pyramid_oracle_sql(max_depth: int = RASTER_DEPTH) -> str:
    """Independent formulation: each level grouped DIRECTLY from the
    points at its own resolution (the engine rolls up level-from-level;
    equality holds because halving the grid ordinate is exactly the
    half-resolution floor and the Z-order parent is tile >> 2)."""
    from linear_kdtree_spark.functions.morton import morton_tile_sql

    parts = []
    for d in range(max_depth, -1, -1):
        tile = (
            morton_tile_sql("x", "y", d) if d > 0 else "CAST(0 AS BIGINT)"
        )
        parts.append(
            f"SELECT CAST({d} AS INTEGER) AS depth, {tile} AS tile,"
            " COUNT(*) AS n_points FROM pts GROUP BY 1, 2"
        )
    return f"WITH {_points_cte()}\n" + "\nUNION ALL\n".join(parts)


def radius_oracle_sql(radius: float = RADIUS) -> str:
    return f"""
WITH {_points_cte()},
sub AS (SELECT * FROM pts WHERE key % 31 < 2)
SELECT a.key AS a_key, b.key AS b_key
FROM sub a CROSS JOIN sub b
WHERE a.key < b.key
  AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) < {radius * radius!r}
""".strip()


def extract_geo_oracle_sql() -> str:
    # ordinal materialized by unioning fixed match positions (≤ 2 mentions
    # by construction) — portable across both dialects is not required for
    # the oracle (DuckDB-only), but positions must match posexplode order
    return f"""
WITH aug AS ({AUG_PAGES_SQL}),
m AS (SELECT url, regexp_extract_all(text, '{GEO_RE}', 0) AS ms FROM aug)
SELECT url, CAST(0 AS BIGINT) AS ordinal,
  CAST(regexp_extract(ms[1], '{GEO_RE}', 2) AS DOUBLE) AS x,
  CAST(regexp_extract(ms[1], '{GEO_RE}', 1) AS DOUBLE) AS y
FROM m WHERE len(ms) >= 1
UNION ALL
SELECT url, CAST(1 AS BIGINT) AS ordinal,
  CAST(regexp_extract(ms[2], '{GEO_RE}', 2) AS DOUBLE) AS x,
  CAST(regexp_extract(ms[2], '{GEO_RE}', 1) AS DOUBLE) AS y
FROM m WHERE len(ms) >= 2
""".strip()


# ---------------------------------------------------------------------------
# contract surface
# ---------------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from linear_kdtree_spark.entry_pipeline import pipeline_queries

    out = {
        "points_derivation": q_points,
        "lkt_build_nodes": q_lkt_build_nodes,
        "lkt_build_nodes_f32": q_lkt_build_nodes_f32,
        "lkt_build_nodes_median": q_lkt_build_nodes_median,
        "lkt_build_nodes_hybrid": q_lkt_build_nodes_hybrid,
        "lkt_codes": q_lkt_codes,
        "knn": q_knn,
        "knn_batch": q_knn_batch,
        "pip_rect": q_pip_rect,
        "pip_convex": q_pip_convex,
        "pip_concave": q_pip_concave,
        "tile_morton": q_tile_morton,
        "raster_density": q_raster_density,
        "raster_pyramid": q_raster_pyramid,
        "radius_pairs": q_radius_pairs,
        "extract_geo": q_extract_geo,
        "asof_join": q_asof_join,
        "sessionize": q_sessionize,
        "tile_lkt": q_tile_lkt,
        "tile_s2": q_tile_s2,
        "tile_hex": q_tile_hex,
        "tile_hex_rollup": q_tile_hex_rollup,
        "tile_h3": q_tile_h3,
        "h3_disk_join": q_h3_disk_join,
        "pip_h3fill": q_pip_h3fill,
        "embed_neardup": q_embed_neardup,
    }
    out.update(pipeline_queries())
    return out


def oracle_sql() -> dict[str, str]:
    from linear_kdtree_spark.entry_pipeline import pipeline_oracles

    out = {
        "points_derivation": POINTS_SQL,
        "lkt_build_nodes": build_nodes_oracle_sql(),
        "lkt_build_nodes_f32": build_nodes_oracle_sql(f32=True),
        "lkt_build_nodes_median": build_nodes_oracle_sql(strategy="median"),
        "lkt_build_nodes_hybrid": build_nodes_oracle_sql(
            depth=HYBRID_DEPTH, min_split=HYBRID_LEAF + 1
        ),
        "lkt_codes": build_codes_oracle_sql(),
        "knn": knn_oracle_sql(),
        "knn_batch": knn_oracle_sql(queries_sql=KNN_BATCH_QUERIES_SQL),
        "pip_rect": pip_rect_oracle_sql(),
        "pip_convex": pip_convex_oracle_sql(),
        "pip_concave": pip_concave_oracle_sql(),
        "tile_morton": tile_oracle_sql(),
        "raster_density": raster_oracle_sql(),
        "raster_pyramid": raster_pyramid_oracle_sql(),
        "radius_pairs": radius_oracle_sql(),
        "extract_geo": extract_geo_oracle_sql(),
        "asof_join": asof_join_oracle_sql(),
        "sessionize": sessionize_oracle_sql(),
        "tile_lkt": tile_lkt_oracle_sql(),
        "tile_s2": tile_s2_oracle_sql(),
        "tile_hex": tile_hex_oracle_sql(),
        "tile_hex_rollup": tile_hex_rollup_oracle_sql(),
        "tile_h3": tile_h3_oracle_sql(),
        "h3_disk_join": h3_disk_join_oracle_sql(),
        "pip_h3fill": pip_h3fill_oracle_sql(),
        "embed_neardup": embed_neardup_oracle_sql(),
    }
    out.update(pipeline_oracles())
    return out


def entry(spark: SparkSession, sf_dir: str | None = None) -> DataFrame:
    """Flagship: skewed web-style points → lkt build → exact kNN batch.
    ``sf_dir`` defaults to ``$SPARK_GRAFT_SF_DIR_ENTRY`` or the driver's
    smallest fixture — a parameter/env, not a hardcoded path, so the
    flagship runs outside this sandbox (review r5)."""
    import os

    sf_dir = sf_dir or os.environ.get(
        "SPARK_GRAFT_SF_DIR_ENTRY", "/root/testdata/sf0.001"
    )
    return q_knn(spark, sf_dir)
