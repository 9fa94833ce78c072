"""Tile assignment (SURVEY.md §2.3-Q3) — H3/S2-style cell ids, two flavors:

- **lkt-native**: the heap ancestor at a fixed tree depth d (= the d-bit
  path prefix of the point's sort_key) — the index's own data-adaptive
  analogue of an H3/S2 cell. Pure column expression over the ``node``
  column the build already carries.
- **fixed-grid Z-order**: the textbook interleaved Morton cell at depth d
  over a fixed bounding box — data-independent, portable (also emitted as
  ANSI SQL for the DuckDB oracle), and the join key for two-sided spatial
  joins.
- **true H3 / S2 / hex**: real Uber-H3 ids (from-scratch, functions/h3.py,
  published-vector-pinned), true S2 ids (functions/s2.py), and the
  engine's own exact-nesting aperture-7 hex index (functions/hexgrid.py)
  — all vectorized numpy per Arrow batch, no per-row Python.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from linear_kdtree_spark.functions.morton import (
    WORLD,
    ancestor_at_depth,
    grid_cell_col,
    morton_tile_col,
    sql_name,
)
from linear_kdtree_spark.operators.build import LktIndex
from linear_kdtree_spark.session import local_frame


def assign_tiles_lkt(index: LktIndex, depth: int) -> DataFrame:
    """(key, tile) — tile = heap id of the point's ancestor at ``depth``
    (the point's own leaf if its path is shorter: that whole subtree is a
    single tile)."""
    return index.points.select(
        "key",
        ancestor_at_depth(F.col("node"), F.col("path_len"), depth).alias("tile"),
    )


def assign_tiles_morton(
    df: DataFrame,
    depth: int,
    bounds: tuple[float, float, float, float] = WORLD,
    x_col: str = "x",
    y_col: str = "y",
    out_col: str = "tile",
) -> DataFrame:
    """``df`` with ``out_col`` set to the fixed-grid Z-order tile at
    ``depth`` (:func:`morton_tile_col`). One select computes the two cell
    ordinates as lateral aliases and interleaves them, so each is computed
    once, not once per bit term; a second select drops them."""
    xmin, ymin, xmax, ymax = bounds
    cx, cy, tile = "__lkt_cx", "__lkt_cy", "__lkt_tile"
    tiled = df.select(
        "*",
        grid_cell_col(x_col, xmin, xmax, depth).alias(cx),
        grid_cell_col(y_col, ymin, ymax, depth).alias(cy),
        morton_tile_col(cx, cy, depth).alias(tile),
    )
    named = f"{tile} AS {sql_name(out_col)}"
    out = [named if c == out_col else sql_name(c) for c in df.columns]
    if out_col not in df.columns:
        out.append(named)
    return tiled.selectExpr(*out)


def assign_tiles_s2(df: DataFrame, level: int,
                    lat_col: str = "y", lon_col: str = "x",
                    out_col: str = "s2_cell") -> DataFrame:
    """True S2 cell ids (interop) via the from-scratch vectorized
    implementation in functions/s2.py — one numpy pass per Arrow batch, no
    per-row Python. Ids are signed-int64 views of the canonical uint64 S2
    ids (faces 4-5 come out negative, as in BigQuery)."""
    from linear_kdtree_spark.functions.s2 import latlng_to_cell_id

    @F.pandas_udf("long")
    def s2_cell(lat: pd.Series, lon: pd.Series) -> pd.Series:
        return pd.Series(
            latlng_to_cell_id(
                lat.to_numpy(dtype="float64"),
                lon.to_numpy(dtype="float64"),
                level,
            )
        )

    return df.withColumn(out_col, s2_cell(F.col(lat_col), F.col(lon_col)))


def s2_cells_from_face_uv(
    df: DataFrame,
    level: int,
    face_col: str = "face",
    u_col: str = "u",
    v_col: str = "v",
    out_col: str = "s2_cell",
) -> DataFrame:
    """S2 ids from pre-projected cube-face (face, u, v) coordinates — the
    trig-free core pinned bit-exactly by the driver gate (every op is
    IEEE-exact or correctly rounded; see functions/s2.py)."""
    import numpy as np

    from linear_kdtree_spark.functions.s2 import face_uv_to_cell_id

    @F.pandas_udf("long")
    def cell(face: pd.Series, u: pd.Series, v: pd.Series) -> pd.Series:
        return pd.Series(
            face_uv_to_cell_id(
                face.to_numpy(dtype=np.int64),
                u.to_numpy(dtype=np.float64),
                v.to_numpy(dtype=np.float64),
                level,
            )
        )

    return df.withColumn(
        out_col, cell(F.col(face_col), F.col(u_col), F.col(v_col))
    )


def assign_tiles_hex(df: DataFrame, res: int,
                     lat_col: str = "y", lon_col: str = "x",
                     out_col: str = "hex_cell") -> DataFrame:
    """Aperture-7 icosahedral hexagonal cell ids — the engine's own
    fully-real H3-class index (functions/hexgrid.py: gnomonic projection +
    hex IJK + aperture-7 nearest-child hierarchy with EXACT nesting).
    Vectorized numpy per Arrow batch, no per-row Python. Rollups to any
    coarser res are pure id-prefix truncation (``hex_parent_col``)."""
    import numpy as np

    from linear_kdtree_spark.functions.hexgrid import (
        hex_cell_from_face_xy,
        latlng_to_face_xy,
    )

    @F.pandas_udf("long")
    def cell(lat: pd.Series, lon: pd.Series) -> pd.Series:
        face, x, y = latlng_to_face_xy(
            lat.to_numpy(dtype=np.float64), lon.to_numpy(dtype=np.float64)
        )
        return pd.Series(hex_cell_from_face_xy(face, x, y, res))

    return df.withColumn(out_col, cell(F.col(lat_col), F.col(lon_col)))


def hex_cells_from_face_xy(
    df: DataFrame,
    res: int,
    face_col: str = "face",
    x_col: str = "hx",
    y_col: str = "hy",
    out_col: str = "hex_cell",
) -> DataFrame:
    """Hex ids from pre-projected (face, gnomonic x, y) — the trig-free
    core pinned bit-exactly by the driver gate (int arithmetic plus
    identically-written double mul/add/compare; functions/hexgrid.py)."""
    import numpy as np

    from linear_kdtree_spark.functions.hexgrid import hex_cell_from_face_xy

    @F.pandas_udf("long")
    def cell(face: pd.Series, x: pd.Series, y: pd.Series) -> pd.Series:
        return pd.Series(
            hex_cell_from_face_xy(
                face.to_numpy(dtype=np.int64),
                x.to_numpy(dtype=np.float64),
                y.to_numpy(dtype=np.float64),
                res,
            )
        )

    return df.withColumn(out_col, cell(F.col(face_col), F.col(x_col), F.col(y_col)))


def hex_parent_col(cell: F.Column, parent_res: int) -> F.Column:
    """Parent hex id as a pure column expression: keep res/face bits plus
    the first ``parent_res`` digits, set the rest to 7 (the same prefix
    truncation functions/hexgrid.hex_parent does — exact nesting makes
    multi-resolution rollup a groupBy on this expression, no recompute)."""
    from linear_kdtree_spark.functions.hexgrid import MAX_RES

    keep_digits = sum(0x7 << (45 - 3 * k) for k in range(1, parent_res + 1))
    pad = sum(7 << (45 - 3 * k) for k in range(parent_res + 1, MAX_RES + 1))
    return (
        (F.lit(parent_res).cast("long") * F.lit(1 << 50))
        + cell.bitwiseAND(F.lit(0x1F << 45))
        + cell.bitwiseAND(F.lit(keep_digits))
        + F.lit(pad)
    ).cast("long")


def h3_parent_col(cell: F.Column, parent_res: int) -> F.Column:
    """H3 cellToParent as a PURE COLUMN EXPRESSION: swap the resolution
    nibble (bits 52-55) and set digits below ``parent_res`` to 7 — the
    published H3 truncation semantics (functions/h3.cell_to_parent's JVM
    twin), so multi-resolution rollups are a groupBy on a bitmask with
    no recompute and no Python. NB: unlike the engine's own hex index
    (exact nesting), H3 children straddle parent boundaries, so
    ``parent(cell(p, r)) == cell(p, parent_res)`` holds for interior
    points only (~94% at r=15→4; tests/test_h3.py).

    Cells COARSER than ``parent_res`` yield NULL (truncating upward is
    meaningless; the numpy twin cell_to_parent raises — review r5: the
    unvalidated form stamped a res nibble onto unchanged digits, emitting
    malformed ids that groupBy'd into garbage buckets with no error)."""
    res_mask = 0xF << 52
    pad = sum(7 << (45 - 3 * r) for r in range(parent_res + 1, 16))
    cell_res = F.shiftright(cell, 52).bitwiseAND(F.lit(0xF))
    parent = (
        cell.bitwiseAND(F.lit(~res_mask))
        .bitwiseOR(F.lit(parent_res << 52))
        .bitwiseOR(F.lit(pad))
        .cast("long")
    )
    return F.when(cell_res >= parent_res, parent)


def assign_tiles_h3(df: DataFrame, resolution: int,
                    lat_col: str = "y", lon_col: str = "x",
                    out_col: str = "h3_cell",
                    as_string: bool = False) -> DataFrame:
    """TRUE Uber-H3 cell ids via the from-scratch vectorized
    implementation in functions/h3.py (published spec constants vendored
    with citation; the faceIjkBaseCells lookup derived geometrically by
    tools/h3_tablegen.py; pinned against published example cells in
    tests/test_h3.py). One numpy pass per Arrow batch, no per-row
    Python. Ids are the canonical int64 H3 indexes (always positive,
    < 2^60); ``as_string=True`` appends the 15-hex-digit string form.

    The engine's own hex index with EXACT nesting (cheaper rollups) is
    :func:`assign_tiles_hex`; reference lkt.h:34-45 has no tiling
    surface at all."""
    import numpy as np

    from linear_kdtree_spark.functions.h3 import latlng_to_cell

    @F.pandas_udf("long")
    def h3_cell(lat: pd.Series, lon: pd.Series) -> pd.Series:
        return pd.Series(
            latlng_to_cell(
                lat.to_numpy(dtype=np.float64),
                lon.to_numpy(dtype=np.float64),
                resolution,
                on_invalid="null",  # bad row → H3_NULL, not a dead job
            )
        )

    out = df.withColumn(out_col, h3_cell(F.col(lat_col), F.col(lon_col)))
    if as_string:
        out = out.withColumn(
            out_col + "_str", F.lower(F.hex(F.col(out_col)))
        )
    return out


def h3_cells_from_face_hex2d(
    df: DataFrame,
    res: int,
    face_col: str = "face",
    x_col: str = "hx",
    y_col: str = "hy",
    out_col: str = "h3_cell",
) -> DataFrame:
    """H3 ids from pre-projected (face, hex2d x, y at ``res`` scaling) —
    the trig-free core pinned bit-exactly by the ``tile_h3`` driver gate
    (hex rounding, integer aperture-7 up-aggregation, derived base-cell
    lookup, rotations, pentagon adjustments; functions/h3.py)."""
    import numpy as np

    from linear_kdtree_spark.functions.h3 import face_hex2d_to_cell

    @F.pandas_udf("long")
    def cell(face: pd.Series, x: pd.Series, y: pd.Series) -> pd.Series:
        return pd.Series(
            face_hex2d_to_cell(
                face.to_numpy(dtype=np.int64),
                x.to_numpy(dtype=np.float64),
                y.to_numpy(dtype=np.float64),
                res,
                on_invalid="null",  # bad row → H3_NULL, not a dead job
            )
        )

    return df.withColumn(
        out_col, cell(F.col(face_col), F.col(x_col), F.col(y_col))
    )


def h3_disk_expand(
    df: DataFrame,
    cell_col: str = "h3_cell",
    k: int = 1,
    out_col: str = "disk_cell",
    dist_col: str | None = "grid_distance",
) -> DataFrame:
    """Explode each row into its H3 k-ring: one output row per (row,
    disk cell) pair with the grid distance — the expansion side of an
    H3-NATIVE radius join (expand the query side to ``k`` rings, then
    equi-join on the cell id; candidate count is bounded by
    1 + 3k(k+1) per query, never a cross join).

    Plan shape: one ``mapInPandas`` pass; per Arrow batch the k-ring BFS
    (functions/h3_geom.grid_disk_distances — exact adjacency,
    pentagon-safe) runs
    once per DISTINCT cell in the batch and is broadcast back to rows,
    so the per-row cost is a dict lookup. At 100 TB the distinct-cell
    count per task is bounded by the tiling, not the row count."""
    import numpy as np

    from linear_kdtree_spark.functions.h3_geom import grid_disk_distances

    schema = T.StructType(
        df.schema.fields
        + [T.StructField(out_col, T.LongType(), False)]
        + (
            [T.StructField(dist_col, T.IntegerType(), False)]
            if dist_col
            else []
        )
    )

    def expand(batches):
        memo: dict[int, list[tuple[int, int]]] = {}
        for pdf in batches:
            # NULL cells arrive as NaN and would crash the int64 cast,
            # killing the whole task (review r5) — treat them like the
            # H3_NULL sentinel 0: the row expands to nothing (callers that
            # must keep such rows filter/flag them before expanding)
            raw = pdf[cell_col]
            cells = raw.fillna(0).to_numpy(dtype=np.int64)
            for c in np.unique(cells):
                c = int(c)
                if c in memo or c == 0:
                    continue
                memo[c] = grid_disk_distances(c, k)
            reps = np.array(
                [len(memo.get(int(c), ())) for c in cells], dtype=np.int64
            )
            out = pdf.loc[pdf.index.repeat(reps)].reset_index(drop=True)
            flat = [pair for c in cells for pair in memo.get(int(c), ())]
            out[out_col] = np.array(
                [p[0] for p in flat], dtype=np.int64
            )
            if dist_col:
                out[dist_col] = np.array(
                    [p[1] for p in flat], dtype=np.int32
                )
            yield out

    return df.mapInPandas(expand, schema)


def h3_boundary(
    df: DataFrame,
    cell_col: str = "h3_cell",
    out_col: str = "boundary",
) -> DataFrame:
    """Cell boundary vertices as array<array<double>> [[lat, lng], ...]
    (raster->vector on true H3 cells; functions/h3_geom.cell_to_boundary
    — exact vertex positions, 6 per hexagon / 5 per pentagon, Class-III
    fold-distortion points documented out of scope). Memoized per
    distinct cell per Arrow batch like :func:`h3_disk_expand`."""
    import numpy as np

    from linear_kdtree_spark.functions.h3_geom import cell_to_boundary

    @F.pandas_udf("array<array<double>>")
    def bnd(cells: pd.Series) -> pd.Series:
        memo: dict[int, list] = {}
        out = []
        for c in cells.to_numpy(dtype=np.int64):
            c = int(c)
            if c not in memo:
                memo[c] = (
                    cell_to_boundary(c).tolist() if c else []
                )
            out.append(memo[c])
        return pd.Series(out)

    return df.withColumn(out_col, bnd(F.col(cell_col)))


def pip_h3_cover(
    pts: DataFrame,
    polygons: dict[int, tuple[int, list[tuple[float, float]]]],
    res: int,
    x_col: str = "hx",
    y_col: str = "hy",
    cell_col: str = "h3_cell",
    face_col: str = "face",
) -> DataFrame:
    """EXACT point-in-polygon, H3-native: a driver-computed polyfill
    cover (functions/h3_geom.hex2d_polyfill) classifies every cover cell
    FULL (entirely inside — its points are accepted outright, no
    per-point maths) or BAND (boundary — its points get the polygon
    refine, ``pip.refine``). Points outside the cover never join at all.

    ``polygons``: poly_id → (face, hex2d ring at ``res`` scaling). The
    result is exactly the brute ray cast of every point against its
    polygons (tests/test_h3_cover.py proves the decomposition; the
    ``pip_h3fill`` driver gate pins it cross-engine), but the plan is a
    BROADCAST equi-join on the cell id: per point, candidate work is
    O(polygons whose cover contains its cell), not O(|polygons|), and
    the full/band split removes the refine from every interior point —
    at 100 TB the refine touches only an O(perimeter/area) fraction.

    The join requires FACE equality as well as cell equality: H3 ids are
    canonical across projection frames, so near the icosahedron edges a
    point in ANOTHER face's frame can fold (overage) onto the same cell
    id as an in-plane cover cell — same id, different in-plane location
    (measured: sf0.01 key 101054, face 14, folded onto a face-9 cover
    cell). Within ONE face frame the id ↔ lattice-position map is
    injective (the gnomonic projection is injective per hemisphere), so
    cell id + face identifies the in-plane cell exactly.

    The cover is tiny (≤ cells-per-polygon × |polygons|) and computed
    once on the driver with the SAME hex-grid rounding and id packing
    the per-point path uses (functions/h3.face_hex2d_to_cell), so cover
    and point cell assignment cannot disagree."""
    import numpy as np

    from linear_kdtree_spark.functions.h3 import face_hex2d_to_cell
    from linear_kdtree_spark.functions.h3_geom import (
        _ax_to_hex2d,
        hex2d_polyfill,
    )
    from linear_kdtree_spark.operators.pip import Polygon, refine

    spark = pts.sparkSession
    full, band = [], {}
    for pid, (face, ring) in polygons.items():
        a, b, _cin, is_full = hex2d_polyfill(ring)
        cx, cy = _ax_to_hex2d(a, b)
        cells = face_hex2d_to_cell(
            np.full(len(cx), face, dtype=np.int64), cx, cy, res,
            on_invalid="null",
        )
        ok = cells != 0
        # overage near a face edge can fold two lattice positions onto
        # one id: dedupe per (poly, cell), AND-ing the full flags — a
        # fold can only demote FULL to BAND (extra refine, never a wrong
        # accept)
        merged: dict[int, bool] = {}
        for c, f in zip(cells[ok].tolist(), is_full[ok].tolist()):
            merged[c] = f and merged.get(c, True)
        full += [(int(pid), int(face), c) for c, f in merged.items() if f]
        band[int(pid)] = [(int(face), c) for c, f in merged.items() if not f]

    def join(rows, schema):
        cover = F.broadcast(local_frame(spark, rows, schema))
        return pts.join(cover, (pts[cell_col] == F.col("_cover_cell"))
                        & (pts[face_col] == F.col("_poly_face")))

    schema = "_poly_face long, _cover_cell long"
    cols = [*pts.columns, "poly_id"]
    band_part = refine(
        [Polygon(int(pid), ring) for pid, (_f, ring) in polygons.items()],
        lambda p: band[p.poly_id], schema, join, cols, x_col, y_col,
    )
    # a union, not one OR filter: full cells skip the refine entirely
    return (join(full, f"poly_id long, {schema}").select(*cols)
            .union(band_part).withColumn("poly_id", F.col("poly_id").cast("int")))
