"""Spatial joins (SURVEY.md §2.3-Q4): point × polygon-set and point × point
radius joins, expressed as tile equi-joins + exact refinement.

Scale notes (north_rule: partitioning / shuffle / skew handled explicitly):
- the tile equi-join is a plain shuffle hash/sort-merge join on the tile id
  — Catalyst + AQE pick the physical join and split skewed partitions;
- when one side is small and of known size it is broadcast and the
  shuffle disappears entirely;
- hot tiles (cities — skewed web-mined coordinates) can additionally be
  salted: `salt_tiles` splits each hot tile key into `n_salt` sub-keys on
  the big side and replicates the small side across salts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linear_kdtree_spark.functions.morton import WORLD
from linear_kdtree_spark.operators.interval_join import broadcast_hint
from linear_kdtree_spark.operators.pip import Polygon, refine
from linear_kdtree_spark.operators.tile import assign_tiles_morton
from linear_kdtree_spark.session import arrow_table, local_frame


def bbox_tiles(
    polygon: Polygon,
    depth: int,
    bounds: tuple[float, float, float, float] = WORLD,
) -> list[tuple[int]]:
    """The Z-order tiles at ``depth`` that cover ``polygon``'s bbox, as
    ``(tile,)`` rows (driver-side: the polygon set is the small dim; the
    exact refine follows the join, so a bbox cover suffices)."""
    xmin_b, ymin_b, xmax_b, ymax_b = bounds
    nx = 1 << depth
    wx = (xmax_b - xmin_b) / nx
    wy = (ymax_b - ymin_b) / nx

    def cell(v, vmin, w):
        c = int((v - vmin) // w)
        return min(max(c, 0), nx - 1)

    rows = []
    x0, y0, x1, y1 = polygon.bbox()
    for ix in range(cell(x0, xmin_b, wx), cell(x1, xmin_b, wx) + 1):
        for iy in range(cell(y0, ymin_b, wy), cell(y1, ymin_b, wy) + 1):
            tile = 0
            for i in range(depth):
                tile |= ((ix >> i) & 1) << (2 * i)
                tile |= ((iy >> i) & 1) << (2 * i + 1)
            rows.append((tile,))
    return rows


def spatial_join_polygons(
    points: DataFrame,
    polygons: list[Polygon],
    depth: int = 8,
    bounds: tuple[float, float, float, float] = WORLD,
) -> DataFrame:
    """(poly_id, key): equi-join on the Z-order tile (hinted by
    ``interval_join.broadcast_hint``), then ``pip.refine``. Unlike
    ``point_in_polygons`` this needs no index: it is the two-sided join
    for raw point tables."""
    spark = points.sparkSession
    pts = assign_tiles_morton(points, depth, bounds).select("key", "x", "y", "tile")

    def join(rows, schema):
        table = arrow_table(rows, schema)
        tiles = local_frame(spark, table, schema)
        return pts.join(tiles.hint(broadcast_hint(spark, table, len(rows))), "tile")

    return refine(polygons, lambda p: bbox_tiles(p, depth, bounds),
                  "tile long", join, ["poly_id", "key"])


def radius_join(
    left: DataFrame,
    right: DataFrame,
    radius: float,
    left_key: str = "key",
    right_key: str = "key",
    dedup_pairs: bool = False,
) -> DataFrame:
    """All pairs (a from left, b from right) with Euclidean distance <
    ``radius``, via the classic fixed-grid cell join: cell width = radius,
    left side replicated to its 3×3 cell neighborhood (a pure
    explode-of-literal-offsets expression — no UDF), equi-join on the cell,
    exact distance filter.  With ``dedup_pairs`` (self-join), keeps
    a_key < b_key only.

    Shuffle cost: one shuffle per side on the cell id; 9× replication of
    the left side only (halved to 5× on the dedup'd self-join — see below).
    Skewed cells are split by AQE skew-join handling.
    """
    inv = f"{float(1.0 / radius)!r}D"  # a DOUBLE literal: a bare 10.0 is DECIMAL
    # Dedup'd SELF-join (left is right): the unordered pair {p, q} only has
    # to be discovered once, so the left side is replicated to the closed
    # HALF-neighborhood {(0,0),(0,1),(1,-1),(1,0),(1,1)} instead of all 9
    # cells — for every non-zero cell offset d exactly one of d/-d is in
    # the set, so each cross-cell pair joins exactly once (in one order,
    # normalized with least/greatest) and same-cell pairs keep the a < b
    # filter. 5/9 of the replicated shuffle bytes and join probes for the
    # identical output (guide §2.3: shuffle fewer bytes).
    half = dedup_pairs and left is right
    if half:
        off_list = [(0, 0), (0, 1), (1, -1), (1, 0), (1, 1)]
    else:
        off_list = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]
    offs = ", ".join(f"struct({dx} AS dx, {dy} AS dy)" for dx, dy in off_list)

    # each projection is one selectExpr: SQL text is parsed in one call,
    # where a Column expression costs a py4j round trip per node
    lf = (
        left.selectExpr(
            f"{left_key} AS a_key",
            "CAST(x AS DOUBLE) AS ax",
            "CAST(y AS DOUBLE) AS ay",
            f"CAST(FLOOR(ax * {inv}) AS BIGINT) AS cx0",
            f"CAST(FLOOR(ay * {inv}) AS BIGINT) AS cy0",
        )
        .selectExpr("*", f"explode(array({offs})) AS o")
        .selectExpr(
            "a_key", "ax", "ay",
            "cx0 + o.dx AS cx",
            "cy0 + o.dy AS cy",
            "o.dx = 0 AND o.dy = 0 AS _home",
        )
    )
    rt = right.selectExpr(
        f"{right_key} AS b_key",
        "CAST(x AS DOUBLE) AS bx",
        "CAST(y AS DOUBLE) AS by",
        f"CAST(FLOOR(CAST(x AS DOUBLE) * {inv}) AS BIGINT) AS cx",
        f"CAST(FLOOR(CAST(y AS DOUBLE) * {inv}) AS BIGINT) AS cy",
    )
    out = lf.join(rt, ["cx", "cy"]).filter(
        f"(ax - bx) * (ax - bx) + (ay - by) * (ay - by) < {float(radius * radius)!r}D"
    )
    if half:
        return out.filter("NOT _home OR a_key < b_key").selectExpr(
            "least(a_key, b_key) AS a_key", "greatest(a_key, b_key) AS b_key"
        )
    out = out.select("a_key", "b_key")
    if dedup_pairs:
        out = out.filter("a_key < b_key")
    return out


def salt_tiles(df: DataFrame, tile_col: str, hot_tiles: list[int], n_salt: int,
               key_col: str = "key") -> DataFrame:
    """Split hot tile keys into ``n_salt`` sub-keys: tile' = tile * n_salt +
    (key % n_salt) for hot tiles, tile * n_salt otherwise. The small side of
    a join must be replicated across all salts of its hot tiles
    (`replicate_salted`)."""
    hot = F.col(tile_col).isin(hot_tiles)
    return df.withColumn(
        tile_col,
        F.when(
            hot, F.col(tile_col) * n_salt + F.pmod(F.col(key_col), F.lit(n_salt))
        ).otherwise(F.col(tile_col) * n_salt),
    )


def replicate_salted(small: DataFrame, tile_col: str, hot_tiles: list[int],
                     n_salt: int) -> DataFrame:
    salts = F.array(*[F.lit(i) for i in range(n_salt)])
    hot = F.col(tile_col).isin(hot_tiles)
    return (
        small.withColumn("_s", F.when(hot, salts).otherwise(F.array(F.lit(0))))
        .withColumn("_salt", F.explode("_s"))
        .withColumn(tile_col, F.col(tile_col) * n_salt + F.col("_salt"))
        .drop("_s", "_salt")
    )
