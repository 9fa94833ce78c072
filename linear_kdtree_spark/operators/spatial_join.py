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

from linear_kdtree_spark.functions.geometry import dist2
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
    inv = 1.0 / radius
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
    offs = F.array(*[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                     for dx, dy in off_list])

    lf = (
        left.select(
            F.col(left_key).alias("a_key"),
            F.col("x").cast("double").alias("ax"),
            F.col("y").cast("double").alias("ay"),
        )
        .withColumn("cx0", F.floor(F.col("ax") * inv).cast("long"))
        .withColumn("cy0", F.floor(F.col("ay") * inv).cast("long"))
        .withColumn("o", F.explode(offs))
        .select(
            "a_key", "ax", "ay",
            (F.col("cx0") + F.col("o.dx")).alias("cx"),
            (F.col("cy0") + F.col("o.dy")).alias("cy"),
            ((F.col("o.dx") == 0) & (F.col("o.dy") == 0)).alias("_home"),
        )
    )
    rt = right.select(
        F.col(right_key).alias("b_key"),
        F.col("x").cast("double").alias("bx"),
        F.col("y").cast("double").alias("by"),
        F.floor(F.col("x").cast("double") * inv).cast("long").alias("cx"),
        F.floor(F.col("y").cast("double") * inv).cast("long").alias("cy"),
    )
    out = lf.join(rt, ["cx", "cy"]).filter(
        dist2(F.col("ax"), F.col("ay"), F.col("bx"), F.col("by"))
        < F.lit(radius * radius)
    )
    if half:
        return out.filter(
            ~F.col("_home") | (F.col("a_key") < F.col("b_key"))
        ).select(
            F.least("a_key", "b_key").alias("a_key"),
            F.greatest("a_key", "b_key").alias("b_key"),
        )
    out = out.select("a_key", "b_key")
    if dedup_pairs:
        out = out.filter(F.col("a_key") < F.col("b_key"))
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
