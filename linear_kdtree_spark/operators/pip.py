"""Point-in-polygon filter over an :class:`LktIndex` (SURVEY.md §2.3-Q1).

Plan: polygon bbox → leaf-table filter (``SplitTree.ranges_for_bbox``:
the leaves whose exact data bbox meets the polygon's bbox; every point
inside the polygon lies in one of them) → merged contiguous ``sort_key``
intervals (leaves and subtrees are contiguous in kd order — the defining
property of the *linear* layout) → pruned scan joined against the interval
list → exact test per candidate. The exact test is a JVM expression for
convex polygons / rectangles / diamonds, or an Arrow-batched ray-cast UDF
for general simple polygons. No per-row Python anywhere (input_hint).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linear_kdtree_spark.functions.geometry import make_raycast_udf
from linear_kdtree_spark.operators.build import LktIndex
from linear_kdtree_spark.session import local_frame


@dataclass
class Polygon:
    poly_id: int
    vertices: list[tuple[float, float]]  # simple polygon, any orientation

    def bbox(self) -> tuple[float, float, float, float]:
        xs = [v[0] for v in self.vertices]
        ys = [v[1] for v in self.vertices]
        return min(xs), min(ys), max(xs), max(ys)


# edges per polygon the convex refine tests in generated code; the rest of
# a larger polygon's edges go through one interpreted forall
UNROLL = 16


def _left_of_edge(e: str) -> str:
    """SQL: the point (x, y) lies strictly left of the CCW edge ``e``."""
    return (f"{e}.dx * (CAST(y AS DOUBLE) - {e}.y1)"
            f" - {e}.dy * (CAST(x AS DOUBLE) - {e}.x1) > 0.0D")


def _convex_refine_sql(max_edges: int) -> str:
    """SQL of the convex refine over the candidate columns ``x``, ``y`` and
    ``edges`` (a polygon's CCW edges): the point is strictly left of every
    edge. ``max_edges`` is the largest edge count of the call.

    The half-plane test of the first ``M = min(max_edges, UNROLL)`` edges
    is unrolled into plain expressions that whole-stage codegen compiles;
    a higher-order ``forall`` over the edge array, the whole refine before,
    runs interpreted on every candidate. Only a polygon with more than
    ``M`` edges reaches the ``forall`` over the rest. The edges stay row
    data, so the plan does not grow with the number of polygons.

    Edge ``i`` is read with ``get(edges, i)``, which is NULL past the end,
    never ``edges[i]``: subexpression elimination evaluates a repeated
    ``edges[i]`` ahead of the ``size`` guard, and under ANSI mode that
    raises ``INVALID_ARRAY_INDEX`` on a shorter polygon."""
    m = min(max_edges, UNROLL)
    terms = [f"(size(edges) <= {i} OR {_left_of_edge(f'get(edges, {i})')})"
             for i in range(m)]
    if max_edges > m:
        terms.append(f"forall(slice(edges, {m + 1}, size(edges)), "
                     f"e -> {_left_of_edge('e')})")
    return " AND ".join(terms) or "true"


def _pruned_candidates(index: LktIndex, polygons: list[Polygon]) -> DataFrame:
    """(poly_id, key, x, y) candidates from sort_key interval pruning —
    bucketed equi-join (operators/interval_join.py), not a nested loop."""
    from linear_kdtree_spark.operators.interval_join import interval_join

    spark = index.points.sparkSession
    rows = []
    for p in polygons:
        xmin, ymin, xmax, ymax = p.bbox()
        for lo, hi in index.tree.ranges_for_bbox(xmin, ymin, xmax, ymax):
            rows.append((p.poly_id, lo, hi))
    if not rows:
        return local_frame(spark, [], "poly_id long, key long, x double, y double")
    pts = index.points.select("key", "x", "y", "sort_key")
    return interval_join(
        pts, rows, "poly_id long, lo long, hi long", max_depth=index.tree.max_depth
    ).select("poly_id", "key", "x", "y")


def point_in_polygons(
    index: LktIndex, polygons: list[Polygon], exact: str = "raycast"
) -> DataFrame:
    """Returns (poly_id, key) for every point strictly inside each polygon.

    exact='raycast' — general simple polygons, Arrow-batched even-odd UDF.
    exact='convex'  — convex polygons as pure half-plane JVM expressions
                      (faster; caller asserts convexity).
    """
    if exact == "convex":
        from linear_kdtree_spark.functions.geometry import ensure_ccw
        from linear_kdtree_spark.operators.interval_join import interval_join

        # per-polygon edge coefficients carried ON the interval rows
        # (poly_id, edges array, lo, hi) — the refine rides the pruning
        # equi-join itself instead of a second broadcast join on poly_id
        # (r6, guide §2.4 "share one exchange": one broadcast + one join
        # per query instead of two; measured 1.161 → 0.894 s best-of-8 at
        # 4.8 M/local[32], identical output). Plan size stays independent
        # of |polygons| — the edge array is data, not codegen, exactly as
        # in the round-1 fix — and the replicated side only grows by ~64
        # bytes/vertex per interval row. The refine's plan size is
        # O(min(max vertices, UNROLL)) (_convex_refine_sql).
        rows = []
        for p in polygons:
            vs = ensure_ccw(p.vertices)
            m = len(vs)
            edges = []
            for i in range(m):
                x1, y1 = vs[i]
                x2, y2 = vs[(i + 1) % m]
                edges.append((float(x1), float(y1),
                              float(x2 - x1), float(y2 - y1)))
            xmin, ymin, xmax, ymax = p.bbox()
            for lo, hi in index.tree.ranges_for_bbox(xmin, ymin, xmax, ymax):
                rows.append((p.poly_id, edges, lo, hi))
        pts = index.points.select("key", "x", "y", "sort_key")
        cand = interval_join(
            pts, rows,
            "poly_id long, edges array<struct<x1:double,y1:double,"
            "dx:double,dy:double>>, lo long, hi long",
            max_depth=index.tree.max_depth,
        )
        max_edges = max((len(r[1]) for r in rows), default=0)
        inside = F.expr(_convex_refine_sql(max_edges))
        return cand.filter(inside).select("poly_id", "key")
    cand = _pruned_candidates(index, polygons)
    udf = make_raycast_udf(
        index.points.sparkSession, {p.poly_id: p.vertices for p in polygons}
    )
    return (
        cand.withColumn("inside", udf("poly_id", "x", "y"))
        .filter(F.col("inside"))
        .select("poly_id", "key")
    )
