"""Point-in-polygon filter over an :class:`LktIndex` (SURVEY.md §2.3-Q1),
and the one polygon refine every polygon operator shares (:func:`refine`).

Plan: polygon bbox → leaf-table filter (``SplitTree.ranges_for_bbox``:
the leaves whose exact data bbox meets the polygon's bbox; every point
inside the polygon lies in one of them) → merged contiguous ``sort_key``
intervals (leaves and subtrees are contiguous in kd order — the defining
property of the *linear* layout) → pruned scan joined against the interval
list → exact test per candidate.

The refine classifies each polygon on the driver (``geometry.ccw_edges``):
convex ones get half-plane expressions in generated code, the rest the
Arrow-batched even-odd ray cast. The classes are two joins under one
union and an empty class builds none, so an all-convex call plans no
Python stage and any other call exactly one. A point on an edge or a
vertex is outside on both paths (FIXTURES.md F4).
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linear_kdtree_spark.functions.geometry import ccw_edges, make_raycast_udf
from linear_kdtree_spark.operators.build import LktIndex
from linear_kdtree_spark.operators.interval_join import interval_join


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

EDGES = "edges array<struct<x1:double,y1:double,dx:double,dy:double>>"


def _left_of_edge(e: str, x: str, y: str) -> str:
    """SQL: the point (x, y) lies strictly left of the CCW edge ``e``."""
    return (f"{e}.dx * (CAST({y} AS DOUBLE) - {e}.y1)"
            f" - {e}.dy * (CAST({x} AS DOUBLE) - {e}.x1) > 0.0D")


def _convex_refine_sql(max_edges: int, x: str, y: str) -> str:
    """SQL of the convex refine over the candidate columns ``x``, ``y`` and
    ``edges`` (a polygon's CCW edges): the point is strictly left of every
    edge. ``max_edges`` is the largest edge count of the call.

    The half-plane test of the first ``M = min(max_edges, UNROLL)`` edges
    is unrolled into plain expressions that whole-stage codegen compiles;
    a higher-order ``forall`` over the edge array, the whole refine before,
    runs interpreted on every candidate. Only a polygon with more than
    ``M`` edges reaches the ``forall`` over the rest.

    Edge ``i`` is read with ``get(edges, i)``, which is NULL past the end,
    never ``edges[i]``: subexpression elimination evaluates a repeated
    ``edges[i]`` ahead of the ``size`` guard, and under ANSI mode that
    raises ``INVALID_ARRAY_INDEX`` on a shorter polygon."""
    m = min(max_edges, UNROLL)
    terms = [f"(size(edges) <= {i} OR {_left_of_edge(f'get(edges, {i})', x, y)})"
             for i in range(m)]
    if max_edges > m:
        terms.append(f"forall(slice(edges, {m + 1}, size(edges)), "
                     f"e -> {_left_of_edge('e', x, y)})")
    return " AND ".join(terms) or "true"


def refine(polygons: list[Polygon], cover: Callable[[Polygon], list[tuple]],
           cover_schema: str, join: Callable[[list[tuple], str], DataFrame],
           cols: list[str], x: str = "x", y: str = "y") -> DataFrame:
    """The ``cols`` of the joined candidates strictly inside their polygon,
    for every polygon operator. ``cover(p)`` gives polygon ``p``'s cover
    rows in ``cover_schema``; ``join(rows, schema)`` joins the points to
    driver-side rows of ``poly_id``, a convex polygon's ``EDGES`` and the
    cover row. The edges ride those rows instead of a second join on
    poly_id (r6: 1.161 → 0.894 s best-of-8 at 4.8 M/local[32]), and as
    data they keep the plan's size independent of the polygon count. The
    ray cast's polygons ride the UDF's closure; its UDF sits in its own
    branch, never in an OR or a CASE, which Spark evaluates over every
    joined row. A polygon with fewer than 3 edges has no interior."""
    convex, ray, rings, max_edges = [], [], {}, 0
    for p in polygons:
        edges, is_convex = ccw_edges(p.vertices)
        if len(edges) < 3:
            continue
        if is_convex:
            convex += [(p.poly_id, edges, *c) for c in cover(p)]
            max_edges = max(max_edges, len(edges))
        else:
            ray += [(p.poly_id, *c) for c in cover(p)]
            rings[p.poly_id] = p.vertices
    parts = []
    if convex or not ray:
        cand = join(convex, f"poly_id long, {EDGES}, {cover_schema}")
        parts.append(cand.filter(F.expr(_convex_refine_sql(max_edges, x, y))))
    if ray:
        cand = join(ray, f"poly_id long, {cover_schema}")
        parts.append(cand.filter(make_raycast_udf(rings)("poly_id", x, y)))
    return reduce(DataFrame.union, [df.select(*cols) for df in parts])


def point_in_polygons(
    index: LktIndex, polygons: list[Polygon], exact: str | None = None
) -> DataFrame:
    """(poly_id, key) for every point strictly inside each polygon: the
    polygon's bbox cover over the leaf table, one ``interval_join``, then
    :func:`refine`. ``exact`` is ignored: the refine is chosen per polygon."""
    pts = index.points.select("key", "x", "y", "sort_key")
    return refine(
        polygons,
        lambda p: index.tree.ranges_for_bbox(*p.bbox()),
        "lo long, hi long",
        lambda rows, schema: interval_join(
            pts, rows, schema, max_depth=index.tree.max_depth),
        ["poly_id", "key"],
    )
