"""Geometry predicates: the polygon classifier (:func:`ccw_edges`), the
vectorized even-odd ray cast for general simple polygons, and its Arrow/
pandas UDF. The refine that picks between the ray cast and the convex
half-plane expressions is ``operators/pip.refine``.

Boundary rule everywhere (FIXTURES.md F4): strictly-inside counts; a point
on an edge or a vertex is outside.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F


def ensure_ccw(vertices: list[tuple[float, float]]) -> list[tuple[float, float]]:
    area2 = 0.0
    m = len(vertices)
    for i in range(m):
        x1, y1 = vertices[i]
        x2, y2 = vertices[(i + 1) % m]
        area2 += x1 * y2 - x2 * y1
    return vertices if area2 > 0 else list(reversed(vertices))


def ccw_edges(vertices: list[tuple[float, float]]) -> tuple[list[tuple], bool]:
    """A polygon's CCW edges ``(x1, y1, dx, dy)``, zero-length ones dropped
    (collinear vertices stay), and whether it is convex: every turn is ≥ 0
    and the boundary winds exactly once. A pentagram {5/2} turns left five
    times but winds twice. A reversal (cross 0, dot < 0) is a half turn,
    so a spike winds more than once."""
    vs = ensure_ccw(vertices)
    m = len(vs)
    edges = []
    for i in range(m):
        x1, y1 = vs[i]
        x2, y2 = vs[(i + 1) % m]
        if x2 - x1 != 0 or y2 - y1 != 0:
            edges.append((float(x1), float(y1), float(x2 - x1), float(y2 - y1)))
    e = np.asarray(edges, dtype=np.float64).reshape(-1, 4)
    dx, dy = e[:, 2], e[:, 3]
    nx, ny = np.roll(dx, -1), np.roll(dy, -1)
    cross, dot = dx * ny - dy * nx, dx * nx + dy * ny
    turn = np.where((cross == 0) & (dot < 0), np.pi, np.arctan2(cross, dot))
    convex = bool((cross >= 0).all() and round(turn.sum() / (2 * np.pi)) == 1)
    return edges, convex


def raycast_numpy(
    px: np.ndarray, py: np.ndarray, vertices: np.ndarray
) -> np.ndarray:
    """Vectorized even-odd ray cast of a batch of points against ONE simple
    polygon (vertices: (m, 2) float64). Edge loop runs m times; point maths
    is numpy-vectorized across the Arrow batch. A point on an edge or a
    vertex is outside: the crossing count alone would take a point on a
    left-hand edge as inside, so an on-segment test clears those."""
    inside = np.zeros(len(px), dtype=bool)
    on_edge = np.zeros(len(px), dtype=bool)
    m = len(vertices)
    for i in range(m):
        x1, y1 = vertices[i]
        x2, y2 = vertices[(i + 1) % m]
        crosses = (y1 > py) != (y2 > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
        inside ^= crosses & (px < xint)
        on_edge |= (
            ((x2 - x1) * (py - y1) == (y2 - y1) * (px - x1))
            & (np.minimum(x1, x2) <= px) & (px <= np.maximum(x1, x2))
            & (np.minimum(y1, y2) <= py) & (py <= np.maximum(y1, y2))
        )
    return inside & ~on_edge


def make_raycast_udf(polygons: dict[int, list[tuple[float, float]]]):
    """pandas UDF (poly_id, x, y) → bool testing each row against its own
    polygon. The polygons ride the UDF's closure, which Spark ships with
    the plan: there is no broadcast to release."""
    polys = {int(k): np.asarray(v, dtype=np.float64) for k, v in polygons.items()}

    @F.pandas_udf("boolean")
    def inside(poly_id: pd.Series, x: pd.Series, y: pd.Series) -> pd.Series:
        px = x.to_numpy(dtype=np.float64)
        py = y.to_numpy(dtype=np.float64)
        pid = poly_id.to_numpy(dtype=np.int64)
        out = np.zeros(len(px), dtype=bool)
        for p in np.unique(pid):
            mask = pid == p
            out[mask] = raycast_numpy(px[mask], py[mask], polys[int(p)])
        return pd.Series(out)

    return inside


def dist2(x: Column, y: Column, qx: Column, qy: Column) -> Column:
    dx = x.cast("double") - qx.cast("double")
    dy = y.cast("double") - qy.cast("double")
    return dx * dx + dy * dy
