"""Geometry predicates: JVM column expressions for convex polygons (plain
conjunctions of linear inequalities, whole-stage-codegen'd) and one
vectorized Arrow/pandas kernel for general simple polygons (ray casting /
even-odd rule).

Boundary rule everywhere (FIXTURES.md F4): strictly-inside counts, on-edge
excluded.
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


def raycast_numpy(
    px: np.ndarray, py: np.ndarray, vertices: np.ndarray
) -> np.ndarray:
    """Vectorized even-odd ray cast of a batch of points against ONE simple
    polygon (vertices: (m, 2) float64). Edge loop runs m times; point maths
    is numpy-vectorized across the Arrow batch."""
    inside = np.zeros(len(px), dtype=bool)
    m = len(vertices)
    for i in range(m):
        x1, y1 = vertices[i]
        x2, y2 = vertices[(i + 1) % m]
        crosses = (y1 > py) != (y2 > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
        hit = crosses & (px < xint)
        inside ^= hit
    return inside


def make_raycast_udf(spark, polygons: dict[int, list[tuple[float, float]]]):
    """pandas UDF (poly_id, x, y) → bool testing each row against its own
    polygon; the polygon set is broadcast once (small dim)."""
    bc = spark.sparkContext.broadcast(
        {int(k): np.asarray(v, dtype=np.float64) for k, v in polygons.items()}
    )

    @F.pandas_udf("boolean")
    def inside(poly_id: pd.Series, x: pd.Series, y: pd.Series) -> pd.Series:
        polys = bc.value
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
