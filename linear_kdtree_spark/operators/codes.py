"""Post-hoc point labelling against a built split tree — the engine's
vectorized analogue of the reference's three code kernels
(``lkt_create_mortoncodes_sisd`` lkt.cpp:140-157, ``_mimd``
nocuda.cpp:141-159, ``_simd`` CUDA lkt.cu:21-45).

All three reference variants collapse into ONE Arrow-batched pandas UDF:
Spark task parallelism across batches plays the MIMD role, and the inner
numpy formulation — one gather per tree level across the whole Arrow batch,
≤ max_depth levels — plays the SIMT one-thread-per-point role
(SURVEY.md §2.1-B1..B3). The positional split arrays come from the tree's
one broadcast per session (``SplitTree.broadcast``, shared with the kNN
planner) — the analogue of the device-side flat node array the CUDA wrapper
copies once (lkt.cu:55-59).

Used for labelling *new* points against an existing index (queries,
incremental ingest). The build does not call it: its level loop routes
points with JVM expressions, its fused finish walks each deferred subtree
in one numpy pass (a mapInPandas, operators/build.py), and both derive
``path_len``/``code``/``sort_key`` from the heap node id in the JVM
(functions/morton.with_derived_cols).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linear_kdtree_spark.functions.morton import sort_key_from_path_len
from linear_kdtree_spark.operators.tree import SplitTree

LABEL_SCHEMA = "code: long, node: long, path_len: int"


def _traverse(
    xv: np.ndarray, yv: np.ndarray, arrs: dict, max_depth: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized root-to-leaf walk: per level, gather split (axis, value,
    children) for every still-alive point, compare, set the code bit, step.
    Mirrors lkt.cpp:146-152 including the walk-off-at-missing-child rule
    (``tree_end`` sentinel, fixlentree.hh:23)."""
    n = len(xv)
    code = np.zeros(n, dtype=np.int64)
    node = np.zeros(n, dtype=np.int64)
    plen = np.zeros(n, dtype=np.int32)
    ids = arrs["ids"]
    if len(ids) == 0 or ids[0] != 0:
        return code, node, plen
    pos = np.zeros(n, dtype=np.int64)  # position of current node in arrays
    alive = np.ones(n, dtype=bool)
    axis, value = arrs["axis"], arrs["value"]
    left_pos, right_pos = arrs["left"], arrs["right"]
    for depth in range(max_depth):
        if not alive.any():
            break
        idx = np.flatnonzero(alive)
        p = pos[idx]
        pv = np.where(axis[p] == 0, xv[idx], yv[idx])
        went_left = pv < value[p]
        code[idx] |= went_left.astype(np.int64) << depth
        node[idx] = node[idx] * 2 + 1 + (~went_left).astype(np.int64)
        plen[idx] += 1
        nxt = np.where(went_left, left_pos[p], right_pos[p])
        pos[idx] = nxt
        alive[idx] = nxt >= 0
    return code, node, plen


def make_label_udf(spark, tree: SplitTree):
    """Returns a pandas UDF (x, y) → struct<code, node, path_len> that reads
    the tree's split arrays from :meth:`SplitTree.broadcast`: one broadcast
    per tree per application, so repeated labelling against the same tree
    (the streaming indexer, every ingest batch) ships the arrays once."""
    md = tree.max_depth
    bc = tree.broadcast(spark)
    quantize = tree.coord_type == "float"

    @F.pandas_udf(LABEL_SCHEMA)
    def label(x: pd.Series, y: pd.Series) -> pd.DataFrame:
        # the build casts coordinates to the index coord_type before
        # comparing (canonical: float32 — ord_t, reference lkt.h:13), so
        # must we — feeding raw float64 into a float32 index flips
        # comparisons near deep split boundaries, and quantizing input to
        # a double index flips them the other way
        if quantize:
            xv = x.to_numpy(dtype=np.float32).astype(np.float64)
            yv = y.to_numpy(dtype=np.float32).astype(np.float64)
        else:
            xv = x.to_numpy(dtype=np.float64)
            yv = y.to_numpy(dtype=np.float64)
        code, node, plen = _traverse(xv, yv, bc.value["splits"], md)
        return pd.DataFrame({"code": code, "node": node, "path_len": plen})

    return label


def attach_labels(
    df: DataFrame, tree: SplitTree, x_col: str = "x", y_col: str = "y"
) -> DataFrame:
    """Adds ``code``, ``node``, ``path_len`` and ``sort_key`` columns to any
    DataFrame of points, against an existing tree (its ``max_depth`` and
    ``coord_type`` are the index's)."""
    udf = make_label_udf(df.sparkSession, tree)
    out = df.withColumn("_lbl", udf(F.col(x_col), F.col(y_col)))
    out = out.select("*", "_lbl.code", "_lbl.node", "_lbl.path_len").drop("_lbl")
    # the UDF already knows each point's depth, so sort_key is two shifts —
    # the same expression the build's derived-column chain uses
    return out.withColumn(
        "sort_key", sort_key_from_path_len("node", "path_len", tree.max_depth)
    )
