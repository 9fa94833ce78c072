"""Driver-side flat split tree: the Spark analogue of the reference's
``fixlentree<lkt_split_point>`` (fixlentree.hh:20-81).

Differences from the reference, by design (SURVEY.md §1.2, §4.4):
- nodes are addressed by **heap position** (root 0, children ``2i+1`` /
  ``2i+2`` — the heap layout the reference itself sketches in its unused
  helpers, nocuda.cpp:57-59) instead of the reference's nondeterministic
  atomic-allocation order (fixlentree.hh:42,53);
- the axis is stored explicitly (the reference leaves it implicit as depth
  parity, lkt.cpp:146-152);
- each node carries its left/right subtree point counts (reference keeps
  only the partition index, lkt.h:21-24) for per-partition lineage.

The splits are one **split table**: a numpy array per
:data:`SPLIT_COLUMNS` name, a row per split node, sorted by heap id; its
one DataFrame form is :meth:`SplitTree.split_frame`. Beside it the tree
holds one **leaf table**: a row per non-empty
leaf with its ``sort_key`` interval ``[lo, hi)``, point count and exact
data bbox, recorded by the build at no extra job. In the linear layout
every subtree is one contiguous ``sort_key`` interval (SURVEY.md §1.3), so
this range-encoding metadata plans every query cover as a filter: PIP
keeps the leaves whose bbox meets the polygon's bbox, kNN bounds the k-th
distance from leaf counts and far corners and keeps the leaves within that
radius; adjacent kept leaves merge into one interval. Parquet/Iceberg
min-max pruning and Spark partition pruning then exploit the intervals.
The split descent (:meth:`SplitTree.leaf_for`, ``codes._traverse``) is
left only for labelling new points, which may lie outside every leaf's
data bbox.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import types as T

from linear_kdtree_spark.functions.morton import MAX_DEPTH

INF = float("inf")


def node_depth(node_id: int) -> int:
    return (node_id + 1).bit_length() - 1


def node_interval(node_id: int, max_depth: int = MAX_DEPTH) -> tuple[int, int]:
    """Half-open ``[lo, hi)`` sort_key interval covered by a node's subtree.

    A node at heap id ``n`` and depth ``L`` corresponds to the L-bit path
    prefix ``(n+1) - 2^L`` (bit = 0 ⇔ left, MSB-first); every point below it
    has that prefix in its left-padded sort_key (SURVEY.md §1.3).
    """
    depth = node_depth(node_id)
    prefix = (node_id + 1) - (1 << depth)
    lo = prefix << (max_depth - depth)
    hi = (prefix + 1) << (max_depth - depth)
    return lo, hi


SPLIT_COLUMNS = ("node_id", "depth", "axis", "value", "n_left", "n_right")
# the split table's DataFrame form adds each node's children: the child's
# heap id where that child is a split node, else -1
SPLITS_SCHEMA = T.StructType(
    [
        T.StructField("node_id", T.LongType(), False),
        T.StructField("depth", T.IntegerType(), False),
        T.StructField("axis", T.IntegerType(), False),
        T.StructField("value", T.DoubleType(), False),
        T.StructField("n_left", T.LongType(), False),
        T.StructField("n_right", T.LongType(), False),
        T.StructField("left_child", T.LongType(), False),
        T.StructField("right_child", T.LongType(), False),
    ]
)
LEAF_COLUMNS = ("node", "lo", "hi", "count", "xmin", "xmax", "ymin", "ymax")
LEAF_SCHEMA = (
    "node long, lo long, hi long, count long, "
    "xmin double, xmax double, ymin double, ymax double"
)


def _sorted(t: dict, columns: tuple, by: str) -> dict[str, np.ndarray]:
    """``t``'s ``columns``, each reordered by ascending ``t[by]``."""
    order = np.argsort(t[by], kind="stable")
    return {c: t[c][order] for c in columns}


def split_table(rows) -> dict[str, np.ndarray]:
    """The split table from rows in :data:`SPLIT_COLUMNS` order, one per
    split node: a numpy array per column, sorted by ``node_id`` — the
    analogue of the reference's flat node array (fixlentree.hh:20-81)."""
    cols = list(zip(*rows)) or [()] * len(SPLIT_COLUMNS)
    t = {
        c: np.array(v, dtype=np.float64 if c == "value" else np.int64)
        for c, v in zip(SPLIT_COLUMNS, cols)
    }
    return _sorted(t, SPLIT_COLUMNS, "node_id")


def leaf_table(rows, max_depth: int = MAX_DEPTH) -> dict[str, np.ndarray]:
    """The leaf table from ``(node, count, xmin, xmax, ymin, ymax)`` rows,
    one per non-empty leaf: a numpy array per :data:`LEAF_COLUMNS` name,
    sorted by ``lo``. ``[lo, hi)`` is the leaf's :func:`node_interval`."""
    cols = list(zip(*rows)) or [()] * 6
    node = np.array(cols[0], dtype=np.int64)
    depth = np.frexp((node + 1).astype(np.float64))[1].astype(np.int64) - 1
    width = np.int64(1) << (max_depth - depth)
    lo = (node + 1 - (np.int64(1) << depth)) * width
    t = {
        "node": node, "lo": lo, "hi": lo + width,
        "count": np.array(cols[1], dtype=np.int64),
    }
    for c, v in zip(LEAF_COLUMNS[4:], cols[2:]):
        t[c] = np.array(v, dtype=np.float64)
    return _sorted(t, LEAF_COLUMNS, "lo")


def _child_pos(ids: np.ndarray, side: int) -> np.ndarray:
    """Position in the sorted ``ids`` of each node's child ``2j + side``
    (1 left, 2 right), or -1 where that child is not in ``ids``."""
    child = 2 * ids + side
    pos = np.searchsorted(ids, child)
    # the -1 sentinel past the end never equals a child id (≥ 1)
    return np.where(np.append(ids, -1)[pos] == child, pos, -1)


def _frame(spark, cols: list, schema):
    """Equal-length numpy columns as a DataFrame of ``schema``."""
    from linear_kdtree_spark.session import arrow_columns, local_frame

    return local_frame(spark, arrow_columns(cols, schema), schema)


def leaf_stats(points):
    """Per-node ``count, xmin, xmax, ymin, ymax`` of a points DataFrame:
    over an index's points, exactly its leaf table's rows."""
    from pyspark.sql import functions as F

    return points.groupBy("node").agg(
        F.count(F.lit(1)).alias("count"),
        F.min("x").alias("xmin"), F.max("x").alias("xmax"),
        F.min("y").alias("ymin"), F.max("y").alias("ymax"),
    )


def _far2(qx: np.ndarray, qy: np.ndarray, L: dict) -> np.ndarray:
    """(queries × leaves) distance² to the far corner of each leaf's bbox:
    no point of the leaf is farther from the query."""
    qx, qy = qx[:, None], qy[:, None]
    dx = np.maximum(np.abs(qx - L["xmin"]), np.abs(qx - L["xmax"]))
    dy = np.maximum(np.abs(qy - L["ymin"]), np.abs(qy - L["ymax"]))
    return dx * dx + dy * dy


def knn_seed(qx: np.ndarray, qy: np.ndarray, L: dict, k: int):
    """Per-query k-th-neighbour bound from the leaf table alone: order the
    leaves by their far-corner distance²; the bound r² is that distance at
    the first leaf where the running point count reaches ``k`` — those
    leaves hold ≥ k points, all within r. Returns (that leaf's position in
    ``L``, r²). ``k`` is clamped to the total; every leaf holds ≥ 1 point,
    so only the ``k`` nearest far corners need sorting."""
    far2 = _far2(qx, qy, L)
    n_leaves = far2.shape[1]
    k = max(1, min(k, int(L["count"].sum())))
    m = min(k, n_leaves)
    if m < n_leaves:
        cand = np.argpartition(far2, m - 1, axis=1)[:, :m]
    else:
        cand = np.broadcast_to(np.arange(n_leaves), far2.shape)
    d = np.take_along_axis(far2, cand, 1)
    o = np.argsort(d, axis=1, kind="stable")
    cand = np.take_along_axis(cand, o, 1)
    reached = np.cumsum(L["count"][cand], axis=1) >= k
    pos = cand[np.arange(len(qx)), np.argmax(reached, axis=1)]
    return pos, far2[np.arange(len(qx)), pos]


def _leaf_runs(sel: np.ndarray, L: dict):
    """(row, lo, hi) of every maximal run of consecutive selected leaves in
    each row of the (rows × leaves) mask ``sel``. Every split has two
    non-empty children, so the leaves tile the key space and consecutive
    leaves are adjacent intervals: each run is one interval."""
    prev = np.zeros_like(sel)
    prev[:, 1:] = sel[:, :-1]
    nxt = np.zeros_like(sel)
    nxt[:, :-1] = sel[:, 1:]
    rows, first = np.nonzero(sel & ~prev)
    _, last = np.nonzero(sel & ~nxt)
    return rows, L["lo"][first], L["hi"][last]


def circle_cover(qx: np.ndarray, qy: np.ndarray, r2: np.ndarray, L: dict):
    """(query row, lo, hi): for each query, the merged runs of leaves whose
    data bbox lies within distance² ``r2`` of it."""
    qx, qy = qx[:, None], qy[:, None]
    dx = np.maximum(np.maximum(L["xmin"] - qx, qx - L["xmax"]), 0.0)
    dy = np.maximum(np.maximum(L["ymin"] - qy, qy - L["ymax"]), 0.0)
    return _leaf_runs(dx * dx + dy * dy <= r2[:, None], L)


class SplitTree:
    """Immutable driver-side kd tree: the split table (for labelling new
    points) and the leaf table (for planning every query cover).

    It carries the two parameters that define the index's key space and
    comparisons: ``max_depth`` (``sort_key`` spans ``2**max_depth``) and
    ``coord_type`` ('float' or 'double', the type the build cast the
    coordinates to before comparing them with the splits)."""

    def __init__(self, splits: dict[str, np.ndarray],
                 leaves: dict[str, np.ndarray],
                 max_depth: int = MAX_DEPTH, coord_type: str = "float"):
        # one row per split node (see split_table)
        self.splits = splits
        self.max_depth = max_depth
        self.coord_type = coord_type
        # one row per non-empty leaf (see leaf_table); it describes exactly
        # the index's points, so every cover is a filter over it
        self.leaves = leaves
        self.total_points = int(leaves["count"].sum())
        # this tree's session memo (see broadcast): freed with the tree
        self._memo: dict = {}

    # ------------------------------------------------------------------ IO
    @classmethod
    def from_rows(cls, rows, leaf_rows, max_depth: int,
                  coord_type: str) -> "SplitTree":
        """A tree from split rows in :data:`SPLIT_COLUMNS` order and leaf
        rows as :func:`leaf_table` reads them."""
        return cls(split_table(rows), leaf_table(leaf_rows, max_depth),
                   max_depth, coord_type)

    @classmethod
    def from_frames(cls, splits, leaves, max_depth: int,
                    coord_type: str) -> "SplitTree":
        """A saved tree from its splits table and its leaf table
        (``sources/catalog.load_index``)."""
        return cls.from_rows(
            splits.select(*SPLIT_COLUMNS).collect(),
            leaves.select("node", *LEAF_COLUMNS[3:]).collect(),
            max_depth, coord_type,
        )

    def split_frame(self, spark):
        """The split table as a DataFrame of :data:`SPLITS_SCHEMA` — the
        one form an index saves it in (read back by :meth:`from_frames`)."""
        S = self.splits
        ids = S["node_id"]
        children = [
            np.where(_child_pos(ids, side) >= 0, 2 * ids + side, -1)
            for side in (1, 2)
        ]
        return _frame(spark, [S[c] for c in SPLIT_COLUMNS] + children,
                      SPLITS_SCHEMA)

    def leaf_frame(self, spark):
        """The leaf table as a DataFrame of :data:`LEAF_SCHEMA` — the one
        form an index saves it in (read back by :meth:`from_frames`)."""
        return _frame(spark, [self.leaves[c] for c in LEAF_COLUMNS],
                      LEAF_SCHEMA)

    def to_arrays(self) -> dict[str, np.ndarray]:
        """Positional arrays for the vectorized code UDF: for sorted node
        ids, ``(ids, axis, value, left_pos, right_pos)`` where ``*_pos`` is
        the child's position in the same arrays or -1 (the broadcastable
        analogue of the reference's flat node array, fixlentree.hh:25-30)."""
        S = self.splits
        ids = S["node_id"]
        return {
            "ids": ids, "axis": S["axis"], "value": S["value"],
            "left": _child_pos(ids, 1), "right": _child_pos(ids, 2),
        }

    def to_query_arrays(self) -> dict[str, np.ndarray]:
        """The leaf table's arrays — all the batch-kNN planner needs inside
        an executor (operators/knn.py knn_batch)."""
        return self.leaves

    def broadcast(self, spark):
        """ONE Broadcast of ``{"splits": to_arrays(), "leaves": leaves}``
        per Spark application (``session.memo``), read by both the label
        UDF (operators/codes.py) and the kNN planner (operators/knn.py) —
        the analogue of the reference's one copy of the flat node array to
        the device per tree (lkt.cu:55-59)."""
        from linear_kdtree_spark.session import memo

        def make():
            return spark.sparkContext.broadcast(
                {"splits": self.to_arrays(), "leaves": self.to_query_arrays()}
            )

        return memo(spark, self._memo, "broadcast", make)

    # ----------------------------------------------------------- structure
    def leaf_for(self, x: float, y: float) -> int:
        """Heap id of the leaf region containing (x, y) — the query-side
        replay of the build's descent (reference lkt.cpp:146-152), after
        the same cast to ``coord_type`` the build applies."""
        if self.coord_type == "float":
            x, y = float(np.float32(x)), float(np.float32(y))
        S = self.splits
        ids = S["node_id"]
        j = 0
        while True:
            i = int(np.searchsorted(ids, j))
            if i == len(ids) or ids[i] != j:
                return j
            v = x if S["axis"][i] == 0 else y
            j = 2 * j + 1 if v < S["value"][i] else 2 * j + 2

    def data_bbox(self, node_id: int) -> tuple[float, float, float, float] | None:
        """Exact (xmin, xmax, ymin, ymax) of the points under ``node_id``:
        the union of the leaf rows inside its interval. None when it holds
        no points."""
        lo, hi = node_interval(node_id, self.max_depth)
        L = self.leaves
        i = int(np.searchsorted(L["lo"], lo))
        j = int(np.searchsorted(L["hi"], hi, side="right"))
        if j <= i:
            return None
        return (
            float(L["xmin"][i:j].min()), float(L["xmax"][i:j].max()),
            float(L["ymin"][i:j].min()), float(L["ymax"][i:j].max()),
        )

    # ------------------------------------------------------------ planning
    def ranges_for_bbox(
        self, xmin: float, ymin: float, xmax: float, ymax: float
    ) -> list[tuple[int, int]]:
        """Merged, sorted half-open ``sort_key`` intervals of the leaves
        whose data bbox meets the closed query bbox: every point inside the
        query bbox lies in one of them. This replaces a custom Catalyst
        rule: the ranges become plain predicates Catalyst pushes to the scan
        (SURVEY.md §4.2)."""
        L = self.leaves
        sel = (
            (L["xmin"] <= xmax) & (L["xmax"] >= xmin)
            & (L["ymin"] <= ymax) & (L["ymax"] >= ymin)
        )
        _, lo, hi = _leaf_runs(sel[None, :], L)
        return list(zip(lo.tolist(), hi.tolist()))

    def ranges_for_circle(
        self, cx: float, cy: float, r: float
    ) -> list[tuple[int, int]]:
        """:meth:`ranges_for_bbox` for the leaves within distance r of
        (cx, cy) — the kNN planner's cover (:func:`circle_cover`)."""
        _, lo, hi = circle_cover(
            np.array([cx]), np.array([cy]), np.array([r * r]), self.leaves
        )
        return list(zip(lo.tolist(), hi.tolist()))

    def knn_seed_node(self, x: float, y: float, k: int) -> int:
        """Heap id of the leaf whose far corner bounds the k-th-neighbour
        distance of (x, y) (:func:`knn_seed`); 0 on an empty tree."""
        if not len(self.leaves["node"]):
            return 0
        pos, _ = knn_seed(np.array([x]), np.array([y]), self.leaves, k)
        return int(self.leaves["node"][pos[0]])

    def knn_r2_bound(self, x: float, y: float, node_id: int) -> float:
        """Distance² from (x, y) to the far corner of ``node_id``'s data
        bbox; with :meth:`knn_seed_node`'s leaf it is the planner's k-th
        distance² bound."""
        bb = self.data_bbox(node_id)
        if bb is None:
            return INF
        box = {c: np.array([v]) for c, v in zip(("xmin", "xmax", "ymin", "ymax"), bb)}
        return float(_far2(np.array([x]), np.array([y]), box)[0, 0])
