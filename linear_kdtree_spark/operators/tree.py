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
  only the partition index, lkt.h:21-24) — these power kNN bound selection
  and per-partition lineage metrics.

The tree is tiny relative to the data (≤ one node per split, depth ≤ 32),
so it collects to the driver and broadcasts to executors; query planning
turns tree traversals into **contiguous ``sort_key`` intervals** (each
subtree is contiguous in kd order — the defining property of the *linear*
kd-tree layout) which Parquet/Iceberg min-max pruning and Spark partition
pruning then exploit.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from linear_kdtree_spark.oracle import MAX_DEPTH

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


@dataclass
class TreeNode:
    node_id: int
    depth: int
    axis: int  # 0 = x, 1 = y
    value: float
    n_left: int
    n_right: int


class SplitTree:
    """Immutable driver-side kd split tree with traversal planning."""

    def __init__(self, nodes: dict[int, TreeNode], max_depth: int = MAX_DEPTH,
                 total_points: int | None = None):
        self.nodes = nodes
        self.max_depth = max_depth
        if total_points is None and 0 in nodes:
            total_points = nodes[0].n_left + nodes[0].n_right
        self.total_points = total_points or 0
        # node → exact data bbox (xmin, xmax, ymin, ymax); populated by the
        # build from the per-level stats shuffle it already runs (zero extra
        # jobs). Powers driver-side kNN radius bounds; empty on trees
        # reloaded without bounds (callers degrade to full-range plans).
        self.node_bounds: dict[int, tuple] = {}

    # ------------------------------------------------------------------ IO
    @classmethod
    def from_rows(cls, rows, max_depth: int = MAX_DEPTH) -> "SplitTree":
        nodes = {
            int(r["node_id"]): TreeNode(
                node_id=int(r["node_id"]),
                depth=int(r["depth"]),
                axis=int(r["axis"]),
                value=float(r["value"]),
                n_left=int(r["n_left"]),
                n_right=int(r["n_right"]),
            )
            for r in rows
        }
        return cls(nodes, max_depth=max_depth)

    @classmethod
    def from_df(cls, splits_df, max_depth: int = MAX_DEPTH) -> "SplitTree":
        return cls.from_rows(
            [r.asDict() for r in splits_df.collect()], max_depth=max_depth
        )

    def to_rows(self) -> list[dict]:
        out = []
        for nid in sorted(self.nodes):
            s = self.nodes[nid]
            out.append(
                {
                    "node_id": nid,
                    "depth": s.depth,
                    "axis": s.axis,
                    "value": s.value,
                    "n_left": s.n_left,
                    "n_right": s.n_right,
                    "left_child": 2 * nid + 1 if 2 * nid + 1 in self.nodes else -1,
                    "right_child": 2 * nid + 2 if 2 * nid + 2 in self.nodes else -1,
                }
            )
        return out

    def to_arrays(self) -> dict[str, np.ndarray]:
        """Positional arrays for the vectorized code UDF: for sorted node
        ids, ``(ids, axis, value, left_pos, right_pos)`` where ``*_pos`` is
        the child's position in the same arrays or -1 (the broadcastable
        analogue of the reference's flat node array, fixlentree.hh:25-30)."""
        ids = np.array(sorted(self.nodes), dtype=np.int64)
        pos = {int(n): i for i, n in enumerate(ids)}
        axis = np.array([self.nodes[n].axis for n in ids], dtype=np.int64)
        value = np.array([self.nodes[n].value for n in ids], dtype=np.float64)
        left = np.array([pos.get(2 * n + 1, -1) for n in ids], dtype=np.int64)
        right = np.array([pos.get(2 * n + 2, -1) for n in ids], dtype=np.int64)
        return {"ids": ids, "axis": axis, "value": value, "left": left, "right": right}

    def to_query_arrays(self) -> dict:
        """:meth:`to_arrays` plus per-node subtree counts and data bboxes —
        everything the fully-distributed batch-kNN planner needs inside an
        executor (operators/knn.py knn_batch): the whole tree broadcasts as
        a handful of flat numpy arrays, the distributed analogue of the
        reference's device-side flat node array (lkt.cu:55-59)."""
        arrs = self.to_arrays()
        ids = arrs["ids"]
        arrs["n_left"] = np.array(
            [self.nodes[n].n_left for n in ids], dtype=np.int64
        )
        arrs["n_right"] = np.array(
            [self.nodes[n].n_right for n in ids], dtype=np.int64
        )
        bbox = np.full((max(len(ids), 1), 4), np.nan, dtype=np.float64)
        valid = np.zeros(max(len(ids), 1), dtype=bool)
        for i, n in enumerate(ids):
            b = self.node_bounds.get(int(n))
            if b is not None:
                bbox[i] = b
                valid[i] = True
        arrs["bbox"] = bbox[: len(ids)]
        arrs["bbox_valid"] = valid[: len(ids)]
        arrs["max_depth"] = self.max_depth
        arrs["total_points"] = self.total_points
        return arrs

    # ----------------------------------------------------------- structure
    def count(self, node_id: int) -> int:
        """Point count of a node's subtree (split node or leaf child)."""
        if node_id in self.nodes:
            s = self.nodes[node_id]
            return s.n_left + s.n_right
        if node_id == 0:
            return self.total_points
        parent = (node_id - 1) // 2
        if parent in self.nodes:
            p = self.nodes[parent]
            return p.n_left if node_id == 2 * parent + 1 else p.n_right
        return 0

    def leaf_for(self, x: float, y: float) -> int:
        """Heap id of the leaf region containing (x, y) — the query-side
        replay of the build's descent (reference lkt.cpp:146-152)."""
        j = 0
        while j in self.nodes:
            s = self.nodes[j]
            v = x if s.axis == 0 else y
            j = 2 * j + 1 if v < s.value else 2 * j + 2
        return j

    # ------------------------------------------------------------ planning
    def ranges_for_bbox(
        self, xmin: float, ymin: float, xmax: float, ymax: float
    ) -> list[tuple[int, int]]:
        """Merged, sorted half-open ``sort_key`` intervals covering every
        region intersecting the closed query bbox. This replaces a custom
        Catalyst rule: the ranges become plain predicates Catalyst pushes to
        the scan (SURVEY.md §4.2)."""
        out: list[tuple[int, int]] = []
        stack = [0]
        while stack:
            n = stack.pop()
            if n not in self.nodes:
                out.append(node_interval(n, self.max_depth))
                continue
            s = self.nodes[n]
            lo, hi = (xmin, xmax) if s.axis == 0 else (ymin, ymax)
            # left subtree holds values < split, right holds >= split
            if lo < s.value:
                stack.append(2 * n + 1)
            if hi >= s.value:
                stack.append(2 * n + 2)
        return merge_intervals(out)

    def ranges_for_circle(
        self, cx: float, cy: float, r: float
    ) -> list[tuple[int, int]]:
        return self.ranges_for_bbox(cx - r, cy - r, cx + r, cy + r)

    def knn_seed_node(self, x: float, y: float, k: int) -> int:
        """Smallest ancestor of (x, y)'s leaf whose subtree holds ≥ k points
        — the kNN seed node (scalar reference for operators/knn.py's
        vectorized ``_seed_r2_bound``)."""
        n = self.leaf_for(x, y)
        while n > 0 and self.count(n) < k:
            n = (n - 1) // 2
        return n

    def data_bbox(self, node_id: int) -> tuple[float, float, float, float] | None:
        """Exact (xmin, xmax, ymin, ymax) of the points under ``node_id``,
        from the build's per-level stats — or the nearest recorded ancestor's
        (a superset, still a valid bound). None when the tree carries no
        bounds (e.g. reloaded from a bare splits table)."""
        n = node_id
        while True:
            if n in self.node_bounds:
                return self.node_bounds[n]
            if n == 0:
                return None
            n = (n - 1) // 2

    def knn_r2_bound(self, x: float, y: float, node_id: int) -> float:
        """Upper bound on the k-th-NN distance² for a query at (x, y) whose
        seed node (≥ k points) is ``node_id``: the far corner of the seed's
        data bbox — every one of those ≥ k points lies inside it, so the
        k-th nearest overall is no farther."""
        bb = self.data_bbox(node_id)
        if bb is None:
            return INF
        xmin, xmax, ymin, ymax = bb
        dx = max(abs(x - xmin), abs(x - xmax))
        dy = max(abs(y - ymin), abs(y - ymax))
        return dx * dx + dy * dy


def merge_intervals(intervals: list[tuple[int, int]]) -> list[tuple[int, int]]:
    if not intervals:
        return []
    intervals = sorted(intervals)
    merged = [list(intervals[0])]
    for lo, hi in intervals[1:]:
        if lo <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], hi)
        else:
            merged.append([lo, hi])
    return [(lo, hi) for lo, hi in merged]
