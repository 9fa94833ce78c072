"""Serial oracles the tests check the library against.

``build_oracle`` is the ground truth the distributed build and the fused
build's kernel (``operators/kernel.py``) are tested against (SURVEY.md
§5.2); it shares no code with either. It implements the *canonical
deterministic* semantics defined in SURVEY.md §4.4 — heap node ids, exact
split values, stable assignment — which reproduce the reference's geometry
exactly whenever the reference's systematic sample stride is 1 (n ≤ 100 per
node, reference nocuda.cpp:27-36), while removing its three nondeterminism
sources (allocation-order node layout, partition-order-dependent samples,
wall-clock seeding; reference fixlentree.hh:42,53 / nocuda.cpp:30-34 /
main.cpp:447-451).

Build recursion mirrors reference nocuda.cpp:70-138:
  root splits on x, axis alternates by depth (nocuda.cpp:102-107), a node
  splits iff it has ≥2 points, depth < max_depth (nocuda.cpp:75,113) and the
  split is non-degenerate (neither side empty — nocuda.cpp:97-100).

Code semantics mirror reference lkt.cpp:140-157: bit = 1 ⇔ went left
(point.axis < split.value), LSB-first along the root-to-leaf path, unused
high bits zero.  ``sort_key`` is the monotone transform (bit = 0 ⇔ left,
MSB-first, left-padded to ``max_depth`` bits) whose ascending order equals
the reference's physical kd array order (SURVEY.md §1.3, FIXTURES.md F3).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

MAX_DEPTH = 32  # reference nocuda.cpp:113: sizeof(mortoncode_t) * CHAR_BIT


@dataclass
class OracleSplit:
    node_id: int  # heap position: root 0, children 2i+1 / 2i+2 (reference's
    # unused-but-intended heap helpers, nocuda.cpp:57-59)
    depth: int
    axis: int  # 0 = x, 1 = y
    value: float
    n_left: int
    n_right: int
    left_child: int = -1  # heap id of child split node, -1 if child is a leaf
    right_child: int = -1


@dataclass
class OracleResult:
    splits: dict[int, OracleSplit] = field(default_factory=dict)
    node: np.ndarray = None  # final (leaf) heap node id per point
    path_len: np.ndarray = None
    code: np.ndarray = None  # reference-faithful tree-path code (uint32 range)
    sk: np.ndarray = None  # unpadded MSB-first path int (0 = left)
    sort_key: np.ndarray = None  # monotone transform, kd physical order
    max_depth: int = MAX_DEPTH

    def kd_order(self) -> np.ndarray:
        """Indices that sort points into reference physical kd order
        (ties within a leaf broken by original index = key order)."""
        return np.lexsort((np.arange(len(self.sort_key)), self.sort_key))


def split_value(values: np.ndarray, strategy: str) -> float:
    """Canonical split value for one node.

    ``mean``   — mean in float64, QUANTIZED to the coordinate type for
                 float32 builds (reference stores splits as ``ord_t``,
                 lkt.h:13): a last-ulp float64 summation-order difference
                 between engines almost never survives float32 rounding,
                 which is what makes the mean split reproducible across
                 numpy / Spark AVG / DuckDB AVG regardless of their
                 summation orders.
    ``median`` — discrete upper median: sorted[n // 2], an actual data value
                 (bit-exact across engines; the distributed build's
                 window-based exact-median computes the same element).
    """
    if strategy == "mean":
        m = np.mean(values.astype(np.float64))
        if values.dtype == np.float32:
            m = np.float64(np.float32(m))
        return float(m)
    if strategy == "median":
        return float(np.sort(values)[len(values) // 2])
    raise ValueError(f"unknown split strategy: {strategy}")


def build_oracle(
    x: np.ndarray,
    y: np.ndarray,
    max_depth: int = MAX_DEPTH,
    strategy: str = "mean",
    depth_offset: int = 0,
    min_split: int = 2,
    coord_dtype=np.float32,
) -> OracleResult:
    """Level-synchronous serial build over coordinate arrays.

    ``depth_offset`` shifts the axis parity — used when building a SUBTREE
    rooted at global depth ``depth_offset`` (the local phase of the hybrid
    distributed build). ``min_split`` = minimum node size that still splits
    (leaf_size + 1). ``coord_dtype`` mirrors the engine's coord_type.
    """
    n = len(x)
    x = np.asarray(x, dtype=coord_dtype)
    y = np.asarray(y, dtype=coord_dtype)
    node = np.zeros(n, dtype=np.int64)
    path_len = np.zeros(n, dtype=np.int64)
    code = np.zeros(n, dtype=np.int64)
    sk = np.zeros(n, dtype=np.int64)
    stopped = np.zeros(n, dtype=bool)
    splits: dict[int, OracleSplit] = {}

    for depth in range(max_depth):
        axis_vals = x if (depth + depth_offset) % 2 == 0 else y
        active_idx = np.flatnonzero(~stopped)
        if len(active_idx) == 0:
            break
        # group active points by node via one sort (O(n log n) per level,
        # not O(n × nodes))
        order = active_idx[np.argsort(node[active_idx], kind="stable")]
        nodes_sorted = node[order]
        bounds = np.flatnonzero(np.diff(nodes_sorted)) + 1
        for grp in np.split(order, bounds):
            nid = int(node[grp[0]])
            vals = axis_vals[grp]
            if len(vals) < min_split:
                stopped[grp] = True
                continue
            sv = split_value(vals, strategy)
            left = vals < sv
            n_left = int(left.sum())
            if n_left == 0 or n_left == len(vals):  # degenerate — one side
                stopped[grp] = True  # empty (reference nocuda.cpp:97-100)
                continue
            splits[nid] = OracleSplit(
                node_id=nid,
                depth=depth,
                axis=(depth + depth_offset) % 2,
                value=sv,
                n_left=n_left,
                n_right=len(vals) - n_left,
            )
            right_bit = (~left).astype(np.int64)
            code[grp] |= left.astype(np.int64) << depth
            sk[grp] = sk[grp] * 2 + right_bit
            node[grp] = 2 * node[grp] + 1 + right_bit
            path_len[grp] += 1

    for nid, s in splits.items():
        if 2 * nid + 1 in splits:
            s.left_child = 2 * nid + 1
        if 2 * nid + 2 in splits:
            s.right_child = 2 * nid + 2

    sort_key = sk << (max_depth - path_len)
    return OracleResult(
        splits=splits,
        node=node,
        path_len=path_len,
        code=code,
        sk=sk,
        sort_key=sort_key,
        max_depth=max_depth,
    )


def codes_from_tree(
    x: np.ndarray, y: np.ndarray, splits: dict[int, OracleSplit]
) -> np.ndarray:
    """Reference-faithful per-point code computation from a built tree —
    the serial analogue of lkt_create_mortoncodes_sisd (lkt.cpp:140-157):
    walk from the root, at each visited split set bit ``depth`` to
    ``1`` iff the point goes left, follow the child link, stop when the
    child has no split node."""
    n = len(x)
    code = np.zeros(n, dtype=np.int64)
    for i in range(n):
        j = 0
        depth = 0
        while j in splits:
            s = splits[j]
            v = float(x[i] if s.axis == 0 else y[i])
            left = v < s.value
            code[i] |= np.int64(left) << depth
            j = 2 * j + 1 if left else 2 * j + 2
            depth += 1
        # walk off the tree — matches tree_end sentinel (fixlentree.hh:23)
    return code


def brute_knn(
    px: np.ndarray,
    py: np.ndarray,
    keys: np.ndarray,
    qx: float,
    qy: float,
    k: int,
) -> list[tuple[int, float]]:
    """Brute-force exact kNN oracle; ties broken by ascending key."""
    d2 = (px.astype(np.float64) - qx) ** 2 + (py.astype(np.float64) - qy) ** 2
    order = np.lexsort((keys, d2))[:k]
    return [(int(keys[i]), float(d2[i])) for i in order]


def point_in_polygon(px: float, py: float, vertices: list[tuple[float, float]]) -> bool:
    """Ray-casting (even-odd) PIP oracle; strictly-inside counts, points on
    an edge or a vertex are excluded (documented boundary rule, FIXTURES.md
    F4) by an explicit on-segment test: the crossing count alone takes a
    point on a left-hand edge as inside."""
    inside = False
    m = len(vertices)
    for i in range(m):
        x1, y1 = vertices[i]
        x2, y2 = vertices[(i + 1) % m]
        collinear = (px - x1) * (y2 - y1) == (py - y1) * (x2 - x1)
        if (collinear and min(x1, x2) <= px <= max(x1, x2)
                and min(y1, y2) <= py <= max(y1, y2)):
            return False
        if (y1 > py) != (y2 > py):
            xint = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
            if px < xint:
                inside = not inside
    return inside


def node_bits(node: int, max_depth: int = MAX_DEPTH) -> tuple[int, int, int]:
    """(path_len, code, sort_key) of heap node id ``node``, bit by bit.

    ``node + 1 = 0b1 b1 b2 … bL`` with ``b_i = 1`` ⇔ the path went right
    at level i: ``path_len`` = L; bit (i − 1) of ``code`` = 1 − b_i
    (went left, LSB-first; reference lkt.cpp:149-150); ``sort_key`` = the
    path bits b1 … bL (0 = left, MSB-first) left-padded to ``max_depth``
    bits, whose ascending order is the physical kd order."""
    v = node + 1
    plen = sum(1 for i in range(1, max_depth + 1) if v >= 1 << i)
    code = sk = 0
    for i in range(1, plen + 1):
        b_i = (v >> (plen - i)) & 1
        code |= (1 - b_i) << (i - 1)
        sk = 2 * sk + b_i
    return plen, code, sk << (max_depth - plen)


def hex_cell_scalar(lat_deg: float, lng_deg: float, res: int) -> int:
    """Scalar twin (pure python floats/ints) of the vectorized
    ``functions/hexgrid.hex_cell_from_face_xy`` descent."""
    from linear_kdtree_spark.functions.hexgrid import (
        DIGIT_DIRS,
        INV_SQRT3,
        MAX_RES,
        latlng_to_face_xy,
    )

    f, x, y = latlng_to_face_xy([lat_deg], [lng_deg])
    face = int(f[0])
    i0 = float(x[0]) * INV_SQRT3 - float(y[0]) / 3.0
    j0 = float(y[0]) * (2.0 / 3.0)
    vi = vj = 0
    cell = (res << 50) | (face << 45)
    a = [[1, 0], [0, 1]]
    for k in range(1, res + 1):
        a = [
            [2 * a[0][0] - a[1][0], 2 * a[0][1] - a[1][1]],
            [a[0][0] + 3 * a[1][0], a[0][1] + 3 * a[1][1]],
        ]
        fi = a[0][0] * i0 + a[0][1] * j0
        fj = a[1][0] * i0 + a[1][1] * j0
        pi = 2 * vi - vj
        pj = vi + 3 * vj
        best = None
        chosen = (0, pi, pj)
        for d, (di, dj) in enumerate(DIGIT_DIRS.tolist()):
            ci, cj = pi + di, pj + dj
            ei, ej = ci - fi, cj - fj
            dist = ei * ei + ei * ej + ej * ej
            if best is None or dist < best:
                best = dist
                chosen = (d, ci, cj)
        d, vi, vj = chosen
        cell |= d << (45 - 3 * k)
    for k in range(res + 1, MAX_RES + 1):
        cell |= 7 << (45 - 3 * k)
    return cell
