"""Serial numpy oracle for the canonical linear kd-tree semantics.

This is the ground truth the distributed build is tested against
(SURVEY.md §5.2). It implements the *canonical deterministic* semantics
defined in SURVEY.md §4.4 — heap node ids, exact split values, stable
assignment — which reproduce the reference's geometry exactly whenever the
reference's systematic sample stride is 1 (n ≤ 100 per node, reference
nocuda.cpp:27-36), while removing its three nondeterminism sources
(allocation-order node layout, partition-order-dependent samples, wall-clock
seeding; reference fixlentree.hh:42,53 / nocuda.cpp:30-34 / main.cpp:447-451).

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
                 summation orders (the quantization is applied by every
                 implementation: here, operators/build._split_stats, and
                 the f32 unrolled-CTE oracle in entry.py).
    ``median`` — discrete upper median: sorted[n // 2], an actual data value
                 (bit-exact across engines; the distributed build's
                 window-based exact-median computes the same element).
    """
    if strategy == "mean":
        # np.sum(…, dtype=f64) == np.mean(values.astype(f64)) bit-exactly
        # (same pairwise reduction tree, each leaf add converts exactly)
        # without materializing a float64 copy per node — the copy was the
        # top cost of deep skewed local builds (2.4 s / 2.2 M points)
        m = np.sum(values, dtype=np.float64) / len(values)
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


def build_local_fast(
    x: np.ndarray,
    y: np.ndarray,
    max_depth: int = MAX_DEPTH,
    strategy: str = "mean",
    depth_offset: int = 0,
    min_split: int = 2,
    coord_dtype=np.float32,
) -> OracleResult:
    """Bit-identical fast twin of :func:`build_oracle` — the hot path of
    the hybrid build's fused local finish (operators/build.py).

    ``build_oracle`` re-sorts ALL active points by node id every level
    (O(n log n · depth) with thousands of ``np.split`` views at deep
    levels; measured 21 s for a 3 M-point subtree). This version keeps
    each node's points contiguous via an in-place STABLE partition that
    is fully VECTORIZED across every splitting segment of a level (one
    cumsum-based O(active-rows) pass — the earlier per-segment
    mask+concat loop measured ~14 s per 2.4 M-point fused-build task;
    this kernel ~1 s). Identity holds because a stable partition
    preserves each subset's relative order, so every ``np.mean`` /
    ``np.sort`` sees the identical value sequence and every split value
    is bit-equal (differential-tested in tests/test_oracle.py).

    Extra: ``result.kd_perm`` — indices in physical kd order (left
    subtree first = depth-first layout, ties by original position), free
    from the partition layout; equals ``result.kd_order()``. And
    ``result.leaves`` — one row per leaf in kd order, as arrays ``node``,
    ``path_len``, ``count``, ``xmin``, ``xmax``, ``ymin``, ``ymax`` (local
    heap ids; the fused build maps them into the global numbering).
    """
    n = len(x)
    xs = np.array(x, dtype=coord_dtype)  # working copies, partition order
    ys = np.array(y, dtype=coord_dtype)
    orig = np.arange(n, dtype=np.int64)
    # leaf attributes in partition order — written ONCE per finished leaf
    # (all points of a leaf share node/path_len/code/sk), instead of six
    # fancy-index scatters per level
    node_p = np.zeros(n, dtype=np.int64)
    plen_p = np.zeros(n, dtype=np.int64)
    code_p = np.zeros(n, dtype=np.int64)
    sk_p = np.zeros(n, dtype=np.int64)
    splits: dict[int, OracleSplit] = {}

    # Level-synchronous VECTORIZED traversal: per level, one gathered
    # O(active-rows) pass computes the stable partition of EVERY splitting
    # segment at once with cumulative sums — no per-segment mask/concat
    # loop (that loop's per-segment data movement measured ~14 s per
    # 2.4 M-point fused-build task; this kernel removes it). Split VALUES
    # are still taken per segment through :func:`split_value` on the same
    # contiguous views the recursive form sees — identical value sequence,
    # identical pairwise summation, bit-equal splits.
    seg_starts = np.array([0], dtype=np.int64)
    seg_lens = np.array([n], dtype=np.int64) if n else np.empty(0, np.int64)
    if not n:
        seg_starts = np.empty(0, np.int64)
    seg_nids = np.zeros(len(seg_starts), dtype=np.int64)
    seg_codes = np.zeros(len(seg_starts), dtype=np.int64)
    seg_sks = np.zeros(len(seg_starts), dtype=np.int64)
    d = 0
    while len(seg_starts):
        axis = (d + depth_offset) % 2
        vals = xs if axis == 0 else ys
        n_seg = len(seg_starts)
        # candidates: big enough and under the depth cap; the rest leaf
        # at THIS depth (reference nocuda.cpp:75,113)
        if d < max_depth:
            can = seg_lens >= min_split
        else:
            can = np.zeros(n_seg, dtype=bool)
        is_split = np.zeros(n_seg, dtype=bool)
        sv_arr = np.empty(n_seg, dtype=np.float64)
        can_idx = np.flatnonzero(can)
        if len(can_idx):
            for i in can_idx:  # ≈ 2·(#leaves) tiny iterations total
                s = int(seg_starts[i])
                sv_arr[i] = split_value(
                    vals[s:s + int(seg_lens[i])], strategy
                )
            c_starts = seg_starts[can]
            c_lens = seg_lens[can]
            tot = int(c_lens.sum())
            off = np.zeros(len(c_starts), dtype=np.int64)
            np.cumsum(c_lens[:-1], out=off[1:])
            # global row positions of candidate rows, grouped by segment
            pos = (
                np.repeat(c_starts - off, c_lens)
                + np.arange(tot, dtype=np.int64)
            )
            seg_of = np.repeat(
                np.arange(len(c_starts), dtype=np.int64), c_lens
            )
            left = vals[pos] < np.repeat(sv_arr[can], c_lens)
            li = left.astype(np.int64)
            cl_excl = np.cumsum(li) - li
            nl = np.add.reduceat(li, off)
            # degenerate = one side empty (reference nocuda.cpp:97-100)
            ok = (nl > 0) & (nl < c_lens)
            is_split[can_idx[ok]] = True
            if ok.any():
                # stable within-segment partition, all segments at once:
                # a left row lands at (#lefts before it), a right row at
                # n_left + (#rights before it) — both from one cumsum
                rows_ok = ok[seg_of]
                rank = np.arange(tot, dtype=np.int64) - off[seg_of]
                lb = cl_excl - cl_excl[off][seg_of]
                newrank = np.where(left, lb, nl[seg_of] + (rank - lb))
                srcpos = pos[rows_ok]
                dstpos = (c_starts[seg_of] + newrank)[rows_ok]
                for arr in (xs, ys, orig):
                    arr[dstpos] = arr[srcpos]  # RHS gathers before scatter
                for i, nli in zip(can_idx[ok], nl[ok]):
                    nid = int(seg_nids[i])
                    splits[nid] = OracleSplit(
                        node_id=nid, depth=d, axis=axis,
                        value=float(sv_arr[i]),
                        n_left=int(nli), n_right=int(seg_lens[i] - nli),
                    )
        # leaves at this depth: everything that did not split
        for i in np.flatnonzero(~is_split):
            s, e = int(seg_starts[i]), int(seg_starts[i] + seg_lens[i])
            node_p[s:e] = seg_nids[i]
            plen_p[s:e] = d
            code_p[s:e] = seg_codes[i]
            sk_p[s:e] = seg_sks[i]
        # children of splitting segments (left child first = kd order)
        s_idx = np.flatnonzero(is_split)
        if not len(s_idx):
            break
        nl_s = nl[ok]  # nl over candidates, filtered to splitters
        k = len(s_idx)
        new_starts = np.empty(2 * k, dtype=np.int64)
        new_lens = np.empty(2 * k, dtype=np.int64)
        new_nids = np.empty(2 * k, dtype=np.int64)
        new_codes = np.empty(2 * k, dtype=np.int64)
        new_sks = np.empty(2 * k, dtype=np.int64)
        new_starts[0::2] = seg_starts[s_idx]
        new_starts[1::2] = seg_starts[s_idx] + nl_s
        new_lens[0::2] = nl_s
        new_lens[1::2] = seg_lens[s_idx] - nl_s
        new_nids[0::2] = 2 * seg_nids[s_idx] + 1
        new_nids[1::2] = 2 * seg_nids[s_idx] + 2
        new_codes[0::2] = seg_codes[s_idx] | (np.int64(1) << d)
        new_codes[1::2] = seg_codes[s_idx]
        new_sks[0::2] = seg_sks[s_idx] << 1
        new_sks[1::2] = (seg_sks[s_idx] << 1) | 1
        seg_starts, seg_lens = new_starts, new_lens
        seg_nids, seg_codes, seg_sks = new_nids, new_codes, new_sks
        d += 1

    for nid, sp in splits.items():
        if 2 * nid + 1 in splits:
            sp.left_child = 2 * nid + 1
        if 2 * nid + 2 in splits:
            sp.right_child = 2 * nid + 2

    # the leaf table's rows for this subtree, in kd order: each leaf's
    # points are one contiguous slice of the final partition order, so four
    # reduceat passes give every leaf's exact data bbox (min/max over the
    # same value multiset as a groupBy, so bit-identical to one)
    start = np.flatnonzero(np.diff(node_p, prepend=-1))
    leaves = {
        "node": node_p[start],
        "path_len": plen_p[start],
        "count": np.diff(np.append(start, n)),
    }
    for name, f, v in (("xmin", np.minimum, xs), ("xmax", np.maximum, xs),
                       ("ymin", np.minimum, ys), ("ymax", np.maximum, ys)):
        leaves[name] = f.reduceat(v, start)

    # scatter back to original point order (build_oracle's contract); the
    # partition order itself is exactly kd order (left subtree first,
    # within-leaf stable), so orig doubles as kd_perm
    inv = np.empty(n, dtype=np.int64)
    inv[orig] = np.arange(n, dtype=np.int64)
    node = node_p[inv]
    path_len = plen_p[inv]
    res = OracleResult(
        splits=splits,
        node=node,
        path_len=path_len,
        code=code_p[inv],
        sk=sk_p[inv],
        sort_key=sk_p[inv] << (max_depth - path_len),
        max_depth=max_depth,
    )
    res.kd_perm = orig
    res.leaves = leaves
    return res


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
    an edge are excluded (documented boundary rule, FIXTURES.md F4)."""
    inside = False
    m = len(vertices)
    for i in range(m):
        x1, y1 = vertices[i]
        x2, y2 = vertices[(i + 1) % m]
        if (y1 > py) != (y2 > py):
            xint = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
            if px < xint:
                inside = not inside
    return inside
