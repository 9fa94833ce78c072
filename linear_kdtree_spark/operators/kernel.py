"""Serial build kernel of the fused local finish (operators/build.py).

One deferred subtree of the hybrid build is finished here with the
canonical build recursion of the reference (nocuda.cpp:70-138): root
splits on x, the axis alternates by depth, and a node splits iff it holds
at least ``min_split`` points, lies above ``max_depth`` and the split
leaves neither side empty. ``tests/test_oracle.py`` checks the result
against an independent serial oracle, bit for bit.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np


class KernelResult(NamedTuple):
    """What the fused finish reads, all in kd order (left subtree first,
    ties by input position), local heap numbering (root 0)."""

    perm: np.ndarray  # input position of each row
    x: np.ndarray  # coordinates, coord dtype
    y: np.ndarray
    node: np.ndarray  # leaf heap id of each row
    path_len: np.ndarray  # depth of that leaf
    splits: list  # (node_id, depth, axis, value, n_left, n_right) rows
    leaves: dict  # node, path_len, count, xmin, xmax, ymin, ymax arrays


def split_value(values: np.ndarray, strategy: str) -> float:
    """Split value of one node.

    ``mean``   — mean in float64, quantized to float32 for float32 builds
                 (the reference stores splits as ``ord_t``, lkt.h:13), so
                 a last-ulp summation-order difference between engines
                 almost never survives. ``operators/build._split_stats``
                 and the f32 unrolled-CTE gate oracle in ``entry.py``
                 quantize the same way.
    ``median`` — discrete upper median sorted[n // 2], an actual data value.
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


def build_local_fast(
    x: np.ndarray,
    y: np.ndarray,
    max_depth: int,
    strategy: str = "mean",
    depth_offset: int = 0,
    min_split: int = 2,
    coord_dtype=np.float32,
) -> KernelResult:
    """Build one subtree over ``(x, y)``; O(n · depth).

    Each node's points stay contiguous through an in-place STABLE
    partition that is vectorized across every splitting segment of a
    level (one cumsum-based O(active-rows) pass — a per-segment
    mask+concat loop measured ~14 s per 2.4 M-point fused-build task,
    this kernel ~1 s). A stable partition keeps each subset's relative
    order, so every split value sees the same value sequence as a serial
    recursion, and the final partition order is kd order.

    ``depth_offset`` is the subtree root's global depth (it sets the axis
    parity); ``max_depth`` is the depth left below it. Returns a
    :class:`KernelResult`.
    """
    n = len(x)
    xs = np.array(x, dtype=coord_dtype)  # working copies, partition order
    ys = np.array(y, dtype=coord_dtype)
    orig = np.arange(n, dtype=np.int64)
    # leaf attributes in partition order, written once per finished leaf
    node_p = np.zeros(n, dtype=np.int64)
    plen_p = np.zeros(n, dtype=np.int64)
    splits: list[tuple] = []

    # Level-synchronous traversal: per level, one gathered O(active-rows)
    # pass computes the stable partition of every splitting segment at once
    # with cumulative sums. Split VALUES are still taken per segment
    # through :func:`split_value` on contiguous views.
    seg_starts = np.array([0] if n else [], dtype=np.int64)
    seg_lens = np.array([n] if n else [], dtype=np.int64)
    seg_nids = np.zeros(len(seg_starts), dtype=np.int64)
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
                    splits.append((
                        int(seg_nids[i]), d, axis, float(sv_arr[i]),
                        int(nli), int(seg_lens[i] - nli),
                    ))
        # leaves at this depth: everything that did not split
        for i in np.flatnonzero(~is_split):
            s, e = int(seg_starts[i]), int(seg_starts[i] + seg_lens[i])
            node_p[s:e] = seg_nids[i]
            plen_p[s:e] = d
        # children of splitting segments (left child first = kd order)
        s_idx = np.flatnonzero(is_split)
        if not len(s_idx):
            break
        nl_s = nl[ok]  # nl over candidates, filtered to splitters
        k = len(s_idx)
        new_starts = np.empty(2 * k, dtype=np.int64)
        new_lens = np.empty(2 * k, dtype=np.int64)
        new_nids = np.empty(2 * k, dtype=np.int64)
        new_starts[0::2] = seg_starts[s_idx]
        new_starts[1::2] = seg_starts[s_idx] + nl_s
        new_lens[0::2] = nl_s
        new_lens[1::2] = seg_lens[s_idx] - nl_s
        new_nids[0::2] = 2 * seg_nids[s_idx] + 1
        new_nids[1::2] = 2 * seg_nids[s_idx] + 2
        seg_starts, seg_lens, seg_nids = new_starts, new_lens, new_nids
        d += 1

    # the leaf table's rows: each leaf's points are one contiguous slice of
    # the final partition order, so four reduceat passes give every leaf's
    # exact data bbox (min/max over the same value multiset as a groupBy,
    # so bit-identical to one)
    start = np.flatnonzero(np.diff(node_p, prepend=-1))
    leaves = {
        "node": node_p[start],
        "path_len": plen_p[start],
        "count": np.diff(np.append(start, n)),
    }
    for name, f, v in (("xmin", np.minimum, xs), ("xmax", np.maximum, xs),
                       ("ymin", np.minimum, ys), ("ymax", np.maximum, ys)):
        leaves[name] = f.reduceat(v, start)
    return KernelResult(orig, xs, ys, node_p, plen_p, splits, leaves)
