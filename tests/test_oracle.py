"""Unit tests for the serial numpy oracle against the FIXTURES.md F3 worked
example — the anchor for every downstream parity test."""

import numpy as np
import pytest

from linear_kdtree_spark.operators import kernel
from tests.conftest import F3_EXPECTED, F3_POINTS, F3_SPLITS
from tests.oracle import (
    MAX_DEPTH,
    brute_knn,
    build_oracle,
    codes_from_tree,
    point_in_polygon,
)


def _f3_arrays():
    keys = np.array([p[0] for p in F3_POINTS])
    x = np.array([p[1] for p in F3_POINTS], dtype=np.float32)
    y = np.array([p[2] for p in F3_POINTS], dtype=np.float32)
    return keys, x, y


def test_f3_splits():
    keys, x, y = _f3_arrays()
    res = build_oracle(x, y, strategy="mean")
    assert set(res.splits) == set(F3_SPLITS)
    for nid, (depth, axis, value) in F3_SPLITS.items():
        s = res.splits[nid]
        assert (s.depth, s.axis) == (depth, axis)
        assert s.value == value
    # child links: nodes 1 and 2 have both children; depth-2 nodes none
    assert res.splits[0].left_child == 1 and res.splits[0].right_child == 2
    assert res.splits[1].left_child == 3 and res.splits[1].right_child == 4
    assert res.splits[3].left_child == -1 and res.splits[3].right_child == -1


def test_f3_codes_and_order():
    keys, x, y = _f3_arrays()
    res = build_oracle(x, y, strategy="mean")
    for i, key in enumerate(keys):
        code, sk3 = F3_EXPECTED[int(key)]
        assert res.code[i] == code, key
        assert res.sort_key[i] == sk3 << (MAX_DEPTH - 3), key
        assert res.path_len[i] == 3
    order = keys[res.kd_order()]
    assert list(order) == [7, 2, 1, 4, 0, 3, 6, 5]


def test_f3_codes_from_tree_match_build():
    keys, x, y = _f3_arrays()
    res = build_oracle(x, y, strategy="mean")
    recomputed = codes_from_tree(x, y, res.splits)
    assert np.array_equal(recomputed, res.code)


def test_invariants_random():
    rng = np.random.default_rng(42)
    x = rng.uniform(0, 100, 1000).astype(np.float32)
    y = rng.uniform(0, 100, 1000).astype(np.float32)
    for strategy in ("mean", "median"):
        res = build_oracle(x, y, max_depth=16, strategy=strategy)
        # split invariant (generalizes the reference's inline SORT FAILED
        # checks, lkt.cpp:110-134): every point's coordinates respect every
        # ancestor split on its path
        for i in range(len(x)):
            j = 0
            while j in res.splits:
                s = res.splits[j]
                v = x[i] if s.axis == 0 else y[i]
                went_left = bool((res.code[i] >> s.depth) & 1)
                if went_left:
                    assert v < s.value
                    j = 2 * j + 1
                else:
                    assert v >= s.value
                    j = 2 * j + 2
                if j == res.node[i]:
                    break
        # subtree contiguity: sort_key order groups leaves contiguously
        order = res.kd_order()
        nodes_in_order = res.node[order]
        seen = set()
        prev = None
        for n in nodes_in_order:
            if n != prev:
                assert n not in seen, "leaf nodes not contiguous in kd order"
                seen.add(n)
                prev = n
        # counts
        root = res.splits[0]
        assert root.n_left + root.n_right == len(x)


def test_median_strategy_is_data_value():
    rng = np.random.default_rng(7)
    x = rng.uniform(0, 100, 257).astype(np.float32)
    y = rng.uniform(0, 100, 257).astype(np.float32)
    res = build_oracle(x, y, max_depth=6, strategy="median")
    root = res.splits[0]
    assert np.float32(root.value) in x


def test_brute_knn_ties_by_key():
    px = np.array([0.0, 1.0, 1.0, 2.0], dtype=np.float32)
    py = np.zeros(4, dtype=np.float32)
    keys = np.array([10, 3, 2, 1])
    got = brute_knn(px, py, keys, 0.0, 0.0, 3)
    assert [k for k, _ in got] == [10, 2, 3]


def test_point_in_polygon_square():
    sq = [(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0)]
    assert point_in_polygon(5, 5, sq)
    assert not point_in_polygon(15, 5, sq)
    assert not point_in_polygon(-1, -1, sq)
    # F4: a point on an edge or a vertex is outside, the left-hand edge
    # (which the crossing count alone would take) included
    for on in ((0, 5), (10, 5), (5, 0), (5, 10), (0, 0), (10, 10)):
        assert not point_in_polygon(*on, sq)
    tri = [(100.0, 100.0), (700.0, 150.0), (300.0, 800.0)]
    for (x1, y1), (x2, y2) in zip(tri, tri[1:] + tri[:1]):
        assert not point_in_polygon((x1 + x2) / 2, (y1 + y2) / 2, tri)


def _assert_kernel_matches_oracle():
    """Every case of the fused finish's kernel equals build_oracle EXACTLY —
    every row, every split, every tie — across strategies, coord types,
    depth offsets, leaf sizes, and adversarial inputs (duplicates,
    all-equal, tiny n). The kernel returns rows in kd order, the oracle in
    input order."""
    rng = np.random.default_rng(7)
    cases = [
        (rng.uniform(-180, 180, n), rng.uniform(-85, 85, n))
        for n in (1, 2, 5, 1000, 30000)
    ]
    cases.append(
        (np.repeat(rng.uniform(-10, 10, 50), 20),
         np.repeat(rng.uniform(-5, 5, 50), 20))  # heavy duplicates
    )
    cases.append((np.zeros(500), np.zeros(500)))  # fully degenerate
    for i, (x, y) in enumerate(cases):
        for strat in ("mean", "median"):
            for dt in (np.float32, np.float64):
                for off in (0, 3):
                    for ms in (2, 17):
                        a = build_oracle(
                            x, y, max_depth=12, strategy=strat,
                            depth_offset=off, min_split=ms, coord_dtype=dt,
                        )
                        b = kernel.build_local_fast(
                            x, y, max_depth=12, strategy=strat,
                            depth_offset=off, min_split=ms, coord_dtype=dt,
                        )
                        ctx = (i, strat, dt, off, ms)
                        kd = a.kd_order()
                        assert np.array_equal(kd, b.perm), ctx
                        assert np.array_equal(a.node[kd], b.node), ctx
                        assert np.array_equal(a.path_len[kd], b.path_len), ctx
                        assert np.array_equal(np.asarray(x, dt)[kd], b.x), ctx
                        assert np.array_equal(np.asarray(y, dt)[kd], b.y), ctx
                        assert {r[0] for r in b.splits} == set(a.splits), ctx
                        for nid, depth, axis, value, nl, nr in b.splits:
                            sa = a.splits[nid]
                            assert sa.depth == depth, (ctx, nid)
                            assert sa.axis == axis, (ctx, nid)
                            assert sa.value == value, (ctx, nid)
                            assert sa.n_left == nl, (ctx, nid)
                            assert sa.n_right == nr, (ctx, nid)


def test_build_local_fast_bit_identical_to_oracle():
    """The fused finish's hot path (O(n·depth) in-place partition build)
    must reproduce build_oracle EXACTLY."""
    _assert_kernel_matches_oracle()


def test_kernel_split_value_is_checked_independently(monkeypatch):
    """A one-ulp fault in the kernel's split_value fails the comparison:
    the oracle computes its split values with code of its own."""
    from tests import oracle

    real = kernel.split_value
    assert oracle.split_value.__code__ is not real.__code__
    monkeypatch.setattr(
        kernel, "split_value",
        lambda values, strategy: float(
            np.nextafter(real(values, strategy), np.inf)
        ),
    )
    with pytest.raises(AssertionError):
        _assert_kernel_matches_oracle()
