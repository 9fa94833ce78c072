"""The split table without a JVM: ``SplitTree.to_arrays`` (the label
UDF's positional form) against a walk by heap id on random trees, and the
one bucket-width rule of the interval join and kNN."""

import numpy as np
import pytest

from linear_kdtree_spark.operators.codes import _traverse
from linear_kdtree_spark.operators.interval_join import bucket_shift, choose_shift
from linear_kdtree_spark.operators.tree import SplitTree


def _random_tree(seed: int, max_depth: int = 9) -> SplitTree:
    """A random heap tree whose split rows arrive unsorted; a child is a
    split with probability 0.7, so many children are leaves. The leaf
    table holds every leaf, one point each."""
    rng = np.random.default_rng(seed)
    rows, leaves, todo = [], [], [0]
    while todo:
        j = todo.pop()
        d = (j + 1).bit_length() - 1
        if d < max_depth and (j == 0 or rng.random() < 0.7):
            rows.append((j, d, d % 2, float(rng.uniform(0, 100)), 1, 1))
            todo += [2 * j + 1, 2 * j + 2]
        else:
            leaves.append((j, 1, 0.0, 1.0, 0.0, 1.0))
    rng.shuffle(rows)
    return SplitTree.from_rows(rows, leaves, max_depth, "double")


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_to_arrays_matches_heap_walk(seed):
    tree = _random_tree(seed)
    a = tree.to_arrays()
    ids = a["ids"]
    assert list(ids) == sorted(ids) and ids[0] == 0
    by_id = {int(n): i for i, n in enumerate(ids)}
    leaf_children = 0
    # walk every split from the root by heap id (2j+1, 2j+2): each child
    # position is the child's row, or -1 where the child is a leaf
    todo = [0]
    while todo:
        j = todo.pop()
        i = by_id[j]
        for side, col in ((1, "left"), (2, "right")):
            c = 2 * j + side
            if c in by_id:
                assert a[col][i] == by_id[c]
                todo.append(c)
            else:
                assert a[col][i] == -1
                leaf_children += 1
        assert a["axis"][i] == tree.splits["axis"][i]
        assert a["value"][i] == tree.splits["value"][i]
    assert leaf_children == len(ids) + 1  # a full binary tree's leaves
    assert leaf_children == len(tree.leaves["node"])


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_label_walk_matches_leaf_for(seed):
    """``codes._traverse`` over ``to_arrays`` and ``leaf_for`` (by heap id
    over the split table) land every point in the same leaf."""
    tree = _random_tree(seed)
    rng = np.random.default_rng(seed + 10)
    x, y = rng.uniform(0, 100, 500), rng.uniform(0, 100, 500)
    _, node, _ = _traverse(x, y, tree.to_arrays(), tree.max_depth)
    assert node.tolist() == [tree.leaf_for(a, b) for a, b in zip(x, y)]


def test_empty_split_table():
    tree = SplitTree.from_rows([], [(0, 3, 0.0, 1.0, 0.0, 1.0)], 8, "float")
    a = tree.to_arrays()
    assert len(a["ids"]) == len(a["left"]) == len(a["right"]) == 0
    assert tree.leaf_for(0.5, 0.5) == 0


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_knn_bucket_rule_is_choose_shift(seed):
    """The leaves tile the key space, so kNN's width from the leaf count
    is ``choose_shift`` over the leaf intervals."""
    tree = _random_tree(seed)
    L, md = tree.leaves, tree.max_depth
    ivals = list(zip(L["lo"].tolist(), L["hi"].tolist()))
    assert bucket_shift((1 << md) / len(L["node"]), md) == choose_shift(ivals, md)
