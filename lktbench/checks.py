"""Result checkers: numpy references the library's answers must equal.

Every reference is computed in the benchmark process from the generated
arrays, with the same float32 coordinates and the same float64 arithmetic the
engine uses, so equality is exact. A checker returns ``None`` when the result
is right and a one-line reason when it is not; the workload counts each
non-``None`` as a failed op.

``python3 lktbench/checks.py`` runs the self-test: each checker is fed a
correct result, which must pass, and a deliberately corrupted one, which must
be counted as failed.
"""

from __future__ import annotations

import numpy as np

P = 1_000_000_007
MIX = 2_654_435_761


def mix_sum(code: np.ndarray) -> int:
    """Order-free checksum of non-negative int64 codes; the workloads compute
    the same ``sum((code % P * MIX) % P)`` in Spark (no int64 overflow)."""
    return int((((code.astype(np.int64) % P) * MIX) % P).sum())


# ------------------------------------------------------------------ build

def build_checksum(keys: np.ndarray, nodes: np.ndarray) -> int:
    """(key, node) checksum; equal across the builds of one run."""
    return mix_sum(keys.astype(np.int64) * (1 << 26) + nodes)


def check_build(cols: dict, total_points: int, n: int, expect_keys: np.ndarray):
    """``cols``: key / node / sort_key arrays in the index's physical order.
    ``expect_keys`` must be sorted."""
    keys, sk = cols["key"], cols["sort_key"]
    if len(keys) != n:
        return f"rows {len(keys)} != {n}"
    if not np.array_equal(np.sort(keys), expect_keys):
        return "keys are not the input keys, each once"
    if len(sk) > 1 and not (np.diff(sk) >= 0).all():
        return "sort_key decreases"
    if total_points != n:
        return f"tree total_points {total_points} != {n}"
    return None


# ------------------------------------------------------------------ kNN

def knn_reference(xs, ys, keys, queries: np.ndarray, k: int) -> np.ndarray:
    """(query_id, key, rank) rows of the exact k nearest points of each query,
    ties broken by ascending key, over the float32 points."""
    x = xs.astype(np.float64)
    y = ys.astype(np.float64)
    out = []
    for qid, (qx, qy) in enumerate(queries):
        dx = x - qx
        dy = y - qy
        d2 = dx * dx + dy * dy
        kth = np.partition(d2, k - 1)[k - 1]
        cand = np.flatnonzero(d2 <= kth)
        order = np.lexsort((keys[cand], d2[cand]))[:k]
        for rank, i in enumerate(cand[order], start=1):
            out.append((qid, keys[i], rank))
    return np.array(out, dtype=np.int64).reshape(-1, 3)


def check_knn(rows: np.ndarray, expect: np.ndarray):
    """``rows``: (query_id, key, rank) as returned, any order."""
    got = rows[np.lexsort((rows[:, 2], rows[:, 0]))] if len(rows) else rows
    if got.shape != expect.shape:
        return f"{len(got)} rows, expected {len(expect)}"
    bad = np.flatnonzero((got != expect).any(axis=1))
    if len(bad):
        q = int(expect[bad[0], 0])
        return f"{len(bad)} rows differ (first at query {q})"
    return None


# ------------------------------------------------------------------ PIP

def pip_code(keys: np.ndarray, poly_ids: np.ndarray) -> np.ndarray:
    return keys.astype(np.int64) * 32 + poly_ids


def pip_reference(xs, ys, keys, polygons: list) -> tuple[int, int]:
    """(count, checksum) of (poly_id, key) pairs strictly inside each convex
    counter-clockwise polygon; same half-plane arithmetic as the engine."""
    x = xs.astype(np.float64)
    y = ys.astype(np.float64)
    count, chk = 0, 0
    for pid, verts in polygons:
        inside = np.ones(len(x), dtype=bool)
        m = len(verts)
        for i in range(m):
            x1, y1 = verts[i]
            x2, y2 = verts[(i + 1) % m]
            dx, dy = float(x2 - x1), float(y2 - y1)
            inside &= dx * (y - y1) - dy * (x - x1) > 0.0
        hit = keys[inside]
        count += len(hit)
        chk += mix_sum(pip_code(hit, pid))
    return count, chk


def check_pair_sums(got: tuple, expect: tuple, what: str):
    if tuple(got) != tuple(expect):
        return f"{what} (count, checksum) {tuple(got)} != {tuple(expect)}"
    return None


# ------------------------------------------------------------------ ingest

def check_ingest(appended: int, expect_rows: int, labels: list, leaf_for):
    """``labels``: sampled (x, y, node) rows read back from the appended
    snapshot; ``leaf_for`` is ``SplitTree.leaf_for``."""
    if appended != expect_rows:
        return f"appended {appended} rows, expected {expect_rows}"
    for x, y, node in labels:
        want = leaf_for(float(np.float32(x)), float(np.float32(y)))
        if node != want:
            return f"label {node} != leaf_for {want} at ({x}, {y})"
    return None


# ------------------------------------------------------------------ radius join

def pair_code(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    return a.astype(np.int64) * 1_000_003 + b


def radius_reference(xs, ys, keys, r: float) -> tuple[int, int]:
    """(count, checksum) of unordered key pairs a < b with squared distance
    below r², found with a cell grid of width r."""
    x = xs.astype(np.float64)
    y = ys.astype(np.float64)
    cx = np.floor(x / r).astype(np.int64)
    cy = np.floor(y / r).astype(np.int64)
    cells: dict = {}
    for i, c in enumerate(zip(cx.tolist(), cy.tolist())):
        cells.setdefault(c, []).append(i)
    cells = {c: np.array(v) for c, v in cells.items()}
    r2 = r * r
    count, chk = 0, 0
    for (a, b), ia in cells.items():
        for da, db in ((0, 0), (0, 1), (1, -1), (1, 0), (1, 1)):
            ib = cells.get((a + da, b + db))
            if ib is None:
                continue
            ddx = x[ia][:, None] - x[ib][None, :]
            ddy = y[ia][:, None] - y[ib][None, :]
            close = ddx * ddx + ddy * ddy < r2
            ka = np.broadcast_to(keys[ia][:, None], close.shape)[close]
            kb = np.broadcast_to(keys[ib][None, :], close.shape)[close]
            if (da, db) == (0, 0):
                keep = ka < kb
                ka, kb = ka[keep], kb[keep]
            lo, hi = np.minimum(ka, kb), np.maximum(ka, kb)
            count += len(lo)
            chk += mix_sum(pair_code(lo, hi))
    return count, chk


# ------------------------------------------------------------------ cosine top-k

def topk_cosine_reference(vectors: np.ndarray, n_queries: int, k: int) -> np.ndarray:
    """(query_id, vec_id, rank): queries are the first ``n_queries`` vectors,
    self-matches excluded, ties by ascending vec_id."""
    v = vectors.astype(np.float64)
    norms = np.sqrt((v * v).sum(axis=1))
    out = []
    for q in range(n_queries):
        cos = (v @ v[q]) / (norms * norms[q])
        cos[q] = -np.inf
        order = np.lexsort((np.arange(len(v)), -cos))[:k]
        out += [(q, int(i), rank) for rank, i in enumerate(order, start=1)]
    return np.array(out, dtype=np.int64)


def check_rows(rows: np.ndarray, expect: np.ndarray, what: str):
    got = rows[np.lexsort((rows[:, 2], rows[:, 0]))] if len(rows) else rows
    if got.shape != expect.shape or not np.array_equal(got, expect):
        return f"{what} rows differ from the numpy reference"
    return None


# ------------------------------------------------------------------ stable

def check_stable(got, first, what: str):
    """Results that have no independent reference must at least repeat."""
    if got != first:
        return f"{what} {got} != first op's {first}"
    return None


def self_test() -> int:
    """Feed every checker one correct and one corrupted result."""
    rng = np.random.default_rng(7)
    n = 2_000
    keys = rng.permutation(n).astype(np.int64)
    xs = rng.normal(0, 1, n).astype(np.float32)
    ys = rng.normal(0, 1, n).astype(np.float32)
    xs[:50] = xs[50]  # shared coordinates: ties broken by key
    ys[:50] = ys[50]
    sorted_keys = np.sort(keys)
    cases = []

    order = np.argsort(keys)
    good = {"key": keys[order], "node": keys[order] % 7, "sort_key": np.arange(n)}
    cases.append(("build", lambda c: check_build(c, n, n, sorted_keys), good,
                  dict(good, key=np.where(good["key"] == 3, 4, good["key"]))))
    cases.append(("build order", lambda c: check_build(c, n, n, sorted_keys), good,
                  dict(good, sort_key=good["sort_key"][::-1])))

    queries = np.array([[0.0, 0.0], [float(xs[50]), float(ys[50])], [2.0, -1.0]])
    kref = knn_reference(xs, ys, keys, queries, 5)
    wrong = kref.copy()
    wrong[3, 1] = keys[np.argmax(xs)]
    cases.append(("knn", lambda r: check_knn(r, kref), kref[::-1].copy(), wrong))

    polys = [(0, [(-1.0, -1.0), (1.0, -1.0), (1.0, 1.0), (-1.0, 1.0)]),
             (1, [(0.5 * np.cos(a), 0.5 * np.sin(a)) for a in np.arange(6) * np.pi / 3])]
    pref = pip_reference(xs, ys, keys, polys)
    cases.append(("pip", lambda g: check_pair_sums(g, pref, "pip"), pref,
                  (pref[0], pref[1] + MIX % P)))

    leaf = lambda x, y: int(x > 0)  # noqa: E731 - stand-in tree for the test
    labels = [(float(x), float(y), int(x > 0)) for x, y in zip(xs[:20], ys[:20])]
    cases.append(("ingest", lambda lb: check_ingest(100, 100, lb, leaf), labels,
                  labels[:-1] + [(labels[-1][0], labels[-1][1], 1 - labels[-1][2])]))

    rref = radius_reference(xs, ys, keys, 0.2)
    brute = 0
    x64, y64 = xs.astype(np.float64), ys.astype(np.float64)
    for i in range(n):
        d2 = (x64[i] - x64) ** 2 + (y64[i] - y64) ** 2
        brute += int(((d2 < 0.04) & (keys > keys[i])).sum())
    assert rref[0] == brute, (rref, brute)
    cases.append(("radius_join", lambda g: check_pair_sums(g, rref, "pairs"), rref,
                  (rref[0] - 1, rref[1])))

    vecs = rng.normal(size=(100, 16)).astype(np.float32)
    tref = topk_cosine_reference(vecs, 5, 3)
    bad = tref.copy()
    bad[[0, 1], 1] = bad[[1, 0], 1]
    cases.append(("topk", lambda r: check_rows(r, tref, "topk"), tref, bad))
    cases.append(("stable", lambda g: check_stable(g, (10, 20), "lsh"), (10, 20), (10, 21)))

    failures = 0
    for name, check, ok, corrupt in cases:
        ok_res, bad_res = check(ok), check(corrupt)
        passed = ok_res is None and bad_res is not None
        failures += not passed
        print(f"{'ok  ' if passed else 'FAIL'} {name}: correct -> {ok_res}; corrupted -> {bad_res}")
    print(f"self-test: {len(cases) - failures}/{len(cases)} checkers pass")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(self_test())
