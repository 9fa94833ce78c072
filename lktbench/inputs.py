"""Seeded input generator: every input the benchmark feeds the library.

numpy draws everything from the run's ``--seed``; the results are written
once per seed as parquet under the work directory, so the library only ever
reads generated files. The same seed always yields the same bytes.

Point layout (web pages geotagged with lon/lat): about 60 % sit in
``N_CITIES`` gaussian city clusters 0.05°-1° wide with skewed sizes, about
5 % sit exactly on ``N_CENTROIDS`` shared coordinates (many pages tag the
same city centre, which forces degenerate kd splits), and the rest are
uniform over the inhabited latitudes.

The seed moves things (city centres, polygon and query positions, words,
vectors) but never sizes: cluster widths and weights, polygon radii and the
near-duplicate family shape are fixed, so every seed asks for about the same
work and the spread across seeds measures the system, not the inputs.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_CITIES = 24
N_CENTROIDS = 100
FORMAT_VERSION = 2  # bump when the generator changes, so cached inputs are redone


@dataclass(frozen=True)
class Sizes:
    points: int = 300_000
    knn_queries: int = 100
    knn_k: int = 5
    polygons: int = 25
    ingest_points: int = 25_000
    ingest_batches: int = 3
    join_sample: int = 8_000
    join_radius: float = 0.1
    docs: int = 2_000
    doc_families: int = 240
    vectors: int = 2_000
    vector_dim: int = 64
    vector_queries: int = 20
    raster_depth: int = 8


SIZES = Sizes()
FILES = 4  # parquet files per point set


@dataclass
class Inputs:
    """In-memory copies the checkers use, plus the parquet paths Spark reads."""

    root: str
    keys: np.ndarray
    xs: np.ndarray  # float32
    ys: np.ndarray  # float32
    queries: np.ndarray  # (q, 2) float64
    polygons: list  # [(poly_id, [(x, y), ...] counter-clockwise)]
    ingest: list  # [(keys, xs, ys)] per batch
    sample_idx: np.ndarray  # indices into the points of the radius-join sample
    vectors: np.ndarray  # (n, dim) float32

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)


def _points(rng: np.random.Generator, n: int, key0: int, cities, centroids):
    """(keys, xs, ys) with the clustered / duplicate / uniform mix."""
    centres, widths, weights = cities
    kind = rng.choice(3, size=n, p=[0.60, 0.05, 0.35])
    xs = np.empty(n, dtype=np.float64)
    ys = np.empty(n, dtype=np.float64)
    c = kind == 0
    city = rng.choice(len(centres), size=int(c.sum()), p=weights)
    xs[c] = rng.normal(centres[city, 0], widths[city] / 4)
    ys[c] = rng.normal(centres[city, 1], widths[city] / 4)
    d = kind == 1
    at = rng.integers(0, len(centroids), size=int(d.sum()))
    xs[d] = centroids[at, 0]
    ys[d] = centroids[at, 1]
    u = kind == 2
    xs[u] = rng.uniform(-180.0, 180.0, size=int(u.sum()))
    ys[u] = rng.uniform(-60.0, 75.0, size=int(u.sum()))
    keys = key0 + rng.permutation(n).astype(np.int64)
    return keys, np.clip(xs, -180, 180).astype(np.float32), np.clip(ys, -85, 85).astype(np.float32)


def _queries(rng, q: int, cities) -> np.ndarray:
    """Half at city centres (dense: small covers), half uniform (sparse:
    covers spanning many leaves)."""
    centres, widths, weights = cities
    half = q // 2
    city = rng.choice(len(centres), size=half, p=weights)
    dense = rng.normal(centres[city], widths[city, None] / 8)
    sparse = np.column_stack(
        [rng.uniform(-180, 180, q - half), rng.uniform(-60, 75, q - half)]
    )
    return np.vstack([dense, sparse]).astype(np.float64)


def _polygons(rng, count: int, cities) -> list:
    """Convex rectangles and hexagons, counter-clockwise, with half-widths
    from sub-cluster size (0.02°) to 20°; half are centred on a city."""
    centres = cities[0]
    out = []
    for pid, r in enumerate(np.geomspace(0.02, 20.0, count)):
        if pid % 2 == 0:
            cx, cy = centres[rng.integers(len(centres))] + rng.normal(0, 0.1, 2)
        else:
            cx, cy = rng.uniform(-150, 150), rng.uniform(-50, 60)
        r = float(r)
        if pid % 3 == 2:
            rot = rng.uniform(0, np.pi / 3)
            ang = rot + np.arange(6) * np.pi / 3
            verts = [(float(cx + r * np.cos(a)), float(cy + r * np.sin(a))) for a in ang]
        else:
            hh = r * 0.6
            verts = [(cx - r, cy - hh), (cx + r, cy - hh), (cx + r, cy + hh), (cx - r, cy + hh)]
            verts = [(float(a), float(b)) for a, b in verts]
        out.append((pid, verts))
    return out


def _docs(rng, n: int, families: int) -> tuple[np.ndarray, list[str]]:
    """Near-duplicate families: each family has a base text of 40-80 words
    from a Zipf vocabulary, its members swap ~5 % of the words."""
    vocab = np.array([f"w{i}" for i in range(3000)])
    zipf = 1.0 / np.arange(1, len(vocab) + 1) ** 1.1
    zipf /= zipf.sum()
    fam = np.arange(n) % families
    bases = [rng.choice(len(vocab), size=40 + f % 41, p=zipf) for f in range(families)]
    texts = []
    for f in fam:
        words = bases[f].copy()
        swap = rng.random(len(words)) < 0.05
        words[swap] = rng.choice(len(vocab), size=int(swap.sum()), p=zipf)
        texts.append(" ".join(vocab[words]))
    return np.arange(n, dtype=np.int64), texts


def _write_points(path: str, keys, xs, ys) -> None:
    os.makedirs(path, exist_ok=True)
    for i, part in enumerate(np.array_split(np.arange(len(keys)), FILES)):
        t = pa.table({"key": keys[part], "x": xs[part], "y": ys[part]})
        pq.write_table(t, os.path.join(path, f"part-{i:03d}.parquet"))


def generate(seed: int, work: str) -> Inputs:
    """Draw every input from ``seed``; write the parquet files once per
    seed. Later calls with the same seed re-derive the in-memory copies
    (cheap) and reuse the files."""
    rng = np.random.default_rng(seed)
    centres = np.column_stack([rng.uniform(-160, 160, N_CITIES), rng.uniform(-45, 65, N_CITIES)])
    # the biggest city is the widest: dense pairs stay bounded for the radius join
    widths = np.geomspace(1.0, 0.05, N_CITIES)
    weights = 1.0 / np.arange(1, N_CITIES + 1) ** 0.8
    weights /= weights.sum()
    cities = (centres, widths, weights)
    centroids = np.vstack(
        [
            centres[rng.integers(0, N_CITIES, N_CENTROIDS // 2)],
            np.column_stack(
                [rng.uniform(-180, 180, N_CENTROIDS - N_CENTROIDS // 2),
                 rng.uniform(-60, 75, N_CENTROIDS - N_CENTROIDS // 2)]
            ),
        ]
    )
    s = SIZES
    keys, xs, ys = _points(rng, s.points, 0, cities, centroids)
    queries = _queries(rng, s.knn_queries, cities)
    polygons = _polygons(rng, s.polygons, cities)
    ingest = [
        _points(rng, s.ingest_points, s.points + b * s.ingest_points, cities, centroids)
        for b in range(s.ingest_batches)
    ]
    sample_idx = np.sort(rng.choice(s.points, size=min(s.join_sample, s.points), replace=False))
    doc_ids, texts = _docs(rng, s.docs, s.doc_families)
    vectors = rng.normal(size=(s.vectors, s.vector_dim)).astype(np.float32)

    tag = json.dumps({"v": FORMAT_VERSION, "seed": seed, "sizes": s.__dict__, "files": FILES},
                     sort_keys=True)
    root = os.path.join(work, "inputs", f"seed-{seed}")
    inp = Inputs(root, keys, xs, ys, queries, polygons, ingest, sample_idx, vectors)
    marker = os.path.join(root, "_DONE")
    if os.path.exists(marker):
        with open(marker) as f:
            if f.read() == tag:
                return inp
    _write_points(inp.path("points"), keys, xs, ys)
    for b, (k, x, y) in enumerate(ingest):
        _write_points(inp.path(f"ingest-{b}"), k, x, y)
    _write_points(inp.path("sample"), keys[sample_idx], xs[sample_idx], ys[sample_idx])
    os.makedirs(inp.path("queries"), exist_ok=True)
    pq.write_table(
        pa.table({"query_id": np.arange(len(queries), dtype=np.int64),
                  "qx": queries[:, 0], "qy": queries[:, 1]}),
        os.path.join(inp.path("queries"), "part-000.parquet"),
    )
    # ONE file on purpose: a single-partition corpus is what widen_partitions
    # exists to spread across cores
    os.makedirs(inp.path("docs"), exist_ok=True)
    pq.write_table(
        pa.table({"doc_id": doc_ids, "text": texts}),
        os.path.join(inp.path("docs"), "part-000.parquet"),
    )
    os.makedirs(inp.path("vectors"), exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "vec_id": np.arange(s.vectors, dtype=np.int64),
                "embedding": pa.array(list(vectors), type=pa.list_(pa.float32())),
            }
        ),
        os.path.join(inp.path("vectors"), "part-000.parquet"),
    )
    with open(marker, "w") as f:
        f.write(tag)
    return inp
