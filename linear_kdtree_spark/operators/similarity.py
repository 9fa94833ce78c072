"""Similarity search over embedding columns (``array<float>``):
brute-force cosine top-k (the exact baseline) and two scale paths —
IVF (coarse-quantizer buckets) and random-hyperplane LSH sign-buckets.

All scoring is sequential-fold column expressions (``zip_with`` +
``aggregate`` — deterministic summation order, evaluated in the JVM) or
numpy inside Arrow batches; never per-row Python. The fold helpers
(:func:`dot`, :func:`norm`, :func:`cosine`) take SQL text and are built
as SQL text: a projection is parsed in one py4j call, where a Column tree
cost one round trip per node.

Scale notes: brute top-k is a broadcast of the (small) query set against
the vector table, spread over every core (``dedup.widen_partitions``) —
one pass, one shuffle for the final per-query top-k.
IVF cuts the scanned fraction to ~n_probe/n_cells; cells are a plain
equi-join key, so Parquet bucketing/partitioning by cell makes the probe
a partition-pruned scan.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from linear_kdtree_spark.operators.dedup import (
    DEFAULT_MAX_BUCKET,
    drop_oversized_buckets,
    widen_partitions,
)
from linear_kdtree_spark.session import local_frame


def _dot_sql(a: str, b: str) -> str:
    return (f"aggregate(zip_with({a}, {b}, (_x, _y) -> "
            "CAST(_x AS DOUBLE) * CAST(_y AS DOUBLE)), 0.0D, (_acc, _v) -> _acc + _v)")


def _norm_sql(a: str) -> str:
    return f"sqrt({_dot_sql(a, a)})"


def dot(a: str, b: str) -> Column:
    """Sequential-fold dot product of the array<numeric> SQL expressions
    ``a`` and ``b`` (column names, say), as one ``F.expr``."""
    return F.expr(_dot_sql(a, b))


def norm(a: str) -> Column:
    """Euclidean norm of the array SQL expression ``a``: sqrt of its
    :func:`dot` with itself."""
    return F.expr(_norm_sql(a))


def cosine(a: str, b: str) -> Column:
    """dot(a, b) / (norm(a) · norm(b)) of two array SQL expressions."""
    return F.expr(f"{_dot_sql(a, b)} / ({_norm_sql(a)} * {_norm_sql(b)})")


def brute_topk_cosine(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    vec_id: str = "vec_id",
    query_id: str = "query_id",
    vec_col: str = "embedding",
    query_vec_col: str = "q_embedding",
) -> DataFrame:
    """(query_id, vec_id, rank): exact cosine top-k of each query against
    every vector (self-matches excluded when ids collide). Ties break by
    ascending vec_id.

    The vectors pass through ``dedup.widen_partitions`` first: a vector
    table that arrives as one file is one partition, and the fold would
    otherwise score every (query, vector) pair in a single task. An input
    with at least ``defaultParallelism`` partitions passes unchanged.

    Each side's norm is computed ONCE per row in a projection below the
    join instead of once per (query, vector) pair — the aggregate/zip_with
    fold expressions are interpreted per element, so this cuts the
    per-pair fold work from 3 array passes to 1 (the dot). cos is the
    bit-identical expression dot / (norm_vec · norm_query); a zero-norm
    vector divides by zero (an error under ANSI). Every projection is SQL
    text, one py4j call each."""
    q = queries.selectExpr(
        query_id, query_vec_col, f"{_norm_sql(query_vec_col)} AS _qn"
    )
    vecs = widen_partitions(vectors.select(vec_id, vec_col)).selectExpr(
        "*", f"{_norm_sql(vec_col)} AS _vn"
    )
    return (
        vecs.crossJoin(F.broadcast(q))
        .selectExpr(
            query_id, vec_id,
            f"{_dot_sql(vec_col, query_vec_col)} / (_vn * _qn) AS cos",
        )
        .filter(f"{query_id} != {vec_id}")
        .selectExpr(
            query_id, vec_id,
            f"CAST(row_number() OVER (PARTITION BY {query_id} "
            f"ORDER BY cos DESC, {vec_id}) AS INT) AS rank",
        )
        .filter(f"rank <= {int(k)}")
    )


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, cell): nearest centroid by cosine (ties → lowest centroid
    id) — the coarse quantizer of an IVF index. centroids: (cell,
    c_embedding), broadcast. Norms are computed once per row below the
    join (see brute_topk_cosine); cos is bit-identical."""
    joined = (
        vectors.select(vec_id, vec_col)
        .withColumn("_vn", norm(vec_col))
        .crossJoin(
            F.broadcast(
                centroids.select("cell", "c_embedding").withColumn(
                    "_cn", norm("c_embedding")
                )
            )
        )
    )
    scored = joined.select(
        vec_id,
        "cell",
        (
            dot(vec_col, "c_embedding")
            / (F.col("_vn") * F.col("_cn"))
        ).alias("cos"),
    )
    w = Window.partitionBy(vec_id).orderBy(F.desc("cos"), "cell")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(vec_id, "cell")
    )


def deterministic_centroids(
    vectors: DataFrame, n_cells: int, vec_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic coarse centroids: the vectors whose id ≡ 0 (mod
    ceil(n/n_cells)) — a seed-free, reproducible quantizer. Balanced for
    id-shuffled corpora; clustered embedding spaces get uneven cells —
    use :func:`kmeans_centroids` (deterministic fixed-point k-means,
    same reproducibility) when recall/probe matters more than the
    oracle-expressible simplicity this one buys."""
    n = vectors.count()
    stride = max(1, n // n_cells)
    return (
        vectors.filter((F.col(vec_id) % stride == 0))
        .select(
            (F.col(vec_id) / stride).cast("long").alias("cell"),
            F.col(vec_col).alias("c_embedding"),
        )
        .filter(F.col("cell") < n_cells)
    )


def kmeans_centroids(
    vectors: DataFrame,
    n_cells: int,
    n_iters: int = 3,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
    sample_mod: int | None = None,
) -> DataFrame:
    """Data-adaptive DETERMINISTIC spherical k-means coarse quantizer
    (VERDICT r3 next-#7): fixed iteration count, stride-quantizer
    initialization, ties broken by lowest cell id, and — the part that
    makes reruns byte-identical — per-cell means accumulated as
    FIXED-POINT int64 sums (floor(x·2²⁰ + 0.5)), so the aggregation is
    associative/commutative and immune to float summation-order
    nondeterminism across partitions. Centroids are collected to the
    driver between iterations (n_cells × dim values — tiny), keeping
    every iteration's plan flat and the assignment join a broadcast.

    ``sample_mod=m`` trains on the deterministic id-subsample
    (id % m == 0) — the mini-batch knob for corpus-scale tables; the
    returned centroids are applied to ALL vectors by the caller.
    Centroids are NOT normalized: cosine assignment is scale-invariant.

    Clustered embedding spaces get far better cell balance than the
    stride quantizer (recall documented in
    tests/test_pipeline_ops.py::test_ivf_kmeans_recall)."""
    train = vectors.select(vec_id, vec_col)
    if sample_mod is not None and sample_mod > 1:
        train = train.filter(F.pmod(F.col(vec_id), F.lit(sample_mod)) == 0)
    train = train.persist()
    spark = vectors.sparkSession
    cents = deterministic_centroids(train, n_cells, vec_id, vec_col)
    scale = float(1 << 20)
    q = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * scale + 0.5).cast("long"),
    )
    for _ in range(n_iters):
        assign = ivf_assign(train, cents, vec_id, vec_col)
        exploded = (
            train.join(assign, vec_id)
            .select("cell", F.posexplode(q).alias("pos", "qv"))
        )
        sums = exploded.groupBy("cell", "pos").agg(
            F.sum("qv").alias("s"), F.count(F.lit(1)).alias("n")
        )
        new_rows = (
            sums.groupBy("cell")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("pos", "s"))
                ).alias("ps"),
                F.max("n").alias("n"),
            )
            .select(
                "cell",
                F.transform(
                    "ps", lambda p: (p["s"] / F.col("n") / F.lit(scale))
                    .cast("float")
                ).alias("c_embedding"),
            )
            .collect()
        )
        got = {r["cell"] for r in new_rows}
        # empty cells keep their previous centroid
        keep = [r for r in cents.collect() if r["cell"] not in got]
        cents = local_frame(
            spark,
            sorted(
                [(r["cell"], list(r["c_embedding"])) for r in new_rows]
                + [(r["cell"], list(r["c_embedding"])) for r in keep]
            ),
            "cell long, c_embedding array<float>",
        )
    train.unpersist()
    return cents


def ivf_topk_cosine(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    n_cells: int = 16,
    n_probe: int = 2,
    vec_id: str = "vec_id",
    query_id: str = "query_id",
    vec_col: str = "embedding",
    query_vec_col: str = "q_embedding",
    quantizer: str = "stride",
    kmeans_iters: int = 3,
    sample_mod: int | None = None,
) -> DataFrame:
    """Approximate top-k: score only vectors in the query's n_probe nearest
    cells. Same output shape as brute_topk_cosine.

    quantizer='stride' (default) is the seed-free id-stride quantizer —
    the oracle-reproducible choice the ``ann_ivf`` driver gate pins.
    quantizer='kmeans' trains :func:`kmeans_centroids` (deterministic
    fixed-point spherical k-means) — better recall/probe on clustered
    embedding spaces, still byte-identical across reruns."""
    if quantizer == "kmeans":
        cents = kmeans_centroids(
            vectors, n_cells, kmeans_iters, vec_id, vec_col, sample_mod
        ).persist()
    else:
        cents = deterministic_centroids(
            vectors, n_cells, vec_id, vec_col
        ).persist()
    assign = ivf_assign(vectors, cents, vec_id, vec_col)
    binned = vectors.join(assign, vec_id)

    qjoined = queries.select(query_id, query_vec_col).crossJoin(
        F.broadcast(cents)
    )
    qscored = qjoined.select(
        query_id, "cell",
        cosine(query_vec_col, "c_embedding").alias("cos"),
    )
    qw = Window.partitionBy(query_id).orderBy(F.desc("cos"), "cell")
    probes = (
        qscored.withColumn("rn", F.row_number().over(qw))
        .filter(F.col("rn") <= n_probe)
        .select(query_id, "cell")
    )
    qv = (
        queries.select(query_id, query_vec_col)
        .withColumn("_qn", norm(query_vec_col))
        .join(probes, query_id)
    )
    cand = (
        binned.withColumn("_vn", norm(vec_col))
        .join(F.broadcast(qv), "cell")
    )
    scored = cand.select(
        query_id, vec_id,
        (
            dot(vec_col, query_vec_col)
            / (F.col("_vn") * F.col("_qn"))
        ).alias("cos"),
    ).filter(F.col(query_id) != F.col(vec_id))
    w = Window.partitionBy(query_id).orderBy(F.desc("cos"), vec_id)
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(query_id, vec_id, "rank")
    )


def make_band_sigs_udf(bands: int, planes_per_band: int):
    """Arrow-batched sign-LSH band signatures: one BLAS matmul per batch
    against ``bands · planes_per_band`` deterministic pseudo-hyperplanes
    (component for global plane p, dim i:
    ((i + p·131)·2654435761 mod 10007)/10007 − 0.5 — band 0 reproduces the
    round-1 single-band signature). Returns ``array<long>`` of one packed
    sign word per band."""
    r = planes_per_band
    total = bands * r

    @F.pandas_udf("array<long>")
    def band_sigs(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([], dtype=object)
        V = np.stack(emb.to_numpy()).astype(np.float64)
        d = V.shape[1]
        p_idx = np.arange(total, dtype=np.int64)[:, None]
        i_idx = np.arange(d, dtype=np.int64)[None, :]
        W = (((i_idx + p_idx * 131) * 2654435761) % 10007) / 10007.0 - 0.5
        bits = (V @ W.T >= 0).astype(np.int64)  # n × total
        weights = np.int64(1) << np.arange(r, dtype=np.int64)
        sigs = bits.reshape(len(V), bands, r) @ weights  # n × bands
        return pd.Series(list(sigs))

    return band_sigs


def cosine_near_dup_pairs(
    vectors: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 8,
    bands: int = 8,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Embedding near-duplicate pairs (a < b, cosine ≥ threshold) via
    banded random-hyperplane sign LSH (OR-construction, mirroring the
    MinHash banding in operators/dedup.py): ``bands`` independent
    ``n_planes``-bit sign signatures; candidate pairs = union of per-band
    bucket collisions; exact cosine refine.

    Recall for a pair at angle θ: 1 − (1 − (1 − θ/π)^n_planes)^bands — at
    cosine 0.95 (θ ≈ 18°) with the 8×8 default this is ≈ 0.99, vs ≈ 0.43
    for a single band (the round-1 recall bug). Scale shape: candidates are
    bucket-join rows (never all pairs); signature computation is one
    matmul per Arrow batch."""
    if max_bucket_size is None:
        max_bucket_size = DEFAULT_MAX_BUCKET
    sigs_udf = make_band_sigs_udf(bands, n_planes)
    bucketed = (
        vectors.select(vec_id, vec_col)
        .withColumn("sigs", sigs_udf(F.col(vec_col)))
        .select(
            vec_id, vec_col, F.posexplode("sigs").alias("band", "bucket")
        )
    )
    # persisted: the guard's sizing job and both join sides below read the
    # signature rows from cache instead of running the matmul UDF three
    # times (lifecycle: LRU-evicted, see dedup.lsh_candidate_pairs)
    bucketed = bucketed.persist()
    bucketed = drop_oversized_buckets(
        bucketed, ["band", "bucket"], max_bucket_size, "embed_neardup"
    )
    a = bucketed.select(
        "band", "bucket", F.col(vec_id).alias("a_id")
    )
    b = bucketed.select(
        "band", "bucket", F.col(vec_id).alias("b_id")
    )
    cand = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )
    va = vectors.select(
        F.col(vec_id).alias("a_id"), F.col(vec_col).alias("a_v")
    )
    vb = vectors.select(
        F.col(vec_id).alias("b_id"), F.col(vec_col).alias("b_v")
    )
    return (
        cand.join(va, "a_id")
        .join(vb, "b_id")
        .filter(cosine("a_v", "b_v") >= threshold)
        .select("a_id", "b_id")
    )


def quantize_embeddings(
    vectors, vec_id: str = "vec_id", vec_col: str = "embedding"
):
    """Int8 scalar quantization for embedding storage (the standard
    pipeline step before writing vectors at corpus scale: 4× smaller than
    float32, recall loss negligible for retrieval): per vector,
    scale = max|v| and q_i = floor(v_i / scale * 127 + 0.5) ∈ [-127, 127].

    Pure higher-order column expressions (no Python), emitted EXPLODED as
    (vec_id, pos, q) integer rows so the result hash-gates bit-exactly
    against the DuckDB twin (`embed_quantize`): max/divide/multiply/floor
    are identically-rounded IEEE ops in both engines, and floor(x + 0.5)
    is the explicit rounding rule both sides share (built-in round()
    semantics differ across engines)."""
    scale = F.array_max(F.transform(F.col(vec_col), lambda x: F.abs(x)))
    q = F.transform(
        F.col(vec_col),
        lambda x: F.floor(
            x.cast("double") / F.col("_scale") * 127.0 + 0.5
        ).cast("int"),
    )
    return (
        vectors.select(vec_id, vec_col)
        .withColumn("_scale", scale.cast("double"))
        .filter(F.col("_scale") > 0)
        .withColumn("q", q)
        .select(vec_id, F.posexplode("q").alias("pos", "q"))
    )
