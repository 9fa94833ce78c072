"""Plan building of the pipeline operators: py4j round trips per call, the
cosine top-k's spread over every core, and no Python worker on their path.

Every projection of ``radius_join``, ``rasterize``, ``brute_topk_cosine``
and ``lsh_candidate_pairs`` is SQL text, parsed in one call; written as
Column trees they took one py4j round trip per node (318, 300, 304 and
753 for the calls below). The budgets are the counts of the SQL-text
plans plus about a quarter."""

import math
import threading

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from linear_kdtree_spark.operators.dedup import lsh_candidate_pairs
from linear_kdtree_spark.operators.raster import rasterize
from linear_kdtree_spark.operators.similarity import brute_topk_cosine
from linear_kdtree_spark.operators.spatial_join import radius_join

PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas")


@pytest.fixture(scope="module")
def inputs(spark):
    rng = np.random.default_rng(5)
    n = 400
    pts = spark.createDataFrame(pd.DataFrame({
        "key": np.arange(n, dtype=np.int64),
        "x": rng.uniform(-10, 10, n).astype(np.float32),
        "y": rng.uniform(-10, 10, n).astype(np.float32),
    })).persist()
    vecs = spark.createDataFrame(pd.DataFrame({
        "vec_id": np.arange(60, dtype=np.int64),
        "embedding": list(rng.normal(size=(60, 8)).astype(np.float32)),
    })).coalesce(1).persist()
    words = [f"w{i}" for i in range(40)]
    docs = spark.createDataFrame(
        [(i, " ".join(rng.choice(words, 12))) for i in range(80)],
        "doc_id long, text string",
    ).coalesce(1)
    queries = vecs.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding"))
    return {
        "radius_join": lambda: radius_join(pts, pts, 0.5, dedup_pairs=True),
        "rasterize": lambda: rasterize(pts, 8),
        "brute_topk_cosine": lambda: brute_topk_cosine(vecs, queries, 3),
        "lsh_candidate_pairs": lambda: lsh_candidate_pairs(
            docs, 8, 4, max_bucket_size=None),
    }


def _round_trips(spark, monkeypatch, make) -> int:
    """py4j commands this thread sends while ``make()`` builds a plan (the
    py4j finalizer thread's object releases are not counted)."""
    make()  # widen_partitions' partition probe is memoized per plan
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    me = threading.get_ident()
    sent = 0

    def counting(*args, **kwargs):
        nonlocal sent
        if threading.get_ident() == me:
            sent += 1
        return send(*args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    make()
    monkeypatch.undo()
    return sent


@pytest.mark.parametrize("op, budget", [
    ("radius_join", 68),
    ("rasterize", 68),
    ("brute_topk_cosine", 72),
    ("lsh_candidate_pairs", 120),
])
def test_plan_build_round_trip_budget(spark, inputs, monkeypatch, op, budget):
    sent = _round_trips(spark, monkeypatch, inputs[op])
    assert sent <= budget, f"{op}: {sent} py4j round trips (budget {budget})"


@pytest.mark.parametrize("op", ["radius_join", "rasterize", "brute_topk_cosine",
                                "lsh_candidate_pairs"])
def test_pipeline_plans_start_no_python_worker(inputs, op):
    plan = inputs[op]()._jdf.queryExecution().executedPlan().toString()
    assert not [n for n in PYTHON_NODES if n in plan], plan


def _fold_cosines(v: np.ndarray, q: np.ndarray) -> np.ndarray:
    """The JVM fold's arithmetic in Python doubles: a sequential sum of
    float64 products, each norm the square root of such a sum."""
    def dot(a, b):
        acc = 0.0
        for x, y in zip(a.tolist(), b.tolist()):
            acc += x * y
        return acc
    qn = math.sqrt(dot(q, q))
    return np.array([dot(u, q) / (math.sqrt(dot(u, u)) * qn) for u in v])


def test_brute_topk_spreads_one_partition_and_keeps_ties(spark):
    """A one-partition vector table is round-robin spread before the cross
    join, and the ranks stay those of the fold: duplicate vectors under
    different ids score exactly equal and rank by ascending vec_id."""
    rng = np.random.default_rng(17)
    base = rng.normal(size=(40, 8)).astype(np.float32)
    v = np.concatenate([base, base[:20]])  # ids 40..59 copy ids 0..19
    vecs = spark.createDataFrame(pd.DataFrame({
        "vec_id": np.arange(len(v), dtype=np.int64), "embedding": list(v),
    })).coalesce(1)
    assert vecs.rdd.getNumPartitions() == 1
    qids = [0, 3, 21, 25, 45]
    queries = vecs.filter(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding"))
    k = 6
    out = brute_topk_cosine(vecs, queries, k)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "RoundRobinPartitioning" in plan, plan

    got = {}
    for r in out.collect():
        got.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"]))
    ties = 0
    for q in qids:
        cos = _fold_cosines(v, v[q])
        cos[q] = -np.inf  # self-match excluded
        order = np.lexsort((np.arange(len(v)), -cos))[:k]
        ties += sum(cos[a] == cos[b] for a, b in zip(order, order[1:]))
        assert [vid for _, vid in sorted(got[q])] == order.tolist(), q
    assert ties > 0  # the duplicates really tie inside the top k


def test_brute_topk_leaves_a_wide_input_alone(spark):
    """An input with at least defaultParallelism partitions is not
    repartitioned again."""
    rng = np.random.default_rng(3)
    vecs = spark.createDataFrame(pd.DataFrame({
        "vec_id": np.arange(30, dtype=np.int64),
        "embedding": list(rng.normal(size=(30, 4)).astype(np.float32)),
    })).repartition(spark.sparkContext.defaultParallelism, "vec_id")
    queries = vecs.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding"))
    plan = brute_topk_cosine(vecs, queries, 2)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "RoundRobinPartitioning" not in plan, plan
