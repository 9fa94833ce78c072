"""Scale guards (VERDICT r3 wrong-#1/#2): the LSH oversized-bucket drop
and the two-phase per-group cap — correctness on skewed fixtures, recall
preservation, and the boundedness properties the gates cannot see."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from linear_kdtree_spark.operators.curation import cap_per_group
from linear_kdtree_spark.operators.dedup import (
    drop_oversized_buckets,
    lsh_candidate_pairs,
    minhash_dedup,
    simhash_near_pairs,
)


def _corpus_with_degenerate_cluster(spark, n_pairs=40, boiler=60):
    """n_pairs noised near-duplicate pairs (distinct docs) + one
    mass-produced boilerplate cluster of ``boiler`` near-identical docs
    that collides into degenerate buckets."""
    rng = np.random.default_rng(11)
    vocab = [f"w{i}" for i in range(500)]
    rows = []
    truth = []
    did = 0
    for p in range(n_pairs):
        base = [vocab[i] for i in rng.integers(0, 500, 30)]
        a = " ".join(base)
        mut = list(base)
        mut[int(rng.integers(0, 30))] = vocab[int(rng.integers(0, 500))]
        b = " ".join(mut)
        rows += [(did, a), (did + 1, b)]
        truth.append((did, did + 1))
        did += 2
    # boilerplate: same 40-word template with one word varying — extremely
    # high pairwise Jaccard, identical in most bands
    template = [vocab[i] for i in rng.integers(0, 500, 40)]
    for b in range(boiler):
        t = list(template)
        t[-1] = vocab[b % 500]
        rows.append((did, " ".join(t)))
        did += 1
    return (
        spark.createDataFrame(rows, "doc_id long, text string"),
        truth,
    )


def test_bucket_guard_drops_and_keeps_recall(spark):
    docs, truth = _corpus_with_degenerate_cluster(spark)
    # without guard: boilerplate cluster floods the candidate join
    pairs_off = lsh_candidate_pairs(docs, 12, 4, max_bucket_size=None)
    n_off = pairs_off.count()
    # with a cap below the cluster size the degenerate buckets are dropped
    pairs_on = lsh_candidate_pairs(docs, 12, 4, max_bucket_size=30)
    n_on = pairs_on.count()
    assert n_on < n_off
    got = {(r.a_id, r.b_id) for r in pairs_on.collect()}
    recall = sum(1 for t in truth if t in got) / len(truth)
    assert recall >= 0.95, recall


def test_bucket_guard_bounds_every_group(spark):
    docs, _ = _corpus_with_degenerate_cluster(spark)
    from linear_kdtree_spark.operators.dedup import minhash_signature

    sig = docs.select(
        F.col("doc_id").alias("_id"),
        minhash_signature("text", 12, 3).alias("sig"),
    )
    buckets = sig.select(
        "_id",
        F.md5(F.concat_ws("|", *[F.element_at("sig", i) for i in (1, 2, 3)])
              ).alias("bucket"),
        F.lit(0).alias("band"),
    )
    guarded = drop_oversized_buckets(buckets, ["band", "bucket"], 30, "t")
    top = (
        guarded.groupBy("band", "bucket").count()
        .agg(F.max("count")).first()[0]
    )
    assert top is not None and top <= 30


def _right_child(plan: str, node: str) -> str:
    """The last (right) child of the first line of a tree string that
    holds ``node``."""
    lines = plan.splitlines()
    i = next(i for i, line in enumerate(lines) if node in line)
    col = len(lines[i]) - len(lines[i].lstrip(" :+-"))
    return next(line[col + 3:] for line in lines[i + 1:]
                if line[col:col + 3] == "+- ")


def test_bucket_guard_one_stage_shape(spark, caplog):
    """The guard collects the oversized (band, bucket) counts in one job,
    logs the dropped rows and buckets from them, and anti-joins the hot
    keys as a local table of known size."""
    docs, _ = _corpus_with_degenerate_cluster(spark)
    from linear_kdtree_spark.operators.dedup import minhash_signature

    buckets = docs.select(
        F.col("doc_id").alias("_id"),
        minhash_signature("text", 12, 3).alias("sig"),
    ).select(
        "_id",
        F.md5(F.concat_ws("|", *[F.element_at("sig", i) for i in (1, 2, 3)])
              ).alias("bucket"),
        F.lit(0).alias("band"),
    ).persist()
    sizes = (buckets.groupBy("band", "bucket").count()
             .filter(F.col("count") > 30).collect())
    assert sizes  # the boilerplate cluster really is oversized
    with caplog.at_level("WARNING", logger="linear_kdtree_spark.operators.dedup"):
        guarded = drop_oversized_buckets(buckets, ["band", "bucket"], 30, "t")
    (record,) = [r for r in caplog.records if r.args and r.args[0] == "t"]
    assert record.args[1:4] == (sum(r["count"] for r in sizes), len(sizes), 30)
    qe = guarded._jdf.queryExecution()
    assert _right_child(qe.sparkPlan().toString(), "LeftAnti").startswith(
        "LocalTableScan"), qe.sparkPlan().toString()
    assert "BroadcastHashJoin" in qe.executedPlan().toString()
    assert guarded.count() == buckets.count() - sum(r["count"] for r in sizes)
    buckets.unpersist()


def test_bucket_guard_noop_below_cap(spark):
    docs, _ = _corpus_with_degenerate_cluster(spark, boiler=5)
    a = lsh_candidate_pairs(docs, 12, 4, max_bucket_size=None)
    b = lsh_candidate_pairs(docs, 12, 4, max_bucket_size=4096)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_simhash_guard_still_finds_near_pairs(spark):
    docs, truth = _corpus_with_degenerate_cluster(spark, n_pairs=15,
                                                  boiler=50)
    pairs = simhash_near_pairs(docs, bits=16, max_hamming=3,
                               max_bucket_size=40)
    got = {(r.a_id, r.b_id) for r in pairs.collect()}
    # SimHash recall on single-token edits is high but not guaranteed 1.0;
    # the guard must not collapse it
    recall = sum(1 for t in truth if t in got) / len(truth)
    assert recall >= 0.8, recall


def test_minhash_dedup_refine_with_guard(spark):
    docs, truth = _corpus_with_degenerate_cluster(spark, n_pairs=20,
                                                  boiler=0)
    out = minhash_dedup(docs, threshold=0.5, num_perm=12, bands=4)
    got = {(r.a_id, r.b_id) for r in out.collect()}
    recall = sum(1 for t in truth if t in got) / len(truth)
    assert recall >= 0.95


# ---------------------------------------------------------- cap_per_group

def _skewed_groups(spark, hot=20_000, cold=50):
    pdf = pd.DataFrame({
        "domain": ["hot.example"] * hot
        + [f"d{i}.example" for i in range(cold)],
        "doc_id": np.arange(hot + cold, dtype=np.int64),
        "score": np.concatenate([
            (np.arange(hot, dtype=np.int64) * 2654435761) % 1000,
            np.zeros(cold, dtype=np.int64),
        ]),
    })
    return spark.createDataFrame(pdf).repartition(8)


def test_cap_per_group_matches_direct_window(spark):
    df = _skewed_groups(spark)
    got = cap_per_group(df, "domain", [F.desc("score"), F.asc("doc_id")], 7)
    from pyspark.sql import Window

    w = Window.partitionBy("domain").orderBy(F.desc("score"),
                                             F.asc("doc_id"))
    want = (
        df.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 7)
    )
    g = sorted(map(tuple, got.select("domain", "doc_id", "rank").collect()))
    e = sorted(map(tuple, want.select("domain", "doc_id", "rank").collect()))
    assert g == e
    # hot group capped at exactly n
    hot_n = got.filter(F.col("domain") == "hot.example").count()
    assert hot_n == 7


def test_cap_per_group_partial_phase_bounds_hot_group(spark):
    """Structural: after phase 1, the hot group contributes at most
    n x num_input_partitions rows to the global window (the fix's whole
    point — no single task sorts the full hot group)."""
    df = _skewed_groups(spark, hot=30_000)
    n = 5
    from pyspark.sql import Window

    w1 = Window.partitionBy("_cap_pid", "domain").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    phase1 = (
        df.withColumn("_cap_pid", F.spark_partition_id())
        .withColumn("_r", F.row_number().over(w1))
        .filter(F.col("_r") <= n)
    )
    hot_survivors = phase1.filter(F.col("domain") == "hot.example").count()
    parts = df.rdd.getNumPartitions()
    assert hot_survivors <= n * parts
    assert hot_survivors < 30_000 / 10  # the sort input actually shrank


def test_cap_per_group_deterministic(spark):
    df = _skewed_groups(spark)
    a = cap_per_group(df, "domain", [F.desc("score"), F.asc("doc_id")], 3)
    b = cap_per_group(df.repartition(3), "domain",
                      [F.desc("score"), F.asc("doc_id")], 3)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
