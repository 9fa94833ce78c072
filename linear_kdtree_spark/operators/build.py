"""Distributed linear kd-tree build — the Spark re-expression of the
reference's recursive in-place build (``lkt_create_mimd_codeless`` +
``lkt_sort_mimd``, nocuda.cpp:70-138).

Architecture (SURVEY.md §2.1-B4): instead of the reference's fork-join
recursion over an in-place array (``tbb::parallel_invoke`` +
``parallel_quicksort_partition``, nocuda.cpp:102-107 / quicksort.hh:480-534),
the build is **level-synchronous**: one aggregation shuffle per tree level
computes *all* of that level's split values at once, a broadcast join
reassigns every point to its child node as pure JVM column expressions
(whole-stage codegen, no Python in the loop), and the physical kd order is
realized exactly once at the end: by one token-routed shuffle and a
``mapInPandas`` pass that finishes the small subtrees and emits them in kd
order (the default hybrid build), or by ``repartitionByRange('sort_key') +
sortWithinPartitions`` (the pure level-synchronous build) — the
distributed generalization of the reference's parallel block-partition
machinery (sample → range bounds → shuffle → local sort).

Scale design (100 TB / 10^12 rows):
- the split-table size is bounded by ``leaf_size`` (a node splits only while
  it holds > leaf_size points), NOT by depth — with leaf_size = 1e6 a
  10^12-point build yields ~1e6 split nodes (~50 MB collected/broadcast);
- the loop carries only ``(key, x, y, node)`` — code / sort_key / path_len
  are pure bit transforms of the final heap node id, derived once at
  finalize (functions/morton.py); payload columns are projected out by the
  caller and joined back by key;
- per level: exactly one shuffle (groupBy('node') with map-side partial
  aggregation) for the ``mean`` and ``median_approx`` strategies; the exact
  ``median`` strategy adds a window sort per level and targets
  fixture-exact small builds;
- levels optionally checkpoint to parquet + JSON manifest → resumable
  builds with per-level lineage metrics (north_rule).

The per-point ``code`` column is accumulated during the loop exactly per the
reference's semantics (bit = 1 ⇔ went left, LSB-first — lkt.cpp:140-157);
``sort_key`` is the monotone transform that linearizes the tree (bit = 0 ⇔
left, MSB-first, left-padded to max_depth bits — SURVEY.md §1.3).

Nondeterminism fixes vs the reference are deliberate canonical semantics
(SURVEY.md §4.4): heap node ids instead of allocation order
(fixlentree.hh:42,53), exact split values instead of physical-order-dependent
systematic samples (nocuda.cpp:30-34), order-independent assignment.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from linear_kdtree_spark.functions.morton import MAX_DEPTH, with_derived_cols
from linear_kdtree_spark.operators.tree import (
    LEAF_COLUMNS, SplitTree, leaf_stats, node_depth,
)
from linear_kdtree_spark.session import local_frame, memo

# levels with at most this many split nodes inline the node→split-value
# table as a literal CASE chain instead of a broadcast join (see _lookup);
# above it the chain's per-row linear scan would beat the hash probe no
# longer and codegen size grows, so the join path takes over.
SPLIT_MAP_MAX = 64
# the level loop persists its point table every PERSIST_EVERY levels
PERSIST_EVERY = 3
# Arrow batch rows for the fused pass's mapInPandas (see _local_finish_fused)
FUSED_BATCH_ROWS = 500_000


def _lookup(spark, df: DataFrame, pairs: list, name: str, dtype: str) -> DataFrame:
    """``df`` plus column ``name``: the value ``pairs`` ((node, value)
    tuples) holds for each row's node, NULL where it holds none.

    Up to SPLIT_MAP_MAX pairs this is a chained CASE WHEN over literals,
    which keeps the lookup inside ONE whole-stage-codegen projection — no
    broadcast exchange, no join node — and allocates nothing per row.
    (``try_element_at(create_map(...))`` would rebuild the map object per
    row: CreateMap of literals is not constant-folded, and with mid-loop
    persists stretched out that compounded to a measured 6× build
    regression, r6 persist-every experiment.) Above it, a broadcast left
    join against the pairs as a LocalRelation.

    The pairs are sorted by node first, so the plan does not depend on the
    order a stats job returned them in."""
    pairs = sorted(pairs)
    if len(pairs) <= SPLIT_MAP_MAX:
        expr = None
        for k, v in pairs:
            w = (F.col("node") == F.lit(k), F.lit(v))
            expr = F.when(*w) if expr is None else expr.when(*w)
        return df.withColumn(name, expr)
    table = local_frame(spark, pairs, f"node long, {name} {dtype}")
    return df.join(F.broadcast(table), "node", "left")


SPLITS_SCHEMA = T.StructType(
    [
        T.StructField("node_id", T.LongType(), False),
        T.StructField("depth", T.IntegerType(), False),
        T.StructField("axis", T.IntegerType(), False),
        T.StructField("value", T.DoubleType(), False),
        T.StructField("n_left", T.LongType(), False),
        T.StructField("n_right", T.LongType(), False),
        T.StructField("left_child", T.LongType(), False),
        T.StructField("right_child", T.LongType(), False),
    ]
)


@dataclass
class LktIndex:
    """The complete index — Spark analogue of ``linear_kdtree`` (lkt.h:25-32):
    the kd-ordered point DataFrame (``code`` + ``sort_key`` columns in place
    of the reference's parallel ``morton_codes`` array, lkt.h:31), the flat
    heap-ordered split DataFrame (analogue of ``fixlentree``,
    fixlentree.hh:20-81), and the broadcastable driver-side tree, which
    also carries the index's ``max_depth`` and ``coord_type``.

    Invariant: ``tree.leaves`` (the leaf table: count and data bbox per
    non-empty leaf) describes exactly ``points``, and every query cover is
    planned from it. Code that changes the points must rebuild the table;
    no current path does (streaming ingest rebuilds the whole index)."""

    points: DataFrame  # key, x, y, node, path_len, code, sort_key
    splits: DataFrame
    tree: SplitTree
    lineage: list = field(default_factory=list)


def _apply_level(spark, df: DataFrame, axis: str, splittable: list) -> DataFrame:
    """One level's node transform: route each row of a splitting node to
    its child heap id, leave every other row untouched. Factored out so
    the stats scan can REBUILD the un-persisted transform chain from the
    last cached level (see the chain-aware stats source in
    :func:`lkt_build`)."""
    # the distributed phase is the TOP of the tree: ≤ n/threshold active
    # nodes per level, so the split table is tiny and _lookup keeps the
    # level transform inside one codegen projection — no per-level
    # exchange, which is precisely the per-level fixed cost that caps the
    # high-parallelism leg (BENCH/SCALING.md r4: 5 sequential stats jobs ×
    # ~1 s fixed scale 1.4× vs the 0.988 substrate control). Deep
    # distributed builds (leaf_size-bounded, e.g. resume) take the join.
    joined = _lookup(spark, df, splittable, "sv", "double")
    has = F.col("sv").isNotNull()
    left = F.col(axis).cast("double") < F.col("sv")
    right_bit = F.when(left, F.lit(0)).otherwise(F.lit(1))
    # only the heap node id is carried through the loop; code / sk /
    # path_len / sort_key are pure bit transforms of it, derived once
    # at finalize (functions/morton.py — equality is unit-tested)
    return joined.select(
        "key",
        "x",
        "y",
        F.when(has, F.col("node") * 2 + 1 + right_bit)
        .otherwise(F.col("node"))
        .alias("node"),
    )


def _split_stats(active: DataFrame, axis: str, strategy: str) -> DataFrame:
    """Per-node (split value, count, min/max on BOTH axes) for one level —
    the distributed replacement of the reference's systematic-sample split
    heuristic (``lkt_find_splitpoint_x/_y``, nocuda.cpp:27-48). The
    off-axis min/max (mn2/mx2) ride along in the same map-side-combined
    shuffle and give every node an exact data bbox, which the kNN planner
    uses to bound the k-th distance without any data scan."""
    other = "y" if axis == "x" else "x"
    if strategy == "mean":
        # float32 builds quantize the mean to the coordinate type
        # (reference ord_t splits, lkt.h:13) — kills last-ulp
        # summation-order divergence across engines (kernel.split_value)
        sv = F.avg(axis)
        if active.schema[axis].dataType.simpleString() == "float":
            sv = sv.cast("float").cast("double")
        return active.groupBy("node").agg(
            sv.alias("sv"),
            F.count(F.lit(1)).alias("cnt"),
            F.min(axis).alias("mn"),
            F.max(axis).alias("mx"),
            F.min(other).alias("mn2"),
            F.max(other).alias("mx2"),
        )
    if strategy == "median":
        # canonical discrete upper median sorted[n // 2] — an actual data
        # value, bit-exact vs kernel.split_value. One ordered window for the
        # rank + one plain aggregate for the per-node stats (joined back on
        # node — tiny side), instead of five window functions over the same
        # sort (measured 161 s → below at gate scale)
        w = Window.partitionBy("node").orderBy(F.col(axis), "key")
        stats = active.groupBy("node").agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min(axis).alias("mn"),
            F.max(axis).alias("mx"),
            F.min(other).alias("mn2"),
            F.max(other).alias("mx2"),
        )
        ranked = (
            active.select("node", "key", axis)
            .withColumn("rn", F.row_number().over(w))
        )
        return (
            ranked.join(stats, "node")
            .filter(F.col("rn") == (F.col("cnt") / 2).cast("long") + 1)
            .select(
                "node", F.col(axis).cast("double").alias("sv"), "cnt",
                "mn", "mx", "mn2", "mx2",
            )
        )
    if strategy == "median_approx":
        # scale path: one groupBy, mergeable Greenwald-Khanna sketch
        return active.groupBy("node").agg(
            F.percentile_approx(axis, 0.5, 10000).cast("double").alias("sv"),
            F.count(F.lit(1)).alias("cnt"),
            F.min(axis).alias("mn"),
            F.max(axis).alias("mx"),
            F.min(other).alias("mn2"),
            F.max(other).alias("mx2"),
        )
    raise ValueError(f"unknown split strategy: {strategy}")


def lkt_build(
    points: DataFrame,
    max_depth: int = MAX_DEPTH,
    strategy: str = "mean",
    leaf_size: int = 1,
    num_partitions: Optional[int] = None,
    checkpoint_dir: Optional[str] = None,
    checkpoint_every: int = 4,
    key_col: str = "key",
    x_col: str = "x",
    y_col: str = "y",
    coord_type: str = "float",
    local_threshold: int = 200_000,
) -> LktIndex:
    """Build the index over a points DataFrame.

    ``coord_type``: 'float' is the canonical reference type (``ord_t``,
    lkt.h:13, compared bit-exactly in fixture tests); 'double' keeps full
    input precision (used where results must match a float64 oracle).

    **Hybrid two-phase build**: the per-level AGGREGATION is distributed
    (one map-side-combined shuffle each) only for nodes still holding
    more than ``local_threshold`` points — a node is WITHDRAWN from the
    distributed phase the moment it fits a task (so under skew each
    level's stats scan shrinks to the heavy spine instead of re-scanning
    all mass until the global max fits). When no node exceeds the
    threshold, ONE hash shuffle routes whole subtrees to pre-planned
    partitions: each row is tagged with its bin's verified murmur token
    (``repartition(n_parts, "_tok")``, a ``hashpartitioning(_tok)``
    Exchange; ``repartitionByRange`` on ``sort_key`` only if the tokens
    fail verification), bins being contiguous ``sort_key`` ranges. A
    ``mapInPandas`` pass then finishes every deferred subtree locally —
    from its own depth — with the numpy implementation of the identical
    canonical semantics (operators/kernel.py) and
    emits its rows already in kd order: no Sort and no second shuffle
    (see :func:`_local_finish_fused`). At 10^12 points with a 2e5
    threshold that is ~22 distributed levels + one local pass.
    Set ``local_threshold=0`` to force the pure level-synchronous path
    (resumable/checkpointed builds use it; they need durable per-level
    state), which ends with ``repartitionByRange(sort_key, key)`` and a
    partition-local sort.

    ``points`` must carry (key_col, x_col, y_col); other columns are dropped
    (join them back by ``key``). Returns an :class:`LktIndex` whose
    ``points`` partitions are contiguous ``sort_key`` ranges in partition
    order, each in ``(sort_key, key)`` order — the physical kd order of
    the reference's in-place array, persisted and counted.
    """
    spark = points.sparkSession
    if checkpoint_dir:
        # resumable builds run the pure level-synchronous path: every level
        # is a durable parquet checkpoint candidate; the local-finish
        # shortcut would leave nothing to resume from
        local_threshold = 0

    state = _load_manifest(checkpoint_dir) if checkpoint_dir else None
    split_rows: list[dict] = []
    lineage: list[dict] = []
    # node → (count, xmin, xmax, ymin, ymax) of every node a stats scan
    # saw; the ones that never split are rows of the leaf table
    node_stats: dict[int, tuple] = {}
    start_depth = 0
    if state:
        split_rows = state["split_rows"]
        lineage = state["lineage"]
        node_stats = {int(k): tuple(v) for k, v in state["node_stats"].items()}
        start_depth = state["next_depth"]
        pts = spark.read.parquet(state["points_path"])
    else:
        pts = points.select(
            F.col(key_col).cast("long").alias("key"),
            F.col(x_col).cast(coord_type).alias("x"),
            F.col(y_col).cast(coord_type).alias("y"),
            F.lit(0).cast("long").alias("node"),
        )

    # the level caches alive: the newest one (``pts`` after a persist or
    # checkpoint) and, until a scan has materialized it, the one it is
    # computed from — freeing that earlier sends the next scan back to the
    # build's source
    cached = [pts.persist()]
    pts = cached[0]
    min_split = max(2, leaf_size + 1)
    fused_out = None  # set by the fused local finish (final, materialized)
    # nodes withdrawn from the distributed phase the moment they fit a
    # task (cnt ≤ local_threshold): they go INACTIVE immediately and the
    # fused finish builds their whole subtree from their own depth. Under
    # skew this shrinks every later per-level stats scan to the heavy
    # spine instead of re-scanning all mass until the GLOBAL max fits
    # (VERDICT r4 next-#1: the sequential stats phase was the measured
    # non-scaling cost). Exactness: the local kernel applies the identical
    # canonical split semantics from the node's own depth, so the result
    # is the one the distributed loop would have produced
    # (tests/test_differential.py pins fused ≡ level-sync).
    deferred: set[int] = set()
    # the transform chain since the last persisted/checkpointed level:
    # (depth, axis, splittable) triples applied on top of ``chain_base``.
    chain_base = pts
    chain: list[tuple[int, str, list]] = []

    def _group_rows(aggregate, level_lo: int) -> list:
        """``aggregate`` (a per-node groupBy) over the rows of the nodes
        ≥ ``level_lo``, collected. With un-persisted levels pending, the
        source REBUILDS the chain from the cache with a plain-attribute
        prefilter instead of filtering the chained ``pts``: the exact
        ``node >= level_lo`` filter on a ≥2-level CASE-projection chain is
        substituted through every projection by predicate pushdown (it
        pushes through the aggregate's grouping key too), and the
        multiplicatively nested condition falls out of codegen into
        interpreted evaluation — measured r6: a 2-chain stats scan at 20 M
        rows ran 68.5 s vs 0.41 s for the 1-chain control (16 KB filter
        condition in the plan), and the lc4@76.8 M build spent 187 s in
        ONE such level. The rebuilt source keeps every CASE level a
        separate whole-stage-codegen projection; the exact filter moves
        driver-side onto the collected per-node rows."""
        if chain:
            # rows frozen before the first un-persisted level can never
            # be active now (heap ids only grow)
            src = chain_base.filter(F.col("node") >= (1 << chain[0][0]) - 1)
            for _, ax2, sp2 in chain:
                src = _apply_level(spark, src, ax2, sp2)
        else:
            src = pts.filter(F.col("node") >= level_lo)
        return [r for r in aggregate(src).collect() if r["node"] >= level_lo]

    for depth in range(start_depth, max_depth):
        t_level = time.time()
        axis = "x" if depth % 2 == 0 else "y"
        level_lo = (1 << depth) - 1
        stats = _group_rows(
            lambda src: _split_stats(src, axis, strategy), level_lo
        )
        t_stats = time.time() - t_level
        for c in cached[:-1]:
            c.unpersist()
        del cached[:-1]
        for r in stats:
            xb = ("mn", "mx") if axis == "x" else ("mn2", "mx2")
            yb = ("mn2", "mx2") if axis == "x" else ("mn", "mx")
            node_stats[int(r["node"])] = (
                int(r["cnt"]), float(r[xb[0]]), float(r[xb[1]]),
                float(r[yb[0]]), float(r[yb[1]]),
            )

        defer_ok = bool(local_threshold) and depth < max_depth - 1
        splittable = []
        n_deferred_here = 0
        for r in stats:
            degenerate = (
                r["sv"] is None
                or not (r["sv"] > r["mn"])  # left side would be empty
                or not (r["sv"] <= r["mx"])  # right side would be empty
            )
            if r["cnt"] < min_split or degenerate:
                continue  # a decided leaf — the fused pass must NOT retry
            if defer_ok and r["cnt"] <= local_threshold:
                deferred.add(int(r["node"]))
                n_deferred_here += 1
                continue
            splittable.append((int(r["node"]), float(r["sv"])))
            split_rows.append(
                {
                    "node_id": int(r["node"]),
                    "depth": depth,
                    "axis": depth % 2,
                    "value": float(r["sv"]),
                }
            )
        lineage.append(
            {
                "depth": depth,
                "n_active_nodes": len(stats),
                "n_split_nodes": len(splittable),
                "n_deferred_nodes": n_deferred_here,
                "n_active_points": int(sum(r["cnt"] for r in stats)),
                "max_node_points": int(max((r["cnt"] for r in stats), default=0)),
                "min_node_points": int(min((r["cnt"] for r in stats), default=0)),
                "stats_sec": round(t_stats, 3),
            }
        )
        if not splittable:
            break

        new_pts = _apply_level(spark, pts, axis, splittable)
        if checkpoint_dir and (depth + 1) % checkpoint_every == 0:
            pts = _checkpoint_level(
                spark, new_pts, checkpoint_dir, depth, split_rows, lineage,
                node_stats,
            )
        elif (depth + 1) % PERSIST_EVERY == 0:
            # Caching policy, from measurement at 19.2 M points:
            # - localCheckpoint every level: ~7× slower than persist
            #   (per-row copy + serialization per level);
            # - persist every level: rewriting the full cache costs
            #   5-20 s/level — it dominated the loop;
            # - persist every PERSIST_EVERY levels: the skipped levels
            #   recompute ≤ PERSIST_EVERY-1 broadcast-hash joins from the
            #   last cache — far cheaper than rewriting the cache.
            pts = new_pts.persist()
        else:
            pts = new_pts
            chain.append((depth, axis, splittable))
            continue
        cached.append(pts)
        chain_base = pts
        chain = []

    # counts and bboxes of the children of distributed split nodes at the
    # deepest level (the loop may have ended at max_depth before their
    # children were aggregated); local-phase rows already carry exact
    # counts. MUST run before the fused finish: uncounted final-level
    # children are leaves the fused routing would otherwise silently drop
    # (its route table is built from node_stats).
    unpatched = [r for r in split_rows if "n_left" not in r]
    missing = [
        r["node_id"]
        for r in unpatched
        if 2 * r["node_id"] + 1 not in node_stats
    ]
    if missing:
        lo = min((1 << (node_depth(m) + 1)) - 1 for m in missing)
        for r in _group_rows(leaf_stats, lo):
            node_stats[int(r["node"])] = (
                int(r["count"]), r["xmin"], r["xmax"], r["ymin"], r["ymax"],
            )

    split_ids = {r["node_id"] for r in split_rows}
    leaf_rows = [
        (n, *st) for n, st in node_stats.items()
        if n not in split_ids and n not in deferred
    ]
    if deferred:
        t_fused = time.time()
        counts = {n: st[0] for n, st in node_stats.items()}
        fused_out, local_split_rows, local_leaf_rows = _local_finish_fused(
            spark, pts, max_depth, strategy, min_split, coord_type,
            num_partitions, counts, split_ids, deferred,
        )
        split_rows.extend(local_split_rows)
        leaf_rows.extend(local_leaf_rows)
        sizes = [counts[g] for g in deferred]
        lineage.append(
            {
                "depth": -1,  # the fused local-finish pass (all subtrees)
                "n_active_nodes": len(deferred),
                "n_split_nodes": -1,
                "n_deferred_nodes": len(deferred),
                "n_active_points": sum(sizes),
                "max_node_points": max(sizes),
                "min_node_points": min(sizes),
                "local_finish": True,
                "stats_sec": 0.0,
                "level_sec": round(time.time() - t_fused, 3),
            }
        )

    for r in unpatched:
        r["n_left"] = node_stats.get(2 * r["node_id"] + 1, (0,))[0]
        r["n_right"] = node_stats.get(2 * r["node_id"] + 2, (0,))[0]

    tree = SplitTree.from_rows(split_rows, leaf_rows, max_depth, coord_type)
    splits_df = local_frame(
        spark,
        [
            (
                r["node_id"], r["depth"], r["axis"], r["value"],
                r["n_left"], r["n_right"], r["left_child"], r["right_child"],
            )
            for r in tree.to_rows()
        ],
        SPLITS_SCHEMA,
    )

    # the fused finish already emitted, materialized, and cached the FINAL
    # kd-ordered 7-column table in one pass
    out = fused_out
    if out is None:
        n_parts = num_partitions or spark.sparkContext.defaultParallelism
        out = (
            with_derived_cols(pts.select("key", "x", "y", "node"), max_depth)
            .repartitionByRange(n_parts, "sort_key", "key")
            .sortWithinPartitions("sort_key", "key")
            .persist()
        )
        out.count()
    # the loop cache is dead — free it now so repeated builds don't pile up
    # dead cache copies (measured 86 s → 236 s degradation before this)
    for c in cached:
        c.unpersist()
    return LktIndex(
        points=out,
        splits=splits_df,
        tree=tree,
        lineage=lineage,
    )


def _node_prefix(g: int, max_depth: int) -> tuple[int, int, int, int]:
    """(path_len, code, sk, sort_key) of heap node ``g`` — the pure-int
    prefix constants of its subtree (same bit semantics as
    functions/morton.with_derived_cols, unit-tested equal)."""
    p = g + 1
    plen = p.bit_length() - 1
    sk = p - (1 << plen)
    code = 0
    for i in range(plen):
        b = (p >> (plen - 1 - i)) & 1  # 1 ⇔ went right at depth i
        code |= (1 - b) << i
    return plen, code, sk, sk << (max_depth - plen)


def _global_node(g, local, path_len):
    """Global heap id of local heap id ``local`` at local depth
    ``path_len`` in the subtree rooted at ``g``:
    global + 1 = (g + 1)·2^path_len + local path bits."""
    two_p = 1 << path_len
    return (g + 1) * two_p + (local + 1 - two_p) - 1


class _ListAccum:
    """AccumulatorParam collecting lists (of per-subtree results)."""

    def zero(self, value):
        return []

    def addInPlace(self, a, b):
        a.extend(b)
        return a


# n_parts → verified partition tokens, per session (session.memo)
_TOKENS: dict = {}


def _verified_tokens(spark, n_parts: int):
    """Partition tokens for exact driver-planned hash partitioning, or
    None if this Spark's partitioning expression doesn't match (→ caller
    falls back to repartitionByRange). Verified once per session."""
    from linear_kdtree_spark.functions.murmur import (
        partition_tokens,
        verify_tokens,
    )

    def make():
        try:
            toks = partition_tokens(n_parts)
            return toks if verify_tokens(spark, toks) else None
        except Exception:
            return None

    return memo(spark, _TOKENS, n_parts, make)


def _local_finish_fused(
    spark, pts, max_depth, strategy, min_split, coord_type,
    num_partitions, node_counts, split_ids, deferred,
) -> tuple[DataFrame, list[dict], list[tuple]]:
    """Phase 2 of the hybrid build, fused with the terminal kd ordering —
    ONE shuffle and ONE pass from the loop state to the final, materialized,
    kd-ordered index table:

    1. **Driver-planned shuffle, no sampling pass.** The per-level stats
       already give every live subtree's exact row count, so the driver
       packs subtrees (in sort_key order) into ``n_parts`` bins of
       ~equal rows and routes each subtree to its chosen partition INDEX
       with a murmur3 token tag (functions/murmur.py; verified against
       the JVM, falling back to repartitionByRange(_subtree_lo) which
       needs an extra full sampling scan). Exact packing by known counts
       also beats sampled quantiles under skew — the straggler bound is
       max(subtree) instead of a sampling artifact.
    2. **One mapInPandas pass emits the FINAL table.** Each partition
       pre-sorts its rows by (node, key), finishes every ``deferred``
       subtree with the serial canonical algorithm from that subtree's
       OWN depth (kernel.build_local_fast, O(n·depth); deferred subtrees
       root at different depths because each withdrew from the
       distributed phase the moment it fit a task), remaps local heap
       ids into the global numbering (global_node + 1 = (g + 1)·2^p +
       local_path_bits) and emits rows already in exact kd order
       (subtrees by sort_key-interval start, rows by (sort_key, key));
       path_len/code/sort_key are derived JVM-side. Groups NOT in
       ``deferred`` are leaves the distributed phase already decided
       (< min_split or a degenerate split) and are emitted verbatim. No
       staging cache, no derived-column pass, no terminal sort.
    3. **Split rows and leaf table rows return via an accumulator** (one
       entry per deferred subtree), deduped by subtree so a cache-eviction
       recompute cannot double-add. The count action that materializes
       the output is the same action that delivers them.
    """
    import numpy as np
    import pandas as pd

    from linear_kdtree_spark.operators.kernel import build_local_fast

    local_strategy = "median" if strategy == "median_approx" else strategy
    dtype = np.float32 if coord_type == "float" else np.float64
    n_parts = num_partitions or spark.sparkContext.defaultParallelism
    # the python kernel ships ONLY (key, x, y, node): path_len / code /
    # sort_key are pure integer bit transforms of the heap node id, so
    # they are derived JVM-side right after the mapInPandas (
    # functions/morton.with_derived_cols — equality vs the per-bit
    # definition is unit-tested, and every lkt_build_nodes* gate pins the
    # values cross-engine). This cuts the python->JVM Arrow traffic from
    # 7 to 4 columns (56 -> 32 bytes/row) and drops three O(n) numpy
    # compositions from the task hot path — measured at 38.4 M/local[8]:
    # fused phase 24.6 -> 20.5 s (with 500k-row Arrow batches; r5).
    out_schema = f"key long, x {coord_type}, y {coord_type}, node long"

    # live subtrees = counted nodes that never split; pack by exact size
    live = {
        int(g): int(c) for g, c in node_counts.items() if g not in split_ids
    }
    total = sum(live.values())
    ordered = sorted(live, key=lambda g: _node_prefix(g, max_depth)[3])
    # optimal CONTIGUOUS packing (bins stay sort_key ranges — parquet
    # min-max pruning on sort_key survives): binary-search the smallest
    # max-bin-sum B admitting <= n_parts greedy chunks. The round-3
    # greedy (close bin when next would exceed total/n_parts, dump the
    # tail into the last bin) packed 8 subtrees into one task at
    # 16-subtree/8-part shapes — a measured 79.6s straggler vs 30s peers.
    sizes = [live[g] for g in ordered]

    def n_chunks(bound: int) -> int:
        chunks, cur = 1, 0
        for s in sizes:
            if cur and cur + s > bound:
                chunks += 1
                cur = 0
            cur += s
        return chunks

    lo_b, hi_b = max(sizes, default=1), max(total, 1)
    while lo_b < hi_b:
        mid = (lo_b + hi_b) // 2
        if n_chunks(mid) <= n_parts:
            hi_b = mid
        else:
            lo_b = mid + 1
    bins: list[list[int]] = [[]]
    size = 0
    for g in ordered:
        if size and size + live[g] > lo_b:
            bins.append([])
            size = 0
        bins[-1].append(g)
        size += live[g]

    tokens = _verified_tokens(spark, n_parts)
    base = pts.select("key", "x", "y", "node")
    if tokens is not None:
        route = [
            (g, tokens[b]) for b, members in enumerate(bins) for g in members
        ]
        # every base row's node is a live subtree, so the lookup never
        # misses (the n_out == total guard below would catch a violation)
        src = (
            _lookup(spark, base, route, "_tok", "long")
            .repartition(n_parts, "_tok")
            .drop("_tok")
        )
    else:  # pragma: no cover - JVM partitioning changed; keep correctness
        src = (
            with_derived_cols(base, max_depth)
            .repartitionByRange(n_parts, "sort_key")
            .select("key", "x", "y", "node")
        )

    acc = spark.sparkContext.accumulator([], _ListAccum())

    def finish(batches):
        chunks = list(batches)
        if not chunks:
            return
        # numpy-direct column concat (no pandas block consolidation) and
        # copy=False frames below: fresh-page allocation on this host
        # costs ~100 ms/MB under memory churn (measured: a 7-column
        # 1.5M-row pd.DataFrame(dict) = 9 s, copy=False = 0.00 s), so the
        # kernel allocates each output array exactly once
        keys = np.concatenate([c["key"].to_numpy() for c in chunks])
        nodes = np.concatenate([c["node"].to_numpy() for c in chunks])
        xs0 = np.concatenate([c["x"].to_numpy() for c in chunks])
        ys0 = np.concatenate([c["y"].to_numpy() for c in chunks])
        del chunks
        # (node, key) pre-sort: groups become contiguous AND each leaf's
        # rows end up key-ordered (stable local build preserves it)
        order = np.lexsort((keys, nodes))
        keys = keys[order]
        nodes = nodes[order]
        xs = xs0[order]
        ys = ys0[order]
        del xs0, ys0, order
        uniq, starts = np.unique(nodes, return_index=True)
        edges = np.append(starts, len(keys))
        groups = sorted(
            range(len(uniq)),
            key=lambda i: _node_prefix(int(uniq[i]), max_depth)[3],
        )
        done = []
        for gi in groups:
            g = int(uniq[gi])
            s, e = edges[gi], edges[gi + 1]
            plen_g, code_g, sk_g, _ = _node_prefix(g, max_depth)
            if g not in deferred:
                # a leaf the distributed phase already DECIDED (too small
                # or a degenerate split there) — honoring that decision
                # keeps the fused path consistent with level-sync even in
                # the last-ulp case where a locally recomputed mean would
                # flip the degeneracy verdict
                nrows = e - s
                yield pd.DataFrame(
                    {
                        "key": keys[s:e],
                        "x": xs[s:e],
                        "y": ys[s:e],
                        "node": np.full(nrows, g, dtype=np.int64),
                    },
                    copy=False,
                )
                continue
            # deferred subtrees root at different depths (each withdrew
            # the moment it fit a task) — build each from its OWN depth
            res = build_local_fast(
                xs[s:e],
                ys[s:e],
                max_depth=max_depth - plen_g,
                strategy=local_strategy,
                depth_offset=plen_g,
                min_split=min_split,
                coord_dtype=dtype,
            )
            yield pd.DataFrame(
                {
                    "key": keys[s:e][res.perm],
                    "x": res.x,
                    "y": res.y,
                    "node": _global_node(g, res.node, res.path_len),
                },
                copy=False,
            )
            srows = [
                {
                    "node_id": _global_node(g, nid, depth),
                    "depth": plen_g + depth,
                    "axis": axis,
                    "value": value,
                    "n_left": n_left,
                    "n_right": n_right,
                }
                for nid, depth, axis, value, n_left, n_right in res.splits
            ]
            lv = res.leaves
            lrows = list(zip(
                _global_node(g, lv["node"], lv["path_len"]).tolist(),
                *(lv[c].tolist() for c in LEAF_COLUMNS[3:]),
            ))
            done.append((g, srows, lrows))
        if done:
            acc.add(done)

    out = with_derived_cols(
        src.mapInPandas(finish, out_schema), max_depth
    ).persist()
    # 500k-row Arrow batches for THIS job only (session default 65k is
    # sized for wide/binary rows; these are 4 fixed-width columns =
    # 16 MB/batch): fewer per-batch JVM->python round-trips cut the
    # per-task drain 12 -> 7.5 s at 38.4 M/local[8] (measured r5).
    # Session conf, so set/restore around the one materializing action;
    # a later cache-eviction recompute under the session default is only
    # a perf difference, never a semantic one.
    arrow_key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev_batch = spark.conf.get(arrow_key, None)
    spark.conf.set(arrow_key, str(FUSED_BATCH_ROWS))
    try:
        n_out = out.count()
    finally:
        if prev_batch is None:
            spark.conf.unset(arrow_key)
        else:
            spark.conf.set(arrow_key, prev_batch)
    if total and n_out != total:  # pragma: no cover - invariant guard
        raise AssertionError(
            f"fused finish row count {n_out} != expected {total}"
        )
    per_subtree = {g: (sr, lr) for g, sr, lr in acc.value}
    split_rows = [r for sr, _ in per_subtree.values() for r in sr]
    leaf_rows = [r for _, lr in per_subtree.values() for r in lr]
    return out, split_rows, leaf_rows


def _checkpoint_level(
    spark, new_pts, checkpoint_dir, depth, split_rows, lineage, node_stats,
):
    path = os.path.join(checkpoint_dir, f"level_{depth:02d}")
    new_pts.write.mode("overwrite").parquet(path)
    manifest = {
        "next_depth": depth + 1,
        "points_path": path,
        "split_rows": split_rows,
        "lineage": lineage,
        "node_stats": {str(k): list(v) for k, v in node_stats.items()},
    }
    tmp = os.path.join(checkpoint_dir, "manifest.json.tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, os.path.join(checkpoint_dir, "manifest.json"))
    return spark.read.parquet(path).persist()


def _load_manifest(checkpoint_dir):
    p = os.path.join(checkpoint_dir, "manifest.json")
    if os.path.exists(p):
        with open(p) as f:
            return json.load(f)
    return None
