"""Bucketed interval (band) join: points × sort_key intervals as an
EQUI-join instead of a BroadcastNestedLoopJoin.

The tree-pruning queries (PIP Q1, kNN Q2) reduce to "points whose sort_key
falls in one of these half-open intervals". A nested-loop theta-join costs
|points| × |intervals| comparisons (measured: 28 s for 600 k × 1.3 k); the
classic band-join reshaping (cf. recursive range partitioning in the
distributed band-join literature) buckets the key space so it becomes:

    point  → bucket = sort_key >> shift                (one expression)
    interval → explode to each overlapped bucket       (tiny side)
    equi-join on bucket, exact interval refine in the join condition

``shift`` is chosen from the interval lengths so an average interval spans
≤ ~4 buckets — the replication stays O(|intervals|) while the join is a
hash join Catalyst/AQE handle natively.

:func:`bucket_join` runs it for a DataFrame of intervals (kNN's covers,
planned in ``mapInPandas``); :func:`interval_join` is its front end for a
driver-side list (PIP's covers). The list becomes an Arrow LocalRelation
(``session.local_frame``): building, reading and broadcasting it runs no
job and starts no Python worker. Its Arrow table also gives the payload
size the broadcast decision needs: convex PIP carries each polygon's edge
array on every interval row, so row count alone says nothing about bytes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linear_kdtree_spark.functions.morton import MAX_DEPTH
from linear_kdtree_spark.session import arrow_table, local_frame


def bucket_shift(mean_len: float, max_depth: int = MAX_DEPTH) -> int:
    """The bucket width 2^shift at which an interval of the mean length
    ``mean_len`` covers ≲ 4 buckets."""
    return min(max(0, int(mean_len / 4).bit_length() - 1), max_depth)


def choose_shift(intervals: list[tuple], max_depth: int = MAX_DEPTH) -> int:
    """:func:`bucket_shift` for ``intervals`` (anything with [-2] = lo and
    [-1] = hi)."""
    if not intervals:
        return max_depth
    mean_len = sum(hi - lo for *_, lo, hi in intervals) / len(intervals)
    return bucket_shift(mean_len, max_depth)


BROADCAST_ROW_CAP = 200_000


def bucket_join(
    points: DataFrame,
    intervals: DataFrame,
    shift: int,
    hint: str | None,
    key_col: str = "sort_key",
) -> DataFrame:
    """The band join for a DataFrame of interval rows (``hi > lo``): points
    whose ``key_col`` lies in a row's half-open ``[lo, hi)``, with buckets
    ``2^shift`` wide. Returns the points columns + interval columns minus
    the ``bucket``/``lo``/``hi`` helpers (callers that need the bounds
    carry them as extra fields, e.g. kNN's r2). ``hint`` is a join
    strategy hint on the exploded interval side (``"broadcast"``,
    ``"merge"``); None leaves the strategy to Catalyst/AQE."""
    ivals = intervals.withColumn(
        "bucket",
        F.explode(
            F.sequence(
                F.shiftright("lo", shift), F.shiftright(F.col("hi") - 1, shift)
            )
        ),
    )
    # NOTE (r6, measured and rejected): a scan-side "coarse cover"
    # disjunction over the merged [lo, hi) ranges was prototyped here to
    # prune cached batches / parquet row groups before the bucket join.
    # On the cached kd-ordered index table it is a pure LOSS (pip 1.31 →
    # 1.74 s, knn 1.32 → 1.98 s at 4.8 M/local[32]): an in-memory
    # columnar scan of 4.8 M × 4 cols costs only ~0.2 s, batch-stat
    # pruning saves none of it, and every surviving row then pays the
    # 64-term OR. Revisit only for cold parquet scans, where row-group
    # pruning actually skips I/O.
    #
    # The bucket key and the refine are one join condition, not a
    # withColumn + join + filter: each DataFrame step re-analyzes the
    # points' lineage on the driver, 7-11 ms per step on a fused-build
    # index of 300 k points (4-core host).
    key = points[key_col]
    on = (
        (F.shiftright(key, shift) == ivals["bucket"])
        & (key >= ivals["lo"])
        & (key < ivals["hi"])
    )
    if hint:
        ivals = ivals.hint(hint)
    joined = points.join(ivals, on)
    return joined.drop("bucket", "lo", "hi")


def broadcast_hint(spark, table, replicated: int) -> str:
    """``"broadcast"`` for a driver-side join side of ``replicated`` rows of
    ``table``'s mean Arrow width while they are at most BROADCAST_ROW_CAP
    and fit ``spark.sql.autoBroadcastJoinThreshold``, else ``"merge"``.
    Both are hints: Catalyst sizes a LocalRelation by default widths (one
    element per array) and would broadcast a wide side it thinks tiny."""
    payload = table.nbytes / max(table.num_rows, 1) * replicated
    conf = spark._jsparkSession.sessionState().conf()
    fits = (replicated <= BROADCAST_ROW_CAP
            and payload <= conf.autoBroadcastJoinThreshold())
    return "broadcast" if fits else "merge"


def interval_join(
    points: DataFrame,
    intervals: list[tuple],
    interval_schema: str,
    key_col: str = "sort_key",
    max_depth: int = MAX_DEPTH,
) -> DataFrame:
    """:func:`bucket_join` for a driver-side list of interval rows, with
    the join hint of :func:`broadcast_hint` over the exploded side.

    intervals: list of tuples whose LAST TWO fields are (lo, hi) half-open
    sort_key bounds; interval_schema describes the full tuple, e.g.
    ``"poly_id long, lo long, hi long"``."""
    # an empty interval matches nothing, and sequence() would count down
    intervals = [t for t in intervals if t[-1] > t[-2]]
    shift = choose_shift(intervals, max_depth)
    spark = points.sparkSession
    table = arrow_table(intervals, interval_schema)
    replicated = sum(((hi - 1) >> shift) - (lo >> shift) + 1
                     for *_, lo, hi in intervals)
    hint = broadcast_hint(spark, table, replicated)
    ivals = local_frame(spark, table, interval_schema)
    return bucket_join(points, ivals, shift, hint, key_col)
