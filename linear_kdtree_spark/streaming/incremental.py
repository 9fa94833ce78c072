"""Streaming / batched index builds — the Spark analogue of the reference's
CPU/GPU software pipeline ``lkt_create_pipelined`` (lkt.cu:71-104).

The reference hand-codes overlap: CPU builds tree i+1 while the GPU labels
tree i (comment at lkt.cu:92). Spark already overlaps stages and jobs, so
the capability is re-expressed two ways (SURVEY.md §2.1-B5):

- `build_batches`: an ordered list of point DataFrames → one LktIndex per
  batch (consecutive Spark jobs; the scheduler pipelines stage execution,
  and with the FAIR scheduler concurrent submission overlaps jobs exactly
  like the reference's pipeline).
- `incremental_build_stream`: Structured Streaming `foreachBatch` — every
  micro-batch of points is labelled against the *current* broadcast tree
  and appended to a sink; the tree is rebuilt every `rebuild_every`
  batches (index maintenance under ingest).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linear_kdtree_spark.operators.build import LktIndex, lkt_build
from linear_kdtree_spark.operators.codes import attach_labels


def build_batches(
    batches: list[DataFrame],
    max_depth: int = 16,
    concurrent: bool = False,
    pools: int = 2,
    **build_kw,
) -> list[LktIndex]:
    """One independent index per input batch — the reference's pipelined
    multi-tree build (main.cpp:226-255 drives 10 equal batches).

    ``concurrent=True`` is the Spark analogue of the reference's CPU/GPU
    overlap ("happens in parallel with GPU kernel", lkt.cu:92): batch
    builds are submitted from ``pools`` driver threads, each tagged with
    its own scheduler pool via the thread-local
    ``spark.scheduler.pool`` property, so batch i+1's stages run while
    batch i's are still in flight. With ``spark.scheduler.mode=FAIR`` the
    pools share executors fairly; under default FIFO concurrent jobs still
    interleave whenever free task slots exist. Results are identical to
    the sequential path (each build is independent and deterministic) —
    asserted by tests/test_resume_and_pipeline.py."""
    if not concurrent:
        return [lkt_build(b, max_depth=max_depth, **build_kw) for b in batches]

    from concurrent.futures import ThreadPoolExecutor

    def one(ib):
        i, b = ib
        sc = b.sparkSession.sparkContext
        sc.setLocalProperty("spark.scheduler.pool", f"lkt_batch_{i % pools}")
        try:
            return lkt_build(b, max_depth=max_depth, **build_kw)
        finally:
            sc.setLocalProperty("spark.scheduler.pool", None)

    with ThreadPoolExecutor(max_workers=pools) as ex:
        return list(ex.map(one, enumerate(batches)))


@dataclass
class StreamingIndexer:
    """foreachBatch sink: label each micro-batch against the current tree,
    append to `out_path`, rebuild the tree every `rebuild_every` batches
    from everything seen so far."""

    out_path: str
    max_depth: int = 16
    strategy: str = "mean"
    leaf_size: int = 16
    rebuild_every: int = 4
    index: LktIndex | None = None
    batches_seen: int = 0
    total_rows: int = 0

    def _history(self, spark) -> DataFrame | None:
        """Rows already committed to the sink, or None before the first
        write — the restart-safe source of 'everything seen so far'."""
        try:
            return spark.read.parquet(self.out_path)
        except Exception:  # first batch: path does not exist yet
            return None

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        n = batch_df.count()
        if n == 0:
            return
        self.batches_seen += 1
        self.total_rows += n
        # (batches_seen - 1) % rebuild_every: `% n == 1` never fires for
        # rebuild_every=1 (x % 1 is always 0)
        if self.index is None or (self.batches_seen - 1) % self.rebuild_every == 0:
            # history comes from the SINK, not the in-memory counter: after
            # a query restart the counter resets but out_path still holds
            # every committed batch (review r5 — the counter-based probe
            # rebuilt from only the replayed batch). A replayed batch's own
            # earlier write is excluded so its rows are not double-counted.
            seen = self._history(spark)
            base = (
                batch_df.select("key", "x", "y")
                if seen is None
                else seen.filter(F.col("batch_id") != batch_id)
                .select("key", "x", "y")
                .unionAll(batch_df.select("key", "x", "y"))
            )
            # both build paths persist their points: free the replaced
            # index's, or every rebuild leaves one more cached table behind
            if self.index is not None:
                self.index.points.unpersist()
            self.index = lkt_build(
                base,
                max_depth=self.max_depth,
                strategy=self.strategy,
                leaf_size=self.leaf_size,
            )
        labelled = attach_labels(
            batch_df.select("key", "x", "y"), self.index.tree
        ).withColumn("batch_id", F.lit(batch_id))
        # idempotent replay: dynamic partition overwrite on batch_id
        # rewrites ONLY this batch's partition, so a batch replayed after a
        # crash-before-checkpoint lands exactly once (plain append wrote it
        # twice — review r5)
        (
            labelled.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(self.out_path)
        )


def incremental_build_stream(
    stream_df: DataFrame, out_path: str, checkpoint: str, **indexer_kw
):
    """Wire a streaming points DataFrame into the StreamingIndexer; returns
    ``(started StreamingQuery, StreamingIndexer)`` — the caller awaits or
    stops the query and reads the final tree off the indexer."""
    indexer = StreamingIndexer(out_path=out_path, **indexer_kw)
    return (
        stream_df.writeStream.foreachBatch(indexer.process_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    ), indexer
