"""The workloads: what each loads in set-up and what one timed op does.

Each op calls the library's public API, consumes its whole result, and hands
the result to a checker (``checks.py``). Time spent checking is paused out of
the op's wall time; the checker's own Spark jobs run under a job group no
layer span owns.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

import numpy as np
from pyspark.sql import functions as F

from linear_kdtree_spark import lkt_build
from linear_kdtree_spark.operators.codes import attach_labels
from linear_kdtree_spark.operators.dedup import lsh_candidate_pairs
from linear_kdtree_spark.operators.interval_join import choose_shift
from linear_kdtree_spark.operators.knn import knn_batch
from linear_kdtree_spark.operators.pip import Polygon, point_in_polygons
from linear_kdtree_spark.operators.raster import rasterize
from linear_kdtree_spark.operators.similarity import brute_topk_cosine
from linear_kdtree_spark.operators.spatial_join import radius_join
from linear_kdtree_spark.sources.catalog import TableCatalog

import checks
from inputs import SIZES
from spans import NO_SPAN

LABEL_SAMPLE = 200


def mix_col(code):
    """Spark twin of ``checks.mix_sum``'s per-row term."""
    return ((code % F.lit(checks.P)) * F.lit(checks.MIX)) % F.lit(checks.P)


class OpClock:
    """Wall time of one op, with checking paused out of it."""

    def __init__(self):
        self.seconds = 0.0
        self._t = time.perf_counter()

    @contextmanager
    def paused(self, tracer):
        self.seconds += time.perf_counter() - self._t
        if tracer.enabled:
            tracer.sc.setJobGroup(NO_SPAN, NO_SPAN)
        try:
            yield
        finally:
            self._t = time.perf_counter()

    def stop(self) -> float:
        self.seconds += time.perf_counter() - self._t
        return self.seconds


def build_index(spark_df, n: int, cores: int):
    """The production build configuration (``bench.py:_materialized_build``)."""
    return lkt_build(
        spark_df, max_depth=24, strategy="mean", leaf_size=512, num_partitions=cores,
        local_threshold=max(200_000, min(n // 8, 4_000_000)),
    )


class Workload:
    """Subclasses define ``load`` (re-run on every set-up), ``prepare``
    (prebuild, once), ``ops`` (the op names of one round, in order),
    ``warm_rounds`` and ``min_rounds``."""

    name = ""
    ops: tuple = ()
    warm_ops: tuple = ()  # the ops a warm-up round runs, when not all of them
    warm_rounds = 1
    min_rounds = 2  # timed rounds a run makes at least, however long they take

    def __init__(self, inputs, tracer, cores: int, work: str):
        self.inp = inputs
        self.tracer = tracer
        self.cores = cores
        self.work = work
        self.spark = None
        self.first: dict = {}  # first result of checks that only require repeats

    def attach(self, spark) -> None:
        self.spark = spark
        self.tracer.sc = spark.sparkContext

    def load(self) -> None:
        raise NotImplementedError

    def prepare(self, op: str) -> None:
        """One-time set-up after the last ``load`` (e.g. the prebuild)."""

    def warm_up(self) -> float:
        """``warm_rounds`` checked rounds between set-up and the first timed
        op: the first call of each op pays for its plans' code generation and
        the Python workers' start, and the JVM compiles the hot paths over
        the calls after it. Returns their seconds."""
        t0 = time.perf_counter()
        for r in range(self.warm_rounds):
            for kind in self.warm_ops or self.ops:
                _, failure = self.run_op(kind, f"warmup{r}.{kind}")
                if failure:
                    raise RuntimeError(f"warm-up {kind} failed: {failure}")
        return time.perf_counter() - t0

    def references(self) -> None:
        """numpy references, computed before any timing starts."""

    def index(self):
        """The index whose build the traced run reports, if any."""
        return None

    def after_run(self) -> dict:
        """Traced-run values computed after the timed loop."""
        return {}

    def stable(self, what: str, got):
        return checks.check_stable(got, self.first.setdefault(what, got), what)

    def run_op(self, kind: str, op: str) -> tuple[float, str | None]:
        """Run one op; return (wall seconds without checking, failure or None)."""
        clock = OpClock()
        failure = getattr(self, f"op_{kind}")(op, clock)
        return clock.stop(), failure

    def cached(self, name: str):
        df = self.spark.read.parquet(self.inp.path(name)).persist()
        df.count()
        return df


# ------------------------------------------------------------ index_build_serve

class IndexBuildServe(Workload):
    """A build of the full input, then kNN, PIP and ingest against the index
    built in set-up (kept for the whole run, so the queries always serve the
    same index)."""

    name = "index_build_serve"
    ops = ("build", "knn", "pip", "ingest")
    # the set-up build is the build's cold first call, so the warm-up round
    # gives the queries theirs; the first timed build is the run's second
    warm_ops = ("knn", "pip", "ingest")
    warm_rounds = 1

    def load(self):
        self.points = self.cached("points")
        self.queries = self.cached("queries")

    def prepare(self, op):
        with self.tracer.span(op, "build", "call"):
            self.idx = build_index(self.points, len(self.inp.keys), self.cores)
        with self.tracer.span(op, "build", "materialize"):
            self.idx.points.persist()
            self.idx.points.count()
        self.last_index = self.idx
        self.catalog = TableCatalog(self.spark, f"{self.work}/catalog")
        self.batch = 0

    def references(self):
        i = self.inp
        self.sorted_keys = np.sort(i.keys)
        self.polygons = [Polygon(pid, verts) for pid, verts in i.polygons]
        self.knn_expect = checks.knn_reference(i.xs, i.ys, i.keys, i.queries, SIZES.knn_k)
        self.pip_expect = checks.pip_reference(i.xs, i.ys, i.keys, i.polygons)
        self.cover = {}

    def op_build(self, op, clock):
        t = self.tracer
        with t.span(op, "build", "call"):
            idx = build_index(self.points, len(self.inp.keys), self.cores)
        with t.span(op, "build", "materialize"):
            idx.points.persist()
            idx.points.count()
        with clock.paused(t):
            self.last_index = idx
            cols = idx.points.select("key", "node", "sort_key").toArrow()
            cols = {c: cols.column(c).to_numpy() for c in ("key", "node", "sort_key")}
            failure = checks.check_build(
                cols, idx.tree.total_points, len(self.inp.keys), self.sorted_keys
            ) or self.stable("build (key, node) checksum",
                             checks.build_checksum(cols["key"], cols["node"]))
        with t.span(op, "build", "unpersist"):
            idx.points.unpersist()
        return failure

    def op_knn(self, op, clock):
        t = self.tracer
        if t.enabled:
            with t.span(op, "tree", "query_arrays"):
                self.idx.tree.to_query_arrays()
        with t.span(op, "knn", "plan"):
            df = knn_batch(self.idx, self.queries, SIZES.knn_k)
        with t.span(op, "knn", "exec"):
            tab = df.select("query_id", "key", "rank").toArrow()
        with clock.paused(t):
            rows = np.column_stack([tab.column(c).to_numpy().astype(np.int64)
                                    for c in ("query_id", "key", "rank")])
            return checks.check_knn(rows, self.knn_expect)

    def op_pip(self, op, clock):
        t = self.tracer
        if t.enabled:
            with t.span(op, "tree", "bbox_cover"):
                self.cover["pip"] = self.bbox_cover()
        with t.span(op, "pip", "plan"):
            df = point_in_polygons(self.idx, self.polygons, exact="convex")
            code = F.col("key") * 32 + F.col("poly_id")
            agg = df.agg(F.count(F.lit(1)).alias("n"), F.sum(mix_col(code)).alias("chk"))
        with t.span(op, "pip", "exec"):
            row = agg.collect()[0]
        with clock.paused(t):
            return checks.check_pair_sums((row["n"], row["chk"] or 0), self.pip_expect, "pip")

    def op_ingest(self, op, clock):
        t = self.tracer
        b = self.batch % len(self.inp.ingest)
        self.batch += 1
        fresh = self.spark.read.parquet(self.inp.path(f"ingest-{b}"))
        with t.span(op, "codes", "label"):
            labeled = attach_labels(fresh, self.idx.tree)
        with t.span(op, "catalog", "write"):
            manifest = self.catalog.write("ingest", labeled, mode="append")
        with clock.paused(t):
            snap = self.spark.read.parquet(manifest["snapshots"][-1]["path"])
            sample = snap.select("x", "y", "node").limit(LABEL_SAMPLE).collect()
            return checks.check_ingest(
                snap.count(), len(self.inp.ingest[b][0]),
                [(r["x"], r["y"], r["node"]) for r in sample], self.idx.tree.leaf_for,
            )

    def index(self):
        return self.last_index

    def after_run(self):
        return {"knn_cover_key_frac": self.knn_cover_key_frac()}

    def bbox_cover(self) -> dict:
        """The PIP batch's covers, as ``point_in_polygons`` plans them."""
        tree = self.idx.tree
        rows = []
        for p in self.polygons:
            xmin, ymin, xmax, ymax = p.bbox()
            rows += [(p.poly_id, lo, hi) for lo, hi in tree.ranges_for_bbox(xmin, ymin, xmax, ymax)]
        shift = choose_shift(rows, tree.max_depth)
        return {
            "intervals": len(rows),
            "key_frac": sum(hi - lo for _, lo, hi in rows) / len(self.polygons) / (1 << tree.max_depth),
            "replicated_rows": sum(((hi - 1) >> shift) - (lo >> shift) + 1 for _, lo, hi in rows),
        }

    def knn_cover_key_frac(self) -> float:
        """Mean key-space fraction of each kNN query's circle cover."""
        tree = self.idx.tree
        k = min(SIZES.knn_k, tree.total_points)
        fracs = []
        for qx, qy in self.inp.queries:
            r2 = tree.knn_r2_bound(qx, qy, tree.knn_seed_node(qx, qy, k))
            cover = tree.ranges_for_circle(qx, qy, float(np.sqrt(r2)))
            fracs.append(sum(hi - lo for lo, hi in cover) / (1 << tree.max_depth))
        return float(np.mean(fracs))


# ----------------------------------------------------------------- pipeline_ops

class PipelineOps(Workload):
    """The pipeline operators that never touch the kd index: spatial_join,
    dedup, similarity and raster."""

    name = "pipeline_ops"
    ops = ("radius_join", "minhash_lsh", "ann_topk", "rasterize")
    # rounds are short (about 2.5 s): the JVM keeps compiling these ops'
    # paths over their first calls, so the median of six or more timed rounds
    # sits past most of that, and a stall of the host that slows two rounds
    # does not move it
    warm_rounds = 2
    min_rounds = 6

    def load(self):
        self.sample = self.cached("sample")
        self.vectors = self.cached("vectors")
        # the corpus stays a one-file, one-partition scan on purpose
        self.docs = self.spark.read.parquet(self.inp.path("docs"))

    def references(self):
        i = self.inp
        s = i.sample_idx
        self.radius_expect = checks.radius_reference(
            i.xs[s], i.ys[s], i.keys[s], SIZES.join_radius)
        self.topk_expect = checks.topk_cosine_reference(i.vectors, SIZES.vector_queries, 3)

    def op_radius_join(self, op, clock):
        with self.tracer.span(op, "spatial_join", "call"):
            pairs = radius_join(self.sample, self.sample, SIZES.join_radius,
                                dedup_pairs=True)
            code = F.col("a_key") * 1_000_003 + F.col("b_key")
            row = pairs.agg(F.count(F.lit(1)).alias("n"),
                            F.sum(mix_col(code)).alias("chk")).collect()[0]
        with clock.paused(self.tracer):
            return checks.check_pair_sums((row["n"], row["chk"] or 0), self.radius_expect,
                                          "radius_join")

    def op_minhash_lsh(self, op, clock):
        with self.tracer.span(op, "dedup", "call"):
            pairs = lsh_candidate_pairs(self.docs, 8, 4)
            code = F.col("a_id") * 1_000_003 + F.col("b_id")
            row = pairs.agg(F.count(F.lit(1)).alias("n"),
                            F.sum(mix_col(code)).alias("chk")).collect()[0]
        with clock.paused(self.tracer):
            return self.stable("lsh (count, checksum)", (row["n"], row["chk"]))

    def op_ann_topk(self, op, clock):
        q = SIZES.vector_queries
        with self.tracer.span(op, "similarity", "call"):
            qv = self.vectors.filter(F.col("vec_id") < q).select(
                F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding"))
            tab = brute_topk_cosine(self.vectors, qv, 3).toArrow()
        with clock.paused(self.tracer):
            rows = np.column_stack([tab.column(c).to_numpy().astype(np.int64)
                                    for c in ("query_id", "vec_id", "rank")])
            return checks.check_rows(rows, self.topk_expect, "ann top-k")

    def op_rasterize(self, op, clock):
        with self.tracer.span(op, "raster", "call"):
            tiles = rasterize(self.sample, SIZES.raster_depth)
            row = tiles.agg(F.count(F.lit(1)).alias("tiles"), F.sum("n_points").alias("pts"),
                            F.sum(mix_col(F.col("tile"))).alias("chk")).collect()[0]
        with clock.paused(self.tracer):
            if row["pts"] != len(self.inp.sample_idx):
                return f"rasterize counted {row['pts']} points, expected {len(self.inp.sample_idx)}"
            return self.stable("rasterize (tiles, checksum)", (row["tiles"], row["chk"]))


WORKLOADS = {w.name: w for w in (IndexBuildServe, PipelineOps)}
