"""SparkSession factory with scale-appropriate defaults.

Local mode is a correctness/bench sandbox; the configs are chosen so the
same code runs unchanged on a multi-executor cluster (AQE, adaptive skew
join, Arrow batching). Shuffle partition count follows the core count
instead of Spark's default 200.

Also the two session-scoped helpers every operator uses: ``local_frame``
(driver-side tables as Arrow LocalRelations) and ``memo`` (a value made
once per Spark application: partition tokens, widen probes, gate builds
and each tree's broadcast). This is the only module that reads the
applicationId.

And the Python workers' setup: ``get_spark`` puts the package's
directory on ``local[N]`` workers' PYTHONPATH (``local-cluster`` masters
get the package as a zip), and, imported inside a task, this module makes the worker's
zip importers re-read an archive only when it changed
(``_install_zip_stamps``).
"""

from __future__ import annotations

import functools
import os
import threading
import zipimport

from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, _parse_datatype_string

# the directory that holds the package: the one path entry its importers need
_PKG_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "linear_kdtree_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = _default_shuffle_partitions(master, cpus)
    local_dir = _default_local_dir(extra_conf)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "64g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # PySpark's DataFrame debugging captures the Python call site of
        # every Column call: one F.shiftright(F.col(...)) then costs 16
        # py4j round trips instead of 6, and an lkt_build of 20 k points
        # 623 instead of 323. extra_conf can turn it back on.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    conf = dict(extra_conf or {})
    if master.startswith("local") and not master.startswith("local-cluster"):
        # local[N] Python workers start from the JVM's cwd and environment,
        # not the driver's sys.path: give them the package's directory
        # after any caller value (local-cluster ships a zip instead)
        key = "spark.executorEnv.PYTHONPATH"
        conf[key] = os.pathsep.join(p for p in (conf.get(key), _PKG_ROOT) if p)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if master.startswith("local-cluster"):
        _ship_package(spark)
    return spark


def arrow_table(rows: list[tuple], schema: str | StructType):
    """``rows`` (tuples in ``schema`` field order) as a typed
    ``pyarrow.Table``; ``schema`` is a DDL string or a ``StructType``.
    Nullability and nested types (``array<struct<...>>``) are kept, and an
    empty list gives an empty table of the same schema."""
    schema = _parse_datatype_string(schema) if isinstance(schema, str) else schema
    return arrow_columns(list(zip(*rows)) or [[]] * len(schema.fields), schema)


def arrow_columns(cols: list, schema: str | StructType):
    """Columns in ``schema`` field order (sequences or numpy arrays of one
    length) as a typed ``pyarrow.Table``: :func:`arrow_table` without
    the rows. A numpy column converts without passing through Python
    objects."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = _parse_datatype_string(schema) if isinstance(schema, str) else schema
    arrow_schema = to_arrow_schema(schema)
    return pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )


def local_frame(spark: SparkSession, rows, schema: str | StructType) -> DataFrame:
    """A driver-side table (a list of tuples, or a ``pyarrow.Table`` from
    :func:`arrow_table`) as a DataFrame that never starts a Python worker.

    ``createDataFrame(list, schema)`` is ``parallelize`` plus a Python
    identity map: every read of the table runs a job on Python workers,
    with their own ``pyspark.daemon`` and fixed cost per task (a warm
    4-partition identity ``mapInPandas`` plus an aggregate: 0.26-0.34 s
    against 0.13-0.19 s for the same job in the JVM, 4-core host; a
    worker's first task also pays 0.13-0.3 s of zip re-reads, see
    :func:`_install_zip_stamps`). An Arrow table below
    ``spark.sql.execution.arrow.localRelationThreshold`` (48 MB) becomes a
    LocalRelation instead, held inside the plan, so reading or
    broadcasting it runs no job; above it, an Arrow RDD the JVM decodes.
    Neither depends on ``spark.sql.execution.arrow.pyspark.enabled``."""
    import pyarrow as pa

    schema = _parse_datatype_string(schema) if isinstance(schema, str) else schema
    table = rows if isinstance(rows, pa.Table) else arrow_table(list(rows), schema)
    return spark.createDataFrame(table, schema)


# the one lock of every memo: re-entrant, because a make() may call memo
# (a gate build's make runs lkt_build, whose fused path reads the tokens)
_MEMO_LOCK = threading.RLock()


def memo(spark: SparkSession, store: dict, key, make):
    """``store[(applicationId, key)]``, calling ``make()`` only on a miss:
    the one way the library keeps a value once per Spark application.
    Before it inserts, it drops the entries of every other application (an
    applicationId is never reused in-process, so a stopped session's
    entries can never hit again). Check, make and insert run under one
    lock, so concurrent first calls on a key get one value, not two."""
    app = spark.sparkContext.applicationId
    with _MEMO_LOCK:
        if (app, key) not in store:
            value = make()
            for stale in [k for k in store if k[0] != app]:
                del store[stale]
            store[(app, key)] = value
        return store[(app, key)]


def _default_local_dir(extra_conf: dict[str, str] | None) -> str | None:
    """Shuffle/broadcast scratch on a RAM disk when one is available.

    Local-mode shuffle files default to /tmp, i.e. the container's overlay
    disk — on this shared host its write stalls are the single largest
    source of bench variance (A/B fresh-JVM first builds at 4.8 M points:
    57-71 s on /tmp vs 20-47 s on /dev/shm, same minutes). The shuffle
    volumes this engine produces locally (≤ a few GB) fit tmpfs easily.
    Deliberately NOT applied when the deployment already chose a location:
    ``SPARK_LOCAL_DIRS`` env (Spark's own override, which outranks the
    conf anyway) or an explicit ``spark.local.dir`` in ``extra_conf``.
    On a real cluster the admin's conf wins by the same rule.

    Caveats (review r5) — the free-space check runs ONCE at session
    creation: a job whose shuffle/spill later outgrows tmpfs (capacity is
    typically 50% of RAM) fails with ENOSPC where a disk default had
    headroom, and SIGKILLed sessions leak their scratch dir as held RAM
    until reboot. Workloads near either edge should opt out with
    ``SPARK_GRAFT_NO_SHM=1`` (or set an explicit local dir)."""
    if (
        os.environ.get("SPARK_LOCAL_DIRS")
        or os.environ.get("SPARK_GRAFT_NO_SHM")
        or (extra_conf and "spark.local.dir" in extra_conf)
    ):
        return None
    shm = "/dev/shm"
    try:
        st = os.statvfs(shm)
        if st.f_bavail * st.f_frsize < 8 << 30 or not os.access(shm, os.W_OK):
            return None
    except OSError:
        return None
    path = os.path.join(shm, f"lkt-spark-local-{os.getuid()}")
    os.makedirs(path, exist_ok=True)
    return path


def _default_shuffle_partitions(master: str, cpus: int) -> int:
    """local[N] → N; local[*] / local-cluster[n,c,m] / cluster URLs → cpus
    (the local-cluster inner is three comma-separated numbers, not an int)."""
    inner = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
    return int(inner) if inner.isdigit() else cpus


def _ship_package(spark: SparkSession) -> None:
    """Ship the engine zip to executors (the spark-submit --py-files path).

    ``local-cluster[n,c,m]`` runs REAL separate executor JVMs whose Python
    workers do not share the driver's sys.path, exactly like a production
    cluster — so the package must travel as an archive. Idempotent per
    SparkContext (addPyFile raises on re-add of the same name in some
    versions; a context-keyed marker skips it)."""
    import tempfile
    import zipfile

    sc = spark.sparkContext
    if getattr(sc, "_lkt_pkg_shipped", False):
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zpath = os.path.join(tempfile.gettempdir(), f"lkt_engine_{os.getpid()}.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        for dirpath, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(dirpath, f)
                    z.write(full, os.path.relpath(full, _PKG_ROOT))
    sc.addPyFile(zpath)
    sc._lkt_pkg_shipped = True


def _install_zip_stamps() -> None:
    """Stop every task of a reused Python worker from re-reading its zip
    archives. Spark puts ``$SPARK_HOME/python/lib/pyspark.zip`` (and
    py4j's zip) first on a worker's path, and ``worker_util.
    setup_spark_files`` calls ``importlib.invalidate_caches()`` on every
    task. On Python 3.11 that makes each ``zipimporter`` (an archive and
    each of its package directories: 16 in a worker) re-read its
    archive's central directory: 0.13-0.3 s per task before any user
    code runs (4-core host); with this, 0.0003 s. A worker the daemon
    forks fresh still pays it once, on its first task, and so does every
    task under ``spark.python.worker.reuse=false``.

    The replacement calls the stdlib method only on an importer's first
    call, when ``os.stat`` fails, or when the archive's
    ``(st_mtime_ns, st_size)`` differs from what the importer last read.
    Only the zip importers change: ``FileFinder`` invalidation, which
    makes newly shipped py-files importable, still runs, and a re-shipped
    archive changes its stamp and is re-read. Idempotent."""
    stdlib = zipimport.zipimporter.invalidate_caches
    if getattr(stdlib, "reread_if_changed", False):
        return

    @functools.wraps(stdlib)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        if stamp is None or stamp != getattr(self, "_lkt_stamp", None):
            stdlib(self)
            self._lkt_stamp = stamp

    invalidate_caches.reread_if_changed = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


# every library UDF and mapInPandas closure imports the package when it
# is unpickled in a task, so a reused worker is patched from its second
# task on; outside a task nothing is patched
if TaskContext.get() is not None:
    _install_zip_stamps()
