"""Table-format layer: Iceberg when the runtime has it, otherwise a
parquet + JSON-manifest emulation with the same API shape
(SURVEY.md §7 "Iceberg availability in sandbox").

This module holds the engine's one on-disk index format: :func:`save_index`
writes an index as tables (SURVEY.md §1.2) — ``lkt_points`` (kd-ordered,
code + sort_key columns), ``lkt_splits`` (heap-ordered flat tree, ``SplitTree.split_frame``),
``lkt_leaves`` (the leaf table every query cover is planned from,
``SplitTree.leaf_frame``), ``lkt_meta`` (``max_depth`` and ``coord_type``,
without which the keys and splits cannot be read), ``lkt_build_log``
(per-level lineage) and ``lkt_partition_metrics`` — and
:func:`load_index` reads it back. On a real cluster the
Iceberg path adds snapshot isolation, min-max file pruning on ``sort_key``
(which the query planner's interval predicates exploit directly) and
time-travel over build checkpoints; the fallback keeps snapshot ids +
schema in a manifest JSON so calling code is identical in both modes.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession) -> bool:
    """True only when the Iceberg runtime jar is on the classpath AND a
    v2 catalog is configured. NB: py4j returns a JavaPackage placeholder
    for missing classes (no exception), so probe via Class.forName."""
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.Table")  # noqa: SLF001
    except Exception:
        return False
    confs = spark.sparkContext.getConf().getAll()
    return any(k.startswith("spark.sql.catalog.") for k, _ in confs)


class TableCatalog:
    """Minimal write/read/snapshot surface over Iceberg-or-parquet."""

    def __init__(self, spark: SparkSession, root: str,
                 catalog_name: str = "local"):
        self.spark = spark
        self.root = root
        # the Iceberg catalog is whatever the deployment configured, not
        # literally 'local' (review r5) — pass the name the probe found
        self.catalog_name = catalog_name
        self.use_iceberg = iceberg_available(spark)
        os.makedirs(root, exist_ok=True)

    def _manifest_path(self, name: str) -> str:
        return os.path.join(self.root, name, "_manifest.json")

    def write(self, name: str, df: DataFrame, mode: str = "overwrite") -> dict:
        """``mode`` follows DataFrameWriter semantics (review r5 — it was
        accepted and ignored): 'overwrite' starts a new current snapshot,
        'append' adds a snapshot whose read unions back to the last
        overwrite, 'errorifexists' refuses an existing table, 'ignore'
        no-ops on one. Every snapshot stays in the manifest for
        time travel regardless of mode."""
        if mode not in ("overwrite", "append", "errorifexists", "ignore"):
            raise ValueError(f"unsupported mode {mode!r}")
        path = os.path.join(self.root, name)
        prev = self._read_manifest(name)
        if prev is not None and mode == "errorifexists":
            raise ValueError(f"table {name} already exists under {self.root}")
        if prev is not None and mode == "ignore":
            return prev
        if self.use_iceberg:  # pragma: no cover - jars absent in sandbox
            # existence must be probed in the CATALOG, not the parquet
            # manifest the Iceberg branch never writes — otherwise
            # errorifexists/ignore silently createOrReplace an existing
            # table (ADVICE r5 medium, data-loss risk)
            exists = self.spark.catalog.tableExists(
                f"{self.catalog_name}.{name}"
            )
            if exists and mode == "errorifexists":
                raise ValueError(
                    f"table {name} already exists in catalog "
                    f"{self.catalog_name}"
                )
            if exists and mode == "ignore":
                return {"table": name, "format": "iceberg", "mode": mode,
                        "skipped": True}
            w = df.writeTo(f"{self.catalog_name}.{name}")
            if mode == "append":
                w.append()
            else:
                w.createOrReplace()
            return {"table": name, "format": "iceberg", "mode": mode}
        history = (prev or {}).get("snapshots", [])
        # strictly increasing even when two writes land in the same ms
        snap_id = int(time.time() * 1000)
        if history:
            snap_id = max(snap_id, history[-1]["id"] + 1)
        data_path = os.path.join(path, f"snap_{snap_id}")
        df.write.mode("overwrite").parquet(data_path)
        manifest = {"current_snapshot": snap_id, "format": "parquet"}
        manifest["snapshots"] = history + [
            {"id": snap_id, "path": data_path, "schema": df.schema.json(),
             "mode": "append" if (mode == "append" and history) else "overwrite"}
        ]
        os.makedirs(path, exist_ok=True)
        tmp = self._manifest_path(name) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self._manifest_path(name))
        return manifest

    def _read_manifest(self, name: str) -> dict | None:
        p = self._manifest_path(name)
        if os.path.exists(p):
            with open(p) as f:
                return json.load(f)
        return None

    def read(self, name: str, snapshot_id: int | None = None) -> DataFrame:
        if self.use_iceberg:  # pragma: no cover
            return self.spark.table(f"{self.catalog_name}.{name}")
        m = self._read_manifest(name)
        if m is None:
            raise FileNotFoundError(f"table {name} not found under {self.root}")
        snaps = m["snapshots"]
        if snapshot_id is None:
            at = len(snaps) - 1
        else:
            at = next(i for i, s in enumerate(snaps) if s["id"] == snapshot_id)
        # an append snapshot holds only its delta: union back through the
        # chain to (and including) the overwrite it sits on
        paths = []
        for s in snaps[: at + 1][::-1]:
            paths.append(s["path"])
            if s.get("mode", "overwrite") == "overwrite":
                break
        return self.spark.read.parquet(*paths[::-1])

    def snapshots(self, name: str) -> list[dict]:
        m = self._read_manifest(name)
        return m["snapshots"] if m else []


def save_index(catalog: TableCatalog, index, prefix: str = "lkt") -> None:
    """Persist ``index`` as the tables ``{prefix}_points``, ``_splits``,
    ``_leaves``, ``_meta`` (one row: ``max_depth``, ``coord_type``),
    ``_build_log`` (its lineage) and ``_partition_metrics``. The first four
    are the index, read back by :func:`load_index`; the last two are
    records of the build."""
    from linear_kdtree_spark.plans.lineage import partition_metrics
    from linear_kdtree_spark.session import local_frame

    tree = index.tree
    catalog.write(f"{prefix}_points", index.points)
    catalog.write(f"{prefix}_splits", tree.split_frame(catalog.spark))
    catalog.write(f"{prefix}_leaves", tree.leaf_frame(catalog.spark))
    catalog.write(
        f"{prefix}_meta",
        local_frame(catalog.spark, [(tree.max_depth, tree.coord_type)],
                    "max_depth int, coord_type string"),
    )
    if index.lineage:
        catalog.write(
            f"{prefix}_build_log",
            catalog.spark.createDataFrame(index.lineage),
        )
    catalog.write(f"{prefix}_partition_metrics", partition_metrics(index.points))


def load_index(catalog: TableCatalog, prefix: str = "lkt"):
    """The index :func:`save_index` wrote under ``prefix``. Its lineage is
    empty: the build it describes ran elsewhere (``{prefix}_build_log``)."""
    from linear_kdtree_spark.operators.build import LktIndex
    from linear_kdtree_spark.operators.tree import SplitTree

    meta = catalog.read(f"{prefix}_meta").first()
    tree = SplitTree.from_frames(
        catalog.read(f"{prefix}_splits"), catalog.read(f"{prefix}_leaves"),
        meta["max_depth"], meta["coord_type"],
    )
    return LktIndex(catalog.read(f"{prefix}_points"), tree)
