"""Real ``spark-submit --py-files engine.zip`` launch.

The north rule mandates the engine "run via spark-submit --py-files on a
multi-executor cluster"; every other test drives the CLI in-process. This
one zips the package, launches an actual spark-submit JVM with the zip on
``--py-files`` and a 3-line driver script, builds an index, and checks the
saved index, read back with ``load_index``, matches an in-process build on
the same input bit-for-bit — proving the deployable artifact (the zip) is
self-contained.

The subprocess runs with ``cwd`` set to an empty temp dir and PYTHONPATH
stripped, so ``linear_kdtree_spark`` can only resolve from the zip.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _find_spark_submit() -> str | None:
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "bin", "spark-submit"))
    cands.append("/opt/spark/bin/spark-submit")
    cands.append(shutil.which("spark-submit"))
    try:
        import pyspark

        cands.append(os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit"))
    except ImportError:
        pass
    for c in cands:
        if c and os.path.isfile(c) and os.access(c, os.X_OK):
            return c
    return None


def _zip_package(zip_path: str) -> None:
    pkg = os.path.join(REPO, "linear_kdtree_spark")
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as z:
        for root, _dirs, files in os.walk(pkg):
            for f in files:
                if not f.endswith(".py"):
                    continue
                full = os.path.join(root, f)
                z.write(full, os.path.relpath(full, REPO))


def test_spark_submit_py_files_build(spark, tmp_path):
    sub = _find_spark_submit()
    if sub is None:
        pytest.skip("no spark-submit binary on this box")

    from pyspark.sql import functions as F

    # deterministic skewed input, written as the job's only shared state
    pts = (
        spark.range(3000)
        .select(
            F.col("id").alias("key"),
            (F.pmod(F.col("id") * 48271, F.lit(360000)) / 1000.0 - 180.0).alias("x"),
            (F.pmod(F.col("id") * 69621, F.lit(170000)) / 1000.0 - 85.0).alias("y"),
        )
    )
    pts_path = str(tmp_path / "pts")
    pts.write.parquet(pts_path)

    zip_path = str(tmp_path / "engine.zip")
    _zip_package(zip_path)

    driver_py = str(tmp_path / "driver.py")
    with open(driver_py, "w") as f:
        f.write(
            "import sys\n"
            "from linear_kdtree_spark.cli import main\n"
            "sys.exit(main(sys.argv[1:]))\n"
        )

    idx_path = str(tmp_path / "idx")
    workdir = tmp_path / "empty_cwd"
    workdir.mkdir()
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    cmd = [
        sub,
        "--master", "local[2]",
        "--conf", "spark.sql.shuffle.partitions=2",
        "--conf", "spark.ui.enabled=false",
        "--py-files", zip_path,
        driver_py,
        "build", "--input", pts_path, "--output", idx_path,
        "--max-depth", "8", "--leaf-size", "16",
    ]
    res = subprocess.run(
        cmd, capture_output=True, text=True, timeout=600, env=env, cwd=str(workdir)
    )
    assert res.returncode == 0, f"spark-submit failed:\n{res.stdout}\n{res.stderr}"
    report = json.loads(
        [l for l in res.stdout.splitlines() if l.startswith("{")][-1]
    )
    assert report["built_points"] == 3000

    # the submitted JVM's output must equal an in-process build bit-for-bit
    import numpy as np

    from linear_kdtree_spark.operators.build import lkt_build
    from linear_kdtree_spark.sources.catalog import TableCatalog, load_index

    ours = lkt_build(pts, max_depth=8, strategy="mean", leaf_size=16)
    # the index dir is a TableCatalog that load_index reads back whole
    saved = load_index(TableCatalog(spark, idx_path))
    got = {(r["key"], r["code"]) for r in saved.points.select("key", "code").collect()}
    want = {(r["key"], r["code"]) for r in ours.points.select("key", "code").collect()}
    assert got == want
    for c, want in ours.tree.splits.items():
        assert np.array_equal(saved.tree.splits[c], want), c
    assert (saved.tree.max_depth, saved.tree.coord_type) == (8, "float")


def test_ship_package_zip_contents_and_master_parse(tmp_path):
    """session.py plumbing for cluster masters, no JVM needed: the
    shipped zip holds the whole package rooted at linear_kdtree_spark/,
    and the shuffle-partition parse survives local-cluster[n,c,m]
    masters (three comma-separated numbers, not an int)."""
    import zipfile

    from linear_kdtree_spark import session as S

    class FakeSC:
        def __init__(self):
            self.added = []

        def addPyFile(self, p):
            self.added.append(p)

    class FakeSpark:
        def __init__(self):
            self.sparkContext = FakeSC()

    fake = FakeSpark()
    S._ship_package(fake)
    assert len(fake.sparkContext.added) == 1
    with zipfile.ZipFile(fake.sparkContext.added[0]) as z:
        names = z.namelist()
    assert "linear_kdtree_spark/session.py" in names
    assert "linear_kdtree_spark/operators/build.py" in names
    assert "linear_kdtree_spark/operators/kernel.py" in names
    assert all(n.startswith("linear_kdtree_spark/") for n in names)
    # idempotent per context
    S._ship_package(fake)
    assert len(fake.sparkContext.added) == 1

    # master-string shuffle parse: local[4] -> 4; local-cluster -> cpus
    for master, want in [
        ("local[4]", 4),
        ("local[*]", 6),
        ("local-cluster[2,1,1024]", 6),
        ("spark://host:7077", 6),
    ]:
        assert S._default_shuffle_partitions(master, 6) == want


def test_default_local_dir_rules(monkeypatch):
    """RAM-disk scratch only when the deployment hasn't chosen one."""
    import linear_kdtree_spark.session as S

    have_shm = os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK)

    monkeypatch.delenv("SPARK_LOCAL_DIRS", raising=False)
    got = S._default_local_dir(None)
    if have_shm:
        assert got is not None and got.startswith("/dev/shm/")
        assert os.path.isdir(got)
    else:
        assert got is None

    # explicit conf wins
    assert S._default_local_dir({"spark.local.dir": "/tmp/x"}) is None
    # Spark's own env override wins
    monkeypatch.setenv("SPARK_LOCAL_DIRS", "/tmp/y")
    assert S._default_local_dir(None) is None


def test_default_local_dir_opt_out_env(monkeypatch):
    """SPARK_GRAFT_NO_SHM=1 disables the RAM-disk default (escape hatch
    for workloads whose shuffle/spill could outgrow tmpfs mid-job)."""
    import linear_kdtree_spark.session as S

    monkeypatch.delenv("SPARK_LOCAL_DIRS", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_NO_SHM", "1")
    assert S._default_local_dir(None) is None


def test_local_workers_import_package_from_any_cwd(tmp_path):
    """Under local[N] a driver that puts the repository on ``sys.path``
    and runs from another directory gets Python workers that import the
    package: ``get_spark`` gives them its directory on PYTHONPATH. The
    driver runs in a subprocess with an empty cwd and PYTHONPATH
    stripped, so only that conf can make the worker's import resolve."""
    driver_py = tmp_path / "driver.py"
    driver_py.write_text(
        "import sys\n"
        f"sys.path.insert(0, {REPO!r})\n"
        "from linear_kdtree_spark import get_spark\n"
        "spark = get_spark(app_name='worker_import', master='local[1]',\n"
        "                  shuffle_partitions=1)\n"
        "def probe(batches):\n"
        "    import linear_kdtree_spark\n"
        "    for pdf in batches:\n"
        "        yield pdf.assign(id=pdf['id'] + 1)\n"
        "rows = spark.range(3).mapInPandas(probe, 'id long').collect()\n"
        "print(sorted(r.id for r in rows))\n"
        "spark.stop()\n"
    )
    workdir = tmp_path / "empty_cwd"
    workdir.mkdir()
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    res = subprocess.run(
        [sys.executable, str(driver_py)], capture_output=True, text=True,
        timeout=300, env=env, cwd=str(workdir),
    )
    assert res.returncode == 0, f"driver failed:\n{res.stdout}\n{res.stderr}"
    assert res.stdout.strip().splitlines()[-1] == "[1, 2, 3]"
