"""Layering guards over the library source (AST scans, no Spark session):
the library never imports the tests' oracles, only the CLI prints, and
only the split tree makes a SparkContext broadcast."""

import ast
import pathlib

import pytest

ROOT = pathlib.Path(__file__).resolve().parents[1] / "linear_kdtree_spark"
MODULES = sorted(ROOT.rglob("*.py"))


def _parse(path):
    return ast.parse(path.read_text(), str(path))


def _imported_modules(tree):
    """Dotted names of every module an import statement names, including
    ``from pkg import mod`` as ``pkg.mod``."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            yield from (a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = "." * node.level + (node.module or "")
            yield base
            yield from (f"{base}.{a.name}" for a in node.names)


def _test_only_imports(tree):
    """Imported module names that are ``tests`` or an ``oracle`` module."""
    return [
        name for name in _imported_modules(tree)
        if name.lstrip(".").split(".")[0] == "tests"
        or "oracle" in name.split(".")
    ]


@pytest.mark.parametrize(
    "src, bad",
    [
        ("import tests.oracle", True),
        ("from tests import oracle", True),
        ("from . import oracle", True),
        ("from linear_kdtree_spark.oracle import MAX_DEPTH", True),
        ("from linear_kdtree_spark.entry_pipeline import pipeline_oracles",
         False),
    ],
)
def test_guard_sees_test_only_imports(src, bad):
    assert bool(_test_only_imports(ast.parse(src))) is bad


def test_library_imports_no_test_code():
    """The oracles stay independent checks: no library module imports
    ``tests`` or an ``oracle`` module."""
    bad = [
        f"{p.relative_to(ROOT)}: {name}"
        for p in MODULES
        for name in _test_only_imports(_parse(p))
    ]
    assert len(MODULES) > 40
    assert not bad, bad


def test_print_only_in_cli():
    """Library output goes through ``logging``; only ``cli.py`` prints."""
    printers = {
        str(p.relative_to(ROOT))
        for p in MODULES
        for node in ast.walk(_parse(p))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id == "print"
    }
    assert printers == {"cli.py"}  # the scan sees the prints it allows


def _context_broadcasts(tree) -> int:
    """Calls of ``<…>.sparkContext.broadcast(...)`` or ``sc.broadcast``."""
    return sum(
        1 for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "broadcast"
        and ast.unparse(node.func.value).split(".")[-1]
        in ("sparkContext", "sc", "_sc")
    )


@pytest.mark.parametrize(
    "src, n",
    [
        ("bc = spark.sparkContext.broadcast(polys)", 1),
        ("sc = spark.sparkContext\nbc = sc.broadcast(polys)", 1),
        ("F.broadcast(cover)", 0),
        ("tree.broadcast(spark)", 0),
    ],
)
def test_guard_sees_context_broadcasts(src, n):
    assert _context_broadcasts(ast.parse(src)) == n


def test_broadcast_only_in_split_tree():
    """A SparkContext broadcast lives until someone destroys it. The one
    the library keeps is ``SplitTree.broadcast``, memoized per session;
    every other driver-side value rides a closure or the rows."""
    users = {
        str(p.relative_to(ROOT))
        for p in MODULES
        if _context_broadcasts(_parse(p))
    }
    assert users == {"operators/tree.py"}
