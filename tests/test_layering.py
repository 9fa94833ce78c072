"""Layering guards over the library source (AST scans, no Spark session):
the library never imports the tests' oracles, and only the CLI prints."""

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
