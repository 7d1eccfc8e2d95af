"""Tooling guard for bench.py and scripts/: every script imports (so a
rename in spear_spark/ or the catalog fails here rather than rotting
in a script nobody ran), and the persisted-RDD drop has one definition
outside perfbench/ (which owns its own copy)."""

from __future__ import annotations

import ast
import importlib.util
import pathlib

import pytest

import __spark_entry__ as entry_mod
import bench

ROOT = pathlib.Path(__file__).resolve().parent.parent
SCRIPTS = [ROOT / "bench.py", *sorted((ROOT / "scripts").glob("*.py"))]


def _load(path: pathlib.Path):
    spec = importlib.util.spec_from_file_location(f"scripts_{path.stem}", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: p.name)
def test_script_imports(path):
    assert callable(_load(path).main)


def test_timed_query_lists_name_catalog_queries():
    qs = entry_mod.queries()
    scaling = _load(ROOT / "scripts" / "scaling_run.py")
    assert [n for n in bench.HEADLINE + scaling.QUERIES if n not in qs] == []


def _scanned(path: pathlib.Path) -> bool:
    parts = path.relative_to(ROOT).parts
    return not any(p == "perfbench" or p.startswith(".") for p in parts)


def test_drop_persisted_rdds_defined_once():
    sites = [
        str(path.relative_to(ROOT))
        for path in ROOT.rglob("*.py")
        if _scanned(path)
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.FunctionDef) and node.name == "drop_persisted_rdds"
    ]
    assert sites == ["bench.py"]
