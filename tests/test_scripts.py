"""Tooling guard for bench.py and scripts/: every script imports (so a
rename in spear_spark/ or the catalog fails here rather than rotting
in a script nobody ran), the persisted-RDD drop has one definition
outside perfbench/ (which owns its own copy), and no file points at a
deleted artifact or design-doc section."""

from __future__ import annotations

import ast
import importlib.util
import os
import pathlib
import re

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


def _repo_files(*suffixes: str):
    """Files with the given suffixes, outside dot-dirs and perfbench/."""
    for dirpath, dirnames, filenames in os.walk(ROOT):
        dirnames[:] = [d for d in dirnames if d != "perfbench" and not d.startswith(".")]
        for name in filenames:
            if name.endswith(suffixes):
                yield pathlib.Path(dirpath, name)


def test_drop_persisted_rdds_defined_once():
    sites = [
        str(path.relative_to(ROOT))
        for path in _repo_files(".py")
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.FunctionDef) and node.name == "drop_persisted_rdds"
    ]
    assert sites == ["bench.py"]


# Per-round outputs and plan-dump tools that were deleted from the tree;
# they stay readable through `git show <sha>:<path>`, the one allowed
# form of reference.
_DELETED = re.compile(
    r"\b(?:PLANS\.md|gen_plans\.py|capture_plans\.py|plans/r1[45]\b"
    r"|(?:BENCH|CORRECTNESS|PERF|VERIFY|SCALING)_r[\w{}]*\.json"
    r"|bench_clean_r\w*\.json|OPTIMIZATION_r\w*\.md|(?:VERDICT|ADVICE)\.md)"
    r"|DESIGN\.md,? round-\d+"
)
_GIT_SHOW = re.compile(r"git show [0-9a-f]{7,40}:\S+")
_DESIGN_SECTION = re.compile(r'DESIGN\.md`?, "([^"\n]+)"')
# The change log and a change request ("# <KIND> <N> · [tag] title") name
# deleted paths as history, so they are not checked.
_CHANGE_REQUEST = re.compile(r"# \w+ \d+ · \[")


def test_no_reference_to_deleted_paths():
    design = (ROOT / "docs" / "DESIGN.md").read_text()
    headings = set(re.findall(r"^## (.+)$", design, re.M))
    dangling = []
    for path in _repo_files(".py", ".md", ".json"):
        text = path.read_text()
        if path.name == "CHANGES.md" or _CHANGE_REQUEST.match(text):
            continue
        text = _GIT_SHOW.sub("", text)
        for m in [*_DELETED.finditer(text), *_DESIGN_SECTION.finditer(text)]:
            if m.re is _DESIGN_SECTION and m.group(1) in headings:
                continue
            line = text.count("\n", 0, m.start()) + 1
            dangling.append(f"{path.relative_to(ROOT)}:{line} {m.group()}")
    assert dangling == []
