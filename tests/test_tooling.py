"""Scripts and examples stay runnable: each one compiles, every
``es_indexer_spark`` module or name it imports exists, and
``scripts/scaling_run.py`` parses its arguments; the Spark daemon module
imports without writing to stdout; the query kernel has one home."""

from __future__ import annotations

import ast
import importlib
import importlib.util
import pathlib
import py_compile
import subprocess
import sys

import pytest

REPO = pathlib.Path(__file__).resolve().parent.parent
FILES = sorted([*REPO.glob("scripts/*.py"), *REPO.glob("examples/*.py")])


def _package_imports(path: pathlib.Path):
    """(module, name or None) for every absolute es_indexer_spark import."""
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            for a in node.names:
                yield a.name, None
        elif isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
            for a in node.names:
                yield node.module, a.name


@pytest.mark.parametrize("path", FILES, ids=lambda p: str(p.relative_to(REPO)))
def test_script_compiles_and_its_package_imports_resolve(path, tmp_path):
    py_compile.compile(str(path), cfile=str(tmp_path / "out.pyc"), doraise=True)
    for module, name in _package_imports(path):
        if module.split(".")[0] != "es_indexer_spark":
            continue
        spec = importlib.util.find_spec(module)
        assert spec is not None, (path.name, module)
        if name is None or (
            spec.submodule_search_locations is not None
            and importlib.util.find_spec(f"{module}.{name}") is not None
        ):
            continue
        assert hasattr(importlib.import_module(module), name), (path.name, module, name)


def test_scaling_run_help_exits_zero():
    out = subprocess.run(
        [sys.executable, str(REPO / "scripts" / "scaling_run.py"), "--help"],
        cwd=REPO, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr


def test_spark_daemon_module_imports_silently():
    # Spark reads the daemon's port from its stdout: importing the module
    # must print nothing there
    out = subprocess.run(
        [sys.executable, "-c", "import es_indexer_spark._sparkdaemon"],
        cwd=REPO, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout == ""


def test_one_query_kernel():
    """Grep guard: the scoring kernels and ``TermView`` construction live
    only in ``query/scoring.py``, which both executors call, and the
    package builds its segment cogroup in one place — a second copy of an
    operator's scoring logic breaks this."""
    pkg = REPO / "es_indexer_spark"
    kernel = pkg / "query" / "scoring.py"
    names = ("phrase_docs", "_score_gathered", "exhaustive_topk", "blockmax_topk", "TermView(")
    cogroups = 0
    for path in sorted(pkg.rglob("*.py")):
        src = path.read_text()
        cogroups += src.count(".cogroup(")
        if path != kernel:
            found = [n for n in names if n in src]
            assert not found, (str(path.relative_to(REPO)), found)
    assert cogroups == 1
