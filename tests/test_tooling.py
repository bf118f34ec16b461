"""Scripts and examples stay runnable: each one compiles, every
``es_indexer_spark`` module or name it imports exists, and
``scripts/scaling_run.py`` parses its arguments; the Spark daemon module
imports without writing to stdout; the query kernel, the term-dictionary
read, the term-dictionary write and the DSL tree walk each have one
home; query result schemas are StructTypes."""

from __future__ import annotations

import ast
import importlib
import importlib.util
import pathlib
import py_compile
import re
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
    """Grep and AST guard: the scoring kernels and ``TermView`` and
    ``TermChunks`` construction live only in ``query/scoring.py``, which
    both executors call, and the package builds no cogroup (segment
    tasks read their own postings) — a second copy of an operator's
    scoring logic breaks this.
    Besides the empty value, one function there cuts a term's chunk rows,
    for the resident buckets, the per-term cache and the Spark tasks."""
    pkg = REPO / "es_indexer_spark"
    kernel = pkg / "query" / "scoring.py"
    names = ("phrase_docs", "_score_gathered", "exhaustive_topk", "blockmax_topk",
             "TermView(", "TermChunks(")
    cogroups = 0
    for path in sorted(pkg.rglob("*.py")):
        src = path.read_text()
        cogroups += src.count(".cogroup(")
        if path != kernel:
            found = [n for n in names if n in src]
            assert not found, (str(path.relative_to(REPO)), found)
    assert cogroups == 0
    builders = {
        fn.name
        for fn in ast.walk(ast.parse(kernel.read_text(), str(kernel)))
        if isinstance(fn, ast.FunctionDef)
        for node in ast.walk(fn)
        if isinstance(node, ast.Call) and getattr(node.func, "id", None) == "TermChunks"
    }
    assert len(builders - {"_empty_chunks"}) == 1, builders


def test_no_doc_side_pack():
    """Grep guard: the distributed executor's segment tasks read their own
    postings and norms, so the packed and persisted doc side, its snapshot
    token and schema, and the Spark postings source it was cogrouped with
    stay gone from the package, the entry module and the tests (this
    guard excepted)."""
    this = pathlib.Path(__file__).resolve()
    gone = re.compile(r"_doc_side|_postings_df|_postings_src|_snapshot_token|_DOC_SIDE")
    paths = [*sorted((REPO / "es_indexer_spark").rglob("*.py")),
             REPO / "__spark_entry__.py", *sorted((REPO / "tests").rglob("*.py"))]
    found = [
        (str(p.relative_to(REPO)), m.group(0))
        for p in paths if p.resolve() != this
        for m in gone.finditer(p.read_text())
    ]
    assert not found, found


def test_one_term_dictionary_read():
    """Grep guard: both executors expand terms over one dictionary read
    (``IndexSearcher._dictionary_slices``). The Spark-side expansion
    copies, their term_stats DataFrame, its tlen filter and the JVM edit
    distance stay gone from the package, the entry module and the tests
    (this guard excepted), and the package computes edit distance at one
    call site."""
    this = pathlib.Path(__file__).resolve()
    gone = re.compile(
        r"expand_(prefix|fuzzy|wildcard|regexp)_df|_term_stats_sdf|_tlen_prune|F\.levenshtein"
    )
    pkg = sorted((REPO / "es_indexer_spark").rglob("*.py"))
    paths = [*pkg, REPO / "__spark_entry__.py", *sorted((REPO / "tests").rglob("*.py"))]
    found = [
        (str(p.relative_to(REPO)), m.group(0))
        for p in paths if p.resolve() != this
        for m in gone.finditer(p.read_text())
    ]
    assert not found, found
    calls = sum(
        len(re.findall(r"(?<!def )levenshtein_within\(", p.read_text())) for p in pkg
    )
    assert calls == 1


def _functions(path: pathlib.Path):
    """(name, source) of every module-level function and method."""
    text = path.read_text()
    for node in ast.parse(text, str(path)).body:
        defs = node.body if isinstance(node, ast.ClassDef) else [node]
        for d in defs:
            if isinstance(d, ast.FunctionDef):
                yield d.name, ast.get_source_segment(text, d)


def test_one_dictionary_writer():
    """Grep and AST guard: every batch writes its own term dictionary
    through one function, ``index.build.write_term_stats``, and build,
    append and merge all call it. The removed global-dictionary writers,
    their snapshot-expiry horizon, the dictionary's dropped column and
    the JSON tombstone store stay gone from the package, the entry
    module and the tests (this guard excepted)."""
    this = pathlib.Path(__file__).resolve()
    gone = re.compile(
        r"term_stats_dir|term_stats_b|term_stats_path|SnapshotExpiredError"
        r"|_update_term_stats|_rebuild_term_stats|n_chunks|mask_tombstones"
        r"|tombstones\.json"
    )
    pkg = sorted((REPO / "es_indexer_spark").rglob("*.py"))
    paths = [*pkg, REPO / "__spark_entry__.py", *sorted((REPO / "tests").rglob("*.py"))]
    found = [
        (str(p.relative_to(REPO)), m.group(0))
        for p in paths if p.resolve() != this
        for m in gone.finditer(p.read_text())
    ]
    assert not found, found
    # the dictionary layout is term_stats/batch=<bid>/tlen=<K>: a function
    # writing tlen partitions writes a dictionary
    funcs = [(p.relative_to(REPO).as_posix(), n, src) for p in pkg for n, src in _functions(p)]
    writers = [(p, n) for p, n, src in funcs
               if re.search(r'partitionBy\("tlen"\)|tlen=\{', src)]
    assert writers == [("es_indexer_spark/index/build.py", "write_term_stats")]
    callers = {n for _, n, src in funcs if re.search(r"(?<!def )write_term_stats\(", src)}
    assert callers == {"build_index", "append_batch", "merge_segments"}


def test_one_dsl_evaluator():
    """Grep and AST guard: the DSL has one tree walk, run by both
    executors. The distributed evaluator's helpers and the uncalled
    ``IndexSearcher.scores_df`` stay gone from the package, the entry
    module and the tests (this guard excepted), and ``query/dsl.py``
    compares no string with a supported query type name, so a query
    type is dispatched only through its ``_q_<kind>`` method.
    Aggregation types are a separate namespace (``terms`` is in both), so
    the aggregation methods are not checked."""
    from es_indexer_spark.query.dsl import DslSearcher

    this = pathlib.Path(__file__).resolve()
    gone = re.compile(r"_eval_df|_bool_df|_meta_vec_df|_scores_or_zero|scores_df")
    paths = [*sorted((REPO / "es_indexer_spark").rglob("*.py")),
             REPO / "__spark_entry__.py", *sorted((REPO / "tests").rglob("*.py"))]
    found = [
        (str(p.relative_to(REPO)), m.group(0))
        for p in paths if p.resolve() != this
        for m in gone.finditer(p.read_text())
    ]
    assert not found, found

    kinds = {n[len("_q_"):] for n in dir(DslSearcher) if n.startswith("_q_")}
    assert {"bool", "match", "match_all", "multi_match", "terms"} <= kinds
    path = REPO / "es_indexer_spark" / "query" / "dsl.py"
    compares = [
        (fn.name, node.lineno, c.value)
        for fn in ast.walk(ast.parse(path.read_text(), str(path)))
        if isinstance(fn, ast.FunctionDef) and not re.search("agg|bucket|metric", fn.name)
        for node in ast.walk(fn) if isinstance(node, ast.Compare)
        for c in ast.walk(node) if isinstance(c, ast.Constant) and c.value in kinds
    ]
    assert not compares, compares


def _literal_schemas(path: pathlib.Path):
    """(line, method) of each ``applyInPandas`` / ``createDataFrame`` call
    that passes a string literal as its schema."""
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("applyInPandas", "createDataFrame")):
            continue
        schema = node.args[1:2] + [k.value for k in node.keywords if k.arg == "schema"]
        if any(isinstance(a, ast.JoinedStr)
               or (isinstance(a, ast.Constant) and isinstance(a.value, str))
               for a in schema):
            yield node.lineno, node.func.attr


def test_query_schemas_are_structtypes():
    """The query path passes Spark schemas as module-level StructTypes:
    a DDL string costs a parse (~6 ms, a JVM round trip) on every call,
    and an empty frame built from DDL ~49 ms."""
    found = [
        (path.name, *hit)
        for path in sorted((REPO / "es_indexer_spark" / "query").glob("*.py"))
        for hit in _literal_schemas(path)
    ]
    assert not found, found
