"""Reachability guard: every top-level function or class in the package
must be reachable from something that runs, or be a declared public API.

Pure stdlib ``ast``. Roots are the files a job, query, script or
benchmark starts from (``ROOT_FILES``) plus the module-level statements
of every package module (constants, registries). From there, names are
followed through top-level def bodies: a def is reached when a reached
body refers to its name as a variable, an attribute, or an exact
identifier string constant (``getattr``/registry lookups). Matching is
by name alone, so a collision can only keep a def alive, never flag a
live one. Import statements do not count — a def that only an
``__init__.py`` re-exports is not reached — and neither do mentions in
comments and docstrings, or tests: a def that only tests call is a
second path nothing runs.

A def that fails here is either deleted or declared in ``PUBLIC_API``
with the SURVEY row (or other reason) that needs it. A declaration that
names a missing def, or a def that is reachable anyway, fails too.
"""

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(REPO, "readability_scanner_spark")
ROOT_FILES = [
    "__spark_entry__.py",
    "bench.py",
    "bench_extra.py",
    "jobs",
    "scripts",
    "perfbench",
]

# "module::name" (module path relative to the repo) -> why it stays with
# no caller inside the repository
PUBLIC_API = {
    "readability_scanner_spark/api.py::scan_document":
        "SURVEY GET /scan: one-document extract + stats + scores",
    "readability_scanner_spark/catalog.py::merge_upsert":
        "SURVEY S4 upsert sink (Iceberg MERGE INTO / parquet swap)",
    "readability_scanner_spark/catalog.py::delete_rows":
        "SURVEY M4 delete sink (Iceberg DELETE FROM / parquet swap)",
    "readability_scanner_spark/operators/io_ops.py::set_columns_where":
        "SURVEY M1 $set field update",
    "readability_scanner_spark/operators/io_ops.py::migrate_legacy_columns":
        "SURVEY M2 legacy field migration",
    "readability_scanner_spark/operators/io_ops.py::export_csv":
        "SURVEY S6 /export CSV",
    "readability_scanner_spark/operators/io_ops.py::export_ml_dataset":
        "SURVEY S7 ML dataset sink",
    "readability_scanner_spark/operators/io_ops.py::compact_pipeline_output":
        "small-files maintenance of run_pipeline's bucket=K layout",
    "readability_scanner_spark/operators/reports.py::daily_report_windows":
        "SURVEY §3.2 /daily read path: per-day trend",
    "readability_scanner_spark/operators/reports.py::compat_view":
        "COVERAGE legacy field-name compat ('Flesch Kincaid', ...)",
    "readability_scanner_spark/operators/analytics.py::merge_precedence_join":
        "SURVEY JN1 exact $mergeObjects precedence",
    "readability_scanner_spark/operators/statusflow.py::requeue_stale":
        "COVERAGE summary-status lifecycle: requeue stale processing rows",
    "readability_scanner_spark/plans/curate.py::read_curated":
        "read path of jobs/curate.py's output",
    "readability_scanner_spark/plans/curate.py::read_packed":
        "read path of jobs/curate.py's packed bins",
    "readability_scanner_spark/plans/curate.py::read_windows":
        "read path of jobs/curate.py's training windows",
    "readability_scanner_spark/operators/layout.py::zorder_key_sql":
        "COVERAGE Z-order clustering: DuckDB spelling of the key",
    "readability_scanner_spark/operators/layout.py::write_zordered":
        "COVERAGE Z-order clustering + file skipping",
    "readability_scanner_spark/operators/layout.py::file_stats_manifest":
        "COVERAGE Z-order clustering + file skipping",
    "readability_scanner_spark/operators/layout.py::prune_files":
        "COVERAGE Z-order clustering + file skipping",
    "readability_scanner_spark/operators/multimodal.py::png_pixel_stats":
        "COVERAGE multimodal binary columns: PNG pixel stats",
    "readability_scanner_spark/operators/multimodal.py::resize_image":
        "COVERAGE image resize / thumbnail normalization",
    "readability_scanner_spark/operators/multimodal.py::resize_images":
        "COVERAGE image resize / thumbnail normalization",
    "readability_scanner_spark/operators/multimodal.py::resample_audio":
        "COVERAGE audio resample / rate normalization",
    "readability_scanner_spark/operators/multimodal.py::sample_frames":
        "COVERAGE multimodal binary columns: video frame schedule",
    "readability_scanner_spark/operators/mp4.py::make_mp4":
        "writer of the minimal MP4 container the multimodal path parses",
    "readability_scanner_spark/extraction/links.py::extract_article_url":
        "SURVEY E3 Reddit article-URL extraction",
    "readability_scanner_spark/extraction/links.py::reddit_link_col":
        "SURVEY E3 Reddit article-URL extraction, JVM form",
    "readability_scanner_spark/functions/columns.py::clean_html_col":
        "SURVEY E2 cleaning as a pure-SQL Column",
    # pure-Python references the JVM/SQL forms are checked against
    "readability_scanner_spark/extraction/cleaning.py::make_preview":
        "Python reference of columns.preview_col: test_column_python_parity, "
        "test_readability::test_preview_word_boundary, test_properties",
    "readability_scanner_spark/functions/textstats.py::count_words":
        "Python reference of the T3 word count: test_column_python_parity, "
        "test_word_unicode",
    "readability_scanner_spark/dom.py::parse_html_stdlib":
        "html.parser reference tree that fast_parse must match: test_dom, "
        "test_properties",
}


def _py_files(root: str):
    if root.endswith(".py"):
        yield root
        return
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [
            d for d in dirnames if not d.startswith(".") and d != "__pycache__"
        ]
        for name in filenames:
            if name.endswith(".py"):
                yield os.path.join(dirpath, name)


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as f:
        return ast.parse(f.read(), filename=path)


def _names_used(tree: ast.AST) -> set[str]:
    used: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            used.add(node.id)
        elif isinstance(node, ast.Attribute):
            used.add(node.attr)
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            if node.value.isidentifier():
                used.add(node.value)
    return used


_DEF_KINDS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _scan():
    """(defs, root_names): ``defs`` maps "module::name" to the names its
    def node uses (its own name excluded, so recursion is no use);
    ``root_names`` is every name the roots use."""
    defs: dict[str, set[str]] = {}
    roots: set[str] = set()
    for path in sorted(_py_files(PACKAGE)):
        rel = os.path.relpath(path, REPO)
        tree = _parse(path)
        for node in tree.body:
            if isinstance(node, _DEF_KINDS):
                defs[f"{rel}::{node.name}"] = _names_used(node) - {node.name}
            else:
                roots |= _names_used(node)
    for entry in ROOT_FILES:
        for path in _py_files(os.path.join(REPO, entry)):
            roots |= _names_used(_parse(path))
    return defs, roots


def _reach(defs: dict[str, set[str]], seed: set[str]) -> set[str]:
    by_name: dict[str, list[str]] = {}
    for key in defs:
        by_name.setdefault(key.rsplit("::", 1)[1], []).append(key)
    reached: set[str] = set()
    todo = list(seed)
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        for key in by_name.get(name, ()):
            todo.extend(defs[key] - reached)
    return reached


def test_every_package_def_is_reachable_or_declared():
    defs, roots = _scan()
    declared_bodies = set().union(*(defs.get(k, set()) for k in PUBLIC_API))
    reached = _reach(defs, roots | declared_bodies)
    unreachable = sorted(
        key for key in defs
        if key.rsplit("::", 1)[1] not in reached and key not in PUBLIC_API
    )
    assert unreachable == [], (
        "top-level package defs no job, query, script or benchmark reaches "
        "(delete them, or declare them in PUBLIC_API with a reason):\n"
        + "\n".join(unreachable)
    )
    stale = sorted(
        key for key in PUBLIC_API
        if key not in defs or key.rsplit("::", 1)[1] in reached
    )
    assert stale == [], (
        "PUBLIC_API entries that are gone or reachable anyway:\n" + "\n".join(stale)
    )


def test_import_statements_are_not_uses():
    # a re-export in an __init__.py must not keep a def alive
    assert _names_used(ast.parse("from m import f\nimport g.h as k\n")) == set()
