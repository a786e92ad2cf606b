"""Reachability guard: every top-level function, class, class method
and module constant in the package must be reachable from something that
runs, or be a declared public API.

Pure stdlib ``ast``. Roots are the files a job, query, script or
benchmark starts from (``ROOT_FILES``) plus the package's module-level
statements that are not plain assignments (registries built in loops,
guarded imports). From there, names are followed through the bodies of
defs, methods and constants: one is reached when a reached body reads
its name as a variable, an attribute, or an exact identifier string
constant (``getattr``/registry lookups). Matching is by name alone, so a
collision can only keep a def alive, never flag a live one. Three uses
do not count: import statements (a def that only an ``__init__.py``
re-exports is not reached), an attribute of a name imported from
outside the package (``pq.read_table`` does not reach a package
``read_table``), and mentions in comments, docstrings or tests (a def
that only tests call is a second path nothing runs). Dunder methods and
names are exempt, and so are the methods of a class with a base from
outside the package: the framework calls them.

A def that fails here is either deleted or declared in ``PUBLIC_API``
with the SURVEY row (or other reason) that needs it. A declaration that
names a missing def, or a def that is reachable anyway, fails too.
"""

import ast
import builtins
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
        "html.parser reference tree that parse_html must match: test_dom, "
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


class _Imports:
    """What a file's import statements bind: ``foreign`` names point at a
    module (or a member of one) outside ``package``; ``aliases`` maps an
    ``as`` name of a package import to the name it imports."""

    def __init__(self, tree: ast.AST, package: str) -> None:
        self.foreign: set[str] = set()
        self.aliases: dict[str, str] = {}
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                for alias in node.names:
                    if alias.name.split(".")[0] != package:
                        self.foreign.add(alias.asname or alias.name.split(".")[0])
            elif isinstance(node, ast.ImportFrom):
                ours = node.level > 0 or (node.module or "").split(".")[0] == package
                for alias in node.names:
                    if not ours:
                        self.foreign.add(alias.asname or alias.name)
                    elif alias.asname:
                        self.aliases[alias.asname] = alias.name


_NO_IMPORTS = _Imports(ast.parse(""), "")


def _base_name(node: ast.AST):
    while isinstance(node, ast.Attribute):
        node = node.value
    return node.id if isinstance(node, ast.Name) else None


def _names_used(tree: ast.AST, imports: _Imports = _NO_IMPORTS) -> set[str]:
    """Names ``tree`` reads: loaded variables (an import alias counts as
    the name it imports), attributes (except those hanging off a foreign
    import, like ``pq.read_table``) and identifier string constants."""
    used: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            if isinstance(node.ctx, ast.Load):
                used.add(imports.aliases.get(node.id, node.id))
        elif isinstance(node, ast.Attribute):
            if isinstance(node.ctx, ast.Load) and _base_name(node) not in imports.foreign:
                used.add(node.attr)
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            if node.value.isidentifier():
                used.add(node.value)
    return used


_FUNC_KINDS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _is_dunder(name: str) -> bool:
    return name.startswith("__") and name.endswith("__")


def _checked_methods(node: ast.ClassDef, foreign: set[str]) -> list:
    """Methods of a package class that must be reached by name. Dunders
    are exempt, and so is every method of a class with a base from
    outside the package: the framework calls those (the
    ``HTMLParser.handle_*`` callbacks)."""
    for base in node.bases:
        name = _base_name(base)
        if name in foreign or (name in dir(builtins) and name != "object"):
            return []
    return [
        item for item in node.body
        if isinstance(item, _FUNC_KINDS) and not _is_dunder(item.name)
    ]


def _constant_names(node: ast.stmt) -> list[str]:
    """Non-dunder names a module-level assignment binds."""
    if isinstance(node, ast.Assign):
        targets = node.targets
    elif isinstance(node, ast.AnnAssign) and node.value is not None:
        targets = [node.target]
    else:
        return []
    names = []
    for target in targets:
        elts = target.elts if isinstance(target, ast.Tuple) else [target]
        if not all(isinstance(e, ast.Name) for e in elts):
            return []
        names += [e.id for e in elts if not _is_dunder(e.id)]
    return names


def _scan(package_dir: str, root_paths: list[str]):
    """(units, root_names). ``units`` maps "module::name" (methods as
    "module::Class.method") to the names its code uses, its own name
    excluded so recursion is no use; ``root_names`` is every name the
    roots and the package's other module-level statements use."""
    package = os.path.basename(package_dir)
    repo = os.path.dirname(package_dir)
    units: dict[str, set[str]] = {}
    roots: set[str] = set()
    for path in sorted(_py_files(package_dir)):
        rel = os.path.relpath(path, repo)
        tree = _parse(path)
        imports = _Imports(tree, package)
        for node in tree.body:
            if isinstance(node, _FUNC_KINDS):
                units[f"{rel}::{node.name}"] = _names_used(node, imports) - {node.name}
            elif isinstance(node, ast.ClassDef):
                methods = _checked_methods(node, imports.foreign)
                for fn in methods:
                    key = f"{rel}::{node.name}.{fn.name}"
                    units.setdefault(key, set()).update(
                        _names_used(fn, imports) - {fn.name}
                    )
                rest = [item for item in node.body if item not in methods]
                body = set().union(*(_names_used(n, imports) for n in rest))
                for n in node.bases + node.keywords + node.decorator_list:
                    body |= _names_used(n, imports)
                units[f"{rel}::{node.name}"] = body - {node.name}
            elif _constant_names(node):
                used = _names_used(node.value, imports)
                for name in _constant_names(node):
                    units[f"{rel}::{name}"] = used - {name}
            else:
                roots |= _names_used(node, imports)
    for entry in root_paths:
        for path in _py_files(entry):
            tree = _parse(path)
            roots |= _names_used(tree, _Imports(tree, package))
    return units, roots


def _unit_name(key: str) -> str:
    return key.rsplit("::", 1)[1].rsplit(".", 1)[-1]


def _reach(units: dict[str, set[str]], seed: set[str]) -> set[str]:
    by_name: dict[str, list[str]] = {}
    for key in units:
        by_name.setdefault(_unit_name(key), []).append(key)
    reached: set[str] = set()
    todo = list(seed)
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        for key in by_name.get(name, ()):
            todo.extend(units[key] - reached)
    return reached


def _audit(package_dir: str, root_paths: list[str], public_api: dict):
    """(unreachable, stale) keys: units nothing reaches that are not
    declared, and declarations that are gone or reached anyway."""
    units, roots = _scan(package_dir, root_paths)
    declared = set().union(*(units.get(k, set()) for k in public_api))
    reached = _reach(units, roots | declared)
    unreachable = sorted(
        key for key in units
        if _unit_name(key) not in reached and key not in public_api
    )
    stale = sorted(
        key for key in public_api
        if key not in units or _unit_name(key) in reached
    )
    return unreachable, stale


def test_every_package_def_is_reachable_or_declared():
    unreachable, stale = _audit(
        PACKAGE, [os.path.join(REPO, entry) for entry in ROOT_FILES], PUBLIC_API
    )
    assert unreachable == [], (
        "package defs, methods and constants no job, query, script or "
        "benchmark reaches (delete them, or declare them in PUBLIC_API "
        "with a reason):\n" + "\n".join(unreachable)
    )
    assert stale == [], (
        "PUBLIC_API entries that are gone or reachable anyway:\n" + "\n".join(stale)
    )


def test_import_statements_are_not_uses():
    # a re-export in an __init__.py must not keep a def alive
    assert _names_used(ast.parse("from m import f\nimport g.h as k\n")) == set()


def _plant(tmp_path, package_src: str, root_src: str):
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "mod.py").write_text(package_src)
    root = tmp_path / "job.py"
    root.write_text(root_src)
    return _audit(str(pkg), [str(root)], {})


def test_foreign_module_attributes_are_not_uses(tmp_path):
    # pq.read_table must not keep the package's own read_table alive
    package_src = "def read_table():\n    pass\n"
    unreachable, _ = _plant(
        tmp_path, package_src,
        "import pyarrow.parquet as pq\npq.read_table('x')\n"
        "import pyarrow\npyarrow.parquet.read_table('x')\n",
    )
    assert unreachable == ["pkg/mod.py::read_table"]
    control = tmp_path / "control"
    control.mkdir()
    unreachable, _ = _plant(
        control, package_src, "from pkg import mod\nmod.read_table()\n"
    )
    assert unreachable == []


def test_class_methods_are_checked(tmp_path):
    unreachable, _ = _plant(
        tmp_path,
        "from html.parser import HTMLParser\n"
        "class Node:\n"
        "    def __init__(self):\n"
        "        self.used()\n"
        "    def used(self):\n"
        "        pass\n"
        "    def text_spans(self):\n"
        "        pass\n"
        "class Builder(HTMLParser):\n"
        "    def handle_data(self, data):\n"
        "        pass\n",
        "from pkg.mod import Node, Builder\nNode()\nBuilder()\n",
    )
    assert unreachable == ["pkg/mod.py::Node.text_spans"]


def test_module_constants_are_checked(tmp_path):
    unreachable, _ = _plant(
        tmp_path,
        "import re\n"
        "__version__ = '1'\n"
        "_WS_RE = re.compile('x')\n"
        "_USED = 1\n"
        "def f():\n"
        "    return _USED\n",
        "from pkg.mod import f\nf()\n",
    )
    assert unreachable == ["pkg/mod.py::_WS_RE"]
