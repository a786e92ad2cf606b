"""Dead-code guard: every top-level function or class in the package
must be named somewhere other than its own definition.

Pure stdlib ``ast``: a name counts as used when any ``.py`` file of the
repository (package, tests, scripts, jobs, benchmark harnesses) refers
to it as a variable, an attribute, an imported name, or an exact string
constant (``getattr``/registry lookups). Mentions in comments and
docstrings do not count — a def that only prose still talks about is
dead. A def that fails here is either deleted or given a caller.
"""

import ast
import os
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(REPO, "readability_scanner_spark")


def _py_files(root: str):
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


def _names_used(tree: ast.Module) -> Counter:
    used: Counter = Counter()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            used[node.id] += 1
        elif isinstance(node, ast.Attribute):
            used[node.attr] += 1
        elif isinstance(node, ast.alias):
            used[node.name.rsplit(".", 1)[-1]] += 1
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            if node.value.isidentifier():
                used[node.value] += 1
    return used


def _top_level_defs(tree: ast.Module) -> list[str]:
    kinds = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
    return [node.name for node in tree.body if isinstance(node, kinds)]


def test_every_package_def_is_referenced():
    used: Counter = Counter()
    for path in _py_files(REPO):
        used += _names_used(_parse(path))
    dead = [
        f"{os.path.relpath(path, REPO)}::{name}"
        for path in sorted(_py_files(PACKAGE))
        for name in _top_level_defs(_parse(path))
        if used[name] == 0
    ]
    assert dead == [], "top-level defs named nowhere but their definition:\n" + "\n".join(dead)
