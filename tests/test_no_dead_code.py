"""Dead-code lint: every top-level function and class of the package
must have a caller. A definition counts as used when its name appears
as a name, attribute, imported name or exact string constant anywhere
in the package, the tests, ``scripts/``, ``bench.py``,
``__spark_entry__.py`` or ``perfbench/`` — outside the definition
itself. Registry query functions (``@register``) are reached through
the registry, and dunders through Python, so neither is checked."""

from __future__ import annotations

import ast
import os
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "mql5_economic_news_data_pipeline_2025_gcp__spark")
SEARCH = [PACKAGE, "tests", "scripts", "perfbench", "bench.py", "__spark_entry__.py"]


def _py_files(entry: str) -> list[str]:
    path = os.path.join(ROOT, entry)
    if os.path.isfile(path):
        return [path]
    out = []
    for dirpath, dirnames, files in os.walk(path):
        dirnames[:] = [d for d in dirnames if d != "__pycache__"]
        out += [os.path.join(dirpath, f) for f in files if f.endswith(".py")]
    return sorted(out)


def _references(node: ast.AST) -> Counter:
    refs: Counter = Counter()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            refs[n.id] += 1
        elif isinstance(n, ast.Attribute):
            refs[n.attr] += 1
        elif isinstance(n, ast.alias):
            refs[n.name.rsplit(".", 1)[-1]] += 1
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            refs[n.value] += 1
    return refs


def _is_query(node: ast.AST) -> bool:
    for d in getattr(node, "decorator_list", []):
        f = d.func if isinstance(d, ast.Call) else d
        if getattr(f, "id", None) == "register" or getattr(f, "attr", None) == "register":
            return True
    return False


def test_every_package_definition_has_a_caller():
    trees = {p: ast.parse(open(p).read(), p) for e in SEARCH for p in _py_files(e)}
    refs: Counter = sum((_references(t) for t in trees.values()), Counter())
    dead = []
    for path, tree in trees.items():
        if not path.startswith(PACKAGE + os.sep):
            continue
        for node in tree.body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            name = node.name
            if (name.startswith("__") and name.endswith("__")) or _is_query(node):
                continue
            if refs[name] - _references(node)[name] <= 0:
                dead.append(f"{os.path.relpath(path, ROOT)}:{node.lineno} {name}")
    assert not dead, "definitions with no caller:\n" + "\n".join(dead)
