"""Dead-code guard: every top-level function and class of the library is
referenced somewhere in the repository's code."""

from __future__ import annotations

import ast
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCANNED_DIRS = ("xlink_spark", "jobs", "tools", "tests", "perfbench")
# perfbench names its trace points as "package.module:function" strings
TARGET = re.compile(r"^[\w.]+:(\w+)$")


def _scanned_files():
    for top in SCANNED_DIRS:
        for dirpath, _dirs, files in os.walk(os.path.join(ROOT, top)):
            for fn in sorted(files):
                if fn.endswith(".py"):
                    yield os.path.join(dirpath, fn)
    for fn in sorted(os.listdir(ROOT)):
        if fn.endswith(".py") and (fn.startswith("bench") or fn == "__spark_entry__.py"):
            yield os.path.join(ROOT, fn)


def _referenced_name(node, in_perfbench: bool) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    if isinstance(node, ast.alias):
        return node.name.rsplit(".", 1)[-1]
    if in_perfbench and isinstance(node, ast.Constant) and isinstance(node.value, str):
        m = TARGET.match(node.value)
        return m.group(1) if m else None
    return None


def test_every_library_function_and_class_is_referenced():
    """A top-level def or class in xlink_spark/ needs at least one Name,
    Attribute or import reference outside its own body; a function that only
    calls itself is still dead."""
    defs = []
    refs: dict[str, list[tuple[str, int]]] = {}
    for path in _scanned_files():
        rel = os.path.relpath(path, ROOT)
        with open(path) as f:
            tree = ast.parse(f.read())
        if rel.startswith("xlink_spark" + os.sep):
            defs += [
                (rel, node)
                for node in tree.body
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
            ]
        in_perfbench = rel.startswith("perfbench" + os.sep)
        for node in ast.walk(tree):
            name = _referenced_name(node, in_perfbench)
            if name:
                refs.setdefault(name, []).append((rel, getattr(node, "lineno", 0)))
    unreferenced = [
        f"{rel}:{node.lineno} {node.name}"
        for rel, node in defs
        if not any(
            not (where == rel and node.lineno <= line <= node.end_lineno)
            for where, line in refs.get(node.name, [])
        )
    ]
    assert len(defs) > 500
    assert unreferenced == []
