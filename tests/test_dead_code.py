"""Dead-code guard: every top-level function and class of the library is
reached from a product root, and no module of the library, its tests, jobs
or tools imports a name it never uses."""

from __future__ import annotations

import ast
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LIBRARY = "xlink_spark"
# whole files under these dirs are roots (perfbench's test_*.py are tests)
ROOT_DIRS = ("jobs", "tools", "perfbench")
# perfbench names its trace points as "package.module:function" strings
TARGET = re.compile(r"^[\w.]+:(\w+)$")
DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)

# Defs that only tests reach. The list may only shrink: the guard fails when
# a listed def becomes reached (move it off the list) or disappears.
TEST_ONLY = {
    # parity references, kept on purpose
    "xlink_spark/fixtures/generate.py:to_spark",
    "xlink_spark/operators/scoring.py:seed_pool",
}


def _py_files(top: str):
    for dirpath, _dirs, files in os.walk(os.path.join(ROOT, top)):
        for fn in sorted(files):
            if fn.endswith(".py"):
                yield os.path.join(dirpath, fn)


def _parse(path: str) -> ast.Module:
    with open(path) as f:
        return ast.parse(f.read())


def _names(node: ast.AST, in_perfbench: bool = False) -> set[str]:
    """Every name a subtree mentions: Name, Attribute, import alias and, in
    perfbench, "module:function" trace targets. Matching is by name only,
    so the scan can overstate reach, never understate it."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
        elif in_perfbench and isinstance(n, ast.Constant) and isinstance(n.value, str):
            m = TARGET.match(n.value)
            if m:
                out.add(m.group(1))
    return out


def _library_defs_and_roots():
    """(name → [(relpath, def node)], names the product roots mention).

    Roots: the module-level code of the library (everything but its
    top-level defs), every file of jobs/, tools/ and non-test perfbench/,
    and the repository's root *.py files."""
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    roots: set[str] = set()
    for path in _py_files(LIBRARY):
        rel = os.path.relpath(path, ROOT)
        for node in _parse(path).body:
            if isinstance(node, DEFS):
                defs.setdefault(node.name, []).append((rel, node))
            else:
                roots |= _names(node)
    for top in ROOT_DIRS:
        for path in _py_files(top):
            if not os.path.basename(path).startswith("test_"):
                roots |= _names(_parse(path), in_perfbench=top == "perfbench")
    for fn in sorted(os.listdir(ROOT)):
        if fn.endswith(".py"):
            roots |= _names(_parse(os.path.join(ROOT, fn)))
    return defs, roots


def test_every_library_def_is_reached_from_a_product_root():
    """A top-level def or class in xlink_spark/ is reached when a root or a
    reached def's body names it; a function that only calls itself, or that
    only tests call, is dead. TEST_ONLY names the exceptions."""
    defs, roots = _library_defs_and_roots()
    reached: set[str] = set()
    todo = [n for n in roots if n in defs]
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        for _rel, node in defs[name]:
            todo += [n for n in _names(node) if n in defs and n not in reached]
    unreached = {
        f"{rel}:{node.name}"
        for name, found in defs.items()
        if name not in reached
        for rel, node in found
    }
    all_defs = {f"{rel}:{node.name}" for found in defs.values() for rel, node in found}
    assert len(all_defs) > 450  # the scan saw the library
    assert sorted(unreached - TEST_ONLY) == [], "reached only from tests, or not at all"
    assert sorted(TEST_ONLY - all_defs) == [], "gone: drop from TEST_ONLY"
    assert sorted(TEST_ONLY - unreached) == [], "now reached: drop from TEST_ONLY"


def test_no_unused_module_imports_in_library():
    """Every name a module of the library, tests/, jobs/ or tools/ imports at
    module level is used in that module, or re-exported through
    ``__all__``."""
    unused = []
    paths = [p for top in (LIBRARY, "tests", "jobs", "tools") for p in _py_files(top)]
    for path in paths:
        tree = _parse(path)
        used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        for node in tree.body:
            if isinstance(node, ast.Assign) and any(
                isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
            ):
                used |= set(ast.literal_eval(node.value))
        for node in tree.body:
            if not isinstance(node, (ast.Import, ast.ImportFrom)):
                continue
            if isinstance(node, ast.ImportFrom) and node.module == "__future__":
                continue
            for alias in node.names:
                bound = alias.asname or alias.name.split(".")[0]
                if bound not in used:
                    unused.append(f"{os.path.relpath(path, ROOT)}:{node.lineno} {bound}")
    assert unused == []
