"""The lake table owns its commit protocol: a static scan (``ast``, no
Spark) of the package for code outside ``lake/table.py`` that names the
manifest layout or handles a lost commit race."""

from __future__ import annotations

import ast
import os

import cassandra_data_migrator_spark as pkg

PKG_DIR = os.path.dirname(os.path.abspath(pkg.__file__))
OWNER = os.path.join("lake", "table.py")
LAYOUT_STRINGS = ("_manifests", "LATEST")


def _docstrings(tree: ast.AST) -> set[int]:
    """ids of the docstring constants (prose may mention the layout)."""
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                             ast.AsyncFunctionDef)) and node.body:
            first = node.body[0]
            if (isinstance(first, ast.Expr)
                    and isinstance(first.value, ast.Constant)):
                out.add(id(first.value))
    return out


def _name(node: ast.AST | None) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    return None


def _violations(rel: str, src: str) -> list[str]:
    tree = ast.parse(src)
    docs = _docstrings(tree)
    out = []
    for node in ast.walk(tree):
        where = f"{rel}:{getattr(node, 'lineno', '?')}"
        if (isinstance(node, ast.Constant) and isinstance(node.value, str)
                and id(node) not in docs
                and any(s in node.value for s in LAYOUT_STRINGS)):
            out.append(f"{where} names the manifest layout "
                       f"{node.value!r}")
        elif isinstance(node, ast.ExceptHandler) and node.type is not None:
            types = (node.type.elts if isinstance(node.type, ast.Tuple)
                     else [node.type])
            if any(_name(t) == "CommitConflict" for t in types):
                out.append(f"{where} catches CommitConflict")
    return out


def _package_sources():
    for root, _dirs, files in os.walk(PKG_DIR):
        for fn in sorted(files):
            if fn.endswith(".py"):
                path = os.path.join(root, fn)
                with open(path) as f:
                    yield os.path.relpath(path, PKG_DIR), f.read()


def test_only_the_table_module_owns_the_commit_protocol():
    found = [v for rel, src in _package_sources() if rel != OWNER
             for v in _violations(rel, src)]
    assert found == []


def test_the_scan_sees_each_kind_of_violation():
    """The scan itself flags what it is meant to flag (a scan that
    matches nothing would pass the test above vacuously)."""
    src = '''
"""Docstrings may say _manifests/LATEST."""
import os
p = os.path.join(d, "_manifests", "LATEST")
try:
    t.merge_batch(df)
except (ValueError, CommitConflict):
    t.refresh()
'''
    assert sorted(v.split(" ", 1)[1] for v in _violations("m.py", src)) \
        == ["catches CommitConflict",
            "names the manifest layout 'LATEST'",
            "names the manifest layout '_manifests'"]
