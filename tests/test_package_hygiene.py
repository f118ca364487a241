"""Source hygiene of the package, read from the AST alone (no Spark).

A module-level `def` or `class` under xpshacl_spark/, private (`_name`)
or public, that no .py file in the repository references is dead code:
these tests name it so it is deleted instead of accumulating."""

import ast
import os

ROOT = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))
PKG = os.path.join(ROOT, "xpshacl_spark")


def _py_files(top):
    for dirpath, dirnames, filenames in os.walk(top):
        dirnames[:] = [d for d in dirnames if not d.startswith(".")]
        for fn in filenames:
            if fn.endswith(".py"):
                yield os.path.join(dirpath, fn)


def _references(tree):
    """Every identifier a module reads: names, attributes, imported
    names, and whole string constants (getattr / monkeypatch targets).
    A `def` or `class` statement's own name is none of these."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            yield node.id
        elif isinstance(node, ast.Attribute):
            yield node.attr
        elif isinstance(node, ast.alias):
            yield node.name.rsplit(".", 1)[-1]
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            yield node.value


def _module_defs(tree):
    for node in tree.body:
        if isinstance(
            node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
        ) and not node.name.startswith("__"):
            yield node


def _unreferenced_module_defs(private):
    """`path:line name` of every module-level private (or public) def
    under xpshacl_spark/ that no .py file in the repository reads."""
    trees = {}
    for path in _py_files(ROOT):
        with open(path, encoding="utf-8") as f:
            trees[path] = ast.parse(f.read(), filename=path)
    referenced = set()
    for tree in trees.values():
        referenced.update(_references(tree))
    return [
        f"{os.path.relpath(path, ROOT)}:{node.lineno} {node.name}"
        for path, tree in sorted(trees.items())
        if path.startswith(PKG + os.sep)
        for node in _module_defs(tree)
        if node.name.startswith("_") == private and node.name not in referenced
    ]


def test_every_private_module_helper_is_referenced():
    unreferenced = _unreferenced_module_defs(private=True)
    assert not unreferenced, "private helpers with no reference: " + ", ".join(
        unreferenced
    )


def test_every_public_module_def_is_referenced():
    unreferenced = _unreferenced_module_defs(private=False)
    assert not unreferenced, "public defs with no reference: " + ", ".join(
        unreferenced
    )


def test_create_dataframe_only_in_local_relation():
    """Driver rows become relations only through
    `session.local_relation`, which hands Spark an Arrow table. A row
    list given to `createDataFrame` anywhere else plans as a Python RDD
    whose first action starts Python workers."""
    allowed = os.path.join(PKG, "session.py")
    calls = []
    for path in _py_files(PKG):
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read(), filename=path)
        inside = set()
        if path == allowed:
            for node in tree.body:
                if isinstance(node, ast.FunctionDef) and node.name == "local_relation":
                    inside = {id(n) for n in ast.walk(node)}
        calls.extend(
            f"{os.path.relpath(path, ROOT)}:{node.lineno}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Attribute)
            and node.attr == "createDataFrame"
            and id(node) not in inside
        )
    assert not calls, "createDataFrame outside local_relation: " + ", ".join(
        sorted(calls)
    )
