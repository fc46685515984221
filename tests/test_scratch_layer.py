"""Source pins for the one memo and scratch layer (no Spark): outside
``cachemgr`` the package neither picks a temp dir of its own nor keeps
a module-level memo. An AST walk, so a new ``tempfile.mkdtemp`` or a
new module-level ``_CACHE = {}`` fails here with its file and line."""

from __future__ import annotations

import ast
import os

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "mapreduceece563_spark",
)
TEMP_CALLS = {"mkdtemp", "gettempdir"}
# where a temp path may be chosen: (module, top-level function)
TEMP_ALLOWED = {("cachemgr.py", "scratch"), ("session.py", "ship_package")}
# module-level containers that are not memos of a build: the registry
# itself, and the once-per-SparkContext addPyFile of the package zip
# (a release must not re-zip it)
EMPTY_ALLOWED = {("registry.py", "_REGISTRY"), ("session.py", "_SHIPPED")}


def _modules():
    for root, _, files in os.walk(PKG):
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(root, name)
                with open(path, encoding="utf-8") as f:
                    yield os.path.relpath(path, PKG), ast.parse(f.read())


MODULES = dict(_modules())


def _temp_calls(tree: ast.AST, func: str | None = None):
    """(enclosing top-level function, line) of every temp-dir call."""
    for node in ast.iter_child_nodes(tree):
        scope = func
        if func is None and isinstance(
            node, (ast.FunctionDef, ast.AsyncFunctionDef)
        ):
            scope = node.name
        if isinstance(node, ast.Call):
            f = node.func
            name = getattr(f, "attr", getattr(f, "id", None))
            if name in TEMP_CALLS:
                yield scope, node.lineno
        yield from _temp_calls(node, scope)


def _is_empty_container(value: ast.AST | None) -> bool:
    if isinstance(value, ast.Dict):
        return not value.keys
    return (
        isinstance(value, ast.Call)
        and isinstance(value.func, ast.Name)
        and value.func.id in ("set", "dict")
        and not value.args
        and not value.keywords
    )


def _empty_initializers(tree: ast.Module):
    for node in tree.body:
        if isinstance(node, ast.Assign):
            targets, value = node.targets, node.value
        elif isinstance(node, ast.AnnAssign):
            targets, value = [node.target], node.value
        else:
            continue
        if _is_empty_container(value):
            for t in targets:
                if isinstance(t, ast.Name):
                    yield t.id, node.lineno


def test_temp_dirs_are_chosen_only_by_cachemgr():
    assert "cachemgr.py" in MODULES and "session.py" in MODULES
    stray = [
        f"{module}:{line} in {func or '<module>'}"
        for module, tree in MODULES.items()
        for func, line in _temp_calls(tree)
        if (module, func) not in TEMP_ALLOWED
    ]
    assert not stray, f"name written dirs with cachemgr.scratch: {stray}"


def test_no_module_level_memo_outside_cachemgr():
    stray = [
        f"{module}:{line} {name}"
        for module, tree in MODULES.items()
        if module != "cachemgr.py"
        for name, line in _empty_initializers(tree)
        if (module, name) not in EMPTY_ALLOWED
    ]
    assert not stray, f"memoize with cachemgr.per_session: {stray}"
