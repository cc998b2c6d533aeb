"""The scripts kept in ``tools/`` (``selfcheck``, ``dump_plans``,
``shuffle_audit``) still compile, and every ``spark_skew_join_spark``
name they import or read off an imported module (``q.QUERIES``)
exists — a package deletion must not silently break them. Each puts its
own checkout, not a fixed directory, on ``sys.path``."""

from __future__ import annotations

import ast
import importlib
import pathlib
import types

import pytest

TOOLS = sorted((pathlib.Path(__file__).resolve().parents[1] / "tools").glob("*.py"))
PKG = "spark_skew_join_spark"


def _resolve(module: str, name: str):
    """``from module import name``: a submodule or a module attribute."""
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return getattr(mod, name)
    return importlib.import_module(f"{module}.{name}")


@pytest.mark.parametrize("path", TOOLS, ids=lambda p: p.name)
def test_tool_compiles_and_resolves_package_names(path):
    src = path.read_text()
    tree = compile(src, str(path), "exec", ast.PyCF_ONLY_AST)
    compile(tree, str(path), "exec")
    modules = {}  # local alias -> imported package module
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").split(".")[0] == PKG:
            for a in node.names:
                obj = _resolve(node.module, a.name)
                if isinstance(obj, types.ModuleType):
                    modules[a.asname or a.name] = obj
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] == PKG:
                    mod = importlib.import_module(a.name)
                    if a.asname:
                        modules[a.asname] = mod
    missing = [
        f"{node.value.id}.{node.attr}"
        for node in ast.walk(tree)
        if isinstance(node, ast.Attribute)
        and isinstance(node.value, ast.Name)
        and node.value.id in modules
        and not hasattr(modules[node.value.id], node.attr)
    ]
    assert not missing, missing
    # the repo root goes on sys.path derived from ``__file__``: a fixed
    # directory would import whatever package lives there, so a copy of
    # the repo would check other code than its own
    fixed = [
        ast.unparse(node)
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and ast.unparse(node.func) in ("sys.path.insert", "sys.path.append")
        and any(isinstance(a, ast.Constant) and isinstance(a.value, str) for a in node.args)
    ]
    assert not fixed, fixed

