"""drop_archive_finders: the per-task import-cache cost of reused Python
workers, and a guard that every Python function the engine hands to Spark
calls it first."""

from __future__ import annotations

import ast
import importlib
import pathlib
import sys
import zipfile
import zipimport

import pytest

from belb_spark.functions.pyworker import drop_archive_finders

PKG = pathlib.Path(__file__).resolve().parent.parent / "belb_spark"
# Spark entry points that run a Python function per task; the function is
# the first positional argument or this keyword
UDF_APIS = {
    "pandas_udf": "f",
    "mapInPandas": "func",
    "applyInPandas": "func",
    "applyInPandasWithState": "func",
}


@pytest.fixture
def import_state():
    path, cache = list(sys.path), dict(sys.path_importer_cache)
    mods = set(sys.modules)
    yield
    sys.path[:] = path
    sys.path_importer_cache.clear()
    sys.path_importer_cache.update(cache)
    for m in set(sys.modules) - mods:
        del sys.modules[m]


def test_drops_zip_finders_and_jars(tmp_path, import_state):
    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("pw_mod_a.py", "A = 1\n")
        z.writestr("pw_mod_b.py", "B = 2\n")
    jar = str(tmp_path / "x.jar")
    sys.path[:0] = [str(archive), jar]
    assert importlib.import_module("pw_mod_a").A == 1
    assert isinstance(sys.path_importer_cache[str(archive)], zipimport.zipimporter)

    drop_archive_finders()
    zips = [
        p for p, f in sys.path_importer_cache.items()
        if isinstance(f, zipimport.zipimporter)
    ]
    assert zips == []
    assert jar not in sys.path and str(archive) in sys.path

    importlib.invalidate_caches()
    assert importlib.import_module("pw_mod_b").B == 2

    drop_archive_finders()
    path, cache = list(sys.path), dict(sys.path_importer_cache)
    drop_archive_finders()
    assert sys.path == path and dict(sys.path_importer_cache) == cache


def _name(node: ast.expr) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    if isinstance(node, ast.Call):
        return _name(node.func)
    return None


def _local_defs(body: list[ast.stmt]) -> dict[str, ast.FunctionDef]:
    """Functions defined in this scope, not inside nested functions."""
    out: dict[str, ast.FunctionDef] = {}
    todo: list[ast.AST] = list(body)
    while todo:
        node = todo.pop()
        if isinstance(node, ast.FunctionDef):
            out[node.name] = node
        elif not isinstance(node, ast.ClassDef):
            todo.extend(ast.iter_child_nodes(node))
    return out


def _calls_helper_first(fn: ast.FunctionDef) -> bool:
    body = fn.body
    if body and isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant):
        body = body[1:]  # docstring
    return (
        bool(body)
        and isinstance(body[0], ast.Expr)
        and isinstance(body[0].value, ast.Call)
        and _name(body[0].value) == "drop_archive_finders"
    )


def _udf_functions(tree: ast.Module):
    """(name, def or None, line) for every function passed to a Spark
    Python-UDF API in ``tree``, resolved in the innermost enclosing scope."""
    found = []

    def visit(node: ast.AST, scopes: list[dict[str, ast.FunctionDef]]) -> None:
        if isinstance(node, ast.FunctionDef):
            if any(_name(d) == "pandas_udf" for d in node.decorator_list):
                found.append((node.name, node, node.lineno))
            scopes = scopes + [_local_defs(node.body)]
        elif isinstance(node, ast.Call) and _name(node.func) in UDF_APIS:
            kw = UDF_APIS[_name(node.func)]
            args = node.args[:1] + [k.value for k in node.keywords if k.arg == kw]
            # pandas_udf(ReturnType()) is the decorator form, checked above
            if args and not isinstance(args[0], ast.Call):
                arg = args[0]
                name = arg.id if isinstance(arg, ast.Name) else ast.unparse(arg)
                fn = next((s[name] for s in reversed(scopes) if name in s), None)
                found.append((name, fn, node.lineno))
        for child in ast.iter_child_nodes(node):
            visit(child, scopes)

    visit(tree, [_local_defs(tree.body)])
    return found


def test_every_spark_python_function_drops_archive_finders():
    checked, bad = 0, []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG.parent)
        for name, fn, line in _udf_functions(ast.parse(path.read_text())):
            checked += 1
            if fn is None or not _calls_helper_first(fn):
                bad.append(f"{rel}:{line} {name}")
    assert not bad, f"must call drop_archive_finders() first: {bad}"
    # normalize, simfns, 2x spans.rewrite, spans.segment, multimodal,
    # 2x readers.parse
    assert checked >= 8
