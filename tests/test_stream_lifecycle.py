"""Every engine streaming query starts in ``streaming/manager.start_query``.

A static check (no Spark): parse the package and assert that the only
``.start(...)`` and ``.trigger(...)`` calls, the only
``"checkpointLocation"`` option and the only mention of the
checkpoint-manager conf are the ones inside ``start_query``, so
checkpoint and trigger policy stay a one-place edit. The manifest-planned
streaming sources get the same kind of check: they open no file and list
no directory themselves.
"""

from __future__ import annotations

import ast
import pathlib

import cdc_from_sql_and_nosql_to_data_warehouse_spark as pkg

PKG_DIR = pathlib.Path(pkg.__file__).parent


def _calls(attr: str) -> list[tuple[str, str]]:
    """(module path, enclosing function) of every ``<expr>.<attr>(...)``."""
    return _enclosing(
        lambda n: isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == attr
    )


def _enclosing(match) -> list[tuple[str, str]]:
    """(module path, enclosing function) of every node ``match`` accepts."""
    found = []
    for path in sorted(PKG_DIR.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        rel = path.relative_to(PKG_DIR).as_posix()

        def visit(node: ast.AST, fn: str) -> None:
            for child in ast.iter_child_nodes(node):
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    visit(child, child.name if fn == "<module>" else fn)
                    continue
                if match(child):
                    found.append((rel, fn))
                visit(child, fn)

        visit(tree, "<module>")
    return found


def test_only_start_query_starts_streams():
    assert _calls("start") == [("streaming/manager.py", "start_query")]


def test_only_start_query_sets_triggers():
    assert _calls("trigger") == [("streaming/manager.py", "start_query")] * 2


def _strings(pred) -> list[tuple[str, str]]:
    """(module path, enclosing function) of every string literal
    ``pred`` accepts."""
    return _enclosing(
        lambda n: isinstance(n, ast.Constant)
        and isinstance(n.value, str)
        and pred(n.value)
    )


def test_only_start_query_sets_checkpoint_location():
    # .option("checkpointLocation", ...) or .options(checkpointLocation=...)
    assert _strings(lambda s: s == "checkpointLocation") + _enclosing(
        lambda n: isinstance(n, ast.keyword) and n.arg == "checkpointLocation"
    ) == [("streaming/manager.py", "start_query")]


def test_only_start_query_picks_checkpoint_manager():
    assert _strings(lambda s: "checkpointFileManagerClass" in s) == [
        ("streaming/manager.py", "start_query")
    ]


def test_manifest_sources_touch_storage_only_through_the_package():
    # control reads go through fsio and the batch plane's readers;
    # parquet reads (pyarrow) are the data plane and stay allowed
    tree = ast.parse((PKG_DIR / "streaming/manifest_source.py").read_text())
    raw = [
        ast.unparse(n.func)
        for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and ast.unparse(n.func) in ("open", "os.listdir", "os.walk", "os.scandir")
    ]
    assert raw == []
