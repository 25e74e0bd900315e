"""Every engine streaming query starts in ``streaming/manager.start_query``.

A static check (no Spark): parse the package and assert that the only
``.start(...)`` and ``.trigger(...)`` calls, the only
``"checkpointLocation"`` option and the only mention of the
checkpoint-manager conf are the ones inside ``start_query``, so
checkpoint and trigger policy stay a one-place edit. The table layer gets
the same kind of check: it lists, probes and removes storage only through
``fsio``, and the manifest-planned streaming sources open no file
themselves.
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


# Table-layer modules that list, probe and remove storage only through
# ``fsio``, and the raw calls that would bypass it.
_TABLE_LAYER = (
    "operators/apply.py",
    "operators/fileset.py",
    "operators/layout.py",
    "operators/maintenance.py",
    "streaming/cdf.py",
    "streaming/manifest_source.py",
    "streaming/pipeline.py",
)
_RAW_STORAGE = (
    "os.walk",
    "os.scandir",
    "os.listdir",
    "os.rmdir",
    "os.makedirs",
    "os.path.isdir",
    "shutil.rmtree",
)
# (module, enclosing function, call) -> why it stays outside fsio
_RAW_STORAGE_EXEMPT = {
    (
        "operators/apply.py",
        "overwrite_partitions_dropping_emptied",
        "shutil.rmtree",
    ): "a partition dir emptied by the rewrite must be deleted or the "
    "rewrite must fail loudly; fsio.remove_tree ignores errors",
}


def test_manifest_sources_touch_storage_only_through_the_package():
    raw = {
        (rel, fn, name)
        for name in _RAW_STORAGE
        for rel, fn in _enclosing(
            lambda n, name=name: isinstance(n, ast.Call)
            and ast.unparse(n.func) == name
        )
        if rel in _TABLE_LAYER
    }
    assert raw == set(_RAW_STORAGE_EXEMPT)
    # the manifest sources' control reads go through fsio and the batch
    # plane's readers; parquet reads (pyarrow) are the data plane and
    # stay allowed
    tree = ast.parse((PKG_DIR / "streaming/manifest_source.py").read_text())
    opens = [
        n
        for n in ast.walk(tree)
        if isinstance(n, ast.Call) and ast.unparse(n.func) == "open"
    ]
    assert opens == []
