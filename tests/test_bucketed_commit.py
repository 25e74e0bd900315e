"""The bucketed table's one commit: a pointer-layout root under the
table fence, re-registered from ``_current`` by every apply."""

from __future__ import annotations

import os
import shutil
import threading

import pytest
from pyspark.sql import SparkSession
from pyspark.sql.readwriter import DataFrameWriter

from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators import apply as A
from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.apply import (
    apply_changes_bucketed,
)
from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.maintenance import (
    write_bucketed,
)


def _envelope(spark, rows):
    # rows: (key, value, seq)
    return spark.createDataFrame(
        [(str(k), "MODIFY", (k, v), s) for k, v, s in rows],
        "key string, op string, after struct<id:long, v:long>, seq long",
    )


def _apply(spark, tbl, rows, n_buckets=4, bucket_cols=("id",)):
    apply_changes_bucketed(
        spark, _envelope(spark, rows), tbl, "id", list(bucket_cols),
        n_buckets=n_buckets,
    )


def _rows(spark, tbl):
    return {r["id"]: r["v"] for r in spark.table(tbl).collect()}


def _root(spark, tbl):
    wh = A._local_path(spark.conf.get("spark.sql.warehouse.dir"))
    return os.path.join(wh, tbl)


def _assert_bucketed(spark, tbl, n):
    ddl = spark.sql(f"SHOW CREATE TABLE {tbl}").first()[0]
    assert "CLUSTERED BY (id)" in ddl and f"{n} BUCKETS" in ddl, ddl


B1 = [(i, i * 10, 1) for i in range(50)]
B2 = [(i, i * 100, 2) for i in range(25, 75)]
OLD = {i: i * 10 for i in range(50)}
NEW = {i: i * 10 for i in range(25)} | {i: i * 100 for i in range(25, 75)}


def test_bucketed_apply_resumes_after_catalog_loss(spark):
    """DROP TABLE is what a new process with the in-memory catalog
    sees: reads serve the committed state from the table's root, and
    the next apply re-registers it and merges on top of it instead of
    starting a fresh table."""
    tbl = "bc_restart"
    _apply(spark, tbl, B1)
    spark.sql(f"DROP TABLE {tbl}")
    assert not spark.catalog.tableExists(tbl)
    # the committed state stays readable without a catalog entry
    assert {
        r["id"]: r["v"] for r in A.read_warehouse_table(spark, tbl).collect()
    } == OLD
    _apply(spark, tbl, B2)
    assert _rows(spark, tbl) == NEW
    _assert_bucketed(spark, tbl, 4)
    spark.sql(f"DROP TABLE {tbl}")


def _fail(*_a, **_k):
    raise RuntimeError("injected crash")


def _fail_sql(marker):
    orig = SparkSession.sql

    def sql(self, text, *a, **k):
        if marker in text:
            raise RuntimeError(f"injected crash at {marker}")
        return orig(self, text, *a, **k)

    return sql


def _fail_pointer_write():
    orig = A.fsio.atomic_write_text

    def write(path, text):
        if path.endswith(A.CURRENT_POINTER):
            raise RuntimeError("injected crash at the pointer write")
        return orig(path, text)

    return write


# commit step -> (crash injection, rows spark.table serves after it)
CRASHES = {
    "write": (lambda mp: mp.setattr(DataFrameWriter, "saveAsTable", _fail), OLD),
    "scratch_drop": (lambda mp: mp.setattr(SparkSession, "sql", _fail_sql("__next")), OLD),
    "pointer": (lambda mp: mp.setattr(A.fsio, "atomic_write_text", _fail_pointer_write()), OLD),
    "repoint": (lambda mp: mp.setattr(SparkSession, "sql", _fail_sql("SET LOCATION")), OLD),
    "gc": (lambda mp: mp.setattr(A, "_gc_superseded", _fail), NEW),
}


@pytest.mark.parametrize("step", list(CRASHES))
def test_bucketed_commit_crash_at_each_step_serves_old_or_new(
    spark, monkeypatch, step
):
    """A crash at any step of the bucketed commit leaves the table
    serving exactly the old or the new rows, and replaying the batch
    converges to the crash-free table with its bucket spec intact."""
    inject, served = CRASHES[step]
    tbl = f"bc_crash_{step}"
    _apply(spark, tbl, B1)
    with monkeypatch.context() as mp:
        inject(mp)
        with pytest.raises(RuntimeError, match="injected crash"):
            _apply(spark, tbl, B2)
    assert _rows(spark, tbl) == served
    _apply(spark, tbl, B2)
    assert _rows(spark, tbl) == NEW
    _assert_bucketed(spark, tbl, 4)
    # the replay left nothing for a later commit to trip over
    _apply(spark, tbl, [(0, -1, 3)])
    assert _rows(spark, tbl) == NEW | {0: -1}
    spark.sql(f"DROP TABLE {tbl}")


def test_concurrent_bucketed_applies_serialize(spark, monkeypatch):
    """Two threads applying disjoint keys to one new bucketed table:
    the table fence serializes the commits, so both batches land."""
    # the assertion is serialization, not the fence's wait bound
    monkeypatch.setattr(A, "FENCE_WAIT_SECONDS", 120.0)
    tbl = "bc_concurrent"
    start = threading.Barrier(2)
    errors = []

    def run(rows):
        try:
            start.wait()
            _apply(spark, tbl, rows)
        except Exception as exc:  # surfaced by the assert below
            errors.append(exc)

    threads = [
        threading.Thread(target=run, args=([(i, i, 1) for i in range(lo, lo + 100)],))
        for lo in (0, 100)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert _rows(spark, tbl) == {i: i for i in range(200)}
    _assert_bucketed(spark, tbl, 4)
    spark.sql(f"DROP TABLE {tbl}")


def _stored(spark, rows):
    return spark.createDataFrame(
        [(k, v, A._canonical_seq_py(s)) for k, v, s in rows],
        "id long, v long, _seq string",
    )


def test_bucketed_apply_adopts_legacy_managed_tables(spark):
    """Tables written before the pointer layout: a managed root left on
    disk by an exited process (bucketed files at <warehouse>/<t>, no
    catalog entry, no ``_current``) and a still-registered MANAGED
    table are both adopted and upgraded by the next apply; afterwards a
    DROP TABLE keeps the committed files."""
    orphan, managed = "bc_legacy_orphan", "bc_legacy_managed"
    write_bucketed(_stored(spark, B1), "bc_legacy_src", ["id"], 4, sort_cols=["id"])
    shutil.copytree(_root(spark, "bc_legacy_src"), _root(spark, orphan))
    spark.sql("DROP TABLE bc_legacy_src")
    write_bucketed(_stored(spark, B1), managed, ["id"], 4, sort_cols=["id"])
    for tbl in (orphan, managed):
        root = _root(spark, tbl)
        assert not os.path.exists(os.path.join(root, A.CURRENT_POINTER))
        _apply(spark, tbl, B2)
        assert _rows(spark, tbl) == NEW
        assert A.table_data_dir(root) != root  # upgraded to the pointer layout
        _assert_bucketed(spark, tbl, 4)
        spark.sql(f"DROP TABLE {tbl}")
        _apply(spark, tbl, [(0, -1, 3)])
        assert _rows(spark, tbl) == NEW | {0: -1}
        spark.sql(f"DROP TABLE {tbl}")


def test_bucketed_apply_rejects_a_different_bucket_spec(spark):
    """The registered bucket spec is fixed: re-pointing keeps it, so
    files written under another spec would mis-join. A mismatched
    ``bucket_cols`` or ``n_buckets`` raises and commits nothing."""
    tbl = "bc_spec"
    _apply(spark, tbl, B1)
    with pytest.raises(ValueError, match="bucketed by"):
        _apply(spark, tbl, B2, n_buckets=8)
    with pytest.raises(ValueError, match="bucketed by"):
        _apply(spark, tbl, B2, bucket_cols=("v",))
    assert _rows(spark, tbl) == OLD
    _assert_bucketed(spark, tbl, 4)
    spark.sql(f"DROP TABLE {tbl}")
