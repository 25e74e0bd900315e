"""Maintenance rewrites share the apply layer's reader and commit.

A static check (no Spark): parse the package and assert that dynamic
partition overwrite is requested in one place,
``apply.overwrite_partitions_dropping_emptied``, and that
``operators/maintenance.py`` reads tables only through the apply
layer's readers (no direct ``spark.read``), so schema and commit policy
stay a one-place edit.
"""

from __future__ import annotations

import ast

from .test_stream_lifecycle import _enclosing


def test_one_dynamic_partition_overwrite():
    found = _enclosing(
        lambda n: isinstance(n, ast.Constant)
        and isinstance(n.value, str)
        and n.value.endswith("partitionOverwriteMode")
    )
    assert found == [
        ("operators/apply.py", "overwrite_partitions_dropping_emptied")
    ]


def test_maintenance_makes_no_direct_spark_read():
    found = _enclosing(
        lambda n: isinstance(n, ast.Attribute)
        and n.attr == "read"
        and isinstance(n.value, ast.Name)
        and n.value.id == "spark"
    )
    assert [f for f in found if f[0] == "operators/maintenance.py"] == []


def test_footer_merge_requested_in_two_places():
    # the table reader's manifest-less fallback, and the one helper that
    # footer-merges the schema of chosen files; every other schema need
    # goes through the manifest, the sidecar or _schema_union
    found = _enclosing(
        lambda n: isinstance(n, ast.Constant) and n.value == "mergeSchema"
    )
    assert sorted(found) == [
        ("operators/apply.py", "_footer_schema"),
        ("operators/apply.py", "_table_reader"),
    ]
