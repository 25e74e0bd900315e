"""Every oracle-backed query must match DuckDB exactly (the driver's t2 gate,
run locally at the smoke scale factor so failures surface before the driver's)."""

from __future__ import annotations

import pytest

from cdc_from_sql_and_nosql_to_data_warehouse_spark.plans import ORACLES, QUERIES
from cdc_from_sql_and_nosql_to_data_warehouse_spark.plans.oracle_check import compare_query

from .conftest import SF_SMOKE

ORACLE_NAMES = sorted(n for n in QUERIES if n in ORACLES)


def test_parity_sweep_is_exhaustive():
    """The registry's export rotation reorders, never hides: every
    oracle is attached to a registered query, so the parametrized
    sweep below covers EVERY oracle-backed row each suite run — the
    rotation can never reduce effective verification (round-10 advisor
    condition, pinned)."""
    assert set(ORACLES) <= set(QUERIES)
    assert ORACLE_NAMES == sorted(ORACLES)


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_oracle_parity(spark, name):
    r = compare_query(spark, name, SF_SMOKE)
    assert r["match_rows"], f"row count: spark={r['spark_rows']} oracle={r['oracle_rows']}"
    assert r["match_cols"], r["detail"]
    assert r["match_values"], r["detail"]


def test_every_query_runs(spark):
    """Queries without an oracle still need to execute and return a schema
    (the oracle-backed ones run and hash-check in ``test_oracle_parity``)."""
    for name, fn in QUERIES.items():
        if name in ORACLES:
            continue
        df = fn(spark, SF_SMOKE)
        assert df.columns, name
        assert df.count() >= 0, name


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()) <= set(e.queries())
