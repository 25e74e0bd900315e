from __future__ import annotations

import pytest

from cdc_from_sql_and_nosql_to_data_warehouse_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = "/root/testdata/sf0.01"

BENCH_TEST = "test_bench_contract.py::test_bench_emits_one_json_line"


def _bench_module(session):
    for item in session.items:
        if item.nodeid.endswith(BENCH_TEST):
            return item.module
    return None


def pytest_collection_finish(session):
    # the bench contract test runs bench.py in its own process; start it
    # now so its minutes of Spark job latency overlap the earlier tests
    mod = _bench_module(session)
    if mod is not None and not session.config.option.collectonly:
        mod.start_bench()


def pytest_sessionfinish(session):
    mod = _bench_module(session)
    if mod is not None:
        mod.stop_bench()


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    # a per-session warehouse: a dropped bucketed table's committed
    # versions outlive its catalog entry, so a shared ./spark-warehouse
    # would hand one run's leftovers to the next
    spark = get_spark(
        app_name="cdc_from_sql_and_nosql_to_data_warehouse_spark-tests",
        extra_conf={
            "spark.sql.warehouse.dir": str(tmp_path_factory.mktemp("warehouse"))
        },
    )
    yield spark
