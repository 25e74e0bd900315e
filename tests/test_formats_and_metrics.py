"""Format matrix round-trips and streaming metrics listener."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from cdc_from_sql_and_nosql_to_data_warehouse_spark.sources.formats import FORMATS, read_table, write_table
from cdc_from_sql_and_nosql_to_data_warehouse_spark.streaming.metrics import PipelineMetrics


@pytest.fixture(scope="module")
def sample(spark):
    return spark.range(100).select(
        F.col("id"),
        (F.col("id") % 5).cast("string").alias("cat"),
        (F.col("id") * 1.5).alias("v"),
    )


@pytest.mark.parametrize("fmt", ["parquet", "orc"])
def test_columnar_roundtrip_preserves_schema(spark, tmp_path, sample, fmt):
    path = str(tmp_path / fmt)
    write_table(sample, path, fmt)
    back = read_table(spark, path, fmt)
    # nullability is not persisted by file formats; names + types are
    assert [(f.name, f.dataType) for f in back.schema.fields] == [
        (f.name, f.dataType) for f in sample.schema.fields
    ]
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, sample.collect()))


@pytest.mark.parametrize("fmt", ["json", "csv"])
def test_text_roundtrip_with_schema(spark, tmp_path, sample, fmt):
    path = str(tmp_path / fmt)
    write_table(sample, path, fmt)
    back = read_table(spark, path, fmt, schema=sample.schema)
    assert [(f.name, f.dataType) for f in back.schema.fields] == [
        (f.name, f.dataType) for f in sample.schema.fields
    ]
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, sample.collect()))


def test_partitioned_write(spark, tmp_path, sample):
    import os

    path = str(tmp_path / "p")
    write_table(sample, path, "parquet", partition_by=["cat"])
    assert os.path.isdir(f"{path}/cat=0")
    back = read_table(spark, path, "parquet")
    assert back.count() == 100


def test_unknown_format_rejected(spark, tmp_path, sample):
    with pytest.raises(ValueError, match="unsupported format"):
        write_table(sample, str(tmp_path / "x"), "avro")


def test_streaming_metrics_listener(spark, tmp_path):
    import json
    import os

    feed = str(tmp_path / "feed")
    os.makedirs(feed)
    for b in range(2):
        with open(f"{feed}/b{b}.json", "w") as f:
            for i in range(5):
                f.write(json.dumps({"x": b * 5 + i}) + "\n")

    metrics = PipelineMetrics()
    spark.streams.addListener(metrics)
    try:
        q = (
            spark.readStream.schema("x long")
            .option("maxFilesPerTrigger", 1)
            .json(feed)
            .writeStream.format("memory")
            .queryName("metrics_probe")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        # listener events are delivered asynchronously
        deadline = time.time() + 30
        while time.time() < deadline and metrics.total_input_rows("metrics_probe") < 10:
            time.sleep(0.5)
    finally:
        spark.streams.removeListener(metrics)
    assert metrics.total_input_rows("metrics_probe") == 10
    batch_ids = [b.batch_id for b in metrics.batches if b.query_name == "metrics_probe"]
    assert len(batch_ids) >= 2  # one per input file


def test_listener_keeps_per_trigger_phase_times(spark, tmp_path):
    """Spark's ``durationMs`` breakdown survives into every BatchMetric of
    a two-hop append, so the checkpoint-log phases can be read from the
    engine's own listener."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.config import EngineConfig
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.streaming.pipeline import (
        run_staging_to_warehouse,
        run_stream_to_staging,
    )

    from .fixtures import TRADE_SCHEMA, make_trade, write_stream_records_file

    cfg = EngineConfig(apply_mode="append")
    feed, staging = str(tmp_path / "feed"), str(tmp_path / "staging")
    for b in range(2):
        write_stream_records_file(feed, f"b{b}.json", [("INSERT", make_trade(b), b + 1)])

    metrics = PipelineMetrics()
    spark.streams.addListener(metrics)
    try:
        run_stream_to_staging(
            spark, cfg, feed, staging, str(tmp_path / "ck1"), TRADE_SCHEMA
        ).awaitTermination(120)
        run_staging_to_warehouse(
            spark, cfg, staging, str(tmp_path / "wh"), str(tmp_path / "ck2"), TRADE_SCHEMA
        ).awaitTermination(120)
        # listener events are delivered asynchronously
        deadline = time.time() + 30
        while time.time() < deadline and metrics.total_input_rows() < 4:
            time.sleep(0.5)
    finally:
        spark.streams.removeListener(metrics)
    assert metrics.total_input_rows() == 4  # 2 records in, 2 staged rows out
    phases = ("latestOffset", "walCommit", "commitOffsets", "addBatch")
    for b in metrics.batches:
        assert all(b.duration_ms.get(p, -1) >= 0 for p in phases), b.duration_ms
    for p in phases:
        assert metrics.phase_ms(p) == sum(b.duration_ms[p] for b in metrics.batches)
    assert metrics.phase_ms("triggerExecution") > 0
