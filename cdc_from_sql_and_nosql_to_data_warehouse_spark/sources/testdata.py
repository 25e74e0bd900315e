"""Readers for the driver's TESTDATA parquet tables.

One wrinkle: ``events.parquet`` carries ``TIMESTAMP(NANOS)`` which Spark's
parquet reader rejects (PARQUET_TYPE_ILLEGAL). We flip the documented
escape hatch ``spark.sql.legacy.parquet.nanosAsLong`` (runtime-settable
SQLConf) so the column arrives as nanos-since-epoch LongType, then floor
it to micros and rebuild a proper TimestampType — the same truncation
DuckDB applies when it reads nanos into its micros-based TIMESTAMP, so
oracle comparisons stay exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one TESTDATA table, normalizing nanos timestamps to micros."""
    if name != "events":
        return spark.read.parquet(f"{sf_dir}/{name}.parquet")
    # left ON for the session: the physical scan re-reads the conf at
    # execution time, so restoring it would break the (lazy) DataFrame.
    # It only affects parquet columns that are nanos-typed.
    spark.conf.set(_NANOS_CONF, "true")
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    if dict(raw.dtypes).get("ts") == "bigint":
        raw = raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return raw
