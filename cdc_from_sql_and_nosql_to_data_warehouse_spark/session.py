"""SparkSession factory tuned for the engine.

Local mode for tests/bench; the same settings are the ones we would ship
on a real cluster (AQE, Arrow, sane shuffle partitioning). Nothing here
is local-mode-only except the master URL.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "cdc_from_sql_and_nosql_to_data_warehouse_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Scale posture: AQE on (runtime coalesce + skew-join), broadcast
    threshold left at default so Catalyst broadcasts the small dims of a
    star schema, Arrow on for any pandas exchange, UTC session timezone
    so timestamp semantics are deterministic across engines.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE's threshold compares OBSERVED runtime sizes (not estimates),
        # so raising it is scale-safe: a filtered dimension that is truly
        # small at runtime broadcasts; a big one still shuffles. The
        # static threshold stays at its default because pre-execution
        # size estimates are unreliable after filters.
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.spill.compress", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.streaming.schemaInference", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
