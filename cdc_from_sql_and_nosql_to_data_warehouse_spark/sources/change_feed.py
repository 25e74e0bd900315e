"""Change-event feed: envelope schema + batch/stream readers.

The engine-facing CDC envelope (FIXTURES.md F3) is a superset of both
reference feeds:

- the DynamoDB stream records consumed at
  ``write_dynamodb_stream_to_s3_lambda/handler.py:26-37`` (``eventName``
  INSERT/MODIFY/REMOVE + ``dynamodb.NewImage`` in wire-typed JSON), and
- the MySQL binlog row images DMS tails
  (``cdk_infrastructure/__init__.py:90-95,182``).

Feeds live as NDJSON files in a directory; ``readStream`` over that
directory replaces the Lambda event-source mapping — Spark's checkpoint
tracks seen files (R3), ``maxFilesPerTrigger`` plays the reference's
100-record micro-batch bound (R2,
``cdk_infrastructure/__init__.py:355-356``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..functions.dynamodb_json import wire_schema_for

VALID_OPS = ("INSERT", "MODIFY", "REMOVE")


def envelope_schema(after_schema: T.StructType) -> T.StructType:
    """F3: op/key/after/ts_ms/seq with a typed after-image."""
    return T.StructType(
        [
            T.StructField("op", T.StringType(), False),
            T.StructField("key", T.StringType(), True),
            T.StructField("after", after_schema, True),
            T.StructField("ts_ms", T.LongType(), True),
            T.StructField("seq", T.LongType(), True),
        ]
    )


def stream_record_schema(after_schema: T.StructType) -> T.StructType:
    """Shape of raw DynamoDB stream records on disk (wire-typed NewImage).

    Mirrors what the reference Lambda receives in ``event["Records"]``
    (``write_dynamodb_stream_to_s3_lambda/handler.py:26-29``).
    """
    wire_image = T.StructType(
        [
            T.StructField(f.name, wire_schema_for(f.dataType), True)
            for f in after_schema.fields
        ]
    )
    return T.StructType(
        [
            T.StructField("eventName", T.StringType(), False),
            T.StructField(
                "dynamodb",
                T.StructType(
                    [
                        T.StructField("NewImage", wire_image, True),
                        T.StructField("SequenceNumber", T.StringType(), True),
                        T.StructField(
                            "ApproximateCreationDateTime", T.LongType(), True
                        ),
                    ]
                ),
                True,
            ),
        ]
    )


def _read_ndjson(
    spark: SparkSession,
    schema: T.StructType,
    path: str,
    streaming: bool = True,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """The engine's one NDJSON reader: ``path`` (a directory or glob)
    under an explicit schema, batch or streaming; a streaming read takes
    at most ``max_files_per_trigger`` new files per micro-batch."""
    if not streaming:
        return spark.read.schema(schema).json(path)
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(path)


def read_envelope_feed(
    spark: SparkSession,
    feed_dir: str,
    after_schema: T.StructType,
    streaming: bool = False,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Read an envelope-shaped NDJSON feed, batch or streaming."""
    return _read_ndjson(
        spark, envelope_schema(after_schema), feed_dir, streaming,
        max_files_per_trigger,
    )


def read_dynamodb_stream(
    spark: SparkSession,
    feed_dir: str,
    after_schema: T.StructType,
    streaming: bool = True,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Read raw DynamoDB-stream-shaped NDJSON records (S3 analog)."""
    return _read_ndjson(
        spark, stream_record_schema(after_schema), feed_dir, streaming,
        max_files_per_trigger,
    )
