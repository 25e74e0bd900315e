"""DynamoDB wire-typed JSON decoding (T1) + Decimal->float policy (T2).

The reference decodes stream ``NewImage`` payloads with boto3's
``TypeDeserializer`` (``write_dynamodb_stream_to_s3_lambda/handler.py:29``):
a tree where every value is tagged with its wire type —
``{"S": "abc"}``, ``{"N": "110.07"}``, ``{"M": {...}}``, ``{"L": [...]}``,
``{"BOOL": true}``, ``{"NULL": true}`` — and numbers arrive as *strings*.
It then downcasts Decimal to float when serializing to NDJSON
(``handler.py:15-19``), so warehouse numeric fidelity is double (T2).

Spark-first design: for a **known target schema** (the normal warehouse
case — fixed DDL at ``load_s3_files...handler.py:74-82``) we derive the
wire-side schema mechanically, parse with ``from_json`` (JVM, codegen),
and strip the type tags with one Spark SQL projection rendered as text
(``_unwrap_sql``) — the JVM parses and analyzes it once, zero Python in
the hot path, works at any scale. A row-level Python ``deserialize_item`` is
kept for tests and for schema discovery on unknown payloads.
"""

from __future__ import annotations

import base64
from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .sql_templates import quote_ident, quote_literal

_NUMERIC = (
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.DecimalType,
)


def wire_schema_for(dt: T.DataType) -> T.DataType:
    """Target type -> schema of its DynamoDB-JSON encoding.

    ``price: double`` is encoded as ``{"N": "110.07"}`` so its wire schema
    is ``struct<N: string>``; structs nest under ``M``, arrays under ``L``.
    """
    if isinstance(dt, T.StructType):
        return T.StructType(
            [
                T.StructField(
                    "M",
                    T.StructType(
                        [
                            T.StructField(f.name, wire_schema_for(f.dataType), True)
                            for f in dt.fields
                        ]
                    ),
                    True,
                )
            ]
        )
    if isinstance(dt, T.ArrayType):
        return T.StructType(
            [T.StructField("L", T.ArrayType(wire_schema_for(dt.elementType)), True)]
        )
    if isinstance(dt, T.BooleanType):
        return T.StructType([T.StructField("BOOL", T.BooleanType(), True)])
    if isinstance(dt, _NUMERIC):
        # numbers travel as strings under "N"
        return T.StructType([T.StructField("N", T.StringType(), True)])
    if isinstance(dt, T.BinaryType):
        return T.StructType([T.StructField("B", T.StringType(), True)])
    # strings, timestamps-as-strings, everything else -> "S"
    return T.StructType([T.StructField("S", T.StringType(), True)])


def _unwrap_sql(expr: str, dt: T.DataType, depth: int = 0) -> str:
    """Spark SQL text stripping the wire tag from ``expr`` (an SQL
    expression typed per ``wire_schema_for(dt)``). Pure Python: the
    whole projection is one string, parsed and analyzed once by the
    JVM, instead of a Column tree built call by call over Py4J.
    ``depth`` counts the enclosing ``transform`` lambdas so each one
    binds its own variable name."""
    if isinstance(dt, T.StructType):
        m = f"{expr}.`M`"
        fields = ", ".join(_unwrap_fields_sql(m, dt, depth))
        return f"CASE WHEN {m} IS NOT NULL THEN struct({fields}) END"
    if isinstance(dt, T.ArrayType):
        x = f"_x{depth}"
        inner = _unwrap_sql(x, dt.elementType, depth + 1)
        return f"transform({expr}.`L`, {x} -> {inner})"
    if isinstance(dt, T.BooleanType):
        return f"{expr}.`BOOL`"
    if isinstance(dt, _NUMERIC):
        return f"CAST({expr}.`N` AS {dt.simpleString()})"
    if isinstance(dt, T.BinaryType):
        return f"unbase64({expr}.`B`)"
    return f"CAST({expr}.`S` AS {dt.simpleString()})"


def _unwrap_fields_sql(expr: str, schema: T.StructType, depth: int = 0) -> list[str]:
    """One ``_unwrap_sql`` term per field of ``schema``, each reading
    ``expr``'s wire field of that name and aliased back to it."""
    return [
        f"{_unwrap_sql(f'{expr}.{quote_ident(f.name)}', f.dataType, depth)}"
        f" AS {quote_ident(f.name)}"
        for f in schema.fields
    ]


def decode_dynamodb_json(json_col: str, target_schema: T.StructType) -> Column:
    """Wire-typed JSON string column (by name) -> typed struct column.

    JVM-only pipeline: ``from_json`` with the derived wire schema, then
    the tag-stripping SQL of ``_unwrap_sql``. Numeric leaves land as the
    target type via string cast, which realizes the reference's
    Decimal->float policy (T2) when the target type is double/float.
    """
    wire_root = T.StructType(
        [
            T.StructField(f.name, wire_schema_for(f.dataType), True)
            for f in target_schema.fields
        ]
    )
    parsed = f"from_json({quote_ident(json_col)}, {quote_literal(wire_root.json())})"
    return F.expr(f"struct({', '.join(_unwrap_fields_sql(parsed, target_schema))})")


# ---------------------------------------------------------------------------
# Row-level decoder — for tests, fixtures, and schema discovery on unknown
# payloads. NOT for the hot path (use decode_dynamodb_json).
# ---------------------------------------------------------------------------
def deserialize_value(tagged: dict[str, Any]) -> Any:
    """One wire-typed value -> plain Python value (numbers as float — the
    reference's Decimal->float downcast, T2)."""
    if not isinstance(tagged, dict) or len(tagged) != 1:
        raise ValueError(f"not a DynamoDB wire value: {tagged!r}")
    tag, v = next(iter(tagged.items()))
    if tag == "S":
        return v
    if tag == "N":
        f = float(v)
        return int(f) if f.is_integer() else f
    if tag == "BOOL":
        return bool(v)
    if tag == "B":
        return base64.b64decode(v)
    if tag == "NULL":
        return None
    if tag == "M":
        return {k: deserialize_value(x) for k, x in v.items()}
    if tag == "L":
        return [deserialize_value(x) for x in v]
    if tag == "SS" or tag == "NS":
        return [float(x) if tag == "NS" else x for x in v]
    raise ValueError(f"unsupported wire tag: {tag}")


def deserialize_item(item: dict[str, Any]) -> dict[str, Any]:
    """A whole NewImage (map of attr -> tagged value) -> plain dict."""
    return {k: deserialize_value(v) for k, v in item.items()}


def serialize_value(value: Any) -> dict[str, Any]:
    """Plain Python value -> wire-typed value (fixture generation)."""
    if value is None:
        return {"NULL": True}
    if isinstance(value, bool):
        return {"BOOL": value}
    if isinstance(value, (int, float)):
        return {"N": repr(value)}
    if isinstance(value, str):
        return {"S": value}
    if isinstance(value, bytes):
        return {"B": base64.b64encode(value).decode("ascii")}
    if isinstance(value, dict):
        return {"M": {k: serialize_value(v) for k, v in value.items()}}
    if isinstance(value, (list, tuple)):
        return {"L": [serialize_value(v) for v in value]}
    raise ValueError(f"unsupported value for DynamoDB wire format: {value!r}")


def serialize_item(item: dict[str, Any]) -> dict[str, Any]:
    return {k: serialize_value(v) for k, v in item.items()}
