"""T1/T2 decoder fidelity: wire-typed JSON -> typed struct, JVM-side."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions.dynamodb_json import (
    decode_dynamodb_json,
    deserialize_item,
    serialize_item,
)

from .fixtures import TRADE_SCHEMA, make_trade


def test_row_level_roundtrip():
    trade = make_trade(3)
    assert deserialize_item(serialize_item(trade)) == trade


def test_numbers_arrive_as_floats():
    # T2: N-tagged values decode to float/int, never Decimal
    item = serialize_item({"price": 110.07, "shares": 200})
    out = deserialize_item(item)
    assert isinstance(out["price"], float) and out["price"] == 110.07
    assert isinstance(out["shares"], int) and out["shares"] == 200


def test_jvm_decode_matches_python(spark):
    trades = [make_trade(i) for i in range(8)]
    wire_lines = [json.dumps(serialize_item(t)) for t in trades]
    df = spark.createDataFrame([(s,) for s in wire_lines], ["raw"])
    decoded = df.select(
        decode_dynamodb_json("raw", TRADE_SCHEMA).alias("t")
    ).select("t.*")
    rows = sorted((r.asDict(recursive=True) for r in decoded.collect()),
                  key=lambda d: d["id"])
    for got, want in zip(rows, sorted(trades, key=lambda t: t["id"])):
        assert got["id"] == want["id"]
        assert got["price"] == want["price"]
        assert got["shares"] == want["shares"]
        assert got["details"]["asks"] == want["details"]["asks"]
        assert got["details"]["system"] == want["details"]["system"]
        assert got["time"]["date"] == want["time"]["date"]
        # sparse field: None where absent (record 0), value elsewhere
        assert got["ticket"] == want.get("ticket")


def test_unknown_tag_raises():
    import pytest

    with pytest.raises(ValueError):
        deserialize_item({"x": {"WAT": 1}})


def test_stream_decode_matches_python_on_awkward_schema(spark, tmp_path):
    """``decode_stream_records``' SQL-text projection equals the
    row-level ``deserialize_item`` on field names that need quoting
    (back-quoted, dotted, space-bearing), an array of structs holding
    an array (nested lambdas), and boolean, binary and decimal leaves."""
    from decimal import Decimal

    from pyspark.sql import types as T

    from cdc_from_sql_and_nosql_to_data_warehouse_spark.sources.change_feed import (
        read_dynamodb_stream,
    )
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.streaming.pipeline import (
        decode_stream_records,
    )

    from .fixtures import write_stream_records_file

    leg = T.StructType([
        T.StructField("leg.id", T.LongType()),
        T.StructField("fill `px`", T.ArrayType(T.DoubleType())),
    ])
    schema = T.StructType([
        T.StructField("`id`", T.StringType()),
        T.StructField("a.b", T.StructType([
            T.StructField("c d", T.BooleanType()),
            T.StructField("raw", T.BinaryType()),
        ])),
        T.StructField("legs", T.ArrayType(leg)),
        T.StructField("amount", T.DecimalType(12, 3)),
    ])
    images = [
        {"`id`": "r0", "a.b": {"c d": True, "raw": b"\x00\xffab"},
         "legs": [{"leg.id": 1, "fill `px`": [1.5, 2.25]},
                  {"leg.id": 2, "fill `px`": []}],
         "amount": 12.345},
        {"`id`": "r1", "a.b": {"c d": False, "raw": b""}, "legs": [],
         "amount": -0.5},
        {"`id`": "r2"},  # every other attribute absent
    ]
    feed = str(tmp_path / "feed")
    write_stream_records_file(
        feed, "b.json",
        [("INSERT", images[0], 1), ("MODIFY", images[1], 2),
         ("INSERT", images[2], 3), ("REMOVE", {"`id`": "r9"}, 4)],
    )
    records = read_dynamodb_stream(spark, feed, schema, streaming=False)
    got = {
        r["`id`"]: r for r in
        (r.asDict(recursive=True) for r in decode_stream_records(records, schema).collect())
    }
    assert sorted(got) == ["r0", "r1", "r2"]

    def plain(v):
        if isinstance(v, Decimal):
            return float(v)
        if isinstance(v, bytearray):
            return bytes(v)
        if isinstance(v, dict):
            return {k: plain(x) for k, x in v.items()}
        if isinstance(v, list):
            return [plain(x) for x in v]
        return v

    for seq, image in enumerate(images, start=1):
        row = got[image["`id`"]]
        want = deserialize_item(serialize_item(image))
        for f in schema.fields:
            assert plain(row[f.name]) == want.get(f.name), f.name
        assert row["_seq"] == str(seq).rjust(40, "0")
        assert row["_ts_ms"] == 1_700_000_000_000 + seq
    assert got["r0"]["amount"] == Decimal("12.345")
