"""Synthesized fixtures matching the reference's observable input shapes.

Shapes follow FIXTURES.md (F1 txns CSV, F2 trades JSON, F3 change
events); values are our own deterministic synthetics — nothing is copied
from the reference repo.
"""

from __future__ import annotations

import json
import os
import threading
import uuid

from pyspark.sql import types as T

from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions.dynamodb_json import serialize_item

# F1: exact raw header incl. padded names (FIXTURES.md F1)
TXNS_HEADER = (
    "Account No,DATE,TRANSACTION DETAILS,CHIP USED,VALUE DATE,"
    " WITHDRAWAL AMT , DEPOSIT AMT ,BALANCE AMT"
)


def money(x: float) -> str:
    return f'"  {x:,.2f} "'


def make_txns_csv(path: str, n_rows: int = 24) -> None:
    """Deterministic F1-shaped bank-txn CSV: one account, alternating
    deposit/withdrawal, running balance, quoted money with commas."""
    rows = [TXNS_HEADER]
    balance = 1_000_000.00
    for i in range(n_rows):
        day = (i % 27) + 1
        date = f"{day}-Jun-17"
        if i % 2 == 0:
            amt = 10_000.00 + 1_000 * i
            balance += amt
            rows.append(
                f"409000600001,{date},TRF FROM  SyntheticPayer {i},FALSE,{date},"
                f",{money(amt)},{money(balance)}"
            )
        else:
            amt = 5_000.00 + 500 * i
            balance -= amt
            rows.append(
                f"409000600001,{date},ATM WITHDRAWAL {i},TRUE,{date},"
                f"{money(amt)},,{money(balance)}"
            )
    with open(path, "w") as f:
        f.write("\n".join(rows) + "\n")


TRADE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField(
            "details",
            T.StructType(
                [
                    T.StructField("asks", T.ArrayType(T.DoubleType()), True),
                    T.StructField("bids", T.ArrayType(T.DoubleType()), True),
                    T.StructField("lag", T.LongType(), True),
                    T.StructField("system", T.StringType(), True),
                ]
            ),
            True,
        ),
        T.StructField("price", T.DoubleType(), True),
        T.StructField("shares", T.LongType(), True),
        T.StructField("ticker", T.StringType(), True),
        T.StructField("ticket", T.StringType(), True),
        T.StructField(
            "time",
            T.StructType([T.StructField("date", T.StringType(), True)]),
            True,
        ),
    ]
)


def make_trade(i: int) -> dict:
    """F2-shaped trade document; record 0 omits ``ticket`` (sparse field)."""
    trade = {
        "id": f"{i:024x}",
        "details": {
            "asks": [110.0 + i + 0.07, 110.0 + i + 0.12],
            "bids": [109.0 + i - 0.1, 109.0 + i - 0.3, 109.0 + i - 0.5],
            "lag": i % 3,
            "system": "abc",
        },
        "price": 110.0 + i,
        "shares": 200 + 10 * i,
        "ticker": "abcd",
        "time": {"date": f"2012-03-{(i % 27) + 1:02d}T07:00:00.000Z"},
    }
    if i % 8 != 0:
        trade["ticket"] = f"z{101 + i}"
    return trade


def make_trades_json(path: str, n: int = 8) -> list[dict]:
    trades = [make_trade(i) for i in range(n)]
    with open(path, "w") as f:
        json.dump({"data": trades}, f)
    return trades


def write_stream_records_file(
    dir_path: str, file_name: str, events: list[tuple[str, dict, int]]
) -> None:
    """One NDJSON file of DynamoDB-stream-shaped records.

    ``events``: (eventName, plain_image_dict, seq). Images are wire-typed
    with serialize_item — the inverse of the engine's decoder.
    """
    os.makedirs(dir_path, exist_ok=True)
    lines = []
    for event_name, image, seq in events:
        rec = {
            "eventName": event_name,
            "dynamodb": {
                "NewImage": serialize_item(image) if image is not None else None,
                "SequenceNumber": str(seq),
                "ApproximateCreationDateTime": 1_700_000_000_000 + seq,
            },
        }
        lines.append(json.dumps(rec))
    with open(os.path.join(dir_path, file_name), "w") as f:
        f.write("\n".join(lines) + "\n")


def write_envelope_file(
    dir_path: str, file_name: str, events: list[tuple[str, dict | None, int]]
) -> None:
    """One NDJSON file of F3 envelope rows (op/key/after/ts_ms/seq)."""
    os.makedirs(dir_path, exist_ok=True)
    lines = []
    for op, after, seq in events:
        lines.append(
            json.dumps(
                {
                    "op": op,
                    "key": None if after is None else after.get("id"),
                    "after": after,
                    "ts_ms": 1_700_000_000_000 + seq,
                    "seq": seq,
                }
            )
        )
    with open(os.path.join(dir_path, file_name), "w") as f:
        f.write("\n".join(lines) + "\n")


def run_counting_jobs(spark, fn):
    """(fn(), the number of Spark jobs fn launched from this thread),
    counted through a job group once the listener bus has drained."""
    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def run_counting_py4j(spark, fn):
    """(fn(), the number of Py4J round trips fn made): every
    ``send_command`` the calling thread sends on the session's gateway
    client — a driver-cost counter that, unlike wall time, does not move
    with host noise.

    Commands from other threads are not counted: py4j's finalizer worker
    releases freed Java proxies on its own thread whenever it drains its
    queue, so counting them would add, at random, releases of garbage
    that earlier code left behind."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    caller = threading.get_ident()
    calls = 0

    def counting(*args, **kwargs):
        nonlocal calls
        if threading.get_ident() == caller:
            calls += 1
        return send(*args, **kwargs)

    client.send_command = counting
    try:
        out = fn()
    finally:
        del client.send_command
    return out, calls
