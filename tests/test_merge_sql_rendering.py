"""The upsert merge is rendered as Spark SQL text: every identifier,
value and cast type must survive quoting. One delete-propagating upsert
sequence, on a partitioned table and on a bucketed one, over hostile
column names (backtick, space, dot, non-ASCII), a nested struct column
that gains a field, and int / decimal / date keys whose key-only
REMOVEs persist as typed tombstones."""

from __future__ import annotations

import datetime as dt
import uuid
from decimal import Decimal

import pytest
from pyspark.sql import types as T

from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators import apply as A

KEY = "ké y"  # non-ASCII and a space
TXT = "a`b"  # backtick
PART = "p.art"  # dot; the partition column of the partitioned table
NEST = "n s"
INNER = T.StructType([T.StructField("p.q", T.IntegerType())])
GROWN = T.StructType(INNER.fields + [T.StructField("r`s", T.StringType())])

KEYS = {
    "int": (T.IntegerType(), [1, 2, 3, 4]),
    "decimal(10,2)": (
        T.DecimalType(10, 2),
        [Decimal("1.50"), Decimal("2.25"), Decimal("3.00"), Decimal("4.75")],
    ),
    "date": (T.DateType(), [dt.date(2024, 1, d) for d in (1, 2, 3, 4)]),
}


def _key_str(v) -> str:
    return v.isoformat() if isinstance(v, dt.date) else str(v)


def _batch(spark, key_type, nest_type, rows):
    """rows: (op, key value, after dict or None, seq)."""
    after = T.StructType(
        [
            T.StructField(KEY, key_type),
            T.StructField(TXT, T.StringType()),
            T.StructField(PART, T.IntegerType()),
            T.StructField(NEST, nest_type),
        ]
    )
    schema = T.StructType(
        [
            T.StructField("op", T.StringType()),
            T.StructField("key", T.StringType()),
            T.StructField("after", after),
            T.StructField("seq", T.LongType()),
        ]
    )
    return spark.createDataFrame(
        [(op, _key_str(k), a, seq) for op, k, a, seq in rows], schema
    )


def _image(k, txt, part, nest):
    return {KEY: k, TXT: txt, PART: part, NEST: nest}


@pytest.mark.parametrize("layout", ["partitioned", "bucketed"])
@pytest.mark.parametrize("key_type_name", list(KEYS))
def test_sql_rendered_merge_round_trips_hostile_schema(
    spark, tmp_path, layout, key_type_name
):
    key_type, (k1, k2, k3, k4) = KEYS[key_type_name]
    tbl = f"merge_sql_{uuid.uuid4().hex[:8]}"
    wh = str(tmp_path / "wh")

    def apply(nest_type, rows):
        batch = _batch(spark, key_type, nest_type, rows)
        if layout == "partitioned":
            A.apply_changes(
                spark, batch, wh, KEY, mode="upsert", partition_by=[PART],
                propagate_deletes=True,
            )
        else:
            A.apply_changes_bucketed(
                spark, batch, tbl, KEY, [KEY], n_buckets=2,
                propagate_deletes=True,
            )

    def stored():
        if layout == "partitioned":
            return A._read_table(spark, wh)
        return spark.table(tbl)

    def live():
        if layout == "partitioned":
            return A.read_warehouse(spark, wh)
        return A.read_warehouse_table(spark, tbl)

    apply(INNER, [
        ("INSERT", k1, _image(k1, "o'ne\\", 1, {"p.q": 1}), 1),
        ("INSERT", k2, _image(k2, "two", 1, {"p.q": 2}), 2),
        ("INSERT", k3, _image(k3, "three", 2, {"p.q": 3}), 3),
    ])
    second = [
        ("MODIFY", k1, _image(k1, "one`b", 1, {"p.q": 10}), 5),
        ("REMOVE", k2, None, 6),  # key-only: no image, no partition value
    ]
    apply(INNER, second)
    # the nested struct gains a field: both sides align on the union
    apply(GROWN, [
        ("MODIFY", k3, _image(k3, "three 2", 2, {"p.q": 30, "r`s": "x.y"}), 8),
        ("INSERT", k4, _image(k4, "fóur", 2, {"p.q": 4, "r`s": "z"}), 9),
    ])
    apply(INNER, second)  # replayed batch converges
    apply(INNER, [  # late lower-seq changes lose to what is stored
        ("MODIFY", k1, _image(k1, "stale", 1, {"p.q": -1}), 4),
        ("MODIFY", k2, _image(k2, "resurrected", 1, {"p.q": -2}), 3),
    ])

    out = live()
    assert out.schema[KEY].dataType == key_type
    assert out.schema[TXT].dataType == T.StringType()
    assert out.schema[PART].dataType == T.IntegerType()
    assert out.schema[NEST].dataType == GROWN
    got = sorted(
        (r[KEY], r[TXT], r[PART], r[NEST].asDict()) for r in out.collect()
    )
    assert got == [
        (k1, "one`b", 1, {"p.q": 10, "r`s": None}),
        (k3, "three 2", 2, {"p.q": 30, "r`s": "x.y"}),
        (k4, "fóur", 2, {"p.q": 4, "r`s": "z"}),
    ]
    tombstones = [
        r.asDict() for r in stored().filter(f"`{A.DELETED_COL}`").collect()
    ]
    assert [(t[KEY], t[TXT], t[PART], t[NEST]) for t in tombstones] == [
        (k2, None, None, None)
    ]
    assert tombstones[0][A.SEQ_COL] == A._canonical_seq_py(6)


@pytest.mark.parametrize("partition_by", [None, [PART]], ids=["flat", "partitioned"])
def test_nested_fields_differing_only_in_order_merge_by_name(
    spark, tmp_path, partition_by
):
    """A batch whose nested struct lists the stored fields in another
    order, one of them named with a backtick, merges field by name."""
    ab = GROWN
    ba = T.StructType(list(reversed(GROWN.fields)))
    wh = str(tmp_path / "wh")

    def apply(nest_type, rows):
        A.apply_changes(
            spark, _batch(spark, T.IntegerType(), nest_type, rows), wh, KEY,
            mode="upsert", partition_by=partition_by, propagate_deletes=True,
        )

    apply(ab, [
        ("INSERT", 1, _image(1, "one", 1, {"p.q": 1, "r`s": "a"}), 1),
        ("INSERT", 2, _image(2, "two", 1, {"p.q": 2, "r`s": "b"}), 2),
    ])
    apply(ba, [
        ("MODIFY", 1, _image(1, "one 2", 1, {"r`s": "c", "p.q": 10}), 3),
        ("INSERT", 3, _image(3, "three", 2, {"r`s": "d", "p.q": 3}), 4),
    ])
    apply(ab, [("MODIFY", 2, _image(2, "stale", 1, {"p.q": -2, "r`s": "z"}), 1)])

    got = sorted(
        (r[KEY], r[TXT], r[PART], r[NEST].asDict())
        for r in A.read_warehouse(spark, wh).collect()
    )
    assert got == [
        (1, "one 2", 1, {"p.q": 10, "r`s": "c"}),
        (2, "two", 1, {"p.q": 2, "r`s": "b"}),
        (3, "three", 2, {"p.q": 3, "r`s": "d"}),
    ]
