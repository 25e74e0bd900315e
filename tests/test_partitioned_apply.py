"""Partitioned warehouse apply: hive layout, partition-pruned merge,
dynamic partition overwrite leaving untouched partitions' files alone."""

from __future__ import annotations
from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.apply import table_data_dir as tdd

import glob
import os

import pytest
from pyspark.sql import types as T

from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.apply import apply_changes, read_warehouse

AFTER = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("region", T.StringType()),
        T.StructField("price", T.DoubleType()),
    ]
)


def _envelope(spark, rows):
    """rows: (op, id, region, price, seq)"""
    return spark.createDataFrame(
        [(op, i, {"id": i, "region": r, "price": p}, seq, seq) for op, i, r, p, seq in rows],
        T.StructType(
            [
                T.StructField("op", T.StringType()),
                T.StructField("key", T.StringType()),
                T.StructField("after", AFTER),
                T.StructField("ts_ms", T.LongType()),
                T.StructField("seq", T.LongType()),
            ]
        ),
    )


def _files(path):
    return {
        f
        for f in glob.glob(f"{tdd(path)}/**/*", recursive=True)
        if os.path.isfile(f) and "_SUCCESS" not in f
    }


def test_partitioned_append_routes_rows(spark, tmp_path):
    wh = str(tmp_path / "wh")
    batch = _envelope(
        spark,
        [("INSERT", "a", "eu", 1.0, 1), ("INSERT", "b", "us", 2.0, 2)],
    )
    apply_changes(spark, batch, wh, "id", mode="append", partition_by=["region"])
    assert os.path.isdir(f"{wh}/region=eu") and os.path.isdir(f"{wh}/region=us")
    assert spark.read.parquet(tdd(wh)).count() == 2


def test_partitioned_upsert_touches_only_batch_partitions(spark, tmp_path):
    wh = str(tmp_path / "wh")
    seed = _envelope(
        spark,
        [
            ("INSERT", "a", "eu", 1.0, 1),
            ("INSERT", "b", "us", 2.0, 2),
            ("INSERT", "c", "ap", 3.0, 3),
        ],
    )
    apply_changes(spark, seed, wh, "id", mode="upsert", partition_by=["region"])
    us_files_before = {f for f in _files(wh) if "region=us" in f}
    ap_files_before = {f for f in _files(wh) if "region=ap" in f}

    update = _envelope(spark, [("MODIFY", "a", "eu", 9.0, 10)])
    apply_changes(spark, update, wh, "id", mode="upsert", partition_by=["region"])

    # untouched partitions keep their exact files (no full-table rewrite)
    assert {f for f in _files(wh) if "region=us" in f} == us_files_before
    assert {f for f in _files(wh) if "region=ap" in f} == ap_files_before

    out = {r["id"]: r for r in read_warehouse(spark, wh).collect()}
    assert out["a"]["price"] == 9.0 and out["b"]["price"] == 2.0
    assert len(out) == 3


def test_partitioned_upsert_replay_converges(spark, tmp_path):
    wh = str(tmp_path / "wh")
    b1 = _envelope(spark, [("INSERT", "a", "eu", 1.0, 1)])
    b2 = _envelope(spark, [("MODIFY", "a", "eu", 5.0, 2)])
    apply_changes(spark, b1, wh, "id", mode="upsert", partition_by=["region"])
    apply_changes(spark, b2, wh, "id", mode="upsert", partition_by=["region"])
    # at-least-once replay of an older batch must not regress the row
    apply_changes(spark, b1, wh, "id", mode="upsert", partition_by=["region"])
    rows = read_warehouse(spark, wh).collect()
    assert len(rows) == 1 and rows[0]["price"] == 5.0


def test_partitioned_delete_empties_partition(spark, tmp_path):
    wh = str(tmp_path / "wh")
    seed = _envelope(
        spark,
        [("INSERT", "a", "eu", 1.0, 1), ("INSERT", "b", "us", 2.0, 2)],
    )
    apply_changes(spark, seed, wh, "id", mode="upsert", partition_by=["region"])
    rm = _envelope(spark, [("REMOVE", "b", "us", 2.0, 5)])
    apply_changes(
        spark, rm, wh, "id", mode="upsert", partition_by=["region"],
        propagate_deletes=True,
    )
    out = read_warehouse(spark, wh).collect()
    assert [r["id"] for r in out] == ["a"]
    # the deleted key's partition keeps a seq-bearing TOMBSTONE row
    # (hidden from readers): erasing it would let a later batch
    # replaying an older upsert resurrect the key
    raw = spark.read.option("mergeSchema", "true").parquet(tdd(wh))
    tomb = raw.filter(raw["region"] == "us").collect()
    assert len(tomb) == 1
    assert tomb[0]["id"] == "b" and tomb[0]["_deleted"] is True


def test_streaming_envelope_apply_partitioned(spark, tmp_path):
    """End-to-end: partitioned warehouse through the streaming pipeline."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.config import EngineConfig
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.streaming.pipeline import run_envelope_apply
    import json

    feed = str(tmp_path / "feed")
    wh = str(tmp_path / "wh")
    os.makedirs(feed)
    rows = [
        {"op": "INSERT", "key": "a", "after": {"id": "a", "region": "eu", "price": 1.0},
         "ts_ms": 1, "seq": 1},
        {"op": "INSERT", "key": "b", "after": {"id": "b", "region": "us", "price": 2.0},
         "ts_ms": 2, "seq": 2},
    ]
    with open(f"{feed}/b1.json", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")

    cfg = EngineConfig(apply_mode="upsert", partition_by=["region"])
    q = run_envelope_apply(
        spark, cfg, feed, wh, str(tmp_path / "ck"), AFTER, key="id"
    )
    q.awaitTermination(120)
    assert os.path.isdir(f"{wh}/region=eu") and os.path.isdir(f"{wh}/region=us")
    assert read_warehouse(spark, wh).count() == 2


def test_remove_with_null_partition_values_still_deletes(spark, tmp_path):
    """A REMOVE whose after-image lacks partition values (key-only after,
    e.g. a DynamoDB REMOVE with no NewImage) cannot be partition-routed;
    the merge must fall back to an unpruned read rather than silently
    losing the delete."""
    wh = str(tmp_path / "wh")
    seed = _envelope(
        spark,
        [("INSERT", "a", "eu", 1.0, 1), ("INSERT", "b", "us", 2.0, 2)],
    )
    apply_changes(spark, seed, wh, "id", mode="upsert", partition_by=["region"])
    rm = _envelope(spark, [("REMOVE", "b", None, None, 5)])
    apply_changes(
        spark, rm, wh, "id", mode="upsert", partition_by=["region"],
        propagate_deletes=True,
    )
    out = read_warehouse(spark, wh).collect()
    assert [r["id"] for r in out] == ["a"]
    assert not os.path.exists(f"{wh}/region=us")  # emptied partition dropped


def test_remove_only_first_batch_does_not_poison_table(spark, tmp_path):
    """A REMOVE-only batch before any data leaves no readable table; the
    next INSERT batch must still initialize it cleanly."""
    wh = str(tmp_path / "wh")
    rm = _envelope(spark, [("REMOVE", "zz", "eu", None, 1)])
    apply_changes(
        spark, rm, wh, "id", mode="upsert", partition_by=["region"],
        propagate_deletes=True,
    )
    ins = _envelope(spark, [("INSERT", "a", "eu", 1.0, 2)])
    apply_changes(spark, ins, wh, "id", mode="upsert", partition_by=["region"])
    out = read_warehouse(spark, wh).collect()
    assert [(r["id"], r["price"]) for r in out] == [("a", 1.0)]


def test_null_partition_upsert_without_delete_propagation(spark, tmp_path):
    """An upsert whose partition value is NULL, with
    propagate_deletes=False, must still merge against the stored
    __HIVE_DEFAULT_PARTITION__ row (eqNullSafe pruning) — a plain ==
    prune would read nothing and duplicate the key."""
    wh = str(tmp_path / "wh")
    apply_changes(
        spark,
        _envelope(spark, [("INSERT", "a", None, 1.0, 1)]),
        wh, "id", mode="upsert", partition_by=["region"],
    )
    apply_changes(
        spark,
        _envelope(spark, [("MODIFY", "a", None, 9.0, 2)]),
        wh, "id", mode="upsert", partition_by=["region"],
    )
    rows = read_warehouse(spark, wh).collect()
    assert len(rows) == 1  # no duplicate
    assert rows[0]["price"] == 9.0


def test_mixed_era_seq_representations_arbitrate_numerically(spark, tmp_path):
    """A table stored with numeric (long) _seq from before the padded-
    string representation must arbitrate numerically against new padded
    string seqs: stored seq 5 must LOSE to incoming seq 19 (raw
    lexicographic comparison would keep '5' > '00...19')."""
    wh = str(tmp_path / "wh")
    # simulate a pre-migration table: long _seq column written directly
    spark.createDataFrame(
        [("a", "eu", 1.0, 5)], "id string, region string, price double, _seq long"
    ).write.parquet(tdd(wh))
    apply_changes(
        spark,
        _envelope(spark, [("MODIFY", "a", "eu", 42.0, 19)]),
        wh, "id", mode="upsert",
    )
    rows = read_warehouse(spark, wh).collect()
    assert len(rows) == 1
    assert rows[0]["price"] == 42.0  # seq 19 beat stored seq 5

    # and the stored representation is now canonical: replaying an OLD
    # long-seq event (seq 7 < 19) must not regress the row
    apply_changes(
        spark,
        _envelope(spark, [("MODIFY", "a", "eu", 0.5, 7)]),
        wh, "id", mode="upsert",
    )
    rows = read_warehouse(spark, wh).collect()
    assert len(rows) == 1 and rows[0]["price"] == 42.0


def test_pruned_merge_with_escaped_partition_values(spark, tmp_path):
    """Partition values needing Hive %-escaping in dir names (colon,
    space, '%') must round-trip through the listing-pruned read: an
    under-match would silently skip the stored row and duplicate the
    key."""
    wh = str(tmp_path / "wh")
    weird = "eu:west 1%x#y"
    apply_changes(
        spark,
        _envelope(spark, [("INSERT", "a", weird, 1.0, 1),
                          ("INSERT", "b", "us", 2.0, 1)]),
        wh, "id", mode="upsert", partition_by=["region"],
    )
    # the dir name must actually be escaped (else the test proves nothing)
    dirs = os.listdir(tdd(wh))
    assert not any(d == f"region={weird}" for d in dirs if d.startswith("region="))
    apply_changes(
        spark,
        _envelope(spark, [("MODIFY", "a", weird, 9.0, 2)]),
        wh, "id", mode="upsert", partition_by=["region"],
    )
    rows = {r["id"]: r["price"] for r in read_warehouse(spark, wh).collect()}
    assert rows == {"a": 9.0, "b": 2.0}  # no duplicate "a", update won


def test_pruned_merge_int_and_date_partitions(spark, tmp_path):
    """Multi-level int+date partitioning resolves through the touched-dir
    walk; untouched partitions' files are not rewritten."""
    import datetime

    wh = str(tmp_path / "wh")
    after = T.StructType(
        [
            T.StructField("id", T.StringType()),
            T.StructField("bucket_no", T.IntegerType()),
            T.StructField("day", T.DateType()),
            T.StructField("price", T.DoubleType()),
        ]
    )
    def env(rows):
        return spark.createDataFrame(
            [(op, i, {"id": i, "bucket_no": b, "day": d, "price": p}, seq, seq)
             for op, i, b, d, p, seq in rows],
            T.StructType(
                [
                    T.StructField("op", T.StringType()),
                    T.StructField("key", T.StringType()),
                    T.StructField("after", after),
                    T.StructField("ts_ms", T.LongType()),
                    T.StructField("seq", T.LongType()),
                ]
            ),
        )
    d1, d2 = datetime.date(2024, 1, 1), datetime.date(2024, 1, 2)
    apply_changes(
        spark,
        env([("INSERT", "a", 1, d1, 1.0, 1), ("INSERT", "b", 2, d2, 2.0, 1)]),
        wh, "id", mode="upsert", partition_by=["bucket_no", "day"],
    )
    before = _files(f"{wh}/bucket_no=2")
    apply_changes(
        spark,
        env([("MODIFY", "a", 1, d1, 7.0, 2)]),
        wh, "id", mode="upsert", partition_by=["bucket_no", "day"],
    )
    assert _files(f"{wh}/bucket_no=2") == before  # untouched partition intact
    rows = {r["id"]: r["price"] for r in read_warehouse(spark, wh).collect()}
    assert rows == {"a": 7.0, "b": 2.0}


def test_pruned_merge_new_partition_only_batch(spark, tmp_path):
    """A batch whose touched partitions are all NEW skips the stored-side
    read entirely and must still leave existing partitions intact."""
    wh = str(tmp_path / "wh")
    apply_changes(
        spark,
        _envelope(spark, [("INSERT", "a", "eu", 1.0, 1)]),
        wh, "id", mode="upsert", partition_by=["region"],
    )
    before = _files(f"{wh}/region=eu")
    apply_changes(
        spark,
        _envelope(spark, [("INSERT", "z", "apac", 5.0, 2)]),
        wh, "id", mode="upsert", partition_by=["region"],
    )
    assert _files(f"{wh}/region=eu") == before
    rows = {r["id"]: r["price"] for r in read_warehouse(spark, wh).collect()}
    assert rows == {"a": 1.0, "z": 5.0}


def test_touched_dir_fallback_for_unmapped_value_types(spark, tmp_path):
    """A partition value type the dir-name mapper refuses (float) makes
    _touched_partition_dirs return None — the merge must fall back to
    the full-table read and stay correct."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.apply import (
        _touched_partition_dirs,
    )

    assert _touched_partition_dirs("/nonexistent", ["p"], [(1.5,)], False) is None

    wh = str(tmp_path / "wh")
    after = T.StructType(
        [
            T.StructField("id", T.StringType()),
            T.StructField("ratio", T.DoubleType()),
            T.StructField("price", T.DoubleType()),
        ]
    )
    def env(rows):
        return spark.createDataFrame(
            [(op, i, {"id": i, "ratio": rr, "price": p}, seq, seq)
             for op, i, rr, p, seq in rows],
            T.StructType(
                [
                    T.StructField("op", T.StringType()),
                    T.StructField("key", T.StringType()),
                    T.StructField("after", after),
                    T.StructField("ts_ms", T.LongType()),
                    T.StructField("seq", T.LongType()),
                ]
            ),
        )
    apply_changes(spark, env([("INSERT", "a", 0.5, 1.0, 1)]),
                  wh, "id", mode="upsert", partition_by=["ratio"])
    apply_changes(spark, env([("MODIFY", "a", 0.5, 9.0, 2)]),
                  wh, "id", mode="upsert", partition_by=["ratio"])
    rows = {r["id"]: r["price"] for r in read_warehouse(spark, wh).collect()}
    assert rows == {"a": 9.0}


def test_touched_dir_resolver_matches_spark_escaping_fuzz(spark, tmp_path):
    """Adversarial escaping coverage for _touched_partition_dirs: write a
    partitioned table through Spark (so Spark picks the dir-name
    escaping) for a zoo of hostile values, then require the resolver to
    find every value's directory. A miss here means a pruned merge
    would silently skip stored rows and duplicate keys."""
    import random
    import string

    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.apply import (
        _touched_partition_dirs,
    )

    rng = random.Random(20260814)
    specials = ' :%#/\\{}[]^?*="\'\t\n&@+~`|<>$()!,.;'
    values = [
        "plain",
        "has space",
        "colon:colon",
        "100%",
        "%41",  # literal percent-escape lookalike
        "a/b\\c",
        "__HIVE_DEFAULT_PARTITION_",  # near-miss of the null marker
        "naïve-café-日本語-κόσμος",
        "trailing.",
        "semi;colon",
    ] + [
        "".join(rng.choice(string.ascii_letters + specials) for _ in range(rng.randint(1, 12)))
        for _ in range(15)
    ]
    # empty string is excluded by design: Spark stores it as the default
    # partition and reads it back as NULL, so no stored row keeps the
    # value "" — the full-read path skips it identically.
    values = sorted({v for v in values if v.strip("") != ""})
    wh = str(tmp_path / "wh")
    spark.createDataFrame(
        [(i, v) for i, v in enumerate(values)], "id long, p string"
    ).write.partitionBy("p").parquet(tdd(wh))
    stored = {
        r["p"] for r in spark.read.parquet(tdd(wh)).select("p").distinct().collect()
    }
    for v in values:
        if v not in stored:
            continue  # value Spark itself didn't round-trip (none expected)
        dirs = _touched_partition_dirs(wh, ["p"], [(v,)], False)
        assert dirs, f"resolver missed dir for {v!r}"
        got = {
            r["p"]
            for r in spark.read.option("basePath", wh).parquet(*dirs)
            .select("p").distinct().collect()
        }
        assert v in got, f"resolved dirs for {v!r} do not contain it: {dirs}"


def test_timestamp_partition_values_take_full_read_fallback(spark, tmp_path):
    """Spark trims trailing fractional zeros in timestamp dir names, so
    str(datetime) under-matches; the mapper must refuse datetimes and
    the merge must fall back to the full read — an upsert into a
    timestamp partition may not drop the partition's other rows."""
    import datetime

    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.apply import (
        _hive_partition_value_str,
        _touched_partition_dirs,
    )

    dt = datetime.datetime(2024, 1, 1, 0, 0, 0, 123000)
    assert _hive_partition_value_str(dt) is NotImplemented
    assert _touched_partition_dirs("/x", ["ts"], [(dt,)], False) is None

    wh = str(tmp_path / "wh")
    after = T.StructType(
        [
            T.StructField("id", T.StringType()),
            T.StructField("ts", T.TimestampNTZType()),
            T.StructField("price", T.DoubleType()),
        ]
    )
    def env(rows):
        return spark.createDataFrame(
            [(op, i, {"id": i, "ts": t, "price": p}, seq, seq)
             for op, i, t, p, seq in rows],
            T.StructType(
                [
                    T.StructField("op", T.StringType()),
                    T.StructField("key", T.StringType()),
                    T.StructField("after", after),
                    T.StructField("ts_ms", T.LongType()),
                    T.StructField("seq", T.LongType()),
                ]
            ),
        )
    apply_changes(
        spark,
        env([("INSERT", "a", dt, 1.0, 1), ("INSERT", "b", dt, 2.0, 1)]),
        wh, "id", mode="upsert", partition_by=["ts"],
    )
    apply_changes(
        spark,
        env([("MODIFY", "a", dt, 9.0, 2)]),
        wh, "id", mode="upsert", partition_by=["ts"],
    )
    rows = {r["id"]: r["price"] for r in read_warehouse(spark, wh).collect()}
    assert rows == {"a": 9.0, "b": 2.0}  # b must survive


def test_remove_emptying_escaped_partition_removes_its_dir(spark, tmp_path):
    """A winning key-only REMOVE that empties a partition whose value
    Spark %-escapes must still remove the stale directory — otherwise
    the old files read back as live rows, resurrecting the key."""
    wh = str(tmp_path / "wh")
    weird = "eu:west"
    apply_changes(
        spark,
        _envelope(spark, [("INSERT", "a", weird, 1.0, 1)]),
        wh, "id", mode="upsert", partition_by=["region"],
        propagate_deletes=True,
    )
    # key-only REMOVE: no partition values -> unpruned-merge fallback
    remove = spark.createDataFrame(
        [("REMOVE", "a", None, 2, 2)],
        T.StructType(
            [
                T.StructField("op", T.StringType()),
                T.StructField("key", T.StringType()),
                T.StructField("after", AFTER),
                T.StructField("ts_ms", T.LongType()),
                T.StructField("seq", T.LongType()),
            ]
        ),
    )
    apply_changes(
        spark, remove, wh, "id", mode="upsert", partition_by=["region"],
        propagate_deletes=True,
    )
    assert read_warehouse(spark, wh).count() == 0  # no resurrection
    assert not any(
        d.startswith("region=eu") for d in os.listdir(tdd(wh))
    ), os.listdir(tdd(wh))


SHARDED = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("shard", T.IntegerType()),
        T.StructField("price", T.DoubleType()),
    ]
)


def _sharded(spark, rows):
    """rows: (op, id, shard, seq) on an int-partitioned table."""
    return spark.createDataFrame(
        [(op, i, {"id": i, "shard": s, "price": 1.0}, seq, seq) for op, i, s, seq in rows],
        T.StructType(
            [
                T.StructField("op", T.StringType()),
                T.StructField("key", T.StringType()),
                T.StructField("after", SHARDED),
                T.StructField("ts_ms", T.LongType()),
                T.StructField("seq", T.LongType()),
            ]
        ),
    )


def _upsert_sharded(spark, wh, rows):
    apply_changes(
        spark, _sharded(spark, rows), wh, "id", mode="upsert",
        partition_by=["shard"], propagate_deletes=True,
    )


def _shard_dirs(wh):
    return sorted(d for d in os.listdir(tdd(wh)) if d.startswith("shard="))


@pytest.mark.parametrize("op", ["vacuum", "purge"])
def test_partitioned_gc_writing_zero_rows_drops_every_touched_dir(
    spark, tmp_path, op
):
    """A partitioned vacuum/purge whose rewrite empties every touched
    partition writes ZERO rows: the surviving-partition set observed on
    that empty write is [], so every touched dir goes and the call
    returns. The table is engine-written: its schema manifest types
    ``shard`` int while the maintenance reads see dir-name strings."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.maintenance import (
        purge_keys,
        vacuum_tombstones,
    )

    wh = str(tmp_path / "wh")
    _upsert_sharded(
        spark, wh, [("INSERT", "a", 1, 1), ("INSERT", "b", 2, 2), ("INSERT", "c", 3, 3)]
    )
    if op == "vacuum":
        _upsert_sharded(spark, wh, [("REMOVE", "a", 1, 4), ("REMOVE", "b", 2, 5)])
        n = vacuum_tombstones(spark, wh, before_seq=100, partition_by=["shard"])
    else:
        n = purge_keys(spark, wh, "id", ["a", "b"], partition_by=["shard"])
    assert n == 2
    assert _shard_dirs(wh) == ["shard=3"]
    assert [r["id"] for r in read_warehouse(spark, wh).collect()] == ["c"]


def test_partitioned_vacuum_keeps_survivors_of_int_typed_partitions(
    spark, tmp_path
):
    """The emptied-partition check compares dir names, not typed
    values: a touched int partition that keeps a live row must survive
    the vacuum although its candidate value ('1') and its observed
    value (1) differ in type."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.maintenance import (
        vacuum_tombstones,
    )

    wh = str(tmp_path / "wh")
    _upsert_sharded(
        spark, wh,
        [("INSERT", "a", 1, 1), ("INSERT", "b", 1, 2), ("INSERT", "c", 2, 3),
         ("INSERT", "d", 3, 4)],
    )
    _upsert_sharded(spark, wh, [("REMOVE", "b", 1, 5), ("REMOVE", "c", 2, 6)])
    assert vacuum_tombstones(spark, wh, before_seq=100, partition_by=["shard"]) == 2
    assert _shard_dirs(wh) == ["shard=1", "shard=3"]
    assert sorted(r["id"] for r in read_warehouse(spark, wh).collect()) == ["a", "d"]


def test_warm_partitioned_upsert_job_budget(spark, tmp_path):
    """One warm partitioned upsert with propagate_deletes on a
    2-partition table evaluates its merge once: the surviving-partition
    set rides an Observation on the write, and the scoped read imposes
    the schema manifest instead of running a footer-merge job. Measured
    with adaptive execution on: 4 jobs (the partition probe's distinct
    and the write, two each); with a pre-write distinct collect and a
    mergeSchema scoped read the same apply ran 8."""
    from .fixtures import run_counting_jobs

    wh = str(tmp_path / "wh")
    _upsert_sharded(spark, wh, [("INSERT", "a", 1, 1), ("INSERT", "b", 2, 2)])
    _upsert_sharded(spark, wh, [("MODIFY", "a", 1, 3)])  # warm
    batch = _sharded(spark, [("MODIFY", "a", 1, 4), ("REMOVE", "b", 2, 5)])
    _, jobs = run_counting_jobs(
        spark,
        lambda: apply_changes(
            spark, batch, wh, "id", mode="upsert", partition_by=["shard"],
            propagate_deletes=True,
        ),
    )
    assert jobs <= 4, jobs
    assert [r["id"] for r in read_warehouse(spark, wh).collect()] == ["a"]


def _wide_sharded(spark, rows, n_cols):
    """rows: (op, id, shard, seq) with an ``n_cols``-column after-image
    (id, shard, then doubles c2..)."""
    extra = [f"c{i}" for i in range(2, n_cols)]
    after = T.StructType(
        [T.StructField("id", T.StringType()), T.StructField("shard", T.IntegerType())]
        + [T.StructField(c, T.DoubleType()) for c in extra]
    )
    return spark.createDataFrame(
        [
            (op, i, {"id": i, "shard": s, **{c: 1.0 for c in extra}}, seq, seq)
            for op, i, s, seq in rows
        ],
        T.StructType(
            [
                T.StructField("op", T.StringType()),
                T.StructField("key", T.StringType()),
                T.StructField("after", after),
                T.StructField("ts_ms", T.LongType()),
                T.StructField("seq", T.LongType()),
            ]
        ),
    )


def _warm_upsert_py4j(spark, wh, n_cols):
    """Py4J round trips of one warm partitioned upsert in the
    ``test_warm_partitioned_upsert_job_budget`` shape."""
    from .fixtures import run_counting_py4j

    def upsert(rows):
        return lambda: apply_changes(
            spark, _wide_sharded(spark, rows, n_cols), wh, "id", mode="upsert",
            partition_by=["shard"], propagate_deletes=True,
        )

    upsert([("INSERT", "a", 1, 1), ("INSERT", "b", 2, 2)])()
    upsert([("MODIFY", "a", 1, 3)])()  # warm
    batch = _wide_sharded(spark, [("MODIFY", "a", 1, 4), ("REMOVE", "b", 2, 5)], n_cols)
    _, trips = run_counting_py4j(
        spark,
        lambda: apply_changes(
            spark, batch, wh, "id", mode="upsert", partition_by=["shard"],
            propagate_deletes=True,
        ),
    )
    assert [r["id"] for r in read_warehouse(spark, wh).collect()] == ["a"]
    return trips


def test_warm_partitioned_upsert_py4j_budget(spark, tmp_path):
    """The merge projections, pruning predicate and partition
    observation are rendered as SQL text the JVM parses once, so one
    warm partitioned upsert stays within a fixed Py4J round-trip budget
    (it made 798 when each projection was built column by column)."""
    trips = _warm_upsert_py4j(spark, str(tmp_path / "wh"), 3)
    assert trips <= 300, trips


def test_partitioned_upsert_py4j_flat_in_width(spark, tmp_path):
    """Widening the after-image adds no per-column Py4J calls: a
    30-column apply costs under 100 round trips more than a 3-column
    one (column-by-column projections cost about 39 per column)."""
    narrow = _warm_upsert_py4j(spark, str(tmp_path / "narrow"), 3)
    wide = _warm_upsert_py4j(spark, str(tmp_path / "wide"), 30)
    assert wide - narrow < 100, (narrow, wide)


@pytest.mark.parametrize("writer", ["engine", "plain"])
@pytest.mark.parametrize("op", ["compact_history", "vacuum", "purge", "compact"])
def test_maintenance_keeps_partition_column_types(spark, tmp_path, writer, op):
    """Maintenance rewrites keep the reader-visible schema: an
    int-partitioned history table reads ``shard`` as int before and
    after each partitioned rewrite, whether the engine wrote it (schema
    manifest present) or a plain ``write.partitionBy`` did (no manifest:
    the maintenance reads see dir-name strings, and no rewrite may
    record them as the table's types)."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators import maintenance as M

    wh = str(tmp_path / "wh")
    batches = [
        [("INSERT", "a", 1, 1), ("INSERT", "c", 2, 2)],
        [("MODIFY", "a", 1, 3), ("REMOVE", "b", 2, 4)],
    ]
    for rows in batches:
        if writer == "engine":
            apply_changes(
                spark, _sharded(spark, rows), wh, "id", mode="history",
                partition_by=["shard"],
            )
        else:
            spark.createDataFrame(
                [(i, s, 1.0, i, str(seq).rjust(40, "0"), o == "REMOVE")
                 for o, i, s, seq in rows],
                "id string, shard int, price double, _key string, "
                "_seq string, _deleted boolean",
            ).write.mode("append").partitionBy("shard").parquet(wh)
    before = read_warehouse(spark, wh).schema
    assert before["shard"].dataType == T.IntegerType()
    part = ["shard"]
    if op == "compact_history":
        assert M.compact_history(spark, wh, 100, partition_by=part) == 1
    elif op == "vacuum":
        assert M.vacuum_tombstones(spark, wh, 100, partition_by=part) == 1
    elif op == "purge":
        assert M.purge_keys(spark, wh, "id", ["a"], partition_by=part) == 2
    else:
        assert M.compact_parquet(spark, wh, partition_by=part).n_files == 2
    assert read_warehouse(spark, wh).schema == before
