"""Apply-mode semantics: append (bug-compat) vs upsert (latest-wins),
REMOVE handling, replay convergence (R4/R8)."""

from __future__ import annotations
from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.apply import table_data_dir as tdd

import pytest
from pyspark.sql import functions as F

from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.apply import (
    apply_changes,
    read_warehouse,
)
from cdc_from_sql_and_nosql_to_data_warehouse_spark.sources.change_feed import (
    envelope_schema,
    read_envelope_feed,
)

from .fixtures import TRADE_SCHEMA, make_trade, write_envelope_file


def _feed(spark, tmp_path, events, name="feed"):
    d = str(tmp_path / name)
    write_envelope_file(d, "batch1.json", events)
    return read_envelope_feed(spark, d, TRADE_SCHEMA, streaming=False)


def test_append_mode_one_row_per_event(spark, tmp_path):
    t0, t1 = make_trade(0), make_trade(1)
    t1b = dict(t1, price=222.0)
    events = [("INSERT", t0, 1), ("INSERT", t1, 2), ("MODIFY", t1b, 3),
              ("REMOVE", None, 4)]
    changes = _feed(spark, tmp_path, events)
    target = str(tmp_path / "wh_append")
    apply_changes(spark, changes, target, "id", mode="append")
    out = spark.read.parquet(tdd(target))
    # 3 INSERT/MODIFY rows land; REMOVE never reaches the warehouse
    assert out.count() == 3
    assert out.filter(F.col("id") == t1["id"]).count() == 2  # both images


def test_upsert_mode_latest_wins(spark, tmp_path):
    t0, t1 = make_trade(0), make_trade(1)
    t1b = dict(t1, price=222.0)
    events = [("INSERT", t0, 1), ("INSERT", t1, 2), ("MODIFY", t1b, 3)]
    changes = _feed(spark, tmp_path, events)
    target = str(tmp_path / "wh_upsert")
    apply_changes(spark, changes, target, "id", mode="upsert")
    out = read_warehouse(spark, target)
    assert out.count() == 2
    assert out.filter(F.col("id") == t1["id"]).first()["price"] == 222.0


def test_upsert_across_batches_and_replay(spark, tmp_path):
    t0 = make_trade(0)
    target = str(tmp_path / "wh_replay")
    b1 = _feed(spark, tmp_path, [("INSERT", t0, 1)], "f1")
    apply_changes(spark, b1, target, "id", mode="upsert")
    t0b = dict(t0, price=999.0)
    b2 = _feed(spark, tmp_path, [("MODIFY", t0b, 5)], "f2")
    apply_changes(spark, b2, target, "id", mode="upsert")
    assert read_warehouse(spark, target).first()["price"] == 999.0
    # replay of an OLD batch (at-least-once delivery) must not regress
    apply_changes(spark, b1, target, "id", mode="upsert")
    assert read_warehouse(spark, target).first()["price"] == 999.0
    assert read_warehouse(spark, target).count() == 1


def test_remove_semantics(spark, tmp_path):
    t0, t1 = make_trade(0), make_trade(1)
    rm = {"id": t1["id"]}  # REMOVE carries the key only
    events = [("INSERT", t0, 1), ("INSERT", t1, 2), ("REMOVE", rm, 3)]
    # default: REMOVE dropped (reference README.md:30 divergence)
    target1 = str(tmp_path / "wh_keep")
    apply_changes(spark, _feed(spark, tmp_path, events, "fa"), target1, "id",
                  mode="upsert", propagate_deletes=False)
    assert read_warehouse(spark, target1).count() == 2
    # opt-in delete propagation: the key disappears
    target2 = str(tmp_path / "wh_del")
    apply_changes(spark, _feed(spark, tmp_path, events, "fb"), target2, "id",
                  mode="upsert", propagate_deletes=True)
    out = read_warehouse(spark, target2)
    assert out.count() == 1
    assert out.first()["id"] == t0["id"]


def test_unknown_op_raises(spark, tmp_path):
    events = [("UPSERT", make_trade(0), 1)]
    changes = _feed(spark, tmp_path, events, "bad")
    with pytest.raises(ValueError, match="unexpected change-event op"):
        apply_changes(spark, changes, str(tmp_path / "wh_bad"), "id")


def test_apply_empty_batch_is_safe(spark, tmp_path):
    """foreachBatch delivers empty micro-batches; both modes must leave
    the warehouse untouched (and not crash on empty window/merge)."""
    wh = str(tmp_path / "wh")
    seed = _feed(spark, tmp_path, [("INSERT", make_trade(0), 1)])
    apply_changes(spark, seed, wh, "id", mode="upsert")
    before = sorted(map(tuple, read_warehouse(spark, wh).collect()))

    empty = seed.limit(0)
    apply_changes(spark, empty, wh, "id", mode="upsert")
    apply_changes(spark, empty, wh, "id", mode="append")
    assert sorted(map(tuple, read_warehouse(spark, wh).collect())) == before


def test_incremental_upsert_agg_matches_full_recompute(spark):
    """Retract/apply maintenance on a hand-built batch: group movement,
    tombstone delete, brand-new key, and an untouched key."""
    from pyspark.sql import functions as F

    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.incremental import (
        incremental_upsert_agg,
    )

    # state: key -> (group, value)
    base_state = spark.createDataFrame(
        [(1, "a", "10.00"), (2, "a", "20.00"), (3, "b", "30.00")],
        "k long, g string, v string",
    ).select("k", "g", F.col("v").cast("decimal(12,2)").alias("v"))
    base_agg = base_state.groupBy("g").agg(
        F.count("*").alias("n_keys"), F.sum("v").alias("total_value")
    )
    changes = spark.createDataFrame(
        [
            (1, "b", "11.00", 1, "UPSERT"),   # moves a -> b, new value
            (2, None, None, 1, "REMOVE"),     # tombstone
            (4, "c", "40.00", 1, "UPSERT"),   # brand-new key/group
            (4, "c", "41.00", 2, "UPSERT"),   # same key again, later seq wins
        ],
        "k long, g string, v string, seq long, op string",
    ).select(
        "k", "g", F.col("v").cast("decimal(12,2)").alias("v"), "seq", "op"
    )
    got = {
        r["g"]: (r["n_keys"], float(r["total_value"]))
        for r in incremental_upsert_agg(
            base_state, base_agg, changes,
            key="k", group_col="g", value_col="v", seq_cols=["seq"],
        ).collect()
    }
    # full recompute: k1 -> (b, 11), k2 gone, k3 -> (b, 30), k4 -> (c, 41)
    assert got == {"b": (2, 41.0), "c": (1, 41.0)}, got


def test_upsert_schema_evolution_new_column(spark, tmp_path):
    """A later batch whose after-image carries a NEW column evolves the
    table: old rows read NULL there, the upserted key carries the value,
    and a key whose new image drops a column nulls it."""
    from pyspark.sql import types as T

    t0, t1 = make_trade(0), make_trade(1)
    target = str(tmp_path / "wh_evolve")
    apply_changes(
        spark,
        _feed(spark, tmp_path, [("INSERT", t0, 1), ("INSERT", t1, 2)], "f1"),
        target,
        "id",
        mode="upsert",
    )
    evolved_schema = T.StructType(
        TRADE_SCHEMA.fields
        + [T.StructField("venue", T.StringType(), True)]
    )
    t1c = dict(t1, price=333.0, venue="NYSE")
    d = str(tmp_path / "f2")
    write_envelope_file(d, "batch2.json", [("MODIFY", t1c, 3)])
    changes2 = read_envelope_feed(spark, d, evolved_schema, streaming=False)
    apply_changes(spark, changes2, target, "id", mode="upsert")

    out = read_warehouse(spark, target)
    assert "venue" in out.columns
    rows = {r["id"]: r for r in out.collect()}
    assert rows[t1["id"]]["venue"] == "NYSE"
    assert rows[t1["id"]]["price"] == 333.0
    assert rows[t0["id"]]["venue"] is None
    assert rows[t0["id"]]["price"] == t0["price"]
    # and replaying the evolved batch converges (no dup keys, same values)
    apply_changes(spark, changes2, target, "id", mode="upsert")
    out2 = read_warehouse(spark, target)
    assert out2.count() == 2
    assert out2.filter(F.col("id") == t1["id"]).first()["venue"] == "NYSE"


def test_incremental_agg_arbitrates_late_and_replayed_changes(spark):
    """A batch row whose seq is OLDER than the stored row's must not
    regress the key (base_state carries the seq columns, so the
    operator arbitrates max-seq per key); an exact replay of the
    stored row (equal seq) is a no-op."""
    from pyspark.sql import functions as F

    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.incremental import (
        incremental_upsert_agg,
    )

    base_state = spark.createDataFrame(
        [(1, "a", "10.00", 5), (2, "a", "20.00", 5), (3, "b", "30.00", 5)],
        "k long, g string, v string, seq long",
    ).select("k", "g", F.col("v").cast("decimal(12,2)").alias("v"), "seq")
    base_agg = base_state.groupBy("g").agg(
        F.count("*").alias("n_keys"), F.sum("v").alias("total_value")
    )
    changes = spark.createDataFrame(
        [
            (1, "b", "99.00", 3, "UPSERT"),   # LATE: seq 3 < stored 5 -> ignored
            (2, "a", "20.00", 5, "UPSERT"),   # exact replay (tie) -> no-op
            (3, None, None, 6, "REMOVE"),     # genuinely newer tombstone
        ],
        "k long, g string, v string, seq long, op string",
    ).select("k", "g", F.col("v").cast("decimal(12,2)").alias("v"), "seq", "op")
    got = {
        r["g"]: (r["n_keys"], float(r["total_value"]))
        for r in incremental_upsert_agg(
            base_state, base_agg, changes,
            key="k", group_col="g", value_col="v", seq_cols=["seq"],
        ).collect()
    }
    # full recompute on max-seq state: k1 (a,10), k2 (a,20), k3 deleted
    assert got == {"a": (2, 30.0)}, got


def test_partitioned_schema_evolution_read_warehouse(spark, tmp_path):
    """After a schema-evolving upsert on a PARTITIONED table, dynamic
    partition overwrite rewrites only the touched partition, so the
    untouched partition keeps old-schema footers — read_warehouse must
    still surface the union schema (mergeSchema) instead of silently
    binding to an old footer and dropping the evolved column."""
    from pyspark.sql import types as T

    t0, t1 = make_trade(0), make_trade(1)  # shares 200 and 210
    target = str(tmp_path / "wh_part_evolve")
    apply_changes(
        spark,
        _feed(spark, tmp_path, [("INSERT", t0, 1), ("INSERT", t1, 2)], "pf1"),
        target,
        "id",
        mode="upsert",
        partition_by=["shares"],
    )
    evolved_schema = T.StructType(
        TRADE_SCHEMA.fields + [T.StructField("venue", T.StringType(), True)]
    )
    t1c = dict(t1, price=333.0, venue="NYSE")
    d = str(tmp_path / "pf2")
    write_envelope_file(d, "batch2.json", [("MODIFY", t1c, 3)])
    changes2 = read_envelope_feed(spark, d, evolved_schema, streaming=False)
    apply_changes(
        spark, changes2, target, "id", mode="upsert", partition_by=["shares"]
    )

    out = read_warehouse(spark, target)
    assert "venue" in out.columns
    rows = {r["id"]: r for r in out.collect()}
    assert rows[t1["id"]]["venue"] == "NYSE"
    assert rows[t1["id"]]["price"] == 333.0
    assert rows[t0["id"]]["venue"] is None  # untouched partition, old footer
    assert rows[t0["id"]]["price"] == t0["price"]


def test_remove_tombstone_blocks_late_resurrection(spark, tmp_path):
    """Cross-batch reordering around a delete: a REMOVE winner must
    leave a seq-bearing tombstone so a LATER batch replaying an OLDER
    upsert cannot resurrect the key; a genuinely newer upsert revives
    it."""
    t0 = make_trade(0)
    target = str(tmp_path / "wh_tomb")
    apply_changes(
        spark, _feed(spark, tmp_path, [("INSERT", t0, 1)], "tf1"),
        target, "id", mode="upsert", propagate_deletes=True,
    )
    apply_changes(
        spark, _feed(spark, tmp_path, [("REMOVE", {"id": t0["id"]}, 3)], "tf2"),
        target, "id", mode="upsert", propagate_deletes=True,
    )
    assert read_warehouse(spark, target).count() == 0
    # late batch: an OLDER image of the deleted key arrives afterwards
    apply_changes(
        spark, _feed(spark, tmp_path, [("MODIFY", dict(t0, shares=111), 2)], "tf3"),
        target, "id", mode="upsert", propagate_deletes=True,
    )
    assert read_warehouse(spark, target).count() == 0  # stays deleted
    # genuinely newer image revives the key
    apply_changes(
        spark, _feed(spark, tmp_path, [("MODIFY", dict(t0, shares=222), 4)], "tf4"),
        target, "id", mode="upsert", propagate_deletes=True,
    )
    out = read_warehouse(spark, target)
    assert out.count() == 1
    assert out.first()["shares"] == 222


def test_vacuum_tombstones_gc(spark, tmp_path):
    """Tombstone GC: vacuuming drops only tombstones older than the
    replay horizon; newer tombstones keep protecting their keys, and a
    vacuumed key's resurrection window re-opens (the documented caller
    invariant — GC only behind the horizon)."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.maintenance import (
        vacuum_tombstones,
    )

    t0, t1 = make_trade(0), make_trade(1)
    target = str(tmp_path / "wh_vac")
    apply_changes(
        spark, _feed(spark, tmp_path, [("INSERT", t0, 1), ("INSERT", t1, 2)], "vf1"),
        target, "id", mode="upsert", propagate_deletes=True,
    )
    apply_changes(
        spark,
        _feed(spark, tmp_path,
              [("REMOVE", {"id": t0["id"]}, 3), ("REMOVE", {"id": t1["id"]}, 10)],
              "vf2"),
        target, "id", mode="upsert", propagate_deletes=True,
    )
    assert read_warehouse(spark, target).count() == 0
    # horizon 5: only t0's tombstone (seq 3) is old enough to drop
    assert vacuum_tombstones(spark, target, before_seq=5) == 1
    raw = spark.read.option("mergeSchema", "true").parquet(tdd(target))
    assert raw.filter("_deleted").count() == 1  # t1's seq-10 tombstone kept
    # t1 still protected against a late older image; t0 no longer is
    apply_changes(
        spark,
        _feed(spark, tmp_path,
              [("MODIFY", dict(t1, shares=1), 4), ("MODIFY", dict(t0, shares=2), 2)],
              "vf3"),
        target, "id", mode="upsert", propagate_deletes=True,
    )
    out = {r["id"]: r["shares"] for r in read_warehouse(spark, target).collect()}
    assert out == {t0["id"]: 2}  # t0 resurrected (GC'd), t1 stays deleted
    assert vacuum_tombstones(spark, target, before_seq=1) == 0  # no-op


def test_bucketed_tombstone_blocks_late_resurrection(spark):
    """Same cross-batch-reorder-around-delete guarantee on the bucketed
    managed-table path (shared _lift_stored/_stored_form helpers)."""
    from pyspark.sql import functions as F

    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.apply import (
        apply_changes_bucketed,
        read_warehouse_table,
    )

    def envelope(rows):
        return spark.createDataFrame(
            [(str(k), op, (k, v) if v is not None else (k, None), s)
             for k, op, v, s in rows],
            "key string, op string, after struct<id:long, v:long>, seq long",
        )

    tbl = "tomb_bucketed_wh"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    try:
        apply_changes_bucketed(
            spark, envelope([(1, "MODIFY", 10, 1)]), tbl, "id", ["id"],
            n_buckets=4, propagate_deletes=True,
        )
        apply_changes_bucketed(
            spark, envelope([(1, "REMOVE", None, 3)]), tbl, "id", ["id"],
            n_buckets=4, propagate_deletes=True,
        )
        assert read_warehouse_table(spark, tbl).count() == 0
        apply_changes_bucketed(
            spark, envelope([(1, "MODIFY", 99, 2)]), tbl, "id", ["id"],
            n_buckets=4, propagate_deletes=True,  # LATE older image
        )
        assert read_warehouse_table(spark, tbl).count() == 0  # stays deleted
        apply_changes_bucketed(
            spark, envelope([(1, "MODIFY", 7, 4)]), tbl, "id", ["id"],
            n_buckets=4, propagate_deletes=True,  # genuinely newer
        )
        out = read_warehouse_table(spark, tbl).collect()
        assert [(r["id"], r["v"]) for r in out] == [(1, 7)]
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_vacuum_tombstones_partitioned_preserves_layout(spark, tmp_path):
    """Vacuuming a PARTITIONED table must keep the hive layout (the
    partition_by passthrough into the swap) and only drop the
    behind-horizon tombstones."""
    import os

    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.maintenance import (
        vacuum_tombstones,
    )
    from pyspark.sql import types as T

    ENV = T.StructType(
        [
            T.StructField("op", T.StringType()),
            T.StructField("key", T.StringType()),
            T.StructField(
                "after",
                T.StructType(
                    [
                        T.StructField("id", T.StringType()),
                        T.StructField("region", T.StringType()),
                    ]
                ),
            ),
            T.StructField("ts_ms", T.LongType()),
            T.StructField("seq", T.LongType()),
        ]
    )
    wh = str(tmp_path / "wh_pvac")
    seed = spark.createDataFrame(
        [
            ("INSERT", "a", ("a", "eu"), 1, 1),
            ("INSERT", "b", ("b", "us"), 2, 2),
        ],
        ENV,
    )
    apply_changes(
        spark, seed, wh, "id", mode="upsert", partition_by=["region"],
        propagate_deletes=True,
    )
    rm = spark.createDataFrame([("REMOVE", "b", ("b", "us"), 3, 3)], ENV)
    apply_changes(
        spark, rm, wh, "id", mode="upsert", partition_by=["region"],
        propagate_deletes=True,
    )
    assert vacuum_tombstones(
        spark, wh, before_seq=10, partition_by=["region"]
    ) == 1
    assert os.path.isdir(f"{wh}/region=eu")  # hive layout preserved
    raw = spark.read.option("mergeSchema", "true").parquet(tdd(wh))
    assert raw.count() == 1 and raw.first()["id"] == "a"


def test_vacuum_retains_null_seq_tombstones(spark, tmp_path):
    """A tombstone whose _seq is NULL must be RETAINED by vacuum (its
    replay horizon can't be proven passed) and the returned count must
    equal the rows actually removed — three-valued logic must not let
    NULL-seq rows slip through the keep filter uncounted."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.maintenance import (
        vacuum_tombstones,
    )

    target = str(tmp_path / "wh_vac_null")
    spark.createDataFrame(
        [
            (1, "live", "1", False),
            (2, "dead_old", "2", True),
            (3, "dead_null_seq", None, True),
            (4, "dead_new", "9", True),
        ],
        "id long, name string, _seq string, _deleted boolean",
    ).write.parquet(tdd(target))
    assert vacuum_tombstones(spark, target, before_seq=5) == 1
    raw = spark.read.parquet(tdd(target))
    assert raw.count() == 3
    kept = {r["name"] for r in raw.collect()}
    assert kept == {"live", "dead_null_seq", "dead_new"}


def test_vacuum_partitioned_rewrites_only_touched_partitions(spark, tmp_path):
    """The partitioned vacuum must be partition-pruned: a partition with
    no dead tombstones keeps its exact files (at 100 TB, GC cost must
    be O(partitions with deletes), not O(table))."""
    import glob
    import os

    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.maintenance import (
        vacuum_tombstones,
    )

    wh = str(tmp_path / "wh_pruned_vac")
    spark.createDataFrame(
        [
            ("a", "eu", "1", False),
            ("b", "eu", "2", True),    # dead tombstone -> eu rewritten
            ("c", "us", "3", False),   # us untouched
            ("d", "apac", "4", True),  # dead, only row -> apac removed
        ],
        "id string, region string, _seq string, _deleted boolean",
    ).write.partitionBy("region").parquet(tdd(wh))
    us_files = sorted(glob.glob(f"{tdd(wh)}/region=us/*"))
    assert vacuum_tombstones(
        spark, wh, before_seq=10, partition_by=["region"]
    ) == 2
    assert sorted(glob.glob(f"{tdd(wh)}/region=us/*")) == us_files  # untouched
    assert not os.path.isdir(f"{wh}/region=apac")  # dead-only dir removed
    raw = spark.read.option("mergeSchema", "true").parquet(tdd(wh))
    assert {r["id"] for r in raw.collect()} == {"a", "c"}


def test_vacuum_numeric_string_partitions_round_trip(spark, tmp_path):
    """Zero-padded numeric string partition values (month=01) are the
    canonical hive-inference trap: a subset read infers int and
    re-renders month=1. The vacuum must keep live rows in the touched
    partition, drop the tombstone, and never create a re-typed dir."""
    import os

    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.maintenance import (
        vacuum_tombstones,
    )

    wh = str(tmp_path / "wh_numpart")
    spark.createDataFrame(
        [
            ("a", "01", "1", False),   # live, same partition as the dead row
            ("b", "01", "2", True),    # dead tombstone
            ("c", "10", "3", False),   # live, other partition
        ],
        "id string, month string, _seq string, _deleted boolean",
    ).write.partitionBy("month").parquet(tdd(wh))
    assert vacuum_tombstones(
        spark, wh, before_seq=10, partition_by=["month"]
    ) == 1
    dirs = sorted(d for d in os.listdir(tdd(wh)) if d.startswith("month="))
    assert dirs == ["month=01", "month=10"], dirs  # no month=1 re-render
    raw = spark.read.option("mergeSchema", "true").parquet(tdd(wh))
    assert {r["id"] for r in raw.collect()} == {"a", "c"}  # live rows kept


def test_partitioned_compaction_numeric_string_partitions(spark, tmp_path):
    """Compacting a fragmented month=01 partition must rewrite INTO
    month=01, not into a re-typed month=1 twin (which would duplicate
    every row), and must ignore hidden staging leftovers."""
    import glob
    import os

    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.maintenance import (
        compact_parquet,
    )

    path = str(tmp_path / "pc_num")
    df = spark.createDataFrame(
        [(i, "01") for i in range(60)] + [(i, "10") for i in range(10)],
        "id long, month string",
    )
    for i in range(6):  # fragment month=01
        df.filter((F.col("month") == "01") & (F.col("id") % 6 == i)).coalesce(
            1
        ).write.mode("append").partitionBy("month").parquet(tdd(path))
    df.filter(F.col("month") == "10").coalesce(1).write.mode(
        "append"
    ).partitionBy("month").parquet(tdd(path))
    # hidden staging leftover from a hypothetical crashed write: must be
    # invisible to the fragmentation walk
    staged = os.path.join(path, ".spark-staging-test", "month=01")
    os.makedirs(staged)
    with open(os.path.join(staged, "part-zzz.parquet"), "wb") as f:
        f.write(b"junk")

    rows_before = sorted(
        (r["id"], r["month"]) for r in spark.read.parquet(tdd(path)).collect()
    )
    compact_parquet(spark, path, target_file_bytes=1 << 30, partition_by=["month"])
    dirs = sorted(
        d for d in os.listdir(tdd(path)) if d.startswith("month=")
    )
    assert dirs == ["month=01", "month=10"], dirs
    assert len(glob.glob(f"{tdd(path)}/month=01/*.parquet")) == 1
    rows_after = sorted(
        (r["id"], r["month"]) for r in spark.read.parquet(tdd(path)).collect()
    )
    assert rows_after == rows_before  # no duplication, no loss


def test_history_mode_time_travel(spark, tmp_path):
    """mode="history" retains every version (merge-on-read append);
    read_warehouse reconstructs latest-wins at read time and as_of_seq
    bounds the reconstruction to the table state after any past seq —
    across scrambled batch order and through a REMOVE."""
    t0, t1 = make_trade(0), make_trade(1)
    t0b = dict(t0, price=50.0)
    t1b = dict(t1, price=222.0)
    target = str(tmp_path / "wh_hist")
    b2 = _feed(
        spark, tmp_path,
        [("MODIFY", t1b, 4), ("REMOVE", {"id": t0["id"]}, 5)], "h2",
    )
    b1 = _feed(
        spark, tmp_path,
        [("INSERT", t0, 1), ("INSERT", t1, 2), ("MODIFY", t0b, 3)], "h1",
    )
    apply_changes(spark, b2, target, "id", mode="history")  # late batch first
    apply_changes(spark, b1, target, "id", mode="history")

    # current state: t0 deleted at seq 5, t1 at its seq-4 image
    cur = read_warehouse(spark, target)
    assert [(r["id"], r["price"]) for r in cur.collect()] == [
        (t1["id"], 222.0)
    ]
    # as-of 1: only t0's original insert exists
    asof1 = read_warehouse(spark, target, as_of_seq=1).collect()
    assert [(r["id"], r["price"]) for r in asof1] == [(t0["id"], t0["price"])]
    # as-of 3: t0 modified, t1 at original price
    asof3 = {
        r["id"]: r["price"]
        for r in read_warehouse(spark, target, as_of_seq=3).collect()
    }
    assert asof3 == {t0["id"]: 50.0, t1["id"]: t1["price"]}
    # as-of 4: t0 still alive (its REMOVE is seq 5), t1 updated
    asof4 = {
        r["id"]: r["price"]
        for r in read_warehouse(spark, target, as_of_seq=4).collect()
    }
    assert asof4 == {t0["id"]: 50.0, t1["id"]: 222.0}
    # with_seq surfaces the arbitration column on request
    assert "_seq" in read_warehouse(spark, target, with_seq=True).columns


def test_history_mode_replay_converges(spark, tmp_path):
    """An at-least-once replay appends duplicate version rows; the
    read-time reconstruction still yields the same state."""
    t0 = make_trade(0)
    target = str(tmp_path / "wh_hist_replay")
    b1 = _feed(spark, tmp_path, [("INSERT", t0, 1)], "hr1")
    b2 = _feed(
        spark, tmp_path, [("MODIFY", dict(t0, price=9.0), 2)], "hr2"
    )
    apply_changes(spark, b1, target, "id", mode="history")
    apply_changes(spark, b2, target, "id", mode="history")
    apply_changes(spark, b1, target, "id", mode="history")  # replay
    out = read_warehouse(spark, target).collect()
    assert len(out) == 1 and out[0]["price"] == 9.0


def test_as_of_requires_history_table(spark, tmp_path):
    target = str(tmp_path / "wh_lw")
    apply_changes(
        spark,
        _feed(spark, tmp_path, [("INSERT", make_trade(0), 1)], "lw"),
        target, "id", mode="upsert",
    )
    with pytest.raises(ValueError, match="history-mode"):
        read_warehouse(spark, target, as_of_seq=1)


def test_compact_history_folds_below_horizon(spark, tmp_path):
    """compact_history folds sub-horizon versions to one latest-wins row
    per key (tombstones included, original seqs kept): reads at or above
    the horizon are identical before and after, physical rows shrink,
    and as-of reads below the horizon are rejected via the persisted
    marker — which must also survive a later file-size compaction."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.maintenance import (
        compact_history,
        compact_parquet,
        read_history_horizon,
    )

    t0, t1, t2 = make_trade(0), make_trade(1), make_trade(2)
    target = str(tmp_path / "wh_hist_compact")
    batches = [
        [("INSERT", t0, 1), ("INSERT", t1, 2)],
        [("MODIFY", dict(t0, price=30.0), 3), ("REMOVE", {"id": t1["id"]}, 4)],
        [("INSERT", t2, 5), ("MODIFY", dict(t0, price=60.0), 6)],
    ]
    for i, ev in enumerate(batches):
        apply_changes(
            spark, _feed(spark, tmp_path, ev, f"hc{i}"), target, "id",
            mode="history",
        )

    def snap(as_of=None):
        return sorted(
            (r["id"], r["price"])
            for r in read_warehouse(spark, target, as_of_seq=as_of).collect()
        )

    before = {a: snap(a) for a in (None, 5, 6)}
    assert before[None] == sorted([(t0["id"], 60.0), (t2["id"], t2["price"])])
    assert before[5] == sorted([(t0["id"], 30.0), (t2["id"], t2["price"])])

    n_rows_before = spark.read.parquet(tdd(target)).count()
    removed = compact_history(spark, target, before_seq=5)
    # {t0@1,t0@3} fold to t0@3 and {t1@2,t1@4} to the t1@4 tombstone
    assert removed == 2
    assert spark.read.parquet(tdd(target)).count() == n_rows_before - 2
    assert {a: snap(a) for a in (None, 5, 6)} == before
    with pytest.raises(ValueError, match="compaction horizon"):
        read_warehouse(spark, target, as_of_seq=4)
    # idempotent: nothing left to fold below the horizon
    assert compact_history(spark, target, before_seq=5) == 0
    # a later file-size compaction must not lose the horizon marker
    assert read_history_horizon(target) is not None
    compact_parquet(spark, target, target_file_bytes=1 << 30)
    assert read_history_horizon(target) is not None
    assert {a: snap(a) for a in (None, 5, 6)} == before
    with pytest.raises(ValueError, match="compaction horizon"):
        read_warehouse(spark, target, as_of_seq=4)


def test_compact_history_partitioned_numeric_string_partitions(spark, tmp_path):
    """Partitioned history tables compact with partition-type inference
    OFF: partition values '01' and '1' are distinct strings whose dirs
    must round-trip exactly through the fold's rewrite (inference would
    read both as int 1, merging the partitions and re-rendering '01'
    rows into the wrong directory)."""
    import glob

    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.maintenance import (
        compact_history,
    )

    t0 = dict(make_trade(0), ticker="01")
    t1 = dict(make_trade(1), ticker="1")
    target = str(tmp_path / "wh_hist_part")
    batches = [
        [("INSERT", t0, 1), ("INSERT", t1, 2)],
        [("MODIFY", dict(t0, price=30.0), 3), ("MODIFY", dict(t1, price=40.0), 4)],
        [("MODIFY", dict(t0, price=50.0), 5)],
    ]
    for i, ev in enumerate(batches):
        apply_changes(
            spark, _feed(spark, tmp_path, ev, f"hp{i}"), target, "id",
            mode="history", partition_by=["ticker"],
        )
    assert sorted(
        d.rsplit("=", 1)[1] for d in glob.glob(f"{tdd(target)}/ticker=*")
    ) == ["01", "1"]

    def snap(as_of=None):
        return sorted(
            (r["id"], str(r["ticker"]), r["price"])
            for r in read_warehouse(spark, target, as_of_seq=as_of).collect()
        )

    before = {a: snap(a) for a in (None, 4, 5)}
    removed = compact_history(
        spark, target, before_seq=4, partition_by=["ticker"]
    )
    assert removed == 1  # t0@1,t0@3 -> t0@3; t1@2 alone below the cut
    assert sorted(
        d.rsplit("=", 1)[1] for d in glob.glob(f"{tdd(target)}/ticker=*")
    ) == ["01", "1"]
    assert {a: snap(a) for a in (None, 4, 5)} == before


# ---------------------------------------------------------------------------
# Change-data-feed read (read_changes): the lakehouse CDF contract over
# the history-mode version log.
# ---------------------------------------------------------------------------


def _changes(spark, target, **kw):
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.apply import (
        read_changes,
    )

    return sorted(
        (r["id"], int(r["_seq"]), r["_change_type"])
        for r in read_changes(spark, target, **kw).collect()
    )


def test_read_changes_classification(spark, tmp_path):
    """insert / update / delete / re-insert typing against each key's
    prior history, no-op deletes suppressed, across scrambled batches."""
    t0, t1 = make_trade(0), make_trade(1)
    t2 = make_trade(2)
    target = str(tmp_path / "wh_cdf")
    b2 = _feed(
        spark, tmp_path,
        [("REMOVE", {"id": t0["id"]}, 5), ("INSERT", t0, 6),
         ("REMOVE", {"id": t2["id"]}, 7)],  # t2 never existed: no-op
        "c2",
    )
    b1 = _feed(
        spark, tmp_path,
        [("INSERT", t0, 1), ("INSERT", t1, 2),
         ("MODIFY", dict(t0, price=50.0), 3), ("MODIFY", dict(t1, price=9.0), 4)],
        "c1",
    )
    apply_changes(spark, b2, target, "id", mode="history")  # late first
    apply_changes(spark, b1, target, "id", mode="history")
    assert _changes(spark, target) == sorted(
        [
            (t0["id"], 1, "insert"),
            (t1["id"], 2, "insert"),
            (t0["id"], 3, "update"),
            (t1["id"], 4, "update"),
            (t0["id"], 5, "delete"),
            (t0["id"], 6, "insert"),  # re-insert after delete
        ]
    )


def test_read_changes_range_bounds_use_full_history(spark, tmp_path):
    """(from_seq, to_seq] bounds; a key's first IN-RANGE change is typed
    by its PRE-range liveness (update, not insert)."""
    t0, t1 = make_trade(0), make_trade(1)
    target = str(tmp_path / "wh_cdf_rng")
    feed = _feed(
        spark, tmp_path,
        [("INSERT", t0, 1), ("INSERT", t1, 2),
         ("MODIFY", dict(t0, price=50.0), 3), ("REMOVE", {"id": t1["id"]}, 4),
         ("MODIFY", dict(t0, price=60.0), 5)],
        "r1",
    )
    apply_changes(spark, feed, target, "id", mode="history")
    assert _changes(spark, target, from_seq=2, to_seq=4) == sorted(
        [(t0["id"], 3, "update"), (t1["id"], 4, "delete")]
    )
    # from bound is exclusive, to bound inclusive
    assert _changes(spark, target, from_seq=1, to_seq=1) == []
    assert _changes(spark, target, to_seq=1) == [(t0["id"], 1, "insert")]


def test_read_changes_replay_collapses_duplicates(spark, tmp_path):
    """An at-least-once replay appends duplicate (key, seq) version rows;
    the feed emits each change once, with its original type."""
    t0 = make_trade(0)
    target = str(tmp_path / "wh_cdf_rp")
    b1 = _feed(
        spark, tmp_path,
        [("INSERT", t0, 1), ("MODIFY", dict(t0, price=50.0), 2)], "p1",
    )
    apply_changes(spark, b1, target, "id", mode="history")
    apply_changes(spark, b1, target, "id", mode="history")  # replay
    assert _changes(spark, target) == [
        (t0["id"], 1, "insert"),
        (t0["id"], 2, "update"),
    ]


def test_read_changes_requires_history_table(spark, tmp_path):
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.apply import (
        read_changes,
    )

    target = str(tmp_path / "wh_cdf_up")
    apply_changes(
        spark, _feed(spark, tmp_path, [("INSERT", make_trade(0), 1)], "u1"),
        target, "id", mode="upsert",
    )
    with pytest.raises(ValueError, match="history-mode"):
        read_changes(spark, target)


def test_read_changes_horizon_interaction(spark, tmp_path):
    """Reads starting below the compaction horizon raise; at/above it the
    feed is exact — the kept sub-horizon snapshot row supplies the
    prior-liveness, so the first post-horizon change of a compacted key
    still types as update, and unbounded reads (which would include the
    folded range) are refused."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.apply import (
        read_changes,
    )
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.maintenance import (
        compact_history,
    )

    t0 = make_trade(0)
    target = str(tmp_path / "wh_cdf_hz")
    feed = _feed(
        spark, tmp_path,
        [("INSERT", t0, 1), ("MODIFY", dict(t0, price=50.0), 2),
         ("MODIFY", dict(t0, price=60.0), 3), ("MODIFY", dict(t0, price=70.0), 4)],
        "h1",
    )
    apply_changes(spark, feed, target, "id", mode="history")
    before = _changes(spark, target, from_seq=3)
    compact_history(spark, target, before_seq=3)  # folds seq 1,2 -> 2
    assert _changes(spark, target, from_seq=3) == before == [
        (t0["id"], 4, "update")
    ]
    with pytest.raises(ValueError, match="horizon"):
        read_changes(spark, target)  # unbounded start
    with pytest.raises(ValueError, match="horizon"):
        read_changes(spark, target, from_seq=1)


def test_follow_changes_tail_with_checkpoint(spark, tmp_path):
    """Consumer-side change-feed tailing: each drain delivers exactly
    the new window, the checkpoint advances only after process returns
    (a failing process re-delivers — at-least-once), and an idle drain
    delivers nothing."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.apply import (
        follow_changes,
    )

    t0, t1 = make_trade(0), make_trade(1)
    target = str(tmp_path / "wh_follow")
    ckpt = str(tmp_path / "ckpt")
    seen: list[tuple] = []

    def collect(df, frm, to):
        seen.extend(
            (r["id"], int(r["_seq"]), r["_change_type"])
            for r in df.collect()
        )

    b1 = _feed(spark, tmp_path, [("INSERT", t0, 1), ("INSERT", t1, 2)], "fw1")
    apply_changes(spark, b1, target, "id", mode="history")
    assert follow_changes(spark, target, ckpt, collect) == 1
    assert sorted(seen) == sorted(
        [(t0["id"], 1, "insert"), (t1["id"], 2, "insert")]
    )

    # idle drain: nothing new, checkpoint holds
    assert follow_changes(spark, target, ckpt, collect) == 0

    b2 = _feed(
        spark, tmp_path,
        [("MODIFY", dict(t0, price=50.0), 3), ("REMOVE", {"id": t1["id"]}, 4)],
        "fw2",
    )
    apply_changes(spark, b2, target, "id", mode="history")

    # a consumer that crashes mid-window must see the SAME window again
    calls = {"n": 0}

    def flaky(df, frm, to):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("consumer crash before commit")
        collect(df, frm, to)

    with pytest.raises(RuntimeError):
        follow_changes(spark, target, ckpt, flaky)
    assert follow_changes(spark, target, ckpt, flaky) == 1  # re-delivered
    assert sorted(seen) == sorted(
        [
            (t0["id"], 1, "insert"),
            (t1["id"], 2, "insert"),
            (t0["id"], 3, "update"),
            (t1["id"], 4, "delete"),
        ]
    )


def test_validate_warehouse_audit(spark, tmp_path):
    """Healthy upsert and history tables audit clean; hand-corrupted
    tables surface the exact broken invariant."""
    from pyspark.sql import functions as F

    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.maintenance import (
        validate_warehouse,
    )

    t0, t1 = make_trade(0), make_trade(1)
    up = str(tmp_path / "wh_audit_up")
    apply_changes(
        spark,
        _feed(spark, tmp_path, [("INSERT", t0, 1), ("INSERT", t1, 2),
                                ("MODIFY", dict(t0, price=5.0), 3)], "a1"),
        up, "id", mode="upsert", propagate_deletes=True,
    )
    a = validate_warehouse(spark, up, "id")
    assert (a.n_null_keys, a.n_duplicate_keys, a.n_null_seq_tombstones) == (0, 0, 0)
    assert a.n_rows == 2

    hist = str(tmp_path / "wh_audit_hist")
    feed = _feed(spark, tmp_path, [("INSERT", t0, 1), ("MODIFY", dict(t0, price=2.0), 2)], "a2")
    apply_changes(spark, feed, hist, "id", mode="history")
    apply_changes(spark, feed, hist, "id", mode="history")  # replay dups are benign...
    h = validate_warehouse(spark, hist, "id")
    assert h.n_null_keys == 0
    # ...but they DO show as duplicate (key, seq) version groups — the
    # audit reports what compaction/readers are absorbing
    assert h.n_duplicate_keys == 2

    # corrupt an upsert table: append a duplicate live row for t0's key.
    # The version dir carries a fileset manifest (round 10), so a raw
    # external append is INVISIBLE by design — commit the corruption
    # into the manifest (what a buggy engine writer would have done) so
    # the audit can see it.
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators import (
        fileset,
    )

    extra = spark.read.parquet(tdd(up)).filter(F.col("id") == t0["id"])
    before = set(fileset.read_fileset(tdd(up)) or [])
    extra.write.mode("append").parquet(tdd(up))
    clean = validate_warehouse(spark, up, "id")
    assert clean.n_duplicate_keys == 0  # unlogged junk stays invisible
    new = [
        r for r in fileset.walk_data_files(tdd(up)) if r not in before
    ]
    fileset.append_batch(tdd(up), new)
    bad = validate_warehouse(spark, up, "id")
    assert bad.n_duplicate_keys == 1


def test_read_changes_across_schema_evolution(spark, tmp_path):
    """History batches whose after-image gains a column mid-stream still
    feed a correct CDF: pre-evolution changes read NULL in the new
    column, classification is unaffected, and the union schema comes
    back from the footer merge."""
    from pyspark.sql import types as T

    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.apply import (
        read_changes,
    )
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.sources.change_feed import (
        read_envelope_feed,
    )
    from .fixtures import write_envelope_file

    t0 = make_trade(0)
    target = str(tmp_path / "wh_cdf_evo")
    d1 = str(tmp_path / "evo_f1")
    write_envelope_file(d1, "b.json", [("INSERT", t0, 1)])
    apply_changes(
        spark,
        read_envelope_feed(spark, d1, TRADE_SCHEMA, streaming=False),
        target, "id", mode="history",
    )
    evolved = T.StructType(
        TRADE_SCHEMA.fields + [T.StructField("venue", T.StringType())]
    )
    d2 = str(tmp_path / "evo_f2")
    write_envelope_file(
        d2, "b.json", [("MODIFY", dict(t0, venue="NYSE"), 2)]
    )
    apply_changes(
        spark,
        read_envelope_feed(spark, d2, evolved, streaming=False),
        target, "id", mode="history",
    )
    rows = {
        int(r["_seq"]): r
        for r in read_changes(spark, target).collect()
    }
    assert rows[1]["_change_type"] == "insert" and rows[1]["venue"] is None
    assert rows[2]["_change_type"] == "update" and rows[2]["venue"] == "NYSE"


def test_purge_keys_hard_deletes_everywhere(spark, tmp_path):
    """purge_keys erases every stored row of a key: live images and
    tombstones on latest-wins tables; EVERY version on history tables
    (time travel and the change feed stop returning the key at any
    seq)."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.apply import (
        read_changes,
    )
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.maintenance import (
        purge_keys,
    )

    t0, t1 = make_trade(0), make_trade(1)
    up = str(tmp_path / "wh_purge_up")
    apply_changes(
        spark,
        _feed(spark, tmp_path, [("INSERT", t0, 1), ("INSERT", t1, 2),
                                ("REMOVE", {"id": t0["id"]}, 3)], "p1"),
        up, "id", mode="upsert", propagate_deletes=True,
    )
    # t0 is a stored tombstone; purge must remove it too
    assert purge_keys(spark, up, "id", [t0["id"]]) == 1
    stored = spark.read.parquet(tdd(up))
    assert stored.count() == 1 and stored.first()["id"] == t1["id"]
    assert purge_keys(spark, up, "id", [t0["id"]]) == 0  # idempotent

    hist = str(tmp_path / "wh_purge_hist")
    apply_changes(
        spark,
        _feed(spark, tmp_path, [("INSERT", t0, 1), ("MODIFY", dict(t0, price=2.0), 2),
                                ("INSERT", t1, 3)], "p2"),
        hist, "id", mode="history",
    )
    assert purge_keys(spark, hist, "id", [t0["id"]]) == 2  # both versions
    assert [r["id"] for r in read_warehouse(spark, hist).collect()] == [t1["id"]]
    assert [r["id"] for r in read_warehouse(spark, hist, as_of_seq=1).collect()] == []
    assert [(r["id"], r["_change_type"]) for r in read_changes(spark, hist).collect()] == [
        (t1["id"], "insert")
    ]


def test_purge_keys_partitioned_rewrites_only_touched(spark, tmp_path):
    """With partition_by, purge rewrites ONLY the partitions holding the
    keys — untouched partition files stay byte-identical (same inode
    mtimes), and a partition emptied by the purge disappears."""
    import glob
    import os

    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.maintenance import (
        purge_keys,
    )

    target = str(tmp_path / "wh_purge_part")
    trades = [make_trade(i) for i in range(6)]
    env = [("INSERT", dict(t, ticker=f"tk{i % 3}"), i + 1)
           for i, t in enumerate(trades)]
    apply_changes(
        spark, _feed(spark, tmp_path, env, "p3"), target, "id",
        mode="upsert", partition_by=["ticker"],
    )
    untouched = {
        f: os.stat(f).st_mtime_ns
        for f in glob.glob(f"{tdd(target)}/ticker=tk1/*.parquet")
        + glob.glob(f"{tdd(target)}/ticker=tk2/*.parquet")
    }
    assert untouched
    # purge both tk0 keys: the tk0 partition empties and disappears
    doomed = [t["id"] for i, t in enumerate(trades) if i % 3 == 0]
    assert purge_keys(spark, target, "id", doomed, partition_by=["ticker"]) == 2
    assert not glob.glob(f"{tdd(target)}/ticker=tk0")
    assert {
        f: os.stat(f).st_mtime_ns
        for f in glob.glob(f"{tdd(target)}/ticker=tk1/*.parquet")
        + glob.glob(f"{tdd(target)}/ticker=tk2/*.parquet")
    } == untouched
    assert spark.read.parquet(tdd(target)).count() == 4


def test_read_changes_partitioned_history(spark, tmp_path):
    """CDF over a hive-partitioned history table: partition columns come
    back on the feed rows and classification is unaffected by the
    partition-routed layout."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.apply import (
        read_changes,
    )

    t0, t1 = make_trade(0), make_trade(1)
    target = str(tmp_path / "wh_cdf_part")
    env = [("INSERT", dict(t0, ticker="aa"), 1),
           ("INSERT", dict(t1, ticker="bb"), 2),
           ("MODIFY", dict(t0, ticker="aa", price=9.0), 3)]
    apply_changes(
        spark, _feed(spark, tmp_path, env, "cp1"), target, "id",
        mode="history", partition_by=["ticker"],
    )
    out = {
        int(r["_seq"]): (r["_change_type"], str(r["ticker"]))
        for r in read_changes(spark, target).collect()
    }
    assert out == {1: ("insert", "aa"), 2: ("insert", "bb"),
                   3: ("update", "aa")}


def test_sync_changes_maintains_downstream_replica(spark, tmp_path):
    """Warehouse-to-warehouse CDC: a downstream upsert replica maintained
    by tailing the source history table's own change feed converges to
    the source's reader view across multiple drains, deletes included,
    and a drain with nothing new applies nothing."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.apply import (
        sync_changes,
    )

    t0, t1 = make_trade(0), make_trade(1)
    src = str(tmp_path / "wh_src")
    dst = str(tmp_path / "wh_dst")
    ck = str(tmp_path / "sync_ck")

    def snap(path):
        return sorted(
            (r["id"], r["price"]) for r in read_warehouse(spark, path).collect()
        )

    apply_changes(
        spark,
        _feed(spark, tmp_path, [("INSERT", t0, 1), ("INSERT", t1, 2)], "s1"),
        src, "id", mode="history",
    )
    assert sync_changes(spark, src, dst, ck, "id") == 1
    assert snap(dst) == snap(src)

    apply_changes(
        spark,
        _feed(spark, tmp_path,
              [("MODIFY", dict(t0, price=77.0), 3),
               ("REMOVE", {"id": t1["id"]}, 4)], "s2"),
        src, "id", mode="history",
    )
    assert sync_changes(spark, src, dst, ck, "id") == 1
    assert snap(dst) == snap(src) == [(t0["id"], 77.0)]
    assert sync_changes(spark, src, dst, ck, "id") == 0  # idle drain


def test_follow_changes_checkpoint_below_horizon_raises(spark, tmp_path):
    """A consumer offline past a compaction loses its window: the next
    drain raises the horizon error instead of silently feeding a
    too-new reconstruction — it must bootstrap from a snapshot, like
    any log-compacted source."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.apply import (
        follow_changes,
    )
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.maintenance import (
        compact_history,
    )

    t0 = make_trade(0)
    src = str(tmp_path / "wh_hz_src")
    ck = str(tmp_path / "hz_ck")
    apply_changes(
        spark,
        _feed(spark, tmp_path, [("INSERT", t0, 1), ("MODIFY", dict(t0, price=2.0), 2)], "h1"),
        src, "id", mode="history",
    )
    assert follow_changes(spark, src, ck, lambda df, a, b: None) == 1

    # consumer goes offline; more changes land and compaction folds
    # everything below seq 4 — including the consumer's checkpoint (2)
    apply_changes(
        spark,
        _feed(spark, tmp_path, [("MODIFY", dict(t0, price=3.0), 3),
                                ("MODIFY", dict(t0, price=4.0), 4)], "h2"),
        src, "id", mode="history",
    )
    compact_history(spark, src, before_seq=4)
    with pytest.raises(ValueError, match="horizon"):
        follow_changes(spark, src, ck, lambda df, a, b: None)


def test_sync_aggregate_materialized_view_over_cdf(spark, tmp_path):
    """A materialized aggregate maintained from the history table's own
    change feed equals a full recompute after every drain — through
    inserts, group movement, deletes, an idempotent re-drain, and the
    compaction-horizon fallback."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.incremental import (
        sync_aggregate,
    )
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.maintenance import (
        compact_history,
    )

    src = str(tmp_path / "wh_mv_src")
    agg = str(tmp_path / "wh_mv_agg")

    def trade(i, ticker, price):
        return dict(make_trade(i), ticker=ticker, price=float(price))

    def expected():
        cur = read_warehouse(spark, src)
        return sorted(
            (r["ticker"], r["n"], float(r["tv"]))
            for r in cur.groupBy("ticker")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("price").cast("decimal(18,2)")).alias("tv"),
            )
            .collect()
        )

    def got():
        return sorted(
            (r["ticker"], r["n_keys"], float(r["total_value"]))
            for r in spark.read.parquet(tdd(agg)).collect()
        )

    apply_changes(
        spark,
        _feed(spark, tmp_path,
              [("INSERT", trade(0, "aa", 10), 1),
               ("INSERT", trade(1, "aa", 20), 2),
               ("INSERT", trade(2, "bb", 5), 3)], "m1"),
        src, "id", mode="history",
    )
    assert sync_aggregate(spark, src, agg, "ticker", "price") is not None
    assert got() == expected()
    assert sync_aggregate(spark, src, agg, "ticker", "price") is None  # idempotent

    # group movement (t0 aa->bb), value change, delete (t2): incremental path
    apply_changes(
        spark,
        _feed(spark, tmp_path,
              [("MODIFY", trade(0, "bb", 11), 4),
               ("REMOVE", {"id": make_trade(2)["id"]}, 5)], "m2"),
        src, "id", mode="history",
    )
    assert sync_aggregate(spark, src, agg, "ticker", "price") is not None
    assert got() == expected() == [("aa", 1, 20.0), ("bb", 1, 11.0)]

    # consumer lapses below the compaction horizon: fallback recompute
    apply_changes(
        spark,
        _feed(spark, tmp_path, [("MODIFY", trade(1, "cc", 21), 6)], "m3"),
        src, "id", mode="history",
    )
    compact_history(spark, src, before_seq=6)
    assert sync_aggregate(spark, src, agg, "ticker", "price") is not None
    assert got() == expected() == [("bb", 1, 11.0), ("cc", 1, 21.0)]


def test_purge_keys_null_key_rows_survive(spark, tmp_path):
    """Three-valued-logic guard: isin() on a NULL key yields NULL and
    ~NULL is NULL, so an un-coalesced survivor filter would silently
    DELETE every NULL-key row. NULL keys are never a requested purge
    value — they must survive the rewrite, and the count must agree
    with the rows actually removed."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.maintenance import (
        purge_keys,
    )

    # append-mode (bug-compat) table written with a NULL key row
    path = str(tmp_path / "wh_purge_null")
    spark.createDataFrame(
        [("k1", 1.0), (None, 2.0), ("k2", 3.0)], "id string, price double"
    ).write.parquet(tdd(path))
    assert purge_keys(spark, path, "id", ["k1"]) == 1
    left = sorted(
        ((r["id"], r["price"]) for r in spark.read.parquet(tdd(path)).collect()),
        key=lambda t: (t[0] is not None, t[0] or ""),
    )
    assert left == [(None, 2.0), ("k2", 3.0)]
    # partitioned path takes the same predicate
    part = str(tmp_path / "wh_purge_null_part")
    spark.createDataFrame(
        [("k1", "aa", 1.0), (None, "aa", 2.0), ("k2", "bb", 3.0)],
        "id string, ticker string, price double",
    ).write.partitionBy("ticker").parquet(tdd(part))
    assert purge_keys(spark, part, "id", ["k1"], partition_by=["ticker"]) == 1
    left = sorted(
        ((r["id"], r["ticker"]) for r in spark.read.parquet(tdd(part)).collect()),
        key=lambda t: (t[0] is not None, t[0] or ""),
    )
    assert left == [(None, "aa"), ("k2", "bb")]


def test_agg_offset_marker_survives_table_swaps(spark, tmp_path):
    """sync_aggregate's feed offset is a sidecar marker carried by
    _swap_into — so ANY swap of the aggregate table (e.g. a file-size
    compaction) must preserve it, or later drains silently degrade to
    full recomputes."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.apply import (
        _SIDECAR_MARKERS,
    )
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.incremental import (
        AGG_THROUGH_MARKER,
        sync_aggregate,
    )
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.maintenance import (
        compact_parquet,
    )

    assert AGG_THROUGH_MARKER in _SIDECAR_MARKERS

    src = str(tmp_path / "wh_mk_src")
    agg = str(tmp_path / "wh_mk_agg")
    apply_changes(
        spark,
        _feed(spark, tmp_path,
              [("INSERT", make_trade(0), 1), ("INSERT", make_trade(1), 2)],
              "mk1"),
        src, "id", mode="history",
    )
    through = sync_aggregate(spark, src, agg, "ticker", "price")
    assert through is not None
    import os

    marker = os.path.join(tdd(agg), AGG_THROUGH_MARKER)
    with open(marker) as f:
        assert f.read() == through
    compact_parquet(spark, agg, target_file_bytes=1 << 30)
    # the swap committed a NEW version dir: re-resolve the marker
    with open(os.path.join(tdd(agg), AGG_THROUGH_MARKER)) as f:
        assert f.read() == through  # swap carried the offset
    # and the next drain still sees "nothing new" instead of recomputing
    assert sync_aggregate(spark, src, agg, "ticker", "price") is None


def test_schema_manifest_replaces_mergeschema_on_hot_reads(spark, tmp_path, monkeypatch):
    """Write-time schema manifest: every engine write path records the
    union schema in a sidecar, and the hot readers (read_warehouse /
    read_changes / follow_changes / sync_aggregate) IMPOSE it instead
    of paying mergeSchema's O(all files) driver-side footer union per
    read. Pinned by a reader spy: with a manifest present, no hot read
    sets the mergeSchema option; results equal the footer-union read
    through schema evolution; manifest-less tables fall back."""
    import os

    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.apply import (
        SCHEMA_MANIFEST,
        read_changes,
        read_table_schema,
        refresh_table_schema,
    )

    target = str(tmp_path / "wh_manifest")
    t0 = make_trade(0)
    apply_changes(
        spark,
        _feed(spark, tmp_path, [("INSERT", t0, 1)], "sm1"),
        target, "id", mode="history",
    )
    assert os.path.exists(os.path.join(tdd(target), SCHEMA_MANIFEST))

    # evolving batch: new column via an evolved envelope schema
    import pyspark.sql.types as T
    evolved = T.StructType(
        list(TRADE_SCHEMA.fields) + [T.StructField("venue", T.StringType())]
    )
    d2 = str(tmp_path / "sm2")
    write_envelope_file(
        d2, "b.json", [("MODIFY", dict(t0, venue="NYSE"), 2)]
    )
    apply_changes(
        spark,
        read_envelope_feed(spark, d2, evolved, streaming=False),
        target, "id", mode="history",
    )
    manifest = read_table_schema(target)
    assert "venue" in manifest.fieldNames()

    # spy: hot reads must not set mergeSchema while a manifest exists
    from pyspark.sql.readwriter import DataFrameReader

    merge_calls = []
    orig = DataFrameReader.option

    def spy(self, key, value):
        if str(key).lower() == "mergeschema":
            merge_calls.append(value)
        return orig(self, key, value)

    monkeypatch.setattr(DataFrameReader, "option", spy)
    got = sorted(
        ((r["id"], r["venue"], int(r["_seq"]), r["_change_type"])
         for r in read_changes(spark, target).collect()),
        key=lambda t: t[2],
    )
    latest = read_warehouse(spark, target).first()
    assert merge_calls == []
    monkeypatch.undo()

    assert got == [(t0["id"], None, 1, "insert"), (t0["id"], "NYSE", 2, "update")]
    assert latest["venue"] == "NYSE"

    # equality with the footer-union read (sorted columns)
    ref = spark.read.option("mergeSchema", "true").parquet(tdd(target))
    imposed = spark.read.schema(manifest).parquet(tdd(target))
    assert sorted(
        map(tuple, ref.select(*sorted(ref.columns)).collect())
    ) == sorted(map(tuple, imposed.select(*sorted(imposed.columns)).collect()))

    # manifest-less fallback: delete it, reads still work (mergeSchema)
    os.remove(os.path.join(tdd(target), SCHEMA_MANIFEST))
    assert read_warehouse(spark, target).first()["venue"] == "NYSE"
    # external-writer escape hatch re-derives and stamps
    s = refresh_table_schema(spark, target)
    assert "venue" in s.fieldNames()
    assert read_table_schema(target) is not None


def test_single_writer_fence_serializes_or_fails_cleanly(spark, tmp_path):
    """The swap protocol is single-writer: while one writer holds a
    table's lock, a second mutation of the same path raises
    ConcurrentWriteError (never a torn table); a lock left by a DEAD
    same-host writer is adopted automatically so crash recovery keeps
    working; break_table_lock is the cross-host escape hatch; and two
    genuinely concurrent writer threads with retry converge to the
    same table a serial run produces."""
    import json
    import os
    import socket
    import threading
    import time

    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.apply import (
        ConcurrentWriteError,
        _fence,
        _lock_path,
        break_table_lock,
    )
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.maintenance import (
        compact_parquet,
        purge_keys,
    )

    target = str(tmp_path / "wh_fence")
    t0 = make_trade(0)
    batch = _feed(spark, tmp_path, [("INSERT", t0, 1)], "f1")
    apply_changes(spark, batch, target, "id", mode="upsert")
    assert not os.path.exists(_lock_path(target))  # released after commit

    # a held lock blocks every mutator with a clean error
    with _fence(target, "table"):
        for op in (
            lambda: apply_changes(spark, batch, target, "id", mode="upsert"),
            lambda: compact_parquet(spark, target),
            lambda: purge_keys(spark, target, "id", [t0["id"]]),
        ):
            try:
                op()
                raise AssertionError("expected ConcurrentWriteError")
            except ConcurrentWriteError:
                pass
    # table untouched by the failed attempts
    assert read_warehouse(spark, target).count() == 1

    # dead same-host owner: adopted automatically (pid 2**22+ is free)
    dead = {"pid": 4194000, "host": socket.gethostname(), "acquired_unix": 0}
    while True:
        try:
            os.kill(dead["pid"], 0)
            dead["pid"] -= 1  # actually alive: pick another
        except ProcessLookupError:
            break
        except PermissionError:
            dead["pid"] -= 1
    with open(_lock_path(target), "w") as f:
        json.dump(dead, f)
    apply_changes(
        spark, _feed(spark, tmp_path, [("INSERT", make_trade(1), 2)], "f2"),
        target, "id", mode="upsert",
    )  # proceeds: lock adopted
    assert read_warehouse(spark, target).count() == 2

    # foreign-host owner: honored until break_table_lock
    with open(_lock_path(target), "w") as f:
        json.dump({"pid": os.getpid(), "host": "other-host"}, f)
    try:
        compact_parquet(spark, target)
        raise AssertionError("expected ConcurrentWriteError")
    except ConcurrentWriteError:
        pass
    assert break_table_lock(target)
    compact_parquet(spark, target)

    # two concurrent writers with retry converge to the serial result
    errors: list[Exception] = []

    def writer(tid: int) -> None:
        for i in range(3):
            seq = 10 + tid * 10 + i
            env = _feed(
                spark, tmp_path,
                [("INSERT", make_trade(100 + tid * 10 + i), seq)],
                f"w{tid}_{i}",
            )
            for _ in range(60):
                try:
                    apply_changes(spark, env, target, "id", mode="upsert")
                    break
                except ConcurrentWriteError:
                    time.sleep(0.1)
            else:
                errors.append(RuntimeError(f"writer {tid} starved"))

    threads = [threading.Thread(target=writer, args=(t,)) for t in (1, 2)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert errors == []
    assert read_warehouse(spark, target).count() == 8  # 2 + 2x3
    assert not os.path.exists(_lock_path(target))


def test_sync_aggregate_minmax_touched_group_recompute(spark, tmp_path):
    """Materialized min/max view over the change feed: MIN/MAX are not
    retractable, so touched groups recompute from the as-of state
    (possible precisely because history retains versions) while
    untouched groups keep their stored rows. Equality vs a full
    recompute through inserts, DELETING a group's minimum, group
    moves, an idempotent re-drain, and the horizon fallback — same
    swap-atomic offset story as sync_aggregate."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.incremental import (
        sync_aggregate_minmax,
    )
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.maintenance import (
        compact_history,
    )

    src = str(tmp_path / "wh_mm_src")
    agg = str(tmp_path / "wh_mm_agg")

    def trade(i, ticker, price):
        return dict(make_trade(i), ticker=ticker, price=float(price))

    def expected():
        cur = read_warehouse(spark, src)
        return sorted(
            (r["ticker"], r["n"], float(r["tv"]), float(r["mn"]), float(r["mx"]))
            for r in cur.groupBy("ticker")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("price").cast("decimal(18,2)")).alias("tv"),
                F.min(F.col("price").cast("decimal(18,2)")).alias("mn"),
                F.max(F.col("price").cast("decimal(18,2)")).alias("mx"),
            )
            .collect()
        )

    def got():
        return sorted(
            (r["ticker"], r["n_keys"], float(r["total_value"]),
             float(r["min_value"]), float(r["max_value"]))
            for r in spark.read.parquet(tdd(agg)).collect()
        )

    apply_changes(
        spark,
        _feed(spark, tmp_path,
              [("INSERT", trade(0, "aa", 10), 1),
               ("INSERT", trade(1, "aa", 20), 2),
               ("INSERT", trade(2, "bb", 5), 3),
               ("INSERT", trade(3, "bb", 7), 4)], "mm1"),
        src, "id", mode="history",
    )
    assert sync_aggregate_minmax(spark, src, agg, "ticker", "price") is not None
    assert got() == expected()
    assert sync_aggregate_minmax(spark, src, agg, "ticker", "price") is None

    # delete bb's MIN (t2@5), move t1 aa->bb (touches both groups),
    # and raise aa's max via t0
    apply_changes(
        spark,
        _feed(spark, tmp_path,
              [("REMOVE", {"id": make_trade(2)["id"]}, 5),
               ("MODIFY", trade(1, "bb", 9), 6),
               ("MODIFY", trade(0, "aa", 30), 7)], "mm2"),
        src, "id", mode="history",
    )
    assert sync_aggregate_minmax(spark, src, agg, "ticker", "price") is not None
    assert got() == expected() == [
        ("aa", 1, 30.0, 30.0, 30.0),
        ("bb", 2, 16.0, 7.0, 9.0),
    ]

    # empty a group entirely: its row disappears
    apply_changes(
        spark,
        _feed(spark, tmp_path,
              [("REMOVE", {"id": make_trade(0)["id"]}, 8)], "mm3"),
        src, "id", mode="history",
    )
    assert sync_aggregate_minmax(spark, src, agg, "ticker", "price") is not None
    assert got() == expected() == [("bb", 2, 16.0, 7.0, 9.0)]

    # horizon lapse: offset below compaction -> one full recompute
    apply_changes(
        spark,
        _feed(spark, tmp_path,
              [("INSERT", trade(4, "cc", 1), 9)], "mm4"),
        src, "id", mode="history",
    )
    compact_history(spark, src, before_seq=9)
    assert sync_aggregate_minmax(spark, src, agg, "ticker", "price") is not None
    assert got() == expected() == [
        ("bb", 2, 16.0, 7.0, 9.0),
        ("cc", 1, 1.0, 1.0, 1.0),
    ]


def test_sync_aggregate_drain_prunes_files(spark, tmp_path, monkeypatch):
    """The drain's two scans route through the stats sidecar: the
    in-range scan prunes on the _seq range (only files with max _seq
    past the offset are read) and the touched-history scan prunes via
    _key blooms — pinned by a prune_files spy recording strictly-
    positive pruning for both predicates, with the result still equal
    to a full recompute."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators import layout
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.incremental import (
        sync_aggregate,
    )
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.layout import (
        collect_file_blooms,
        collect_file_stats,
    )

    src = str(tmp_path / "wh_spy_src")
    agg = str(tmp_path / "wh_spy_agg")
    # 4 history batches -> >= 4 file generations, keys 0..39
    for b in range(4):
        env = spark.range(10).select(
            (F.col("id") + b * 10).cast("string").alias("key"),
            F.lit("INSERT").alias("op"),
            F.struct(
                (F.col("id") + b * 10).alias("k"),
                F.lit("g").alias("grp"),
                (F.col("id") * 2).cast("double").alias("v"),
            ).alias("after"),
            (F.col("id") + 1 + b * 10).alias("seq"),
        )
        apply_changes(spark, env, src, "k", mode="history")
    collect_file_stats(spark, src, ["_seq", "_key"])
    collect_file_blooms(spark, src, ["_key"], num_bits=1 << 12)
    assert sync_aggregate(spark, src, agg, "grp", "v") is not None

    # one touched key (k=5) in a new batch
    env = spark.createDataFrame(
        [("5", "MODIFY", (5, "g", 99.0), 41)],
        "key string, op string, after struct<k:long,grp:string,v:double>, seq long",
    )
    apply_changes(spark, env, src, "k", mode="history")

    calls = []
    orig = layout.prune_files

    def spy(path, preds):
        keep, total = orig(path, preds)
        calls.append((tuple(p[:2] for p in preds), len(keep), total))
        return keep, total

    monkeypatch.setattr(layout, "prune_files", spy)
    assert sync_aggregate(spark, src, agg, "grp", "v") is not None
    monkeypatch.undo()

    seq_calls = [c for c in calls if c[0] == (("_seq", ">"),)]
    key_calls = [c for c in calls if ("_key", "in") in c[0]]
    assert seq_calls and all(kept < total for _, kept, total in seq_calls)
    assert key_calls and all(kept < total for _, kept, total in key_calls)

    got = sorted(
        (r["grp"], r["n_keys"], float(r["total_value"]))
        for r in spark.read.parquet(tdd(agg)).collect()
    )
    exp = sorted(
        (r["grp"], r["n"], float(r["tv"]))
        for r in read_warehouse(spark, src)
        .groupBy("grp")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("v").cast("decimal(18,2)")).alias("tv"),
        )
        .collect()
    )
    assert got == exp


def test_sync_aggregate_minmax_null_group_updates(spark, tmp_path):
    """NULL is a legitimate group value: the touched-group joins are
    null-safe, so a change touching the NULL group recomputes its row
    instead of leaving it permanently stale (plain equality joins
    never match NULL)."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.incremental import (
        sync_aggregate_minmax,
    )

    src = str(tmp_path / "wh_ng_src")
    agg = str(tmp_path / "wh_ng_agg")

    def trade(i, ticker, price):
        d = dict(make_trade(i), price=float(price))
        d["ticker"] = ticker  # may be None
        return d

    def expected():
        cur = read_warehouse(spark, src)
        return sorted(
            ((r["ticker"], r["n"], float(r["mn"]), float(r["mx"]))
             for r in cur.groupBy("ticker").agg(
                F.count("*").alias("n"),
                F.min(F.col("price").cast("decimal(18,2)")).alias("mn"),
                F.max(F.col("price").cast("decimal(18,2)")).alias("mx"),
             ).collect()),
            key=lambda t: (t[0] is not None, t[0] or ""),
        )

    def got():
        return sorted(
            ((r["ticker"], r["n_keys"], float(r["min_value"]),
              float(r["max_value"]))
             for r in spark.read.parquet(tdd(agg)).collect()),
            key=lambda t: (t[0] is not None, t[0] or ""),
        )

    apply_changes(
        spark,
        _feed(spark, tmp_path,
              [("INSERT", trade(0, None, 10), 1),
               ("INSERT", trade(1, None, 20), 2),
               ("INSERT", trade(2, "aa", 5), 3)], "ng1"),
        src, "id", mode="history",
    )
    assert sync_aggregate_minmax(spark, src, agg, "ticker", "price") is not None
    assert got() == expected()

    # delete the NULL group's min and move a key INTO the NULL group
    apply_changes(
        spark,
        _feed(spark, tmp_path,
              [("REMOVE", {"id": make_trade(0)["id"]}, 4),
               ("MODIFY", trade(2, None, 7), 5)], "ng2"),
        src, "id", mode="history",
    )
    assert sync_aggregate_minmax(spark, src, agg, "ticker", "price") is not None
    assert got() == expected() == [(None, 2, 7.0, 20.0)]


def test_read_changes_null_key_rows_survive_window(spark, tmp_path):
    """NULL-key version rows form their own lag group; the touched-key
    restriction must not drop their changes when from_seq is set (the
    semi-join is null-safe)."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.apply import (
        apply_changes, read_changes,
    )

    src = str(tmp_path / "wh_nullkey")
    env = spark.createDataFrame(
        [(None, "INSERT", (1, 10.0), 1),
         ("k1", "INSERT", (2, 20.0), 2),
         (None, "MODIFY", (1, 11.0), 3)],
        "key string, op string, after struct<v:long,price:double>, seq long",
    )
    apply_changes(spark, env, src, "v", mode="history")
    win = read_changes(spark, src, from_seq=2)
    rows = [(r["_key"], int(r["_seq"]), r["_change_type"]) for r in win.collect()]
    assert rows == [(None, 3, "update")]
    # and the full feed agrees on the same row
    full = [
        (r["_key"], int(r["_seq"]), r["_change_type"])
        for r in read_changes(spark, src).collect()
        if int(r["_seq"]) > 2
    ]
    assert full == rows


def test_seq_pruning_skipped_on_noncanonical_stats(spark, tmp_path):
    """Mixed-era history tables store UNPADDED _seq strings; their
    stats record raw values that compare lexicographically wrong
    against canonical 40-char bounds. Seq-bound file pruning must
    detect this (_seq_stats_canonical) and fall back to the unpruned
    read instead of silently dropping files from time travel."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.apply import (
        _seq_stats_canonical,
    )
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.layout import (
        collect_file_stats,
    )

    path = str(tmp_path / "wh_legacy_seq")
    spark.createDataFrame(
        [(1, 10.0, "1", "5", False)],
        "k long, price double, _key string, _seq string, _deleted boolean",
    ).coalesce(1).write.parquet(tdd(path))
    spark.createDataFrame(
        [(2, 20.0, "2", "12", False)],
        "k long, price double, _key string, _seq string, _deleted boolean",
    ).coalesce(1).write.mode("append").parquet(tdd(path))
    collect_file_stats(spark, path, ["_seq", "_key"])
    assert not _seq_stats_canonical(path)
    # as-of 7: only seq 5 qualifies; a lexicographic prune against the
    # raw '5' stats would have dropped its file entirely
    rows = read_warehouse(spark, path, as_of_seq=7).collect()
    assert [(r["k"], r["price"]) for r in rows] == [(1, 10.0)]
    # canonical-era tables still report prunable
    canon = str(tmp_path / "wh_canon_seq")
    env = spark.createDataFrame(
        [("1", "INSERT", (1, 10.0), 5)],
        "key string, op string, after struct<k:long,price:double>, seq long",
    )
    apply_changes(spark, env, canon, "k", mode="history")
    collect_file_stats(spark, canon, ["_seq"])
    assert _seq_stats_canonical(canon)


def test_read_changes_selectivity_gate_toggles_restriction(spark, tmp_path):
    """The touched-key restriction appears in the plan for the
    CONSUMER-TICK regime — a window confined to fresh (sidecar-unknown)
    files, the only regime the round-8 gate sweep measured it winning —
    and is skipped for catch-up windows spanning the known files (the
    discovery pass + semi-join measured as pure overhead there at both
    10x and 100x; see READ_CHANGES_RESTRICT_GATE)."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.apply import (
        apply_changes, read_changes,
    )
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.layout import (
        collect_file_stats,
    )

    src = str(tmp_path / "wh_gate")
    # 4 seq generations, seq-clustered files (one apply per seq)
    for s in range(1, 5):
        env = spark.range(10).select(
            F.col("id").cast("string").alias("key"),
            F.lit("MODIFY").alias("op"),
            F.struct(F.col("id").alias("k"),
                     (F.col("id") * s).cast("double").alias("v")).alias("after"),
            F.lit(s).alias("seq"),
        )
        apply_changes(spark, env, src, "k", mode="history")
    collect_file_stats(spark, src, ["_seq", "_key"])
    # the steady-state tick: one fresh batch past the stats pass
    env = spark.range(10).select(
        F.col("id").cast("string").alias("key"),
        F.lit("MODIFY").alias("op"),
        F.struct(F.col("id").alias("k"),
                 (F.col("id") * 5).cast("double").alias("v")).alias("after"),
        F.lit(5).alias("seq"),
    )
    apply_changes(spark, env, src, "k", mode="history")

    def plan(from_seq):
        return read_changes(spark, src, from_seq=from_seq)._jdf.queryExecution().optimizedPlan().toString()

    # tick window (fresh files only; 0 known files in-window): restricted
    assert "Join LeftSemi" in plan(4)
    # catch-up windows spanning known files: gate skips the restriction
    assert "Join LeftSemi" not in plan(2)
    assert "Join LeftSemi" not in plan(0)
    # results identical semantics regardless of the gate
    a = sorted((r["_key"], int(r["_seq"])) for r in
               read_changes(spark, src, from_seq=4).collect())
    assert a == [(str(i), 5) for i in range(10)]


def test_sync_aggregate_inset_path_on_noncanonical_seq_stats(spark, tmp_path):
    """The drain's InSet fast path may only hand the SEQ_COL bound to
    the file pruner when the sidecar's recorded _seq stats are
    canonical (the _seq_stats_canonical guard _seq_scoped_read already
    applies): mixed-era tables record RAW stored _seq forms, and a
    canonical 40-char bound compared against an unpadded-string stat
    silently prunes the files holding pre-window state (corrupting the
    maintained aggregate), while a raw LONG stat raises TypeError. The
    KEY_COL in-predicate stays — it is era-independent."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.apply import (
        _seq_stats_canonical,
    )
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.incremental import (
        sync_aggregate,
    )
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.layout import (
        collect_file_stats,
    )

    for era, seqs in (
        ("str", ("5", "6", "12")),  # unpadded strings: silent-prune era
        ("long", (5, 6, 12)),  # raw longs: TypeError-in-pruner era
    ):
        path = str(tmp_path / f"wh_legacy_drain_{era}")
        agg = str(tmp_path / f"wh_legacy_agg_{era}")
        seq_t = "string" if era == "str" else "long"
        schema = (
            "ticker string, price double, _key string, "
            f"_seq {seq_t}, _deleted boolean"
        )
        spark.createDataFrame(
            [("aa", 10.0, "1", seqs[0], False),
             ("bb", 20.0, "2", seqs[1], False)],
            schema,
        ).coalesce(1).write.parquet(tdd(path))
        collect_file_stats(spark, path, ["_seq", "_key"])
        assert not _seq_stats_canonical(path)
        # first drain: full recompute, marker = canonical tip
        assert sync_aggregate(spark, path, agg, "ticker", "price") is not None
        # newer generation lands in its own file; stats stay raw-era
        spark.createDataFrame(
            [("aa", 11.0, "1", seqs[2], False)], schema
        ).coalesce(1).write.mode("append").parquet(tdd(path))
        collect_file_stats(spark, path, ["_seq", "_key"], incremental=True)
        # incremental drain: without the guard this either prunes away
        # the pre-window files (str era) or dies in the pruner (long
        # era); with it the aggregate equals a full recompute
        assert sync_aggregate(spark, path, agg, "ticker", "price") is not None
        got = sorted(
            (r["ticker"], r["n_keys"], float(r["total_value"]))
            for r in spark.read.parquet(tdd(agg)).collect()
        )
        assert got == [("aa", 1, 11.0), ("bb", 1, 20.0)], era


def test_current_max_seq_ignores_stale_sidecar_entries(spark, tmp_path):
    """The sidecar rides swaps with entries for files a purge/vacuum
    rewrite removed; the driver-side tip probe must only let ON-DISK
    entries vote, or the feed tip overstates past any stored row and a
    later lower-seq backfill is permanently skipped by every
    follow/sync checkpoint."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.apply import (
        current_max_seq,
    )
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.layout import (
        collect_file_stats,
    )
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.maintenance import (
        purge_keys,
    )

    src = str(tmp_path / "wh_tip_stale")
    for key, seq in (("a", 1), ("b", 9)):
        env = spark.createDataFrame(
            [(key, "INSERT", (key, float(seq)), seq)],
            "key string, op string, after struct<k:string,price:double>, "
            "seq long",
        )
        apply_changes(spark, env, src, "k", mode="history")
    collect_file_stats(spark, src, ["_seq", "_key"])
    assert current_max_seq(spark, src) == "0" * 39 + "9"
    # purge the key holding the global max: the swap carries the
    # sidecar, whose entry for the removed file is now dead
    assert purge_keys(spark, src, "_key", ["b"]) >= 1
    tip = current_max_seq(spark, src)
    assert tip == "0" * 39 + "1", tip


def test_schema_stamp_survives_crash_after_blind_append(spark, tmp_path, monkeypatch):
    """Evolving blind appends stamp the manifest BEFORE the data write
    (in addition to after): a crash between data commit and the post-
    write stamp must not strand a manifest that hides the evolved
    column from every later manifest-imposed read. Simulated by letting
    only the FIRST stamp of the evolving apply run (the pre-write one)
    and 'crashing' the post-write stamp."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators import apply as apply_mod

    path = str(tmp_path / "wh_stamp_crash")
    env1 = spark.createDataFrame(
        [("1", "INSERT", (1, 10.0), 1)],
        "key string, op string, after struct<k:long,price:double>, seq long",
    )
    apply_changes(spark, env1, path, "k", mode="history")
    assert apply_mod.read_table_schema(path) is not None

    real = apply_mod._stamp_schema_union
    calls = []

    def crash_after_first(spark_, path_, schema_):
        calls.append(1)
        if len(calls) == 1:
            real(spark_, path_, schema_)  # the pre-write stamp
        # later calls: the process died before the post-write stamp

    monkeypatch.setattr(apply_mod, "_stamp_schema_union", crash_after_first)
    env2 = spark.createDataFrame(
        [("2", "INSERT", (2, 20.0, "evolved"), 2)],
        "key string, op string, "
        "after struct<k:long,price:double,note:string>, seq long",
    )
    apply_changes(spark, env2, path, "k", mode="history")
    assert len(calls) >= 2  # pre-write AND post-write stamps attempted
    monkeypatch.undo()

    manifest = apply_mod.read_table_schema(path)
    assert manifest is not None and "note" in manifest.fieldNames()
    out = {r["k"]: r["note"] for r in read_warehouse(spark, path).collect()}
    assert out == {1: None, 2: "evolved"}


def test_sync_aggregate_minmax_drain_prunes_files(spark, tmp_path, monkeypatch):
    """The minmax drain's discovery and candidate reads route through
    the stats sidecar (the round-7 verdict's O(retained-history) gap):
    the in-range scan prunes on the _seq range, candidate-KEY discovery
    prunes on group_col stats (group-clustered files — here one group
    per batch file), and the candidates' history read prunes via _key
    blooms — pinned by a prune_files spy recording strictly-positive
    pruning for all three predicate shapes, with the maintained table
    still equal to a full recompute on all four aggregates."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators import layout
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.incremental import (
        sync_aggregate_minmax,
    )
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.layout import (
        collect_file_blooms,
        collect_file_stats,
    )

    src = str(tmp_path / "wh_mm_spy_src")
    agg = str(tmp_path / "wh_mm_spy_agg")
    # 4 history batches, one GROUP per batch -> group-clustered files
    for b in range(4):
        env = spark.range(10).select(
            (F.col("id") + b * 10).cast("string").alias("key"),
            F.lit("INSERT").alias("op"),
            F.struct(
                (F.col("id") + b * 10).alias("k"),
                F.lit(f"g{b}").alias("grp"),
                (F.col("id") * 2 + b).cast("double").alias("v"),
            ).alias("after"),
            (F.col("id") + 1 + b * 10).alias("seq"),
        )
        apply_changes(spark, env, src, "k", mode="history")
    collect_file_stats(spark, src, ["_seq", "_key", "grp"])
    collect_file_blooms(spark, src, ["_key"], num_bits=1 << 12)
    assert sync_aggregate_minmax(spark, src, agg, "grp", "v") is not None

    # one touched key in group g0 (no group move): the drain must only
    # re-read g0's file + the new batch file
    env = spark.createDataFrame(
        [("5", "MODIFY", (5, "g0", 99.0), 41)],
        "key string, op string, after struct<k:long,grp:string,v:double>, seq long",
    )
    apply_changes(spark, env, src, "k", mode="history")

    calls = []
    orig = layout.prune_files

    def spy(path, preds):
        keep, total = orig(path, preds)
        calls.append((tuple(p[:2] for p in preds), len(keep), total))
        return keep, total

    monkeypatch.setattr(layout, "prune_files", spy)
    assert sync_aggregate_minmax(spark, src, agg, "grp", "v") is not None
    monkeypatch.undo()

    seq_calls = [c for c in calls if c[0] == (("_seq", ">"),)]
    grp_calls = [c for c in calls if c[0] == (("grp", "in"),)]
    key_calls = [c for c in calls if ("_key", "in") in c[0]]
    assert seq_calls and all(kept < total for _, kept, total in seq_calls)
    assert grp_calls and all(kept < total for _, kept, total in grp_calls)
    assert key_calls and all(kept < total for _, kept, total in key_calls)

    got = sorted(
        (r["grp"], r["n_keys"], float(r["total_value"]),
         float(r["min_value"]), float(r["max_value"]))
        for r in spark.read.parquet(tdd(agg)).collect()
    )
    exp = sorted(
        (r["grp"], r["n"], float(r["tv"]), float(r["mn"]), float(r["mx"]))
        for r in read_warehouse(spark, src)
        .groupBy("grp")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("v").cast("decimal(18,2)")).alias("tv"),
            F.min(F.col("v").cast("decimal(18,2)")).alias("mn"),
            F.max(F.col("v").cast("decimal(18,2)")).alias("mx"),
        )
        .collect()
    )
    assert got == exp


def test_foreign_host_lock_lease_recovery(spark, tmp_path):
    """Cross-host dead writers: by default a foreign-host lock blocks
    until break_table_lock; with the opt-in LOCK_LEASE_SECONDS a
    foreign lock older than the lease is adopted through the same
    TOCTOU-free rename path, while a FRESH foreign lock keeps
    blocking (the lease never shortcuts a live writer)."""
    import json
    import time

    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators import apply as apply_mod

    target = str(tmp_path / "wh_lease")
    env = spark.createDataFrame(
        [("1", "INSERT", (1, 10.0), 1)],
        "key string, op string, after struct<k:long,price:double>, seq long",
    )

    def plant(age_seconds):
        with open(apply_mod._lock_path(target), "w") as f:
            f.write(json.dumps({
                "pid": 12345,
                "pid_start": "99999",
                "host": "some-other-host",
                "acquired_unix": time.time() - age_seconds,
            }))

    # default (no lease): foreign locks block regardless of age
    plant(3600)
    with pytest.raises(apply_mod.ConcurrentWriteError):
        apply_changes(spark, env, target, "k", mode="history")
    assert apply_mod.break_table_lock(target)

    # lease set: a FRESH foreign lock still blocks...
    plant(1)
    apply_mod.LOCK_LEASE_SECONDS = 300.0
    try:
        with pytest.raises(apply_mod.ConcurrentWriteError):
            apply_changes(spark, env, target, "k", mode="history")
        # ...but a stale one past the lease is adopted automatically
        assert apply_mod.break_table_lock(target)
        plant(3600)
        apply_changes(spark, env, target, "k", mode="history")
        assert read_warehouse(spark, target).count() == 1
    finally:
        apply_mod.LOCK_LEASE_SECONDS = None
