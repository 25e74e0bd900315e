"""EP2 end-to-end under Structured Streaming: stream records -> staging
NDJSON -> warehouse, both hops checkpointed; plus the collapsed
envelope->apply pipeline and the EP1 replication restatement."""

from __future__ import annotations
from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.apply import table_data_dir as tdd

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from cdc_from_sql_and_nosql_to_data_warehouse_spark.config import EngineConfig
from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.apply import read_warehouse
from cdc_from_sql_and_nosql_to_data_warehouse_spark.streaming.manager import ensure_started, find_query
from cdc_from_sql_and_nosql_to_data_warehouse_spark.streaming.pipeline import (
    run_envelope_apply,
    run_staging_to_warehouse,
    run_stream_to_staging,
)

from .fixtures import TRADE_SCHEMA, make_trade, write_envelope_file, write_stream_records_file


def _await(q):
    q.awaitTermination(120)


def test_two_hop_pipeline_append(spark, tmp_path):
    cfg = EngineConfig(apply_mode="append")
    feed = str(tmp_path / "feed")
    staging = str(tmp_path / "staging")
    wh = str(tmp_path / "warehouse")
    t0, t1, t2 = make_trade(0), make_trade(1), make_trade(2)
    write_stream_records_file(
        feed, "b1.json",
        [("INSERT", t0, 1), ("INSERT", t1, 2), ("REMOVE", {"id": t2["id"]}, 3)],
    )
    write_stream_records_file(
        feed, "b2.json", [("MODIFY", dict(t1, price=333.0), 4)]
    )

    q1 = run_stream_to_staging(
        spark, cfg, feed, staging, str(tmp_path / "ck1"), TRADE_SCHEMA
    )
    _await(q1)
    staged = sorted(os.listdir(tdd(staging)))
    # parity naming: data files say how many records they carry (K3)
    assert all("__inserted_or_modified_records.json" in f or
               "__no_inserted_or_modified_records.txt" in f for f in staged)
    data_files = [f for f in staged if f.endswith(".json")]
    assert sum(int(f.split("__")[2]) for f in data_files) == 3  # REMOVE filtered

    q2 = run_staging_to_warehouse(
        spark, cfg, staging, wh, str(tmp_path / "ck2"), TRADE_SCHEMA
    )
    _await(q2)
    out = spark.read.parquet(tdd(wh))
    assert out.count() == 3  # append mode: one row per INSERT/MODIFY event
    assert out.filter(F.col("id") == t1["id"]).count() == 2

    # restart both hops with same checkpoints: no new input => no new rows
    _await(run_stream_to_staging(spark, cfg, feed, staging, str(tmp_path / "ck1"), TRADE_SCHEMA))
    _await(run_staging_to_warehouse(spark, cfg, staging, wh, str(tmp_path / "ck2"), TRADE_SCHEMA))
    assert spark.read.parquet(tdd(wh)).count() == 3


def test_two_hop_pipeline_upsert(spark, tmp_path):
    cfg = EngineConfig(apply_mode="upsert")
    feed = str(tmp_path / "feed")
    staging = str(tmp_path / "staging")
    wh = str(tmp_path / "warehouse")
    t1 = make_trade(1)
    write_stream_records_file(feed, "b1.json", [("INSERT", t1, 1)])
    write_stream_records_file(feed, "b2.json", [("MODIFY", dict(t1, price=333.0), 2)])
    _await(run_stream_to_staging(spark, cfg, feed, staging, str(tmp_path / "ck1"), TRADE_SCHEMA))
    _await(run_staging_to_warehouse(spark, cfg, staging, wh, str(tmp_path / "ck2"), TRADE_SCHEMA))
    out = read_warehouse(spark, wh)
    assert out.count() == 1
    assert out.first()["price"] == 333.0


def test_empty_batch_writes_marker(spark, tmp_path):
    cfg = EngineConfig()
    feed = str(tmp_path / "feed")
    staging = str(tmp_path / "staging")
    t2 = make_trade(2)
    # a file whose only event is REMOVE -> zero survivors -> K4 marker
    write_stream_records_file(feed, "b1.json", [("REMOVE", {"id": t2["id"]}, 1)])
    _await(run_stream_to_staging(spark, cfg, feed, staging, str(tmp_path / "ck"), TRADE_SCHEMA))
    markers = [f for f in os.listdir(tdd(staging)) if f.endswith("__no_inserted_or_modified_records.txt")]
    assert markers and os.path.getsize(os.path.join(staging, markers[0])) == 0


def test_unknown_stream_event_fails_staging_and_stages_nothing(spark, tmp_path):
    """P2's raise guard: an eventName outside INSERT/MODIFY/REMOVE fails
    the staging query, and no staging file (not even a K4 marker) is
    written for the poisoned batch."""
    cfg = EngineConfig()
    feed = str(tmp_path / "feed")
    staging = str(tmp_path / "staging")
    t0 = make_trade(0)
    write_stream_records_file(
        feed, "b1.json", [("INSERT", t0, 1), ("TRUNCATE", t0, 2)]
    )
    q = run_stream_to_staging(
        spark, cfg, feed, staging, str(tmp_path / "ck"), TRADE_SCHEMA
    )
    with pytest.raises(Exception, match="unexpected change-event op"):
        q.awaitTermination(120)
    assert os.listdir(staging) == []


def test_unknown_stream_event_fails_plain_sink_staging(spark, tmp_path):
    """P2's raise guard holds on the ``parity_naming=False`` path too:
    the plain JSON sink's query fails on an unknown eventName instead
    of silently dropping it."""
    cfg = EngineConfig()
    feed = str(tmp_path / "feed")
    t0 = make_trade(0)
    write_stream_records_file(
        feed, "b1.json", [("INSERT", t0, 1), ("TRUNCATE", t0, 2)]
    )
    q = run_stream_to_staging(
        spark, cfg, feed, str(tmp_path / "staging"), str(tmp_path / "ck"),
        TRADE_SCHEMA, parity_naming=False,
    )
    with pytest.raises(Exception, match="unexpected change-event op"):
        q.awaitTermination(120)


def test_poisoned_batch_leaves_no_tmp_sibling(spark, tmp_path):
    """The staging write of a batch that fails the op guard is removed:
    no ``{staging}__tmp_*`` directory outlives the failed query."""
    feed = str(tmp_path / "feed")
    staging = str(tmp_path / "staging")
    t0 = make_trade(0)
    write_stream_records_file(
        feed, "b1.json", [("INSERT", t0, 1), ("TRUNCATE", t0, 2)]
    )
    q = run_stream_to_staging(
        spark, EngineConfig(), feed, staging, str(tmp_path / "ck"), TRADE_SCHEMA
    )
    with pytest.raises(Exception, match="unexpected change-event op"):
        q.awaitTermination(120)
    assert glob.glob(f"{staging}__tmp_*") == []


def test_stage_batch_runs_one_job(spark, tmp_path):
    """Hop 1's per-batch function stages a micro-batch in one Spark job:
    the record count for the K3 name rides the write itself. A batch
    with no INSERT/MODIFY record costs the same one job and leaves the
    K4 marker."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.sources.change_feed import (
        read_dynamodb_stream,
    )
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.streaming.pipeline import (
        stage_batch,
    )

    from .fixtures import run_counting_jobs

    staging = str(tmp_path / "staging")
    os.makedirs(staging)
    t0, t1, t2 = make_trade(0), make_trade(1), make_trade(2)
    write_stream_records_file(
        str(tmp_path / "f1"), "b.json",
        [("INSERT", t0, 1), ("MODIFY", t1, 2), ("REMOVE", {"id": t2["id"]}, 3)],
    )
    write_stream_records_file(
        str(tmp_path / "f2"), "b.json", [("REMOVE", {"id": t2["id"]}, 4)]
    )
    for epoch, feed, want in ((0, "f1", 2), (1, "f2", 0)):
        batch = read_dynamodb_stream(
            spark, str(tmp_path / feed), TRADE_SCHEMA, streaming=False
        )
        _, jobs = run_counting_jobs(
            spark, lambda: stage_batch(batch, epoch, staging, TRADE_SCHEMA)
        )
        assert jobs == 1, (feed, jobs)
        names = [f for f in os.listdir(staging) if f"__{want}__" in f]
        assert len(names) == 1, os.listdir(staging)
        if want:
            with open(os.path.join(staging, names[0])) as f:
                assert sorted(json.loads(x)["id"] for x in f) == sorted(
                    [t0["id"], t1["id"]]
                )
        else:
            assert names[0].endswith("__no_inserted_or_modified_records.txt")
            assert os.path.getsize(os.path.join(staging, names[0])) == 0
    assert glob.glob(f"{staging}__tmp_*") == []


def test_envelope_apply_collapsed_upsert(spark, tmp_path):
    cfg = EngineConfig(apply_mode="upsert", propagate_deletes=True)
    feed = str(tmp_path / "feed")
    wh = str(tmp_path / "warehouse")
    t0, t1 = make_trade(0), make_trade(1)
    write_envelope_file(feed, "b1.json", [("INSERT", t0, 1), ("INSERT", t1, 2)])
    write_envelope_file(feed, "b2.json", [("MODIFY", dict(t0, shares=777), 3),
                                          ("REMOVE", {"id": t1["id"]}, 4)])
    _await(run_envelope_apply(spark, cfg, feed, wh, str(tmp_path / "ck"), TRADE_SCHEMA))
    out = read_warehouse(spark, wh)
    assert out.count() == 1
    row = out.first()
    assert row["id"] == t0["id"] and row["shares"] == 777


def test_manager_start_if_not_active(spark, tmp_path):
    cfg = EngineConfig()
    feed = str(tmp_path / "feed")
    wh = str(tmp_path / "warehouse")
    write_envelope_file(feed, "b1.json", [("INSERT", make_trade(0), 1)])
    started = []

    def start():
        q = run_envelope_apply(spark, cfg, feed, wh, str(tmp_path / "ck"), TRADE_SCHEMA)
        started.append(q)
        return q

    q = ensure_started(spark, "replication", start)
    assert len(started) == 1
    _await(q)
    assert find_query(spark, "replication") is None  # availableNow finished


def test_staging_schema_evolution_name_matching(spark, tmp_path):
    """S7/K5 parity: the warehouse load binds staged JSON by column name
    (reference `COPY ... json 'auto'`, `load_s3_files...handler.py:93`):
    unknown extra fields are ignored, absent fields arrive as NULL."""
    import json as _json

    cfg = EngineConfig(apply_mode="append")
    staging = str(tmp_path / "staging")
    wh = str(tmp_path / "wh")
    os.makedirs(staging)
    t0 = make_trade(0)
    line_known = dict(t0, _seq=1, _ts_ms=1)
    line_evolved = dict(
        make_trade(1), _seq=2, _ts_ms=2, brand_new_field="ignored-by-name-matching"
    )
    line_sparse = {k: v for k, v in make_trade(2).items() if k != "price"}
    line_sparse.update(_seq=3, _ts_ms=3)
    with open(f"{staging}/f__3__inserted_or_modified_records.json", "w") as f:
        for line in (line_known, line_evolved, line_sparse):
            f.write(_json.dumps(line) + "\n")

    q = run_staging_to_warehouse(
        spark, cfg, staging, wh, str(tmp_path / "ck"), TRADE_SCHEMA
    )
    q.awaitTermination(120)
    out = spark.read.parquet(tdd(wh))
    assert "brand_new_field" not in out.columns
    rows = {r["id"]: r for r in out.collect()}
    assert len(rows) == 3
    assert rows[make_trade(2)["id"]]["price"] is None  # absent -> NULL
    assert rows[make_trade(1)["id"]]["price"] == 111.0


def test_forty_digit_sequence_numbers_arbitrate_exactly(spark, tmp_path):
    """Real DynamoDB sequence numbers run to 40 digits — far past int64.
    Latest-wins arbitration must stay exact at that width."""
    cfg = EngineConfig(apply_mode="upsert")
    feed = str(tmp_path / "feed")
    staging = str(tmp_path / "staging")
    wh = str(tmp_path / "warehouse")
    t1 = make_trade(1)
    lo = 10**39 + 5   # 40 digits
    hi = 10**39 + 19  # numerically later, lexicographically "1..." < "9..."
                      # only when compared unpadded at differing lengths
    os.makedirs(feed)
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions.dynamodb_json import serialize_item

    def rec(name, image, seq):
        return json.dumps({
            "eventName": name,
            "dynamodb": {
                "NewImage": serialize_item(image),
                "SequenceNumber": str(seq),
                "ApproximateCreationDateTime": 1_700_000_000_000,
            },
        })

    # the numerically-newer MODIFY also has a shorter-vs-equal-length
    # interplay exercised via a 39-digit stale event in the same batch
    stale = 10**38 + 7  # 39 digits, numerically smallest
    with open(f"{feed}/b1.json", "w") as f:
        f.write(rec("INSERT", t1, lo) + "\n")
        f.write(rec("MODIFY", dict(t1, price=111.5), stale) + "\n")
        f.write(rec("MODIFY", dict(t1, price=999.0), hi) + "\n")
    _await(run_stream_to_staging(spark, cfg, feed, staging, str(tmp_path / "ck1"), TRADE_SCHEMA))
    _await(run_staging_to_warehouse(spark, cfg, staging, wh, str(tmp_path / "ck2"), TRADE_SCHEMA))
    out = read_warehouse(spark, wh)
    assert out.count() == 1
    assert out.first()["price"] == 999.0  # numeric max wins, not string max


def test_streaming_partitioned_deletes_across_batches(spark, tmp_path):
    """R4 end-to-end through the streaming hop: REMOVEs arriving in later
    micro-batches must empty their hive partitions — including a key-only
    REMOVE (no partition values in the after-image), which exercises the
    unpruned-merge fallback inside foreachBatch."""
    from pyspark.sql import types as T

    after = T.StructType(
        [
            T.StructField("id", T.StringType()),
            T.StructField("region", T.StringType()),
            T.StructField("price", T.DoubleType()),
        ]
    )
    cfg = EngineConfig(
        apply_mode="upsert",
        propagate_deletes=True,
        partition_by=["region"],
        max_files_per_trigger=1,  # one file per micro-batch: true hops
    )
    feed = str(tmp_path / "feed")
    wh = str(tmp_path / "wh")
    write_envelope_file(feed, "b1.json", [
        ("INSERT", {"id": "a", "region": "eu", "price": 1.0}, 1),
        ("INSERT", {"id": "b", "region": "us", "price": 2.0}, 2),
        ("INSERT", {"id": "c", "region": "eu", "price": 3.0}, 3),
    ])
    write_envelope_file(feed, "b2.json", [
        ("REMOVE", {"id": "b", "region": "us", "price": 2.0}, 4),
    ])
    write_envelope_file(feed, "b3.json", [
        ("REMOVE", {"id": "a"}, 5),  # key-only after: no partition value
    ])
    # the feed contract (R8) is ordered delivery; the file source orders
    # by modification time, so stamp the files with increasing mtimes
    for i, fname in enumerate(["b1.json", "b2.json", "b3.json"]):
        os.utime(os.path.join(feed, fname), (1_700_000_000 + i, 1_700_000_000 + i))
    run_envelope_apply(
        spark, cfg, feed, wh, str(tmp_path / "ck"), after, key="id"
    ).awaitTermination(240)

    out = read_warehouse(spark, wh).collect()
    assert [(r["id"], r["region"], r["price"]) for r in out] == [("c", "eu", 3.0)]
    # deleted keys persist as reader-hidden tombstones (seq-bearing, so
    # later micro-batches replaying older images cannot resurrect them)
    raw = spark.read.option("mergeSchema", "true").parquet(tdd(wh))
    tombs = {r["id"]: r["_deleted"] for r in raw.filter("_deleted").collect()}
    assert tombs == {"a": True, "b": True}


def test_envelope_apply_bucketed_stream(spark, tmp_path):
    """Streaming envelope feed -> bucketed managed warehouse table:
    latest-wins across micro-batches, REMOVE propagates, and the
    maintained table is bucketed (joins on the key need no Exchange —
    the plan property test_apply_changes_bucketed_zero_exchange_join
    pins; here we assert the catalog records the bucket spec)."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.streaming.pipeline import (
        run_envelope_apply_bucketed,
    )

    cfg = EngineConfig(apply_mode="upsert", propagate_deletes=True)
    feed = str(tmp_path / "feed_b")
    t0, t1 = make_trade(0), make_trade(1)
    write_envelope_file(feed, "b1.json", [("INSERT", t0, 1), ("INSERT", t1, 2)])
    write_envelope_file(feed, "b2.json", [("MODIFY", dict(t0, shares=777), 3),
                                          ("REMOVE", {"id": t1["id"]}, 4)])
    tbl = "stream_bucketed_wh"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    try:
        _await(run_envelope_apply_bucketed(
            spark, cfg, feed, tbl, str(tmp_path / "ck_b"), TRADE_SCHEMA,
            n_buckets=4,
        ))
        from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.apply import (
            read_warehouse_table,
        )

        out = read_warehouse_table(spark, tbl)
        assert out.count() == 1
        row = out.first()
        assert row["id"] == t0["id"] and row["shares"] == 777
        ddl = spark.sql(f"SHOW CREATE TABLE {tbl}").first()[0]
        assert "CLUSTERED BY" in ddl and "4 BUCKETS" in ddl, ddl
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_streaming_apply_compacts_every_n_batches(spark, tmp_path):
    """compact_every_n_batches wires small-file maintenance into the
    apply hop: an append-mode stream that would leave one file
    generation per micro-batch ends compacted, data byte-identical,
    and the knob off changes nothing."""
    import glob as _glob

    def n_files(p):
        # count the CURRENT version's fileset (tdd): under the round-10
        # GC grace default, superseded version dirs are retained for
        # in-flight readers and must not count as "the table's files"
        return len(
            _glob.glob(os.path.join(tdd(p), "**", "*.parquet"), recursive=True)
        )

    trades = [make_trade(i) for i in range(8)]
    for variant, knob in (("off", None), ("on", 2)):
        cfg = EngineConfig(apply_mode="append", max_files_per_trigger=1)
        feed = str(tmp_path / f"feed_{variant}")
        wh = str(tmp_path / f"wh_{variant}")
        for b in range(4):
            write_envelope_file(
                feed, f"b{b}.json",
                [("INSERT", trades[2 * b + j], 2 * b + j) for j in range(2)],
            )
        _await(run_envelope_apply(
            spark, cfg, feed, wh, str(tmp_path / f"ck_{variant}"), TRADE_SCHEMA,
            compact_every_n_batches=knob,
        ))
        assert spark.read.parquet(tdd(wh)).count() == 8
        if variant == "off":
            files_off = n_files(wh)
        else:
            files_on = n_files(wh)
    assert files_off >= 4  # one generation per micro-batch without the knob
    assert files_on == 1, files_on  # final epoch (id 3) compacted to 1 file
    # same rows either way
    key_col = "id"
    rows_off = {r[key_col] for r in spark.read.parquet(tdd(str(tmp_path / "wh_off"))).collect()}
    rows_on = {r[key_col] for r in spark.read.parquet(tdd(str(tmp_path / "wh_on"))).collect()}
    assert rows_off == rows_on


def test_bucketed_stream_vacuums_tombstones(spark, tmp_path):
    """vacuum_every_n_batches on the bucketed hop GCs tombstones past
    the caller-supplied horizon while the bucketed layout survives."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.apply import (
        read_warehouse_table,
    )
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.streaming.pipeline import (
        run_envelope_apply_bucketed,
    )

    cfg = EngineConfig(
        apply_mode="upsert", propagate_deletes=True, max_files_per_trigger=1
    )
    feed = str(tmp_path / "feed_vac")
    t0, t1 = make_trade(0), make_trade(1)
    write_envelope_file(feed, "b1.json", [("INSERT", t0, 1), ("INSERT", t1, 2)])
    write_envelope_file(feed, "b2.json", [("REMOVE", {"id": t1["id"]}, 4)])
    tbl = "stream_bucketed_vac"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    spark.sql(f"DROP TABLE IF EXISTS {tbl}__staged")
    try:
        _await(run_envelope_apply_bucketed(
            spark, cfg, feed, tbl, str(tmp_path / "ck_vac"), TRADE_SCHEMA,
            n_buckets=4,
            vacuum_every_n_batches=2,   # fires after epoch 1 (the REMOVE batch)
            vacuum_horizon_seq=lambda: 100,
        ))
        out = read_warehouse_table(spark, tbl)
        assert {r["id"] for r in out.collect()} == {t0["id"]}
        # the seq-4 tombstone is behind the horizon -> vacuumed away
        assert spark.table(tbl).filter(F.col("_deleted")).count() == 0
        ddl = spark.sql(f"SHOW CREATE TABLE {tbl}").first()[0]
        assert "CLUSTERED BY" in ddl and "4 BUCKETS" in ddl, ddl
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        spark.sql(f"DROP TABLE IF EXISTS {tbl}__staged")


def test_envelope_apply_history_stream_with_compaction(spark, tmp_path):
    """Streaming envelope feed into a history (merge-on-read) warehouse:
    every version row lands, reads reconstruct latest-wins and time
    travel works mid-stream; the compaction tick folds superseded
    versions at the checkpointed cadence without changing any read at
    or above the fold point."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.maintenance import (
        read_history_horizon,
    )

    cfg = EngineConfig(apply_mode="history", max_files_per_trigger=1)
    feed = str(tmp_path / "feed")
    wh = str(tmp_path / "warehouse")
    t0, t1 = make_trade(0), make_trade(1)
    write_envelope_file(feed, "b1.json", [("INSERT", t0, 1), ("INSERT", t1, 2)])
    write_envelope_file(feed, "b2.json", [("MODIFY", dict(t0, shares=777), 3),
                                          ("REMOVE", {"id": t1["id"]}, 4)])
    _await(run_envelope_apply(
        spark, cfg, feed, wh, str(tmp_path / "ck"), TRADE_SCHEMA,
        compact_every_n_batches=2,
    ))
    # current state: t0 at its seq-3 image, t1 deleted
    out = read_warehouse(spark, wh)
    assert [(r["id"], r["shares"]) for r in out.collect()] == [(t0["id"], 777)]
    # the cadence fired and folded versions below the max seq (4):
    # t0@1 folded away; t0@3 and t1@2 (each key's newest sub-horizon
    # version) survive alongside the t1@4 tombstone
    assert read_history_horizon(wh) is not None
    assert spark.read.parquet(tdd(wh)).count() == 3
    # time travel from the fold point forward still works
    asof = read_warehouse(spark, wh, as_of_seq=4).collect()
    assert [(r["id"], r["shares"]) for r in asof] == [(t0["id"], 777)]


def test_envelope_apply_optimize_zorder_tick(spark, tmp_path):
    """The hop's maintenance tick as OPTIMIZE ZORDER BY: a table that
    opted into skipping stats gets re-clustered AND its sidecar
    re-collected by the streaming compaction, so pruning stays live
    (an out-of-range predicate prunes to zero files) as batches churn
    the table."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.layout import (
        collect_file_stats,
        prune_files,
    )

    cfg = EngineConfig(apply_mode="append")
    feed = str(tmp_path / "feed")
    wh = str(tmp_path / "warehouse")
    write_envelope_file(
        feed, "b1.json", [("INSERT", make_trade(i), i) for i in range(8)]
    )
    _await(run_envelope_apply(spark, cfg, feed, wh, str(tmp_path / "ck"), TRADE_SCHEMA))
    collect_file_stats(spark, wh, ["shares"])  # the opt-in

    write_envelope_file(
        feed, "b2.json",
        [("INSERT", make_trade(i), i) for i in range(8, 24)],
    )
    _await(
        run_envelope_apply(
            spark, cfg, feed, wh, str(tmp_path / "ck"), TRADE_SCHEMA,
            compact_every_n_batches=1,
            optimize_zorder_by=["shares"],
        )
    )
    out = spark.read.parquet(tdd(wh))
    assert out.count() == 24
    # the tick refreshed the stats: they are live, not stale
    keep, total = prune_files(wh, [("shares", ">", 10_000)])
    assert keep == []  # max shares is 200 + 10*23 = 430
    keep2, _ = prune_files(wh, [("shares", "between", 200, 250)])
    assert len(keep2) >= 1
    assert len(set(r["shares"] for r in out.collect())) == 24


def test_envelope_apply_accretes_stats_incrementally(spark, tmp_path):
    """Blind-append modes stamp per-batch skipping stats (incremental,
    O(new files)) once a table opts in — no compaction tick needed for
    pruning to stay live."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.layout import (
        collect_file_stats,
        prune_files,
    )

    cfg = EngineConfig(apply_mode="append")
    feed = str(tmp_path / "feed")
    wh = str(tmp_path / "warehouse")
    write_envelope_file(
        feed, "b1.json", [("INSERT", make_trade(i), i) for i in range(4)]
    )
    _await(run_envelope_apply(spark, cfg, feed, wh, str(tmp_path / "ck"), TRADE_SCHEMA))
    collect_file_stats(spark, wh, ["shares"])

    write_envelope_file(
        feed, "b2.json", [("INSERT", make_trade(i), i) for i in range(4, 10)]
    )
    _await(run_envelope_apply(spark, cfg, feed, wh, str(tmp_path / "ck"), TRADE_SCHEMA))
    # the new batch's rows are pruneable immediately: stats are LIVE
    keep, total = prune_files(wh, [("shares", ">", 10_000)])
    assert keep == []  # max shares = 200 + 10*9 = 290
    keep2, _ = prune_files(wh, [("shares", ">=", 270)])
    assert len(keep2) >= 1
    assert spark.read.parquet(tdd(wh)).count() == 10


def test_envelope_apply_history_retain_seqs_keeps_feed_window(spark, tmp_path):
    """history_retain_seqs lags the compaction tick's fold point below
    the tip (Delta's CDF-retention analogue): a change-feed consumer
    not exactly caught up at the compaction instant still finds its
    window instead of permanently raising on the horizon rule."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.apply import (
        read_changes,
    )
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.maintenance import (
        read_history_horizon,
    )

    cfg = EngineConfig(apply_mode="history", max_files_per_trigger=1)
    feed = str(tmp_path / "feed")
    wh = str(tmp_path / "warehouse")
    t0, t1 = make_trade(0), make_trade(1)
    write_envelope_file(feed, "b1.json", [("INSERT", t0, 1), ("INSERT", t1, 2)])
    write_envelope_file(feed, "b2.json", [("MODIFY", dict(t0, shares=9), 3),
                                          ("MODIFY", dict(t1, shares=8), 4)])
    _await(run_envelope_apply(
        spark, cfg, feed, wh, str(tmp_path / "ck"), TRADE_SCHEMA,
        compact_every_n_batches=2, history_retain_seqs=3,
    ))
    # tip is 4; fold point lagged to 4 - 3 = 1
    horizon = read_history_horizon(wh)
    assert horizon is not None and int(horizon) == 1
    # a consumer checkpointed at seq 2 (inside the retained window) can
    # still drain its changes
    window = read_changes(spark, wh, from_seq=2)
    assert sorted(
        (r["id"], int(r["_seq"])) for r in window.collect()
    ) == [(t0["id"], 3), (t1["id"], 4)]


def test_stream_sync_changes_structured_streaming_cdf(spark, tmp_path):
    """The change feed as a REAL Structured Streaming source: a
    history table's blind-append files feed readStream; foreachBatch
    re-envelopes version rows into the convergent apply. Crash and
    duplicate-drain scenarios (restart with the same checkpoint, a
    wiped checkpoint forcing a full re-read, compaction rewriting
    every file under an old checkpoint) all converge the replica to
    the source's current state — exactly-once effect from an
    at-least-once file source."""
    import shutil

    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.apply import (
        apply_changes,
    )
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.maintenance import (
        compact_history,
    )
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.streaming.cdf import (
        stream_changes,
        stream_sync_changes,
    )

    src = str(tmp_path / "cdf_src")
    dst = str(tmp_path / "cdf_dst")
    ck = str(tmp_path / "cdf_ck")

    def feed(events, name):
        d = str(tmp_path / name)
        write_envelope_file(d, "b.json", events)
        from cdc_from_sql_and_nosql_to_data_warehouse_spark.sources.change_feed import (
            read_envelope_feed,
        )
        return read_envelope_feed(spark, d, TRADE_SCHEMA, streaming=False)

    def replica_equals_source():
        a = sorted(
            (r["id"], r["shares"])
            for r in read_warehouse(spark, src).collect()
        )
        b = sorted(
            (r["id"], r["shares"])
            for r in read_warehouse(spark, dst).collect()
        )
        assert a == b, (a, b)

    t0, t1, t2 = make_trade(0), make_trade(1), make_trade(2)
    apply_changes(
        spark, feed([("INSERT", t0, 1), ("INSERT", t1, 2)], "c1"),
        src, "id", mode="history",
    )
    _await(stream_sync_changes(spark, src, dst, ck, "id"))
    replica_equals_source()

    # new source changes incl. a delete; same checkpoint: only the new
    # files are consumed
    apply_changes(
        spark,
        feed([("MODIFY", dict(t0, shares=9), 3),
              ("REMOVE", {"id": t1["id"]}, 4),
              ("INSERT", t2, 5)], "c2"),
        src, "id", mode="history",
    )
    _await(stream_sync_changes(spark, src, dst, ck, "id"))
    replica_equals_source()

    # duplicate drain: wipe the checkpoint -> the WHOLE feed replays
    # against the existing replica; max-seq arbitration converges it
    shutil.rmtree(ck)
    _await(stream_sync_changes(spark, src, dst, ck, "id"))
    replica_equals_source()

    # compaction rewrites every source file: an old checkpoint sees
    # them all as new input (at-least-once across rewrites) and the
    # folded versions re-apply as no-ops
    compact_history(spark, src, before_seq=5)
    apply_changes(
        spark, feed([("MODIFY", dict(t2, shares=77), 6)], "c3"),
        src, "id", mode="history",
    )
    _await(stream_sync_changes(spark, src, dst, ck, "id"))
    replica_equals_source()

    # non-history / manifest-less sources are refused clearly
    flat = str(tmp_path / "cdf_flat")
    apply_changes(spark, feed([("INSERT", t0, 1)], "c4"), flat, "id",
                  mode="upsert")
    try:
        stream_changes(spark, flat)
        raise AssertionError("expected ValueError")
    except ValueError:
        pass


def test_stream_sync_aggregate_under_streaming_machinery(spark, tmp_path):
    """Materialized views driven by the streaming change-feed source:
    the file stream paces drains, the swap-atomic offset owns
    exactly-once — a wiped checkpoint replays triggers, not state
    (the re-drain no-ops). Both the count/sum and min/max views."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.apply import (
        apply_changes,
    )
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.sources.change_feed import (
        read_envelope_feed,
    )
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.streaming.cdf import (
        stream_sync_aggregate,
    )
    import shutil

    src = str(tmp_path / "mv_src")
    agg = str(tmp_path / "mv_agg")
    mm = str(tmp_path / "mv_mm")
    ck1, ck2 = str(tmp_path / "mv_ck1"), str(tmp_path / "mv_ck2")

    def feed(events, name):
        d = str(tmp_path / name)
        write_envelope_file(d, "b.json", events)
        return read_envelope_feed(spark, d, TRADE_SCHEMA, streaming=False)

    def expected():
        cur = read_warehouse(spark, src)
        return sorted(
            (r["ticker"], r["n"], float(r["tv"]))
            for r in cur.groupBy("ticker").agg(
                F.count("*").alias("n"),
                F.sum(F.col("price").cast("decimal(18,2)")).alias("tv"),
            ).collect()
        )

    def got(path):
        return sorted(
            (r["ticker"], r["n_keys"], float(r["total_value"]))
            for r in spark.read.parquet(tdd(path)).collect()
        )

    def trade(i, ticker, price):
        return dict(make_trade(i), ticker=ticker, price=float(price))

    apply_changes(
        spark,
        feed([("INSERT", trade(0, "aa", 10), 1),
              ("INSERT", trade(1, "bb", 5), 2)], "v1"),
        src, "id", mode="history",
    )
    _await(stream_sync_aggregate(spark, src, agg, ck1, "ticker", "price"))
    assert got(agg) == expected()
    _await(stream_sync_aggregate(
        spark, src, mm, ck2, "ticker", "price", minmax=True
    ))
    assert [r["min_value"] for r in
            spark.read.parquet(tdd(mm)).orderBy("ticker").collect()] == [10.0, 5.0]

    # more changes incl. a delete; the stream consumes only new files
    apply_changes(
        spark,
        feed([("MODIFY", trade(0, "bb", 11), 3),
              ("REMOVE", {"id": make_trade(1)["id"]}, 4)], "v2"),
        src, "id", mode="history",
    )
    _await(stream_sync_aggregate(spark, src, agg, ck1, "ticker", "price"))
    assert got(agg) == expected() == [("bb", 1, 11.0)]

    # wiped checkpoint: triggers replay, the offset makes drains no-op
    shutil.rmtree(ck1)
    _await(stream_sync_aggregate(spark, src, agg, ck1, "ticker", "price"))
    assert got(agg) == expected()


def test_full_pipeline_ingest_replica_and_view_compose(spark, tmp_path):
    """The whole engine-to-engine story in one flow, every hop under
    Spark's streaming machinery: envelope feed -> history warehouse
    (run_envelope_apply) -> downstream replica (stream_sync_changes)
    AND materialized min/max view (stream_sync_aggregate) tailing the
    warehouse's own change feed. A crash is simulated between the
    warehouse apply and the downstream drains (downstream checkpoints
    wiped mid-flight): everything converges to the same state a serial
    batch pipeline would produce — the reference's source -> relay ->
    warehouse chain (cdk_infrastructure/__init__.py:351-359) with the
    warehouse itself as the tailable middle."""
    import shutil

    from cdc_from_sql_and_nosql_to_data_warehouse_spark.streaming.cdf import (
        stream_sync_aggregate,
        stream_sync_changes,
    )

    cfg = EngineConfig(apply_mode="history", max_files_per_trigger=1)
    feed = str(tmp_path / "fp_feed")
    wh = str(tmp_path / "fp_wh")
    replica = str(tmp_path / "fp_replica")
    view = str(tmp_path / "fp_view")
    cks = {n: str(tmp_path / f"fp_ck_{n}") for n in ("wh", "rep", "mv")}

    t0, t1, t2 = make_trade(0), make_trade(1), make_trade(2)
    write_envelope_file(feed, "b1.json", [("INSERT", dict(t0, price=10.0), 1),
                                          ("INSERT", dict(t1, price=20.0), 2)])
    _await(run_envelope_apply(spark, cfg, feed, wh, cks["wh"], TRADE_SCHEMA))
    _await(stream_sync_changes(spark, wh, replica, cks["rep"], "id"))
    _await(stream_sync_aggregate(
        spark, wh, view, cks["mv"], "ticker", "price", minmax=True
    ))

    def converged():
        src = sorted(
            (r["id"], float(r["price"]))
            for r in read_warehouse(spark, wh).collect()
        )
        rep = sorted(
            (r["id"], float(r["price"]))
            for r in read_warehouse(spark, replica).collect()
        )
        assert src == rep, (src, rep)
        exp = sorted(
            (r["ticker"], r["n"], float(r["mn"]), float(r["mx"]))
            for r in read_warehouse(spark, wh)
            .groupBy("ticker")
            .agg(
                F.count("*").alias("n"),
                F.min(F.col("price").cast("decimal(18,2)")).alias("mn"),
                F.max(F.col("price").cast("decimal(18,2)")).alias("mx"),
            )
            .collect()
        )
        got = sorted(
            (r["ticker"], r["n_keys"], float(r["min_value"]),
             float(r["max_value"]))
            for r in spark.read.parquet(tdd(view)).collect()
        )
        assert exp == got, (exp, got)

    converged()

    # second wave: update, delete, insert — then CRASH the downstream
    # (checkpoints wiped) before re-running every hop
    write_envelope_file(feed, "b2.json", [("MODIFY", dict(t0, price=30.0), 3),
                                          ("REMOVE", {"id": t1["id"]}, 4),
                                          ("INSERT", dict(t2, price=5.0), 5)])
    _await(run_envelope_apply(spark, cfg, feed, wh, cks["wh"], TRADE_SCHEMA))
    shutil.rmtree(cks["rep"])  # replica consumer loses its progress
    _await(stream_sync_changes(spark, wh, replica, cks["rep"], "id"))
    _await(stream_sync_aggregate(
        spark, wh, view, cks["mv"], "ticker", "price", minmax=True
    ))
    converged()
    assert read_warehouse(spark, wh).count() == 2  # t0@30, t2@5


def test_stream_sync_redelivery_gate_skips_rewrite(spark, tmp_path):
    """Post-compaction re-delivery is seq-gated: a compaction swap
    makes the file source re-deliver the whole retained table, and the
    gate (applied-through marker + per-key filter against the
    replica's stored seqs) must SKIP the merge-and-rewrite when
    nothing in the batch is new — the replica's data files stay
    byte-identical — while a later real change still applies."""
    import os

    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.apply import (
        apply_changes, read_warehouse as _rw,
    )
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.maintenance import (
        compact_history,
    )
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.sources.change_feed import (
        read_envelope_feed,
    )
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.streaming.cdf import (
        stream_sync_changes,
    )

    src = str(tmp_path / "gate_src")
    dst = str(tmp_path / "gate_dst")
    ck = str(tmp_path / "gate_ck")

    def feed(events, name):
        d = str(tmp_path / name)
        write_envelope_file(d, "b.json", events)
        return read_envelope_feed(spark, d, TRADE_SCHEMA, streaming=False)

    def replica_files():
        out = {}
        for cur, _dirs, names in os.walk(tdd(dst)):
            for n in names:
                if n.endswith(".parquet"):
                    p = os.path.join(cur, n)
                    st = os.stat(p)
                    out[p] = (st.st_mtime_ns, st.st_size)
        return out

    t0, t1 = make_trade(0), make_trade(1)
    apply_changes(
        spark,
        feed([("INSERT", t0, 1), ("INSERT", t1, 2),
              ("MODIFY", dict(t0, shares=9), 3)], "g1"),
        src, "id", mode="history",
    )
    _await(stream_sync_changes(spark, src, dst, ck, "id"))
    before = replica_files()
    assert before

    # compaction renames every source file; with NO new changes the
    # re-delivered batch must filter to empty and skip the apply
    compact_history(spark, src, before_seq=3)
    _await(stream_sync_changes(spark, src, dst, ck, "id"))
    assert replica_files() == before  # no rewrite happened
    assert sorted(
        (r["id"], r["shares"]) for r in _rw(spark, dst).collect()
    ) == sorted((r["id"], r["shares"]) for r in _rw(spark, src).collect())

    # a real change after the compaction still applies through the gate
    apply_changes(
        spark, feed([("MODIFY", dict(t1, shares=42), 4)], "g2"),
        src, "id", mode="history",
    )
    _await(stream_sync_changes(spark, src, dst, ck, "id"))
    assert replica_files() != before
    assert sorted(
        (r["id"], r["shares"]) for r in _rw(spark, dst).collect()
    ) == sorted((r["id"], r["shares"]) for r in _rw(spark, src).collect())


def test_paced_redelivery_computes_gate_state_once(spark, tmp_path, monkeypatch):
    """Under maxFilesPerTrigger pacing a compaction re-delivery arrives
    as N suspected micro-batches; the gate must derive its replica-side
    arbitration state ONCE for the whole episode (keyed on the
    applied-through marker), not once per batch — O(replica) per
    episode, not O(N·replica). Pinned by counting state derivations
    while the replica's files stay byte-identical through a paced
    multi-batch re-delivery."""
    import os

    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.apply import (
        apply_changes, read_warehouse as _rw,
    )
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.maintenance import (
        compact_history,
    )
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.sources.change_feed import (
        read_envelope_feed,
    )
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.streaming import cdf as CDF

    src = str(tmp_path / "pg_src")
    dst = str(tmp_path / "pg_dst")
    ck = str(tmp_path / "pg_ck")

    def feed(events, name):
        d = str(tmp_path / name)
        write_envelope_file(d, "b.json", events)
        return read_envelope_feed(spark, d, TRADE_SCHEMA, streaming=False)

    def replica_files():
        out = {}
        for cur, _dirs, names in os.walk(tdd(dst)):
            for n in names:
                if n.endswith(".parquet"):
                    p = os.path.join(cur, n)
                    st = os.stat(p)
                    out[p] = (st.st_mtime_ns, st.st_size)
        return out

    # several appends => several source files, so maxFilesPerTrigger=1
    # slices the post-compaction re-delivery into several batches;
    # two versions per key so the fold actually rewrites (and swaps)
    trades = [make_trade(i) for i in range(4)]
    for i, t in enumerate(trades):
        apply_changes(
            spark,
            feed([("INSERT", t, 2 * i + 1),
                  ("MODIFY", dict(t, shares=i + 50), 2 * i + 2)], f"pg{i}"),
            src, "id", mode="history",
        )
    _await(CDF.stream_sync_changes(spark, src, dst, ck, "id"))
    before = replica_files()
    assert before

    calls = {"n": 0}
    real_state = CDF._replica_applied_state

    def counting_state(*a, **kw):
        calls["n"] += 1
        return real_state(*a, **kw)

    monkeypatch.setattr(CDF, "_replica_applied_state", counting_state)

    # fold each key's two versions to one: the swap moves every file
    # and the paced drain re-delivers them one file per trigger
    compact_history(spark, src, before_seq=9)
    _await(CDF.stream_sync_changes(
        spark, src, dst, ck, "id", max_files_per_trigger=1
    ))
    assert replica_files() == before  # every paced batch gated
    assert calls["n"] == 1, calls["n"]  # ONE derivation for the episode
    assert sorted(
        (r["id"], r["shares"]) for r in _rw(spark, dst).collect()
    ) == sorted((r["id"], r["shares"]) for r in _rw(spark, src).collect())

    # a real change still applies under pacing, and a fresh episode
    # re-derives exactly once more
    apply_changes(
        spark, feed([("MODIFY", dict(trades[0], shares=77), 9)], "pgx"),
        src, "id", mode="history",
    )
    _await(CDF.stream_sync_changes(
        spark, src, dst, ck, "id", max_files_per_trigger=1
    ))
    out = {r["id"]: r["shares"] for r in _rw(spark, dst).collect()}
    assert out[trades[0]["id"]] == 77


def test_already_applied_filter_keeps_unseen_rows(spark, tmp_path):
    """The gate's per-key filter is exact on the split-delivery edge: a
    suspected-re-delivery batch holding one already-applied row and one
    UNSEEN row (its seq below the marker but newer than its key's
    stored state — maxFilesPerTrigger can split one append's files
    across triggers) must keep exactly the unseen row, for both replica
    layouts."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.apply import (
        apply_changes,
    )
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.streaming.cdf import (
        _already_applied_filter,
    )

    # upsert replica: key "a" stored at seq 5, key "b" never seen
    ups = str(tmp_path / "aaf_ups")
    env = spark.createDataFrame(
        [("a", "MODIFY", ("a", 5.0), 5)],
        "key string, op string, after struct<k:string,v:double>, seq long",
    )
    apply_changes(spark, env, ups, "k", mode="upsert", propagate_deletes=True)
    batch = spark.createDataFrame(
        [("a", 5.0, "a", "0" * 39 + "5", False),   # already applied
         ("a", 4.0, "a", "0" * 39 + "4", False),   # superseded: drop too
         ("b", 7.0, "b", "0" * 39 + "3", False)],  # unseen key, low seq
        "k string, v double, _key string, _seq string, _deleted boolean",
    )
    kept = _already_applied_filter(spark, batch, ups, "k", "upsert")
    assert [(r["_key"], float(r["v"])) for r in kept.collect()] == [("b", 7.0)]

    # history replica: exact (key, seq) anti-join keeps the missing
    # version row even though the key's newer version is stored
    hist = str(tmp_path / "aaf_hist")
    apply_changes(spark, env, hist, "k", mode="history")
    kept_h = _already_applied_filter(spark, batch, hist, "k", "history")
    assert sorted(
        (r["_key"], int(r["_seq"])) for r in kept_h.collect()
    ) == [("a", 4), ("b", 3)]


def test_stream_classified_changes_matches_batch_feed(spark, tmp_path):
    """The streaming classified CDF (pacing stream bridged into
    follow_changes windows) delivers exactly the batch read_changes
    output: insert/update/delete tags, replays collapsed in-window and
    ignored below the marker, and a consumer that lapses below the
    compaction horizon fails loudly instead of emitting a gapped
    feed."""
    import pytest as _pytest

    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.apply import (
        apply_changes, read_changes,
    )
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.maintenance import (
        compact_history,
    )
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.sources.change_feed import (
        read_envelope_feed,
    )
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.streaming.cdf import (
        stream_classified_changes,
    )

    src = str(tmp_path / "cls_src")
    ck = str(tmp_path / "cls_ck")

    def feed(events, name):
        d = str(tmp_path / name)
        write_envelope_file(d, "b.json", events)
        return read_envelope_feed(spark, d, TRADE_SCHEMA, streaming=False)

    t0, t1 = make_trade(0), make_trade(1)
    b1 = feed([("INSERT", t0, 1), ("INSERT", t1, 2)], "k1")
    apply_changes(spark, b1, src, "id", mode="history")
    apply_changes(spark, b1, src, "id", mode="history")  # in-window replay

    got = []

    def proc(df, frm, to):
        got.extend(
            (r["id"], int(r["_seq"]), r["_change_type"])
            for r in df.collect()
        )

    _await(stream_classified_changes(spark, src, ck, proc))
    assert sorted(got) == [(t0["id"], 1, "insert"), (t1["id"], 2, "insert")]

    # second wave: update + delete; plus a below-marker replay of b1
    apply_changes(
        spark,
        feed([("MODIFY", dict(t0, shares=9), 3),
              ("REMOVE", {"id": t1["id"]}, 4)], "k2"),
        src, "id", mode="history",
    )
    apply_changes(spark, b1, src, "id", mode="history")
    got.clear()
    _await(stream_classified_changes(spark, src, ck, proc))
    assert sorted(got) == [(t0["id"], 3, "update"), (t1["id"], 4, "delete")]

    # the union of delivered windows equals the batch classified feed
    batch = sorted(
        (r["id"], int(r["_seq"]), r["_change_type"])
        for r in read_changes(spark, src).collect()
    )
    assert batch == [
        (t0["id"], 1, "insert"), (t0["id"], 3, "update"),
        (t1["id"], 2, "insert"), (t1["id"], 4, "delete"),
    ]

    # consumer lapse below the compaction horizon: loud failure
    apply_changes(
        spark, feed([("MODIFY", dict(t0, shares=10), 5)], "k3"),
        src, "id", mode="history",
    )
    compact_history(spark, src, before_seq=5)
    with _pytest.raises(Exception, match="horizon"):
        _await(stream_classified_changes(spark, src, ck, proc))


def test_round8_machinery_composes_through_compaction(spark, tmp_path):
    """All round-8 machinery in one flow: a history warehouse feeds a
    CLASSIFIED streaming consumer, a seq-GATED streaming replica, and a
    PRUNED minmax view; a compaction lands mid-stream. Afterward: the
    classified consumer saw each change exactly once (no re-emission
    from the compaction's re-listed files), the replica converged
    WITHOUT rewriting on the pure re-delivery, and the minmax view
    equals a from-scratch recompute."""
    import os

    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.apply import (
        apply_changes, read_warehouse as _rw,
    )
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.maintenance import (
        compact_history,
    )
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.sources.change_feed import (
        read_envelope_feed,
    )
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.streaming.cdf import (
        stream_classified_changes,
        stream_sync_aggregate,
        stream_sync_changes,
    )

    wh = str(tmp_path / "r8_wh")
    replica = str(tmp_path / "r8_replica")
    view = str(tmp_path / "r8_view")
    cks = {n: str(tmp_path / f"r8_ck_{n}") for n in ("cls", "rep", "mv")}

    def feed(events, name):
        d = str(tmp_path / name)
        write_envelope_file(d, "b.json", events)
        return read_envelope_feed(spark, d, TRADE_SCHEMA, streaming=False)

    def drain_all():
        _await(stream_classified_changes(spark, wh, cks["cls"], on_window))
        _await(stream_sync_changes(spark, wh, replica, cks["rep"], "id"))
        _await(stream_sync_aggregate(
            spark, wh, view, cks["mv"], "ticker", "price", minmax=True,
        ))

    classified = []

    def on_window(df, frm, to):
        classified.extend(
            (r["id"], int(r["_seq"]), r["_change_type"]) for r in df.collect()
        )

    def trade(i, ticker, price):
        return dict(make_trade(i), ticker=ticker, price=float(price))

    # wave 1: three keys across two groups
    apply_changes(
        spark,
        feed([("INSERT", trade(0, "aa", 10), 1),
              ("INSERT", trade(1, "aa", 20), 2),
              ("INSERT", trade(2, "bb", 5), 3)], "r8f1"),
        wh, "id", mode="history",
    )
    drain_all()

    # mid-stream maintenance: fold superseded versions; every file is
    # renamed, so all three consumers face a full re-delivery
    compact_history(spark, wh, before_seq=3)
    replica_files_before = {}
    for cur, _dirs, names in os.walk(tdd(replica)):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(cur, n)
                replica_files_before[p] = os.stat(p).st_mtime_ns
    n_classified_before = len(classified)
    drain_all()
    # exactly-once classified feed: nothing re-emitted
    assert len(classified) == n_classified_before
    # gated replica: pure re-delivery skipped the rewrite entirely
    replica_files_after = {}
    for cur, _dirs, names in os.walk(tdd(replica)):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(cur, n)
                replica_files_after[p] = os.stat(p).st_mtime_ns
    assert replica_files_after == replica_files_before

    # wave 2 after the compaction: group move (t0 aa->bb), delete of
    # bb's minimum holder (t2), new group cc
    apply_changes(
        spark,
        feed([("MODIFY", dict(trade(0, "bb", 11)), 4),
              ("REMOVE", {"id": make_trade(2)["id"]}, 5),
              ("INSERT", trade(3, "cc", 7), 6)], "r8f2"),
        wh, "id", mode="history",
    )
    drain_all()

    # classified feed = the batch feed, exactly once, in key order
    assert sorted(classified) == sorted([
        (make_trade(0)["id"], 1, "insert"),
        (make_trade(1)["id"], 2, "insert"),
        (make_trade(2)["id"], 3, "insert"),
        (make_trade(0)["id"], 4, "update"),
        (make_trade(2)["id"], 5, "delete"),
        (make_trade(3)["id"], 6, "insert"),
    ])
    # replica converged to the source's live state
    assert sorted(
        (r["id"], r["ticker"], r["price"]) for r in _rw(spark, replica).collect()
    ) == sorted(
        (r["id"], r["ticker"], r["price"]) for r in _rw(spark, wh).collect()
    )
    # minmax view equals a from-scratch recompute (aa emptied by the
    # group move, bb recomputed through delete of its old min, cc new)
    got = sorted(
        (r["ticker"], r["n_keys"], float(r["total_value"]),
         float(r["min_value"]), float(r["max_value"]))
        for r in spark.read.parquet(tdd(view)).collect()
    )
    exp = sorted(
        (r["ticker"], r["n"], float(r["tv"]), float(r["mn"]), float(r["mx"]))
        for r in _rw(spark, wh).groupBy("ticker").agg(
            F.count("*").alias("n"),
            F.sum(F.col("price").cast("decimal(18,2)")).alias("tv"),
            F.min(F.col("price").cast("decimal(18,2)")).alias("mn"),
            F.max(F.col("price").cast("decimal(18,2)")).alias("mx"),
        ).collect()
    )
    assert got == exp
    # and concretely: t1 stayed in aa, t0 moved into bb, t2's delete
    # left bb's min at t0's 11, cc is the new group
    assert got == [
        ("aa", 1, 20.0, 20.0, 20.0),
        ("bb", 1, 11.0, 11.0, 11.0),
        ("cc", 1, 7.0, 7.0, 7.0),
    ]


def test_stream_sync_paced_split_delivery_converges(spark, tmp_path):
    """max_files_per_trigger=1 slices one append's files across
    triggers with interleaved per-file seq ranges — the exact edge the
    re-delivery gate's per-key filter exists for: a later trigger whose
    max seq trails the marker still applies its unseen keys. The paced
    replica must converge to the source's live state."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.apply import (
        apply_changes, read_warehouse as _rw,
    )
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.streaming.cdf import (
        stream_sync_changes,
    )

    src = str(tmp_path / "paced_src")
    dst = str(tmp_path / "paced_dst")
    ck = str(tmp_path / "paced_ck")

    # ONE append whose rows land in 4 part files with interleaved seqs:
    # repartition by a column uncorrelated with seq
    env = spark.range(40).select(
        F.col("id").cast("string").alias("key"),
        F.lit("INSERT").alias("op"),
        F.struct(
            F.col("id").alias("k"),
            (F.col("id") * 3 % 100).cast("double").alias("v"),
        ).alias("after"),
        (F.col("id") + 1).alias("seq"),
    ).repartition(4, F.col("key"))
    apply_changes(spark, env, src, "k", mode="history")
    # sanity: the append produced several files (the slicing substrate)
    import glob

    n_files = len(glob.glob(f"{tdd(src)}/*.parquet"))
    assert n_files >= 3, n_files

    stream_sync_changes(
        spark, src, dst, ck, "k", max_files_per_trigger=1
    ).awaitTermination()
    a = sorted((r["k"], r["v"]) for r in _rw(spark, src).collect())
    b = sorted((r["k"], r["v"]) for r in _rw(spark, dst).collect())
    assert a == b and len(a) == 40

    # a second wave + replay of the first, still paced one file per
    # trigger: converges and deletes propagate
    env2 = spark.createDataFrame(
        [("7", "REMOVE", (7, None), 100), ("41", "INSERT", (41, 9.0), 101)],
        "key string, op string, after struct<k:long,v:double>, seq long",
    )
    apply_changes(spark, env2, src, "k", mode="history")
    apply_changes(spark, env, src, "k", mode="history")  # replay wave 1
    stream_sync_changes(
        spark, src, dst, ck, "k", max_files_per_trigger=1
    ).awaitTermination()
    a = sorted((r["k"], r["v"]) for r in _rw(spark, src).collect())
    b = sorted((r["k"], r["v"]) for r in _rw(spark, dst).collect())
    assert a == b and len(a) == 40  # 40 - deleted 7 + inserted 41


def test_idempotent_windows_makes_crash_replay_a_noop(spark, tmp_path):
    """The opt-in exactly-once wrapper: a crash between process and the
    offset write re-delivers the IDENTICAL window — with the helper the
    replay produces no second downstream effect; without it the same
    replay duplicates (the documented at-least-once default). GC keeps
    the marker state bounded as the feed advances."""
    import os as _os

    from cdc_from_sql_and_nosql_to_data_warehouse_spark import fsio
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.apply import (
        apply_changes, follow_changes,
    )
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.sources.change_feed import (
        read_envelope_feed,
    )
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.streaming.cdf import (
        idempotent_windows,
    )

    src = str(tmp_path / "iw_src")
    ck = str(tmp_path / "iw_ck")
    offset = _os.path.join(ck, "_change_feed_offset")

    def feed(events, name):
        d = str(tmp_path / name)
        write_envelope_file(d, "b.json", events)
        return read_envelope_feed(spark, d, TRADE_SCHEMA, streaming=False)

    t0 = make_trade(0)
    apply_changes(
        spark, feed([("INSERT", t0, 1)], "iw1"), src, "id", mode="history"
    )

    emitted = []

    def proc(df, frm, to):
        emitted.extend((r["id"], int(r["_seq"])) for r in df.collect())

    wrapped = idempotent_windows(ck, proc)
    assert follow_changes(spark, src, ck, wrapped, max_ticks=1) == 1
    assert emitted == [(t0["id"], 1)]

    # crash between process and offset write: the offset regresses to
    # its pre-tick value, so the replayed tick derives the IDENTICAL
    # window — the helper skips it, no duplicate downstream effect
    committed = fsio.read_text(offset)
    fsio.remove(offset)
    assert follow_changes(spark, src, ck, wrapped, max_ticks=1) == 1
    assert emitted == [(t0["id"], 1)]  # no second emission
    assert fsio.read_text(offset) == committed  # offset re-committed

    # control: the SAME crash without the helper duplicates (the
    # at-least-once default the wrapper exists to round off)
    fsio.remove(offset)
    assert follow_changes(spark, src, ck, proc, max_ticks=1) == 1
    assert emitted == [(t0["id"], 1), (t0["id"], 1)]

    # feed advances: the next window processes normally and GC drops
    # markers wholly below the new from_seq
    apply_changes(
        spark,
        feed([("MODIFY", dict(t0, shares=5), 2)], "iw2"),
        src, "id", mode="history",
    )
    emitted.clear()
    assert follow_changes(spark, src, ck, wrapped, max_ticks=1) == 1
    assert emitted == [(t0["id"], 2)]
    done = _os.listdir(_os.path.join(ck, "_windows_done"))
    assert len(done) == 1  # only the newest window's marker survives


def test_stream_classified_changes_partitioned_across_upgrade(
    spark, tmp_path
):
    """The classified streaming feed on a HIVE-PARTITIONED source must
    keep delivering across the legacy->pointer upgrade a mid-lifecycle
    compaction performs: the pacing stream is layout-proof by
    construction (recursiveFileLookup + physical-only schema) and the
    window read restores partition columns from dir names — this pins
    the combination, the starvation case for a pinned partition-aware
    content stream."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.apply import (
        apply_changes, table_data_dir,
    )
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.maintenance import (
        compact_history,
    )
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.sources.change_feed import (
        read_envelope_feed,
    )
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.streaming.cdf import (
        stream_classified_changes,
    )

    src = str(tmp_path / "pcls_src")
    ck = str(tmp_path / "pcls_ck")

    def feed(events, name):
        d = str(tmp_path / name)
        write_envelope_file(d, "b.json", events)
        return read_envelope_feed(spark, d, TRADE_SCHEMA, streaming=False)

    t0, t1 = make_trade(0), make_trade(1)
    apply_changes(
        spark,
        feed([("INSERT", t0, 1), ("MODIFY", dict(t0, shares=5), 2),
              ("INSERT", t1, 3)], "pk1"),
        src, "id", mode="history", partition_by=["ticker"],
    )
    got = []

    def proc(df, frm, to):
        got.extend(
            (r["id"], int(r["_seq"]), r["_change_type"], r["ticker"])
            for r in df.collect()
        )

    _await(stream_classified_changes(spark, src, ck, proc))
    assert sorted(got) == sorted(
        [(t0["id"], 1, "insert", t0["ticker"]),
         (t0["id"], 2, "update", t0["ticker"]),
         (t1["id"], 3, "insert", t1["ticker"])]
    )

    # compaction (folding t0's two versions, horizon = the consumed
    # offset) upgrades the layout; nothing below the marker may re-emit
    compact_history(spark, src, before_seq=3, partition_by=["ticker"])
    assert table_data_dir(src) != src
    got.clear()
    _await(stream_classified_changes(spark, src, ck, proc))
    assert got == []  # fold re-listed, marker gated, no re-emission

    # a post-upgrade append lands in the version dir and is delivered
    # with its partition column intact
    apply_changes(
        spark, feed([("MODIFY", dict(t0, shares=9), 4)], "pk2"),
        src, "id", mode="history", partition_by=["ticker"],
    )
    got.clear()
    _await(stream_classified_changes(spark, src, ck, proc))
    assert got == [(t0["id"], 4, "update", t0["ticker"])]


def test_bridge_bootstrap_gates_already_applied_history_rows(
    spark, tmp_path
):
    """A horizon-lapsed bridge consumer bootstraps by re-applying the
    source's retained history — which, for a HISTORY-mode replica,
    is a blind append: the bootstrap must first gate the frame
    through the re-delivery filter (exact stored (key, seq) pairs) or
    every retained row the replica already holds would be appended a
    second time (doubled storage, duplicate read_changes events). The
    content-stream path gates exactly this case; this pins the bridge
    path doing the same."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.apply import (
        KEY_COL,
        SEQ_COL,
        _read_table,
        apply_changes,
        read_warehouse as _rw,
    )
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.maintenance import (
        compact_history,
    )
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.sources.change_feed import (
        read_envelope_feed,
    )
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.streaming.cdf import (
        stream_sync_changes,
    )

    src = str(tmp_path / "boot_src")
    dst = str(tmp_path / "boot_dst")
    ck = str(tmp_path / "boot_ck")

    def feed(events, name):
        d = str(tmp_path / name)
        write_envelope_file(d, "b.json", events)
        return read_envelope_feed(spark, d, TRADE_SCHEMA, streaming=False)

    t0, t1 = make_trade(0), make_trade(1)
    apply_changes(
        spark,
        feed([("INSERT", t0, 1), ("MODIFY", dict(t0, shares=5), 2),
              ("INSERT", t1, 3)], "boot1"),
        src, "id", mode="history", partition_by=["ticker"],
    )
    # partitioned source -> the bridge path; history-mode replica
    _await(stream_sync_changes(spark, src, dst, ck, "id", mode="history"))
    assert _read_table(spark, dst).count() == 3

    # two more versions, then compact PAST the bridge's offset (3):
    # the next drain lapses below the horizon and must bootstrap
    apply_changes(
        spark,
        feed([("MODIFY", dict(t1, shares=7), 4),
              ("MODIFY", dict(t0, shares=9), 5)], "boot2"),
        src, "id", mode="history", partition_by=["ticker"],
    )
    compact_history(spark, src, before_seq=5, partition_by=["ticker"])

    _await(stream_sync_changes(spark, src, dst, ck, "id", mode="history"))

    # no (key, seq) version row may appear twice in the replica
    dup = (
        _read_table(spark, dst)
        .groupBy(KEY_COL, SEQ_COL)
        .count()
        .filter(F.col("count") > 1)
        .collect()
    )
    assert dup == [], dup
    # and the replica's reconstructed state equals the source's
    a = sorted(
        (r["id"], r["shares"]) for r in _rw(spark, src).collect()
    )
    b = sorted(
        (r["id"], r["shares"]) for r in _rw(spark, dst).collect()
    )
    assert a == b == sorted(
        [(t0["id"], 9), (t1["id"], 7)]
    )
