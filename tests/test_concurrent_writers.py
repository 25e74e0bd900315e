"""Concurrency scopes: disjoint writers commit concurrently.

The round-8 fence serialized EVERY mutation of a table behind one
lock. ``apply._fence``'s scopes narrow it: blind appends take unique
tokens (appends never conflict with each other), a partitioned merge
locks only its touched partitions (disjoint merges run concurrently,
overlapping ones wait for the contended partition, up to
``FENCE_WAIT_SECONDS``), and whole-table operations keep the exclusive
table scope — also refused while partition-scoped work is in flight
(each side claims its own locks, then checks the other class, and
releases before it waits, so no deadlock is possible).
"""

from __future__ import annotations

import os
import threading

import pytest
from pyspark.sql import functions as F

from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators import apply as A
from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.apply import (
    ConcurrentWriteError,
    apply_changes,
    read_warehouse,
)
from cdc_from_sql_and_nosql_to_data_warehouse_spark.sources.change_feed import (
    read_envelope_feed,
)

from .fixtures import TRADE_SCHEMA, make_trade, write_envelope_file


def _feed(spark, tmp_path, events, name):
    d = str(tmp_path / name)
    write_envelope_file(d, "b.json", events)
    return read_envelope_feed(spark, d, TRADE_SCHEMA, streaming=False)


def _seed_partitioned(spark, tmp_path, wh):
    """A partitioned upsert table with rows in tickers tk1 and tk2."""
    t1 = dict(make_trade(1), ticker="tk1")
    t2 = dict(make_trade(2), ticker="tk2")
    apply_changes(
        spark,
        _feed(spark, tmp_path, [("INSERT", t1, 1), ("INSERT", t2, 2)], "seed"),
        wh, "id", mode="upsert", partition_by=["ticker"],
    )
    return t1, t2


def test_disjoint_partition_merges_do_not_serialize(
    spark, tmp_path, monkeypatch
):
    """While one writer HOLDS partition tk1's lock, a merge touching
    only tk2 commits; a merge touching tk1 conflicts on the contended
    partition — the disjoint-writers contract, pinned deterministically
    by holding the scope open rather than racing threads. Retry budget
    pinned to 1 attempt: this test is about ACQUISITION semantics; the
    engine-side retry layer has its own tests below."""
    monkeypatch.setattr(A, "FENCE_WAIT_SECONDS", 0)
    wh = str(tmp_path / "wh_disj")
    t1, t2 = _seed_partitioned(spark, tmp_path, wh)

    with A._fence(wh, "partitions", ["ticker"], [("tk1",)]):
        # tk2-only merge commits while tk1 is held
        apply_changes(
            spark,
            _feed(spark, tmp_path,
                  [("MODIFY", dict(t2, shares=20), 3)], "d2"),
            wh, "id", mode="upsert", partition_by=["ticker"],
        )
        # tk1-touching merge conflicts on the partition lock
        with pytest.raises(ConcurrentWriteError):
            apply_changes(
                spark,
                _feed(spark, tmp_path,
                      [("MODIFY", dict(t1, shares=10), 4)], "d1"),
                wh, "id", mode="upsert", partition_by=["ticker"],
            )
    out = {r["id"]: r["shares"] for r in read_warehouse(spark, wh).collect()}
    assert out[t2["id"]] == 20
    assert out[t1["id"]] == make_trade(1)["shares"]  # conflicted merge never landed


def test_whole_table_ops_conflict_with_inflight_partition_work(
    spark, tmp_path, monkeypatch
):
    """Both directions of the two-phase check: a whole-table operation
    refuses while a live partition lock exists, and a partition-scoped
    merge refuses while the table fence is held. Retry budget pinned to
    1 attempt — acquisition semantics only (a held-for-the-duration
    lock would otherwise just stretch the test by the backoff)."""
    monkeypatch.setattr(A, "FENCE_WAIT_SECONDS", 0)
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.maintenance import (
        compact_parquet,
    )

    wh = str(tmp_path / "wh_tp")
    t1, _t2 = _seed_partitioned(spark, tmp_path, wh)

    with A._fence(wh, "partitions", ["ticker"], [("tk1",)]):
        with pytest.raises(ConcurrentWriteError):
            compact_parquet(spark, wh, partition_by=["ticker"])
    # released: the compaction proceeds
    compact_parquet(spark, wh, partition_by=["ticker"])

    with A._fence(wh, "table"):
        with pytest.raises(ConcurrentWriteError):
            apply_changes(
                spark,
                _feed(spark, tmp_path,
                      [("MODIFY", dict(t1, shares=11), 5)], "t1"),
                wh, "id", mode="upsert", partition_by=["ticker"],
            )


def test_appends_never_conflict_with_each_other(spark, tmp_path, monkeypatch):
    """Two blind appenders (append/history modes) hold unique tokens —
    one appending while another's token is live succeeds; a whole-table
    swap refuses while any token is live. Retry budget pinned to 1:
    acquisition semantics only (the token is held for the whole block,
    so the backoff would only stretch the test)."""
    monkeypatch.setattr(A, "FENCE_WAIT_SECONDS", 0)
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.maintenance import (
        compact_history,
    )

    wh = str(tmp_path / "wh_app")
    t0 = make_trade(0)
    apply_changes(
        spark, _feed(spark, tmp_path, [("INSERT", t0, 1)], "a0"),
        wh, "id", mode="history",
    )
    with A._fence(wh, "append"):
        apply_changes(
            spark,
            _feed(spark, tmp_path,
                  [("MODIFY", dict(t0, shares=7), 2)], "a1"),
            wh, "id", mode="history",
        )
        with pytest.raises(ConcurrentWriteError):
            compact_history(spark, wh, before_seq=2)
    assert read_warehouse(spark, wh).first()["shares"] == 7
    compact_history(spark, wh, before_seq=2)  # tokens released: proceeds


def test_threaded_disjoint_merges_both_commit_first_try(spark, tmp_path):
    """Two writer threads merging into DIFFERENT partitions at the same
    time both commit with NO retry loop — under the old single fence
    one of them would raise ConcurrentWriteError whenever they
    overlapped in time; under partition scope a conflict between them
    is a bug."""
    wh = str(tmp_path / "wh_thr")
    t1, t2 = _seed_partitioned(spark, tmp_path, wh)
    feeds = {
        "tk1": _feed(spark, tmp_path, [("MODIFY", dict(t1, shares=101), 11)], "th1"),
        "tk2": _feed(spark, tmp_path, [("MODIFY", dict(t2, shares=102), 12)], "th2"),
    }
    barrier = threading.Barrier(2)
    errors: list[Exception] = []

    def run(tk):
        try:
            barrier.wait(timeout=60)
            apply_changes(
                spark, feeds[tk], wh, "id",
                mode="upsert", partition_by=["ticker"],
            )
        except Exception as e:  # pragma: no cover - failure evidence
            errors.append(e)

    threads = [threading.Thread(target=run, args=(tk,)) for tk in feeds]
    for th in threads:
        th.start()
    for th in threads:
        th.join(120)
    assert errors == [], errors
    out = {r["id"]: r["shares"] for r in read_warehouse(spark, wh).collect()}
    assert out[t1["id"]] == 101 and out[t2["id"]] == 102
    # all scope state released
    assert A._live_plocks(wh) == []
    assert not os.path.exists(A._lock_path(wh))


def test_overlapping_merge_engine_retry_converges(spark, tmp_path):
    """Round-10 OCC: an overlapping-partition merge no longer surfaces
    the conflict to the caller when the holder finishes within the
    backoff budget — the engine re-acquires and lands exactly the
    serial result, with NO manual retry. A holder that outlives the
    budget still raises (pinned with the budget shrunk to 1)."""
    import time

    wh = str(tmp_path / "wh_retry")
    t1, _ = _seed_partitioned(spark, tmp_path, wh)
    env = _feed(spark, tmp_path, [("MODIFY", dict(t1, shares=33), 9)], "r1")

    holder = A._fence(wh, "partitions", ["ticker"], [("tk1",)])
    holder.__enter__()
    release = threading.Timer(1.0, lambda: holder.__exit__(None, None, None))
    release.start()
    try:
        # engine-side retry outlasts the 1s holder: one call, no raise
        apply_changes(
            spark, env, wh, "id", mode="upsert", partition_by=["ticker"]
        )
    finally:
        release.join()
    out = {r["id"]: r["shares"] for r in read_warehouse(spark, wh).collect()}
    assert out[t1["id"]] == 33


def test_concurrent_upsert_and_compaction_both_commit(spark, tmp_path):
    """The round-9 verdict's OCC acceptance case: a whole-table upsert
    merge racing a whole-table compaction — both commit without the
    caller retrying anything, and the end state equals serial
    execution (the merge's winner arbitration is order-independent)."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.maintenance import (
        compact_parquet,
    )

    wh = str(tmp_path / "wh_occ")
    trades = [make_trade(i) for i in range(6)]
    apply_changes(
        spark,
        _feed(spark, tmp_path,
              [("INSERT", t, i + 1) for i, t in enumerate(trades)], "o0"),
        wh, "id", mode="upsert",
    )
    env = _feed(
        spark, tmp_path,
        [("MODIFY", dict(trades[0], shares=777), 100)], "o1",
    )
    barrier = threading.Barrier(2)
    errors: list[Exception] = []

    def upserter():
        try:
            barrier.wait(timeout=60)
            apply_changes(spark, env, wh, "id", mode="upsert")
        except Exception as e:  # pragma: no cover - failure evidence
            errors.append(e)

    def compactor():
        try:
            barrier.wait(timeout=60)
            compact_parquet(spark, wh, min_files_to_compact=1)
        except Exception as e:  # pragma: no cover - failure evidence
            errors.append(e)

    ts = [threading.Thread(target=upserter), threading.Thread(target=compactor)]
    for t in ts:
        t.start()
    for t in ts:
        t.join(180)
    assert errors == [], errors
    out = {r["id"]: r["shares"] for r in read_warehouse(spark, wh).collect()}
    assert len(out) == 6
    assert out[trades[0]["id"]] == 777  # the merge landed
    # scope state fully released
    assert A._live_plocks(wh) == []
    assert not os.path.exists(A._lock_path(wh))


def test_conflicting_swaps_converge_to_serial_state(spark, tmp_path):
    """Two whole-table upsert swaps racing on the SAME key: whichever
    commit order the retry layer produces, the end state equals serial
    execution — max-seq arbitration makes the rebase order-free."""
    wh = str(tmp_path / "wh_ser")
    t0 = make_trade(0)
    apply_changes(
        spark, _feed(spark, tmp_path, [("INSERT", t0, 1)], "s0"),
        wh, "id", mode="upsert",
    )
    lo = _feed(spark, tmp_path, [("MODIFY", dict(t0, shares=50), 5)], "s5")
    hi = _feed(spark, tmp_path, [("MODIFY", dict(t0, shares=60), 6)], "s6")
    barrier = threading.Barrier(2)
    errors: list[Exception] = []

    def run(env):
        try:
            barrier.wait(timeout=60)
            apply_changes(spark, env, wh, "id", mode="upsert")
        except Exception as e:  # pragma: no cover - failure evidence
            errors.append(e)

    ts = [threading.Thread(target=run, args=(e,)) for e in (lo, hi)]
    for t in ts:
        t.start()
    for t in ts:
        t.join(180)
    assert errors == [], errors
    out = {r["id"]: r["shares"] for r in read_warehouse(spark, wh).collect()}
    assert out == {t0["id"]: 60}  # seq-6 wins in every commit order


def test_null_partition_remove_falls_back_to_table_scope(spark, tmp_path):
    """A delete-propagating batch whose REMOVE carries no partition
    values merges unpruned — it must take the WHOLE-table fence, so an
    in-flight disjoint partition writer conflicts instead of racing the
    full rewrite."""
    wh = str(tmp_path / "wh_null")
    t1, _ = _seed_partitioned(spark, tmp_path, wh)
    kind, parts, probed = A._scope_for(
        _feed(spark, tmp_path, [("REMOVE", {"id": t1["id"]}, 7)], "n1"),
        wh, "upsert", True, ["ticker"],
    )
    assert kind == "table"
    assert probed == "unpruned"  # the merge must not prune this batch
    # and a partition-values-bearing delete batch stays partition-scoped,
    # with the all-null tombstone route locked alongside; the probe's
    # tuple set (handed to the merge so the batch is scanned once)
    # carries only the REAL partitions
    kind2, parts2, probed2 = A._scope_for(
        _feed(spark, tmp_path, [("REMOVE", dict(t1), 8)], "n2"),
        wh, "upsert", True, ["ticker"],
    )
    assert kind2 == "partitions"
    assert (None,) in parts2 and ("tk1",) in parts2
    assert probed2 == [("tk1",)]


def test_stamp_mutex_prevents_lost_schema_union(spark, tmp_path, monkeypatch):
    """Two concurrent evolving appenders both union their new column
    into the manifest; without the stamp mutex the second writer's
    read-modify-write would erase the first's column. Forced
    interleaving: writer A pauses between its read and its write while
    writer B completes a full stamp."""
    import pyspark.sql.types as T

    wh = str(tmp_path / "wh_stamp")
    t0 = make_trade(0)
    apply_changes(
        spark, _feed(spark, tmp_path, [("INSERT", t0, 1)], "s0"),
        wh, "id", mode="history",
    )
    base = A.read_table_schema(wh)
    assert base is not None

    done = threading.Event()

    def stamp(colname):
        A._stamp_schema_union(
            spark, wh,
            T.StructType(list(base.fields) + [T.StructField(colname, T.StringType())]),
        )

    a = threading.Thread(target=stamp, args=("col_a",))
    b = threading.Thread(target=stamp, args=("col_b",))
    a.start(); b.start()
    a.join(60); b.join(60)
    done.set()
    final = A.read_table_schema(wh)
    assert "col_a" in final.fieldNames() and "col_b" in final.fieldNames()


def _henv(spark, rows):
    """rows: [(key, v, seq)] -> history envelope."""
    return spark.createDataFrame(
        [(str(k), "INSERT", (str(k), float(v)), int(s)) for k, v, s in rows],
        "key string, op string, after struct<k:string,v:double>, seq long",
    ).coalesce(1)


def test_concurrent_first_appends_create_one_sound_manifest(
    spark, tmp_path
):
    """Round-11 manifests-from-birth: table CREATION takes the
    whole-table fence (_scope_for), so two racing FIRST history
    batches serialize — the winner records the birth manifest, the
    loser extends it — and the committed fileset covers every row.
    Without the creation fence, the loser's has_log probe could race
    the winner's base walk and land unlogged (invisible) rows."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators import (
        fileset,
    )
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.apply import (
        table_data_dir,
    )

    wh = str(tmp_path / "wh")
    errs = []

    def writer(lo: int) -> None:
        try:
            apply_changes(
                spark,
                _henv(spark, [(k, k, lo * 100 + k) for k in range(lo, lo + 4)]),
                wh, "k", mode="history",
            )
        except Exception as e:  # noqa: BLE001 - surface in main thread
            errs.append(e)

    ts = [threading.Thread(target=writer, args=(lo,)) for lo in (0, 4)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert errs == [], errs
    d = table_data_dir(wh)
    assert fileset.has_log(d)
    # the manifest covers EVERY on-disk data file: no invisible rows
    assert sorted(fileset.read_fileset(d)) == fileset.walk_data_files(d)
    got = sorted(int(r["k"]) for r in read_warehouse(spark, wh).collect())
    assert got == list(range(8))


def test_manifest_stream_converges_under_concurrent_appends(
    spark, tmp_path
):
    """The manifest-planned stream drains correctly while appenders
    race it: every trigger's delta comes from the commit log, so
    whatever interleaving of log batches the stream observes, the
    union of deltas is exactly the committed rows — the replica ends
    bit-equal to the source's latest-wins state."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.streaming.cdf import (
        stream_sync_changes,
    )

    src, dst, ck = (
        str(tmp_path / "src"), str(tmp_path / "dst"), str(tmp_path / "ck")
    )
    apply_changes(
        spark, _henv(spark, [(0, 0.0, 1)]), src, "k", mode="history"
    )
    stop = threading.Event()
    errs = []

    def appender(tid: int) -> None:
        try:
            for i in range(1, 6):
                apply_changes(
                    spark,
                    _henv(
                        spark,
                        [(tid * 100 + i, i, 1000 * tid + i)],
                    ),
                    src, "k", mode="history",
                )
        except Exception as e:  # noqa: BLE001
            errs.append(e)
        finally:
            stop.set()

    ts = [threading.Thread(target=appender, args=(t,)) for t in (1, 2)]
    for t in ts:
        t.start()
    # drain repeatedly WHILE appends land (each availableNow pass races
    # the writers), then once more after they finish
    while any(t.is_alive() for t in ts):
        q = stream_sync_changes(
            spark, src, dst, ck, "k", plan_from_manifest=True
        )
        q.awaitTermination()
    for t in ts:
        t.join()
    assert errs == [], errs
    q = stream_sync_changes(spark, src, dst, ck, "k", plan_from_manifest=True)
    q.awaitTermination()
    want = sorted(
        (r["k"], r["v"]) for r in read_warehouse(spark, src).collect()
    )
    got = sorted(
        (r["k"], r["v"]) for r in read_warehouse(spark, dst).collect()
    )
    assert got == want
    assert len(got) == 11  # seed + 2 writers x 5 distinct keys


def test_error_inside_fence_body_is_not_retried(spark, tmp_path, monkeypatch):
    """Only ACQUISITION waits: a partitioned upsert whose pre-stamp
    times out on a held ``"stamp"`` fence raises once. The body
    (``_apply_changes_locked``) ran exactly once — re-running a partly
    applied body is the double apply the fence prevents — and the
    table still reads its pre-call rows."""
    wh = str(tmp_path / "wh_body")
    t1, _t2 = _seed_partitioned(spark, tmp_path, wh)
    before = {r["id"]: r.asDict() for r in read_warehouse(spark, wh).collect()}
    env = _feed(spark, tmp_path, [("MODIFY", dict(t1, shares=44), 9)], "b1")
    calls = []
    locked = A._apply_changes_locked

    def counting(*args, **kwargs):
        calls.append(1)
        return locked(*args, **kwargs)

    monkeypatch.setattr(A, "_apply_changes_locked", counting)
    monkeypatch.setattr(A, "FENCE_WAIT_SECONDS", 0.2)
    with A._fence(wh, "stamp"):
        with pytest.raises(ConcurrentWriteError):
            apply_changes(
                spark, env, wh, "id", mode="upsert", partition_by=["ticker"]
            )
    assert calls == [1]
    after = {r["id"]: r.asDict() for r in read_warehouse(spark, wh).collect()}
    assert after == before


def test_drain_waits_out_held_aggregate_fence(spark, tmp_path):
    """An aggregate drain that finds its table fence held waits like
    every other mutation instead of failing fast: with the holder
    released after 1 s, ``sync_aggregate`` commits and the aggregate
    equals a full recompute."""
    import time

    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.incremental import (
        sync_aggregate,
    )

    src = str(tmp_path / "wh_src")
    agg = str(tmp_path / "wh_agg")
    apply_changes(
        spark,
        _feed(spark, tmp_path,
              [("INSERT", dict(make_trade(0), ticker="aa", price=10.0), 1),
               ("INSERT", dict(make_trade(1), ticker="aa", price=20.0), 2),
               ("INSERT", dict(make_trade(2), ticker="bb", price=5.0), 3)],
              "g1"),
        src, "id", mode="history",
    )
    holder = A._fence(agg, "table")
    holder.__enter__()
    t0 = time.monotonic()
    release = threading.Timer(1.0, lambda: holder.__exit__(None, None, None))
    release.start()
    try:
        assert sync_aggregate(spark, src, agg, "ticker", "price") is not None
    finally:
        release.join()
    assert time.monotonic() - t0 >= 1.0
    want = sorted(
        (r["ticker"], r["n"], float(r["tv"]))
        for r in read_warehouse(spark, src)
        .groupBy("ticker")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("price").cast("decimal(18,2)")).alias("tv"),
        )
        .collect()
    )
    got = sorted(
        (r["ticker"], r["n_keys"], float(r["total_value"]))
        for r in spark.read.parquet(A.table_data_dir(agg)).collect()
    )
    assert got == want == [("aa", 2, 30.0), ("bb", 1, 5.0)]


def test_fence_wait_is_bounded_by_deadline(spark, tmp_path, monkeypatch):
    """A held fence makes a competitor raise once FENCE_WAIT_SECONDS
    have passed — for a whole-table maintenance op behind a held
    ``"table"`` scope and for a schema stamp behind a held ``"stamp"``.
    Only the lower bound is asserted: the raise can never come early."""
    import time

    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.maintenance import (
        compact_parquet,
    )

    monkeypatch.setattr(A, "FENCE_WAIT_SECONDS", 0.5)
    wh = str(tmp_path / "wh_deadline")
    _seed_partitioned(spark, tmp_path, wh)
    schema = A.read_table_schema(wh)
    for scope, compete in (
        ("table", lambda: compact_parquet(spark, wh)),
        ("stamp", lambda: A._stamp_schema_union(spark, wh, schema)),
    ):
        with A._fence(wh, scope):
            t0 = time.monotonic()
            with pytest.raises(ConcurrentWriteError):
                compete()
            assert time.monotonic() - t0 >= 0.5, scope


def test_fence_backoff_sleeps_stay_under_cap(tmp_path, monkeypatch):
    """Each backoff sleep of a blocked fence stays within the 2 s cap,
    jitter included, so a waiter never idles long after the holder has
    released. Time is simulated: ``time.sleep`` records each request
    and advances a fake ``time.monotonic`` by it, and ``random.random``
    returns its worst case, so the whole FENCE_WAIT_SECONDS wait runs
    at once and the sleeps are the same on every run."""
    import random
    import time

    clock = [0.0]
    slept: list[float] = []

    def fake_sleep(s):
        slept.append(s)
        clock[0] += s

    wh = str(tmp_path / "wh_backoff")
    with A._fence(wh, "table"):
        monkeypatch.setattr(time, "monotonic", lambda: clock[0])
        monkeypatch.setattr(time, "sleep", fake_sleep)
        monkeypatch.setattr(random, "random", lambda: 1.0)
        with pytest.raises(ConcurrentWriteError):
            with A._fence(wh, "table"):
                pass
        monkeypatch.undo()
    assert sum(slept) == pytest.approx(A.FENCE_WAIT_SECONDS)
    assert max(slept) == 2.0  # the cap is reached, never passed
    assert all(s <= 2.0 for s in slept), slept
