"""Version-pointer table commit: the object-store-real swap.

``_swap_into`` commits by writing a fresh version dir and atomically
replacing the ``_current`` pointer — no directory rename anywhere on
the path (object stores have none). These tests pin that contract:
fault-injection proves no mutation path needs a directory rename,
crash windows inside the commit leave the table serving a complete
version, the legacy (root-layout) upgrade is seamless, and superseded
versions are GC'd on the grace period.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from cdc_from_sql_and_nosql_to_data_warehouse_spark import fsio
from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators import apply as A
from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.apply import (
    CURRENT_POINTER,
    apply_changes,
    read_warehouse,
    table_data_dir,
)
from cdc_from_sql_and_nosql_to_data_warehouse_spark.sources.change_feed import (
    read_envelope_feed,
)

from .fixtures import TRADE_SCHEMA, make_trade, write_envelope_file


def _feed(spark, tmp_path, events, name="feed"):
    d = str(tmp_path / name)
    write_envelope_file(d, "batch1.json", events)
    return read_envelope_feed(spark, d, TRADE_SCHEMA, streaming=False)


def _ids(spark, target):
    return sorted(r["id"] for r in read_warehouse(spark, target).collect())


def test_swap_commits_via_pointer_not_rename(spark, tmp_path, monkeypatch):
    """Fault injection: with fsio.move refusing DIRECTORY renames (the
    primitive an object store lacks), the full mutate surface — upsert
    merge swaps, compaction, history fold, tombstone vacuum, purge —
    runs to completion. Single-FILE moves stay allowed (the lock
    adoption dance uses them and documents why that is object-store
    emulable)."""
    real_move = fsio.move

    def refuse_dir_renames(src, dst):
        assert not os.path.isdir(src), (
            f"directory rename attempted: {src} -> {dst}"
        )
        real_move(src, dst)

    monkeypatch.setattr(fsio, "move", refuse_dir_renames)

    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.maintenance import (
        compact_history,
        compact_parquet,
        purge_keys,
        vacuum_tombstones,
    )

    t0, t1, t2 = make_trade(0), make_trade(1), make_trade(2)

    # upsert: create + merge + delete-propagating merge (swap per batch)
    up = str(tmp_path / "wh_up")
    apply_changes(
        spark,
        _feed(spark, tmp_path, [("INSERT", t0, 1), ("INSERT", t1, 2)], "f1"),
        up, "id", mode="upsert", propagate_deletes=True,
    )
    apply_changes(
        spark,
        _feed(spark, tmp_path,
              [("MODIFY", dict(t0, shares=9), 3), ("REMOVE", {"id": t1["id"]}, 4)],
              "f2"),
        up, "id", mode="upsert", propagate_deletes=True,
    )
    assert _ids(spark, up) == [t0["id"]]
    assert {r["shares"] for r in read_warehouse(spark, up).collect()} == {9}
    # pointer layout took effect on the first swap
    assert table_data_dir(up) != up
    # maintenance over the pointer table
    vacuum_tombstones(spark, up, before_seq=100)
    compact_parquet(spark, up, target_file_bytes=1 << 30)
    assert _ids(spark, up) == [t0["id"]]

    # history: blind appends (legacy layout) then the fold's swap
    hist = str(tmp_path / "wh_hist")
    apply_changes(
        spark,
        _feed(spark, tmp_path,
              [("INSERT", t2, 1), ("MODIFY", dict(t2, shares=5), 2)], "f3"),
        hist, "id", mode="history",
    )
    assert table_data_dir(hist) == hist  # appends never need a swap
    compact_history(spark, hist, before_seq=3)
    assert table_data_dir(hist) != hist  # the fold upgraded it
    assert [r["shares"] for r in read_warehouse(spark, hist).collect()] == [5]
    assert purge_keys(spark, hist, "id", [t2["id"]]) >= 1
    assert read_warehouse(spark, hist).count() == 0


def test_crash_before_pointer_flip_serves_old_version(spark, tmp_path, monkeypatch):
    """A crash after the new version dir is fully written but before
    the pointer flips must leave the table serving its previous
    version; the replayed commit converges and the orphan is GC'd.
    Grace pinned to 0: the final assertions are about the GC actually
    collecting (the round-10 default retains for in-flight readers)."""
    monkeypatch.setattr(A, "VERSION_GC_GRACE_SECONDS", 0.0)
    t0, t1 = make_trade(0), make_trade(1)
    up = str(tmp_path / "wh_crash")
    apply_changes(
        spark,
        _feed(spark, tmp_path, [("INSERT", t0, 1), ("INSERT", t1, 2)], "c1"),
        up, "id", mode="upsert",
    )
    v1 = table_data_dir(up)
    assert v1 != up

    real_write = fsio.atomic_write_text

    def crash_on_pointer(path, text):
        if os.path.basename(path) == CURRENT_POINTER:
            raise OSError("injected crash before pointer flip")
        real_write(path, text)

    monkeypatch.setattr(fsio, "atomic_write_text", crash_on_pointer)
    with pytest.raises(OSError, match="injected crash"):
        apply_changes(
            spark,
            _feed(spark, tmp_path, [("MODIFY", dict(t0, shares=7), 3)], "c2"),
            up, "id", mode="upsert",
        )
    monkeypatch.setattr(fsio, "atomic_write_text", real_write)

    # old version still current; orphan staging exists beside it
    assert table_data_dir(up) == v1
    assert _ids(spark, up) == sorted([t0["id"], t1["id"]])
    assert {
        r["shares"] for r in read_warehouse(spark, up).collect()
    } == {make_trade(0)["shares"], make_trade(1)["shares"]}
    orphans = [
        d for d in os.listdir(up)
        if d.startswith("v_") and os.path.join(up, d) != v1
    ]
    assert orphans, "the crashed commit should have left a staged version"

    # the replayed batch re-merges against the OLD version (exactly
    # what an at-least-once replay would deliver) and commits
    apply_changes(
        spark,
        _feed(spark, tmp_path, [("MODIFY", dict(t0, shares=7), 3)], "c3"),
        up, "id", mode="upsert",
    )
    v2 = table_data_dir(up)
    assert v2 not in (up, v1)
    assert _ids(spark, up) == sorted([t0["id"], t1["id"]])
    out = {r["id"]: r["shares"] for r in read_warehouse(spark, up).collect()}
    assert out[t0["id"]] == 7
    left = [d for d in os.listdir(up) if d.startswith("v_")]
    assert left == [os.path.basename(v2)]


def test_version_counter_monotone_past_orphans(spark, tmp_path, monkeypatch):
    """A crashed commit's orphan version dir must never outrank a later
    COMMITTED version by name — the counter advances past every version
    the root has ever seen, pointer or orphan."""
    t0 = make_trade(0)
    up = str(tmp_path / "wh_ctr")
    apply_changes(
        spark, _feed(spark, tmp_path, [("INSERT", t0, 1)], "m1"),
        up, "id", mode="upsert",
    )
    # fake a high-counter orphan (as if a crashed future commit)
    orphan = os.path.join(up, "v_0000000042_deadbeef")
    os.makedirs(orphan)
    name = A._next_version_name(up)
    assert int(name.split("_")[1]) == 43


def test_gc_grace_keeps_superseded_version(spark, tmp_path, monkeypatch):
    """VERSION_GC_GRACE_SECONDS > 0: the superseded version dir
    survives the commit (in-flight readers finish), and a later commit
    past the grace removes it."""
    monkeypatch.setattr(A, "VERSION_GC_GRACE_SECONDS", 3600.0)
    t0 = make_trade(0)
    up = str(tmp_path / "wh_grace")
    apply_changes(
        spark, _feed(spark, tmp_path, [("INSERT", t0, 1)], "g1"),
        up, "id", mode="upsert",
    )
    v1 = table_data_dir(up)
    apply_changes(
        spark,
        _feed(spark, tmp_path, [("MODIFY", dict(t0, shares=7), 2)], "g2"),
        up, "id", mode="upsert",
    )
    v2 = table_data_dir(up)
    assert v2 != v1
    assert os.path.isdir(v1), "grace must keep the superseded version"
    # grace elapsed (0): the next commit clears both old versions
    monkeypatch.setattr(A, "VERSION_GC_GRACE_SECONDS", 0.0)
    apply_changes(
        spark,
        _feed(spark, tmp_path, [("MODIFY", dict(t0, shares=8), 3)], "g3"),
        up, "id", mode="upsert",
    )
    assert not os.path.isdir(v1)
    assert not os.path.isdir(v2)
    assert {r["shares"] for r in read_warehouse(spark, up).collect()} == {8}


def test_legacy_table_upgrades_on_first_swap(spark, tmp_path, monkeypatch):
    """A table written pre-pointer (data files at the root) reads as
    itself, upgrades to the pointer layout on its first swap, and the
    legacy root fileset is cleared by the commit's GC (grace pinned to
    0 — the default retains superseded state for in-flight readers)."""
    monkeypatch.setattr(A, "VERSION_GC_GRACE_SECONDS", 0.0)
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.maintenance import (
        compact_parquet,
    )

    legacy = str(tmp_path / "wh_legacy")
    spark.range(50).select(
        F.col("id"), (F.col("id") * 2).alias("val")
    ).repartition(4).write.parquet(legacy)
    assert table_data_dir(legacy) == legacy
    compact_parquet(spark, legacy, target_file_bytes=1 << 30)
    assert table_data_dir(legacy) != legacy
    # no legacy data files left at the root; reads resolve the pointer
    root_parquet = [f for f in os.listdir(legacy) if f.endswith(".parquet")]
    assert root_parquet == []
    out = spark.read.parquet(table_data_dir(legacy))
    assert out.count() == 50
    assert out.agg(F.sum("val")).first()[0] == 2450


def test_direct_root_read_fails_loudly_not_wrongly(spark, tmp_path):
    """An external reader that bypasses the pointer must get an error,
    never a silent union of versions or an empty result set read as
    truth: version dirs are not hive partition dirs, so Spark's plain
    root read cannot infer a schema."""
    from pyspark.errors.exceptions.captured import AnalysisException

    t0 = make_trade(0)
    up = str(tmp_path / "wh_root")
    apply_changes(
        spark, _feed(spark, tmp_path, [("INSERT", t0, 1)], "r1"),
        up, "id", mode="upsert",
    )
    assert table_data_dir(up) != up
    with pytest.raises(AnalysisException):
        spark.read.parquet(up).count()


def test_stream_survives_pointer_upgrade(spark, tmp_path):
    """The glob-sourced change-feed stream keeps delivering across the
    legacy->pointer upgrade a mid-stream compaction performs: folded
    files re-deliver from the new version dir (the gate's compaction
    contract) and LATER appends into the version dir are picked up —
    no silent starvation after the flip."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.maintenance import (
        compact_history,
    )
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.streaming.cdf import (
        stream_sync_changes,
    )

    def _await(q):
        q.awaitTermination(300)

    t0, t1, t2 = make_trade(0), make_trade(1), make_trade(2)
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    ck = str(tmp_path / "ck")
    apply_changes(
        spark,
        _feed(spark, tmp_path,
              [("INSERT", t0, 1), ("MODIFY", dict(t0, shares=5), 2),
               ("INSERT", t1, 3)],
              "s1"),
        src, "id", mode="history",
    )
    _await(stream_sync_changes(spark, src, dst, ck, "id"))
    assert _ids(spark, dst) == sorted([t0["id"], t1["id"]])

    # compaction (folding t0's two versions) upgrades the source to
    # the pointer layout mid-lifecycle
    assert table_data_dir(src) == src
    compact_history(spark, src, before_seq=3)
    assert table_data_dir(src) != src

    # post-upgrade appends land in the version dir; the glob source
    # must see both the re-delivered fold and the fresh append
    apply_changes(
        spark, _feed(spark, tmp_path, [("INSERT", t2, 4)], "s2"),
        src, "id", mode="history",
    )
    _await(stream_sync_changes(spark, src, dst, ck, "id"))
    assert _ids(spark, dst) == sorted([t0["id"], t1["id"], t2["id"]])

    # and a SECOND swap (pointer -> new version dir) keeps flowing too
    apply_changes(
        spark,
        _feed(spark, tmp_path, [("MODIFY", dict(t2, shares=98), 5)], "s3"),
        src, "id", mode="history",
    )
    compact_history(spark, src, before_seq=6)  # folds t2@4 into t2@5
    apply_changes(
        spark,
        _feed(spark, tmp_path, [("MODIFY", dict(t2, shares=99), 6)], "s4"),
        src, "id", mode="history",
    )
    _await(stream_sync_changes(spark, src, dst, ck, "id"))
    out = {r["id"]: r["shares"] for r in read_warehouse(spark, dst).collect()}
    assert out[t2["id"]] == 99


def test_partitioned_stream_sync_survives_pointer_upgrade(spark, tmp_path):
    """A hive-partitioned source cannot ride the content stream across
    the legacy->pointer upgrade (a partition-aware file source pins one
    physical dir and silently starves after the swap) — so
    ``stream_sync_changes`` routes partitioned sources through the
    layout-proof pacing bridge: every trigger runs one seq-offset
    ``sync_changes`` drain. This pins the whole lifecycle: drain,
    mid-stream compaction upgrade, post-upgrade appends, a second
    (pointer->pointer) swap — the replica must never stop advancing."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.maintenance import (
        compact_history,
    )
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.streaming.cdf import (
        stream_sync_changes,
    )

    def _await(q):
        q.awaitTermination(300)

    t0, t1, t2 = make_trade(0), make_trade(1), make_trade(2)
    src = str(tmp_path / "psync_src")
    dst = str(tmp_path / "psync_dst")
    ck = str(tmp_path / "psync_ck")
    apply_changes(
        spark,
        _feed(spark, tmp_path,
              [("INSERT", t0, 1), ("MODIFY", dict(t0, shares=5), 2),
               ("INSERT", t1, 3)],
              "ps1"),
        src, "id", mode="history", partition_by=["ticker"],
    )
    _await(stream_sync_changes(spark, src, dst, ck, "id"))
    assert _ids(spark, dst) == sorted([t0["id"], t1["id"]])

    # the upgrade that starves a pinned partition-aware content stream
    assert table_data_dir(src) == src
    compact_history(spark, src, before_seq=3, partition_by=["ticker"])
    assert table_data_dir(src) != src

    apply_changes(
        spark, _feed(spark, tmp_path, [("INSERT", t2, 4)], "ps2"),
        src, "id", mode="history", partition_by=["ticker"],
    )
    _await(stream_sync_changes(spark, src, dst, ck, "id"))
    assert _ids(spark, dst) == sorted([t0["id"], t1["id"], t2["id"]])

    # pointer -> pointer swap keeps flowing too; the seq offset never
    # re-delivers the fold (no gate needed on this path)
    apply_changes(
        spark,
        _feed(spark, tmp_path, [("MODIFY", dict(t2, shares=98), 5)], "ps3"),
        src, "id", mode="history", partition_by=["ticker"],
    )
    compact_history(spark, src, before_seq=6, partition_by=["ticker"])
    apply_changes(
        spark,
        _feed(spark, tmp_path, [("MODIFY", dict(t2, shares=99), 6)], "ps4"),
        src, "id", mode="history", partition_by=["ticker"],
    )
    _await(stream_sync_changes(spark, src, dst, ck, "id"))
    out = {r["id"]: r["shares"] for r in read_warehouse(spark, dst).collect()}
    assert out[t2["id"]] == 99


def test_partitioned_pointer_stream_refused(spark, tmp_path):
    """A hive-partitioned source in the pointer layout cannot ride the
    version-dir glob (partition discovery breaks across glob roots) —
    stream_changes must refuse loudly, pointing at the layout-proof
    consumers, instead of starving after the next swap."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.maintenance import (
        compact_history,
    )
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.streaming.cdf import (
        stream_changes,
    )

    t0, t1 = make_trade(0), make_trade(1)
    src = str(tmp_path / "psrc")
    apply_changes(
        spark,
        _feed(spark, tmp_path,
              [("INSERT", t0, 1), ("MODIFY", dict(t0, shares=5), 2),
               ("INSERT", t1, 3)],
              "p1"),
        src, "id", mode="history", partition_by=["ticker"],
    )
    compact_history(spark, src, before_seq=3, partition_by=["ticker"])
    assert table_data_dir(src) != src
    with pytest.raises(ValueError, match="hive-partitioned"):
        stream_changes(spark, src)


def test_version_time_travel_on_the_commit_log(spark, tmp_path, monkeypatch):
    """VERSION AS OF on the pointer substrate: the commit log makes a
    non-current version dir interpretable (superseded-committed vs
    aborted-orphan are indistinguishable on disk without it), so a
    version-pinned read can never expose uncommitted data. Grace
    retention bounds the travel horizon, exactly like Delta's VACUUM."""
    monkeypatch.setattr(A, "VERSION_GC_GRACE_SECONDS", 3600.0)
    t0, t1 = make_trade(0), make_trade(1)
    wh = str(tmp_path / "wh_tt")
    for i, batch in enumerate(
        [
            [("INSERT", t0, 1)],
            [("INSERT", t1, 2)],
            [("MODIFY", dict(t0, shares=77), 3)],
        ]
    ):
        apply_changes(
            spark, _feed(spark, tmp_path, batch, f"tt{i}"), wh, "id",
            mode="upsert",
        )

    vs = A.table_versions(wh)
    assert [v["current"] for v in vs] == [False, False, True]
    assert all(v["available"] for v in vs)  # grace retained them

    # snapshot reads: v1 has only t0@1, v2 adds t1, current has the edit
    v1, v2 = vs[0]["name"], vs[1]["name"]
    r1 = {r["id"]: r["shares"]
          for r in A.read_warehouse_version(spark, wh, v1).collect()}
    assert r1 == {t0["id"]: t0["shares"]}
    r2 = sorted(
        r["id"] for r in A.read_warehouse_version(spark, wh, v2).collect()
    )
    assert r2 == sorted([t0["id"], t1["id"]])
    cur = {r["id"]: r["shares"] for r in read_warehouse(spark, wh).collect()}
    assert cur[t0["id"]] == 77

    # an aborted commit's orphan is on disk but NEVER readable by name
    orphan = os.path.join(wh, A._next_version_name(wh))
    spark.createDataFrame([("DECOY",)], "id string").coalesce(1).write.parquet(
        orphan
    )
    with pytest.raises(ValueError, match="not a committed version"):
        A.read_warehouse_version(spark, wh, os.path.basename(orphan))

    # grace=0: the next commit collects superseded versions; the log
    # still names them, the read fails loudly instead of resurrecting
    monkeypatch.setattr(A, "VERSION_GC_GRACE_SECONDS", 0.0)
    apply_changes(
        spark,
        _feed(spark, tmp_path, [("MODIFY", dict(t1, shares=88), 4)], "tt3"),
        wh, "id", mode="upsert",
    )
    vs2 = A.table_versions(wh)
    assert [v["available"] for v in vs2] == [False, False, False, True]
    with pytest.raises(FileNotFoundError, match="garbage-collected"):
        A.read_warehouse_version(spark, wh, v1)
    # and the orphan was collected with everything else
    assert not os.path.exists(orphan)

    # the log self-prunes: collected versions leave it at the next
    # commit (an unpruned log would grow one line per swap forever),
    # so it always holds exactly the readable history
    apply_changes(
        spark,
        _feed(spark, tmp_path, [("MODIFY", dict(t1, shares=89), 5)], "tt4"),
        wh, "id", mode="upsert",
    )
    vs3 = A.table_versions(wh)
    assert len(vs3) == 2  # v1-v3 pruned; v4 listed (collected after
    assert [v["available"] for v in vs3] == [False, True]  # this append)
    with pytest.raises(ValueError, match="not a committed version"):
        A.read_warehouse_version(spark, wh, v1)


def test_lost_log_line_reconciles_from_prior_pointer(
    spark, tmp_path, monkeypatch
):
    """A crash between the pointer flip and the commit-log append loses
    that version's log LINE while the pointer proves it committed. The
    NEXT swap must reconcile the prior pointer's version back into the
    rebuilt log (its dir is still retained within grace) — otherwise a
    genuinely committed version would silently drop out of
    ``committed_versions`` the moment it is superseded, and
    ``read_warehouse_version`` would refuse a readable snapshot."""
    monkeypatch.setattr(A, "VERSION_GC_GRACE_SECONDS", 3600.0)
    wh = str(tmp_path / "wh")
    t0, t1 = make_trade(0), make_trade(1)
    apply_changes(
        spark,
        _feed(spark, tmp_path, [("INSERT", t0, 1)], "f1"),
        wh, "id", mode="upsert",
    )
    v1 = (fsio.read_text(os.path.join(wh, CURRENT_POINTER)) or "").strip()
    assert v1
    # simulate the crash window: the log line for v1 never landed
    fsio.remove(os.path.join(wh, A.VERSIONS_LOG))
    assert A.committed_versions(wh) == [v1]  # pointer alone proves it

    apply_changes(
        spark,
        _feed(spark, tmp_path, [("INSERT", t1, 2)], "f2"),
        wh, "id", mode="upsert",
    )
    v2 = (fsio.read_text(os.path.join(wh, CURRENT_POINTER)) or "").strip()
    assert v2 != v1
    # the rebuilt log reconciled v1 even though its line was lost
    assert A.committed_versions(wh) == [v1, v2]
    old = A.read_warehouse_version(spark, wh, v1)
    assert sorted(r["id"] for r in old.collect()) == [t0["id"]]
    assert _ids(spark, wh) == sorted([t0["id"], t1["id"]])
    monkeypatch.setattr(A, "VERSION_GC_GRACE_SECONDS", 0.0)


def test_pinned_read_survives_concurrent_commit_and_gc(spark, tmp_path):
    """Snapshot pinning under the DEFAULT GC grace (deliberately not
    monkeypatched — this test pins the default being safe): a read
    plans against one resolved version; a commit (swap + GC) lands
    between plan and collect; the collect still returns the OLD
    version's complete, unmixed snapshot, and every planned file lives
    under that one version dir. At grace 0 this exact sequence dies
    with FileNotFound — the exposure the round-9 verdict flagged."""
    assert A.VERSION_GC_GRACE_SECONDS >= 60.0  # the safe-default pin
    wh = str(tmp_path / "wh")
    t0, t1 = make_trade(0), make_trade(1)
    apply_changes(
        spark, _feed(spark, tmp_path, [("INSERT", t0, 1)], "pin1"),
        wh, "id", mode="upsert",
    )
    v1 = table_data_dir(wh)
    planned = read_warehouse(spark, wh)  # pinned to v1 at plan time

    apply_changes(
        spark,
        _feed(
            spark, tmp_path,
            [("MODIFY", dict(t0, shares=99), 2), ("INSERT", t1, 3)],
            "pin2",
        ),
        wh, "id", mode="upsert",
    )
    assert table_data_dir(wh) != v1  # the commit really landed

    rows = planned.collect()  # scan of the pinned (superseded) version
    assert [(r["id"], r["shares"]) for r in rows] == [
        (t0["id"], t0["shares"])
    ]
    assert all(v1 in f for f in planned.inputFiles())  # one version only

    fresh = read_warehouse(spark, wh)
    assert sorted((r["id"], r["shares"]) for r in fresh.collect()) == sorted(
        [(t0["id"], 99), (t1["id"], t1["shares"])]
    )


def test_gc_grace_runs_from_supersession_not_mtime(
    spark, tmp_path, monkeypatch
):
    """Review finding: grace measured from the version dir's mtime
    deletes any version that was CURRENT for longer than the grace the
    instant it is superseded — zero protection for slowly-swapped
    tables (the compaction-cadence case). The supersession clock
    (GC_CLOCK) starts the window at the commit that supersedes, so an
    old-but-just-superseded version always gets the full grace."""
    monkeypatch.setattr(A, "VERSION_GC_GRACE_SECONDS", 3600.0)
    wh = str(tmp_path / "wh")
    t0, t1 = make_trade(0), make_trade(1)
    apply_changes(
        spark, _feed(spark, tmp_path, [("INSERT", t0, 1)], "g1"),
        wh, "id", mode="upsert",
    )
    v1 = table_data_dir(wh)
    # the version has been current far longer than the grace
    old = 1_000_000_000.0
    os.utime(v1, (old, old))

    planned = read_warehouse(spark, wh)  # pinned to v1
    apply_changes(
        spark, _feed(spark, tmp_path, [("INSERT", t1, 2)], "g2"),
        wh, "id", mode="upsert",
    )
    assert os.path.isdir(v1), (
        "a just-superseded version must get the FULL grace regardless "
        "of how long it was current"
    )
    assert sorted(r["id"] for r in planned.collect()) == [t0["id"]]

    # and once its recorded supersession ages past the grace, the next
    # commit collects it (clock, not mtime, decides)
    import json as _json

    clock_path = os.path.join(wh, A.GC_CLOCK)
    clock = _json.loads(fsio.read_text(clock_path))
    v1_name = os.path.basename(v1)
    assert v1_name in clock
    clock[v1_name] = old  # age the supersession record
    fsio.atomic_write_text(clock_path, _json.dumps(clock))
    apply_changes(
        spark, _feed(spark, tmp_path, [("MODIFY", dict(t1, shares=9), 3)], "g3"),
        wh, "id", mode="upsert",
    )
    assert not os.path.isdir(v1)


def test_unscoped_append_holds_a_token(spark, tmp_path, monkeypatch):
    """Review finding: direct appends (bronze ingest, bulk load) used
    to run lock-free, so a whole-table sweep (vacuum_uncommitted,
    adopt_fileset_manifest) could interleave with a mid-move append.
    append_to_table now acquires an append token itself: a held table
    fence makes it conflict (budget pinned to 1 — acquisition
    semantics), and the apply paths' scoped=True calls still work
    under their own token."""
    monkeypatch.setattr(A, "FENCE_WAIT_SECONDS", 0)
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.apply import (
        ConcurrentWriteError,
        append_to_table,
    )

    wh = str(tmp_path / "wh")
    df = spark.range(4).selectExpr("cast(id as string) as k")
    append_to_table(df, wh)  # unscoped: acquires its own token
    with A._fence(wh, "table"):
        with pytest.raises(ConcurrentWriteError):
            append_to_table(df, wh)
    append_to_table(df, wh)
    assert spark.read.parquet(wh).count() == 8
    assert A._live_plocks(wh) == []  # tokens released


def test_vacuum_versions_sweeps_idle_table(spark, tmp_path, monkeypatch):
    """Commits are the only other place the GC runs, so an idle table
    would retain superseded versions forever; vacuum_versions runs the
    same supersession-clock sweep on demand: inside the grace the
    version is retained (and counted), past it the sweep collects it
    with no new commit required."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.maintenance import (
        vacuum_versions,
    )

    monkeypatch.setattr(A, "VERSION_GC_GRACE_SECONDS", 3600.0)
    wh = str(tmp_path / "wh")
    t0, t1 = make_trade(0), make_trade(1)
    apply_changes(
        spark, _feed(spark, tmp_path, [("INSERT", t0, 1)], "vv1"),
        wh, "id", mode="upsert",
    )
    v1 = table_data_dir(wh)
    apply_changes(
        spark, _feed(spark, tmp_path, [("INSERT", t1, 2)], "vv2"),
        wh, "id", mode="upsert",
    )
    assert os.path.isdir(v1)  # retained inside the grace
    assert vacuum_versions(spark, wh) == 1  # still inside: counted, kept
    assert os.path.isdir(v1)

    # age the supersession record past the grace; the sweep collects
    # with NO new commit
    import json as _json

    clock_path = os.path.join(wh, A.GC_CLOCK)
    clock = _json.loads(fsio.read_text(clock_path))
    clock[os.path.basename(v1)] = 1.0
    fsio.atomic_write_text(clock_path, _json.dumps(clock))
    assert vacuum_versions(spark, wh) == 0
    assert not os.path.isdir(v1)
    # legacy (never-swapped) tables are a no-op
    legacy = str(tmp_path / "legacy")
    spark.range(3).write.parquet(legacy)
    assert vacuum_versions(spark, legacy) == 0


def test_gc_clock_tolerates_wrong_shaped_json(spark, tmp_path, monkeypatch):
    """Review finding: a _gc_clock holding VALID JSON of the wrong
    shape (null, lists, non-numeric values) must degrade to
    'first seen now' and be repaired by the commit's rewrite — not
    crash every later commit after the pointer flip."""
    monkeypatch.setattr(A, "VERSION_GC_GRACE_SECONDS", 3600.0)
    wh = str(tmp_path / "wh")
    t0, t1, t2 = make_trade(0), make_trade(1), make_trade(2)
    apply_changes(
        spark, _feed(spark, tmp_path, [("INSERT", t0, 1)], "cc1"),
        wh, "id", mode="upsert",
    )
    for poison in ("null", "[1, 2]", '{"v_x": "abc", "v_y": true}'):
        fsio.atomic_write_text(os.path.join(wh, A.GC_CLOCK), poison)
        apply_changes(
            spark,
            _feed(spark, tmp_path, [("INSERT", t1, 2)], f"cc_{len(poison)}"),
            wh, "id", mode="upsert",
        )
    # commits kept succeeding and the clock is valid again
    import json as _json

    clock = _json.loads(fsio.read_text(os.path.join(wh, A.GC_CLOCK)))
    assert isinstance(clock, dict)
    assert all(isinstance(v, (int, float)) for v in clock.values())
    apply_changes(
        spark, _feed(spark, tmp_path, [("INSERT", t2, 3)], "cc4"),
        wh, "id", mode="upsert",
    )
    assert len(_ids(spark, wh)) == 3


def test_vacuum_versions_refuses_empty_pointer(spark, tmp_path):
    """Review finding: an empty _current file reads as LEGACY layout
    everywhere else (the root files ARE the live table) — the sweep
    must not clock those live files as superseded."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.maintenance import (
        vacuum_versions,
    )

    legacy = str(tmp_path / "legacy")
    spark.range(5).write.parquet(legacy)
    fsio.atomic_write_text(os.path.join(legacy, CURRENT_POINTER), "")
    assert table_data_dir(legacy) == legacy  # defended empty-pointer state
    assert vacuum_versions(spark, legacy) == 0
    assert not os.path.exists(os.path.join(legacy, A.GC_CLOCK))
    assert spark.read.parquet(legacy).count() == 5
