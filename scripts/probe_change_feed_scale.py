"""Scale probe for the history-mode readers (COVERAGE.md protocol).

``read_changes`` and ``read_warehouse`` over a history table are both
one key-window over the retained versions, so their wall should track
the RETAINED history size linearly (scan + single shuffle) — and
``compact_history`` is the lever that bounds that size. This probe
measures both claims: reader wall at 1x/10x/100x retained versions,
and the same reads after compaction folded 90% of the history.

Feed shape mirrors the CDC probe: K keys x V versions, 10% REMOVEs,
applied through the real blind-append history path in 8 scrambled
batches. Timing: cold then min-of-2 steady, count-forced.

``--stream-compact`` (round 8): a compaction swap renames every file,
so ``stream_sync_changes``'s file source re-delivers the ENTIRE
retained table on the next trigger. The seq gate filters the
re-delivered batch per-key against the replica and skips the
merge-and-rewrite when nothing is new — this leg records the
re-delivered drain's wall (scan + gate, no merge) next to the initial
full drain (scan + merge + rewrite) at 1x/10x/100x, making the
compaction-cadence trade a measured number.

Run manually: ``python scripts/probe_change_feed_scale.py``. Results
summarized in COVERAGE.md; nothing here runs in CI.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession, functions as F

from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.apply import (
    apply_changes,
    read_changes,
    read_warehouse,
    table_data_dir,
)
from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.maintenance import (
    compact_history,
)

BASE_ROWS = 100_000  # 1x leg: 10k keys x 10 versions
BATCHES = 8


def _steady(fn, runs: int = 2) -> float:
    fn()
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best


def _build(spark, path: str, rows: int) -> int:
    keys = rows // 10
    env = spark.range(rows).select(
        (F.col("id") % keys).cast("string").alias("key"),
        F.when(F.pmod(F.xxhash64("id"), F.lit(10)) == 0, "REMOVE")
        .when(F.col("id") < keys, "INSERT")
        .otherwise("MODIFY")
        .alias("op"),
        F.struct(
            (F.col("id") % keys).alias("k"),
            (F.col("id") * 17 % 1000).alias("v"),
        ).alias("after"),
        (F.floor(F.col("id") / keys) + 1).alias("seq"),
        F.pmod(F.xxhash64("id", F.lit(7)), F.lit(BATCHES)).alias("_b"),
    )
    max_seq = rows // keys
    for b in range(BATCHES):
        apply_changes(
            spark,
            env.filter(F.col("_b") == b).drop("_b"),
            path,
            "k",
            mode="history",
        )
    return max_seq


def main() -> None:
    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
        )
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "12g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="cdf_probe_")
    try:
        for mult in (1, 10, 100):
            rows = BASE_ROWS * mult
            path = os.path.join(work, f"hist_{mult}x")
            t0 = time.perf_counter()
            max_seq = _build(spark, path, rows)
            build = time.perf_counter() - t0
            # maintenance-cadence stats opt-in FIRST (timed separately)
            # so every reader below sees the sidecar: the selectivity
            # gate skips the touched-key restriction on wide windows,
            # seq pruning scopes discovery scans, and the tip probe
            # resolves driver-side.
            from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.apply import (
                _read_table,
                _canonical_seq,
                current_max_seq,
            )
            from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.apply import (
                SEQ_COL as _SEQ,
            )
            from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.layout import (
                collect_file_stats,
            )

            t0 = time.perf_counter()
            collect_file_stats(spark, path, ["_seq", "_key"])
            stats_wall = time.perf_counter() - t0
            feed_all = _steady(
                lambda: read_changes(spark, path).count()
            )
            # a bounded tail window: the last 10% of sequences (wide —
            # touches ~every key, so the gate skips the restriction)
            frm = max_seq - max(1, max_seq // 10)
            feed_tail = _steady(
                lambda: read_changes(spark, path, from_seq=frm).count()
            )
            state = _steady(lambda: read_warehouse(spark, path).count())
            print(
                f"{mult:3d}x rows {rows:>9,} build {build:6.2f}s "
                f"feed_all {feed_all:6.2f}s feed_tail {feed_tail:6.2f}s "
                f"state_read {state:6.2f}s (stats pass {stats_wall:.2f}s)"
            )
            # idle-tick cost: ONE tip probe per caught-up tick — the
            # full-column scan an unindexed table pays vs the
            # driver-side sidecar max.
            tip_scan = _steady(
                lambda: _read_table(spark, path)
                .agg(F.max(_canonical_seq(_SEQ)).alias("m"))
                .first()
            )
            tip_sidecar = _steady(lambda: current_max_seq(spark, path))
            print(
                f"     idle tick: scan {tip_scan:6.3f}s  sidecar "
                f"{tip_sidecar:6.3f}s"
            )
            # narrow consumer tick, sidecar in place: one micro-batch
            # (1k keys) lands past the tip; the tick reads (tip, new].
            # Touched-key restriction + seq-pruned discovery (only the
            # new, sidecar-unknown files) make the window's key shuffle
            # O(1k keys' history); the remaining cost is the one
            # unavoidable scan of the retained log for those keys'
            # versions.
            tick_env = spark.range(1_000).select(
                F.col("id").cast("string").alias("key"),
                F.lit("MODIFY").alias("op"),
                F.struct(
                    F.col("id").alias("k"),
                    (F.col("id") * 3 % 1000).alias("v"),
                ).alias("after"),
                F.lit(max_seq + 1).alias("seq"),
            )
            apply_changes(spark, tick_env, path, "k", mode="history")
            feed_tick = _steady(
                lambda: read_changes(spark, path, from_seq=max_seq).count()
            )
            print(f"     tick (1k keys past tip): {feed_tick:6.3f}s")
            if mult == 100:
                # fold 90% of the history, then re-read: the compaction
                # lever in action
                horizon = int(max_seq * 0.9)
                t0 = time.perf_counter()
                removed = compact_history(spark, path, before_seq=horizon)
                cwall = time.perf_counter() - t0
                feed_tail2 = _steady(
                    lambda: read_changes(spark, path, from_seq=frm).count()
                )
                state2 = _steady(lambda: read_warehouse(spark, path).count())
                print(
                    f"     after compact(<{horizon}): removed {removed:,} "
                    f"in {cwall:.2f}s  feed_tail {feed_tail2:6.2f}s "
                    f"state_read {state2:6.2f}s"
                )
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main_stream_compact() -> None:
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.streaming.cdf import (
        stream_sync_changes,
    )

    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
        )
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "12g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="cdf_stream_probe_")
    try:
        for mult in (1, 10, 100):
            rows = BASE_ROWS * mult
            src = os.path.join(work, f"sc_src_{mult}x")
            dst = os.path.join(work, f"sc_dst_{mult}x")
            ck = os.path.join(work, f"sc_ck_{mult}x")
            max_seq = _build(spark, src, rows)

            t0 = time.perf_counter()
            stream_sync_changes(spark, src, dst, ck, "k").awaitTermination()
            first = time.perf_counter() - t0

            t0 = time.perf_counter()
            compact_history(spark, src, before_seq=max_seq)
            cwall = time.perf_counter() - t0

            # the re-delivered drain: every retained file is "new" to
            # the checkpoint; the gate must skip the merge-and-rewrite
            import glob

            files_before = sorted(
                glob.glob(os.path.join(dst, "**", "*.parquet"),
                          recursive=True)
            )
            t0 = time.perf_counter()
            stream_sync_changes(spark, src, dst, ck, "k").awaitTermination()
            redeliver = time.perf_counter() - t0
            files_after = sorted(
                glob.glob(os.path.join(dst, "**", "*.parquet"),
                          recursive=True)
            )
            assert files_before == files_after, "gate failed to skip"

            # PACED re-delivery: a FRESH stream checkpoint carrying
            # over the applied-through marker, so the whole retained
            # table re-delivers again — this time sliced into many
            # micro-batches by maxFilesPerTrigger. The per-episode
            # gate-state cache must keep the total wall comparable to
            # the unpaced single-batch number instead of paying one
            # full replica read per slice.
            from cdc_from_sql_and_nosql_to_data_warehouse_spark import fsio
            from cdc_from_sql_and_nosql_to_data_warehouse_spark.streaming.cdf import (
                APPLIED_MAX_MARKER,
            )

            n_files = len(
                glob.glob(os.path.join(src, "**", "*.parquet"),
                          recursive=True)
            )
            per_trigger = max(1, n_files // 8)  # >= 8 gated batches
            ck_paced = ck + "_paced"
            fsio.makedirs(ck_paced)
            fsio.atomic_write_text(
                os.path.join(ck_paced, APPLIED_MAX_MARKER),
                fsio.read_text(os.path.join(ck, APPLIED_MAX_MARKER)),
            )
            t0 = time.perf_counter()
            stream_sync_changes(
                spark, src, dst, ck_paced, "k",
                max_files_per_trigger=per_trigger,
            ).awaitTermination()
            paced = time.perf_counter() - t0
            files_paced = sorted(
                glob.glob(os.path.join(dst, "**", "*.parquet"),
                          recursive=True)
            )
            assert files_before == files_paced, "paced gate failed to skip"

            a = sorted(
                (r["k"], r["v"])
                for r in read_warehouse(spark, src).collect()
            )
            b = sorted(
                (r["k"], r["v"])
                for r in read_warehouse(spark, dst).collect()
            )
            assert a == b, f"divergence at {mult}x"
            print(
                f"{mult:3d}x rows {rows:>9,}: first_drain {first:6.2f}s "
                f"compact {cwall:6.2f}s redelivered_drain(gated) "
                f"{redeliver:6.2f}s paced_redelivery(~8 batches, "
                f"maxFiles={per_trigger}) {paced:6.2f}s"
            )
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _build_partitioned(spark, path: str, rows: int) -> int:
    """The _build feed with a hive partition column (p = k % 8) and a
    partition-routed history layout — the source shape that takes the
    pacing-bridge path in stream_sync_changes."""
    keys = rows // 10
    env = spark.range(rows).select(
        (F.col("id") % keys).cast("string").alias("key"),
        F.when(F.pmod(F.xxhash64("id"), F.lit(10)) == 0, "REMOVE")
        .when(F.col("id") < keys, "INSERT")
        .otherwise("MODIFY")
        .alias("op"),
        F.struct(
            (F.col("id") % keys).alias("k"),
            F.concat(F.lit("p"), (F.col("id") % keys % 8)).alias("p"),
            (F.col("id") * 17 % 1000).alias("v"),
        ).alias("after"),
        (F.floor(F.col("id") / keys) + 1).alias("seq"),
        F.pmod(F.xxhash64("id", F.lit(7)), F.lit(BATCHES)).alias("_b"),
    )
    max_seq = rows // keys
    for b in range(BATCHES):
        apply_changes(
            spark,
            env.filter(F.col("_b") == b).drop("_b"),
            path,
            "k",
            mode="history",
            partition_by=["p"],
        )
    return max_seq


def main_partitioned_bridge() -> None:
    """The pacing-bridge path of stream_sync_changes (hive-partitioned
    sources) at 1x/10x/100x retained history: first drain, the
    re-delivery-free post-compaction drain (the seq offset, unlike a
    file-source checkpoint, never re-delivers a swap), and the steady
    tick applying one fresh batch after the legacy->pointer upgrade."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.streaming.cdf import (
        stream_sync_changes,
    )

    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
        )
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "12g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="cdf_bridge_probe_")
    try:
        for mult in (1, 10, 100):
            rows = BASE_ROWS * mult
            src = os.path.join(work, f"pb_src_{mult}x")
            dst = os.path.join(work, f"pb_dst_{mult}x")
            ck = os.path.join(work, f"pb_ck_{mult}x")
            max_seq = _build_partitioned(spark, src, rows)

            t0 = time.perf_counter()
            stream_sync_changes(
                spark, src, dst, ck, "k", partition_by=["p"]
            ).awaitTermination()
            first = time.perf_counter() - t0

            t0 = time.perf_counter()
            compact_history(
                spark, src, before_seq=max_seq, partition_by=["p"]
            )
            cwall = time.perf_counter() - t0
            assert table_data_dir(src) != src  # legacy->pointer upgrade

            # post-compaction drain: the seq offset sees no new seqs —
            # the bridge must neither starve nor rewrite the replica
            import glob

            files_before = sorted(
                glob.glob(os.path.join(dst, "**", "*.parquet"),
                          recursive=True)
            )
            t0 = time.perf_counter()
            stream_sync_changes(
                spark, src, dst, ck, "k", partition_by=["p"]
            ).awaitTermination()
            post = time.perf_counter() - t0
            files_after = sorted(
                glob.glob(os.path.join(dst, "**", "*.parquet"),
                          recursive=True)
            )
            assert files_before == files_after, "post-compaction rewrite"

            # steady tick: one fresh batch lands in the VERSION DIR the
            # upgrade created — the starvation case for a pinned
            # partition-aware content stream; the bridge must apply it
            keys = rows // 10
            fresh = spark.range(keys // 10).select(
                F.col("id").cast("string").alias("key"),
                F.lit("MODIFY").alias("op"),
                F.struct(
                    F.col("id").alias("k"),
                    F.concat(F.lit("p"), (F.col("id") % 8)).alias("p"),
                    F.lit(7777).cast("long").alias("v"),
                ).alias("after"),
                F.lit(max_seq + 1).alias("seq"),
            )
            apply_changes(
                spark, fresh, src, "k", mode="history", partition_by=["p"]
            )
            t0 = time.perf_counter()
            stream_sync_changes(
                spark, src, dst, ck, "k", partition_by=["p"]
            ).awaitTermination()
            tick = time.perf_counter() - t0

            a = sorted(
                (r["k"], r["v"])
                for r in read_warehouse(spark, src).collect()
            )
            b = sorted(
                (r["k"], r["v"])
                for r in read_warehouse(spark, dst).collect()
            )
            assert a == b, f"divergence at {mult}x"
            assert any(v == 7777 for _, v in b), "post-upgrade batch lost"
            print(
                f"{mult:3d}x rows {rows:>9,}: bridge_first {first:6.2f}s "
                f"compact {cwall:6.2f}s post_compaction_drain {post:6.2f}s "
                f"post_upgrade_tick {tick:6.2f}s"
            )
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main_compose() -> None:
    """``--compose`` (round 9): the WHOLE streaming composition — one
    history warehouse feeding a classified consumer, a seq-gated
    replica, and a pruned minmax view — measured as one pipeline at
    1x/10x/100x retained history, through a mid-stream compaction.
    Records: the initial composed drain (all three consumers
    bootstrap), the post-compaction composed drain (every consumer
    faces a full re-delivery: the classified bridge must emit nothing,
    the gate must skip the replica merge, the drains must no-op), and
    a steady incremental tick (small append + composed drain) — the
    three numbers a deployment running all consumers on one feed
    actually pays."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.streaming.cdf import (
        stream_classified_changes,
        stream_sync_aggregate,
        stream_sync_changes,
    )

    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
        )
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "12g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="cdf_compose_probe_")
    try:
        for mult in (1, 10, 100):
            rows = BASE_ROWS * mult
            wh = os.path.join(work, f"co_wh_{mult}x")
            rep = os.path.join(work, f"co_rep_{mult}x")
            view = os.path.join(work, f"co_view_{mult}x")
            cks = {
                n: os.path.join(work, f"co_ck_{n}_{mult}x")
                for n in ("cls", "rep", "mv")
            }
            max_seq = _build(spark, wh, rows)
            # the recommended deployment opts the feed table into the
            # stats sidecar: tip probes and drain discovery then cost
            # O(new files) per tick instead of a full-column scan
            # (compaction refreshes it via _refresh_stats_if_kept)
            from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.layout import (
                collect_file_stats,
            )

            collect_file_stats(spark, wh, ["_seq", "_key"])
            n_classified = [0]

            def on_window(df, _frm, _to):
                n_classified[0] += df.count()

            def drain_all():
                stream_classified_changes(
                    spark, wh, cks["cls"], on_window
                ).awaitTermination()
                stream_sync_changes(
                    spark, wh, rep, cks["rep"], "k"
                ).awaitTermination()
                stream_sync_aggregate(
                    spark, wh, view, cks["mv"], "k", "v", minmax=True
                ).awaitTermination()

            t0 = time.perf_counter()
            drain_all()
            first = time.perf_counter() - t0

            t0 = time.perf_counter()
            compact_history(spark, wh, before_seq=max_seq)
            cwall = time.perf_counter() - t0

            before = n_classified[0]
            t0 = time.perf_counter()
            drain_all()  # full re-delivery for all three consumers
            redeliver = time.perf_counter() - t0
            assert n_classified[0] == before, "classified re-emitted!"

            # steady tick: one micro-append, all three consumers drain
            env = spark.createDataFrame(
                [("0", "MODIFY", (0, 1), max_seq + 1)],
                "key string, op string, after struct<k:long,v:long>, "
                "seq long",
            )
            apply_changes(spark, env, wh, "k", mode="history")
            t0 = time.perf_counter()
            drain_all()
            tick = time.perf_counter() - t0
            print(
                f"{mult:3d}x rows {rows:>9,}: composed_first {first:6.2f}s "
                f"compact {cwall:6.2f}s composed_redelivery {redeliver:6.2f}s "
                f"composed_tick {tick:6.2f}s"
            )
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main_gate_sweep() -> None:
    """Sweep read_changes' selectivity-gate threshold: at 10x scale,
    time the feed read with the touched-key restriction FORCED ON vs
    FORCED OFF across window spans (fraction of seq generations in the
    window). The crossover span — where restriction stops paying for
    its discovery pass — is what READ_CHANGES_RESTRICT_GATE should sit
    near; results recorded in COVERAGE.md."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators import (
        apply as apply_mod,
    )
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.layout import (
        collect_file_stats,
    )

    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
        )
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "12g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="cdf_gate_probe_")
    try:
        keys = 1_000_000  # 10x key scale
        gens = 20
        path = os.path.join(work, "hist_gate")
        # seq-CLUSTERED files (one apply per generation — the real
        # append shape the gate rates): generation 1 inserts every key,
        # each later generation modifies a 5% hash-slice of the keys,
        # so a window over k generations touches ~1-0.95^k of the keys
        base = spark.range(keys).select(
            F.col("id").cast("string").alias("key"),
            F.lit("INSERT").alias("op"),
            F.struct(
                F.col("id").alias("k"),
                (F.col("id") * 17 % 1000).alias("v"),
            ).alias("after"),
            F.lit(1).alias("seq"),
        )
        apply_changes(spark, base, path, "k", mode="history")
        for s in range(2, gens + 1):
            env = (
                spark.range(keys)
                .filter(F.pmod(F.xxhash64("id", F.lit(s)), F.lit(20)) == 0)
                .select(
                    F.col("id").cast("string").alias("key"),
                    F.lit("MODIFY").alias("op"),
                    F.struct(
                        F.col("id").alias("k"),
                        (F.col("id") * s % 1000).alias("v"),
                    ).alias("after"),
                    F.lit(s).alias("seq"),
                )
            )
            apply_changes(spark, env, path, "k", mode="history")
        collect_file_stats(spark, path, ["_seq", "_key"])
        print("span(gens)  touched~  restricted  unrestricted")
        orig_gate = apply_mod.READ_CHANGES_RESTRICT_GATE
        for g_back in (2, 4, 6, 8, 10, 12, 14, 16, 18):
            frm = gens - g_back
            touched = 1 - 0.95 ** g_back
            walls = {}
            for label, gate in (("restricted", 1.01), ("unrestricted", -1.0)):
                apply_mod.READ_CHANGES_RESTRICT_GATE = gate
                try:
                    walls[label] = _steady(
                        lambda: read_changes(
                            spark, path, from_seq=frm
                        ).count()
                    )
                finally:
                    apply_mod.READ_CHANGES_RESTRICT_GATE = orig_gate
            print(
                f"{g_back:3d}/{gens}    {touched:7.0%}  "
                f"{walls['restricted']:9.3f}s "
                f"{walls['unrestricted']:11.3f}s"
            )
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    if "--stream-compact" in sys.argv:
        main_stream_compact()
    elif "--partitioned-bridge" in sys.argv:
        main_partitioned_bridge()
    elif "--gate-sweep" in sys.argv:
        main_gate_sweep()
    elif "--compose" in sys.argv:
        main_compose()
    else:
        main()
