"""Warehouse maintenance: small-file compaction and table statistics.

SURVEY.md §7 step 9 (scale posture): streaming micro-batch sinks
accumulate many small parquet files (one-per-batch staging, per-trigger
appends); at 100 TB a scan over millions of tiny files is dominated by
open/footer costs and task-scheduling overhead. ``compact_parquet``
rewrites a table into ~target-sized files, preserving the data
byte-for-byte (committed by ``operators/apply._swap_into``'s pointer
flip — readers see the old or the new fileset, never a mix).
"""

from __future__ import annotations

import math
import os
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .. import fsio
from . import fileset
from .apply import (
    DELETED_COL,
    KEY_COL,
    SEQ_COL,
    _canonical_seq,
    _canonical_seq_py,
    _partition_scoped_read,
    _read_table,
    _swap_into,
    _touched_partition_dirs,
    latest_per_key,
    overwrite_partitions_dropping_emptied,
    read_table_schema,
    table_data_dir,
)


@dataclass(frozen=True)
class TableStats:
    n_files: int
    total_bytes: int
    n_rows: int


def table_stats(spark: SparkSession, path: str) -> TableStats:
    """File count, bytes and rows of the files a reader of the table
    plans over (``fileset.committed_files``: the manifest's files, or
    the hidden-dir-skipping walk when there is none), driving the
    compaction decision. The row count sums parquet footers — no Spark
    job."""
    data = table_data_dir(path)
    fileset.repair_stranded_log(data)  # never hand Spark a stranded log
    return _stats_of(data, _file_sizes(data, fileset.committed_files(data)))


def _file_sizes(data: str, files: list[str]) -> dict[str, int]:
    """{relative path: byte size} of ``files`` under data dir ``data``
    (0 for a file that vanished since it was listed)."""
    return {f: fsio.size(os.path.join(data, f)) or 0 for f in files}


def _stats_of(data: str, sizes: dict[str, int]) -> TableStats:
    """TableStats of the files ``sizes`` names, with row counts read
    from their parquet footers on the driver."""
    import pyarrow.parquet as pq

    return TableStats(
        len(sizes),
        sum(sizes.values()),
        sum(pq.read_metadata(os.path.join(data, f)).num_rows for f in sizes),
    )


@contextmanager
def _no_partition_type_inference(spark: SparkSession):
    """Partition values as verbatim strings for the reads behind an
    in-place partition rewrite of a table without a schema manifest (a
    manifest imposes its recorded types, which this setting does not
    change). A SUBSET read of partition dirs can infer a DIFFERENT
    partition-column type than the full-table read (dirs month=01..12
    infer int over some subsets), and re-rendering a re-typed value on
    write lands in a NEW directory (month=1) while the old one survives
    — duplicating every row; cross-read tuple comparisons mismatch the
    same way. With inference off the parsed dir value IS the written
    dir value, so maintenance round-trips directory names exactly.
    Partition values live only in dir names, never in data files, and
    an in-place partition rewrite records no schema manifest, so the
    table's reader-visible schema is untouched."""
    k = "spark.sql.sources.partitionColumnTypeInference.enabled"
    prev = spark.conf.get(k)
    spark.conf.set(k, "false")
    try:
        yield
    finally:
        spark.conf.set(k, prev)


def _locked_on_path(fn):
    """Run a (spark, path, ...) table mutation under
    ``apply._fence(path, "table")``: it conflicts with every other
    writer — including in-flight partition-scoped merges and append
    tokens — and waits out a held fence inside the engine (the body
    reads the table inside the fence, so it runs against the winner's
    state). ConcurrentWriteError surfaces only for conflicts that
    outlive ``FENCE_WAIT_SECONDS``."""
    import functools

    @functools.wraps(fn)
    def wrapper(spark, path, *args, **kwargs):
        from .apply import _fence

        with _fence(path, "table"):
            # a crash in invalidate/write_base can strand an EMPTY
            # _spark_metadata dir, which makes any direct Spark read
            # of the data dir plan ZERO files over live data; every
            # maintenance body below may hand Spark that dir, so the
            # repair runs once under the fence first (no-op otherwise)
            fileset.repair_stranded_log(table_data_dir(path))
            return fn(spark, path, *args, **kwargs)

    return wrapper


@_locked_on_path
def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files_to_compact: int = 2,
    partition_by: list[str] | None = None,
    zorder_by: list[str] | None = None,
) -> TableStats:
    """Rewrite ``path`` into ceil(total_bytes / target) similar-sized
    files. No-op when the table is already compact. Row-order-free
    (parquet tables here carry no implicit order contract).

    ``zorder_by`` turns the rewrite into Delta's ``OPTIMIZE ... ZORDER
    BY``: instead of a round-robin repartition, rows are clustered on
    the Morton key of the named numeric columns (each affinely scaled
    onto the full interleave grid from its observed min/max — the
    normalization ``layout.zorder_scale`` documents as load-bearing),
    so the post-compaction file ranges are tight in EVERY z-dimension
    and the refreshed stats sidecar prunes on any of them. Clustering
    forces a FULL rewrite (locality is global), so ``zorder_by``
    ignores the fragmentation gate and, with ``partition_by``,
    rewrites every partition rather than only fragmented ones — run it
    at the coarser OPTIMIZE cadence, not the per-batch one.

    ``partition_by`` preserves a hive-partitioned layout AND scopes the
    work: only FRAGMENTED partition directories (more files than their
    bytes need) are re-read and rewritten, via dynamic partition
    overwrite — compaction cost is O(fragmented partitions), not
    O(table). A streaming append hop fragments only the partitions it
    recently wrote, so at 100 TB each maintenance tick touches the hot
    partitions and leaves the cold ones byte-identical. Each rewritten
    partition clusters to ~1 file (same output shape the previous
    full-rewrite produced).

    At cluster scale the repartition is one narrow-ish shuffle of the
    fragmented slice; run it off the hot path (the reference's
    5-minute cadence leaves 99% idle headroom). Reads go through the
    table's schema manifest (``apply._read_table`` /
    ``_partition_scoped_read``), so partition columns keep their
    recorded types. Rewrites commit through
    ``apply.overwrite_partitions_dropping_emptied`` (partitioned: a
    per-partition dynamic overwrite, not a cross-partition
    transaction, that records no schema manifest) or the pointer flip
    (flat).
    """
    data = table_data_dir(path)  # physical fileset (pointer-resolved)

    if zorder_by:
        return _optimize_zorder(
            spark, path, zorder_by, target_file_bytes, partition_by
        )

    if partition_by:
        # ONE committed-set listing yields both the compaction gate and
        # the per-dir fragmentation decision: a leaf partition dir
        # (``depth`` levels of ``col=value``) is fragmented when it
        # holds more files than ceil(bytes/target). Unlogged junk is
        # not in the committed set, so it never fires the gate.
        sizes = _file_sizes(data, fileset.committed_files(data))
        depth = len(partition_by)
        leaves: dict[str, list[int]] = {}
        for rel, size in sizes.items():
            parts = rel.split(os.sep)
            if len(parts) == depth + 1 and all("=" in c for c in parts[:-1]):
                leaf = os.path.join(data, *parts[:-1])
                leaves.setdefault(leaf, []).append(size)
        frag_dirs = [
            dp
            for dp, b in leaves.items()
            if len(b) >= min_files_to_compact
            and len(b) > max(1, math.ceil(sum(b) / target_file_bytes))
        ]
        if len(sizes) < min_files_to_compact or not frag_dirs:
            return _stats_of(data, sizes)
        with _no_partition_type_inference(spark):
            # manifest-honoring read of the fragmented dirs: a crashed
            # append's unlogged junk must not be read back into the
            # compacted files (None: every "fragment" is junk — skip)
            scoped = _partition_scoped_read(spark, data, frag_dirs)
            if scoped is None:
                return table_stats(spark, path)
            overwrite_partitions_dropping_emptied(
                spark, scoped.repartition(*partition_by), path, partition_by, None
            )
        _refresh_stats_if_kept(spark, path)
        return table_stats(spark, path)

    before = table_stats(spark, path)
    if before.n_files < min_files_to_compact:
        return before
    n_out = max(1, math.ceil(before.total_bytes / target_file_bytes))
    if n_out >= before.n_files:
        return before
    _swap_into(spark, _read_table(spark, path).repartition(n_out), path)
    _refresh_stats_if_kept(spark, path)
    return table_stats(spark, path)


def _optimize_zorder(
    spark: SparkSession,
    path: str,
    zorder_by: list[str],
    target_file_bytes: int,
    partition_by: list[str] | None,
) -> TableStats:
    """The clustered-rewrite arm of ``compact_parquet`` (OPTIMIZE ...
    ZORDER BY): one bounds aggregate (min/max per z-column, the scaling
    anchors), then ONE range shuffle on (partition columns..., Morton
    key) with an in-task sort on the same key — partition columns lead
    the range key so each task holds whole hive partitions and emits
    ~one file per (task, partition). Numeric z-columns only (encode
    dates to day numbers first, as scripts/probe_data_skipping.py
    does)."""
    import numbers

    from .layout import with_zorder, zorder_scale

    guard = (
        _no_partition_type_inference(spark) if partition_by else nullcontext()
    )
    with guard:
        df = _read_table(spark, path)
        missing = [c for c in zorder_by if c not in df.columns]
        if missing:
            raise ValueError(f"zorder_by columns not in table: {missing}")
        before = table_stats(spark, path)
        n_out = max(1, math.ceil(before.total_bytes / target_file_bytes))
        bounds = df.agg(
            *[F.min(c).alias(f"lo_{c}") for c in zorder_by],
            *[F.max(c).alias(f"hi_{c}") for c in zorder_by],
        ).first()
        bits = min(16, 63 // len(zorder_by))
        zcols = []
        for c in zorder_by:
            lo, hi = bounds[f"lo_{c}"], bounds[f"hi_{c}"]
            if lo is not None and not isinstance(lo, numbers.Number):
                raise TypeError(
                    f"zorder_by column {c!r} is not numeric "
                    f"({type(lo).__name__}); encode it first"
                )
            if lo is None or hi is None or hi == lo:
                zcols.append(F.lit(0))  # constant/all-null: no signal
            else:
                zcols.append(zorder_scale(F.col(c), lo, hi, bits))
        if partition_by:
            # hive layout: partition columns lead the range key so each
            # task holds whole partitions; the per-partition row order
            # is still the deterministic in-task sort, and partition
            # dirs bound file ranges regardless of the sampled split
            keys = [F.col(c) for c in [*partition_by, "_z"]]
            clustered = (
                with_zorder(df, zcols, bits)
                .repartitionByRange(n_out, *keys)
                .sortWithinPartitions(*keys)
                .drop("_z")
            )
            overwrite_partitions_dropping_emptied(
                spark, clustered, path, partition_by, None
            )
        else:
            # flat layout: deterministic explicit-boundary clustering
            # (layout.zorder_repartition) — reproducible file ranges,
            # reproducible prune counts
            from .layout import zorder_repartition

            clustered = zorder_repartition(df, zcols, n_out, bits)
            _swap_into(spark, clustered, path, partition_by=None)
    _refresh_stats_if_kept(spark, path)
    return table_stats(spark, path)


def _refresh_stats_if_kept(spark: SparkSession, path: str) -> None:
    """Compaction rewrites every file it touches, turning a carried
    skipping-stats sidecar stale (safe — unknown files always read —
    but useless). Tables that opted into stats get them re-collected at
    this maintenance cadence, the same point a lakehouse rewrites its
    stats manifests; tables without a sidecar pay nothing."""
    from .layout import refresh_file_stats

    refresh_file_stats(spark, path)


def expire_files(
    path: str,
    max_age_seconds: float,
    now: float | None = None,
    suffixes: tuple[str, ...] = (),
) -> list[str]:
    """K9: retention TTL for staged/archived files (reference: S3
    lifecycle expiring processed objects after 1 day,
    ``cdk_infrastructure/__init__.py:301-307``).

    Deletes files under ``path`` whose mtime is older than the TTL,
    optionally restricted to ``suffixes``. Returns deleted paths.
    Checkpointed sources never re-read processed files, so expiry is
    safe at any cadence; it exists to bound storage, not correctness.
    """
    import time

    cutoff = (time.time() if now is None else now) - max_age_seconds
    deleted: list[str] = []
    for dp, _, fs in fsio.walk(path):
        for f in fs:
            if suffixes and not f.endswith(suffixes):
                continue
            p = os.path.join(dp, f)
            # a concurrent sweep may delete p after the walk listed it
            m = fsio.mtime(p)
            if m is not None and m < cutoff and fsio.remove(p):
                deleted.append(p)
    return deleted


@_locked_on_path
def adopt_fileset_manifest(spark: SparkSession, path: str) -> int:
    """Opt-in manifest adoption for tables that never swap — the
    append-only event logs that are the LARGEST tables at 100 TB, and
    that would otherwise pay the recursive LIST on every cold read
    forever (a whole-table swap is what normally records the first
    manifest, and these tables never take one). Records the current
    fileset as the manifest base under the whole-table scope (the
    fence proves no append is mid-flight, so the walk IS the committed
    set); every later engine append extends it through
    ``apply.append_to_table``'s staged-move-publish commit.

    Adoption DECLARES the table engine-owned: a writer that bypasses
    ``append_to_table`` after adoption writes files no reader will
    ever see (the manifest-invisibility contract). Tables that must
    keep accepting raw external appends should not adopt — the LIST
    fallback is exactly the external-writer mode. Idempotent (a table
    that already carries a manifest is a no-op). Returns the number of
    files recorded (0 for the no-op)."""
    data = table_data_dir(path)
    if fileset.has_log(data):
        return 0
    rels = fileset.walk_data_files(data)
    fileset.write_base(data, rels)
    return len(rels)


@_locked_on_path
def vacuum_versions(spark: SparkSession, path: str) -> int:
    """On-demand retention sweep for a version-pointer table: run the
    same grace-bounded GC a commit runs (superseded version dirs,
    aborted-commit stagings, post-upgrade legacy files — all judged on
    the supersession clock against ``VERSION_GC_GRACE_SECONDS``).
    Commits are the only other place the GC runs, so a table that is
    swapped once and then goes IDLE would otherwise retain its
    superseded versions forever; this is the explicit VACUUM for that
    tail (Delta's VACUUM, reduced to the pointer substrate). No-op on
    legacy (never-swapped) tables. Returns the number of entries
    still retained inside the grace after the sweep (0 means fully
    clean)."""
    from .apply import CURRENT_POINTER, _gc_superseded

    cur = fsio.read_text(os.path.join(path, CURRENT_POINTER))
    if cur is None or not cur.strip():
        # legacy layout (including the defended empty-pointer state,
        # which table_data_dir also reads as legacy): the root files
        # ARE the live table — sweeping them would clock live data
        return 0
    return _gc_superseded(path, cur.strip())


@_locked_on_path
def prune_fileset_log(spark: SparkSession, path: str) -> int:
    """``fileset.prune_log`` under the whole-table scope — the fence
    exists to exclude log REBASES (an in-place rewrite's invalidate +
    re-adopt restarts batch ids over a different base; an unfenced
    prune holding a pre-rebase kill list could delete the new
    incarnation's base under a colliding name — review finding).
    Readers and appenders need no exclusion (prune deletes only files
    dead to every reader)."""
    return fileset.prune_log(table_data_dir(path))


@_locked_on_path
def vacuum_uncommitted(spark: SparkSession, path: str) -> int:
    """Reclaim uncommitted residue from a fileset-manifest table: data
    files on disk but absent from the manifest (a crashed append's
    moved-but-never-published files — invisible to every reader by the
    manifest contract, pure storage junk) and stale ``_staged_append_*``
    staging dirs. Sound under the whole-table scope this runs in: the
    fence's scope cross-check means no append can be mid-move while we
    hold it, so an unlogged data file here is PROVABLY a dead writer's
    leftover, never a commit in flight (version dirs are engine-owned;
    external writers target legacy roots, which have no manifest and
    are untouched — a manifest-less table is a no-op). Also keeps the
    LIST fallback honest: an in-place rewrite that later invalidates
    the manifest would otherwise resurrect the junk into reads whose
    table semantics don't absorb duplicates. Returns the number of
    files/dirs removed. The lakehouse analogue is VACUUM's
    unreferenced-file sweep, grace-free here because the fence — not a
    clock — proves no writer is active (every engine append holds an
    append token, which the whole-table scope excludes)."""
    data = table_data_dir(path)
    removed = 0
    for name in fsio.listdir(data):
        if name.startswith(
            ("_staged_append_", fileset._INVALIDATED_PREFIX)
        ):
            # crashed appends' staging dirs, and the hidden renamed-log
            # residue a crash between invalidate's rename and its sweep
            # leaves behind (reader-invisible either way)
            fsio.remove_tree(os.path.join(data, name))
            removed += 1
    # a crashed publish_exclusive strands its .pub.* tmp inside the
    # log dir (a successful publish always removes it); under this
    # fence no publish can be mid-flight (appends hold tokens), so
    # any tmp here is a dead writer's — pure junk, invisible to both
    # batch filters but accumulating forever otherwise
    log_dir = os.path.join(data, fileset.LOG_DIR)
    log_names = fsio.listdir(log_dir)  # ONE list serves both sweeps
    # residue FIRST (dead writers' junk — under this fence no publish
    # or atomic write can be mid-flight), THEN the poison completion
    # (review finding): the reverse order let _poison_invalidate's
    # final rmdir fail on the residue after the sentinel was already
    # gone, leaving an EMPTY unpoisoned _spark_metadata — the state
    # where Spark's native reader plans ZERO files over live data,
    # manufactured by the maintenance op itself
    for name in log_names:
        if name.startswith(".pub.") or ".tmp." in name:
            fsio.remove(os.path.join(log_dir, name))
            removed += 1
    if fileset._POISON in log_names:
        # a crashed PORTABLE invalidate left its sentinel standing
        # (engine reads already take the LIST fallback — exact; Spark's
        # native reader would plan the dying prefix): complete the
        # protocol under this fence — dead batches and epoch first,
        # the sentinel last, rmdir when clean
        fileset._poison_invalidate(log_dir)
        removed += 1
    logged = fileset.read_fileset(data)
    if logged is None:
        return removed
    committed = set(logged)
    for rel in fileset.walk_data_files(data):
        if rel not in committed:
            fsio.remove(os.path.join(data, rel))
            removed += 1
    return removed


@_locked_on_path
def repair_relocated_log(spark: SparkSession, path: str) -> int:
    """Recovery op for a WHOLESALE-COPIED manifest table (the trap the
    round-10 verdict listed): the copied ``_spark_metadata`` log
    carries absolute URIs of the OLD location, so the engine's reads
    fall back to the LIST walk (correct but O(files)) while Spark's
    NATIVE reader keeps planning the stale URIs — silently reading the
    old location's files for as long as they exist. Under the
    whole-table fence, rewrite the log against the current location:
    recover the logged fileset's relative paths structurally
    (``fileset.foreign_log_rels`` — existence under the new dir is the
    disambiguator), drop the foreign log atomically, and record the
    recovered set as a fresh manifest base. Only the LOGGED set is
    re-recorded: junk the copy dragged along (the old table's crashed
    appends) stays reader-invisible, exactly as at the source.

    Returns the number of files re-recorded; 0 when the table needs no
    repair (log absent or already resolving). When no consistent
    mapping exists the log is INVALIDATED with a loud warning instead
    (readers then LIST — correct, manifest-less) rather than left
    actively wrong for native readers."""
    import logging

    data = table_data_dir(path)
    if not fileset.has_log(data):
        return 0
    if fileset.read_fileset(data) is not None:
        return 0  # resolves against THIS location: nothing to repair
    rels = fileset.foreign_log_rels(data)
    if rels is None:
        logging.getLogger(__name__).warning(
            "relocated fileset log at %s has no consistent mapping to "
            "the current location; invalidating it — reads fall back "
            "to the directory LIST until the next swap records a "
            "fresh manifest",
            data,
        )
        fileset.invalidate(data)
        return 0
    fileset.invalidate(data)
    fileset.write_base(data, rels)
    return len(rels)


@dataclass(frozen=True)
class MaintenanceConfig:
    """One retention/health knob for ``run_maintenance`` — the engine
    analog of the reference's single lifecycle rule
    (``cdk_infrastructure/__init__.py:301-307``: fire-and-forget TTL on
    processed objects). Every field maps to one sweep; the defaults
    run the always-safe ones."""

    # grace-bounded GC of superseded version dirs / aborted stagings
    vacuum_versions: bool = True
    # reclaim crashed appends' unlogged files + stale staging dirs
    vacuum_uncommitted: bool = True
    # grace-bounded deletion of fileset-log batches below the latest
    # compact (fileset.prune_log — the sink-log cleanupDelay analog);
    # bounds the log dir on append-heavy tables
    prune_fileset_log: bool = True
    # TTL (seconds) for processed staging files under `staging_paths`
    expire_staging_after_seconds: float | None = None
    staging_paths: tuple[str, ...] = ()
    # when set, compact if the table holds more than this many files
    compact_when_files_exceed: int | None = None
    compact_target_file_bytes: int = 128 * 1024 * 1024
    partition_by: tuple[str, ...] | None = None


@dataclass(frozen=True)
class MaintenanceReport:
    versions_retained: int
    uncommitted_removed: int
    staging_expired: int
    log_batches_pruned: int
    compacted: bool
    # live-fileset file count — measured ONLY when the compaction gate
    # is configured (None otherwise: a per-tick full-table walk just to
    # fill a report field would be O(files) on an idle 100 TB table)
    n_files: int | None


def run_maintenance(
    spark: SparkSession,
    path: str,
    cfg: MaintenanceConfig = MaintenanceConfig(),
) -> MaintenanceReport:
    """ONE scheduled entry point composing the retention sweeps that
    were previously on-demand only (round-10 verdict gap #2: an idle
    deployment relied on an operator remembering three separate
    calls). Ordering: version GC first (dropping whole superseded dirs
    makes the later walks cheaper), then the uncommitted-junk sweep,
    then the fileset-log prune (grace-bounded deletion of log batches
    below the latest compact — bounds the per-read/per-trigger log
    listing on append-heavy tables), then staging TTL expiry, then —
    only when the live fileset is
    fragmented past ``compact_when_files_exceed`` — a compaction pass.
    Each step takes its own whole-table scope, so a swap-per-batch
    writer interleaves between steps instead of stalling for the whole
    tick; every step is idempotent and crash-safe on its own, so the
    composition needs no transaction. Schedule it with
    ``streaming.manager.schedule_maintenance`` (a processing-time
    streaming tick) or any external cron."""
    retained = vacuum_versions(spark, path) if cfg.vacuum_versions else 0
    removed = (
        vacuum_uncommitted(spark, path) if cfg.vacuum_uncommitted else 0
    )
    # fenced against log rebases only; costs one log-dir listing
    pruned = (
        prune_fileset_log(spark, path) if cfg.prune_fileset_log else 0
    )
    expired = 0
    if cfg.expire_staging_after_seconds is not None:
        for sp in cfg.staging_paths:
            expired += len(
                expire_files(sp, cfg.expire_staging_after_seconds)
            )
    compacted = False
    # the fragmentation gate costs one committed-set listing (no
    # count-star, no footer reads) and ONLY runs when configured — an
    # idle tick on an ungated table must not pay O(files) to fill a
    # report field
    n_files: int | None = None
    if cfg.compact_when_files_exceed is not None:
        n_files = len(fileset.committed_files(table_data_dir(path)))
    if (
        cfg.compact_when_files_exceed is not None
        and n_files > cfg.compact_when_files_exceed
    ):
        n_files = compact_parquet(
            spark,
            path,
            target_file_bytes=cfg.compact_target_file_bytes,
            partition_by=(
                list(cfg.partition_by) if cfg.partition_by else None
            ),
        ).n_files
        compacted = True
    return MaintenanceReport(
        versions_retained=retained,
        uncommitted_removed=removed,
        staging_expired=expired,
        log_batches_pruned=pruned,
        compacted=compacted,
        n_files=n_files,
    )


@_locked_on_path
def vacuum_tombstones(
    spark: SparkSession,
    path: str,
    before_seq: int,
    partition_by: list[str] | None = None,
) -> int:
    """Drop delete-tombstone rows whose sequence is older than
    ``before_seq`` — the tombstone GC step for ``propagate_deletes``
    tables (see ``operators/apply.DELETED_COL``).

    A tombstone is correctness state only while a source could still
    replay an older image of its key; once every source's replay
    horizon has passed ``before_seq``, the rows are pure storage junk.
    Vacuuming EARLIER than the horizon re-opens the resurrection window
    the tombstone closed — the caller owns that invariant, exactly as
    with Delta's ``VACUUM`` retention or a Cassandra ``gc_grace``.
    Returns the number of tombstones dropped.

    The rewrite is ``_delete_where``'s: with ``partition_by`` only the
    partitions holding dead tombstones are re-read and rewritten —
    GC cost O(partitions with deletes), not O(table) — and partitions
    whose every row was a dead tombstone are removed outright; flat
    tables swap through the pointer flip. A stats sidecar is refreshed
    after the rewrite, as compaction refreshes it.
    """
    is_dead = _dead_tombstone_pred(before_seq)
    return _delete_where(
        spark,
        path,
        lambda df: is_dead if DELETED_COL in df.columns else None,
        partition_by,
    )


def _delete_where(
    spark: SparkSession, path: str, doomed, partition_by: list[str] | None
) -> int:
    """The one row-deleting rewrite behind ``vacuum_tombstones`` and
    ``purge_keys``: drop the rows of the table read through
    ``apply._read_table`` that ``doomed(df)`` selects (a NULL-safe
    predicate, or None for "nothing to do") and return how many went.

    One grouped pass yields both the count and the touched partitions,
    each as its dir-name rendering (``cast("string")``, as the
    partitioned writer renders it), so every partition type resolves
    to its dirs. With ``partition_by`` only those dirs are re-read —
    manifest-honoring, so a crashed append's unlogged junk is never
    read back and committed as live rows — and rewritten through
    ``apply.overwrite_partitions_dropping_emptied``, which also removes
    the partitions the rewrite empties: cost O(touched partitions),
    not O(table). Commit semantics are dynamic overwrite's
    per-partition replace, as in the partitioned apply merge, not an
    atomic table-level swap. Flat tables, and partitions that resolve
    to no committed files, take the whole-table pointer swap."""
    data = table_data_dir(path)
    parts = partition_by or []
    guard = _no_partition_type_inference(spark) if parts else nullcontext()
    with guard:
        df = _read_table(spark, path)
        pred = doomed(df)
        if pred is None:
            return 0
        groups = (
            df.filter(pred)
            .groupBy(*[F.col(c).cast("string").alias(c) for c in parts])
            .agg(F.count(F.lit(1)).alias("_n"))
            .collect()
        )
        n = int(sum(r["_n"] for r in groups))
        if n == 0:
            return 0
        touched = [tuple(r[c] for c in parts) for r in groups]
        dirs = _touched_partition_dirs(data, parts, touched, False) if parts else []
        sub = _partition_scoped_read(spark, data, dirs) if dirs else None
        if sub is not None:
            overwrite_partitions_dropping_emptied(
                spark, sub.filter(~pred), path, parts, touched
            )
    if sub is None:
        # the swap records its frame's schema: re-read a partitioned
        # table outside the guard so it records the types readers see
        whole = _read_table(spark, path) if parts else df
        _swap_into(spark, whole.filter(~pred), path, partition_by=partition_by)
    _refresh_stats_if_kept(spark, path)
    return n


def _dead_tombstone_pred(before_seq: int):
    """Vacuum predicate shared by both vacuum entry points. NULL-safe on
    _seq: a tombstone with unknown seq must be RETAINED (its replay
    horizon can't be proven passed), not silently dropped by a
    three-valued ~NULL filter — and the count must agree with the rows
    actually removed."""
    return F.coalesce(F.col(DELETED_COL), F.lit(False)) & F.coalesce(
        _canonical_seq(SEQ_COL) < F.lit(_canonical_seq_py(before_seq)),
        F.lit(False),
    )


def vacuum_tombstones_table(
    spark: SparkSession,
    table_name: str,
    before_seq: int,
    bucket_cols: list[str],
    n_buckets: int = 32,
) -> int:
    """Tombstone GC for a BUCKETED warehouse table — the catalog-table
    twin of ``vacuum_tombstones`` (same caller-owned replay-horizon
    invariant, same NULL-_seq retention rule). The survivors commit
    through ``apply._commit_bucketed``, the fenced pointer commit of
    ``apply_changes_bucketed``, so the bucketed (zero-Exchange-join)
    layout survives the vacuum and readers see the old version or the
    new one. Returns tombstones dropped."""
    from .apply import _commit_bucketed

    is_dead = _dead_tombstone_pred(before_seq)
    n = 0

    def survivors(current):
        nonlocal n
        if current is None or DELETED_COL not in current.columns:
            return None
        n = current.filter(is_dead).count()
        return current.filter(~is_dead) if n else None

    _commit_bucketed(spark, table_name, bucket_cols, n_buckets, survivors)
    return n


@_locked_on_path
def compact_history(
    spark: SparkSession,
    path: str,
    before_seq: int | str,
    partition_by: list[str] | None = None,
) -> int:
    """Fold a history-mode (merge-on-read) table's version rows older
    than ``before_seq`` into one latest-wins snapshot row per key — the
    compaction that bounds the read amplification
    ``apply_changes(mode="history")`` trades for its O(batch) writes
    (Hudi's MOR compaction / Delta's log checkpointing, on plain
    parquet).

    Reads at ``as_of_seq >= before_seq`` (and the current-state read)
    are bit-identical before and after: the fold keeps each key's
    newest sub-horizon version — tombstones included — under its
    ORIGINAL seq, so every later cut still arbitrates over the same
    winners. Time travel BELOW the horizon is gone (the superseded
    versions no longer exist), so the horizon is persisted in a
    ``_history_horizon`` marker (underscore-prefixed: invisible to
    Spark's listing) and ``read_warehouse`` rejects as-of reads beneath
    it instead of silently returning a too-new state. Re-compaction
    only ever raises the horizon. As with ``vacuum_tombstones``, the
    caller owns the replay-horizon invariant: folding away superseded
    versions older than ``before_seq`` is safe once no source can
    replay a seq below it. Returns the number of version rows removed.

    Scale: one latest-per-key window over the sub-horizon slice plus a
    rewrite — the same single-shuffle shape as the copy-on-write merge,
    run at maintenance cadence instead of per batch. The rewrite is a
    whole-table swap, which records its frame's schema: the table is
    read through ``apply._read_table``, so every column, partition
    columns included, keeps the type readers see.
    """
    df = _read_table(spark, path)
    if KEY_COL not in df.columns:
        raise ValueError(
            "compact_history requires a history-mode table "
            '(apply_changes(mode="history"))'
        )
    cut = F.lit(_canonical_seq_py(before_seq))
    canon = df.withColumn(SEQ_COL, _canonical_seq(SEQ_COL))
    old = canon.filter(F.col(SEQ_COL) < cut)
    recent = canon.filter(F.col(SEQ_COL) >= cut)
    n_old = old.count()
    folded = latest_per_key(old, KEY_COL, SEQ_COL)
    n_folded = folded.count()
    if n_old == n_folded:
        _write_history_horizon(path, before_seq)
        return 0
    result = folded.unionByName(recent, allowMissingColumns=True)
    horizon = max(
        _canonical_seq_py(before_seq), read_history_horizon(path) or ""
    )
    _swap_into(
        spark,
        result,
        path,
        partition_by=partition_by,
        extra_files={HISTORY_HORIZON_MARKER: horizon},
    )
    _refresh_stats_if_kept(spark, path)
    return n_old - n_folded


HISTORY_HORIZON_MARKER = "_history_horizon"


def _write_history_horizon(path: str, before_seq: int | str) -> None:
    """Persist the compaction horizon (canonical form, monotone,
    atomic — a torn marker would poison every later horizon check)."""
    new = _canonical_seq_py(before_seq)
    cur = read_history_horizon(path)
    if cur is None or new > cur:
        fsio.atomic_write_text(
            os.path.join(table_data_dir(path), HISTORY_HORIZON_MARKER), new
        )


def read_history_horizon(path: str) -> str | None:
    """Canonical horizon seq below which time travel is unavailable."""
    raw = fsio.read_text(
        os.path.join(table_data_dir(path), HISTORY_HORIZON_MARKER)
    )
    return (raw.strip() or None) if raw is not None else None


@dataclass(frozen=True)
class AnalyzedTable:
    """Catalog statistics recorded for one table by ``analyze_tables``."""

    size_bytes: int
    row_count: int | None
    column_ndv: dict[str, int]


def analyze_tables(
    spark: SparkSession,
    tables: dict[str, str],
    columns: dict[str, list[str]] | None = None,
) -> dict[str, AnalyzedTable]:
    """Table/column statistics for the cost-based optimizer — the
    warehouse's ``ANALYZE`` maintenance tick.

    AQE's runtime sizes fix the broadcast/build-side decision, but join
    ORDER across a 5-way star join is chosen at plan time from
    estimates: without catalog statistics Spark knows only file sizes
    (no row counts, no NDVs), so CBO (``spark.sql.cbo.enabled`` +
    ``joinReorder.enabled``) cannot rank join trees. At 100 TB a wrong
    join order multiplies the dominant shuffle by the selectivity the
    optimizer failed to see; a periodic ANALYZE after load/compaction
    is how every warehouse keeps those estimates honest (the
    reference's Redshift target gets the same from its own ANALYZE).

    ``tables`` maps catalog table names to parquet paths; each is
    registered as an external table (no data copied or moved) and gets
    ``ANALYZE TABLE .. COMPUTE STATISTICS`` (rowCount + sizeInBytes),
    plus ``FOR COLUMNS`` on any listed in ``columns`` (min/max/NDV/
    null-count histograms for selectivity estimates — list the join
    keys and common filter columns). The scan is distributed; only the
    aggregated statistics land in the catalog. Returns the recorded
    stats read back from the catalog so callers (and tests) can assert
    CBO sees them.
    """
    from ..functions.sql_templates import quote_ident, quote_literal
    from .apply import _local_path

    out: dict[str, AnalyzedTable] = {}
    def _is_partitioned(qname: str) -> bool:
        # public Catalog API (no py4j internals): partition columns of
        # the registered relation
        return any(
            c.isPartition for c in spark.catalog.listColumns(qname)
        )

    def _registered_location(qname: str) -> str | None:
        rows = spark.sql(f"DESCRIBE TABLE EXTENDED {qname}").collect()
        locs = [r["data_type"] for r in rows if r["col_name"] == "Location"]
        return _local_path(locs[0]) if locs else None

    for name, path in tables.items():
        qname = quote_ident(name)
        # the registered LOCATION must track the pointer-resolved data
        # dir (a swap moves the fileset to a new version dir, which
        # would strand a once-registered location). Re-point WITHOUT a
        # drop+recreate window where possible: a concurrent SELECT
        # against the name must never see TABLE_OR_VIEW_NOT_FOUND
        # mid-tick, so the steady-state tick never drops the table; the
        # statistics are recomputed right after any re-registration, so
        # nothing durable is lost.
        abs_loc = os.path.abspath(table_data_dir(path))
        loc = quote_literal(abs_loc)

        def _register() -> None:
            spark.sql(
                f"CREATE TABLE {qname} USING parquet LOCATION {loc}"
            )
            if _is_partitioned(qname):
                # CREATE .. LOCATION records the partition COLUMNS but
                # not the partition ENTRIES — without the repair the
                # catalog relation reads zero rows
                spark.sql(f"MSCK REPAIR TABLE {qname}")

        # qname (backtick-quoted) goes to EVERY name-parsing API, not
        # just the DDL strings — tableExists/spark.table/listColumns
        # parse their argument, so a reserved-word or otherwise
        # quoting-dependent name resolves consistently everywhere
        if spark.catalog.tableExists(qname):
            cat_schema = spark.table(qname).schema
            manifest = read_table_schema(path)
            evolved = manifest is not None and {
                (f.name, f.dataType) for f in manifest.fields
            } != {(f.name, f.dataType) for f in cat_schema.fields}
            moved = _registered_location(qname) != abs_loc
            if evolved or (moved and _is_partitioned(qname)):
                # an EVOLVED schema (new columns or widened types)
                # would serve stale metadata, and a MOVED partitioned
                # table keeps its per-partition paths under the OLD
                # location (SET LOCATION + REFRESH re-recovers
                # neither) — only these pay the drop+recreate window
                spark.sql(f"DROP TABLE IF EXISTS {qname}")
                _register()
            elif moved:
                spark.sql(f"ALTER TABLE {qname} SET LOCATION {loc}")
                spark.sql(f"REFRESH TABLE {qname}")
            elif _is_partitioned(qname):
                # unchanged partitioned location: blind appends may
                # have created NEW partition dirs since the last tick —
                # pick them up without any resolution gap
                spark.sql(f"MSCK REPAIR TABLE {qname}")
                spark.sql(f"REFRESH TABLE {qname}")
            else:
                spark.sql(f"REFRESH TABLE {qname}")
        else:
            _register()
        spark.sql(f"ANALYZE TABLE {qname} COMPUTE STATISTICS")
        cols = (columns or {}).get(name) or []
        if cols:
            collist = ", ".join(quote_ident(c) for c in cols)
            spark.sql(
                f"ANALYZE TABLE {qname} COMPUTE STATISTICS "
                f"FOR COLUMNS {collist}"
            )
        # read the recorded stats back through the catalog relation the
        # optimizer itself consults (not DESCRIBE text parsing)
        rel = (
            spark.sparkContext._jvm.org.apache.spark.sql.catalyst.TableIdentifier(
                name
            )
        )
        cat = spark._jsparkSession.sessionState().catalog().getTableMetadata(rel)
        st = cat.stats()
        size = 0
        rows: int | None = None
        ndv: dict[str, int] = {}

        def _jint(v) -> int:
            # scala BigInt surfaces as a py4j object or a plain int
            # depending on the bridge's conversion path
            try:
                return int(v.toString())
            except AttributeError:
                return int(v)

        if st.isDefined():
            s = st.get()
            size = _jint(s.sizeInBytes())
            if s.rowCount().isDefined():
                rows = _jint(s.rowCount().get())
            cstats = s.colStats()
            it = cstats.iterator()
            while it.hasNext():
                kv = it.next()
                cs = kv._2()
                if cs.distinctCount().isDefined():
                    ndv[str(kv._1())] = _jint(cs.distinctCount().get())
        out[name] = AnalyzedTable(size, rows, ndv)
    return out


def write_bucketed(
    df,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist a table bucketed (hash-clustered) on its join key.

    The 100 TB co-location lever: two tables bucketed on the same key
    with the same bucket count join WITHOUT a shuffle — each task reads
    matching bucket files from both sides (verified by plan test: no
    Exchange under the join). Equivalent DDL: ``CREATE TABLE ...
    CLUSTERED BY (key) INTO n BUCKETS``; on a lakehouse the same role is
    played by hidden bucket partition transforms. ``sort_cols`` adds
    within-bucket ordering so the join degrades to a zip merge.
    """
    writer = df.write.mode("overwrite").format("parquet").bucketBy(
        n_buckets, *bucket_cols
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table_name)


@dataclass(frozen=True)
class WarehouseAudit:
    """Result of ``validate_warehouse``. The first two counts are
    violations (0 in a healthy table); ``n_null_seq_tombstones`` is
    informational — legacy tombstones without an arbitration seq are
    legitimate (vacuum retains them, see ``_dead_tombstone_pred``) but
    can never expire by seq, so a growing count says the table needs a
    manual horizon decision."""

    n_rows: int
    n_null_keys: int
    n_duplicate_keys: int
    n_null_seq_tombstones: int


def validate_warehouse(
    spark: SparkSession, path: str, key: str
) -> WarehouseAudit:
    """Audit the invariants the apply paths promise (the lakehouse
    CONSTRAINT check, run at maintenance cadence): latest-wins tables
    hold exactly one live row per non-null key; history tables may
    repeat keys (by design — every version is retained) but never
    within one (key, seq) version after replay collapse. Violations
    mean a bug or out-of-band writes — the counts localize which
    invariant broke. One aggregate pass + one groupBy on the key; no
    data is modified.

    Reference tie: this generalizes the reference's row-count
    reconciliation (start_dms_replication_task_lambda/handler.py:89-93)
    from "same count" to "the keys themselves are sound"."""
    df = _read_table(spark, path)
    history = KEY_COL in df.columns
    key_col = F.col(KEY_COL) if history else F.col(key)
    live = (
        ~F.coalesce(F.col(DELETED_COL), F.lit(False))
        if DELETED_COL in df.columns
        else F.lit(True)
    )
    deleted = (
        F.coalesce(F.col(DELETED_COL), F.lit(False))
        if DELETED_COL in df.columns
        else F.lit(False)
    )
    null_seq_pred = (
        deleted & F.col(SEQ_COL).isNull()
        if DELETED_COL in df.columns and SEQ_COL in df.columns
        else F.lit(False)
    )
    # ONE pass, ONE action: the per-group counts aggregate under the
    # audit's group key and every scalar rolls up from there —
    # duplicate groups by count>1, the rest as conditional sums. (The
    # previous shape ran four separate count actions = four scans.)
    group_cols = (
        [key_col.alias("_k"), F.col(SEQ_COL).alias("_s")]
        if history
        else [key_col.alias("_k")]
    )
    row = (
        df.groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(F.when(live, 1).otherwise(0)).alias("_n_live"),
            F.sum(F.when(key_col.isNull() & live, 1).otherwise(0)).alias(
                "_n_null_live"
            ),
            F.sum(F.when(null_seq_pred, 1).otherwise(0)).alias("_n_null_seq"),
        )
        .agg(
            F.sum("_n").alias("n_rows"),
            F.sum("_n_null_live").alias("n_null_keys"),
            F.sum(
                F.when(
                    (F.col("_n") if history else F.col("_n_live")) > 1, 1
                ).otherwise(0)
            ).alias("dup"),
            F.sum("_n_null_seq").alias("null_seq"),
        )
        .first()
    )
    return WarehouseAudit(
        int(row["n_rows"] or 0),
        int(row["n_null_keys"] or 0),
        int(row["dup"] or 0),
        int(row["null_seq"] or 0),
    )


@_locked_on_path
def purge_keys(
    spark: SparkSession,
    path: str,
    key: str,
    values: list,
    partition_by: list[str] | None = None,
) -> int:
    """Hard-delete EVERY stored row of the given keys — live images,
    tombstones, and (on history tables) every retained version. This is
    the right-to-be-forgotten operation, deliberately distinct from a
    REMOVE envelope: a REMOVE is a new fact that latest-wins arbitration
    preserves history around; a purge REWRITES history so the key never
    existed. Time travel and the change feed stop returning the key at
    every seq — that is the point, and the caller owns the compliance
    semantics (as with Delta's DELETE + VACUUM pair).

    The rewrite is ``_delete_where``'s, as for ``vacuum_tombstones``:
    ``partition_by`` prunes it to the partitions actually holding the
    keys (emptied partitions dropped) — purge cost O(touched
    partitions), not O(table); flat tables swap through the pointer
    flip. The skipping-stats sidecar is refreshed after the rewrite.
    Returns the number of rows removed.
    """
    if not values:
        return 0

    def doomed(df):
        # NULL-safe: isin() on a NULL key yields NULL, and ~NULL is NULL,
        # so an un-coalesced survivor filter would silently DELETE every
        # NULL-key row (plausible on append-mode tables) — the same
        # three-valued hazard _dead_tombstone_pred guards against. A NULL
        # key is never one of the requested values, so it must survive.
        if KEY_COL in df.columns:  # history mode stores the envelope key
            raw = F.col(KEY_COL).isin([str(v) for v in values])
        else:
            raw = F.col(key).isin(list(values))
        return F.coalesce(raw, F.lit(False))

    return _delete_where(spark, path, doomed, partition_by)
