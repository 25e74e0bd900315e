"""Warehouse apply: append (bug-compatible) and upsert (latest-image).

SURVEY.md §7 hard parts 2-3. The reference's warehouse accumulates one
row per change event because Redshift's UNIQUE is unenforced and every
COPY appends (``load_s3_files...handler.py:75,88-95``; divergence
documented at reference README.md:30). The engine makes the semantics an
explicit mode switch:

- ``append``: one warehouse row per INSERT/MODIFY event; REMOVE dropped.
  Exactly the reference's observable behavior.
- ``upsert``: one row per key, the change with the highest ``seq`` wins
  (DynamoDB ``put_item`` overwrite semantics, K2); ``propagate_deletes``
  optionally lets a winning REMOVE delete the key — the "clean" mode the
  reference README wishes it had.
- ``history``: merge-on-read — every version row is retained (blind
  O(batch) appends), latest-wins moves to read time, and
  ``read_warehouse(as_of_seq=N)`` time-travels to any past sequence;
  ``maintenance.compact_history`` folds old versions to bound the read
  amplification.

Ordering correctness under at-least-once, possibly reordered delivery
(R4/R8): every merge is keyed by ``(key, seq)`` and resolved by max-seq,
so replays and cross-batch reordering converge to the same table. The
upsert table persists ``_seq`` per row to arbitrate against future
batches, and in ``propagate_deletes`` mode a winning REMOVE persists as
a seq-bearing TOMBSTONE row (``_deleted`` marker, filtered by
``read_warehouse``) — without it, a later batch replaying an older
upsert of a deleted key would resurrect it unopposed.

Scale: the merge is one shuffle on the key (window row_number), the same
plan a Delta/Iceberg MERGE generates for the matched path. On plain
parquet the rewritten table commits as a new version behind a pointer
(below); on a real lakehouse this is `MERGE INTO` — semantics identical.
"""

from __future__ import annotations

import contextlib
import datetime
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import fsio
from ..functions.sql_templates import quote_ident, quote_literal, sql_type
from ..sources.change_feed import VALID_OPS
from . import fileset
from .fileset import _is_version_name

SEQ_COL = "_seq"
# Tombstone marker for propagate_deletes mode: a winning REMOVE stores a
# seq-bearing tombstone row instead of erasing the key, so a LATER batch
# replaying an OLDER upsert still arbitrates against the delete's seq
# and cannot resurrect the key (the R4 cross-batch-reorder guarantee
# around deletes). Readers filter tombstones via read_warehouse; old
# tombstones are junk data, not correctness state, once every source's
# replay horizon has passed — compaction may drop them then (the
# standard tombstone-GC caveat of every log-structured merge store).
DELETED_COL = "_deleted"
# History-mode key column: ``mode="history"`` tables retain EVERY
# version row (merge-on-read), so the reader must know which column
# arbitrates latest-wins; storing the envelope key alongside the
# after-image makes the table self-describing and enables time travel
# (``read_warehouse(as_of_seq=...)``). Latest-wins tables never carry
# this column, which is how the reader tells the layouts apart.
KEY_COL = "_key"
# Sidecar marker files every table swap carries over (see _swap_into):
# underscore-prefixed so Spark's listing never sees them as data.
# Carrying _file_stats.json keeps "this table maintains skipping stats"
# durable across rewrites; the carried copy is STALE (a swap writes new
# data files, so its entries go conservatively dead — unknown files are
# always read) until maintenance refreshes it (layout.refresh_file_stats).
# _agg_through_seq is sync_aggregate's change-feed offset (see
# incremental.AGG_THROUGH_MARKER) — it must survive ANY swap of the
# aggregate table, or a later drain degrades to a full recompute.
# _table_schema.json is re-stamped fresh by every swap.
_SIDECAR_MARKERS = (
    "_history_horizon",
    "_file_stats.json",
    "_agg_through_seq",
    "_table_schema.json",
)

# --- Version-pointer table layout: the object-store commit -----------------
#
# Every whole-table commit — ``_swap_into`` for path tables,
# ``_commit_bucketed`` for bucketed catalog tables — uses one protocol
# with no directory rename (object stores have none): the table root
# holds a ``_current`` control file naming the live version directory
# (``v_<counter>_<hex>``), and a commit is (1) write the new fileset into
# a fresh version dir, (2) atomically replace ``_current`` (one PUT on an
# object store — fsio.atomic_write_text), (3) garbage-collect superseded
# versions past a grace period, all under the table fence. Readers
# resolve the pointer through ``table_data_dir`` and see the old version
# or the new one, never a mix: a Delta/Iceberg metadata-pointer flip,
# reduced to the one bit of state plain parquet needs (the reference's
# warehouse handoff likewise lives on S3 objects written once,
# load_s3_files_from_dynamodb_stream_to_redshift_lambda/handler.py:96).
#
# Tables are born in the LEGACY layout (data files at the root): blind
# appends and dynamic partition overwrites are object-store-native
# already, so the first whole-table commit upgrades a table. Readers
# work on both layouts (``table_data_dir`` returns a legacy root as is).
CURRENT_POINTER = "_current"
_VERSION_PREFIX = "v_"

# Commit LOG beside the pointer, one version name per line, rewritten
# by every flip (``_flip_pointer``). It tells a superseded committed
# version from an aborted commit's orphan, which look alike on disk, so
# version-pinned reads never expose uncommitted data. Committed set =
# log entries ∪ {current pointer}. With ``VERSION_GC_GRACE_SECONDS`` > 0
# this is ``VERSION AS OF`` in miniature.
VERSIONS_LOG = "_versions"

# Superseded version dirs (and, after an upgrade commit, legacy root
# files) younger than this many seconds survive the commit-time GC.
# Readers PIN a version at plan time (they resolve the pointer once,
# and a bucketed catalog entry names one version dir), so the grace is
# what makes the pin safe: a commit landing between a reader's plan and
# its collect must not delete the planned fileset. Whole-table commits
# are the small/medium-table path (huge tables take appends/partition
# overwrites, which never GC), and 10 minutes is above one maintenance
# cadence. The retention trade (Delta's VACUUM knob): a table committed
# every T seconds keeps ~grace/T superseded copies. Raise it for longer
# time travel (``read_warehouse_version``); lower it only where no
# reader can outlive a commit.
VERSION_GC_GRACE_SECONDS: float = 600.0


def table_data_dir(path: str) -> str:
    """The physical directory holding a table's CURRENT data fileset:
    the version dir named by the ``_current`` pointer, or ``path``
    itself for legacy (never-swapped) tables. Idempotent — a version
    dir contains no pointer — so defensive resolution at every
    physical-read site is safe."""
    raw = fsio.read_text(os.path.join(path, CURRENT_POINTER))
    if raw is None:
        return path
    name = raw.strip()
    if not name:
        return path
    return os.path.join(path, name)


def _legacy_orphan_versions(root: str) -> list[str]:
    """Version-named entries under a POINTER-LESS root — always the
    staging of an ABORTED commit (the pointer write is what makes a
    version 'committed', and the upgrade commit that would have
    installed the pointer never finished), never live data. They sit
    inside the namespace legacy readers scan, so a crashed
    legacy->pointer upgrade would otherwise poison the live table:
    partition discovery trips over the non-hive dir
    (CONFLICTING_DIRECTORY_STRUCTURES on a partitioned root), and
    file walks would ingest uncommitted rows. Returns [] for pointer
    tables: their superseded/orphan siblings are invisible to readers
    (reads resolve the pointer) and are GC'd — grace respected — by
    the next commit."""
    if fsio.read_text(os.path.join(root, CURRENT_POINTER)) is not None:
        return []
    return [
        os.path.join(root, e)
        for e in fsio.listdir(root)
        if _is_version_name(e) and fsio.isdir(os.path.join(root, e))
    ]


def _purge_legacy_orphans(root: str) -> None:
    """Writer-side hygiene: delete aborted-commit orphans under a
    pointer-less root. Callable ONLY while holding a ``_fence`` scope on
    the table — the fence's scope cross-check guarantees no whole-table
    writer is mid-``_swap_into`` while any scope is held (a table-scope
    holder IS the only possible stager; partition/append scopes abort
    when the table fence is live), so a version dir seen here can never
    be a commit in flight. Readers must never call this (an unlocked
    reader could race a live upgrade's staging) — they route around
    orphans via ``_data_read_paths`` instead."""
    for p in _legacy_orphan_versions(root):
        fsio.remove_tree(p)
        _drop_path_caches(p)


def _data_read_paths(path: str) -> tuple[str, list[str] | None]:
    """(physical data dir, explicit read paths or None) for a table
    read. None means the dir is clean — read it directly (the
    overwhelmingly common case: pointer-resolved version dirs never
    hold junk, and legacy roots only after a CRASHED upgrade commit).
    A polluted legacy root returns its top-level non-junk entries so
    the reader plans around the orphan (callers pass
    ``basePath=dir`` so hive partition columns keep their names). An
    empty list means the root holds ONLY junk — no committed data."""
    d = table_data_dir(path)
    if d != path:
        return d, None  # pointer layout: version dirs are always clean
    junk = False
    keep: list[str] = []
    for name in fsio.listdir(d):
        p = os.path.join(d, name)
        if _is_version_name(name) and fsio.isdir(p):
            junk = True
        elif not name.startswith(("_", ".")):
            keep.append(p)
    if not junk:
        return d, None
    return d, keep


def committed_versions(path: str) -> list[str]:
    """Version-dir names that COMMITTED, oldest first: the commit log's
    entries plus the current pointer (a crash between pointer flip and
    log append loses only that log line, and the pointer itself proves
    its version committed). Anything else on disk is an aborted
    commit's staging — never readable."""
    raw = fsio.read_text(os.path.join(path, VERSIONS_LOG)) or ""
    out = [ln.strip() for ln in raw.splitlines() if ln.strip()]
    cur = fsio.read_text(os.path.join(path, CURRENT_POINTER))
    cur = cur.strip() if cur else ""
    if cur and cur not in out:
        out.append(cur)
    return out


def table_versions(path: str) -> list[dict]:
    """Commit history of a pointer-layout table, oldest first. Each
    entry: ``name``, ``current`` (the pointer names it), ``available``
    (its fileset still exists — superseded versions survive only
    within ``VERSION_GC_GRACE_SECONDS``, Delta's VACUUM retention in
    miniature). Returns [] for legacy tables (no commit has run)."""
    cur = fsio.read_text(os.path.join(path, CURRENT_POINTER))
    cur = cur.strip() if cur else ""
    return [
        {
            "name": name,
            "current": name == cur,
            "available": fsio.isdir(os.path.join(path, name)),
        }
        for name in committed_versions(path)
    ]


def read_warehouse_version(
    spark: SparkSession, path: str, version: str, **kwargs
):
    """``VERSION AS OF`` on the pointer substrate: the table exactly as
    of a past COMMITTED version. The name must appear in the commit
    log (an aborted commit's orphan staging is never readable — the
    log is what distinguishes them on disk) and its fileset must still
    exist (superseded versions are retained ``VERSION_GC_GRACE_SECONDS``
    — default 10 minutes — past supersession; set it above the travel
    horizon you need). A version dir is a complete table fileset — the schema
    manifest and sidecar markers are carried into it at commit time —
    so this is the ordinary ``read_warehouse`` reader pointed at that
    dir; all its kwargs (``with_seq``, ``as_of_seq``, ``predicates``)
    compose. Complements seq-based time travel on history tables
    (``as_of_seq``): version pinning works on LATEST-WINS tables too,
    where no version history is retained in the rows themselves."""
    if version not in committed_versions(path):
        raise ValueError(
            f"{version!r} is not a committed version of {path!r} — "
            "aborted-commit stagings and unknown names are not "
            f"readable (see {VERSIONS_LOG})"
        )
    vdir = os.path.join(path, version)
    if not fsio.isdir(vdir):
        raise FileNotFoundError(
            f"version {version!r} of {path!r} was garbage-collected; "
            "raise VERSION_GC_GRACE_SECONDS to retain superseded "
            "versions for time travel"
        )
    return read_warehouse(spark, vdir, **kwargs)


def _next_version_name(root: str) -> str:
    """A fresh version-dir name whose counter exceeds every version the
    root has ever seen — the pointer (authoritative) AND any orphan
    staging dirs a crash left (counter monotonicity keeps 'newest
    committed' recoverable by name alone)."""
    best = 0
    raw = fsio.read_text(os.path.join(root, CURRENT_POINTER))
    names = [raw.strip()] if raw else []
    names += fsio.listdir(root)
    for name in names:
        if name.startswith(_VERSION_PREFIX):
            part = name[len(_VERSION_PREFIX):].split("_", 1)[0]
            if part.isdigit():
                best = max(best, int(part))
    return f"{_VERSION_PREFIX}{best + 1:010d}_{uuid.uuid4().hex[:8]}"


# Supersession clock: {entry name: unix time it was FIRST seen
# superseded}, maintained beside the pointer under the table fence.
# The grace window must run from SUPERSESSION, not from the entry's
# mtime — a version that was current for longer than the grace would
# otherwise be deleted the instant it is superseded, defeating the
# snapshot pin for every table swapped less often than the grace
# (the slow-compaction cadence case). One small JSON, rewritten per
# commit (a PUT on an object store), entries dropped as they are
# collected.
GC_CLOCK = "_gc_clock"


def _gc_superseded(root: str, keep: str) -> int:
    """Commit-time GC: every root entry other than the pointer, the
    commit log, the supersession clock, and the just-committed version
    dir is superseded state — old version dirs, orphan stagings from
    crashed commits, and (after the upgrade commit) the legacy root
    fileset. An entry is deleted only once it has been superseded for
    ``VERSION_GC_GRACE_SECONDS`` (clock recorded at the first commit
    that sees it superseded — see ``GC_CLOCK``), so in-flight readers
    pinned to the previous version always get the full grace. Deleting
    a directory tree is DATA-plane cleanup (a batch of object-store
    DELETEs), not a coordination primitive — atomicity is carried
    entirely by the pointer flip that precedes it; the clock itself is
    fence-serialized like the commit log. Returns the number of
    entries RETAINED inside the grace (what ``vacuum_versions``
    reports — keeping the count here avoids a second listing and a
    second copy of the control-file exclusion set)."""
    import json
    import time

    clock_path = os.path.join(root, GC_CLOCK)
    try:
        raw = json.loads(fsio.read_text(clock_path) or "{}")
    except ValueError:
        raw = {}
    # shape-validate, not just parse: a clock holding valid JSON of
    # the wrong shape (null, a list, non-numeric values) must degrade
    # to "first seen now" — crashing here would fail every later
    # commit AND the rewrite below that repairs the file
    clock = (
        {
            k: float(v)
            for k, v in raw.items()
            if isinstance(v, (int, float)) and not isinstance(v, bool)
        }
        if isinstance(raw, dict)
        else {}
    )
    now = time.time()
    new_clock: dict[str, float] = {}
    for entry in fsio.listdir(root):
        if entry in (CURRENT_POINTER, VERSIONS_LOG, GC_CLOCK, keep):
            continue
        superseded_at = clock.get(entry, now)
        if now - superseded_at < VERSION_GC_GRACE_SECONDS:
            new_clock[entry] = superseded_at
            continue
        p = os.path.join(root, entry)
        if fsio.isdir(p):
            fsio.remove_tree(p)
            _drop_path_caches(p)
        else:
            fsio.remove(p)
    if new_clock or clock:
        fsio.atomic_write_text(clock_path, json.dumps(new_clock))
    return len(new_clock)


def _drop_path_caches(data_dir: str) -> None:
    """Evict per-version memo entries for a deleted version dir —
    without this, every swap would strand one parsed-sidecar copy in
    the process-lifetime caches."""
    _SEQ_CANONICAL_CACHE.pop(data_dir, None)
    fileset._FILESET_CACHE.pop(data_dir, None)
    try:
        from .layout import _SIDECAR_CACHE

        _SIDECAR_CACHE.pop(data_dir, None)
    except ImportError:  # pragma: no cover - layout always importable
        pass


# Write-time schema manifest: the union schema of the table's data
# files, recorded by every engine write path (swap, blind append,
# dynamic partition overwrite) and IMPOSED by the hot readers
# (read_warehouse / read_changes / follow_changes / sync_aggregate)
# instead of mergeSchema. mergeSchema unions every parquet footer in a
# driver-side job before the scan — O(all files of the table) planning
# work PER READ, minutes of driver time at 100 TB file counts — while
# the manifest is one file read. This is what a lakehouse transaction
# log does (the reference binds its warehouse schema by declared DDL +
# name matching, load_s3_files_from_dynamodb_stream_to_redshift_lambda/
# handler.py:74-95, never by re-deriving it per read); schema evolution
# under partial rewrites (the reason the readers needed mergeSchema at
# all) is handled by UNIONING the written frame's fields into the
# manifest at write time. Readers fall back to mergeSchema when no
# manifest exists (tables written by external tools).
SCHEMA_MANIFEST = "_table_schema.json"


def read_table_schema(path: str):
    """The recorded union schema of a table, or None when the table has
    no manifest (external writers — readers then fall back to
    mergeSchema)."""
    import json

    from pyspark.sql.types import StructType

    raw = fsio.read_text(os.path.join(table_data_dir(path), SCHEMA_MANIFEST))
    if raw is None:
        return None
    return StructType.fromJson(json.loads(raw))


def _nullable_schema(schema):
    """Every field forced nullable, as a footer-union (mergeSchema)
    schema would be: a frame written with a non-nullable computed
    column must not let a later evolving write's NULL-filled reads be
    constant-folded away under a falsely-strict manifest."""
    from pyspark.sql.types import StructField, StructType

    return StructType(
        [StructField(f.name, f.dataType, True, f.metadata) for f in schema.fields]
    )


def _write_table_schema(path: str, schema) -> None:
    fsio.atomic_write_text(
        os.path.join(table_data_dir(path), SCHEMA_MANIFEST),
        _nullable_schema(schema).json(),
    )


def _stamp_schema_union(spark: SparkSession, path: str, new_schema) -> None:
    """Union a just-written frame's fields into the table's schema
    manifest — the write-time twin of what mergeSchema derives per
    read. Recorded order first, new fields appended (matching
    _merge_latest's evolution order). A same-name TYPE conflict removes
    the manifest: readers then fall back to mergeSchema, which is the
    component that owns cross-footer type reconciliation.

    FIRST stamp on a table that has no manifest derives the union from
    the table's own footers (one mergeSchema pass) instead of trusting
    the current batch's schema alone: a legacy pre-manifest table may
    hold files carrying columns this batch lacks, and a batch-only
    first stamp would hide them from every later manifest-imposed
    read. On OVERLAPPING fields the batch's type wins: mergeSchema
    requires type-equal data columns across footers (so the batch
    cannot conflict with a data column it just wrote), which means any
    derived-vs-batch type difference is PARTITION-column dir-name
    inference ('01' and '1' inferring int where the writer declared
    string) — and the writer knows the truth. New tables pay one
    footer pass over their own just-written files.

    The read-union-write runs under the table's ``"stamp"`` fence: two
    APPEND-scope writers stamping concurrently would each read the
    pre-both manifest and the last writer would erase the other's
    added columns."""
    with _fence(path, "stamp"):
        _stamp_schema_union_locked(spark, path, new_schema)


def _stamp_schema_union_locked(spark: SparkSession, path: str, new_schema) -> None:
    from pyspark.sql.types import StructType

    path = table_data_dir(path)
    existing = read_table_schema(path)
    if existing is None:
        # The stamp runs AFTER the data write committed, so it must
        # never fail the apply: a legacy table whose footers carry a
        # cross-file type conflict makes the derivation throw — skip
        # the manifest then (readers keep the mergeSchema fallback,
        # which owns surfacing that conflict), matching the
        # conflict-removes-manifest policy below.
        try:
            derived = (
                spark.read.option("mergeSchema", "true")
                .parquet(path)
                .schema
            )
        except Exception:
            return
        batch = {f.name: f for f in new_schema.fields}
        fields = [batch.get(f.name, f) for f in derived.fields]
        have = {f.name for f in fields}
        fields += [f for f in new_schema.fields if f.name not in have]
        _write_table_schema(path, StructType(fields))
        return
    have = {f.name: f.dataType for f in existing.fields}
    for f in new_schema.fields:
        if f.name in have and f.dataType != have[f.name]:
            fsio.remove(os.path.join(path, SCHEMA_MANIFEST))
            return
    added = [f for f in new_schema.fields if f.name not in have]
    if added:
        _write_table_schema(
            path, StructType(list(existing.fields) + added)
        )


def _prestamp_schema_union(spark: SparkSession, path: str, new_schema) -> None:
    """Crash-window guard for writes that do NOT replace the whole
    table (blind appends, dynamic partition overwrite): union the
    batch's fields into an EXISTING manifest BEFORE the data write. The
    post-write stamp alone leaves a window — data committed, stamp not
    yet run — where a crash strands a manifest permanently missing an
    evolved column: manifest-imposed hot reads would hide it forever
    (unlike the mergeSchema fallback, which would surface it), and
    later non-evolving batches never re-add it. Stamping first inverts
    the failure into the benign direction: a crash after the stamp but
    before the write leaves a nullable phantom column every file reads
    as NULL — exactly what the committed write would have produced for
    the OLD files — and the batch's at-least-once replay then writes
    the data. First-ever writes and legacy no-manifest tables keep the
    post-write stamp only (their footer-union derivation needs the
    just-written data on disk)."""
    if read_table_schema(path) is not None:
        _stamp_schema_union(spark, path, new_schema)


def refresh_table_schema(spark: SparkSession, path: str):
    """Re-derive the schema manifest from the table's own footers (one
    mergeSchema pass) and stamp it. For tables appended to by EXTERNAL
    writers (anything that bypasses the engine's write paths): the
    manifest only reflects engine writes, so an external evolving
    append would otherwise be invisible to manifest-imposed hot reads.
    Engine-managed tables never need this."""
    d, paths = _data_read_paths(path)
    reader = spark.read.option("mergeSchema", "true")
    if paths is None:
        schema = reader.parquet(d).schema
    elif paths:
        schema = reader.option("basePath", d).parquet(*paths).schema
    else:
        raise FileNotFoundError(
            f"table {path!r} holds only aborted-commit staging "
            "(no committed data): the crashed first commit's batch "
            "must be replayed"
        )
    _write_table_schema(d, schema)
    return schema


def _table_reader(spark: SparkSession, path: str):
    """A parquet reader imposing the table's schema manifest, or footer-
    merging (mergeSchema) when the table has none."""
    schema = read_table_schema(path)
    if schema is None:
        return spark.read.option("mergeSchema", "true")
    return spark.read.schema(schema)


def _read_table(spark: SparkSession, path: str) -> DataFrame:
    """The hot-reader scan: manifest-imposed when the table carries one
    (O(1) planning), mergeSchema otherwise. Partition columns in the
    imposed schema are sourced from directory values (Spark relocates
    them to the end of the output schema); files missing a manifest
    column read NULL in it — exactly the mergeSchema result, minus the
    per-read footer union. Routes around aborted-commit orphans on a
    legacy root (``_data_read_paths``): a crashed legacy->pointer
    upgrade must leave the table readable, orphan excluded."""
    d, paths = _data_read_paths(path)
    reader = _table_reader(spark, path)
    if paths is None:
        # a crash-stranded EMPTY _spark_metadata dir would make Spark
        # plan zero files over live data; repair it before the read
        fileset.repair_stranded_log(d)
        return reader.parquet(d)
    if not paths:
        raise FileNotFoundError(
            f"table {path!r} holds only aborted-commit staging "
            "(no committed data): the crashed first commit's batch "
            "must be replayed"
        )
    return reader.option("basePath", d).parquet(*paths)


def _pruned_table_read(
    spark: SparkSession, path: str, predicates: list[tuple]
) -> DataFrame | None:
    """Sidecar-pruned, manifest-schema read: plan the scan over only
    the files whose stats (min/max ranges, blooms, hive dirs) can
    satisfy ``predicates`` — the one pruned-read planner, behind
    ``read_warehouse``, ``read_changes``, the aggregate drains and
    ``layout.read_skipping``. Its rules are conservative (unknown files
    always read, missing stats never prune), so the result is ALWAYS
    row-equal to the full read; callers still re-apply their row
    filters. Returns None when the table carries neither manifest
    nor stats sidecar (caller falls back to ``_read_table`` — pruning
    without a sidecar would list every file for nothing), or an empty
    manifest-schema frame when every file was pruned."""
    from .layout import _load_sidecar, prune_files

    path = table_data_dir(path)
    schema = read_table_schema(path)
    stats = _load_sidecar(path)
    sidecar_schema = None
    if schema is None and stats is not None:
        # manifest-less table: impose the stats pass's recorded schema
        # rather than footer-merging only the KEPT files — a column
        # living solely in pruned files would otherwise vanish from the
        # output schema, diverging from the unpruned read. Files newer
        # than the sidecar are conservatively kept either way.
        import json

        from pyspark.sql.types import StructType

        try:
            sidecar_schema = StructType.fromJson(
                json.loads(stats["schema"])
            )
            schema = sidecar_schema
        except (KeyError, ValueError, TypeError):
            schema = None
    if schema is None and stats is None:
        return None
    keep, _total = prune_files(path, predicates)
    if sidecar_schema is not None and keep:
        # the sidecar schema predates files written after the stats
        # pass; footer-merge ONLY those unknown kept files (O(new
        # files)) and union their fields in, so an evolving append
        # between stats refreshes stays visible. A type conflict falls
        # back to the caller's mergeSchema path.
        known = stats["files"]
        unknown = [rel for rel in keep if rel not in known]
        if unknown:
            from pyspark.sql.types import StructType

            try:
                newer = (
                    spark.read.option("mergeSchema", "true")
                    .option("basePath", path)
                    .parquet(*[os.path.join(path, r) for r in unknown])
                    .schema
                )
            except Exception:
                return None
            have = {f.name: f.dataType for f in schema.fields}
            for f in newer.fields:
                if f.name in have and f.dataType != have[f.name]:
                    return None
            added = [f for f in newer.fields if f.name not in have]
            if added:
                schema = StructType(list(schema.fields) + added)
    if schema is None:
        if not keep:
            # cannot synthesize an empty frame without a schema; the
            # junk-aware reader keeps this working on a legacy root a
            # crashed upgrade polluted
            return _read_table(spark, path).filter(F.lit(False))
        return (
            spark.read.option("mergeSchema", "true")
            .option("basePath", path)
            .parquet(*[os.path.join(path, rel) for rel in keep])
        )
    if not keep:
        return spark.createDataFrame([], schema)
    return (
        spark.read.schema(schema)
        .option("basePath", path)
        .parquet(*[os.path.join(path, rel) for rel in keep])
    )


def _is_canonical_seq_str(v) -> bool:
    return isinstance(v, str) and len(v) == 40 and v.isdigit()


# path -> (sidecar (mtime_ns, size), verdict): the canonicality walk
# iterates every sidecar entry, and one hot read_changes tick consults
# it several times — memoized per sidecar VERSION, the same freshness
# key the sidecar parse cache uses (_dump_sidecar replaces the file,
# so the key changes whenever the content can).
_SEQ_CANONICAL_CACHE: dict = {}


def _seq_stats_canonical(path: str) -> bool:
    """True when every recorded _seq bound in the stats sidecar is in
    the canonical 40-char form — the precondition for comparing a
    canonical predicate bound against sidecar stats at prune time.
    Mixed-era tables (unpadded-string or long _seq, which
    _canonical_seq normalizes row-wise at read time) record RAW stored
    values in their stats; pruning against those would compare
    lexicographically-incomparable forms and silently drop files, so
    seq-bound pruning must be skipped entirely for them. True also
    when the sidecar does not track _seq (prune_files is then
    conservative by itself)."""
    from .layout import FILE_STATS_SIDECAR, _load_sidecar

    path = table_data_dir(path)
    try:
        st = os.stat(os.path.join(path, FILE_STATS_SIDECAR))
        key = (st.st_mtime_ns, st.st_size)
    except OSError:
        key = None
    if key is not None:
        hit = _SEQ_CANONICAL_CACHE.get(path)
        if hit is not None and hit[0] == key:
            return hit[1]

    def _walk() -> bool:
        stats = _load_sidecar(path)
        if stats is None or SEQ_COL not in stats.get("columns", []):
            return True
        for entry in stats["files"].values():
            if SEQ_COL not in entry:
                continue
            for bound in entry[SEQ_COL]:
                if bound is not None and not _is_canonical_seq_str(bound):
                    return False
        return True

    verdict = _walk()
    if key is not None:
        _SEQ_CANONICAL_CACHE[path] = (key, verdict)
    return verdict


def _seq_scoped_read(
    spark: SparkSession, path: str, op: str, bound
) -> DataFrame | None:
    """Sidecar-pruned read for ONE canonical-_seq bound predicate, or
    None when pruning is unavailable/unsafe (no sidecar+manifest, or
    non-canonical recorded _seq stats — see _seq_stats_canonical).
    Callers always re-apply the row filter."""
    if not _seq_stats_canonical(path):
        return None
    return _pruned_table_read(
        spark, path, [(SEQ_COL, op, _canonical_seq_py(bound))]
    )


def current_max_seq(spark: SparkSession, path: str) -> str | None:
    """The table's max canonical sequence — the change-feed tip every
    follow/sync tick needs. With a fresh stats sidecar recording _seq,
    this is a DRIVER-side max over the per-file stats plus a scan of
    ONLY the files the sidecar has never seen (O(new files) per tick —
    the idle-tick cost at 100 TB); without one it is a full-column
    aggregate scan. The sidecar fast path only engages when every
    recorded _seq bound is already canonical (engine-written history
    tables always are); anything else falls back to the scan, which
    canonicalizes row-wise."""
    from .layout import _dec_stat, _load_sidecar

    path = table_data_dir(path)
    stats = _load_sidecar(path)
    if stats is not None:
        if SEQ_COL in stats.get("columns", []):
            best: str | None = None
            ok = True
            known = stats["files"]
            # the sidecar is carried through swaps with entries for
            # files a purge/vacuum rewrite removed — a max over THOSE
            # would overstate the feed tip past any stored row, making
            # follow/sync checkpoints permanently skip a later lower-seq
            # backfill. Only entries whose file still exists vote; the
            # listing is already needed for the `unknown` set below.
            on_disk = fileset.committed_files(path)
            on_disk_set = set(on_disk)
            for rel, entry in known.items():
                if rel not in on_disk_set:
                    continue  # stale entry: file swapped/purged away
                if SEQ_COL not in entry:
                    ok = False
                    break
                hi = _dec_stat(entry[SEQ_COL][1])
                if hi is None:
                    continue  # all-null _seq file contributes nothing
                if not _is_canonical_seq_str(hi):
                    ok = False
                    break
                if best is None or hi > best:
                    best = hi
            if ok:
                unknown = [
                    rel for rel in on_disk if rel not in known
                ]
                if unknown:
                    reader = _table_reader(spark, path).option("basePath", path)
                    sub_max = (
                        reader.parquet(
                            *[os.path.join(path, r) for r in unknown]
                        )
                        .agg(
                            F.max(_canonical_seq(SEQ_COL)).alias("m")
                        )
                        .first()["m"]
                    )
                    if sub_max is not None and (
                        best is None or sub_max > best
                    ):
                        best = sub_max
                return best
    df = _read_table(spark, path)
    return df.agg(F.max(_canonical_seq(SEQ_COL)).alias("m")).first()[
        "m"
    ]


class CompactionHorizonError(ValueError):
    """A read (time travel or change-feed window) starts below the
    table's compaction horizon: the versions that would answer it were
    folded by compact_history and can no longer be reconstructed.
    Subclasses ValueError for backward compatibility; consumers that
    can recover structurally (e.g. the pacing bridge's bootstrap
    re-sync) catch THIS type instead of matching message text."""


class ConcurrentWriteError(RuntimeError):
    """A second writer attempted to mutate a table another writer
    holds. The swap protocol (_swap_into, dynamic partition overwrite,
    sidecar stamps) is single-writer by design — two interleaved
    writers would silently lose one's commit — so concurrent mutations
    SERIALIZE OR FAIL CLEANLY, never tear the table."""


# Sibling lock file (not inside the table dir — swaps rename that dir).
_LOCK_SUFFIX = "__lock"

# Opt-in lease for CROSS-HOST dead-writer recovery: same-host crashes
# are detected by (pid, start-time) liveness and adopted automatically,
# but a writer that died on another host leaves no liveness signal this
# host can read — by default its lock stays until an operator calls
# break_table_lock. Setting a lease (seconds) makes a FOREIGN-host lock
# whose recorded acquired_unix is older than the lease adoptable
# through the same TOCTOU-free rename path. The lease must comfortably
# exceed the longest write the deployment runs (there is no heartbeat —
# acquired_unix is stamped once at acquisition), which is why the
# default stays manual: a too-short lease re-opens the lost-commit
# window the fence exists to close. Same-host locks never lease out —
# pid liveness is strictly better evidence.
LOCK_LEASE_SECONDS: float | None = None

# read_changes' touched-key restriction engages only when the window
# covers at most this fraction of the sidecar-known files. MEASURED,
# not guessed (scripts/probe_change_feed_scale.py --gate-sweep, 10x
# AND 100x, COVERAGE.md round-8): the restriction wins only the
# consumer-tick regime — windows confined to fresh post-stats files
# (known-file fraction ~0; 0.1% keys touched: 37% faster at 100x) —
# is a wash by ~1% of keys touched, and LOSES at every measured
# known-file span >= 10% at both scales (e.g. 7.5s vs 5.5s at 100x),
# because a catch-up window's touched-key set approaches the key
# space, making the discovery pass + semi-join pure overhead. The
# round-7 default of 0.5 was a guess; 0.05 keeps the restriction on
# ticks and off everything the sweep showed losing.
READ_CHANGES_RESTRICT_GATE = 0.05


def _lock_path(target_path: str) -> str:
    return target_path.rstrip("/") + _LOCK_SUFFIX


def break_table_lock(target_path: str, all_locks: bool = False) -> bool:
    """Manually remove stranded writer locks of a table: the
    whole-table fence and the schema-stamp lock unconditionally (they
    are what the operator is pointing the tool at — e.g. a FENCE left
    by a writer that died on another host; breaking a live owner's
    fence is the documented judgment call), plus any partition/append
    lock under ``{table}__plocks/`` whose owner PROVABLY fails the
    liveness check (``_adopt_dead_lock``'s TOCTOU-free dance). A
    foreign-host or live-local partition lock survives the default
    break — wiping those alongside one dead fence would re-open the
    lost-commit window for healthy CONCURRENT writers — so a
    partition lock stranded by a death on a host this one cannot
    probe needs the explicit ``all_locks=True`` wipe (or the opt-in
    ``LOCK_LEASE_SECONDS`` for automatic recovery). Returns True if
    anything was removed."""
    removed = fsio.remove(_lock_path(target_path))
    removed = fsio.remove(
        target_path.rstrip("/") + _STAMP_SUFFIX
    ) or removed
    d = _plocks_dir(target_path)
    for name in fsio.listdir(d):
        p = os.path.join(d, name)
        if all_locks:
            removed = fsio.remove(p) or removed
        elif _lock_owner_is_dead(p):
            removed = (_adopt_dead_lock(p) == "freed") or removed
    return removed


def _proc_start_time(pid: int) -> str | None:
    """The kernel's start time for ``pid`` (field 22 of /proc/pid/stat,
    clock ticks since boot) — the identity token that makes a (host,
    pid) pair immune to PID REUSE: a recycled pid gets a different
    start time, so a 'dead' verdict recorded against (pid, starttime)
    can never flip back to alive. None when /proc is unavailable
    (non-Linux) — the check then degrades to pid liveness alone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            data = f.read()
        # comm (field 2) may contain spaces/parens: split after the
        # LAST ')' as procfs documents
        rest = data[data.rindex(b")") + 2 :].split()
        return rest[19].decode()  # field 22 overall, 20th after comm+state
    except (OSError, ValueError, IndexError):
        return None


def _lock_owner_is_dead(lock: str) -> bool:
    """True only when the lock PROVABLY has no live owner: the lock is
    gone (adopting it then reports ``"gone"``), or the owner recorded
    the same host and its (pid, process-start-time) no longer exists —
    start-time matching makes the verdict STABLE under pid reuse (a
    recycled pid reads as a different process, so dead stays dead and
    the adoption path can never misjudge a live owner).
    A lock from another host (unless it has aged past the opt-in
    LOCK_LEASE_SECONDS), an unparseable lock (torn mid-write — the
    creator is between open and write), or a live pid all read as
    alive (conservative: a wrong 'dead' verdict re-opens the lost-
    commit window; a wrong 'alive' verdict only makes someone call
    break_table_lock). The lock is read once, through ``fsio``."""
    import json
    import socket
    import time

    text = fsio.read_text(lock)
    if text is None:
        return True
    try:
        meta = json.loads(text)
        if meta.get("host") != socket.gethostname():
            lease = LOCK_LEASE_SECONDS
            acquired = meta.get("acquired_unix")
            if (
                lease is not None
                and isinstance(acquired, (int, float))
                and time.time() - acquired > lease
            ):
                return True  # foreign lock past the opt-in lease
            return False
        pid = int(meta["pid"])
        os.kill(pid, 0)
        recorded = meta.get("pid_start")
        if recorded is not None:
            current = _proc_start_time(pid)
            if current is not None and current != recorded:
                return True  # pid reused by a different process
        return False
    except ProcessLookupError:
        return True
    except (ValueError, KeyError, OSError):
        return False  # torn content, or PermissionError: the pid exists


def _owner_payload() -> bytes:
    """Lock-owner identity: (pid, process start time, host, acquire
    stamp) — what liveness/lease verdicts read."""
    import json
    import socket
    import time

    return json.dumps(
        {
            "pid": os.getpid(),
            "pid_start": _proc_start_time(os.getpid()),
            "host": socket.gethostname(),
            "acquired_unix": time.time(),
        }
    ).encode()


def _adopt_dead_lock(lock: str) -> str:
    """Adopt a lock whose owner LOOKS dead, WITHOUT a delete-then-
    create TOCTOU: rename the stale lock to a unique name first — of N
    adopters exactly ONE owns the renamed file (the rest race back to
    their CAS/listing) and a live lock created in between is never
    deleted out from under its owner. Re-verify on the file we now own
    (pid-reuse edge: judged dead, now alive) and restore it
    non-clobberingly if the owner is alive after all. The ONE copy of
    the adoption dance — every ``_fence`` scope shares it, so the
    liveness contract cannot drift between lock classes. Returns
    ``"freed"`` (stale lock removed), ``"live"`` (owner alive after
    all, lock restored), or ``"gone"`` (someone else released/adopted
    it first)."""
    import uuid as _uuid

    stale = f"{lock}.adopt-{_uuid.uuid4().hex[:8]}"
    try:
        fsio.move(lock, stale)
    except FileNotFoundError:
        return "gone"
    if _lock_owner_is_dead(stale):
        fsio.remove(stale)
        return "freed"
    content = fsio.read_text(stale)
    if content is not None:
        # a newer writer's own lock wins the CAS; leave it alone
        fsio.create_exclusive(lock, content.encode())
    fsio.remove(stale)
    return "live"


_PLOCKS_SUFFIX = "__plocks"
_STAMP_SUFFIX = "__stamp"


def _plocks_dir(target_path: str) -> str:
    return target_path.rstrip("/") + _PLOCKS_SUFFIX


def _partition_lock_name(partition_by: list[str], vals: tuple) -> str:
    """Deterministic lock-file name for one partition tuple: every
    writer of the same partition derives the same name (repr is stable
    for the str/int/bool/date/float values partition columns carry;
    unmappable exotics still collide only with themselves)."""
    import hashlib

    canon = "/".join(
        f"{c}={v!r}" for c, v in zip(partition_by, vals)
    )
    return "p-" + hashlib.sha1(canon.encode()).hexdigest()[:20]


def _live_plocks(target_path: str) -> list[str]:
    """Partition/append locks with a LIVE owner; provably-dead owners'
    leftovers are cleaned via ``_adopt_dead_lock`` on the way (a
    crashed append leaves only invisible ``_temporary`` junk; a crashed
    partitioned merge leaves the per-partition commit exposure the
    partitioned apply already documents)."""
    d = _plocks_dir(target_path)
    live = []
    for name in fsio.listdir(d):
        p = os.path.join(d, name)
        if not _lock_owner_is_dead(p):
            live.append(p)
            continue
        if _adopt_dead_lock(p) == "live":
            live.append(p)
    return live


def _claim_lock(lock: str, payload: bytes) -> bool:
    """One create-exclusive claim of ``lock``, adopting a provably dead
    owner's leftover first; False while a live owner holds it. The
    parent dir is made only when the create finds it missing."""
    try:
        if fsio.create_exclusive(lock, payload):
            return True
    except FileNotFoundError:
        fsio.makedirs(os.path.dirname(os.path.abspath(lock)))
        return fsio.create_exclusive(lock, payload)
    if _lock_owner_is_dead(lock) and _adopt_dead_lock(lock) != "live":
        return fsio.create_exclusive(lock, payload)
    return False


# --- The commit fence -------------------------------------------------------
#
# Every table mutation runs inside ``_fence(path, scope)``. The scope
# picks the lock files taken and the other lock class that must be idle:
#
#   "table"       ``{t}__lock``; refused while a partition/append lock
#                 under ``{t}__plocks/`` is live (swaps, folds, purges,
#                 unpartitioned merges, table creation, aggregate drains)
#   "partitions"  one ``p-*`` lock per touched partition, sorted;
#                 refused while ``{t}__lock`` is live
#   "append"      one unique ``a-*`` token; refused while ``{t}__lock``
#                 is live (appends never conflict with each other)
#   "stamp"       ``{t}__stamp`` alone: the schema-manifest
#                 read-union-write, taken inside another scope
#
# Invariant: each side claims its own locks BEFORE it checks the other
# class, so a table writer and a partition/append writer may both back
# off but can never both proceed, and no one waits while holding, so
# there is no deadlock. Append tokens and partition locks do not check
# each other: a table is blind-append or merge-maintained, never both.
# A writer that is refused releases what it holds and retries with
# jittered, capped exponential backoff for at most FENCE_WAIT_SECONDS.
# Only acquisition is retried: an error raised inside the body
# propagates, because re-running a partly applied body is the double
# apply the fence exists to prevent. A writer that waited reads the
# table only after acquiring, so it applies on top of the winner.
FENCE_WAIT_SECONDS = 10.0


@contextlib.contextmanager
def _fence(
    target_path: str,
    scope: str,
    partition_by: list[str] | None = None,
    partitions: list[tuple] | None = None,
):
    """Hold ``scope``'s locks on ``target_path`` for the ``with`` body
    (see the section comment above); ConcurrentWriteError once they
    stay contended for FENCE_WAIT_SECONDS. On a lakehouse table format
    this is the transaction log's optimistic-commit CAS."""
    import random
    import time

    tlock = _lock_path(target_path)
    plocks = _plocks_dir(target_path)
    if scope == "table":
        locks = [tlock]
    elif scope == "stamp":
        locks = [target_path.rstrip("/") + _STAMP_SUFFIX]
    elif scope == "append":
        token = f"a-{os.getpid()}-{uuid.uuid4().hex[:8]}"
        locks = [os.path.join(plocks, token)]
    elif scope == "partitions":
        names = {_partition_lock_name(partition_by, tuple(v)) for v in partitions}
        locks = [os.path.join(plocks, n) for n in sorted(names)]
    else:  # pragma: no cover - internal misuse
        raise ValueError(f"unknown fence scope: {scope!r}")
    payload = _owner_payload()
    deadline = time.monotonic() + FENCE_WAIT_SECONDS
    delay = 0.05
    held: list[str] = []
    try:
        while True:
            blocker = None
            for lock in locks:
                if not _claim_lock(lock, payload):
                    blocker = lock
                    break
                held.append(lock)
            else:  # all claimed: the other lock class must be idle
                if scope == "table":
                    blocker = next(iter(_live_plocks(target_path)), None)
                elif scope != "stamp" and not _lock_owner_is_dead(tlock):
                    blocker = tlock
            if blocker is None:
                break
            while held:
                fsio.remove(held.pop())
            left = deadline - time.monotonic()
            if left <= 0:
                raise ConcurrentWriteError(
                    f"{scope} fence of table {target_path!r} is still "
                    f"blocked by {blocker} after {FENCE_WAIT_SECONDS}s; "
                    "if its owner is dead on another host, "
                    "break_table_lock() frees the fence, the stamp lock, "
                    "and provably-dead partition locks (all_locks=True "
                    "for foreign-host partition locks this host cannot "
                    "probe), or opt into the lease (LOCK_LEASE_SECONDS) "
                    "for automatic recovery"
                )
            # jitter stays under the cap: no sleep outlasts 2 s
            time.sleep(min(delay * (0.5 + 0.5 * random.random()), left))
            delay = min(delay * 2.0, 2.0)
        if scope != "stamp":
            # no live table-scope holder but us -> no commit can be
            # mid-staging, so version dirs under a pointer-less root
            # are aborted junk; clean them before the body reads
            _purge_legacy_orphans(target_path)
        yield
    finally:
        for lock in held:
            fsio.remove(lock)


def _hive_partition_value_str(v):
    """Python value -> the string Spark uses in a hive partition dir
    name (before %-escaping), or NotImplemented for types whose
    stringification we are not certain matches Spark's — the caller
    must then fall back to the full-table listing. None means the
    __HIVE_DEFAULT_PARTITION__ directory."""
    if v is None:
        return None
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (str, int)):
        return str(v)
    if isinstance(v, datetime.date) and not isinstance(v, datetime.datetime):
        return str(v)
    # datetime.datetime is deliberately refused: Spark renders timestamp
    # partition values with the fractional second's trailing zeros
    # trimmed (and tz-aware values differently again), so str(v) would
    # under-match the dir and the pruned merge would silently drop the
    # partition's other rows. Timestamp-partitioned tables take the
    # full-listing fallback.
    return NotImplemented


def _touched_partition_dirs(
    target_path: str,
    partition_by: list[str],
    touched: list[tuple],
    include_all_null: bool,
) -> list[str] | None:
    """Resolve the touched partition tuples to the EXISTING hive
    directories that could hold their stored rows, by walking the
    table's partition tree one level at a time and matching parsed
    (un-escaped) directory values — O(touched + dirs-listed), never
    O(table data).

    This is the 100 TB lever for the partitioned merge: creating a
    DataFrame over the whole table costs O(all partitions) in listing +
    footer reads (measured 9-14 s at 5,000 partitions, per micro-batch)
    while a ``basePath``-scoped read of the touched directories is
    ~constant. Matching is by Hive unescape (%XX), the inverse of the
    escaping Spark applies when writing dir names; the caller keeps its
    eqNullSafe partition filter, so over-inclusion is harmless and the
    only hazard — under-inclusion — is confined to value types we
    refuse above (returning None => caller falls back to the full
    read).

    ``include_all_null`` additionally keeps the all-levels-null
    tombstone route (__HIVE_DEFAULT_PARTITION__ at every level) that
    key-only REMOVEs live in."""
    from urllib.parse import unquote

    wanted: set[tuple] = set()
    for vals in touched:
        svals = []
        for v in vals:
            s = _hive_partition_value_str(v)
            if s is NotImplemented:
                return None
            svals.append(s)
        wanted.add(tuple(svals))

    dirs: list[str] = []
    # per-depth prefix sets: O(1) membership per dir entry instead of a
    # linear scan of the touched set (matters when a batch touches many
    # partitions of a many-partition table)
    prefixes = [
        {w[: d + 1] for w in wanted} for d in range(len(partition_by))
    ]

    def walk(cur: str, depth: int, prefix: tuple) -> None:
        col = partition_by[depth]
        for ename in fsio.listdir(cur):
            if not ename.startswith(col + "="):
                continue
            raw = ename[len(col) + 1 :]
            val = None if raw == "__HIVE_DEFAULT_PARTITION__" else unquote(raw)
            newprefix = prefix + (val,)
            keep = newprefix in prefixes[depth] or (
                include_all_null and all(x is None for x in newprefix)
            )
            if not keep:
                continue
            full = os.path.join(cur, ename)
            if depth + 1 == len(partition_by):
                dirs.append(full)
            else:
                walk(full, depth + 1, newprefix)

    walk(target_path, 0, ())
    return dirs


def _table_exists(path: str) -> bool:
    """True when ``path`` (a PHYSICAL data dir) holds at least one data
    file. A directory without data files (e.g. left by a REMOVE-only
    first batch) must read as "no table yet", not poison the scan.
    Early-exit walk, not a recursive glob: the glob materializes every
    file path — O(table files) driver work per micro-batch — while
    this returns at the FIRST data file found. Version-named child
    dirs never count: under a pointer-less root they are aborted-
    commit staging (a crashed FIRST commit must replay as table
    creation, not trip a read of the junk), and a resolved version dir
    never nests one. Hidden (``_``/``.``-prefixed) entries never count
    either, matching Spark's listing: an in-flight ``_temporary`` task
    dir or a crashed ``_staged_append_*`` holds uncommitted files, not
    a table."""
    return any(fileset.iter_data_files(path))


def _canonical_seq_sql(seq_sql: str) -> str:
    """Sequence values in max-seq arbitration form, as SQL text over
    the (quoted) expression ``seq_sql``: a 40-char zero-padded string
    (lexicographic == numeric for the non-negative integers every
    source emits; 40 digits is DynamoDB's wire max). Idempotent on
    already-padded values; normalizes longs and unpadded strings from
    tables written before this representation."""
    return f"lpad(CAST({seq_sql} AS STRING), 40, '0')"


def _canonical_seq(col: str) -> F.Column:
    """``_canonical_seq_sql`` of the column named ``col``."""
    return F.expr(_canonical_seq_sql(quote_ident(col)))


def _canonical_seq_py(seq) -> str:
    """Driver-side twin of ``_canonical_seq_sql`` for an int or string
    value: ``lpad`` zero-pads to 40 and cuts a longer value to 40."""
    return str(seq).rjust(40, "0")[:40]


_BAD_OP_MARKER = "unexpected change-event op"


def _guarded_op_sql(name: str) -> str:
    """Spark SQL text of column ``name`` with the VALID_OPS check riding
    inline (round 12): every evaluating job raises on an unknown op
    instead of a dedicated pre-flight scan paying one extra pass per
    apply. NULL ops pass, exactly as they passed the old three-valued
    ``~isin`` probe (the mode filters downstream drop them).
    ``raise_error``'s message is restored to the documented ValueError
    by ``_reraise_bad_op``. One text serves both the apply paths
    (through ``F.expr``) and the stream staging filter."""
    op = quote_ident(name)
    ops = ", ".join(quote_literal(o) for o in VALID_OPS)
    head, tail = quote_literal(_BAD_OP_MARKER + ": '"), quote_literal("'")
    return (
        f"CASE WHEN {op} IS NULL OR {op} IN ({ops}) THEN {op} "
        f"ELSE CAST(raise_error(concat({head}, {op}, {tail})) AS STRING) END"
    )


def _reraise_bad_op(exc: Exception) -> None:
    """Re-raise the op-guard's job failure as the documented
    ``ValueError`` (no-op for every other exception — caller re-raises
    the original)."""
    if isinstance(exc, ValueError):
        return
    text = str(exc)
    idx = text.find(_BAD_OP_MARKER)
    if idx < 0:
        return
    line = text[idx:].splitlines()[0].strip()
    raise ValueError(line) from exc


def append_to_table(
    df: DataFrame,
    target_path: str,
    partition_by: list[str] | None = None,
    scoped: bool = False,
) -> None:
    """Every engine blind-append routes here so the fileset-manifest
    contract cannot drift between call sites (the CDC append/history
    modes, the staging->warehouse bulk load, the bronze CSV ingest).

    Legacy-layout tables (no fileset log) append exactly as before —
    one ``mode("append")`` parquet write into the table dir. Once the
    table's current version dir carries a fileset log (every swap
    commit writes one), the append must extend it or readers would
    never see the new rows (logged dirs plan from the log): the batch
    is written to a hidden staging dir inside the version dir, its
    files are moved to their final hive locations (O(batch) single-file
    moves — copy+delete on an object store, bounded by the batch, and
    Spark's globally-unique part-file names cannot collide), and ONE
    log batch entry is published, which is the commit point. Crash
    anywhere before that publish leaves only unlogged, reader-invisible
    junk; the at-least-once replay then lands the batch under fresh
    names — exactly-once in effect, strictly stronger than the legacy
    append's torn-batch exposure. Stale ``_staged_append_*`` dirs from
    crashes are invisible (hidden prefix) and are reclaimed by
    ``maintenance.vacuum_uncommitted`` or discarded wholesale when the
    next whole-table swap supersedes the version dir.

    Concurrency: the append runs under its own ``_fence(path,
    "append")`` (a unique token — appends never conflict with each
    other, and whole-table writers exclude them via the scope cross-
    check), acquired here unless the caller already holds one
    (``scoped=True`` — the apply paths do). Without the token, a
    direct caller like the bronze ingest would race a whole-table
    sweep: ``vacuum_uncommitted`` could delete files this append just
    moved but has not yet published, and ``adopt_fileset_manifest``
    could record a mid-move walk as the manifest base — both fence
    soundness claims depend on every engine append holding a token."""
    import uuid as _uuid

    if not scoped:
        with _fence(target_path, "append"):
            append_to_table(df, target_path, partition_by, scoped=True)
        return
    data_dir = table_data_dir(target_path)
    if not fileset.has_log(data_dir):
        writer = df.write.mode("append")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(data_dir)
        return
    staged = os.path.join(
        data_dir, f"_staged_append_{os.getpid()}_{_uuid.uuid4().hex[:8]}"
    )
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(staged)
    rels = fileset.walk_data_files(staged)
    for rel in rels:
        dst = os.path.join(data_dir, rel)
        fsio.makedirs(os.path.dirname(dst))
        fsio.move(os.path.join(staged, rel), dst)
    fileset.append_batch(data_dir, rels)
    fsio.remove_tree(staged)


def _partition_scoped_read(
    spark: SparkSession, data_dir: str, dirs: list[str]
) -> DataFrame | None:
    """Stored rows under ``dirs`` (hive partition dirs of ``data_dir``)
    honoring the fileset manifest when the dir carries one: the
    manifest's files under those dirs are read EXPLICITLY, so a crashed
    append's unlogged junk inside a touched partition can never be read
    back — and thereby re-committed as live rows — by a
    partition-scoped rewrite (the merge, the partitioned vacuum, the
    fragmented-partition compaction). Manifest-less tables keep the
    plain dir-scoped read. Returns None when the manifest proves the
    touched dirs hold no committed files.

    The table's schema manifest is imposed when it carries one
    (``_table_reader``, as ``_read_table`` does): no footer-merge job
    per rewrite, and partition columns keep their written types."""
    reader = _table_reader(spark, data_dir).option("basePath", data_dir)
    logged = fileset.read_fileset(data_dir)
    if logged is None:
        return reader.parquet(*dirs)
    prefixes = tuple(
        os.path.relpath(d, data_dir) + os.sep for d in dirs
    )
    files = [
        os.path.join(data_dir, rel)
        for rel in logged
        if rel.startswith(prefixes)
    ]
    if not files:
        return None
    return reader.parquet(*files)


def latest_per_key(df: DataFrame, key: str, seq_col: str = "seq") -> DataFrame:
    """K2/R8 core: max-seq row per key (deterministic latest-wins)."""
    rn = (
        f"row_number() OVER (PARTITION BY {quote_ident(key)} "
        f"ORDER BY {quote_ident(seq_col)} DESC) AS _rn"
    )
    return df.selectExpr("*", rn).filter("_rn = 1").drop("_rn")


def _swap_into(
    spark: SparkSession,
    df: DataFrame,
    target_path: str,
    partition_by: list[str] | None = None,
    extra_files: dict[str, str] | None = None,
) -> None:
    """Materialize df, then commit it as the table's next VERSION (the
    pointer protocol above; parquet has no MERGE, so this is the
    plain-parquet reduction of a lakehouse transaction-log commit):
    write the fileset, sidecar markers included, into a fresh version
    dir, flip the pointer (``_flip_pointer``), GC superseded versions.
    A crash before the flip leaves an orphan the next commit's GC
    removes while the table serves its previous version, and the
    replayed batch re-merges convergently; a crash after it only
    defers the GC. The first swap of a legacy (root-layout) table
    upgrades it: the legacy files become superseded state."""
    src = table_data_dir(target_path)
    ver = _next_version_name(target_path)
    tmp = os.path.join(target_path, ver)
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(tmp)
    # sidecar markers land in the version dir BEFORE the flip, so a
    # crash cannot separate data from marker, and markers on the table
    # survive any swap (a compaction must not erase the horizon)
    carried = dict(extra_files or {})
    for fname in _SIDECAR_MARKERS:
        if fname not in carried:
            content = fsio.read_text(os.path.join(src, fname))
            if content is not None:
                carried[fname] = content
    # the swap replaces the WHOLE table with df, so the schema manifest
    # is re-stamped fresh from the written frame
    carried[SCHEMA_MANIFEST] = _nullable_schema(df.schema).json()
    for fname, content in carried.items():
        fsio.atomic_write_text(os.path.join(tmp, fname), content)
    # the fileset manifest (operators/fileset.py) records the version's
    # file list in the commit: cold reads plan from it instead of
    # LISTing, and later blind appends extend it batch by batch
    fileset.write_base(tmp)
    if os.path.abspath(src) == os.path.abspath(target_path):
        # legacy->pointer UPGRADE: retire the root's _spark_metadata
        # BEFORE the flip. After it the log would describe a superseded
        # fileset at the path raw file streams watch, and Spark's file
        # source would plan that stale list forever. A crash here leaves
        # a manifest-less legacy table; the replayed swap finishes.
        fileset.invalidate(src)
    _flip_pointer(target_path, ver, src)
    _gc_superseded(target_path, ver)


def _flip_pointer(root: str, ver: str, prior: str) -> None:
    """The commit point of every whole-table commit: atomically replace
    ``_current`` with the fully written version ``ver``, then rewrite
    the commit log (``VERSIONS_LOG``; read-modify-write is safe under
    the table fence every caller holds). A crash between the two loses
    only ``ver``'s log line, which the pointer itself proves. The log
    keeps only versions whose fileset the GC has not collected — the
    readable history ``VERSION AS OF`` needs, not one line per commit
    forever — and takes ``prior`` (the data dir the pointer named
    before) back in, in case an earlier crash lost its line."""
    fsio.atomic_write_text(os.path.join(root, CURRENT_POINTER), ver)
    log_path = os.path.join(root, VERSIONS_LOG)
    raw = fsio.read_text(log_path) or ""
    lines = [ln.strip() for ln in raw.splitlines() if ln.strip()]
    if prior != root and os.path.basename(prior) not in lines:
        lines.append(os.path.basename(prior))
    keep = [
        ln for ln in lines if ln != ver and fsio.isdir(os.path.join(root, ln))
    ]
    fsio.atomic_write_text(log_path, "".join(ln + "\n" for ln in keep + [ver]))


def _named_struct_sql(fields: list[tuple[str, str]]) -> str:
    """``named_struct`` SQL text of (field name, value SQL) pairs."""
    return "named_struct({})".format(
        ", ".join(f"{quote_literal(n)}, {v}" for n, v in fields)
    )


def _lift_stored(existing: DataFrame, key: str) -> DataFrame:
    """Stored warehouse rows back into envelope form for the merge.

    Live rows lift as MODIFY images; tombstone rows (propagate_deletes
    tables) lift as REMOVE so the stored delete keeps arbitrating by
    seq against late-arriving older upserts. Tables written before the
    tombstone representation have no marker column — every row lifts
    live."""
    meta = {SEQ_COL, DELETED_COL}
    after = [(c, quote_ident(c)) for c in existing.columns if c not in meta]
    op = "'MODIFY'"
    if DELETED_COL in existing.columns:
        op = (
            f"CASE WHEN coalesce({quote_ident(DELETED_COL)}, FALSE) "
            "THEN 'REMOVE' ELSE 'MODIFY' END"
        )
    return existing.selectExpr(
        f"CAST({quote_ident(key)} AS STRING) AS key",
        f"{op} AS op",
        f"{_named_struct_sql(after)} AS after",
        f"{_canonical_seq_sql(quote_ident(SEQ_COL))} AS seq",
    )


def _stored_form(
    merged: DataFrame, key: str, propagate_deletes: bool
) -> DataFrame:
    """Merged envelope winners -> stored row form.

    Without delete propagation, REMOVE winners simply drop. With it,
    they persist as tombstones: the key field is materialized into the
    after-image (a key-only REMOVE has a null image) so future merges
    can arbitrate, and the row carries DELETED_COL = true."""
    seq = f"seq AS {quote_ident(SEQ_COL)}"
    if not propagate_deletes:
        return merged.filter("op <> 'REMOVE'").selectExpr("after.*", seq)
    fields = []
    for f in merged.schema["after"].dataType.fields:
        v = f"after.{quote_ident(f.name)}"
        if f.name == key:
            v = f"coalesce({v}, CAST(key AS {sql_type(f.dataType)}))"
        fields.append((f.name, v))
    deleted = quote_ident(DELETED_COL)
    return merged.selectExpr(
        f"{_named_struct_sql(fields)} AS after",
        seq,
        f"op = 'REMOVE' AS {deleted}",
    ).selectExpr("after.*", quote_ident(SEQ_COL), deleted)


def _struct_names(t) -> frozenset:
    """The field names of a type at every struct depth (order aside:
    ``unionByName`` matches struct fields by name)."""
    if not isinstance(t, T.StructType):
        return frozenset()
    return frozenset((f.name, _struct_names(f.dataType)) for f in t.fields)


def _widened(stored, incoming):
    """``stored`` with the struct fields only ``incoming`` has appended,
    at every depth; on overlap the stored type wins."""
    if not (isinstance(stored, T.StructType) and isinstance(incoming, T.StructType)):
        return stored
    inc = {f.name: f.dataType for f in incoming.fields}
    out = T.StructType()
    for f in stored.fields:
        out.add(f.name, _widened(f.dataType, inc.pop(f.name, f.dataType)))
    for name, t in inc.items():
        out.add(name, t)
    return out


def _conform_sql(expr: str, have, want) -> str:
    """SQL text of ``expr`` (typed ``have``) as type ``want``: structs
    are rebuilt field by field (a missing field reads as a typed NULL, a
    NULL struct stays NULL), any other type is CAST."""
    if not (isinstance(have, T.StructType) and isinstance(want, T.StructType)):
        return f"CAST({expr} AS {sql_type(want)})"
    got = {f.name: f.dataType for f in have.fields}
    fields = [
        (
            f.name,
            _conform_sql(f"{expr}.{quote_ident(f.name)}", got[f.name], f.dataType)
            if f.name in got
            else f"CAST(NULL AS {sql_type(f.dataType)})",
        )
        for f in want.fields
    ]
    return f"IF({expr} IS NULL, NULL, {_named_struct_sql(fields)})"


def _merge_latest(incoming: DataFrame, lifted: DataFrame) -> DataFrame:
    """Max-seq merge of an incoming envelope batch with lifted stored
    rows, with schema evolution.

    Schema evolution (K6 parity: the reference's all-varchar DDL
    absorbs drift; typed tables must evolve instead): when the two
    after-image structs differ in their field names at any depth, both
    are aligned on the union of their fields — stored field order and
    type first, new envelope fields appended — with typed nulls for
    whichever side lacks a field. Old rows read NULL in new columns; an
    upsert whose image drops a column nulls it for that key.
    """
    inc_t = incoming.schema["after"].dataType
    sto_t = lifted.schema["after"].dataType
    if _struct_names(inc_t) != _struct_names(sto_t):
        want = _widened(sto_t, inc_t)
        incoming, lifted = (
            df.selectExpr(
                "key", "op", f"{_conform_sql('after', t, want)} AS after", "seq"
            )
            for df, t in ((incoming, inc_t), (lifted, sto_t))
        )
    return latest_per_key(incoming.unionByName(lifted), "key", "seq")


def _merge_plan(
    changes: DataFrame,
    stored: DataFrame | None,
    key: str,
    propagate_deletes: bool,
) -> DataFrame:
    """The upsert merge, shared by ``apply_changes`` and
    ``apply_changes_bucketed``: an envelope batch merged latest-wins
    with the ``stored`` rows it can touch (None: nothing stored), in
    stored row form. REMOVEs take part only when they propagate.

    Every projection is Spark SQL text the JVM parses once: built
    column by column through the Python Column API, each ``F.col`` /
    ``alias`` / ``cast`` was its own Py4J round trip, about 47 per
    after-image column per apply."""
    incoming = changes if propagate_deletes else changes.filter("op <> 'REMOVE'")
    # Canonical arbitration representation: seq as a 40-char zero-padded
    # string (lexicographic order == numeric order for non-negative
    # sequence numbers up to DynamoDB's 40-digit wire max). Incoming
    # envelope seqs may be longs (snapshot/JDBC path) or already-padded
    # strings (stream path); STORED _seq from tables written before the
    # padded representation may be unpadded — both get normalized here
    # and again at lift time, so mixed-era tables arbitrate correctly
    # instead of lexicographically comparing '5' against '00…19'.
    #
    # ONE max-seq window per merge (round 12, guide §2.4): the batch
    # used to be pre-deduped by its own latest_per_key window and then
    # merged through _merge_latest's second window — two Exchanges on
    # the same key, with the batch's rows crossing the wire twice (raw,
    # then deduped). Feeding the raw batch straight into the merge
    # window shuffles every row exactly once and drops a whole
    # Exchange+Sort stage. Identical output: the single window's
    # max-seq winner per key is the same row the two-stage form picked
    # (row_number over the union of ALL batch rows + the stored row ==
    # row_number over (deduped batch + stored row) — same ordering,
    # same arbitrary-among-equal-seq tie class as before).
    incoming = incoming.selectExpr(
        "key", "op", "after", f"{_canonical_seq_sql('seq')} AS seq"
    )
    if stored is None:
        # nothing stored to merge against: the single max-seq window
        # runs over the batch alone
        merged = latest_per_key(incoming, "key", "seq")
    else:
        merged = _merge_latest(incoming, _lift_stored(stored, key))
    return _stored_form(merged, key, propagate_deletes)


def apply_changes(
    spark: SparkSession,
    changes: DataFrame,
    target_path: str,
    key: str,
    mode: str = "append",
    propagate_deletes: bool = False,
    partition_by: list[str] | None = None,
) -> None:
    """Apply one (micro-)batch of envelope rows to the warehouse table.

    ``changes`` is envelope-shaped: op/key/after/ts_ms/seq (F3). Safe to
    call from ``foreachBatch`` — replays converge (see module doc).

    ``partition_by`` (columns of the after-image) activates the 100 TB
    layout: the table is laid out as hive partitions, appends route to
    their partition, and the upsert merge reads and rewrites ONLY the
    partitions the batch touches (partition-pruned scan + dynamic
    partition overwrite) instead of swapping the whole table. Constraint,
    as in every partitioned-MERGE system: a key's partition values must
    be immutable across its change events.

    Concurrency: the mutation runs under ``_fence`` at the NARROWEST
    sound scope: blind appends take a unique token (two appends never
    conflict), a partitioned merge locks only its touched partitions
    (disjoint merges commit concurrently, overlapping ones wait for
    the contended partition, up to ``FENCE_WAIT_SECONDS``, then raise
    ``ConcurrentWriteError``), and whole-table shapes (unpartitioned
    merge, table creation, the null-partition-REMOVE fallback) take the
    exclusive table scope.
    """
    # Op validation rides INSIDE the batch's own jobs (round 12, guide
    # §1.2: don't pay a separate pass): the old eager
    # ``filter(~isin).limit(1).collect()`` probe cost one full extra
    # scan of every envelope batch per apply — at 100 TB a whole extra
    # pass per micro-batch. The guard column raises from whichever job
    # first evaluates the batch; ``_reraise_bad_op`` restores the
    # documented ValueError. A NULL op passes the guard exactly as it
    # passed the old probe (three-valued ~isin dropped it) and is then
    # dropped by the mode filters downstream, as before. Crash shape on
    # a bad op: the staged write dies BEFORE any commit point (staged
    # dirs/orphan versions are reader-invisible junk the next commit or
    # vacuum reclaims), so no committed state can carry poison rows.
    changes = changes.withColumn("op", F.expr(_guarded_op_sql("op")))
    try:
        kind, parts, probed = _scope_for(
            changes, target_path, mode, propagate_deletes, partition_by
        )
        with _fence(target_path, kind, partition_by, parts):
            _apply_changes_locked(
                spark, changes, target_path, key, mode, propagate_deletes,
                partition_by, scope_touched=probed,
            )
    except Exception as exc:
        _reraise_bad_op(exc)
        raise


def _scope_for(
    changes: DataFrame,
    target_path: str,
    mode: str,
    propagate_deletes: bool,
    partition_by: list[str] | None,
) -> tuple[str, list[tuple] | None, object]:
    """The narrowest sound concurrency scope for one apply. The
    partition probe collects the batch's DISTINCT partition tuples — a
    deterministic SUPERSET of the touched set the locked merge derives
    (over-locking is safe; under-locking never happens: the merge's
    rows all come from this batch). Falls back to table scope exactly
    where the locked merge falls back to an unpruned shape: table
    creation, and a delete-propagating batch carrying null partition
    values. ``propagate_deletes`` merges additionally read/rewrite the
    all-null tombstone route, so that tuple is locked too.

    Third element: the probe's verdict handed down to the locked merge
    so the batch is scanned ONCE per apply, not once for locks and
    again for read pruning — ``None`` (probe did not run: the merge
    derives its own set where it needs one), ``"unpruned"`` (the
    null-partition-REMOVE fallback: the merge must not prune), or the
    collected tuple list (a superset of the post-dedup touched set;
    pruning with a superset reads/rewrites at most the extra
    partitions of rows superseded WITHIN the batch — a strictly rarer
    cost than a second full batch scan per micro-batch)."""
    if mode in ("append", "history"):
        # table CREATION commits the birth manifest, which needs the
        # whole-table fence (a concurrent appender that raced the base
        # walk could land files the walk missed AND skip logging them —
        # invisible rows); steady-state appends keep the lock-free token
        if not _table_exists(table_data_dir(target_path)):
            return "table", None, None
        return "append", None, None
    if (
        mode == "upsert"
        and partition_by
        and _table_exists(table_data_dir(target_path))
    ):
        vals = _batch_partition_tuples(changes, partition_by, propagate_deletes)
        if vals is None:
            return "table", None, "unpruned"
        locked = (
            vals + [tuple([None] * len(partition_by))]
            if propagate_deletes
            else vals
        )
        return "partitions", locked, vals
    return "table", None, None


def _collected_literal(value) -> str:
    """SQL literal of a value ``collect()`` returned. A timestamp is
    rendered from the epoch micros PySpark converted it from (as
    ``F.lit`` does), not re-read in the session time zone."""
    if isinstance(value, datetime.datetime):
        return f"timestamp_micros({T.TimestampType().toInternal(value)})"
    return quote_literal(value)


def _batch_partition_tuples(
    changes: DataFrame, partition_by: list[str], propagate_deletes: bool
) -> list[tuple] | None:
    """The batch's distinct after-image partition tuples, or None when
    a delete-propagating batch carries a null partition value: a REMOVE
    whose after-image lacks partition values (key-only after, DynamoDB
    REMOVE with no NewImage) cannot be routed to its stored partition,
    so that batch must merge unpruned."""
    vals = [
        tuple(r)
        for r in changes.selectExpr(
            *[f"after.{quote_ident(c)}" for c in partition_by]
        ).distinct().collect()
    ]
    if propagate_deletes and any(v is None for t in vals for v in t):
        return None
    return vals


def _adopt_at_creation(data_dir: str, created: bool) -> None:
    """Manifest from birth (round 11): when an append/history apply
    CREATED the table this apply ran under the whole-table fence
    (``_scope_for``), which is exactly ``adopt_fileset_manifest``'s
    soundness condition — no other append can be mid-move — so the
    just-written fileset is recorded as the manifest base immediately.
    Every later engine append extends the log (``append_to_table``),
    batch readers plan O(log) from the first cold read, and the
    streaming source (``streaming/manifest_source``) gets commit-exact
    visibility from the feed's first trigger instead of only after its
    first compaction. ``apply_changes`` tables are engine-owned by
    definition (their seq arbitration already forbids raw external
    appends), so adoption's writes-must-route-through-the-engine
    contract adds no new constraint. No-op on the steady-state append
    path (``created`` False) and on an effectively empty creation
    (zero data files: an all-REMOVE first append-mode batch must keep
    reading as "no table yet", not as an empty committed fileset)."""
    if not created or fileset.has_log(data_dir):
        return
    rels = fileset.walk_data_files(data_dir)
    if rels:
        fileset.write_base(data_dir, rels)


def _apply_changes_locked(
    spark: SparkSession,
    changes: DataFrame,
    target_path: str,
    key: str,
    mode: str,
    propagate_deletes: bool,
    partition_by: list[str] | None,
    scope_touched: object = None,
) -> None:
    # physical location of the current fileset: the pointer-named
    # version dir after the table's first swap, the root before it.
    # Blind appends and partition overwrites land THERE; the whole-
    # table swap below commits a NEW version against the root.
    data_dir = table_data_dir(target_path)

    if mode == "append":
        # Reference behavior: INSERT+MODIFY append their after-image, one
        # row per event; REMOVE never reaches the warehouse (README.md:30).
        rows = changes.filter(F.col("op").isin("INSERT", "MODIFY")).select("after.*")
        created = not _table_exists(data_dir)
        _prestamp_schema_union(spark, target_path, rows.schema)
        append_to_table(rows, target_path, partition_by, scoped=True)
        _stamp_schema_union(spark, target_path, rows.schema)
        _adopt_at_creation(data_dir, created)
        return

    if mode == "history":
        # Merge-on-read layout: EVERY version row is retained — the
        # write path is a blind partition-routed append (O(batch), no
        # stored-table read, no merge shuffle: the write-optimized dual
        # of the upsert path's copy-on-write merge), and latest-wins
        # arbitration moves to read time (``read_warehouse``), which is
        # also what makes time travel (``as_of_seq``) possible: the
        # history IS the table. REMOVEs append as seq-bearing tombstone
        # versions; the stored ``_key`` column makes the table
        # self-describing for the reader's per-key window. Standard MOR
        # trade (Hudi MOR / Paimon changelog): read amplification grows
        # with versions per key until a compaction folds the history.
        rows = changes.select(
            "after.*",
            F.col("key").cast("string").alias(KEY_COL),
            _canonical_seq("seq").alias(SEQ_COL),
            (F.col("op") == "REMOVE").alias(DELETED_COL),
        )
        created = not _table_exists(data_dir)
        _prestamp_schema_union(spark, target_path, rows.schema)
        append_to_table(rows, target_path, partition_by, scoped=True)
        _stamp_schema_union(spark, target_path, rows.schema)
        _adopt_at_creation(data_dir, created)
        return

    if mode != "upsert":
        raise ValueError(f"unknown apply mode: {mode!r}")

    exists = _table_exists(data_dir)

    touched: list[tuple] | None = None
    if partition_by and exists:
        if scope_touched == "unpruned":
            # the scope probe already saw a REMOVE with null partition
            # values — a pruned read would miss the stored row and
            # silently lose the delete. Unpruned merge for this batch.
            touched = None
        elif isinstance(scope_touched, list):
            # the scope probe's tuple set, reused so the batch is
            # scanned once per apply — a SUPERSET of the post-dedup set
            # (see _scope_for), so the pruned read covers every row the
            # merge needs
            touched = scope_touched
        else:
            # no scope probe (the table appeared after _scope_for looked):
            # probe here as _scope_for does — the batch is micro, so the
            # distinct is O(partitions touched); None falls back to an
            # unpruned merge for this batch
            touched = _batch_partition_tuples(
                changes, partition_by, propagate_deletes
            )

    prior: list[tuple] | None = None
    existing: DataFrame | None = None
    if exists:
        # listing-pruned read: resolve the touched tuples to their hive
        # directories and scope the scan to them via basePath, so
        # DataFrame creation (listing, plus the footer merge on
        # manifest-less tables) is O(touched), not O(all partitions) —
        # the difference between flat and linearly-
        # degrading wall-per-batch as the table grows (see COVERAGE.md
        # CDC probe). Three-way outcome: a dir list => pruned read;
        # [] => every touched partition is new, nothing stored to merge
        # against; None (unpruned merge, or value types that can't map
        # to dir names) => full-table listing.
        dirs: list[str] | None = None
        if touched is not None:
            dirs = _touched_partition_dirs(
                data_dir,
                partition_by,
                touched,
                include_all_null=propagate_deletes,
            )
        if dirs:
            existing = _partition_scoped_read(spark, data_dir, dirs)
        elif dirs is None:
            # after an evolving batch rewrote only its touched
            # partitions, untouched partitions still carry the older
            # column set — the manifest (or the footer-union fallback)
            # restores the union for the merge read
            existing = _read_table(spark, target_path)
        if partition_by and touched is None and propagate_deletes:
            # unpruned-merge fallback: remember every stored partition so
            # ones the merge empties can still be dropped after the write
            prior = [
                tuple(r)
                for r in existing.selectExpr(
                    *[quote_ident(c) for c in partition_by]
                ).distinct().collect()
            ]
        if touched is not None and existing is not None:
            # partition-pruned read: only files of touched partitions.
            # eqNullSafe so an upsert whose partition value is NULL
            # matches the stored __HIVE_DEFAULT_PARTITION__ rows — a
            # plain == would evaluate to NULL, silently exclude the
            # key's stored row from the merge, and duplicate the key.
            cols = [quote_ident(c) for c in partition_by]
            terms = [
                " AND ".join(
                    f"{c} <=> {_collected_literal(v)}" for c, v in zip(cols, vals)
                )
                for vals in touched
            ]
            if propagate_deletes:
                # tombstones of key-only REMOVEs carry null partition
                # values and live in the __HIVE_DEFAULT_PARTITION__
                # directories — every pruned merge must read them or a
                # late older upsert would resurrect a deleted key
                terms.append(" AND ".join(f"{c} IS NULL" for c in cols))
            existing = existing.filter(
                " OR ".join(f"({t})" for t in terms) or "FALSE"
            )
    result = _merge_plan(changes, existing, key, propagate_deletes)

    if partition_by and exists:
        # Candidates for emptied-partition cleanup: the touched set, or
        # every prior partition when the batch fell back to an unpruned
        # merge (REMOVE without partition values). Only delete-
        # propagating merges can empty a partition.
        candidates = (
            (touched if touched is not None else prior)
            if propagate_deletes
            else None
        )
        # dynamic overwrite replaces only matched partitions: untouched
        # ones keep their (possibly narrower) column set, so the manifest
        # records the UNION — old partitions read NULL in evolved columns
        _prestamp_schema_union(spark, target_path, result.schema)
        overwrite_partitions_dropping_emptied(
            spark, result, target_path, partition_by, candidates
        )
        _stamp_schema_union(spark, target_path, result.schema)
        return
    if partition_by:
        fileset.invalidate(data_dir)  # whole-dir overwrite below
        result.write.mode("overwrite").partitionBy(*partition_by).parquet(data_dir)
        _write_table_schema(target_path, result.schema)
        return
    # cache-free swap: the merged plan reads the old files, the swap
    # happens only after the new files are fully written
    _swap_into(spark, result, target_path)


def overwrite_partitions_dropping_emptied(
    spark: SparkSession,
    df: DataFrame,
    target_path: str,
    partition_by: list[str],
    candidates: list[tuple] | None,
) -> None:
    """Dynamic-partition-overwrite ``df`` into ``target_path``, then
    remove any ``candidates`` partition the write emptied entirely —
    dynamic overwrite never writes an empty partition, so a partition
    whose every row disappeared would otherwise keep its stale files
    and read its dropped rows back as live. The one in-place partition
    rewrite commit: the partitioned merge (``apply_changes``), the
    partitioned vacuum and purge (``maintenance._delete_where``) and
    partitioned compaction (``candidates`` None: it empties nothing)
    all commit through it, so the manifest-invalidate / surviving-set /
    stale-dir semantics cannot drift. It records no schema manifest:
    only the merge can add columns, and it stamps around this call.

    The surviving-partition set rides an ``Observation`` on the write's
    own job, so ``df`` (a whole merge plan) executes exactly once. It
    is observed as Spark's own dir-name rendering of each value
    (``cast(... as string)``, as the partitioned writer does), and both
    it and the candidates are resolved to their EXISTING dirs through
    the escape-aware walk after the write; candidate value types the
    dir mapper refuses fall back to the raw path. Comparing dirs, not
    typed values, holds whatever partition types the read imposed.

    Commit semantics are dynamic overwrite's own: matched partitions
    are replaced per-partition at job commit, not as one atomic
    table-level swap — the standard exposure of every dynamic-partition
    MERGE on plain parquet (a lakehouse table format makes it
    transactional)."""
    from pyspark.sql import Observation

    data_dir = table_data_dir(target_path)
    obs = Observation()
    if candidates:
        dir_values = ", ".join(
            f"CAST({quote_ident(c)} AS STRING)" for c in partition_by
        )
        df = df.observe(
            obs, F.expr(f"collect_set(struct({dir_values})) AS written")
        )
    # dynamic overwrite rewrites matched partitions in place without
    # knowing its file delta: drop the fileset manifest FIRST (readers
    # fall back to the LIST — correct under every crash window; a stale
    # manifest would hide the rewrite's files and resurrect replaced
    # ones). The next whole-table swap records a fresh base.
    fileset.invalidate(data_dir)
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .parquet(data_dir)
    )
    if not candidates:
        return
    # null and '' both land in __HIVE_DEFAULT_PARTITION__
    written = [tuple(v or None for v in r) for r in obs.get["written"]]
    kept = set(_touched_partition_dirs(data_dir, partition_by, written, False))
    subs = _touched_partition_dirs(data_dir, partition_by, candidates, False)
    if subs is None:
        subs = [
            os.path.join(
                data_dir,
                *[f"{c}={v}" for c, v in zip(partition_by, vals)],
            )
            for vals in candidates
        ]
    for sub in subs:
        if sub not in kept and os.path.exists(sub):
            shutil.rmtree(sub)


def apply_changes_bucketed(
    spark: SparkSession,
    changes: DataFrame,
    table_name: str,
    key: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    propagate_deletes: bool = False,
) -> None:
    """Upsert one envelope batch into a BUCKETED warehouse table.

    Same latest-wins / replay-convergent semantics as ``apply_changes``
    (mode="upsert"), but the warehouse table is persisted hash-bucketed
    on ``bucket_cols`` — the 100 TB serving layout: repeated fact-fact
    joins against the maintained table on the bucket key plan with ZERO
    Exchange on its side (each task reads matching bucket files), the
    property ``maintenance.write_bucketed`` proves standalone. Within-
    bucket sort on the bucket columns keeps scans merge-friendly, and
    because every batch rewrites the table through one bucketed write,
    files-per-bucket stays 1 — the small-file compaction the append
    path needs (``maintenance.compact_parquet``) never arises here.

    Each batch is one fenced pointer commit (``_commit_bucketed``):
    readers see the old version or the new one, concurrent applies
    serialize, and a session without the catalog entry (a restart, a
    ``DROP TABLE``) resumes from the committed state. ``bucket_cols``
    must be after-image columns; a ``bucket_cols``/``n_buckets`` other
    than the registered table's raises ValueError."""
    # inline op guard — same rationale and mechanics as apply_changes
    changes = changes.withColumn("op", F.expr(_guarded_op_sql("op")))
    try:
        _commit_bucketed(
            spark, table_name, bucket_cols, n_buckets,
            lambda current: _merge_plan(changes, current, key, propagate_deletes),
        )
    except Exception as exc:
        _reraise_bad_op(exc)
        raise


def _local_path(uri: str) -> str:
    """A catalog location URI (``file:/a%20b``) as a local path."""
    from urllib.parse import unquote, urlparse

    p = urlparse(uri)
    return os.path.normpath(unquote(p.path) if p.scheme == "file" else uri)


def _bucketed_root(spark: SparkSession, table_name: str) -> str:
    """A bucketed table's pointer-layout root: its default catalog
    path, ``<spark.sql.warehouse.dir>/<table>``, known with or without
    a catalog entry."""
    jss = spark._jsparkSession
    ident = jss.sessionState().sqlParser().parseTableIdentifier(table_name)
    return _local_path(jss.sessionState().catalog().defaultTablePath(ident).toString())


def _commit_bucketed(
    spark: SparkSession,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int,
    next_state,
) -> None:
    """The one commit of a bucketed table (``apply_changes_bucketed``,
    ``maintenance.vacuum_tombstones_table``): a pointer-layout root at
    the table's default catalog path, committed under its table fence.
    Serve the committed state, compute ``next_state(current)`` (None:
    nothing to commit), write it as a bucketed external table into a
    fresh version dir through the scratch registration ``{t}__next``
    (dropped right after, keeping its files), flip ``_current``,
    re-point the catalog entry, GC superseded versions. A crash before
    the flip leaves the old version served and an orphan the GC
    collects; after it, a stale catalog entry the next commit
    re-points. A replayed batch converges either way."""
    root = _bucketed_root(spark, table_name)
    spec = (bucket_cols, n_buckets)
    with _fence(root, "table"):
        current = _serve_bucketed(spark, table_name, root, spec)
        df = next_state(current)
        if df is None:
            return
        prior, ver = table_data_dir(root), _next_version_name(root)
        vdir = os.path.join(root, ver)
        df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols).sortBy(
            *bucket_cols
        ).option("path", vdir).saveAsTable(f"{table_name}__next", format="parquet")
        spark.sql(f"DROP TABLE {table_name}__next")
        _flip_pointer(root, ver, prior)
        have = None if current is None else current.schema
        _point_catalog(spark, table_name, vdir, df.schema, have, spec)
        _gc_superseded(root, ver)


def _serve_bucketed(spark, table_name, root, spec) -> DataFrame | None:
    """Point this session's catalog entry at the committed state under
    ``root`` and return that state (None: no table yet). ``_current``
    is the durable truth and the entry only a per-session view of it:
    a missing entry (a restart, a ``DROP TABLE``) is created, a stale
    one (another session committed) re-pointed. A pointer-less root is
    a managed table written before the pointer layout, served from its
    files; a still-registered MANAGED entry is detached from them first
    (re-pointed at an empty path, then dropped), so no later ``DROP
    TABLE`` deletes committed versions."""
    from pyspark.sql.types import StructType

    data, have = table_data_dir(root), None
    if spark.catalog.tableExists(table_name):
        info = {
            r[0]: r[1]
            for r in spark.sql(f"DESCRIBE TABLE EXTENDED {table_name}").collect()
        }
        cols = info.get("Bucket Columns", "[]").strip("[]").split(",")
        got = ([c.strip(" `") for c in cols if c.strip()], int(info.get("Num Buckets", -1)))
        if ([c.lower() for c in got[0]], got[1]) != ([c.lower() for c in spec[0]], spec[1]):
            raise ValueError(
                f"{table_name} is bucketed by {got[0]} into {got[1]} "
                f"buckets, not by {spec[0]} into {spec[1]}"
            )
        if info["Type"] == "MANAGED":
            detach = quote_literal(os.path.join(root, "_detached"))
            spark.sql(f"ALTER TABLE {table_name} SET LOCATION {detach}")
            spark.sql(f"DROP TABLE {table_name}")
        elif _local_path(info["Location"]) == data:
            return spark.table(table_name)
        else:
            have = spark.table(table_name).schema
    exists = _table_exists(data)
    if have is None and not exists:
        return None
    schema = spark.read.parquet(data).schema if exists else StructType()
    _point_catalog(spark, table_name, data, schema, have, spec)
    return spark.table(table_name)


def _point_catalog(spark, table_name, location, schema, have, spec) -> None:
    """Register ``table_name`` as an external bucketed table over
    ``location`` (``have`` None), or re-point the entry whose schema is
    ``have`` there, adding the columns ``schema`` evolved. A struct
    column that gained fields cannot be altered in place on this
    catalog, so the entry is then registered afresh (an external
    table's DROP keeps its files)."""
    from pyspark.sql.types import StructType

    old = {f.name.lower(): f.dataType for f in have or ()}
    if any(
        _struct_names(f.dataType) != _struct_names(old[f.name.lower()])
        for f in schema.fields
        if f.name.lower() in old
    ):
        spark.sql(f"DROP TABLE {table_name}")
        old = {}
    added = [f for f in schema.fields if f.name.lower() not in old]
    ddl = ""
    if added:
        js = _nullable_schema(StructType(added)).json()
        ddl = spark._jvm.org.apache.spark.sql.types.DataType.fromJson(js).toDDL()
    where = quote_literal(location)
    if not old:
        # Spark refuses a bucket spec without an explicit column list
        cols = ", ".join(quote_ident(c) for c in spec[0])
        spark.sql(
            f"CREATE TABLE {table_name} ({ddl}) USING parquet CLUSTERED BY "
            f"({cols}) SORTED BY ({cols}) INTO {spec[1]} BUCKETS LOCATION {where}"
        )
        return
    if added:
        spark.sql(f"ALTER TABLE {table_name} ADD COLUMNS ({ddl})")
    spark.sql(f"ALTER TABLE {table_name} SET LOCATION {where}")


def _reader_view(df: DataFrame, with_seq: bool) -> DataFrame:
    """Hide storage metadata from readers: tombstone rows filtered,
    marker column dropped, seq dropped unless requested."""
    if DELETED_COL in df.columns:
        df = df.filter(~F.coalesce(F.col(DELETED_COL), F.lit(False))).drop(
            DELETED_COL
        )
    return df if with_seq else df.drop(SEQ_COL)


def read_warehouse(
    spark: SparkSession,
    target_path: str,
    with_seq: bool = False,
    as_of_seq: int | str | None = None,
    predicates: list[tuple] | None = None,
):
    """Reader view of a warehouse table; ``as_of_seq`` time-travels.

    ``predicates`` (the ``layout.prune_files`` tuple grammar) routes
    the read through the stats sidecar when the table maintains one:
    files whose min/max ranges, blooms, or hive partition dirs prove
    the predicate false are never opened, and the predicate is
    re-applied row-wise so the result ALWAYS equals the unpruned read
    + filter. On latest-wins tables every predicate prunes files (one
    stored row per key, so dropping non-matching files cannot change
    which row is a key's latest). On HISTORY tables file-level pruning
    would be unsound for data predicates — a file holding a key's
    LATEST version can be pruned while an older version survives
    elsewhere and would masquerade as current — so there the predicate
    is applied AFTER latest-wins reconstruction (row-filter only) and
    the only file pruning is the ``as_of_seq`` upper bound (files
    whose min _seq exceeds the cut contain no reconstructible
    version). Sidecar-less tables skip pruning entirely.

    Latest-wins (upsert/append) tables read as stored. History-mode
    tables (``apply_changes(mode="history")``) reconstruct latest-wins
    at read time: per-key max-seq over the retained version rows, then
    the tombstone filter — and ``as_of_seq=N`` simply bounds that
    window to versions with seq <= N, reproducing the exact table state
    after the apply of sequence N (the lakehouse time-travel read,
    expressed over the seq arbitration that already defines "latest").
    The as-of cut is well-defined because seq is the total per-key
    order every merge arbitrates by; a key whose latest version at N
    was a REMOVE stays deleted, a key first inserted after N is absent.
    Requesting ``as_of_seq`` on a latest-wins table raises — overwritten
    versions are gone, so the reconstruction would be silently wrong.

    Scale: the reconstruction is ONE shuffle on the stored key (the
    same window the upsert merge runs per batch, moved to read time);
    partition filters still prune file listing before it.
    """
    # Schema binding: a schema-evolving upsert on a PARTITIONED table
    # rewrites only the touched partitions (dynamic partition
    # overwrite), so untouched partitions keep the pre-evolution column
    # set; a plain read could bind to an old-schema footer and silently
    # drop the evolved column. The write-time manifest records the
    # union schema (old rows read NULL in the new column) at O(1)
    # planning cost; manifest-less tables fall back to the footer
    # union (mergeSchema) — see _read_table.
    # SNAPSHOT PIN: resolve the version pointer exactly ONCE per
    # logical read and plan every sub-read (schema manifest, sidecar,
    # pruned scans, horizon marker) against that version dir. Without
    # this, a commit landing between two resolutions could hand one
    # read a MIX of two versions; with it, the read is a consistent
    # snapshot, and VERSION_GC_GRACE_SECONDS keeps the pinned fileset
    # alive until the scan finishes. Re-resolution inside the helpers
    # is idempotent (a version dir holds no pointer), and legacy
    # root-layout tables resolve to themselves.
    target_path = table_data_dir(target_path)
    df = _read_table(spark, target_path)
    is_history = KEY_COL in df.columns
    if is_history:
        if as_of_seq is not None:
            from .maintenance import read_history_horizon

            horizon = read_history_horizon(target_path)
            if horizon is not None and (
                _canonical_seq_py(as_of_seq) < horizon
            ):
                raise CompactionHorizonError(
                    f"as_of_seq {as_of_seq!r} is below the compaction "
                    f"horizon {horizon.lstrip('0') or '0'}: versions "
                    "before it were folded by compact_history and the "
                    "state at that seq can no longer be reconstructed"
                )
            # file-level time-travel pruning: a file whose min _seq
            # exceeds the cut holds only post-cut versions (skipped on
            # mixed-era tables whose recorded stats are non-canonical)
            pruned = _seq_scoped_read(spark, target_path, "<=", as_of_seq)
            if pruned is not None:
                df = pruned
            df = df.filter(
                _canonical_seq(SEQ_COL)
                <= F.lit(_canonical_seq_py(as_of_seq))
            )
        latest = latest_per_key(
            df.withColumn(SEQ_COL, _canonical_seq(SEQ_COL)),
            KEY_COL,
            SEQ_COL,
        ).drop(KEY_COL)
        out = _reader_view(latest, with_seq)
        if predicates:
            # data predicates are row-applied AFTER reconstruction on
            # history tables (file pruning would be unsound, see above)
            out = out.filter(_predicates_condition(predicates))
        return out
    if as_of_seq is not None:
        raise ValueError(
            "as_of_seq requires a history-mode table "
            '(apply_changes(mode="history")); latest-wins tables do not '
            "retain superseded versions to reconstruct from"
        )
    if predicates:
        pruned = _pruned_table_read(spark, target_path, predicates)
        if pruned is not None:
            df = pruned
        return _reader_view(df, with_seq).filter(
            _predicates_condition(predicates)
        )
    return _reader_view(df, with_seq)


def _predicates_condition(predicates: list[tuple]):
    """AND of the prune_files predicate tuples as a row-wise Column —
    re-applied after any file pruning (pruning is necessary, never
    sufficient)."""
    from .layout import _predicate_column

    cond = F.lit(True)
    for p in predicates:
        cond = cond & _predicate_column(p)
    return cond


def read_changes(
    spark: SparkSession,
    target_path: str,
    from_seq: int | str | None = None,
    to_seq: int | str | None = None,
) -> DataFrame:
    """Change-data-feed read over a history-mode table: every observable
    change with seq in ``(from_seq, to_seq]``, tagged ``_change_type`` in
    ``insert`` / ``update`` / ``delete`` (the lakehouse CDF contract —
    Delta's ``table_changes`` / Iceberg's changelog scan — expressed over
    the version log ``apply_changes(mode="history")`` already retains).

    Classification is read-time: a version row is an ``insert`` if the
    key had no live prior version, an ``update`` if it did, a ``delete``
    if it is a tombstone superseding a live version. A REMOVE of an
    absent key (or of an already-deleted key) changes nothing observable
    and is not emitted. The history write path is a blind append that
    never reads prior state — exactly why it is O(batch) — so change
    types cannot be stamped at write time; deriving them at read time
    from the per-key seq order keeps the write path untouched and the
    feed correct under replays: duplicate ``(key, seq)`` version rows
    appended by an at-least-once replay collapse to one emitted change.

    The range bounds filter AFTER classification (the lag needs each
    key's pre-range history), so the scan cannot prune on seq — the
    inherent cost of write-time-blind CDF. What bounds it at scale:
    classification is ONE shuffle on the stored key (the same window
    ``read_warehouse`` runs), partition filters still prune file listing
    first, and ``compact_history`` keeps the retained history — and with
    it this scan — from growing without bound. Reads that start below
    the compaction horizon raise (the superseded versions that would
    classify those changes no longer exist); at/above it they are exact,
    because the fold keeps each key's newest sub-horizon version under
    its original seq, which is precisely the prior-liveness the first
    in-range change of that key needs.

    Reference tie: this is the engine-side generalization of the
    reference's one-way change relay (DynamoDB Stream -> S3 -> Redshift,
    ``write_dynamodb_stream_to_s3_lambda/handler.py``) — the warehouse
    itself becomes a change source downstream consumers can tail by seq.
    """
    # snapshot pin — one pointer resolution per feed read, same
    # rationale as read_warehouse's pin (a commit between resolutions
    # must not hand one window a mix of two versions)
    target_path = table_data_dir(target_path)
    df = _read_table(spark, target_path)
    if to_seq is not None:
        # upper-bound file pruning is SOUND here (unlike from_seq,
        # whose classification needs each key's pre-range history): a
        # pruned file's every row has seq > to_seq, and the lag window
        # only ever looks BACKWARD, so no in-range row's classification
        # can depend on it.
        pruned = _seq_scoped_read(spark, target_path, "<=", to_seq)
        if pruned is not None:
            df = pruned
    if KEY_COL not in df.columns:
        raise ValueError(
            "read_changes requires a history-mode table "
            '(apply_changes(mode="history")); latest-wins tables do not '
            "retain the version history a change feed is derived from"
        )
    from .maintenance import read_history_horizon

    horizon = read_history_horizon(target_path)
    if horizon is not None and (
        from_seq is None or _canonical_seq_py(from_seq) < horizon
    ):
        raise CompactionHorizonError(
            f"change feed from {from_seq!r} starts below the compaction "
            f"horizon {horizon.lstrip('0') or '0'}: versions before it "
            "were folded by compact_history, so changes in that range "
            "can no longer be reconstructed"
        )
    df = df.withColumn(SEQ_COL, _canonical_seq(SEQ_COL))
    restrict = from_seq is not None
    if restrict:
        # selectivity gate: the touched-key restriction costs one
        # discovery pass, which a WIDE window (catch-up/bootstrap —
        # most keys touched) pays for no pruning. When the sidecar
        # tracks canonical _seq stats it answers "what fraction of
        # files hold in-window rows" driver-side; a window spanning
        # most KNOWN files skips the restriction. Only sidecar-known
        # files are rated — unknown (post-stats) files are always
        # conservatively read, and in the steady state they are
        # exactly the fresh tick files whose presence is evidence of a
        # NARROW window, not a wide one; counting them would disable
        # the restriction for every tick between stats refreshes. Both
        # window bounds participate so a bounded replay deep in
        # history rates by its true span. (No usable stats ->
        # restrict: consumer ticks dominate in practice.)
        from .layout import _file_matches, _load_sidecar

        stats = _load_sidecar(target_path)
        if (
            stats is not None
            and SEQ_COL in stats.get("columns", [])
            and _seq_stats_canonical(target_path)
        ):
            preds = [(SEQ_COL, ">", _canonical_seq_py(from_seq))]
            if to_seq is not None:
                preds.append((SEQ_COL, "<=", _canonical_seq_py(to_seq)))
            known = stats["files"]
            if known:
                matching = sum(
                    1
                    for entry in known.values()
                    if all(_file_matches(entry, *p) for p in preds)
                )
                if matching / len(known) > READ_CHANGES_RESTRICT_GATE:
                    restrict = False
    if restrict:
        # Touched-key restriction (the consumer-tick scale lever, same
        # argument as sync_aggregate's drain): only keys with a version
        # INSIDE (from, to] emit changes, and the lag classification of
        # key k depends only on k's own rows — so semi-joining the
        # version log to the window's touched keys BEFORE the window is
        # result-identical while shrinking the key shuffle from ALL
        # retained history to the touched keys' history. The touched-key
        # side scans only files whose max _seq clears the lower bound
        # when a stats sidecar exists; AQE turns the semi-join into a
        # broadcast probe when the touched set is micro-batch-sized.
        scoped = _seq_scoped_read(spark, target_path, ">", from_seq)
        base = (
            scoped.withColumn(SEQ_COL, _canonical_seq(SEQ_COL))
            if scoped is not None
            else df
        )
        in_window = base.filter(
            F.col(SEQ_COL) > F.lit(_canonical_seq_py(from_seq))
        )
        if to_seq is not None:
            in_window = in_window.filter(
                F.col(SEQ_COL) <= F.lit(_canonical_seq_py(to_seq))
            )
        # eqNullSafe: NULL-key version rows form their own lag group
        # and must keep emitting changes — a plain equality semi-join
        # would silently drop them whenever from_seq is set. DataFrame
        # aliases + qualified refs keep the join condition unambiguous
        # even if a user after-image column shares a name. (A
        # driver-collected InSet + _key-bloom file-pruning variant was
        # measured and REJECTED here: unlike sync_aggregate's drain,
        # read_changes must stay lazy, the extra eager discovery job
        # costs more than the semi-join saves locally, and touched
        # keys of a feed window are rarely file-clustered enough for
        # blooms to prune — see COVERAGE.md round-7 probes.)
        touched_keys = (
            in_window.select(KEY_COL).distinct().alias("_cdc_touched")
        )
        df = df.alias("_cdc_log").join(
            touched_keys,
            F.col(f"_cdc_log.{KEY_COL}").eqNullSafe(
                F.col(f"_cdc_touched.{KEY_COL}")
            ),
            "left_semi",
        )
    live = ~F.coalesce(F.col(DELETED_COL), F.lit(False))
    w = W.partitionBy(KEY_COL).orderBy(SEQ_COL)
    prev_seq = F.lag(F.col(SEQ_COL)).over(w)
    prev_live = F.coalesce(F.lag(live).over(w), F.lit(False))
    # Replay collapse: equal-seq duplicates sort adjacent, so keeping
    # only the first row of each (key, seq) run both dedupes the feed
    # and keeps the lag correct — a duplicate's lag target is either the
    # previous distinct seq's row or an identical copy of it.
    first_of_seq = prev_seq.isNull() | (prev_seq != F.col(SEQ_COL))
    change = (
        F.when(live & ~prev_live, F.lit("insert"))
        .when(live & prev_live, F.lit("update"))
        .when(~live & prev_live, F.lit("delete"))
    )  # tombstone over no live prior -> NULL -> filtered (no-op delete)
    out = (
        df.withColumn("_first_of_seq", first_of_seq)
        .withColumn("_change_type", change)
        .filter(F.col("_first_of_seq") & F.col("_change_type").isNotNull())
        .drop("_first_of_seq", DELETED_COL)
    )
    if from_seq is not None:
        out = out.filter(
            F.col(SEQ_COL) > F.lit(_canonical_seq_py(from_seq))
        )
    if to_seq is not None:
        out = out.filter(
            F.col(SEQ_COL) <= F.lit(_canonical_seq_py(to_seq))
        )
    return out


def follow_changes(
    spark: SparkSession,
    target_path: str,
    checkpoint_path: str,
    process,
    max_ticks: int | None = None,
) -> int:
    """Tail a history-mode table's change feed with at-least-once
    delivery: each tick reads the window ``(last_seq, current_max]``
    via ``read_changes``, hands it to ``process(df, from_seq, to_seq)``,
    and advances a file checkpoint only AFTER process returns — a crash
    mid-process re-delivers the same window on restart, never skips one
    (the consumer-side dual of the reference's one-way relay: there the
    Lambda tails the DynamoDB stream with its managed iterator,
    ``write_dynamodb_stream_to_s3_lambda/handler.py``; here the
    warehouse itself is the tailable source and the iterator is an
    explicit seq checkpoint the consumer owns).

    ``from_seq=None`` on the first tick means "from the beginning",
    which a compacted table refuses (read_changes' horizon rule) — a
    NEW consumer of a compacted table must bootstrap from a snapshot
    read plus the feed from the horizon, like any log-compacted source.
    Returns the number of non-empty windows delivered; stops after
    ``max_ticks`` ticks (None = drain once to the current max and
    return — callers loop at their own cadence).

    Scale: each tick costs one max-seq aggregate over the retained
    history plus the window read. Both are bounded by compaction, and
    the checkpoint is one seq string — no per-key consumer state.
    """
    ck = os.path.join(checkpoint_path, "_change_feed_offset")
    fsio.makedirs(checkpoint_path)

    def _read_ck() -> str | None:
        raw = fsio.read_text(ck)
        return (raw.strip() or None) if raw is not None else None

    def _write_ck(seq: str) -> None:
        fsio.atomic_write_text(ck, seq)  # never a torn offset

    delivered = 0
    ticks = 0
    while True:
        ticks += 1
        last = _read_ck()
        schema = read_table_schema(target_path)
        if schema is not None:
            if KEY_COL not in schema.fieldNames():
                raise ValueError(
                    "follow_changes requires a history-mode table "
                    '(apply_changes(mode="history"))'
                )
        elif KEY_COL not in _read_table(spark, target_path).columns:
            raise ValueError(
                "follow_changes requires a history-mode table "
                '(apply_changes(mode="history"))'
            )
        # the tip probe: driver-side over the stats sidecar when the
        # table maintains one (idle ticks then cost O(new files), not
        # a full-column scan — the 100 TB cadence cost)
        cur = current_max_seq(spark, target_path)
        if cur is not None and (last is None or cur > last):
            window = read_changes(
                spark, target_path, from_seq=last, to_seq=cur
            )
            process(window, last, cur)
            _write_ck(cur)
            delivered += 1
        if max_ticks is None or ticks >= max_ticks:
            return delivered


def read_warehouse_table(
    spark: SparkSession, table_name: str, with_seq: bool = False
):
    """Reader view of a bucketed warehouse table (tombstones filtered).
    Reading through spark.table() directly keeps the bucketed scan
    properties for joins; this only adds the metadata filter/projection
    on top. A session with no catalog entry for the table (after a
    ``DROP TABLE``, or a new process with the in-memory catalog) reads
    the committed state under the table's root instead, without
    bucketing; the next apply re-registers the entry."""
    df = (
        spark.table(table_name)
        if spark.catalog.tableExists(table_name)
        else _read_table(spark, _bucketed_root(spark, table_name))
    )
    return _reader_view(df, with_seq)


def sync_changes(
    spark: SparkSession,
    source_path: str,
    target_path: str,
    checkpoint_path: str,
    key: str,
    mode: str = "upsert",
    partition_by: list[str] | None = None,
) -> int:
    """Maintain a downstream replica of a history-mode table by tailing
    its own change feed: one drain reads ``(checkpoint, max]`` via
    ``follow_changes`` and applies it to ``target_path`` through
    ``apply_changes`` — the engine-to-engine form of the reference's
    whole pipeline (source -> change relay -> warehouse), with the
    warehouse itself as the source. Because the feed rows carry the
    stored key and seq, the re-envelope is mechanical, and because
    ``apply_changes`` converges under at-least-once replay, the
    re-delivery ``follow_changes`` allows on a crash between apply and
    checkpoint is harmless — end-to-end exactly-once EFFECT with only
    an at-least-once feed, the same argument as the ingest path.
    Returns the number of windows applied (0 or 1 per call).
    """
    meta = {SEQ_COL, KEY_COL, DELETED_COL, "_change_type"}

    def _apply(window: DataFrame, _frm, _to) -> None:
        after_cols = [c for c in window.columns if c not in meta]
        env = window.select(
            F.col(KEY_COL).alias("key"),
            F.when(F.col("_change_type") == "delete", "REMOVE")
            .otherwise("MODIFY")
            .alias("op"),
            F.struct(*[F.col(c) for c in after_cols]).alias("after"),
            F.col(SEQ_COL).alias("seq"),
        )
        apply_changes(
            spark,
            env,
            target_path,
            key,
            mode=mode,
            propagate_deletes=True,
            partition_by=partition_by,
        )

    return follow_changes(spark, source_path, checkpoint_path, _apply)
