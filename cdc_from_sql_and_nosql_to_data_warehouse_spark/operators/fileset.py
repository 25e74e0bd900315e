"""Commit-recorded fileset manifest: plan reads without LISTing.

A version-pointer commit used to record only *which directory* holds
the table's fileset (``apply._swap_into``); every cold read then paid
Spark's recursive file listing of that directory — O(files) LIST calls
per table per read on an object store, exactly the cost a lakehouse
transaction log exists to kill (Delta/Iceberg record add-files per
commit and plan from the manifest). This module records the fileset
itself, and it does so in the ONE manifest format Spark's batch
reader already plans from natively with zero storage calls per data
file: the Structured Streaming file-sink commit log
(``_spark_metadata/``, read by ``MetadataLogFileIndex``).

Why this format and not a private one: a ``_spark_metadata`` log in a
directory makes every plain ``spark.read.parquet(dir)`` — batch or
stream — resolve the fileset from the log instead of walking the
directory (file sizes and mtimes are in the log entries, so not even a
per-file HEAD is issued), and files present on disk but absent from
the log are INVISIBLE. That second property is the commit semantics
the pointer layout wants: an append attempt that crashed mid-way
leaves unlogged junk no reader ever plans over, and the at-least-once
replay that follows is thereby exactly-once in effect. It is the same
mechanism Spark's own exactly-once file sink rides, applied to the
engine's commit protocol.

Layout (inside each version dir — version dirs never move, so the
absolute URIs the format requires stay valid for the dir's lifetime):

    v_0000000001_ab12cd34/
      _spark_metadata/0            <- base fileset (the swap commit)
      _spark_metadata/1            <- one append batch's adds
      ...
      _spark_metadata/9.compact    <- every 10th: full retained union
      part-*.parquet, hive dirs, sidecars...

Commit points:
- ``write_base`` at ``_swap_into`` staging time (before the pointer
  flip), from a walk of the files the swap just wrote — O(new files).
- ``append_batch`` after a blind append's files are moved into place:
  publishing the batch file IS the append's commit. The batch id is
  claimed by compare-and-swap (``fsio.publish_exclusive``), so
  concurrent append-scope writers serialize on ids without locking;
  adds are commutative, so the id order carries no semantics.
- Writers that rewrite files in place without knowing the delta
  (dynamic partition overwrite, in-place partitioned compaction) call
  ``invalidate`` BEFORE writing: readers fall back to the directory
  LIST (always correct, the pre-manifest behavior) until the next
  whole-table swap records a fresh base.

Reference tie: the reference's warehouse handoff lives on S3 objects
written once and never listed twice (the processed-prefix move,
``load_s3_files_from_dynamodb_stream_to_redshift_lambda/handler.py:96-112``);
a self-hosted engine owns the fileset index explicitly.
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Callable, Iterator

from .. import fsio

# Spark's streaming file-sink log directory and entry version — public,
# stable format (FileStreamSinkLog): first line "v1", then one
# SinkFileStatus JSON per line.
LOG_DIR = "_spark_metadata"
_LOG_VERSION = "v1"

# Compact cadence: every 10th batch id is written as ``<id>.compact``
# holding the FULL retained fileset, matching the format's default
# compact interval so Spark's reader resolves it exactly (latest
# compact + subsequent batches). Bounds the per-read log cost to
# ~10 batch files between swaps regardless of append count.
COMPACT_INTERVAL = 10

# Grace before a superseded log batch (id below a covering compact) is
# physically deleted by ``prune_log`` — the sink-log ``cleanupDelay``
# analog. Resolution NEVER reads below the latest compact
# (``_replay_order``), so pruned batches are invisible to every
# consistent reader; the grace exists for readers that LISTED before a
# compact landed and are still mid-replay (read_fileset's re-list
# detects the deletions and re-resolves), and for streaming
# checkpoints whose tip lags the compact (``manifest_source`` answers
# an unresolvable start with a full gated re-delivery — correct, just
# not the cheap delta). Same magnitude as the version-GC grace.
LOG_PRUNE_GRACE_SECONDS: float = 600.0

# Fixed-name poison sentinel inside the log dir — the PORTABLE
# invalidation marker (``invalidate``'s object-store path, taken when
# ``fsio.ATOMIC_DIR_RENAME`` is False). Its presence makes
# ``_batch_files`` answer [] — one conditional PUT hides the whole log
# from every engine reader and appender atomically, standing in for
# the directory rename object stores cannot do.
_POISON = ".invalidated"

# data_dir -> (freshness key over the log dir listing, relpaths).
# Batch files are immutable once published (CAS create), so the sorted
# name tuple is a sound freshness key; invalidate() empties the
# listing, which changes the key. BOUNDED: a long-lived session over
# many tables must not retain one fileset list per table forever —
# least-recently-used entries are evicted past the cap (insertion
# order is maintained by re-inserting on hit).
_FILESET_CACHE: dict = {}
_FILESET_CACHE_MAX = 64

# data_dir -> count of reads that found a PRESENT-but-unusable log
# (foreign URIs after a relocation, sustained invalidate churn) and
# fell back to the directory LIST. Purely observational — at 100 TB a
# table silently running without its manifest is an operations smell
# (every cold read pays O(files) LIST again); `fallback_counts()`
# surfaces it and each occurrence logs a warning. Legitimately
# log-less dirs (legacy tables, post-invalidate windows) don't count.
_LIST_FALLBACKS: dict = {}


def fallback_counts() -> dict:
    """{data_dir: times a present-but-unusable fileset log forced the
    LIST fallback this session} — see ``_note_fallback``."""
    return dict(_LIST_FALLBACKS)


def _note_fallback(data_dir: str, reason: str) -> None:
    import logging

    if data_dir not in _LIST_FALLBACKS:
        # bounded like _FILESET_CACHE: dirs are version paths that
        # churn with swaps, so an unbounded counter is a slow leak
        while len(_LIST_FALLBACKS) >= _FILESET_CACHE_MAX:
            _LIST_FALLBACKS.pop(next(iter(_LIST_FALLBACKS)))
    _LIST_FALLBACKS[data_dir] = _LIST_FALLBACKS.get(data_dir, 0) + 1
    logging.getLogger(__name__).warning(
        "fileset log at %s is present but unusable (%s); reads fall "
        "back to the directory LIST — run "
        "operators.maintenance.repair_relocated_log(spark, table) to "
        "rewrite a relocated log in place, or re-swap the table, to "
        "restore manifest planning",
        data_dir,
        reason,
    )


def _log_dir(data_dir: str) -> str:
    return os.path.join(data_dir, LOG_DIR)


def has_log(data_dir: str) -> bool:
    """True when the directory carries a fileset log (and therefore
    every reader — Spark's and the engine's — plans from it, and every
    engine append must maintain it)."""
    return bool(_batch_files(data_dir))


def is_data_file(name: str) -> bool:
    """The data-file filter shared with Spark's listing semantics:
    parquet files not hidden by a ``_``/``.`` prefix."""
    return name.endswith(".parquet") and not name.startswith(("_", "."))


_VERSION_NAME_RE = re.compile(r"v_\d{10}_[0-9a-f]{8}\Z")


def _is_version_name(name: str) -> bool:
    """True for names ``apply._swap_into`` stages version dirs under
    (``v_<10 digits>_<8 hex>``). The pattern is disjoint from
    everything else a table dir legitimately contains: hive partition
    dirs carry ``=``, Spark's data files carry extensions, and control
    files are ``_``-prefixed — so a version-named entry is always the
    engine's own (a committed version, a superseded one awaiting GC,
    or an aborted commit's orphan)."""
    return _VERSION_NAME_RE.match(name) is not None


def iter_data_files(
    root: str, descend: Callable[[str], bool] | None = None
) -> Iterator[str]:
    """Lazily yield the relative path of every data file on disk under
    ``root``. Skips the dirs Spark's listing skips (``_``/``.``-prefixed:
    a staged append or ``_temporary`` task dir is never committed data)
    and version-named dirs (under a pointer-less root those are an
    aborted commit's staging, and a resolved version dir never nests
    one). ``descend(name)`` False prunes a subtree unlisted. Stopping
    early stops the listing: ``any(iter_data_files(d))`` returns at the
    first file."""
    root = os.path.abspath(root)
    for cur, dirs, names in fsio.walk(root):
        dirs[:] = [
            d
            for d in dirs
            if not d.startswith(("_", "."))
            and not _is_version_name(d)
            and (descend is None or descend(d))
        ]
        for n in names:
            if is_data_file(n):
                yield os.path.relpath(os.path.join(cur, n), root)


def walk_data_files(root: str) -> list[str]:
    """The PHYSICAL fileset: every data file on disk under ``root``
    (``iter_data_files``), sorted — logged or not. For the callers
    that need what is on disk rather than what is committed: recording
    a fresh manifest base, moving a staged append, diffing disk against
    the manifest for junk, fingerprinting a log-less dir."""
    return sorted(iter_data_files(root))


def committed_files(
    data_dir: str, descend: Callable[[str], bool] | None = None
) -> list[str]:
    """The files a reader of ``data_dir`` plans over, sorted relative
    paths: the fileset log's when the dir carries one (unlogged junk is
    invisible, exactly as to Spark's own manifest-planned scan), else
    the walk of ``iter_data_files``. The ONE manifest-or-walk choice in
    the package. ``descend(name)`` False drops every file under a dir
    component of that name on both branches (hive partition pruning;
    the walk never lists the pruned subtrees)."""
    logged = read_fileset(data_dir)
    if logged is None:
        return sorted(iter_data_files(data_dir, descend))
    return [
        rel
        for rel in logged
        if descend is None
        or all(descend(c) for c in rel.split(os.sep)[:-1])
    ]


def _is_batch_name(name: str) -> bool:
    base = name[: -len(".compact")] if name.endswith(".compact") else name
    return base.isdigit()


def _batch_files(data_dir: str) -> list[str]:
    """Log batch file names, Spark-filtered: a name is a batch iff it
    parses as ``<int>`` or ``<int>.compact`` (tmp siblings and junk are
    ignored, as Spark's own batchFilesFilter ignores them). A POISONED
    log (portable invalidate's sentinel — see ``_POISON``) answers []:
    the one listing carries the sentinel and the batch names together,
    so the hiding is atomic per observation — no reader can see the
    dying batches without seeing the poison."""
    names = fsio.listdir(_log_dir(data_dir))
    if _POISON in names:
        return []
    return [name for name in names if _is_batch_name(name)]


def _batch_id(name: str) -> int:
    return int(name[: -len(".compact")] if name.endswith(".compact") else name)


def _entry_lines(data_dir: str, name: str) -> list[dict]:
    raw = fsio.read_text(os.path.join(_log_dir(data_dir), name))
    if raw is None:
        return []
    lines = raw.splitlines()
    if not lines or lines[0].strip() != _LOG_VERSION:
        raise ValueError(
            f"unrecognized fileset-log version in {name!r} under "
            f"{_log_dir(data_dir)!r} (expected {_LOG_VERSION!r})"
        )
    out = []
    for ln in lines[1:]:
        ln = ln.strip()
        if ln:
            out.append(json.loads(ln))
    return out


def _replay_order(names: list[str]) -> list[str]:
    """Spark's resolution order for a set of batch-file names: the
    latest ``.compact`` (it holds the full set), then every later
    plain batch by ascending id. The ONE copy of the rule —
    ``read_fileset`` and ``append_batch``'s compaction both replay
    through it, so the ordering cannot drift between them."""
    compacts = [n for n in names if n.endswith(".compact")]
    start = max((_batch_id(n) for n in compacts), default=-1)
    return [n for n in compacts if _batch_id(n) == start] + sorted(
        (
            n
            for n in names
            if not n.endswith(".compact") and _batch_id(n) > start
        ),
        key=_batch_id,
    )


def read_fileset(data_dir: str) -> list[str] | None:
    """The committed fileset as sorted relative paths, or None when the
    directory carries no log (reader falls back to the LIST walk).
    Resolution matches Spark's (``_replay_order``). One small-file read
    per retained batch — O(commits since the last swap), never O(data
    files) storage calls. Memoized per log-dir listing (batch files
    are immutable once published).

    Churn safety: batch files listed here can vanish before they are
    read (a concurrent ``invalidate``). A vanished file reads as empty,
    which under newest-first deletion still resolves to an id-prefix
    (a committed historical state) — EXCEPT when every listed batch
    vanished, where "resolved to nothing" must become None (the LIST
    fallback), not an 'empty committed fileset' that reads the table
    as zero rows. So the listing is re-taken after resolution: any
    deletion observed re-resolves, an unchanged-or-grown listing
    proves the resolution was a consistent prefix, and sustained churn
    conservatively lands on None (mid-invalidate, log-less is the
    incoming truth)."""
    for _ in range(8):
        names = _batch_files(data_dir)
        if not names:
            _FILESET_CACHE.pop(data_dir, None)
            return None
        key = tuple(sorted(names))
        hit = _FILESET_CACHE.get(data_dir)
        if hit is not None and hit[0] == key:
            # LRU refresh: re-insert so eviction tracks recency
            _FILESET_CACHE.pop(data_dir, None)
            _FILESET_CACHE[data_dir] = hit
            return hit[1]
        resolved = _resolved_entries(data_dir, _replay_order(names))
        if resolved is None:
            _note_fallback(data_dir, "foreign or unreadable entries")
            return None
        after = set(_batch_files(data_dir))
        if not set(names) <= after:
            continue  # deletions in flight: re-list (ends at None)
        rels = sorted(resolved)
        if after == set(names):
            while len(_FILESET_CACHE) >= _FILESET_CACHE_MAX:
                _FILESET_CACHE.pop(next(iter(_FILESET_CACHE)))
            _FILESET_CACHE[data_dir] = (key, rels)
        return rels
    _FILESET_CACHE.pop(data_dir, None)
    _note_fallback(data_dir, "sustained log churn")
    return None  # sustained churn: conservative LIST fallback


def _resolved_entries(
    data_dir: str, batch_names: list[str]
) -> dict[str, dict] | None:
    """{relpath: its latest add-entry dict} after replaying
    ``batch_names`` in order, or None when any entry carries a FOREIGN
    absolute URI: the table was relocated wholesale (engine version
    dirs never move, so this is an external copy). The engine then
    falls back to the LIST walk rather than serving a half-matched
    fileset; Spark's own reader would still follow the stale absolute
    URIs, so a relocated table must drop or rewrite its log
    (``invalidate`` + re-swap). Accepts the dir under either its
    as-given or symlink-resolved spelling so a caller's path spelling
    cannot silently empty the fileset."""
    prefixes = {
        "file://" + os.path.abspath(data_dir) + os.sep,
        "file://" + os.path.realpath(data_dir) + os.sep,
    }
    out: dict[str, dict] = {}
    for name in batch_names:
        for entry in _entry_lines(data_dir, name):
            p = entry.get("path", "")
            rel = next(
                (p[len(pre):] for pre in prefixes if p.startswith(pre)),
                None,
            )
            if rel is None:
                return None
            if entry.get("action") == "delete":
                out.pop(rel, None)  # not emitted by this engine
            else:
                out[rel] = entry
    return out


def _entry_for(data_dir: str, rel: str) -> dict:
    """One SinkFileStatus add-entry for a just-written/moved file
    (statted now — one fresh local call per BATCH file, never per
    table file; compaction carries prior entries instead)."""
    full = os.path.join(os.path.abspath(data_dir), rel)
    st = os.stat(full)
    return {
        "path": "file://" + full,
        "size": st.st_size,
        "isDir": False,
        "modificationTime": int(st.st_mtime * 1000),
        "blockReplication": 1,
        "blockSize": 33554432,
        "action": "add",
    }


def _text_of(entries: list[dict]) -> str:
    return "\n".join(
        [_LOG_VERSION]
        + [json.dumps(e, separators=(",", ":")) for e in entries]
    ) + "\n"


def _entries_text(data_dir: str, rels: list[str]) -> str:
    """SinkFileStatus lines for ``rels`` (statted now — see
    ``_entry_for``)."""
    return _text_of([_entry_for(data_dir, rel) for rel in sorted(rels)])


_EPOCH_FILE = ".epoch"


def log_epoch(data_dir: str) -> str:
    """Identity of the CURRENT log incarnation: a uuid stamped by
    ``write_base`` (hidden ``.epoch`` file inside the log dir — both
    this module's and Spark's batch filters ignore non-numeric names).
    Batch ids are only comparable WITHIN one incarnation: an
    invalidate + re-adopt (or a relocated-log repair) restarts ids at
    0 over a different base, so a streaming consumer that compared a
    checkpointed tip against the new log would silently resolve the
    wrong snapshot. Consumers put the epoch in their offsets and treat
    a mismatch like a version change (full gated re-delivery). ''
    for logs written before epochs existed (both sides of a
    comparison then read '', preserving their old behavior)."""
    return (fsio.read_text(os.path.join(_log_dir(data_dir), _EPOCH_FILE)) or "").strip()


def write_base(data_dir: str, rels: list[str] | None = None) -> None:
    """Record the directory's full fileset as log batch 0 — the swap
    commit's manifest, written into the staged version dir BEFORE the
    pointer flip so a served version is never manifest-less. ``rels``
    defaults to a walk of the just-written directory (O(new files),
    the same order of work the write itself performed). Stamps a fresh
    log epoch (see ``log_epoch``) AFTER batch 0 — the order is
    load-bearing twice over: a reader can never see a new incarnation
    under the OLD identity (``invalidate`` removed the whole dir,
    old epoch included, before this runs), and a crash between the two
    writes leaves a log whose epoch reads '' (detected as a change by
    any consumer holding a real epoch) rather than an epoch-ONLY dir —
    a state ``repair_stranded_log`` would otherwise have to
    disambiguate from a live writer, unfenced."""
    import uuid

    if rels is None:
        rels = walk_data_files(data_dir)
    d = _log_dir(data_dir)
    fsio.makedirs(d)
    names = fsio.listdir(d)
    if _POISON in names:
        # a poison-invalidated prior incarnation (portable invalidate,
        # fsio.ATOMIC_DIR_RENAME False): clear every dead batch file
        # FIRST and the sentinel LAST under the CALLER's fence before
        # recording the new base — a surviving sentinel would hide the
        # fresh manifest forever, and a crashed appender's orphan batch
        # must not join it as phantom history. The ordering is
        # load-bearing (review finding): a crash after a listing-order
        # sweep removed the sentinel but not yet the dead batches would
        # leave those batches resolving as THE committed fileset; with
        # batches-first, every crash point leaves either a poisoned dir
        # (no log — the invalidation contract) or a clean one. Safe
        # only because every write_base caller holds the whole-table
        # scope (no appender can be mid-publish while the sentinel
        # comes off).
        for n in names:
            if _is_batch_name(n):
                fsio.remove(os.path.join(d, n))
        fsio.remove(os.path.join(d, _POISON))
    # any prior incarnation's epoch stamp dies BEFORE the new batch-0
    # write — unconditionally, not just on the poison branch (review
    # finding): were a stale stamp left behind (a crashed
    # repair_stranded_log can strand one in an unpoisoned batch-less
    # dir), a crash between the batch-0 write and the epoch overwrite
    # below would publish the NEW incarnation under the OLD epoch — a
    # streaming consumer checkpointed against the old incarnation
    # would see same-epoch, diff empty, and silently never deliver
    # the rewrite's files. With the stamp gone, every crash point
    # reads epoch '' — detected as a change, full gated re-delivery
    # (the same state a crashed rename-path re-adopt leaves). No-op on
    # fresh dirs. On the poison branch this runs while still poisoned
    # (the sweep above is ordered batches -> sentinel, and the epoch
    # removal is idempotent either side of the sentinel given the
    # batches are already gone).
    fsio.remove(os.path.join(d, _EPOCH_FILE))
    fsio.atomic_write_text(os.path.join(d, "0"), _entries_text(data_dir, rels))
    fsio.atomic_write_text(os.path.join(d, _EPOCH_FILE), uuid.uuid4().hex)
    _FILESET_CACHE.pop(data_dir, None)


def append_batch(data_dir: str, rels: list[str]) -> int | None:
    """Commit one append's files: publish the next batch id by CAS
    (losers retry the next id — concurrent append-scope writers
    serialize on ids with no lock), compacting the full fileset every
    ``COMPACT_INTERVAL``-th id. Publishing the batch file IS the
    commit: a crash before it leaves the moved files invisible
    (unlogged), and the batch's at-least-once replay lands them under
    fresh names — exactly-once in effect. Returns the claimed id, or
    None when there is nothing to commit OR no log to extend.

    Never CREATES a log: if the log dir is empty — ``invalidate`` ran
    concurrently (an in-place rewrite by a writer that does not
    conflict with lockless appenders, e.g. a partitioned compaction
    racing a bronze ingest) — publishing a lone batch 0 would make
    that fresh log THE fileset and hide every previously committed
    file. Returning None instead leaves the dir log-less: the moved
    files and all prior data stay visible through the LIST fallback,
    which is exactly the invalidation contract.

    Compaction carries the PRIOR batches' entry lines forward instead
    of re-statting the union (the per-append cost stays O(batch), one
    stat per NEW file only), and refuses to compact when the prior
    entries are unreadable/foreign (``_resolved_entries`` None): a
    blind compact would replace a merely-unusable log with an actively
    WRONG one that hides the pre-relocation files."""
    if not rels:
        return None
    d = _log_dir(data_dir)
    while True:
        names = _batch_files(data_dir)
        if not names:
            _FILESET_CACHE.pop(data_dir, None)
            return None  # invalidated concurrently: stay log-less
        nid = max(_batch_id(n) for n in names) + 1
        compact = (nid + 1) % COMPACT_INTERVAL == 0
        prior: dict[str, dict] | None = None
        if compact:
            prior = _resolved_entries(data_dir, _replay_order(names))
        if compact and prior is not None:
            new = set(rels)
            entries = [
                prior[rel] for rel in sorted(prior.keys() - new)
            ] + [_entry_for(data_dir, rel) for rel in sorted(new)]
            text = _text_of(entries)
            target = os.path.join(d, f"{nid}.compact")
        else:
            text = _entries_text(data_dir, rels)
            target = os.path.join(d, str(nid))
        try:
            published = fsio.publish_exclusive(target, text)
        except FileNotFoundError:
            # the log dir vanished between the listing and the publish
            # (a concurrent invalidate): same outcome as the empty-dir
            # check above — stay log-less, files visible via LIST.
            # Engine writers can no longer race this way (appends hold
            # an ``apply._fence`` "append" token, invalidators hold its
            # "table"/"partitions" scope), so this guards crash-replay
            # leftovers and external misuse.
            _FILESET_CACHE.pop(data_dir, None)
            return None
        if published:
            if not any(
                _batch_id(n) < nid for n in _batch_files(data_dir)
            ):
                # an invalidate deleted the prior batches between our
                # listing and the publish, but our publish landed (the
                # dir still existed): a surviving LONE batch would BE
                # the manifest and hide every previously committed
                # file (a lone compact is equally anomalous — prior
                # batches are never deleted by appends, only by
                # invalidate). Withdraw it and stay log-less — the
                # moved files and all prior data remain visible
                # through the LIST fallback.
                fsio.remove(target)
                _FILESET_CACHE.pop(data_dir, None)
                return None
            _FILESET_CACHE.pop(data_dir, None)
            # heal a missing epoch stamp (crash/race residue: a
            # write_base that died between batch 0 and its stamp, or a
            # stale-listing repair sweep). A log without identity reads
            # epoch '' — and two ''-epoch incarnations of the same
            # version dir would compare same-incarnation to a streaming
            # consumer, the exact hazard the stamp exists to close.
            # Stamping here is safe (this appender holds the append
            # token, which every rebase excludes) and makes ''
            # transient: consumers see an epoch CHANGE and take one
            # full gated re-delivery. One O_EXCL create attempt per
            # append; a present stamp makes it a cheap no-op.
            import uuid as _uuid

            try:
                fsio.create_exclusive(
                    os.path.join(d, _EPOCH_FILE),
                    _uuid.uuid4().hex.encode(),
                )
            except (FileNotFoundError, NotADirectoryError):
                pass  # log vanished concurrently: nothing to stamp
            if compact and prior is not None:
                # opportunistic grace-bounded prune right where batches
                # DIE (a fresh compact supersedes everything below it):
                # bounds the log dir on append-heavy tables that never
                # see scheduled maintenance, at the cost of one extra
                # listing every COMPACT_INTERVAL-th append
                prune_log(data_dir)
            return nid
        # CAS lost: another appender claimed this id — re-derive


def prune_log(data_dir: str, grace_seconds: float | None = None) -> int:
    """Delete log batches DEAD to every reader — the sink-log
    ``cleanupDelay`` analog that bounds the log dir's file count.

    ``_replay_order`` (this module's readers, the streaming source's
    twin, AND Spark's own FileStreamSinkLog resolution) replays the
    latest ``.compact`` plus LATER plain batches only, so once a
    compact with id >= b exists, plain batch ``b`` can never be read
    again — and a compact is itself superseded by any LATER compact.
    Without pruning those dead files accumulate one per append forever
    (O(total appends) listing per read/trigger on exactly the
    highest-traffic tables: streaming bronze, one append per
    micro-batch) — the same growth disease the manifest cured for data
    files, one level down.

    Supersession clock: the COVERING compact's own mtime (the oldest
    compact whose id covers the batch) — it was created at the moment
    the batch died, so no separate clock file is needed (object-store
    mapping: the compact object's Last-Modified). A batch is deleted
    only ``grace_seconds`` after its covering compact landed, so a
    reader that listed just before the compact finishes its replay
    inside the grace; after it, ``read_fileset``'s post-resolution
    re-list turns any observed deletion into a clean re-resolve, and a
    streaming checkpoint whose tip predates the pruned ids resolves to
    None and takes the full gated re-delivery (correct, documented) —
    except a tip that IS the retained keeper batch (below), which
    resolves to that batch's own adds: a strict subset of what the
    consumer already received, so the delta math can only
    over-deliver, inside the at-least-once gate — never lose files.
    The latest compact and everything after it are NEVER touched, so
    ``append_batch``'s id derivation is unaffected. The newest
    compact's immediate PREDECESSOR (the highest-id batch below it) is
    also never deleted, whatever the grace (review finding):
    ``append_batch``'s post-publish lone-batch check reads "no batch
    below mine" as "an invalidate raced me" and WITHDRAWS its
    just-published compact — a prune called with an elapsed/zero grace
    right after a fresh compact landed would otherwise delete every
    predecessor and trigger that withdrawal, destroying the entire
    log. Retaining exactly one predecessor keeps the check sound at
    O(1) extra files; it becomes deletable again once a newer compact
    supersedes it.

    Fencing (review finding): safe against READERS and concurrent
    appenders/prunes with no lock at all — but the CALLER must hold a
    scope that excludes log REBASES (``invalidate`` + ``write_base``
    restart batch ids at 0 over a different base, so a prune holding a
    pre-rebase kill list could delete the NEW incarnation's base under
    a colliding name). Both engine call sites qualify: the
    opportunistic ``append_batch`` hook runs under the engine's
    ``apply._fence(path, "append")`` token (which table-scoped
    invalidators conflict with), and ``run_maintenance`` takes
    ``_fence(path, "table")`` for its prune step. Idempotent. Returns the number of files removed."""
    import time

    grace = LOG_PRUNE_GRACE_SECONDS if grace_seconds is None else grace_seconds
    names = _batch_files(data_dir)
    compact_ids = sorted(
        _batch_id(n) for n in names if n.endswith(".compact")
    )
    if not compact_ids:
        return 0
    newest = compact_ids[-1]
    # the lone-batch-check keeper: highest-id batch strictly below the
    # newest compact (prefer the compact on an id tie — richer)
    keeper = max(
        (n for n in names if _batch_id(n) < newest),
        key=lambda n: (_batch_id(n), n.endswith(".compact")),
        default=None,
    )
    d = _log_dir(data_dir)
    now = time.time()
    cover_mtime: dict[int, float | None] = {}
    # two passes — resolve every covering compact's mtime BEFORE the
    # first deletion: a straggler's cover (a non-newest compact, e.g. a
    # keeper aged past its retention) may itself be on this pass's kill
    # list, and listdir order is arbitrary, so a single interleaved
    # pass could delete the cover first, find it "vanished", and skip
    # the straggler on every future pass too (it accumulates forever)
    kill: list[str] = []
    for n in names:
        if n == keeper:
            continue  # see the predecessor-retention rule above
        bid = _batch_id(n)
        if n.endswith(".compact"):
            cover = next((c for c in compact_ids if c > bid), None)
        else:
            cover = next((c for c in compact_ids if c >= bid), None)
        if cover is None:
            continue  # live under _replay_order: never pruned
        if cover not in cover_mtime:
            cover_mtime[cover] = fsio.mtime(
                os.path.join(d, f"{cover}.compact")
            )
        m = cover_mtime[cover]
        if m is None or now - m < grace:
            continue  # cover vanished (concurrent prune) / in grace
        kill.append(n)
    removed = 0
    for n in kill:
        if fsio.remove(os.path.join(d, n)):
            removed += 1
    if removed:
        _FILESET_CACHE.pop(data_dir, None)
    return removed


_INVALIDATED_PREFIX = ".invalidated_log."


def invalidate(data_dir: str) -> None:
    """Drop the fileset log BEFORE a rewrite that cannot express its
    delta (dynamic partition overwrite, in-place partitioned
    compaction): readers fall back to the directory LIST — always
    correct, the pre-manifest behavior — until the next whole-table
    swap records a fresh base. Invalidating before the rewrite makes a
    crash mid-rewrite leave a log-less (listable) directory, never a
    stale log that hides the rewrite's files or resurrects the
    replaced ones.

    SINGLE-STEP (round-11, closing the round-10 advisor's findings):
    the whole ``_spark_metadata`` dir is atomically RENAMED to a
    hidden sibling and swept afterwards. The previous per-file
    newest-first deletion left two holes the rename closes at once:

    - Crash MID-DELETION left a valid-looking manifest PREFIX — an
      arbitrarily old committed snapshot readers would keep serving
      (silently missing later committed appends) until the abandoned
      mutation replayed. With the rename there is no intermediate
      state: crash before it leaves the intact (still-correct, the
      rewrite has not started) manifest; crash after it leaves a
      log-less dir (the LIST fallback) plus invisible hidden junk.
    - A lockless appender racing the deletion could land ONE batch
      that survived as the entire manifest (hiding every previously
      committed file). The rename is atomic: a batch published before
      it is carried away wholesale (the appender's post-publish
      predecessor re-check then sees no log and withdraws — returns
      None, exactly the invalidation contract), and a publish after it
      dies on the vanished dir (FileNotFoundError -> None). No
      interleaving leaves a lone surviving batch.

    Readers mid-flight: one that already listed batch files reads the
    vanished files as empty and ``read_fileset``'s re-list lands on
    None — the LIST fallback; Spark's own MetadataLogFileIndex either
    resolved before the rename (a committed snapshot) or finds no
    ``_spark_metadata`` and lists raw. Hidden ``.invalidated_log.*``
    residue from a crash between rename and sweep is invisible to
    every reader (hidden prefix) and reclaimed by the next invalidate
    or ``maintenance.vacuum_uncommitted``.

    Object-store port (``fsio.ATOMIC_DIR_RENAME`` False): stores have
    no atomic directory rename, so the invalidation step becomes a
    conditional-write POISON sentinel inside the log dir
    (``_POISON``, via ``fsio.create_exclusive`` — one ``If-None-Match``
    PUT): ``_batch_files`` answers [] the instant the sentinel exists,
    which hides the whole log from every ENGINE reader and appender in
    one atomic step (the same listing that returns batch names returns
    the sentinel). The batch files are then deleted newest-id-first
    and the sentinel last; see ``_poison_invalidate`` for the crash
    analysis. Idempotent on both paths."""
    import uuid

    d = _log_dir(data_dir)
    if fsio.ATOMIC_DIR_RENAME:
        doomed = os.path.join(
            data_dir,
            f"{_INVALIDATED_PREFIX}{os.getpid()}.{uuid.uuid4().hex[:6]}",
        )
        try:
            fsio.rename_dir(d, doomed)  # THE invalidation: atomic
        except FileNotFoundError:
            pass  # already log-less (idempotent re-run / lost a race)
        except NotADirectoryError:
            pass  # junk file squatting the log name: not a manifest
    else:
        _poison_invalidate(d)
    _FILESET_CACHE.pop(data_dir, None)
    # sweep the renamed dir and any prior crash's residue — data-plane
    # cleanup, correctness already committed by the rename/poison above
    for name in fsio.listdir(data_dir):
        if name.startswith(_INVALIDATED_PREFIX):
            fsio.remove_tree(os.path.join(data_dir, name))


def _poison_invalidate(log_dir: str) -> None:
    """The portable invalidation protocol (no atomic directory
    rename). Steps and why each crash window is sound:

    1. Conditional-create the ``_POISON`` sentinel — THE invalidation.
       From this observation on, every engine reader's ``_batch_files``
       is [] (LIST fallback; never a stale manifest PREFIX, closing the
       mid-deletion race the POSIX rename closes), and every appender's
       post-publish predecessor check sees [] and WITHDRAWS its batch
       (closing the lone-surviving-batch race). A crash after this step
       leaves the sentinel in place: engine reads stay exactly correct;
       the next ``invalidate`` re-run, ``write_base``, fenced
       ``vacuum_uncommitted``, or ``repair_stranded_log`` completes the
       cleanup.
    2. Delete batch files newest-id-first, re-listing until no batch
       remains — newest-first so Spark's NATIVE reader (which does not
       understand the sentinel) degrades through committed historical
       prefixes during the deletion, never a torn set. That native-
       reader bounded-staleness window is the honest residual cost of
       the port (on POSIX the rename closes it for native readers
       too); ENGINE readers see none of it.
    3. Delete the epoch stamp, then the sentinel, then rmdir. The
       sentinel comes off only after a listing shows zero batch files;
       a concurrently-published straggler batch either lands before
       that listing (deleted by the loop) or after it (its own writer's
       predecessor re-check withdraws it — engine appends additionally
       hold scopes that exclude invalidators, so this is
       defense-in-depth, not the primary guard)."""
    try:
        created = fsio.create_exclusive(
            os.path.join(log_dir, _POISON), b""
        )
    except FileNotFoundError:
        return  # no log dir at all: already log-less
    except NotADirectoryError:
        # junk FILE squatting the log name: not a manifest. The rename
        # path carries the squatter away wholesale and sweeps it; match
        # that end state (no log at all — the invalidation contract,
        # and the next write_base's makedirs must not trip on it)
        # rather than merely tolerating (review finding).
        fsio.remove(log_dir)
        return
    del created  # False = already poisoned: continue the cleanup
    for _ in range(8):
        names = sorted(
            (n for n in fsio.listdir(log_dir) if _is_batch_name(n)),
            key=_batch_id,
            reverse=True,
        )
        if not names:
            break
        for n in names:
            fsio.remove(os.path.join(log_dir, n))
    else:
        return  # sustained publish churn: leave the sentinel standing
    fsio.remove(os.path.join(log_dir, _EPOCH_FILE))
    fsio.remove(os.path.join(log_dir, _POISON))
    fsio.rmdir(log_dir)  # False: tmp residue, swept by vacuum/repair later


def foreign_log_rels(data_dir: str) -> list[str] | None:
    """Recover the RELATIVE paths a relocated table's foreign-URI log
    records, or None when no consistent mapping exists. A wholesale
    table copy carries its log's absolute URIs from the OLD location
    (``_resolved_entries`` refuses them, so engine reads LIST-fallback
    — correct but slow, and Spark's native reader would keep following
    the stale URIs). The old data-dir prefix is not recorded anywhere,
    so it is recovered structurally: try each ancestor directory of
    the first entry's path, longest first, and accept the first
    candidate under which EVERY logged entry (a) lives and (b) maps to
    a file that exists under ``data_dir`` — existence under the new
    location is the disambiguator (a wholesale copy moved every
    committed file along). Resolution replays the same latest-compact
    + later-batches order as a normal read, so the recovered set is
    the log's committed fileset, never a torn union."""
    names = _batch_files(data_dir)
    if not names:
        return None
    raw: dict[str, dict] = {}
    for name in _replay_order(names):
        for entry in _entry_lines(data_dir, name):
            p = entry.get("path", "")
            if entry.get("action") == "delete":
                raw.pop(p, None)
            else:
                raw[p] = entry
    paths = sorted(raw)
    if not paths:
        return None
    first = paths[0]
    if not first.startswith("file://"):
        return None
    cand = os.path.dirname(first[len("file://"):])
    while cand and cand != os.sep:
        pre = "file://" + cand + os.sep
        if all(p.startswith(pre) for p in paths):
            rels = [p[len(pre):] for p in paths]
            if all(
                os.path.isfile(os.path.join(data_dir, rel)) for rel in rels
            ):
                return sorted(rels)
        cand = os.path.dirname(cand)
    return None


def repair_stranded_log(data_dir: str) -> bool:
    """Remove a STRANDED log dir holding no batch files — the residue
    of a crash inside ``invalidate``'s final microseconds,
    ``write_base``'s makedirs-to-first-write window (which can orphan
    a ``0.tmp.<pid>.<hex>`` sibling between the tmp write and its
    rename), or a portable poison-invalidate that died between its
    batch sweep and its rmdir. A ``_spark_metadata`` that exists but
    resolves no batches makes Spark's NATIVE reader plan ZERO files
    while the data sits on disk — silently wrong, and permanent if an
    orphan tmp keeps the dir from ever being rmdir-able — so engine
    dir-reads call this before handing Spark the directory.

    Residue (orphan ``*.tmp.*`` / ``.pub.*`` siblings, the poison
    sentinel, the epoch stamp) is swept ONLY when the raw listing
    holds no batch file at all: with batches present the dir is (or
    may become) a live manifest — in particular a poisoned dir whose
    batch sweep hasn't finished must keep its sentinel, since removing
    it would resurrect the dying batches. Sweeping a tmp can at worst
    fail a concurrent ``write_base`` LOUDLY pre-flip (its rename
    errors; the swap aborts / the adopt re-runs) — never silently
    empties a read; the permanently-bricked alternative is strictly
    worse. Returns True when the stranded dir was removed."""
    d = _log_dir(data_dir)
    if not fsio.isdir(d):
        return False
    names = fsio.listdir(d)
    if any(_is_batch_name(n) for n in names):
        return False
    # tmp/.pub junk from the ORIGINAL listing (the documented
    # worst-case: fail a concurrent write_base LOUDLY pre-flip)...
    for n in names:
        if ".tmp." in n or n.startswith(".pub."):
            fsio.remove(os.path.join(d, n))
    # ...but the correctness-bearing removals gate on a FRESH listing
    # (review finding): a fenced write_base re-adopt may have landed
    # between our first listing and now, and deleting ITS just-written
    # epoch stamp by name from the stale list would strand a LIVE
    # manifest at epoch '' — two ''-epoch incarnations of the same
    # version dir would then compare same-incarnation to a streaming
    # consumer and yield a silently wrong delta. write_base writes
    # batch 0 BEFORE its epoch, so a fresh batch-less check bounds the
    # race to the list-to-remove syscall gap (and append_batch heals
    # any residual '' on the next publish). Sentinel LAST: a crash
    # mid-sweep must leave the dir poisoned or stamp-free, never an
    # unpoisoned dir with a stale stamp.
    fresh = fsio.listdir(d)
    if any(_is_batch_name(n) for n in fresh):
        return False  # became a live manifest: hands off
    if _EPOCH_FILE in fresh:
        fsio.remove(os.path.join(d, _EPOCH_FILE))
    if _POISON in fresh:
        fsio.remove(os.path.join(d, _POISON))
    # False: not empty after all (writer in flight) / racing
    return fsio.rmdir(d)
