"""The engine's storage primitives — in ONE place.

Every piece of engine coordination state (writer locks, schema
manifests, stats sidecars, compaction-horizon and feed-offset markers,
the version pointer every whole-table commit flips) needs only a few
storage primitives, and so does the table layer's own answer to "which
files does this table hold" (``operators/fileset.committed_files``).
The table layer calls these instead of ``os.*``, so the POSIX
assumption lives in this one module, the seam an object-store port
swaps out. Parquet reads and writes stay with Spark, which already
rides Hadoop filesystem connectors on a real cluster; the table
layer's own listings, directory probes and control-file writes go
through here.

The primitives and their object-store equivalents:

=====================  ==========================================
primitive              object-store mapping
=====================  ==========================================
``create_exclusive``   conditional create: S3 ``PUT`` with
                       ``If-None-Match: *`` (CAS since 2024-08),
                       GCS ``x-goog-if-generation-match: 0``,
                       ADLS ``Create`` with conflict failure.
                       This is the writer-fence acquire — the same
                       primitive a lakehouse transaction log's
                       optimistic commit uses.
``atomic_write_text``  plain single-key ``PUT``: object stores
                       replace a key atomically, so the POSIX
                       tmp-file + ``rename`` dance degenerates to
                       one request. Readers see old or new bytes,
                       never torn ones.
``read_text``          ``GET`` (miss -> None). Read-after-write
                       consistency is required and is provided by
                       S3/GCS/ADLS today.
``remove`` / ``move``  ``DELETE``; and for ``move``: object stores
                       have NO atomic rename — single-FILE moves
                       become copy+delete (see ``move``), and no
                       whole-table commit moves a directory.
``walk``               one recursive LIST (``prefix=root/``, no
                       delimiter), grouped by key prefix into the
                       same (dir, subdirs, names) triples.
``size``               the object's Content-Length, from the same
                       LIST that named it.
``rmdir``              nothing to do: a prefix with no keys under it
                       does not exist.
=====================  ==========================================

Reference tie: the reference delegates all of this to managed services
(S3 keys written once by the Lambda relay, Redshift's own txn layer —
``write_dynamodb_stream_to_s3_lambda/handler.py``,
``load_s3_files_from_dynamodb_stream_to_redshift_lambda/handler.py``);
a self-hosted engine owns the primitives explicitly.
"""

from __future__ import annotations

import os


def makedirs(path: str) -> None:
    os.makedirs(path, exist_ok=True)


# Does the backing store rename a whole DIRECTORY atomically? True on
# POSIX; an object-store port sets this False (stores have prefixes,
# not directories — no multi-key atomic operation exists). The one
# coordination caller that WANTS a directory rename
# (``fileset.invalidate``'s single-step log drop) branches on this to
# its portable poison-marker protocol instead; everything else in the
# coordination layer already rides single-key primitives.
ATOMIC_DIR_RENAME: bool = True


def rename_dir(src: str, dst: str) -> None:
    """Atomically rename directory ``src`` onto the non-existent
    ``dst`` — the POSIX fast path ``fileset.invalidate`` uses to make a
    log disappear in one step. Callers MUST check
    ``ATOMIC_DIR_RENAME`` first and take their documented portable
    protocol when it is False; raising here (rather than silently
    copy+deleting) keeps 'atomic' honest — a non-atomic emulation would
    re-open exactly the torn-state windows the caller used the rename
    to close."""
    if not ATOMIC_DIR_RENAME:
        raise NotImplementedError(
            "no atomic directory rename on this store"
        )
    os.rename(src, dst)


def create_exclusive(path: str, data: bytes) -> bool:
    """Create ``path`` with ``data`` iff it does not already exist —
    the atomic compare-and-swap every lock acquire rides. Returns False
    when the path already exists (somebody else holds it). The create
    and the content write are two steps on POSIX; a reader catching the
    in-between sees an EMPTY file and must treat it as held-but-torn
    (the lock code's conservative 'alive' verdict). On an object store
    the conditional PUT carries the content atomically."""
    try:
        fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        return False
    try:
        os.write(fd, data)
    finally:
        os.close(fd)
    return True


def atomic_write_text(path: str, text: str) -> None:
    """Replace ``path``'s content atomically: a crash mid-write must
    never leave torn bytes that poison later reads (markers, manifests
    and sidecars are all parsed). POSIX: UNIQUELY-named sibling tmp +
    rename — a shared tmp name would let two concurrent writers tear
    each other (one replaces while the other is still writing); object
    store: one PUT. A crash can orphan a tmp sibling; every
    coordination file is underscore-prefixed or lives outside Spark's
    listing, so orphans are invisible junk, not phantom data."""
    import uuid

    tmp = f"{path}.tmp.{os.getpid()}.{uuid.uuid4().hex[:6]}"
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, path)


def read_text(path: str) -> str | None:
    """The file's text, or None when it does not exist. Torn content is
    impossible for files written via ``atomic_write_text``; callers of
    files written by ``create_exclusive`` own the torn-read case."""
    try:
        with open(path) as f:
            return f.read()
    except FileNotFoundError:
        return None


def remove(path: str) -> bool:
    """Delete a control file; True if it existed. Never raises on a
    concurrent delete (idempotent, like an object-store DELETE)."""
    try:
        os.remove(path)
        return True
    except FileNotFoundError:
        return False


def move(src: str, dst: str) -> None:
    """Rename ``src`` onto ``dst`` (atomic on POSIX, clobbering).
    Object-store ports: for single FILES this is copy+delete — callers
    must not rely on its atomicity for correctness (the lock adoption
    dance doesn't: exactly-one-adopter comes from the rename-away of a
    uniquely-named source, which copy+delete-if-source-matches can
    emulate, and the final re-create rides ``create_exclusive``'s CAS).
    Whole-table commits flip a version pointer instead of moving a
    directory."""
    os.rename(src, dst)


def listdir(path: str) -> list[str]:
    """Names under ``path`` (non-recursive), [] when it does not
    exist. Object-store mapping: one LIST request with
    ``prefix=path/`` + ``delimiter=/`` — the coordination layer's
    enumerations (live locks under ``__plocks/``, version dirs and
    orphans under a table root, sidecar shards) are all shallow and
    small, so a single page suffices in practice and pagination is the
    provider SDK's problem, not a semantic one. Data-plane listing
    (parquet scans) stays with Spark's Hadoop connectors; recursive
    enumeration is ``walk``. A plain FILE squatting
    ``path`` is an empty listing, not an error — on a store, an object
    at key ``path`` and keys under ``path/`` are unrelated namespaces,
    so the LIST page is simply empty; POSIX's NotADirectoryError is a
    local-ism the mapping erases."""
    try:
        return os.listdir(path)
    except (FileNotFoundError, NotADirectoryError):
        return []


def remove_tree(path: str) -> None:
    """Delete a directory tree, tolerating concurrent deletes and a
    vanishing source (idempotent). Object-store mapping: LIST the
    prefix + batch DELETE — data-plane cleanup, not a coordination
    primitive: every caller's atomicity is carried by a pointer flip
    or lock CAS that PRECEDES the delete (superseded-version GC,
    aborted-commit orphan purge), so partial failure only strands
    junk a later sweep re-collects, never corrupts served state."""
    import shutil

    shutil.rmtree(path, ignore_errors=True)


def publish_exclusive(path: str, text: str) -> bool:
    """Atomically publish COMPLETE content at ``path`` iff it does not
    already exist — the CAS ``create_exclusive`` provides, without its
    torn-read window (there the content lands after the create, so a
    concurrent reader can catch an empty file; lock readers tolerate
    that, log readers must not). POSIX: write a hidden uniquely-named
    sibling, then ``os.link`` it to the target — the link is the atomic
    claim, and the content is complete before it. Object store: one
    conditional PUT (``If-None-Match: *``) carries content and claim in
    a single request, exactly like ``create_exclusive``'s mapping.
    Returns False when the path already exists (CAS lost).

    The tmp write lives INSIDE the try: a failed content write (ENOSPC)
    must not leak the ``.pub.*`` sibling, and a concurrent sweep that
    deletes the tmp between write and link surfaces as the link's own
    FileNotFoundError (the caller's vanished-dir signal) — the cleanup
    in ``finally`` suppresses its own FileNotFoundError so it can never
    REPLACE the link's outcome with a confusing secondary error."""
    import uuid
    from contextlib import suppress

    tmp = os.path.join(
        os.path.dirname(path),
        f".pub.{os.getpid()}.{uuid.uuid4().hex[:6]}",
    )
    try:
        with open(tmp, "w") as f:
            f.write(text)
        os.link(tmp, path)
        return True
    except FileExistsError:
        return False
    finally:
        with suppress(FileNotFoundError):
            os.remove(tmp)


def isdir(path: str) -> bool:
    """True when ``path`` exists as a directory. Object-store mapping:
    LIST with ``prefix=path/`` and ``max-keys=1`` (directories are
    prefixes — a non-empty prefix IS the directory existing).
    Existence checks (commit-log pruning, version availability for
    ``VERSION AS OF``, orphan detection) route here so an object-store
    port swaps one seam."""
    return os.path.isdir(path)


def walk(root: str):
    """Top-down ``(dir, subdirs, names)`` triples under ``root``, like
    ``os.walk``: nothing for a missing root, and a caller that prunes
    ``subdirs`` in place is never handed the pruned subtrees. Lazy, so
    a caller that stops early (an existence probe) lists no further."""
    return os.walk(root)


def size(path: str) -> int | None:
    """Byte size of a file, or None when it does not exist (like
    ``mtime``)."""
    try:
        return os.path.getsize(path)
    except OSError:
        return None


def rmdir(path: str) -> bool:
    """Remove an EMPTY directory; False when it is not empty, is gone,
    or cannot be removed. Callers treat a leftover dir as residue a
    later sweep collects."""
    try:
        os.rmdir(path)
        return True
    except OSError:
        return False


def mtime(path: str) -> float | None:
    """Last-modified time of a control file/dir, or None when it does
    not exist. Object-store mapping: the object's Last-Modified header
    (from the same LIST/HEAD the caller already issued). Used only for
    advisory freshness (GC grace, sidecar freshness keys) — never for
    coordination decisions."""
    try:
        return os.path.getmtime(path)
    except OSError:
        return None
