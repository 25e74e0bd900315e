"""The coordination layer's filesystem seam (fsio): the four
primitives every control file rides, pinned so an object-store port
has an executable contract to hit."""

from __future__ import annotations

import json
import os
import threading

from cdc_from_sql_and_nosql_to_data_warehouse_spark import fsio


def test_create_exclusive_is_a_cas(tmp_path):
    p = str(tmp_path / "lock")
    assert fsio.create_exclusive(p, b"owner-a")
    # the content landed with the create
    assert fsio.read_text(p) == "owner-a"
    # second create must lose and must NOT clobber
    assert not fsio.create_exclusive(p, b"owner-b")
    assert fsio.read_text(p) == "owner-a"
    assert fsio.remove(p)
    assert not fsio.remove(p)  # idempotent, like an object-store DELETE
    assert fsio.create_exclusive(p, b"owner-b")
    assert fsio.read_text(p) == "owner-b"


def test_create_exclusive_exactly_one_winner_under_contention(tmp_path):
    p = str(tmp_path / "contended")
    wins = []

    def contend(i):
        if fsio.create_exclusive(p, f"w{i}".encode()):
            wins.append(i)

    threads = [threading.Thread(target=contend, args=(i,)) for i in range(16)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(wins) == 1
    assert fsio.read_text(p) == f"w{wins[0]}"


def test_atomic_write_never_tears(tmp_path):
    """Concurrent writers of one marker: readers must always see one
    writer's COMPLETE payload, never interleaved bytes (the uniquely-
    named tmp sibling is what prevents it)."""
    p = str(tmp_path / "marker.json")
    payloads = [json.dumps({"writer": i, "fill": "x" * 4096}) for i in range(8)]
    stop = threading.Event()
    torn = []

    def writer(i):
        while not stop.is_set():
            fsio.atomic_write_text(p, payloads[i])

    def reader():
        while not stop.is_set():
            raw = fsio.read_text(p)
            if raw is None:
                continue
            try:
                doc = json.loads(raw)
            except json.JSONDecodeError:
                torn.append(raw[:80])
                return
            if raw not in payloads:
                torn.append(raw[:80])
                return
            assert 0 <= doc["writer"] < 8

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(4)]
    threads += [threading.Thread(target=reader) for _ in range(4)]
    for t in threads:
        t.start()
    import time

    time.sleep(1.0)
    stop.set()
    for t in threads:
        t.join()
    assert not torn, torn[:3]


def test_read_text_and_move(tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    assert fsio.read_text(a) is None
    fsio.atomic_write_text(a, "payload")
    fsio.move(a, b)
    assert fsio.read_text(a) is None
    assert fsio.read_text(b) == "payload"
    # clobbering move, as the swap protocol relies on for tmp->target
    fsio.atomic_write_text(a, "new")
    fsio.move(a, b)
    assert fsio.read_text(b) == "new"


def test_no_orphan_visible_to_spark_listing(tmp_path):
    """A crash can orphan a tmp sibling; every coordination file is
    underscore-prefixed, so the orphan must be too (Spark's listing
    ignores '_'/'.' prefixes)."""
    p = str(tmp_path / "_table_schema.json")
    fsio.atomic_write_text(p, "{}")
    for name in os.listdir(tmp_path):
        assert name.startswith("_"), name


def test_rename_dir_honest_about_atomicity(tmp_path, monkeypatch):
    """rename_dir is the POSIX fast path of fileset.invalidate; on a
    store without atomic directory rename it must REFUSE (callers take
    the poison-marker protocol) rather than silently emulate with a
    non-atomic copy+delete that re-opens the torn-state windows."""
    import pytest

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    os.makedirs(a)
    fsio.rename_dir(a, b)
    assert os.path.isdir(b) and not os.path.exists(a)
    monkeypatch.setattr(fsio, "ATOMIC_DIR_RENAME", False)
    with pytest.raises(NotImplementedError):
        fsio.rename_dir(b, a)
    assert os.path.isdir(b)  # untouched on refusal


def test_listdir_file_squat_is_empty_page(tmp_path):
    """A plain file squatting a listed path is an empty listing, not a
    NotADirectoryError — the object-store LIST mapping (an object at
    key `path` and keys under `path/` are unrelated namespaces)."""
    p = str(tmp_path / "squat")
    with open(p, "w") as f:
        f.write("junk")
    assert fsio.listdir(p) == []


def test_walk_size_rmdir_tolerate_missing_paths(tmp_path):
    d = str(tmp_path / "t")
    os.makedirs(os.path.join(d, "p=1", "skip"))
    with open(os.path.join(d, "p=1", "a.parquet"), "wb") as f:
        f.write(b"xyz")
    seen = []
    for cur, dirs, names in fsio.walk(d):
        dirs[:] = [n for n in dirs if n != "skip"]  # pruned in place
        seen.append((os.path.relpath(cur, d), sorted(names)))
    assert seen == [(".", []), ("p=1", ["a.parquet"])]
    assert list(fsio.walk(str(tmp_path / "missing"))) == []
    assert fsio.size(os.path.join(d, "p=1", "a.parquet")) == 3
    assert fsio.size(os.path.join(d, "gone.parquet")) is None
    assert not fsio.rmdir(os.path.join(d, "p=1"))  # not empty
    assert fsio.rmdir(os.path.join(d, "p=1", "skip"))
    assert not fsio.rmdir(os.path.join(d, "p=1", "skip"))  # already gone
