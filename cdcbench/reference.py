"""Independent references for the benchmark's output checks.

Nothing here imports the engine or Spark. Expected warehouse contents
are recomputed from the generator's plain records (pandas for the W1
table state) and compared with what the engine's reader returns through
order-insensitive hashes.
"""

from __future__ import annotations

import hashlib
import json

import pandas as pd

from gen import TXN_COLUMNS, Change, StreamEvent


def vhash(df: pd.DataFrame) -> str:
    """Order-insensitive, type-normalised hash of a flat frame: columns
    sorted by name, timezones dropped, integer widths unified, rows
    sorted, then md5 of the CSV text."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            try:
                df[c] = df[c].dt.tz_localize(None)
            except TypeError:
                pass
        if str(df[c].dtype) in ("int32", "uint32", "int64", "uint64"):
            df[c] = df[c].astype("int64")
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return hashlib.md5(df.to_csv(index=False).encode()).hexdigest()


def _canon(v):
    if isinstance(v, dict):
        return {k: _canon(x) for k, x in v.items() if x is not None}
    if isinstance(v, (list, tuple)):
        return [_canon(x) for x in v]
    if hasattr(v, "tolist"):  # numpy arrays / scalars from Arrow
        return _canon(v.tolist())
    return v


def row_hash(rows: list[dict]) -> str:
    """Order-insensitive hash of nested rows (a multiset): absent and
    null fields are the same, key order is irrelevant."""
    lines = sorted(json.dumps(_canon(r), sort_keys=True) for r in rows)
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def latest_wins(changes: list[Change]) -> pd.DataFrame:
    """Table state after applying ``changes`` (any order, replays
    included) with latest-wins-by-seq and propagated deletes: a key's
    row is the image of its highest-seq change, absent when that change
    is a REMOVE."""
    top: dict[str, Change] = {}
    for c in changes:
        if c.key not in top or c.seq > top[c.key].seq:
            top[c.key] = c
    rows = [c.row for c in top.values() if c.op != "REMOVE"]
    return pd.DataFrame(rows, columns=TXN_COLUMNS)


def appended_images(events: list[StreamEvent]) -> list[dict]:
    """Append-mode warehouse content: every INSERT/MODIFY image, in any
    order, duplicates kept; REMOVE records are dropped by the stream hop."""
    return [e.image for e in events if e.event in ("INSERT", "MODIFY")]
