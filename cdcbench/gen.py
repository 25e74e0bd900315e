"""Seeded input generators for the CDC benchmark.

Everything here is plain Python: the engine only ever sees the files
these functions write, and the references in ``reference.py`` consume
the same plain records.

Determinism: every stream is drawn from ``random.Random`` seeded by a
string derived from the CLI seed, the workload and the round number, so
the same seed always yields byte-identical files. Record timestamps come from a logical clock
(``BASE_TS_MS + seq``); the wall-clock moment a file lands is recorded
by the harness, not written into the file.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field

BASE_TS_MS = 1_700_000_000_000

# --- W1: binlog-style changes to a txns-shaped table -----------------------

TXN_SHARDS = 8


def txn_key(idx: int) -> str:
    return f"acct{idx:06d}"


def txn_shard(idx: int) -> int:
    return idx % TXN_SHARDS


def _zipf_cum_weights(n: int, s: float) -> list[float]:
    acc, out = 0.0, []
    for k in range(1, n + 1):
        acc += 1.0 / k**s
        out.append(acc)
    return out


@dataclass
class Change:
    """One plain change record: op in INSERT/MODIFY/REMOVE, the full row
    image (for REMOVE: the before-image DMS emits), and a unique seq."""

    op: str
    key: str
    row: dict
    seq: int

    def envelope(self) -> dict:
        return {
            "op": self.op,
            "key": self.key,
            "after": self.row,
            "ts_ms": BASE_TS_MS + self.seq,
            "seq": self.seq,
        }


@dataclass
class SqlChangeGen:
    """Stream of binlog-style ticks for one round of W1.

    Keys are Zipf-skewed over ``N_KEYS``; a key's shard is fixed (the
    partition column must be immutable per key). Each tick holds
    ``per_tick`` fresh changes in shuffled order; ``LATE_FRAC`` of them
    are held back one tick, so their seq is below seqs already applied
    (out-of-order delivery). With probability ``REPLAY_PROB`` a tick
    instead re-delivers an earlier tick verbatim (at-least-once).
    """

    N_KEYS = 2000
    ZIPF_S = 1.1
    LATE_FRAC = 0.05
    REPLAY_PROB = 0.15

    seed: str
    per_tick: int = 500
    rng: random.Random = field(init=False)
    live: dict = field(init=False, default_factory=dict)
    seq: int = field(init=False, default=0)
    held: list = field(init=False, default_factory=list)
    delivered: list = field(init=False, default_factory=list)

    def __post_init__(self):
        self.rng = random.Random(self.seed)
        self._cum = _zipf_cum_weights(self.N_KEYS, self.ZIPF_S)
        # Zipf rank -> key index, permuted so hot keys spread over shards
        self._rank_to_idx = list(range(self.N_KEYS))
        self.rng.shuffle(self._rank_to_idx)

    def _row(self, idx: int, seq: int) -> dict:
        r = self.rng
        deposit = r.random() < 0.5
        amt = round(r.uniform(1, 50_000), 2)
        return {
            "id": txn_key(idx),
            "shard": txn_shard(idx),
            "account_no": f"4090006{idx % 97:05d}",
            "txn_date": f"2017-{1 + seq % 12:02d}-{1 + seq % 28:02d}",
            "details": f"{'TRF FROM' if deposit else 'ATM WITHDRAWAL'} {seq}",
            "chip_used": not deposit,
            "withdrawal_amt": None if deposit else amt,
            "deposit_amt": amt if deposit else None,
            "balance_amt": round(r.uniform(0, 5_000_000), 2),
        }

    def _fresh_change(self) -> Change:
        idx = self._rank_to_idx[
            self.rng.choices(range(self.N_KEYS), cum_weights=self._cum)[0]
        ]
        key = txn_key(idx)
        self.seq += 1
        roll = self.rng.random()
        if key in self.live:
            op = "MODIFY" if roll < 0.75 else "REMOVE"
        else:
            # a REMOVE of a key that is not there: must be a no-op
            op = "INSERT" if roll < 0.9 else "REMOVE"
        row = self._row(idx, self.seq) if op != "REMOVE" else self.live.get(
            key, self._row(idx, self.seq)
        )
        if op == "REMOVE":
            self.live.pop(key, None)
        else:
            self.live[key] = row
        return Change(op, key, row, self.seq)

    def next_tick(self) -> tuple[list[Change], bool]:
        """Return (changes in file order, is_replay)."""
        if self.delivered and self.rng.random() < self.REPLAY_PROB:
            return list(self.rng.choice(self.delivered)), True
        fresh = [self._fresh_change() for _ in range(self.per_tick)]
        n_late = int(len(fresh) * self.LATE_FRAC)
        late = self.rng.sample(fresh, n_late)
        late_ids = {id(c) for c in late}
        batch = self.held + [c for c in fresh if id(c) not in late_ids]
        self.held = late
        self.rng.shuffle(batch)
        self.delivered.append(batch)
        return batch, False


TXN_COLUMNS = [
    "id", "shard", "account_no", "txn_date", "details", "chip_used",
    "withdrawal_amt", "deposit_amt", "balance_amt",
]


def envelope_lines(changes: list[Change]) -> str:
    return "".join(json.dumps(c.envelope(), sort_keys=True) + "\n" for c in changes)


# --- W2: DynamoDB stream records shaped like trades.json -------------------

DDB_SEQ_BASE = 10**20  # DynamoDB sequence numbers are 21+ digit strings


def ddb_value(v):
    """Plain value -> DynamoDB-JSON wire value (independent of the engine)."""
    if v is None:
        return {"NULL": True}
    if isinstance(v, bool):
        return {"BOOL": v}
    if isinstance(v, (int, float)):
        return {"N": repr(v)}
    if isinstance(v, str):
        return {"S": v}
    if isinstance(v, list):
        return {"L": [ddb_value(x) for x in v]}
    if isinstance(v, dict):
        return {"M": {k: ddb_value(x) for k, x in v.items()}}
    raise TypeError(type(v))


@dataclass
class StreamEvent:
    event: str  # INSERT / MODIFY / REMOVE
    image: dict  # REMOVE carries the key only
    seq: int

    def record(self) -> dict:
        return {
            "eventName": self.event,
            "dynamodb": {
                "NewImage": {k: ddb_value(v) for k, v in self.image.items()},
                "SequenceNumber": str(DDB_SEQ_BASE + self.seq),
                "ApproximateCreationDateTime": BASE_TS_MS + self.seq,
            },
        }


@dataclass
class TradeStreamGen:
    """Stream of DynamoDB-stream ticks for one round of W2: nested,
    sparse trade documents; INSERT of new ids, MODIFY of live ids,
    REMOVE of live ids."""

    seed: str
    per_tick: int = 500
    rng: random.Random = field(init=False)
    live: dict = field(init=False, default_factory=dict)
    seq: int = field(init=False, default=0)
    next_id: int = field(init=False, default=0)

    def __post_init__(self):
        self.rng = random.Random(self.seed)

    def _trade(self, tid: str) -> dict:
        r = self.rng
        px = round(r.uniform(10, 500), 2)
        trade = {
            "id": tid,
            "details": {
                "asks": [round(px + r.uniform(0, 1), 2) for _ in range(r.randint(1, 3))],
                "bids": [round(px - r.uniform(0, 1), 2) for _ in range(r.randint(0, 3))],
                "lag": r.randint(0, 5),
            },
            "price": px,
            "shares": r.randint(1, 2000),
            "ticker": r.choice(["abcd", "efgh", "ijkl", "mnop"]),
            "time": {"date": f"2012-03-{r.randint(1, 28):02d}T07:00:00.000Z"},
        }
        if r.random() < 0.8:  # sparse top-level attribute
            trade["ticket"] = f"z{r.randint(100, 999)}"
        if r.random() < 0.7:  # sparse nested attribute
            trade["details"]["system"] = r.choice(["abc", "xyz"])
        return trade

    def next_tick(self) -> list[StreamEvent]:
        out = []
        for _ in range(self.per_tick):
            self.seq += 1
            roll = self.rng.random()
            if self.live and roll < 0.1:
                tid = self.rng.choice(sorted(self.live))
                del self.live[tid]
                out.append(StreamEvent("REMOVE", {"id": tid}, self.seq))
            elif self.live and roll < 0.5:
                tid = self.rng.choice(sorted(self.live))
                self.live[tid] = self._trade(tid)
                out.append(StreamEvent("MODIFY", self.live[tid], self.seq))
            else:
                tid = f"{self.next_id:024x}"
                self.next_id += 1
                self.live[tid] = self._trade(tid)
                out.append(StreamEvent("INSERT", self.live[tid], self.seq))
        return out


def stream_lines(events: list[StreamEvent]) -> str:
    return "".join(json.dumps(e.record(), sort_keys=True) + "\n" for e in events)


# --- landing files ----------------------------------------------------------


def land(feed_dir: str, name: str, text: str) -> None:
    """Write ``text`` under a hidden temp name, then rename it into the
    feed directory, so the stream source never sees a partial file."""
    os.makedirs(feed_dir, exist_ok=True)
    tmp = os.path.join(feed_dir, f".{name}.tmp")
    with open(tmp, "w") as fh:
        fh.write(text)
    os.rename(tmp, os.path.join(feed_dir, name))
