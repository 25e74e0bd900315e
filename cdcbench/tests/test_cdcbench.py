"""Self-checks of the benchmark harness; no Spark needed.

    python3 -m pytest cdcbench/tests -q
"""

import json
import os

import pandas as pd

import gen
import harness
import reference as ref
import run
import tracing

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _w1_text(seed, ticks=4):
    g = gen.SqlChangeGen(f"{seed}/w1/0", per_tick=120)
    return "".join(gen.envelope_lines(g.next_tick()[0]) for _ in range(ticks))


def _w2_text(seed, ticks=4):
    g = gen.TradeStreamGen(f"{seed}/w2/0", per_tick=120)
    return "".join(gen.stream_lines(g.next_tick()) for _ in range(ticks))


def test_same_seed_gives_byte_identical_inputs():
    assert _w1_text(7) == _w1_text(7)
    assert _w2_text(7) == _w2_text(7)
    assert _w1_text(7) != _w1_text(8)
    assert _w2_text(7) != _w2_text(8)


def test_generator_covers_replay_late_and_absent_deletes():
    g = gen.SqlChangeGen("3/w1/0", per_tick=50)
    ticks = [g.next_tick() for _ in range(30)]
    assert any(replay for _, replay in ticks)
    applied, late, absent_remove = 0, 0, 0
    live = set()
    for changes, replay in ticks:
        if replay:
            continue
        late += sum(1 for c in changes if c.seq <= applied)
        applied = max(applied, max(c.seq for c in changes))
    for c in sorted((c for t, r in ticks if not r for c in t), key=lambda c: c.seq):
        if c.op == "REMOVE" and c.key not in live:
            absent_remove += 1
        (live.discard if c.op == "REMOVE" else live.add)(c.key)
    assert late > 0 and absent_remove > 0
    assert {c.op for t, _ in ticks for c in t} == {"INSERT", "MODIFY", "REMOVE"}


def _row(key, v):
    return {"id": key, "shard": 0, "account_no": "a", "txn_date": "2017-01-01",
            "details": f"v{v}", "chip_used": False, "withdrawal_amt": None,
            "deposit_amt": float(v), "balance_amt": 1.0}


def test_reference_on_hand_checked_case():
    C = gen.Change
    changes = [
        C("INSERT", "a", _row("a", 1), 1),
        C("INSERT", "b", _row("b", 2), 2),
        C("MODIFY", "a", _row("a", 5), 5),
        C("INSERT", "a", _row("a", 3), 3),   # out of order: older than seq 5
        C("REMOVE", "c", _row("c", 4), 4),   # delete of an absent key
        C("INSERT", "b", _row("b", 2), 2),   # replay of seq 2
        C("REMOVE", "d", _row("d", 9), 9),
        C("INSERT", "d", _row("d", 8), 8),   # arrives after its own delete
    ]
    got = ref.latest_wins(changes).sort_values("id").reset_index(drop=True)
    assert list(got["id"]) == ["a", "b"]
    assert list(got["details"]) == ["v5", "v2"]


def test_a_corrupted_row_fails_the_w1_check():
    g = gen.SqlChangeGen("5/w1/0", per_tick=100)
    events = [c for _ in range(3) for c in g.next_tick()[0]]
    table = ref.latest_wins(events).sample(frac=1.0, random_state=1)  # any order
    table["shard"] = table["shard"].astype("int32")  # Spark's IntegerType
    assert harness.check_txn_table(table, events) is None
    bad = table.copy()
    bad.iloc[0, bad.columns.get_loc("balance_amt")] += 0.01
    assert "differs" in harness.check_txn_table(bad, events)
    assert "differs" in harness.check_txn_table(table.iloc[1:], events)


def test_a_corrupted_row_fails_the_w2_check():
    g = gen.TradeStreamGen("5/w2/0", per_tick=100)
    events = [e for _ in range(3) for e in g.next_tick()]
    rows = [json.loads(json.dumps(r)) for r in ref.appended_images(events)][::-1]
    for r in rows:  # the reader returns absent attributes as nulls
        r.setdefault("ticket", None)
        r["details"].setdefault("system", None)
    assert harness.check_trade_table(rows, events) is None
    rows[3]["details"]["bids"] = rows[3]["details"]["bids"] + [1.0]
    assert "differs" in harness.check_trade_table(rows, events)


def test_vhash_is_order_and_width_insensitive():
    a = pd.DataFrame({"x": [1, 2], "y": ["p", "q"]})
    b = pd.DataFrame({"y": ["q", "p"], "x": pd.Series([2, 1], dtype="int32")})
    assert ref.vhash(a) == ref.vhash(b)


def test_output_carries_exactly_the_benchmark_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == run.END_TO_END
    assert layer == tracing.PER_LAYER
    assert {w["name"] for w in bench["workloads"]} == set(harness.WORKLOADS)


def test_percentile_matches_linear_interpolation():
    xs = [float(i) for i in range(1, 21)]
    assert harness.percentile(xs, 50) == 10.5
    assert harness.percentile(xs, 75) == 15.25


def test_per_layer_counts_only_calls_inside_ticks():
    t = tracing.Tracer()
    with t.span("fsio.listdir"):  # an untimed round set-up's call
        pass
    with t.span("tick", op="r0t0"):
        with t.span("apply.append_to_table"):
            with t.span("fileset.append_batch"):
                with t.span("fsio.publish_exclusive"):
                    pass
    with t.span("check", op="r0t0"):
        with t.span("apply.read_warehouse"):
            with t.span("fileset.read_fileset"):
                with t.span("fsio.read_text"):
                    pass
    m = tracing.per_layer(t, [], {}, 0, 0)
    assert m["apply.calls"] == 1
    assert m["fileset.append_batch.calls"] == 1
    assert m["fileset.read_fileset.calls"] == 0
    assert m["fsio.read_text.calls"] == 0 and m["fsio.listdir.calls"] == 0
    assert m["fsio.calls_per_commit"] == 1
    st = tracing.self_times(t.spans)
    assert st["fileset.append_batch"]["calls"] == 1
    assert st["check/fileset.read_fileset"]["calls"] == 1
    assert st["setup/fsio.listdir"]["calls"] == 1
    assert "fileset.read_fileset" not in st and "fsio.listdir" not in st
