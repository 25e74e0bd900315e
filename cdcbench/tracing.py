"""Tracing for the benchmark's traced run (``--trace 1``).

Spans are recorded only here, around calls from the harness into the
engine's public functions. ``Tracer.install`` wraps each listed function
and rebinds the wrapper at every import site inside the package (for
example ``streaming/pipeline`` imports ``apply_changes`` by name).
Spans stay in memory and are written out when the run ends.

Spark job data comes from the session's uncompressed, non-rolling event
log; each job is attributed to the innermost span whose interval holds
its submission time, which is sound with one client. Per-trigger
``durationMs`` comes from a ``StreamingQueryListener``.

The per-layer metrics count only spans inside a ``tick`` span: the
harness's output checks and untimed round set-ups call the same engine
functions, and those calls never reach a tick's latency.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import sys
import threading
import time

PKG = "cdc_from_sql_and_nosql_to_data_warehouse_spark"

# layer -> (module, public functions wrapped)
TRACED = {
    "streaming": ("streaming.pipeline",
                  ["run_envelope_apply", "run_stream_to_staging", "run_staging_to_warehouse"]),
    "apply": ("operators.apply",
              ["apply_changes", "append_to_table", "read_warehouse"]),
    "fileset": ("operators.fileset",
                ["append_batch", "read_fileset", "write_base", "prune_log", "invalidate"]),
    "fsio": ("fsio",
             ["makedirs", "rename_dir", "create_exclusive", "atomic_write_text",
              "read_text", "remove", "move", "listdir", "remove_tree",
              "publish_exclusive", "isdir", "mtime"]),
    "maintenance": ("operators.maintenance", ["compact_parquet", "compact_history"]),
}
COMMITS = ("apply.apply_changes", "apply.append_to_table")
DURATIONS = ("latestOffset", "getBatch", "queryPlanning", "addBatch",
             "walCommit", "commitOffsets")

# name -> unit of every per-layer metric, in output order
PER_LAYER = {
    "session.launch_s": "s",
    "session.start_s": "s", "session.warmup_s": "s",
    "sources.records_read": "count", "sources.bytes_read": "bytes",
    "functions.decode_task_ms": "ms",
    "streaming.start_ms": "ms", "streaming.stop_ms": "ms",
    "streaming.triggers": "count", "streaming.empty_triggers": "count",
    **{f"streaming.{d}_ms": "ms" for d in DURATIONS},
    "apply.calls": "count", "apply.busy_ms": "ms", "apply.job_ms": "ms",
    "apply.driver_only_ms": "ms", "apply.jobs": "count", "apply.stages": "count",
    "apply.task_cpu_ms": "ms", "apply.shuffle_write_bytes": "bytes",
    "apply.spill_bytes": "bytes", "apply.rows_in": "count",
    "apply.rows_committed": "count",
    **{f"fileset.{f}.{k}": u for f in TRACED["fileset"][1]
       for k, u in (("calls", "count"), ("ms", "ms"))},
    "fileset.list_fallbacks": "count",
    **{f"fsio.{f}.{k}": u for f in TRACED["fsio"][1]
       for k, u in (("calls", "count"), ("ms", "ms"))},
    "fsio.cas_success_ratio": "ratio", "fsio.calls_per_commit": "count",
    "maintenance.compact.calls": "count", "maintenance.compact.ms": "ms",
    "maintenance.files_before": "count", "maintenance.files_after": "count",
}


class NullTracer:
    enabled = False

    def span(self, name, **attrs):
        return contextlib.nullcontext()


NULL_TRACER = NullTracer()


def _data_files(table: str) -> int:
    """Parquet files in the table's current version (superseded versions
    linger until garbage collection and are not counted)."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.apply import table_data_dir

    n = 0
    for _root, _dirs, files in os.walk(table_data_dir(table)):
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


class Tracer:
    enabled = True

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[dict] = []  # one client: a single shared stack
        self._lock = threading.Lock()
        self._ids = itertools.count(1)
        self._originals: list[tuple] = []
        self.progress: list[dict] = []

    @contextlib.contextmanager
    def span(self, name, **attrs):
        # foreachBatch bodies run on a py4j callback thread while the
        # client thread waits in awaitTermination, so the shared stack
        # still nests them under the waiting span
        with self._lock:
            parent = self._stack[-1] if self._stack else None
            sp = {"id": next(self._ids), "name": name,
                  "parent": parent["id"] if parent else None,
                  "op": attrs.pop("op", None) or (parent["op"] if parent else None),
                  "start": time.time(), **attrs}
            self._stack.append(sp)
        try:
            yield sp
        finally:
            with self._lock:
                sp["end"] = time.time()
                self._stack.remove(sp)
                self.spans.append(sp)

    # -- wrapping -----------------------------------------------------------

    def _wrap(self, layer: str, fn):
        name = f"{layer}.{fn.__name__}"
        tracer = self
        counting = layer == "maintenance"  # compactions: files before/after

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            before = _data_files(args[1]) if counting else None
            with tracer.span(name) as sp:
                out = fn(*args, **kwargs)
                if isinstance(out, bool):
                    sp["result"] = out
            if counting:
                sp["files_before"], sp["files_after"] = before, _data_files(args[1])
            return out

        return wrapper

    def install(self) -> None:
        """Wrap every TRACED function at every import site in the package."""
        import importlib

        for layer, (mod, fns) in TRACED.items():
            home = importlib.import_module(f"{PKG}.{mod}")
            for fn_name in fns:
                orig = getattr(home, fn_name)
                wrapped = self._wrap(layer, orig)
                for m in list(sys.modules.values()):
                    if getattr(m, "__name__", "").startswith(PKG):
                        for attr, val in list(vars(m).items()):
                            if val is orig:
                                setattr(m, attr, wrapped)
                                self._originals.append((m, attr, orig))

    def uninstall(self) -> None:
        for m, attr, orig in reversed(self._originals):
            setattr(m, attr, orig)
        self._originals.clear()

    def listen(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                tracer.progress.append({
                    "run_id": str(p.runId), "batch": p.batchId,
                    "rows": p.numInputRows,
                    "durationMs": dict(p.durationMs),
                    "start": _iso_epoch(p.timestamp),
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(Progress())


def _iso_epoch(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


def read_event_log(path: str) -> list[dict]:
    """Jobs from a Spark event log, each with its interval (epoch s) and
    summed task metrics."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {
                    "start": ev["Submission Time"] / 1e3, "end": None,
                    "stages": set(), "run_ms": 0, "cpu_ms": 0.0,
                    "shuffle_write_bytes": 0, "spill_bytes": 0, "records_written": 0,
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = ev["Job ID"]
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerTaskEnd":
                j = jobs.get(stage_job.get(ev["Stage ID"]))
                m = ev.get("Task Metrics")
                if j is None or not m:
                    continue
                j["stages"].add(ev["Stage ID"])
                j["run_ms"] += m.get("Executor Run Time", 0)
                j["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                j["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0)
                j["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0)
                j["records_written"] += m.get("Output Metrics", {}).get(
                    "Records Written", 0)
    return [j for j in jobs.values() if j["end"] is not None]


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total * 1e3


# ---------------------------------------------------------------------------
# per-layer metrics
# ---------------------------------------------------------------------------


def _top(sp: dict, by_id: dict[int, dict]) -> dict:
    """The outermost ancestor of a span: ``tick``, ``check``, or an
    engine call made by an untimed round set-up."""
    while sp["parent"] in by_id:
        sp = by_id[sp["parent"]]
    return sp


def self_times(spans: list[dict]) -> dict[str, dict]:
    """Per span name: calls, total ms, and self ms (duration minus the
    union of its child spans). Spans inside an output check are keyed
    ``check/<name>`` and those of an untimed round set-up
    ``setup/<name>``, so neither mixes with the ticks' own calls."""
    by_id = {sp["id"]: sp for sp in spans}
    kids: dict[int, list[dict]] = {}
    for sp in spans:
        kids.setdefault(sp["parent"], []).append(sp)
    out: dict[str, dict] = {}
    for sp in spans:
        dur = (sp["end"] - sp["start"]) * 1e3
        child = _union_ms([(max(c["start"], sp["start"]), min(c["end"], sp["end"]))
                           for c in kids.get(sp["id"], [])])
        top = _top(sp, by_id)["name"]
        if top == "tick" or sp["name"] == "check":
            key = sp["name"]
        else:
            key = f"{'check' if top == 'check' else 'setup'}/{sp['name']}"
        agg = out.setdefault(key, {"calls": 0, "total_ms": 0.0, "self_ms": 0.0})
        agg["calls"] += 1
        agg["total_ms"] += dur
        agg["self_ms"] += dur - child
    return out


def per_layer(tracer: Tracer, jobs: list[dict], session: dict, feed_bytes: int,
              fallbacks: int) -> dict[str, float]:
    everything = {s["id"]: s for s in tracer.spans}
    spans = sorted((s for s in tracer.spans if _top(s, everything)["name"] == "tick"),
                   key=lambda s: s["start"])
    by_id = {s["id"]: s for s in spans}

    def chain(sp):
        while sp is not None:
            yield sp
            sp = by_id.get(sp["parent"])

    def owner(job):
        """Innermost span holding the job's submission."""
        best = None
        for sp in spans:
            if sp["start"] > job["start"]:
                break
            if sp["end"] >= job["start"] and (best is None or sp["start"] >= best["start"]):
                best = sp
        return best

    job_spans = [(j, list(chain(owner(j)))) for j in jobs]

    def jobs_under(pred):
        return [j for j, ch in job_spans if any(pred(s) for s in ch)]

    m: dict[str, float] = {k: 0 for k in PER_LAYER}
    m.update(session)

    # streaming: query starts, waits, listener progress of the ticks' runs
    awaits = {s["run_id"]: s for s in spans if s["name"] == "streaming.await"}
    progress = [p for p in tracer.progress if p["run_id"] in awaits]
    last_trigger_end: dict[str, float] = {}
    for p in progress:
        d = p["durationMs"]
        m["streaming.triggers"] += 1
        m["streaming.empty_triggers"] += p["rows"] == 0
        for k in DURATIONS:
            m[f"streaming.{k}_ms"] += d.get(k, 0)
        if awaits[p["run_id"]]["hop"] == "feed":
            m["sources.records_read"] += p["rows"]
        end = p["start"] + d.get("triggerExecution", 0) / 1e3
        last_trigger_end[p["run_id"]] = max(end, last_trigger_end.get(p["run_id"], 0))
    m["sources.bytes_read"] = feed_bytes
    for s in spans:
        if s["name"] in ("streaming.run_envelope_apply", "streaming.run_stream_to_staging",
                         "streaming.run_staging_to_warehouse"):
            m["streaming.start_ms"] += (s["end"] - s["start"]) * 1e3
        if s["name"] == "streaming.await" and s["run_id"] in last_trigger_end:
            m["streaming.stop_ms"] += max(0.0, s["end"] - last_trigger_end[s["run_id"]]) * 1e3
    m["functions.decode_task_ms"] = sum(
        j["run_ms"] for j in jobs_under(
            lambda s: s["name"] == "streaming.await" and s.get("hop") == "feed"
            and s.get("decode")))

    # apply: outermost commit spans
    commits = [s for s in spans if s["name"] in COMMITS
               and not any(a["name"] in COMMITS for a in list(chain(s))[1:])]
    commit_ids = {s["id"] for s in commits}
    m["apply.calls"] = len(commits)
    m["apply.busy_ms"] = sum((s["end"] - s["start"]) * 1e3 for s in commits)
    cj = jobs_under(lambda s: s["id"] in commit_ids)
    clipped = []
    for j, ch in job_spans:
        top = next((s for s in ch if s["id"] in commit_ids), None)
        if top is not None:
            clipped.append((max(j["start"], top["start"]), min(j["end"], top["end"])))
    m["apply.job_ms"] = _union_ms(clipped)
    m["apply.driver_only_ms"] = m["apply.busy_ms"] - m["apply.job_ms"]
    m["apply.jobs"] = len(cj)
    m["apply.stages"] = sum(len(j["stages"]) for j in cj)
    m["apply.task_cpu_ms"] = sum(j["cpu_ms"] for j in cj)
    m["apply.shuffle_write_bytes"] = sum(j["shuffle_write_bytes"] for j in cj)
    m["apply.spill_bytes"] = sum(j["spill_bytes"] for j in cj)
    m["apply.rows_committed"] = sum(j["records_written"] for j in cj)
    for p in progress:
        end = p["start"] + p["durationMs"].get("triggerExecution", 0) / 1e3
        if any(p["start"] <= s["start"] <= end for s in commits):
            m["apply.rows_in"] += p["rows"]

    # fileset, fsio, maintenance: call counts and wall time per function
    st = self_times(spans)
    for layer in ("fileset", "fsio"):
        for fn in TRACED[layer][1]:
            agg = st.get(f"{layer}.{fn}", {"calls": 0, "total_ms": 0.0})
            m[f"{layer}.{fn}.calls"] = agg["calls"]
            m[f"{layer}.{fn}.ms"] = agg["total_ms"]
    m["fileset.list_fallbacks"] = fallbacks
    cas = [s for s in spans if s["name"] == "fsio.create_exclusive"]
    m["fsio.cas_success_ratio"] = (
        sum(1 for s in cas if s.get("result")) / len(cas) if cas else 0)
    n_fsio = sum(1 for s in spans if s["name"].startswith("fsio."))
    m["fsio.calls_per_commit"] = n_fsio / len(commits) if commits else 0
    for s in spans:
        if s["name"].startswith("maintenance."):
            m["maintenance.compact.calls"] += 1
            m["maintenance.compact.ms"] += (s["end"] - s["start"]) * 1e3
            m["maintenance.files_before"] += s["files_before"]
            m["maintenance.files_after"] += s["files_after"]

    return m
