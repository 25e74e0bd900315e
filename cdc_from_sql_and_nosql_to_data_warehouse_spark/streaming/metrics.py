"""Streaming observability (O4): a StreamingQueryListener capturing
per-batch progress the way the reference prints batch sizes and file
moves (``write_dynamodb_stream_to_s3_lambda/handler.py:25,59``,
``load_s3_files...handler.py:58-61,116-120``) — but structured, queryable,
and per-query instead of buried in CloudWatch logs.

Round-12 (verdict #4): the engine's own health signals route here too,
where a fleet operator actually looks, instead of living as
module-local dicts one grep away from invisible:

- ``engine_health()`` — one queryable snapshot joining the fileset
  layer's LIST-fallback counters (a table silently running without its
  manifest) with the maintenance scheduler's tick outcomes (a
  'configured once, fires forever' loop that is silently failing every
  tick is an outage, not a log line).
- ``PipelineMetrics.held_manifest_triggers()`` — the manifest feed's
  starve-don't-move posture (holding its offset while a source's
  manifest is invalidated) is deliberate reader starvation; the held
  offsets carry an ``h`` flag precisely so this listener can count
  them from query progress.
"""

from __future__ import annotations

import json
import threading

from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

# path -> {"ok": n, "failed": n}: outcomes of scheduled maintenance
# ticks (streaming.manager.schedule_maintenance). Bounded like the
# fileset caches — paths are table roots, a long-lived session over
# many tables must not leak one entry per table forever. Lock-guarded
# (review finding): writers run on micro-batch threads while
# engine_health() reads from wherever the operator calls it — an
# unguarded dict iteration racing an insert/evict raises.
_MAINTENANCE_TICKS: dict = {}
_MAINTENANCE_TICKS_MAX = 64
_TICKS_LOCK = threading.Lock()


def note_maintenance_tick(path: str, ok: bool) -> None:
    """Record one scheduled-maintenance tick outcome (called by
    ``manager.schedule_maintenance``'s foreachBatch body)."""
    with _TICKS_LOCK:
        if path not in _MAINTENANCE_TICKS:
            while len(_MAINTENANCE_TICKS) >= _MAINTENANCE_TICKS_MAX:
                _MAINTENANCE_TICKS.pop(next(iter(_MAINTENANCE_TICKS)))
            _MAINTENANCE_TICKS[path] = {"ok": 0, "failed": 0}
        _MAINTENANCE_TICKS[path]["ok" if ok else "failed"] += 1


def maintenance_tick_counts() -> dict:
    """{table path: {"ok": n, "failed": n}} for this session's
    scheduled maintenance ticks."""
    with _TICKS_LOCK:
        return {k: dict(v) for k, v in _MAINTENANCE_TICKS.items()}


def engine_health() -> dict:
    """One queryable snapshot of the engine's session-level health
    counters — what an operator checks before trusting a fleet:

    - ``fileset_list_fallbacks``: per data dir, reads that found a
      PRESENT-but-unusable fileset log and fell back to the directory
      LIST (``fileset.fallback_counts``) — each is a table paying
      O(files) listings again; remediation is
      ``maintenance.repair_relocated_log`` or a re-swap.
    - ``maintenance_ticks``: per table, scheduled-maintenance tick
      outcomes; a non-zero ``failed`` with ``ok`` not advancing means
      the retention loop is dead in practice while the query runs."""
    from ..operators import fileset

    return {
        "fileset_list_fallbacks": fileset.fallback_counts(),
        "maintenance_ticks": maintenance_tick_counts(),
    }


@dataclass
class BatchMetric:
    query_name: str | None
    batch_id: int
    num_input_rows: int
    sink_description: str
    watermark: str | None
    # one endOffset JSON string per source, in progress order — lets
    # helpers below answer source-protocol questions (held manifest
    # offsets) without a second listener
    source_end_offsets: list = field(default_factory=list)
    # Spark's per-phase wall time for this trigger (``durationMs``):
    # latestOffset, walCommit, addBatch, commitOffsets, triggerExecution…
    duration_ms: dict = field(default_factory=dict)


@dataclass
class PipelineMetrics(StreamingQueryListener):
    """Collects one BatchMetric per completed micro-batch.

    Attach with ``spark.streams.addListener(metrics)``; totals answer
    the reference's observability questions (how many records per
    trigger, did the batch make progress) without driver-side counts in
    the data path, and ``phase_ms`` says where the triggers' time went.
    """

    batches: list[BatchMetric] = field(default_factory=list)

    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        self.batches.append(
            BatchMetric(
                query_name=p.name,
                batch_id=p.batchId,
                num_input_rows=p.numInputRows,
                sink_description=p.sink.description,
                watermark=(p.eventTime or {}).get("watermark"),
                source_end_offsets=[
                    s.endOffset for s in p.sources if s.endOffset
                ],
                duration_ms=dict(p.durationMs),
            )
        )

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def total_input_rows(self, query_name: str | None = None) -> int:
        return sum(
            b.num_input_rows
            for b in self.batches
            if query_name is None or b.query_name == query_name
        )

    def phase_ms(self, phase: str, query_name: str | None = None) -> int:
        """Total ms Spark reported for one trigger phase (a
        ``durationMs`` key such as ``walCommit``) over the collected
        batches; a batch that did not run the phase adds 0."""
        return sum(
            b.duration_ms.get(phase, 0)
            for b in self.batches
            if query_name is None or b.query_name == query_name
        )

    def held_manifest_triggers(
        self, query_name: str | None = None
    ) -> int:
        """Micro-batches whose manifest-feed source HELD its offset
        because the source table's manifest vanished mid-stream (the
        starve-don't-move posture, ``manifest_source`` module doc): the
        held offset carries ``h: 1``. Also counts the RESTARTED shape
        of the same episode (review finding): a query that restarts
        into a still-vanished manifest commits the regressed offset
        ``{v, b: -1, e: ''}`` and then never calls partitions again,
        so no ``h``-flagged offset is ever emitted for the rest of the
        outage — the ``b: -1`` end offset itself is the starvation
        signal there (the manifest feed is only ever selected for
        tables that HAVE a manifest, so a feed offset that cannot name
        a log tip means the manifest is gone). One counted batch per
        hold episode per trigger-advance — a growing count means a
        source table was invalidated and never re-swapped, and its
        consumers are starving by design; remediation is a
        swap/compaction on the source (records a fresh manifest
        base)."""
        n = 0
        for b in self.batches:
            if query_name is not None and b.query_name != query_name:
                continue
            for raw in b.source_end_offsets:
                try:
                    off = json.loads(raw)
                except (TypeError, ValueError):
                    continue
                if isinstance(off, dict) and (
                    off.get("h")
                    or (off.get("v") is not None and off.get("b") == -1)
                ):
                    n += 1
                    break
        return n
