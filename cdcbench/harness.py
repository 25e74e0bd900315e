"""Session sizing, process memory, latency statistics and the
workloads of the CDC benchmark.

Each workload is a closed loop with one client: the next tick starts
only after the previous one returned and its output was checked. Ticks
are timed from the moment their feed file lands to the return of the
pipeline call; the output check runs after the clock stops and never
counts toward a latency.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time
from dataclasses import dataclass, field

import gen
import reference as ref
from tracing import NULL_TRACER

# ---------------------------------------------------------------------------
# host sizing and session
# ---------------------------------------------------------------------------


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """A quarter of physical memory, clamped to [1g, 4g]: the workloads
    keep well under 1 GB of live data and the host is shared."""
    with open("/proc/meminfo") as fh:
        total_kb = int(fh.readline().split()[1])
    return f"{max(1, min(4, total_kb // (4 * 1024 * 1024)))}g"


def session_conf(work: str, event_log_dir: str | None) -> dict[str, str]:
    n = host_cpus()
    conf = {
        "spark.master": f"local[{n}]",
        "spark.app.name": "cdcbench",
        "spark.sql.shuffle.partitions": str(n),
        "spark.driver.memory": driver_memory(),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.streaming.schemaInference": "false",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        # C1 only: under C2 ticks keep speeding up for about a dozen
        # ticks, and its background compiles compete with the task
        # threads on a small host; with C1 the JIT settles in one round.
        # Serial GC: G1 grows the heap when its GC time share is high,
        # which depends on CPU contention, so its peak RSS jumped by
        # 350-450 MB between runs; serial GC grows it by the live data.
        # No perf data: the JVM would write it under /tmp, outside the
        # run's directory
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={work}/tmp -Dderby.system.home={work}/tmp "
            "-XX:TieredStopAtLevel=1 -XX:+UseSerialGC -XX:-UsePerfData"),
    }
    if event_log_dir:
        # Spark 4 defaults to a zstd-compressed rolling log; zstandard is
        # not installed, so ask for one plain JSON file per application.
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def new_session(conf: dict[str, str]):
    from pyspark.sql import SparkSession

    b = SparkSession.builder
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _proc_children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def peak_rss_mb() -> float:
    """Sum of peak resident set sizes (VmHWM) of this process and every
    descendant: the driver JVM, the PySpark daemon and its workers."""
    kids = _proc_children()
    todo, total_kb = [os.getpid()], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def cpu_times() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields)


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolated percentile (numpy's default definition)."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = (len(xs) - 1) * pct / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


@dataclass
class Samples:
    """What one timed phase produced."""

    latencies: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    records: int = 0  # change records applied, re-deliveries included
    elapsed: float = 0.0
    failures: list[str] = field(default_factory=list)

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.failures) < 20:
            self.failures.append(what)


def check_txn_table(got, events: list) -> str | None:
    """W1's output check: the table the reader returns against the
    latest-wins reference; None when they match."""
    want = ref.latest_wins(events)
    if set(got.columns) != set(gen.TXN_COLUMNS):
        return f"columns {sorted(got.columns)} differ from {sorted(gen.TXN_COLUMNS)}"
    if ref.vhash(got[gen.TXN_COLUMNS]) != ref.vhash(want):
        return f"table differs from reference ({len(got)} vs {len(want)} rows)"
    return None


def check_trade_table(rows: list[dict], events: list) -> str | None:
    """W2's output check: the appended rows against every INSERT/MODIFY
    image of the round, as a multiset; None when they match."""
    want = ref.appended_images(events)
    if ref.row_hash(rows) != ref.row_hash(want):
        return f"table differs from reference ({len(rows)} vs {len(want)} rows)"
    return None


AWAIT_TIMEOUT_S = 60  # a tick that has not finished by then fails


def _await(tracer, q, hop: str, decode: bool = False) -> None:
    """Wait for an availableNow query; traced runs tag the wait with the
    query's run id (its ``id`` persists across restarts from the same
    checkpoint) so listener progress and jobs can be matched to it."""
    span = (tracer.span("streaming.await", run_id=str(q.runId), hop=hop, decode=decode)
            if tracer.enabled else contextlib.nullcontext())
    with span:
        done = q.awaitTermination(AWAIT_TIMEOUT_S)
    if not done:
        q.stop()
        raise TimeoutError(f"{hop} query still running after {AWAIT_TIMEOUT_S} s")


def _reset(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


def _txn_schema():
    from pyspark.sql import types as T

    return T.StructType([
        T.StructField("id", T.StringType(), False),
        T.StructField("shard", T.IntegerType(), True),
        T.StructField("account_no", T.StringType(), True),
        T.StructField("txn_date", T.StringType(), True),
        T.StructField("details", T.StringType(), True),
        T.StructField("chip_used", T.BooleanType(), True),
        T.StructField("withdrawal_amt", T.DoubleType(), True),
        T.StructField("deposit_amt", T.DoubleType(), True),
        T.StructField("balance_amt", T.DoubleType(), True),
    ])


def _trade_schema():
    from pyspark.sql import types as T

    return T.StructType([
        T.StructField("id", T.StringType(), False),
        T.StructField("details", T.StructType([
            T.StructField("asks", T.ArrayType(T.DoubleType()), True),
            T.StructField("bids", T.ArrayType(T.DoubleType()), True),
            T.StructField("lag", T.LongType(), True),
            T.StructField("system", T.StringType(), True),
        ]), True),
        T.StructField("price", T.DoubleType(), True),
        T.StructField("shares", T.LongType(), True),
        T.StructField("ticker", T.StringType(), True),
        T.StructField("ticket", T.StringType(), True),
        T.StructField("time", T.StructType([
            T.StructField("date", T.StringType(), True)]), True),
    ])


class TickLoop:
    """A closed loop of ticks in rounds of ``ticks_per_round``, each
    round on a fresh empty table. A fixed round length keeps the
    per-tick cost, which can climb as a table accumulates versions, the
    same from run to run. Every timed tick is followed by a check of
    the table against the reference."""

    name = ""
    ticks_per_round = 4
    round_seconds = 20 / 3  # nominal length of one round on a 4-core host
    # changes per tick: the size at which the SQL path's tick cost was
    # first measured (1.4 s per tick, climbing to 2.3 s over 25 ticks)
    per_tick = 500
    # 12 timed ticks per run: the highest percentile with 3 samples
    # beyond it (a p90 would rest on the single slowest tick)
    tail_pct = 75.0

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.tracer = NULL_TRACER
        self.feed_bytes = 0  # bytes of feed files landed by timed ticks
        self.ready = None  # (round, generator) of a first round built by a set-up

    def round_gen(self, round_id):
        """A fresh generator for one round; ``round_id`` seeds it."""
        raise NotImplementedError

    def tick(self, spark, rnd: dict, gen_) -> tuple[float, int]:
        """Land the round's next file and run the pipeline; return
        (latency seconds, change records applied)."""
        raise NotImplementedError

    def check(self, spark, rnd: dict, last: bool) -> str | None:
        """Compare the table with the reference after a tick; ``last``
        marks the round's final tick. None when they match."""
        raise NotImplementedError

    def prepare(self, spark, rnd: dict, gen_) -> None:
        """Untimed round set-up before the round's first timed tick."""

    def _round(self, tag: str) -> dict:
        base = _reset(os.path.join(self.work, f"{self.name}-{tag}"))
        return {"base": base, "events": [], "ticks": 0}

    def new_round(self, spark, round_no: int) -> tuple[dict, object]:
        rnd, g = self._round(f"r{round_no}"), self.round_gen(round_no)
        self.prepare(spark, rnd, g)
        return rnd, g

    def warmup(self, spark) -> None:
        """A new session's first tick: part of every set-up."""
        self.tick(spark, self._round("warmup"), self.round_gen("warmup"))
        self.feed_bytes = 0

    def rounds(self, seconds: float) -> int:
        return max(1, round(seconds / self.round_seconds))

    def measure(self, spark, seconds: float) -> Samples:
        """A fixed amount of work: ``rounds(seconds)`` rounds, so every
        run sees the same tick positions (first write, compaction) equally
        often whatever the host's speed."""
        s = Samples()
        start = time.perf_counter()
        for round_no in range(self.rounds(seconds)):
            if round_no == 0 and self.ready is not None:
                rnd, g = self.ready
            else:
                rnd, g = self.new_round(spark, round_no)
            for t in range(self.ticks_per_round):
                op = f"r{round_no}t{t}"
                s.attempted += 1
                with self.tracer.span("tick", op=op):
                    try:
                        lat, n = self.tick(spark, rnd, g)
                    except Exception as exc:  # counted; the loop goes on
                        s.fail(f"{op}: {type(exc).__name__}: {exc}")
                        continue
                s.latencies.append(lat)
                s.records += n
                # the check reads the table back: traced runs keep its
                # spans apart from the tick's
                with self.tracer.span("check", op=op):
                    bad = self.check(spark, rnd, t == self.ticks_per_round - 1)
                if bad:
                    s.fail(f"{op}: {bad}")
        s.elapsed = time.perf_counter() - start
        return s


class SqlUpsertReplica(TickLoop):
    """W1: binlog changes -> run_envelope_apply (partitioned upsert with
    propagated deletes and a compaction cadence)."""

    name = "sql_upsert_replica"  # 3 rounds, 12 timed ticks at --seconds 20
    compact_every = 4  # the last tick of every round compacts

    def round_gen(self, round_id):
        return gen.SqlChangeGen(f"{self.seed}/w1/{round_id}", per_tick=self.per_tick)

    def tick(self, spark, rnd, g):
        from cdc_from_sql_and_nosql_to_data_warehouse_spark.config import EngineConfig
        from cdc_from_sql_and_nosql_to_data_warehouse_spark.streaming import pipeline

        changes, _replay = g.next_tick()
        cfg = EngineConfig(apply_mode="upsert", propagate_deletes=True,
                           partition_by=["shard"], max_files_per_trigger=1)
        base = rnd["base"]
        text = gen.envelope_lines(changes)
        gen.land(os.path.join(base, "feed"), f"tick{rnd['ticks']:04d}.json", text)
        rnd["ticks"] += 1
        self.feed_bytes += len(text)
        landed = time.perf_counter()
        q = pipeline.run_envelope_apply(
            spark, cfg, os.path.join(base, "feed"), os.path.join(base, "wh"),
            os.path.join(base, "ck"), _txn_schema(), key="id",
            compact_every_n_batches=self.compact_every,
        )
        _await(self.tracer, q, "feed")
        lat = time.perf_counter() - landed
        rnd["events"].extend(changes)
        return lat, len(changes)

    def check(self, spark, rnd, last):
        from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.apply import read_warehouse

        got = read_warehouse(spark, os.path.join(rnd["base"], "wh")).toPandas()
        return check_txn_table(got, rnd["events"])


class NosqlStreamAppend(TickLoop):
    """W2: DynamoDB stream records -> run_stream_to_staging (parity
    naming) -> run_staging_to_warehouse in append mode.

    One round of 12 ticks on one table. The round's set-up, part of every
    session set-up, lands a seeding tick and adopts a fileset manifest
    for the warehouse table, so every timed append extends the log
    (``append_batch``);
    the log's 9th append compacts it and prunes (``prune_log``), which
    every run therefore crosses once, at the same tick. The check counts
    rows after every tick and compares the whole table after the last."""

    name = "nosql_stream_append"
    ticks_per_round = 12
    round_seconds = 20.0

    def round_gen(self, round_id):
        return gen.TradeStreamGen(f"{self.seed}/w2/{round_id}", per_tick=self.per_tick)

    def prepare(self, spark, rnd, g):
        from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.maintenance import (
            adopt_fileset_manifest,
        )

        self.tick(spark, rnd, g)  # its rows stay in the reference
        if not adopt_fileset_manifest(spark, os.path.join(rnd["base"], "wh")):
            raise RuntimeError("the seeding tick left no files to adopt")

    def warmup(self, spark):
        """Every set-up builds the first round's fixture (its seeding
        tick is the session's first tick); the last set-up's round is
        the one timed."""
        self.ready = self.new_round(spark, 0)
        self.feed_bytes = 0

    def tick(self, spark, rnd, g):
        from cdc_from_sql_and_nosql_to_data_warehouse_spark.config import EngineConfig
        from cdc_from_sql_and_nosql_to_data_warehouse_spark.streaming import pipeline

        events = g.next_tick()
        cfg = EngineConfig(apply_mode="append", max_files_per_trigger=1)
        base = rnd["base"]
        text = gen.stream_lines(events)
        gen.land(os.path.join(base, "feed"), f"tick{rnd['ticks']:04d}.json", text)
        rnd["ticks"] += 1
        self.feed_bytes += len(text)
        landed = time.perf_counter()
        schema = _trade_schema()
        _await(self.tracer, pipeline.run_stream_to_staging(
            spark, cfg, os.path.join(base, "feed"), os.path.join(base, "staging"),
            os.path.join(base, "ck1"), schema, parity_naming=True,
        ), "feed", decode=True)
        _await(self.tracer, pipeline.run_staging_to_warehouse(
            spark, cfg, os.path.join(base, "staging"), os.path.join(base, "wh"),
            os.path.join(base, "ck2"), schema,
        ), "staging")
        lat = time.perf_counter() - landed
        rnd["events"].extend(events)
        return lat, len(events)

    def check(self, spark, rnd, last):
        """Row count after every tick (the batch is visible), the whole
        table as a multiset after the last: an append-only table's rows
        never change once written, so the final check covers every
        tick's rows."""
        from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.apply import read_warehouse

        df = read_warehouse(spark, os.path.join(rnd["base"], "wh"))
        if not last:
            want = len(ref.appended_images(rnd["events"]))
            got = df.count()
            return None if got == want else f"{got} rows, reference has {want}"
        rows = [r.asDict(recursive=True) for r in df.collect()]
        return check_trade_table(rows, rnd["events"])


WORKLOADS = {w.name: w for w in (SqlUpsertReplica, NosqlStreamAppend)}
