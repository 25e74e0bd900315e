"""Run one workload of the CDC warehouse benchmark.

    python3 cdcbench/run.py --workload sql_upsert_replica --seed 1 \
        --seconds 20 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` --
the end-to-end metrics of BENCHMARK.json with ``--trace 0``, its
per-layer metrics with ``--trace 1``. Everything the run writes goes
under ``.cdcbench/`` in the current directory; a per-run side file
there (``out/<workload>-seed<n>-trace<t>.json``) keeps the samples,
the set-up breakdown and, for traced runs, the self-time table and the
tracing overhead. See cdcbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

SETUPS = 3  # set-ups per run; setup_s is their median
END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "throughput_per_s": "1/s",
    "peak_rss_mb": "MB",
}


def _stop(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    import harness as H
    import tracing

    root = os.getcwd()
    work = os.path.join(root, ".cdcbench", "work", f"{workload}-seed{seed}-trace{int(trace)}")
    out_dir = os.path.join(root, ".cdcbench", "out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(out_dir, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # spark-submit's launcher JVM would write perf data under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    ev_dir = os.path.join(work, "eventlog") if trace else None
    if ev_dir:
        os.makedirs(ev_dir)

    wl = H.WORKLOADS[workload](seed, work)

    conf = H.session_conf(work, ev_dir)
    tracer = tracing.Tracer() if trace else tracing.NULL_TRACER
    setups, spark = [], None
    try:
        for _ in range(SETUPS):  # the first one also launches the JVM
            t0 = time.perf_counter()
            if spark is not None:
                spark.stop()  # the JVM stays; a new context and session start
            spark = H.new_session(conf)
            t1 = time.perf_counter()
            wl.warmup(spark)
            t2 = time.perf_counter()
            setups.append({"session_start_s": t1 - t0, "warmup_s": t2 - t1,
                           "total_s": t2 - t0})

        if trace:  # spans cover the timed phase only
            from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.fileset import (
                fallback_counts,
            )

            fallbacks0 = sum(fallback_counts().values())
            tracer.listen(spark)
            tracer.install()
            wl.tracer = tracer
        cpu0 = H.cpu_times()
        s = wl.measure(spark, seconds)
        cpu1 = H.cpu_times()
        rss = H.peak_rss_mb()
        if trace:
            tracer.uninstall()
            time.sleep(1.0)  # let the listener bus deliver the last progress
            fallbacks = sum(fallback_counts().values()) - fallbacks0
        app_id = spark.sparkContext.applicationId
    finally:
        if spark is not None:
            _stop(spark)

    lat = s.latencies or [0.0]  # no tick succeeded: correct is false anyway
    tail = H.percentile(lat, wl.tail_pct)
    beyond = sum(1 for x in lat if x > tail)
    e2e = {
        "setup_s": statistics.median(x["total_s"] for x in setups),
        "latency_p50_s": H.percentile(lat, 50.0),
        "latency_tail_s": tail,
        "throughput_per_s": s.records / sum(lat) if s.latencies else 0.0,
        "peak_rss_mb": rss,
    }
    side = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": int(trace),
        "samples": len(s.latencies), "tail_pct": wl.tail_pct, "tail_beyond": beyond,
        "attempted": s.attempted, "failed": s.failed, "failures": s.failures,
        "fail_ratio": s.failed / max(1, s.attempted),
        "latencies_s": s.latencies, "timed_phase_s": s.elapsed,
        # CPU time the hypervisor gave to other guests during the timed
        # phase: a high share explains a slow run on a shared host
        "cpu_steal_share": (cpu1[0] - cpu0[0]) / max(1, cpu1[1] - cpu0[1]),
        "setups": setups, "end_to_end": e2e,
    }
    metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    if trace:
        jobs = tracing.read_event_log(os.path.join(ev_dir, app_id))
        session = {
            "session.launch_s": setups[0]["session_start_s"],
            "session.start_s": statistics.median(x["session_start_s"] for x in setups),
            "session.warmup_s": statistics.median(x["warmup_s"] for x in setups),
        }
        layer = tracing.per_layer(tracer, jobs, session, wl.feed_bytes, fallbacks)
        untraced_path = os.path.join(out_dir, f"{workload}-seed{seed}-trace0.json")
        overhead = None
        if os.path.exists(untraced_path):
            with open(untraced_path) as fh:
                base = json.load(fh)["end_to_end"]
            overhead = {k: e2e[k] - base[k] for k in e2e}
        side.update({
            "per_layer": layer,
            "self_times": tracing.self_times(tracer.spans),
            "tracing_overhead": overhead,
            "spans": len(tracer.spans), "jobs": len(jobs),
            "progress_events": len(tracer.progress),
        })
        metrics = {k: {"value": layer[k], "unit": u} for k, u in tracing.PER_LAYER.items()}
    side_path = os.path.join(out_dir, f"{workload}-seed{seed}-trace{int(trace)}.json")
    with open(side_path, "w") as fh:
        json.dump(side, fh, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)
    print(f"cdcbench: {workload} seed={seed} samples={len(s.latencies)} "
          f"tail=p{wl.tail_pct:g} ({beyond} beyond) attempted={s.attempted} "
          f"failed={s.failed} check={'PASS' if not s.failed else 'FAIL'} "
          f"side_file={os.path.relpath(side_path, root)}")
    for f in s.failures:
        print(f"cdcbench: FAILED {f}")
    return {"correct": s.failed == 0, "attempted": s.attempted,
            "failed": s.failed, "metrics": metrics}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    sys.path.insert(1, os.getcwd())
    try:
        import cdc_from_sql_and_nosql_to_data_warehouse_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"cdcbench: cannot import the engine from {os.getcwd()}: {exc}",
              file=sys.stderr)
        return 2
    import harness

    if args.workload not in harness.WORKLOADS:
        print(f"cdcbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(harness.WORKLOADS)}", file=sys.stderr)
        return 2
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
