#!/usr/bin/env python
"""Headline benchmark: times the engine's representative queries.

Runs every headline query from the plan registry at
``$SPARK_GRAFT_SF_DIR`` (default ``/root/testdata/sf0.1``) on
``local[$SPARK_GRAFT_CPUS]`` (default 32) and prints ONE JSON line:

    {"metric": "headline_queries_total", "value": N, "unit": "sec",
     "queries": {"q1_pricing_summary": sec, ...}, "sf": 0.1}

Each query is forced with a ``noop``-format write: the sink consumes
every output column (so final projections are computed, unlike under
``count(1)`` where Catalyst prunes them) and the final sort survives
as it would for any real write, but rows are not serialized through
the driver, so the timing measures the engine, not py4j transfer.
Row counts come from an ``Observation`` on the same single execution.
Timed end-to-end including plan compilation. Session setup, parquet
cache, Python-worker start, ANN index builds, and JVM JIT of the
generated code are warmup, not engine time: each query runs once cold
then 2-4 steady times and the MIN of the steady runs is reported
(single samples swing 2-3x under host noise; extra samples are taken
only while the evidence says noise — best steady slower than cold, or
the two best samples >25% apart), with first-run times kept in
``queries_cold``.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from cdc_from_sql_and_nosql_to_data_warehouse_spark.plans import QUERIES
from cdc_from_sql_and_nosql_to_data_warehouse_spark.session import driver_memory

# Representative slice of SURVEY.md §2: scan+agg, joins, windows,
# rollup/cube, set ops, as-of, event-time rollup, CDC apply modes, and
# every north-star LLM-pipeline family (exact/fuzzy dedup, simhash,
# embedding similarity, text analysis).
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "rollup_acctbal_by_region_nation",
    "top3_orders_per_customer",
    # customers_without_orders retired round 10 (registry budget; see
    # plans/analytics.py) — its headline slot keeps the semi/anti-join
    # family via the EXISTS twin. Cross-round totals: comparable cost
    # class (same customer/orders-sized probe), noted in COVERAGE.md.
    "suppliers_with_shipments_semi",
    "pivot_order_status_by_priority",
    "events_hourly_rollup",
    "asof_last_click_before_purchase",
    "cdc_schema_evolution_read",
    "cdc_minmax_aggregate",
    "cdc_streaming_replica_sync",
    "dedup_exact_survivors",
    "dedup_minhash_jaccard_pairs",
    "dedup_simhash_pairs",
    "embedding_cosine_topk",
    "embedding_ivf_topk",
    "text_lang_id_trigram",
    "text_quality_scores",
    "text_bpe_token_counts",
    "json_props_rollup",
    "skew_salted_event_rollup",
    "text_boilerplate_ngrams",
    "multimodal_features",
    # round-4/5 operators with real cost profiles, guarded here so a
    # regression in any of them shows up in the next BENCH_r{N}
    "cdc_scd2_user_history",
    "dedup_fuzzy_clusters",
    "recursive_monthly_order_calendar",
    "daily_orders_vs_events_full_outer",
    "moving_7d_revenue",
    "text_benchmark_contamination",
    "embedding_pq_full_rerank",
    "dedup_incremental_vs_corpus",
    "embedding_incremental_pairs",
    "dedup_span_stats",
    "training_mix_to_weights",
    # round-6 operators
    "cdc_time_travel_read",
    "text_unigram_logprob",
    "training_dsir_importance",
    "cdc_streaming_classified_feed",
    # round-11: the manifest-planned streaming source, end to end
    # (ADDED, not swapped — r11 totals carry one more query than r10;
    # like-for-like cross-round comparison excludes this row, see
    # COVERAGE.md "Bench cross-round comparability (r11)")
    "cdc_streaming_manifest_replica",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("cdc-spark-bench")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # runtime-size-based, so scale-safe (see session.py)
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "64m")
        # local mode: driver == executor; the session factory's default
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    # warmup: touch every table once (parquet footers + OS page cache +
    # JVM/classloader) so per-table first-read cost is not attributed to
    # whichever timed query happens to scan it first
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.config import TESTDATA_TABLES
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.sources.testdata import (
        load_table,
    )

    t_phase = time.perf_counter()

    def _phase(label: str) -> None:
        nonlocal t_phase
        now = time.perf_counter()
        print(f"# phase {label}: {now - t_phase:.1f}s", file=sys.stderr)
        t_phase = now

    for t in TESTDATA_TABLES:
        load_table(spark, sf_dir, t).count()
    QUERIES["cdc_checksum_reconciliation"](spark, sf_dir).collect()
    _phase("table-warmup")
    # ... and spin up the Arrow/Python worker pool (numpy+pandas import in
    # every worker) so the one-time Python-runtime start is not attributed
    # to whichever pandas-UDF query happens to run first. The ANN index
    # build (train-once k-means quantizer, persisted to disk) is likewise
    # a build-time step, not query time.
    _warm = F.pandas_udf(lambda s: s, "double")
    spark.range(1000).repartition(int(cpus)).select(
        _warm(F.col("id").cast("double"))
    ).write.format("noop").mode("overwrite").save()
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    similarity.train_ivf_centroids(emb, n_cells=16, cache_key=sf_dir)
    # index builds for the PQ-rerank headline query (train-once artifacts
    # persisted under the corpus fingerprint — build-time, not query time)
    similarity.train_ivf_centroids(emb, n_cells=8, cache_key=sf_dir)
    similarity.train_pq_codebooks(emb, m=8, n_codes=64, cache_key=sf_dir)
    _phase("index-builds")

    # ... and execute every headline plan once at the TINY scale factor:
    # the wide generated whole-stage-codegen of the dedup/ANN funnels
    # costs double-digit seconds of one-time JVM JIT on first execution
    # (measured: 23.5 s first vs 8.4 s steady for the minhash funnel at
    # sf0.1) — compile time is a property of the JVM, not the engine, so
    # it belongs in warmup. The tiny corpus makes the data cost of this
    # pass negligible while compiling the same generated classes.
    # (skipped when the timed SF IS the tiny one: the pass would only
    # repeat the cold run below)
    warm_sf = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    if os.path.isdir(warm_sf) and not os.path.samefile(warm_sf, sf_dir):
        for name in HEADLINE:
            try:
                QUERIES[name](spark, warm_sf).write.format("noop").mode(
                    "overwrite"
                ).save()
            except Exception as exc:  # a tiny-SF edge case must not kill bench
                print(f"# warmup {name} skipped: {exc}", file=sys.stderr)
            spark.catalog.clearCache()
        _phase("tiny-sf-jit-warmup")

    # Each query is executed three times; the steady number is the MIN
    # of the two post-warmup runs: the first execution at the timed SF compiles
    # that plan's whole-stage-codegen classes (AQE picks size-dependent
    # join strategies, so the tiny-SF warmup above cannot pre-compile
    # every class) — double-digit seconds of one-time JVM JIT for the
    # wide dedup/ANN funnels, a property of the JVM, not the engine, and
    # amortized to zero at the 100 TB design point. Cold (first-run)
    # times are reported alongside under "queries_cold" so the one-time
    # cost stays visible.
    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    for name in HEADLINE:

        def _run_once() -> tuple[float, int]:
            obs = Observation()
            t0 = time.perf_counter()
            (
                QUERIES[name](spark, sf_dir)
                .observe(obs, F.count(F.lit(1)).alias("rows"))
                .write.format("noop")
                .mode("overwrite")
                .save()
            )
            dt = round(time.perf_counter() - t0, 3)
            n = obs.get["rows"]
            # drop persisted blocks a query may have left so the next
            # measurement starts from a clean executor-memory state
            spark.catalog.clearCache()
            return dt, n

        cold[name], n = _run_once()
        # steady = MIN of the post-warmup runs: single warm samples
        # swing 2-3x under host-level noise (measured: 5.8-18.4 s for
        # the same warm query on this box); the min is the standard
        # noise-robust estimator and converges to the true cost on a
        # quiet host. Two samples normally suffice, but noise can hit
        # both consecutively (measured: a 22.9 s "steady" vs 15.1 s
        # cold for a query whose quiet-host steady is ~8 s), so retry
        # up to twice while the evidence says noise: the best steady
        # sample slower than the cold run (structurally impossible —
        # cold includes JIT — so noise hit every steady sample), or the
        # two best samples disagreeing by >25% (best not reproduced).
        samples: list[float] = []
        for _ in range(2):
            samples.append(_run_once()[0])
        while len(samples) < 4:
            ordered = sorted(samples)
            if ordered[0] < 0.5:
                # sub-half-second runs: spread is scheduler/timer
                # jitter, not host noise worth extra samples
                break
            noisy = ordered[0] > cold[name] * 1.05 or (
                ordered[1] > ordered[0] * 1.25
            )
            if not noisy:
                break
            samples.append(_run_once()[0])
        timings[name] = min(samples)
        print(
            f"# {name}: {timings[name]:.3f}s steady / {cold[name]:.3f}s cold"
            f" ({n} rows, {len(samples)} steady samples)",
            file=sys.stderr,
        )

    _phase("timed-loop")
    total = round(sum(timings.values()), 3)
    # The driver records only the last ~2,000 chars of stdout, so the
    # result must be the FINAL line and must fit: cold (first-run)
    # timings go to stderr, and the result line is compact-separated.
    # (BENCH_r05 lost 9 steady values to tail truncation when cold
    # timings shared the stdout line.)
    print(
        json.dumps({"queries_cold": cold}, separators=(",", ":")),
        file=sys.stderr,
    )
    line = json.dumps(
        {
            "metric": "headline_queries_total",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "sf": sf,
        },
        separators=(",", ":"),
    )
    if len(line) > 1800:  # pragma: no cover - defensive; ~1,300 today
        print(f"# result line {len(line)} chars > 1800", file=sys.stderr)
    print(line)


if __name__ == "__main__":
    main()
