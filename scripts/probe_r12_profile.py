#!/usr/bin/env python
"""Round-12 optimization profiling: per-STAGE wall clock inside the
heaviest headline queries, so the optimization targets the stage that
actually costs (guide §1: measure first, isolate with the noop sink).

Usage: python scripts/probe_r12_profile.py [minhash|incremental|cdc|
       streaming|simhash|span|all]

Each stage is timed with the noop sink and labeled via
setJobDescription; results print as one line per stage.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession, functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def session() -> SparkSession:
    return (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("r12-profile")
        .config("spark.sql.shuffle.partitions", CPUS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "64m")
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def timed(spark, label: str, fn, n: int = 2):
    """fn() -> DataFrame; runs once cold + n steady, prints min steady."""
    spark.sparkContext.setJobDescription(label)
    cold = noop(fn())
    samples = [noop(fn()) for _ in range(n)]
    spark.catalog.clearCache()
    print(f"{label}: {min(samples):.3f}s steady / {cold:.3f}s cold")
    spark.sparkContext.setJobDescription(None)
    return min(samples)


def profile_minhash(spark) -> None:
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators import (
        dedup as DD,
    )
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.plans.llm_queries import (
        _docs,
    )

    docs = _docs(spark, SF_DIR)
    rows, bands, max_diff = DD._minhash_geometry(0.9, 128, None)
    print(f"# geometry: rows={rows} bands={bands} max_diff={max_diff}")

    def shingled():
        return DD.hashed_shingles(docs, "doc_id", "text", 1)

    timed(spark, "mh1-shingle-hash", shingled)

    def sigs():
        return shingled().select(
            "doc_id",
            DD.minhash_signature("_sh", 128, 42).alias("_sig"),
        )

    timed(spark, "mh2-signature", sigs)

    def banded():
        s = shingled().select(
            "doc_id", DD.minhash_signature("_sh", 128, 42).alias("_sig")
        )
        return s.select(
            "doc_id",
            DD._pack_low2("_sig", 128).alias("_psig"),
            F.explode(DD.lsh_bands(F.col("_sig"), bands, rows)).alias("bb"),
        ).select("doc_id", "_psig", "bb.band", "bb.bucket")

    timed(spark, "mh3-banded", banded)

    # full candidate stage (eager: runs at plan build)
    def cands():
        t0 = time.perf_counter()
        out = DD._bucket_join_pairs(
            banded(),
            "doc_id",
            pair_filter=lambda sa, sb: DD._lane2_disagreements(
                4, f"_psig{sa}", f"_psig{sb}"
            )
            <= max_diff,
            carry=("_psig",),
        )
        build = time.perf_counter() - t0
        print(f"  mh4 candidate build(eager): {build:.3f}s")
        return out

    timed(spark, "mh4-candidates", cands)

    def full():
        return DD.minhash_near_dup_pairs(
            docs, "doc_id", "text", threshold=0.9, ngram=1
        ).orderBy("id_a", "id_b")

    timed(spark, "mh5-full-funnel", full)


def profile_incremental(spark) -> None:
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators import (
        dedup as DD,
        similarity as SIM,
    )
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.plans.llm_queries import (
        _docs,
    )

    docs = _docs(spark, SF_DIR)
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    new = docs.filter(F.col("doc_id") % 20 == 0)
    fp = SIM._corpus_fingerprint(f"{SF_DIR}::minhash_inc")
    index_path = os.path.join(SIM._index_cache_dir(), f"minhash_{fp}")
    t0 = time.perf_counter()
    if DD.minhash_index_meta(index_path) is None:
        DD.build_minhash_index(
            corpus, "doc_id", "text", index_path, threshold=0.9, ngram=1
        )
        print(f"inc0-index-build: {time.perf_counter() - t0:.3f}s")
    else:
        print("inc0-index-build: cached")

    def probe():
        return DD.incremental_near_dup_pairs(
            spark, index_path, new, "doc_id", "text"
        ).orderBy("corpus_id", "new_id")

    timed(spark, "inc1-probe-full", probe)

    # probe sub-stages
    meta = DD.minhash_index_meta(index_path)
    geo = (meta["ngram"], meta["num_hashes"], meta["seed"], meta["rows"], meta["bands"])

    def batch_proj():
        sh, _ = DD._minhash_projections(new, "doc_id", "text", *geo)
        return sh

    timed(spark, "inc2-batch-shingle", batch_proj)

    def batch_banded():
        sh, _ = DD._minhash_projections(new, "doc_id", "text", *geo)
        _, banded = DD._minhash_projections(
            new, "doc_id", "text", *geo, shingled=sh
        )
        return banded

    timed(spark, "inc3-batch-banded", batch_banded)

    def corpus_scan():
        return spark.read.parquet(os.path.join(index_path, "banded"))

    timed(spark, "inc4-corpus-banded-scan", corpus_scan)


def profile_cdc(spark) -> None:
    """Wall-clock split of the apply-machinery certificates."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.apply import (
        apply_changes,
        read_warehouse,
    )
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.sources.testdata import (
        load_table,
    )

    ev = load_table(spark, SF_DIR, "events")
    op = (
        F.when(F.col("event_type") == "signup", "INSERT")
        .when(F.col("event_type") == "error", "REMOVE")
        .otherwise("MODIFY")
    )
    env = ev.select(
        F.col("user_id").cast("string").alias("key"),
        op.alias("op"),
        F.struct(F.col("user_id"), F.col("event_id"), F.col("value")).alias(
            "after"
        ),
        F.concat(
            F.date_format(F.col("ts"), "yyyyMMddHHmmssSSSSSS"),
            F.lpad(F.col("event_id").cast("string"), 12, "0"),
        ).alias("seq"),
        (F.col("event_id") % 3).alias("_batch"),
    )
    for trial in range(2):
        wh = tempfile.mkdtemp(prefix="r12_cdc_prof_")
        try:
            t_all = time.perf_counter()
            for b in (1, 2, 0):
                t0 = time.perf_counter()
                spark.sparkContext.setJobDescription(f"apply-upsert-b{b}")
                apply_changes(
                    spark,
                    env.filter(F.col("_batch") == b).drop("_batch"),
                    wh,
                    "user_id",
                    mode="upsert",
                    propagate_deletes=True,
                )
                print(f"  apply upsert b{b}: {time.perf_counter() - t0:.3f}s")
            t0 = time.perf_counter()
            out = read_warehouse(spark, wh).orderBy("user_id")
            out.write.format("noop").mode("overwrite").save()
            print(f"  read_warehouse+noop: {time.perf_counter() - t0:.3f}s")
            print(
                f"cdc-upsert-3batches trial{trial}: "
                f"{time.perf_counter() - t_all:.3f}s"
            )
        finally:
            shutil.rmtree(wh, ignore_errors=True)

    # history-mode applies (the streaming sources' write path)
    for trial in range(2):
        wh = tempfile.mkdtemp(prefix="r12_cdc_prof_h_")
        try:
            t_all = time.perf_counter()
            for b in (1, 2, 0):
                t0 = time.perf_counter()
                spark.sparkContext.setJobDescription(f"apply-history-b{b}")
                apply_changes(
                    spark,
                    env.filter(F.col("_batch") == b).drop("_batch"),
                    wh,
                    "user_id",
                    mode="history",
                )
                print(f"  apply history b{b}: {time.perf_counter() - t0:.3f}s")
            print(
                f"cdc-history-3batches trial{trial}: "
                f"{time.perf_counter() - t_all:.3f}s"
            )
        finally:
            shutil.rmtree(wh, ignore_errors=True)


def profile_streaming(spark) -> None:
    """Fixed cost of one streaming lifecycle + the drains."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.apply import (
        apply_changes,
    )
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.streaming.cdf import (
        stream_sync_changes,
    )
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.sources.testdata import (
        load_table,
    )

    ev = load_table(spark, SF_DIR, "events")
    op = (
        F.when(F.col("event_type") == "signup", "INSERT")
        .when(F.col("event_type") == "error", "REMOVE")
        .otherwise("MODIFY")
    )
    env = ev.select(
        F.col("user_id").cast("string").alias("key"),
        op.alias("op"),
        F.struct(
            F.col("user_id"), F.col("event_id"), F.col("event_type"),
            F.col("value"),
        ).alias("after"),
        F.concat(
            F.date_format(F.col("ts"), "yyyyMMddHHmmssSSSSSS"),
            F.lpad(F.col("event_id").cast("string"), 12, "0"),
        ).alias("seq"),
        (F.col("event_id") % 2).alias("_wave"),
    )
    for manifest in (False, True):
        for trial in range(2):
            work = tempfile.mkdtemp(prefix="r12_stream_prof_")
            src, dst, ck = f"{work}/src", f"{work}/dst", f"{work}/ck"
            try:
                t0 = time.perf_counter()
                apply_changes(
                    spark, env.filter(F.col("_wave") == 0).drop("_wave"),
                    src, "user_id", mode="history",
                )
                t1 = time.perf_counter()
                stream_sync_changes(
                    spark, src, dst, ck, "user_id",
                    plan_from_manifest=manifest,
                ).awaitTermination()
                t2 = time.perf_counter()
                apply_changes(
                    spark, env.filter(F.col("_wave") == 1).drop("_wave"),
                    src, "user_id", mode="history",
                )
                t3 = time.perf_counter()
                stream_sync_changes(
                    spark, src, dst, ck, "user_id",
                    plan_from_manifest=manifest,
                ).awaitTermination()
                t4 = time.perf_counter()
                print(
                    f"stream manifest={manifest} trial{trial}: "
                    f"apply1={t1 - t0:.3f}s drain1={t2 - t1:.3f}s "
                    f"apply2={t3 - t2:.3f}s drain2={t4 - t3:.3f}s "
                    f"total={t4 - t0:.3f}s"
                )
            finally:
                shutil.rmtree(work, ignore_errors=True)


def profile_simhash(spark) -> None:
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators import (
        dedup as DD,
    )
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.plans.llm_queries import (
        _docs,
    )

    docs = _docs(spark, SF_DIR)

    def sigs():
        return DD.simhash_signatures(docs, "doc_id", "text")

    timed(spark, "sh1-signatures", sigs)

    def full():
        return DD.simhash_near_dup_pairs(
            docs, "doc_id", "text", max_hamming=3
        ).orderBy("id_a", "id_b")

    timed(spark, "sh2-full", full)


def profile_span(spark) -> None:
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators import (
        dedup as DD,
    )
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.plans.llm_queries import (
        _docs,
    )

    docs = _docs(spark, SF_DIR)

    def full():
        return DD.duplicated_span_stats(
            docs, "doc_id", "text", window=20
        ).orderBy("doc_id")

    timed(spark, "span-full", full)


def profile_fuzzy(spark) -> None:
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators import (
        dedup as DD,
    )
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.plans.llm_queries import (
        _docs,
    )

    docs = _docs(spark, SF_DIR)

    def pairs():
        return DD.minhash_near_dup_pairs(
            docs, "doc_id", "text", threshold=0.9, ngram=1
        )

    def full():
        return DD.near_dup_clusters(pairs()).orderBy("doc_id")

    timed(spark, "fz-full", full)

    # clustering alone, on checkpointed pairs
    p = pairs().localCheckpoint(eager=True)

    def cluster_only():
        return DD.near_dup_clusters(p).orderBy("doc_id")

    timed(spark, "fz-cluster-only", cluster_only)


def main() -> None:
    which = sys.argv[1] if len(sys.argv) > 1 else "all"
    spark = session()
    spark.sparkContext.setLogLevel("ERROR")
    targets = {
        "minhash": profile_minhash,
        "incremental": profile_incremental,
        "cdc": profile_cdc,
        "streaming": profile_streaming,
        "simhash": profile_simhash,
        "span": profile_span,
        "fuzzy": profile_fuzzy,
    }
    if which == "all":
        for name, fn in targets.items():
            print(f"== {name} ==")
            fn(spark)
    else:
        targets[which](spark)


if __name__ == "__main__":
    main()
