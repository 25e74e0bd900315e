"""Data-skipping probe: file-level min/max pruning x layout, at sf0.1.

Measures what ``collect_file_stats`` + ``read_skipping`` buy on the
real lineitem table under three layouts of the SAME 64-file table:

- ``natural``: whatever order the source parquet has (write-as-read),
- ``linear``: range-clustered on ship date only,
- ``zorder``: Morton-clustered on (ship date, partkey).

For each layout and each predicate shape (1-d date window, 1-d partkey
window, 2-d conjunction) we record: files kept / total (the object-store
request count a 100 TB scan pays) and the steady wall of the pruned
read vs the unpruned read+filter, count-forced.

Run manually: ``python scripts/probe_data_skipping.py``. Results are
summarized in COVERAGE.md; nothing here runs in CI.
"""

from __future__ import annotations

import datetime
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession, functions as F

from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.layout import (
    collect_file_stats,
    prune_files,
    read_skipping,
    zorder_repartition,
    zorder_scale,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
FILES = 64

# lineitem sf0.1 spans l_shipdate 1995-01..2001-11, l_partkey 0..19999
PREDICATES = {
    "date_window": [
        ("l_shipdate", "between",
         datetime.datetime(1996, 3, 1), datetime.datetime(1996, 3, 31))
    ],
    "partkey_window": [("l_partkey", "between", 1000, 1400)],
    "both": [
        ("l_shipdate", "between",
         datetime.datetime(1996, 3, 1), datetime.datetime(1996, 6, 30)),
        ("l_partkey", "between", 1000, 3000),
    ],
}


def _force(df) -> int:
    return df.count()


def _steady(fn, runs: int = 3) -> float:
    fn()  # cold
    return min(
        (lambda t0: (fn(), time.perf_counter() - t0)[1])(time.perf_counter())
        for _ in range(runs)
    )


def main() -> None:
    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
        )
        .config("spark.sql.shuffle.partitions", "64")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "12g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    li = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))

    work = tempfile.mkdtemp(prefix="skip_probe_")
    try:
        layouts = {}
        epoch = F.lit(datetime.date(1995, 1, 1))
        day = F.datediff(F.col("l_shipdate"), epoch)  # 0..~2,500
        layouts["natural"] = li.repartition(FILES)
        layouts["linear"] = li.repartitionByRange(FILES, "l_shipdate")
        layouts["zorder"] = zorder_repartition(
            li.withColumn("_d", zorder_scale(day, 0, 2500, 16))
            .withColumn("_p", zorder_scale(F.col("l_partkey"), 0, 19999, 16)),
            [F.col("_d"), F.col("_p")],
            FILES,
            bits=16,
        ).drop("_d", "_p")

        stats_cols = ["l_shipdate", "l_partkey"]
        paths = {}
        for name, df in layouts.items():
            p = os.path.join(work, name)
            df.write.parquet(p)
            t0 = time.perf_counter()
            collect_file_stats(spark, p, stats_cols)
            print(f"# stats pass {name}: {time.perf_counter() - t0:.2f}s",
                  file=sys.stderr)
            paths[name] = p

        for pname, preds in PREDICATES.items():
            base = None
            for lname, p in paths.items():
                keep, total = prune_files(p, preds)
                cond = None
                for c, op, *vals in preds:
                    pc = (
                        F.col(c).between(F.lit(vals[0]), F.lit(vals[1]))
                        if op == "between"
                        else F.col(c) >= F.lit(vals[0])
                    )
                    cond = pc if cond is None else cond & pc
                # both closures re-plan from scratch each run (file
                # listing included) — that planning cost is part of what
                # skipping buys
                pruned = _steady(lambda: _force(read_skipping(spark, p, preds)))
                unpruned = _steady(
                    lambda: _force(spark.read.parquet(p).filter(cond))
                )
                n = _force(read_skipping(spark, p, preds))
                if base is None:
                    base = n
                assert n == base, (pname, lname, n, base)  # layout-invariant
                print(
                    f"{pname:16s} {lname:8s} files {len(keep):3d}/{total} "
                    f"pruned {pruned:6.3f}s unpruned {unpruned:6.3f}s "
                    f"rows {n}"
                )
        # Bloom point-lookup on the natural (hash-scattered) layout —
        # the case min/max cannot prune at all
        from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.layout import (
            collect_file_blooms,
        )

        p = paths["natural"]
        t0 = time.perf_counter()
        # ~9.4k rows/file at sf0.1/64 files: 2^18 bits (32 KB/file)
        # holds that at well under 1% fp — size blooms to per-file
        # cardinality, like any bloom index
        collect_file_blooms(spark, p, ["l_orderkey"], num_bits=1 << 18)
        print(f"# bloom build natural: {time.perf_counter() - t0:.2f}s",
              file=sys.stderr)
        key = spark.read.parquet(p).select("l_orderkey").first()[0]
        probe = [("l_orderkey", "=", int(key))]
        keep, total = prune_files(p, probe)
        pruned = _steady(lambda: _force(read_skipping(spark, p, probe)))
        unpruned = _steady(
            lambda: _force(
                spark.read.parquet(p).filter(F.col("l_orderkey") == 300_000)
            )
        )
        print(
            f"{'orderkey_point':16s} {'bloom':8s} files {len(keep):3d}/{total} "
            f"pruned {pruned:6.3f}s unpruned {unpruned:6.3f}s "
            f"rows {_force(read_skipping(spark, p, probe))}"
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main_shard_scale() -> None:
    """``--shard-scale``: the sharded-sidecar scaling leg (round 9).

    Builds a hive-partitioned table at 1x/10x/100x FILE counts (fixed
    files-per-partition, growing partition count — the shape small-file
    pressure takes), then measures, at each scale:

    - full stats collect (the baseline maintenance pass),
    - ACCRETION after appending into ONE partition (must be bounded by
      the touched shard, not the table: the fileset-hash check skips
      every untouched shard without parsing it),
    - COLD partition-scoped prune (fresh process state simulated by
      clearing the parse caches: must load only the surviving
      partition's shard),
    - cold FULL-table prune (the all-shards upper bound, for contrast).
    """
    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
        )
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "12g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators import (
        layout as L,
    )

    work = tempfile.mkdtemp(prefix="shard_scale_probe_")
    try:
        for mult in (1, 10, 100):
            parts = 8 * mult
            files_per_part = 4
            path = os.path.join(work, f"tbl_{mult}x")
            (
                spark.range(parts * files_per_part * 1000)
                .select(
                    (F.col("id") % parts).cast("string").alias("p"),
                    F.col("id").alias("a"),
                )
                .repartition(files_per_part, F.col("id"))
                .write.partitionBy("p")
                .parquet(path)
            )
            t0 = time.perf_counter()
            collect_file_stats(spark, path, ["a"])
            full = time.perf_counter() - t0

            # accrete after touching ONE partition
            (
                spark.range(10)
                .select(F.lit("3").alias("p"), (F.col("id") + 10**9).alias("a"))
                .coalesce(1)
                .write.mode("append")
                .partitionBy("p")
                .parquet(path)
            )
            t0 = time.perf_counter()
            collect_file_stats(spark, path, ["a"], incremental=True)
            accrete = time.perf_counter() - t0

            def cold(preds):
                L._SIDECAR_CACHE.clear()
                t0 = time.perf_counter()
                keep, total = prune_files(path, preds)
                return time.perf_counter() - t0, len(keep), total

            part_wall, pk, pt = cold([("p", "=", "3"), ("a", ">=", 0)])
            full_wall, fk, ft = cold([("a", "<", 100)])
            n_files = parts * files_per_part + 1
            print(
                f"{mult:3d}x files {n_files:>6,} parts {parts:>4}: "
                f"full_collect {full:6.2f}s accrete_1part {accrete:6.2f}s "
                f"cold_prune_1part {part_wall:6.3f}s ({pk}/{pt}) "
                f"cold_prune_all {full_wall:6.3f}s ({fk}/{ft})"
            )
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    if "--shard-scale" in sys.argv:
        main_shard_scale()
    else:
        main()
