"""Scale-posture operators: small-file compaction, salted aggregation,
salted join — each must be result-identical to its plain counterpart."""

from __future__ import annotations
from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.apply import table_data_dir as tdd

import os

import pytest
from pyspark.sql import functions as F

from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.maintenance import compact_parquet, table_stats
from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.skew import salted_agg, salted_join


def _sorted_rows(df):
    return sorted(map(tuple, df.collect()))


def test_compaction_reduces_files_preserves_rows(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.range(10_000).withColumn("v", F.col("id") * 2)
    # simulate streaming appends: many tiny files
    for i in range(20):
        df.filter(F.col("id") % 20 == i).coalesce(1).write.mode("append").parquet(tdd(path))
    before = table_stats(spark, path)
    assert before.n_files >= 20

    rows_before = _sorted_rows(spark.read.parquet(tdd(path)))
    after = compact_parquet(spark, path, target_file_bytes=1 << 30)
    assert after.n_files < before.n_files
    assert after.n_rows == before.n_rows == 10_000
    assert _sorted_rows(spark.read.parquet(tdd(path))) == rows_before


def test_compaction_noop_when_compact(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(100).coalesce(1).write.parquet(tdd(path))
    before = table_stats(spark, path)
    after = compact_parquet(spark, path)
    assert (after.n_files, after.n_rows) == (before.n_files, before.n_rows)


@pytest.mark.parametrize("logged", [False, True], ids=["unlogged", "logged"])
def test_noop_partitioned_compaction_launches_no_job(spark, tmp_path, logged):
    """The no-op partitioned compaction (and ``table_stats``) take the
    row count from parquet footers over the file set Spark would plan:
    the fileset log's files when the table carries one (an unlogged
    junk file is not counted), else the listing. The stats equal the
    count-star ones and no Spark job runs."""
    import glob
    import shutil

    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.maintenance import (
        TableStats,
        adopt_fileset_manifest,
    )

    from .fixtures import run_counting_jobs

    path = str(tmp_path / "t")
    spark.range(300).withColumn("p", F.col("id") % 3).write.partitionBy(
        "p"
    ).parquet(tdd(path))
    if logged:
        assert adopt_fileset_manifest(spark, path) > 0
        src = sorted(glob.glob(f"{tdd(path)}/p=0/*.parquet"))[0]
        shutil.copy(src, os.path.join(tdd(path), "p=0", "part-junk.parquet"))
    files = glob.glob(f"{tdd(path)}/p=*/*.parquet")
    want = TableStats(
        len(files),
        sum(map(os.path.getsize, files)),
        spark.read.parquet(tdd(path)).count(),
    )
    assert want.n_rows == 300
    got, jobs = run_counting_jobs(
        spark,
        lambda: compact_parquet(
            spark, path, partition_by=["p"], min_files_to_compact=1000
        ),
    )
    assert (got, jobs) == (want, 0)
    got, jobs = run_counting_jobs(spark, lambda: table_stats(spark, path))
    assert (got, jobs) == (want, 0)


@pytest.fixture(scope="module")
def skewed(spark):
    # 90% of rows share one key — the classic hot-key shape
    return spark.range(20_000).select(
        F.when(F.col("id") % 10 < 9, "hot").otherwise(
            F.concat(F.lit("cold_"), (F.col("id") % 100).cast("string"))
        ).alias("k"),
        (F.col("id") % 7).cast("double").alias("v"),
        F.col("id"),
    )


def test_salted_agg_equals_plain(spark, skewed):
    plain = skewed.groupBy("k").agg(
        F.sum("v").alias("sv"),
        F.count("*").alias("n"),
        F.min("id").alias("lo"),
        F.max("id").alias("hi"),
    )
    salted = salted_agg(
        skewed,
        ["k"],
        {"sv": ("sum", "v"), "n": ("count", "*"), "lo": ("min", "id"), "hi": ("max", "id")},
        n_salts=16,
    )
    assert _sorted_rows(salted.select("k", "sv", "n", "lo", "hi")) == _sorted_rows(plain)


def test_salted_agg_rejects_non_algebraic(skewed):
    with pytest.raises(ValueError, match="not algebraic"):
        salted_agg(skewed, ["k"], {"m": ("median", "v")})


def test_salted_join_equals_plain(spark, skewed):
    dim = spark.createDataFrame(
        [("hot", 1.5)] + [(f"cold_{i}", float(i)) for i in range(100)],
        ["k", "weight"],
    )
    plain = skewed.join(dim, ["k"])
    salted = salted_join(skewed, dim, ["k"], n_salts=8)
    assert sorted(salted.columns) == sorted(plain.columns)
    cols = sorted(plain.columns)
    assert _sorted_rows(salted.select(cols)) == _sorted_rows(plain.select(cols))


def test_salted_left_join_keeps_unmatched(spark, skewed):
    dim = spark.createDataFrame([("hot", 1.5)], ["k", "weight"])
    plain = skewed.join(dim, ["k"], "left")
    salted = salted_join(skewed, dim, ["k"], n_salts=4, how="left")
    cols = sorted(plain.columns)
    assert _sorted_rows(salted.select(cols)) == _sorted_rows(plain.select(cols))


def test_expire_files_ttl(tmp_path):
    import os
    import time

    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.maintenance import expire_files

    staging = tmp_path / "staging"
    staging.mkdir()
    old = staging / "old__records.json"
    new = staging / "new__records.json"
    keepext = staging / "old_marker.txt"
    for p in (old, new, keepext):
        p.write_text("x")
    t = time.time()
    os.utime(old, (t - 90_000, t - 90_000))      # ~25h old
    os.utime(keepext, (t - 90_000, t - 90_000))
    deleted = expire_files(
        str(staging), max_age_seconds=86_400, suffixes=(".json",)
    )
    assert deleted == [str(old)]
    assert new.exists() and keepext.exists() and not old.exists()


def test_expire_files_tolerates_a_concurrent_sweep(tmp_path, monkeypatch):
    """A file another sweep deletes between the directory walk and the
    age check is skipped, not a FileNotFoundError."""
    import os
    import time

    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators import maintenance

    old = tmp_path / "old__records.json"
    old.write_text("x")
    t = time.time()
    os.utime(old, (t - 90_000, t - 90_000))
    walked = [(str(tmp_path), [], ["gone__records.json", old.name])]
    monkeypatch.setattr(maintenance.os, "walk", lambda _p: iter(walked))
    assert maintenance.expire_files(str(tmp_path), max_age_seconds=86_400) == [
        str(old)
    ]


def test_near_dup_clusters_min_label(spark):
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.dedup import near_dup_clusters

    # two components: {1,2,3,9} via chain, {5,7}; 8 isolated (absent)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 9), (5, 7)], ["id_a", "id_b"]
    )
    got = {
        r["doc_id"]: r["cluster_id"] for r in near_dup_clusters(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 9: 1, 5: 5, 7: 5}


def test_near_dup_clusters_checkpoint_interval_invariant(spark):
    """The batched convergence check (labels monotone non-increasing, so
    equal-to-checkpoint-base ⇒ fixed point) must give identical clusters
    at every cadence — including a long chain that needs several
    propagation rounds."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.dedup import near_dup_clusters

    chain = [(i, i + 1) for i in range(1, 40)]  # one 40-node chain
    pairs = spark.createDataFrame(chain + [(100, 101)], ["id_a", "id_b"])
    expected = {
        r["doc_id"]: r["cluster_id"]
        for r in near_dup_clusters(pairs, checkpoint_interval=1).collect()
    }
    assert set(expected.values()) == {1, 100}
    for interval in (2, 5):
        got = {
            r["doc_id"]: r["cluster_id"]
            for r in near_dup_clusters(
                pairs, checkpoint_interval=interval
            ).collect()
        }
        assert got == expected


def test_near_dup_clusters_contraction_equivalence(spark):
    """The star-contraction pre-pass (contract=True, the default) must
    give identical clusters to plain propagation on random graphs —
    including the bridge shape where naive min-neighbor edge KEEPING
    (as opposed to contraction) would split a component."""
    import random

    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.dedup import near_dup_clusters

    cases = [
        # bridge (5,6) between {1,5} and {2,6}: min-neighbor edge
        # selection drops the bridge; contraction must not.
        [(1, 5), (2, 6), (5, 6)],
    ]
    rng = random.Random(13)
    for _ in range(4):
        n = rng.randint(3, 30)
        edges = set()
        for _ in range(rng.randint(2, 50)):
            a, b = rng.sample(range(n), 2)
            edges.add((min(a, b), max(a, b)))
        cases.append(sorted(edges))
    for edges in cases:
        pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
        results = [
            {
                (r["doc_id"], r["cluster_id"])
                for r in near_dup_clusters(
                    pairs, contract=c, driver_finish_max_edges=d
                ).collect()
            }
            # all four paths: ± star contraction x ± central union-find
            # finish (d=0 forces the distributed propagation loop)
            for c in (True, False)
            for d in (1_000_000, 0)
        ]
        assert results[0] == results[1] == results[2] == results[3], edges


def test_fuzzy_dedup_survivors(spark):
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.dedup import fuzzy_dedup_survivors

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),   # dup of 1
            (3, "the quick brown fox jumps over a lazy dog"),     # near-dup
            (4, "completely different content about spark engines"),
        ],
        ["doc_id", "text"],
    )
    kept = sorted(
        r["doc_id"]
        for r in fuzzy_dedup_survivors(docs, "doc_id", "text", threshold=0.7).collect()
    )
    assert kept == [1, 4]  # 2 and 3 fold into cluster 1; 4 unpaired


def test_compaction_after_streaming_appends(spark, tmp_path):
    """Micro-batch append sinks fragment the table; compaction restores
    a sane file count without changing the data."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.apply import apply_changes
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.maintenance import compact_parquet, table_stats
    from pyspark.sql import types as T

    AFTER = T.StructType(
        [T.StructField("id", T.StringType()), T.StructField("v", T.DoubleType())]
    )
    ENV = T.StructType(
        [
            T.StructField("op", T.StringType()),
            T.StructField("key", T.StringType()),
            T.StructField("after", AFTER),
            T.StructField("ts_ms", T.LongType()),
            T.StructField("seq", T.LongType()),
        ]
    )
    wh = str(tmp_path / "wh")
    for batch in range(8):  # 8 micro-batches of appends
        env = spark.createDataFrame(
            [("INSERT", f"k{batch}", {"id": f"k{batch}", "v": float(batch)}, batch, batch)],
            ENV,
        )
        apply_changes(spark, env, wh, "id", mode="append")
    frag = table_stats(spark, wh)
    assert frag.n_files >= 8
    rows = sorted(map(tuple, spark.read.parquet(tdd(wh)).collect()))
    after = compact_parquet(spark, wh, target_file_bytes=1 << 30)
    assert after.n_files < frag.n_files and after.n_rows == 8
    assert sorted(map(tuple, spark.read.parquet(tdd(wh)).collect())) == rows


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Tables bucketed on the join key with equal bucket counts must
    join with ZERO Exchange nodes — the co-located-join contract that
    makes repeated fact-fact joins affordable at 100 TB."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.maintenance import write_bucketed
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.sources.testdata import load_table

    sf = "/root/testdata/sf0.001"
    li = load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    orders = load_table(spark, sf, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    write_bucketed(li, "b_lineitem", ["l_orderkey"], n_buckets=8)
    write_bucketed(orders, "b_orders", ["o_orderkey"], n_buckets=8)
    # at sf0.001 the planner would broadcast these tiny tables and skip
    # the bucketed scan entirely; disable broadcast so the test sees the
    # plan a FACT-FACT join gets at scale (where broadcast is impossible)
    prev_static = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    prev_aqe = spark.conf.get(
        "spark.sql.adaptive.autoBroadcastJoinThreshold", prev_static
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        l = spark.table("b_lineitem")
        o = spark.table("b_orders")
        joined = l.join(o, l.l_orderkey == o.o_orderkey)
        joined.collect()  # finalize AQE
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
        assert joined.count() == li.count()  # inner join, FK complete
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_static)
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", prev_aqe)
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
        spark.sql("DROP TABLE IF EXISTS b_orders")


def test_salted_bucket_pairs_equals_naive_join(spark):
    """_salted_bucket_pairs with a bucket far over the cap must emit
    exactly the naive self-join's pair set — each pair once — while
    splitting the giant bucket across salted sub-blocks."""
    from pyspark.sql import functions as F

    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.dedup import _salted_bucket_pairs

    rows = (
        # one giant bucket: 300 members in (band 0, bucket 7)
        [(i, 0, 7) for i in range(300)]
        # a normal bucket sharing some ids
        + [(i, 1, 9) for i in range(40, 50)]
    )
    banded = spark.createDataFrame(rows, "doc_id long, band int, bucket long")
    got = {
        (r["id_a"], r["id_b"])
        for r in _salted_bucket_pairs(banded, "doc_id", bucket_cap=64).collect()
    }
    want = {(i, j) for i in range(300) for j in range(i + 1, 300)}
    want |= {(i, j) for i in range(40, 50) for j in range(i + 1, 50)}
    assert got == want
    assert len(got) == 300 * 299 // 2  # normal-bucket pairs are a subset


def test_zorder_repartition_locality(spark):
    """Z-ordered range partitions stay tight in BOTH dimensions: the
    summed per-partition bounding-box area is a small multiple of the
    grid (a 1-D sort on x would leave y spanning the full range in
    every partition), and a small 2-D box predicate touches only a few
    partitions — the file-pruning benefit the layout exists for."""
    from pyspark.sql import functions as F

    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.layout import (
        zorder_repartition,
    )

    grid = spark.range(64 * 64).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("long").alias("y")
    )
    parts = (
        zorder_repartition(grid, [F.col("x"), F.col("y")], 16, bits=6)
        .withColumn("pid", F.spark_partition_id())
    ).cache()
    boxes = parts.groupBy("pid").agg(
        F.min("x").alias("x0"), F.max("x").alias("x1"),
        F.min("y").alias("y0"), F.max("y").alias("y1"),
        F.count("*").alias("n"),
    ).collect()
    assert sum(b["n"] for b in boxes) == 4096
    area = sum((b["x1"] - b["x0"] + 1) * (b["y1"] - b["y0"] + 1) for b in boxes)
    # ideal: 16 tiles x 256 cells = 4096; z-curve stays within ~2x of
    # it, while sorting on x alone gives every partition y-span 64
    # (area 16384) and hash partitioning approaches 16 x 4096
    assert area <= 3 * 4096, area
    touched = {
        b["pid"]
        for b in boxes
        if not (b["x1"] < 0 or b["x0"] > 7 or b["y1"] < 0 or b["y0"] > 7)
    }
    assert len(touched) <= 3, (len(touched), sorted(touched))


def test_apply_changes_bucketed_zero_exchange_join(spark, tmp_path):
    """End-to-end CDC -> bucketed warehouse: two micro-batches upsert
    into a bucketed managed table (latest-wins, replay-convergent),
    and a join against another table bucketed on the same key plans
    with ZERO Exchange."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.apply import (
        apply_changes_bucketed,
    )
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.maintenance import (
        write_bucketed,
    )

    def envelope(rows):
        # rows: (key, value, seq)
        return spark.createDataFrame(
            [(str(k), "MODIFY", (k, v), s) for k, v, s in rows],
            "key string, op string, after struct<id:long, v:long>, seq long",
        )

    tbl = "cdc_bucketed_wh"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    apply_changes_bucketed(
        spark, envelope([(i, i * 10, 1) for i in range(200)]),
        tbl, "id", ["id"], n_buckets=8,
    )
    # second batch: updates half the keys, adds new ones
    apply_changes_bucketed(
        spark, envelope([(i, i * 100, 2) for i in range(100, 300)]),
        tbl, "id", ["id"], n_buckets=8,
    )
    got = {r["id"]: r["v"] for r in spark.table(tbl).collect()}
    want = {i: i * 10 for i in range(100)} | {i: i * 100 for i in range(100, 300)}
    assert got == want
    # replaying batch 2 converges (no dup keys, same values)
    apply_changes_bucketed(
        spark, envelope([(i, i * 100, 2) for i in range(100, 300)]),
        tbl, "id", ["id"], n_buckets=8,
    )
    assert {r["id"]: r["v"] for r in spark.table(tbl).collect()} == want

    dim = spark.range(300).select(F.col("id"), (F.col("id") % 5).alias("grp"))
    write_bucketed(dim, "b_dim_join", ["id"], n_buckets=8)
    prev_static = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    prev_aqe = spark.conf.get(
        "spark.sql.adaptive.autoBroadcastJoinThreshold", prev_static
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        wh = spark.table(tbl)
        joined = wh.join(spark.table("b_dim_join"), "id")
        joined.collect()  # finalize AQE
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert joined.count() == 300
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_static)
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", prev_aqe)
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        spark.sql("DROP TABLE IF EXISTS b_dim_join")


def test_bucket_join_pairs_releases_cache_pins(spark):
    """_bucket_join_pairs pins internal projections while building the
    candidate stage but must release them (finally-unpersist after the
    eager checkpoint) — repeated dedup calls in one session must not
    accumulate MEMORY_AND_DISK blocks."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.dedup import _bucket_join_pairs

    def n_persisted():
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    rows = [(i, 0, i % 7) for i in range(500)]
    banded = spark.createDataFrame(rows, "doc_id long, band int, bucket long")
    before = n_persisted()
    for _ in range(3):
        out = _bucket_join_pairs(banded, "doc_id")
        out.count()
    # the checkpointed RESULT of each call stays cached while (and only
    # while) its DataFrame is referenced — that one block per call is
    # the operator's output, not a leak. The internal banded/sizes pins
    # (2 more per call) must be gone; without the finally-unpersist this
    # would read before + 9.
    assert n_persisted() <= before + 3


def test_salted_bucket_pairs_with_pair_filter(spark):
    """The salted-split path combined with an in-join pair_filter (what
    a degenerate bucket takes inside minhash_near_dup_pairs) must emit
    exactly the filtered naive pair set — each pair once, filter
    applied identically on the plain and salted branches."""
    from pyspark.sql import functions as F

    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.dedup import _bucket_join_pairs

    rows = (
        # giant bucket: 200 members in (band 0, bucket 7), psig = parity
        [(i, 0, 7, [i % 4]) for i in range(200)]
        # normal bucket sharing some ids
        + [(i, 1, 9, [i % 4]) for i in range(40, 60)]
    )
    banded = spark.createDataFrame(
        rows, "doc_id long, band int, bucket long, _psig array<long>"
    )

    def parity_match(sa, sb):
        return (
            F.element_at(F.col(f"_psig{sa}"), 1).bitwiseAND(F.lit(1))
            == F.element_at(F.col(f"_psig{sb}"), 1).bitwiseAND(F.lit(1))
        )

    got = {
        (r["id_a"], r["id_b"])
        for r in _bucket_join_pairs(
            banded, "doc_id", pair_filter=parity_match, carry=("_psig",),
            bucket_cap=32,
        ).collect()
    }
    want = {
        (i, j)
        for i in range(200) for j in range(i + 1, 200)
        if (i % 4) % 2 == (j % 4) % 2
    }
    want |= {
        (i, j)
        for i in range(40, 60) for j in range(i + 1, 60)
        if (i % 4) % 2 == (j % 4) % 2
    }
    assert got == want


def test_near_dup_clusters_converging_in_final_interval(spark):
    """A graph whose fixed point lands inside the last checkpoint
    interval must converge (via the final certification round), not
    raise — parity with the old per-round convergence check."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.dedup import near_dup_clusters

    pairs = spark.createDataFrame([(1, 2), (2, 3)], ["id_a", "id_b"])
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in near_dup_clusters(
            pairs, max_iterations=2, checkpoint_interval=3
        ).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1}


def test_partitioned_compaction_rewrites_only_fragmented_partitions(spark, tmp_path):
    """Partitioned compaction must be partition-scoped: a partition
    already at its target file count keeps its exact files; only the
    fragmented partitions are rewritten (O(fragmented), not O(table))."""
    import glob

    path = str(tmp_path / "pc")
    # partition eu: 6 tiny fragments; partition us: 1 compact file
    base = spark.range(600).select(
        F.lit("eu").alias("region"), F.col("id"), (F.col("id") * 2).alias("v")
    )
    for i in range(6):
        base.filter(F.col("id") % 6 == i).coalesce(1).write.mode(
            "append"
        ).partitionBy("region").parquet(tdd(path))
    spark.range(100).select(
        F.lit("us").alias("region"), F.col("id"), (F.col("id") * 3).alias("v")
    ).coalesce(1).write.mode("append").partitionBy("region").parquet(tdd(path))

    us_files = sorted(glob.glob(f"{tdd(path)}/region=us/*"))
    rows_before = _sorted_rows(spark.read.parquet(tdd(path)))
    after = compact_parquet(
        spark, path, target_file_bytes=1 << 30, partition_by=["region"]
    )
    assert len(glob.glob(f"{tdd(path)}/region=eu/*.parquet")) == 1  # compacted
    assert sorted(glob.glob(f"{tdd(path)}/region=us/*")) == us_files  # untouched
    assert _sorted_rows(spark.read.parquet(tdd(path))) == rows_before
    assert after.n_rows == 700


def test_analyze_tables_records_stats_cbo_reads_them(spark, tmp_path):
    """analyze_tables must land rowCount + column NDV in the catalog and
    the optimizer must see them: before ANALYZE a parquet relation has
    only sizeInBytes (rowCount undefined), after ANALYZE the optimized
    plan carries the exact row count — the estimate CBO join reorder
    ranks join trees with."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.maintenance import (
        analyze_tables,
    )

    big = str(tmp_path / "fact")
    dim = str(tmp_path / "dim")
    spark.range(50_000).withColumn("k", F.col("id") % 100).write.parquet(tdd(big))
    spark.range(100).withColumnRenamed("id", "k").withColumn(
        "name", F.concat(F.lit("d"), F.col("k"))
    ).write.parquet(tdd(dim))

    def _row_count(df):
        rc = df._jdf.queryExecution().optimizedPlan().stats().rowCount()
        if not rc.isDefined():
            return None
        v = rc.get()
        return int(v) if isinstance(v, int) else int(v.toString())

    try:
        spark.conf.set("spark.sql.cbo.enabled", "true")
        spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
        stats = analyze_tables(
            spark,
            {"ana_fact": big, "ana_dim": dim},
            columns={"ana_fact": ["k"], "ana_dim": ["k"]},
        )
        assert stats["ana_fact"].row_count == 50_000
        assert stats["ana_dim"].row_count == 100
        assert stats["ana_fact"].size_bytes > 0
        # NDV within HyperLogLog error of the true distinct counts
        assert 90 <= stats["ana_fact"].column_ndv["k"] <= 110
        assert 90 <= stats["ana_dim"].column_ndv["k"] <= 110
        # the optimizer reads the recorded stats off the catalog relation
        assert _row_count(spark.table("ana_fact")) == 50_000
        assert _row_count(spark.table("ana_dim")) == 100
        # ... and propagates them through a join estimate (CBO active)
        joined = spark.table("ana_fact").join(spark.table("ana_dim"), "k")
        assert _row_count(joined) is not None
        # re-analyze is idempotent
        again = analyze_tables(spark, {"ana_dim": dim})
        assert again["ana_dim"].row_count == 100
    finally:
        spark.conf.set("spark.sql.cbo.enabled", "false")
        spark.conf.set("spark.sql.cbo.joinReorder.enabled", "false")
        spark.sql("DROP TABLE IF EXISTS ana_fact")
        spark.sql("DROP TABLE IF EXISTS ana_dim")


def test_cbo_join_reorder_uses_analyzed_stats(spark, tmp_path):
    """The before/after plan diff behind analyze_tables: a 3-way join
    written fact-fact-first keeps that order without CBO, but with
    recorded stats + joinReorder the optimizer pulls the 50-row dim's
    selective join UNDER the fact-fact join — the estimate-driven
    reorder that, at 100 TB, keeps the dominant shuffle from running on
    the unreduced facts (the q8 lesson from the analytics scale probe,
    made automatic by statistics)."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.maintenance import (
        analyze_tables,
    )

    a_p, b_p, d_p = (str(tmp_path / n) for n in ("a", "b", "dd"))
    spark.range(200_000).select(
        F.col("id").alias("k1"), (F.col("id") % 1000).alias("k2"),
        F.lit(1).alias("va"),
    ).write.parquet(tdd(a_p))
    spark.range(200_000).select(
        F.col("id").alias("k1"), F.lit(2).alias("vb")
    ).write.parquet(tdd(b_p))
    spark.range(50).select(
        F.col("id").alias("k2"), F.lit(3).alias("vd")
    ).write.parquet(tdd(d_p))

    def joined():
        a, b, d = (
            spark.table("ana3_a"), spark.table("ana3_b"), spark.table("ana3_d")
        )
        return a.join(b, "k1").join(d, "k2").groupBy().count()

    def join_order(df):
        s = df._jdf.queryExecution().optimizedPlan().toString()
        pos = {t: s.find(t) for t in ("ana3_a", "ana3_b", "ana3_d")}
        assert all(p >= 0 for p in pos.values())
        return sorted(pos, key=pos.get)

    try:
        analyze_tables(
            spark,
            {"ana3_a": a_p, "ana3_b": b_p, "ana3_d": d_p},
            columns={"ana3_a": ["k1", "k2"], "ana3_b": ["k1"], "ana3_d": ["k2"]},
        )
        spark.conf.set("spark.sql.cbo.enabled", "false")
        spark.conf.set("spark.sql.cbo.joinReorder.enabled", "false")
        assert join_order(joined()) == ["ana3_a", "ana3_b", "ana3_d"]
        spark.conf.set("spark.sql.cbo.enabled", "true")
        spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
        # stats-informed reorder: the selective dim joins first
        assert join_order(joined()) == ["ana3_a", "ana3_d", "ana3_b"]
        # and the answer is the same either way
        assert joined().first()["count"] == 200_000 * 50 // 1000
    finally:
        spark.conf.set("spark.sql.cbo.enabled", "false")
        spark.conf.set("spark.sql.cbo.joinReorder.enabled", "false")
        for t in ("ana3_a", "ana3_b", "ana3_d"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_analyze_tables_repoint_partitioned_and_evolved(spark, tmp_path):
    """The registration tick's three re-point regimes, each of which a
    review found (or nearly found) broken:
    - a reserved-word name must quote consistently in EVERY parsed
      position (tableExists/spark.table, not just the DDL strings);
    - a hive-PARTITIONED registered path must recover its partition
      entries (CREATE .. LOCATION records the columns but reads zero
      rows without MSCK REPAIR) and must re-recover them when the
      location moves (SET LOCATION keeps stale partition paths);
    - a TYPE-widened evolution (same column names) must re-register —
      a name-set-only comparison would keep the stale int schema."""
    import shutil

    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.apply import (
        refresh_table_schema,
    )
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.maintenance import (
        analyze_tables,
    )

    flat = str(tmp_path / "flat")
    spark.range(10).selectExpr("id", "id*2 as v").write.parquet(flat)
    try:
        for _ in (1, 2):  # reserved word, two ticks (create, re-point)
            out = analyze_tables(spark, {"select": flat})
            assert out["select"].row_count == 10

        p1 = str(tmp_path / "p1")
        p2 = str(tmp_path / "p2")
        spark.range(10).selectExpr(
            "id", "concat('s', id % 2) as part"
        ).write.partitionBy("part").parquet(p1)
        out = analyze_tables(spark, {"ptab": p1})
        assert out["ptab"].row_count == 10  # recovered at create
        # a blind append into the SAME location adds a new partition
        # dir; the steady tick must pick it up with NO drop window
        spark.range(100, 105).selectExpr(
            "id", "cast('x' as string) as part"
        ).write.mode("append").partitionBy("part").parquet(p1)
        out = analyze_tables(spark, {"ptab": p1})
        assert out["ptab"].row_count == 15  # MSCK-only steady tick
        spark.range(20).selectExpr(
            "id", "concat('s', id % 2) as part"
        ).write.partitionBy("part").parquet(p2)
        out = analyze_tables(spark, {"ptab": p2})
        assert out["ptab"].row_count == 20  # re-point re-recovered

        t = str(tmp_path / "etab")
        spark.range(5).selectExpr("cast(id as int) as id").write.parquet(t)
        out = analyze_tables(spark, {"etab": t})
        assert out["etab"].row_count == 5
        shutil.rmtree(t)
        spark.range(7).selectExpr("cast(id as long) as id").write.parquet(t)
        refresh_table_schema(spark, t)
        out = analyze_tables(spark, {"etab": t})
        assert out["etab"].row_count == 7  # widened type re-registered
    finally:
        # the session is module-scoped: leaked registrations would
        # dangle once tmp_path is reclaimed
        for n in ("`select`", "ptab", "etab"):
            spark.sql(f"DROP TABLE IF EXISTS {n}")


def test_run_maintenance_reaches_steady_state(spark, tmp_path, monkeypatch):
    """Round-10 verdict gap #2: retention was on-demand only. One
    run_maintenance call sweeps superseded versions, uncommitted junk,
    and staging TTLs, and compacts past the fragmentation threshold —
    a swap-heavy table driven through it reaches steady-state storage
    (a second pass is a no-op)."""
    import shutil
    import time

    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators import (
        apply as A,
        fileset,
    )
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.apply import (
        apply_changes,
        read_warehouse,
    )
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.maintenance import (
        MaintenanceConfig,
        run_maintenance,
    )

    monkeypatch.setattr(A, "VERSION_GC_GRACE_SECONDS", 0.0)
    wh = str(tmp_path / "wh")
    # swap-heavy: every upsert commits a new version
    for i in range(5):
        env = spark.createDataFrame(
            [(str(k), "INSERT", (str(k), float(i)), i * 10 + k)
             for k in range(4)],
            "key string, op string, after struct<k:string,v:double>, "
            "seq long",
        )
        apply_changes(spark, env, wh, "k", mode="upsert")
    d = tdd(wh)
    # fragment the live version with manifest-extending blind appends
    for j in range(3):
        A.append_to_table(
            spark.createDataFrame(
                [(f"x{j}", 9.0)], "k string, v double"
            ).coalesce(1),
            wh,
        )
    assert len(fileset.read_fileset(d)) >= 4
    # crashed-append junk + a stale staging file past its TTL
    committed = sorted(fileset.read_fileset(d))
    shutil.copyfile(
        os.path.join(d, committed[0]),
        os.path.join(d, "part-junk-0ddba11.parquet"),
    )
    staging = str(tmp_path / "staging")
    os.makedirs(staging)
    with open(os.path.join(staging, "old.json"), "w") as f:
        f.write("{}")
    old = time.time() - 3600
    os.utime(os.path.join(staging, "old.json"), (old, old))

    cfg = MaintenanceConfig(
        expire_staging_after_seconds=600,
        staging_paths=(staging,),
        compact_when_files_exceed=1,
        compact_target_file_bytes=1 << 30,
    )
    rep = run_maintenance(spark, wh, cfg)
    assert rep.uncommitted_removed >= 1
    assert rep.staging_expired == 1
    assert rep.compacted
    assert rep.n_files == 1
    # superseded versions are gone: exactly one version dir remains
    vdirs = [n for n in os.listdir(wh) if n.startswith("v_")]
    assert len(vdirs) == 1
    # steady state: a second pass changes nothing
    rep2 = run_maintenance(spark, wh, cfg)
    assert rep2.uncommitted_removed == 0
    assert rep2.staging_expired == 0
    assert not rep2.compacted
    assert rep2.n_files == 1
    got = sorted(
        (r["k"], r["v"]) for r in read_warehouse(spark, wh).collect()
    )
    assert got == [(str(k), 4.0) for k in range(4)] + [
        (f"x{j}", 9.0) for j in range(3)
    ]


def test_schedule_maintenance_runs_on_cadence(spark, tmp_path, monkeypatch):
    """The scheduler analog of the reference's lifecycle rule: a
    processing-time tick stream drives run_maintenance without an
    operator remembering it; ensure_started makes re-scheduling under
    the same name a no-op."""
    import time

    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators import (
        apply as A,
    )
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.apply import (
        apply_changes,
    )
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.maintenance import (
        MaintenanceConfig,
    )
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.streaming.manager import (
        schedule_maintenance,
    )

    # retain superseded versions during setup; the SCHEDULER sweeps them
    monkeypatch.setattr(A, "VERSION_GC_GRACE_SECONDS", 3600.0)
    wh = str(tmp_path / "wh")
    for i in range(3):
        env = spark.createDataFrame(
            [("a", "INSERT", ("a", float(i)), i)],
            "key string, op string, after struct<k:string,v:double>, "
            "seq long",
        )
        apply_changes(spark, env, wh, "k", mode="upsert")
    assert len([n for n in os.listdir(wh) if n.startswith("v_")]) >= 2
    monkeypatch.setattr(A, "VERSION_GC_GRACE_SECONDS", 0.0)

    q = schedule_maintenance(
        spark, "maint_test", wh, MaintenanceConfig(),
        interval="1 seconds",
        checkpoint_path=str(tmp_path / "ck"),
    )
    try:
        q2 = schedule_maintenance(spark, "maint_test", wh)
        assert q2.id == q.id  # idempotent per name
        deadline = time.time() + 60
        while time.time() < deadline:
            if len([n for n in os.listdir(wh) if n.startswith("v_")]) == 1:
                break
            time.sleep(0.5)
        vdirs = [n for n in os.listdir(wh) if n.startswith("v_")]
        assert len(vdirs) == 1  # the cadence swept superseded versions
        # round-12 verdict #4: tick outcomes are queryable from the
        # metrics layer, not just greppable from logs
        from cdc_from_sql_and_nosql_to_data_warehouse_spark.streaming.metrics import (
            engine_health,
        )

        health = engine_health()
        assert health["maintenance_ticks"][wh]["ok"] >= 1
        assert health["maintenance_ticks"][wh]["failed"] == 0
        assert "fileset_list_fallbacks" in health
    finally:
        q.stop()
