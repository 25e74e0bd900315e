"""Warehouse analytics plans over the TESTDATA star schema.

The reference has no joins / group-bys / windows of its own — it delegates
them to Redshift (SURVEY.md §2.5-§2.7, reference README.md:3). This module
supplies that surface Spark-natively. Every plan is declarative DataFrame
API so Catalyst chooses broadcast vs shuffle joins, pushes filters into
the parquet scan, and prunes columns.

Scale notes (100 TB posture), applied throughout:
- only FIXED-SIZE dimensions (region: 5 rows, nation: 25 rows, and tiny
  derived lookup tables) carry an explicit ``F.broadcast()`` hint.
  Linearly-scaling tables (customer/supplier/part) are left unhinted:
  AQE broadcasts them when their observed runtime size is under
  ``spark.sql.adaptive.autoBroadcastJoinThreshold`` and shuffles them
  when it is not — a forced hint would OOM executors at 100×;
- aggregations are expressed as single groupBy/agg so Spark plans
  partial (map-side) + final aggregation automatically;
- filters sit directly on the scan columns (no wrapping expressions) so
  they reach the parquet reader as PushedFilters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from .registry import register_query


from ..sources.testdata import load_table as _t


def _money(c: str):
    """Exact decimal view of a 2-decimal money double (see registry.py)."""
    return F.col(c).cast("decimal(12,2)")


def _frac(c: str):
    """Exact decimal view of a 2-decimal fraction in [0,1] (discount/tax)."""
    return F.col(c).cast("decimal(3,2)")


def _one():
    # function, not module constant: F.lit needs an active SparkContext
    return F.lit(1).cast("decimal(3,2)")

# SQL-side equivalents of the helpers above (DuckDB syntax identical).
_M = "CAST({c} AS DECIMAL(12,2))"
_FR = "CAST({c} AS DECIMAL(3,2))"


# ---------------------------------------------------------------------------
# Q1 — pricing summary (flagship). TPC-H Q1 shape: scan + filter + 2-key
# group + 8 exact aggregates. Single shuffle, partial agg map-side.
# ---------------------------------------------------------------------------
@register_query(
    "q1_pricing_summary",
    oracle="""
    SELECT
      l_returnflag,
      l_linestatus,
      CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
      CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
               * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))))
           AS DOUBLE) AS sum_disc_price,
      CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
               * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))
               * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(3,2))))
           AS DOUBLE) AS sum_charge,
      CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_qty,
      CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_price,
      CAST(sum(CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE) / count(*) AS avg_disc,
      count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    disc_price = _money("l_extendedprice") * (_one() - _frac("l_discount"))
    charge = disc_price * (_one() + _frac("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_money("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_money("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            (F.sum(_money("l_quantity")).cast("double") / F.count("*")).alias("avg_qty"),
            (F.sum(_money("l_extendedprice")).cast("double") / F.count("*")).alias(
                "avg_price"
            ),
            (F.sum(_frac("l_discount")).cast("double") / F.count("*")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# Q3 — shipping priority: 3-way join, group, deterministic top-10.
# customer is the only broadcast (a true dimension); orders⋈lineitem is
# two fact tables, so the engine leaves that join to AQE/CBO — it
# shuffles on the join key which is also the group key, and the agg
# reuses the partitioning. A forced broadcast of orders would OOM
# executors at 100× scale (150M rows at sf100).
# ---------------------------------------------------------------------------
@register_query(
    "q3_shipping_priority",
    oracle="""
    SELECT
      l_orderkey,
      CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
               * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))))
           AS DOUBLE) AS revenue,
      o_orderdate,
      o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-03-15")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1995-03-15")
    disc_price = _money("l_extendedprice") * (_one() - _frac("l_discount"))
    return (
        li.join(
            orders.join(cust, orders.o_custkey == cust.c_custkey)
            .select("o_orderkey", "o_orderdate", "o_orderpriority"),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(disc_price).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Q5 — local supplier volume: 6-way star join. Fixed-size nation/region
# broadcast by hint; customer/supplier broadcast only if AQE observes
# them small; lineitem⋈orders is fact-to-fact and stays with AQE
# (shuffle on the order key) — a forced broadcast of orders or of a
# scaling dimension would not survive a 100× scale-up.
# ---------------------------------------------------------------------------
@register_query(
    "q5_local_supplier_volume",
    oracle="""
    SELECT
      n_name,
      CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
               * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))))
           AS DOUBLE) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    disc_price = _money("l_extendedprice") * (_one() - _frac("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(disc_price).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


# ---------------------------------------------------------------------------
# ROLLUP — hierarchical totals (region -> nation -> grand total) over
# customer account balances. Spark computes rollup as one shuffle with
# grouping-set expansion; exact decimal sums keep the hash stable.
# ---------------------------------------------------------------------------
@register_query(
    "rollup_acctbal_by_region_nation",
    oracle="""
    SELECT
      r_name,
      n_name,
      CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_acctbal,
      count(*) AS n_customers
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    ORDER BY r_name NULLS FIRST, n_name NULLS FIRST
    """,
)
def rollup_acctbal_by_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(
            F.sum(_money("c_acctbal")).cast("double").alias("total_acctbal"),
            F.count("*").alias("n_customers"),
        )
        .orderBy(F.asc_nulls_first("r_name"), F.asc_nulls_first("n_name"))
    )


# ---------------------------------------------------------------------------
# CUBE — all grouping-set combinations of (brand, size-bucket).
# ---------------------------------------------------------------------------
@register_query(
    "cube_part_brand_size",
    oracle="""
    SELECT
      p_brand,
      p_size % 5 AS size_mod,
      CAST(sum(CAST(p_retailprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price,
      count(*) AS n_parts
    FROM part
    GROUP BY CUBE (p_brand, p_size % 5)
    ORDER BY p_brand NULLS FIRST, size_mod NULLS FIRST
    """,
)
def cube_part_brand_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part").withColumn("size_mod", F.col("p_size") % 5)
    return (
        part.cube("p_brand", "size_mod")
        .agg(
            F.sum(_money("p_retailprice")).cast("double").alias("total_price"),
            F.count("*").alias("n_parts"),
        )
        .orderBy(F.asc_nulls_first("p_brand"), F.asc_nulls_first("size_mod"))
    )


# ---------------------------------------------------------------------------
# Window: top-3 orders per customer by total price (rank + filter), the
# canonical top-k-per-group pattern -> one shuffle on the partition key.
# ---------------------------------------------------------------------------
@register_query(
    "top3_orders_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rk
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (
               PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey
             ) AS rk
      FROM orders
    ) t
    WHERE rk <= 3
    ORDER BY o_custkey, rk
    """,
)
def top3_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
        .orderBy("o_custkey", "rk")
    )


# ---------------------------------------------------------------------------
# Window: running revenue per customer over order dates (cumulative sum),
# exact decimal running total cast to double per row.
# ---------------------------------------------------------------------------
@register_query(
    "running_total_per_customer",
    oracle="""
    SELECT
      o_custkey,
      o_orderkey,
      o_orderdate,
      CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
        PARTITION BY o_custkey
        ORDER BY o_orderdate, o_orderkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
      ) AS DOUBLE) AS running_spend
    FROM orders
    ORDER BY o_custkey, o_orderdate, o_orderkey
    """,
)
def running_total_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum(_money("o_totalprice")).over(w).cast("double").alias("running_spend"),
    ).orderBy("o_custkey", "o_orderdate", "o_orderkey")


# ---------------------------------------------------------------------------
# Semi / anti joins (EXISTS / NOT EXISTS).
# (customers_without_orders retired in round 10 under the registry size
# budget, making room for embedding_ivf_full_probe: it was a bare
# customer-vs-orders LEFT ANTI join whose plan shape stays certified by
# q21_suppliers_kept_waiting (EXISTS + NOT EXISTS on the same join) and
# q22_global_sales_opportunity (NOT EXISTS anti join + scalar
# subquery) — both driver-hash-checked against the same tables.)
# ---------------------------------------------------------------------------


@register_query(
    "suppliers_with_shipments_semi",
    oracle="""
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey)
    ORDER BY s_suppkey
    """,
)
def suppliers_with_shipments_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem")
    return (
        supp.join(li, supp.s_suppkey == li.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


# (distinct_types_per_brand retired under the registry size budget when
# training_mix_to_weights was added: grouped multi-distinct aggregation
# is the same expand + two-phase plan q16_supplier_count_by_part
# exercises with its countDistinct, so the row certified no operator the
# registry didn't already cover.)


# ---------------------------------------------------------------------------
# Set operations: UNION / INTERSECT / EXCEPT over derived key sets, plus
# the ALL (duplicate-cardinality) variants over the raw event streams.
# (Round-12: the 'both_all'/'click_surplus' cohorts re-certify
# INTERSECT ALL / EXCEPT ALL multiset semantics — min-multiplicity and
# multiplicity-difference respectively — after multiset_ops_purchase_click's
# round-11 retirement left the ALL variants without an oracle; the
# advisor asked for them folded into this query rather than a new row.)
# ---------------------------------------------------------------------------
@register_query(
    "set_ops_purchasers_vs_clickers",
    oracle="""
    WITH purchasers AS (
      SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
    ), clickers AS (
      SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
    ), raw_p AS (
      SELECT user_id FROM events WHERE event_type = 'purchase'
    ), raw_c AS (
      SELECT user_id FROM events WHERE event_type = 'click'
    )
    SELECT 'both' AS cohort, user_id FROM (
      SELECT user_id FROM purchasers INTERSECT SELECT user_id FROM clickers
    )
    UNION ALL
    SELECT 'click_only' AS cohort, user_id FROM (
      SELECT user_id FROM clickers EXCEPT SELECT user_id FROM purchasers
    )
    UNION ALL
    SELECT 'both_all' AS cohort, user_id FROM (
      SELECT user_id FROM raw_c INTERSECT ALL SELECT user_id FROM raw_p
    )
    UNION ALL
    SELECT 'click_surplus' AS cohort, user_id FROM (
      SELECT user_id FROM raw_c EXCEPT ALL SELECT user_id FROM raw_p
    )
    ORDER BY cohort, user_id
    """,
)
def set_ops_purchasers_vs_clickers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    raw_p = ev.filter(F.col("event_type") == "purchase").select("user_id")
    raw_c = ev.filter(F.col("event_type") == "click").select("user_id")
    purchasers = raw_p.distinct()
    clickers = raw_c.distinct()
    both = clickers.intersect(purchasers).select(
        F.lit("both").alias("cohort"), "user_id"
    )
    click_only = clickers.exceptAll(purchasers).select(
        F.lit("click_only").alias("cohort"), "user_id"
    )
    # duplicate-cardinality variants: a user with 3 clicks and 1
    # purchase contributes min(3,1)=1 row to both_all and 3-1=2 rows to
    # click_surplus
    both_all = raw_c.intersectAll(raw_p).select(
        F.lit("both_all").alias("cohort"), "user_id"
    )
    click_surplus = raw_c.exceptAll(raw_p).select(
        F.lit("click_surplus").alias("cohort"), "user_id"
    )
    return (
        both.unionAll(click_only)
        .unionAll(both_all)
        .unionAll(click_surplus)
        .orderBy("cohort", "user_id")
    )


# ---------------------------------------------------------------------------
# Manual pivot (conditional aggregation) — portable across engines, same
# plan Spark's .pivot() produces for an explicit value list.
# ---------------------------------------------------------------------------
@register_query(
    "pivot_order_status_by_priority",
    oracle="""
    SELECT
      o_orderpriority,
      count(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
      count(*) FILTER (WHERE o_orderstatus = 'F') AS n_filled,
      count(*) FILTER (WHERE o_orderstatus = 'P') AS n_partial,
      CAST(sum(CAST(o_totalprice AS DECIMAL(12,2)))
           FILTER (WHERE o_orderstatus = 'F') AS DOUBLE) AS filled_value
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def pivot_order_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.count(F.when(F.col("o_orderstatus") == "O", 1)).alias("n_open"),
            F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("n_filled"),
            F.count(F.when(F.col("o_orderstatus") == "P", 1)).alias("n_partial"),
            F.sum(F.when(F.col("o_orderstatus") == "F", _money("o_totalprice")))
            .cast("double")
            .alias("filled_value"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Events: tumbling-window aggregation (batch shape of the streaming
# windowed agg — same query runs under readStream with a watermark).
# ---------------------------------------------------------------------------
@register_query(
    "events_hourly_rollup",
    oracle="""
    SELECT
      date_trunc('hour', ts) AS hour,
      event_type,
      count(*) AS n_events,
      count(DISTINCT user_id) AS n_users,
      CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"), F.col("event_type")
        )
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(_money("value")).cast("double").alias("total_value"),
        )
        .orderBy("hour", "event_type")
    )


# ---------------------------------------------------------------------------
# As-of style join: for every purchase event, the most recent click by the
# same user strictly before it. Spark plan: union both event sets and run
# running-window aggregates (max click ts, click count) per user ordered
# by (ts, side) — ONE shuffle + sort on user_id and linear per-key cost.
# The join-then-aggregate restatement the oracle uses costs
# |purchases|×|clicks| per key, which a hot user turns quadratic.
# ---------------------------------------------------------------------------
@register_query(
    "asof_last_click_before_purchase",
    oracle="""
    SELECT
      p.event_id AS purchase_id,
      p.user_id,
      p.ts AS purchase_ts,
      max(c.ts) AS last_click_ts,
      count(c.event_id) AS n_prior_clicks
    FROM events p
    LEFT JOIN events c
      ON c.user_id = p.user_id AND c.event_type = 'click' AND c.ts < p.ts
    WHERE p.event_type = 'purchase'
    GROUP BY p.event_id, p.user_id, p.ts
    ORDER BY p.event_id
    """,
)
def asof_last_click_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    # one stream, two roles: purchases sort before clicks at equal ts so
    # the strictly-before semantics fall out of the running rows frame
    tagged = ev.filter(F.col("event_type").isin("click", "purchase")).select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("event_type") == "purchase", 0).otherwise(1).alias("_side"),
        F.when(F.col("event_type") == "click", F.col("ts")).alias("_click_ts"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "_side")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        tagged.withColumn("last_click_ts", F.max("_click_ts").over(w))
        .withColumn("n_prior_clicks", F.count("_click_ts").over(w))
        .filter(F.col("_side") == 0)
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
            "last_click_ts",
            "n_prior_clicks",
        )
        .orderBy("purchase_id")
    )


# (A "top20_lineitems_by_price" query (global top-k, the
# TakeOrderedAndProject plan) was RETIRED in round 9 for the registry
# budget: the identical ORDER BY ... LIMIT physical shape — sort-key
# ordering, deterministic tiebreak, no full table sort — is pinned by
# the surviving certificates q3_shipping_priority (LIMIT 10),
# q10_returned_item_customers (LIMIT 20), and
# q18_large_volume_customers (LIMIT 100), each hash-verified
# against DuckDB. Its slot funds
# cdc_pointer_commit_replay (plans/cdc_queries.py), which certifies a
# physical path no other query crash-tests: the version-pointer swap
# commit under an aborted-commit orphan plus an at-least-once replay.)


# ---------------------------------------------------------------------------
# Skew-resilient aggregation: the salted two-stage plan must produce
# exactly the plain GROUP BY's answer (the oracle runs the plain form).
# events.event_type is low-cardinality -> every key is "hot".
# ---------------------------------------------------------------------------
@register_query(
    "skew_salted_event_rollup",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           min(user_id) AS min_user,
           max(user_id) AS max_user
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def skew_salted_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_agg

    events = _t(spark, sf_dir, "events")
    return salted_agg(
        events,
        ["event_type"],
        {
            "n_events": ("count", "*"),
            "min_user": ("min", "user_id"),
            "max_user": ("max", "user_id"),
        },
        n_salts=16,
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Semi-structured columns (SUPER parity): events.props is a JSON string;
# extract a typed field and aggregate it. get_json_object keeps the
# extraction JVM-side; at scale prefer parsing once via from_json into a
# struct column when several fields are read.
# ---------------------------------------------------------------------------
@register_query(
    "json_props_rollup",
    oracle="""
    SELECT event_type,
           sum(CAST(json_extract_string(props, '$.k') AS BIGINT))::BIGINT
             AS sum_k,
           count(*) AS n,
           sum(CAST(json_extract_string(props, '$.k') AS BIGINT))::DOUBLE
             / count(*) AS avg_k
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def json_props_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        events.groupBy("event_type")
        .agg(
            F.sum(k).alias("sum_k"),
            F.count("*").alias("n"),
            (F.sum(k).cast("double") / F.count("*")).alias("avg_k"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Q2-shaped correlated subquery: cheapest supplier per part (via
# lineitem, since the star schema has no partsupp). Catalyst decorrelates
# the scalar subquery into an aggregate + join.
# ---------------------------------------------------------------------------
@register_query(
    "min_cost_supplier_per_part",
    oracle="""
    WITH cost AS (
      SELECT l_partkey, l_suppkey,
             min(CAST(l_extendedprice AS DECIMAL(12,2))) AS min_price
      FROM lineitem GROUP BY l_partkey, l_suppkey
    )
    SELECT p.p_partkey, p.p_name,
           min(c.l_suppkey) AS best_suppkey,
           CAST(min(c.min_price) AS DOUBLE) AS best_price
    FROM part p JOIN cost c ON p.p_partkey = c.l_partkey
    WHERE c.min_price = (
      SELECT min(min_price) FROM cost c2 WHERE c2.l_partkey = p.p_partkey
    )
    GROUP BY p.p_partkey, p.p_name
    HAVING p.p_partkey < 200
    ORDER BY p.p_partkey
    """,
)
def min_cost_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    cost = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(_money("l_extendedprice")).alias("min_price")
    )
    w = W.partitionBy("l_partkey")
    best = cost.withColumn("best", F.min("min_price").over(w)).filter(
        F.col("min_price") == F.col("best")
    )
    return (
        part.join(best, part.p_partkey == best.l_partkey)
        .groupBy("p_partkey", "p_name")
        .agg(
            F.min("l_suppkey").alias("best_suppkey"),
            F.min("min_price").cast("double").alias("best_price"),
        )
        .filter(F.col("p_partkey") < 200)
        .orderBy("p_partkey")
    )


# (A Q4-shaped "orders_with_returns_by_priority" EXISTS query lived here
# through round 4; retired in round 5 under the registry size budget —
# q4_orders_with_returns_exists certifies the identical semi-join shape.)


# (A Q13-shaped "customer_order_count_distribution" query lived here
# through round 4; retired in round 5 under the registry size budget —
# q13_customer_order_distribution certifies the identical pre-aggregated
# left-join distribution shape, plus a join-predicate filter — when
# dedup_incremental_vs_corpus was added.)


# (A "large_volume_orders" query (Q18-shaped IN-subquery with aggregate
# HAVING, order-level) lived here through round 5; retired in round 6
# under the registry size budget when text_boilerplate_ngrams was added
# — q18_large_volume_customers certifies the identical plan shape
# (HAVING-subquery as a semi-join on the pre-aggregated lineitem +
# re-aggregate) with the customer dimension join on top, over the same
# tables and threshold family.)


# ---------------------------------------------------------------------------
# Per-group checksum reconciliation (A3 extended, `operators/reconcile`):
# portable md5-derived row checksums summed per group — the engine-vs-
# warehouse divergence detector that count-only reconciliation misses.
# ---------------------------------------------------------------------------
@register_query(
    "cdc_checksum_reconciliation",
    oracle="""
    SELECT o_orderstatus,
           count(*) AS n_rows,
           sum(CAST(concat('0x', substr(md5(
             concat(o_orderkey::VARCHAR, '|', o_custkey::VARCHAR, '|',
                    o_orderpriority)), 1, 10)) AS BIGINT))::BIGINT
             AS checksum_sum
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def cdc_checksum_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    row_ck = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|",
                    F.col("o_orderkey").cast("string"),
                    F.col("o_custkey").cast("string"),
                    F.col("o_orderpriority"),
                )
            ),
            1,
            10,
        ),
        16,
        10,
    ).cast("bigint")
    return (
        orders.groupBy("o_orderstatus")
        .agg(F.count("*").alias("n_rows"), F.sum(row_ck).alias("checksum_sum"))
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# Range (interval) join: events bucketed by value range. Non-equi join
# conditions become BroadcastNestedLoop against the tiny bucket dim —
# fine because the dim is rows-scale; at 100 TB with a large range table
# you bucket both sides by floor(value/width) first to make it an
# equi-join (that rewrite is what `bucket_id` demonstrates).
# ---------------------------------------------------------------------------
@register_query(
    "range_join_value_buckets",
    oracle="""
    WITH buckets AS (
      SELECT * FROM (VALUES
        (0, 0.0, 25.0), (1, 25.0, 50.0), (2, 50.0, 75.0), (3, 75.0, 101.0)
      ) b(bucket_id, lo, hi)
    )
    SELECT b.bucket_id, count(*) AS n_events,
           count(DISTINCT e.user_id) AS n_users
    FROM events e JOIN buckets b ON e.value >= b.lo AND e.value < b.hi
    GROUP BY b.bucket_id
    ORDER BY b.bucket_id
    """,
)
def range_join_value_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    buckets = spark.createDataFrame(
        [(0, 0.0, 25.0), (1, 25.0, 50.0), (2, 50.0, 75.0), (3, 75.0, 101.0)],
        ["bucket_id", "lo", "hi"],
    )
    return (
        events.join(
            F.broadcast(buckets),
            (events.value >= buckets.lo) & (events.value < buckets.hi),
        )
        .groupBy("bucket_id")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("bucket_id")
    )


# ---------------------------------------------------------------------------
# Exact percentiles: Spark `percentile` (exact, interpolating) ==
# DuckDB `quantile_cont`. Both interpolate (a + (b-a)*f) over sorted
# doubles -> bit-identical on 2-decimal money values.
# ---------------------------------------------------------------------------
@register_query(
    "order_value_percentiles_by_status",
    oracle="""
    SELECT o_orderstatus,
           quantile_cont(o_totalprice, 0.5) AS p50,
           quantile_cont(o_totalprice, 0.9) AS p90,
           quantile_cont(o_totalprice, 0.99) AS p99
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def order_value_percentiles_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.percentile("o_totalprice", 0.5).alias("p50"),
            F.percentile("o_totalprice", 0.9).alias("p90"),
            F.percentile("o_totalprice", 0.99).alias("p99"),
        )
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# Q7-shaped: bilateral trade volume between two customer/supplier nation
# pairs by ship year. Two independent dimension paths off the same fact
# row — both broadcast; the disjunctive nation-pair predicate lands
# after the joins.
# ---------------------------------------------------------------------------
@register_query(
    "q7_nation_volume",
    oracle="""
    SELECT supp_nation, cust_nation, l_year,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))))
                AS DOUBLE) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             year(l_shipdate) AS l_year, l_extendedprice, l_discount
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE (n1.n_name = 'CHINA' AND n2.n_name = 'JAPAN')
         OR (n1.n_name = 'JAPAN' AND n2.n_name = 'CHINA')
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    disc_price = _money("l_extendedprice") * (_one() - _frac("l_discount"))
    pair = (
        (F.col("supp_nation") == "CHINA") & (F.col("cust_nation") == "JAPAN")
    ) | ((F.col("supp_nation") == "JAPAN") & (F.col("cust_nation") == "CHINA"))
    return (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.sum(disc_price).cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# ---------------------------------------------------------------------------
# Q12-shaped: conditional (CASE) aggregation — high/low priority order
# counts per return flag. One shuffle; the CASEs fold into the partial
# aggregate.
# ---------------------------------------------------------------------------
@register_query(
    "q12_priority_by_returnflag",
    oracle="""
    SELECT l_returnflag,
           sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
           sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END)::BIGINT AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q12_priority_by_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Q14-shaped: promo revenue share — ratio of two exact decimal sums,
# one final double division.
# ---------------------------------------------------------------------------
@register_query(
    "q14_promo_revenue_share",
    oracle="""
    SELECT
      CAST(sum(CASE WHEN p_type = 'PROMO'
               THEN CAST(l_extendedprice AS DECIMAL(12,2))
                    * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))
               ELSE CAST(0 AS DECIMAL(15,4)) END) AS DOUBLE)
        / CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                   * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))))
               AS DOUBLE) AS promo_share,
      count(*) AS n_lines
    FROM lineitem JOIN part ON l_partkey = p_partkey
    """,
)
def q14_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    disc_price = _money("l_extendedprice") * (_one() - _frac("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", disc_price).otherwise(
        F.lit(0).cast("decimal(15,4)")
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            (
                F.sum(promo).cast("double") / F.sum(disc_price).cast("double")
            ).alias("promo_share"),
            F.count("*").alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# Q19-shaped: disjunctive multi-clause predicate (brand × size-range ×
# quantity-range OR-blocks) — exercises predicate normalization and
# partial pushdown of the common join key.
# ---------------------------------------------------------------------------
@register_query(
    "q19_disjunctive_revenue",
    oracle="""
    SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))))
                AS DOUBLE) AS revenue,
           count(*) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 1 AND l_quantity <= 20)
       OR (p_brand = 'Brand#7' AND p_size BETWEEN 10 AND 30
           AND l_quantity >= 10 AND l_quantity <= 35)
       OR (p_brand = 'Brand#20' AND p_size BETWEEN 20 AND 50
           AND l_quantity >= 20 AND l_quantity <= 50)
    """,
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    disc_price = _money("l_extendedprice") * (_one() - _frac("l_discount"))
    clause = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 20)
    ) | (
        (F.col("p_brand") == "Brand#7")
        & F.col("p_size").between(10, 30)
        & F.col("l_quantity").between(10, 35)
    ) | (
        (F.col("p_brand") == "Brand#20")
        & F.col("p_size").between(20, 50)
        & F.col("l_quantity").between(20, 50)
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .filter(clause)
        .agg(
            F.sum(disc_price).cast("double").alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# Q6-shaped: pure scan + conjunctive range predicates + scalar agg — the
# pushdown showcase (every predicate reaches the parquet reader).
# ---------------------------------------------------------------------------
@register_query(
    "q6_forecast_revenue",
    oracle="""
    SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                    * CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE) AS revenue,
           count(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1995-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & F.col("l_discount").between(0.03, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(_money("l_extendedprice") * _frac("l_discount"))
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# Q10-shaped: returned-item reporting — top 20 customers by lost revenue.
# ---------------------------------------------------------------------------
@register_query(
    "q10_returned_item_customers",
    oracle="""
    SELECT c_custkey, c_name, n_name,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))))
                AS DOUBLE) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = _t(spark, sf_dir, "nation")
    disc_price = _money("l_extendedprice") * (_one() - _frac("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(disc_price).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Explicit GROUPING SETS (beyond rollup/cube): per-(status,priority),
# per-status, and grand total in one pass, with grouping ids.
# ---------------------------------------------------------------------------
@register_query(
    "grouping_sets_orders",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n_orders,
           grouping(o_orderstatus) AS g_status,
           grouping(o_orderpriority) AS g_priority
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
    ORDER BY g_status, g_priority, o_orderstatus NULLS FIRST,
             o_orderpriority NULLS FIRST
    """,
)
def grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("_gs_orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n_orders,
               grouping(o_orderstatus) AS g_status,
               grouping(o_orderpriority) AS g_priority
        FROM _gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        ORDER BY g_status, g_priority, o_orderstatus NULLS FIRST,
                 o_orderpriority NULLS FIRST
        """
    )


# ---------------------------------------------------------------------------
# Q8-shaped: market share — share of a target nation's revenue within a
# region per order year. CASE-inside-aggregate over a 7-table star.
# ---------------------------------------------------------------------------
@register_query(
    "q8_market_share",
    oracle="""
    SELECT o_year,
      CAST(sum(CASE WHEN supp_nation = 'CHINA' THEN volume
               ELSE CAST(0 AS DECIMAL(15,4)) END) AS DOUBLE)
        / CAST(sum(volume) AS DOUBLE) AS mkt_share,
      count(*) AS n_lines
    FROM (
      SELECT year(o_orderdate) AS o_year,
             CAST(l_extendedprice AS DECIMAL(12,2))
               * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))
               AS volume,
             n2.n_name AS supp_nation
      FROM lineitem
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region ON n1.n_regionkey = r_regionkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'ASIA'
    ) all_lines
    GROUP BY o_year
    ORDER BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Join order applies the only selective predicate (region = ASIA)
    # to the ORDERS side before the fact-fact join: customer x nation x
    # region reduces to ASIA customer keys, orders shrink ~5x against
    # them, and only then does lineitem join. Written fact-first (the
    # naive order), the 10x scale probe measured 5.85x wall (1.70x per
    # doubling): the unreduced orders side outgrows the broadcast
    # threshold, so BOTH full facts shuffle for a sort-merge join.
    # Reduced first, the orders side stays broadcast-sized ~5x longer,
    # and when it finally does flip, the shuffle carries 1/5 the rows —
    # the reorder CBO would pick with stats, hard-coded because it is
    # correct at every scale. Probe after the fix: 3.3s at 10x (was
    # 5.4s), ~1.35x per doubling — at the cost of ~+0.3s at the 1x leg
    # for the extra reduction stage, the right trade at every real SF.
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    volume = _money("l_extendedprice") * (_one() - _frac("l_discount"))
    china = F.when(F.col("supp_nation") == "CHINA", volume).otherwise(
        F.lit(0).cast("decimal(15,4)")
    )
    cust_asia = (
        cust.join(F.broadcast(n1), cust.c_nationkey == F.col("n1_key"))
        .join(F.broadcast(region), F.col("n1_region") == region.r_regionkey)
        .select("c_custkey")
    )
    ord_asia = orders.join(
        cust_asia, orders.o_custkey == cust_asia.c_custkey
    ).select("o_orderkey", "o_orderdate")
    # supplier joins as the RAW file relation (n2 attached after): a
    # pre-joined supplier x nation subtree has no planning-time size
    # stat, so Catalyst's no-stats join estimate balloons and plans a
    # sort-merge join that shuffles the whole fact fan on l_suppkey
    # (measured: 2.0s vs 0.9s at the 1x leg)
    return (
        li.join(ord_asia, li.l_orderkey == ord_asia.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (F.sum(china).cast("double") / F.sum(volume).cast("double")).alias(
                "mkt_share"
            ),
            F.count("*").alias("n_lines"),
        )
        .orderBy("o_year")
    )


# ---------------------------------------------------------------------------
# Q15-shaped: top supplier(s) — revenue per supplier, keep the max via a
# scalar subquery over the derived aggregate (view-equivalent CTE).
# ---------------------------------------------------------------------------
@register_query(
    "q15_top_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             sum(CAST(l_extendedprice AS DECIMAL(12,2))
                 * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))))
               AS total_rev
      FROM lineitem GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_rev = (SELECT max(total_rev) FROM revenue)
    ORDER BY s_suppkey
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    disc_price = _money("l_extendedprice") * (_one() - _frac("l_discount"))
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(disc_price).alias("total_rev")
    )
    top = revenue.agg(F.max("total_rev").alias("m"))
    return (
        supp.join(revenue, supp.s_suppkey == revenue.supplier_no)
        .join(F.broadcast(top), F.col("total_rev") == F.col("m"))
        .select(
            "s_suppkey", "s_name", F.col("total_rev").cast("double").alias("total_revenue")
        )
        .orderBy("s_suppkey")
    )


# ---------------------------------------------------------------------------
# Sessionization in batch: Spark's session_window (30-min inactivity
# gap) vs the classic gaps-and-islands SQL — the same dynamic windows
# the streaming path uses (streaming/analytics.sessionized_activity).
# ---------------------------------------------------------------------------
@register_query(
    "sessionization_batch",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       >= INTERVAL 30 MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS is_start
      FROM events
    ), islands AS (
      SELECT user_id, ts, value,
             sum(is_start) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS UNBOUNDED PRECEDING
             ) AS session_id
      FROM marked
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS session_value
    FROM islands
    GROUP BY user_id, session_id
    ORDER BY user_id, session_start
    """,
)
def sessionization_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.session_window("ts", "30 minutes").alias("s"), "user_id"
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)"))
            .cast("double")
            .alias("session_value"),
        )
        .select(
            "user_id",
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "n_events",
            "session_value",
        )
        .orderBy("user_id", "session_start")
    )


# (asof_join_operator retired in round 6 under the registry size
# budget: it and asof_last_click_before_purchase certified the same
# backward+strict merge_asof shape over the same event stream. The
# reusable operator (operators/joins.py:asof_join) keeps its local
# certificate — tests/test_asof_join.py checks every direction/strict
# combination against pandas.merge_asof — and the window-union plan
# stays driver-checked via asof_last_click_before_purchase.)


# ---------------------------------------------------------------------------
# Q17 shape — correlated aggregate subquery (small-quantity revenue):
# lineitems with quantity below 20% of their part's average. The Spark
# plan is the decorrelated form: one per-part aggregate joined back on
# the part key (the rewrite Catalyst itself applies to the SQL form).
# The comparison is kept in exact integer-valued doubles
# (5*qty*cnt < sum instead of qty < 0.2*avg), so no division rounding
# can diverge between engines.
# ---------------------------------------------------------------------------
@register_query(
    "q17_small_quantity_revenue",
    oracle="""
    SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0
             AS avg_weekly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#1'
      AND 5.0 * l_quantity
            * (SELECT count(*) FROM lineitem l2
               WHERE l2.l_partkey = lineitem.l_partkey)
          < (SELECT sum(l2.l_quantity) FROM lineitem l2
             WHERE l2.l_partkey = lineitem.l_partkey)
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    brand_li = li.join(
        part.select("p_partkey"), li.l_partkey == F.col("p_partkey")
    )
    stats = brand_li.groupBy("l_partkey").agg(
        F.count("*").alias("_cnt"), F.sum("l_quantity").alias("_sum_qty")
    )
    return (
        brand_li.join(stats, "l_partkey")
        .filter(
            F.lit(5.0) * F.col("l_quantity") * F.col("_cnt") < F.col("_sum_qty")
        )
        .agg(
            (F.sum(_money("l_extendedprice")).cast("double") / 7.0).alias(
                "avg_weekly"
            )
        )
    )


# ---------------------------------------------------------------------------
# Q18 shape — IN-subquery over a grouped HAVING (large-volume customers):
# orders whose total quantity exceeds 300, joined back to their customer.
# The Spark plan reuses the per-order aggregate for both the predicate
# and the output column — one shuffle on the order key, customer
# broadcast.
# ---------------------------------------------------------------------------
@register_query(
    "q18_large_volume_customers",
    oracle="""
    SELECT c_name, c_custkey, o_orderkey, o_orderdate,
           CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS total_price,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey
      HAVING sum(CAST(l_quantity AS DECIMAL(12,2))) > 300
    )
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY total_price DESC, o_orderkey
    LIMIT 100
    """,
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    per_order = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_money("l_quantity")).alias("_qty"))
        .filter(F.col("_qty") > 300)
    )
    return (
        orders.join(per_order, orders.o_orderkey == per_order.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            _money("o_totalprice").cast("double").alias("total_price"),
            F.col("_qty").cast("double").alias("sum_qty"),
        )
        .orderBy(F.desc("total_price"), "o_orderkey")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Q4 shape — correlated EXISTS (orders with at least one returned line):
# plans as a left-semi join on the order key, then a 1-key aggregate.
# ---------------------------------------------------------------------------
@register_query(
    "q4_orders_with_returns_exists",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_returnflag = 'R'
      )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q4_orders_with_returns_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    returned = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey")
    )
    return (
        orders.join(returned, orders.o_orderkey == returned.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Q22 shape — scalar aggregate subquery + correlated count: customers
# with an above-average positive balance and low order activity. The
# global average is compared multiplication-exactly
# (bal * n_pos > sum_pos) so no division rounding; the correlated
# per-customer order count decorrelates into a broadcast-friendly
# counted left join.
# ---------------------------------------------------------------------------
@register_query(
    "q22_rich_low_activity_customers",
    oracle="""
    WITH pos AS (
      SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DECIMAL(20,2)) AS s,
             count(*) AS n
      FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c_mktsegment,
           count(*) AS n_customers,
           CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_acctbal
    FROM customer, pos
    WHERE CAST(c_acctbal AS DECIMAL(12,2)) * n > s
      AND (SELECT count(*) FROM orders WHERE o_custkey = c_custkey) <= 4
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def q22_rich_low_activity_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    pos = cust.filter(F.col("c_acctbal") > 0.0).agg(
        F.sum(_money("c_acctbal")).cast("decimal(20,2)").alias("_s"),
        F.count("*").alias("_n"),
    )
    n_orders = orders.groupBy("o_custkey").agg(F.count("*").alias("_n_orders"))
    return (
        cust.crossJoin(F.broadcast(pos))
        .filter(_money("c_acctbal") * F.col("_n") > F.col("_s"))
        .join(n_orders, cust.c_custkey == n_orders.o_custkey, "left")
        .filter(F.coalesce(F.col("_n_orders"), F.lit(0)) <= 4)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum(_money("c_acctbal")).cast("double").alias("total_acctbal"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# Q9-shaped: profit by nation and order year — the classic 5-way
# fact-to-dims join with an expression aggregate. This schema has no
# partsupp, so unit cost is p_retailprice. Revenue and cost sum as exact
# decimals in separate aggregates and difference in double, avoiding any
# cross-engine decimal-subtraction alignment. Only fixed-size nation
# carries a broadcast hint; part/supplier/orders are AQE's call.
# ---------------------------------------------------------------------------
@register_query(
    "q9_profit_by_nation_year",
    oracle="""
    SELECT n_name AS nation,
           CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))))
                AS DOUBLE)
           - CAST(sum(CAST(p_retailprice AS DECIMAL(12,2))
                      * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
             AS profit
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN orders ON l_orderkey = o_orderkey
    WHERE p_name LIKE '%red%'
    GROUP BY n_name, EXTRACT(year FROM o_orderdate)
    ORDER BY nation, o_year DESC
    """,
)
def q9_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders")
    revenue = _money("l_extendedprice") * (_one() - _frac("l_discount"))
    cost = _money("p_retailprice") * F.col("l_quantity").cast("decimal(12,2)")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(
            (F.sum(revenue).cast("double") - F.sum(cost).cast("double")).alias(
                "profit"
            )
        )
        .orderBy("nation", F.desc("o_year"))
    )


# ---------------------------------------------------------------------------
# Q11-shaped: parts whose accumulated line value within a nation scope
# exceeds a fraction of the scope total — group + HAVING against a
# scalar subquery. The threshold compare stays in exact decimals on both
# engines; the scalar total rides a 1-row broadcast cross join.
# ---------------------------------------------------------------------------
@register_query(
    "q11_important_parts",
    oracle="""
    WITH scope AS (
      SELECT l_partkey, CAST(l_extendedprice AS DECIMAL(12,2)) AS val
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name IN ('NATION_3', 'NATION_7')
    )
    SELECT l_partkey AS partkey, CAST(sum(val) AS DOUBLE) AS part_value
    FROM scope
    GROUP BY l_partkey
    HAVING sum(val) > (SELECT sum(val) * CAST(0.001 AS DECIMAL(6,4)) FROM scope)
    ORDER BY part_value DESC, partkey
    """,
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_3", "NATION_7")
    )
    scope = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select("l_partkey", _money("l_extendedprice").alias("val"))
    )
    per_part = scope.groupBy("l_partkey").agg(F.sum("val").alias("_sv"))
    threshold = scope.agg(
        (F.sum("val") * F.lit(0.001).cast("decimal(6,4)")).alias("_thr")
    )
    return (
        per_part.crossJoin(F.broadcast(threshold))
        .filter(F.col("_sv") > F.col("_thr"))
        .select(
            F.col("l_partkey").alias("partkey"),
            F.col("_sv").cast("double").alias("part_value"),
        )
        .orderBy(F.desc("part_value"), "partkey")
    )


# ---------------------------------------------------------------------------
# Q16-shaped: supplier diversity per part attribute — distinct-count
# aggregate behind an anti-join exclusion list (suppliers with negative
# account balance stand in for Q16's complaint-comment suppliers).
# ---------------------------------------------------------------------------
@register_query(
    "q16_supplier_count_by_part",
    oracle="""
    SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#3'
      AND p_type <> 'PROMO'
      AND p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
      AND l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)
def q16_supplier_count_by_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#3")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 9, 14, 19, 23, 36, 45)
    )
    excluded = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0)
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(excluded, li.l_suppkey == excluded.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


# ---------------------------------------------------------------------------
# Q21-shaped: the sole delinquent supplier in multi-supplier orders —
# the classic EXISTS + NOT EXISTS double correlated subquery, planned as
# a semi join then an anti join on the fact table. This schema has no
# commit/receipt dates, so returnflag 'R' marks the delinquent lines.
# ---------------------------------------------------------------------------
@register_query(
    "q21_waiting_suppliers",
    oracle="""
    SELECT s_name, count(*) AS numwait
    FROM lineitem l1
    JOIN orders ON l1.l_orderkey = o_orderkey
    JOIN supplier ON l1.l_suppkey = s_suppkey
    WHERE o_orderstatus = 'F'
      AND l1.l_returnflag = 'R'
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_returnflag = 'R'
      )
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    supp = _t(spark, sf_dir, "supplier")
    l1 = li.filter(F.col("l_returnflag") == "R").join(
        orders.select("o_orderkey"), li.l_orderkey == F.col("o_orderkey")
    )
    l2 = li.select(
        F.col("l_orderkey").alias("_k2"), F.col("l_suppkey").alias("_s2")
    )
    l3 = (
        li.filter(F.col("l_returnflag") == "R")
        .select(F.col("l_orderkey").alias("_k3"), F.col("l_suppkey").alias("_s3"))
    )
    sole_delinquent = (
        l1.join(
            l2,
            (l1.l_orderkey == F.col("_k2")) & (l1.l_suppkey != F.col("_s2")),
            "left_semi",
        )
        .join(
            l3,
            (l1.l_orderkey == F.col("_k3")) & (l1.l_suppkey != F.col("_s3")),
            "left_anti",
        )
    )
    return (
        sole_delinquent.join(supp, sole_delinquent.l_suppkey == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Q20-shaped: suppliers with excess recent concentration — the nested
# IN-subquery over a grouped correlated aggregate (Q20's availqty >
# half-of-shipped test, restated over this schema as: 1997 shipped
# quantity of 'red%' parts exceeding 20% of the supplier's all-time
# shipped quantity of those parts). The threshold compare stays in
# exact decimals; membership is a semi join, never a collected list.
# ---------------------------------------------------------------------------
@register_query(
    "q20_recent_concentration_suppliers",
    oracle="""
    WITH shipped AS (
      SELECT l_suppkey,
             sum(CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
                       AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
                      THEN CAST(l_quantity AS DECIMAL(12,2))
                      ELSE CAST(0 AS DECIMAL(12,2)) END) AS q97,
             sum(CAST(l_quantity AS DECIMAL(12,2))) AS qall
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE p_name LIKE 'red%'
      GROUP BY l_suppkey
    )
    SELECT s_name, s_acctbal AS acctbal
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name IN ('NATION_2', 'NATION_5', 'NATION_11')
      AND s_suppkey IN (
        SELECT l_suppkey FROM shipped
        WHERE q97 > qall * CAST(0.2 AS DECIMAL(2,1))
      )
    ORDER BY s_name
    """,
)
def q20_recent_concentration_suppliers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("red%"))
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_2", "NATION_5", "NATION_11")
    )
    qty = F.col("l_quantity").cast("decimal(12,2)")
    in_97 = (F.col("l_shipdate") >= "1997-01-01") & (
        F.col("l_shipdate") < "1998-01-01"
    )
    shipped = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey")
        .agg(
            F.sum(
                F.when(in_97, qty).otherwise(F.lit(0).cast("decimal(12,2)"))
            ).alias("q97"),
            F.sum(qty).alias("qall"),
        )
    )
    qualifying = shipped.filter(
        F.col("q97") > F.col("qall") * F.lit(0.2).cast("decimal(2,1)")
    )
    return (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(qualifying, supp.s_suppkey == qualifying.l_suppkey, "left_semi")
        .select("s_name", F.col("s_acctbal").alias("acctbal"))
        .orderBy("s_name")
    )


# ---------------------------------------------------------------------------
# Q13-shaped: customer order-count distribution — outer join + double
# aggregation. The classic formulation joins then groups the joined rows;
# here orders pre-aggregates to (custkey, count) first, so the join and
# second shuffle carry one row per customer instead of one per order —
# the only formulation that survives a 100x orders table. Customers with
# no (qualifying) orders surface as c_count = 0 via the left join.
# Parity target: reference has no analytics engine; shape follows TPC-H
# Q13 with o_orderpriority standing in for the o_comment exclusion
# (this schema carries no comment column).
# ---------------------------------------------------------------------------
@register_query(
    "q13_customer_order_distribution",
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer
      LEFT OUTER JOIN orders ON c_custkey = o_custkey
        AND o_orderpriority NOT LIKE '%URGENT%'
      GROUP BY c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q13_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        ~F.col("o_orderpriority").like("%URGENT%")
    )
    n_orders = orders.groupBy("o_custkey").agg(F.count("*").alias("_n"))
    return (
        cust.join(n_orders, cust.c_custkey == n_orders.o_custkey, "left")
        .select(F.coalesce(F.col("_n"), F.lit(0).cast("long")).alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


# ---------------------------------------------------------------------------
# Window-function breadth: per-customer consecutive-order gaps (lag) and
# spend quartile (ntile). Both windows share one partition-by-customer
# sort, so the whole query is a single shuffle on o_custkey — lag/ntile
# then evaluate streaming over the sorted run. Tie-breaking is pinned
# with o_orderkey so the result is deterministic on both engines.
# ---------------------------------------------------------------------------
@register_query(
    "customer_order_gaps",
    oracle="""
    SELECT o_custkey, o_orderkey,
           date_diff('day',
                     CAST(lag(o_orderdate) OVER w AS DATE),
                     CAST(o_orderdate AS DATE)) AS days_since_prev,
           ntile(4) OVER (PARTITION BY o_custkey
                          ORDER BY CAST(o_totalprice AS DECIMAL(12,2)), o_orderkey)
             AS spend_quartile
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ORDER BY o_custkey, o_orderkey
    """,
)
def customer_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    w_seq = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_spend = W.partitionBy("o_custkey").orderBy(
        _money("o_totalprice"), F.col("o_orderkey")
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lag(F.col("o_orderdate")).over(w_seq).cast("date"),
        ).alias("days_since_prev"),
        F.ntile(4).over(w_spend).alias("spend_quartile"),
    ).orderBy("o_custkey", "o_orderkey")


# ---------------------------------------------------------------------------
# Data-quality audit: referential integrity across the whole star
# schema — one anti-join per foreign key, unioned into a single report.
# Each anti join is independently broadcastable/AQE-planned; none of
# them carries payload columns, only the key being checked, so at 100 TB
# each probe is a key-projection scan + semi-join shuffle at worst.
# ---------------------------------------------------------------------------
@register_query(
    "referential_integrity_audit",
    oracle="""
    SELECT fk, n_orphans FROM (
      SELECT 'customer.c_nationkey' AS fk, count(*) AS n_orphans
      FROM customer WHERE NOT EXISTS (SELECT 1 FROM nation WHERE n_nationkey = c_nationkey)
      UNION ALL
      SELECT 'events.user_id', count(*)
      FROM events WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = user_id)
      UNION ALL
      SELECT 'lineitem.l_orderkey', count(*)
      FROM lineitem WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
      UNION ALL
      SELECT 'lineitem.l_partkey', count(*)
      FROM lineitem WHERE NOT EXISTS (SELECT 1 FROM part WHERE p_partkey = l_partkey)
      UNION ALL
      SELECT 'lineitem.l_suppkey', count(*)
      FROM lineitem WHERE NOT EXISTS (SELECT 1 FROM supplier WHERE s_suppkey = l_suppkey)
      UNION ALL
      SELECT 'nation.n_regionkey', count(*)
      FROM nation WHERE NOT EXISTS (SELECT 1 FROM region WHERE r_regionkey = n_regionkey)
      UNION ALL
      SELECT 'orders.o_custkey', count(*)
      FROM orders WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey)
      UNION ALL
      SELECT 'supplier.s_nationkey', count(*)
      FROM supplier WHERE NOT EXISTS (SELECT 1 FROM nation WHERE n_nationkey = s_nationkey)
    )
    ORDER BY fk
    """,
)
def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    def orphans(label, child, ckey, parent, pkey):
        c = _t(spark, sf_dir, child).select(F.col(ckey))
        p = _t(spark, sf_dir, parent).select(F.col(pkey))
        return (
            c.join(p, c[ckey] == p[pkey], "left_anti")
            .agg(F.count("*").alias("n_orphans"))
            .select(F.lit(label).alias("fk"), "n_orphans")
        )

    checks = [
        orphans("customer.c_nationkey", "customer", "c_nationkey", "nation", "n_nationkey"),
        orphans("events.user_id", "events", "user_id", "customer", "c_custkey"),
        orphans("lineitem.l_orderkey", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        orphans("lineitem.l_partkey", "lineitem", "l_partkey", "part", "p_partkey"),
        orphans("lineitem.l_suppkey", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        orphans("nation.n_regionkey", "nation", "n_regionkey", "region", "r_regionkey"),
        orphans("orders.o_custkey", "orders", "o_custkey", "customer", "c_custkey"),
        orphans("supplier.s_nationkey", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionAll(c)
    return out.orderBy("fk")


# ---------------------------------------------------------------------------
# Z-order clustering key: per-cell row counts over the Morton
# interleave of two bucketed dimensions. Proves the layout operator's
# clustering key byte-for-byte against an independent engine (both
# run the same ``zorder_sql`` text — operators/layout.py). The
# write-side job (zorder_repartition: range shuffle on this key +
# within-partition sort) and its pruning benefit are pinned by
# tests/test_scale_ops.py.
# ---------------------------------------------------------------------------
def _register_zorder_query():
    from ..operators.layout import zorder_sql, zorder_value

    sql_z = zorder_sql(["xb", "yb"], bits=6, quote=lambda c: f'"{c}"')

    @register_query(
        "layout_zorder_cells",
        oracle=f"""
        WITH b AS (
          SELECT l_partkey % 64 AS xb, l_suppkey % 64 AS yb FROM lineitem
        )
        SELECT ({sql_z}) AS zval, count(*) AS n_rows
        FROM b
        GROUP BY zval
        ORDER BY zval
        """,
    )
    def layout_zorder_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
        li = _t(spark, sf_dir, "lineitem").select(
            F.pmod(F.col("l_partkey"), F.lit(64)).alias("xb"),
            F.pmod(F.col("l_suppkey"), F.lit(64)).alias("yb"),
        )
        return (
            li.select(
                zorder_value(["xb", "yb"], bits=6).alias("zval")
            )
            .groupBy("zval")
            .agg(F.count("*").alias("n_rows"))
            .orderBy("zval")
        )


_register_zorder_query()


# ---------------------------------------------------------------------------
# Approximate aggregates with exact-oracle tolerance twins. HLL++
# (approx_count_distinct) and the percentile sketch are deterministic
# functions of the data (hash registers / rank-error-bounded sketches,
# commutative merges), so the within-tolerance booleans are stable
# across partitionings; the oracle emits literal TRUE and the exact
# values, putting the approximate path under the hard hash gate: the
# row only matches while the sketch actually stays inside its bound.
# At 100 TB these are the workhorse forms — approx_count_distinct is a
# fixed-size register merge instead of a distinct shuffle, and the
# percentile sketch replaces a full sort per group.
# ---------------------------------------------------------------------------
@register_query(
    "approx_distinct_orders_by_flag",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_orderkey) AS exact_orders,
           TRUE AS approx_within_5pct
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def approx_distinct_orders_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("exact_orders"),
        F.approx_count_distinct("l_orderkey", 0.02).alias("_approx"),
    )
    return agg.select(
        "l_returnflag",
        "exact_orders",
        (
            F.abs(F.col("_approx") - F.col("exact_orders"))
            <= 0.05 * F.col("exact_orders")
        ).alias("approx_within_5pct"),
    ).orderBy("l_returnflag")


@register_query(
    "approx_percentile_order_values",
    oracle="""
    SELECT o_orderstatus,
           quantile_cont(o_totalprice, 0.5) AS p50_exact,
           quantile_cont(o_totalprice, 0.95) AS p95_exact,
           TRUE AS approx_p50_ok,
           TRUE AS approx_p95_ok
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def approx_percentile_order_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    agg = orders.groupBy("o_orderstatus").agg(
        F.percentile("o_totalprice", 0.5).alias("p50_exact"),
        F.percentile("o_totalprice", 0.95).alias("p95_exact"),
        F.percentile_approx("o_totalprice", 0.5, 10000).alias("_a50"),
        F.percentile_approx("o_totalprice", 0.95, 10000).alias("_a95"),
    )
    return agg.select(
        "o_orderstatus",
        "p50_exact",
        "p95_exact",
        (
            F.abs(F.col("_a50") - F.col("p50_exact"))
            <= 0.01 * F.abs(F.col("p50_exact"))
        ).alias("approx_p50_ok"),
        (
            F.abs(F.col("_a95") - F.col("p95_exact"))
            <= 0.01 * F.abs(F.col("p95_exact"))
        ).alias("approx_p95_ok"),
    ).orderBy("o_orderstatus")


# ---------------------------------------------------------------------------
# RANGE-frame moving window: 7-day trailing revenue over the daily
# series. RANGE (value-based) frames differ from ROWS frames whenever
# dates are missing — the frame is "last 6 calendar days", not "last 6
# rows". Spark needs a numeric ordering key for rangeBetween, so the
# date rides unix_date(); the daily pre-aggregate keeps the window
# input one row per day (tiny), which is how a 100 TB fact table runs
# this shape: partial-agg to days first, window the day series.
# ---------------------------------------------------------------------------
@register_query(
    "moving_7d_revenue",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             sum(CAST(o_totalprice AS DECIMAL(12,2))) AS rev
      FROM orders GROUP BY 1
    )
    SELECT d,
           CAST(rev AS DOUBLE) AS rev,
           CAST(sum(rev) OVER (
             ORDER BY d
             RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS rev_7d
    FROM daily
    ORDER BY d
    """,
)
def moving_7d_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("d")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(12,2)")).alias("rev"))
    w = W.orderBy(F.unix_date(F.col("d"))).rangeBetween(-6, 0)
    return daily.select(
        "d",
        F.col("rev").cast("double").alias("rev"),
        F.sum("rev").over(w).cast("double").alias("rev_7d"),
    ).orderBy("d")


# ---------------------------------------------------------------------------
# Full outer join: reconcile two independently-aggregated daily series
# (orders vs events) keeping days present in either — the
# missing-on-one-side rows are the point of the shape. Both sides
# pre-aggregate before the join (one row per day), so the full-outer
# shuffle is tiny regardless of fact-table scale.
# ---------------------------------------------------------------------------
@register_query(
    "daily_orders_vs_events_full_outer",
    oracle="""
    WITH o AS (
      SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS n_orders
      FROM orders GROUP BY 1
    ), e AS (
      SELECT CAST(ts AS DATE) AS d, count(*) AS n_events
      FROM events GROUP BY 1
    )
    SELECT COALESCE(o.d, e.d) AS d, o.n_orders, e.n_events
    FROM o FULL OUTER JOIN e ON o.d = e.d
    ORDER BY d
    """,
)
def daily_orders_vs_events_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("od"))
        .agg(F.count("*").alias("n_orders"))
    )
    e = (
        _t(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("ed"))
        .agg(F.count("*").alias("n_events"))
    )
    return (
        o.join(e, o["od"] == e["ed"], "full_outer")
        .select(
            F.coalesce(F.col("od"), F.col("ed")).alias("d"),
            "n_orders",
            "n_events",
        )
        .orderBy("d")
    )


# ---------------------------------------------------------------------------
# multiset_ops_purchase_click RETIRED round 11 (registry budget ≤100;
# its slot funds the manifest-planned streaming-source certificate
# `cdc_streaming_manifest_replica`, plans/cdc_queries.py). It
# certified INTERSECT ALL / EXCEPT ALL duplicate-cardinality
# semantics; the set-op family stays certified by
# `set_ops_purchasers_vs_clickers` (UNION/INTERSECT/EXCEPT distinct),
# which exercises the same ReplaceSetOps->aggregate/join physical
# family — the ALL variants were a second certificate of that plan
# shape, and both were driver-green every round since landing (last:
# r10 window + judge drive). `intersectAll`/`exceptAll` remain plain
# DataFrame API calls available to users; nothing was removed from
# the engine. ROUND-12 UPDATE (advisor follow-up): the ALL variants'
# duplicate-cardinality semantics are oracle-certified again — folded
# into `set_ops_purchasers_vs_clickers` as the 'both_all' /
# 'click_surplus' cohorts over the raw (duplicate-bearing) event
# streams, zero new registry rows.
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# UNPIVOT (melt): wide per-group metrics -> long (group, metric, value)
# form — the inverse of pivot, and the shape every metrics exporter
# wants. Values share one DOUBLE type post-melt; sums ride DECIMAL
# until the final cast per the registry float policy.
# ---------------------------------------------------------------------------
@register_query(
    "unpivot_order_metrics",
    oracle="""
    WITH agg AS (
      SELECT o_orderstatus,
             CAST(count(*) AS DOUBLE) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
               AS total_rev,
             CAST(max(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
               AS max_rev
      FROM orders GROUP BY o_orderstatus
    )
    SELECT o_orderstatus, metric, value FROM (
      SELECT o_orderstatus, 'n_orders' AS metric, n_orders AS value FROM agg
      UNION ALL
      SELECT o_orderstatus, 'total_rev', total_rev FROM agg
      UNION ALL
      SELECT o_orderstatus, 'max_rev', max_rev FROM agg
    )
    ORDER BY o_orderstatus, metric
    """,
)
def unpivot_order_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    agg = orders.groupBy("o_orderstatus").agg(
        F.count("*").cast("double").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
        .cast("double")
        .alias("total_rev"),
        F.max(F.col("o_totalprice").cast("decimal(12,2)"))
        .cast("double")
        .alias("max_rev"),
    )
    return agg.unpivot(
        "o_orderstatus", ["n_orders", "total_rev", "max_rev"], "metric", "value"
    ).orderBy("o_orderstatus", "metric")


# ---------------------------------------------------------------------------
# Filtered + boolean aggregates: count_if / bool_and / bool_or — the
# FILTER-clause family, all map-side-combinable.
# ---------------------------------------------------------------------------
@register_query(
    "event_flag_aggregates",
    oracle="""
    SELECT event_type,
           count(*) FILTER (WHERE value > 100) AS n_big,
           bool_and(value IS NOT NULL) AS all_valued,
           bool_or(value > 900) AS any_huge
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def event_flag_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count_if(F.col("value") > 100).alias("n_big"),
            F.bool_and(F.col("value").isNotNull()).alias("all_valued"),
            F.bool_or(F.col("value") > 900).alias("any_huge"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Skew-salted JOIN under the hash oracle: the hot-key fact side (events
# concentrates on few users) joins customer attributes through
# operators/skew.salted_join — hot keys spread over n_salts reducers,
# the dim side replicated per salt — and the result must equal the
# plain join exactly. (AQE skew-split handles this automatically when
# stats trip it; the explicit operator is the deterministic form for
# pipelines that disable AQE or pre-salt upstream.)
# ---------------------------------------------------------------------------
@register_query(
    "skew_salted_join_user_segments",
    oracle="""
    SELECT c_mktsegment,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def skew_salted_join_user_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_join

    ev = _t(spark, sf_dir, "events").select("user_id")
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey"), "c_mktsegment"
    )
    joined = salted_join(
        ev, cust.withColumnRenamed("c_custkey", "user_id"), ["user_id"], n_salts=8
    )
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# VARIANT path (Spark 4 native semi-structured type): props parse ONCE
# into the binary VARIANT encoding, then typed variant_get access — the
# engine-native successor of per-access string extraction
# (json_props_rollup keeps the classic get_json_object form). At scale
# the parse cost is paid once per row regardless of how many fields are
# later accessed, and the binary encoding pushes through shuffles far
# smaller than the JSON text. This is the SUPER-column parity path done
# the Spark 4 way (reference: Redshift SUPER via COPY, SURVEY.md §2.4).
# ---------------------------------------------------------------------------
@register_query(
    "variant_props_buckets",
    oracle="""
    SELECT CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) // 10
           AS BIGINT) AS k_bucket,
           count(*) AS n,
           CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS min_k,
           CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS max_k
    FROM events
    GROUP BY 1
    ORDER BY k_bucket
    """,
)
def variant_props_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    k = F.try_variant_get(F.parse_json(F.col("props")), "$.k", "bigint")
    return (
        events.select(F.floor(k / 10).cast("bigint").alias("k_bucket"), k.alias("_k"))
        .groupBy("k_bucket")
        .agg(
            F.count("*").alias("n"),
            F.min("_k").alias("min_k"),
            F.max("_k").alias("max_k"),
        )
        .orderBy("k_bucket")
    )
