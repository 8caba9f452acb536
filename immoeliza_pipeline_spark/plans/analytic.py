"""Analytic-core queries (SURVEY.md §2.1).

Each entry in ``QUERIES`` maps name → (spark_fn, oracle_sql). The
spark_fn takes (spark, sf_dir) and returns a DataFrame; the oracle is
ANSI SQL DuckDB runs on the same parquet views. Column aliases match
exactly on both sides; float aggregates are rounded identically.

Plan-shape notes (100 TB):
- dims (nation/region/customer at TPC-H ratios) broadcast; fact-side
  scans keep filters at the source (PushedFilters in explain).
- top-k per group is a single shuffle on the partition key.
- the as-of join is the union-tag/window form: ONE shuffle on
  (key), no per-row Python, no cross product.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from immoeliza_pipeline_spark.functions import num as N
from immoeliza_pipeline_spark.operators import window_ops as W
from immoeliza_pipeline_spark.sources.readers import load_table


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary: scan+filter+8-agg groupBy."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            N.quantize(F.sum("l_quantity"), 100).alias("sum_qty"),
            N.sum_money(F.col("l_extendedprice"), 2).alias("sum_base_price"),
            N.sum_money(disc_price, 2).alias("sum_disc_price"),
            N.sum_money(charge, 2).alias("sum_charge"),
            N.quantize(F.avg("l_quantity"), 10000).alias("avg_qty"),
            N.avg_money(F.col("l_extendedprice"), 4).alias("avg_price"),
            N.avg_money(F.col("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


Q1_SQL = f"""
SELECT l_returnflag, l_linestatus,
       (floor((sum(l_quantity)) * 100 + 0.5) / 100)                                        AS sum_qty,
       {N.sql_sum_money("l_extendedprice")}                                   AS sum_base_price,
       {N.sql_sum_money("l_extendedprice * (1 - l_discount)")}                AS sum_disc_price,
       {N.sql_sum_money("l_extendedprice * (1 - l_discount) * (1 + l_tax)")}  AS sum_charge,
       (floor((avg(l_quantity)) * 10000 + 0.5) / 10000)                                        AS avg_qty,
       {N.sql_avg_money("l_extendedprice")}                                   AS avg_price,
       {N.sql_avg_money("l_discount")}                                        AS avg_disc,
       count(*)                                                         AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q3_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping-priority: 3-way join, revenue agg, deterministic
    top-10. Customer filter is pushed to the scan; the customer→
    orders join broadcasts the filtered dim."""
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-01-01")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1997-01-01")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(N.sum_money(revenue, 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


Q3_SQL = f"""
SELECT l_orderkey, o_orderdate, o_orderpriority,
       {N.sql_sum_money("l_extendedprice * (1 - l_discount)")} AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate  > TIMESTAMP '1997-01-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-way star join through nation/region (both broadcast)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01"))
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(cust, (orders.o_custkey == cust.c_custkey)
              & (cust.c_nationkey == supp.s_nationkey))
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(N.sum_money(revenue, 2).alias("revenue"))
    )


Q5_SQL = f"""
SELECT n_name, {N.sql_sum_money("l_extendedprice * (1 - l_discount)")} AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'EUROPE'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n_name
"""


def topk_customers_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 customers by acctbal per market segment — one shuffle on
    the partition key, rank computed in-partition."""
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        cust.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("c_mktsegment", "c_custkey", N.quantize(F.col("c_acctbal"), 100).alias("acctbal"), "rank")
    )


TOPK_SQL = """
SELECT c_mktsegment, c_custkey, (floor((c_acctbal) * 100 + 0.5) / 100) AS acctbal, rank
FROM (
  SELECT c_mktsegment, c_custkey, c_acctbal,
         row_number() OVER (PARTITION BY c_mktsegment
                            ORDER BY c_acctbal DESC, c_custkey ASC) AS rank
  FROM customer
)
WHERE rank <= 5
"""

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def pivot_daily_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: events per day × event_type. Explicit pivot values so
    Spark skips the extra distinct-values job (and at scale avoids a
    full pre-pass)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn("day", F.to_date("ts").cast("string"))
        .groupBy("day")
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.count(F.lit(1)))
        .na.fill(0, list(EVENT_TYPES))
    )


PIVOT_SQL = """
SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
       count(*) FILTER (event_type = 'click')    AS click,
       count(*) FILTER (event_type = 'error')    AS error,
       count(*) FILTER (event_type = 'purchase') AS purchase,
       count(*) FILTER (event_type = 'signup')   AS signup,
       count(*) FILTER (event_type = 'view')     AS view
FROM events
GROUP BY 1
"""


def rollup_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (priority, status) with grouping-set totals."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderpriority", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_orders"),
             N.sum_money(F.col("o_totalprice"), 2).alias("total_price"))
    )


ROLLUP_SQL = f"""
SELECT o_orderpriority, o_orderstatus,
       count(*) AS n_orders, {N.sql_sum_money("o_totalprice")} AS total_price
FROM orders
GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
"""


def cube_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (priority, status) with grouping_id to label the
    aggregation level (all four grouping-set combinations)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderpriority", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_orders"),
             N.avg_money(F.col("o_totalprice"), 4).alias("avg_price"),
             F.grouping_id().alias("gid"))
    )


CUBE_SQL = f"""
SELECT o_orderpriority, o_orderstatus,
       count(*) AS n_orders, {N.sql_avg_money("o_totalprice")} AS avg_price,
       grouping(o_orderpriority) * 2 + grouping(o_orderstatus) AS gid
FROM orders
GROUP BY CUBE (o_orderpriority, o_orderstatus)
"""


def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: gap > 30 min starts a new session
    (window_ops.sessionize: lag + running-sum windows, one shuffle on
    user_id)."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts_us", F.unix_micros(F.col("ts").cast("timestamp")))
    with_sess = W.sessionize(ev, "user_id", "ts_us", 1800, "event_id")
    return (
        with_sess.groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.min("ts_us").alias("session_start"),
             F.max("ts_us").alias("session_end"))
    )


SESSIONIZE_SQL = """
WITH gaps AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap
  FROM events
), marked AS (
  SELECT user_id, event_id, ts_us,
         CASE WHEN gap IS NULL OR gap > 1800 * 1000000 THEN 1 ELSE 0 END AS is_new
  FROM gaps
), sess AS (
  SELECT user_id, event_id, ts_us,
         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM marked
)
SELECT user_id, session_id, count(*) AS n_events,
       min(ts_us) AS session_start, max(ts_us) AS session_end
FROM sess
GROUP BY user_id, session_id
"""


def asof_last_event_before_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each order of a (synthetic) user key, the most
    recent event at-or-before a reference time derived from the
    order. Spark lacks a native as-of join; window_ops.asof_join is
    the scalable union-tag + one window over (key, time) form — a
    single shuffle, linear state, no cross product (SURVEY §2.1 #9).
    At equal times the larger event_id wins, as in the oracle.

    Keys: events.user_id ↔ o_custkey % 150; time: order rows get a
    2024-01 timestamp derived from o_orderdate's day-of-year so the
    domains overlap.
    """
    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("key"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t"),
        F.col("event_id"))
    orders = load_table(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 150).alias("key"),
        ((F.lit(1704067200) + F.dayofyear("o_orderdate").cast("long") * 86400
          + (F.col("o_orderkey") % 86400)) * F.lit(1_000_000)).alias("t"),
        F.col("o_orderkey"))
    return (W.asof_join(orders, ev, "key", "t", ("event_id",),
                        tiebreak="event_id")
            .select("o_orderkey", F.col("key").alias("user_key"),
                    F.col("event_id_asof").alias("last_event_id")))


ASOF_SQL = """
WITH o AS (
  SELECT o_orderkey, o_custkey % 150 AS user_key,
         (1704067200 + CAST(dayofyear(o_orderdate) AS BIGINT) * 86400
                     + (o_orderkey % 86400)) * 1000000 AS t
  FROM orders
)
SELECT o.o_orderkey, o.user_key,
       (SELECT e.event_id FROM events e
        WHERE e.user_id = o.user_key AND epoch_us(e.ts) <= o.t
        ORDER BY epoch_us(e.ts) DESC, e.event_id DESC LIMIT 1) AS last_event_id
FROM o
"""


def conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel analysis: per user, did signup → click → purchase
    happen IN ORDER? One groupBy computing each step's first
    timestamp via conditional min — a single shuffle, no joins, no
    per-user Python (the standard event-sequence pattern)."""
    def first_ts(etype):
        return F.min(F.when(F.col("event_type") == etype, F.col("ts_us")))

    per_user = load_table(spark, sf_dir, "events").withColumn(
        "ts_us", F.unix_micros(F.col("ts").cast("timestamp"))).groupBy("user_id").agg(
        first_ts("signup").alias("t_signup"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_purchase"))
    staged = per_user.select(
        "user_id",
        F.col("t_signup").isNotNull().alias("did_signup"),
        (F.col("t_signup").isNotNull() & F.col("t_click").isNotNull()
         & (F.col("t_click") > F.col("t_signup"))).alias("did_click_after_signup"),
        (F.col("t_signup").isNotNull() & F.col("t_click").isNotNull()
         & F.col("t_purchase").isNotNull()
         & (F.col("t_click") > F.col("t_signup"))
         & (F.col("t_purchase") > F.col("t_click"))).alias("did_full_funnel"),
    )
    return staged.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.col("did_signup").cast("long")).alias("n_signup"),
        F.sum(F.col("did_click_after_signup").cast("long")).alias("n_click_after_signup"),
        F.sum(F.col("did_full_funnel").cast("long")).alias("n_full_funnel"))


FUNNEL_SQL = """
WITH per_user AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END) AS t_signup,
         min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS t_click,
         min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t_purchase
  FROM events GROUP BY user_id
),
staged AS (
  SELECT user_id,
         t_signup IS NOT NULL AS did_signup,
         (t_signup IS NOT NULL AND t_click IS NOT NULL AND t_click > t_signup)
             AS did_click_after_signup,
         (t_signup IS NOT NULL AND t_click IS NOT NULL AND t_purchase IS NOT NULL
          AND t_click > t_signup AND t_purchase > t_click) AS did_full_funnel
  FROM per_user
)
SELECT count(*) AS n_users,
       CAST(sum(CASE WHEN did_signup THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
       CAST(sum(CASE WHEN did_click_after_signup THEN 1 ELSE 0 END) AS BIGINT) AS n_click_after_signup,
       CAST(sum(CASE WHEN did_full_funnel THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel
FROM staged
"""


def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-seen day, activity
    counted by day-offset from that day. Two shuffles (first-seen
    per user, then cohort × offset counts) — the classic layout."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day"))
    first_seen = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    joined = ev.join(first_seen, "user_id")
    return (joined
            .select("user_id", F.col("cohort_day").cast("string").alias("cohort"),
                    F.datediff("day", "cohort_day").alias("day_offset"))
            .filter(F.col("day_offset") <= 7)
            .groupBy("cohort", "day_offset")
            .agg(F.countDistinct("user_id").alias("n_active")))


RETENTION_SQL = """
WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
first_seen AS (SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY user_id)
SELECT CAST(cohort_day AS VARCHAR) AS cohort,
       datediff('day', cohort_day, day) AS day_offset,
       count(DISTINCT ev.user_id) AS n_active
FROM ev JOIN first_seen ON ev.user_id = first_seen.user_id
WHERE datediff('day', cohort_day, day) <= 7
GROUP BY cohort_day, datediff('day', cohort_day, day)
"""


def anti_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: customers that never ordered."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


ANTI_SQL = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def json_extract_event_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-JSON field extraction (scraper.py:210-220 safe_get
    parity) — JVM-side get_json_object, no Python in the loop."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        ev.withColumn("k", k)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum("k").alias("sum_k"),
             N.quantize(F.avg("k"), 10000).alias("avg_k"))
    )


JSON_SQL = """
SELECT event_type, count(*) AS n,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       (floor((avg(CAST(json_extract_string(props, '$.k') AS BIGINT))) * 10000 + 0.5) / 10000) AS avg_k
FROM events
GROUP BY event_type
"""


def order_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per priority class."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        N.quantize(F.expr("percentile(o_totalprice, 0.25)"), 100).alias("p25"),
        N.quantize(F.expr("percentile(o_totalprice, 0.50)"), 100).alias("p50"),
        N.quantize(F.expr("percentile(o_totalprice, 0.75)"), 100).alias("p75"),
        N.quantize(F.expr("percentile(o_totalprice, 0.95)"), 100).alias("p95"),
    )


QUANTILES_SQL = """
SELECT o_orderpriority,
       (floor((quantile_cont(o_totalprice, 0.25)) * 100 + 0.5) / 100) AS p25,
       (floor((quantile_cont(o_totalprice, 0.50)) * 100 + 0.5) / 100) AS p50,
       (floor((quantile_cont(o_totalprice, 0.75)) * 100 + 0.5) / 100) AS p75,
       (floor((quantile_cont(o_totalprice, 0.95)) * 100 + 0.5) / 100) AS p95
FROM orders
GROUP BY o_orderpriority
"""


def running_revenue_by_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total per customer — deterministic accumulation order
    (o_orderdate, o_orderkey) so fp sums agree with the oracle."""
    orders = load_table(spark, sf_dir, "orders")
    w = (Window.partitionBy("o_custkey")
         .orderBy("o_orderdate", "o_orderkey")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return orders.select(
        "o_orderkey", "o_custkey",
        N.quantize(F.sum("o_totalprice").over(w), 100).alias("running_total"),
    )


RUNNING_SQL = """
SELECT o_orderkey, o_custkey,
       (floor((sum(o_totalprice) OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate, o_orderkey
                                     ROWS UNBOUNDED PRECEDING)) * 100 + 0.5) / 100) AS running_total
FROM orders
"""


def distinct_users_per_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct-count per day. The 100 TB path swaps in
    approx_count_distinct (HLL sketch, mergeable map-side) — same
    plan shape, no exact-distinct expand."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn("day", F.to_date("ts").cast("string"))
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("n_users"),
             F.count(F.lit(1)).alias("n_events"))
    )


DISTINCT_USERS_SQL = """
SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
       count(DISTINCT user_id) AS n_users, count(*) AS n_events
FROM events
GROUP BY 1
"""


def semi_customers_with_urgent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: customers having ≥1 urgent order (the filter
    side never materializes — no duplicate blowup, minimal shuffle)."""
    cust = load_table(spark, sf_dir, "customer")
    urgent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT")
    return (
        cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left_semi")
        .select("c_custkey", "c_mktsegment")
    )


SEMI_SQL = """
SELECT c_custkey, c_mktsegment
FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
"""


def price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order prices via width_bucket — the
    single-pass distributed histogram (no sort, map-side combine)."""
    orders = load_table(spark, sf_dir, "orders")
    bucket = F.width_bucket(F.col("o_totalprice"), F.lit(0.0),
                            F.lit(600000.0), F.lit(12))
    return (orders.groupBy(bucket.alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n"),
                 N.avg_money(F.col("o_totalprice"), 2).alias("avg_price")))


# DuckDB has no width_bucket; the floor arithmetic below is its exact
# definition for (min=0, max=600000, n=12): width 50000, overflow → 13.
HISTOGRAM_SQL = f"""
SELECT CASE WHEN o_totalprice < 0 THEN 0
            WHEN o_totalprice >= 600000 THEN 13
            ELSE CAST(floor(o_totalprice / 50000) AS BIGINT) + 1 END AS bucket,
       count(*) AS n, {N.sql_avg_money("o_totalprice", 2)} AS avg_price
FROM orders
GROUP BY 1
"""


def orders_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Days between consecutive orders per customer (lead/lag over
    the customer timeline), summarized per market segment."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gap_days = (F.unix_micros(F.col("o_orderdate").cast("timestamp"))
                - F.unix_micros(F.lag(F.col("o_orderdate").cast("timestamp")).over(w))
                ) / F.lit(86400.0 * 1_000_000)
    gaps = orders.withColumn("gap_days", gap_days).filter(F.col("gap_days").isNotNull())
    return (gaps.join(F.broadcast(cust), gaps.o_custkey == cust.c_custkey)
            .groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n_gaps"),
                 N.quantize(F.avg("gap_days"), 10000).alias("avg_gap_days"),
                 N.quantize(F.expr("percentile(gap_days, 0.5)"), 10000).alias("median_gap_days")))


INTERARRIVAL_SQL = """
WITH gaps AS (
  SELECT o_custkey,
         (epoch_us(o_orderdate) - lag(epoch_us(o_orderdate)) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey))
           / (86400.0 * 1000000) AS gap_days
  FROM orders
)
SELECT c_mktsegment, count(*) AS n_gaps,
       (floor((avg(gap_days)) * 10000 + 0.5) / 10000) AS avg_gap_days,
       (floor((quantile_cont(gap_days, 0.5)) * 10000 + 0.5) / 10000) AS median_gap_days
FROM gaps JOIN customer ON o_custkey = c_custkey
WHERE gap_days IS NOT NULL
GROUP BY c_mktsegment
"""


QUERIES: dict[str, tuple] = {
    "q1_pricing_summary": (q1_pricing_summary, Q1_SQL),
    "price_histogram": (price_histogram, HISTOGRAM_SQL),
    "orders_interarrival": (orders_interarrival, INTERARRIVAL_SQL),
    "distinct_users_per_day": (distinct_users_per_day, DISTINCT_USERS_SQL),
    "semi_customers_with_urgent_orders": (semi_customers_with_urgent_orders, SEMI_SQL),
    "q3_top_orders": (q3_top_orders, Q3_SQL),
    "q5_local_supplier_volume": (q5_local_supplier_volume, Q5_SQL),
    "topk_customers_per_segment": (topk_customers_per_segment, TOPK_SQL),
    "pivot_daily_event_counts": (pivot_daily_event_counts, PIVOT_SQL),
    "rollup_order_status": (rollup_order_status, ROLLUP_SQL),
    "cube_priority_status": (cube_priority_status, CUBE_SQL),
    "sessionize_events": (sessionize_events, SESSIONIZE_SQL),
    "asof_last_event_before_order": (asof_last_event_before_order, ASOF_SQL),
    "anti_customers_without_orders": (anti_customers_without_orders, ANTI_SQL),
    "conversion_funnel": (conversion_funnel, FUNNEL_SQL),
    "retention_cohorts": (retention_cohorts, RETENTION_SQL),
    "json_extract_event_props": (json_extract_event_props, JSON_SQL),
    "order_price_quantiles": (order_price_quantiles, QUANTILES_SQL),
    "running_revenue_by_customer": (running_revenue_by_customer, RUNNING_SQL),
}
