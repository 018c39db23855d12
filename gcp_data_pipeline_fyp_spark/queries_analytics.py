"""Star-schema + general analytics queries (SURVEY.md §2.3-§2.4, §3 E3).

The reference's analytical surface is 12 DAX measures over a star
schema plus the implicit Power BI slicing; these queries prove the
engine answers that class of workload — and the general shuffled-join
/ windowed-aggregation class around it — on the driver's TPC-H-ish
tables, each hash-checked against DuckDB.

Scale notes baked into the plans:
- dimension sides of star joins are broadcast (`F.broadcast`);
- double sums go through exact decimal so results are partial-agg-
  order independent (a 1000-executor run returns the identical bytes);
- top-k queries order by an exact measure + unique tie-break, so
  LIMIT is deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gcp_data_pipeline_fyp_spark.functions.banding import depth_band, mag_band
from gcp_data_pipeline_fyp_spark.operators.keys import new_dimension_rows
from gcp_data_pipeline_fyp_spark.queries_util import (
    dec_avg,
    roundn,
    roundn_sql,
    dec_avg_sql,
    load,
    micro6,
    micro6_sql,
)


# --------------------------------------------------- E2E star build (E1+E3)
def q_star_schema_fact(spark: SparkSession, sf: str) -> DataFrame:
    """events -> ODS analog -> 4 dims + date FK -> fact (the flagship plan)."""
    ev = load(spark, sf, "events")
    ods = ev.select(
        F.col("event_id").alias("ID_Event"),
        F.col("event_type").alias("LB_type"),
        (F.col("user_id") % 10).cast("string").alias("LB_net"),
        # measures emitted as integer micro-units (queries_util.micro6):
        # events.value goes down to 0.0005/20, where raw doubles hit JVM
        # scientific notation and decimals reach the driver as
        # Decimal('1.500000') vs DuckDB's float64 '1.5' — int64 is the
        # only numeric type whose engine-native rendering always agrees.
        micro6(F.col("value") / 20.0).alias("VL_n_mag_micro"),
        mag_band(F.col("value") / 20.0).alias("LB_magCategory"),
        micro6(F.col("value")).alias("VL_n_depth_micro"),
        depth_band(F.col("value")).alias("LB_depthCategory"),
        F.col("ts").alias("DT_time"),
    )
    # one key query numbers all 4 dims (operators/keys.py, the rule the
    # pipeline's dimension upkeep runs); the dims come back as small
    # driver-built frames, so the final plan scans events once
    dims = new_dimension_rows(
        ods,
        {
            "type": (["LB_type"], "ID_type_ID"),
            "net": (["LB_net"], "ID_Network_ID"),
            "mag": (["LB_magCategory"], "ID_magCategory_ID"),
            "depth": (["LB_depthCategory"], "ID_depthCategory_ID"),
        },
    )
    dim_type, dim_net, dim_mag, dim_depth = (
        dims["type"], dims["net"], dims["mag"], dims["depth"],
    )
    fact = (
        ods.join(F.broadcast(dim_type), "LB_type")
        .join(F.broadcast(dim_net), "LB_net")
        .join(F.broadcast(dim_mag), "LB_magCategory")
        .join(F.broadcast(dim_depth), "LB_depthCategory")
    )
    # Output aliases are lowercase to match the oracle byte-for-byte: the
    # driver's hash canonicalizes columns by sorted NAME, and the probe's
    # historical mixed-case aliases sort differently case-sensitively
    # (`ID_Event` < `ID_date_ID` by ASCII but `id_date_id` < `id_event`),
    # pairing values with the wrong column — the sole r01-r04 hash red.
    # The real DW build (plans/dw.py) keeps the reference's naming.
    return fact.select(
        F.col("ID_Event").alias("id_event"),
        F.col("ID_type_ID").alias("id_type_id"),
        F.col("ID_Network_ID").alias("id_network_id"),
        F.col("ID_magCategory_ID").alias("id_magcategory_id"),
        F.col("ID_depthCategory_ID").alias("id_depthcategory_id"),
        F.date_format(F.col("DT_time").cast("date"), "yyyyMMdd")
        .cast("int")
        .alias("id_date_id"),
        F.col("VL_n_mag_micro").alias("vl_n_mag_micro"),
        F.col("VL_n_depth_micro").alias("vl_n_depth_micro"),
    )


SQL_STAR_SCHEMA_FACT = f"""
WITH ods AS (
  SELECT event_id AS id_event, event_type AS lb_type,
    cast(user_id % 10 AS varchar) AS lb_net,
    {micro6_sql('value / 20.0')} AS vl_n_mag_micro,
    CASE WHEN value / 20.0 IS NULL THEN NULL
         WHEN value / 20.0 < 3 THEN 'Not Felt'
         WHEN value / 20.0 < 4 THEN 'Minor'
         WHEN value / 20.0 < 5 THEN 'Light'
         WHEN value / 20.0 < 6 THEN 'Moderate'
         WHEN value / 20.0 < 7 THEN 'Strong'
         WHEN value / 20.0 < 8 THEN 'Major'
         ELSE 'Great' END AS lb_magcategory,
    {micro6_sql('value')} AS vl_n_depth_micro,
    CASE WHEN value IS NULL THEN NULL
         WHEN value <= 70 THEN 'Shallow'
         WHEN value <= 300 THEN 'Intermediate'
         ELSE 'Deep' END AS lb_depthcategory,
    ts AS dt_time
  FROM events),
dim_type AS (SELECT row_number() OVER (ORDER BY lb_type) AS id_type_id, lb_type
             FROM (SELECT DISTINCT lb_type FROM ods)),
dim_net AS (SELECT row_number() OVER (ORDER BY lb_net) AS id_network_id, lb_net
            FROM (SELECT DISTINCT lb_net FROM ods)),
dim_mag AS (SELECT row_number() OVER (ORDER BY lb_magcategory) AS id_magcategory_id,
                   lb_magcategory FROM (SELECT DISTINCT lb_magcategory FROM ods)),
dim_depth AS (SELECT row_number() OVER (ORDER BY lb_depthcategory)
                     AS id_depthcategory_id, lb_depthcategory
              FROM (SELECT DISTINCT lb_depthcategory FROM ods))
SELECT id_event, id_type_id, id_network_id, id_magcategory_id, id_depthcategory_id,
  cast(strftime(cast(dt_time AS date), '%Y%m%d') AS int) AS id_date_id,
  vl_n_mag_micro, vl_n_depth_micro
FROM ods
  JOIN dim_type USING (lb_type)
  JOIN dim_net USING (lb_net)
  JOIN dim_mag USING (lb_magcategory)
  JOIN dim_depth USING (lb_depthcategory)
"""


# ----------------------------------------------------- TPC-H Q1 shape
def q_pricing_summary(spark: SparkSession, sf: str) -> DataFrame:
    li = load(spark, sf, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_base_price"),
            F.sum(disc_price.cast("decimal(18,4)")).cast("double").alias("sum_disc_price"),
            dec_avg("l_quantity", "avg_qty"),
            dec_avg("l_extendedprice", "avg_price"),
            dec_avg("l_discount", "avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


SQL_PRICING_SUMMARY = f"""
SELECT l_returnflag, l_linestatus,
  cast(sum(cast(l_quantity AS decimal(18,2))) AS double) AS sum_qty,
  cast(sum(cast(l_extendedprice AS decimal(18,2))) AS double) AS sum_base_price,
  cast(sum(cast(l_extendedprice * (1 - l_discount) AS decimal(18,4))) AS double)
    AS sum_disc_price,
  {dec_avg_sql("l_quantity", "avg_qty")},
  {dec_avg_sql("l_extendedprice", "avg_price")},
  {dec_avg_sql("l_discount", "avg_disc")},
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= timestamp '2000-12-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


# ----------------------------------------------------- TPC-H Q3 shape
def q_top_revenue_orders(spark: SparkSession, sf: str) -> DataFrame:
    cust = load(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load(spark, sf, "orders").filter(
        F.col("o_orderdate") < F.lit("1999-06-01").cast("timestamp")
    )
    li = load(spark, sf, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1999-06-01").cast("timestamp")
    )
    joined = (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    return (
        joined.groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


SQL_TOP_REVENUE_ORDERS = """
SELECT o_orderkey, o_orderdate, o_orderpriority,
  cast(sum(cast(l_extendedprice * (1 - l_discount) AS decimal(18,4))) AS double)
    AS revenue
FROM customer
  JOIN orders ON c_custkey = o_custkey
  JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < timestamp '1999-06-01 00:00:00'
  AND l_shipdate > timestamp '1999-06-01 00:00:00'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""


# ----------------------------------------------------- TPC-H Q5 shape
def q_region_nation_revenue(spark: SparkSession, sf: str) -> DataFrame:
    region = load(spark, sf, "region")
    nation = load(spark, sf, "nation")
    cust = load(spark, sf, "customer")
    orders = load(spark, sf, "orders")
    li = load(spark, sf, "lineitem")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return (
        joined.groupBy("r_name", "n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"), F.count("*").alias("n_items"))
    )


SQL_REGION_NATION_REVENUE = """
SELECT r_name, n_name,
  cast(sum(cast(l_extendedprice * (1 - l_discount) AS decimal(18,4))) AS double)
    AS revenue,
  count(*) AS n_items
FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


# ----------------------------------------------------- TPC-H Q4 shape (semi join)
def q_order_priority_count(spark: SparkSession, sf: str) -> DataFrame:
    orders = load(spark, sf, "orders")
    li = load(spark, sf, "lineitem")
    has_late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    return has_late.groupBy("o_orderpriority").agg(F.count("*").alias("order_count"))


SQL_ORDER_PRIORITY_COUNT = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
"""


# ----------------------------------------------------- part/supplier coverage
def q_brand_revenue(spark: SparkSession, sf: str) -> DataFrame:
    part = load(spark, sf, "part")
    li = load(spark, sf, "lineitem")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(F.sum(rev).cast("double").alias("revenue"),
             F.count("*").alias("n_items"))
    )


SQL_BRAND_REVENUE = """
SELECT p_brand,
  cast(sum(cast(l_extendedprice * (1 - l_discount) AS decimal(18,4))) AS double)
    AS revenue,
  count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
"""


def q_top_suppliers(spark: SparkSession, sf: str) -> DataFrame:
    sup = load(spark, sf, "supplier")
    nation = load(spark, sf, "nation")
    return (
        sup.join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
        .select("s_suppkey", "s_name", "n_name",
                roundn(F.col("s_acctbal"), 2).alias("s_acctbal"))
        .orderBy(F.col("s_acctbal").desc(), F.col("s_suppkey"))
        .limit(10)
    )


SQL_TOP_SUPPLIERS = """
SELECT s_suppkey, s_name, n_name, ((round((s_acctbal) * 100.0) / 100.0) + 0.0) AS s_acctbal
FROM supplier JOIN nation ON s_nationkey = n_nationkey
ORDER BY ((round((s_acctbal) * 100.0) / 100.0) + 0.0) DESC, s_suppkey
LIMIT 10
"""


# ----------------------------------------------------- window functions
def q_running_customer_spend(spark: SparkSession, sf: str) -> DataFrame:
    orders = load(spark, sf, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("running_spend"),
    )


SQL_RUNNING_CUSTOMER_SPEND = """
SELECT o_custkey, o_orderkey,
  cast(sum(cast(o_totalprice AS decimal(18,2))) OVER (
    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS double) AS running_spend
FROM orders
"""


def q_sessionize_events(spark: SparkSession, sf: str) -> DataFrame:
    """Gap-based sessionization (30 min) — lag + cumulative sum windows."""
    ev = load(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag(F.col("ts")).over(w)
    new_session = F.when(
        prev.isNull()
        | ((F.unix_micros(F.col("ts")) - F.unix_micros(prev)) > 1_800_000_000),
        F.lit(1),
    ).otherwise(F.lit(0))
    ev2 = ev.withColumn("__new_session", new_session)
    w2 = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev2.select(
        "event_id",
        "user_id",
        F.sum("__new_session").over(w2).cast("long").alias("session_id"),
    )


SQL_SESSIONIZE_EVENTS = """
WITH flagged AS (
  SELECT event_id, user_id, ts,
    CASE WHEN lag(ts) OVER w IS NULL
           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
         THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT event_id, user_id,
  cast(sum(new_session) OVER (
    PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bigint) AS session_id
FROM flagged
"""


# ----------------------------------------------------- rollup (implicit slicers)
def q_rollup_type_day(spark: SparkSession, sf: str) -> DataFrame:
    # known cross-engine edge (empty input only): SQL-standard ROLLUP
    # emits the grand-total row over zero input rows (DuckDB does);
    # Spark emits nothing. Identical on any non-empty input.
    ev = load(spark, sf, "events")
    return (
        ev.rollup(F.col("event_type").alias("lb_type"),
                  F.date_trunc("DAY", "ts").alias("dt_date"))
        .agg(F.count("*").alias("total_events"))
    )


SQL_ROLLUP_TYPE_DAY = """
SELECT event_type AS lb_type, date_trunc('day', ts) AS dt_date,
       count(*) AS total_events
FROM events
GROUP BY ROLLUP (lb_type, dt_date)
"""


ANALYTICS_QUERIES: dict[str, tuple] = {
    "star_schema_fact": (q_star_schema_fact, SQL_STAR_SCHEMA_FACT),
    "pricing_summary": (q_pricing_summary, SQL_PRICING_SUMMARY),
    "top_revenue_orders": (q_top_revenue_orders, SQL_TOP_REVENUE_ORDERS),
    "region_nation_revenue": (q_region_nation_revenue, SQL_REGION_NATION_REVENUE),
    "order_priority_count": (q_order_priority_count, SQL_ORDER_PRIORITY_COUNT),
    "brand_revenue": (q_brand_revenue, SQL_BRAND_REVENUE),
    "top_suppliers": (q_top_suppliers, SQL_TOP_SUPPLIERS),
    "running_customer_spend": (q_running_customer_spend, SQL_RUNNING_CUSTOMER_SPEND),
    "sessionize_events": (q_sessionize_events, SQL_SESSIONIZE_EVENTS),
    "rollup_type_day": (q_rollup_type_day, SQL_ROLLUP_TYPE_DAY),
}


# ----------------------------------------------------- outer join + count distinct
def q_customer_order_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Left outer join + count distinct (customers with zero orders kept)."""
    cust = load(spark, sf, "customer")
    orders = load(spark, sf, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.countDistinct("o_orderpriority").alias("n_priorities"),
        )
    )


SQL_CUSTOMER_ORDER_STATS = """
SELECT c_custkey, c_mktsegment,
  count(o_orderkey) AS n_orders,
  count(DISTINCT o_orderpriority) AS n_priorities
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey, c_mktsegment
"""


# ----------------------------------------------------- TPC-H Q18 shape (HAVING)
def q_large_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Orders whose total quantity exceeds a threshold (post-agg filter)."""
    li = load(spark, sf, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("__q"))
        .filter(F.col("__q") > 150)
        .select("l_orderkey", F.col("__q").cast("double").alias("total_qty"))
    )
    orders = load(spark, sf, "orders")
    return big.join(orders, big.l_orderkey == orders.o_orderkey).select(
        "o_orderkey", "o_orderstatus", "total_qty",
        roundn(F.col("o_totalprice"), 2).alias("o_totalprice"),
    )


SQL_LARGE_ORDERS = """
WITH big AS (
  SELECT l_orderkey,
    cast(sum(cast(l_quantity AS decimal(18,2))) AS double) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING sum(cast(l_quantity AS decimal(18,2))) > 150)
SELECT o_orderkey, o_orderstatus, total_qty, ((round((o_totalprice) * 100.0) / 100.0) + 0.0) AS o_totalprice
FROM big JOIN orders ON l_orderkey = o_orderkey
"""


# ----------------------------------------------------- intersect/except set ops
def q_setops_buyers(spark: SparkSession, sf: str) -> DataFrame:
    """Users who clicked AND purchased minus REPEAT error offenders
    (>= 8 errors) — set algebra. The except side is thresholded
    because the synthetic generator gives nearly every user at least
    one error, so "any error" drains the intersect to a perpetually
    0-row (vacuous) result; at >= 8 both operators do real work: the
    intersect keeps ~1.5k users at sf0.1 and the except removes most
    but not all (r8 fix, same class as the lang_mix_drift split)."""
    ev = load(spark, sf, "events")
    clickers = ev.filter(F.col("event_type") == "click").select("user_id")
    buyers = ev.filter(F.col("event_type") == "purchase").select("user_id")
    repeat_err = (
        ev.filter(F.col("event_type") == "error")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") >= 8)
        .select("user_id")
    )
    return clickers.intersect(buyers).exceptAll(repeat_err)


SQL_SETOPS_BUYERS = """
SELECT user_id FROM events WHERE event_type = 'click'
INTERSECT
SELECT user_id FROM events WHERE event_type = 'purchase'
EXCEPT
SELECT user_id FROM events WHERE event_type = 'error'
GROUP BY user_id HAVING count(*) >= 8
"""


# ----------------------------------------------------- approximate aggregates
def q_approx_distinct_users(spark: SparkSession, sf: str) -> DataFrame:
    """HLL approx distinct, certified without hashing the estimate
    itself (engine-specific sketch): emit the EXACT per-group distinct
    (oracle-checkable in SQL) plus `within_5pct` — the error-bound
    verdict on Spark's deterministic fixed-rsd estimate. The oracle
    asserts TRUE per group, so an estimator drifting out of its bound
    hash-fails. At 100 TB you'd emit only the approx column; the exact
    companion here is the certification harness."""
    ev = load(spark, sf, "events")
    agg = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("__approx"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    return agg.select(
        "event_type",
        F.col("exact_users").cast("long").alias("exact_users"),
        (
            F.abs(F.col("__approx") - F.col("exact_users"))
            <= 0.05 * F.col("exact_users")
        ).alias("within_5pct"),
    )


SQL_APPROX_DISTINCT_USERS = """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS within_5pct
FROM events GROUP BY event_type
"""


def q_value_percentiles(spark: SparkSession, sf: str) -> DataFrame:
    """Exact discrete percentiles via percentile_disc semantics
    (median + p90 of value per event type)."""
    ev = load(spark, sf, "events")
    return ev.groupBy(F.col("event_type").alias("lb_type")).agg(
        roundn(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        roundn(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
    )


SQL_VALUE_PERCENTILES = """
SELECT event_type AS lb_type,
  ((round((quantile_cont(value, 0.5)) * 1000000.0) / 1000000.0) + 0.0) AS p50,
  ((round((quantile_cont(value, 0.9)) * 1000000.0) / 1000000.0) + 0.0) AS p90
FROM events GROUP BY 1
"""


ANALYTICS_QUERIES.update(
    {
        "customer_order_stats": (q_customer_order_stats, SQL_CUSTOMER_ORDER_STATS),
        "large_orders": (q_large_orders, SQL_LARGE_ORDERS),
        "setops_buyers": (q_setops_buyers, SQL_SETOPS_BUYERS),
        "approx_distinct_users": (q_approx_distinct_users, SQL_APPROX_DISTINCT_USERS),
        "value_percentiles": (q_value_percentiles, SQL_VALUE_PERCENTILES),
    }
)


# ----------------------------------------------------- TPC-H Q7 shape
def q_nation_volume_by_year(spark: SparkSession, sf: str) -> DataFrame:
    """Revenue flow between two customer nations per ship year."""
    nation = load(spark, sf, "nation")
    cust = load(spark, sf, "customer")
    orders = load(spark, sf, "orders")
    li = load(spark, sf, "lineitem")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .filter(F.col("n_name").isin("NATION_1", "NATION_7", "NATION_19"))
    )
    return (
        joined.groupBy(
            F.col("n_name").alias("cust_nation"),
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


SQL_NATION_VOLUME_BY_YEAR = """
SELECT n_name AS cust_nation, cast(year(l_shipdate) AS int) AS l_year,
  cast(sum(cast(l_extendedprice * (1 - l_discount) AS decimal(18,4))) AS double)
    AS revenue
FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
WHERE n_name IN ('NATION_1', 'NATION_7', 'NATION_19')
GROUP BY n_name, year(l_shipdate)
"""


# ----------------------------------------------------- TPC-H Q10 shape
def q_top_returning_customers(spark: SparkSession, sf: str) -> DataFrame:
    """Revenue lost to returned items per customer, top 20."""
    cust = load(spark, sf, "customer")
    orders = load(spark, sf, "orders")
    li = load(spark, sf, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = load(spark, sf, "nation")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    )
    return (
        joined.groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


SQL_TOP_RETURNING_CUSTOMERS = """
SELECT c_custkey, c_name, n_name,
  cast(sum(cast(l_extendedprice * (1 - l_discount) AS decimal(18,4))) AS double)
    AS revenue
FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


ANALYTICS_QUERIES.update(
    {
        "nation_volume_by_year": (q_nation_volume_by_year, SQL_NATION_VOLUME_BY_YEAR),
        "top_returning_customers": (
            q_top_returning_customers,
            SQL_TOP_RETURNING_CUSTOMERS,
        ),
    }
)


# ----------------------------------------------------- date scaffold + pivot
def q_date_scaffold(spark: SparkSession, sf: str) -> DataFrame:
    """Complete calendar scaffold for the events span (the reference's
    date dim only has observed dates; a complete scaffold is what a BI
    star usually wants). explode(sequence(min, max, 1 day))."""
    ev = load(spark, sf, "events")
    bounds = ev.select(
        F.min(F.col("ts").cast("date")).alias("d0"),
        F.max(F.col("ts").cast("date")).alias("d1"),
    )
    days = bounds.select(
        F.explode(F.sequence("d0", "d1")).alias("d")
    )
    return days.select(
        F.col("d").cast("timestamp").alias("dt_date"),
        F.date_format("d", "yyyyMMdd").cast("int").alias("id_date_id"),
        F.weekofyear("d").cast("int").alias("id_weeknb"),
    )


SQL_DATE_SCAFFOLD = """
WITH b AS (SELECT min(cast(ts AS date)) AS d0, max(cast(ts AS date)) AS d1
           FROM events)
SELECT cast(d AS timestamp) AS dt_date,
       cast(strftime(d, '%Y%m%d') AS int) AS id_date_id,
       cast(weekofyear(d) AS int) AS id_weeknb
FROM (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::date AS d FROM b)
"""


def q_pivot_type_by_day(spark: SparkSession, sf: str) -> DataFrame:
    """Pivoted measure matrix: one row per day, one column per type."""
    ev = load(spark, sf, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        ev.groupBy(F.date_trunc("DAY", "ts").alias("dt_date"))
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .na.fill(0, types)
    )


SQL_PIVOT_TYPE_BY_DAY = """
SELECT date_trunc('day', ts) AS dt_date,
  cast(count(*) FILTER (event_type = 'click') AS bigint) AS click,
  cast(count(*) FILTER (event_type = 'error') AS bigint) AS error,
  cast(count(*) FILTER (event_type = 'purchase') AS bigint) AS purchase,
  cast(count(*) FILTER (event_type = 'signup') AS bigint) AS signup,
  cast(count(*) FILTER (event_type = 'view') AS bigint) AS view
FROM events GROUP BY 1
"""


ANALYTICS_QUERIES.update(
    {
        "date_scaffold": (q_date_scaffold, SQL_DATE_SCAFFOLD),
        "pivot_type_by_day": (q_pivot_type_by_day, SQL_PIVOT_TYPE_BY_DAY),
    }
)


# -------------------------------- incremental rollup (partial-state merge)
def q_rollup_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Materialized-rollup maintenance: aggregate the pre-1997 orders
    into partial states, aggregate the 1997+ delta separately, MERGE
    the states (operators/rollup.py) — proving the incremental path
    returns byte-identical results to a from-scratch rebuild (the
    oracle aggregates the full table directly)."""
    from gcp_data_pipeline_fyp_spark.operators.rollup import (
        finalize_state,
        merge_states,
        rollup_state,
    )

    o = load(spark, sf, "orders").select(
        F.date_format("o_orderdate", "yyyyMM").cast("int").alias("month"),
        "o_orderdate",
        "o_totalprice",
    )
    split = F.lit("1997-01-01").cast("timestamp")
    base = rollup_state(
        o.filter(F.col("o_orderdate") < split), ["month"], ["o_totalprice"]
    )
    delta = rollup_state(
        o.filter(F.col("o_orderdate") >= split), ["month"], ["o_totalprice"]
    )
    merged = merge_states([base, delta], ["month"])
    out = finalize_state(merged, ["o_totalprice"], avg_cols=["o_totalprice"])
    return out.select(
        "month",
        F.col("n").alias("n_orders"),
        F.col("sum_o_totalprice").alias("total_price"),
        F.col("avg_o_totalprice").alias("avg_price"),
    )


SQL_ROLLUP_INCREMENTAL = """
SELECT cast(strftime(o_orderdate, '%Y%m') AS int) AS month,
  count(*) AS n_orders,
  cast(sum(cast(o_totalprice AS decimal(18,2))) AS double) AS total_price,
  ((round((cast(sum(cast(o_totalprice AS decimal(18,2))) AS double)
        / count(*)) * 1000000.0) / 1000000.0) + 0.0) AS avg_price
FROM orders GROUP BY 1
"""

ANALYTICS_QUERIES["rollup_incremental"] = (q_rollup_incremental, SQL_ROLLUP_INCREMENTAL)


# ------------------------------------ sliding daily p95 (SLA-style measure)
def q_daily_p95_sliding(spark: SparkSession, sf: str) -> DataFrame:
    """Per-day p95 of value plus a 7-day trailing-window p95 — the
    SLA-dashboard shape: the trailing window re-aggregates from the raw
    rows of the last 7 days via a self-join on the date scaffold
    (exact; at 100 TB swap the exact percentile for approx_percentile
    and the self-join for a partition-pruned scan of 7 partitions)."""
    ev = load(spark, sf, "events").select(
        F.date_trunc("DAY", "ts").alias("d"), "value"
    )
    daily = ev.groupBy("d").agg(
        roundn(F.expr("percentile(value, 0.95)"), 6).alias("p95")
    )
    days = daily.select("d")
    trailing = (
        days.alias("a")
        .join(
            ev.alias("e"),
            (F.col("e.d") <= F.col("a.d"))
            & (F.col("e.d") > F.col("a.d") - F.expr("INTERVAL 7 DAYS")),
        )
        .groupBy(F.col("a.d").alias("d"))
        .agg(roundn(F.expr("percentile(value, 0.95)"), 6).alias("p95_7d"))
    )
    return (
        daily.join(trailing, "d")
        .select(F.col("d").alias("day"), "p95", "p95_7d")
    )


SQL_DAILY_P95_SLIDING = """
WITH e AS (SELECT date_trunc('day', ts) AS d, value FROM events),
daily AS (SELECT d, ((round((quantile_cont(value, 0.95)) * 1000000.0) / 1000000.0) + 0.0) AS p95
          FROM e GROUP BY d),
trail7 AS (
  SELECT a.d, ((round((quantile_cont(e.value, 0.95)) * 1000000.0) / 1000000.0) + 0.0) AS p95_7d
  FROM (SELECT DISTINCT d FROM e) a
  JOIN e ON e.d <= a.d AND e.d > a.d - INTERVAL 7 DAY
  GROUP BY a.d)
SELECT daily.d AS day, daily.p95, trail7.p95_7d
FROM daily JOIN trail7 ON daily.d = trail7.d
"""

ANALYTICS_QUERIES["daily_p95_sliding"] = (q_daily_p95_sliding, SQL_DAILY_P95_SLIDING)


# ------------------------------ mergeable quantile-sketch rollup states
def q_quantile_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Percentile rollup maintenance: log-bucket histogram states
    (operators/rollup.py, DDSketch-style) built on two disjoint halves
    of events (user_id parity), MERGED, then read back as p50/p95/p99
    per event_type. The oracle computes the same bucketing over the
    full table directly — the comparison proves merge == rebuild AND
    the cross-engine determinism of the bucket math."""
    from gcp_data_pipeline_fyp_spark.operators.rollup import (
        merge_quantile_states,
        quantile_state,
        quantiles_from_state,
    )

    ev = load(spark, sf, "events").select("event_type", "user_id", "value")
    a = quantile_state(ev.filter(F.col("user_id") % 2 == 0), ["event_type"], "value")
    b = quantile_state(ev.filter(F.col("user_id") % 2 == 1), ["event_type"], "value")
    merged = merge_quantile_states([a, b], ["event_type"])
    return quantiles_from_state(merged, ["event_type"], (0.5, 0.95, 0.99))


SQL_QUANTILE_ROLLUP = """
WITH src AS (
  SELECT event_type, CAST(value AS DOUBLE) AS v
  FROM events WHERE value IS NOT NULL
),
b AS (
  SELECT event_type,
         CASE WHEN v > 0 THEN CAST(floor(ln(v) / ln(1.02)) AS BIGINT) + 1
              WHEN v < 0 THEN -(CAST(floor(ln(-v) / ln(1.02)) AS BIGINT) + 1)
              ELSE 0 END AS qb
  FROM src
),
st AS (SELECT event_type, qb, count(*) AS qn FROM b GROUP BY 1, 2),
c AS (
  SELECT event_type, qb, qn,
         sum(qn) OVER (PARTITION BY event_type ORDER BY qb) AS cum,
         sum(qn) OVER (PARTITION BY event_type) AS tot
  FROM st
),
pick AS (
  SELECT event_type,
         max(tot) AS n,
         min(CASE WHEN cum >= ceil(0.5 * tot) THEN qb END) AS b50,
         min(CASE WHEN cum >= ceil(0.95 * tot) THEN qb END) AS b95,
         min(CASE WHEN cum >= ceil(0.99 * tot) THEN qb END) AS b99
  FROM c GROUP BY event_type
)
SELECT event_type, CAST(n AS BIGINT) AS n,
  ((round((CASE WHEN b50 > 0 THEN power(1.02, b50 - 0.5)
             WHEN b50 < 0 THEN -power(1.02, -b50 - 0.5) ELSE 0 END) * 1000000.0) / 1000000.0) + 0.0) AS p50,
  ((round((CASE WHEN b95 > 0 THEN power(1.02, b95 - 0.5)
             WHEN b95 < 0 THEN -power(1.02, -b95 - 0.5) ELSE 0 END) * 1000000.0) / 1000000.0) + 0.0) AS p95,
  ((round((CASE WHEN b99 > 0 THEN power(1.02, b99 - 0.5)
             WHEN b99 < 0 THEN -power(1.02, -b99 - 0.5) ELSE 0 END) * 1000000.0) / 1000000.0) + 0.0) AS p99
FROM pick
"""

ANALYTICS_QUERIES["quantile_rollup"] = (q_quantile_rollup, SQL_QUANTILE_ROLLUP)


# ------------------------------------------------ funnel conversion
def q_funnel_conversion(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered-step funnel (click -> view -> purchase): per user, each
    step's timestamp is the earliest occurrence STRICTLY AFTER the
    previous step — the standard product-analytics funnel. Three
    conditional-min aggregations over one user-keyed shuffle (the
    step-2/3 passes reuse the step frame via joins on user_id; no
    window over the raw event stream). Emits one row per step with
    users reaching it and the conversion rate from step 1.
    Window is r5-queue."""
    ev = load(spark, sf, "events")
    s1 = ev.filter(F.col("event_type") == "click").groupBy("user_id").agg(
        F.min("ts").alias("t1")
    )
    s2 = (
        ev.filter(F.col("event_type") == "view")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    counts = (
        s1.agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit(1).alias("step"), F.lit("click").alias("step_name"), "n")
        .unionByName(
            s2.agg(F.count(F.lit(1)).alias("n")).select(
                F.lit(2).alias("step"), F.lit("view").alias("step_name"), "n"
            )
        )
        .unionByName(
            s3.agg(F.count(F.lit(1)).alias("n")).select(
                F.lit(3).alias("step"), F.lit("purchase").alias("step_name"), "n"
            )
        )
    )
    base = s1.agg(F.count(F.lit(1)).alias("n_base"))
    return (
        counts.crossJoin(F.broadcast(base))
        .select(
            F.col("step").cast("bigint").alias("step"),
            "step_name",
            F.col("n").alias("n_users"),
            micro6(F.try_divide(F.col("n").cast("double"), F.col("n_base"))).alias(
                "conversion_micro"
            ),
        )
        .orderBy("step")
    )


SQL_FUNNEL_CONVERSION = f"""
WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
            WHERE event_type = 'click' GROUP BY user_id),
s2 AS (SELECT e.user_id, min(ts) AS t2 FROM events e JOIN s1 USING (user_id)
       WHERE e.event_type = 'view' AND e.ts > s1.t1 GROUP BY e.user_id),
s3 AS (SELECT e.user_id, min(ts) AS t3 FROM events e JOIN s2 USING (user_id)
       WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id),
counts AS (
  SELECT 1 AS step, 'click' AS step_name, (SELECT count(*) FROM s1) AS n
  UNION ALL
  SELECT 2, 'view', (SELECT count(*) FROM s2)
  UNION ALL
  SELECT 3, 'purchase', (SELECT count(*) FROM s3))
SELECT CAST(step AS BIGINT) AS step, step_name,
  CAST(n AS BIGINT) AS n_users,
  {micro6_sql('CAST(n AS DOUBLE) / nullif((SELECT count(*) FROM s1), 0)')}
    AS conversion_micro
FROM counts ORDER BY step
"""

ANALYTICS_QUERIES["funnel_conversion"] = (q_funnel_conversion, SQL_FUNNEL_CONVERSION)


# ------------------------------------------------ retention cohorts
def q_retention_cohorts(spark: SparkSession, sf: str) -> DataFrame:
    """Cohort retention matrix: users grouped by the DAY of their
    first event; for each cohort and day offset, how many distinct
    users were active. Two user-keyed aggregations (first-event day,
    then the cohort x offset rollup) — the classic warehouse retention
    query at the granularity the testdata's 30-day span makes
    meaningful. Day offsets are exact date arithmetic, identical
    bigints in both engines. Window is r5-queue."""
    ev = load(spark, sf, "events")
    first = ev.groupBy("user_id").agg(F.min("ts").alias("t0"))
    j = ev.join(first, "user_id").select(
        "user_id",
        F.date_format("t0", "yyyy-MM-dd").alias("cohort_day"),
        F.datediff(F.to_date("ts"), F.to_date("t0"))
        .cast("bigint")
        .alias("day_offset"),
    )
    return (
        j.groupBy("cohort_day", "day_offset")
        .agg(F.count_distinct("user_id").alias("n_users"))
        .orderBy("cohort_day", "day_offset")
    )


SQL_RETENTION_COHORTS = """
WITH first AS (SELECT user_id, min(ts) AS t0 FROM events GROUP BY user_id)
SELECT strftime(t0, '%Y-%m-%d') AS cohort_day,
  CAST(date_diff('day', CAST(t0 AS DATE), CAST(ts AS DATE)) AS BIGINT)
    AS day_offset,
  count(DISTINCT user_id) AS n_users
FROM events JOIN first USING (user_id)
GROUP BY 1, 2 ORDER BY 1, 2
"""

ANALYTICS_QUERIES["retention_cohorts"] = (q_retention_cohorts, SQL_RETENTION_COHORTS)


# --------------------------------------- time-series gap fill (ffill)
def q_resample_ffill(spark: SparkSession, sf: str) -> DataFrame:
    """Per-type daily revenue resampled onto the complete calendar with
    forward fill: days a type had no events inherit the last observed
    total (`last(..., ignorenulls)` over an ordered per-type window) —
    the standard time-series gap-fill. The scaffold is a tiny
    sequence-explode cross join (types x days); the observed side is
    one groupBy; the fill window partitions by type over at most the
    calendar length, never the event stream. `was_observed` marks
    which rows are real. Window is r5-queue."""
    ev = load(spark, sf, "events")
    daily = (
        ev.filter(F.col("event_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("lb_type"),
            F.col("ts").cast("date").alias("day"),
        )
        .agg(F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total"))
    )
    bounds = ev.select(
        F.min(F.col("ts").cast("date")).alias("d0"),
        F.max(F.col("ts").cast("date")).alias("d1"),
    )
    days = bounds.select(F.explode(F.sequence("d0", "d1")).alias("day"))
    types = ev.select(F.col("event_type").alias("lb_type")).filter(
        F.col("lb_type").isNotNull()
    ).distinct()
    scaffold = types.crossJoin(F.broadcast(days))
    joined = scaffold.join(daily, ["lb_type", "day"], "left")
    w = (
        Window.partitionBy("lb_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "lb_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        roundn(F.last("total", ignorenulls=True).over(w), 2).alias("total_filled"),
        F.col("total").isNotNull().alias("was_observed"),
    ).orderBy("lb_type", "day")


SQL_RESAMPLE_FFILL = """
WITH daily AS (
  SELECT event_type AS lb_type, CAST(ts AS DATE) AS day,
    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
  FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2),
b AS (SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1
      FROM events),
days AS (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::date AS day
         FROM b),
types AS (SELECT DISTINCT event_type AS lb_type FROM events
          WHERE event_type IS NOT NULL),
scaffold AS (SELECT lb_type, day FROM types CROSS JOIN days),
j AS (SELECT s.lb_type, s.day, d.total
      FROM scaffold s LEFT JOIN daily d USING (lb_type, day))
SELECT lb_type, strftime(day, '%Y-%m-%d') AS day,
  ((round((last_value(total IGNORE NULLS) OVER (
    PARTITION BY lb_type ORDER BY day
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) * 100.0) / 100.0) + 0.0) AS total_filled,
  total IS NOT NULL AS was_observed
FROM j ORDER BY lb_type, day
"""

ANALYTICS_QUERIES["resample_ffill"] = (q_resample_ffill, SQL_RESAMPLE_FFILL)


# ------------------------------------------------- RFM segmentation
def q_rfm_segments(spark: SparkSession, sf: str) -> DataFrame:
    """RFM customer segmentation: per user, recency (days since last
    event), frequency (event count), monetary (exact decimal value
    sum), each banded into quartiles with ntile over a fully
    deterministic order (metric + user_id tie-break, so both engines
    cut identical quartiles). One user-keyed aggregation + three
    tiny window passes over the user-sized frame. Window is r5-queue."""
    ev = load(spark, sf, "events")
    anchor = ev.agg(F.max(F.col("ts").cast("date")).alias("d1"))
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.max(F.col("ts").cast("date")).alias("last_day"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("monetary"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            "user_id",
            F.datediff("d1", "last_day").cast("bigint").alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    r_w = Window.orderBy(F.col("recency_days").asc(), F.col("user_id"))
    f_w = Window.orderBy(F.col("frequency").desc(), F.col("user_id"))
    m_w = Window.orderBy(F.col("monetary").desc(), F.col("user_id"))
    return per_user.select(
        "user_id",
        "recency_days",
        "frequency",
        roundn("monetary", 2).alias("monetary"),
        F.ntile(4).over(r_w).cast("bigint").alias("r_band"),
        F.ntile(4).over(f_w).cast("bigint").alias("f_band"),
        F.ntile(4).over(m_w).cast("bigint").alias("m_band"),
    ).orderBy("user_id")


SQL_RFM_SEGMENTS = """
WITH anchor AS (SELECT max(CAST(ts AS DATE)) AS d1 FROM events),
per_user AS (
  SELECT user_id,
    CAST(date_diff('day', max(CAST(ts AS DATE)), (SELECT d1 FROM anchor))
         AS BIGINT) AS recency_days,
    count(*) AS frequency,
    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS monetary
  FROM events GROUP BY user_id)
SELECT user_id, recency_days, CAST(frequency AS BIGINT) AS frequency,
  ((round((monetary) * 100.0) / 100.0) + 0.0) AS monetary,
  CAST(ntile(4) OVER (ORDER BY recency_days ASC, user_id) AS BIGINT) AS r_band,
  CAST(ntile(4) OVER (ORDER BY frequency DESC, user_id) AS BIGINT) AS f_band,
  CAST(ntile(4) OVER (ORDER BY monetary DESC, user_id) AS BIGINT) AS m_band
FROM per_user ORDER BY user_id
"""

ANALYTICS_QUERIES["rfm_segments"] = (q_rfm_segments, SQL_RFM_SEGMENTS)


# ------------------------------------------- event transition matrix
def q_event_transitions(spark: SparkSession, sf: str) -> DataFrame:
    """First-order Markov transition matrix of event types per user
    stream: lag over (user, ts, event_id) — the unique id breaks
    timestamp ties identically in both engines — then one count
    rollup and a per-source normalization over the (tiny) matrix.

    NULL event_type rows are dropped BEFORE the lag (matching the other
    behavioral queries): a NULL state would otherwise both absorb real
    A->B edges (A->NULL counted, NULL->B lost) and hash-diverge on
    ORDER BY (Spark sorts NULLs first, DuckDB last)."""
    ev = load(spark, sf, "events").filter(F.col("event_type").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.lag("event_type").over(w).alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .filter(F.col("from_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = Window.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        "n",
        micro6(F.col("n").cast("double") / F.sum("n").over(tot)).alias(
            "p_micro"
        ),
    ).orderBy("from_type", "to_type")


SQL_EVENT_TRANSITIONS = f"""
WITH seq AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS from_type,
         event_type AS to_type
  FROM events WHERE event_type IS NOT NULL),
pairs AS (SELECT from_type, to_type, count(*) AS n FROM seq
          WHERE from_type IS NOT NULL GROUP BY 1, 2)
SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
  {micro6_sql('CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY from_type)')}
    AS p_micro
FROM pairs ORDER BY from_type, to_type
"""

ANALYTICS_QUERIES["event_transitions"] = (q_event_transitions, SQL_EVENT_TRANSITIONS)


# --------------------------------------------- rolling-window anomaly
def q_rolling_anomaly(spark: SparkSession, sf: str) -> DataFrame:
    """Rolling z-score anomaly detection on the per-type daily revenue
    series: 7-day trailing mean/std from EXACT decimal sums (sum and
    sum-of-squares — both partial-agg-order independent), z computed
    with correctly-rounded IEEE ops, flagged at |z| > 2. Zero-variance
    windows yield NULL z (try_divide), never a crash. The window runs
    over the type x day frame, never the raw events. Window is
    r5-queue."""
    ev = load(spark, sf, "events")
    daily = (
        ev.filter(F.col("event_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("lb_type"),
            F.col("ts").cast("date").alias("day"),
        )
        .agg(
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("x"),
        )
    )
    w = (
        Window.partitionBy("lb_type")
        .orderBy("day")
        .rowsBetween(-6, Window.currentRow)
    )
    # variance of the DAILY TOTALS x (exact-decimal-derived doubles):
    # E[x^2] - E[x]^2 from two rolling sums over the type x day frame
    mean_x = F.sum("x").over(w) / F.count("x").over(w)
    ex2_x = F.sum(F.col("x") * F.col("x")).over(w) / F.count("x").over(w)
    var = ex2_x - mean_x * mean_x
    std = F.sqrt(F.greatest(var, F.lit(0.0)))
    z = F.try_divide(F.col("x") - mean_x, std)
    return daily.select(
        "lb_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        roundn("x", 2).alias("daily_total"),
        micro6(z).alias("z_micro"),
        (F.abs(z) > 2).alias("is_anomaly"),
    ).orderBy("lb_type", "day")


SQL_ROLLING_ANOMALY = f"""
WITH daily AS (
  SELECT event_type AS lb_type, CAST(ts AS DATE) AS day,
    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS x
  FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2),
win AS (
  SELECT lb_type, day, x,
    sum(x) OVER w / count(x) OVER w AS mean_x,
    sum(x * x) OVER w / count(x) OVER w AS ex2_x
  FROM daily
  WINDOW w AS (PARTITION BY lb_type ORDER BY day
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
SELECT lb_type, strftime(day, '%Y-%m-%d') AS day,
  ((round((x) * 100.0) / 100.0) + 0.0) AS daily_total,
  {micro6_sql('(x - mean_x) / nullif(sqrt(greatest(ex2_x - mean_x * mean_x, 0.0)), 0)')}
    AS z_micro,
  abs((x - mean_x) / nullif(sqrt(greatest(ex2_x - mean_x * mean_x, 0.0)), 0)) > 2
    AS is_anomaly
FROM win ORDER BY lb_type, day
"""

ANALYTICS_QUERIES["rolling_anomaly"] = (q_rolling_anomaly, SQL_ROLLING_ANOMALY)


# --------------------------------------- period-over-period growth
def q_wow_growth(spark: SparkSession, sf: str) -> DataFrame:
    """Week-over-week growth of per-type daily revenue: lag-7 over the
    (type, day) frame of exact decimal daily totals, growth emitted in
    micro-units with NULL for the first week and for zero baselines
    (try_divide). The window runs over the tiny aggregated frame, not
    the event stream. Window is r5-queue."""
    ev = load(spark, sf, "events")
    daily = (
        ev.filter(F.col("event_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("lb_type"),
            F.col("ts").cast("date").alias("day"),
        )
        .agg(
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("x")
        )
    )
    w = Window.partitionBy("lb_type").orderBy("day")
    prev = F.lag("x", 7).over(w)
    return daily.select(
        "lb_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        roundn("x", 2).alias("daily_total"),
        micro6(F.try_divide(F.col("x") - prev, prev)).alias("wow_growth_micro"),
    ).orderBy("lb_type", "day")


SQL_WOW_GROWTH = f"""
WITH daily AS (
  SELECT event_type AS lb_type, CAST(ts AS DATE) AS day,
    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS x
  FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2),
lagged AS (
  SELECT lb_type, day, x,
    lag(x, 7) OVER (PARTITION BY lb_type ORDER BY day) AS prev
  FROM daily)
SELECT lb_type, strftime(day, '%Y-%m-%d') AS day,
  ((round((x) * 100.0) / 100.0) + 0.0) AS daily_total,
  {micro6_sql('(x - prev) / nullif(prev, 0)')} AS wow_growth_micro
FROM lagged ORDER BY lb_type, day
"""

ANALYTICS_QUERIES["wow_growth"] = (q_wow_growth, SQL_WOW_GROWTH)


# --------------------------------------- fulfillment lag by priority
def q_ship_lag_by_priority(spark: SparkSession, sf: str) -> DataFrame:
    """Order-to-ship lag distribution per order priority: day lags are
    exact date arithmetic (identical bigints in both engines), the mean
    is emitted in micro-units off an exact integer sum — the
    operational-latency rollup every warehouse ships. One orders x
    lineitem join keyed on the order key. Window is r5-queue."""
    orders = load(spark, sf, "orders")
    li = load(spark, sf, "lineitem")
    j = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "o_orderpriority",
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
        .cast("bigint")
        .alias("lag_days"),
    )
    return (
        j.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.min("lag_days").alias("min_lag"),
            F.max("lag_days").alias("max_lag"),
            micro6(F.sum("lag_days").cast("double") / F.count(F.lit(1))).alias(
                "avg_lag_micro"
            ),
        )
        .orderBy("o_orderpriority")
    )


SQL_SHIP_LAG_BY_PRIORITY = f"""
WITH j AS (
  SELECT o_orderpriority,
    CAST(date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))
         AS BIGINT) AS lag_days
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
SELECT o_orderpriority,
  CAST(count(*) AS BIGINT) AS n_items,
  min(lag_days) AS min_lag,
  max(lag_days) AS max_lag,
  {micro6_sql('CAST(sum(lag_days) AS DOUBLE) / count(*)')} AS avg_lag_micro
FROM j GROUP BY o_orderpriority ORDER BY o_orderpriority
"""

ANALYTICS_QUERIES["ship_lag_by_priority"] = (
    q_ship_lag_by_priority,
    SQL_SHIP_LAG_BY_PRIORITY,
)


# ---------------------------------------- TPC-H q13/q22 shapes (r6)
def q_customer_distribution(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q13 shape (customer order-count distribution): LEFT OUTER
    join with an extra join-side predicate (non-urgent orders only) so
    zero-order customers stay in the histogram — the classic
    "distribution including the empty group" pattern a plain inner
    join + groupBy gets silently wrong. Window is r6-queue."""
    cust = load(spark, sf, "customer")
    orders = load(spark, sf, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
    )


SQL_CUSTOMER_DISTRIBUTION = """
SELECT c_count, count(*) AS custdist FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey) s
GROUP BY c_count
"""

ANALYTICS_QUERIES["customer_distribution"] = (
    q_customer_distribution,
    SQL_CUSTOMER_DISTRIBUTION,
)


def q_dormant_rich_customers(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q22 shape (dormant high-balance customers): a scalar
    aggregate subquery (global mean of positive balances) gates the
    customer scan, an ANTI join removes anyone with RECENT orders
    (dormancy window — the synthetic order stream covers nearly every
    customer, so plain "no orders ever" would certify an empty result
    set), and the survivors aggregate per nation. The scalar is
    computed once and broadcast — never a per-row correlated subquery.
    Balances sum as exact decimals; the mean emits via roundn. Window
    is r6-queue."""
    from gcp_data_pipeline_fyp_spark.queries_util import roundn

    cust = load(spark, sf, "customer")
    orders = load(spark, sf, "orders").filter(
        F.col("o_orderdate") >= "2000-06-01"
    )
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double")
            / F.count("c_acctbal")
        ).alias("__avg")
    )
    rich = cust.crossJoin(F.broadcast(avg_bal)).filter(
        F.col("c_acctbal") > F.col("__avg")
    )
    dormant = rich.join(
        orders, rich.c_custkey == orders.o_custkey, "left_anti"
    )
    return dormant.groupBy("c_nationkey").agg(
        F.count("*").alias("numcust"),
        roundn(
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double"), 2
        ).alias("totacctbal"),
    )


SQL_DORMANT_RICH_CUSTOMERS = """
WITH a AS (
  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
         / count(c_acctbal) AS avg_bal
  FROM customer WHERE c_acctbal > 0)
SELECT c_nationkey, count(*) AS numcust,
  ((round((CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)) * 100.0) / 100.0) + 0.0) AS totacctbal
FROM customer, a
WHERE c_acctbal > a.avg_bal
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-06-01')
GROUP BY c_nationkey
"""

ANALYTICS_QUERIES["dormant_rich_customers"] = (
    q_dormant_rich_customers,
    SQL_DORMANT_RICH_CUSTOMERS,
)


# ----------------------- rank-distribution / CUBE / unpivot (r6)
def q_order_value_ranks(spark: SparkSession, sf: str) -> DataFrame:
    """percent_rank + cume_dist over order value within each priority
    class — the relative-standing window pair (where does this order
    sit in its priority's price distribution?). Emitted in micro-units
    (both are exact ratios of ints; micro6 renders them hash-safe).
    Window is r6-queue."""
    from pyspark.sql import Window as W

    from gcp_data_pipeline_fyp_spark.queries_util import micro6

    orders = load(spark, sf, "orders").filter(F.col("o_orderkey") % 17 == 0)
    w = W.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").asc(), F.col("o_orderkey").asc()
    )
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        micro6(F.percent_rank().over(w)).alias("pr_micro"),
        micro6(F.cume_dist().over(w)).alias("cd_micro"),
    )


_PR_SQL = micro6_sql(
    "percent_rank() OVER (PARTITION BY o_orderpriority "
    "ORDER BY o_totalprice ASC, o_orderkey ASC)"
)
_CD_SQL = micro6_sql(
    "cume_dist() OVER (PARTITION BY o_orderpriority "
    "ORDER BY o_totalprice ASC, o_orderkey ASC)"
)
SQL_ORDER_VALUE_RANKS = f"""
SELECT o_orderkey, o_orderpriority,
  {_PR_SQL} AS pr_micro,
  {_CD_SQL} AS cd_micro
FROM orders WHERE o_orderkey % 17 = 0
"""

ANALYTICS_QUERIES["order_value_ranks"] = (
    q_order_value_ranks,
    SQL_ORDER_VALUE_RANKS,
)


def q_cube_type_day(spark: SparkSession, sf: str) -> DataFrame:
    """CUBE over (event_type, day): all four grouping combinations in
    one pass (the ROLLUP twin, §2.5 grouping-set coverage). Same
    empty-input edge note as rollup_type_day. Window is r6-queue."""
    ev = load(spark, sf, "events")
    return (
        ev.cube(
            F.col("event_type").alias("lb_type"),
            F.date_trunc("DAY", "ts").alias("dt_date"),
        )
        .agg(F.count("*").alias("total_events"))
    )


SQL_CUBE_TYPE_DAY = """
SELECT event_type AS lb_type, date_trunc('day', ts) AS dt_date,
       count(*) AS total_events
FROM events
GROUP BY CUBE (lb_type, dt_date)
"""

ANALYTICS_QUERIES["cube_type_day"] = (q_cube_type_day, SQL_CUBE_TYPE_DAY)


def q_part_metrics_unpivot(spark: SparkSession, sf: str) -> DataFrame:
    """Wide-to-long melt (Spark 4 unpivot / DuckDB UNPIVOT): each
    part's numeric attributes become (metric, value) rows — the
    normalization step metric stores and feature pipelines apply
    before per-metric aggregation. Values emit in micro-units.
    Window is r6-queue."""
    from gcp_data_pipeline_fyp_spark.queries_util import micro6

    part = load(spark, sf, "part")
    long = part.select(
        "p_partkey",
        F.col("p_size").cast("double").alias("size"),
        F.col("p_retailprice").cast("double").alias("retailprice"),
    ).unpivot("p_partkey", ["size", "retailprice"], "metric", "value")
    return long.select(
        "p_partkey", "metric", micro6(F.col("value")).alias("value_micro")
    )


SQL_PART_METRICS_UNPIVOT = f"""
WITH long AS (
  SELECT p_partkey, metric, value FROM (
    SELECT p_partkey, CAST(p_size AS DOUBLE) AS size,
           CAST(p_retailprice AS DOUBLE) AS retailprice
    FROM part)
  UNPIVOT (value FOR metric IN (size, retailprice)))
SELECT p_partkey, metric,
  {micro6_sql("value")} AS value_micro
FROM long
"""

ANALYTICS_QUERIES["part_metrics_unpivot"] = (
    q_part_metrics_unpivot,
    SQL_PART_METRICS_UNPIVOT,
)


# ------------------- TPC-H q17/q2/q11/q21 analytic shapes (r6 tail)
def q_small_qty_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q17 shape (revenue impact of small-quantity orders): the
    correlated "below 20% of this part's average quantity" predicate,
    rewritten join-first — filter lineitem to the brand's parts via a
    broadcast semi join, aggregate the per-part average ONCE, and
    broadcast it back, instead of the literal per-row correlated
    subquery (which a naive engine re-evaluates per lineitem). The
    average is exact-decimal-sum / count so the 0.2x threshold is the
    identical IEEE double in both engines. Output is the single
    avg-yearly row. Window is r7-queue."""
    li = load(spark, sf, "lineitem")
    parts = load(spark, sf, "part").filter(F.col("p_brand") == "Brand#23")
    li_b = li.join(
        F.broadcast(parts.select("p_partkey")),
        li.l_partkey == F.col("p_partkey"),
    )
    per_part = li_b.groupBy(F.col("l_partkey").alias("pk")).agg(
        (
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double")
            / F.count("l_quantity")
        ).alias("avg_qty")
    )
    small = li_b.join(
        F.broadcast(per_part), li_b.l_partkey == F.col("pk")
    ).filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
    return small.agg(
        roundn(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast(
                "double"
            )
            / F.lit(7.0),
            2,
        ).alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_small"),
    )


SQL_SMALL_QTY_REVENUE = f"""
WITH li_b AS (
  SELECT l_partkey, l_quantity, l_extendedprice
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = 'Brand#23'),
per_part AS (
  SELECT l_partkey AS pk,
    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
      / count(l_quantity) AS avg_qty
  FROM li_b GROUP BY l_partkey)
SELECT
  {roundn_sql(
    "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0", 2
  )} AS avg_yearly,
  CAST(count(*) AS BIGINT) AS n_small
FROM li_b JOIN per_part ON l_partkey = pk
WHERE l_quantity < 0.2 * avg_qty
"""

ANALYTICS_QUERIES["small_qty_revenue"] = (
    q_small_qty_revenue,
    SQL_SMALL_QTY_REVENUE,
)


def q_min_price_suppliers(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q2 shape (minimum-cost supplier per part in a region):
    per-(part, supplier) offer prices reduce from lineitem (MIN — order
    independent), the region gate is a two-hop broadcast (nation ->
    region), and the correlated "price = min over this part's regional
    suppliers" subquery is a window MIN + equality filter — one shuffle
    on partkey, ties kept (all suppliers at the min survive, as in the
    spec). No rounding needed: every emitted value is a stored raw or a
    MIN of stored raws. Window is r7-queue."""
    li = load(spark, sf, "lineitem")
    part = load(spark, sf, "part").filter(F.col("p_size") < 10)
    supp = load(spark, sf, "supplier")
    nation = load(spark, sf, "nation")
    region = load(spark, sf, "region").filter(F.col("r_name") == "EUROPE")
    offers = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min("l_extendedprice").alias("offer_price")
    )
    regional = (
        offers.join(F.broadcast(part), offers.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), offers.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    w = Window.partitionBy("p_partkey")
    return (
        regional.withColumn("min_price", F.min("offer_price").over(w))
        .filter(F.col("offer_price") == F.col("min_price"))
        .select(
            "p_partkey", "p_brand", "s_name", "n_name",
            F.col("offer_price").alias("min_price"),
        )
    )


SQL_MIN_PRICE_SUPPLIERS = """
WITH offers AS (
  SELECT l_partkey, l_suppkey, min(l_extendedprice) AS offer_price
  FROM lineitem GROUP BY l_partkey, l_suppkey),
regional AS (
  SELECT p_partkey, p_brand, s_name, n_name, offer_price
  FROM offers
  JOIN part ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE p_size < 10 AND r_name = 'EUROPE')
SELECT p_partkey, p_brand, s_name, n_name, offer_price AS min_price
FROM (SELECT *, min(offer_price) OVER (PARTITION BY p_partkey) AS mp
      FROM regional) s
WHERE offer_price = mp
"""

ANALYTICS_QUERIES["min_price_suppliers"] = (
    q_min_price_suppliers,
    SQL_MIN_PRICE_SUPPLIERS,
)


def q_important_parts(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q11 shape (HAVING against a global scalar): per-part
    revenue vs 1.1x the MEAN per-part revenue (total / distinct parts
    — the spec's fixed fraction would be scale-VARIANT selectivity on
    the driver's uniform synthetic stream: all parts at sf0.001, none
    at sf0.01). Both sides sum the identical per-row decimal(18,4)
    product, so the comparison is between two exactly-computed values
    cast to double the same way in both engines; the global scalar is
    one extra reduction broadcast into the filter — never a per-group
    re-scan. Window is r7-queue."""
    li = load(spark, sf, "lineitem")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    per_part = li.groupBy("l_partkey").agg(F.sum(rev).alias("rev_dec"))
    total = li.agg(
        (
            F.sum(rev).cast("double")
            / F.countDistinct("l_partkey")
            * F.lit(1.1)
        ).alias("threshold")
    )
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("rev_dec").cast("double") > F.col("threshold"))
        .select(
            "l_partkey", F.col("rev_dec").cast("double").alias("part_rev")
        )
    )


SQL_IMPORTANT_PARTS = """
WITH t AS (
  SELECT CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                       AS DECIMAL(18,4))) AS DOUBLE)
         / count(DISTINCT l_partkey) * 1.1 AS threshold
  FROM lineitem)
SELECT l_partkey,
  CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                AS DECIMAL(18,4))) AS DOUBLE) AS part_rev
FROM lineitem, t
GROUP BY l_partkey, threshold
HAVING CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                     AS DECIMAL(18,4))) AS DOUBLE) > threshold
"""

ANALYTICS_QUERIES["important_parts"] = (
    q_important_parts,
    SQL_IMPORTANT_PARTS,
)


def q_waiting_suppliers(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): for
    finalized orders with 2+ suppliers, find the supplier who was the
    ONLY late shipper — the EXISTS (another supplier contributed) +
    NOT EXISTS (another supplier was ALSO late) pair, rewritten as ONE
    per-order aggregation (distinct suppliers, distinct late
    suppliers) instead of two correlated re-scans of lineitem. Late =
    shipped > 1800 days after the order date (the synthetic stream's
    ~p96 lag; exact integer date arithmetic). Supplier and nation are
    broadcast dims. Window is r7-queue."""
    orders = load(spark, sf, "orders").filter(F.col("o_orderstatus") == "F")
    li = load(spark, sf, "lineitem")
    supp = load(spark, sf, "supplier")
    nation = load(spark, sf, "nation")
    j = li.join(orders, li.l_orderkey == orders.o_orderkey).withColumn(
        "is_late",
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate")) > 1800,
    )
    per_order = j.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(
            F.when(F.col("is_late"), F.col("l_suppkey"))
        ).alias("n_late_supp"),
    )
    sole_late = (
        j.filter(F.col("is_late"))
        .select("l_orderkey", "l_suppkey")
        .distinct()
        .join(per_order, "l_orderkey")
        .filter((F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1))
    )
    return (
        sole_late.join(F.broadcast(supp), sole_late.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy("s_name", "n_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


SQL_WAITING_SUPPLIERS = """
WITH j AS (
  SELECT l_orderkey, l_suppkey,
    date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))
      > 1800 AS is_late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'),
per_order AS (
  SELECT l_orderkey,
    count(DISTINCT l_suppkey) AS n_supp,
    count(DISTINCT CASE WHEN is_late THEN l_suppkey END) AS n_late_supp
  FROM j GROUP BY l_orderkey),
sole_late AS (
  SELECT DISTINCT j.l_orderkey, j.l_suppkey
  FROM j JOIN per_order ON j.l_orderkey = per_order.l_orderkey
  WHERE is_late AND n_supp >= 2 AND n_late_supp = 1)
SELECT s_name, n_name, CAST(count(*) AS BIGINT) AS numwait
FROM sole_late
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY s_name, n_name
"""

ANALYTICS_QUERIES["waiting_suppliers"] = (
    q_waiting_suppliers,
    SQL_WAITING_SUPPLIERS,
)


# ----------------------------------------- SCD Type 2 dimension (r6 tail)
def q_scd2_user_state(spark: SparkSession, sf: str) -> DataFrame:
    """SCD2 versioned dimension from the event stream: per user, every
    run of a repeated event_type becomes one version row with its
    [valid_from, valid_to) interval — the Type-2 complement of the
    reference's Type-1 latest-wins dims (Delta Load Scripts/
    dw2_delta_load2.py MERGE). One window pass keyed on the entity;
    event_id is the tiebreak so equal-timestamp changes version
    identically on every engine. Window is r7-queue."""
    from gcp_data_pipeline_fyp_spark.operators.scd import scd2_snapshot

    ev = load(spark, sf, "events")
    return scd2_snapshot(
        ev.select("user_id", F.col("event_type").alias("state"), "ts", "event_id"),
        key_cols=["user_id"],
        attr_cols=["state"],
        order_col="ts",
        tiebreak_cols=["event_id"],
    )


SQL_SCD2_USER_STATE = """
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      AS prev
  FROM events),
vers AS (
  SELECT user_id, event_type AS state, ts AS valid_from, event_id
  FROM ordered WHERE prev IS DISTINCT FROM event_type)
SELECT user_id, state, valid_from,
  lead(valid_from) OVER (PARTITION BY user_id
                         ORDER BY valid_from, event_id) AS valid_to,
  lead(valid_from) OVER (PARTITION BY user_id
                         ORDER BY valid_from, event_id) IS NULL
    AS is_current
FROM vers
"""

ANALYTICS_QUERIES["scd2_user_state"] = (q_scd2_user_state, SQL_SCD2_USER_STATE)


def q_scd2_incremental_state(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental SCD2 certification: build the dimension from the
    feed UP TO Jan 16, fold the rest in with `scd2_apply`, and certify
    the result against the ORACLE OF THE FULL-FEED SNAPSHOT — the
    hash-equality proves apply-after-snapshot is byte-equivalent to
    one snapshot over everything (closed history untouched, current
    rows closed/extended correctly, re-fed attribute runs collapsed).
    The apply recompute is sized by |current| + |delta|, never
    |history| — the 100 TB property this probe certifies the algebra
    of. Window is r7-queue."""
    from gcp_data_pipeline_fyp_spark.operators.scd import (
        scd2_apply,
        scd2_snapshot,
    )

    ev = load(spark, sf, "events").select(
        "user_id", F.col("event_type").alias("state"), "ts", "event_id"
    )
    cutoff = F.lit("2024-01-16 00:00:00").cast("timestamp")
    dim = scd2_snapshot(
        ev.filter(F.col("ts") <= cutoff),
        key_cols=["user_id"], attr_cols=["state"],
        order_col="ts", tiebreak_cols=["event_id"],
    )
    return scd2_apply(
        dim, ev.filter(F.col("ts") > cutoff),
        key_cols=["user_id"], attr_cols=["state"],
        order_col="ts", tiebreak_cols=["event_id"],
    )


# the oracle is the FULL-feed snapshot: equality certifies the
# incremental fold, not just the window algebra
ANALYTICS_QUERIES["scd2_incremental_state"] = (
    q_scd2_incremental_state,
    SQL_SCD2_USER_STATE,
)


def q_customer_spend_quartiles(spark: SparkSession, sf: str) -> DataFrame:
    """ntile(4) quartile assignment over customer spend — the last
    member of the window-function family (row_number/rank/
    percent_rank/cume_dist/lag/lead/running sums are covered
    elsewhere). Deterministic because the window order is TOTAL
    (exact-decimal spend desc, then custkey). Window is r7-queue."""
    orders = load(spark, sf, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("spend")
    )
    w = Window.orderBy(F.col("spend").desc(), F.col("o_custkey"))
    return spend.select(
        "o_custkey", "spend", F.ntile(4).over(w).alias("quartile")
    )


SQL_CUSTOMER_SPEND_QUARTILES = """
WITH s AS (
  SELECT o_custkey,
    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
  FROM orders GROUP BY o_custkey)
SELECT o_custkey, spend,
  CAST(ntile(4) OVER (ORDER BY spend DESC, o_custkey) AS INT) AS quartile
FROM s
"""

ANALYTICS_QUERIES["customer_spend_quartiles"] = (
    q_customer_spend_quartiles,
    SQL_CUSTOMER_SPEND_QUARTILES,
)


def q_linear_attribution(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-touch LINEAR attribution: each purchase's credit splits
    equally over the user's clicks in the preceding 24 h, aggregated
    to (user, click-day) — the marketing rollup on top of the
    interval join (`interval_attribution` certifies the raw pairs).
    Credit math is EXACT integers: per-touch credit is
    round(1e6 / n_touches) micro-units, summed as ints — a double
    1/n sum would be partial-aggregation-order dependent and could
    never hash-certify. Window is r7-queue."""
    ev = load(spark, sf, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_uid"), F.col("ts").alias("c_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_uid"),
        F.col("ts").alias("p_ts"),
    )
    touches = purchases.join(
        clicks,
        (F.col("c_uid") == F.col("p_uid"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 24 HOURS")),
    )
    w = Window.partitionBy("p_id")
    credited = touches.withColumn(
        "credit_micro",
        F.round(F.lit(1_000_000) / F.count(F.lit(1)).over(w), 0).cast(
            "bigint"
        ),
    )
    return credited.groupBy(
        F.col("p_uid").alias("user_id"),
        F.date_format("c_ts", "yyyy-MM-dd").alias("click_day"),
    ).agg(
        F.sum("credit_micro").alias("credit_micro"),
        F.count(F.lit(1)).alias("n_touches"),
    )


SQL_LINEAR_ATTRIBUTION = """
WITH clicks AS (
  SELECT user_id AS c_uid, ts AS c_ts FROM events
  WHERE event_type = 'click'),
purchases AS (
  SELECT event_id AS p_id, user_id AS p_uid, ts AS p_ts FROM events
  WHERE event_type = 'purchase'),
touches AS (
  SELECT p_id, p_uid, c_ts
  FROM purchases JOIN clicks
    ON c_uid = p_uid AND c_ts <= p_ts
   AND c_ts >= p_ts - INTERVAL 24 HOUR),
credited AS (
  SELECT p_uid, c_ts,
    CAST(round(1000000.0 / count(*) OVER (PARTITION BY p_id), 0)
         AS BIGINT) AS credit_micro
  FROM touches)
SELECT p_uid AS user_id, strftime(c_ts, '%Y-%m-%d') AS click_day,
  CAST(sum(credit_micro) AS BIGINT) AS credit_micro,
  CAST(count(*) AS BIGINT) AS n_touches
FROM credited GROUP BY p_uid, strftime(c_ts, '%Y-%m-%d')
"""

ANALYTICS_QUERIES["linear_attribution"] = (
    q_linear_attribution,
    SQL_LINEAR_ATTRIBUTION,
)


def q_forecast_revenue_change(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q6 shape (the canonical predicate-pushdown scan): one
    filtered aggregation — year slice, discount band, quantity cap —
    whose entire WHERE clause must reach the parquet scan as
    PushedFilters (no join, no shuffle beyond the final reduce).
    Revenue = sum(extendedprice * discount) as exact decimal.
    Window is r7-queue."""
    li = load(spark, sf, "lineitem")
    sel = li.filter(
        (F.to_date("l_shipdate") >= F.lit("2001-01-01"))
        & (F.to_date("l_shipdate") < F.lit("2002-01-01"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return sel.agg(
        F.sum(
            (F.col("l_extendedprice") * F.col("l_discount")).cast(
                "decimal(18,4)"
            )
        )
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


SQL_FORECAST_REVENUE_CHANGE = """
SELECT
  CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4)))
       AS DOUBLE) AS revenue,
  CAST(count(*) AS BIGINT) AS n_items
FROM lineitem
WHERE CAST(l_shipdate AS DATE) >= DATE '2001-01-01'
  AND CAST(l_shipdate AS DATE) < DATE '2002-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
"""

ANALYTICS_QUERIES["forecast_revenue_change"] = (
    q_forecast_revenue_change,
    SQL_FORECAST_REVENUE_CHANGE,
)


def q_promo_revenue_share(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q14 shape (conditional-aggregate share): promo parts'
    percentage of total revenue in a month — numerator is a CASE
    inside the SAME aggregation pass as the denominator (one scan,
    one broadcast part join, never two). Share emitted via micro6 of
    an exact-decimal ratio. Window is r7-queue."""
    li = load(spark, sf, "lineitem").filter(
        (F.to_date("l_shipdate") >= F.lit("2001-03-01"))
        & (F.to_date("l_shipdate") < F.lit("2001-04-01"))
    )
    part = load(spark, sf, "part").select("p_partkey", "p_type")
    j = li.join(F.broadcast(part), li.l_partkey == F.col("p_partkey"))
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(
        F.lit(0).cast("decimal(18,4)")
    )
    return j.agg(
        micro6(
            F.lit(100.0)
            * F.sum(promo).cast("double")
            / F.sum(rev).cast("double")
        ).alias("promo_share_micro"),
        F.count(F.lit(1)).alias("n_items"),
    )


SQL_PROMO_REVENUE_SHARE = f"""
WITH j AS (
  SELECT p_type, l_extendedprice, l_discount
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE CAST(l_shipdate AS DATE) >= DATE '2001-03-01'
    AND CAST(l_shipdate AS DATE) < DATE '2001-04-01')
SELECT
  {micro6_sql(
    "100.0 * CAST(sum(CASE WHEN p_type = 'PROMO' "
    "THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) "
    "ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) "
    "/ CAST(sum(CAST(l_extendedprice * (1 - l_discount) "
    "AS DECIMAL(18,4))) AS DOUBLE)"
  )} AS promo_share_micro,
  CAST(count(*) AS BIGINT) AS n_items
FROM j
"""

ANALYTICS_QUERIES["promo_revenue_share"] = (
    q_promo_revenue_share,
    SQL_PROMO_REVENUE_SHARE,
)


def q_discounted_shipment_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q19 shape (disjunction of conjunctions): three
    brand/size/quantity bands OR-ed together — the predicate class
    that tests whether the optimizer pushes a DNF filter into the
    scan and the join instead of materializing the cross product.
    One broadcast part join, one exact-decimal aggregate.
    Window is r7-queue."""
    li = load(spark, sf, "lineitem")
    part = load(spark, sf, "part").select("p_partkey", "p_brand", "p_size")
    j = li.join(F.broadcast(part), li.l_partkey == F.col("p_partkey"))
    band = (
        (
            (F.col("p_brand") == "Brand#12")
            & (F.col("p_size") <= 5)
            & (F.col("l_quantity") >= 1)
            & (F.col("l_quantity") <= 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & (F.col("p_size") <= 10)
            & (F.col("l_quantity") >= 10)
            & (F.col("l_quantity") <= 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & (F.col("p_size") <= 15)
            & (F.col("l_quantity") >= 20)
            & (F.col("l_quantity") <= 30)
        )
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    return j.filter(band).agg(
        F.sum(rev).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


SQL_DISCOUNTED_SHIPMENT_REVENUE = """
SELECT
  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
       AS DOUBLE) AS revenue,
  CAST(count(*) AS BIGINT) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size <= 5
       AND l_quantity >= 1 AND l_quantity <= 11)
   OR (p_brand = 'Brand#23' AND p_size <= 10
       AND l_quantity >= 10 AND l_quantity <= 20)
   OR (p_brand = 'Brand#34' AND p_size <= 15
       AND l_quantity >= 20 AND l_quantity <= 30)
"""

ANALYTICS_QUERIES["discounted_shipment_revenue"] = (
    q_discounted_shipment_revenue,
    SQL_DISCOUNTED_SHIPMENT_REVENUE,
)


def q_brand_basket_lift(spark: SparkSession, sf: str) -> DataFrame:
    """Market-basket association over order baskets: for every brand
    pair bought together in >= 20 orders, the co-occurrence count and
    LIFT (N * n_ab / (n_a * n_b)) in micro-units — the
    association-rule class (support/lift) none of the other probes
    cover. The pair join is per-ORDER (C(brands,2) with baskets of
    ~4-7 brands — candidate-bounded, never brand x brand global), the
    per-brand supports and N are one aggregation each, broadcast into
    the final select. All counts are exact ints; lift's double
    expression is pinned to one evaluation order. Window is
    r7-queue."""
    li = load(spark, sf, "lineitem")
    part = load(spark, sf, "part").select("p_partkey", "p_brand")
    baskets = (
        li.join(F.broadcast(part), li.l_partkey == F.col("p_partkey"))
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    a = baskets.select(
        F.col("l_orderkey").alias("o"), F.col("p_brand").alias("brand_a")
    )
    b = baskets.select(
        F.col("l_orderkey").alias("o"), F.col("p_brand").alias("brand_b")
    )
    pairs = (
        a.join(b, "o")
        .filter(F.col("brand_a") < F.col("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= 20)
    )
    support = baskets.groupBy("p_brand").agg(F.count(F.lit(1)).alias("n_s"))
    total = baskets.select("l_orderkey").distinct().agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    sa = support.select(
        F.col("p_brand").alias("brand_a"), F.col("n_s").alias("n_a")
    )
    sb = support.select(
        F.col("p_brand").alias("brand_b"), F.col("n_s").alias("n_b")
    )
    return (
        pairs.join(F.broadcast(sa), "brand_a")
        .join(F.broadcast(sb), "brand_b")
        .join(F.broadcast(total))
        .select(
            "brand_a",
            "brand_b",
            "n_ab",
            micro6(
                F.col("n_orders").cast("double")
                * F.col("n_ab").cast("double")
                / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
            ).alias("lift_micro"),
        )
    )


SQL_BRAND_BASKET_LIFT = f"""
WITH baskets AS (
  SELECT DISTINCT l_orderkey, p_brand
  FROM lineitem JOIN part ON l_partkey = p_partkey),
pairs AS (
  SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
         CAST(count(*) AS BIGINT) AS n_ab
  FROM baskets a JOIN baskets b
    ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
  GROUP BY a.p_brand, b.p_brand
  HAVING count(*) >= 20),
support AS (
  SELECT p_brand, CAST(count(*) AS BIGINT) AS n_s
  FROM baskets GROUP BY p_brand),
total AS (
  SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
  FROM baskets)
SELECT brand_a, brand_b, n_ab,
  {micro6_sql(
    "CAST(n_orders AS DOUBLE) * CAST(n_ab AS DOUBLE)"
    " / (CAST(sa.n_s AS DOUBLE) * CAST(sb.n_s AS DOUBLE))"
  )} AS lift_micro
FROM pairs
JOIN support sa ON sa.p_brand = brand_a
JOIN support sb ON sb.p_brand = brand_b
CROSS JOIN total
"""

ANALYTICS_QUERIES["brand_basket_lift"] = (
    q_brand_basket_lift,
    SQL_BRAND_BASKET_LIFT,
)


# ------------------------------------------- TPC-H Q8/Q9/Q15/Q16/Q20 shapes
# These five close out the 22-query TPC-H shape set (adapted to the
# driver's schema: no partsupp table, so supply cost/availability are
# derived from lineitem; no comment columns, so the Q16 complaint
# exclusion keys on s_name). Reference analog: the DAX measures'
# slicing workload (`DAX Measures Used.txt`) — these prove the same
# engine answers the canonical warehouse-benchmark shapes too.
def q_market_share_by_year(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): revenue share of one
    supplier nation within a customer region's PROMO-part market, per
    order year. All dimension sides broadcast (part gate, two-hop
    nation->region customer gate, supplier->nation map); the only
    shuffles are the lineitem->orders->customer fact joins. Share =
    conditional-decimal-sum / decimal-sum, both cast to double before
    one IEEE divide, so a 1000-executor run returns identical bytes.
    Window is r7-queue."""
    li = load(spark, sf, "lineitem")
    orders = load(spark, sf, "orders")
    cust = load(spark, sf, "customer")
    nation = load(spark, sf, "nation")
    region = load(spark, sf, "region")
    sup = load(spark, sf, "supplier")
    part = load(spark, sf, "part").filter(F.col("p_type") == "PROMO")
    eu_keys = (
        nation.join(
            F.broadcast(region), nation.n_regionkey == region.r_regionkey
        )
        .filter(F.col("r_name") == "EUROPE")
        .select("n_nationkey")
    )
    sup_nation = sup.join(
        F.broadcast(
            nation.select(
                F.col("n_nationkey").alias("sn_key"),
                F.col("n_name").alias("supp_nation"),
            )
        ),
        sup.s_nationkey == F.col("sn_key"),
    ).select("s_suppkey", "supp_nation")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    joined = (
        li.join(
            F.broadcast(part.select("p_partkey")),
            li.l_partkey == F.col("p_partkey"),
        )
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(eu_keys), cust.c_nationkey == F.col("n_nationkey"))
        .join(F.broadcast(sup_nation), li.l_suppkey == F.col("s_suppkey"))
    )
    per_year = joined.groupBy(F.year("o_orderdate").alias("o_year")).agg(
        F.sum(
            F.when(F.col("supp_nation") == "NATION_7", rev).otherwise(
                F.lit(0).cast("decimal(18,4)")
            )
        )
        .cast("double")
        .alias("nation_rev"),
        F.sum(rev).cast("double").alias("total_rev"),
    )
    return per_year.select(
        "o_year",
        roundn(F.col("nation_rev") / F.col("total_rev"), 6).alias(
            "mkt_share"
        ),
    )


SQL_MARKET_SHARE_BY_YEAR = f"""
WITH eu AS (
  SELECT n_nationkey FROM nation JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'),
sn AS (
  SELECT s_suppkey, n_name AS supp_nation
  FROM supplier JOIN nation ON s_nationkey = n_nationkey),
j AS (
  SELECT o_orderdate, supp_nation,
    CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) AS rev
  FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN eu ON c_nationkey = eu.n_nationkey
    JOIN sn ON l_suppkey = sn.s_suppkey
  WHERE p_type = 'PROMO')
SELECT CAST(year(o_orderdate) AS INT) AS o_year,
  {roundn_sql(
    "CAST(sum(CASE WHEN supp_nation = 'NATION_7' THEN rev"
    " ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)"
    " / CAST(sum(rev) AS DOUBLE)", 6
  )} AS mkt_share
FROM j GROUP BY CAST(year(o_orderdate) AS INT)
"""

ANALYTICS_QUERIES["market_share_by_year"] = (
    q_market_share_by_year,
    SQL_MARKET_SHARE_BY_YEAR,
)


def q_nation_profit_by_year(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit by nation and year). No
    partsupp/supplycost column exists, so cost is the deterministic
    proxy 0.1 * p_retailprice * l_quantity; profit = revenue - cost.
    Both sides accumulate as exact decimal sums (order-independent),
    subtract once in double at the end. Part gate and supplier->nation
    map broadcast; one shuffle on the (nation, year) agg. Window is
    r7-queue."""
    li = load(spark, sf, "lineitem")
    nation = load(spark, sf, "nation")
    sup = load(spark, sf, "supplier")
    part = load(spark, sf, "part").filter(F.col("p_name").like("%widget%"))
    sup_nation = sup.join(
        F.broadcast(
            nation.select(
                F.col("n_nationkey").alias("sn_key"),
                F.col("n_name").alias("supp_nation"),
            )
        ),
        sup.s_nationkey == F.col("sn_key"),
    ).select("s_suppkey", "supp_nation")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    cost = (F.col("p_retailprice") * F.col("l_quantity")).cast(
        "decimal(18,4)"
    )
    joined = li.join(
        F.broadcast(part.select("p_partkey", "p_retailprice")),
        li.l_partkey == F.col("p_partkey"),
    ).join(F.broadcast(sup_nation), li.l_suppkey == F.col("s_suppkey"))
    grp = joined.groupBy(
        "supp_nation", F.year("l_shipdate").alias("l_year")
    ).agg(
        F.sum(rev).cast("double").alias("sum_rev"),
        F.sum(cost).cast("double").alias("sum_cost"),
    )
    return grp.select(
        "supp_nation",
        "l_year",
        roundn(F.col("sum_rev") - 0.1 * F.col("sum_cost"), 2).alias(
            "profit"
        ),
    )


SQL_NATION_PROFIT_BY_YEAR = f"""
WITH sn AS (
  SELECT s_suppkey, n_name AS supp_nation
  FROM supplier JOIN nation ON s_nationkey = n_nationkey),
j AS (
  SELECT supp_nation, l_shipdate,
    CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) AS rev,
    CAST(p_retailprice * l_quantity AS DECIMAL(18,4)) AS cost
  FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN sn ON l_suppkey = sn.s_suppkey
  WHERE p_name LIKE '%widget%')
SELECT supp_nation, CAST(year(l_shipdate) AS INT) AS l_year,
  {roundn_sql(
    "CAST(sum(rev) AS DOUBLE) - 0.1 * CAST(sum(cost) AS DOUBLE)", 2
  )} AS profit
FROM j GROUP BY supp_nation, CAST(year(l_shipdate) AS INT)
"""

ANALYTICS_QUERIES["nation_profit_by_year"] = (
    q_nation_profit_by_year,
    SQL_NATION_PROFIT_BY_YEAR,
)


def q_quarter_top_supplier(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier in a quarter): per-supplier
    revenue over one ship-quarter, then the spec's scalar-max view
    as a whole-frame window MAX + equality filter (the post-agg frame
    is supplier-sized — the documented benign tiny-frame window).
    Ties all survive, as in the spec. Supplier dim broadcast.
    Window is r7-queue."""
    li = load(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    sup = load(spark, sf, "supplier")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    per = li.groupBy("l_suppkey").agg(
        F.sum(rev).cast("double").alias("total_revenue")
    )
    top = per.withColumn(
        "mx", F.max("total_revenue").over(Window.partitionBy())
    ).filter(F.col("total_revenue") == F.col("mx"))
    return top.join(
        F.broadcast(sup), top.l_suppkey == sup.s_suppkey
    ).select("s_suppkey", "s_name", "total_revenue")


SQL_QUARTER_TOP_SUPPLIER = """
WITH rev AS (
  SELECT l_suppkey,
    CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
      AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
"""

ANALYTICS_QUERIES["quarter_top_supplier"] = (
    q_quarter_top_supplier,
    SQL_QUARTER_TOP_SUPPLIER,
)


def q_part_supplier_counts(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q16 shape (supplier count by part attributes, with an
    excluded-supplier anti join): distinct shippers per (brand, type,
    size) for non-Brand#1, non-PROMO, square-size parts, excluding
    suppliers whose name ends in '0' (the schema's stand-in for the
    spec's complaint-comment gate — no comment column exists). Part
    gate and exclusion list broadcast; COUNT(DISTINCT) is exact.
    Window is r7-queue."""
    li = load(spark, sf, "lineitem")
    part = load(spark, sf, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49)
    )
    bad = (
        load(spark, sf, "supplier")
        .filter(F.col("s_name").like("%0"))
        .select("s_suppkey")
    )
    joined = li.join(
        F.broadcast(part.select("p_partkey", "p_brand", "p_type", "p_size")),
        li.l_partkey == F.col("p_partkey"),
    ).join(
        F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti"
    )
    return joined.groupBy("p_brand", "p_type", "p_size").agg(
        F.countDistinct("l_suppkey").alias("supplier_cnt")
    )


SQL_PART_SUPPLIER_COUNTS = """
SELECT p_brand, p_type, p_size,
  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
  AND p_size IN (1, 4, 9, 16, 25, 36, 49)
  AND l_suppkey NOT IN
    (SELECT s_suppkey FROM supplier WHERE s_name LIKE '%0')
GROUP BY p_brand, p_type, p_size
"""

ANALYTICS_QUERIES["part_supplier_counts"] = (
    q_part_supplier_counts,
    SQL_PART_SUPPLIER_COUNTS,
)


def q_excess_ship_suppliers(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q20 shape (suppliers with excess volume of a part class):
    suppliers whose total 1997 shipped quantity of 'cold' parts
    exceeds 1.2x the mean supplier total — a relative threshold, so
    selectivity is scale-INVARIANT (~25-40%; the spec's
    0.5 * availqty has no partsupp analog here). Quantities accumulate
    as exact decimals; the global scalar is one tiny broadcast cross
    join. Output is the qualifying suppliers. Window is r7-queue."""
    li = load(spark, sf, "lineitem").filter(F.year("l_shipdate") == 1997)
    part = load(spark, sf, "part").filter(F.col("p_name").like("cold%"))
    sup = load(spark, sf, "supplier")
    per = (
        li.join(
            F.broadcast(part.select("p_partkey")),
            li.l_partkey == F.col("p_partkey"),
        )
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qty"))
    )
    scalar = per.agg(
        (
            F.sum("qty").cast("double")
            / F.count(F.lit(1))
            * F.lit(1.2)
        ).alias("thr")
    )
    hits = (
        per.crossJoin(F.broadcast(scalar))
        .filter(F.col("qty").cast("double") > F.col("thr"))
        .select("l_suppkey")
    )
    return hits.join(
        F.broadcast(sup), hits.l_suppkey == sup.s_suppkey
    ).select("s_suppkey", "s_name")


SQL_EXCESS_SHIP_SUPPLIERS = """
WITH per AS (
  SELECT l_suppkey,
    sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE year(l_shipdate) = 1997 AND p_name LIKE 'cold%'
  GROUP BY l_suppkey),
thr AS (
  SELECT CAST(sum(qty) AS DOUBLE) / count(*) * 1.2 AS thr FROM per)
SELECT s_suppkey, s_name
FROM per CROSS JOIN thr
  JOIN supplier ON l_suppkey = s_suppkey
WHERE CAST(qty AS DOUBLE) > thr.thr
"""

ANALYTICS_QUERIES["excess_ship_suppliers"] = (
    q_excess_ship_suppliers,
    SQL_EXCESS_SHIP_SUPPLIERS,
)


def q_event_sequence_patterns(spark: SparkSession, sf: str) -> DataFrame:
    """Length-3 sequential patterns over per-user event streams
    (PrefixSpan-lite for contiguous patterns): two LEADs over the
    (ts, event_id)-ordered per-user window, then one small agg —
    occurrences plus distinct-user support, gated at support >= 2.
    The window partitions by user_id (real distribution, not the
    tiny-frame case); the pattern-space agg is bounded by
    |event_types|^3. NULL event types are dropped up front (the
    event_transitions precedent). Window is r7-queue."""
    ev = load(spark, sf, "events").filter(F.col("event_type").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e2").isNotNull() & F.col("e3").isNotNull())
    return (
        seq.groupBy("e1", "e2", "e3")
        .agg(
            F.count(F.lit(1)).alias("occurrences"),
            F.countDistinct("user_id").alias("user_support"),
        )
        .filter(F.col("user_support") >= 2)
    )


SQL_EVENT_SEQUENCE_PATTERNS = """
WITH seq AS (
  SELECT user_id, event_type AS e1,
    lead(event_type, 1) OVER w AS e2,
    lead(event_type, 2) OVER w AS e3
  FROM events WHERE event_type IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT e1, e2, e3,
  CAST(count(*) AS BIGINT) AS occurrences,
  CAST(count(DISTINCT user_id) AS BIGINT) AS user_support
FROM seq
WHERE e2 IS NOT NULL AND e3 IS NOT NULL
GROUP BY e1, e2, e3
HAVING count(DISTINCT user_id) >= 2
"""

ANALYTICS_QUERIES["event_sequence_patterns"] = (
    q_event_sequence_patterns,
    SQL_EVENT_SEQUENCE_PATTERNS,
)


# -------------------------------------- seasonal decomposition (r7)
def q_seasonal_decompose_daily(spark: SparkSession, sf: str) -> DataFrame:
    """Classical additive decomposition of the daily event series:
    trend = centered 7-row moving average, seasonal = per-weekday mean
    of the detrended residual, remainder = the rest. All arithmetic in
    exact integer micro-units — the window/group averages are
    exact-integer-sum divisions, so every engine and partitioning
    returns identical bytes. The windows run over the DAILY aggregate
    (days-sized frame), never the event rows, so the single-partition
    window is benign at any corpus scale."""
    daily = (
        load(spark, sf, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w7 = Window.orderBy("day").rowsBetween(-3, 3)
    t = daily.withColumn(
        "trend_micro",
        micro6(F.avg("n").over(w7)),
    ).withColumn(
        "wd",
        F.datediff(F.col("day"), F.lit("1970-01-01").cast("date")) % 7,
    ).withColumn(
        "det_micro", F.col("n") * F.lit(1_000_000) - F.col("trend_micro")
    )
    ws = Window.partitionBy("wd")
    out = t.withColumn(
        "seasonal_micro",
        F.round(F.avg("det_micro").over(ws)).cast("long"),
    ).withColumn(
        "remainder_micro",
        F.col("n") * F.lit(1_000_000)
        - F.col("trend_micro")
        - F.col("seasonal_micro"),
    )
    return out.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n", "trend_micro", "seasonal_micro", "remainder_micro",
    ).orderBy("day")


SQL_SEASONAL_DECOMPOSE_DAILY = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, count(*) AS n
  FROM events GROUP BY 1),
t AS (
  SELECT day, n,
    CAST(round(avg(n) OVER (ORDER BY day
          ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) * 1000000.0)
      AS BIGINT) AS trend_micro,
    (day - DATE '1970-01-01') % 7 AS wd
  FROM daily),
d AS (
  SELECT *, n * 1000000 - trend_micro AS det_micro FROM t),
s AS (
  SELECT *,
    CAST(round(avg(det_micro) OVER (PARTITION BY wd)) AS BIGINT)
      AS seasonal_micro
  FROM d)
SELECT strftime(day, '%Y-%m-%d') AS day,
  CAST(n AS BIGINT) AS n, trend_micro, seasonal_micro,
  n * 1000000 - trend_micro - seasonal_micro AS remainder_micro
FROM s ORDER BY day
"""

ANALYTICS_QUERIES["seasonal_decompose_daily"] = (
    q_seasonal_decompose_daily,
    SQL_SEASONAL_DECOMPOSE_DAILY,
)


# ----------------------------------- Catalyst-native session windows (r7)
def q_session_window_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Gap-based sessionization through Spark's BUILT-IN
    F.session_window — the Catalyst-native rendering of the same
    semantics the engine also provides as a window-function query
    (sessionize_events) and a stateful streaming operator
    (streaming/sessionize.py). One aggregation, no window-function
    sort: session merging happens inside the session-window exec node,
    which also runs unchanged under readStream with a watermark. The
    oracle derives identical sessions via the lag/cumsum islands
    construction. Session end = last event + gap (Spark's closed-open
    session interval contract)."""
    ev = load(spark, sf, "events")
    return (
        ev.groupBy(
            F.col("user_id"),
            F.session_window("ts", "30 minutes").alias("w"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("session_value"),
        )
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias(
                "session_end"
            ),
            "n_events",
            "session_value",
        )
        .orderBy("user_id", "session_start")
    )


SQL_SESSION_WINDOW_STATS = """
WITH o AS (
  SELECT user_id, ts, value,
    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
              <= INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS brk
  FROM events),
s AS (
  SELECT user_id, ts, value,
    sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING) AS sid
  FROM o)
SELECT user_id,
  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
  strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S')
    AS session_end,
  CAST(count(*) AS BIGINT) AS n_events,
  cast(sum(cast(value AS decimal(18,2))) AS double) AS session_value
FROM s
GROUP BY user_id, sid
ORDER BY user_id, session_start
"""

ANALYTICS_QUERIES["session_window_stats"] = (
    q_session_window_stats,
    SQL_SESSION_WINDOW_STATS,
)


# ------------------------------------------- PSI distribution drift (r7)
def q_psi_drift_report(spark: SparkSession, sf: str) -> DataFrame:
    """Population Stability Index per event type between the first and
    second half of the month — the drift monitor a corpus pipeline
    runs between its training snapshot and each fresh ingest. Fixed-
    width bins over the BASE range (deterministic, quantile-free),
    add-half smoothing, per-bin contributions rounded to micro-units
    then integer-summed (no float summation order). Everything after
    the two snapshot scans runs on |types|*10 rows."""
    from gcp_data_pipeline_fyp_spark.operators.profile import psi_report

    ev = load(spark, sf, "events")
    out = psi_report(
        ev.filter(F.dayofmonth("ts") <= 15),
        ev.filter(F.dayofmonth("ts") > 15),
        "value",
        ["event_type"],
        n_bins=10,
    )
    return out.select(
        "event_type", "n_base", "n_cur", "psi_micro"
    ).orderBy("event_type")


SQL_PSI_DRIFT_REPORT = """
WITH base AS (
  SELECT event_type, value FROM events
  WHERE value IS NOT NULL AND day(ts) <= 15),
cur AS (
  SELECT event_type, value FROM events
  WHERE value IS NOT NULL AND day(ts) > 15),
rng AS (
  SELECT event_type, CAST(min(value) AS DOUBLE) AS lo,
         CAST(max(value) AS DOUBLE) AS hi
  FROM base GROUP BY 1),
bb AS (
  SELECT b.event_type,
    CASE WHEN hi > lo
      THEN CAST(least(greatest(
             floor((value - lo) / (hi - lo) * 10.0), 0.0), 9.0) AS BIGINT)
      ELSE 0 END AS bin,
    count(*) AS c
  FROM base b JOIN rng USING (event_type) GROUP BY 1, 2),
cc AS (
  SELECT c0.event_type,
    CASE WHEN hi > lo
      THEN CAST(least(greatest(
             floor((value - lo) / (hi - lo) * 10.0), 0.0), 9.0) AS BIGINT)
      ELSE 0 END AS bin,
    count(*) AS c
  FROM cur c0 JOIN rng USING (event_type) GROUP BY 1, 2),
nb AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n_base FROM bb GROUP BY 1),
nc AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n_cur FROM cc GROUP BY 1),
sc AS (
  SELECT event_type, CAST(bin AS BIGINT) AS bin
  FROM rng CROSS JOIN (SELECT unnest(range(0, 10)) AS bin)),
d AS (
  SELECT sc.event_type, n_base, n_cur,
    (2.0 * coalesce(bb.c, 0) + 1.0) / (2.0 * n_base + 10.0) AS pb,
    (2.0 * coalesce(cc.c, 0) + 1.0) / (2.0 * n_cur + 10.0) AS pc
  FROM sc
  LEFT JOIN bb USING (event_type, bin)
  LEFT JOIN cc USING (event_type, bin)
  JOIN nb USING (event_type)
  JOIN nc USING (event_type))
SELECT event_type, n_base, n_cur,
  CAST(sum(CAST(round(((pc - pb) * ln(pc / pb)) * 1000000.0) AS BIGINT))
    AS BIGINT) AS psi_micro
FROM d GROUP BY 1, 2, 3 ORDER BY event_type
"""

ANALYTICS_QUERIES["psi_drift_report"] = (
    q_psi_drift_report,
    SQL_PSI_DRIFT_REPORT,
)


def q_ks_drift_report(spark: SparkSession, sf: str) -> DataFrame:
    """Two-sample KS statistic per event type over the same
    half-month split as psi_drift_report — the bin-free drift check.
    Exact-integer ECDF gaps (|cb*nc - cc*nb|, max'd as integers);
    ONE float division + micro6 on the winning gap."""
    from gcp_data_pipeline_fyp_spark.operators.profile import ks_report

    ev = load(spark, sf, "events")
    out = ks_report(
        ev.filter(F.dayofmonth("ts") <= 15),
        ev.filter(F.dayofmonth("ts") > 15),
        "value",
        ["event_type"],
    )
    return out.select(
        "event_type", "n_base", "n_cur", "ks_micro"
    ).orderBy("event_type")


SQL_KS_DRIFT_REPORT = """
WITH base AS (
  SELECT event_type, value AS v FROM events
  WHERE value IS NOT NULL AND day(ts) <= 15),
cur AS (
  SELECT event_type, value AS v FROM events
  WHERE value IS NOT NULL AND day(ts) > 15),
b AS (SELECT event_type, v, count(*) AS cb FROM base GROUP BY 1, 2),
c AS (SELECT event_type, v, count(*) AS cc FROM cur GROUP BY 1, 2),
p AS (
  SELECT coalesce(b.event_type, c.event_type) AS event_type,
         coalesce(b.v, c.v) AS v,
         coalesce(cb, 0) AS cb, coalesce(cc, 0) AS cc
  FROM b FULL JOIN c ON b.event_type = c.event_type AND b.v = c.v),
cum AS (
  SELECT event_type,
    sum(cb) OVER (PARTITION BY event_type ORDER BY v
                  ROWS UNBOUNDED PRECEDING) AS ccb,
    sum(cc) OVER (PARTITION BY event_type ORDER BY v
                  ROWS UNBOUNDED PRECEDING) AS ccc
  FROM p),
g AS (
  SELECT event_type, ccb, ccc,
    max(ccb) OVER (PARTITION BY event_type) AS nb,
    max(ccc) OVER (PARTITION BY event_type) AS nc
  FROM cum)
SELECT event_type,
  CAST(max(nb) AS BIGINT) AS n_base,
  CAST(max(nc) AS BIGINT) AS n_cur,
  CAST(round(CAST(max(abs(ccb * nc - ccc * nb)) AS DOUBLE)
        / (CAST(max(nb) AS DOUBLE) * CAST(max(nc) AS DOUBLE))
        * 1000000.0) AS BIGINT) AS ks_micro
FROM g GROUP BY 1 ORDER BY 1
"""

ANALYTICS_QUERIES["ks_drift_report"] = (
    q_ks_drift_report,
    SQL_KS_DRIFT_REPORT,
)


def q_winsorized_values(spark: SparkSession, sf: str) -> DataFrame:
    """Per-type winsorization of event values at the [0.05, 0.95]
    percentiles (operators/profile.py:winsorize) — the heavy-tail
    tamer. The clamp runs on the integer micro grid (value and both
    exact-percentile cuts micro6-pinned first), so no raw-double
    comparison exists to flip on interpolation ulps."""
    from gcp_data_pipeline_fyp_spark.operators.profile import winsorize

    ev = load(spark, sf, "events").filter(F.col("value").isNotNull())
    out = winsorize(ev, "value", ["event_type"], 0.05, 0.95)
    return out.select(
        "event_id", "event_type", "winsorized_micro"
    ).orderBy("event_id")


SQL_WINSORIZED_VALUES = """
WITH cuts AS (
  SELECT event_type,
    CAST(round((quantile_cont(value, 0.05)) * 1000000.0) AS BIGINT) AS qlo,
    CAST(round((quantile_cont(value, 0.95)) * 1000000.0) AS BIGINT) AS qhi
  FROM events WHERE value IS NOT NULL GROUP BY 1)
SELECT event_id, e.event_type,
  least(greatest(CAST(round(value * 1000000.0) AS BIGINT), qlo), qhi)
    AS winsorized_micro
FROM events e JOIN cuts USING (event_type)
WHERE value IS NOT NULL
ORDER BY event_id
"""

ANALYTICS_QUERIES["winsorized_values"] = (
    q_winsorized_values,
    SQL_WINSORIZED_VALUES,
)


def q_ab_test_purchases(spark: SparkSession, sf: str) -> DataFrame:
    """Two-proportion z-test (operators/profile.py:ab_test) per
    weekday: treatment = even user_id, success = purchase event. One
    conditional-aggregation scan; exact integer arm counts; pooled z
    evaluated once in a pinned double chain."""
    from gcp_data_pipeline_fyp_spark.operators.profile import ab_test

    ev = load(spark, sf, "events").withColumn(
        "wd",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")) % 7,
    ).withColumn("treat", F.col("user_id") % 2 == 0).withColumn(
        "success", F.col("event_type") == "purchase"
    )
    return ab_test(ev, "treat", "success", ["wd"]).orderBy("wd")


SQL_AB_TEST_PURCHASES = """
WITH e AS (
  SELECT (CAST(ts AS DATE) - DATE '1970-01-01') % 7 AS wd,
         user_id % 2 = 0 AS t,
         event_type = 'purchase' AS s
  FROM events),
g AS (
  SELECT wd,
    count(CASE WHEN t THEN 1 END) AS n_t,
    count(CASE WHEN NOT t THEN 1 END) AS n_c,
    count(CASE WHEN t AND s THEN 1 END) AS s_t,
    count(CASE WHEN NOT t AND s THEN 1 END) AS s_c
  FROM e GROUP BY 1)
SELECT CAST(wd AS BIGINT) AS wd,
  CAST(n_t AS BIGINT) AS n_t, CAST(n_c AS BIGINT) AS n_c,
  CAST(round((CAST(s_t AS DOUBLE) / CAST(n_t AS DOUBLE)) * 1000000.0)
    AS BIGINT) AS rate_t_micro,
  CAST(round((CAST(s_c AS DOUBLE) / CAST(n_c AS DOUBLE)) * 1000000.0)
    AS BIGINT) AS rate_c_micro,
  CAST(round(((CAST(s_t AS DOUBLE) / CAST(n_t AS DOUBLE)
     - CAST(s_c AS DOUBLE) / CAST(n_c AS DOUBLE))
    / sqrt((CAST(s_t + s_c AS DOUBLE) / (CAST(n_t AS DOUBLE) + CAST(n_c AS DOUBLE)))
      * (1.0 - CAST(s_t + s_c AS DOUBLE) / (CAST(n_t AS DOUBLE) + CAST(n_c AS DOUBLE)))
      * (1.0 / CAST(n_t AS DOUBLE) + 1.0 / CAST(n_c AS DOUBLE))))
    * 1000000.0) AS BIGINT) AS z_micro
FROM g ORDER BY wd
"""

ANALYTICS_QUERIES["ab_test_purchases"] = (
    q_ab_test_purchases,
    SQL_AB_TEST_PURCHASES,
)


def q_target_encoded_events(spark: SparkSession, sf: str) -> DataFrame:
    """Leave-fold-out target encoding (operators/profile.py:
    target_encode) of event_type by value, folds = user_id % 3 —
    each row's category statistic excludes its own fold (the leakage
    guard). One stats pass; exact-decimal roll-ups; one float ratio
    per row, micro6-rounded once."""
    from gcp_data_pipeline_fyp_spark.operators.profile import target_encode

    ev = load(spark, sf, "events").withColumn(
        "f", (F.col("user_id") % 3).cast("long")
    )
    out = target_encode(ev, "event_type", "value", fold_col="f", m=20.0)
    return out.select("event_id", "event_type", "te_micro").orderBy("event_id")


SQL_TARGET_ENCODED_EVENTS = """
WITH b AS (
  SELECT event_id, event_type, user_id % 3 AS f, value FROM events),
cf AS (
  SELECT event_type, f,
    count(CASE WHEN value IS NOT NULL THEN 1 END) AS n_cf,
    sum(CASE WHEN value IS NOT NULL
             THEN CAST(value AS DECIMAL(18,4)) END) AS s_cf
  FROM b GROUP BY 1, 2),
ct AS (SELECT event_type, sum(n_cf) AS n_c, sum(s_cf) AS s_c
       FROM cf GROUP BY 1),
g AS (SELECT sum(n_c) AS n_all, sum(s_c) AS s_all FROM ct)
SELECT event_id, b.event_type,
  CAST(round(((CAST(s_c - s_cf AS DOUBLE)
      + 20.0 * (CAST(s_all AS DOUBLE) / CAST(n_all AS DOUBLE)))
    / (CAST(n_c - n_cf AS DOUBLE) + 20.0)) * 1000000.0) AS BIGINT)
    AS te_micro
FROM b
JOIN cf ON cf.event_type = b.event_type AND cf.f = b.f
JOIN ct ON ct.event_type = b.event_type
CROSS JOIN g
ORDER BY event_id
"""

ANALYTICS_QUERIES["target_encoded_events"] = (
    q_target_encoded_events,
    SQL_TARGET_ENCODED_EVENTS,
)


def q_cusum_changepoints(spark: SparkSession, sf: str) -> DataFrame:
    """Most-likely mean-shift day per event type by exact-integer
    CUSUM over the daily count series (operators/profile.py:
    cusum_changepoint): S_t = n*cum_t - t*total, argmax |S|, earliest
    day on ties — no floats anywhere, so the result is identical
    bytes on any engine. Windows run over the days-sized series."""
    from gcp_data_pipeline_fyp_spark.operators.profile import (
        cusum_changepoint,
    )

    daily = (
        load(spark, sf, "events")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out = cusum_changepoint(daily, "day", "n", ["event_type"])
    return out.select(
        "event_type",
        F.date_format("change_at", "yyyy-MM-dd").alias("change_day"),
        "cusum_scaled",
        "n_points",
    ).orderBy("event_type")


SQL_CUSUM_CHANGEPOINTS = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS x
  FROM events GROUP BY 1, 2),
s AS (
  SELECT event_type, day,
    count(*) OVER (PARTITION BY event_type)
      * sum(x) OVER (PARTITION BY event_type ORDER BY day
                     ROWS UNBOUNDED PRECEDING)
    - row_number() OVER (PARTITION BY event_type ORDER BY day)
      * sum(x) OVER (PARTITION BY event_type) AS sc,
    count(*) OVER (PARTITION BY event_type) AS n_points
  FROM daily),
r AS (
  SELECT event_type, day, abs(sc) AS a, n_points,
    row_number() OVER (PARTITION BY event_type
                       ORDER BY abs(sc) DESC, day) AS rk
  FROM s)
SELECT event_type,
  strftime(day, '%Y-%m-%d') AS change_day,
  CAST(a AS BIGINT) AS cusum_scaled,
  CAST(n_points AS BIGINT) AS n_points
FROM r WHERE rk = 1 ORDER BY event_type
"""

ANALYTICS_QUERIES["cusum_changepoints"] = (
    q_cusum_changepoints,
    SQL_CUSUM_CHANGEPOINTS,
)


def q_interpolated_daily(spark: SparkSession, sf: str) -> DataFrame:
    """Linear gap interpolation (operators/profile.py:
    interpolate_linear) over the daily event-count series per type,
    with every 5th day NULLed as a planted gap — each missing point
    takes the straight line between its bracketing known days, edge
    gaps take the single known side. One pinned float chain,
    micro6-rounded once; windows over the days-sized series."""
    from gcp_data_pipeline_fyp_spark.operators.profile import (
        interpolate_linear,
    )

    daily = (
        load(spark, sf, "events")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn(
            "di",
            F.datediff(F.col("day"), F.lit("1970-01-01").cast("date")),
        )
        .withColumn(
            "v",
            F.when(F.col("di") % 5 != 0, F.col("n").cast("double")),
        )
    )
    out = interpolate_linear(daily, ["event_type"], "di", "v")
    return out.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "v_interp_micro",
    ).orderBy("event_type", "day")


SQL_INTERPOLATED_DAILY = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
  FROM events GROUP BY 1, 2),
s AS (
  SELECT event_type, day, (day - DATE '1970-01-01') AS di,
    CASE WHEN (day - DATE '1970-01-01') % 5 != 0
         THEN CAST(n AS DOUBLE) END AS v
  FROM daily),
w AS (
  SELECT event_type, day, v, CAST(di AS DOUBLE) AS t,
    last_value(v IGNORE NULLS) OVER (
      PARTITION BY event_type ORDER BY di
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS va,
    last_value(CASE WHEN v IS NOT NULL THEN CAST(di AS DOUBLE) END
               IGNORE NULLS) OVER (
      PARTITION BY event_type ORDER BY di
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ta,
    first_value(v IGNORE NULLS) OVER (
      PARTITION BY event_type ORDER BY di
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS vb,
    first_value(CASE WHEN v IS NOT NULL THEN CAST(di AS DOUBLE) END
                IGNORE NULLS) OVER (
      PARTITION BY event_type ORDER BY di
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS tb
  FROM s)
SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
  CAST(round((CASE WHEN v IS NOT NULL THEN v
    WHEN va IS NULL THEN vb
    WHEN vb IS NULL THEN va
    ELSE va + (vb - va)
         * coalesce((t - ta) / nullif(tb - ta, 0.0), 0.0) END)
    * 1000000.0) AS BIGINT) AS v_interp_micro
FROM w ORDER BY event_type, day
"""

ANALYTICS_QUERIES["interpolated_daily"] = (
    q_interpolated_daily,
    SQL_INTERPOLATED_DAILY,
)


def q_seasonal_anomaly_days(spark: SparkSession, sf: str) -> DataFrame:
    """Days whose seasonal-decomposition remainder is a robust
    (median/MAD) outlier — the composition of the r7 decompose frame
    with the mad_outliers discipline: seasonality and trend explained
    away first, so a weekday-shaped spike doesn't mask a genuine
    anomaly. All inputs integer micro-units; one float chain for the
    modified z, micro6-rounded; emits the 5 most anomalous days by
    |z| (deterministic day tie-break) so the ranking itself is
    value-certified at every scale."""
    dec = q_seasonal_decompose_daily(spark, sf)
    med = dec.agg(
        F.expr("percentile(remainder_micro, 0.5)").alias("med")
    )
    dev = dec.crossJoin(F.broadcast(med)).withColumn(
        "ad", F.abs(F.col("remainder_micro") - F.col("med"))
    )
    mad = dev.agg(F.expr("percentile(ad, 0.5)").alias("mad"))
    scored = dev.crossJoin(F.broadcast(mad)).select(
        "day",
        "remainder_micro",
        micro6(
            F.try_divide(
                (F.col("remainder_micro") - F.col("med")),
                F.lit(1.4826) * F.col("mad"),
            )
        ).alias("robust_z_micro"),
    )
    return (
        scored.orderBy(
            F.abs(F.col("robust_z_micro")).desc(), F.col("day")
        )
        .limit(5)
        .orderBy("day")
    )


SQL_SEASONAL_ANOMALY_DAYS = f"""
WITH dec AS (SELECT * FROM ({SQL_SEASONAL_DECOMPOSE_DAILY}) d),
med AS (SELECT quantile_cont(remainder_micro, 0.5) AS med FROM dec),
dev AS (
  SELECT day, remainder_micro, med,
         abs(remainder_micro - med) AS ad
  FROM dec CROSS JOIN med),
mad AS (SELECT quantile_cont(ad, 0.5) AS mad FROM dev),
scored AS (
  SELECT day, remainder_micro,
    CAST(round(((remainder_micro - med) / (1.4826 * mad)) * 1000000.0)
      AS BIGINT) AS robust_z_micro
  FROM dev CROSS JOIN mad)
SELECT day, remainder_micro, robust_z_micro FROM (
  SELECT * FROM scored
  ORDER BY abs(robust_z_micro) DESC, day LIMIT 5) t
ORDER BY day
"""

ANALYTICS_QUERIES["seasonal_anomaly_days"] = (
    q_seasonal_anomaly_days,
    SQL_SEASONAL_ANOMALY_DAYS,
)


def q_nation_spend_gini(spark: SparkSession, sf: str) -> DataFrame:
    """Revenue-concentration Gini per nation (operators/profile.py:
    gini_coefficient) over customer order spend — the inequality
    readout behind per-source corpus caps. Exact rank formula with
    decimal sums; customers without orders are out of scope (spend
    mass, not census). Window ranks run over the customers frame,
    never order lines."""
    from gcp_data_pipeline_fyp_spark.operators.profile import (
        gini_coefficient,
    )

    orders = load(spark, sf, "orders")
    cust = load(spark, sf, "customer").select("c_custkey", "c_nationkey")
    spend = orders.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("spend")
    )
    j = spend.join(F.broadcast(cust), "c_custkey").select(
        "c_nationkey", "c_custkey", "spend"
    )
    return gini_coefficient(j, "spend", ["c_nationkey"]).orderBy(
        "c_nationkey"
    )


SQL_NATION_SPEND_GINI = """
WITH spend AS (
  SELECT o_custkey AS c_custkey,
         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
  FROM orders GROUP BY 1),
j AS (
  SELECT c_nationkey, s.c_custkey,
         CAST(spend AS DECIMAL(18,4)) AS x
  FROM spend s JOIN customer c ON c.c_custkey = s.c_custkey),
r AS (
  SELECT c_nationkey, x,
    row_number() OVER (PARTITION BY c_nationkey
                       ORDER BY x, c_custkey) AS i
  FROM j),
a AS (
  SELECT c_nationkey, count(*) AS n,
    CAST(sum(x) AS DOUBLE) AS s0,
    CAST(sum(CAST(i * x AS DECIMAL(38,4))) AS DOUBLE) AS s1
  FROM r GROUP BY 1)
SELECT c_nationkey, CAST(n AS BIGINT) AS n,
  CAST(round((2.0 * s1 / (CAST(n AS DOUBLE) * s0)
    - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE)) * 1000000.0)
    AS BIGINT) AS gini_micro
FROM a ORDER BY c_nationkey
"""

ANALYTICS_QUERIES["nation_spend_gini"] = (
    q_nation_spend_gini,
    SQL_NATION_SPEND_GINI,
)


def q_customer_spend_gini_global(spark: SparkSession, sf: str) -> DataFrame:
    """UNGROUPED (whole-corpus) spend Gini — exercises the
    distributed global-rank path (operators/profile.py:
    _gini_ungrouped): tie-collapse to distinct spend values, range
    buckets from the exact min/max, two-level prefix counts — the
    rank never sorts all value holders in one partition (the grouped
    path's window would). The oracle ranks globally with row_number;
    tied runs share mass so any consistent tie order yields the same
    G, making the two formulations byte-comparable."""
    from gcp_data_pipeline_fyp_spark.operators.profile import (
        gini_coefficient,
    )

    orders = load(spark, sf, "orders")
    spend = orders.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("spend")
    )
    return gini_coefficient(spend, "spend")


SQL_CUSTOMER_SPEND_GINI_GLOBAL = """
WITH spend AS (
  SELECT o_custkey AS c_custkey,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
              AS DECIMAL(18,4)) AS x
  FROM orders GROUP BY 1),
r AS (
  SELECT x, row_number() OVER (ORDER BY x, c_custkey) AS i FROM spend),
a AS (
  SELECT count(*) AS n,
    CAST(sum(x) AS DOUBLE) AS s0,
    CAST(sum(CAST(i * x AS DECIMAL(38,4))) AS DOUBLE) AS s1
  FROM r)
SELECT CAST(n AS BIGINT) AS n,
  CAST(round((2.0 * s1 / (CAST(n AS DOUBLE) * s0)
    - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE)) * 1000000.0)
    AS BIGINT) AS gini_micro
FROM a
"""

ANALYTICS_QUERIES["customer_spend_gini_global"] = (
    q_customer_spend_gini_global,
    SQL_CUSTOMER_SPEND_GINI_GLOBAL,
)


def q_ks_binned_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Binned KS over the WHOLE value stream, ungrouped — the
    bounded-state drift check for exactly the single-giant-group shape
    ks_report documents away (operators/profile.py:ks_binned_report):
    ECDFs compared at 100 fixed-width bin boundaries over the base
    range, shuffle state 100 counters regardless of value
    cardinality. The underestimate bound is the largest single-bin
    mass; the oracle replays bins, cumulative counts, and the
    exact-integer gap max bit-for-bit."""
    from gcp_data_pipeline_fyp_spark.operators.profile import (
        ks_binned_report,
    )

    ev = load(spark, sf, "events")
    return ks_binned_report(
        ev.filter(F.dayofmonth("ts") <= 15),
        ev.filter(F.dayofmonth("ts") > 15),
        "value",
        [],
        n_bins=100,
    )


SQL_KS_BINNED_DRIFT = """
WITH base AS (
  SELECT value FROM events WHERE value IS NOT NULL AND day(ts) <= 15),
cur AS (
  SELECT value FROM events WHERE value IS NOT NULL AND day(ts) > 15),
rng AS (
  SELECT CAST(min(value) AS DOUBLE) AS lo,
         CAST(max(value) AS DOUBLE) AS hi
  FROM base),
bb AS (
  SELECT CASE WHEN hi > lo
      THEN CAST(least(greatest(
             floor((value - lo) / (hi - lo) * 100.0), 0.0), 99.0) AS BIGINT)
      ELSE 0 END AS bin, count(*) AS b
  FROM base CROSS JOIN rng GROUP BY 1),
cc AS (
  SELECT CASE WHEN hi > lo
      THEN CAST(least(greatest(
             floor((value - lo) / (hi - lo) * 100.0), 0.0), 99.0) AS BIGINT)
      ELSE 0 END AS bin, count(*) AS c
  FROM cur CROSS JOIN rng GROUP BY 1),
pooled AS (
  SELECT coalesce(bb.bin, cc.bin) AS bin,
         coalesce(b, 0) AS b, coalesce(c, 0) AS c
  FROM bb FULL JOIN cc ON bb.bin = cc.bin),
cum AS (
  SELECT sum(b) OVER (ORDER BY bin) AS cb,
         sum(c) OVER (ORDER BY bin) AS cc
  FROM pooled),
tot AS (SELECT max(cb) AS nb, max(cc) AS nc FROM cum),
gaps AS (
  SELECT abs(cb * nc - cc * nb) AS num FROM cum CROSS JOIN tot)
SELECT CAST(nb AS BIGINT) AS n_base, CAST(nc AS BIGINT) AS n_cur,
  CAST(round((CAST(max(num) AS DOUBLE)
    / (CAST(nb AS DOUBLE) * CAST(nc AS DOUBLE))) * 1000000.0) AS BIGINT)
    AS ks_micro
FROM gaps CROSS JOIN tot
GROUP BY nb, nc
"""

ANALYTICS_QUERIES["ks_binned_drift"] = (
    q_ks_binned_drift,
    SQL_KS_BINNED_DRIFT,
)


def q_bloom_semi_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """Bloom-pruned semi join: revenue per returnflag over lineitems
    whose part is in the selective p_size<=5 slice, via
    operators/bloomfilter.bloom_semi_join — the runtime-filter shape
    for build sides too big to broadcast as a hash table but small as
    BITS. The bloom prune is a map-side scan against a broadcast
    bitmap; only bloom-positive rows (matches + ~fpp FPs) reach the
    exact semi join's shuffle, and the final result is row-for-row the
    plain semi join (zero false negatives), which is exactly what the
    oracle's IN-subquery computes. Fixed (m_bits, k) keeps the plan
    hint-free and identical at every SF."""
    from gcp_data_pipeline_fyp_spark.operators.bloomfilter import bloom_semi_join

    li = load(spark, sf, "lineitem")
    pt = load(spark, sf, "part").filter(F.col("p_size") <= 5)
    pruned = bloom_semi_join(
        li, pt, "l_partkey", "p_partkey", m_bits=262_144, k=7
    )
    return pruned.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue"),
    )


SQL_BLOOM_SEMI_REVENUE = """
SELECT l_returnflag,
       count(*) AS n_items,
       cast(sum(cast(l_extendedprice as decimal(18,2))) as double) AS revenue
FROM lineitem
WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size <= 5)
GROUP BY l_returnflag
"""

ANALYTICS_QUERIES["bloom_semi_revenue"] = (
    q_bloom_semi_revenue,
    SQL_BLOOM_SEMI_REVENUE,
)


def q_bloom_anti_customers(spark: SparkSession, sf: str) -> DataFrame:
    """Bloom-accelerated anti join: customers with NO order in the
    1995-Jan/Feb window (operators/bloomfilter.bloom_anti_join).
    Bloom-negative customers are definitely-absent and bypass the
    exact join entirely — for a selective build side that is ~all of
    the probe, so the anti join's shuffle sees only the bloom-positive
    slice. Output equals the plain left_anti join / NOT EXISTS."""
    from gcp_data_pipeline_fyp_spark.operators.bloomfilter import bloom_anti_join

    cust = load(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    early = load(spark, sf, "orders").filter(
        (F.year("o_orderdate") == 1995) & (F.month("o_orderdate") <= 2)
    )
    return bloom_anti_join(
        cust, early, "c_custkey", "o_custkey", m_bits=262_144, k=7
    )


SQL_BLOOM_ANTI_CUSTOMERS = """
SELECT c_custkey, c_mktsegment
FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey
    AND year(o.o_orderdate) = 1995 AND month(o.o_orderdate) <= 2)
"""

ANALYTICS_QUERIES["bloom_anti_customers"] = (
    q_bloom_anti_customers,
    SQL_BLOOM_ANTI_CUSTOMERS,
)


def q_classifier_auc(spark: SparkSession, sf: str) -> DataFrame:
    """Distributed tie-aware ROC-AUC (operators/evalmetrics.py:
    roc_auc): does `value` separate purchase events from the rest?
    No global row sort: distinct-score collapse + the two-level
    range-bucket prefix count (the Gini discipline), exact integer
    rank-sum until the single final division. The oracle replays the
    identity 2*avg_rank = 2*rank() + tiecount - 1 with window
    functions — integer domain on both sides, so the micro emission
    is engine-exact."""
    from gcp_data_pipeline_fyp_spark.operators.evalmetrics import roc_auc

    ev = load(spark, sf, "events")
    labeled = ev.withColumn("__y", F.col("event_type") == "purchase")
    return roc_auc(labeled, "value", "__y")


SQL_CLASSIFIER_AUC = """
WITH b AS (
  SELECT CAST(value AS DOUBLE) AS v, (event_type = 'purchase') AS y
  FROM events
  WHERE value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))
    AND event_type IS NOT NULL),
r AS (
  SELECT y, rank() OVER (ORDER BY v) AS rk,
         count(*) OVER (PARTITION BY v) AS c
  FROM b),
s AS (
  SELECT sum(CASE WHEN y THEN 2 * (rk - 1) + c + 1 ELSE 0 END) AS two_sp,
         sum(CASE WHEN y THEN 1 ELSE 0 END) AS p,
         count(*) AS n
  FROM r)
SELECT CAST(p AS BIGINT) AS n_pos,
       CAST(n - p AS BIGINT) AS n_neg,
       CASE WHEN p > 0 AND n - p > 0 THEN
         CAST(round(((CAST(two_sp AS DOUBLE) - CAST(p AS DOUBLE) * (CAST(p AS DOUBLE) + 1.0))
           / (2.0 * CAST(p AS DOUBLE) * CAST(n - p AS DOUBLE))) * 1000000.0) AS BIGINT)
       END AS auc_micro
FROM s
"""

ANALYTICS_QUERIES["classifier_auc"] = (q_classifier_auc, SQL_CLASSIFIER_AUC)


def q_classifier_calibration(spark: SparkSession, sf: str) -> DataFrame:
    """Reliability-diagram table (operators/evalmetrics.py:
    calibration_report) over a synthetic calibrated scorer: score =
    (event_id % 100)/100, label = (user_id % 100) < (event_id % 100)
    — P(label | score s) ~ s by construction, so the per-bin gaps are
    small but non-zero (integer-lattice construction, exact in both
    engines). 10 fixed-width bins, decimal-exact means, micro6
    emissions."""
    from gcp_data_pipeline_fyp_spark.operators.evalmetrics import (
        calibration_report,
    )

    ev = load(spark, sf, "events")
    scored = ev.select(
        ((F.col("event_id") % 100) / 100.0).alias("score"),
        ((F.col("user_id") % 100) < (F.col("event_id") % 100)).alias("y"),
    )
    return calibration_report(scored, "score", "y", n_bins=10)


SQL_CLASSIFIER_CALIBRATION = """
WITH b AS (
  SELECT (event_id % 100) / 100.0 AS v,
         ((user_id % 100) < (event_id % 100)) AS y
  FROM events WHERE user_id IS NOT NULL AND event_id IS NOT NULL),
g AS (
  SELECT CAST(least(9, greatest(0, floor((v - 0.0) / 1.0 * 10))) AS INT) AS bin,
         count(*) AS n,
         CAST(sum(CAST(v AS DECIMAL(18,6))) AS DOUBLE) AS sv,
         sum(CASE WHEN y THEN 1 ELSE 0 END) AS np
  FROM b GROUP BY 1)
SELECT bin, CAST(n AS BIGINT) AS n,
  CAST(round((sv / CAST(n AS DOUBLE)) * 1000000.0) AS BIGINT) AS mean_score_micro,
  CAST(round((CAST(np AS DOUBLE) / CAST(n AS DOUBLE)) * 1000000.0) AS BIGINT) AS pos_rate_micro,
  CAST(round(abs(sv / CAST(n AS DOUBLE) - CAST(np AS DOUBLE) / CAST(n AS DOUBLE)) * 1000000.0) AS BIGINT) AS gap_micro
FROM g
"""

ANALYTICS_QUERIES["classifier_calibration"] = (
    q_classifier_calibration,
    SQL_CLASSIFIER_CALIBRATION,
)


def q_threshold_sweep(spark: SparkSession, sf: str) -> DataFrame:
    """Operating-point table (operators/evalmetrics.py:
    threshold_sweep) over the same integer-lattice calibrated scorer
    as classifier_calibration: exact confusion counts and P/R/F1 at 9
    candidate thresholds, ONE scan (conditional sums as plan
    constants, stacked to long form). Counts are exact integers on
    both engines; the divisions are single micro6 emissions."""
    from gcp_data_pipeline_fyp_spark.operators.evalmetrics import (
        threshold_sweep,
    )

    ev = load(spark, sf, "events")
    scored = ev.select(
        ((F.col("event_id") % 100) / 100.0).alias("score"),
        ((F.col("user_id") % 100) < (F.col("event_id") % 100)).alias("y"),
    )
    return threshold_sweep(
        scored, "score", "y", [i / 10.0 for i in range(1, 10)]
    )


SQL_THRESHOLD_SWEEP = """
WITH b AS (
  SELECT (event_id % 100) / 100.0 AS v,
         ((user_id % 100) < (event_id % 100)) AS y
  FROM events WHERE user_id IS NOT NULL AND event_id IS NOT NULL),
t AS (SELECT unnest([1,2,3,4,5,6,7,8,9]) / 10.0 AS th),
c AS (
  SELECT CAST(round(th * 1000000) AS BIGINT) AS threshold_micro,
    CAST(sum(CASE WHEN v >= th AND y THEN 1 ELSE 0 END) AS BIGINT) AS tp,
    CAST(sum(CASE WHEN v >= th AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS fp,
    CAST(sum(CASE WHEN v < th AND y THEN 1 ELSE 0 END) AS BIGINT) AS fn,
    CAST(sum(CASE WHEN v < th AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS tn
  FROM b CROSS JOIN t GROUP BY th)
SELECT threshold_micro, tp, fp, fn, tn,
  CASE WHEN tp + fp > 0 THEN CAST(round((CAST(tp AS DOUBLE) / (tp + fp)) * 1000000.0) AS BIGINT) END AS precision_micro,
  CASE WHEN tp + fn > 0 THEN CAST(round((CAST(tp AS DOUBLE) / (tp + fn)) * 1000000.0) AS BIGINT) END AS recall_micro,
  CASE WHEN tp + fp > 0 AND tp + fn > 0
        AND (CAST(tp AS DOUBLE) / (tp + fp)) + (CAST(tp AS DOUBLE) / (tp + fn)) > 0
    THEN CAST(round((2.0 * (CAST(tp AS DOUBLE) / (tp + fp)) * (CAST(tp AS DOUBLE) / (tp + fn))
      / ((CAST(tp AS DOUBLE) / (tp + fp)) + (CAST(tp AS DOUBLE) / (tp + fn)))) * 1000000.0) AS BIGINT)
  END AS f1_micro
FROM c
"""

ANALYTICS_QUERIES["threshold_sweep"] = (q_threshold_sweep, SQL_THRESHOLD_SWEEP)


def q_rank_blend_scores(spark: SparkSession, sf: str) -> DataFrame:
    """Ensemble quality blending (operators/evalmetrics.py:
    blend_scores): two heterogeneous scorers (the continuous `value`
    and a synthetic integer-lattice scorer) midrank-normalized onto
    the same [0,1] rank axis and combined 1:3 — the multi-classifier
    blend corpus curation applies when no single quality signal is
    trusted alone. Per-row output over the full events table; the
    oracle replays each scorer's midrank CDF with rank()/tie-count
    windows and the exact weighted mean."""
    from gcp_data_pipeline_fyp_spark.operators.evalmetrics import (
        blend_scores,
    )

    ev = load(spark, sf, "events").select(
        "event_id",
        F.col("value").cast("double").alias("v1"),
        (F.col("event_id") % 97).cast("double").alias("v2"),
    )
    out = blend_scores(ev, {"v1": 1_000_000, "v2": 3_000_000})
    return out.select("event_id", "blend_micro")


_SQL_MIDRANK = micro6_sql(
    "CAST(2 * (rk - 1) + c AS DOUBLE) / CAST(2 * n AS DOUBLE)"
)
SQL_RANK_BLEND_SCORES = f"""
WITH e AS (SELECT event_id, CAST(value AS DOUBLE) AS v1,
        CAST(event_id % 97 AS DOUBLE) AS v2 FROM events),
a AS (SELECT event_id, v1 FROM e
      WHERE v1 IS NOT NULL AND NOT isnan(v1)),
ar AS (SELECT event_id, rank() OVER (ORDER BY v1) AS rk,
        count(*) OVER (PARTITION BY v1) AS c,
        count(*) OVER () AS n FROM a),
ap AS (SELECT event_id, {_SQL_MIDRANK} AS p1 FROM ar),
b AS (SELECT event_id, v2 FROM e
      WHERE v2 IS NOT NULL AND NOT isnan(v2)),
br AS (SELECT event_id, rank() OVER (ORDER BY v2) AS rk,
        count(*) OVER (PARTITION BY v2) AS c,
        count(*) OVER () AS n FROM b),
bp AS (SELECT event_id, {_SQL_MIDRANK} AS p2 FROM br)
SELECT e.event_id,
  CAST(CASE WHEN (CASE WHEN p1 IS NOT NULL THEN 1000000 ELSE 0 END
              + CASE WHEN p2 IS NOT NULL THEN 3000000 ELSE 0 END) > 0
    THEN round(CAST(coalesce(1000000 * p1, 0)
                  + coalesce(3000000 * p2, 0) AS DOUBLE)
             / CAST(CASE WHEN p1 IS NOT NULL THEN 1000000 ELSE 0 END
                  + CASE WHEN p2 IS NOT NULL THEN 3000000 ELSE 0 END
               AS DOUBLE))
  END AS BIGINT) AS blend_micro
FROM e LEFT JOIN ap USING (event_id) LEFT JOIN bp USING (event_id)
"""

ANALYTICS_QUERIES["rank_blend_scores"] = (
    q_rank_blend_scores,
    SQL_RANK_BLEND_SCORES,
)


def q_auc_by_slice(spark: SparkSession, sf: str) -> DataFrame:
    """Per-slice AUC (operators/evalmetrics.py:roc_auc_by_group):
    does `value` separate purchases WITHIN each day-of-month slice — the
    per-slice ranking readout the aggregate classifier_auc hides.
    Distinct-(group, score) collapse, per-group prefix window, exact
    integer rank-sum; the oracle replays rank()/tie-count windows
    partitioned by the same slice."""
    from gcp_data_pipeline_fyp_spark.operators.evalmetrics import (
        roc_auc_by_group,
    )

    ev = load(spark, sf, "events")
    # mirror the oracle's row universe exactly: ts NOT NULL (a NULL
    # ts has no slice) — NaN values are dropped by roc_auc_by_group
    # and by the oracle's isnan guard
    labeled = ev.filter(F.col("ts").isNotNull()).select(
        (F.dayofmonth("ts") % 7).alias("m"),
        F.col("value"),
        (F.col("event_type") == "purchase").alias("__y"),
    )
    return roc_auc_by_group(labeled, "value", "__y", ["m"])


SQL_AUC_BY_SLICE = """
WITH b AS (
  SELECT day(ts) % 7 AS m, CAST(value AS DOUBLE) AS v,
         (event_type = 'purchase') AS y
  FROM events
  WHERE value IS NOT NULL AND NOT isnan(value)
    AND event_type IS NOT NULL AND ts IS NOT NULL),
r AS (
  SELECT m, y, rank() OVER (PARTITION BY m ORDER BY v) AS rk,
         count(*) OVER (PARTITION BY m, v) AS c
  FROM b),
s AS (
  SELECT m,
         sum(CASE WHEN y THEN 2 * (rk - 1) + c + 1 ELSE 0 END) AS two_sp,
         sum(CASE WHEN y THEN 1 ELSE 0 END) AS p,
         count(*) AS n
  FROM r GROUP BY m)
SELECT CAST(m AS INT) AS m,
       CAST(p AS BIGINT) AS n_pos,
       CAST(n - p AS BIGINT) AS n_neg,
       CASE WHEN p > 0 AND n - p > 0 THEN
         CAST(round(((CAST(two_sp AS DOUBLE) - CAST(p AS DOUBLE) * (CAST(p AS DOUBLE) + 1.0))
           / (2.0 * CAST(p AS DOUBLE) * CAST(n - p AS DOUBLE))) * 1000000.0) AS BIGINT)
       END AS auc_micro
FROM s
"""

ANALYTICS_QUERIES["auc_by_slice"] = (q_auc_by_slice, SQL_AUC_BY_SLICE)
