"""Probes for the streaming aggregation surface and multimodal plumbing."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gcp_data_pipeline_fyp_spark.multimodal.binary_ops import (
    byte_features,
    with_media_column,
)
from gcp_data_pipeline_fyp_spark.queries_util import (
    load,
    micro6,
    micro6_sql,
    roundn,
    scratch_dir,
)
from gcp_data_pipeline_fyp_spark.streaming.ingest import windowed_event_counts


def q_windowed_counts(spark: SparkSession, sf: str) -> DataFrame:
    """The streaming measure evaluated in batch mode (same function body
    runs under readStream with a watermark — see streaming/ingest.py and
    tests/test_streaming.py)."""
    ev = load(spark, sf, "events")
    return windowed_event_counts(ev, window="1 hour")


SQL_WINDOWED_COUNTS = """
SELECT date_trunc('hour', ts) AS window_start,
       date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
       event_type AS lb_type,
       count(*) AS total_events
FROM events
GROUP BY 1, 2, 3
"""


def q_multimodal_byte_features(spark: SparkSession, sf: str) -> DataFrame:
    """Binary media column -> Arrow-batched mapInPandas feature extraction."""
    d = load(spark, sf, "documents", spread=True)
    media = with_media_column(d, "text", "doc_id")
    return byte_features(media)


SQL_MULTIMODAL_BYTE_FEATURES = """
SELECT doc_id AS media_id,
  octet_length(encode(text)) AS n_bytes,
  cast(length(text) - length(replace(text, ' ', '')) AS bigint) AS n_space_bytes,
  md5(text) AS content_md5
FROM documents
"""


MISC_QUERIES: dict[str, tuple] = {
    "windowed_counts": (q_windowed_counts, SQL_WINDOWED_COUNTS),
    "multimodal_byte_features": (q_multimodal_byte_features, SQL_MULTIMODAL_BYTE_FEATURES),
}


# ---------------------------------------------------------------- measures
def _analog_star(spark: SparkSession, sf: str) -> DataFrame:
    """A star view with the DW column names so the REAL measure layer
    (plans/measures.py Q1-Q12) runs unmodified over the events analog:
    LB_type=event_type, VL_n_mag=value/20, VL_n_depth=value,
    _DT_insertion_date=ts."""
    from pyspark.sql import functions as F

    ev = load(spark, sf, "events")
    return ev.select(
        F.col("event_id").alias("ID_Event"),
        F.col("event_type").alias("LB_type"),
        (F.col("value") / 20.0).alias("VL_n_mag"),
        F.col("value").alias("VL_n_depth"),
        F.col("ts").alias("_DT_insertion_date"),
    )


def q_dax_q1_latest_update(spark: SparkSession, sf: str) -> DataFrame:
    from gcp_data_pipeline_fyp_spark.plans import measures

    return measures.latest_daily_update(_analog_star(spark, sf))


def q_dax_q2_avg_mag(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import functions as F

    from gcp_data_pipeline_fyp_spark.plans import measures

    out = measures.avg_earthquake_magnitude(
        _analog_star(spark, sf).withColumn(
            "LB_type",
            F.when(F.col("LB_type") == "click", "earthquake").otherwise(
                F.col("LB_type")
            ),
        )
    )
    # deterministic float: round the streamed double avg
    return out.select(roundn("avg_earthquake_magnitude", 6).alias("avg_earthquake_magnitude"))


def q_dax_q3_max_depth(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import functions as F

    from gcp_data_pipeline_fyp_spark.plans import measures

    star = _analog_star(spark, sf).withColumn(
        "LB_type",
        F.when(F.col("LB_type") == "click", "earthquake").otherwise(F.col("LB_type")),
    )
    return measures.max_earthquake_depth(star)


def q_dax_q4_max_mag(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import functions as F

    from gcp_data_pipeline_fyp_spark.plans import measures

    star = _analog_star(spark, sf).withColumn(
        "LB_type",
        F.when(F.col("LB_type") == "click", "earthquake").otherwise(F.col("LB_type")),
    )
    out = measures.max_earthquake_magnitude(star)
    # MAX is order-independent; round only for float canonicalization parity
    return out.select(roundn("max_earthquake_magnitude", 6).alias("max_earthquake_magnitude"))


def q_dax_q5_11_totals(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import functions as F

    from gcp_data_pipeline_fyp_spark.plans import measures

    star = _analog_star(spark, sf).withColumn(
        "LB_type",
        F.when(F.col("LB_type") == "click", "earthquake")
        .when(F.col("LB_type") == "purchase", "explosion")
        .when(F.col("LB_type") == "error", "ice quake")
        .when(F.col("LB_type") == "view", "quarry blast")
        .otherwise("sonic boom"),
    )
    return measures.totals_by_type(star)


def q_dax_q12_total(spark: SparkSession, sf: str) -> DataFrame:
    from gcp_data_pipeline_fyp_spark.plans import measures

    return measures.total_seismic_events(_analog_star(spark, sf))


SQL_DAX_Q1 = "SELECT max(ts) AS latest_daily_update FROM events"
SQL_DAX_Q2 = """
SELECT ((round((avg(value / 20.0)) * 1000000.0) / 1000000.0) + 0.0) AS avg_earthquake_magnitude
FROM events WHERE (CASE WHEN event_type = 'click' THEN 'earthquake'
                   ELSE event_type END) = 'earthquake'
"""
SQL_DAX_Q3 = """
SELECT max(value) AS max_earthquake_depth
FROM events WHERE (CASE WHEN event_type = 'click' THEN 'earthquake'
                   ELSE event_type END) = 'earthquake'
"""
SQL_DAX_Q4 = """
SELECT ((round((max(value / 20.0)) * 1000000.0) / 1000000.0) + 0.0) AS max_earthquake_magnitude
FROM events WHERE (CASE WHEN event_type = 'click' THEN 'earthquake'
                   ELSE event_type END) = 'earthquake'
"""
SQL_DAX_Q5_11 = """
SELECT t AS lb_type, count(*) AS total_events FROM (
  SELECT CASE WHEN event_type = 'click' THEN 'earthquake'
              WHEN event_type = 'purchase' THEN 'explosion'
              WHEN event_type = 'error' THEN 'ice quake'
              WHEN event_type = 'view' THEN 'quarry blast'
              ELSE 'sonic boom' END AS t
  FROM events)
WHERE t IN ('earthquake','explosion','ice quake','landslide','quarry blast',
            'sonic boom','volcanic eruption')
GROUP BY t
"""
SQL_DAX_Q12 = "SELECT count(*) AS total_seismic_events FROM events"


# ---------------------------------------------------------------- JSON
def q_json_extract(spark: SparkSession, sf: str) -> DataFrame:
    """JSON scalar extraction from the props column (get_json_object)."""
    from pyspark.sql import functions as F

    ev = load(spark, sf, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").try_cast("long").alias("k_value"),
    )


SQL_JSON_EXTRACT = """
SELECT event_id, try_cast(json_extract_string(props, '$.k') AS bigint) AS k_value
FROM events
"""


MISC_QUERIES.update(
    {
        "dax_q1_latest_update": (q_dax_q1_latest_update, SQL_DAX_Q1),
        "dax_q2_avg_mag": (q_dax_q2_avg_mag, SQL_DAX_Q2),
        "dax_q3_max_depth": (q_dax_q3_max_depth, SQL_DAX_Q3),
        "dax_q4_max_mag": (q_dax_q4_max_mag, SQL_DAX_Q4),
        "dax_q5_11_totals": (q_dax_q5_11_totals, SQL_DAX_Q5_11),
        "dax_q12_total": (q_dax_q12_total, SQL_DAX_Q12),
        "json_extract": (q_json_extract, SQL_JSON_EXTRACT),
    }
)


# ---------------------------------------------------------------- as-of join
def q_asof_last_click(spark: SparkSession, sf: str) -> DataFrame:
    """For each purchase, the user's most recent click at-or-before it."""
    from pyspark.sql import functions as F

    from gcp_data_pipeline_fyp_spark.operators.asof import asof_join

    ev = load(spark, sf, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    out = asof_join(
        purchases, clicks, on=["user_id"], ts_col="ts",
        value_cols=["click_id"], tie_col="click_id_asof",
    )
    return out.select("event_id", "user_id", F.col("click_id_asof").alias("last_click_id"))


SQL_ASOF_LAST_CLICK = """
SELECT p.event_id, p.user_id,
  (SELECT c.event_id FROM events c
   WHERE c.user_id = p.user_id AND c.event_type = 'click' AND c.ts <= p.ts
   ORDER BY c.ts DESC, c.event_id DESC LIMIT 1) AS last_click_id
FROM events p WHERE p.event_type = 'purchase'
"""


# ---------------------------------------------------------------- range join
def q_range_join_shipments(spark: SparkSession, sf: str) -> DataFrame:
    """Point-in-interval: sampled shipdates inside sampled order-week windows."""
    from pyspark.sql import functions as F

    from gcp_data_pipeline_fyp_spark.operators.asof import range_join_points

    week = 7 * 86400
    li = load(spark, sf, "lineitem").filter(F.col("l_orderkey") % 211 == 0)
    points = li.select(
        "l_orderkey", "l_linenumber",
        F.unix_timestamp("l_shipdate").cast("double").alias("p"),
    )
    orders = load(spark, sf, "orders").filter(F.col("o_orderkey") % 199 == 0)
    intervals = orders.select(
        F.col("o_orderkey").alias("win_orderkey"),
        F.unix_timestamp("o_orderdate").cast("double").alias("start"),
        (F.unix_timestamp("o_orderdate") + week).cast("double").alias("end"),
    )
    out = range_join_points(points, intervals, "p", "start", "end", bucket_width=week)
    return out.select("l_orderkey", "l_linenumber", "win_orderkey")


SQL_RANGE_JOIN_SHIPMENTS = """
SELECT l_orderkey, l_linenumber, o_orderkey AS win_orderkey
FROM (SELECT l_orderkey, l_linenumber, epoch(l_shipdate) AS p
      FROM lineitem WHERE l_orderkey % 211 = 0) pts
JOIN (SELECT o_orderkey, epoch(o_orderdate) AS s,
             epoch(o_orderdate) + 7*86400 AS e
      FROM orders WHERE o_orderkey % 199 = 0) win
  ON pts.p >= win.s AND pts.p < win.e
"""


MISC_QUERIES.update(
    {
        "asof_last_click": (q_asof_last_click, SQL_ASOF_LAST_CLICK),
        "range_join_shipments": (q_range_join_shipments, SQL_RANGE_JOIN_SHIPMENTS),
    }
)


# ---------------------------------------------------------------- SQL API
def q_sql_interface(spark: SparkSession, sf: str) -> DataFrame:
    """The engine's SQL entry point: temp view + spark.sql text (the same
    Catalyst plan as the DataFrame API — proven by the shared oracle)."""
    load(spark, sf, "events").createOrReplaceTempView("events_v")
    load(spark, sf, "orders").createOrReplaceTempView("orders_v")
    return spark.sql(
        """
        SELECT e.event_type AS lb_type,
               count(*) AS total_events,
               count(DISTINCT e.user_id) AS n_users
        FROM events_v e
        WHERE e.value > 50
        GROUP BY e.event_type
        """
    )


SQL_SQL_INTERFACE = """
SELECT event_type AS lb_type, count(*) AS total_events,
       count(DISTINCT user_id) AS n_users
FROM events WHERE value > 50
GROUP BY event_type
"""


MISC_QUERIES["sql_interface"] = (q_sql_interface, SQL_SQL_INTERFACE)


# -------------------------------------- data-quality profiling + anomalies
def q_numeric_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Table profile (nulls, cardinality, moments, range) for two numeric
    columns in ONE scan + ONE reduce (operators/profile.py) — never a
    job per column."""
    from gcp_data_pipeline_fyp_spark.operators.profile import profile_numeric

    ev = load(spark, sf, "events")
    return profile_numeric(ev, ["value", "user_id"])


def _profile_sql(col: str) -> str:
    return f"""
SELECT '{col}' AS col_name, count(*) AS n_rows, count({col}) AS n_nonnull,
  count(DISTINCT {col}) AS n_distinct, ((round((avg({col})) * 1000000.0) / 1000000.0) + 0.0) AS mean,
  ((round((stddev_samp({col})) * 1000000.0) / 1000000.0) + 0.0) AS std,
  ((round((cast(min({col}) AS double)) * 1000000.0) / 1000000.0) + 0.0) AS min,
  ((round((cast(max({col}) AS double)) * 1000000.0) / 1000000.0) + 0.0) AS max
FROM events"""


SQL_NUMERIC_PROFILE = (
    _profile_sql("value") + "\nUNION ALL" + _profile_sql("user_id")
)


def q_outlier_events(spark: SparkSession, sf: str) -> DataFrame:
    """Per-type z-score anomaly gate: events whose value exceeds
    mean + 2*std of their own event_type (stats shuffle is |keys|-sized,
    broadcast back)."""
    from pyspark.sql import functions as F

    from gcp_data_pipeline_fyp_spark.operators.profile import zscore_outliers

    ev = load(spark, sf, "events")
    out = zscore_outliers(ev, ["event_type"], "value", z=2.0)
    return out.select(
        "event_id", "event_type", roundn("value", 6).alias("value")
    )


SQL_OUTLIER_EVENTS = """
WITH s AS (SELECT event_type, avg(value) AS m, stddev_samp(value) AS sd
           FROM events GROUP BY event_type)
SELECT e.event_id, e.event_type, ((round((e.value) * 1000000.0) / 1000000.0) + 0.0) AS value
FROM events e JOIN s USING (event_type)
WHERE e.value > ((round((m + 2.0 * sd) * 1000000.0) / 1000000.0) + 0.0)
"""


MISC_QUERIES.update(
    {
        "numeric_profile": (q_numeric_profile, SQL_NUMERIC_PROFILE),
        "outlier_events": (q_outlier_events, SQL_OUTLIER_EVENTS),
    }
)


# -------------------------------------------------- interval attribution
def q_interval_attribution(spark: SparkSession, sf: str) -> DataFrame:
    """Every (click -> purchase-within-30min) pair per user — the batch
    mode of the dual-mode stream-stream interval join
    (streaming/joins.py); the streaming mode of the SAME body is
    equivalence-tested in tests/test_streaming.py."""
    from pyspark.sql import functions as F

    from gcp_data_pipeline_fyp_spark.streaming.joins import interval_join

    ev = load(spark, sf, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    out = interval_join(
        clicks, purchases, ["user_id"], "ts", "ts", max_delay_secs=1800
    )
    return out.select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("r_event_id").alias("purchase_id"),
    )


SQL_INTERVAL_ATTRIBUTION = """
SELECT c.event_id AS click_id, c.user_id, p.event_id AS purchase_id
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 1800 SECONDS
"""

MISC_QUERIES["interval_attribution"] = (q_interval_attribution, SQL_INTERVAL_ATTRIBUTION)


# ------------------------------------------------ exact heavy hitters
def q_heavy_hitter_tokens(spark: SparkSession, sf: str) -> DataFrame:
    """Tokens above 0.5% corpus frequency — sketch pass proposes a
    bounded candidate set, exact verify pass counts only candidates
    (operators/frequent.py); output is exact, so it oracle-checks
    against plain GROUP BY ... HAVING."""
    from pyspark.sql import functions as F

    from gcp_data_pipeline_fyp_spark.functions.text import tokens
    from gcp_data_pipeline_fyp_spark.operators.frequent import heavy_hitters

    d = load(spark, sf, "documents", spread=True)
    toks = d.select(F.explode(tokens("text")).alias("tok"))
    return heavy_hitters(toks, "tok", min_fraction=0.005)


SQL_HEAVY_HITTER_TOKENS = r"""
WITH e AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
           FROM documents),
tot AS (SELECT count(*) AS n FROM e)
SELECT tok AS item, count(*) AS cnt FROM e, tot
GROUP BY tok, tot.n
HAVING count(*) > cast(floor(0.005 * tot.n) AS bigint)
"""

MISC_QUERIES["heavy_hitter_tokens"] = (q_heavy_hitter_tokens, SQL_HEAVY_HITTER_TOKENS)


# ---------------------------------------------------- CDC snapshot
def q_cdc_snapshot(spark: SparkSession, sf: str) -> DataFrame:
    """Last-writer-wins compaction of a synthetic I/U/D change log over
    orders (operators/frequent.py:cdc_snapshot): updates win over the
    insert, a later delete removes the key entirely."""
    from pyspark.sql import functions as F

    from gcp_data_pipeline_fyp_spark.operators.frequent import cdc_snapshot

    o = load(spark, sf, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    ins = o.select(
        "o_orderkey",
        F.col("o_orderdate").alias("ts"),
        F.lit("I").alias("op"),
        F.col("o_totalprice").alias("price"),
    )
    upd = o.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        (F.col("o_orderdate") + F.expr("INTERVAL 1 DAY")).alias("ts"),
        F.lit("U").alias("op"),
        (F.col("o_totalprice") * 2).alias("price"),
    )
    dels = o.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        (F.col("o_orderdate") + F.expr("INTERVAL 2 DAY")).alias("ts"),
        F.lit("D").alias("op"),
        F.lit(None).cast("double").alias("price"),
    )
    log = ins.unionByName(upd).unionByName(dels)
    out = cdc_snapshot(log, ["o_orderkey"], "ts", "op")
    return out.select("o_orderkey", "ts", "op", roundn("price", 2).alias("price"))


SQL_CDC_SNAPSHOT = """
WITH log AS (
  SELECT o_orderkey, o_orderdate AS ts, 'I' AS op, o_totalprice AS price
  FROM orders
  UNION ALL
  SELECT o_orderkey, o_orderdate + INTERVAL 1 DAY, 'U', o_totalprice * 2
  FROM orders WHERE o_orderkey % 3 = 0
  UNION ALL
  SELECT o_orderkey, o_orderdate + INTERVAL 2 DAY, 'D', NULL
  FROM orders WHERE o_orderkey % 7 = 0),
r AS (SELECT *, row_number() OVER (PARTITION BY o_orderkey
        ORDER BY ts DESC, CASE WHEN op = 'D' THEN 0 ELSE 1 END ASC) AS rn
      FROM log)
SELECT o_orderkey, ts, op, ((round((price) * 100.0) / 100.0) + 0.0) AS price
FROM r WHERE rn = 1 AND op <> 'D'
"""

MISC_QUERIES["cdc_snapshot"] = (q_cdc_snapshot, SQL_CDC_SNAPSHOT)


# -------------------------------------- mergeable distinct-count rollup
def q_distinct_users_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """COUNT DISTINCT maintained incrementally: per-type HLL sketch
    states built separately for two halves of events, sketch-UNIONed,
    then estimated (operators/rollup.py). Certified like
    `approx_distinct_users`: emit the exact distinct (SQL-checkable)
    plus a `within_5pct` error-bound verdict on the merged-sketch
    estimate — the oracle asserts TRUE per group, so both a broken
    merge and a drifting estimator hash-fail. Merge==direct equality is
    additionally pytest-asserted."""
    from pyspark.sql import functions as F

    from gcp_data_pipeline_fyp_spark.operators.rollup import (
        finalize_hll_state,
        hll_state,
        merge_hll_states,
    )

    ev = load(spark, sf, "events")
    split = F.col("event_id") % 2 == 0
    s1 = hll_state(ev.filter(split), ["event_type"], ["user_id"])
    s2 = hll_state(ev.filter(~split), ["event_type"], ["user_id"])
    merged = merge_hll_states([s1, s2], ["event_type"])
    est = finalize_hll_state(merged)
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return est.join(exact, "event_type").select(
        "event_type",
        F.col("exact_users").cast("long").alias("exact_users"),
        (
            F.abs(F.col("n_distinct_user_id") - F.col("exact_users"))
            <= 0.05 * F.col("exact_users")
        ).alias("within_5pct"),
    )


SQL_DISTINCT_USERS_ROLLUP = """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS within_5pct
FROM events GROUP BY event_type
"""

MISC_QUERIES["distinct_users_rollup"] = (
    q_distinct_users_rollup,
    SQL_DISTINCT_USERS_ROLLUP,
)


# ------------------------------------------------- skew mitigation ops
def q_salted_agg_events(spark: SparkSession, sf: str) -> DataFrame:
    """Two-phase salted aggregation (operators/skew.py:salted_agg) must
    equal the plain GROUP BY — the oracle IS the plain form, certifying
    output-invariance of the hot-key spreading. Decimal sums so partial
    order can't perturb the hash. Window is r4-queue."""
    from pyspark.sql import functions as F

    from gcp_data_pipeline_fyp_spark.operators.skew import salted_agg

    ev = load(spark, sf, "events").select(
        "event_type",
        "event_id",
        F.col("value").cast("decimal(18,2)").alias("value"),
    )
    out = salted_agg(
        ev, ["event_type"], sum_cols=["value"], salt_from="event_id"
    )
    # emit the exact decimal(.,2) sum as centi-unit BIGINT: decimal
    # keeps the two-phase partial sums order-invariant, int64 keeps the
    # emission hash-safe across engines (queries_util.micro6 rationale)
    return out.select(
        F.col("event_type").alias("lb_type"),
        (F.col("sum_value") * 100).cast("bigint").alias("sum_value_centi"),
        "n_rows",
    ).orderBy("lb_type")


SQL_SALTED_AGG_EVENTS = """
SELECT event_type AS lb_type,
       CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
         AS sum_value_centi,
       count(*) AS n_rows
FROM events GROUP BY 1 ORDER BY 1 NULLS FIRST
"""

MISC_QUERIES["salted_agg_events"] = (q_salted_agg_events, SQL_SALTED_AGG_EVENTS)


def q_salted_join_events(spark: SparkSession, sf: str) -> DataFrame:
    """Salted replicate-join (operators/skew.py:salted_join) must equal
    the plain join; certified through a post-join rollup against the
    plain-SQL rendering. Window is r4-queue."""
    from pyspark.sql import functions as F

    from gcp_data_pipeline_fyp_spark.operators.keys import new_dimension_rows
    from gcp_data_pipeline_fyp_spark.operators.skew import salted_join

    ev = load(spark, sf, "events").select("event_id", "event_type")
    dim = new_dimension_rows(ev, {"type": (["event_type"], "id_type")})["type"]
    joined = salted_join(ev, dim, ["event_type"], salt_from="event_id")
    return (
        joined.groupBy("id_type")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .orderBy("id_type")
    )


SQL_SALTED_JOIN_EVENTS = """
WITH dim AS (
  SELECT event_type,
         row_number() OVER (ORDER BY event_type NULLS FIRST) AS id_type
  FROM (SELECT DISTINCT event_type FROM events) d)
SELECT dim.id_type, count(*) AS n_rows
FROM events e JOIN dim USING (event_type)
GROUP BY 1 ORDER BY 1
"""

MISC_QUERIES["salted_join_events"] = (q_salted_join_events, SQL_SALTED_JOIN_EVENTS)


# ------------------------------------------- ingest-gap monitoring
def q_missing_days(spark: SparkSession, sf: str) -> DataFrame:
    """Calendar days inside the events span with NO events for one of
    the tracked event types — the ops-monitoring anti-join every daily
    feed needs (a silent one-day ingest gap is invisible to totals).
    Scaffold × types is tiny (days × |types|) and broadcasts against
    the observed (day, type) pairs. Window is r4-queue."""
    from pyspark.sql import functions as F

    ev = load(spark, sf, "events")
    # plant a feed outage (clicks silently absent on every 7th-ish
    # day) so the probe certifies nonzero gap rows, not just the shape
    feed = ev.filter(
        ~((F.col("event_type") == "click") & (F.dayofmonth("ts") % 7 == 3))
    )
    bounds = ev.select(
        F.min(F.col("ts").cast("date")).alias("d0"),
        F.max(F.col("ts").cast("date")).alias("d1"),
    )
    days = bounds.select(F.explode(F.sequence("d0", "d1")).alias("d"))
    types = ev.select("event_type").distinct()
    expected = days.crossJoin(types)
    observed = feed.select(
        F.col("ts").cast("date").alias("d"), "event_type"
    ).distinct()
    return (
        expected.join(observed, ["d", "event_type"], "left_anti")
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.col("event_type").alias("lb_type"),
        )
        .orderBy("day", "lb_type")
    )


SQL_MISSING_DAYS = """
WITH b AS (SELECT CAST(min(ts) AS DATE) AS d0, CAST(max(ts) AS DATE) AS d1
           FROM events),
days AS (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS d
         FROM b),
types AS (SELECT DISTINCT event_type FROM events),
observed AS (
  SELECT DISTINCT CAST(ts AS DATE) AS d, event_type FROM events
  WHERE NOT (event_type = 'click' AND day(CAST(ts AS DATE)) % 7 = 3))
SELECT strftime(e.d, '%Y-%m-%d') AS day, e.event_type AS lb_type
FROM (SELECT * FROM days CROSS JOIN types) e
LEFT JOIN observed o ON e.d = o.d AND e.event_type = o.event_type
WHERE o.d IS NULL
-- NULLS FIRST: Spark's ascending sort default; DuckDB defaults to
-- NULLS LAST, which would diverge if an event_type were ever NULL
ORDER BY day NULLS FIRST, lb_type NULLS FIRST
"""

MISC_QUERIES["missing_days"] = (q_missing_days, SQL_MISSING_DAYS)


# --------------------------------------- char-entropy quality score
def q_char_entropy(spark: SparkSession, sf: str) -> DataFrame:
    """Shannon entropy (bits) of each document's character distribution
    — the gibberish/boilerplate detector CCNet-class pipelines use:
    compressed spam and repeated-char padding score low, natural prose
    ~4 bits. Pure aggregation shape: explode chars -> (doc, char)
    counts -> -sum p log2 p keyed per doc; one corpus-linear shuffle of
    (doc_id, char) pairs. Window is r4-queue."""
    from pyspark.sql import functions as F

    d = load(spark, sf, "documents")
    chars = d.select(
        "doc_id", F.explode(F.split("text", "")).alias("ch")
    ).filter(F.col("ch") != "")
    counts = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("n"))
    per_doc = counts.groupBy("doc_id").agg(
        F.sum("n").alias("total"),
        F.sum(F.col("n") * F.log2("n")).alias("sum_nlogn"),
    )
    return (
        per_doc.select(
            "doc_id",
            micro6(
                F.log2("total") - F.col("sum_nlogn") / F.col("total")
            ).alias("entropy_micro_bits"),
        )
        .orderBy("doc_id")
    )


SQL_CHAR_ENTROPY = f"""
WITH chars AS (
  SELECT doc_id, unnest(string_split(text, '')) AS ch
  FROM documents),
f AS (SELECT doc_id, ch, count(*) AS n FROM chars WHERE ch <> ''
      GROUP BY doc_id, ch),
p AS (SELECT doc_id, sum(n) AS total, sum(n * log2(n)) AS sum_nlogn
      FROM f GROUP BY doc_id)
SELECT doc_id,
       {micro6_sql('log2(total) - sum_nlogn / total')} AS entropy_micro_bits
FROM p ORDER BY doc_id
"""

MISC_QUERIES["char_entropy"] = (q_char_entropy, SQL_CHAR_ENTROPY)


# --------------------------------------- declarative expectations suite
def q_expectations_report(spark: SparkSession, sf: str) -> DataFrame:
    """Data-validation contract over the events feed: every row-level
    rule rides ONE aggregation pass; the referential rule adds one
    anti-join against the distinct customer keys
    (operators/expectations.py). The suite deliberately mixes passing
    and failing rules so the report shape is exercised end-to-end."""
    from pyspark.sql import functions as F

    from gcp_data_pipeline_fyp_spark.operators.expectations import (
        accepted_values,
        expectations_report,
        in_range,
        matches_regex,
        not_null,
        referential,
        row_count_between,
        satisfies,
        unique,
    )

    ev = load(spark, sf, "events")
    cust = load(spark, sf, "customer")
    rules = [
        not_null("event_id"),
        unique("event_id"),
        accepted_values("event_type", ["click", "view", "purchase", "signup"]),
        in_range("value", 0, 400),
        matches_regex("props", r"^\{"),
        satisfies("value_positive", F.col("value") > 0, target="value"),
        row_count_between(lo=100),
        referential("user_id", cust, "c_custkey"),
    ]
    return expectations_report(ev, rules)


SQL_EXPECTATIONS_REPORT = r"""
WITH agg AS (
  SELECT
    sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS r0,
    sum(CASE WHEN event_id IS NOT NULL THEN 1 ELSE 0 END)
      - count(DISTINCT event_id) AS r1,
    sum(CASE WHEN event_type IS NOT NULL
             AND event_type NOT IN ('click', 'view', 'purchase', 'signup')
        THEN 1 ELSE 0 END) AS r2,
    sum(CASE WHEN value IS NOT NULL AND value NOT BETWEEN 0 AND 400
        THEN 1 ELSE 0 END) AS r3,
    sum(CASE WHEN props IS NOT NULL AND NOT regexp_matches(props, '^\{')
        THEN 1 ELSE 0 END) AS r4,
    sum(CASE WHEN NOT (value > 0) THEN 1 ELSE 0 END) AS r5,
    CASE WHEN count(*) < 100 THEN 1 ELSE 0 END AS r6
  FROM events),
refv AS (
  SELECT count(*) AS r7 FROM events
  WHERE user_id IS NOT NULL
    AND user_id NOT IN (SELECT c_custkey FROM customer)),
rows_out AS (
  SELECT 'event_id_not_null' AS rule, 'not_null' AS kind,
         'event_id' AS target, cast(r0 AS bigint) AS n_violations FROM agg
  UNION ALL
  SELECT 'event_id_unique', 'unique', 'event_id', cast(r1 AS bigint) FROM agg
  UNION ALL
  SELECT 'event_type_accepted_values', 'accepted_values', 'event_type',
         cast(r2 AS bigint) FROM agg
  UNION ALL
  SELECT 'value_in_range', 'in_range', 'value', cast(r3 AS bigint) FROM agg
  UNION ALL
  SELECT 'props_matches_regex', 'matches_regex', 'props',
         cast(r4 AS bigint) FROM agg
  UNION ALL
  SELECT 'value_positive', 'satisfies', 'value', cast(r5 AS bigint) FROM agg
  UNION ALL
  SELECT 'row_count', 'row_count', '', cast(r6 AS bigint) FROM agg
  UNION ALL
  SELECT 'user_id_referential', 'referential', 'user_id',
         cast(r7 AS bigint) FROM refv)
SELECT rule, kind, target, n_violations, n_violations = 0 AS passed
FROM rows_out
"""

MISC_QUERIES["expectations_report"] = (q_expectations_report, SQL_EXPECTATIONS_REPORT)


# --------------------------------------- schema contract (drift gate)
_EVENTS_CONTRACT = {
    "event_id": "int",
    "ts": "timestamp",
    "user_id": "int",
    "event_type": "string",
    "value": "int",       # actual is float -> type_changed (exercised)
    "session_id": "int",  # not in the feed -> missing (exercised)
}


def q_schema_contract(spark: SparkSession, sf: str) -> DataFrame:
    """Schema-drift gate over the events feed: the frame's actual schema
    vs a pinned {column: type_class} contract, one row per column with
    status ok | type_changed | missing | unexpected. Pure metadata (no
    scan); the oracle derives the same report from DuckDB's
    information_schema, so the check is genuinely cross-engine. The
    pinned contract deliberately mis-types `value` and expects a
    `session_id` the feed lacks, exercising every status."""
    from gcp_data_pipeline_fyp_spark.operators.expectations import (
        schema_contract_report,
    )

    ev = load(spark, sf, "events")
    return schema_contract_report(ev, _EVENTS_CONTRACT)


SQL_SCHEMA_CONTRACT = """
WITH actual AS (
  SELECT column_name, CASE
    WHEN data_type IN ('TINYINT', 'SMALLINT', 'INTEGER', 'BIGINT', 'HUGEINT',
                       'UTINYINT', 'USMALLINT', 'UINTEGER', 'UBIGINT')
      THEN 'int'
    WHEN data_type IN ('FLOAT', 'REAL', 'DOUBLE') THEN 'float'
    WHEN data_type = 'VARCHAR' THEN 'string'
    WHEN data_type = 'BOOLEAN' THEN 'boolean'
    WHEN data_type = 'DATE' THEN 'date'
    WHEN data_type LIKE 'TIMESTAMP%' THEN 'timestamp'
    WHEN data_type = 'BLOB' THEN 'binary'
    WHEN data_type LIKE 'DECIMAL%' THEN 'decimal'
    WHEN data_type LIKE '%[]' THEN 'array'
    ELSE lower(data_type) END AS actual
  FROM information_schema.columns WHERE table_name = 'events'),
contract(column_name, expected) AS (VALUES
  ('event_id', 'int'), ('ts', 'timestamp'), ('user_id', 'int'),
  ('event_type', 'string'), ('value', 'int'), ('session_id', 'int'))
SELECT column_name, expected, actual,
  CASE WHEN actual IS NULL THEN 'missing'
       WHEN expected IS NULL THEN 'unexpected'
       WHEN expected <> actual THEN 'type_changed'
       ELSE 'ok' END AS status
FROM contract FULL JOIN actual USING (column_name)
"""

MISC_QUERIES["schema_contract"] = (q_schema_contract, SQL_SCHEMA_CONTRACT)


# --------------------------------------- BPE pair statistics (tokenizer)
def q_bpe_pair_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-scale BPE merge statistic: top adjacent character pairs
    weighted by word frequency. Two-stage shape (corpus -> vocabulary
    -> pairs) so the pair explosion is vocabulary-sized, never
    token-stream-sized (operators/tokenizer.py)."""
    from gcp_data_pipeline_fyp_spark.operators.tokenizer import bpe_pair_counts

    d = load(spark, sf, "documents", spread=True)
    return bpe_pair_counts(d, "text", top_k=100)


SQL_BPE_PAIR_COUNTS = r"""
WITH w AS (
  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS word
  FROM documents),
v AS (SELECT word, count(*) AS n FROM w WHERE word <> '' GROUP BY word),
c AS (SELECT n, string_split(word, '') AS cs FROM v),
p AS (SELECT cs[i] AS left, cs[i + 1] AS right, n
      FROM c, unnest(generate_series(1, len(cs) - 1)) AS g(i)
      WHERE len(cs) >= 2)
SELECT "left", "right", cast(sum(n) AS bigint) AS pair_count
FROM p GROUP BY 1, 2
ORDER BY pair_count DESC, "left", "right"
LIMIT 100
"""

MISC_QUERIES["bpe_pair_counts"] = (q_bpe_pair_counts, SQL_BPE_PAIR_COUNTS)


# --------------------------------------- group-wise embedding pooling
def q_embedding_pool(spark: SparkSession, sf: str) -> DataFrame:
    """Mean-pool embeddings per label (chunk->document pooling shape),
    emitted as exploded (label, pos, value_micro) rows — exact decimal
    sums, so pooled bytes are identical on any partitioning
    (operators/tokenizer.py:pool_embeddings)."""
    from pyspark.sql import functions as F

    from gcp_data_pipeline_fyp_spark.operators.tokenizer import pool_embeddings

    emb = load(spark, sf, "embeddings", spread=True)
    pooled = pool_embeddings(emb, "label", "embedding")
    return pooled.select(
        "label", F.posexplode("pooled").alias("pos", "__x")
    ).select("label", "pos", micro6(F.col("__x")).alias("value_micro"))


SQL_EMBEDDING_POOL = f"""
WITH e AS (
  SELECT label, i - 1 AS pos,
         cast(sum(cast(embedding[i] AS decimal(28,12))) AS double)
           / count(*) AS m
  FROM embeddings, unnest(generate_series(1, len(embedding))) AS g(i)
  WHERE embedding[i] IS NOT NULL  -- mirror the operator's NULL-element filter
  GROUP BY label, i)
SELECT label, pos, {micro6_sql('m')} AS value_micro
FROM e
"""

MISC_QUERIES["embedding_pool"] = (q_embedding_pool, SQL_EMBEDDING_POOL)


# ------------------------------- deterministic correlation (r6)
def q_returnflag_correlation(spark: SparkSession, sf: str) -> DataFrame:
    """Pearson corr(l_quantity, l_extendedprice) per return flag via
    the deterministic path (operators/profile.py:exact_corr): the five
    sufficient statistics accumulate as exact decimals (partition-
    order independent), the closed form evaluates once in double.
    Engine-native corr() can never hash-certify — its streaming
    co-moments depend on merge order. Window is r6-queue."""
    from gcp_data_pipeline_fyp_spark.operators.profile import exact_corr

    li = load(spark, sf, "lineitem")
    return exact_corr(
        li, "l_quantity", "l_extendedprice", group_cols=["l_returnflag"]
    )


SQL_RETURNFLAG_CORRELATION = f"""
WITH g AS (
  SELECT l_returnflag, count(*) AS n,
    CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sx,
    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sy,
    -- multiply operands widened to (19,4): DuckDB executes an
    -- (18,4)x(18,4) product in int64 and overflows; 19+19=38 digits
    -- forces int128. Same exact rationals as Spark's (18,4) products.
    CAST(sum(CAST(CAST(l_quantity AS DECIMAL(19,4))
              * CAST(l_extendedprice AS DECIMAL(19,4)) AS DECIMAL(38,8)))
         AS DOUBLE) AS sxy,
    CAST(sum(CAST(CAST(l_quantity AS DECIMAL(19,4))
              * CAST(l_quantity AS DECIMAL(19,4)) AS DECIMAL(38,8)))
         AS DOUBLE) AS sxx,
    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(19,4))
              * CAST(l_extendedprice AS DECIMAL(19,4)) AS DECIMAL(38,8)))
         AS DOUBLE) AS syy
  FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
  GROUP BY l_returnflag)
SELECT l_returnflag, n,
  {micro6_sql(
      "(CAST(n AS DOUBLE) * sxy - sx * sy)"
      " / nullif(sqrt((CAST(n AS DOUBLE) * sxx - sx * sx)"
      " * (CAST(n AS DOUBLE) * syy - sy * sy)), 0)"
  )} AS corr_micro
FROM g
"""

MISC_QUERIES["returnflag_correlation"] = (
    q_returnflag_correlation,
    SQL_RETURNFLAG_CORRELATION,
)


# ------------------------------------ robust MAD outliers (r6)
def q_mad_outlier_events(spark: SparkSession, sf: str) -> DataFrame:
    """Modified z-score outliers (operators/profile.py:mad_outliers):
    median/MAD have a 50% breakdown point where mean/stddev z-scores
    mask exactly the heavy outliers they should flag. Per event type,
    |z_mad| > 3.5. Window is r6-queue."""
    from gcp_data_pipeline_fyp_spark.operators.profile import mad_outliers

    ev = load(spark, sf, "events")
    return mad_outliers(
        ev, "value", group_cols=["event_type"], id_cols=["event_id"],
        threshold=3.5,
    )


SQL_MAD_OUTLIER_EVENTS = f"""
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY event_type),
dev AS (
  SELECT e.event_id, e.event_type, e.value, m.med,
         abs(e.value - m.med) AS ad
  FROM events e JOIN med m USING (event_type)),
mad AS (
  SELECT event_type, quantile_cont(ad, 0.5) AS mad
  FROM dev GROUP BY event_type),
scored AS (
  SELECT d.event_id, d.event_type,
    {micro6_sql("(d.value - d.med) / nullif(1.4826 * m2.mad, 0)")}
      AS robust_z_micro
  FROM dev d JOIN mad m2 USING (event_type))
SELECT event_id, event_type, robust_z_micro FROM scored
WHERE robust_z_micro >= 3500000 OR robust_z_micro <= -3500000
"""

MISC_QUERIES["mad_outlier_events"] = (
    q_mad_outlier_events,
    SQL_MAD_OUTLIER_EVENTS,
)


# ------------------------------- per-group OLS trend (r6 tail)
def q_value_trend_by_type(spark: SparkSession, sf: str) -> DataFrame:
    """Per-event-type least-squares trend of value over time (slope +
    intercept vs day index): the drift detector next to
    returnflag_correlation, same deterministic sufficient-statistics
    design (operators/profile.py:grouped_ols) — exact decimal Σs, one
    closed-form evaluation, ONE aggregation pass for any fact size.
    x is the exact integer day offset from 2024-01-01 (identical in
    both engines). Window is r7-queue."""
    from pyspark.sql import functions as F

    from gcp_data_pipeline_fyp_spark.operators.profile import grouped_ols

    ev = load(spark, sf, "events").select(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("int")
        .alias("day_x"),
        "value",
    )
    return grouped_ols(ev, "day_x", "value", group_cols=["event_type"])


SQL_VALUE_TREND_BY_TYPE = f"""
WITH b AS (
  SELECT event_type,
    date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day_x,
    value
  FROM events),
g AS (
  SELECT event_type, count(*) AS n,
    CAST(sum(CAST(day_x AS DECIMAL(18,4))) AS DOUBLE) AS sx,
    CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sy,
    -- (19,4) widening: DuckDB runs an (18,4)x(18,4) product in int64
    -- and overflows; 19+19 digits forces int128 (same rationals as
    -- Spark's (18,4) products) — the exact_corr oracle pattern
    CAST(sum(CAST(CAST(day_x AS DECIMAL(19,4))
              * CAST(value AS DECIMAL(19,4)) AS DECIMAL(38,8)))
         AS DOUBLE) AS sxy,
    CAST(sum(CAST(CAST(day_x AS DECIMAL(19,4))
              * CAST(day_x AS DECIMAL(19,4)) AS DECIMAL(38,8)))
         AS DOUBLE) AS sxx
  FROM b
  WHERE day_x IS NOT NULL AND value IS NOT NULL
  GROUP BY event_type)
SELECT event_type, n,
  {micro6_sql(
      "(CAST(n AS DOUBLE) * sxy - sx * sy)"
      " / nullif(CAST(n AS DOUBLE) * sxx - sx * sx, 0)"
  )} AS slope_micro,
  {micro6_sql(
      "(sy - ((CAST(n AS DOUBLE) * sxy - sx * sy)"
      " / nullif(CAST(n AS DOUBLE) * sxx - sx * sx, 0)) * sx)"
      " / CAST(n AS DOUBLE)"
  )} AS intercept_micro
FROM g
"""

MISC_QUERIES["value_trend_by_type"] = (
    q_value_trend_by_type,
    SQL_VALUE_TREND_BY_TYPE,
)


# ------------------------- blocked fuzzy matching / linkage (r6 tail)
def q_fuzzy_supplier_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Entity resolution on supplier names: every pair within
    Levenshtein distance 1, found by SymSpell deletion-1 blocking +
    exact verify (operators/linkage.py) — linear candidate generation,
    never an n² stage. The ORACLE is the exhaustive all-pairs join, so
    the hash match certifies the blocking is COMPLETE, not just that
    the arithmetic agrees. Window is r7-queue."""
    from gcp_data_pipeline_fyp_spark.operators.linkage import fuzzy_pairs

    supp = load(spark, sf, "supplier")
    return fuzzy_pairs(supp, "s_suppkey", "s_name", max_dist=1)


SQL_FUZZY_SUPPLIER_PAIRS = """
SELECT a.s_suppkey AS id_a, b.s_suppkey AS id_b,
  CAST(levenshtein(a.s_name, b.s_name) AS INT) AS dist
FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
WHERE levenshtein(a.s_name, b.s_name) <= 1
"""

MISC_QUERIES["fuzzy_supplier_pairs"] = (
    q_fuzzy_supplier_pairs,
    SQL_FUZZY_SUPPLIER_PAIRS,
)


# ------------------------------------- shuffle-key skew report (r6 tail)
def q_key_skew_report(spark: SparkSession, sf: str) -> DataFrame:
    """The pre-shuffle diagnostic (operators/skew.py:skew_report) on
    the order key of lineitem — |keys|-sized second pass, exact
    percentiles over group sizes (quantile_cont parity), skew ratio in
    micro-units. Window is r7-queue."""
    from gcp_data_pipeline_fyp_spark.operators.skew import skew_report

    li = load(spark, sf, "lineitem")
    return skew_report(li, ["l_orderkey"])


SQL_KEY_SKEW_REPORT = f"""
WITH sizes AS (
  SELECT l_orderkey, count(*) AS c FROM lineitem GROUP BY l_orderkey)
SELECT
  CAST(sum(c) AS BIGINT) AS n_rows,
  CAST(count(*) AS BIGINT) AS n_keys,
  CAST(max(c) AS BIGINT) AS max_key_rows,
  {micro6_sql("quantile_cont(c, 0.5)")} AS p50_micro,
  {micro6_sql("quantile_cont(c, 0.9)")} AS p90_micro,
  {micro6_sql("quantile_cont(c, 0.99)")} AS p99_micro,
  {micro6_sql("max(c) / (CAST(sum(c) AS DOUBLE) / count(*))")}
    AS skew_ratio_micro
FROM sizes
"""

MISC_QUERIES["key_skew_report"] = (q_key_skew_report, SQL_KEY_SKEW_REPORT)


# ------------------------------------ measure-then-choose plan demo (r9)
def q_skew_plan_choice(spark: SparkSession, sf: str) -> DataFrame:
    """The skew toolkit's plan-choice discipline end-to-end
    (operators/skew.py:topk_plan_decision): measure the prospective
    shuffle key, emit the decision NEXT TO the evidence. Two keysets
    over events — the real near-uniform event_type mix (ratio ~1 →
    plain_window) and a banded hot key concentrating ~95% of rows
    (ratio ~8 → salted_two_phase) — so BOTH branches of the decision
    are driver-certified, threshold 5x mean (Spark AQE's
    skewedPartitionFactor)."""
    from gcp_data_pipeline_fyp_spark.operators.skew import (
        topk_plan_decision,
    )

    ev = load(spark, sf, "events")
    uniform = topk_plan_decision(ev, ["event_type"]).withColumn(
        "keyset", F.lit("events.event_type")
    )
    banded = ev.withColumn(
        "__hot",
        F.when(F.col("user_id") % 20 != 0, F.lit("hot")).otherwise(
            F.concat_ws("", F.lit("u"), F.col("user_id").cast("string"))
        ),
    )
    skewed = topk_plan_decision(banded, ["__hot"]).withColumn(
        "keyset", F.lit("events.hot_banded")
    )
    return (
        uniform.unionByName(skewed)
        .select(
            "keyset",
            "n_rows",
            "n_keys",
            "max_key_rows",
            "skew_ratio_micro",
            "use_salted",
            "plan",
        )
        .orderBy("keyset")
    )


_SQL_SKEW_DECISION = """
  SELECT '{keyset}' AS keyset,
    CAST(sum(c) AS BIGINT) AS n_rows,
    CAST(count(*) AS BIGINT) AS n_keys,
    CAST(max(c) AS BIGINT) AS max_key_rows,
    {ratio} AS skew_ratio_micro
  FROM {src}"""

SQL_SKEW_PLAN_CHOICE = f"""
WITH s1 AS (SELECT event_type AS k, count(*) AS c FROM events GROUP BY 1),
b AS (SELECT CASE WHEN user_id % 20 <> 0 THEN 'hot'
             ELSE 'u' || CAST(user_id AS varchar) END AS k FROM events),
s2 AS (SELECT k, count(*) AS c FROM b GROUP BY 1),
d AS (
{_SQL_SKEW_DECISION.format(
    keyset="events.event_type", src="s1",
    ratio=micro6_sql("max(c) / (CAST(sum(c) AS DOUBLE) / count(*))"),
)}
  UNION ALL
{_SQL_SKEW_DECISION.format(
    keyset="events.hot_banded", src="s2",
    ratio=micro6_sql("max(c) / (CAST(sum(c) AS DOUBLE) / count(*))"),
)})
SELECT keyset, n_rows, n_keys, max_key_rows, skew_ratio_micro,
  skew_ratio_micro > 5000000 AS use_salted,
  CASE WHEN skew_ratio_micro > 5000000 THEN 'salted_two_phase'
       ELSE 'plain_window' END AS plan
FROM d ORDER BY keyset
"""

MISC_QUERIES["skew_plan_choice"] = (q_skew_plan_choice, SQL_SKEW_PLAN_CHOICE)


# ------------------------------------------------ zone-map data skipping (r7)
def q_zonemap_pruned_scan(spark: SparkSession, sf: str) -> DataFrame:
    """Zone-map file pruning end-to-end (operators/zonemap.py): write
    events in a value-range layout, build the per-file min/max map,
    then answer an interval query through `read_pruned` — the scan
    lists only files whose [min, max] overlaps the predicate (the
    pytest pins that this skips >half the files) and re-applies the
    filter row-wise, so the result is byte-equal to a full scan +
    WHERE regardless of layout. The 100 TB point: file-level skipping
    happens BEFORE any parquet footer is opened."""
    import os

    from gcp_data_pipeline_fyp_spark.operators.zonemap import (
        build_zonemap,
        read_pruned,
    )
    from gcp_data_pipeline_fyp_spark.sources.tables import Warehouse

    scratch = scratch_dir(spark, "zonemap", sf)
    wh = Warehouse(spark, scratch)
    ev = load(spark, sf, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    wh.overwrite_range_layout(ev, "EV", ["value"], n_files=16)
    build_zonemap(wh, "EV", ["value"])
    return read_pruned(wh, "EV", {"value": (100.0, 200.0)})


SQL_ZONEMAP_PRUNED_SCAN = """
SELECT event_id, ts, event_type, value
FROM events
WHERE value >= 100.0 AND value <= 200.0
"""

MISC_QUERIES["zonemap_pruned_scan"] = (
    q_zonemap_pruned_scan,
    SQL_ZONEMAP_PRUNED_SCAN,
)


def q_dynamic_pruned_join(spark: SparkSession, sf: str) -> DataFrame:
    """Dynamic file pruning end-to-end (operators/zonemap.py:
    dynamic_pruned_join): events range-laid-out on user_id, a
    selective build side covering a 15%-of-domain key band, and the
    build side's MEASURED key bounds pruning the probe's files
    through the zone map before the semi join. Bounds are domain
    fractions (floored, same arithmetic in the oracle) so the probe
    is non-trivial at every sf; the result is row-equal to the plain
    semi join = the band filter. pytest separately pins that files
    were actually skipped and that outer joins are rejected."""
    import math

    from gcp_data_pipeline_fyp_spark.operators.zonemap import (
        build_zonemap,
        dynamic_pruned_join,
    )
    from gcp_data_pipeline_fyp_spark.sources.tables import Warehouse

    ev = load(spark, sf, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    wh = Warehouse(spark, scratch_dir(spark, "dpj", sf))
    wh.overwrite_range_layout(ev, "EVJ", ["user_id"], n_files=16)
    build_zonemap(wh, "EVJ", ["user_id"])
    d = ev.agg(F.min("user_id"), F.max("user_id")).first()
    lo = math.floor(d[0] + 0.30 * (d[1] - d[0]))
    hi = math.floor(d[0] + 0.45 * (d[1] - d[0]))
    build = (
        ev.filter(F.col("user_id").between(lo, hi))
        .select("user_id")
        .distinct()
    )
    out = dynamic_pruned_join(
        wh, "EVJ", "user_id", build, "user_id", how="left_semi"
    )
    return out.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_value"),
    )


SQL_DYNAMIC_PRUNED_JOIN = """
WITH d AS (SELECT min(user_id) AS lo0, max(user_id) AS hi0 FROM events),
b AS (SELECT CAST(floor(lo0 + 0.30 * (hi0 - lo0)) AS BIGINT) AS lo,
             CAST(floor(lo0 + 0.45 * (hi0 - lo0)) AS BIGINT) AS hi FROM d)
SELECT event_type, count(*) AS n,
  cast(sum(cast(value as decimal(18,2))) as double) AS sum_value
FROM events, b
WHERE user_id BETWEEN b.lo AND b.hi
GROUP BY event_type
"""

MISC_QUERIES["dynamic_pruned_join"] = (
    q_dynamic_pruned_join,
    SQL_DYNAMIC_PRUNED_JOIN,
)


def q_zonemap_zorder_box_scan(spark: SparkSession, sf: str) -> DataFrame:
    """2-D data skipping end-to-end: Z-order layout (sources/tables.py:
    zorder_value — bit-interleaved Morton key) + zone map answering a
    box predicate on (value, user_id). Every output file covers a
    compact plane REGION, so both intervals prune files — the pytest
    pins >2x fewer files read than a 1-D range layout for the same
    box. Bounds are domain fractions so the probe is non-trivial at
    every sf; results are byte-equal to full scan + WHERE."""
    import os

    from pyspark.sql import functions as F

    from gcp_data_pipeline_fyp_spark.operators.zonemap import (
        build_zonemap,
        read_pruned,
    )
    from gcp_data_pipeline_fyp_spark.sources.tables import (
        Warehouse,
        zorder_value,
    )

    ev = load(spark, sf, "events").select("event_id", "user_id", "value")
    d = ev.agg(
        F.min("value"), F.max("value"), F.min("user_id"), F.max("user_id")
    ).collect()[0]
    u_lo = d[2] + 0.30 * (d[3] - d[2])
    u_hi = d[2] + 0.60 * (d[3] - d[2])
    scratch = scratch_dir(spark, "zonemap_z", sf)
    wh = Warehouse(spark, scratch)
    z = zorder_value(
        F.col("value"), F.col("user_id"),
        d[0], d[1], float(d[2]), float(d[3]), bits=12,
    )
    wh.overwrite_zorder_layout(ev, "EVZ", z, n_files=32)
    build_zonemap(wh, "EVZ", ["value", "user_id"])
    return read_pruned(
        wh, "EVZ", {"value": (50.0, 120.0), "user_id": (u_lo, u_hi)}
    )


SQL_ZONEMAP_ZORDER_BOX_SCAN = """
WITH d AS (SELECT min(user_id) AS umin, max(user_id) AS umax FROM events)
SELECT event_id, user_id, value
FROM events, d
WHERE value >= 50.0 AND value <= 120.0
  AND user_id >= umin + 0.30 * (umax - umin)
  AND user_id <= umin + 0.60 * (umax - umin)
"""

MISC_QUERIES["zonemap_zorder_box_scan"] = (
    q_zonemap_zorder_box_scan,
    SQL_ZONEMAP_ZORDER_BOX_SCAN,
)


# --------------------------------------- deterministic mergeable sketches (r7)
def q_cms_token_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Count-min frequency sketch (operators/sketch.py) over document
    tokens, built as TWO half-corpus states merged cell-wise — the
    delta-maintenance path — then point-queried for every distinct
    token; top 30 by estimate. md5-bucketed, so the oracle replicates
    the full depth x width grid in SQL and certifies bit equality —
    including collision behavior (width 512 << vocabulary)."""
    from pyspark.sql import functions as F

    from gcp_data_pipeline_fyp_spark.functions.text import tokens
    from gcp_data_pipeline_fyp_spark.operators.sketch import (
        cms_estimate,
        cms_state,
        merge_cms_states,
    )

    d = load(spark, sf, "documents", spread=True)
    toks = d.select(
        F.col("doc_id"), F.explode(tokens("text")).alias("tok")
    )
    a = cms_state(toks.filter(F.col("doc_id") % 2 == 0), "tok", 4, 512)
    b = cms_state(toks.filter(F.col("doc_id") % 2 == 1), "tok", 4, 512)
    state = merge_cms_states([a, b])
    est = cms_estimate(state, toks.select("tok").distinct(), "tok", 4, 512)
    return est.orderBy(F.desc("est"), "tok").limit(30)


SQL_CMS_TOKEN_COUNTS = r"""
WITH e AS (SELECT doc_id,
                  unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
           FROM documents),
ds AS (SELECT unnest([0, 1, 2, 3]) AS d),
cells AS (
  SELECT d,
         cast(concat('0x', substr(md5(concat(CAST(d AS VARCHAR), '_', tok)),
                                  1, 15)) AS BIGINT) % 512 AS bucket,
         count(*) AS cnt
  FROM e CROSS JOIN ds
  GROUP BY 1, 2),
probes AS (SELECT DISTINCT tok FROM e),
pe AS (
  SELECT p.tok, min(coalesce(c.cnt, 0)) AS est
  FROM probes p
  CROSS JOIN ds
  LEFT JOIN cells c
    ON c.d = ds.d
   AND c.bucket = cast(concat('0x',
         substr(md5(concat(CAST(ds.d AS VARCHAR), '_', p.tok)), 1, 15))
         AS BIGINT) % 512
  GROUP BY p.tok)
SELECT tok, est FROM pe ORDER BY est DESC, tok LIMIT 30
"""

MISC_QUERIES["cms_token_counts"] = (q_cms_token_counts, SQL_CMS_TOKEN_COUNTS)


def q_kmv_distinct_users(spark: SparkSession, sf: str) -> DataFrame:
    """KMV / bottom-k distinct sketch (operators/sketch.py) per event
    type over user_id: two half-feed states merged (union + re-take
    k smallest), then (k-1)/h_k. Plain-row states — unlike HLL
    binaries the sketch itself is SQL-replicable, so the ESTIMATE is
    oracle-certified bit-exactly (micro-units)."""
    from pyspark.sql import functions as F

    from gcp_data_pipeline_fyp_spark.operators.sketch import (
        kmv_estimate,
        kmv_state,
        merge_kmv_states,
    )

    ev = load(spark, sf, "events")
    a = kmv_state(
        ev.filter(F.col("event_id") % 2 == 0), "user_id", ["event_type"], 32
    )
    b = kmv_state(
        ev.filter(F.col("event_id") % 2 == 1), "user_id", ["event_type"], 32
    )
    merged = merge_kmv_states([a, b], ["event_type"], 32)
    est = kmv_estimate(merged, ["event_type"], 32)
    return est.select(
        "event_type", micro6("est").alias("est_micro")
    ).orderBy("event_type")


SQL_KMV_DISTINCT_USERS = """
WITH h AS (
  SELECT DISTINCT event_type,
         cast(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
              AS BIGINT) / 1152921504606846976.0 AS h
  FROM events),
r AS (SELECT event_type, h,
             row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
      FROM h),
a AS (SELECT event_type, count(*) AS n, max(h) AS hk
      FROM r WHERE rk <= 32 GROUP BY event_type)
SELECT event_type,
       CAST(round((CASE WHEN n < 32 THEN CAST(n AS DOUBLE)
                        ELSE 31.0 / hk END) * 1000000.0) AS BIGINT)
         AS est_micro
FROM a
ORDER BY event_type
"""

MISC_QUERIES["kmv_distinct_users"] = (
    q_kmv_distinct_users,
    SQL_KMV_DISTINCT_USERS,
)


def q_bucket_index_lookup(spark: SparkSession, sf: str) -> DataFrame:
    """Equality-predicate file skipping (operators/zonemap.py:
    build_bucket_index/read_point_lookup): the table is laid out by
    value, so a point lookup on event_id can't use min/max skipping —
    the per-file md5-bucket membership index prunes instead (pytest
    pins <half the files read). Keys are picked deterministically from
    the data (5 smallest with event_id % 97 == 3) so the probe is
    non-trivial at every sf; results equal a plain IN-filter scan."""
    import os

    from pyspark.sql import functions as F

    from gcp_data_pipeline_fyp_spark.operators.zonemap import (
        build_bucket_index,
        read_point_lookup,
    )
    from gcp_data_pipeline_fyp_spark.sources.tables import Warehouse

    ev = load(spark, sf, "events").select("event_id", "user_id", "value")
    keys = [
        r["event_id"]
        for r in ev.filter(F.col("event_id") % 97 == 3)
        .orderBy("event_id")
        .limit(5)
        .collect()
    ]
    scratch = scratch_dir(spark, "bucketix", sf)
    wh = Warehouse(spark, scratch)
    wh.overwrite_range_layout(ev, "EV", ["value"], n_files=32)
    build_bucket_index(wh, "EV", "event_id", n_buckets=16384)
    return read_point_lookup(wh, "EV", "event_id", keys, n_buckets=16384)


SQL_BUCKET_INDEX_LOOKUP = """
WITH k AS (SELECT event_id FROM events
           WHERE event_id % 97 = 3 ORDER BY event_id LIMIT 5)
SELECT e.event_id, e.user_id, e.value
FROM events e JOIN k USING (event_id)
"""

MISC_QUERIES["bucket_index_lookup"] = (
    q_bucket_index_lookup,
    SQL_BUCKET_INDEX_LOOKUP,
)


def q_kmv_overlap_users(spark: SparkSession, sf: str) -> DataFrame:
    """KMV set algebra (operators/sketch.py:kmv_set_estimates): user
    overlap between the two month-halves per event type, estimated
    from two bottom-32 sketches — union, intersection, and Jaccard
    from O(k) state with no corpus join. Plain-row sketches make the
    membership test a join, so the DuckDB oracle replays the whole
    synopsis bit-exactly."""
    from pyspark.sql import functions as F

    from gcp_data_pipeline_fyp_spark.operators.sketch import (
        kmv_set_estimates,
        kmv_state,
    )

    ev = load(spark, sf, "events")
    a = kmv_state(ev.filter(F.dayofmonth("ts") <= 15), "user_id",
                  ["event_type"], 32)
    b = kmv_state(ev.filter(F.dayofmonth("ts") > 15), "user_id",
                  ["event_type"], 32)
    return kmv_set_estimates(a, b, ["event_type"], 32).orderBy("event_type")


SQL_KMV_OVERLAP_USERS = """
WITH ha AS (
  SELECT DISTINCT event_type,
    cast(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
         AS BIGINT) / 1152921504606846976.0 AS h
  FROM events WHERE day(ts) <= 15),
hb AS (
  SELECT DISTINCT event_type,
    cast(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
         AS BIGINT) / 1152921504606846976.0 AS h
  FROM events WHERE day(ts) > 15),
ra AS (SELECT event_type, h FROM (
  SELECT event_type, h,
    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
  FROM ha) WHERE rk <= 32),
rb AS (SELECT event_type, h FROM (
  SELECT event_type, h,
    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
  FROM hb) WHERE rk <= 32),
u AS (SELECT event_type, h FROM ra UNION
      SELECT event_type, h FROM rb),
ru AS (SELECT event_type, h FROM (
  SELECT event_type, h,
    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
  FROM u) WHERE rk <= 32),
m AS (
  SELECT ru.event_type, ru.h,
    CASE WHEN ra.h IS NOT NULL THEN 1 ELSE 0 END AS in_a,
    CASE WHEN rb.h IS NOT NULL THEN 1 ELSE 0 END AS in_b
  FROM ru
  LEFT JOIN ra ON ra.event_type = ru.event_type AND ra.h = ru.h
  LEFT JOIN rb ON rb.event_type = ru.event_type AND rb.h = ru.h),
ag AS (
  SELECT event_type, count(*) AS kf, max(h) AS hk,
         sum(in_a * in_b) AS n_both
  FROM m GROUP BY 1),
e AS (
  SELECT event_type, kf,
    CASE WHEN kf < 32 THEN CAST(kf AS DOUBLE) ELSE 31.0 / hk END AS ue,
    CAST(n_both AS DOUBLE) / kf AS jac
  FROM ag)
SELECT event_type, CAST(kf AS BIGINT) AS k_filled,
  CAST(round(ue * 1000000.0) AS BIGINT) AS union_est_micro,
  CAST(round((jac * ue) * 1000000.0) AS BIGINT) AS inter_est_micro,
  CAST(round(jac * 1000000.0) AS BIGINT) AS jaccard_micro
FROM e ORDER BY event_type
"""

MISC_QUERIES["kmv_overlap_users"] = (
    q_kmv_overlap_users,
    SQL_KMV_OVERLAP_USERS,
)


# ------------------------------- one-pass correlation matrix (r7)
def q_lineitem_corr_matrix(spark: SparkSession, sf: str) -> DataFrame:
    """Pearson matrix over 4 lineitem measures in ONE scan
    (operators/profile.py:corr_matrix): every pair's five sufficient
    statistics as conditional exact-decimal aggregates in a single
    agg — exact_corr per pair would scan the fact 6 times. Same
    determinism chain (decimal sums, one pinned double expression)."""
    from gcp_data_pipeline_fyp_spark.operators.profile import corr_matrix

    li = load(spark, sf, "lineitem")
    return corr_matrix(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    ).orderBy("col_x", "col_y")


def _corr_matrix_sql(cols: list[str]) -> str:
    stats, rows = [], []
    for i in range(len(cols)):
        for j in range(i + 1, len(cols)):
            x, y = cols[i], cols[j]
            p = f"{x}__{y}"
            both = f"{x} IS NOT NULL AND {y} IS NOT NULL"
            cx = f"CAST(CASE WHEN {both} THEN {x} END AS DECIMAL(19,4))"
            cy = f"CAST(CASE WHEN {both} THEN {y} END AS DECIMAL(19,4))"
            stats += [
                f"count(CASE WHEN {both} THEN 1 END) AS {p}__n",
                f"CAST(sum(CAST(CASE WHEN {both} THEN {x} END"
                f" AS DECIMAL(18,4))) AS DOUBLE) AS {p}__sx",
                f"CAST(sum(CAST(CASE WHEN {both} THEN {y} END"
                f" AS DECIMAL(18,4))) AS DOUBLE) AS {p}__sy",
                f"CAST(sum(CAST({cx} * {cy} AS DECIMAL(38,8))) AS DOUBLE)"
                f" AS {p}__sxy",
                f"CAST(sum(CAST({cx} * {cx} AS DECIMAL(38,8))) AS DOUBLE)"
                f" AS {p}__sxx",
                f"CAST(sum(CAST({cy} * {cy} AS DECIMAL(38,8))) AS DOUBLE)"
                f" AS {p}__syy",
            ]
            closed = micro6_sql(
                f"(CAST({p}__n AS DOUBLE) * {p}__sxy - {p}__sx * {p}__sy)"
                f" / nullif(sqrt((CAST({p}__n AS DOUBLE) * {p}__sxx"
                f" - {p}__sx * {p}__sx)"
                f" * (CAST({p}__n AS DOUBLE) * {p}__syy"
                f" - {p}__sy * {p}__sy)), 0)"
            )
            rows.append(
                f"SELECT '{x}' AS col_x, '{y}' AS col_y,"
                f" CAST({p}__n AS BIGINT) AS n, {closed} AS corr_micro FROM s"
            )
    return (
        "WITH s AS (SELECT " + ", ".join(stats) + " FROM lineitem)\n"
        + "\nUNION ALL\n".join(rows)
        + "\nORDER BY col_x, col_y"
    )


SQL_LINEITEM_CORR_MATRIX = _corr_matrix_sql(
    ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
)

MISC_QUERIES["lineitem_corr_matrix"] = (
    q_lineitem_corr_matrix,
    SQL_LINEITEM_CORR_MATRIX,
)


def q_benford_prices(spark: SparkSession, sf: str) -> DataFrame:
    """Benford leading-digit audit (operators/profile.py:
    benford_audit) of l_extendedprice per return flag — the
    fabricated-data smell test as one aggregation pass with a 1-9
    scaffold; observed fraction and Benford expectation in
    micro-units."""
    from gcp_data_pipeline_fyp_spark.operators.profile import benford_audit

    li = load(spark, sf, "lineitem")
    return benford_audit(li, "l_extendedprice", ["l_returnflag"]).orderBy(
        "l_returnflag", "digit"
    )


SQL_BENFORD_PRICES = """
WITH v AS (
  SELECT l_returnflag,
    CAST(floor(abs(CAST(l_extendedprice AS DOUBLE))
      / power(10.0, floor(log10(abs(CAST(l_extendedprice AS DOUBLE))))))
      AS BIGINT) AS digit
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL
    AND abs(CAST(l_extendedprice AS DOUBLE)) > 0),
c AS (SELECT l_returnflag, digit, count(*) AS n_d FROM v GROUP BY 1, 2),
t AS (SELECT l_returnflag, sum(n_d) AS n FROM c GROUP BY 1),
sc AS (
  SELECT l_returnflag, n, CAST(d AS BIGINT) AS digit
  FROM t CROSS JOIN (SELECT unnest(range(1, 10)) AS d))
SELECT sc.l_returnflag, sc.digit,
  CAST(coalesce(c.n_d, 0) AS BIGINT) AS n_d,
  CAST(round((CAST(coalesce(c.n_d, 0) AS DOUBLE) / n) * 1000000.0)
    AS BIGINT) AS obs_micro,
  CAST(round((log10(1.0 + 1.0 / CAST(sc.digit AS DOUBLE))) * 1000000.0)
    AS BIGINT) AS exp_micro
FROM sc LEFT JOIN c ON c.l_returnflag = sc.l_returnflag AND c.digit = sc.digit
ORDER BY sc.l_returnflag, sc.digit
"""

MISC_QUERIES["benford_prices"] = (q_benford_prices, SQL_BENFORD_PRICES)


# ----------------------------- multimodal perceptual near-dup (r7)
def q_media_phash_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Perceptual-hash near-dup pairs over binary media payloads
    (multimodal/binary_ops.py:phash64 + media_neardup_pairs): docs
    wrapped as payloads, 64-bit chunk-sum pHash via Arrow-batched
    mapInPandas, 4x16-bit banded candidates, exact Hamming verify at
    <= 3. The probe gates on ASCII payloads (octet_length == length)
    so the DuckDB oracle can replay the BYTE-level hash from
    ord(char) — certifying the whole mapInPandas pipeline bit-exactly,
    which the codec-gated ops can't do."""
    from pyspark.sql import functions as F

    from gcp_data_pipeline_fyp_spark.multimodal.binary_ops import (
        media_neardup_pairs,
        phash64,
        with_media_column,
    )

    docs = load(spark, sf, "documents").filter(
        F.col("text").isNotNull()
        & (F.length("text") > 0)
        & (F.octet_length("text") == F.length("text"))
    )
    media = with_media_column(docs, "text", "doc_id")
    return media_neardup_pairs(phash64(media)).orderBy("id_a", "id_b")


SQL_MEDIA_PHASH_PAIRS = """
WITH docs AS (
  SELECT doc_id, text, length(text) AS n,
         (length(text) + 63) // 64 AS w
  FROM documents
  WHERE text IS NOT NULL AND length(text) > 0
    AND octet_length(encode(text)) = length(text)),
pos AS (
  SELECT doc_id, w, text,
         unnest(generate_series(1, n)) AS p
  FROM docs),
ch AS (
  SELECT doc_id, (p - 1) // w AS chunk,
         sum(ord(substr(text, CAST(p AS INT), 1))) AS s
  FROM pos GROUP BY 1, 2),
grid AS (
  SELECT doc_id, unnest(range(0, 64)) AS chunk FROM docs),
prof AS (
  SELECT g.doc_id, g.chunk, CAST(coalesce(ch.s, 0) AS BIGINT) AS s
  FROM grid g LEFT JOIN ch ON ch.doc_id = g.doc_id AND ch.chunk = g.chunk),
med AS (SELECT doc_id, quantile_cont(s, 0.5) AS m FROM prof GROUP BY 1),
bits AS (
  SELECT p.doc_id, p.chunk,
         CASE WHEN p.s > med.m THEN 1 ELSE 0 END AS b
  FROM prof p JOIN med ON med.doc_id = p.doc_id),
bands AS (
  SELECT doc_id, (63 - chunk) // 16 AS band_idx,
         sum(CAST(b AS BIGINT) << ((63 - chunk) % 16)) AS band_val
  FROM bits GROUP BY 1, 2),
halves AS (
  SELECT doc_id,
    sum(CASE WHEN chunk < 32
        THEN CAST(b AS BIGINT) << (31 - chunk) ELSE 0 END) AS hi,
    sum(CASE WHEN chunk >= 32
        THEN CAST(b AS BIGINT) << (63 - chunk) ELSE 0 END) AS lo
  FROM bits GROUP BY 1),
ph AS (
  SELECT doc_id,
    CAST(CASE WHEN hu >= CAST('9223372036854775808' AS HUGEINT)
         THEN hu - CAST('18446744073709551616' AS HUGEINT)
         ELSE hu END AS BIGINT) AS phash
  FROM (SELECT doc_id,
          CAST(hi AS HUGEINT) * 4294967296 + CAST(lo AS HUGEINT) AS hu
        FROM halves)),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
   AND a.doc_id < b.doc_id),
pairs AS (
  SELECT c.id_a, c.id_b,
         bit_count(xor(pa.phash, pb.phash)) AS hamming
  FROM cand c
  JOIN ph pa ON pa.doc_id = c.id_a
  JOIN ph pb ON pb.doc_id = c.id_b)
SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming
FROM pairs WHERE hamming <= 3
ORDER BY id_a, id_b
"""

MISC_QUERIES["media_phash_pairs"] = (
    q_media_phash_pairs,
    SQL_MEDIA_PHASH_PAIRS,
)


# ------------------------------------- snapshot reconciliation (r7)
def q_snapshot_diff(spark: SparkSession, sf: str) -> DataFrame:
    """Key-level diff between two deterministic snapshots of events
    (operators/merge.py:table_diff): the regression reconciliation a
    pipeline runs between consecutive builds. Left drops event_id %
    13 == 0; right drops % 11 == 0 and doubles value where % 7 == 0 —
    so the diff contains all three statuses plus per-row changed
    column lists, from ONE full-outer join."""
    from pyspark.sql import functions as F

    from gcp_data_pipeline_fyp_spark.operators.merge import table_diff

    ev = load(spark, sf, "events").select(
        "event_id", "event_type", "value", "user_id"
    )
    left = ev.filter(F.col("event_id") % 13 != 0)
    right = ev.filter(F.col("event_id") % 11 != 0).withColumn(
        "value",
        F.when(F.col("event_id") % 7 == 0, F.col("value") * 2.0).otherwise(
            F.col("value")
        ),
    )
    return table_diff(left, right, ["event_id"]).orderBy("event_id")


SQL_SNAPSHOT_DIFF = """
WITH ev AS (
  SELECT event_id, event_type, value, user_id FROM events),
l AS (SELECT * FROM ev WHERE event_id % 13 != 0),
r AS (
  SELECT event_id, event_type,
    CASE WHEN event_id % 7 = 0 THEN value * 2.0 ELSE value END AS value,
    user_id
  FROM ev WHERE event_id % 11 != 0),
j AS (
  SELECT coalesce(l.event_id, r.event_id) AS event_id,
    l.event_id IS NOT NULL AS in_l, r.event_id IS NOT NULL AS in_r,
    l.event_type IS NOT DISTINCT FROM r.event_type AS same_t,
    l.value IS NOT DISTINCT FROM r.value AS same_v,
    l.user_id IS NOT DISTINCT FROM r.user_id AS same_u
  FROM l FULL JOIN r ON l.event_id = r.event_id)
SELECT event_id,
  CASE WHEN NOT in_l THEN 'added'
       WHEN NOT in_r THEN 'removed'
       WHEN NOT (same_t AND same_v AND same_u) THEN 'changed'
  END AS status,
  CASE WHEN in_l AND in_r THEN concat_ws(',',
    CASE WHEN NOT same_t THEN 'event_type' END,
    CASE WHEN NOT same_v THEN 'value' END,
    CASE WHEN NOT same_u THEN 'user_id' END)
  END AS changed_cols
FROM j
WHERE CASE WHEN NOT in_l THEN 'added'
           WHEN NOT in_r THEN 'removed'
           WHEN NOT (same_t AND same_v AND same_u) THEN 'changed'
      END IS NOT NULL
ORDER BY event_id
"""

MISC_QUERIES["snapshot_diff"] = (q_snapshot_diff, SQL_SNAPSHOT_DIFF)


def q_lineitem_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    """Order-independent multiset fingerprint of lineitem's key
    columns (operators/expectations.py:table_fingerprint) — the
    two-number dataset equality check for migrations and
    cross-cluster reconciliation. Exact decimal sum of per-row keyed
    md5 hashes; emitted as a string (integral decimals render
    identically in both engines)."""
    from gcp_data_pipeline_fyp_spark.operators.expectations import (
        table_fingerprint,
    )

    li = load(spark, sf, "lineitem")
    return table_fingerprint(
        li, ["l_orderkey", "l_partkey", "l_suppkey", "l_returnflag",
             "l_linestatus"]
    )


def _fp_tok(c: str) -> str:
    return (
        f"CASE WHEN {c} IS NULL THEN '-1:' ELSE concat("
        f"CAST(length(CAST({c} AS VARCHAR)) AS VARCHAR), ':', "
        f"CAST({c} AS VARCHAR)) END"
    )


SQL_LINEITEM_FINGERPRINT = f"""
SELECT CAST(count(*) AS BIGINT) AS n_rows,
  CAST(sum(CAST(cast(concat('0x', substr(md5(concat(
    {_fp_tok('l_orderkey')}, {_fp_tok('l_partkey')},
    {_fp_tok('l_suppkey')}, {_fp_tok('l_returnflag')},
    {_fp_tok('l_linestatus')})), 1, 15)) AS BIGINT) AS HUGEINT))
    AS VARCHAR) AS checksum
FROM lineitem
"""

MISC_QUERIES["lineitem_fingerprint"] = (
    q_lineitem_fingerprint,
    SQL_LINEITEM_FINGERPRINT,
)


# ------------------------------------------- spatial radius join (r7)
def q_geo_radius_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Grid-bucketed spatial join (operators/asof.py:geo_radius_join):
    event pairs within 25 km great-circle distance, coordinates
    derived deterministically from ids. The 3x3 cell explode is the
    pigeonhole recall guarantee; exact haversine verifies candidates;
    the radius gate compares integer micro-km. Never all-pairs —
    shuffle carries (cell, id, 2 doubles)."""
    from pyspark.sql import functions as F

    from gcp_data_pipeline_fyp_spark.operators.asof import geo_radius_join

    ev = load(spark, sf, "events").select(
        "event_id",
        ((F.col("user_id") % 12000) / 100.0 - 60.0).alias("lat"),
        ((F.col("event_id") % 36000) / 100.0 - 180.0).alias("lon"),
    )
    left = ev.filter(F.col("event_id") % 97 == 0)
    right = ev.filter(F.col("event_id") % 89 == 0)
    out = geo_radius_join(left, right, 25.0)
    return out.select(
        "event_id", "event_id_r", "distance_km_micro"
    ).orderBy("event_id", "event_id_r")


SQL_GEO_RADIUS_PAIRS = """
WITH pts AS (
  SELECT event_id,
    (user_id % 12000) / 100.0 - 60.0 AS lat,
    (event_id % 36000) / 100.0 - 180.0 AS lon
  FROM events),
l AS (SELECT * FROM pts WHERE event_id % 97 = 0),
r AS (SELECT * FROM pts WHERE event_id % 89 = 0),
lc AS (
  SELECT event_id, lat, lon,
    CAST(floor(lat / 0.6566215415386019) AS BIGINT) + dla AS cla,
    CAST(floor((lon + sh) / 0.6566215415386019) AS BIGINT) + dlo AS clo
  FROM l
  CROSS JOIN (SELECT unnest([-1, 0, 1]) AS dla)
  CROSS JOIN (SELECT unnest([-1, 0, 1]) AS dlo)
  CROSS JOIN (SELECT unnest([0.0, -360.0, 360.0]) AS sh)
  WHERE sh = 0.0
     OR (sh = -360.0 AND lon >= 179.3433784584614)
     OR (sh = 360.0 AND lon <= -179.3433784584614)),
rc AS (
  SELECT event_id AS event_id_r, lat AS lat_r, lon AS lon_r,
    CAST(floor(lat / 0.6566215415386019) AS BIGINT) AS cla,
    CAST(floor(lon / 0.6566215415386019) AS BIGINT) AS clo
  FROM r),
cand AS (
  SELECT lc.event_id, lc.lat, lc.lon, rc.event_id_r, rc.lat_r, rc.lon_r
  FROM lc JOIN rc ON lc.cla = rc.cla AND lc.clo = rc.clo),
d AS (
  SELECT event_id, event_id_r,
    CAST(round((2.0 * 6371.0088 * asin(sqrt(
        sin(radians(lat_r - lat) / 2.0) * sin(radians(lat_r - lat) / 2.0)
      + cos(radians(lat)) * cos(radians(lat_r))
        * sin(radians(lon_r - lon) / 2.0)
        * sin(radians(lon_r - lon) / 2.0)))) * 1000000.0) AS BIGINT)
      AS distance_km_micro
  FROM cand)
SELECT event_id, event_id_r, distance_km_micro
FROM d WHERE distance_km_micro <= 25000000
ORDER BY event_id, event_id_r
"""

MISC_QUERIES["geo_radius_pairs"] = (
    q_geo_radius_pairs,
    SQL_GEO_RADIUS_PAIRS,
)


def q_cms_join_size(spark: SparkSession, sf: str) -> DataFrame:
    """Join-cardinality estimation from sketches (operators/sketch.py:
    cms_join_size): how many row pairs would the user_id equi-join of
    the two month-halves produce — answered from two count-min grids
    without shuffling either side, beside the exact answer for
    context. The CM inner product upper-bounds the truth; min over
    depths is the estimate. All integers; emitted as strings (the
    decimal/hugeint cross-engine render convention)."""
    from pyspark.sql import functions as F

    from gcp_data_pipeline_fyp_spark.operators.sketch import (
        cms_join_size,
        cms_state,
    )

    ev = load(spark, sf, "events")
    a = ev.filter(F.dayofmonth("ts") <= 15)
    b = ev.filter(F.dayofmonth("ts") > 15)
    est = cms_join_size(
        cms_state(a, "user_id", 4, 512), cms_state(b, "user_id", 4, 512)
    )
    ca = a.groupBy("user_id").agg(F.count(F.lit(1)).alias("ca"))
    cb = b.groupBy("user_id").agg(F.count(F.lit(1)).alias("cb"))
    truth = ca.join(cb, "user_id").agg(
        F.sum(F.col("ca").cast("decimal(38,0)") * F.col("cb"))
        .cast("decimal(38,0)")
        .cast("string")
        .alias("true_join_size")
    )
    return est.crossJoin(F.broadcast(truth))


SQL_CMS_JOIN_SIZE = """
WITH a0 AS (SELECT user_id FROM events WHERE day(ts) <= 15),
b0 AS (SELECT user_id FROM events WHERE day(ts) > 15),
ds AS (SELECT unnest([0, 1, 2, 3]) AS d),
sa AS (
  SELECT d,
    cast(concat('0x', substr(md5(concat(CAST(d AS VARCHAR), '_',
      CAST(user_id AS VARCHAR))), 1, 15)) AS BIGINT) % 512 AS bucket,
    count(*) AS cnt
  FROM a0 CROSS JOIN ds GROUP BY 1, 2),
sb AS (
  SELECT d,
    cast(concat('0x', substr(md5(concat(CAST(d AS VARCHAR), '_',
      CAST(user_id AS VARCHAR))), 1, 15)) AS BIGINT) % 512 AS bucket,
    count(*) AS cnt
  FROM b0 CROSS JOIN ds GROUP BY 1, 2),
ip AS (
  SELECT sa.d, sum(CAST(sa.cnt AS HUGEINT) * sb.cnt) AS ip
  FROM sa JOIN sb ON sa.d = sb.d AND sa.bucket = sb.bucket
  GROUP BY 1),
est AS (SELECT CAST(min(ip) AS VARCHAR) AS est_join_size FROM ip),
tr AS (
  SELECT CAST(sum(CAST(ca AS HUGEINT) * cb) AS VARCHAR)
    AS true_join_size
  FROM (SELECT user_id, count(*) AS ca FROM a0 GROUP BY 1) x
  JOIN (SELECT user_id, count(*) AS cb FROM b0 GROUP BY 1) y
    USING (user_id))
SELECT est_join_size, true_join_size FROM est CROSS JOIN tr
"""

MISC_QUERIES["cms_join_size"] = (q_cms_join_size, SQL_CMS_JOIN_SIZE)


# ------------------------------------- salted top-k per group (r8)
def q_salted_topk_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Skew-resistant top-k (operators/skew.py:salted_topk_per_group):
    the 3 highest-value orders per customer segment, ranked in two
    pruned phases (per-(group, salt) window then a buckets*k-bounded
    final window) instead of one per-group global sort. The oracle IS
    the naive row_number form — certifying the salted plan's exact
    output equality, the same invariance discipline as
    salted_agg_events."""
    from pyspark.sql import functions as F

    from gcp_data_pipeline_fyp_spark.operators.skew import (
        salted_topk_per_group,
    )

    orders = load(spark, sf, "orders").join(
        F.broadcast(
            load(spark, sf, "customer").select("c_custkey", "c_mktsegment")
        ),
        F.col("o_custkey") == F.col("c_custkey"),
    )
    out = salted_topk_per_group(
        orders.select(
            "c_mktsegment", "o_orderkey",
            F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
        ),
        ["c_mktsegment"], "price", "o_orderkey", k=3, buckets=8,
    )
    return out.select(
        "c_mktsegment",
        "o_orderkey",
        (F.col("price") * 100).cast("long").alias("price_cents"),
        "rank_in_group",
    ).orderBy("c_mktsegment", "rank_in_group")


SQL_SALTED_TOPK_ORDERS = """
WITH j AS (
  SELECT c_mktsegment, o_orderkey,
         CAST(o_totalprice AS DECIMAL(18,2)) AS price
  FROM orders JOIN customer ON o_custkey = c_custkey),
r AS (
  SELECT *, row_number() OVER (
    PARTITION BY c_mktsegment ORDER BY price DESC, o_orderkey)
    AS rank_in_group
  FROM j)
SELECT c_mktsegment, o_orderkey,
  CAST(price * 100 AS BIGINT) AS price_cents,
  CAST(rank_in_group AS BIGINT) AS rank_in_group
FROM r WHERE rank_in_group <= 3
ORDER BY c_mktsegment, rank_in_group
"""

MISC_QUERIES["salted_topk_orders"] = (
    q_salted_topk_orders,
    SQL_SALTED_TOPK_ORDERS,
)


# ------------------------------------------------- small-file compaction
def q_compacted_scan(spark: SparkSession, sf: str) -> DataFrame:
    """Compaction round-trip certified by content (operators/
    maintenance.py): events append in 12 fragment slices (the
    streaming-ingest file pattern), compact_table bin-packs both the
    unpartitioned and the per-partition path, and the probe returns an
    aggregate over the COMPACTED table — the oracle computes the same
    aggregate from the pristine source, so any row lost, duplicated,
    or corrupted by the rewrite hash-mismatches."""
    import os

    from gcp_data_pipeline_fyp_spark.operators.maintenance import (
        compact_table,
    )
    from gcp_data_pipeline_fyp_spark.sources.tables import Warehouse

    scratch = scratch_dir(spark, "compact", sf)
    wh = Warehouse(spark, scratch)
    ev = load(spark, sf, "events").select(
        "event_id", "event_type", "user_id", "value"
    )
    wh.drop("EVC")
    for i in range(12):
        wh.append(
            ev.filter(F.col("event_id") % 12 == i).repartition(3), "EVC"
        )
    compact_table(wh, "EVC", target_file_bytes=1 << 30)
    return (
        wh.read("EVC")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
            micro6(
                F.sum(F.col("value").cast("decimal(20,4)")).cast("double")
            ).alias("sum_value_micro"),
        )
        .orderBy("event_type")
    )


SQL_COMPACTED_SCAN = f"""
SELECT event_type, count(*) AS n_events,
  count(DISTINCT user_id) AS n_users,
  {micro6_sql("CAST(sum(CAST(value AS DECIMAL(20,4))) AS DOUBLE)")}
    AS sum_value_micro
FROM events GROUP BY event_type ORDER BY event_type
"""

MISC_QUERIES["compacted_scan"] = (q_compacted_scan, SQL_COMPACTED_SCAN)


# ------------------------------------------------- JSONL validated scan
def q_jsonl_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """JSONL source certified by content (sources/jsonl.py: read_jsonl
    + split_corrupt + write_jsonl — the module public corpora flow
    through): documents round-trip through a JSONL directory with 3
    planted malformed lines; the probe aggregates the GOOD route per
    lang and carries the bad-route count — the oracle computes the
    same aggregate from the pristine parquet plus the literal plant
    count, so a lost/dup/mis-typed row or a mis-routed corrupt line
    hash-mismatches."""
    import gzip
    import os
    import shutil

    from gcp_data_pipeline_fyp_spark.sources.jsonl import (
        read_jsonl,
        split_corrupt,
        write_jsonl,
    )

    scratch = scratch_dir(spark, "jsonl", sf)
    shutil.rmtree(scratch, ignore_errors=True)
    d = load(spark, sf, "documents").select(
        "doc_id", "text", "lang", "n_chars"
    )
    write_jsonl(d, scratch)  # gzip, the public-corpus convention
    with gzip.open(
        os.path.join(scratch, "zz_bad_lines.json.gz"), "wt"
    ) as fh:
        fh.write(
            "{broken line one\n"
            '{"doc_id": "not a number", "text": "x", "lang": "en", "n_chars": "y"}\n'
            "[1, 2, 3\n"
        )
    good, bad = split_corrupt(
        read_jsonl(
            spark, scratch,
            "doc_id long, text string, lang string, n_chars long",
        )
    )
    agg = good.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
    )
    n_bad = bad.agg(F.count(F.lit(1)).alias("n_rejected"))
    return agg.crossJoin(n_bad).orderBy("lang")


SQL_JSONL_ROUNDTRIP = """
SELECT lang, count(*) AS n_docs,
  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
  CAST(3 AS BIGINT) AS n_rejected
FROM documents GROUP BY lang ORDER BY lang
"""

MISC_QUERIES["jsonl_roundtrip"] = (q_jsonl_roundtrip, SQL_JSONL_ROUNDTRIP)


# --------------------------------------- incremental dedup-graph closure
def q_incremental_components(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental transitive closure (operators/components.py:
    build_components_index + incremental_components): the base pair
    graph closes once and persists as a (node, component) star; a
    daily batch folds in at |nodes| + |batch| edges — the historical
    EDGE set is never re-read. The oracle closes base ∪ batch in one
    recursive CTE, so the spanning-star invariance argument is
    certified, not assumed (merges across the old/new boundary
    included by construction: batch pairs bridge id ranges)."""
    import os

    from gcp_data_pipeline_fyp_spark.operators.components import (
        build_components_index,
        incremental_components,
    )
    from gcp_data_pipeline_fyp_spark.sources.tables import Warehouse

    d = load(spark, sf, "documents").select("doc_id")
    base = (
        d.filter(F.col("doc_id") % 10 < 3)
        .select(
            F.col("doc_id").alias("id_a"),
            (F.col("doc_id") + 1).alias("id_b"),
        )
    )
    batch = (
        d.filter(F.col("doc_id") % 17 == 0)
        .select(
            F.col("doc_id").alias("id_a"),
            (F.col("doc_id") + 5).alias("id_b"),
        )
    )
    scratch = scratch_dir(spark, "cc", sf)
    wh = Warehouse(spark, scratch)
    build_components_index(wh, base, "CC")
    out = incremental_components(wh, batch, "CC", update_index=False)
    return out.orderBy("node")


SQL_INCREMENTAL_COMPONENTS = """
WITH RECURSIVE
base AS (
  SELECT doc_id AS id_a, doc_id + 1 AS id_b FROM documents
  WHERE doc_id % 10 < 3),
batch AS (
  SELECT doc_id AS id_a, doc_id + 5 AS id_b FROM documents
  WHERE doc_id % 17 = 0),
allp AS (SELECT * FROM base UNION SELECT * FROM batch),
ed AS (SELECT id_a AS a, id_b AS b FROM allp
       UNION SELECT id_b, id_a FROM allp),
reach(v, l) AS (
  SELECT a, a FROM ed
  UNION
  SELECT e.a, r.l FROM ed e JOIN reach r ON e.b = r.v)
SELECT v AS node, min(l) AS component FROM reach GROUP BY v
ORDER BY node
"""

MISC_QUERIES["incremental_components"] = (
    q_incremental_components,
    SQL_INCREMENTAL_COMPONENTS,
)


# ------------------------------------------------- schema evolution
def q_schema_evolution_scan(spark: SparkSession, sf: str) -> DataFrame:
    """Additive schema evolution without a metastore (sources/
    tables.py: read_evolved): v1 files carry (doc_id, lang), a later
    append adds a quality column; the mergeSchema read unions every
    footer so v1 rows surface quality = NULL — the oracle computes
    the identical union view from the pristine table, so a dropped
    column, a missed late column, or wrong NULL semantics all
    hash-mismatch."""
    import os

    from gcp_data_pipeline_fyp_spark.sources.tables import Warehouse

    scratch = scratch_dir(spark, "evo", sf)
    wh = Warehouse(spark, scratch)
    d = load(spark, sf, "documents")
    wh.drop("EVO")
    wh.overwrite(
        d.filter(F.col("doc_id") % 2 == 0).select("doc_id", "lang"), "EVO"
    )
    wh.append(
        d.filter(F.col("doc_id") % 2 == 1).select(
            "doc_id", "lang", (F.col("n_chars") * 10).alias("quality")
        ),
        "EVO",
    )
    return (
        wh.read_evolved("EVO")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("quality").alias("n_with_quality"),
            F.sum("quality").alias("sum_quality"),
        )
        .orderBy("lang")
    )


SQL_SCHEMA_EVOLUTION_SCAN = """
WITH v AS (
  SELECT doc_id, lang, NULL::BIGINT AS quality FROM documents
  WHERE doc_id % 2 = 0
  UNION ALL
  SELECT doc_id, lang, n_chars * 10 AS quality FROM documents
  WHERE doc_id % 2 = 1)
SELECT lang, count(*) AS n_docs,
  count(quality) AS n_with_quality,
  CAST(sum(quality) AS BIGINT) AS sum_quality
FROM v GROUP BY lang ORDER BY lang
"""

MISC_QUERIES["schema_evolution_scan"] = (
    q_schema_evolution_scan,
    SQL_SCHEMA_EVOLUTION_SCAN,
)


def q_orc_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """ORC format round-trip certified by content: documents written
    to ORC (Spark-native columnar alternative to parquet — ACID
    Hive-ecosystem interchange), read back, and aggregated — the
    oracle computes the same aggregate from the pristine parquet, so
    any row lost, truncated, or type-mangled by the ORC encode/decode
    hash-mismatches. Scratch dir keyed on (applicationId, sf
    basename) so concurrent runs — or distinct sf dirs sharing a
    basename — never race on each other's partially-overwritten
    output (ADVICE r9)."""
    d = load(spark, sf, "documents")
    scratch = scratch_dir(spark, "orc", sf)
    d.write.mode("overwrite").orc(scratch)
    back = spark.read.orc(scratch)
    return (
        back.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("chars"),
            F.sum(F.length("text")).alias("text_chars"),
        )
        .orderBy("lang")
    )


SQL_ORC_ROUNDTRIP = """
SELECT lang, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS chars,
       CAST(sum(length(text)) AS BIGINT) AS text_chars
FROM documents GROUP BY lang ORDER BY lang
"""

MISC_QUERIES["orc_roundtrip"] = (q_orc_roundtrip, SQL_ORC_ROUNDTRIP)
