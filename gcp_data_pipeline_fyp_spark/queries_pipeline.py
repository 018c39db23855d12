"""Driver-facing probes for the ELT operator surface (SURVEY.md §2.2-§2.4).

Each entry applies an engine operator to the driver's synthetic tables
(`events` stands in for the raw feed, `nation`/`region` for the states
lookup — FIXTURES.md §4) and carries the DuckDB oracle SQL computing
the same thing, so the driver's hash compare certifies the operator.

Analog mapping used for the quality-gate / banding probes:
event_type <-> type ('error' plays 'earthquake'), value <-> depth,
value/20 <-> mag, k (the digits in props) <-> depthError, k/100 <->
magError.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gcp_data_pipeline_fyp_spark.functions.banding import (
    depth_band,
    mag_band,
    null_fallback_adjust,
)
from gcp_data_pipeline_fyp_spark.functions.cleaning import null_coerce, safe_double
from gcp_data_pipeline_fyp_spark.functions.geo import parse_place
from gcp_data_pipeline_fyp_spark.functions.ids import stable_event_id
from gcp_data_pipeline_fyp_spark.functions.timeops import (
    DATE_DIM_ORACLE_SQL,
    date_dim_columns,
    utc_to_local_string,
)
from gcp_data_pipeline_fyp_spark.operators.keys import new_dimension_rows
from gcp_data_pipeline_fyp_spark.operators.merge import merge_upsert
from gcp_data_pipeline_fyp_spark.operators.quality import quality_split
from gcp_data_pipeline_fyp_spark.queries_util import dec_avg, dec_avg_sql, load

def _K() -> "F.Column":
    """The k digits in props — the probe's error-column analog."""
    return F.regexp_extract(F.col("props"), "[0-9]+", 0)


def _events(spark: SparkSession, sf: str) -> DataFrame:
    return load(spark, sf, "events")


# ---------------------------------------------------------------- P2/P5
def q_stg_null_coerce(spark: SparkSession, sf: str) -> DataFrame:
    ev = _events(spark, sf)
    return ev.select(
        "event_id",
        null_coerce("event_type").alias("lb_type"),
        null_coerce((F.col("user_id") % 10).cast("string")).alias("lb_net"),
        null_coerce(_K()).alias("lb_k"),
    )


SQL_STG_NULL_COERCE = """
SELECT event_id,
  CASE WHEN trim(event_type) IN ('', '0') THEN NULL ELSE trim(event_type) END AS lb_type,
  CASE WHEN trim(cast(user_id % 10 AS varchar)) IN ('', '0') THEN NULL
       ELSE trim(cast(user_id % 10 AS varchar)) END AS lb_net,
  CASE WHEN trim(regexp_extract(props, '[0-9]+', 0)) IN ('', '0') THEN NULL
       ELSE trim(regexp_extract(props, '[0-9]+', 0)) END AS lb_k
FROM events
"""


# ----------------------------------------------------- P7/P8/P9/P10/P13
def q_ods_typed_banding(spark: SparkSession, sf: str) -> DataFrame:
    ev = _events(spark, sf)
    depth_err = safe_double(null_coerce(_K()))
    mag_err = depth_err / F.lit(100.0)
    depth = F.col("value")
    mag = F.col("value") / F.lit(20.0)
    n_depth = null_fallback_adjust(depth, depth_err)
    n_mag = null_fallback_adjust(mag, mag_err)
    return ev.select(
        "event_id",
        n_depth.alias("vl_n_depth"),
        depth_band(n_depth).alias("lb_depthcategory"),
        n_mag.alias("vl_n_mag"),
        mag_band(n_mag).alias("lb_magcategory"),
    )


SQL_ODS_TYPED_BANDING = """
WITH t AS (
  SELECT event_id, value,
    try_cast(CASE WHEN trim(regexp_extract(props, '[0-9]+', 0)) IN ('', '0') THEN NULL
             ELSE trim(regexp_extract(props, '[0-9]+', 0)) END AS double) AS depth_err
  FROM events),
d AS (
  SELECT event_id,
    CASE WHEN value IS NOT NULL AND depth_err IS NOT NULL
         THEN value + 0.5 * depth_err ELSE value END AS vl_n_depth,
    CASE WHEN value IS NOT NULL AND depth_err / 100.0 IS NOT NULL
         THEN value / 20.0 + 0.5 * (depth_err / 100.0) ELSE value / 20.0 END AS vl_n_mag
  FROM t)
SELECT event_id, vl_n_depth,
  CASE WHEN vl_n_depth IS NULL THEN NULL
       WHEN vl_n_depth <= 70 THEN 'Shallow'
       WHEN vl_n_depth <= 300 THEN 'Intermediate'
       ELSE 'Deep' END AS lb_depthcategory,
  vl_n_mag,
  CASE WHEN vl_n_mag IS NULL THEN NULL
       WHEN vl_n_mag < 3 THEN 'Not Felt'
       WHEN vl_n_mag < 4 THEN 'Minor'
       WHEN vl_n_mag < 5 THEN 'Light'
       WHEN vl_n_mag < 6 THEN 'Moderate'
       WHEN vl_n_mag < 7 THEN 'Strong'
       WHEN vl_n_mag < 8 THEN 'Major'
       ELSE 'Great' END AS lb_magcategory
FROM d
"""


# ------------------------------------------------------------------ P12
def q_event_id_hash(spark: SparkSession, sf: str) -> DataFrame:
    ev = _events(spark, sf)
    key_ts = F.date_format("ts", "yyyy-MM-dd HH:mm:ss")
    return ev.select(
        "event_id",
        stable_event_id(key_ts, F.col("user_id"), F.col("event_type")).alias(
            "id_event"
        ),
    )


SQL_EVENT_ID_HASH = """
SELECT event_id,
  cast(concat('0x', substr(md5(concat_ws('_',
    strftime(ts, '%Y-%m-%d %H:%M:%S'),
    cast(user_id AS varchar), event_type)), 1, 15)) AS bigint) AS id_event
FROM events
"""


# ------------------------------------------------------------------ P11
def q_tz_convert(spark: SparkSession, sf: str) -> DataFrame:
    ev = _events(spark, sf)
    return ev.select("event_id", utc_to_local_string("ts").alias("lb_local_time"))


SQL_TZ_CONVERT = """
SELECT event_id,
  strftime(timezone('Europe/Bucharest', ts AT TIME ZONE 'UTC'),
           '%Y-%m-%d %H:%M:%S') AS lb_local_time
FROM events
"""


# ------------------------------------------------------------------ P16
def q_date_dim(spark: SparkSession, sf: str) -> DataFrame:
    ev = _events(spark, sf)
    dates = ev.select(F.col("ts").cast("date").alias("d")).distinct()
    cols = date_dim_columns("d")
    # DT_date surfaces as timestamp: Spark DATE collects to python date
    # objects while DuckDB DATE collects to datetime64 — a false hash
    # mismatch; midnight timestamps compare identically in both.
    cols["DT_date"] = cols["DT_date"].cast("timestamp")
    return dates.select(*[e.alias(n) for n, e in cols.items()])


SQL_DATE_DIM = "SELECT " + ", ".join(
    ("cast({} AS timestamp)".format(tmpl.format(d="d")) if name == "DT_date"
     else tmpl.format(d="d")) + f" AS {name}"
    for name, tmpl in DATE_DIM_ORACLE_SQL.items()
) + " FROM (SELECT DISTINCT cast(ts AS date) AS d FROM events)"


# -------------------------------------------------------------- P14/P15/J1
def q_place_parse(spark: SparkSession, sf: str) -> DataFrame:
    nation = load(spark, sf, "nation")
    region = load(spark, sf, "region")
    nr = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey", "n_name", "r_name")
    mod = F.col("n_nationkey") % 3
    place = (
        F.when(mod == 0, F.concat(F.lit("southern "), F.col("n_name")))
        .when(
            mod == 1,
            F.concat(
                F.lit("12km SW of "), F.col("n_name"), F.lit(", ZZ "), F.col("r_name")
            ),
        )
        .otherwise(
            F.concat(
                F.col("n_name"), F.lit(", "), F.upper(F.substring("r_name", 1, 2))
            )
        )
    )
    placed = nr.select("n_nationkey", place.alias("lb_place"))
    lookup = region.select(
        F.col("r_name").alias("__state_key"), F.col("r_name").alias("__state_name")
    ).unionByName(
        region.select(
            F.upper(F.substring("r_name", 1, 2)).alias("__state_key"),
            F.col("r_name").alias("__state_name"),
        )
    )
    parsed = parse_place(placed, lookup, place_col="lb_place",
                         region_col="lb_region", country_col="lb_country")
    return parsed.select("n_nationkey", "lb_place", "lb_region", "lb_country")


SQL_PLACE_PARSE = """
WITH nr AS (
  SELECT n_nationkey,
    CASE cast(n_nationkey % 3 AS int)
      WHEN 0 THEN 'southern ' || n_name
      WHEN 1 THEN '12km SW of ' || n_name || ', ZZ ' || r_name
      ELSE n_name || ', ' || upper(substr(r_name, 1, 2))
    END AS lb_place
  FROM nation JOIN region ON n_regionkey = r_regionkey),
lkp AS (
  SELECT r_name AS k, r_name AS name FROM region
  UNION ALL
  SELECT upper(substr(r_name, 1, 2)) AS k, r_name AS name FROM region),
parts AS (
  SELECT n_nationkey, lb_place,
    lb_place LIKE '%,%' AS has_comma,
    trim(regexp_extract(lb_place, '^(.*),[^,]*$', 1)) AS left_part,
    trim(regexp_extract(lb_place, ',([^,]*)$', 1)) AS right_tok
  FROM nr),
j AS (
  SELECT p.*, lkp.name AS state_name
  FROM parts p LEFT JOIN lkp ON p.has_comma AND p.right_tok = lkp.k)
SELECT n_nationkey, lb_place,
  CASE WHEN NOT has_comma THEN trim(lb_place)
       WHEN state_name IS NOT NULL THEN state_name
       WHEN regexp_extract(left_part, '(?i)of\\s+(.+)$', 1) <> ''
         THEN regexp_extract(left_part, '(?i)of\\s+(.+)$', 1)
       ELSE left_part END AS lb_region,
  CASE WHEN NOT has_comma THEN NULL
       WHEN state_name IS NOT NULL THEN 'USA'
       ELSE right_tok END AS lb_country
FROM j
"""


# ------------------------------------------------------------- A1-A3
_TYPE_DIM = {"type": (["event_type"], "id_type")}


def q_surrogate_keys(spark: SparkSession, sf: str) -> DataFrame:
    ev = _events(spark, sf)
    return new_dimension_rows(ev, _TYPE_DIM)["type"].withColumnRenamed(
        "event_type", "lb_type"
    )


SQL_SURROGATE_KEYS = """
SELECT row_number() OVER (ORDER BY event_type) AS id_type, event_type AS lb_type
FROM (SELECT DISTINCT event_type FROM events)
"""


# ------------------------------------------------------------- A3-A5/J4
def q_surrogate_keys_incremental(spark: SparkSession, sf: str) -> DataFrame:
    ev = _events(spark, sf)
    seed = ev.filter(F.col("event_type").isin("click", "error"))
    existing = new_dimension_rows(seed, _TYPE_DIM)["type"]
    # left out when the delivery brings no new type
    new = new_dimension_rows(ev, _TYPE_DIM, {"type": existing})
    full = reduce(DataFrame.unionByName, new.values(), existing)
    return full.withColumnRenamed("event_type", "lb_type")


SQL_SURROGATE_KEYS_INCREMENTAL = """
WITH existing AS (
  SELECT row_number() OVER (ORDER BY event_type) AS id_type, event_type
  FROM (SELECT DISTINCT event_type FROM events WHERE event_type IN ('click','error'))),
fresh AS (
  SELECT DISTINCT event_type FROM events
  WHERE event_type NOT IN (SELECT event_type FROM existing)),
newr AS (
  SELECT (SELECT count(*) FROM existing) + row_number() OVER (ORDER BY event_type)
           AS id_type, event_type
  FROM fresh)
SELECT id_type, event_type AS lb_type FROM existing
UNION ALL
SELECT id_type, event_type AS lb_type FROM newr
"""


# ---------------------------------------------------------------- J2/J3
def q_anti_join_dedup(spark: SparkSession, sf: str) -> DataFrame:
    ev = _events(spark, sf)
    incoming = ev.filter(F.col("event_id") % 3 == 0)
    existing_ids = ev.filter(F.col("event_id") % 5 == 0).select("event_id")
    return incoming.join(existing_ids, "event_id", "left_anti").select(
        "event_id", "event_type", "value"
    )


SQL_ANTI_JOIN_DEDUP = """
SELECT event_id, event_type, value FROM events
WHERE event_id % 3 = 0
  AND event_id NOT IN (SELECT event_id FROM events WHERE event_id % 5 = 0)
"""


# ------------------------------------------------------------------- J6
def q_merge_upsert(spark: SparkSession, sf: str) -> DataFrame:
    ev = _events(spark, sf).select("event_id", "event_type", "value")
    base = ev.filter(F.col("event_id") % 2 == 0)
    updates = ev.filter(F.col("event_id") % 3 == 0).withColumn(
        "value", F.col("value") * 2
    )
    return merge_upsert(base, updates, ["event_id"])


SQL_MERGE_UPSERT = """
WITH base AS (
  SELECT event_id, event_type, value FROM events WHERE event_id % 2 = 0),
updates AS (
  SELECT event_id, event_type, value * 2 AS value FROM events WHERE event_id % 3 = 0)
SELECT
  coalesce(u.event_id, b.event_id) AS event_id,
  CASE WHEN u.event_id IS NOT NULL THEN u.event_type ELSE b.event_type END AS event_type,
  CASE WHEN u.event_id IS NOT NULL THEN u.value ELSE b.value END AS value
FROM base b FULL OUTER JOIN updates u ON b.event_id = u.event_id
"""


def q_merge_upsert_partitioned(spark: SparkSession, sf: str) -> DataFrame:
    """Partition-scoped MERGE (operators/merge.py:merge_upsert_partitioned)
    — the daily 100 TB fact reconciliation: only base partitions present
    in the update batch are rewritten (broadcast semi join prunes the
    base scan); returns the affected partitions' post-merge rows for a
    dynamic-partition-overwrite write. Updates here touch the month's
    first 3 days: matched rows take the doubled value, new ids insert,
    untouched rows in those days survive."""
    from gcp_data_pipeline_fyp_spark.operators.merge import (
        merge_upsert_partitioned,
    )

    ev = _events(spark, sf).select(
        "event_id",
        F.to_date("ts").alias("p_day"),
        "event_type",
        "value",
    )
    base = ev.filter(F.col("event_id") % 2 == 0)
    updates = ev.filter(
        (F.col("event_id") % 3 == 0) & (F.dayofmonth("p_day") <= 3)
    ).withColumn("value", F.col("value") * 2)
    merged = merge_upsert_partitioned(base, updates, ["event_id"], "p_day")
    # date -> string on the cert surface (Spark hands pandas
    # datetime.date objects, DuckDB datetime64 — same day, different
    # canonical form)
    return merged.withColumn("p_day", F.date_format("p_day", "yyyy-MM-dd"))


SQL_MERGE_UPSERT_PARTITIONED = """
WITH ev AS (
  SELECT event_id, CAST(ts AS DATE) AS p_day, event_type, value FROM events),
base AS (SELECT * FROM ev WHERE event_id % 2 = 0),
updates AS (
  SELECT event_id, p_day, event_type, value * 2 AS value FROM ev
  WHERE event_id % 3 = 0 AND day(p_day) <= 3),
scoped AS (
  SELECT b.* FROM base b
  WHERE b.p_day IN (SELECT DISTINCT p_day FROM updates))
SELECT
  coalesce(u.event_id, b.event_id) AS event_id,
  strftime(CASE WHEN u.event_id IS NOT NULL THEN u.p_day ELSE b.p_day END,
           '%Y-%m-%d') AS p_day,
  CASE WHEN u.event_id IS NOT NULL THEN u.event_type ELSE b.event_type END
    AS event_type,
  CASE WHEN u.event_id IS NOT NULL THEN u.value ELSE b.value END AS value
FROM scoped b FULL OUTER JOIN updates u ON b.event_id = u.event_id
"""


# ------------------------------------------------------------------- P3
def _gate_predicate() -> F.Column:
    k = safe_double(null_coerce(_K()))
    return (F.col("event_type") == "error") & (
        (F.coalesce(F.col("value"), F.lit(0.0)) < 1)
        | (F.coalesce(k / 100.0, F.lit(0.0)) > 0.5)
        | (F.coalesce(k, F.lit(0.0)) > 30)
        | (F.coalesce(F.col("value") / 20.0, F.lit(0.0)) < 1)
    )


_SQL_GATE = """
  event_type = 'error' AND (
    coalesce(value, 0) < 1
    OR coalesce(k / 100.0, 0) > 0.5
    OR coalesce(k, 0) > 30
    OR coalesce(value / 20.0, 0) < 1)
"""

_SQL_GATE_SRC = """
  SELECT event_id, event_type, value,
    try_cast(CASE WHEN trim(regexp_extract(props, '[0-9]+', 0)) IN ('', '0') THEN NULL
             ELSE trim(regexp_extract(props, '[0-9]+', 0)) END AS double) AS k
  FROM events
"""


def q_quality_gate_accepted(spark: SparkSession, sf: str) -> DataFrame:
    ev = _events(spark, sf)
    accepted, _ = quality_split(ev, _gate_predicate())
    return accepted.select("event_id", "event_type", "value")


def q_quality_gate_rejected(spark: SparkSession, sf: str) -> DataFrame:
    ev = _events(spark, sf)
    _, rejected = quality_split(ev, _gate_predicate())
    return rejected.select("event_id", "event_type", "value")


SQL_QUALITY_GATE_ACCEPTED = (
    "SELECT event_id, event_type, value FROM (" + _SQL_GATE_SRC + ") t "
    "WHERE NOT coalesce(" + _SQL_GATE + ", false)"
)
SQL_QUALITY_GATE_REJECTED = (
    "SELECT event_id, event_type, value FROM (" + _SQL_GATE_SRC + ") t "
    "WHERE " + _SQL_GATE
)


# ------------------------------------------------- Q1-Q12 measure shapes
def q_measure_latest_update(spark: SparkSession, sf: str) -> DataFrame:
    return _events(spark, sf).agg(F.max("ts").alias("latest_daily_update"))


SQL_MEASURE_LATEST_UPDATE = "SELECT max(ts) AS latest_daily_update FROM events"


def q_measure_avg_magnitude(spark: SparkSession, sf: str) -> DataFrame:
    ev = _events(spark, sf).filter(F.col("event_type") == "purchase")
    return ev.agg(dec_avg("value", "avg_purchase_value"))


SQL_MEASURE_AVG_MAGNITUDE = (
    "SELECT "
    + dec_avg_sql("value", "avg_purchase_value")
    + " FROM events WHERE event_type = 'purchase'"
)


def q_measure_max_depth(spark: SparkSession, sf: str) -> DataFrame:
    ev = _events(spark, sf).filter(F.col("event_type") == "error")
    return ev.agg(F.max("value").alias("max_error_value"))


SQL_MEASURE_MAX_DEPTH = (
    "SELECT max(value) AS max_error_value FROM events WHERE event_type = 'error'"
)


def q_measure_max_magnitude(spark: SparkSession, sf: str) -> DataFrame:
    """Q4 MAX magnitude (plans/measures.py:max_earthquake_magnitude;
    reference `DAX Measures Used.txt:20-23`): exercised through the
    actual plan function — events columns renamed to the star schema
    it aggregates (LB_type/VL_n_mag), 'purchase' standing in for the
    'earthquake' type literal on the synthetic tables."""
    from gcp_data_pipeline_fyp_spark.plans.measures import (
        max_earthquake_magnitude,
    )

    star = _events(spark, sf).select(
        F.col("event_type").alias("LB_type"),
        F.col("value").alias("VL_n_mag"),
    )
    mapped = star.withColumn(
        "LB_type",
        F.when(F.col("LB_type") == "purchase", "earthquake").otherwise(
            F.col("LB_type")
        ),
    )
    return max_earthquake_magnitude(mapped)


SQL_MEASURE_MAX_MAGNITUDE = (
    "SELECT max(value) AS max_earthquake_magnitude "
    "FROM events WHERE event_type = 'purchase'"
)


def q_measure_totals_by_type(spark: SparkSession, sf: str) -> DataFrame:
    return (
        _events(spark, sf)
        .groupBy(F.col("event_type").alias("lb_type"))
        .agg(F.count("*").alias("total_events"))
    )


SQL_MEASURE_TOTALS_BY_TYPE = (
    "SELECT event_type AS lb_type, count(*) AS total_events FROM events GROUP BY 1"
)


def q_measure_total_events(spark: SparkSession, sf: str) -> DataFrame:
    return _events(spark, sf).agg(F.count("*").alias("total_seismic_events"))


SQL_MEASURE_TOTAL_EVENTS = "SELECT count(*) AS total_seismic_events FROM events"


def q_measure_sliced_by_day(spark: SparkSession, sf: str) -> DataFrame:
    ev = _events(spark, sf)
    return (
        ev.groupBy(F.date_trunc("DAY", "ts").alias("dt_date"))
        .agg(F.count("*").alias("total_events"), dec_avg("value", "avg_value"))
    )


SQL_MEASURE_SLICED_BY_DAY = (
    "SELECT date_trunc('day', ts) AS dt_date, count(*) AS total_events, "
    + dec_avg_sql("value", "avg_value")
    + " FROM events GROUP BY 1"
)


PIPELINE_QUERIES: dict[str, tuple] = {
    "stg_null_coerce": (q_stg_null_coerce, SQL_STG_NULL_COERCE),
    "ods_typed_banding": (q_ods_typed_banding, SQL_ODS_TYPED_BANDING),
    "event_id_hash": (q_event_id_hash, SQL_EVENT_ID_HASH),
    "tz_convert": (q_tz_convert, SQL_TZ_CONVERT),
    "date_dim": (q_date_dim, SQL_DATE_DIM),
    "place_parse": (q_place_parse, SQL_PLACE_PARSE),
    "surrogate_keys": (q_surrogate_keys, SQL_SURROGATE_KEYS),
    "surrogate_keys_incremental": (
        q_surrogate_keys_incremental,
        SQL_SURROGATE_KEYS_INCREMENTAL,
    ),
    "anti_join_dedup": (q_anti_join_dedup, SQL_ANTI_JOIN_DEDUP),
    "merge_upsert": (q_merge_upsert, SQL_MERGE_UPSERT),
    "merge_upsert_partitioned": (
        q_merge_upsert_partitioned,
        SQL_MERGE_UPSERT_PARTITIONED,
    ),
    "quality_gate_accepted": (q_quality_gate_accepted, SQL_QUALITY_GATE_ACCEPTED),
    "quality_gate_rejected": (q_quality_gate_rejected, SQL_QUALITY_GATE_REJECTED),
    "measure_latest_update": (q_measure_latest_update, SQL_MEASURE_LATEST_UPDATE),
    "measure_avg_magnitude": (q_measure_avg_magnitude, SQL_MEASURE_AVG_MAGNITUDE),
    "measure_max_depth": (q_measure_max_depth, SQL_MEASURE_MAX_DEPTH),
    "measure_max_magnitude": (q_measure_max_magnitude, SQL_MEASURE_MAX_MAGNITUDE),
    "measure_totals_by_type": (q_measure_totals_by_type, SQL_MEASURE_TOTALS_BY_TYPE),
    "measure_total_events": (q_measure_total_events, SQL_MEASURE_TOTAL_EVENTS),
    "measure_sliced_by_day": (q_measure_sliced_by_day, SQL_MEASURE_SLICED_BY_DAY),
}
