"""ODS stage: staging strings -> typed/derived ODS rows (reference ods_*_load2.py).

One `select` of column expressions renders the reference's 27-line
output-dict ParDo (`Full Load Scripts/ods_full_load2.py:111-137`):
safe casts (P7), null-fallback error-adjusted measures (P8), depth/mag
banding (P9/P10), UTC->EEST conversion (P11), deterministic event id
(P12), and the ODS projection/rename (P13). Delta mode adds the
anti-join dedup against already-loaded ids (J2,
`Delta Load Scripts/ods_delta_load2.py:140-150,166-173`) — a left-anti
join, not an AsList side input, so it scales past driver memory.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gcp_data_pipeline_fyp_spark.functions.banding import (
    depth_band,
    mag_band,
    null_fallback_adjust,
)
from gcp_data_pipeline_fyp_spark.functions.cleaning import (
    audit_columns,
    clean_str,
    safe_double,
    safe_long,
)
from gcp_data_pipeline_fyp_spark.functions.ids import stable_event_id
from gcp_data_pipeline_fyp_spark.functions.timeops import utc_to_local_string
from gcp_data_pipeline_fyp_spark.sources.tables import Warehouse


def ods_projection(staged: DataFrame, job_id: str, data_source: str, run_ts: _dt.datetime) -> DataFrame:
    """The 26-column typed ODS projection (ods_full_load2.py:111-137)."""
    mag = safe_double("mag")
    mag_err = safe_double("magError")
    depth = safe_double("depth")
    depth_err = safe_double("depthError")
    n_mag = null_fallback_adjust(mag, mag_err)
    n_depth = null_fallback_adjust(depth, depth_err)
    dt_local = utc_to_local_string("time")
    audit = audit_columns(job_id, data_source, run_ts)
    return staged.select(
        # id hashes the EEST-converted time (delta-load form, ods_delta_load2.py:103,110)
        stable_event_id(dt_local, F.col("latitude"), F.col("longitude")).alias("ID_Event"),
        n_mag.alias("VL_n_mag"),
        mag_band(n_mag).alias("LB_magCategory"),
        n_depth.alias("VL_n_depth"),
        depth_band(n_depth).alias("LB_depthCategory"),
        F.lit(None).cast("string").alias("LB_Region"),
        F.lit(None).cast("string").alias("LB_Country"),
        clean_str("place").alias("LB_place"),
        F.to_timestamp(dt_local).alias("DT_time"),
        safe_double("latitude").alias("VL_latitude"),
        safe_double("longitude").alias("VL_longitude"),
        safe_long("nst").alias("ID_nst"),
        safe_long("gap").alias("ID_gap"),
        safe_double("dmin").alias("VL_dmin"),
        clean_str("net").alias("LB_net"),
        clean_str("type").alias("LB_type"),
        safe_double("horizontalError").alias("VL_horizontalError"),
        safe_long("magNst").alias("ID_magNst"),
        clean_str("status").alias("LB_status"),
        clean_str("locationSource").alias("LB_locationSource"),
        clean_str("magSource").alias("LB_magSource"),
        audit["_DT_insertion_date"].alias("_DT_insertion_date"),
        audit["_DT_updated_date"].alias("_DT_updated_date"),
        audit["_LB_job_execution_id"].alias("_LB_job_execution_id"),
        audit["_LB_data_source"].alias("_LB_data_source"),
    )


def stage_ods(
    staged: DataFrame,
    wh: Warehouse,
    mode: str,
    job_id: str,
    data_source: str,
    run_ts: _dt.datetime,
    table: str = "ODS_earthquake",
    clamp_writes: bool = False,
) -> DataFrame:
    """Land the delivery's ODS rows; return the rows this call added.

    Full mode and a first delivery (no table yet) write every row and
    return the table. A delta into an existing table keeps only rows
    whose ID_Event is new (deduplicated within the delivery, then
    anti-joined against the table), snapshots them with an eager
    `localCheckpoint`, appends the snapshot and returns it, so later
    stages reuse these rows instead of re-deriving them from the grown
    table. A `persist` would not do: the append re-plans cached frames
    that read the table path, and the re-planned anti-join against the
    grown table comes back empty.
    """
    projected = ods_projection(staged, job_id, data_source, run_ts)
    # clamp_writes: REBALANCE on small inputs so the table's file count
    # follows data size, not the per-core split count (plans/pipeline.py)
    if mode == "full" or not wh.exists(table):
        wh.overwrite(
            projected.hint("rebalance") if clamp_writes else projected, table
        )
        return wh.read(table)
    existing_ids = wh.read(table).select("ID_Event")
    fresh = projected.dropDuplicates(["ID_Event"]).join(
        existing_ids, "ID_Event", "left_anti"
    )
    fresh = (fresh.hint("rebalance") if clamp_writes else fresh).localCheckpoint(
        eager=True
    )
    wh.append(fresh, table)
    return fresh
