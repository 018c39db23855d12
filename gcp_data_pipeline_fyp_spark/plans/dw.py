"""DW full-load stage: T_ODS -> 6 dims + fact (reference dw_full_load2.py).

The reference reads ODS once and fans out to 7 sinks
(`dw_full_load2.py:97-238`). Here the six dimensions are one key query
over T_ODS (`new_dim_rows`, the surrogate-key rule of operators/keys.py
with nothing stored: dense ids from 1 in asc_nulls_first key order)
whose rows come back as small driver-built frames; each is written,
then the fact reads T_ODS a second time for its 5 broadcast left joins
(J5) against those same frames — never a shuffle of the fact side —
plus the derived yyyymmdd date FK. The delta load (plans/delta.py)
runs the same `new_dim_rows` against the stored dimensions.

Category-default quirk preserved: the fact's lookup key coalesces a
NULL band to 'Shallow' / 'Not Felt' (`dw_full_load2.py:195-218`), while
the dims themselves are built from raw distinct values.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gcp_data_pipeline_fyp_spark.functions.banding import (
    depth_band_description,
    mag_band_description,
)
from gcp_data_pipeline_fyp_spark.functions.cleaning import audit_columns
from gcp_data_pipeline_fyp_spark.functions.timeops import date_dim_columns
from gcp_data_pipeline_fyp_spark.operators.keys import new_dimension_rows
from gcp_data_pipeline_fyp_spark.sources.tables import Warehouse

# T_FACT_Events is stored hive-partitioned by month (ID_date_ID div 100,
# i.e. yyyymm). At 100 TB this gives date-scoped queries partition
# pruning at the scan and lets the delta MERGE rewrite only the months
# present in the delta instead of the whole fact. Monthly granularity
# caps the partition count (12/year) while a daily delta touches 1-2.
FACT_PARTITION_COL = "_PT_month"


def with_fact_partition(fact: DataFrame) -> DataFrame:
    """Derive the storage-partition column from the date FK.

    Valid because ID_Event is a content hash of (time, lat, lon) — an
    event's date, hence its month partition, can never change across
    loads, so a MERGE by ID_Event is always partition-local.
    """
    return fact.withColumn(FACT_PARTITION_COL, F.expr("ID_date_ID div 100").cast("int"))


# table -> (natural-key columns as the dimension names them, surrogate id
# column); the date dimension is keyed by its own yyyymmdd id
DIM_KEYS = {
    "T_DIM_Network": (["LB_NetworkSymbol"], "ID_Network_ID"),
    "T_DIM_RegionCountry": (["LB_Region", "LB_Country"], "ID_RegionCountry_ID"),
    "T_DIM_Seismic_Activity_Type": (["LB_type"], "ID_type_ID"),
    "T_DIM_magCategory": (["LB_magCategoryName"], "ID_magCategory_ID"),
    "T_DIM_depthCategory": (["LB_depthCategoryName"], "ID_depthCategory_ID"),
    "T_DIM_date": (["ID_date_ID"], None),
}


def new_dim_rows(
    ods: DataFrame, stored: dict[str, DataFrame] | None = None
) -> dict[str, DataFrame]:
    """The dimension rows for the natural keys of `ods` that `stored`
    lacks (all six dimensions when nothing is stored), as the tables
    hold them: static descriptions added (P17), dates expanded (P16)."""
    keys = ods.select(
        F.col("LB_net").alias("LB_NetworkSymbol"),
        "LB_Region",
        "LB_Country",
        "LB_type",
        F.col("LB_magCategory").alias("LB_magCategoryName"),
        F.col("LB_depthCategory").alias("LB_depthCategoryName"),
        # an event without a time adds no date
        date_dim_columns("DT_time")["ID_date_ID"].cast("string").alias("ID_date_ID"),
    )
    out = {}
    for table, rows in new_dimension_rows(keys, DIM_KEYS, stored).items():
        if table == "T_DIM_date":
            day = F.to_date("ID_date_ID", "yyyyMMdd")
            rows = rows.select(*[e.alias(n) for n, e in date_dim_columns(day).items()])
        elif table == "T_DIM_magCategory":
            rows = rows.withColumn(
                "LB_magCategoryDescription", mag_band_description("LB_magCategoryName")
            )
        elif table == "T_DIM_depthCategory":
            rows = rows.withColumn(
                "LB_depthCategoryDescription", depth_band_description("LB_depthCategoryName")
            )
        out[table] = rows
    return out


def enrich_fact(ods: DataFrame, dims: dict[str, DataFrame]) -> DataFrame:
    """ODS + 5 broadcast dim joins + derived date FK -> fact rows (P18/J5)."""
    f = ods.withColumn(
        "__magCat_key", F.coalesce(F.col("LB_magCategory"), F.lit("Not Felt"))
    ).withColumn(
        "__depthCat_key", F.coalesce(F.col("LB_depthCategory"), F.lit("Shallow"))
    )
    net = dims["T_DIM_Network"].select(
        "ID_Network_ID", F.col("LB_NetworkSymbol").alias("__k_net")
    )
    f = f.join(F.broadcast(net), F.col("LB_net").eqNullSafe(F.col("__k_net")), "left")
    rc = dims["T_DIM_RegionCountry"].select(
        "ID_RegionCountry_ID",
        F.col("LB_Region").alias("__k_region"),
        F.col("LB_Country").alias("__k_country"),
    )
    f = f.join(
        F.broadcast(rc),
        F.col("LB_Region").eqNullSafe(F.col("__k_region"))
        & F.col("LB_Country").eqNullSafe(F.col("__k_country")),
        "left",
    )
    typ = dims["T_DIM_Seismic_Activity_Type"].select(
        "ID_type_ID", F.col("LB_type").alias("__k_type")
    )
    f = f.join(F.broadcast(typ), F.col("LB_type").eqNullSafe(F.col("__k_type")), "left")
    mc = dims["T_DIM_magCategory"].select(
        "ID_magCategory_ID", F.col("LB_magCategoryName").alias("__k_mag")
    )
    f = f.join(F.broadcast(mc), F.col("__magCat_key") == F.col("__k_mag"), "left")
    dc = dims["T_DIM_depthCategory"].select(
        "ID_depthCategory_ID", F.col("LB_depthCategoryName").alias("__k_depth")
    )
    f = f.join(F.broadcast(dc), F.col("__depthCat_key") == F.col("__k_depth"), "left")
    # fact column set mirrors dw_full_load2.py:195-218: degenerate
    # dimension LB_place rides the fact; LB_status does NOT
    return f.select(
        "ID_Event",
        "ID_Network_ID",
        "ID_RegionCountry_ID",
        "ID_type_ID",
        "ID_magCategory_ID",
        "ID_depthCategory_ID",
        F.date_format(F.col("DT_time").cast("date"), "yyyyMMdd")
        .cast("int")
        .alias("ID_date_ID"),
        "VL_n_mag",
        "VL_n_depth",
        "LB_place",
        "DT_time",
        "VL_latitude",
        "VL_longitude",
        "ID_nst",
        "ID_gap",
        "VL_dmin",
        "VL_horizontalError",
        "ID_magNst",
        "_DT_insertion_date",
        "_DT_updated_date",
        "_LB_job_execution_id",
        "_LB_data_source",
    )


def stage_dw_full(
    t_ods: DataFrame,
    wh: Warehouse,
    job_id: str,
    data_source: str,
    run_ts: _dt.datetime,
    clamp_writes: bool = False,
) -> dict[str, DataFrame]:
    audit = audit_columns(job_id, data_source, run_ts)
    # every dimension is rewritten, an empty one too, so a reload of
    # fewer rows drops the keys it no longer has
    dims = new_dim_rows(t_ods)
    for table, rows in dims.items():
        wh.overwrite(rows, table)
    fact = with_fact_partition(
        enrich_fact(t_ods, dims).withColumns(
            {
                "_DT_insertion_date": audit["_DT_insertion_date"],
                "_LB_job_execution_id": audit["_LB_job_execution_id"],
            }
        )
    )
    # clamp_writes (guide §6, plans/pipeline.py): without it the fact's
    # partitionBy(month) write lands one file per ODS scan partition
    # per month (cores-sized); rebalancing by the partition column
    # gives data-sized files per month directory at any scale
    if clamp_writes:
        fact = fact.hint("rebalance", FACT_PARTITION_COL)
    wh.overwrite(fact, "T_FACT_Events", partition_cols=[FACT_PARTITION_COL])
    out = dict(dims)
    out["T_FACT_Events"] = wh.read("T_FACT_Events")
    return out
