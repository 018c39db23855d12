"""Staging stage: raw CSV -> all-string staging table (reference stg_*_load.py).

One storage read feeds BOTH the accepted-rows table write and the
rejected-lines dead-letter sink (the reference's tagged multi-output
ParDo, `stg_full_load.py:126,129-146`) — the parsed frame is persisted
so the two actions don't rescan/recompute (SURVEY.md §4 multi-sink
note; Beam shares PCollections automatically, Spark must persist).
"""

from __future__ import annotations

import datetime as _dt

from pyspark import StorageLevel
from pyspark.sql import DataFrame

from gcp_data_pipeline_fyp_spark.functions.cleaning import audit_columns, null_coerce
from gcp_data_pipeline_fyp_spark.operators.quality import (
    malformed_predicate,
    quality_split,
    reject_predicate,
)
from gcp_data_pipeline_fyp_spark.sources.files import RAW_EVENT_COLUMNS, write_rejected
from gcp_data_pipeline_fyp_spark.sources.tables import Warehouse


def stage_staging(
    raw: DataFrame,
    wh: Warehouse,
    job_id: str,
    data_source: str,
    run_ts: _dt.datetime,
    clamp_writes: bool = False,
) -> DataFrame:
    """raw (22 string cols + original_csv_line) -> staging table; returns accepted."""
    coerced = raw.select(
        *[null_coerce(c).alias(c) for c in RAW_EVENT_COLUMNS], "original_csv_line"
    )
    coerced = coerced.persist(StorageLevel.MEMORY_AND_DISK)
    accepted, rejected = quality_split(
        coerced, reject_predicate(), malformed=malformed_predicate()
    )
    audit = audit_columns(job_id, data_source, run_ts)
    # staging keeps the raw 22 columns (already strings) + audit columns
    staged = accepted.select(*RAW_EVENT_COLUMNS).withColumns(
        {
            "insertion_date": audit["_DT_insertion_date"],
            "updated_date": audit["_DT_updated_date"],
            "job_execution_id": audit["_LB_job_execution_id"],
            "data_source": audit["_LB_data_source"],
        }
    )
    # staging is a transient landing table: truncate-write in both modes
    # (stg_full_load.py:132-136 and its delta twin both WRITE_TRUNCATE).
    # clamp_writes (guide §6, set by run_pipeline for small inputs):
    # REBALANCE so the file count follows data size, not the parse's
    # per-core split count — see plans/pipeline.py.
    wh.overwrite(staged.hint("rebalance") if clamp_writes else staged, "T_STG_earthquake")
    write_rejected(rejected.select("original_csv_line"), wh.root, job_id)
    coerced.unpersist()
    return wh.read("T_STG_earthquake")
