"""Orchestration (reference O1-O5): one driver, one SparkSession.

The reference needs a Cloud Function + Airflow DAG + five Dataflow
submissions per run; here the control plane is ordinary Python —
the calendar trigger (`cloud_function.py:12-31`) is
`sources/files.feed_request_for`, `branch_for_filename` the DAG's
filename-prefix branch (`load_controller_DAG.py:6-13`), `run_pipeline`
the five-stage chain (`:187-188`). The 120s eventual-consistency sleep
(O5) has no Spark equivalent and is dropped.
"""

from __future__ import annotations

import datetime as _dt
import os
import uuid

from pyspark.sql import DataFrame, SparkSession

from gcp_data_pipeline_fyp_spark.plans.delta import stage_dw_delta
from gcp_data_pipeline_fyp_spark.plans.dw import stage_dw_full
from gcp_data_pipeline_fyp_spark.plans.geo_stage import stage_geo
from gcp_data_pipeline_fyp_spark.plans.ods import stage_ods
from gcp_data_pipeline_fyp_spark.plans.staging import stage_staging
from gcp_data_pipeline_fyp_spark.sources.files import archive_file, read_raw_csv
from gcp_data_pipeline_fyp_spark.sources.tables import Warehouse


def branch_for_filename(filename: str) -> str:
    """whole_month_* -> full, all_day_* -> delta, else error (O2)."""
    base = os.path.basename(filename)
    if base.startswith("whole_month_"):
        return "full"
    if base.startswith("all_day_"):
        return "delta"
    raise ValueError(f"unrecognized raw filename pattern: {filename}")


def run_pipeline(
    spark: SparkSession,
    raw_path: str,
    states: DataFrame,
    warehouse_root: str,
    mode: str | None = None,
    run_ts: _dt.datetime | None = None,
    archive: bool = False,
) -> dict[str, DataFrame]:
    """Full 5-stage chain: stg -> ods -> geo -> dw -> (archive)."""
    mode = mode or branch_for_filename(raw_path)
    run_ts = run_ts or _dt.datetime.now()
    job_id = f"spark-{uuid.uuid4().hex[:12]}"
    data_source = os.path.basename(raw_path)
    wh = Warehouse(spark, warehouse_root)

    # size scan splits to the input so a single raw CSV still parses on
    # every core: one whole-month file (~tens of MB) is below the 128 MB
    # default split size, which would serialize the parse — and the
    # parse feeds every downstream stage. For inputs >= cores*128 MB
    # the clamp leaves the default in place.
    #
    # A shrunken split also needs a shrunken file open cost. Spark packs
    # small files into one scan task until split bytes are reached,
    # charging each file its size plus the open cost (4 MB default), so
    # with a split below the open cost every file is its own task: each
    # delta load's scans of the append-grown warehouse tables would cost
    # one more task per file appended so far. When the clamp shrinks the
    # split, the open cost shrinks in proportion (Spark's defaults keep
    # it at 1/32 of the split), so a scan packs its small files into
    # ~cores tasks.
    # `prior_*` are the explicitly set values (None: unset) to restore;
    # `*_before` the effective byte counts.
    prior_split = spark.conf.get("spark.sql.files.maxPartitionBytes", None)
    prior_open = spark.conf.get("spark.sql.files.openCostInBytes", None)
    sql_conf = spark._jsparkSession.sessionState().conf()
    split_before = sql_conf.filesMaxPartitionBytes()
    open_before = sql_conf.filesOpenCostInBytes()
    clamp_writes = False
    try:
        file_bytes = os.path.getsize(raw_path)
        cores = spark.sparkContext.defaultParallelism
        split = min(max(file_bytes // max(cores, 1), 1 << 20), 128 << 20)
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))
        if split < split_before:
            spark.conf.set(
                "spark.sql.files.openCostInBytes",
                str(max(1, open_before * split // split_before)),
            )
        # write clamp (guide §6, r13): with a small input the parse
        # fans to ~`cores` splits, and every stage table then lands
        # one TINY file per core (a 32-core run writes 4x the files
        # of an 8-core run of the same data — measured as real
        # inverse scaling of the pipeline legs). Below cores x 64 MB
        # the stage writes carry a REBALANCE hint so AQE sizes write
        # partitions by BYTES (file count follows data, not cores).
        # Above it the parse splits are already file-sized and the
        # hint would add a full-data shuffle to a 100 TB load for
        # nothing — behavior unchanged there.
        clamp_writes = file_bytes < cores * (64 << 20)
    except OSError:
        pass

    try:
        return _run_pipeline_stages(
            spark, raw_path, states, wh, mode, job_id, data_source, run_ts,
            archive, clamp_writes,
        )
    finally:
        # restore the session-wide split size and open cost — leaving
        # CSV-sized values active would fragment every later parquet
        # scan in the caller's session into thousands of tiny tasks
        for key, prior in (
            ("spark.sql.files.maxPartitionBytes", prior_split),
            ("spark.sql.files.openCostInBytes", prior_open),
        ):
            if prior is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prior)


def _run_pipeline_stages(
    spark: SparkSession,
    raw_path: str,
    states: DataFrame,
    wh: Warehouse,
    mode: str,
    job_id: str,
    data_source: str,
    run_ts: _dt.datetime,
    archive: bool,
    clamp_writes: bool = False,
) -> dict[str, DataFrame]:
    raw = read_raw_csv(spark, raw_path)
    staged = stage_staging(
        raw, wh, job_id, data_source, run_ts, clamp_writes=clamp_writes
    )
    # a delta hands each stage only the rows this delivery added: the
    # new ODS rows are computed once (stage_ods snapshots them) and flow
    # through geo into the dimension and fact upkeep, instead of being
    # re-derived from the grown ODS/T_ODS tables. A full load, and a
    # first delivery (no ODS yet), land and hand on every row.
    ods = stage_ods(staged, wh, mode, job_id, data_source, run_ts, clamp_writes=clamp_writes)
    t_ods = stage_geo(ods, states, wh, mode, clamp_writes=clamp_writes)
    if mode == "delta" and wh.exists("T_FACT_Events"):
        tables = stage_dw_delta(t_ods, wh, job_id, data_source, run_ts)
    else:
        tables = stage_dw_full(
            wh.read("T_ODS_earthquake"), wh, job_id, data_source, run_ts,
            clamp_writes=clamp_writes,
        )
    t_ods.unpersist()  # a delivery's parsed rows, persisted by stage_geo
    if archive:
        archive_file(raw_path, wh.root, mode)
    return tables
