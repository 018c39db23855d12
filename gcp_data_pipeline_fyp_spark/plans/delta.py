"""DW delta-load stage (reference dw2_delta_load2.py, the most complex job).

Input: the T_ODS rows this delivery added — plans/pipeline.py hands them
on from stage_ods/stage_geo, so nothing here re-reads ODS or T_ODS.

Dimension upkeep is `plans/dw.new_dim_rows` against the stored
dimensions: the surrogate-key rule of operators/keys.py, one query for
all six. A key only the delivery has is new (the reference's anti-join
J4, null-safe); each dimension's new keys are numbered from its MAX(id)
snapshot + 1 (A3/A4) in asc_nulls_first key order, and each dimension
that gained rows is appended as one file (S8); a dimension with no new
key is not written. The fact's lookup of a dimension is its pre-append
snapshot plus the new rows (A5), so no dimension is read twice.

Fact rows are enriched (P18/J5) into a transient staging frame, then
MERGE-upserted into T_FACT_Events by ID_Event (J6) — the reference's
staging table + post-pipeline MERGE + drop
(`dw2_delta_load2.py:75-84,398-404`).

The MERGE is partition-scoped: the fact is stored hive-partitioned by
month (plans/dw.py FACT_PARTITION_COL), the base side is pruned to the
months present in the delta (broadcast semi join -> dynamic partition
pruning at the scan), and only those months are rewritten via a staged
write + per-partition-directory swap. A daily delta against a 100 TB
fact therefore shuffles and rewrites 1-2 monthly partitions, never the
full table. Safe because ID_Event hashes (time, lat, lon): a merge key
can never move between month partitions.
"""

from __future__ import annotations

import datetime as _dt

from pyspark import StorageLevel
from pyspark.sql import DataFrame

from gcp_data_pipeline_fyp_spark.functions.cleaning import audit_columns
from gcp_data_pipeline_fyp_spark.operators.merge import merge_upsert_partitioned
from gcp_data_pipeline_fyp_spark.plans.dw import (
    DIM_KEYS,
    FACT_PARTITION_COL,
    enrich_fact,
    new_dim_rows,
    with_fact_partition,
)
from gcp_data_pipeline_fyp_spark.sources.tables import Warehouse


def stage_dw_delta(
    new_ods: DataFrame,
    wh: Warehouse,
    job_id: str,
    data_source: str,
    run_ts: _dt.datetime,
    clamp_writes: bool = False,
) -> dict[str, DataFrame]:
    # read twice (the key query, then the fact); the first read fills it
    ods = new_ods.persist(StorageLevel.MEMORY_AND_DISK)
    audit = audit_columns(job_id, data_source, run_ts)
    dims = {t: wh.read(t) for t in DIM_KEYS}
    for table, rows in new_dim_rows(ods, dims).items():
        # one partition: one appended file per grown dimension
        wh.append(rows, table)
        dims[table] = dims[table].unionByName(rows)

    staged_fact = with_fact_partition(
        enrich_fact(ods, dims).withColumns(
            {
                "_DT_insertion_date": audit["_DT_insertion_date"],
                "_LB_job_execution_id": audit["_LB_job_execution_id"],
            }
        )
    )
    base_fact = wh.read("T_FACT_Events")
    if set(base_fact.columns) != set(staged_fact.columns):
        raise ValueError(
            "T_FACT_Events schema drift: warehouse has "
            f"{sorted(set(base_fact.columns) - set(staged_fact.columns))} extra / "
            f"{sorted(set(staged_fact.columns) - set(base_fact.columns))} missing "
            "vs this engine version — migrate the fact table (full reload or "
            "column migration) before delta-loading"
        )
    # partition-scoped MERGE: only the month partitions present in the
    # delta are joined and rewritten; the base scan prunes the rest.
    merged = merge_upsert_partitioned(
        base_fact, staged_fact.select(*base_fact.columns), ["ID_Event"], FACT_PARTITION_COL
    )
    # clamp_writes (guide §6, plans/pipeline.py): the merge output's
    # partition count otherwise inherits spark.sql.shuffle.partitions
    # (cores-sized) — rebalance by the partition column so the staged
    # months land data-sized files
    if clamp_writes:
        merged = merged.hint("rebalance", FACT_PARTITION_COL)
    # parquet has no in-place MERGE: land the affected partitions in a
    # staging table first (the reference's staging-table lifecycle, S12),
    # then promote each partition directory by rename — untouched
    # partitions' files are never read, shuffled, or rewritten.
    wh.overwrite(merged, "T_FACT_Events_staging", partition_cols=[FACT_PARTITION_COL])
    wh.swap_partitions("T_FACT_Events_staging", "T_FACT_Events", FACT_PARTITION_COL)
    ods.unpersist()
    out = dict(dims)
    out["T_FACT_Events"] = wh.read("T_FACT_Events")
    return out
