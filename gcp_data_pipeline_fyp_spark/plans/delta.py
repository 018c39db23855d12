"""DW delta-load stage (reference dw2_delta_load2.py, the most complex job).

Input: the T_ODS rows this delivery added — plans/pipeline.py hands them
on from stage_ods/stage_geo, persisted by stage_geo, so nothing here
re-reads ODS or T_ODS or parses a place again.

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
(`dw2_delta_load2.py:75-84,398-404`) — through `operators/merge.upsert`.

The MERGE writes only what changed. The rows come from events whose id
ODS did not hold (the anti-join J2), so on a steady delivery no
ID_Event is in the fact yet and the MERGE is a pure INSERT: one probe
query over the fact partitions the delivery touches finds no stored
key, and the staged rows are appended — the fact is neither shuffled
nor rewritten. Appended files accumulate in the month partitions until
`maintain --compact` packs them. Only when a key is already stored (the
fact holds an event that ODS did not) does the upsert take the
partition-scoped rewrite: the fact is stored hive-partitioned by
month (plans/dw.py FACT_PARTITION_COL), the merge joins only the months
present in the delta, lands them in a staging table and promotes each
month directory by rename. Safe because ID_Event hashes (time, lat,
lon): a merge key can never move between month partitions.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame

from gcp_data_pipeline_fyp_spark.functions.cleaning import audit_columns
from gcp_data_pipeline_fyp_spark.operators.merge import upsert
from gcp_data_pipeline_fyp_spark.plans.dw import (
    DIM_KEYS,
    FACT_PARTITION_COL,
    enrich_fact,
    new_dim_rows,
    with_fact_partition,
)
from gcp_data_pipeline_fyp_spark.sources.tables import Warehouse


def stage_dw_delta(
    ods: DataFrame,
    wh: Warehouse,
    job_id: str,
    data_source: str,
    run_ts: _dt.datetime,
) -> dict[str, DataFrame]:
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
    fact_cols = wh.read("T_FACT_Events").columns
    if set(fact_cols) != set(staged_fact.columns):
        raise ValueError(
            "T_FACT_Events schema drift: warehouse has "
            f"{sorted(set(fact_cols) - set(staged_fact.columns))} extra / "
            f"{sorted(set(staged_fact.columns) - set(fact_cols))} missing "
            "vs this engine version — migrate the fact table (full reload or "
            "column migration) before delta-loading"
        )
    # the upsert rebalances its write by month: data-sized files per
    # month directory, whatever the delivery's size
    upsert(wh, "T_FACT_Events", staged_fact, ["ID_Event"], FACT_PARTITION_COL)
    out = dict(dims)
    out["T_FACT_Events"] = wh.read("T_FACT_Events")
    return out
