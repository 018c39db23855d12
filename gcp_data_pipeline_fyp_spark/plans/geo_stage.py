"""Geo stage: ODS place -> Region/Country (reference parse_country_ods_*_load2.py).

Full mode rewrites T_ODS wholesale. Delta mode is handed only the rows
this delivery added to ODS (plans/ods.py), parses those, appends them
and returns them; T_ODS is only ever written from rows just added to
ODS, so they cannot already be in T_ODS and need no anti-join (the
reference's J3). The states lookup rides a broadcast join (J1) — the
fact-sized side never shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from gcp_data_pipeline_fyp_spark.functions.geo import build_states_lookup, parse_place
from gcp_data_pipeline_fyp_spark.sources.tables import Warehouse


def stage_geo(
    ods: DataFrame,
    states: DataFrame,
    wh: Warehouse,
    mode: str,
    table: str = "T_ODS_earthquake",
    clamp_writes: bool = False,
) -> DataFrame:
    lookup = build_states_lookup(states)
    parsed = parse_place(ods.drop("LB_Region", "LB_Country"), lookup)
    # restore the reference's ODS column order (Region/Country live
    # mid-row, ods_full_load2.py:116-117)
    cols = ods.columns
    parsed = parsed.select(*cols)
    # clamp_writes: REBALANCE on small inputs so the table's file count
    # follows data size, not the per-core split count (plans/pipeline.py)
    if mode == "full" or not wh.exists(table):
        wh.overwrite(
            parsed.hint("rebalance") if clamp_writes else parsed, table
        )
        return wh.read(table)
    # a delta's rows come from stage_ods' snapshot, already rebalanced
    wh.append(parsed, table)
    return parsed
