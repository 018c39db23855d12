"""DW delta-load stage (reference dw2_delta_load2.py, the most complex job).

Input: the T_ODS rows this delivery added — plans/pipeline.py hands them
on from stage_ods/stage_geo, so nothing here re-reads ODS or T_ODS.

Dimension upkeep is one query for all six dimensions. The delivery's
natural keys, melted into (dimension, key) rows, are unioned with every
existing dimension's (key, id) rows and grouped by (dimension, key): a
key that only the delivery has is new — the reference's anti-join (J4),
null-safe because grouping treats NULL as an ordinary key. A second
grouping per dimension yields its MAX(id) snapshot (A4) beside its new
keys. Only the new keys of this one delivery are collected, and plain
Python numbers them from max+1 in asc_nulls_first key order (A3 with offset,
the order operators/keys.py uses) and appends each dimension that gained
rows as one file (S8); a dimension with no new key is not written. The
fact's lookup of a dimension is its pre-append snapshot plus the new
rows (A5), so no dimension is read twice.

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
from functools import reduce

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from gcp_data_pipeline_fyp_spark.functions.cleaning import audit_columns
from gcp_data_pipeline_fyp_spark.functions.timeops import date_dim_columns
from gcp_data_pipeline_fyp_spark.operators.merge import merge_upsert_partitioned
from gcp_data_pipeline_fyp_spark.plans.dw import (
    DIM_SPECS,
    FACT_PARTITION_COL,
    _finalize_dim,
    enrich_fact,
    with_fact_partition,
)
from gcp_data_pipeline_fyp_spark.sources.tables import Warehouse

# natural keys whose dimension column is named differently from the ODS one
_DIM_KEY_NAMES = {
    "LB_net": "LB_NetworkSymbol",
    "LB_magCategory": "LB_magCategoryName",
    "LB_depthCategory": "LB_depthCategoryName",
}
_DATE_DIM = "T_DIM_date"
_KEY_SLOTS = ("__k0", "__k1")  # the widest natural key (Region, Country)


def _key_slots(keys: list) -> list:
    """Natural-key columns padded to the fixed (__k0, __k1) string slots."""
    padded = keys + [F.lit(None)] * (len(_KEY_SLOTS) - len(keys))
    return [k.cast("string").alias(s) for k, s in zip(padded, _KEY_SLOTS)]


def _new_dim_keys(
    ods: DataFrame, existing: dict[str, DataFrame]
) -> dict[str, tuple[int, list[tuple]]]:
    """dimension -> (its MAX(id) or 0, the delivery's new natural keys),
    for the dimensions that gain at least one key; one query, one collect."""
    date_id = date_dim_columns(F.col("DT_time"))["ID_date_ID"]
    keys_of = {t: [F.col(k) for k in nat] for t, (nat, _id) in DIM_SPECS.items()}
    keys_of[_DATE_DIM] = [date_id]
    melt = [F.struct(F.lit(t).alias("__dim"), *_key_slots(k)) for t, k in keys_of.items()]
    delivered = ods.select(F.explode(F.array(*melt)).alias("__e")).select(
        "__e.*", F.lit(None).cast("long").alias("__id"), F.lit(False).alias("__old")
    )
    # build_date_dim's rule: an event without a time adds no date
    delivered = delivered.where((F.col("__dim") != _DATE_DIM) | F.col("__k0").isNotNull())
    stored = []
    for t, dim in existing.items():
        if t == _DATE_DIM:
            keys, ids = [F.col("ID_date_ID")], F.lit(None)
        else:
            nat, id_col = DIM_SPECS[t]
            keys, ids = [F.col(_DIM_KEY_NAMES.get(k, k)) for k in nat], F.col(id_col)
        stored.append(dim.select(
            F.lit(t).alias("__dim"), *_key_slots(keys),
            ids.cast("long").alias("__id"), F.lit(True).alias("__old"),
        ))
    per_key = (
        reduce(DataFrame.unionByName, stored, delivered)
        .groupBy("__dim", *_KEY_SLOTS)
        .agg(F.max("__old").alias("__old"), F.max("__id").alias("__id"))
    )
    per_dim = per_key.groupBy("__dim").agg(
        F.max("__id").alias("__max_id"),
        F.collect_list(F.when(~F.col("__old"), F.struct(*_KEY_SLOTS))).alias("__new"),
    )
    return {
        r["__dim"]: (r["__max_id"] or 0, [tuple(k) for k in r["__new"]])
        for r in per_dim.where(F.size("__new") > 0).collect()
    }


def _new_dim_rows(spark: SparkSession, table: str, max_id: int, keys: list[tuple]) -> DataFrame:
    """The new keys of one dimension as its rows, ids from max_id+1."""
    if table == _DATE_DIM:
        days = sorted(_dt.datetime.strptime(k[0], "%Y%m%d").date() for k in keys)
        return spark.createDataFrame([(d,) for d in days], "d date").select(
            *[expr.alias(name) for name, expr in date_dim_columns("d").items()]
        )
    nat, id_col = DIM_SPECS[table]
    # asc_nulls_first on every key, as assign_surrogate_keys orders them
    # (Python's str order is Spark's binary UTF-8 order)
    ordered = sorted(
        (k[: len(nat)] for k in keys), key=lambda k: [(v is not None, v or "") for v in k]
    )
    schema = StructType(
        [StructField(id_col, LongType(), False), *[StructField(k, StringType()) for k in nat]]
    )
    rows = [(max_id + i, *k) for i, k in enumerate(ordered, 1)]
    return _finalize_dim(table, spark.createDataFrame(rows, schema))


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
    dims = {t: wh.read(t) for t in [*DIM_SPECS, _DATE_DIM]}
    for table, (max_id, keys) in _new_dim_keys(ods, dims).items():
        rows = _new_dim_rows(ods.sparkSession, table, max_id, keys)
        wh.append(rows.coalesce(1), table)
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
