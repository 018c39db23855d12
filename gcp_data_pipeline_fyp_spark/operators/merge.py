"""Keyed upsert — the reference's fact MERGE (J6), Spark-native.

Reference: after the delta fact load lands in a staging table, a
BigQuery `MERGE ... WHEN MATCHED THEN UPDATE ... WHEN NOT MATCHED THEN
INSERT` reconciles it into `T_FACT_Events`
(`Delta Load Scripts/dw2_delta_load2.py:101-131,398-404`).

Spark-native rendering without any lakehouse dependency: a full-outer
join on the key with per-column `coalesce(updates.c, base.c)` — updates
win on match, inserts pass through, unmatched base rows survive. On a
cluster with Delta Lake/Iceberg available, swap `merge_upsert` for
`MERGE INTO` behind the same signature; semantics here are identical
for whole-row updates.

Scale note: this is a shuffle join on the merge key — the same cost
MERGE INTO pays. For 100 TB facts, partition the stored fact by a
stable key prefix (e.g. ID_date_ID) so the rewrite touches only
affected partitions; `merge_upsert_partitioned` narrows the rewrite to
partitions present in the updates, and `upsert` stages those rows and
renames each rewritten partition directory into place
(`Warehouse.swap_partitions`).

`upsert` is the table-level MERGE the delta fact load and the streaming
ingest both call. When no update key is stored yet — the steady case:
the delta chain's ODS keeps only events whose id is new, and a stream
drops re-sends within its watermark — the MERGE is a pure INSERT, so it
appends the updates instead of joining and rewriting what holds them.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gcp_data_pipeline_fyp_spark.sources.tables import Warehouse


def merge_upsert(base: DataFrame, updates: DataFrame, keys: Sequence[str]) -> DataFrame:
    """UPDATE matched (updates win, whole row), INSERT not-matched."""
    if set(base.columns) != set(updates.columns):
        raise ValueError(
            f"merge_upsert requires identical columns; base-only="
            f"{set(base.columns) - set(updates.columns)} "
            f"updates-only={set(updates.columns) - set(base.columns)}"
        )
    # presence marker instead of key null-checks: the join is null-safe
    # (eqNullSafe), so a NULL key is a legitimate matchable value and
    # u.<key>.isNotNull() would misclassify it
    b = base.alias("b")
    u = updates.withColumn("__u_present", F.lit(True)).alias("u")
    cond = None
    for k in keys:
        c = F.col(f"b.{k}").eqNullSafe(F.col(f"u.{k}"))
        cond = c if cond is None else (cond & c)
    joined = b.join(u, cond, "full_outer")
    matched = F.col("u.__u_present").isNotNull()
    out_cols = []
    for c in base.columns:
        out_cols.append(
            F.when(matched, F.col(f"u.{c}")).otherwise(F.col(f"b.{c}")).alias(c)
        )
    return joined.select(*out_cols)


def merge_upsert_partitioned(
    base: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    partition_col: str,
) -> DataFrame:
    """Upsert where only base partitions present in `updates` are rewritten.

    Returns rows for the AFFECTED partitions only (`upsert` writes them
    to a staging table, then `Warehouse.swap_partitions` promotes
    them); untouched partitions stay on disk.
    The partition filter is a broadcast semi join on the (small)
    distinct partition list, so the base scan prunes at the source.
    """
    parts = updates.select(partition_col).distinct()
    scoped = base.join(F.broadcast(parts), [partition_col], "left_semi")
    return merge_upsert(scoped, updates, keys)


def upsert(
    wh: Warehouse,
    table: str,
    updates: DataFrame,
    keys: Sequence[str],
    partition_col: str | None = None,
) -> bool:
    """MERGE `updates` into the stored `table` by `keys`, writing only
    what changed. Returns True when the updates were appended.

    One probe query asks whether any update key is already stored: a
    null-safe semi join of the table's keys against the broadcast
    update keys. On a table partitioned by `partition_col` it reads
    only the partitions the updates touch: their partition values come
    to the driver first, which is also the job that computes the
    update rows. The rows are kept (a local checkpoint) for the probe
    and the write, so they are computed once.

    - No key stored: the updates are appended — no shuffle of the
      table, no staged rewrite, no swap. A missing table is created
      the same way.
    - Some key stored: the rewrite path — `merge_upsert`, or
      `merge_upsert_partitioned` on a partitioned table (a key never
      changes partition), lands in `{table}__staging`, then `swap` or
      `swap_partitions` promotes it.

    What is written is rebalanced (by `partition_col` when given): AQE
    sizes the write partitions by bytes, so the file count follows data
    size, not the batch's split count or `spark.sql.shuffle.partitions`
    (guide §6).

    Replays stay idempotent without a ledger: when a crash follows the
    append, the replayed updates find their keys stored and take the
    rewrite path, which replaces the appended rows by the same rows.
    """
    parts = [partition_col] if partition_col else []
    if not wh.exists(table):
        wh.append(updates.hint("rebalance", *parts), table, parts)
        return True
    base = wh.read(table)
    # the rows as the table orders them, bound to the warehouse's session
    # (a union takes its left side's): a foreachBatch frame's session runs
    # with AQE off, which would leave the rebalance writing one file per
    # shuffle partition. The lazy local checkpoint plans the rows, and
    # their rebalance, now and keeps them at the first action.
    rows = (
        base.limit(0)
        .unionByName(updates.select(*base.columns))
        .hint("rebalance", *parts)
        .localCheckpoint(eager=False)
    )
    stored = base
    if partition_col:
        touched = {r[0] for r in rows.select(partition_col).collect()}
        known = [v for v in touched if v is not None]
        scope = F.col(partition_col).isin(known) if known else F.lit(False)
        if None in touched:
            scope = scope | F.col(partition_col).isNull()
        stored = base.where(scope)
    new_keys = rows.select(*[F.col(k).alias(f"__u_{k}") for k in keys])
    same_key = reduce(
        lambda a, b: a & b,
        [F.col(k).eqNullSafe(F.col(f"__u_{k}")) for k in keys],
    )
    hit = stored.select(*keys).join(F.broadcast(new_keys), same_key, "left_semi")
    if not hit.collect():
        wh.append(rows, table, parts)
        return True
    staging = f"{table}__staging"
    if partition_col:
        merged = merge_upsert_partitioned(base, rows, keys, partition_col)
        wh.overwrite(merged.hint("rebalance", *parts), staging, parts)
        wh.swap_partitions(staging, table, partition_col)
    else:
        wh.overwrite(merge_upsert(base, rows, keys).hint("rebalance"), staging)
        wh.swap(staging, table)
    return False


def table_diff(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    compare_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Key-level reconciliation of two table snapshots — the
    regression diff a pipeline runs between yesterday's and today's
    build (or between a MERGE result and its oracle): one row per
    key that is `added` (right only), `removed` (left only), or
    `changed` (both sides, any compared column differs, null-safely),
    with the changed column names as a comma-joined list in column
    order. Unchanged keys are not emitted.

    One full-outer join on the keys — no second scan, no collect;
    the column comparison is a codegen expression per column.
    Null-safe semantics throughout (NULL == NULL is "same", NULL vs
    value is a change) so nullable columns never false-positive.
    """
    klist = list(keys)
    cols = list(compare_cols) if compare_cols is not None else [
        c for c in right.columns if c not in klist
    ]
    l = left.select(
        *klist,
        F.lit(1).alias("__in_l"),
        *[F.col(c).alias(f"__l_{c}") for c in cols],
    )
    r = right.select(
        *klist,
        F.lit(1).alias("__in_r"),
        *[F.col(c).alias(f"__r_{c}") for c in cols],
    )
    j = l.join(r, klist, "full")
    diffs = [
        ~F.col(f"__l_{c}").eqNullSafe(F.col(f"__r_{c}")) for c in cols
    ]
    # no compare columns (keys-only tables): a pure key-presence diff —
    # both-sides keys are never "changed"
    any_diff = diffs[0] if diffs else F.lit(False)
    for d in diffs[1:]:
        any_diff = any_diff | d
    status = (
        F.when(F.col("__in_l").isNull(), F.lit("added"))
        .when(F.col("__in_r").isNull(), F.lit("removed"))
        .when(any_diff, F.lit("changed"))
    )
    changed_cols = F.when(
        F.col("__in_l").isNotNull() & F.col("__in_r").isNotNull(),
        F.concat_ws(",", *[F.when(d, F.lit(c)) for c, d in zip(cols, diffs)]),
    )
    return (
        j.select(*klist, status.alias("status"), changed_cols.alias("changed_cols"))
        .filter(F.col("status").isNotNull())
    )
