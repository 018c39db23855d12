"""Parquet-backed warehouse replacing BigQuery tables (reference S5-S9, S12).

Each reference `ReadFromBigQuery`/`WriteToBigQuery` becomes a parquet
table under a root directory:

- full-refresh writes (WRITE_TRUNCATE) -> `mode("overwrite")`;
- appends (WRITE_APPEND) -> `mode("append")`;
- projection-pushdown query reads (S6) are just `.select(...)` — the
  parquet reader prunes columns and pushes filters at the I/O layer,
  which is what the reference hand-coded with SQL-shaped source reads;
- the staging-table lifecycle (S12) is a plain table dir create/drop.

Fact-sized tables are written partitioned (`partition_cols`) so a
1000-executor cluster gets partition pruning on date-scoped queries and
the partitioned upsert only rewrites affected partitions.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def zorder_value(
    x: Column,
    y: Column,
    x_min: float,
    x_max: float,
    y_min: float,
    y_max: float,
    bits: int = 16,
) -> Column:
    """Bit-interleaved (Morton / Z-order) key over two numeric columns.

    Each coordinate is normalized into a `bits`-bit bucket over its
    stated domain, then the bits are interleaved — points close in BOTH
    dimensions get close z-values, so a z-sorted file layout gives
    parquet min/max skipping for 2-D box predicates (lat AND lon, x AND
    y), which a single-column range layout cannot: there every file
    spans the full domain of the second column. Pure integer Catalyst
    expressions — codegen-friendly at scan speed.
    """
    scale = (1 << bits) - 1

    def bucket(c: Column, lo: float, hi: float) -> Column:
        norm = (c.cast("double") - F.lit(lo)) / F.lit(hi - lo)
        clamped = F.least(F.greatest(norm, F.lit(0.0)), F.lit(1.0))
        return F.round(clamped * scale).cast("long")

    bx, by = bucket(x, x_min, x_max), bucket(y, y_min, y_max)
    parts = []
    for i in range(bits):
        parts.append(F.shiftleft(F.shiftright(bx, i).bitwiseAND(F.lit(1)), 2 * i))
        parts.append(
            F.shiftleft(F.shiftright(by, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return reduce(lambda a, b: a.bitwiseOR(b), parts)


def parquet_files(root: str) -> dict[str, int]:
    """path -> bytes of every parquet data file under `root`: the one
    driver-side file census (O(files) listing, no Spark job)."""
    return {
        os.path.join(dp, f): os.path.getsize(os.path.join(dp, f))
        for dp, _dns, fns in os.walk(root)
        for f in fns
        if f.endswith(".parquet")
    }


class Warehouse:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def exists(self, table: str) -> bool:
        return os.path.exists(self.path(table))

    def read(self, table: str) -> DataFrame:
        return self.spark.read.parquet(self.path(table))

    def read_evolved(self, table: str) -> DataFrame:
        """Schema-evolution-aware read: the schema is the UNION of
        every file footer's columns (`mergeSchema`), so columns added
        by later appends read back as NULL for pre-existing files —
        the additive-evolution contract (Delta/Iceberg's default)
        without a metastore. Plain `read` samples ONE footer and may
        miss late columns, which is also why it is the default: at
        100 TB mergeSchema reads every footer up front, a listing-
        scale cost you opt into only on evolved tables. Incompatible
        type changes across files (int -> string) still fail loudly —
        additive evolution only; widen via a rewrite."""
        return (
            self.spark.read.option("mergeSchema", True)
            .parquet(self.path(table))
        )

    def overwrite(
        self, df: DataFrame, table: str, partition_cols: Sequence[str] | None = None
    ) -> None:
        w = df.write.mode("overwrite")
        if partition_cols:
            w = w.partitionBy(*partition_cols)
        w.parquet(self.path(table))

    def append(
        self, df: DataFrame, table: str, partition_cols: Sequence[str] | None = None
    ) -> None:
        w = df.write.mode("append")
        if partition_cols:
            w = w.partitionBy(*partition_cols)
        w.parquet(self.path(table))

    def overwrite_partitions(
        self, df: DataFrame, table: str, partition_cols: Sequence[str]
    ) -> None:
        """Dynamic partition overwrite: only partitions present in df are replaced."""
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*partition_cols)
            .parquet(self.path(table))
        )

    def drop(self, table: str) -> None:
        p = self.path(table)
        if os.path.exists(p):
            shutil.rmtree(p)

    @staticmethod
    def _promote(staged: str, final: str) -> None:
        """Rename directory `staged` to `final`, keeping the old `final`
        as `final.__backup` until the new one is in place (rolled back
        if the rename fails)."""
        backup = final + ".__backup"
        if os.path.exists(backup):
            shutil.rmtree(backup)
        had_old = os.path.exists(final)
        if had_old:
            os.rename(final, backup)
        try:
            os.rename(staged, final)
        except OSError:
            if had_old:
                os.rename(backup, final)  # roll back
            raise
        if had_old:
            shutil.rmtree(backup)

    def swap(self, staging_table: str, table: str) -> None:
        """Promote a staging table to final via rename-with-backup.

        The old table is renamed aside BEFORE the staging table moves
        into place, so a crash at any point leaves either the old or
        the new data recoverable on disk — never a window with no
        table (each os.rename is atomic on local/HDFS filesystems;
        object stores should use the copy path instead).
        """
        self._promote(self.path(staging_table), self.path(table))

    def swap_partitions(self, staging_table: str, table: str, partition_col: str) -> None:
        """Promote only the partition dirs present in staging into `table`.

        The partitioned analog of `swap`: each `col=value` directory in
        the staging table replaces its counterpart in the final table
        via the same rename-with-backup discipline; partitions absent
        from staging are never touched (their files keep their inodes —
        asserted by tests). The staging dir is dropped afterwards.
        """
        staged_root = self.path(staging_table)
        final_root = self.path(table)
        prefix = partition_col + "="
        for entry in sorted(os.listdir(staged_root)):
            staged = os.path.join(staged_root, entry)
            if not entry.startswith(prefix) or not os.path.isdir(staged):
                continue  # _SUCCESS and friends
            self._promote(staged, os.path.join(final_root, entry))
        self.drop(staging_table)

    def drop_partitions(
        self, table: str, partition_col: str, values: Sequence
    ) -> None:
        """Remove whole `col=value` partition directories — the delete
        path for partitions a rewrite emptied ENTIRELY (a dynamic
        overwrite or `swap_partitions` can only replace partitions
        present in the written frame; an all-rows-deleted partition is
        present in neither). Idempotent: missing dirs are skipped, so
        a crashed delete converges on re-run."""
        for v in values:
            d = os.path.join(self.path(table), f"{partition_col}={v}")
            if os.path.exists(d):
                shutil.rmtree(d)

    def compact(self, table: str, target_file_bytes: int = 128 << 20) -> int:
        """Small-file compaction: rewrite `table` into ~target-sized files.

        Append-heavy tables (delta loads, streaming foreachBatch) decay
        into thousands of tiny files; at 100 TB the scan's task-per-file
        overhead and the NameNode/listing pressure dominate. Compaction
        coalesces to ceil(bytes/target) files (no shuffle) and promotes
        via the same crash-safe rename used by the delta path. A
        partitioned table compacts per partition, only where needed,
        through `operators/maintenance.compact_table`. Returns the file
        count after compaction.
        """
        import math

        # a zone map (operators/zonemap.py) lives inside the table dir
        # and dies with the swap; remember its stat columns so the
        # compacted layout comes back skippable
        from gcp_data_pipeline_fyp_spark.operators.zonemap import (
            build_zonemap,
            zonemap_cols_of,
        )

        root = self.path(table)
        staging = table + "__compacting"
        zm_cols = zonemap_cols_of(self, table)
        n_out = max(1, math.ceil(sum(parquet_files(root).values()) / target_file_bytes))
        self.overwrite(self.read(table).coalesce(n_out), staging)
        self.swap(staging, table)
        if zm_cols:
            build_zonemap(self, table, zm_cols)
        return len(parquet_files(root))

    def overwrite_zorder_layout(
        self,
        df: DataFrame,
        table: str,
        zcol: Column,
        n_files: int | None = None,
    ) -> None:
        """Z-ordered layout: range-partition + sort on a `zorder_value`.

        The 2-D analog of `overwrite_range_layout`: every output file
        covers a compact REGION of the (x, y) plane instead of a slab
        of one dimension, so box predicates on both columns skip whole
        files by min/max stats. The z column itself is dropped from the
        stored table (stats on the data columns do the skipping).
        """
        n = n_files or df.sparkSession.sparkContext.defaultParallelism
        tmp = df.withColumn("__z", zcol)
        (
            tmp.repartitionByRange(n, "__z")
            .sortWithinPartitions("__z")
            .drop("__z")
            .write.mode("overwrite")
            .parquet(self.path(table))
        )

    def overwrite_range_layout(
        self,
        df: DataFrame,
        table: str,
        order_cols: Sequence[str],
        n_files: int | None = None,
    ) -> None:
        """Range-partitioned, sorted layout for min/max data skipping.

        `repartitionByRange` + `sortWithinPartitions` gives each output
        file a disjoint key range, so parquet row-group min/max stats
        let any range predicate on `order_cols` skip whole files — the
        portable flavor of Z-ordering for single-dimension predicates.
        At 100 TB this is what makes `WHERE ts BETWEEN ...` read 1/1000th
        of the table instead of all of it.
        """
        n = n_files or df.sparkSession.sparkContext.defaultParallelism
        (
            df.repartitionByRange(n, *order_cols)
            .sortWithinPartitions(*order_cols)
            .write.mode("overwrite")
            .parquet(self.path(table))
        )
