"""Parquet-backed warehouse replacing BigQuery tables (reference S5-S9, S12).

Each reference `ReadFromBigQuery`/`WriteToBigQuery` becomes a parquet
table under a root directory:

- full-refresh writes (WRITE_TRUNCATE) -> `mode("overwrite")`;
- appends (WRITE_APPEND) -> `mode("append")`;
- projection-pushdown query reads (S6) are just `.select(...)` — the
  parquet reader prunes columns and pushes filters at the I/O layer,
  which is what the reference hand-coded with SQL-shaped source reads;
- the staging-table lifecycle (S12) is a plain table dir create/drop.

Every write that creates or replaces a table also records the table's
read-back schema (data columns, then partition columns) in
`_schema.json` inside the table directory; `read` hands it to the
parquet reader, so reading a table launches no footer-inference job.
Parquet readers skip `_`-prefixed files, and appends leave the file
alone. `recover` finishes or undoes a rename promotion that a crash
interrupted; `exists` and `read` run it first.

Fact-sized tables are written partitioned (`partition_cols`) so a
1000-executor cluster gets partition pruning on date-scoped queries and
the partitioned upsert only rewrites affected partitions.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame, DataFrameWriter, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

SCHEMA_FILE = "_schema.json"
_BACKUP = ".__backup"


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
        self.recover(table)
        return os.path.exists(self.path(table))

    def read(self, table: str) -> DataFrame:
        """The table as a DataFrame. With the table's `_schema.json` the
        reader is given that schema and runs no job; without it (a table
        written by something other than this class) Spark infers the
        schema from one file footer, a one-task job."""
        self.recover(table)
        reader = self.spark.read
        try:
            with open(os.path.join(self.path(table), SCHEMA_FILE)) as fh:
                reader = reader.schema(StructType.fromJson(json.load(fh)))
        except FileNotFoundError:
            pass
        return reader.parquet(self.path(table))

    def read_evolved(self, table: str) -> DataFrame:
        """Schema-evolution-aware read: the schema is the UNION of
        every file footer's columns (`mergeSchema`), so columns added
        by later appends read back as NULL for pre-existing files —
        the additive-evolution contract (Delta/Iceberg's default)
        without a metastore. Plain `read` takes the schema recorded by
        the table's last create or replace, which appends never
        change, so it misses late columns; that is also why it is the
        default: at 100 TB mergeSchema reads every footer up front, a
        listing-scale cost you opt into only on evolved tables.
        Incompatible type changes across files (int -> string) still
        fail loudly — additive evolution only; widen via a rewrite."""
        return (
            self.spark.read.option("mergeSchema", True)
            .parquet(self.path(table))
        )

    def _save(
        self,
        w: DataFrameWriter,
        df: DataFrame,
        table: str,
        partition_cols: Sequence[str] | None,
        creates: bool,
    ) -> None:
        """Run the parquet write `w` of `df` into `table`; when it
        creates or replaces the table, record the read-back schema.

        The data columns are `df`'s; the partition columns, and their
        types, are what the reader infers from the directories just
        written — a listing, no job. The file lands under a temporary
        name and is renamed into place, so a reader never sees half of
        it; a crash before the rename leaves no file (the table's
        replacement deleted the old one), and `read` infers instead."""
        path = self.path(table)
        if partition_cols:
            w = w.partitionBy(*partition_cols)
        w.parquet(path)
        if not creates:
            return
        parts = set(partition_cols or ())
        data = StructType([f for f in df.schema.fields if f.name not in parts])
        schema = self.spark.read.schema(data).parquet(path).schema
        final = os.path.join(path, SCHEMA_FILE)
        with open(final + ".tmp", "w") as fh:
            fh.write(schema.json())
        os.replace(final + ".tmp", final)

    def overwrite(
        self, df: DataFrame, table: str, partition_cols: Sequence[str] | None = None
    ) -> None:
        self._save(df.write.mode("overwrite"), df, table, partition_cols, True)

    def append(
        self, df: DataFrame, table: str, partition_cols: Sequence[str] | None = None
    ) -> None:
        """Append `df`; an append that creates the table records its
        schema, one into an existing table leaves the record alone."""
        creates = not self.exists(table)
        self._save(df.write.mode("append"), df, table, partition_cols, creates)

    def overwrite_partitions(
        self, df: DataFrame, table: str, partition_cols: Sequence[str]
    ) -> None:
        """Dynamic partition overwrite: only partitions present in df are replaced."""
        self._save(
            df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic"),
            df, table, partition_cols, True,
        )

    def drop(self, table: str) -> None:
        p = self.path(table)
        if os.path.exists(p):
            shutil.rmtree(p)

    def recover(self, table: str) -> None:
        """Settle what a crash inside `swap` or `swap_partitions` left:
        for the table directory and each of its `col=v` partition
        directories, a missing directory whose `.__backup` exists gets
        the backup back (the crash came between the two renames of
        `_promote`: the old data is the only copy), and a backup beside
        a present directory is dropped (the crash came after the new
        data was in place). Idempotent, and cheap when there is nothing
        to settle: one listing of the table directory."""
        final = self.path(table)
        self._settle(final)
        if os.path.isdir(final):
            for entry in os.listdir(final):
                if entry.endswith(_BACKUP):
                    self._settle(os.path.join(final, entry[: -len(_BACKUP)]))

    @staticmethod
    def _settle(final: str) -> None:
        backup = final + _BACKUP
        if not os.path.exists(backup):
            return
        if os.path.exists(final):
            shutil.rmtree(backup)
        else:
            os.rename(backup, final)

    @classmethod
    def _promote(cls, staged: str, final: str) -> None:
        """Rename directory `staged` to `final`, keeping the old `final`
        as `final.__backup` until the new one is in place (rolled back
        if the rename fails). A backup left by an earlier crash is
        settled first, so it is restored, never deleted, when it is
        the only copy."""
        cls._settle(final)
        backup = final + _BACKUP
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
        the new data recoverable on disk, and `recover` puts it back
        (each os.rename is atomic on local/HDFS filesystems; object
        stores should use the copy path instead). The staging table's
        `_schema.json` moves with its directory.
        """
        self._promote(self.path(staging_table), self.path(table))

    def swap_partitions(self, staging_table: str, table: str, partition_col: str) -> None:
        """Promote only the partition dirs present in staging into `table`.

        The partitioned analog of `swap`: each `col=value` directory in
        the staging table replaces its counterpart in the final table
        via the same rename-with-backup discipline; partitions absent
        from staging are never touched (their files keep their inodes —
        asserted by tests). The staging dir, its schema file with it,
        is dropped afterwards; the table keeps its own.
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
        laid = (
            df.withColumn("__z", zcol)
            .repartitionByRange(n, "__z")
            .sortWithinPartitions("__z")
            .drop("__z")
        )
        self.overwrite(laid, table)

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
        self.overwrite(
            df.repartitionByRange(n, *order_cols).sortWithinPartitions(*order_cols), table
        )
