"""Table maintenance: small-file compaction.

Streaming ingest (`streaming/ingest.py`) and incremental merges append
one file set per micro-batch; after a week of 5-minute triggers a
table is thousands of KB-sized parquet files and every scan pays
footer-open + task-schedule overhead per file — the classic Spark
small-files problem. Compaction rewrites a table into
~`target_file_bytes`-sized files (the OPTIMIZE/bin-packing half of
Delta Lake's maintenance loop, rebuilt on plain parquet).

Scale shape:

- File listing is driver-side `os.walk` — O(files), the same
  asymptotics as a Delta transaction log replay, and the report it
  feeds is what tells you compaction is NEEDED (run it cheaply from a
  cron; compact only when `n_small_files` says so).
- Unpartitioned compaction delegates to `Warehouse.compact`
  (sources/tables.py): coalesce (no shuffle) + the warehouse's
  crash-safe rename promotion — readers see the old files or the new
  files, never a mix. (Rename is atomic on local FS / HDFS; on object
  stores use a manifest or Delta-style commit protocol instead —
  documented limitation, not hidden.)
- Partitioned compaction rewrites ONLY partitions whose file count
  exceeds their size-justified target (dynamic partition overwrite,
  `overwrite_partitions`): a 10,000-partition table with 3 hot
  streaming partitions rewrites 3 partitions, not the table. The
  per-partition loop is driver-side over the partitions NEEDING work.

The reference's pipeline rewrites whole tables every run
(`Full Load Scripts/*_full_load.py` truncate-and-reload), so it never
meets this problem; any incremental engine at 100 TB does.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import functions as F

from gcp_data_pipeline_fyp_spark.sources.tables import Warehouse, parquet_files


def table_file_stats(
    wh: Warehouse, table: str, small_file_bytes: int = 32 << 20
) -> dict:
    """Driver-side file census: the measurement that decides whether
    compaction pays. O(files) listing, no Spark job."""
    sizes = parquet_files(wh.path(table)).values()
    return {
        "n_files": len(sizes),
        "total_bytes": sum(sizes),
        "n_small_files": sum(1 for sz in sizes if sz < small_file_bytes),
    }


def compact_table(
    wh: Warehouse,
    table: str,
    target_file_bytes: int = 128 << 20,
    partition_cols: list[str] | None = None,
) -> dict:
    """Rewrite `table` into ~target-sized files; row-content identical.
    Returns {n_files_before, n_files_after, n_partitions_rewritten}.

    The reporting layer over the warehouse's own compaction: the
    unpartitioned path DELEGATES to `Warehouse.compact`
    (sources/tables.py — coalesce to ceil(bytes/target), crash-safe
    rename promotion, zone map rebuilt if one existed), deliberately
    not a second implementation.

    What this adds is the partitioned path (`partition_cols`, in the
    table's partitionBy order): only partitions whose current file
    count exceeds `ceil(partition_bytes / target)` are rewritten, each
    through dynamic partition overwrite — a streaming table with 3
    hot date partitions rewrites 3 partitions, not 10,000. Zone maps
    are rebuilt after the last partition rewrite when present (same
    stats columns), so the compacted layout stays skippable.

    Hive-dir parsing caveat: partition VALUES are compared as their
    directory-encoded strings — a partition whose value needs URL
    escapes (spaces, '=') or is NULL (__HIVE_DEFAULT_PARTITION__)
    matches no rows, and the dynamic overwrite leaves it uncompacted.
    """
    root = wh.path(table)
    before = len(parquet_files(root))
    if not partition_cols:
        wh.compact(table, target_file_bytes=target_file_bytes)
        return {
            "n_files_before": before,
            "n_files_after": len(parquet_files(root)),
            "n_partitions_rewritten": 0,
        }
    from gcp_data_pipeline_fyp_spark.operators.zonemap import (
        build_zonemap,
        zonemap_cols_of,
    )

    zm_cols = zonemap_cols_of(wh, table)
    # partition directory (relative to the table root) -> its file sizes
    sizes: dict[str, list[int]] = {}
    for path, nbytes in parquet_files(root).items():
        sizes.setdefault(os.path.relpath(os.path.dirname(path), root), []).append(nbytes)
    rewritten = 0
    for rel, files in sorted(sizes.items()):
        if rel == ".":
            continue
        n_target = max(1, math.ceil(sum(files) / target_file_bytes))
        if len(files) <= n_target:
            continue
        # hive-style dir name -> literal filter values
        df = wh.read(table)
        for piece in rel.split(os.sep):
            k, _, v = piece.partition("=")
            df = df.filter(F.col(k).cast("string") == v)
        # localCheckpoint breaks lineage to the files being
        # replaced: Spark refuses to overwrite a path it is
        # reading from, and the materialization is bounded by the
        # one partition being rewritten
        wh.overwrite_partitions(
            df.repartition(n_target).localCheckpoint(), table,
            partition_cols,
        )
        rewritten += 1
    if rewritten and zm_cols:
        build_zonemap(wh, table, zm_cols)
    return {
        "n_files_before": before,
        "n_files_after": len(parquet_files(root)),
        "n_partitions_rewritten": rewritten,
    }
