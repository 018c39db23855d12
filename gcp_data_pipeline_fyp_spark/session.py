"""SparkSession factory with scale-oriented defaults.

The reference pins cluster shape per Dataflow stage
(`load_controller_DAG.py:38-39`: n1-standard-8, max 2 workers); here the
equivalent knobs are Spark confs. Defaults below are chosen for the
local test harness but every one of them is the setting you would also
want on a 1000-executor cluster:

- AQE on: runtime shuffle-partition coalescing, skew-join splitting,
  dynamic broadcast conversion — the main defense for 100 TB inputs
  whose statistics are unknown at plan time.
- session timezone pinned UTC so naive timestamps round-trip parquet
  deterministically (the reference's EEST conversions are explicit
  column expressions, never ambient state).
- Arrow enabled for the few Pandas-UDF paths (multimodal plumbing).
- a generated-class cache of 1000 entries (Spark's default is 100): the
  queries of one delta load generate ~90 classes, so a 100-entry cache
  evicts them before the next load could reuse them and every load
  recompiles them all (measured: ~90 compiles per daily delivery before,
  5 after, together with plans/delta.py's one-query dimension upkeep).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_shuffle_partitions(cpus: int) -> int:
    """$SPARK_GRAFT_SHUFFLE if set (raising or lowering), else `cpus`.

    Local rule of thumb: ~1-2x cores; on a real cluster this is sized by
    AQE's coalescing from an over-partitioned initial value. A value
    below the core count is honoured too: it is how a run with small
    stateful streams sizes its state-store partitions down.
    """
    return max(1, int(os.environ.get("SPARK_GRAFT_SHUFFLE", cpus)))


def get_spark(
    app_name: str = "gcp-data-pipeline-fyp-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) the session. `cpus` defaults to $SPARK_GRAFT_CPUS or 4."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "4"))
    if shuffle_partitions is None:
        shuffle_partitions = default_shuffle_partitions(cpus)
    b = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
