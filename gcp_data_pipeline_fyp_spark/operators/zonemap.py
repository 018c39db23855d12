"""Zone maps: per-file min/max statistics + file-granular scan pruning.

The warehouse already writes skipping-friendly layouts
(`overwrite_range_layout`, `overwrite_zorder_layout` — sources/
tables.py), but a plain `spark.read.parquet(root)` still LISTS and
OPENS every file: parquet row-group stats only help after the footer
read. At 100 TB / ~1e6 files that footer storm is the scan's fixed
cost. A zone map moves the min/max check in front of the file open —
the same design as Delta Lake / Iceberg data skipping:

- `build_zonemap` runs ONE distributed scan of the stat columns
  (projection-pruned; `_metadata.file_path` is free) and stores one
  row per data file — row count plus min/max/null-count per column —
  under `<table>/_zonemap`. Underscore-prefixed, so root readers
  never see it as data.
- `read_pruned` evaluates interval predicates against the map IN
  EXECUTORS (the map is a DataFrame; the census joins it
  distributed), and the driver collects only the SURVIVING path list
  — the minimum the reader needs. The census itself is DISTRIBUTED
  too (`_census_df`: the driver lists only the root's immediate
  entries, executors walk the subtrees), so at a 1e6-file table the
  driver holds |top-level dirs| + |survivors| strings — never
  per-file stat rows and never the full path list (see the
  inflated-census rows in BASELINE.md, rounds 11 and 12).
  The predicate is re-applied to the rows, so pruning is
  purely an I/O optimization and the result is byte-equal to a full
  scan + filter regardless of layout or map staleness.
- Staleness is handled conservatively: data files NOT present in the
  map (e.g. appended after the last build) are always read;
  map entries whose file vanished (compaction, overwrite) are
  ignored. Rebuild with `build_zonemap` to map new files.

Pairing: `overwrite_range_layout(ts)` + zonemap on ts => a time-scoped
query reads |range|/|table| of the files; zorder layout + zonemap on
(x, y) => 2-D box queries skip whole plane regions. Without the
layout the map is still correct, just less selective.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gcp_data_pipeline_fyp_spark.functions.ids import h60
from gcp_data_pipeline_fyp_spark.sources.tables import Warehouse

ZONEMAP_DIR = "_zonemap"
_FILE = "__file"


def _zonemap_path(wh: Warehouse, table: str) -> str:
    return os.path.join(wh.path(table), ZONEMAP_DIR)


def _is_data_file(name: str) -> bool:
    return not name.startswith(("_", ".")) and not name.endswith(
        (".crc", "_SUCCESS")
    )


def _census_df(wh: Warehouse, table: str) -> DataFrame:
    """DISTRIBUTED file census of a table: one (`__file` plain path)
    row per data file, as a DataFrame that is never collected whole.

    The driver lists only the table root's IMMEDIATE entries (one
    listdir — bounded by the partition-value count, not the file
    count); each subdirectory is then walked IN EXECUTORS
    (`parallelize(subdirs).mapPartitions(walk)`), so at a 1e6-file
    table the driver holds |top-level dirs| + |survivors| strings and
    never the full path list. This is the shared-filesystem rendering
    of a distributed listing; a real object store replaces the walk
    with its prefix-sharded listing API (same shape: one task per
    prefix), or the census becomes a log-maintained table a la
    Delta/Iceberg. One of the few justified RDD uses in the engine:
    per-partition imperative filesystem I/O with no relational form.

    Underscore/.hidden entries are skipped at every level (zonemap /
    bucket-index / snapshot sidecars live under `_` dirs by the
    engine's own convention, matching Spark's reader behavior)."""
    root = wh.path(table)
    subdirs: list[str] = []
    root_files: list[str] = []
    for e in sorted(os.listdir(root)):
        if e.startswith(("_", ".")):
            continue
        p = os.path.join(root, e)
        if os.path.isdir(p):
            subdirs.append(p)
        elif _is_data_file(e):
            root_files.append(p)
    spark = wh.spark
    out = spark.createDataFrame(
        [(f,) for f in root_files], f"{_FILE} string"
    )
    if subdirs:
        n_slices = min(
            len(subdirs), max(spark.sparkContext.defaultParallelism, 1)
        )

        def _walk(paths):
            import os as _o

            for p in paths:
                for r, ds, fs in _o.walk(p):
                    ds[:] = [d for d in ds if not d.startswith(("_", "."))]
                    for f in fs:
                        if _is_data_file(f):
                            yield (_o.path.join(r, f),)

        walked = spark.createDataFrame(
            spark.sparkContext.parallelize(subdirs, n_slices).mapPartitions(
                _walk
            ),
            f"{_FILE} string",
        )
        out = out.unionByName(walked)
    return out


def _stats_for_files(wh: Warehouse, table: str, cols: Sequence[str]) -> DataFrame:
    """One projection-pruned scan of the whole table root -> one stats
    row per file. No per-file list ever reaches the driver: Spark's own
    file index does the listing and `_metadata.file_path` names the
    groups."""
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs.append(F.min(c).alias(f"{c}__min"))
        aggs.append(F.max(c).alias(f"{c}__max"))
        aggs.append(
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls")
        )
    return (
        wh.read(table)
        .select(F.col("_metadata.file_path").alias(_FILE), *cols)
        .groupBy(_FILE)
        .agg(*aggs)
    )


def build_zonemap(wh: Warehouse, table: str, cols: Sequence[str]) -> None:
    """(Re)build the zone map for `table` over `cols` — one scan of
    the whole table root; no file list is materialized anywhere."""
    stats = _stats_for_files(wh, table, cols)
    stats.coalesce(1).write.mode("overwrite").parquet(
        _zonemap_path(wh, table)
    )


def zonemap_cols_of(wh: Warehouse, table: str) -> list[str]:
    """The stat columns of an existing map (inferred from its
    `<col>__min` schema); [] when the table has no map."""
    zp = _zonemap_path(wh, table)
    if not os.path.exists(zp):
        return []
    return [
        c[: -len("__min")]
        for c in wh.spark.read.parquet(zp).columns
        if c.endswith("__min")
    ]


def _norm(path: str) -> str:
    """`_metadata.file_path` is a file: URI (any number of slashes —
    Spark emits `file:/tmp/...`); the os.walk listing is a plain path.
    Compare on the plain-path form."""
    if ":" in path.split("/", 1)[0]:
        path = path.split(":", 1)[1]
    return "/" + path.lstrip("/")


def _norm_expr(col) -> "F.Column":
    """Spark-side mirror of `_norm` (scheme strip + single leading
    slash) — keeps path comparison distributed."""
    stripped = F.regexp_replace(col, r"^[A-Za-z][A-Za-z0-9+.\-]*:", "")
    return F.concat(F.lit("/"), F.regexp_replace(stripped, r"^/+", ""))


def _surviving_files(
    wh: Warehouse, census: DataFrame, verdicts: DataFrame
) -> list[str]:
    """Distributed census-vs-verdict merge: `census` is the
    distributed file listing (`_census_df`), `verdicts` one row per
    MAPPED file (`_FILE` URI, boolean `__keep`); unmapped census
    files always survive (conservative). Only the SURVIVING path list
    is ever collected — at a 1e6-file table the driver holds
    |survivors| strings, never |files| anything: the listing, the
    verdict evaluation, and the merge all run in executors."""
    census = census.select(
        _norm_expr(F.col(_FILE)).alias("__path"), F.col(_FILE)
    )
    v = verdicts.select(
        _norm_expr(F.col(_FILE)).alias("__path"), F.col("__keep")
    )
    # duplicate map entries for one file (concurrent refresh) merge
    # conservatively: keep if ANY entry keeps
    v = v.groupBy("__path").agg(F.max("__keep").alias("__keep"))
    kept = (
        census.join(v, "__path", "left")
        .filter(F.coalesce(F.col("__keep"), F.lit(True)))
        .select(_FILE)
    )
    return sorted(r[_FILE] for r in kept.collect())


def prune_files(
    wh: Warehouse,
    table: str,
    intervals: dict[str, tuple],
) -> tuple[list[str], int]:
    """Zone-map file pruning for conjunctive interval predicates.

    `intervals`: {col: (lo, hi)} — closed bounds, either side None for
    open. A mapped file survives only if every predicate's [lo, hi]
    overlaps the file's [min, max] (all-NULL columns never overlap).
    Unmapped files always survive (conservative). Returns
    (surviving file paths, total data file count). The census and the
    verdict join run distributed; only the survivors (and, in the
    degenerate no-map case, the full path list — which is then also
    the survivor list) reach the driver.
    """
    census = _census_df(wh, table)
    zp = _zonemap_path(wh, table)
    if not os.path.exists(zp):
        files = sorted(r[_FILE] for r in census.collect())
        return files, len(files)
    total = census.count()
    zm = wh.spark.read.parquet(zp)
    cond = F.lit(True)
    for c, (lo, hi) in intervals.items():
        if f"{c}__min" not in zm.columns:
            continue  # column not mapped -> no pruning on it
        if lo is not None:
            cond = cond & (F.col(f"{c}__max") >= F.lit(lo))
        if hi is not None:
            cond = cond & (F.col(f"{c}__min") <= F.lit(hi))
    verdicts = zm.select(_FILE, cond.alias("__keep"))
    return _surviving_files(wh, census, verdicts), total


def read_pruned(
    wh: Warehouse,
    table: str,
    intervals: dict[str, tuple],
) -> DataFrame:
    """Read `table` with zone-map file pruning, then re-apply the
    predicate row-wise — result equals full scan + filter exactly."""
    files, _total = prune_files(wh, table, intervals)
    if files:
        df = (
            wh.spark.read.option("basePath", wh.path(table))
            .parquet(*files)
        )
    else:
        df = wh.read(table).limit(0)  # everything pruned: typed empty
    for c, (lo, hi) in intervals.items():
        if lo is not None:
            df = df.filter(F.col(c) >= F.lit(lo))
        if hi is not None:
            df = df.filter(F.col(c) <= F.lit(hi))
    return df


def dynamic_pruned_join(
    wh: Warehouse,
    table: str,
    join_col: str,
    build: DataFrame,
    build_key: str,
    how: str = "inner",
) -> DataFrame:
    """Dynamic file pruning: the BUILD side's key bounds, computed at
    plan-build time (one tiny aggregate + a bounded 1-row collect),
    prune the probe TABLE's files through its zone map BEFORE any
    parquet footer opens, then the exact equi join runs on the
    surviving files — the Delta/Databricks "dynamic file pruning"
    technique, composed from the engine's certified zonemap + join
    pieces. When the probe table is range-laid-out on the join column
    and the build side is selective, the scan itself shrinks by the
    build side's key-range coverage — a layer BELOW the Bloom join's
    row-level pruning (files never read vs rows dropped post-scan).

    Only `inner` and `left_semi` are accepted: pruning drops probe
    rows outside [min(build_key), max(build_key)], which is
    result-invariant exactly for joins where unmatched probe rows
    don't survive. An empty or all-NULL build side yields the typed
    empty result (nothing can equi-match NULL). Result is row-equal
    to the plain join (pruning is bounds-conservative; rows inside
    the bounds that don't match still die in the exact join).
    """
    if how not in ("inner", "left_semi"):
        raise ValueError(
            "dynamic_pruned_join supports inner and left_semi only — "
            "pruning discards probe rows that an outer join would keep"
        )
    # pin ONE materialization: the bounds collect and the join below
    # would otherwise evaluate `build` twice — a nondeterministic /
    # re-sampled build side could yield bounds that prune files whose
    # rows the second evaluation then tries to match
    build = build.localCheckpoint(eager=True)
    bounds = build.agg(
        F.min(F.col(build_key)).alias("lo"), F.max(F.col(build_key)).alias("hi")
    ).first()
    lo, hi = bounds["lo"], bounds["hi"]
    if lo is None:
        probe = wh.read(table).limit(0)
    else:
        probe = read_pruned(wh, table, {join_col: (lo, hi)})
    b = build.select(F.col(build_key).alias("__dpj_bk"))
    if how == "left_semi":
        b = b.distinct()
    out = probe.join(b, probe[join_col] == F.col("__dpj_bk"), how)
    return out.drop("__dpj_bk") if how == "inner" else out


# ----------------------------------------- equality skipping (bucket index)
def build_bucket_index(
    wh: Warehouse, table: str, col: str, n_buckets: int = 4096
) -> None:
    """Per-file membership index for EQUALITY predicates: the set of
    distinct `md5(col) % n_buckets` bucket ids per data file, stored
    as one (file, bucket) row each under `<table>/_bucketindex_<col>`.

    The bloom-filter role in the skipping family, but exact-on-buckets
    and plain rows: a point lookup prunes every file whose bucket set
    misses `bucket(key)` — zero false negatives by construction,
    false-positive rate ~ distinct_keys_per_file / n_buckets. Zone
    maps (above) skip on RANGES of clustered columns; this skips on
    EQUALITY against any column, clustered or not. At most n_buckets
    rows per file, heavily dictionary-compressed."""
    df = wh.read(table)  # whole-root scan: no file list materialized
    idx = (
        df.select(
            F.col("_metadata.file_path").alias(_FILE),
            (h60(F.col(col).cast("string")) % n_buckets).alias("bucket"),
        )
        .distinct()
    )
    idx.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(wh.path(table), f"_bucketindex_{col}")
    )


def read_point_lookup(
    wh: Warehouse, table: str, col: str, values, n_buckets: int = 4096
) -> DataFrame:
    """Read rows where `col` IN `values`, skipping files whose bucket
    index provably excludes every probe value. Unindexed files are
    always read (conservative, same contract as read_pruned)."""
    # materialize once: `values` may be a generator, and it is consumed
    # twice (probe-bucket set, final isin); empty probes short-circuit
    # to the typed empty frame (isin() with no args raises)
    values = list(values)
    if not values:
        return wh.read(table).limit(0)
    ixp = os.path.join(wh.path(table), f"_bucketindex_{col}")
    if not os.path.exists(ixp):
        # no index: plain scan + filter, no file list anywhere
        return wh.read(table).filter(F.col(col).isin(*values))
    probe_buckets = {_bucket_of(v, n_buckets) for v in values}
    verdicts = (
        wh.spark.read.parquet(ixp)
        .groupBy(_FILE)
        .agg(
            F.max(
                F.col("bucket").isin(*probe_buckets)
            ).alias("__keep")
        )
    )
    files = _surviving_files(wh, _census_df(wh, table), verdicts)
    if files:
        df = (
            wh.spark.read.option("basePath", wh.path(table))
            .parquet(*files)
        )
    else:
        df = wh.read(table).limit(0)
    return df.filter(F.col(col).isin(*values))


def _bucket_of(value, n_buckets: int) -> int:
    """Plain-Python mirror of `h60(str(value)) % n_buckets`."""
    import hashlib

    return int(hashlib.md5(str(value).encode()).hexdigest()[:15], 16) % (
        n_buckets
    )
