"""Distributed prefix sums: a running total in a global order without
a single-partition window.

A global cumulative sum is the textbook scale trap: one
`Window.orderBy(key)` moves every row to ONE partition. The running
sums here are a two-level prefix sum instead — the blocked scan
(Blelloch, "Prefix Sums and Their Applications", 1990) — in four
steps:

1. rows get an order-preserving bucket — `range_bucket` cuts the
   key's exact [min, max] into `N_BUCKETS` equal ranges, or the caller
   brings its own (an id `div` a span, the high bits of a uniform
   hash key);
2. an intra-bucket running sum runs partitioned by bucket — fully
   parallel, no global shuffle to one node;
3. per-bucket totals (one row per bucket) get a running offset from a
   window over that small table — the only single-partition step,
   sized by the bucket count, not by the rows;
4. the offsets broadcast-join back and add to the intra-bucket sums.

With `partition_cols` every step runs per partition value, so each
partition gets its own scan (per scorer, per stratum and epoch).

Rows whose partition key or bucket is NULL are dropped (step 4 is an
equi-join): callers coalesce or filter first.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: buckets per partition: the offsets window sorts at most this many
#: rows per partition
N_BUCKETS = 4096
#: a uniform 60-bit hash key (`functions/ids.h60`) `div` this span is
#: an order-preserving bucket in [0, N_BUCKETS) — balanced whatever
#: the ids, because the key is uniform by construction
HASH_SPAN = (1 << 60) // N_BUCKETS
#: the bucket column `range_bucket` adds
BUCKET = "__b"
#: the running-sum column `prefix_sum` adds
PREFIX = "__prefix"


def range_bucket(
    df: DataFrame,
    key: str,
    partition_cols: Sequence[str] = (),
    descending: bool = False,
) -> DataFrame:
    """`df` + `BUCKET`: an order-preserving bucket in [0, N_BUCKETS)
    from the key's exact min/max per partition (bucket 0 holds the
    smallest key, or the largest when `descending`); a partition whose
    keys are all equal is one bucket. Deterministic, unlike sampled
    quantiles. The min/max table joins back by a broadcast equi-join
    on `partition_cols`, or a broadcast crossJoin without them. Keys
    must be non-NULL."""
    pcols = list(partition_cols)
    mm = df.groupBy(*pcols).agg(
        F.min(key).alias("__kmin"), F.max(key).alias("__kmax")
    )
    lo = F.col("__kmin").cast("double")
    hi = F.col("__kmax").cast("double")
    k = F.col(key).cast("double")
    span = hi - lo
    dist = hi - k if descending else k - lo
    bucket = (
        F.when(
            span > 0,
            F.least(F.lit(N_BUCKETS - 1), F.floor(dist / span * N_BUCKETS)),
        )
        .otherwise(F.lit(0))
        .cast("long")
    )
    joined = (
        df.join(F.broadcast(mm), pcols)
        if pcols
        else df.crossJoin(F.broadcast(mm))
    )
    return joined.select(*df.columns, bucket.alias(BUCKET))


def prefix_sum(
    df: DataFrame,
    bucket: str,
    order: Sequence[Column],
    value: Column | str,
    partition_cols: Sequence[str] = (),
) -> DataFrame:
    """`df` + `PREFIX`: the inclusive running sum of `value` over the
    rows ordered by (`bucket`, `order`) within each partition — the
    same numbers as `F.sum(value)` over that order in one window with
    a rows frame up to the current row, NULL values included (NULLs
    add nothing; the sum is NULL until the first non-NULL value).

    `bucket` must be order-preserving: a row in a lower bucket comes
    earlier in the order. Exclusive callers subtract their own value
    (exact on integers and decimals); rank callers sum `F.lit(1)`."""
    pcols = list(partition_cols)
    keys = [*pcols, bucket]
    totals = df.groupBy(*keys).agg(F.sum(value).alias("__bt"))
    before = (
        Window.partitionBy(*pcols)
        .orderBy(F.col(bucket).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        *keys, F.sum("__bt").over(before).alias("__off")
    )
    running = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    intra = F.sum(value).over(running)
    off = F.col("__off")
    return df.join(F.broadcast(offsets), keys).select(
        *df.columns, F.coalesce(off + intra, off, intra).alias(PREFIX)
    )
