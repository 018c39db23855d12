"""Skew mitigation: salted aggregation and salted joins.

AQE's skew-join splitting handles sort-merge joins at runtime; these
operators cover the cases AQE does not: hot-key *aggregations* (a
single reducer owning one giant key) and skewed joins that must stay
hash-based. Salts are deterministic (xxhash64 of a chosen column mod
buckets), never `rand()` — plans stay rerun-stable and retry-safe
(a retried task re-salts identically).

- `salted_agg`: two-phase aggregation — partial groupBy((keys, salt))
  spreads a hot key over `buckets` reducers, final groupBy(keys)
  combines the partials. Works for any algebraic aggregate (sum,
  count, min, max); averages = sum/count at the final step.
- `salted_join`: replicate the build side `buckets`× with an explicit
  salt column, salt the probe side deterministically, join on
  (keys, salt). Output equals the plain join, but no reducer sees a
  whole hot key.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _salt(col: Column | str, buckets: int) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.pmod(F.xxhash64(c), F.lit(buckets)).cast("int")


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    sum_cols: Sequence[str] = (),
    count: bool = True,
    salt_from: str | None = None,
    buckets: int = 16,
) -> DataFrame:
    """Two-phase sum/count per key, hot keys spread over `buckets` reducers.

    `salt_from` must be a NON-key column (ideally high-cardinality, e.g.
    a row id): salting by a grouping key is a constant per group and
    spreads nothing — that misuse is rejected loudly.
    """
    if salt_from is None or salt_from in keys:
        raise ValueError(
            "salted_agg needs salt_from set to a non-grouping column; "
            "a salt derived from a grouping key is constant per group "
            "and cannot spread a hot key"
        )
    salted = df.withColumn("__salt", _salt(salt_from, buckets))
    partial_aggs = []
    for c in sum_cols:
        partial_aggs.append(F.sum(c).alias(f"__sum_{c}"))
    if count:
        partial_aggs.append(F.count(F.lit(1)).alias("__cnt"))
    partial = salted.groupBy(*keys, "__salt").agg(*partial_aggs)
    final_aggs = []
    for c in sum_cols:
        final_aggs.append(F.sum(f"__sum_{c}").alias(f"sum_{c}"))
    if count:
        final_aggs.append(F.sum("__cnt").alias("n_rows"))
    return partial.groupBy(*keys).agg(*final_aggs)


def salted_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    salt_from: str,
    buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Join equal to left.join(right, keys, how) with hot keys spread.

    `salt_from` is a left-side column giving each left row a
    deterministic bucket; the (smaller) right side is replicated
    `buckets`x. Supported how: inner / left / right / full.

    Right/full need the right-side rows with NO left match, which the
    replicate-right trick cannot produce directly (every unmatched
    replica would surface as its own NULL-left row, `buckets` of
    them). They are computed separately: the salted INNER (for right)
    or LEFT (for full) part, unioned with right rows anti-joined
    against the DISTINCT left key set. The distinct collapses the hot
    key map-side before its shuffle, and the anti join keys on a
    deduplicated (small) frame AQE will broadcast — neither leg
    re-creates the skew the salt just removed.
    """
    if how in ("outer", "full_outer"):
        how = "full"
    if how not in ("inner", "left", "right", "full"):
        raise ValueError(
            "salted_join supports inner, left, right and full joins"
        )
    if how in ("right", "full"):
        matched = salted_join(
            left,
            right,
            keys,
            salt_from,
            buckets,
            how="inner" if how == "right" else "left",
        )
        unmatched_r = right.join(
            left.select(*keys).distinct(), list(keys), "left_anti"
        )
        # missing left columns fill as NULL — exactly the plain
        # right/full join's shape for matchless right rows
        return matched.unionByName(unmatched_r, allowMissingColumns=True)
    l_salted = left.withColumn("__salt", _salt(salt_from, buckets))
    r_salted = right.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(buckets - 1)))
    ).withColumn("__salt", F.col("__salt").cast("int"))
    out = l_salted.join(r_salted, [*keys, "__salt"], how)
    return out.drop("__salt")


def skew_report(df: DataFrame, key_cols: Sequence[str]) -> DataFrame:
    """One-row diagnostic of a prospective shuffle key's distribution
    — the measurement you run BEFORE choosing plain shuffle vs
    `salted_agg`/`salted_join` vs bucketing: total rows, distinct
    keys, the largest key, exact p50/p90/p99 group sizes, and the
    skew ratio (largest key / mean key). A ratio near 1 means salting
    buys nothing; a ratio of 10^3 means one reducer owns a thousand
    keys' worth of rows.

    Two aggregations (key-size count, then a single-row reduce over
    the key-size frame — |keys| rows, never |rows|). Exact
    `percentile` over group sizes pairs with DuckDB's quantile_cont
    (the mad_outliers parity pattern); ints up to 2^53 interpolate
    identically.
    """
    sizes = df.groupBy(*[F.col(c) for c in key_cols]).agg(
        F.count(F.lit(1)).alias("__c")
    )
    from gcp_data_pipeline_fyp_spark.queries_util import micro6

    return sizes.agg(
        F.sum("__c").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("__c").alias("max_key_rows"),
        micro6(F.expr("percentile(__c, 0.5)")).alias("p50_micro"),
        micro6(F.expr("percentile(__c, 0.9)")).alias("p90_micro"),
        micro6(F.expr("percentile(__c, 0.99)")).alias("p99_micro"),
        micro6(
            F.max("__c") / (F.sum("__c") / F.count(F.lit(1)))
        ).alias("skew_ratio_micro"),
    )


def topk_plan_decision(
    df: DataFrame,
    key_cols: Sequence[str],
    skew_threshold_micro: int = 5_000_000,
) -> DataFrame:
    """The measure-then-choose discipline as one certified row: run
    `skew_report` on the prospective shuffle key and emit the plan
    decision next to the evidence — `use_salted = skew_ratio >
    threshold` and the chosen plan name ('salted_two_phase' /
    'plain_window'). The default threshold is 5x the mean group size,
    mirroring Spark AQE's skewedPartitionFactor=5: below it the salted
    plan's second shuffle costs more than the imbalance it fixes (the
    single-box crossover measured in BASELINE.md), above it one
    reducer owns the job's tail latency.

    Same cost as `skew_report` (one |keys|-sized aggregation); the
    decision itself is column math on the one-row report.

    Known bias, harmless by construction: the ratio compares max to
    MEAN group size, so a corpus of millions of tiny groups plus one
    big one depresses the mean and fires the salted plan earlier than
    a median-based rule would. Since the salted plan is exact (same
    rows), an early fire costs only the bounded second shuffle — the
    failure mode this guards against (one reducer owning the job's
    tail) is the expensive direction, so the rule deliberately errs
    toward salting."""
    rep = skew_report(df, key_cols)
    use = F.col("skew_ratio_micro") > F.lit(skew_threshold_micro)
    return rep.select(
        "n_rows",
        "n_keys",
        "max_key_rows",
        "p50_micro",
        "p90_micro",
        "p99_micro",
        "skew_ratio_micro",
        use.alias("use_salted"),
        F.when(use, F.lit("salted_two_phase"))
        .otherwise(F.lit("plain_window"))
        .alias("plan"),
    )


def salted_topk_per_group(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    id_col: str,
    k: int,
    buckets: int = 32,
    descending: bool = True,
) -> DataFrame:
    """Top-k rows per group WITHOUT a per-group global sort — the
    skew-resistant rendering of `row_number().over(partitionBy(keys))
    <= k`, whose plain form funnels every hot group onto one reducer
    and sorts all of it. Two pruned phases instead:

    1. rows salt into `buckets` sub-groups (deterministic id-hash, the
       module's salting convention) and a window ranks WITHIN
       (keys, salt) — parallelism is groups x buckets, and each
       sub-sort handles ~group/buckets rows; everything past rank k is
       dropped there, map-side;
    2. the survivors (at most buckets x k per group — bounded, tiny)
       rank once more per group for the final top-k.

    Any row in a group's true top-k is in its salt bucket's top-k
    (pigeonhole), so phase 1 never discards a winner — the result is
    EXACTLY the naive window's. Ties break on `id_col` ascending in
    both phases, making the result set deterministic on any
    partitioning and oracle-replicable. Cost: the same single shuffle
    of the raw rows (keyed finer), plus a bounded second shuffle of
    groups x buckets x k survivors.
    """
    from pyspark.sql import Window

    klist = list(keys)
    oc = F.col(order_col).desc() if descending else F.col(order_col).asc()
    salted = df.withColumn("__salt", _salt(id_col, buckets))
    w1 = Window.partitionBy(*klist, "__salt").orderBy(
        oc, F.col(id_col).asc()
    )
    stage1 = (
        salted.withColumn("__rn", F.row_number().over(w1))
        .filter(F.col("__rn") <= k)
        .drop("__rn", "__salt")
    )
    w2 = Window.partitionBy(*klist).orderBy(oc, F.col(id_col).asc())
    return (
        stage1.withColumn("__rn", F.row_number().over(w2))
        .filter(F.col("__rn") <= k)
        .withColumnRenamed("__rn", "rank_in_group")
    )
