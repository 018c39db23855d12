"""Deterministic mergeable sketches: count-min (frequency) and KMV
(distinct count).

Completes the mergeable-rollup family (operators/rollup.py: exact
partials, HLL, log-bucket quantiles) with the two classic bounded-
memory summaries the 100 TB maintenance story still lacked:

- **Count-min** (Cormode & Muthukrishnan 2005): `depth x width` cell
  grid; every key increments one cell per row via an independent
  hash; a key's estimate is the MIN over its cells — an upper bound
  on the true count with error <= 2n/width at 1-1/2^depth
  probability. The state is (d, bucket, cnt) rows: exactly mergeable
  across deltas/partitions by re-summing, storable in any table, and
  O(depth * width) regardless of key cardinality — the frequency
  analog of the HLL state.
- **KMV / bottom-k** (Bar-Yossef et al. 2002): keep the k smallest
  values of a uniform hash in [0, 1); with the full hash space
  sampled uniformly, the k-th smallest h_k estimates distinct count
  as (k-1)/h_k. States merge by union + re-taking the k smallest —
  and unlike HLL binaries the state is PLAIN ROWS, so intersections /
  set algebra across sketches stay expressible as joins.

Both use the engine's md5-60bit hash (functions/ids.py convention),
so every estimate is bit-reproducible in ANSI SQL — the probes
replicate the full sketch in DuckDB and certify equality, which
approximate-by-construction sketches (hll_sketch_agg) cannot.

Scale notes: cms_state explodes each row into `depth` cells, but the
(d, bucket) aggregation partial-combines map-side, so the shuffle
carries at most depth*width cells per task regardless of input rows.
kmv_state's per-group rank sorts only DISTINCT hash values.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gcp_data_pipeline_fyp_spark.functions.ids import h60

TWO_60 = float(1 << 60)


# ------------------------------------------------------------- count-min
def cms_state(
    df: DataFrame, col: str, depth: int = 4, width: int = 1024
) -> DataFrame:
    """Count-min state over `df[col]`: (d, bucket, cnt) rows.

    Row d's hash salts the key with the row index, giving `depth`
    independent md5 buckets. Mergeable: union states and re-sum by
    (d, bucket).
    """
    rows = df.select(
        F.explode(F.array(*[F.lit(i) for i in range(depth)])).alias("d"),
        F.col(col).cast("string").alias("__k"),
    )
    return (
        rows.select(
            "d",
            (
                h60(F.concat_ws("_", F.col("d").cast("string"), "__k"))
                % F.lit(width)
            ).alias("bucket"),
        )
        .groupBy("d", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def merge_cms_states(states: Sequence[DataFrame]) -> DataFrame:
    """Sum cell grids across increments (states add cell-wise)."""
    it = iter(states)
    u = next(it)
    for s in it:
        u = u.unionByName(s)
    return u.groupBy("d", "bucket").agg(F.sum("cnt").alias("cnt"))


def cms_estimate(
    state: DataFrame,
    keys: DataFrame,
    col: str,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Point-query the sketch for every row of `keys[col]`: min over
    the key's `depth` cells (absent cell = 0). Returns (col, est)."""
    probes = keys.select(
        F.col(col),
        F.explode(F.array(*[F.lit(i) for i in range(depth)])).alias("d"),
    ).withColumn(
        "bucket",
        h60(
            F.concat_ws(
                "_", F.col("d").cast("string"), F.col(col).cast("string")
            )
        )
        % F.lit(width),
    )
    return (
        probes.join(F.broadcast(state), ["d", "bucket"], "left")
        .groupBy(col)
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("est"))
    )


# ------------------------------------------------------------------ KMV
def kmv_state(
    df: DataFrame, col: str, keys: Sequence[str] = (), k: int = 64
) -> DataFrame:
    """Bottom-k sketch per group: the k smallest distinct hash
    fractions of `col` in [0, 1). Plain (keys..., h) rows."""
    h = (h60(F.col(col).cast("string")) / F.lit(TWO_60)).alias("h")
    hashed = df.select(*[F.col(c) for c in keys], h).distinct()
    w = Window.partitionBy(*[F.col(c) for c in keys]).orderBy("h")
    return (
        hashed.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


def merge_kmv_states(
    states: Sequence[DataFrame], keys: Sequence[str] = (), k: int = 64
) -> DataFrame:
    """Union sketches and re-take the k smallest per group."""
    it = iter(states)
    u = next(it)
    for s in it:
        u = u.unionByName(s)
    w = Window.partitionBy(*[F.col(c) for c in keys]).orderBy("h")
    return (
        u.distinct()
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


def kmv_estimate(
    state: DataFrame, keys: Sequence[str] = (), k: int = 64
) -> DataFrame:
    """Distinct-count estimate per group: (k-1)/h_k when the sketch is
    full, else the exact count (fewer than k distinct values means the
    sketch IS the distinct hash set)."""
    agg = state.groupBy(*[F.col(c) for c in keys]).agg(
        F.count(F.lit(1)).alias("__n"), F.max("h").alias("__hk")
    )
    est = F.when(
        F.col("__n") < k, F.col("__n").cast("double")
    ).otherwise((F.lit(float(k - 1))) / F.col("__hk"))
    return agg.select(*keys, est.alias("est"))


def kmv_set_estimates(
    state_a: DataFrame,
    state_b: DataFrame,
    keys: Sequence[str] = (),
    k: int = 64,
) -> DataFrame:
    """Union / intersection / Jaccard estimates from two bottom-k
    sketches per group (Beyer et al. 2007's KMV synopsis algebra) —
    the cross-corpus overlap question ("how much of crawl B is
    already in crawl A?") answered from two O(k) states without ever
    joining the corpora.

    Combined sketch = bottom-k of the union of the two states;
    rho = fraction of its hashes present in BOTH inputs (exact
    membership joins on the 60-bit hash grid — plain-row states make
    this a join, which binary HLL states cannot do);
    union ~ (K-1)/h_K (exact K below fill), intersection ~
    rho * union, Jaccard ~ rho. One pinned float chain per group.

    Scale: inputs are |groups|*k rows regardless of corpus size; the
    whole computation is sketch-sized.
    """
    gcols = [F.col(c) for c in keys]
    u = merge_kmv_states([state_a, state_b], keys, k)
    a_flag = state_a.select(*gcols, "h").withColumn("__in_a", F.lit(1))
    b_flag = state_b.select(*gcols, "h").withColumn("__in_b", F.lit(1))
    on = [*keys, "h"]
    m = (
        u.join(a_flag, on, "left")
        .join(b_flag, on, "left")
        .select(
            *keys,
            "h",
            F.coalesce("__in_a", F.lit(0)).alias("__in_a"),
            F.coalesce("__in_b", F.lit(0)).alias("__in_b"),
        )
    )
    agg = m.groupBy(*gcols).agg(
        F.count(F.lit(1)).alias("k_filled"),
        F.max("h").alias("__hk"),
        F.sum(F.col("__in_a") * F.col("__in_b")).alias("__n_both"),
    )
    union_est = F.when(
        F.col("k_filled") < k, F.col("k_filled").cast("double")
    ).otherwise(F.lit(float(k - 1)) / F.col("__hk"))
    jac = F.col("__n_both").cast("double") / F.col("k_filled")
    from gcp_data_pipeline_fyp_spark.queries_util import micro6

    return agg.select(
        *keys,
        "k_filled",
        micro6(union_est).alias("union_est_micro"),
        micro6(jac * union_est).alias("inter_est_micro"),
        micro6(jac).alias("jaccard_micro"),
    )


def cms_join_size(state_a: DataFrame, state_b: DataFrame) -> DataFrame:
    """Equi-join cardinality estimate from two count-min states — the
    AGMS/CM inner-product estimator: per depth row, Σ_buckets
    cntA·cntB upper-bounds the true join size (colliding keys only
    ADD mass), and the MIN over depths is the estimate. The
    optimizer-style "how big would this join be?" question answered
    from two O(depth·width) states without shuffling either table.

    Exact integer arithmetic end to end (products in decimal so a
    petabyte-scale cell pair cannot overflow); the estimate is exact
    when no two distinct join keys collide in the winning depth row.
    Same-(depth, width, hash) states required — they are whenever
    both came from `cms_state`.
    """
    j = state_a.alias("a").join(
        state_b.alias("b"),
        (F.col("a.d") == F.col("b.d")) & (F.col("a.bucket") == F.col("b.bucket")),
    )
    per_d = j.groupBy(F.col("a.d").alias("d")).agg(
        F.sum(
            F.col("a.cnt").cast("decimal(38,0)") * F.col("b.cnt")
        ).alias("__ip")
    )
    return per_d.agg(
        F.min("__ip").cast("decimal(38,0)").cast("string").alias("est_join_size")
    )
