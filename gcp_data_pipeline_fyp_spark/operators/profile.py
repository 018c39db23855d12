"""Data-quality profiling + statistical anomaly detection.

Operational layer for a large-scale pipeline: before training on (or
loading) a table you profile it — null fractions, cardinalities,
moments, ranges — and you flag statistical outliers per group. Both
are single-pass aggregations:

- `profile_numeric` computes every column's metrics in ONE `agg`
  (one scan, one reduce) and reshapes to a row-per-column via an
  explode of struct literals — never one job per column.
- `zscore_outliers` is the classic per-key anomaly gate: group stats
  (one shuffle over the key), broadcast back, filter. The stats side
  is |keys|-sized, so the join is a broadcast at any corpus scale.

The drift monitors (numeric and categorical PSI, the persisted PSI
profile the streaming monitor folds, exact and binned KS) are each a
mergeable count summary plus one comparison, and each comparison is
written once:

- `_bin_counts` is the one binning step: values against per-group
  base ranges via `_psi_bin`, through a broadcast equi-join on the
  group columns (a broadcast crossJoin when there are none);
- `psi_from_joint_counts` is the one PSI algebra: add-half smoothing
  over exact integer counts, micro6-rounded contributions, exact
  integer sum;
- `_ks_from_pooled` is the one exact-integer ECDF max-gap.

One rule for which groups are reported: a group appears only when
both snapshots hold rows for it and its key is not NULL (a NULL key
matches no equi-join; `_keyed` drops it before any total is taken).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from gcp_data_pipeline_fyp_spark.operators.prefix import (
    BUCKET,
    PREFIX,
    prefix_sum,
    range_bucket,
)
from gcp_data_pipeline_fyp_spark.queries_util import micro6, roundn


def profile_numeric(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """One row per column: counts, distincts, moments, range.

    Moments are rounded to 6 decimals (the package's float
    canonicalization convention) so results are reproducible across
    engines and partition orders.
    """
    aggs: list = [F.count("*").alias("__n")]
    for c in cols:
        aggs += [
            F.count(c).alias(f"{c}__nonnull"),
            F.count_distinct(F.col(c)).alias(f"{c}__distinct"),
            roundn(F.avg(c), 6).alias(f"{c}__mean"),
            roundn(F.stddev_samp(c), 6).alias(f"{c}__std"),
            roundn(F.min(c).cast("double"), 6).alias(f"{c}__min"),
            roundn(F.max(c).cast("double"), 6).alias(f"{c}__max"),
        ]
    row = df.agg(*aggs)
    per_col = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col("__n").alias("n_rows"),
                F.col(f"{c}__nonnull").alias("n_nonnull"),
                F.col(f"{c}__distinct").alias("n_distinct"),
                F.col(f"{c}__mean").alias("mean"),
                F.col(f"{c}__std").alias("std"),
                F.col(f"{c}__min").alias("min"),
                F.col(f"{c}__max").alias("max"),
            )
            for c in cols
        ]
    )
    return row.select(F.explode(per_col).alias("p")).select("p.*")


def zscore_outliers(
    df: DataFrame,
    key_cols: Sequence[str],
    value_col: str,
    z: float = 3.0,
) -> DataFrame:
    """Rows whose value exceeds mean + z*std of their key group.

    The threshold is rounded to 6 decimals before comparison so the
    outlier set is stable across engines and aggregation orders
    (double summation order perturbs moments at ~1e-12 — far below
    the rounding grain).
    """
    stats = df.groupBy(*key_cols).agg(
        F.avg(value_col).alias("__mean"), F.stddev_samp(value_col).alias("__std")
    )
    thresh = roundn(F.col("__mean") + F.lit(z) * F.col("__std"), 6)
    return (
        df.join(F.broadcast(stats), list(key_cols))
        .filter(F.col(value_col) > thresh)
        .drop("__mean", "__std")
    )


def exact_corr(
    df: DataFrame,
    x_col: str,
    y_col: str,
    group_cols: Sequence[str] = (),
    alias: str = "corr_micro",
) -> DataFrame:
    """Pearson correlation with DETERMINISTIC results -> one row per
    group carrying `n` and the correlation in micro-units.

    Engine-native `corr()` streams floating-point co-moments, so the
    result depends on partition/merge order — it can never hash-certify
    and two runs of the same job can disagree in the last ulps. This
    form accumulates the five sufficient statistics (Σx, Σy, Σxy, Σx²,
    Σy²) as EXACT decimals (order-independent by construction), then
    evaluates the closed-form correlation once in double — identical
    inputs, identical expression order, identical result on any
    partitioning and in any engine. One aggregation pass; NULL when
    either variance is zero.

    Domain: inputs are cast to decimal(18,4) (values up to ~10^14 at
    4 dp); a column beyond that raises under ANSI mode rather than
    silently truncating — rescale such columns before correlating."""
    # (18,4) inputs -> (37,8) products: inside both engines' 38-digit
    # decimal ceiling without overflow or silent rescaling
    x = F.col(x_col).cast("decimal(18,4)")
    y = F.col(y_col).cast("decimal(18,4)")
    g = df.filter(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    ).groupBy(*[F.col(c) for c in group_cols]).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).cast("double").alias("__sx"),
        F.sum(y).cast("double").alias("__sy"),
        F.sum((x * y).cast("decimal(38,8)")).cast("double").alias("__sxy"),
        F.sum((x * x).cast("decimal(38,8)")).cast("double").alias("__sxx"),
        F.sum((y * y).cast("decimal(38,8)")).cast("double").alias("__syy"),
    )
    nn = F.col("n").cast("double")
    cov = nn * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    vx = nn * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    vy = nn * F.col("__syy") - F.col("__sy") * F.col("__sy")
    # try_divide: a zero-variance group yields NULL (ANSI division
    # would throw mid-job); SQL mirror uses nullif on the denominator
    return g.select(
        *group_cols,
        "n",
        micro6(F.try_divide(cov, F.sqrt(vx * vy))).alias(alias),
    )


def mad_outliers(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    id_cols: Sequence[str],
    threshold: float = 3.5,
) -> DataFrame:
    """Robust outliers by modified z-score: |value - median| /
    (1.4826 * MAD) > threshold, per group.

    The mean/stddev z-score (`zscore_outliers`) breaks exactly when
    you need it — heavy outliers inflate the stddev and mask
    themselves; median and MAD have a 50% breakdown point. Two exact
    percentile passes (group medians broadcast between them), flagged
    rows only. `robust_z_micro` emits in micro-units; a zero-MAD
    group yields NULL scores (try_divide) and flags nothing.

    Spark's exact `percentile` buffers each GROUP's values on one
    executor — right for the certified path and the usual many-groups
    shape; for a single corpus-sized group swap in approx_percentile
    (same call shape, documented accuracy trade)."""
    gcols = [F.col(c) for c in group_cols]
    med = df.groupBy(*gcols).agg(
        F.expr(f"percentile({value_col}, 0.5)").alias("__med")
    )
    dev = df.join(F.broadcast(med), list(group_cols)).withColumn(
        "__ad", F.abs(F.col(value_col) - F.col("__med"))
    )
    mad = dev.groupBy(*gcols).agg(
        F.expr("percentile(__ad, 0.5)").alias("__mad")
    )
    scored = dev.join(F.broadcast(mad), list(group_cols)).select(
        *id_cols,
        *group_cols,
        micro6(
            F.try_divide(
                F.col(value_col) - F.col("__med"),
                F.lit(1.4826) * F.col("__mad"),
            )
        ).alias("robust_z_micro"),
    )
    t = int(round(threshold * 1_000_000))
    return scored.filter(
        (F.col("robust_z_micro") >= t) | (F.col("robust_z_micro") <= -t)
    )


# ------------------------------------------- drift: the shared pieces
def _psi_bin(value_col: str, lo_col: str, hi_col: str, n_bins: int):
    """Fixed-width bin index over the group's [lo, hi], clamped to the
    edge bins."""
    lo, hi = F.col(lo_col), F.col(hi_col)
    raw = F.floor(
        (F.col(value_col).cast("double") - lo) / (hi - lo) * F.lit(float(n_bins))
    )
    return F.when(
        hi > lo,
        F.least(
            F.greatest(raw, F.lit(0).cast("long")),
            F.lit(n_bins - 1).cast("long"),
        ),
    ).otherwise(F.lit(0).cast("long"))


def _keyed(df: DataFrame, gcols: list[str]) -> DataFrame:
    """`df` without rows whose group key is NULL: a NULL key matches no
    equi-join, so no drift surface reports it."""
    for c in gcols:
        df = df.filter(F.col(c).isNotNull())
    return df


def _counts(
    df: DataFrame, value_col: str, gcols: list[str], key: Column, alias: str
) -> DataFrame:
    """Per-(group, key) row counts of `df`'s non-NULL `value_col`."""
    return (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(*gcols, key)
        .agg(F.count(F.lit(1)).alias(alias))
    )


def _base_ranges(base: DataFrame, value_col: str, gcols: list[str]) -> DataFrame:
    """Per-group [__lo, __hi] of the base snapshot's non-NULL values
    under a non-NULL group key."""
    b = _keyed(base, gcols).filter(F.col(value_col).isNotNull())
    return b.groupBy(*gcols).agg(
        F.min(value_col).cast("double").alias("__lo"),
        F.max(value_col).cast("double").alias("__hi"),
    )


def _bin_counts(
    df: DataFrame,
    rng: DataFrame,
    value_col: str,
    gcols: list[str],
    n_bins: int,
    alias: str,
    lo_col: str = "__lo",
    hi_col: str = "__hi",
) -> DataFrame:
    """THE binning step: per-(group, bin) counts of `df` against the
    per-group base ranges `rng`, broadcast through an equi-join on the
    group columns, or a crossJoin when there are none (an equi-join on
    an empty key list is not a join). Values outside the base range
    clamp to the edge bins — exactly the drift signal; a group without
    a base range has nothing to bin against."""
    r = F.broadcast(rng)
    with_rng = df.join(r, gcols) if gcols else df.crossJoin(r)
    bin_ = _psi_bin(value_col, lo_col, hi_col, n_bins).alias("bin")
    return _counts(with_rng, value_col, gcols, bin_, alias)


def _base_bins(
    base: DataFrame,
    rng: DataFrame,
    value_col: str,
    gcols: list[str],
    n_bins: int,
) -> DataFrame:
    """The profile rows (group, bin, lo, hi, base_cnt) over EVERY bin
    of each base group's range — an empty bin is a 0 row, so the PSI
    algebra's category count is n_bins."""
    bins = F.sequence(F.lit(0).cast("long"), F.lit(n_bins - 1).cast("long"))
    scaffold = rng.select(
        *gcols,
        F.col("__lo").alias("lo"),
        F.col("__hi").alias("hi"),
        F.explode(bins).alias("bin"),
    )
    return scaffold.join(
        _bin_counts(base, rng, value_col, gcols, n_bins, "base_cnt"),
        [*gcols, "bin"],
        "left",
    ).na.fill(0, ["base_cnt"])


def psi_from_joint_counts(
    pooled: DataFrame, group_cols: Sequence[str]
) -> DataFrame:
    """THE smoothed-PSI algebra every PSI surface shares (numeric
    report, persisted profile, streaming monitor, categorical mix,
    retrain trigger). `pooled` carries (group_cols…, __cb, __cc), one
    row per category or bin; add-half smoothing (2c+1)/(2n+n_cats)
    over exact integer counts keeps empty categories finite, each
    contribution (p_cur - p_base)·ln(p_cur/p_base) is micro6-rounded
    FIRST and PSI is the exact integer sum — no float summation order
    anywhere. Groups must have mass in BOTH snapshots and a non-NULL
    key to be reported.
    Returns (group_cols…, n_base, n_cur, n_cats, psi_micro)."""
    gcols = list(group_cols)
    wg = Window.partitionBy(*gcols)
    with_tot = _keyed(pooled, gcols).select(
        *gcols,
        "__cb",
        "__cc",
        F.sum("__cb").over(wg).alias("n_base"),
        F.sum("__cc").over(wg).alias("n_cur"),
        F.count(F.lit(1)).over(wg).alias("n_cats"),
    ).filter((F.col("n_base") > 0) & (F.col("n_cur") > 0))
    pb = (2.0 * F.col("__cb") + 1.0) / (
        2.0 * F.col("n_base") + F.col("n_cats").cast("double")
    )
    pc = (2.0 * F.col("__cc") + 1.0) / (
        2.0 * F.col("n_cur") + F.col("n_cats").cast("double")
    )
    detail = with_tot.select(
        *gcols,
        "n_base",
        "n_cur",
        "n_cats",
        micro6((pc - pb) * F.log(pc / pb)).alias("__contrib_micro"),
    )
    return detail.groupBy(*gcols, "n_base", "n_cur", "n_cats").agg(
        F.sum("__contrib_micro").alias("psi_micro")
    )


def _ks_from_pooled(
    pooled: DataFrame, gcols: list[str], order_col: str
) -> DataFrame:
    """THE exact-integer ECDF max-gap, over pooled (group_cols…,
    `order_col`, __cb, __cc) counts: at each point the gap is
    |cb·n_cur - cc·n_base| / (n_base·n_cur) with cumulative cb, cc;
    the numerator is an exact integer, so the per-group max is
    order-independent and the one float division + micro6 happens on
    the winning value. Groups must have rows in BOTH snapshots and a
    non-NULL key."""
    w = Window.partitionBy(*gcols).orderBy(order_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wg = Window.partitionBy(*gcols)
    gapped = _keyed(pooled, gcols).select(
        *gcols,
        F.sum("__cb").over(w).alias("__cb"),
        F.sum("__cc").over(w).alias("__cc"),
        F.sum("__cb").over(wg).alias("__nb"),
        F.sum("__cc").over(wg).alias("__nc"),
    )
    agg = gapped.groupBy(*gcols).agg(
        F.max("__nb").alias("n_base"),
        F.max("__nc").alias("n_cur"),
        F.max(
            F.abs(F.col("__cb") * F.col("__nc") - F.col("__cc") * F.col("__nb"))
        ).alias("__dnum"),
    ).filter((F.col("n_base") > 0) & (F.col("n_cur") > 0))
    ks = F.col("__dnum").cast("double") / (
        F.col("n_base").cast("double") * F.col("n_cur").cast("double")
    )
    return agg.select(*gcols, "n_base", "n_cur", micro6(ks).alias("ks_micro"))


# ------------------------------------------- drift: the monitors
def fit_psi_profile(
    base: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    n_bins: int = 10,
) -> DataFrame:
    """Persistable PSI base profile: one row (group, bin, lo, hi,
    base_cnt) per group and bin, with the group's fixed-width [lo, hi]
    range — the |groups|·n_bins state a drift monitor bins every future
    snapshot or micro-batch against without rescanning the base
    corpus."""
    gcols = list(group_cols)
    rng = _base_ranges(base, value_col, gcols)
    return _base_bins(base, rng, value_col, gcols, n_bins)


def bin_against_profile(
    df: DataFrame,
    profile: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    n_bins: int = 10,
) -> DataFrame:
    """Per-(group, bin) counts of `df` binned by a fitted profile's
    [lo, hi] ranges — the map-side-combinable reduction a streaming
    monitor folds into its state table."""
    gcols = list(group_cols)
    rng = profile.select(*gcols, "lo", "hi").distinct()
    return _bin_counts(df, rng, value_col, gcols, n_bins, "cur_cnt", "lo", "hi")


def psi_from_profile(
    profile: DataFrame,
    cur_counts: DataFrame,
    group_cols: Sequence[str],
) -> DataFrame:
    """PSI per group from a fitted profile + current per-bin counts —
    the read side of the streaming drift monitor."""
    keys = [*group_cols, "bin"]
    pooled = profile.select(*keys, F.col("base_cnt").alias("__cb")).join(
        cur_counts.select(*keys, F.col("cur_cnt").alias("__cc")), keys, "left"
    )
    return psi_from_joint_counts(pooled.na.fill(0, ["__cc"]), group_cols).drop(
        "n_cats"
    )


def psi_report(
    base: DataFrame,
    current: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    n_bins: int = 10,
) -> DataFrame:
    """Population Stability Index between two snapshots of a numeric
    column, per group — the standard distribution-drift monitor run
    between a training corpus and a fresh crawl (PSI < 0.1 stable,
    0.1–0.25 moderate shift, > 0.25 retrain).

    Bin edges are FIXED-WIDTH over the BASE snapshot's [min, max]
    (exact, order-independent aggregates), never quantiles — the same
    rows always land in the same bins on any partitioning. The one-shot
    form of the profile route: `psi_from_profile` over the base's
    unpersisted profile and the current snapshot's bin counts.

    Scale: one aggregation over each snapshot (min/max, then
    group×bin counts); everything after runs on |groups|·n_bins rows
    with broadcast joins. A brand-new group has no base distribution
    to compare against — gate those separately on n_base.
    """
    gcols = list(group_cols)
    rng = _base_ranges(base, value_col, gcols)
    return psi_from_profile(
        _base_bins(base, rng, value_col, gcols, n_bins),
        _bin_counts(current, rng, value_col, gcols, n_bins, "cur_cnt"),
        gcols,
    )


def psi_categorical(
    base: DataFrame,
    current: DataFrame,
    cat_col: str,
    group_cols: Sequence[str],
) -> DataFrame:
    """PSI over a CATEGORICAL column's frequency mix, per group — the
    language/source/format drift monitor (a new crawl whose language
    mix shifted needs resampling before it joins the training mix).

    No bins: the category set is the union observed across both
    snapshots (a category seen only in one side is exactly the drift
    signal, smoothed finitely rather than blowing up the log).

    Scale: one count aggregation per snapshot, then everything runs
    on |groups|·|categories| rows with broadcast joins.
    """
    gcols = list(group_cols)
    cat = F.col(cat_col).alias("__cat")
    pooled = _counts(base, cat_col, gcols, cat, "__cb").join(
        _counts(current, cat_col, gcols, cat, "__cc"), [*gcols, "__cat"], "full"
    )
    return psi_from_joint_counts(pooled.na.fill(0, ["__cb", "__cc"]), gcols)


def ks_report(
    base: DataFrame,
    current: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic per group — the
    bin-free complement to `psi_report`: D = max |ECDF_base(x) -
    ECDF_cur(x)| over the pooled distinct values, sensitive to any
    distributional change (location, scale, shape) without choosing
    bins.

    Scale: counts reduce each snapshot to its per-(group, value)
    distinct profile first (map-side combinable); the cumulative sums
    run over that DISTINCT-VALUES frame partitioned by group — fine
    whenever one group's distinct values fit an executor (the usual
    many-groups shape). For a single corpus-sized group with
    near-unique doubles, run `ks_binned_report` (bounded |groups|·bins
    state, underestimate bounded by the largest single-bin mass) or
    `psi_report`'s fixed bins — at that cardinality the exact KS
    frame is the wrong tool on any engine.
    """
    gcols = list(group_cols)
    v = F.col(value_col).cast("double").alias("__v")
    pooled = _counts(base, value_col, gcols, v, "__cb").join(
        _counts(current, value_col, gcols, v, "__cc"), [*gcols, "__v"], "full"
    )
    return _ks_from_pooled(pooled.na.fill(0, ["__cb", "__cc"]), gcols, "__v")


def ks_binned_report(
    base: DataFrame,
    current: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    n_bins: int = 100,
) -> DataFrame:
    """KS statistic evaluated on FIXED-WIDTH bin boundaries — the
    bounded-state variant of `ks_report` for the single-giant-group /
    continuous-values shape where the exact per-(group, value)
    distinct profile is unbounded. ECDFs are compared only at the
    n_bins boundaries over the BASE range, so shuffle state is
    |groups|·n_bins REGARDLESS of value cardinality.

    The emitted statistic underestimates the exact D by at most the
    largest single-bin probability mass (ECDFs are monotone between
    evaluation points); at n_bins=100 that is <= max(p_bin) — tighten
    by raising n_bins, each bin costing one counter, not one value.
    """
    gcols = list(group_cols)
    rng = _base_ranges(base, value_col, gcols)
    pooled = _bin_counts(base, rng, value_col, gcols, n_bins, "__cb").join(
        _bin_counts(current, rng, value_col, gcols, n_bins, "__cc"),
        [*gcols, "bin"],
        "full",
    )
    return _ks_from_pooled(pooled.na.fill(0, ["__cb", "__cc"]), gcols, "bin")


def embedding_drift(
    base: DataFrame,
    current: DataFrame,
    vec_col: str,
    group_cols: Sequence[str],
) -> DataFrame:
    """Centroid drift between two snapshots of an embedding column,
    per group: the cosine between the snapshots' mean vectors — the
    semantic counterpart of `psi_report` (a crawl whose topic mix
    moved shows up as a mean-vector rotation long before any scalar
    profile shifts).

    Determinism chain, every step order-independent:
    per-dimension means accumulate as exact decimals (the k-means
    convention), each mean is pinned to an integer NANO grid
    (round(m*1e9)), and the dot / norm sums over the 64-dim mean
    vectors run in exact decimal — the single float expression is
    the final cosine, micro6-rounded once. Identical bytes on any
    partitioning and in any engine.

    Scale: each snapshot reduces via one posexplode + groupBy to a
    |groups|·dim frame; everything after is broadcast-sized. Groups
    must appear in both snapshots.
    """
    gcols = list(group_cols)

    def means(df: DataFrame, m_alias: str, n_alias: str) -> DataFrame:
        ex = df.filter(F.col(vec_col).isNotNull()).select(
            *gcols, F.posexplode(vec_col).alias("__pos", "__x")
        )
        return ex.groupBy(*gcols, "__pos").agg(
            F.round(
                F.sum(F.col("__x").cast("decimal(28,12)")).cast("double")
                / F.count(F.lit(1))
                * F.lit(1_000_000_000.0)
            ).cast("long").alias(m_alias),
            F.count(F.lit(1)).alias(n_alias),
        )

    mb = means(base, "__mb", "__nb")
    mc = means(current, "__mc", "__nc")
    joined = mb.join(mc, [*gcols, "__pos"])
    agg = joined.groupBy(*gcols).agg(
        F.max("__nb").alias("n_base"),
        F.max("__nc").alias("n_cur"),
        F.sum(F.col("__mb").cast("decimal(38,0)") * F.col("__mc")).alias("__dot"),
        F.sum(F.col("__mb").cast("decimal(38,0)") * F.col("__mb")).alias("__bb"),
        F.sum(F.col("__mc").cast("decimal(38,0)") * F.col("__mc")).alias("__cc"),
    )
    return agg.select(
        *gcols,
        "n_base",
        "n_cur",
        micro6(
            F.col("__dot").cast("double")
            / (
                F.sqrt(F.col("__bb").cast("double"))
                * F.sqrt(F.col("__cc").cast("double"))
            )
        ).alias("centroid_cos_micro"),
    )


def winsorize(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    lo: float = 0.01,
    hi: float = 0.99,
    alias: str = "winsorized_micro",
) -> DataFrame:
    """Clamp a value at its group's [lo, hi] percentiles — the
    standard heavy-tail tamer before averaging/scaling a quality or
    engagement score (a handful of 10^6-outliers otherwise own every
    mean downstream).

    The clamp runs ENTIRELY on the integer micro grid: value and both
    exact-percentile cut points are micro6-pinned first, then
    least/greatest compares integers — no raw-double comparison can
    flip on an engine's last-ulp interpolation difference. Output is
    the micro bigint (divide by 1e6 for a double at the documented
    1e-6 grain).

    Scale: one percentile aggregation per group (exact `percentile`
    buffers each group's values — the mad_outliers contract: right
    for many-groups shapes; swap approx_percentile for one
    corpus-sized group), broadcast back, one integer expression.
    """
    gcols = [F.col(c) for c in group_cols]
    cuts = df.groupBy(*gcols).agg(
        micro6(F.expr(f"percentile({value_col}, {lo})")).alias("__qlo"),
        micro6(F.expr(f"percentile({value_col}, {hi})")).alias("__qhi"),
    )
    keep = list(df.columns)
    return (
        df.join(F.broadcast(cuts), list(group_cols))
        .select(
            *keep,
            F.least(
                F.greatest(micro6(F.col(value_col)), F.col("__qlo")),
                F.col("__qhi"),
            ).alias(alias),
        )
    )


def corr_matrix(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Pearson correlation matrix over k columns in ONE aggregation
    pass — row per unordered pair (col_x < col_y) with pairwise-
    complete `n` and `corr_micro`.

    `exact_corr` called per pair scans the fact k(k-1)/2 times; this
    computes every pair's five sufficient statistics as conditional
    aggregates in a single `agg` (one scan, one reduce — the
    `profile_numeric` design), then evaluates each closed form once.
    Same determinism contract as `exact_corr`: exact decimal sums
    (order-independent on any partitioning), pinned double expression
    order, try_divide -> NULL on zero variance, (18,4) input domain.
    Pairwise-complete semantics: each pair's stats accumulate only
    over rows where BOTH columns are non-null.
    """
    pairs = [
        (cols[i], cols[j])
        for i in range(len(cols))
        for j in range(i + 1, len(cols))
    ]
    aggs: list = []
    for x_col, y_col in pairs:
        both = F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
        x = F.when(both, F.col(x_col)).cast("decimal(18,4)")
        y = F.when(both, F.col(y_col)).cast("decimal(18,4)")
        p = f"{x_col}__{y_col}"
        aggs += [
            F.count(F.when(both, F.lit(1))).alias(f"{p}__n"),
            F.sum(x).cast("double").alias(f"{p}__sx"),
            F.sum(y).cast("double").alias(f"{p}__sy"),
            F.sum((x * y).cast("decimal(38,8)")).cast("double").alias(f"{p}__sxy"),
            F.sum((x * x).cast("decimal(38,8)")).cast("double").alias(f"{p}__sxx"),
            F.sum((y * y).cast("decimal(38,8)")).cast("double").alias(f"{p}__syy"),
        ]
    row = df.agg(*aggs)
    per_pair = F.array(
        *[
            F.struct(
                F.lit(x_col).alias("col_x"),
                F.lit(y_col).alias("col_y"),
                F.col(f"{x_col}__{y_col}__n").alias("n"),
                F.col(f"{x_col}__{y_col}__sx").alias("__sx"),
                F.col(f"{x_col}__{y_col}__sy").alias("__sy"),
                F.col(f"{x_col}__{y_col}__sxy").alias("__sxy"),
                F.col(f"{x_col}__{y_col}__sxx").alias("__sxx"),
                F.col(f"{x_col}__{y_col}__syy").alias("__syy"),
            )
            for x_col, y_col in pairs
        ]
    )
    g = row.select(F.explode(per_pair).alias("p")).select("p.*")
    nn = F.col("n").cast("double")
    cov = nn * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    vx = nn * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    vy = nn * F.col("__syy") - F.col("__sy") * F.col("__sy")
    return g.select(
        "col_x",
        "col_y",
        "n",
        micro6(F.try_divide(cov, F.sqrt(vx * vy))).alias("corr_micro"),
    )


def ab_test(
    df: DataFrame,
    treatment_col: str,
    success_col: str,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Two-proportion z-test per group — the experiment readout
    (treatment vs control conversion) as ONE conditional aggregation
    pass: arm counts and successes accumulate as exact integers, the
    pooled-variance z evaluates once in a pinned double chain.
    try_divide -> NULL z when an arm is empty or the pooled rate is
    degenerate (0 or 1). Emits per-arm rates and z in micro-units.

    |z| > 1.96 is the usual 95% bar; the statistic is deterministic
    bytes on any partitioning, so the readout itself can gate a
    pipeline promotion step.
    """
    t = F.col(treatment_col).cast("boolean")
    s = F.col(success_col).cast("boolean")
    g = df.groupBy(*[F.col(c) for c in group_cols]).agg(
        F.count(F.when(t, F.lit(1))).alias("n_t"),
        F.count(F.when(~t, F.lit(1))).alias("n_c"),
        F.count(F.when(t & s, F.lit(1))).alias("s_t"),
        F.count(F.when(~t & s, F.lit(1))).alias("s_c"),
    )
    nt = F.col("n_t").cast("double")
    nc = F.col("n_c").cast("double")
    pt = F.try_divide(F.col("s_t").cast("double"), nt)
    pc = F.try_divide(F.col("s_c").cast("double"), nc)
    pp = F.try_divide(
        (F.col("s_t") + F.col("s_c")).cast("double"), nt + nc
    )
    z = F.try_divide(
        pt - pc,
        F.sqrt(
            pp
            * (1.0 - pp)
            * (F.try_divide(F.lit(1.0), nt) + F.try_divide(F.lit(1.0), nc))
        ),
    )
    return g.select(
        *group_cols,
        "n_t",
        "n_c",
        micro6(pt).alias("rate_t_micro"),
        micro6(pc).alias("rate_c_micro"),
        micro6(z).alias("z_micro"),
    )


def benford_audit(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Leading-digit distribution vs Benford's law, per group — the
    classic fabricated-/synthetic-data smell test on any positive
    measure (amounts, counts, magnitudes). One aggregation pass; a
    1-9 scaffold keeps zero-count digits visible.

    Digit = floor(|v| / 10^floor(log10(|v|))) — a pinned float
    expression identical in both engines (a flip would need a value
    within ~1 ulp of a power of ten). Zero/NULL values are excluded
    (they have no leading digit). `obs_micro` is the exact-count
    fraction rounded once; `exp_micro` = micro6(log10(1 + 1/d)).
    """
    gcols = list(group_cols)
    v = F.abs(F.col(value_col).cast("double"))
    digit = F.floor(v / F.pow(F.lit(10.0), F.floor(F.log10(v)))).alias("digit")
    counts = (
        df.filter(F.col(value_col).isNotNull() & (v > 0))
        .groupBy(*gcols, digit)
        .agg(F.count(F.lit(1)).alias("n_d"))
    )
    tot = counts.groupBy(*gcols).agg(F.sum("n_d").alias("__n"))
    scaffold = tot.select(
        *gcols,
        "__n",
        F.explode(F.sequence(F.lit(1), F.lit(9))).alias("digit"),
    ).withColumn("digit", F.col("digit").cast("long"))
    j = scaffold.join(counts, [*gcols, "digit"], "left").select(
        *gcols,
        "digit",
        F.coalesce("n_d", F.lit(0)).alias("n_d"),
        micro6(
            F.coalesce("n_d", F.lit(0)).cast("double") / F.col("__n")
        ).alias("obs_micro"),
        micro6(
            F.log10(1.0 + 1.0 / F.col("digit").cast("double"))
        ).alias("exp_micro"),
    )
    return j


def target_encode(
    df: DataFrame,
    cat_col: str,
    target_col: str,
    fold_col: str | None = None,
    m: float = 20.0,
    alias: str = "te_micro",
) -> DataFrame:
    """Smoothed target encoding of a categorical column — the
    standard high-cardinality feature for the model-based quality
    gates: enc(cat) = (Σy_cat + m·global_mean) / (n_cat + m), shrunk
    toward the global mean for rare categories.

    With `fold_col`, the encoding is LEAVE-FOLD-OUT — each row's
    category statistics EXCLUDE its own fold (Σ_cat − Σ_cat,fold),
    the standard leakage guard (in-fold means leak the row's own
    label into its feature; the decontamination concern applied to
    feature engineering). Still one stats pass: per-(cat, fold)
    exact-decimal sums roll up to category totals by exact decimal
    subtraction; the single float chain per row is the final ratio,
    micro6-rounded once.

    Scale: stats are |cats|·|folds| rows, broadcast back; no second
    scan of the fact. Rows with a NULL category keep a NULL encoding.
    """
    fold = fold_col or "__fold0"
    base = df if fold_col else df.withColumn(fold, F.lit(0))
    y = F.when(F.col(target_col).isNotNull(), F.col(target_col)).cast(
        "decimal(18,4)"
    )
    cf = base.groupBy(cat_col, fold).agg(
        F.count(F.when(F.col(target_col).isNotNull(), F.lit(1))).alias("__n_cf"),
        F.sum(y).alias("__s_cf"),
    )
    ct = cf.groupBy(cat_col).agg(
        F.sum("__n_cf").alias("__n_c"), F.sum("__s_cf").alias("__s_c")
    )
    gl = ct.agg(
        F.sum("__n_c").alias("__n_all"), F.sum("__s_c").alias("__s_all")
    )
    gm = F.col("__s_all").cast("double") / F.col("__n_all").cast("double")
    if fold_col:
        s_out = (F.col("__s_c") - F.col("__s_cf")).cast("double")
        n_out = (F.col("__n_c") - F.col("__n_cf")).cast("double")
    else:
        s_out = F.col("__s_c").cast("double")
        n_out = F.col("__n_c").cast("double")
    enc = (s_out + F.lit(m) * gm) / (n_out + F.lit(m))
    keep = list(df.columns)
    out = (
        base.join(F.broadcast(cf), [cat_col, fold], "left")
        .join(F.broadcast(ct), [cat_col], "left")
        .crossJoin(F.broadcast(gl))
        .select(*keep, micro6(enc).alias(alias))
    )
    return out


def cusum_changepoint(
    df: DataFrame,
    time_col: str,
    value_col: str,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Single most-likely mean-shift changepoint per group by CUSUM:
    the time t maximizing |Σ_{i<=t} x_i − (t/n)·Σx| — where the
    cumulative sum departs farthest from the no-change diagonal.

    EXACT INTEGER arithmetic throughout: the statistic is scaled by
    n (S_t = n·cum_t − t·total, all int64), so there is no division,
    no float, and no tie ambiguity beyond the pinned earliest-time
    tiebreak — identical bytes on any engine and partitioning.
    Emits the argmax time, the scaled |S| at it, and n so callers
    can normalize (|S|/n = classic CUSUM units) or bootstrap a
    threshold.

    Scale: one aggregation to the per-(group, time) series, then
    windows over the SERIES frame (days-sized, never event rows) —
    the seasonal_decompose contract.
    """
    gcols = list(group_cols)
    series = df.groupBy(*gcols, F.col(time_col).alias("t")).agg(
        F.sum(F.col(value_col).cast("long")).alias("__x")
    )
    wcum = (
        Window.partitionBy(*gcols)
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy(*gcols)
    scored = series.select(
        *gcols,
        "t",
        (
            F.count(F.lit(1)).over(wall) * F.sum("__x").over(wcum)
            - F.row_number().over(Window.partitionBy(*gcols).orderBy("t"))
            * F.sum("__x").over(wall)
        ).alias("__s"),
        F.count(F.lit(1)).over(wall).alias("n_points"),
    )
    pick = Window.partitionBy(*gcols).orderBy(
        F.abs(F.col("__s")).desc(), F.col("t")
    )
    return (
        scored.withColumn("__rk", F.row_number().over(pick))
        .filter(F.col("__rk") == 1)
        .select(
            *gcols,
            F.col("t").alias("change_at"),
            F.abs(F.col("__s")).alias("cusum_scaled"),
            "n_points",
        )
    )


def contingency_stats(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Association between two categorical columns — mutual
    information (nats) and the chi-square statistic from ONE
    contingency aggregation: the feature-relevance / independence
    audit (is `source` informative about `lang`? did the split
    preserve independence?).

    Determinism contract: cell/margin counts are exact integers; MI
    and chi-square accumulate per CELL as micro6-rounded terms and
    sum as integers (the PSI convention — no float summation order).
    Observed cells carry the MI sum (empty cells contribute 0 by
    limit); chi-square runs over the FULL margin cross (empty cells
    contribute their expectation), built by crossing the margin
    tables — |X|·|Y| rows, never a fact-sized join.

    Scale: one groupBy over the fact; everything after is
    margin-sized with broadcast joins.
    """
    cells = (
        df.filter(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
        .groupBy(F.col(x_col).alias("__x"), F.col(y_col).alias("__y"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    rx = cells.groupBy("__x").agg(F.sum("__c").alias("__rx"))
    cy = cells.groupBy("__y").agg(F.sum("__c").alias("__cy"))
    tot = cells.agg(F.sum("__c").alias("__n"))
    nn = F.col("__n").cast("double")
    grid = (
        rx.crossJoin(cy)
        .join(cells, ["__x", "__y"], "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "__x",
            "__y",
            F.coalesce("__c", F.lit(0)).alias("__c"),
            "__rx",
            "__cy",
            "__n",
        )
    )
    c = F.col("__c").cast("double")
    e = F.col("__rx").cast("double") * F.col("__cy") / nn
    mi_term = F.when(
        F.col("__c") > 0,
        micro6(
            (c / nn)
            * F.log(
                c * nn / (F.col("__rx").cast("double") * F.col("__cy"))
            )
        ),
    ).otherwise(F.lit(0).cast("bigint"))
    chi_term = micro6((c - e) * (c - e) / e)
    return grid.agg(
        F.max("__n").alias("n"),
        F.count(F.lit(1)).alias("n_cells"),
        F.sum(mi_term).alias("mi_micro"),
        F.sum(chi_term).alias("chi2_micro"),
    )


def unigram_jsd_matrix(
    df: DataFrame,
    text_col: str,
    source_col: str,
) -> DataFrame:
    """Pairwise Jensen-Shannon divergence (nats) between the sources'
    unigram distributions — the corpus-mixing redundancy map (two
    crawls with near-zero JSD are interchangeable; one near ln 2 adds
    genuinely new text).

    Decomposition that keeps everything exact until one pinned float
    per part: tokens present in BOTH sources contribute
    (p/2)·ln(p/m) + (q/2)·ln(q/m) — each term nano-rounded (1e-9;
    micro would zero out 1/|vocab|-scale terms) and integer-summed;
    tokens in only ONE source contribute in closed form
    (ln2/2)·(single-source mass), computed from integer shared-count
    totals with ONE division per side. JSD = shared + closed-form
    parts, all integer nano-units.

    Scale: one token-count aggregation (map-side combinable), then a
    vocab-keyed inner self-join per source pair — shuffle carries
    (token, count) rows, never documents. |sources| is assumed
    small (the mixing-table shape); the join output is
    |shared vocab|·|pairs|. Pairs sharing NO vocabulary do not emit
    a row (their JSD is trivially ln 2).
    """
    import math

    from gcp_data_pipeline_fyp_spark.functions.text import tokens

    toks = df.select(
        F.col(source_col).alias("__src"),
        F.explode(
            F.coalesce(tokens(text_col), F.array().cast("array<string>"))
        ).alias("__tok"),
    ).filter(F.col("__tok") != "")
    counts = toks.groupBy("__src", "__tok").agg(F.count(F.lit(1)).alias("__c"))
    totals = counts.groupBy("__src").agg(F.sum("__c").alias("__n"))
    prof = counts.join(F.broadcast(totals), "__src")
    a = prof.select(
        F.col("__src").alias("source_a"),
        F.col("__tok").alias("__tok"),
        F.col("__c").alias("__ca"),
        F.col("__n").alias("__na"),
    )
    b = prof.select(
        F.col("__src").alias("source_b"),
        F.col("__tok").alias("__tok"),
        F.col("__c").alias("__cb"),
        F.col("__n").alias("__nb"),
    )
    pa = F.col("__ca").cast("double") / F.col("__na").cast("double")
    pb = F.col("__cb").cast("double") / F.col("__nb").cast("double")
    m = (pa + pb) / 2.0
    term = F.round(
        ((pa / 2.0) * F.log(pa / m) + (pb / 2.0) * F.log(pb / m))
        * F.lit(1_000_000_000.0),
        0,
    ).cast("bigint")
    shared = (
        a.join(b, ["__tok"])
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.max("__na").alias("n_a"),
            F.max("__nb").alias("n_b"),
            F.sum(term).alias("__t"),
            F.sum("__ca").alias("__sca"),
            F.sum("__cb").alias("__scb"),
        )
    )
    only_a = (F.col("n_a") - F.col("__sca")).cast("double") / F.col("n_a").cast(
        "double"
    )
    only_b = (F.col("n_b") - F.col("__scb")).cast("double") / F.col("n_b").cast(
        "double"
    )
    closed = F.round(
        F.lit(math.log(2.0) / 2.0) * (only_a + only_b) * F.lit(1_000_000_000.0),
        0,
    ).cast("bigint")
    return shared.select(
        "source_a",
        "source_b",
        "n_a",
        "n_b",
        (F.col("__t") + closed).alias("jsd_nano"),
    )


def interpolate_linear(
    df: DataFrame,
    key_cols: Sequence[str],
    t_col: str,
    v_col: str,
    alias: str = "v_interp_micro",
) -> DataFrame:
    """Linear interpolation of NULL gaps in a per-key numeric series —
    the sensor-gap filler between `resample`'s forward-fill (steps)
    and model-based imputation: each missing point takes the straight
    line between its nearest known neighbors; edge gaps (no neighbor
    on one side) take the single known side.

    `t_col` must be numeric (cast timestamps to an epoch or day
    index first). Two IGNORE-NULLS window passes find the bracketing
    points; the single float chain va + (vb-va)·((t-ta)/(tb-ta))
    is pinned and micro6-rounded once; try_divide + coalesce keep
    duplicate-timestamp brackets finite (they fall back to the last
    known value). Windows run per key over the series frame — the
    seasonal_decompose contract (aggregate first; never event rows).
    """
    gcols = list(key_cols)
    t = F.col(t_col).cast("double")
    v = F.col(v_col).cast("double")
    wb = (
        Window.partitionBy(*gcols)
        .orderBy(t_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy(*gcols)
        .orderBy(t_col)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    va = F.last(v, ignorenulls=True).over(wb)
    ta = F.last(F.when(v.isNotNull(), t), ignorenulls=True).over(wb)
    vb = F.first(v, ignorenulls=True).over(wf)
    tb = F.first(F.when(v.isNotNull(), t), ignorenulls=True).over(wf)
    line = va + (vb - va) * F.coalesce(
        F.try_divide(t - ta, tb - ta), F.lit(0.0)
    )
    interp = (
        F.when(v.isNotNull(), v)
        .when(va.isNull(), vb)
        .when(vb.isNull(), va)
        .otherwise(line)
    )
    keep = list(df.columns)
    return df.select(*keep, micro6(interp).alias(alias))


def grouped_ols(
    df: DataFrame,
    x_col: str,
    y_col: str,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Per-group least-squares trend line (slope + intercept), exact
    and deterministic — one row per group with `n`, `slope_micro`,
    `intercept_micro`.

    The closed form needs the same five sufficient statistics as
    `exact_corr` and inherits its whole design: Σ as exact decimals
    (order-independent on any partitioning), closed form evaluated
    ONCE in double with a pinned expression order, try_divide ->
    NULL on zero x-variance. One aggregation pass; no per-group
    iteration, no driver loop — trend detection over a trillion-row
    fact is a single groupBy at 100 TB. Same (18,4) input domain as
    `exact_corr` (rescale wider columns first).
    """
    x = F.col(x_col).cast("decimal(18,4)")
    y = F.col(y_col).cast("decimal(18,4)")
    g = df.filter(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    ).groupBy(*[F.col(c) for c in group_cols]).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).cast("double").alias("__sx"),
        F.sum(y).cast("double").alias("__sy"),
        F.sum((x * y).cast("decimal(38,8)")).cast("double").alias("__sxy"),
        F.sum((x * x).cast("decimal(38,8)")).cast("double").alias("__sxx"),
    )
    nn = F.col("n").cast("double")
    cov = nn * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    vx = nn * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    slope = F.try_divide(cov, vx)
    intercept = (F.col("__sy") - slope * F.col("__sx")) / nn
    return g.select(
        *group_cols,
        "n",
        micro6(slope).alias("slope_micro"),
        micro6(intercept).alias("intercept_micro"),
    )


def group_znormalize(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    alias: str = "z_micro",
) -> DataFrame:
    """Per-row z-score against the row's group, deterministic — the
    cross-source score calibration step of a corpus-mixing pipeline
    (a length/quality score is only comparable across crawls after
    per-source normalization).

    Same design as `exact_corr`: the group's sufficient statistics
    (n, Σx, Σx²) accumulate as EXACT decimals (order-independent),
    then mean/variance/z evaluate once in double with a pinned
    expression order — identical bytes on any partitioning and in any
    engine. Population variance; `greatest(·, 0)` absorbs the tiny
    negative fp residue of the two-pass-free var formula; try_divide
    -> NULL z for constant groups. One shuffle (the group agg); the
    stats side is |groups|-sized so the join back is a broadcast at
    any corpus scale. Same (18,4) input domain as `exact_corr`.
    """
    x = F.col(value_col).cast("decimal(18,4)")
    stats = df.filter(F.col(value_col).isNotNull()).groupBy(
        *[F.col(c) for c in group_cols]
    ).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(x).cast("double").alias("__sx"),
        F.sum((x * x).cast("decimal(38,8)")).cast("double").alias("__sxx"),
    )
    nn = F.col("__n").cast("double")
    mean = F.col("__sx") / nn
    var = F.greatest(F.col("__sxx") / nn - mean * mean, F.lit(0.0))
    z = F.try_divide(F.col(value_col).cast("double") - mean, F.sqrt(var))
    keep = list(df.columns)
    return (
        df.join(F.broadcast(stats), list(group_cols))
        .select(*keep, micro6(z).alias(alias))
    )


def gini_coefficient(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Gini concentration coefficient per group — the inequality
    readout (how concentrated is revenue/token mass over customers/
    sources?) via the exact rank formula G = 2·Σ(i·x_i)/(n·Σx) −
    (n+1)/n over ascending-sorted values.

    Exact integer/decimal core: values accumulate as decimal(18,4),
    rank·value products as decimal(38,4) (both order-independent),
    and the single float chain evaluates the closed form once,
    micro6-rounded. Ranks tie-break on the value's group row order
    by value then input order surrogate — ties share mass so any
    consistent tie order yields the same G. NULL and negative
    domains are the caller's problem (Gini is defined on
    non-negative mass); NULLs are excluded.

    Scale: one window rank per group over the VALUE-holder frame
    (customers, not line items — aggregate first), then one
    aggregation. The GROUPED path partitions the rank window by the
    group columns; with EMPTY `group_cols` that window would sort
    every value holder in one partition, so the ungrouped case
    routes to a distributed variant instead: tie-collapse to
    distinct values (Σi·x over a tied run is order-invariant, so it
    closes to c_before·c + c(c+1)/2), then a distributed prefix count
    (operators/prefix.py).
    """
    gcols = list(group_cols)
    x = F.col(value_col).cast("decimal(18,4)")
    base = df.filter(F.col(value_col).isNotNull())
    if not gcols:
        return _gini_ungrouped(base, value_col)
    w = Window.partitionBy(*gcols).orderBy(
        F.col(value_col), *[F.col(c) for c in df.columns if c != value_col]
    )
    ranked = base.select(
        *gcols,
        x.alias("__x"),
        F.row_number().over(w).alias("__i"),
    )
    agg = ranked.groupBy(*gcols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__x").alias("__s0"),
        F.sum(
            (F.col("__i").cast("decimal(19,0)") * F.col("__x")).cast(
                "decimal(38,4)"
            )
        ).alias("__s1"),
    )
    nn = F.col("n").cast("double")
    g = (
        2.0 * F.col("__s1").cast("double") / (nn * F.col("__s0").cast("double"))
        - (nn + 1.0) / nn
    )
    return agg.select(*gcols, "n", micro6(g).alias("gini_micro"))


def _gini_ungrouped(base: DataFrame, value_col: str) -> DataFrame:
    """Global Gini without a global sort. Collapse to distinct values
    (value, holder count) — Σi·x over a run of c tied holders after
    c_before smaller ones is x·(c_before·c + c(c+1)/2), invariant to
    tie order — then take c_before from a distributed prefix count
    over the distinct values (operators/prefix.py). Same decimal core
    and closed form as the grouped path; heavy value concentration
    degrades only to the per-bucket distinct-value count (documented,
    like ks_report's distinct-profile bound)."""
    x = F.col(value_col).cast("decimal(18,4)")
    vc = base.groupBy(x.alias("__v")).agg(F.count(F.lit(1)).alias("__c"))
    ranked = prefix_sum(
        range_bucket(vc, "__v"), BUCKET, [F.col("__v").asc()], "__c"
    )
    cb = (F.col(PREFIX) - F.col("__c")).cast("decimal(19,0)")
    cc = F.col("__c").cast("decimal(19,0)")
    run_rank_sum = (
        cb * cc + (cc * (cc + F.lit(1))) / F.lit(2)
    ).cast("decimal(38,0)")
    agg = ranked.agg(
        F.sum("__c").alias("n"),
        F.sum(F.col("__v") * cc).cast("decimal(38,4)").alias("__s0"),
        F.sum(
            (F.col("__v") * run_rank_sum).cast("decimal(38,4)")
        ).alias("__s1"),
    )
    nn = F.col("n").cast("double")
    g = (
        2.0 * F.col("__s1").cast("double") / (nn * F.col("__s0").cast("double"))
        - (nn + 1.0) / nn
    )
    return agg.select("n", micro6(g).alias("gini_micro"))
