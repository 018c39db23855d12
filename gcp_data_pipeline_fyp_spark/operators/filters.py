"""Declarative quality-filter chains with single-pass drop attribution.

A filter chain is an ordered list of ``(name, predicate Column)`` pairs
— the building block of every corpus-curation pipeline (C4, Gopher,
RefinedWeb all describe their cleaning as exactly such a cascade).
Three entry points, all one scan each:

- `first_fail_label`: which filter would drop each row first (or
  ``_kept``) — CASE-expression attribution, the report every curation
  paper publishes.
- `filter_chain_report`: long-format ``(filter, n_rows)`` counts via a
  groupBy on the label. One scan, map-side partial aggregation, and
  the result is |chain|+1 rows regardless of corpus size.
- `filter_fail_matrix`: *independent* per-filter failure counts
  (ignoring order) as a single aggregate row — conditional sums, no
  extra scan per filter.

Scale shape: everything is pure Catalyst column expressions inside one
whole-stage-codegen scan; the only shuffle is the |chain|+1-group
aggregation. No UDFs, no driver loops. At 100 TB the report costs one
corpus scan — the same price as counting rows.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

FilterChain = Sequence[tuple[str, Column]]

KEPT_LABEL = "_kept"


def _safe(pred: Column) -> Column:
    """NULL predicate == fail (a row you can't evaluate is not kept)."""
    return F.coalesce(pred, F.lit(False))


def _validate(filters: FilterChain) -> None:
    """Names must be unique and must not shadow the ``_kept`` bucket —
    a duplicate name fans out the report's scaffold join and double-
    counts; a filter named ``_kept`` silently merges with the kept row.
    """
    names = [name for name, _ in filters]
    dupes = {n for n in names if names.count(n) > 1}
    if dupes:
        raise ValueError(f"duplicate filter names: {sorted(dupes)}")
    if KEPT_LABEL in names:
        raise ValueError(f"filter name {KEPT_LABEL!r} is reserved for the kept bucket")


def first_fail_label(filters: FilterChain) -> Column:
    """Name of the first failing filter, or ``_kept`` if all pass."""
    _validate(filters)
    branches = [F.when(~_safe(p), F.lit(name)) for name, p in filters]
    return F.coalesce(*branches, F.lit(KEPT_LABEL))


def filter_chain_report(df: DataFrame, filters: FilterChain) -> DataFrame:
    """``(filter, n_rows)`` — first-fail attribution counts plus the
    ``_kept`` row. Filters that drop nothing still appear (count 0) so
    the report schema is stable across corpora."""
    _validate(filters)
    counted = (
        df.groupBy(first_fail_label(filters).alias("filter"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    names = [name for name, _ in filters] + [KEPT_LABEL]
    scaffold = df.sparkSession.createDataFrame(
        [(n,) for n in names], "filter string"
    )
    return (
        scaffold.join(counted, "filter", "left")
        .select("filter", F.coalesce("n_rows", F.lit(0)).alias("n_rows"))
    )


def filter_fail_matrix(df: DataFrame, filters: FilterChain) -> DataFrame:
    """One row: independent failure count per filter (order-blind) plus
    ``n_total`` — shows overlap between filters that first-fail hides."""
    _validate(filters)
    aggs = [
        F.sum(F.when(~_safe(p), 1).otherwise(0)).alias(f"fail_{name}")
        for name, p in filters
    ]
    return df.agg(*aggs, F.count(F.lit(1)).alias("n_total"))


def adaptive_group_thresholds(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    q: float = 0.25,
    mode: str = "exact",
) -> DataFrame:
    """Per-group quantile thresholds for data-dependent filtering —
    "keep documents above the p25 length FOR THEIR LANGUAGE", the
    adaptive variant of a fixed-constant filter chain (a constant
    tuned on English silently over-drops CJK, where the same quality
    signal sits on a different scale; per-group quantiles are how
    multilingual curation pipelines re-center each slice).

    Returns (group_cols..., n, threshold).

    mode="exact": Spark's interpolated `percentile` — the
    certification path. Its state is O(group size) ON THE GROUP'S
    REDUCER, which is fine exactly when groups are BOUNDED slices
    (languages, sources: each group still holds billions of rows at
    100 TB, but `percentile`'s buffer holds the group's VALUES — so
    exact mode is for sampled/bounded inputs or moderate groups).
    mode="sketch": the mergeable DDSketch-style log-bucket state
    (operators/rollup.quantile_state) — bounded O(log range) state per
    group regardless of group size, ~1% relative error; the 100 TB
    default.
    """
    if not group_cols:
        raise ValueError("group_cols must be non-empty; for a global "
                         "threshold add a constant column")
    if not (0.0 < q < 1.0):
        raise ValueError("q must be in (0, 1)")
    if mode == "exact":
        return df.filter(F.col(value_col).isNotNull()).groupBy(*group_cols).agg(
            F.count(F.lit(1)).alias("n"),
            F.percentile(F.col(value_col).cast("double"), F.lit(q)).alias(
                "threshold"
            ),
        )
    if mode == "sketch":
        from gcp_data_pipeline_fyp_spark.operators.rollup import (
            quantile_state,
            quantiles_from_state,
        )

        state = quantile_state(df, list(group_cols), value_col)
        out = quantiles_from_state(state, list(group_cols), ps=[q])
        pcol = [c for c in out.columns if c.startswith("p")][-1]
        return out.select(*group_cols, "n", F.col(pcol).alias("threshold"))
    raise ValueError(f"unknown mode {mode!r} (use 'exact' or 'sketch')")


def adaptive_threshold_filter(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    q: float = 0.25,
    mode: str = "exact",
) -> DataFrame:
    """Rows whose `value_col` >= their group's q-quantile. The
    thresholds table is |groups| rows — broadcast by construction, so
    the filter costs one corpus scan + a broadcast hash join (no
    corpus shuffle). Rows in groups absent from the thresholds (all-
    NULL value groups) are dropped, consistent with NULL == fail."""
    th = adaptive_group_thresholds(df, group_cols, value_col, q, mode)
    # null-safe equi-join: a NULL group key (undetected language) is a
    # real slice with its own threshold row; a plain equi-join would
    # silently drop every such row (NULL != NULL)
    t = F.broadcast(
        th.select(
            *[F.col(c).alias(f"__g_{c}") for c in group_cols], "threshold"
        )
    )
    cond = None
    for c in group_cols:
        term = df[c].eqNullSafe(F.col(f"__g_{c}"))
        cond = term if cond is None else cond & term
    joined = df.join(t, cond, "inner")
    return (
        joined.filter(F.col(value_col).cast("double") >= F.col("threshold"))
        .drop("threshold", *[f"__g_{c}" for c in group_cols])
    )
