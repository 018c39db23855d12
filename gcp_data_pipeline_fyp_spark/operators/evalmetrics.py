"""Classifier evaluation metrics at corpus scale: ROC-AUC and
calibration — the measurement half of the quality-classifier loop
(operators/classifier.py trains and scores; these certify whether the
scores are worth filtering on, and whether "0.9" means 90%).

- `roc_auc`: exact tie-aware Mann-Whitney AUC. AUC = P(score_pos >
  score_neg) + P(equal)/2, computed from the rank-sum identity
    AUC = (S_pos - P(P+1)/2) / (P * N)
  with S_pos = sum of AVERAGE ranks of the positives (average over
  tie runs — the standard tie correction). No global sort of rows
  anywhere: scores collapse to DISTINCT values first (per tie run of
  c rows after C smaller rows, the positives' rank contribution
  closes to p * (C + (c+1)/2), order-invariant), then the prefix
  count C(v) is a distributed prefix count over the distinct values
  (operators/prefix.py, also behind the ungrouped Gini and the
  midrank blend). Everything until the final division is exact
  integer arithmetic (2*S_pos is an integer: p*(2C + c + 1)), so the
  micro6 emission is engine-independent.

- `calibration_report`: fixed-width score bins -> (bin, n, mean
  predicted score, observed positive rate) plus each bin's |gap| —
  the reliability-diagram table; ECE is the n-weighted mean of the
  gaps, computable from the report without another scan. Means go
  through the exact-decimal route (queries_util discipline) so the
  report is partial-aggregation-order independent.

- `threshold_sweep`: exact confusion counts + precision/recall/F1 at
  each candidate threshold, one corpus scan (conditional sums as plan
  constants, stack to long form) — the operating-point table that
  turns "the classifier ranks well" (AUC) into "filter at 0.73".

Scale: roc_auc's shuffles carry distinct-score rows (value, p, n),
never raw rows; calibration is a |bins|-group aggregate, one scan.
Both are pure column expressions — no UDFs, no driver loops.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gcp_data_pipeline_fyp_spark.operators.prefix import (
    BUCKET,
    PREFIX,
    prefix_sum,
    range_bucket,
)
from gcp_data_pipeline_fyp_spark.queries_util import micro6


def _two_s_pos(p: "F.Column", c: "F.Column", c_before: "F.Column"):
    """Exact-integer rank-sum contribution of one tie run: positives
    times twice-the-average-rank, 2*avg_rank = 2*C + c + 1."""
    pp = p.cast("decimal(19,0)")
    cc = c.cast("decimal(19,0)")
    return (pp * (F.lit(2) * c_before + cc + F.lit(1))).cast("decimal(38,0)")


def _finalize_auc(agg: DataFrame, key_cols: list[str]) -> DataFrame:
    """Shared AUC tail: (keys..., n_pos, n_neg, auc_micro) off an
    aggregate carrying n_pos/n_neg/__2sp — NULL on degenerate inputs
    (single-class), exact integers until the one division."""
    p_tot = F.col("n_pos").cast("decimal(19,0)")
    num = (
        F.col("__2sp") - (p_tot * (p_tot + F.lit(1))).cast("decimal(38,0)")
    ).cast("double")
    den = 2.0 * F.col("n_pos").cast("double") * F.col("n_neg").cast("double")
    auc = F.when((F.col("n_pos") > 0) & (F.col("n_neg") > 0), num / den)
    return agg.select(
        *key_cols, "n_pos", "n_neg", micro6(auc).alias("auc_micro")
    )


def roc_auc(
    df: DataFrame,
    score_col: str,
    label_col: str,
) -> DataFrame:
    """One-row (n_pos, n_neg, auc_micro) for a boolean/0-1 label.

    NULL scores and NULL labels are excluded (a row you cannot place
    on either axis is not evidence). Degenerate inputs (no positives
    or no negatives) yield auc_micro NULL — AUC is undefined there,
    and a silent 0 or 1 would read as a (terrible|perfect) classifier.
    """
    lab = F.col(label_col).cast("boolean")
    v = F.col(score_col).cast("double")
    # NaN is excluded like NULL (a row you cannot place on the score
    # axis is not evidence); unfiltered, NaN would survive isNotNull
    # and rank as the largest double
    base = df.filter(
        F.col(score_col).isNotNull() & ~F.isnan(v) & lab.isNotNull()
    )

    # collapse to distinct score values: per value, positive and total
    # holder counts — the only frame any shuffle carries from here on
    vc = base.groupBy(v.alias("__v")).agg(
        F.sum(lab.cast("long")).alias("__p"),
        F.count(F.lit(1)).alias("__c"),
    )

    # rows below each distinct value: its running count minus its own
    ranked = prefix_sum(
        range_bucket(vc, "__v"), BUCKET, [F.col("__v").asc()], "__c"
    )
    cb = (F.col(PREFIX) - F.col("__c")).cast("decimal(19,0)")
    agg = ranked.agg(
        F.sum("__p").alias("n_pos"),
        F.sum(F.col("__c") - F.col("__p")).alias("n_neg"),
        F.sum(_two_s_pos(F.col("__p"), F.col("__c"), cb)).alias("__2sp"),
    )
    return _finalize_auc(agg, [])


def calibration_report(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
    lo: float = 0.0,
    hi: float = 1.0,
) -> DataFrame:
    """One-shot reliability diagram: (bin, n, mean_score_micro,
    pos_rate_micro, gap_micro) per fixed-width score bin over [lo, hi]
    (one scan, |bins| shuffle groups; the score sum is exact decimal).
    ECE = sum(n * gap) / sum(n) — computable from this report. Scores
    outside [lo, hi] clamp into the edge bins (a calibrated
    probability should not leave [0,1]; clamping keeps stray values
    visible in the edge rows instead of silently dropping them)."""
    if n_bins <= 0:
        raise ValueError("n_bins must be positive")
    if not hi > lo:
        raise ValueError("hi must exceed lo")
    lab = F.col(label_col).cast("boolean")
    v = F.col(score_col).cast("double")
    # NaN excluded like NULL: it would land in bin 0 (floor(NaN) casts
    # to 0) and count in n/__np while vanishing from the decimal score
    # sum — a silently biased bin-0 mean. Clamping keeps finite strays
    # visible; non-values are dropped.
    base = df.filter(
        F.col(score_col).isNotNull() & ~F.isnan(v) & lab.isNotNull()
    )
    b = F.least(
        F.lit(n_bins - 1),
        F.greatest(
            F.lit(0), F.floor((v - F.lit(lo)) / F.lit(hi - lo) * n_bins)
        ),
    ).cast("int")
    state = base.groupBy(b.alias("bin")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v.cast("decimal(18,6)")).cast("decimal(38,6)").alias("__sv"),
        F.sum(lab.cast("long")).alias("__np"),
    )
    mean_score = F.col("__sv").cast("double") / F.col("n").cast("double")
    pos_rate = F.col("__np").cast("double") / F.col("n").cast("double")
    return state.select(
        "bin",
        "n",
        micro6(mean_score).alias("mean_score_micro"),
        micro6(pos_rate).alias("pos_rate_micro"),
        micro6(F.abs(mean_score - pos_rate)).alias("gap_micro"),
    )


def threshold_sweep(
    df: DataFrame,
    score_col: str,
    label_col: str,
    thresholds: Sequence[float],
) -> DataFrame:
    """Operating-point table: one row per threshold t with the exact
    confusion counts for the rule `predict positive iff score >= t`,
    plus precision/recall/F1 — the table you read to PICK the filter
    threshold that AUC (ranking quality) and calibration (probability
    quality) deliberately don't give you.

    (threshold_micro, tp, fp, fn, tn, precision_micro, recall_micro,
    f1_micro) — thresholds are emitted in micro units so the row key
    is integer-exact; degenerate denominators (no predicted positives
    / no actual positives / P+R = 0) yield NULL rather than a silent
    0 or 1.

    Scale shape: ONE corpus scan — |thresholds| conditional sums in a
    single aggregate row (thresholds are a plan constant, like
    unrolled Bloom probes), unpivoted to long form with a stack over
    the one-row frame. Row universe matches `roc_auc`: NULL/NaN
    scores and NULL labels are excluded.
    """
    if not thresholds:
        raise ValueError("thresholds must be non-empty")
    ts = sorted({float(t) for t in thresholds})
    lab = F.col(label_col).cast("boolean")
    v = F.col(score_col).cast("double")
    base = df.filter(
        F.col(score_col).isNotNull() & ~F.isnan(v) & lab.isNotNull()
    )
    aggs = []
    for i, t in enumerate(ts):
        pred = v >= F.lit(t)
        aggs.append(
            F.sum((pred & lab).cast("long")).alias(f"__tp_{i}")
        )
        aggs.append(
            F.sum((pred & ~lab).cast("long")).alias(f"__fp_{i}")
        )
        aggs.append(
            F.sum(((~pred) & lab).cast("long")).alias(f"__fn_{i}")
        )
        aggs.append(
            F.sum(((~pred) & (~lab)).cast("long")).alias(f"__tn_{i}")
        )
    one = base.agg(*aggs)
    stacked = one.select(
        F.expr(
            "stack({n}, {args}) as (threshold_micro, tp, fp, fn, tn)".format(
                n=len(ts),
                args=", ".join(
                    f"{int(round(t * 1_000_000))}L, "
                    f"coalesce(__tp_{i}, 0L), coalesce(__fp_{i}, 0L), "
                    f"coalesce(__fn_{i}, 0L), coalesce(__tn_{i}, 0L)"
                    for i, t in enumerate(ts)
                ),
            )
        )
    )
    prec = F.when(
        F.col("tp") + F.col("fp") > 0,
        F.col("tp").cast("double") / (F.col("tp") + F.col("fp")).cast("double"),
    )
    rec = F.when(
        F.col("tp") + F.col("fn") > 0,
        F.col("tp").cast("double") / (F.col("tp") + F.col("fn")).cast("double"),
    )
    f1 = F.when(
        (F.col("tp") + F.col("fp") > 0)
        & (F.col("tp") + F.col("fn") > 0)
        & (prec + rec > 0),
        2.0 * prec * rec / (prec + rec),
    )
    return stacked.select(
        "threshold_micro",
        "tp",
        "fp",
        "fn",
        "tn",
        micro6(prec).alias("precision_micro"),
        micro6(rec).alias("recall_micro"),
        micro6(f1).alias("f1_micro"),
    )


def _midrank_pcts(
    vc: DataFrame, pcols: list[str], out_col: str
) -> DataFrame:
    """(pcols..., __v, out_col) from a (pcols..., __v, __c) count
    table: the midrank CDF (2*C + c) / (2n) in micro units, with C the
    running count below v (operators/prefix.py) and n the partition's
    total — exact integers until the one micro6 division."""
    n_tot = vc.groupBy(*pcols).agg(F.sum("__c").alias("__n"))
    ranked = prefix_sum(
        range_bucket(vc, "__v", pcols),
        BUCKET,
        [F.col("__v").asc()],
        "__c",
        pcols,
    )
    joined = (
        ranked.join(F.broadcast(n_tot), pcols)
        if pcols
        else ranked.crossJoin(F.broadcast(n_tot))
    )
    # 2*C + c with C = running count - c
    num = F.lit(2) * F.col(PREFIX) - F.col("__c")
    pct = num.cast("double") / (F.lit(2) * F.col("__n")).cast("double")
    return joined.select(*pcols, "__v", micro6(pct).alias(out_col))


def midrank_normalize(
    df: DataFrame,
    score_col: str,
    out_col: str = "pct_micro",
) -> DataFrame:
    """`df` + `out_col`: the midrank CDF of `score_col` in micro units
    — pct = (2*C(v) + c(v)) / (2n) = P(X < v) + P(X = v)/2, where
    C(v) counts rows strictly below v and c(v) the ties at v (the
    percentile-rank-with-half-credit-ties convention: symmetric, a
    lone value sits at 0.5, every scorer's mean pct is exactly 0.5
    regardless of tie structure). This is the scale-free
    normalization that makes heterogeneous quality scorers comparable
    (a FastText logit and a length prior land on the same (0,1) rank
    axis) — the per-scorer step of ensemble quality filtering; AUC is
    the mean of this quantity over positives measured against the
    negatives-only distribution.

    No global row sort: distinct-score collapse, then `_midrank_pcts`
    over the distinct-value frame; rows get their pct back through a
    hash join on the score VALUE (one corpus shuffle keyed by value —
    skew on a heavy tie value is bounded by the join being value->1
    row).
    Exact integers until the single micro6 division. NULL/NaN scores
    -> NULL pct (excluded from n, the roc_auc row universe).
    """
    if out_col in df.columns:
        raise ValueError(
            f"out_col {out_col!r} already exists in df — the value "
            "rejoin would make it ambiguous; drop/rename it first"
        )
    v = F.col(score_col).cast("double")
    valid = df.filter(F.col(score_col).isNotNull() & ~F.isnan(v))
    vc = valid.groupBy(v.alias("__v")).agg(F.count(F.lit(1)).alias("__c"))

    ranked = _midrank_pcts(vc, [], out_col)
    joined = df.join(ranked, v.eqNullSafe(F.col("__v")), "left")
    return joined.select(
        *[df[c] for c in df.columns],
        F.when(
            F.col(score_col).isNotNull() & ~F.isnan(v), F.col(out_col)
        ).alias(out_col),
    )


def _check_blend_args(
    df: DataFrame, weights_micro: dict[str, int], out_col: str
) -> None:
    if not weights_micro:
        raise ValueError("weights_micro must be non-empty")
    if any(int(w) < 0 for w in weights_micro.values()):
        raise ValueError("weights_micro must be non-negative")
    if out_col in df.columns:
        raise ValueError(
            f"out_col {out_col!r} already exists in df — drop/rename "
            "it first (the blend join would make it ambiguous)"
        )


def blend_scores(
    df: DataFrame,
    weights_micro: dict[str, int],
    out_col: str = "blend_micro",
) -> DataFrame:
    """Ensemble quality score: midrank-normalize each scorer column
    and emit their weighted mean (micro units) — the multi-classifier
    blend corpus curation uses when no single quality signal is
    trusted alone. Rows where EVERY scorer is NULL/NaN get NULL;
    otherwise NULL scorers drop out of that row's weighted mean
    (their weight is excluded), so one scorer's coverage gap doesn't
    zero a document's blended quality.

    Single fused pass, cost independent of the scorer count N (the
    sequential twin below pays N corpus scans + N corpus rejoins):

    1. ONE corpus aggregation onto the distinct scorer-value VECTOR
       (groupBy over the N cast-double columns, carrying the vector's
       multiplicity) — the only corpus-sized shuffle besides step 4;
    2. melt the |vectors| frame (explode, N x |vectors| rows) and
       re-aggregate per (scorer, value) with multiplicity weights —
       exactly midrank_normalize's per-scorer (value, count) table,
       all N of them from the one scan;
    3. `_midrank_pcts` partitioned by scorer (the distributed prefix
       count runs per scorer — parallel across scorers, never a
       global row sort), then the per-vector weighted blend, still
       |vectors|-sized;
    4. ONE corpus rejoin on the vector key (null-safe equality per
       column; Spark's NaN-equals-NaN join semantics make NaN rows
       land on their own vector).

    Blend math is bit-identical to the sequential form: same
    (value, count) tables => same micro6 pcts, same round(num/den).
    Values compare as CAST DOUBLES everywhere (so two raw longs that
    collapse to one double collapse in both forms). Certified against
    the sequential twin by differential test (test_evalmetrics) and
    against ANSI SQL by the rank_blend_scores / blend_floor_docs
    probes.
    """
    _check_blend_args(df, weights_micro, out_col)
    scorers = list(weights_micro)
    vcols = [f"__bv_{i}" for i in range(len(scorers))]
    vecs = df.groupBy(
        *[F.col(c).cast("double").alias(v) for c, v in zip(scorers, vcols)]
    ).agg(F.count(F.lit(1)).alias("__vn"))
    melted = vecs.select(
        *vcols,
        "__vn",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("__sc"),
                        F.col(v).alias("__v"),
                        F.lit(int(weights_micro[c]))
                        .cast("long")
                        .alias("__w"),
                    )
                    for i, (c, v) in enumerate(zip(scorers, vcols))
                ]
            )
        ).alias("__m"),
    ).select(*vcols, "__vn", "__m.__sc", "__m.__v", "__m.__w")
    valid = F.col("__v").isNotNull() & ~F.isnan(F.col("__v"))
    vc = (
        melted.filter(valid)
        .groupBy("__sc", "__v")
        .agg(F.sum("__vn").alias("__c"))
    )

    ranked = _midrank_pcts(vc, ["__sc"], "__pct")
    pv = melted.join(
        ranked,
        (melted["__sc"] == ranked["__sc"]) & (melted["__v"] == ranked["__v"]),
        "left",
    ).select(*[melted[v] for v in vcols], melted["__w"], "__pct")
    blendtab = pv.groupBy(*vcols).agg(
        F.sum(
            F.coalesce(
                F.when(
                    F.col("__pct").isNotNull(), F.col("__w") * F.col("__pct")
                ),
                F.lit(0).cast("long"),
            )
        ).alias("__num"),
        F.sum(
            F.coalesce(
                F.when(F.col("__pct").isNotNull(), F.col("__w")),
                F.lit(0).cast("long"),
            )
        ).alias("__den"),
    )
    cond = None
    for c, v in zip(scorers, vcols):
        term = df[c].cast("double").eqNullSafe(blendtab[v])
        cond = term if cond is None else cond & term
    blend = F.when(
        F.col("__den") > 0,
        F.round(
            F.col("__num").cast("double") / F.col("__den").cast("double")
        ).cast("bigint"),
    )
    # plain (not broadcast) join: blendtab is |distinct vectors| rows —
    # bounded by the corpus, not by anything small
    return df.join(blendtab, cond, "left").select(
        *[df[c] for c in df.columns], blend.alias(out_col)
    )


def blend_scores_sequential(
    df: DataFrame,
    weights_micro: dict[str, int],
    out_col: str = "blend_micro",
) -> DataFrame:
    """Reference form of `blend_scores`: one midrank_normalize pass
    (distinct-collapse + corpus rejoin) PER scorer — N corpus scans.
    Kept as the fused form's differential-test twin; prefer
    `blend_scores` everywhere else."""
    _check_blend_args(df, weights_micro, out_col)
    out = df
    pct_cols = {}
    for i, col in enumerate(weights_micro):
        pc = f"__pct_{i}"
        out = midrank_normalize(out, col, out_col=pc)
        pct_cols[col] = pc
    num = F.lit(0).cast("long")
    den = F.lit(0).cast("long")
    for col, w in weights_micro.items():
        pc = F.col(pct_cols[col])
        num = num + F.coalesce(
            F.when(pc.isNotNull(), F.lit(int(w)).cast("long") * pc),
            F.lit(0),
        )
        den = den + F.coalesce(
            F.when(pc.isNotNull(), F.lit(int(w)).cast("long")), F.lit(0)
        )
    blend = F.when(
        den > 0, F.round(num.cast("double") / den.cast("double")).cast("bigint")
    )
    return out.select(
        *[c for c in out.columns if c not in set(pct_cols.values())],
        blend.alias(out_col),
    )


def roc_auc_by_group(
    df: DataFrame,
    score_col: str,
    label_col: str,
    group_cols: list[str],
) -> DataFrame:
    """Per-slice tie-aware AUC: (group_cols..., n_pos, n_neg,
    auc_micro) — "does the classifier still rank WITHIN each language
    / source / day?", the slice-quality readout aggregate AUC hides
    (a scorer can rank globally while being noise inside one slice,
    exactly the slice that then gets filtered badly).

    Same exact integer rank-sum as `roc_auc`, but the prefix count
    uses a window PARTITIONED BY the group over the group's DISTINCT
    scores — parallel across groups, sorted within one (the grouped-
    Gini contract: fine for bounded slices whose distinct-score
    profile fits a task; for one giant ungrouped stream use
    `roc_auc`'s two-level bucket path). Degenerate slices (no
    positives or no negatives) emit auc_micro NULL."""
    if not group_cols:
        raise ValueError("group_cols must be non-empty; use roc_auc")
    lab = F.col(label_col).cast("boolean")
    v = F.col(score_col).cast("double")
    base = df.filter(
        F.col(score_col).isNotNull() & ~F.isnan(v) & lab.isNotNull()
    )
    vc = base.groupBy(*group_cols, v.alias("__v")).agg(
        F.sum(lab.cast("long")).alias("__p"),
        F.count(F.lit(1)).alias("__c"),
    )
    w = (
        Window.partitionBy(*group_cols)
        .orderBy(F.col("__v").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # rows below each distinct value: its running count minus its own
    ranked = vc.withColumn(
        "__cb", (F.sum("__c").over(w) - F.col("__c")).cast("decimal(19,0)")
    )
    agg = ranked.groupBy(*group_cols).agg(
        F.sum("__p").alias("n_pos"),
        F.sum(F.col("__c") - F.col("__p")).alias("n_neg"),
        F.sum(_two_s_pos(F.col("__p"), F.col("__c"), F.col("__cb"))).alias(
            "__2sp"
        ),
    )
    return _finalize_auc(agg, list(group_cols))
