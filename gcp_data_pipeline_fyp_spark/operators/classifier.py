"""Hashing-trick linear text classifier — the model-based quality
filter of modern pretraining pipelines (fastText-style, as used by
CCNet, DCLM and FineWeb-Edu: train a cheap linear model on a labeled
seed set, then score every document in the corpus).

Public method, Spark-first shape:

- **Features** are unigram + bigram strings hashed into a fixed bucket
  space (the "hashing trick", Weinberger et al. 2009) — no vocabulary
  is ever built or shuffled, so the feature space is O(n_buckets)
  regardless of corpus size.
- **Training** is ONE aggregation: explode features over the labeled
  seed set, `groupBy(bucket)` pos/neg counts (output bounded by
  `n_buckets`, not the corpus), then a per-bucket closed-form weight.
  The seed set is the small side by construction (labels are
  expensive); the 100 TB corpus never participates in training.
- **Scoring** is a scan: explode features, broadcast-join the weight
  table (≤ n_buckets rows — a few MB), one `groupBy(doc)` sum. The
  only corpus shuffle is the per-doc aggregation, keyed on the id.

Weight function: instead of log-odds (whose `log` is implementation-
defined in the last ulp and can flip a rounding boundary between
engines), the per-bucket weight is the bounded rational

    w = (r_pos - r_neg) / (r_pos + r_neg)   in [-1, 1]

with add-one-smoothed class rates r = (n + 1) / (total + n_buckets).
Every step is IEEE +,-,*,/ (correctly rounded, bit-identical across
engines for identical inputs), so milli-scaled integer weights — and
therefore every downstream score — reproduce exactly anywhere. Same
monotone direction as log-odds per bucket (w > 0 iff the bucket is
relatively more frequent in the positive class).

Scores are exact integer sums of milli-weights; the emitted
`score_micro` (mean weight in micro-units) is hash-stable on the
certification surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gcp_data_pipeline_fyp_spark.functions.text import _coalesce_toks, tokens

DEFAULT_BUCKETS = 1 << 18


def ngram_features_of_toks(toks: Column, bigrams: bool = True) -> Column:
    """Unigram (+ bigram) feature strings of an ALREADY-MATERIALIZED
    filtered token-array column — the bigram lambda's element_at calls
    re-evaluate an inline token expression per position (no CSE
    across higher-order functions; the measured O(tokens^2) trap,
    same class as operators/dsir.py:feature_buckets_of_toks), so
    frame-level consumers project the tokens first (`_feature_rows`)."""
    if not bigrams:
        return toks
    big = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat(
                F.element_at(toks, i), F.lit("_"), F.element_at(toks, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.concat(toks, big)


def _filtered_toks(text_col: Column | str) -> Column:
    """Non-empty whitespace tokens; NULL text -> [] (engine convention)."""
    t = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.filter(_coalesce_toks(tokens(t)), lambda x: x != "")


def feature_bucket(feat: Column, n_buckets: int, seed: int = 0) -> Column:
    """Deterministic bucket in [0, n_buckets) — md5-based like every
    other cross-engine hash in this engine (functions/text.py)."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{seed}|"), feat)), 1, 12), 16, 10
        ).cast("long")
        % n_buckets
    )


def _feature_rows(
    df: DataFrame, keep_cols: list[str], text_col: str, bigrams: bool
) -> DataFrame:
    """(keep_cols..., __feat) — one row per feature OCCURRENCE (multiset
    counts, the fastText convention). Empty docs contribute no rows.
    The filtered token array projects through a named column first —
    the O(tokens^2) re-evaluation trap `ngram_features_of_toks`
    documents."""
    return df.select(
        *keep_cols, _filtered_toks(text_col).alias("__cls_toks")
    ).select(
        *keep_cols,
        F.explode(
            ngram_features_of_toks(F.col("__cls_toks"), bigrams)
        ).alias("__feat"),
    )


def bucketed_features(
    df: DataFrame,
    keep_cols: list[str],
    text_col: str,
    n_buckets: int = DEFAULT_BUCKETS,
    bigrams: bool = True,
    seed: int = 0,
) -> DataFrame:
    """(keep_cols..., __b) — the explode+hash stage shared by training
    and scoring. When one corpus is both the (pseudo-labeled) seed set
    and the scoring target — the self-training probe shape — featurize
    ONCE, `localCheckpoint(eager=False)` the result, and feed it to
    both `train_from_buckets` and `score_from_buckets`: the explode is
    the dominant cost and must not run twice."""
    return _feature_rows(df, keep_cols, text_col, bigrams).select(
        *keep_cols, feature_bucket(F.col("__feat"), n_buckets, seed).alias("__b")
    )


def train_from_buckets(
    rows: DataFrame,
    label_col: str,
    n_buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """One-pass training over pre-featurized (label, __b) rows (see
    `bucketed_features`) -> (bucket, w_milli).

    `label_col` is boolean (True = positive/keep); `n_buckets` must be
    the bucket space `rows` was hashed into (it sets the add-one
    smoothing). The output has at most `n_buckets` rows — broadcastable
    by construction — and only buckets observed in the seed set appear
    (absent buckets score 0 via the scoring join's coalesce)."""
    counts = rows.groupBy("__b").agg(
        F.sum(F.when(F.col(label_col), 1).otherwise(0)).alias("n_pos"),
        F.sum(F.when(F.col(label_col), 0).otherwise(1)).alias("n_neg"),
    )
    totals = F.broadcast(
        counts.agg(
            F.sum("n_pos").alias("tot_pos"), F.sum("n_neg").alias("tot_neg")
        )
    )
    b = float(n_buckets)
    r_pos = (F.col("n_pos") + F.lit(1.0)) / (F.col("tot_pos") + F.lit(b))
    r_neg = (F.col("n_neg") + F.lit(1.0)) / (F.col("tot_neg") + F.lit(b))
    w = (r_pos - r_neg) / (r_pos + r_neg)
    return counts.crossJoin(totals).select(
        F.col("__b").alias("bucket"),
        F.round(w * 1000.0, 0).cast("bigint").alias("w_milli"),
    )


def score_from_buckets(
    feats: DataFrame,
    id_col: str,
    weights: DataFrame,
    all_ids: DataFrame,
    threshold_micro: int = 0,
) -> DataFrame:
    """Score pre-featurized (id, __b) rows (see `bucketed_features`)
    with a `train_from_buckets` weight table ->
    (id_col, n_features, score_micro, label).

    `score_micro` is the mean feature weight in micro-units (exact
    integer arithmetic until one final correctly-rounded division);
    `label` is 'keep' when score_micro > threshold_micro, 'drop'
    otherwise, and 'empty' for docs with no features (score NULL).
    `all_ids` anchors that completeness: featureless docs emit no
    bucket rows but must still report label 'empty'.

    The weight table broadcasts (≤ n_buckets rows); the corpus side is
    scan + explode + one id-keyed aggregation."""
    per_doc = (
        feats.join(
            F.broadcast(weights), feats["__b"] == weights["bucket"], "left"
        )
        .groupBy(id_col)
        .agg(
            F.sum(F.coalesce(F.col("w_milli"), F.lit(0))).alias("__sum_w"),
            F.count(F.lit(1)).alias("n_features"),
        )
    )
    score = F.round(F.col("__sum_w") * 1000.0 / F.col("n_features")).cast("bigint")
    scored = per_doc.select(
        id_col,
        "n_features",
        score.alias("score_micro"),
        F.when(score > threshold_micro, "keep").otherwise("drop").alias("label"),
    )
    return (
        all_ids
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_features", F.lit(0)).alias("n_features"),
            "score_micro",
            F.coalesce("label", F.lit("empty")).alias("label"),
        )
    )
