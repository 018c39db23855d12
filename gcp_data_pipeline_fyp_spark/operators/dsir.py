"""DSIR — Data Selection with Importance Resampling (public method:
Xie et al. 2023, "Data Selection for Language Models via Importance
Resampling", NeurIPS; arXiv:2302.03169).

Given a large RAW corpus and a small TARGET corpus (the distribution
you want pretraining data to look like — e.g. curated wiki/books),
DSIR scores every raw document with an importance weight

    log w(x) = sum_f  c_f(x) * [ log p_target(f) - log p_raw(f) ]

over HASHED N-GRAM features f (unigrams + bigrams hashed into B
buckets — the paper's 10k-bucket bag-of-hashed-ngrams model, add-one
smoothed), then samples k documents without replacement with
probability proportional to exp(log w) via Gumbel top-k. Documents
that "look like" the target under the n-gram model are upweighted;
the hash trick keeps both fitted distributions at a constant B
doubles regardless of corpus vocabulary.

Scale shape (the reason this is DSIR and not a classifier pass):
- Fitting each profile is one explode -> groupBy(bucket) with B
  distinct keys — map-side partial aggregation collapses the shuffle
  to ~B rows per task regardless of corpus size.
- The per-bucket log-ratio table has exactly B rows (default 4096,
  paper 10k) — ALWAYS broadcastable; scoring is a broadcast hash
  join on the exploded features plus a partially-aggregated
  groupBy(doc_id), so the only corpus-sized shuffle carries one
  (doc_id, partial-sum) pair per doc per task.
- Gumbel top-k is orderBy(key desc).limit(k) — Spark plans
  TakeOrderedAndProject (per-partition heap of k, driver merge of
  k * partitions), never a global sort.

Determinism contract (same as the A-ES sampler this module's Gumbel
draw mirrors, operators/sampling.py:weighted_sample_wor): every hash
is md5 over length-prefixed key tokens, u is (h60+1)/(2^60+1) so ln
is finite, per-doc sums go through decimal(18,6) so partial-agg
order cannot move the result, and ties break on (h, id) — the same
sample on any engine, partitioning, or run.

No reference analog (the reference is an earthquake ELT pipeline);
this is part of the beyond-reference training-data surface.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gcp_data_pipeline_fyp_spark.functions.ids import h60
from gcp_data_pipeline_fyp_spark.functions.text import (
    _coalesce_toks,
    tokens,
)
from gcp_data_pipeline_fyp_spark.operators.prefix import (
    BUCKET,
    PREFIX,
    prefix_sum,
    range_bucket,
)
from gcp_data_pipeline_fyp_spark.operators.sampling import _key_token
from gcp_data_pipeline_fyp_spark.queries_util import roundn

#: default feature-space width; the paper uses 10k, 4096 keeps the
#: broadcast table trivially small while leaving hash collisions rare
#: at test vocabulary sizes. Collisions are part of the model (both
#: profiles collide identically), not an error source.
DEFAULT_BUCKETS = 4096


def feature_buckets_of_toks(
    toks: Column,
    n_buckets: int = DEFAULT_BUCKETS,
    bigrams: bool = True,
) -> Column:
    """Hashed n-gram feature buckets of an ALREADY-MATERIALIZED
    token-array column. Performance-load-bearing split: when the token array is
    inlined as `split(trim(text))` inside this expression tree, the
    bigram lambda's element_at calls re-evaluate the split PER
    POSITION (no common-subexpression elimination across higher-order
    functions) — O(tokens^2) splits per doc, measured 7x slower at
    sf0.1 (8.5 s -> 1.2 s for one profile fit). Callers that explode
    over a frame should project the token array through a named
    column first (`_exploded_buckets`); the values are identical
    either way."""
    feats = toks
    if bigrams:
        # positions 1..size-1 (1-based element_at), guarded because
        # F.sequence(1, 0) would DESCEND rather than be empty
        idx = F.when(
            F.size(toks) >= 2, F.sequence(F.lit(1), F.size(toks) - 1)
        ).otherwise(F.array().cast("array<int>"))
        bg = F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i), F.element_at(toks, i + 1)
            ),
        )
        feats = F.concat(toks, bg)
    return F.transform(
        feats,
        lambda f: F.conv(F.substring(F.md5(f), 1, 8), 16, 10).cast("long")
        % n_buckets,
    )


def _exploded_buckets(
    df: DataFrame,
    id_cols: Sequence[str],
    text_col: str,
    n_buckets: int,
    bigrams: bool,
) -> DataFrame:
    """(id_cols..., bucket) — one row per feature occurrence, with the
    token array materialized through a projection boundary first so
    the bigram lambda evaluates the tokenizer ONCE per doc (the 7x
    measured difference documented on `feature_buckets_of_toks`)."""
    toks = _coalesce_toks(tokens(text_col))
    return df.select(
        *[F.col(c) for c in id_cols], toks.alias("__dsir_toks")
    ).select(
        *[F.col(c) for c in id_cols],
        F.explode(
            feature_buckets_of_toks(
                F.col("__dsir_toks"), n_buckets, bigrams
            )
        ).alias("bucket"),
    )


def bucket_profile(
    df: DataFrame,
    text_col: str = "text",
    n_buckets: int = DEFAULT_BUCKETS,
    bigrams: bool = True,
) -> DataFrame:
    """(bucket, c) occurrence counts of the hashed n-gram features
    over `df` — the fitted bag-of-hashed-ngrams distribution, at most
    `n_buckets` rows (absent buckets are implicitly 0 and add-one
    smoothed downstream). One explode + one B-key groupBy; map-side
    combine collapses the shuffle to ~B rows per task.
    """
    return (
        _exploded_buckets(df, [], text_col, n_buckets, bigrams)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def dsir_log_ratios(
    raw_profile: DataFrame,
    target_profile: DataFrame,
    n_buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """Per-bucket importance log-ratio table (<= n_buckets rows):

        lr(b) = ln((t_b + 1) / (T + B)) - ln((r_b + 1) / (R + B))

    add-one smoothed over the full B-bucket space, so buckets unseen
    in either profile still get a finite ratio. Emitted only for
    buckets present in at least one profile, which keeps the table
    sparse; in the default setting (raw profile fitted on the corpus
    being scored) every scored feature occurrence hits the table by
    construction. When scoring a DIFFERENT frame against frozen
    profiles, occurrences in buckets absent from both profiles are
    skipped (weight-neutral) rather than charged the both-absent
    constant ln((R+B)/(T+B)) — documented contract, matching the SQL
    replay.

    Both inputs are B-bounded aggregates; the totals are one-row
    aggregates cross-joined in (scalar broadcast), and the output is
    always broadcastable by construction.
    """
    r = raw_profile.select(
        F.col("bucket"), F.col("c").alias("rc")
    )
    t = target_profile.select(
        F.col("bucket"), F.col("c").alias("tc")
    )
    rt = r.agg(F.coalesce(F.sum("rc"), F.lit(0)).alias("rtot"))
    tt = t.agg(F.coalesce(F.sum("tc"), F.lit(0)).alias("ttot"))
    joined = (
        r.join(t, "bucket", "full_outer")
        .crossJoin(F.broadcast(rt))
        .crossJoin(F.broadcast(tt))
    )
    lr = F.log(
        (F.coalesce(F.col("tc"), F.lit(0)) + 1.0)
        / (F.col("ttot") + F.lit(float(n_buckets)))
    ) - F.log(
        (F.coalesce(F.col("rc"), F.lit(0)) + 1.0)
        / (F.col("rtot") + F.lit(float(n_buckets)))
    )
    return joined.select("bucket", lr.alias("lr"))


def dsir_logweights(
    df: DataFrame,
    id_col: str,
    target: DataFrame,
    text_col: str = "text",
    target_text_col: str | None = None,
    n_buckets: int = DEFAULT_BUCKETS,
    bigrams: bool = True,
    raw: DataFrame | None = None,
) -> DataFrame:
    """Per-document DSIR importance log-weight.

    Returns one row per `df` row: (id_col, logw, n_feats) where
    logw = sum over the doc's feature OCCURRENCES of the per-bucket
    log-ratio (roundn-6 double, order-independent via a decimal(18,6)
    sum) and n_feats is the occurrence count. Only NULL text yields
    logw = 0.0, n_feats = 0 (importance weight 1 under an empty
    feature vector): empty/whitespace-only STRINGS still carry one
    empty-string token (F.split of a trimmed "" is [""] — the
    tokens() contract the SQL oracles replay identically), so they
    score the md5("") bucket's ratio with n_feats = 1. Filter such
    docs upstream if they should be weight-neutral.

    `raw` defaults to `df` itself (fit the raw profile on the corpus
    being scored — the paper's setting); pass it explicitly to score
    a stream or a different slice against a frozen pair of profiles.
    Contract: one row per id in `df` (duplicate ids would duplicate
    output rows — same contract as rrf_fuse).

    Plan: two profile fits (B-key aggregates), one broadcast join of
    the exploded corpus features against the <=B-row ratio table,
    one partially-aggregated groupBy(id). Nothing corpus-sized
    shuffles except the per-doc partial sums.
    """
    tcol = target_text_col or text_col
    raw_prof = bucket_profile(
        raw if raw is not None else df, text_col, n_buckets, bigrams
    )
    tgt_prof = bucket_profile(target, tcol, n_buckets, bigrams)
    ratios = dsir_log_ratios(raw_prof, tgt_prof, n_buckets)
    return score_against_ratios(
        df, id_col, ratios, text_col, n_buckets, bigrams
    )


def score_against_ratios(
    df: DataFrame,
    id_col: str,
    ratios: DataFrame,
    text_col: str = "text",
    n_buckets: int = DEFAULT_BUCKETS,
    bigrams: bool = True,
) -> DataFrame:
    """Score `df` against an already-fitted (bucket, lr) ratio table —
    the scoring half of `dsir_logweights`, split out so a streaming
    ingest (or any frozen-profile consumer) pays only the batch-sized
    explode + broadcast join + partially-aggregated per-doc sum.
    Same output contract: (id_col, logw roundn-6, n_feats)."""
    feats = _exploded_buckets(df, [id_col], text_col, n_buckets, bigrams)
    # decimal(18,6) per-term cast -> exact, order-independent sum
    # (the engine's standard float-agg pin, queries_util module doc)
    scored = (
        feats.join(F.broadcast(ratios), "bucket", "left")
        .groupBy(id_col)
        .agg(
            F.sum(F.col("lr").cast("decimal(18,6)"))
            .cast("double")
            .alias("__lw"),
            F.count(F.lit(1)).alias("n_feats"),
        )
    )
    keys = df.select(id_col)
    return keys.join(scored, id_col, "left").select(
        id_col,
        roundn(F.coalesce(F.col("__lw"), F.lit(0.0)), 6).alias("logw"),
        F.coalesce(F.col("n_feats"), F.lit(0)).alias("n_feats"),
    )


def gumbel_key(
    id_cols: Sequence[Column], logw: Column, seed: int = 0
) -> tuple[Column, Column]:
    """(key, h) where key = logw + Gumbel(0,1) drawn deterministically
    from the keyed md5: u = (h60+1)/(2^60+1) in (0,1), g = -ln(-ln u).
    Taking the k LARGEST keys samples k items without replacement with
    P proportional to exp(logw) — the Gumbel-top-k trick (public:
    Kool et al. 2019), the softmax-weighted sibling of the A-ES
    sampler in operators/sampling.py.

    u is clamped to <= 1 - 2^-53 (the largest double below 1): the
    rational (h+1)/(2^60+1) is always < 1 but for h within ~64 of
    2^60-1 the DOUBLE rounds to exactly 1.0, where the double log
    -ln(-ln 1.0) is NULL in Spark (log of non-positive) while DuckDB
    yields -inf — a NULL sort key and a cross-engine divergence at
    ~2^-54 per row. The single-log A-ES rank (-ln u / w) is finite at
    u = 1.0 and needs no clamp. Mirrored in the SQL oracles
    (queries_text.py DSIR gkey CTEs).
    """
    # the SAME length-prefixed encoding + h60 chain weighted_sample_wor
    # owns (operators/sampling.py) — imported, not duplicated, so the
    # cross-operator determinism/nesting guarantees share one source
    h = h60(F.concat(F.lit(f"{seed}|"), *[_key_token(c) for c in id_cols]))
    u = F.least(
        (h + F.lit(1.0)) / F.lit(1152921504606846977.0),
        F.lit(0.9999999999999999),  # 1 - 2^-53
    )
    g = -F.log(-F.log(u))
    return logw + g, h


def dsir_sample(
    weights: DataFrame,
    id_col: str,
    k: int,
    logw_col: str = "logw",
    seed: int = 0,
) -> DataFrame:
    """Sample exactly k rows (all rows if fewer) from a DSIR-weighted
    frame, P proportional to exp(logw), without replacement —
    Gumbel top-k over the deterministic per-row draw. Ties on the
    double key break on (h, id): the same k rows on any engine or
    partitioning.

    orderBy(desc).limit(k) plans TakeOrderedAndProject — per-partition
    heaps of k, never a global sort; safe at any corpus size for the
    k values selection jobs use.
    """
    clash = {"__gk", "__gh"} & set(weights.columns)
    if clash:
        raise ValueError(
            f"dsir_sample: reserved internal columns {sorted(clash)} "
            "already exist in weights — drop or rename them."
        )
    key, h = gumbel_key([F.col(id_col)], F.col(logw_col), seed)
    ranked = weights.select(
        *weights.columns, key.alias("__gk"), h.alias("__gh")
    )
    return (
        ranked.orderBy(
            F.col("__gk").desc(), F.col("__gh").asc(), F.col(id_col).asc()
        )
        .limit(k)
        .drop("__gk", "__gh")
    )


def dsir_budget_select(
    weights: DataFrame,
    id_col: str,
    weight_col: str,
    budget: int,
    logw_col: str = "logw",
    seed: int = 0,
    out_col: str = "cum_weight",
) -> DataFrame:
    """Budget-constrained DSIR selection: keep the Gumbel-top PREFIX
    of the corpus whose running `weight_col` total (tokens, chars,
    bytes) stays within `budget` — the practical form of selection
    jobs, which are specified as TOKEN BUDGETS ("50 B tokens like
    wikipedia"), not row counts. Rows are ordered by the same
    deterministic Gumbel key as `dsir_sample` (so the selection is
    the importance sample), and the selection is NESTED: raising the
    budget only appends rows, because the order is a pure function of
    (seed, logw, id).

    No global sort: the running sum is a distributed prefix sum
    (operators/prefix.py) over a DESCENDING range bucket of the
    Gumbel key, so it equals the naive global window exactly
    (differential-tested).

    NULL/negative weights count 0 toward the budget but remain
    selectable (a doc with no token count should not silently vanish
    from the sample; filter upstream if it should). Returns the
    input columns + inclusive `out_col`.
    """
    clash = {out_col, "__gk", "__gh", "__w", BUCKET} & set(weights.columns)
    if clash:
        raise ValueError(
            f"dsir_budget_select: column(s) {sorted(clash)} already exist "
            "in weights (out_col or reserved internals) — drop or rename "
            "them before selection."
        )
    key, h = gumbel_key([F.col(id_col)], F.col(logw_col), seed)
    wgt = F.greatest(
        F.coalesce(F.col(weight_col).cast("long"), F.lit(0)), F.lit(0)
    )
    keyed = weights.select(
        *weights.columns,
        key.alias("__gk"),
        h.alias("__gh"),
        wgt.alias("__w"),
    )
    order = [F.col("__gk").desc(), F.col("__gh").asc(), F.col(id_col).asc()]
    return (
        prefix_sum(
            range_bucket(keyed, "__gk", descending=True), BUCKET, order, "__w"
        )
        .select(*weights.columns, F.col(PREFIX).alias(out_col))
        .filter(F.col(out_col) <= F.lit(int(budget)))
    )


# ---------------------------------------------------------------------
# Persisted profiles — the build-once/reuse discipline every other
# index family has (build_ivfpq_index, build_lsh_index). Measured
# motivation (BASELINE.md): at sf0.1 the per-run profile FIT costs
# 5.9 s vs 2.1 s for frozen-profile scoring — at 100 TB the target
# profile never changes per batch, so steady-state selection should
# pay only the scoring half.


def _dsir_meta_checked(wh, name: str) -> tuple[int, bool]:
    """(n_buckets, bigrams) from `{name}__meta`; loud if absent."""
    meta_table = f"{name}__meta"
    if not wh.exists(meta_table):
        raise ValueError(
            f"DSIR profile index {name!r} has no meta table "
            f"({meta_table}) — build it with build_dsir_profiles first."
        )
    r = wh.read(meta_table).first()
    return int(r["n_buckets"]), bool(r["bigrams"])


def build_dsir_profiles(
    wh,
    raw: DataFrame,
    target: DataFrame | None,
    name: str,
    text_col: str = "text",
    target_text_col: str | None = None,
    n_buckets: int = DEFAULT_BUCKETS,
    bigrams: bool = True,
    target_filter: Column | None = None,
) -> None:
    """Fit and persist both DSIR profiles + their hashing meta:
    `{name}__raw_profile` / `{name}__target_profile` (each (bucket, c),
    <= n_buckets rows) and `{name}__meta` (one row: n_buckets,
    bigrams — the hash-space parameters every consumer MUST score
    with; a mismatched n_buckets silently scores garbage, which is why
    the scoring side reads them from the index instead of trusting a
    caller argument).

    The profiles are tiny (<= B rows each) — the build cost is the
    corpus scans, amortized across every subsequent scoring batch
    exactly like the IVF/LSH/digest builds.

    `target_filter` (r13, guide §2.3 aggregate-before-shuffle /
    §1.2 pass-count): when the target IS a predicate over `raw` — the
    standard DSIR setup ("the in-domain slice of the corpus") — pass
    the predicate instead of a second frame and BOTH profiles come out
    of ONE tokenize+explode+aggregate pass (a conditional count rides
    the same map-side combine), instead of tokenizing and exploding
    the target rows a second time. Bit-identical profiles by
    construction: count(*) per bucket is the raw profile, the
    count-where-predicate per bucket (rows with 0 dropped, matching
    the separate-fit output exactly) is the target profile. Exactly
    one of `target` / `target_filter` must be given; the two-frame
    form remains for targets that are not a slice of `raw`. The
    filtered target is the `text_col` of the selected rows, so
    `target_text_col` (which names a column of a target frame) is
    refused with it rather than ignored."""
    if (target is None) == (target_filter is None):
        raise ValueError(
            "build_dsir_profiles: pass exactly one of target / target_filter"
        )
    if target_filter is not None and target_text_col is not None:
        raise ValueError(
            "build_dsir_profiles: target_text_col applies to a target "
            "frame; with target_filter the target text is text_col"
        )
    if target_filter is not None:
        flagged = raw.withColumn(
            "__is_target", F.coalesce(target_filter, F.lit(False))
        )
        prof = (
            _exploded_buckets(
                flagged, ["__is_target"], text_col, n_buckets, bigrams
            )
            .groupBy("bucket")
            .agg(
                F.count(F.lit(1)).alias("c"),
                F.count_if(F.col("__is_target")).alias("__ct"),
            )
            # two tiny writes consume this; the barrier keeps the
            # corpus-sized explode from running once per consumer
            .localCheckpoint(eager=False)
        )
        wh.overwrite(prof.select("bucket", "c"), f"{name}__raw_profile")
        wh.overwrite(
            prof.filter(F.col("__ct") > 0).select(
                "bucket", F.col("__ct").alias("c")
            ),
            f"{name}__target_profile",
        )
    else:
        wh.overwrite(
            bucket_profile(raw, text_col, n_buckets, bigrams),
            f"{name}__raw_profile",
        )
        wh.overwrite(
            bucket_profile(
                target, target_text_col or text_col, n_buckets, bigrams
            ),
            f"{name}__target_profile",
        )
    wh.overwrite(
        raw.sparkSession.createDataFrame(
            [(int(n_buckets), bool(bigrams))],
            "n_buckets long, bigrams boolean",
        ),
        f"{name}__meta",
    )


def dsir_logweights_indexed(
    wh,
    df: DataFrame,
    id_col: str,
    name: str,
    text_col: str = "text",
) -> DataFrame:
    """Score `df` against the PERSISTED profile pair — byte-identical
    output contract to `dsir_logweights` (id_col, logw roundn-6,
    n_feats), but the profile fits are read, not recomputed: the
    steady-state path pays only the scoring half (batch-sized explode
    + broadcast ratio join + partially-aggregated per-doc sum).
    Hashing parameters come from the index's own meta table — the
    n_buckets the profiles were FIT with is the only correct value to
    score with."""
    nb, bg = _dsir_meta_checked(wh, name)
    ratios = dsir_log_ratios(
        wh.read(f"{name}__raw_profile"),
        wh.read(f"{name}__target_profile"),
        nb,
    )
    return score_against_ratios(df, id_col, ratios, text_col, nb, bg)
