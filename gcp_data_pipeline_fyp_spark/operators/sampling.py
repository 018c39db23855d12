"""Deterministic sampling & dataset splitting for training-data pipelines.

`df.sample()` is RNG-seeded per partition: results change with
partitioning, retries, and engines. At 100 TB you want CONTENT-keyed
sampling — a row is in or out as a pure function of its key — so
samples are reproducible across runs, engines, and cluster layouts,
and a document keeps its split assignment when the corpus is
reprocessed. Hash basis is md5 (cross-engine verifiable, like
functions/text.py); the key is bucketed into [0, 10^6).
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from gcp_data_pipeline_fyp_spark.functions.ids import h60, stable_event_id
from gcp_data_pipeline_fyp_spark.operators.prefix import (
    BUCKET,
    HASH_SPAN,
    PREFIX,
    prefix_sum,
)
from gcp_data_pipeline_fyp_spark.queries_util import roundn

_BUCKETS = 1_000_000


def _key_token(c: Column) -> Column:
    """Unambiguous key encoding: length-prefixed value, NULL -> '-1:'.

    Plain concat_ws would (a) silently skip NULLs and (b) make
    ('a|b','x') collide with ('a','b|x') — both break the stability
    guarantees this module exists for.
    """
    s = c.cast("string")
    return F.when(s.isNull(), F.lit("-1:")).otherwise(
        F.concat(F.length(s).cast("string"), F.lit(":"), s)
    )


def hash_bucket(key_cols: Sequence[Column | str], seed: int = 0) -> Column:
    """Deterministic bucket in [0, 1e6) from the md5 of the keys + seed."""
    cols = [F.col(c) if isinstance(c, str) else c for c in key_cols]
    joined = F.concat(F.lit(f"{seed}|"), *[_key_token(c) for c in cols])
    return (
        F.conv(F.substring(F.md5(joined), 1, 12), 16, 10).cast("long") % _BUCKETS
    )


def hash_sample(
    df: DataFrame, key_cols: Sequence[str], fraction: float, seed: int = 0
) -> DataFrame:
    """Keep ~fraction of rows, keyed on content — reproducible anywhere."""
    return df.filter(hash_bucket(key_cols, seed) < int(fraction * _BUCKETS))


def stratified_hash_sample(
    df: DataFrame,
    key_cols: Sequence[str],
    strata_col: str,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
    seed: int = 0,
) -> DataFrame:
    """Per-stratum content-keyed sampling — the data-mix rebalancer.

    Training corpora are rebalanced by domain/source/language: keep
    e.g. 100% of books, 30% of web, 5% of logs. Each row's fate is a
    pure function of (key, seed) exactly like `hash_sample`, so the
    mix is reproducible across runs and engines, and a stratum's kept
    set is a SUBSET of its kept set at any higher fraction (nested
    samples — raising a fraction only adds rows, never swaps them).

    Strata not listed in `fractions` get `default_fraction`. This is a
    pure filter — no shuffle, no per-stratum scan: one pass, with the
    threshold looked up via a CASE over `strata_col`.
    """
    bucket = hash_bucket(key_cols, seed)
    expr = None
    for value, frac in fractions.items():
        thresh = F.lit(int(frac * _BUCKETS))
        cond = F.col(strata_col) == value
        expr = F.when(cond, thresh) if expr is None else expr.when(cond, thresh)
    default = F.lit(int(default_fraction * _BUCKETS))
    expr = default if expr is None else expr.otherwise(default)
    return df.filter(bucket < expr)


def hash_split(
    df: DataFrame,
    key_cols: Sequence[str],
    weights: dict[str, float],
    seed: int = 0,
    split_col: str = "split",
) -> DataFrame:
    """Assign each row a split label ('train'/'val'/'test'/...) by weight.

    Assignment is stable under reprocessing: the same key lands in the
    same split forever (critical to avoid train/test contamination when
    a corpus is regenerated or extended).
    """
    total = sum(weights.values())
    bucket = hash_bucket(key_cols, seed)
    expr = None
    acc = 0.0
    items = list(weights.items())
    for name, w in items[:-1]:
        acc += w / total
        cond = bucket < int(acc * _BUCKETS)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = items[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(last)
    return df.withColumn(split_col, expr)


def token_budget_sample(
    df: DataFrame,
    key_cols: Sequence[str],
    weight_col: str,
    strata_col: str,
    budget: int,
    seed: int = 0,
) -> DataFrame:
    """Keep a token-budgeted prefix of each stratum, in hash order.

    Training mixes are usually specified as token BUDGETS per source
    ("50 B tokens of web, 5 B of code"), not fractions. Rows are
    ordered inside each stratum by their content-hash bucket (an
    unbiased, reproducible shuffle — same basis as `hash_sample`) and
    kept while the running token total stays within the budget, so the
    selection is deterministic and nested: raising a budget only
    appends rows.

    One shuffle (partition by stratum) + per-stratum sort. Strata are
    sorted independently, but a single giant stratum serializes into
    one partition's sort — for that shape use `token_budget_mix`
    (the two-level-prefix distributed form, with per-stratum budgets).
    """
    bucket = hash_bucket(key_cols, seed)
    w = (
        Window.partitionBy(strata_col)
        .orderBy(bucket.asc(), *[F.col(c).asc() for c in key_cols])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(F.col(weight_col).cast("long")).over(w)
    return df.withColumn("cum_weight", cum).filter(F.col("cum_weight") <= budget)


def token_budget_mix(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    strata_col: str,
    budgets: dict[str, int],
    seed: int = 0,
) -> DataFrame:
    """Token-budgeted prefix PER STRATUM with per-stratum budgets and
    NO single-partition sort — the distributed form of
    `token_budget_sample`, for the shape its docstring warns about
    (one giant stratum serializing into one partition's window).
    This is the literal data-recipe operator: budgets are the mix
    spec ("50 B tokens of web, 5 B of code") keyed by stratum value.

    Rows order inside each stratum by the md5-60-bit key of
    (seed, id), and the running token total is a distributed prefix
    sum (operators/prefix.py) partitioned by stratum and bucketed on
    the key's high bits, like `epoch_shuffle_order`'s rank. A row is
    kept while its inclusive cumulative `cum_weight` stays within its
    stratum's budget — deterministic and NESTED (raising a budget
    only appends rows; the order is a pure function of seed and ids).

    Strata without a budget entry are dropped with the filter stated
    here (a silent default would skew the mix); non-positive budgets
    are configuration bugs, rejected eagerly; NULL weights count 0.
    """
    if None in budgets:
        raise ValueError(
            "token_budget_mix: a NULL stratum cannot be keyed through "
            "the budgets dict (isin/create_map never match NULL keys — "
            "it would be dropped silently). Relabel NULL strata "
            "upstream (e.g. coalesce to a sentinel) first."
        )
    bad = {s: b for s, b in budgets.items() if not int(b) > 0}
    if bad:
        raise ValueError(
            f"token_budget_mix budgets must be > 0; got {bad!r}"
        )
    srt = sorted(budgets.items())
    bmap = F.create_map(
        *[F.lit(x) for sb in srt for x in (sb[0], int(sb[1]))]
    )
    keyed = (
        df.filter(F.col(strata_col).isin([s for s, _ in srt]))
        .withColumn("__key", stable_event_id(F.lit(int(seed)), id_col))
        .withColumn(BUCKET, F.expr(f"__key div {HASH_SPAN}"))
    )
    return (
        prefix_sum(
            keyed,
            BUCKET,
            [F.col("__key").asc(), F.col(id_col).asc()],
            F.coalesce(F.col(weight_col).cast("long"), F.lit(0)),
            [strata_col],
        )
        .filter(F.col(PREFIX) <= bmap[F.col(strata_col)])
        .select(*df.columns, F.col(PREFIX).alias("cum_weight"))
    )


def cap_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    key_cols: Sequence[str],
    n: int,
    seed: int = 0,
    adaptive: bool = False,
    salt_buckets: int = 32,
) -> DataFrame:
    """Keep at most `n` rows per group, chosen by content-hash rank —
    the per-domain/per-source cap every web corpus applies so one SEO
    farm or crawler loop can't dominate the training mix.

    WHICH rows survive is a pure function of (key, seed): rows rank
    inside their group by hash bucket (the `hash_sample` basis, an
    unbiased reproducible shuffle; key columns break bucket ties), so
    the cap is stable across runs, engines, and partitionings, and
    NESTED — raising `n` only adds rows, never swaps them.

    One shuffle (partition by group) + per-group rank with
    WindowGroupLimit pruning (rank <= n cuts each partition's stream
    before the full sort materializes). A single giant group
    serializes into one partition — `adaptive=True` measures the
    group-size distribution first (operators/skew.topk_plan_decision,
    one |groups|-sized pre-aggregation) and, when one group dominates
    (skew ratio past AQE's 5x factor), switches to the two-phase
    salted plan of salted_topk_per_group: rows rank within (group,
    salt) and only the per-salt top-n survivors (<= salt_buckets * n
    per group, bounded) reach the final per-group rank. Any row in a
    group's true top-n is in its salt bucket's top-n (pigeonhole), so
    the kept set is IDENTICAL either way — the choice is purely a
    cost call, made from evidence instead of a config guess.
    """
    bucket = hash_bucket(key_cols, seed)
    order = [bucket.asc(), *[F.col(c).asc() for c in key_cols]]
    if adaptive:
        from gcp_data_pipeline_fyp_spark.operators.skew import (
            topk_plan_decision,
        )

        decision = topk_plan_decision(df, group_cols).first()
        if decision is not None and decision["use_salted"]:
            # salt basis: the same content hash under a different seed
            # — deterministic (rerun/retry-stable), never rand()
            salt = F.pmod(
                hash_bucket(key_cols, seed ^ 0x5BD1E9), F.lit(salt_buckets)
            ).cast("int")
            salted = df.withColumn("__cap_salt", salt)
            w1 = Window.partitionBy(*group_cols, "__cap_salt").orderBy(*order)
            stage1 = (
                salted.withColumn("__rk", F.row_number().over(w1))
                .filter(F.col("__rk") <= n)
                .drop("__rk", "__cap_salt")
            )
            w2 = Window.partitionBy(*group_cols).orderBy(*order)
            return (
                stage1.withColumn("__rk", F.row_number().over(w2))
                .filter(F.col("__rk") <= n)
                .drop("__rk")
            )
    w = Window.partitionBy(*[F.col(c) for c in group_cols]).orderBy(*order)
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= n)
        .drop("__rk")
    )


def hash_bucket_sql(key_sql: Sequence[str], seed: int = 0) -> str:
    """DuckDB-equivalent SQL text for `hash_bucket` (oracle parity)."""
    tokens = " || ".join(
        f"(CASE WHEN {k} IS NULL THEN '-1:' ELSE "
        f"concat(cast(length(cast({k} AS varchar)) AS varchar), ':', "
        f"cast({k} AS varchar)) END)"
        for k in key_sql
    )
    return (
        f"cast(concat('0x', substr(md5('{seed}|' || {tokens}), 1, 12)) "
        f"AS bigint) % {_BUCKETS}"
    )


def temperature_mix_sample(
    df: DataFrame,
    key_cols: Sequence[str],
    strata_col: str,
    alpha: float,
    target_frac: float,
    seed: int = 0,
) -> DataFrame:
    """Temperature-scaled corpus rebalancing (multilingual-pretraining
    standard): per-stratum sampling rate from share^alpha.

    With share p_s = n_s / N, the target mix is q_s = p_s^a / sum_t
    p_t^a; each stratum keeps min(1, target_frac * N * q_s / n_s) of
    its rows, content-keyed like every sampler here. a=1 is a uniform
    downsample; a=0 equalizes stratum counts; 0<a<1 upweights rare
    strata (the T=1/a convention from multilingual-model training).
    Rates are capped at 1 — upsampling-with-replacement is an epochs
    knob for the training loader, not a corpus transform.

    Scale shape: one partial-agg over strata (tiny output), a window
    over those few rows for the normalizer, and a broadcast join back —
    the corpus itself is scanned once and never shuffled. Rates are
    rounded to whole buckets (6dp) so the kept set is engine-
    reproducible; the share^alpha weights pass through a 12dp decimal
    so the normalizing sum is exact — a raw double sum over an
    unordered window would vary with addition order.
    """
    n_total = Window.partitionBy()
    stats = df.groupBy(strata_col).agg(F.count("*").alias("__n"))
    big_n = F.sum("__n").over(n_total)  # long sum: exact
    p = F.col("__n") / big_n
    qr = roundn(F.pow(p, F.lit(float(alpha))), 12).cast("decimal(20,12)")
    q = qr.cast("double") / F.sum(qr).over(n_total).cast("double")
    keep = F.lit(float(target_frac)) * big_n * q
    rate = F.least(F.lit(1.0), keep / F.col("__n"))
    thresh = F.round(rate * _BUCKETS, 0).cast("long")
    rates = stats.select(strata_col, thresh.alias("__thresh"))
    bucket = hash_bucket(key_cols, seed)
    return (
        df.join(F.broadcast(rates), strata_col)
        .filter(bucket < F.col("__thresh"))
        .drop("__thresh")
    )


def weighted_sample_wor(
    df: DataFrame,
    key_cols: Sequence[str],
    weight_col: str,
    k: int,
    group_cols: Sequence[str] = (),
    seed: int = 0,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement, exactly k rows per
    group, inclusion probability proportional to weight — the
    Efraimidis-Spirakis A-ES scheme: each row draws u from its
    content hash and ranks by -ln(u)/w; the k smallest ranks are the
    sample. Unlike repeated weighted draws this never duplicates a
    row, and unlike quota-by-weight it is exact for any weight skew.

    Deterministic everywhere: u = (h60+1)/(2^60+1) from the keyed
    md5 (never 0 or 1, so ln is finite), the rank is one pinned
    float chain, and the per-group row_number tie-breaks by the key
    hash then keys — same sample on any engine, partitioning, or
    run. Zero/negative/NULL weights are excluded (they have no
    inclusion probability). One window per group over rank-sorted
    rows; at corpus scale prefer a groups-partitioned layout so the
    sort shards.
    """
    gcols = [F.col(c) for c in group_cols]
    cols = [F.col(c) for c in key_cols]
    h = h60(F.concat(F.lit(f"{seed}|"), *[_key_token(c) for c in cols]))
    u = (h + F.lit(1.0)) / F.lit(1152921504606846977.0)
    w = F.col(weight_col).cast("double")
    rank = -F.log(u) / w
    keep = list(df.columns)
    ranked = df.filter(
        F.col(weight_col).isNotNull() & (w > 0)
    ).select(*keep, rank.alias("__es_rank"), h.alias("__es_h"))
    win = Window.partitionBy(*gcols).orderBy(
        F.col("__es_rank"), F.col("__es_h"), *cols
    )
    return (
        ranked.withColumn("__rn", F.row_number().over(win))
        .filter(F.col("__rn") <= k)
        .select(*keep)
    )


def leakage_safe_split(
    df: DataFrame,
    id_col: str,
    pairs: DataFrame,
    weights: dict[str, float],
    seed: int = 0,
    split_col: str = "split",
    keep_cluster: bool = False,
) -> DataFrame:
    """`hash_split` keyed on the NEAR-DUP CLUSTER instead of the row id.

    Splitting on doc_id scatters near-duplicates across train and test
    — the leakage hole `split_leakage_report` exists to audit. Keying
    the split on the transitive closure of the candidate-pair graph
    (`pairs`: (id_a, id_b) from any dedup family — MinHash LSH,
    embedding near-dup, simhash groups) puts every member of a cluster
    in the SAME split, closing the hole BY CONSTRUCTION rather than
    detecting it after the fact. Docs in no pair split on their own id
    (singleton cluster), so the weights are honored over clusters.

    Same stability contract as `hash_split`: a cluster lands in the
    same split forever (reprocessing cannot contaminate), provided the
    pair graph is stable; new edges can merge clusters, which MOVES
    the merged cluster as a unit — never splits one across sets.

    Scale: the closure runs over the candidate graph (LSH-bounded,
    orders of magnitude smaller than the corpus —
    `connected_components` picks driver union-find vs distributed star
    contraction adaptively); the split itself is one md5 expression.
    """
    from gcp_data_pipeline_fyp_spark.operators.components import (
        dup_clusters,
    )

    with_c = dup_clusters(df, pairs, id_col)
    out = hash_split(with_c, ["cluster_id"], weights, seed, split_col)
    return out if keep_cluster else out.drop("cluster_id")


# ------------------------------------------- distribution matching
def _null_safe_on(pairs: Sequence[tuple[str, str]]) -> Column:
    """AND of null-safe equalities — a NULL key is a real slice."""
    return reduce(
        lambda a, b: a & b, [F.col(x).eqNullSafe(F.col(y)) for x, y in pairs]
    )


def distribution_match_rates(
    df: DataFrame,
    bucket_col: str,
    reference: DataFrame,
    ref_bucket_col: str | None = None,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Per-bucket keep rates that reshape `df`'s bucket distribution to
    `reference`'s — "make the kept corpus's length / quality / domain
    profile look like the curated reference corpus", the
    distribution-matching step of corpus reshaping (a filter cascade
    skews the length profile; this un-skews it against a target).

    Math: with source counts s_b and reference counts r_b per bucket,
    the LARGEST subsample of `df` whose bucket distribution is
    proportional to the reference keeps rate_b = (s_m * r_b) /
    (r_m * s_b) of bucket b, where m = argmin_b s_b / r_b (the
    reference-relative scarcest bucket, kept whole). Rates are emitted
    as rate_micro = floor(1e6 * s_m * r_b / (r_m * s_b)) — EXACT
    integer arithmetic in decimal(38,0) (counts up to 1e9 stay inside
    38 digits), so the rate table replays bit-for-bit in SQL. Buckets
    absent from the reference get rate 0 (dropped); buckets absent
    from the source appear nowhere (unreachable reference mass — the
    report makes it visible as a missing row). The floor division is
    Spark's decimal `div` (exact integral quotient, = DuckDB's `//`)
    — NOT floor(a/b) over decimal division, whose 6-dp rounding can
    lift 3.9999999 to 4.0 before the floor.

    With `group_cols`, every group (language, source) matches its own
    reference slice, with its own argmin — matching the GLOBAL length
    profile lets an over-long language hide inside an under-long one.
    Groups absent from the reference rate 0 everywhere.

    Returns (group_cols..., bucket, n_src, n_ref, rate_micro). The
    aggregations are (|groups| x |buckets|)-sized and the argmin table
    is |groups| rows (one row ungrouped), broadcast; nothing
    corpus-sized shuffles. NULL group keys and NULL buckets are real
    slices on BOTH sides (null-safe joins; a plain equi-join would
    zero-rate every NULL-bucket row even when the reference holds
    them). The argmin tie-breaks on the smallest NON-NULL bucket
    value (engine-stable: the ratio is the same IEEE double on both
    engines); the NULL bucket wins a tie only against nothing — it
    sorts last, matching SQL's default NULLS LAST (the explicit
    isNull discriminator pins this, since bare struct ordering would
    sort the NULL field FIRST in Spark and diverge from the oracle).
    """
    g = list(group_cols)
    src = df.groupBy(*g, F.col(bucket_col).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_src")
    )
    ref = reference.groupBy(
        *[F.col(c).alias(f"__r_{c}") for c in g],
        F.col(ref_bucket_col or bucket_col).alias("__r_bucket"),
    ).agg(F.count(F.lit(1)).alias("n_ref"))
    keys = [*g, "bucket"]
    both = src.join(
        ref, _null_safe_on([(c, f"__r_{c}") for c in keys]), "left"
    ).drop(*[f"__r_{c}" for c in keys])
    argmin = (
        both.filter(F.col("n_ref") > 0)
        .groupBy(*g)
        .agg(
            F.min_by(
                F.struct(
                    F.col("n_src").alias("s_m"), F.col("n_ref").alias("r_m")
                ),
                F.struct(
                    (
                        F.col("n_src").cast("double")
                        / F.col("n_ref").cast("double")
                    ).alias("ratio"),
                    F.col("bucket").isNull().alias("bnull"),
                    F.col("bucket"),
                ),
            ).alias("__m")
        )
        .select(
            *[F.col(c).alias(f"__m_{c}") for c in g],
            F.col("__m.s_m").alias("n_src_m"),
            F.col("__m.r_m").alias("n_ref_m"),
        )
    )
    m = F.broadcast(argmin)
    # decimal(14,0) factors keep every product inside precision 38, so
    # nothing rounds; `div` is the exact integral quotient (= SQL //)
    d14 = "decimal(14,0)"
    with_m = (
        (
            both.join(m, _null_safe_on([(c, f"__m_{c}") for c in g]), "left")
            if g
            else both.crossJoin(m)
        )
        .withColumn(
            "__num",
            F.lit(1_000_000).cast("decimal(7,0)")
            * F.col("n_src_m").cast(d14)
            * F.col("n_ref").cast(d14),
        )
        .withColumn(
            "__den", F.col("n_ref_m").cast(d14) * F.col("n_src").cast(d14)
        )
    )
    rate = F.expr("__num div __den")
    return with_m.select(
        *keys,
        "n_src",
        F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
        F.when(
            F.col("n_ref").isNull()
            | (F.col("n_ref") <= 0)
            | F.col("n_src_m").isNull(),
            F.lit(0),
        )
        .otherwise(F.least(F.lit(1_000_000).cast("long"), rate))
        .alias("rate_micro"),
    )


def distribution_match_sample(
    df: DataFrame,
    key_cols: Sequence[str],
    bucket_col: str,
    reference: DataFrame,
    ref_bucket_col: str | None = None,
    seed: int = 0,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """The largest content-keyed subsample of `df` whose `bucket_col`
    distribution is proportional to `reference`'s (per group with
    `group_cols`) — rates from `distribution_match_rates`, membership
    by the module's standard hash_bucket(key, seed) < rate_micro rule
    (reproducible on any engine/partitioning; nested in the rate). The
    rate table is (|groups| x |buckets|) rows — broadcast join, one
    corpus scan, no corpus shuffle."""
    g = list(group_cols)
    rates = distribution_match_rates(
        df, bucket_col, reference, ref_bucket_col, g
    )
    r = F.broadcast(
        rates.select(
            *[F.col(c).alias(f"__m_{c}") for c in g],
            F.col("bucket").alias("__m_bucket"),
            "rate_micro",
        )
    )
    on = _null_safe_on(
        [(bucket_col, "__m_bucket"), *[(c, f"__m_{c}") for c in g]]
    )
    return (
        df.join(r, on, "inner")
        .filter(hash_bucket(key_cols, seed) < F.col("rate_micro"))
        .drop(*r.columns)
    )


# ------------------------------------------- UniMax budget allocation
def unimax_alloc(
    df: DataFrame,
    stratum_col: str,
    weight_col: str,
    total_budget: int,
    max_epochs: int = 1,
) -> DataFrame:
    """UniMax language-balanced budget allocation (public method:
    Chung et al. 2023, "UniMax: Fairer and More Effective Language
    Sampling for Large-Scale Multilingual Pretraining", ICLR;
    arXiv:2304.09151): split `total_budget` tokens as UNIFORMLY as
    possible across strata (languages/sources), except no stratum may
    be sampled past `max_epochs` passes over its own data — the epoch
    cap that stops head languages from starving tails without letting
    tails repeat into memorization.

    Water-filling, exact integer closed form. With per-stratum
    capacity cap_s = max_epochs * W_s (W_s = the stratum's token
    total) sorted ascending with cumulative-before sums cum_s and
    remaining-strata counts m_s:

        capped_s  :=  cap_s * m_s <= B - cum_s        (monotone: once
                      false in ascending order it stays false, because
                      later capacities are >= this one)
        tau       :=  (B - sum of capped capacities) div n_uncapped
        alloc_s   :=  cap_s if capped_s else tau

    Capped strata (below the water level) absorb their full capacity;
    the remainder splits evenly as the integer water level tau
    (div, so the result replays bit-for-bit in SQL; at most
    n_uncapped - 1 tokens of B stay unallocated to rounding, and
    tau < cap_s holds for every uncapped stratum by the flag's own
    inequality). A naive prefix form alloc_s = min(cap_s,
    (B - cum_cap_before) div m) is WRONG past the first uncapped
    stratum — it subtracts full capacities where only the water-level
    allocs were spent — hence the flag + single-tau form.

    Returns (stratum, weight_total, capacity, alloc) — feed the alloc
    column to `token_budget_mix` as its per-stratum budgets (the
    composition site), but relabel NULL strata first: a dict cannot
    key NULL through isin/create_map, and token_budget_mix rejects a
    None budget key eagerly for exactly that reason. NULL strata
    allocate like any other stratum HERE (their rows are a real slice
    of the corpus); NULL and negative weights count 0 (negative token
    counts are corruption, and a negative capacity would inflate
    later water-fill shares past the budget). Non-positive
    budget/epochs are configuration bugs, rejected eagerly.

    Scale: one stratum-key aggregation over the corpus (map-side
    combined), then every window runs over the |strata|-row table —
    zero driver-bounded work; the single-partition windows hold
    |strata| rows (languages/sources: hundreds at most).
    """
    if int(total_budget) <= 0 or int(max_epochs) <= 0:
        raise ValueError(
            "unimax_alloc: total_budget and max_epochs must be > 0; got "
            f"{total_budget!r}, {max_epochs!r}"
        )
    if stratum_col in ("weight_total", "capacity", "alloc"):
        raise ValueError(
            f"unimax_alloc: stratum_col {stratum_col!r} collides with an "
            "output column name — rename it first."
        )
    B = int(total_budget)
    # negative per-row weights are data corruption, and a negative
    # CAPACITY corrupts the water-fill (an early capped stratum with
    # alloc < 0 inflates every later share past the budget) — clamp
    # per-row like dsir_budget_select does
    wrow = F.greatest(
        F.coalesce(F.col(weight_col).cast("long"), F.lit(0)), F.lit(0)
    )
    wsum = df.groupBy(stratum_col).agg(
        F.coalesce(F.sum(wrow), F.lit(0)).alias("weight_total")
    )
    cap = (F.lit(int(max_epochs)) * F.col("weight_total")).alias("capacity")
    sized = wsum.select(stratum_col, "weight_total", cap)
    # ascending capacity; ties break on the stratum for determinism
    w = Window.orderBy(
        F.col("capacity").asc(), F.col(stratum_col).asc_nulls_first()
    )
    cum_before = F.coalesce(
        F.sum("capacity").over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    )
    full = w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    n = F.count(F.lit(1)).over(full)
    m = n - F.row_number().over(w) + 1
    flagged = sized.select(
        stratum_col,
        "weight_total",
        "capacity",
        (F.col("capacity") * m <= F.lit(B) - cum_before).alias("__capped"),
    )
    w2full = Window.orderBy(
        F.col("capacity").asc(), F.col(stratum_col).asc_nulls_first()
    ).rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    capped_sum = F.coalesce(
        F.sum(F.when(F.col("__capped"), F.col("capacity"))).over(w2full),
        F.lit(0),
    )
    n_uncapped = F.sum(
        F.when(F.col("__capped"), 0).otherwise(1)
    ).over(w2full)
    # nullif: with every stratum capped the otherwise-branch is
    # never taken, but ANSI mode must still never see div 0
    tau = F.expr(f"({B} - __capped_sum) div nullif(__n_uncapped, 0)")
    staged = flagged.select(
        stratum_col,
        "weight_total",
        "capacity",
        "__capped",
        capped_sum.alias("__capped_sum"),
        n_uncapped.alias("__n_uncapped"),
    )
    alloc = F.when(F.col("__capped"), F.col("capacity")).otherwise(tau)
    return staged.select(
        stratum_col, "weight_total", "capacity", alloc.alias("alloc")
    )


def unimax_epoch_mix(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    strata_col: str,
    allocs: DataFrame,
    seed: int = 0,
    epoch_col: str = "epoch",
    out_col: str = "cum_weight",
) -> DataFrame:
    """Epoch-expanded enforcement of a UniMax allocation — the
    operator that makes `max_epochs > 1` REAL end-to-end (Chung et
    al. 2023 §3: the epoch cap exists precisely so tail languages
    REPEAT, up to the cap, instead of being starved; an allocation
    whose alloc_s exceeds the stratum's token total W_s must emit
    repeated documents, not silently truncate at one pass).

    `allocs` is a (strata_col, alloc) frame — feed `unimax_alloc`'s
    output directly (extra columns are ignored). Per stratum with
    token total W_s (NULL/negative weights count 0, the same clamp
    `unimax_alloc` fits with — the totals MUST agree or the epoch
    boundaries misalign):

        n_epochs_s = ceil(alloc_s / W_s)
        epoch e in 1..n_epochs_s gets budget
            bud_e = min(W_s, alloc_s - (e-1) * W_s)

    so every epoch below the last is a COMPLETE pass (bud = W_s keeps
    every row) and the final epoch is a budgeted PREFIX in that
    epoch's own deterministic order: rows order inside (stratum,
    epoch) by the md5-60-bit key of (seed, epoch, id) — a fresh
    reshuffle per epoch, the same per-epoch keying discipline as
    `epoch_shuffle_order`, so repeated passes do not repeat an order.
    The output carries `epoch_col` for downstream per-epoch seeds.

    Deterministic and NESTED like the rest of the family: the order
    within every epoch is a pure function of (seed, epoch, id), so
    raising a stratum's alloc only APPENDS rows — earlier epochs'
    budgets are pinned at W_s and the final partial prefix grows
    monotonically (completing into a full epoch before the next
    begins).

    Strata with alloc <= 0 or W_s <= 0 emit nothing (`unimax_alloc`
    guarantees alloc <= max_epochs * W_s, so W_s = 0 forces
    alloc = 0; a hand-built allocs frame with alloc > 0 over an
    empty/zero-weight stratum has no finite epoch count and is
    dropped with the filter stated here). Strata present in `df` but
    absent from `allocs` are dropped (same contract as
    token_budget_mix: a silent default would skew the mix).

    Scale: the epoch plan is |strata| x max-epochs rows (broadcast by
    construction); the expansion is a broadcast join that duplicates
    each row n_epochs(stratum) times; the running totals are
    `token_budget_mix`'s distributed prefix sum (operators/prefix.py)
    partitioned by (stratum, epoch). Nothing corpus-sized sorts in
    one partition.
    """
    reserved = {epoch_col, out_col, "__key", BUCKET, "__off", PREFIX,
                "__W", "__ne", "__bud"}
    clash = reserved & set(df.columns)
    if clash:
        raise ValueError(
            f"unimax_epoch_mix: column(s) {sorted(clash)} already exist "
            "in df (epoch_col/out_col or reserved internals) — drop or "
            "rename them first."
        )
    if "alloc" not in allocs.columns or strata_col not in allocs.columns:
        raise ValueError(
            f"unimax_epoch_mix: allocs must carry ({strata_col!r}, "
            f"'alloc') — got {allocs.columns!r}. Feed unimax_alloc's "
            "output (or a frame shaped like it)."
        )
    # the SAME per-row clamp unimax_alloc fits capacities with —
    # totals and running sums must count identically or a "full"
    # epoch would not consume exactly W_s
    wrow = F.greatest(
        F.coalesce(F.col(weight_col).cast("long"), F.lit(0)), F.lit(0)
    )
    totals = df.groupBy(strata_col).agg(
        F.coalesce(F.sum(wrow), F.lit(0)).alias("__W")
    )
    plan = (
        allocs.select(strata_col, F.col("alloc").cast("long").alias("alloc"))
        .join(totals, strata_col, "inner")
        .filter((F.col("alloc") > 0) & (F.col("__W") > 0))
        .select(
            strata_col,
            "alloc",
            "__W",
            F.expr("(alloc + __W - 1) div __W").alias("__ne"),
        )
    )
    epochs = plan.select(
        strata_col,
        "__W",
        "alloc",
        F.explode(F.sequence(F.lit(1).cast("long"), F.col("__ne"))).alias(
            epoch_col
        ),
    ).select(
        strata_col,
        epoch_col,
        F.least(
            F.col("__W"),
            F.col("alloc") - (F.col(epoch_col) - 1) * F.col("__W"),
        ).alias("__bud"),
    )
    key = stable_event_id(F.lit(int(seed)), epoch_col, id_col)
    expanded = (
        df.join(F.broadcast(epochs), strata_col)
        .withColumn("__key", key)
        .withColumn(BUCKET, F.expr(f"__key div {HASH_SPAN}"))
    )
    return (
        prefix_sum(
            expanded,
            BUCKET,
            [F.col("__key").asc(), F.col(id_col).asc()],
            wrow,
            [strata_col, epoch_col],
        )
        .filter(F.col(PREFIX) <= F.col("__bud"))
        .select(*df.columns, epoch_col, F.col(PREFIX).alias(out_col))
    )
