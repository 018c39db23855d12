"""Tokenizer-training support: corpus-scale BPE pair statistics and
group-wise embedding pooling.

`bpe_pair_counts` is the inner-loop statistic of byte-pair-encoding
tokenizer training (Sennrich et al. 2016): count adjacent symbol pairs
across the corpus, weighted by word frequency. The scale shape matters
more than the arithmetic — at 100 TB you NEVER explode per-occurrence
pairs. The corpus first collapses to its (word, count) vocabulary (one
shuffle, output vocabulary-sized — tens of millions of rows, not
trillions of tokens), and pair explosion runs over the vocabulary with
counts as weights. This two-stage shape is the published way every
corpus-scale tokenizer trainer works; one fused explode over raw
tokens would shuffle the token stream itself.

`pool_embeddings` mean-pools vector groups (chunk -> document, passage
-> page): posexplode to (group, pos, x), average per (group, pos) with
exact decimal sums (partial-agg-order independent — identical bytes on
any cluster layout), reassemble per group. Same aggregation shape as
the k-means centroid update (operators/clustering.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gcp_data_pipeline_fyp_spark.functions.text import _coalesce_toks, tokens


def word_counts(df: DataFrame, text_col: str) -> DataFrame:
    """(word, n) vocabulary of whitespace words — the corpus collapse
    stage; everything downstream is vocabulary-sized."""
    return (
        df.select(F.explode(tokens(text_col)).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def bpe_pair_counts(
    df: DataFrame, text_col: str, top_k: int | None = None
) -> DataFrame:
    """Adjacent character-pair counts over the corpus, weighted by word
    frequency — the statistic a BPE merge round maximizes. Returns
    (left, right, pair_count) ordered by count desc (ties broken by the
    pair itself, so top-k is deterministic).

    Words are treated as symbol sequences of single characters (the
    first BPE iteration); an end-of-word marker is NOT added — callers
    composing a full trainer can append one to `text_col` upstream.
    """
    vocab = word_counts(df, text_col).select(
        "n", F.split(F.col("word"), "").alias("__syms")
    )
    out = _symbol_pair_counts(vocab).orderBy(
        F.col("pair_count").desc(), "left", "right"
    )
    return out.limit(top_k) if top_k is not None else out


def pool_embeddings(
    df: DataFrame, group_col: str, vec_col: str, dim: int | None = None
) -> DataFrame:
    """Mean-pool `vec_col` (array<float/double>) per `group_col` ->
    (group_col, pooled array<double>).

    Exact decimal per-dimension sums make pooling independent of
    partial-aggregation order. Vectors inside a group must share one
    dimensionality (standard for a single embedding model); `dim`
    optionally asserts it at plan level via an upstream filter.
    """
    v = df.select(
        F.col(group_col), F.col(vec_col).cast("array<double>").alias("__v")
    )
    if dim is not None:
        v = v.filter(F.size("__v") == dim)
    per_pos = (
        v.select(group_col, F.posexplode("__v").alias("__pos", "__x"))
        # NULL elements (array<double> permits them) are excluded from
        # both numerator and denominator — the oracle rendering filters
        # the same positions, keeping the cross-engine mean identical
        .filter(F.col("__x").isNotNull())
        .groupBy(group_col, "__pos")
        .agg(
            (
                F.sum(F.col("__x").cast("decimal(28,12)")).cast("double")
                / F.count("__x")
            ).alias("__m")
        )
    )
    return per_pos.groupBy(group_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct(F.col("__pos"), F.col("__m")))),
            lambda s: s["__m"],
        ).alias("pooled")
    )


def _symbol_pair_counts(vocab_syms: DataFrame) -> DataFrame:
    """(left, right, pair_count) over (n, __syms) rows — the per-round
    statistic of BPE training, vocabulary-sized."""
    pairs = (
        vocab_syms.filter(F.size("__syms") >= 2)
        .select(
            "n",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("__syms") - 1),
                    lambda i: F.struct(
                        F.element_at("__syms", i).alias("left"),
                        F.element_at("__syms", i + 1).alias("right"),
                    ),
                )
            ).alias("__p"),
        )
        .select(F.col("__p.left").alias("left"), F.col("__p.right").alias("right"), "n")
    )
    return pairs.groupBy("left", "right").agg(F.sum("n").alias("pair_count"))


def _segment_word_fold(w: F.Column, pairs: list[tuple[str, str]]) -> F.Column:
    """The original fold rendering of per-word segmentation — kept as
    the differential twin for the string-replace form (and the
    fallback for merge tables the string rendering cannot express)."""
    syms = F.split(w, "")
    for left, right in pairs:
        syms = _apply_merge(syms, left, right)
    return syms


def _apply_merge(syms: F.Column, left: str, right: str) -> F.Column:
    """Greedy left-to-right merge of adjacent (left, right) into one
    symbol — standard BPE semantics ('aaa' + (a,a) -> [aa, a])."""
    merged = left + right
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (x == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def bpe_segment(
    df: DataFrame,
    text_col: str,
    merges: list[tuple[int, str, str, int]] | list[tuple[str, str]],
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Segment text with a learned merge table: per word, apply the
    merges in rank order (each a greedy left-to-right merge, as a BPE
    trainer applies it), then flatten. Adds `out_col`
    (array<string>) and `{out_col}_count` — the custom-vocab token
    count a data-mix or packing stage budgets with.

    The merge list is tiny (vocab-budget-sized) and becomes a nested
    column expression, so segmentation is a pure map stage — no join,
    no shuffle, parallelism = input splits.

    Per-word rendering (r12 optimization, guide §4.1): each merge is
    a literal string `replace` over the space-wrapped symbol string
    (' t  h ' -> ' th '), the exact construction the DuckDB oracle
    has always used — native UTF8String ops instead of the previous
    nested `F.aggregate` folds, which were CodegenFallback
    (interpreted) AND O(len^2) in array copies per word per merge
    (measured 13-16x slower at sf0.1; differential-fuzzed equal, see
    tests/test_properties.py:test_bpe_segment_fuzz_vs_greedy_fold).
    Invariant: every symbol is wrapped in single spaces, so adjacent
    symbols are separated by TWO spaces and a ' left  right ' match
    can only bind complete, adjacent symbols; the replacement
    ' leftright ' preserves the invariant, and Java's left-to-right
    non-overlapping replace IS the greedy fold. Degenerate merge
    symbols that would break the rendering (empty, or containing a
    space) fall back to the fold form.
    """
    pairs = [(m[-3], m[-2]) if len(m) == 4 else (m[0], m[1]) for m in merges]
    renderable = all(
        left and right and " " not in left and " " not in right
        for left, right in pairs
    )

    def segment_word(w: F.Column) -> F.Column:
        if not renderable:
            return _segment_word_fold(w, pairs)
        # (?s) so Java's `.` also matches the Unicode line terminators
        # U+2028/U+2029/U+0085, which survive the \s+ word split (Java
        # non-Unicode \s excludes them) — without DOTALL such a char
        # stays un-wrapped, breaking the double-space invariant and
        # diverging from the fold twin / trainer semantics / the RE2
        # oracle (whose `.` excludes only \n, and \n cannot appear
        # inside a word — both engines' \s splits it out). ADVICE r12.
        s = F.regexp_replace(w, "(?s)(.)", " $1 ")
        for left, right in pairs:
            s = F.replace(
                s, F.lit(f" {left}  {right} "), F.lit(f" {left}{right} ")
            )
        return F.split(F.trim(s), "  ")

    # NULL text segments like an empty document ([] / count 0) — the
    # engine-wide convention (functions/text.py:_coalesce_toks); a NULL
    # count would silently drop the doc from a packing/budget sum
    toks = F.filter(_coalesce_toks(tokens(F.col(text_col))), lambda t: t != "")
    segmented = F.flatten(F.transform(toks, segment_word))
    return df.withColumn(out_col, segmented).withColumn(
        f"{out_col}_count", F.size(F.col(out_col))
    )
