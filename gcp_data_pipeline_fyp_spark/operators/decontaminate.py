"""Benchmark decontamination — remove eval-set overlap from a corpus.

The standard pretraining-data hygiene step (n-gram overlap
decontamination as described in the GPT-3 and PaLM dataset papers): a
corpus document is contaminated if it shares any length-n token n-gram
with a benchmark/eval document, and contaminated documents are dropped
(or flagged) before training.

Scale shape, by construction:

- The benchmark side is TINY relative to the corpus (MBs of eval sets
  vs 100 TB of corpus), so its distinct n-gram set is broadcast —
  the corpus side is a scan + per-row shingle explode + broadcast
  semi join: NO shuffle of corpus data at all.
- The only shuffle is the `.distinct()` on the matched doc-id set,
  which is bounded by the number of contaminated documents (small).
- The final anti join keys on the id column, not text.

Set `broadcast=False` only if the benchmark n-gram set genuinely does
not fit in executor memory; the join then falls back to a shuffled
semi join on the n-gram string.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gcp_data_pipeline_fyp_spark.functions.text import exploded_shingles


def benchmark_ngrams(benchmark: DataFrame, text_col: str, n: int = 13) -> DataFrame:
    """Distinct token n-grams of the benchmark set (one `ngram` column)."""
    return exploded_shingles(benchmark, [], text_col, n).distinct()


def contaminated_ids(
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    bench_grams: DataFrame,
    n: int = 13,
    broadcast: bool = True,
) -> DataFrame:
    """Distinct ids of corpus docs sharing any n-gram with the benchmark."""
    grams = bench_grams
    if broadcast:
        grams = F.broadcast(grams)
    exploded = exploded_shingles(corpus, [id_col], text_col, n)
    return exploded.join(grams, "ngram", "left_semi").select(id_col).distinct()


def decontaminate(
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    benchmark: DataFrame,
    bench_text_col: str,
    n: int = 13,
    broadcast: bool = True,
) -> DataFrame:
    """Corpus minus documents overlapping the benchmark by any n-gram."""
    bad = contaminated_ids(
        corpus,
        id_col,
        text_col,
        benchmark_ngrams(benchmark, bench_text_col, n),
        n=n,
        broadcast=broadcast,
    )
    return corpus.join(bad, id_col, "left_anti")


def bloom_decontaminate(
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    benchmark: DataFrame,
    bench_text_col: str,
    n: int = 13,
    m_bits: int | None = None,
    k: int | None = None,
    n_grams_hint: int | None = None,
    fpp: float = 0.01,
) -> DataFrame:
    """`decontaminate` for a benchmark n-gram set PAST broadcast size —
    the composition DEPLOY.md prescribes (bloomfilter.py:31): when the
    union of eval sets holds billions of distinct n-grams (~8 GB+ as a
    broadcast hash relation), the exact-set broadcast in `decontaminate`
    stops being an option, but the same keys as Bloom BITS stay
    broadcastable (1B grams @ 1% fpp ~ 1.2 GB). The corpus gram stream
    is pruned map-side against the bits BEFORE the exact semi join, so
    the join's shuffle sees only (true hits + ~fpp of the stream)
    instead of every corpus n-gram.

    Output is row-for-row equal to `decontaminate` (Bloom has zero
    false negatives; the exact semi join on the digest removes the
    false positives). Both sides key on the 16-byte md5 digest of the
    gram — the exact-dedup shuffle-compression rule (operators/
    dedup.py): raw n-gram text never keys a shuffle or a hash.

    Sizing: pass (m_bits, k), or n_grams_hint (+ fpp) for
    `bloom_params`; unhinted falls back to a distinct-count job over
    the benchmark grams (fine interactively — the benchmark side is
    the small one).
    """
    from gcp_data_pipeline_fyp_spark.operators.bloomfilter import (
        bloom_semi_join,
    )

    bench_digests = benchmark_ngrams(benchmark, bench_text_col, n).select(
        F.unhex(F.md5("ngram")).alias("__d")
    )
    corpus_grams = exploded_shingles(corpus, [id_col], text_col, n).select(
        id_col, F.unhex(F.md5("ngram")).alias("__d")
    )
    bad = (
        bloom_semi_join(
            corpus_grams,
            bench_digests,
            "__d",
            "__d",
            m_bits=m_bits,
            k=k,
            n_keys_hint=n_grams_hint,
            fpp=fpp,
        )
        .select(id_col)
        .distinct()
    )
    return corpus.join(bad, id_col, "left_anti")


def contamination_report(
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    benchmark: DataFrame,
    bench_id_col: str,
    bench_text_col: str,
    n: int = 13,
    broadcast: bool = True,
) -> DataFrame:
    """Per-benchmark-document contamination audit: for each benchmark
    doc, how many of its n-grams exist in the corpus and how many
    corpus docs carry them.

    (bench_id, n_grams, n_grams_hit, n_docs_hit) — the evidence table a
    contamination study publishes alongside the scrub. Benchmark docs
    with zero overlap still appear (count 0), so the report is complete
    over the eval set.

    Same scale shape as `decontaminate`: the per-doc benchmark n-gram
    set broadcasts; the corpus contributes one scan + shingle explode;
    the aggregation output is benchmark-sized.
    """
    bench_grams = exploded_shingles(
        benchmark, [F.col(bench_id_col).alias("__bid")], bench_text_col, n
    ).distinct()
    grams = F.broadcast(bench_grams) if broadcast else bench_grams
    corpus_grams = exploded_shingles(
        corpus, [F.col(id_col).alias("__cid")], text_col, n
    )
    hits = (
        corpus_grams.join(grams, "ngram")
        .groupBy("__bid")
        .agg(
            F.count_distinct("ngram").alias("n_grams_hit"),
            F.count_distinct("__cid").alias("n_docs_hit"),
        )
    )
    gram_counts = bench_grams.groupBy("__bid").agg(
        F.count(F.lit(1)).alias("n_grams")
    )
    # anchor totals on the benchmark ID SET, not the exploded grams: a
    # doc shorter than the shingle width has zero n-grams (explode emits
    # no row for it) but must still report (0, 0, 0) — completeness
    # over the eval set is the report's contract
    totals = (
        benchmark.select(F.col(bench_id_col).alias("__bid"))
        .distinct()
        .join(gram_counts, "__bid", "left")
        .select("__bid", F.coalesce("n_grams", F.lit(0)).alias("n_grams"))
    )
    return (
        totals.join(hits, "__bid", "left")
        .select(
            F.col("__bid").alias(bench_id_col),
            "n_grams",
            F.coalesce("n_grams_hit", F.lit(0)).alias("n_grams_hit"),
            F.coalesce("n_docs_hit", F.lit(0)).alias("n_docs_hit"),
        )
    )


def split_leakage_report(
    df: DataFrame,
    id_col: str,
    text_col: str,
    split_col: str,
    train_value: str = "train",
    n: int = 8,
) -> DataFrame:
    """Train/heldout contamination audit: for each non-train split, how
    many of its documents share at least one length-n token n-gram with
    ANY train document -> (split, n_docs, n_leaked, leak_ratio_micro).

    The complement of `decontaminate`: there the dirty side (benchmark)
    is tiny and broadcasts; here BOTH sides are corpus-sized (train is
    ~80% of the corpus, heldout ~20%), so nothing broadcasts. The join
    keys on the 16-byte md5 digest of each n-gram — the same
    shuffle-compression rule as exact dedup (operators/dedup.py): raw
    n-gram text never keys a shuffle, so shuffle bytes scale with gram
    COUNT, not corpus bytes. Train-side digests are `.distinct()`ed
    first (map-side partial dedup shrinks the exchange), and the
    heldout semi join emits each (split, doc) at most once before the
    split-sized final rollup.

    Empty-text / too-short docs produce no n-grams and can never leak;
    they still count in `n_docs` (the denominator is the split's full
    document set, anchored on the input ids, not the explode).
    """
    grams = (
        exploded_shingles(
            df,
            [F.col(split_col).alias("__split"), F.col(id_col).alias("__id")],
            text_col,
            n,
            out_col="__ng",
        )
        # empty-text docs tokenize to [''] (the whitespace-split
        # artifact), which at n=1 would emit a bogus '' gram shared by
        # every empty doc — an empty document can never leak anything
        .filter(F.col("__ng") != "")
        .select("__split", "__id", F.unhex(F.md5(F.col("__ng"))).alias("__d"))
    )
    train_d = (
        grams.filter(F.col("__split") == train_value).select("__d").distinct()
    )
    leaked = (
        grams.filter(F.col("__split") != train_value)
        .join(train_d, "__d", "left_semi")
        .select("__split", "__id")
        .distinct()
        .groupBy("__split")
        .agg(F.count(F.lit(1)).alias("n_leaked"))
    )
    totals = (
        df.filter(F.col(split_col) != train_value)
        .groupBy(F.col(split_col).alias("__split"))
        .agg(F.count_distinct(F.col(id_col)).alias("n_docs"))
    )
    from gcp_data_pipeline_fyp_spark.queries_util import micro6

    return totals.join(leaked, "__split", "left").select(
        F.col("__split").alias(split_col),
        "n_docs",
        F.coalesce("n_leaked", F.lit(0)).alias("n_leaked"),
        micro6(
            F.coalesce("n_leaked", F.lit(0)).cast("double") / F.col("n_docs")
        ).alias("leak_ratio_micro"),
    )


# ------------------------------------------ embedding-space (semantic)
def semantic_contamination_report(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    broadcast: bool = True,
) -> DataFrame:
    """Embedding-based contamination: corpus rows whose max cosine
    similarity against ANY benchmark embedding reaches `threshold`
    -> (corpus_id, bench_id, max_cosine_micro), one row per
    contaminated corpus doc, bench_id = the closest benchmark doc
    (ties -> smallest bench_id).

    The semantic complement of the n-gram scrub above: n-gram overlap
    misses paraphrased / translated eval leakage; embedding cosine
    catches it (the "fuzzy dedup against the test set" step of recent
    dataset audits). The reference has no analogue; this extends its
    quality-gate family (stg_full_load.py FilterTransform) to vector
    space.

    Scale shape, same argument as `decontaminate`: eval sets are tiny
    (thousands of vectors) vs the 100 TB corpus, so the benchmark side
    is BROADCAST and the corpus side is ONE scan — the pair stage is a
    broadcast nested loop whose output never materializes (map-side
    partial `max`/`max_by` collapse it to one slim row per corpus doc
    before the only shuffle, which carries |corpus| x 3 columns, no
    vectors). No corpus-side vector ever shuffles. Set
    `broadcast=False` only if the benchmark genuinely exceeds executor
    memory; the crossJoin then falls back to a shuffled nested loop.

    Zero-norm vectors have no defined cosine (NULL, try_divide parity
    with the ANN family) and are skipped on either side.
    """
    from gcp_data_pipeline_fyp_spark.operators.similarity import (
        _fast_dot,
        _unit,
    )
    from gcp_data_pipeline_fyp_spark.functions.vectors import as_double_vec
    from gcp_data_pipeline_fyp_spark.queries_util import micro6

    thr = int(round(threshold * 1_000_000))
    c = corpus.select(
        F.col(id_col).alias("corpus_id"),
        _unit(as_double_vec(vec_col)).alias("__cv"),
    )
    b = benchmark.select(
        F.col(id_col).alias("bench_id"),
        _unit(as_double_vec(vec_col)).alias("__bv"),
    )
    if broadcast:
        b = F.broadcast(b)
    pairs = c.crossJoin(b).select(
        "corpus_id",
        "bench_id",
        micro6(_fast_dot(F.col("__cv"), F.col("__bv"))).alias(
            "cosine_micro"
        ),
    )
    top = (
        pairs.filter(F.col("cosine_micro").isNotNull())
        .groupBy("corpus_id")
        .agg(
            F.max("cosine_micro").alias("max_cosine_micro"),
            # lexicographic struct MIN: smallest negated cosine
            # (= highest cosine) first, then smallest bench_id.
            # Negation goes on the cosine (always numeric) rather
            # than the id, so string/opaque id columns tie-break
            # deterministically too.
            F.min_by(
                "bench_id",
                F.struct(-F.col("cosine_micro"), F.col("bench_id")),
            ).alias("bench_id"),
        )
    )
    return top.filter(F.col("max_cosine_micro") >= F.lit(thr)).select(
        "corpus_id", "bench_id", "max_cosine_micro"
    )
