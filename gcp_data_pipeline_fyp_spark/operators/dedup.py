"""Deduplication operators for large-scale training-data pipelines.

Five families, all shuffle-conscious:

- `exact_dedup`: hash-groupBy on the content key; one shuffle, then a
  per-key `row_number` keeps the smallest tie-break id. The shuffle is
  keyed on a 128-bit md5 DIGEST of the key columns, never the raw
  values — at 100 TB partitioning/sorting on full document bodies
  would make shuffle-compare cost ~ corpus size; the digest (unhex'd
  to 16 raw bytes) keeps the key fixed-width regardless of document
  length (md5 collisions are ~2^-64 at any realistic corpus size).
  AQE handles skewed keys.
- `minhash_lsh_candidates`: shingle -> MinHash -> band -> bucket join.
  Explodes each doc into `bands` bucket rows (linear blow-up), groups
  by (band, band-signature), and emits intra-bucket pairs — never an
  O(n²) cross join; the only quadratic term is within a bucket, which
  LSH keeps small by construction.
- `simhash_groups`: 16-bit SimHash per doc; identical hashes are
  near-dup candidates (single shuffle on the hash).
- `ngram_jaccard_pairs`: exact Jaccard verification over candidate
  pairs *within explicit blocks* — the verification step you run after
  LSH, not a standalone O(n²) scan.
- `embedding_neardup_pairs`: cosine-threshold pairs within blocks
  (a blocking column, e.g. an LSH sign-bucket from
  operators/similarity.py).

All hashing is md5-hex based for cross-engine reproducibility
(functions/text.py); swap to xxhash64 inside a closed Spark deployment
for ~3-5x cheaper signatures.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gcp_data_pipeline_fyp_spark.functions.text import (
    lsh_bands,
    minhash_signature,
    shingles,
    simhash16,
    tokens,
)
from gcp_data_pipeline_fyp_spark.functions.vectors import as_double_vec, cosine
from gcp_data_pipeline_fyp_spark.operators.sampling import _key_token
from gcp_data_pipeline_fyp_spark.queries_util import micro6, roundn


def _content_digest(key_cols: Sequence[str]):
    """128-bit md5 digest of the key columns (length-prefixed, NULL-tagged).

    The digest — not the raw values — is the shuffle key for exact
    dedup, so shuffle sort/compare cost is independent of document
    length. `unhex` packs the 32-char md5 hex string into 16 raw bytes,
    halving shuffle-key bytes again. Uses the same unambiguous encoding
    as hash sampling (operators/sampling.py) so multi-column keys can't
    collide by concatenation.
    """
    return F.unhex(F.md5(F.concat(*[_key_token(F.col(c)) for c in key_cols])))


def exact_dedup(
    df: DataFrame, key_cols: Sequence[str], tiebreak_col: str
) -> DataFrame:
    """Keep exactly one row per key (the one with the smallest tie-break).

    Shuffles on the md5 digest of the key, not the raw key values —
    see `_content_digest`.
    """
    w = Window.partitionBy(_content_digest(key_cols)).orderBy(
        F.col(tiebreak_col).asc()
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def exact_dup_stats(df: DataFrame, key_cols: Sequence[str], id_col: str) -> DataFrame:
    """Per duplicate-group stats: key values + keeper id + group size.

    Groups on the md5 digest of the key; the key values ride along as
    `min(...)` payload aggregates (identical within a group), so the
    shuffle key stays 32 bytes while the output contract — key columns
    present — is unchanged.
    """
    return (
        df.groupBy(_content_digest(key_cols).alias("__key_digest"))
        .agg(
            *[F.min(c).alias(c) for c in key_cols],
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_dupes"),
        )
        .drop("__key_digest")
    )


def incremental_exact_dedup(
    batch: DataFrame,
    base: DataFrame,
    key_cols: Sequence[str],
    id_col: str | None = None,
) -> DataFrame:
    """New-batch rows whose content is absent from a historical corpus.

    The daily-ingest shape of exact dedup: the historical side reduces
    to DISTINCT 16-byte binary digests before a left-anti join, so at
    100 TB the base corpus never ships document bodies through the
    shuffle — only its digest set. In a LEFT ANTI join only the right
    side (the base digest set) can broadcast: that happens when the
    distinct-digest set is small; otherwise both digest streams
    shuffle-join, still at 16 bytes per key. With `id_col` set, the
    batch is also deduplicated against itself (keep the smallest id per
    key), making the output safe to append to the base.

    The join matches on a computed expression, not a temp column, so a
    pre-existing ``__digest`` column on the batch is never clobbered.
    """
    base_digests = base.select(
        _content_digest(key_cols).alias("__digest")
    ).distinct()
    out = batch.join(
        base_digests,
        _content_digest(key_cols) == base_digests["__digest"],
        "left_anti",
    )
    if id_col is not None:
        out = exact_dedup(out, key_cols, id_col)
    return out


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) sharing any LSH band.

    The returned (small) pair set is materialized eagerly so the large
    intermediate signature cache can be released before returning; the
    result itself stays persisted — callers running many invocations in
    one session should `.unpersist()` it when done.
    """
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands ({bands}); "
            "trailing hash functions would be silently ignored"
        )
    rows_per_band = num_hashes // bands
    # signatures are CPU-bound per row; a compressed text parquet often
    # yields far fewer input splits than cores (15 MB of parquet can be
    # one split holding 50k docs) — spread the compute first, but only
    # when the input is actually under-split: repartitioning an
    # already-spread frame would be a pure extra shuffle
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < parallelism:
        df = df.repartition(parallelism)
    # persist the signatures BEFORE banding: the band explode and the
    # self-join would otherwise each re-inline (and recompute) the full
    # signature expression — signatures are the expensive part of LSH.
    # The token array projects through its own boundary first: the
    # shingle lambda slices it per position and would re-tokenize per
    # slice if inlined (the measured O(tokens^2) trap, see
    # functions/text.py:shingles)
    sig_df = (
        df.select(F.col(id_col), tokens(text_col).alias("__toks"))
        .select(
            F.col(id_col),
            minhash_signature(
                shingles(F.col("__toks"), shingle_n), num_hashes
            ).alias("__sig"),
        )
        .persist()
    )
    banded = sig_df.select(
        F.col(id_col),
        F.explode(lsh_bands(F.col("__sig"), bands, rows_per_band)).alias("b"),
    ).select(
        id_col, F.col("b.band").alias("band"), F.col("b.sig").alias("sig")
    ).filter(F.col("sig") != "")  # docs shorter than the shingle width
    a = banded.alias("a")
    b = banded.alias("b")
    out = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )
    # materialize the (small) pair set, then drop the signature cache —
    # persists would otherwise accumulate across calls in a session
    out = out.persist()
    out.count()
    sig_df.unpersist()
    return out


def simhash_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(simhash, ids...) groups with >1 member — near-dup candidates."""
    hashed = df.select(F.col(id_col), simhash16(tokens(text_col)).alias("simhash"))
    return (
        hashed.groupBy("simhash")
        .agg(
            F.count("*").alias("n_docs"),
            F.sort_array(F.collect_list(id_col)).alias("doc_ids"),
        )
        .filter(F.col("n_docs") > 1)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: Sequence[str],
    n: int = 3,
    threshold: float = 0.0,
) -> DataFrame:
    """Exact n-gram Jaccard for every intra-block pair (id_a < id_b)."""
    g = df.select(
        *block_cols, F.col(id_col), tokens(text_col).alias("__toks")
    ).select(
        *block_cols,
        F.col(id_col),
        shingles(F.col("__toks"), n).alias("__grams"),
    )
    a, b = g.alias("a"), g.alias("b")
    cond = (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    inter = F.size(F.array_intersect(F.col("a.__grams"), F.col("b.__grams")))
    union = F.size(F.array_union(F.col("a.__grams"), F.col("b.__grams")))
    jac = roundn(F.try_divide(inter.cast("double"), union.cast("double")), 6)
    return (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    block_cols: Sequence[str],
    threshold: float = 0.95,
) -> DataFrame:
    """Cosine >= threshold pairs within blocks (id_a < id_b)."""
    g = df.select(*block_cols, F.col(id_col), as_double_vec(vec_col).alias("__v"))
    a, b = g.alias("a"), g.alias("b")
    cond = (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    cos = cosine(F.col("a.__v"), F.col("b.__v"))
    return (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            micro6(cos).alias("cosine_micro"),
        )
        .filter(F.col("cosine_micro") >= int(round(threshold * 1_000_000)))
    )


def embedding_neardup_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    dim: int = 64,
    n_planes: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Scale path for embedding near-dup: LSH sign-buckets as the block.

    No natural blocking column needed — vectors are bucketed by
    sign-random-projection (deterministic hyperplanes), then exact
    cosine verification runs only within buckets. Near-identical
    vectors land in the same bucket with high probability; increase
    recall with more verification passes at different seeds (each pass
    is linear + intra-bucket quadratic, never global O(n^2)).
    """
    from gcp_data_pipeline_fyp_spark.functions.vectors import lsh_sign_bucket
    from gcp_data_pipeline_fyp_spark.operators.similarity import make_hyperplanes

    planes = make_hyperplanes(dim, n_planes, seed)
    bucketed = df.select(
        F.col(id_col), as_double_vec(vec_col).alias("__v")
    ).withColumn("__bucket", lsh_sign_bucket(F.col("__v"), planes))
    a, b = bucketed.alias("a"), bucketed.alias("b")
    cos = cosine(F.col("a.__v"), F.col("b.__v"))
    return (
        a.join(
            b,
            (F.col("a.__bucket") == F.col("b.__bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            micro6(cos).alias("cosine_micro"),
        )
        .filter(F.col("cosine_micro") >= int(round(threshold * 1_000_000)))
    )


def dedupe_corpus(
    df: DataFrame,
    id_col: str,
    text_col: str,
    jaccard_threshold: float = 0.8,
    num_hashes: int = 8,
    bands: int = 4,
) -> DataFrame:
    """Composed dedup pipeline: exact -> LSH candidates -> Jaccard verify.

    Returns the KEPT rows. Greedy keep-smallest semantics: a doc is
    dropped if (a) an identical text with a smaller id exists, or (b)
    it is the larger id of a verified near-dup pair. (Greedy pairwise,
    not transitive closure — deterministic and one pass; run again to
    collapse chains if needed.)
    """
    exact_kept = exact_dedup(df, [text_col], id_col).persist()
    candidates = minhash_lsh_candidates(
        exact_kept, id_col, text_col, num_hashes=num_hashes, bands=bands
    )
    # verify candidates with exact n-gram Jaccard (join texts back in)
    t = exact_kept.select(F.col(id_col), F.col(text_col))
    a = candidates.join(
        t.withColumnRenamed(id_col, "id_a").withColumnRenamed(text_col, "__ta"),
        "id_a",
    ).join(
        t.withColumnRenamed(id_col, "id_b").withColumnRenamed(text_col, "__tb"),
        "id_b",
    )
    a = a.withColumn(
        "__tta", tokens(F.col("__ta"))
    ).withColumn("__ttb", tokens(F.col("__tb")))
    ga = F.array_distinct(shingles(F.col("__tta"), 3))
    gb = F.array_distinct(shingles(F.col("__ttb"), 3))
    jac = F.try_divide(
        F.size(F.array_intersect(ga, gb)).cast("double"),
        F.size(F.array_union(ga, gb)).cast("double"),
    )
    dropped = (
        a.filter(roundn(jac, 6) >= jaccard_threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    out = exact_kept.join(dropped, id_col, "left_anti")
    # materialize the result, then release the intermediates — same
    # discipline as minhash_lsh_candidates; without this, repeated
    # invocations in one session accumulate cached full-corpus copies.
    # `out` itself stays persisted for the caller (unpersist when done).
    out = out.persist()
    out.count()
    exact_kept.unpersist()
    candidates.unpersist()
    return out


def paragraph_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    sep: str = "\n\n",
    min_chars: int = 1,
) -> DataFrame:
    """Span-level (paragraph) dedup: drop every repeated paragraph
    corpus-WIDE, keeping only its first occurrence (smallest
    `(id, position)`), then reassemble each document from its surviving
    paragraphs in original order.

    This is the C4-style boilerplate scrub (public method: Raffel et
    al. 2020 deduplicated repeated three-sentence spans corpus-wide):
    doc-level dedup cannot remove the navigation footer that appears
    once inside a million otherwise-unique pages; span-level dedup
    removes all but one copy while leaving the unique prose intact.

    Scale shape: the global first-occurrence decision shuffles on the
    32-byte md5 DIGEST of the paragraph (never the paragraph text as a
    sort key — same rule as `exact_dedup`); paragraph text rides once
    as payload, which is unavoidable since surviving spans must be
    reassembled. Reassembly is one further shuffle keyed on the doc id.
    Paragraphs shorter than `min_chars` are dropped outright (empty
    strings from doubled separators). Documents whose every paragraph
    is dropped disappear from the output — consistent with doc-level
    dedup semantics.
    """
    parts = _explode_spans(df, id_col, text_col, sep, min_chars)
    w = Window.partitionBy(F.md5(F.col("__para"))).orderBy(
        F.col(id_col).asc(), F.col("__pos").asc()
    )
    kept = (
        parts.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    return _reassemble_spans(kept, id_col, text_col, sep)


def _explode_spans(
    df: DataFrame, id_col: str, text_col: str, sep: str, min_chars: int
) -> DataFrame:
    return df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep)).alias("__pos", "__para"),
    ).filter(F.length("__para") >= min_chars)


def _reassemble_spans(
    kept: DataFrame, id_col: str, text_col: str, sep: str
) -> DataFrame:
    return (
        kept.groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("__pos"), F.col("__para")))
            ).alias("__ps")
        )
        .select(
            F.col(id_col),
            F.concat_ws(
                sep, F.transform(F.col("__ps"), lambda s: s["__para"])
            ).alias(text_col),
            F.size("__ps").alias("n_paras"),
        )
    )


def boilerplate_line_filter(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_doc_frac: float = 0.01,
    min_docs: int = 2,
    sep: str = "\n\n",
    min_chars: int = 1,
) -> DataFrame:
    """Drop EVERY copy of any span that occurs in more than
    `max(min_docs, ceil(max_doc_frac * n_docs))` distinct documents —
    the CCNet-style line-frequency boilerplate scrub (Wenzek et al.
    2020 removed lines duplicated across a shard). Complements
    `paragraph_dedup`: that keeps a span's first occurrence; a span
    frequent enough to be boilerplate (cookie banners, nav footers)
    should keep zero.

    Scale shape: the doc-frequency count shuffles (digest, id) only —
    no span text. The boilerplate digest set is provably small (spans
    with df > t number at most total_spans/t), so the removal join
    broadcasts it; span text never shuffles for the decision, only for
    the final per-doc reassembly.
    """
    import math

    n_docs = df.count()  # scalar snapshot, A4 pattern
    threshold = max(min_docs, math.ceil(max_doc_frac * n_docs))
    parts = _explode_spans(df, id_col, text_col, sep, min_chars)
    boiler = (
        parts.groupBy(F.md5("__para").alias("__digest"))
        .agg(F.countDistinct(id_col).alias("__df"))
        .filter(F.col("__df") > threshold)
        .select("__digest")
    )
    kept = parts.join(
        F.broadcast(boiler),
        F.md5(parts["__para"]) == boiler["__digest"],
        "left_anti",
    )
    return _reassemble_spans(kept, id_col, text_col, sep)


def substring_dup_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_tokens: int = 8,
) -> DataFrame:
    """Per-document duplicated-window statistics — the measurement half
    of exact-substring dedup (public method: Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better",
    deduplicates repeated >=50-token substrings corpus-wide; the
    reference pipeline has no analog, this is LLM-data surface).

    Every document is decomposed into its overlapping `n_tokens`-token
    windows (whitespace tokens); a window occurrence is DUPLICATED when
    an identical window occurs earlier in the corpus order
    (smaller (doc id, position)). Output per doc with >= 1 window:

        (id_col, n_windows, n_dup_windows, dup_ratio_micro)

    `dup_ratio_micro` is the fraction of the doc covered by text
    repeated elsewhere, in integer micro-units (1e6 = all windows
    duplicated) — the score `exact_substring_filter` thresholds on.

    Scale shape: windows shuffle as 16-byte md5 digests (window TEXT is
    hashed in the map stage and never shuffles — at 100 TB the window
    blow-up is ~n_tokens x corpus tokens, so shipping text would be
    n_tokens x corpus bytes); the first-occurrence decision is one
    digest-keyed window function, the per-doc rollup one id-keyed
    aggregation. Same digest-shuffle discipline as `exact_dedup`.
    """
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    t = df.select(F.col(id_col), toks.alias("__toks")).withColumn(
        "__n", F.size("__toks")
    )
    # length-prefixed token encoding before hashing: a bare separator
    # would let tokens containing the separator char collide across
    # window boundaries (same rationale as _key_token above); the
    # length prefix makes the concatenation uniquely decodable
    wins = t.filter(F.col("__n") >= n_tokens).select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.col("__n") - n_tokens + 1),
                lambda i: F.unhex(
                    F.md5(
                        F.concat_ws(
                            "",
                            F.transform(
                                F.slice(F.col("__toks"), i, n_tokens),
                                lambda tok: F.concat_ws(
                                    ":", F.length(tok), tok
                                ),
                            ),
                        )
                    )
                ),
            )
        ).alias("__pos", "__whash"),
    )
    w = Window.partitionBy("__whash").orderBy(
        F.col(id_col).asc(), F.col("__pos").asc()
    )
    flagged = wins.withColumn("__dup", F.row_number().over(w) > 1)
    return flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.sum(F.col("__dup").cast("long")).alias("n_dup_windows"),
        micro6(
            F.sum(F.col("__dup").cast("long")) / F.count(F.lit(1))
        ).alias("dup_ratio_micro"),
    )


def exact_substring_filter(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_tokens: int = 8,
    max_dup_ratio: float = 0.5,
) -> DataFrame:
    """Drop documents whose duplicated-window fraction exceeds
    `max_dup_ratio` (RefinedWeb-style doc-level consequence of the Lee
    et al. substring measurement). Docs with no windows at all — shorter
    than one window, or NULL text — carry ratio 0 and are kept: they are
    identified as the anti-join against the stats (a size(split(...))
    re-derivation would lose NULL-text docs, whose size is NULL under
    ANSI semantics and falls out of both filter branches)."""
    # localCheckpoint (eager): stats feeds BOTH the ratio filter and the
    # no-windows anti-join — unmaterialized, the window-explode pipeline
    # (the heavy part) would run twice. Unlike persist(), the blocks are
    # released by the ContextCleaner once the frame is unreachable, so a
    # long-running pipeline doesn't pin executor storage after this
    # returns.
    stats = substring_dup_stats(df, id_col, text_col, n_tokens).localCheckpoint()
    keep = stats.filter(
        F.col("dup_ratio_micro") <= int(round(max_dup_ratio * 1_000_000))
    ).select(id_col)
    no_windows = df.select(id_col).join(
        stats.select(id_col), id_col, "left_anti"
    )
    return df.join(keep.union(no_windows).distinct(), id_col, "left_semi")


def _lsh_band_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    bands: int,
    shingle_n: int,
) -> DataFrame:
    """(id, band, sig) rows — the joinable form of a doc's LSH bands
    (empty-signature rows for sub-shingle-width docs dropped).

    The token array and the signature are each materialized through a
    projection boundary before the next stage references them
    positionally: `lsh_bands` slices the signature PER BAND and
    `shingles` slices the tokens PER POSITION, and a lambda that
    references an inline expression re-evaluates it per call (no CSE
    across higher-order functions) — inlined, this chain recomputed
    the full MinHash per band and the tokenizer per shingle position
    (O(bands x tokens^2) per doc; measured 4x at sf0.1, same class as
    the DSIR feature-explode fix)."""
    rows_per_band = num_hashes // bands
    return (
        df.select(F.col(id_col), tokens(text_col).alias("__toks"))
        .select(
            F.col(id_col),
            minhash_signature(
                shingles(F.col("__toks"), shingle_n), num_hashes
            ).alias("__sig"),
        )
        .select(
            F.col(id_col),
            F.explode(
                lsh_bands(F.col("__sig"), bands, rows_per_band)
            ).alias("b"),
        )
        .select(
            id_col, F.col("b.band").alias("band"), F.col("b.sig").alias("sig")
        )
        .filter(F.col("sig") != "")
    )


def build_lsh_index(
    wh,
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    name: str,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
) -> None:
    """Materialize the corpus's LSH band rows as a warehouse table —
    the build-once half of INCREMENTAL near-dup detection.

    At 100 TB, signatures are the expensive half of MinHash LSH (CPU
    over every corpus byte); persisting the band rows means a daily
    batch only signs ITSELF and joins the (band, sig)-keyed table —
    the corpus is never re-tokenized. Partitioned by band so the
    candidate join prunes to matching band directories.
    """
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands ({bands})"
        )
    wh.overwrite(
        _lsh_band_rows(corpus, id_col, text_col, num_hashes, bands, shingle_n),
        f"{name}__bands",
        partition_cols=["band"],
    )


def incremental_neardup_indexed(
    wh,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    name: str,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    update_index: bool = True,
) -> DataFrame:
    """Candidate near-dup pairs INVOLVING the batch: batch-vs-corpus
    (via the persisted band index) plus batch-vs-batch, as
    (id_a < id_b) pairs. With `update_index`, the batch's band rows
    fold into the index so tomorrow's batch sees today's docs.

    The pair set is materialized before the index append: the append
    would otherwise change the files behind the lazily-read index scan
    and pair batch docs with themselves.
    """
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands ({bands})"
        )
    nb = _lsh_band_rows(
        batch, id_col, text_col, num_hashes, bands, shingle_n
    ).persist()
    try:
        old = wh.read(f"{name}__bands")
    except Exception:
        # cold start: a band index built from an EMPTY corpus writes
        # zero part files (partitioned empty write), which parquet
        # cannot infer a schema from — treat as an empty index
        old = nb.limit(0)
    vs_old = (
        nb.alias("n")
        .join(
            old.alias("o"),
            (F.col("n.band") == F.col("o.band"))
            & (F.col("n.sig") == F.col("o.sig")),
        )
        .select(
            F.least(F.col(f"n.{id_col}"), F.col(f"o.{id_col}")).alias("id_a"),
            F.greatest(F.col(f"n.{id_col}"), F.col(f"o.{id_col}")).alias("id_b"),
        )
        .filter(F.col("id_a") != F.col("id_b"))
    )
    a, b = nb.alias("a"), nb.alias("b")
    vs_new = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.sig") == F.col("b.sig"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(
        F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
    )
    pairs = vs_old.unionByName(vs_new).distinct().localCheckpoint()
    if update_index:
        wh.append(nb, f"{name}__bands", partition_cols=["band"])
    nb.unpersist()
    return pairs


def minhash_recall_eval(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    sample_mod: int = 5,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Measured recall/precision of the MinHash-LSH config against
    exact n-gram Jaccard ground truth on an id-keyed SAMPLE — the
    dedup counterpart of the ANN quality eval: before trusting a
    band/hash configuration over a corpus, measure what fraction of
    true near-dup pairs (Jaccard >= threshold) its buckets actually
    surface, and how many candidates it spends doing so.

    The ground truth is exhaustive pairs WITHIN THE SAMPLE ONLY
    (1/sample_mod of docs, selected by `stable_event_id(id) %
    sample_mod` — the md5-hash-mod engine standard, deterministic and
    engine-replicable AND uniform on any id distribution; a raw
    `id % sample_mod` would bias the sample on structured id spaces,
    e.g. all-even ids or ids striped by source): the all-pairs cost
    is (n/sample_mod)^2 — `sample_mod` is the evaluation budget knob,
    and at 100 TB you size it so the sample is a few thousand docs
    (the standard eval discipline; the production dedup itself stays
    banded, never all-pairs).

    One row: (n_docs, n_true_pairs, n_candidates, n_hits,
    recall_micro, precision_micro). recall = hits/true_pairs;
    precision = hits/candidates (candidates below threshold are the
    verify stage's wasted work, not errors). NULL recall when the
    sample has no true pairs — widen the sample instead of trusting
    a 0/0.
    """
    from gcp_data_pipeline_fyp_spark.functions.ids import stable_event_id
    from gcp_data_pipeline_fyp_spark.queries_util import micro6

    sample = df.filter(stable_event_id(id_col) % sample_mod == 0)
    truth = ngram_jaccard_pairs(
        sample, id_col, text_col, [], n=shingle_n, threshold=threshold
    ).select("id_a", "id_b")
    cand = minhash_lsh_candidates(
        sample, id_col, text_col, num_hashes, bands, shingle_n
    ).select("id_a", "id_b")
    hits = truth.join(cand, ["id_a", "id_b"], "left_semi")
    agg = (
        sample.agg(F.count(F.lit(1)).alias("n_docs"))
        .crossJoin(truth.agg(F.count(F.lit(1)).alias("n_true_pairs")))
        .crossJoin(cand.agg(F.count(F.lit(1)).alias("n_candidates")))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("n_hits")))
    )
    return agg.select(
        "n_docs",
        "n_true_pairs",
        "n_candidates",
        "n_hits",
        micro6(
            F.try_divide(
                F.col("n_hits").cast("double"),
                F.col("n_true_pairs").cast("double"),
            )
        ).alias("recall_micro"),
        micro6(
            F.try_divide(
                F.col("n_hits").cast("double"),
                F.col("n_candidates").cast("double"),
            )
        ).alias("precision_micro"),
    )


# ------------------------------------------------ winnowing (MOSS)
def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_tokens: int = 8,
    window: int = 4,
) -> DataFrame:
    """Winnowed substring fingerprints -> (id_col, fp) rows.

    The MOSS local fingerprinting method (Schleimer/Wilkerson/Aiken
    2003, public): hash every overlapping `n_tokens`-token window,
    then keep only the MINIMUM hash of each run of `window` consecutive
    window-hashes (value-distinct per doc). Guarantee: any shared
    token run of length >= n_tokens + window - 1 shares at least one
    fingerprint; density is ~2/(window+1) of the full window set.

    The scale story vs `substring_dup_stats`: that operator ships
    EVERY window digest through the shuffle (~n_tokens x corpus tokens
    rows); winnowing cuts the shuffled fingerprint rows ~2/(window+1)x
    (w=4 -> ~2.5x fewer, w=9 -> 5x) while preserving detection of any
    >= (n_tokens+window-1)-token overlap — the standard
    accuracy-for-volume dial of substring-level dedup at corpus scale.
    All selection is per-doc column expressions (one md5 per window,
    pure int64 min-folds); only the selected fingerprints shuffle.

    Docs shorter than n_tokens + window - 1 tokens emit no rows.
    """
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    t = df.select(F.col(id_col), toks.alias("__toks")).withColumn(
        "__n", F.size("__toks")
    )
    # length-prefixed token encoding before hashing — same uniquely-
    # decodable concatenation as substring_dup_stats above
    win_hash = lambda i: F.conv(  # noqa: E731
        F.substring(
            F.md5(
                F.concat_ws(
                    "",
                    F.transform(
                        F.slice(F.col("__toks"), i, n_tokens),
                        lambda tok: F.concat_ws(":", F.length(tok), tok),
                    ),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    hashed = t.filter(F.col("__n") >= n_tokens + window - 1).select(
        F.col(id_col),
        F.transform(
            F.sequence(F.lit(1), F.col("__n") - n_tokens + 1), win_hash
        ).alias("__h"),
    )
    sel = hashed.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(
                        F.lit(1), F.size("__h") - F.lit(window - 1)
                    ),
                    lambda p: F.array_min(F.slice(F.col("__h"), p, window)),
                )
            )
        ).alias("fp"),
    )
    return sel


def winnow_dup_report(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_tokens: int = 8,
    window: int = 4,
) -> DataFrame:
    """Per-doc shared-fingerprint statistics over the winnowed set ->
    (id_col, n_fps, n_shared, shared_ratio_micro), docs with >= 1
    fingerprint only. `n_shared` counts this doc's fingerprints that
    also occur in ANY other doc — the winnowed analogue of
    `substring_dup_stats`'s dup_ratio, at ~2/(window+1) the shuffle
    volume. The fp-frequency frame is fingerprint-sized; the join back
    keys on fp (both sides already fingerprint-shaped)."""
    from gcp_data_pipeline_fyp_spark.queries_util import micro6

    fps = winnow_fingerprints(df, id_col, text_col, n_tokens, window)
    freq = fps.groupBy("fp").agg(
        F.count_distinct(id_col).alias("__nd")
    )
    joined = fps.join(freq, "fp")
    return joined.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_fps"),
        F.sum((F.col("__nd") > 1).cast("long")).alias("n_shared"),
        micro6(
            F.sum((F.col("__nd") > 1).cast("long")) / F.count(F.lit(1))
        ).alias("shared_ratio_micro"),
    )


def elect_canonical(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    quality_col: str,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Keep ONE representative per near-dup cluster — the election
    step between detection and deletion. Naive dedup keeps an
    arbitrary member (min id); when members differ (truncated
    mirrors, boilerplate-wrapped copies, re-crawls), the corpus
    should keep the BEST one. Winner per cluster = highest
    `quality_col`, ties broken on lowest id — deterministic, so
    re-running the election on the same graph keeps the same docs
    (stable against reprocessing, like leakage_safe_split's
    contract; new edges can merge clusters, which re-elects over the
    merged membership as a unit).

    `pairs` is any candidate-pair frame (MinHash LSH, embedding
    near-dup, simhash groups); docs in no pair are their own cluster
    and survive unconditionally. Returns the winners' full rows +
    `cluster_id` + `n_members`.

    Scale: the closure runs on the LSH-bounded candidate graph
    (operators/components.py:dup_clusters); the election is one
    groupBy(cluster_id) with a min_by struct argmax — no window over
    the corpus, no sort. The winners join back by id (semi-ish inner
    join on the cluster winners frame, |clusters| rows).
    """
    from gcp_data_pipeline_fyp_spark.operators.components import dup_clusters

    clustered = dup_clusters(df, pairs, id_col, checkpoint_dir=checkpoint_dir)
    # NULL quality must LOSE, not win: struct ordering is nulls-first,
    # so a bare -quality of NULL would sort below every real score and
    # take the argmax; +inf makes unscored members sort last (they
    # still survive as singletons or when the whole cluster is
    # unscored — then ties fall to the lowest id)
    q = F.coalesce(
        -F.col(quality_col).cast("double"), F.lit(float("inf"))
    )
    # winners derives from `clustered` — rename its columns so the
    # join back is not a self-join with ambiguous attributes
    winners = (
        clustered.groupBy("cluster_id")
        .agg(
            F.min_by(
                F.col(id_col), F.struct(q.alias("nq"), F.col(id_col).alias("i"))
            ).alias("__winner"),
            F.count(F.lit(1)).alias("n_members"),
        )
        .select(
            F.col("cluster_id").alias("__wc"),
            "__winner",
            "n_members",
        )
    )
    return clustered.join(
        winners,
        (clustered["cluster_id"] == F.col("__wc"))
        & (clustered[id_col] == F.col("__winner")),
    ).select(
        *[clustered[c] for c in df.columns],
        clustered["cluster_id"],
        F.col("n_members"),
    )


# ------------------------------------------------ semantic dedup (SemDeDup)
def semdedup(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int | str = "auto",
    threshold_micro: int = 700_000,
    refine_iters: int = 1,
    train_sample_frac: float | None = None,
    n_assign: int = 1,
    target_cluster_size: int = 1024,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    near-duplicate pruning — cluster the embedding space, then inside
    each cluster drop every item whose cosine to an EARLIER-ranked
    member reaches `threshold_micro`. Exact dedup catches bytes,
    MinHash catches token overlap; this catches paraphrases and
    re-encodings that share no surface form at all.

    Determinism contract (the oracle-replayable rendering of the
    paper's "keep one per duplicate group"): members rank within
    their cluster by cosine-to-centroid ASC (ties id ASC) — the
    LOWEST-centroid-similarity member of a duplicate neighborhood is
    kept, the paper's keep choice — and an item is dropped iff ANY
    earlier-ranked cluster member (kept or dropped) is a near-dup.
    This prefix-greedy rule over-drops chains a~b~c where a!~c
    relative to a connected-components grouping (conservative: MORE
    pruning, never a kept duplicate pair at the threshold), and in
    exchange is a single window + one cluster-bounded self-join — no
    iterative fixpoint, bit-replayable in SQL (`semdedup_docs` probe).

    Clustering is the engine's deterministic IVF fit (smallest-id
    seeds + decimal-exact Lloyd means — similarity.py:
    fit_ivf_centroids), so the whole operator is partitioning-
    invariant. Scale: the pairwise stage is per-cluster O(c^2/2), so
    the cluster count is THE scale valve — which is why the sizing
    rule is the DEFAULT, not a docstring suggestion:
    `n_centroids="auto"` sizes max(2, ceil(n / target_cluster_size))
    (SemDeDup used 50k clusters for LAION-440M, ~9k docs/cluster —
    the same constant-cluster-size discipline; the measured 16x scale
    row in BASELINE.md stays ~flat-per-row only under it, and a FIXED
    count is the round-8 bitext anti-lesson `auto_n_centroids`
    records). Auto costs one corpus count; a pinned integer is only
    taken when passed EXPLICITLY (certified probes pin 16 to match
    their oracles' fixed fit). Pair with `train_sample_frac` for the
    fit — the window and self-join then both key on centroid_id,
    parallel across clusters, nothing corpus-wide shuffles more than
    once.

    `n_assign` > 1 posts every vector to its top-n_assign centroids
    for the pairwise stage only (primary assignment keeps the rank
    and the output's centroid_id) — the nprobe idea applied to dedup.
    It shrinks the cluster-straddle blind spot the
    `semdedup_recall_eval` probe measures, at ~n_assign^2 the
    pairwise comparisons; keep decisions are monotone in n_assign
    (more shared clusters can only ADD drop edges, never remove one).

    Returns one row per input: (id_col, centroid_id, sem_rank,
    cent_cos_micro, keep).
    """
    from gcp_data_pipeline_fyp_spark.operators.similarity import (
        _cent_array,
        _topn_cent_struct,
        dot,
        fit_ivf_centroids,
    )

    if not (0 <= threshold_micro <= 1_000_000):
        raise ValueError("threshold_micro must be in [0, 1_000_000]")
    if n_assign < 1:
        raise ValueError("n_assign must be >= 1")
    c = emb.select(
        F.col(id_col).alias("corpus_id"), as_double_vec(vec_col).alias("__cv")
    )
    if n_centroids == "auto":
        import math

        if int(target_cluster_size) < 1:
            raise ValueError("target_cluster_size must be >= 1")
        n_centroids = max(2, math.ceil(c.count() / int(target_cluster_size)))
    elif not isinstance(n_centroids, int):
        raise ValueError(
            f"n_centroids must be an int or 'auto'; got {n_centroids!r}"
        )
    cent = fit_ivf_centroids(c, n_centroids, refine_iters, train_sample_frac)
    # multi-assignment (the IVF nprobe idea applied to dedup): every
    # vector posts to its top-n_assign centroids for the PAIRWISE
    # stage, shrinking the cluster-straddle blind spot measured by
    # semdedup_recall_eval; rank/output stay on the PRIMARY (top-1)
    # assignment so n_assign only ever ADDS comparisons
    # top-n_assign centroids per vector as a shuffle-free array fold
    # (operators/similarity.py:_topn_cent_struct — same (score desc,
    # centroid_id asc) order the old row_number window pinned), plus a
    # lazy localCheckpoint: `multi` feeds the primary assignment AND
    # both sides of the shared-cluster self-join below — without the
    # barrier the subtree re-plans under all 5 consumers (measured:
    # 190 Exchanges in the semdedup_docs physical plan before the
    # r12 optimization pass, 18 after; values unchanged)
    multi = (
        c.crossJoin(F.broadcast(_cent_array(cent)))
        .select(
            "corpus_id",
            "__cv",
            F.posexplode(
                _topn_cent_struct(F.col("__cv"), F.col("__cents"), n_assign)
            ).alias("__pos", "__p"),
        )
        .select(
            "corpus_id",
            "__cv",
            F.col("__p.centroid_id").alias("centroid_id"),
            (F.col("__pos") + 1).alias("__arn"),
        )
    ).localCheckpoint(eager=False)
    assigned = multi.filter(F.col("__arn") == 1).select(
        "corpus_id", "__cv", "centroid_id"
    )
    scored = assigned.join(F.broadcast(cent), "centroid_id").select(
        "corpus_id",
        "centroid_id",
        "__cv",
        micro6(cosine(F.col("__cv"), F.col("__centroid"))).alias(
            "cent_cos_micro"
        ),
    )
    # asc_NULLS_LAST, explicitly: a zero-norm vector's centroid cosine
    # is NULL (try_divide), Spark's bare asc sorts NULL first while
    # SQL ORDER BY defaults NULLS LAST — the same engine-divergence
    # class the distribution-match argmin pins (it would silently
    # shift every rank in the affected cluster). Zero vectors also
    # have NULL pairwise cosines, so they are never dropped and never
    # drop others — they rank last and pass through.
    w = Window.partitionBy("centroid_id").orderBy(
        F.col("cent_cos_micro").asc_nulls_last(), F.col("corpus_id").asc()
    )
    # same rationale: `ranked` feeds both pair sides (a, b) and the
    # final verdict join — one computation behind a lazy barrier
    ranked = scored.withColumn(
        "sem_rank", F.row_number().over(w)
    ).localCheckpoint(eager=False)
    # the prefix order for the drop rule is (cent_cos_micro NULLS
    # LAST, id) — globally deterministic, and WITHIN one cluster it is
    # exactly the sem_rank order, so at n_assign=1 the rule below is
    # byte-identical to "earlier sem_rank in the shared cluster"
    a = ranked.select(
        F.col("corpus_id"), F.col("__cv"), F.col("cent_cos_micro")
    )
    b = ranked.select(
        F.col("corpus_id").alias("__b_id"),
        F.col("__cv").alias("__b_cv"),
        F.col("cent_cos_micro").alias("__b_cc"),
    )
    shared = (
        multi.select("corpus_id", "centroid_id")
        .join(
            multi.select(
                F.col("corpus_id").alias("__b_id"),
                F.col("centroid_id").alias("__b_cent"),
            ),
            (F.col("centroid_id") == F.col("__b_cent"))
            & (F.col("corpus_id") != F.col("__b_id")),
        )
        .select("corpus_id", "__b_id")
        .distinct()
    )
    earlier = (
        F.col("__b_cc") < F.col("cent_cos_micro")
    ) | (
        (F.col("__b_cc") == F.col("cent_cos_micro"))
        & (F.col("__b_id") < F.col("corpus_id"))
    ) | (
        # NULLS LAST: a non-NULL b precedes a NULL-cent_cos a; the
        # both-NULL corner is unreachable past the cosine filter
        # (NULL-cent vectors have NULL pairwise cosines)
        F.col("__b_cc").isNotNull() & F.col("cent_cos_micro").isNull()
    )
    dropped = (
        shared.join(a, "corpus_id")
        .join(b, "__b_id")
        .filter(earlier)
        .filter(
            micro6(cosine(F.col("__cv"), F.col("__b_cv")))
            >= F.lit(int(threshold_micro))
        )
        .select(F.col("corpus_id").alias("__drop_id"))
        .distinct()
    )
    out = ranked.join(
        dropped, ranked["corpus_id"] == dropped["__drop_id"], "left"
    )
    return out.select(
        F.col("corpus_id").alias(id_col),
        "centroid_id",
        "sem_rank",
        "cent_cos_micro",
        F.col("__drop_id").isNull().alias("keep"),
    )
