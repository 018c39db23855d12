"""BM25 lexical ranking over a document corpus.

Classic Okapi BM25 (public formula; Robertson & Spärck Jones line of
work): for query term t and document d,

    idf(t)      = ln(1 + (N - df_t + 0.5) / (df_t + 0.5))
    score(q, d) = sum_t idf(t) * tf_td*(k1+1) / (tf_td + k1*(1 - b + b*dl_d/avgdl))

Scale shape — everything is sized by the QUERY, not the vocabulary:

- tokens are exploded once and immediately filtered to the query's
  terms, so the per-term frequency aggregation shuffles only rows
  that mention a query term;
- df stats are per-query-term (a handful of rows) and the corpus
  scalars (N, avgdl) are a single row — both broadcast;
- the final ranking is an orderBy+limit, which Spark executes as
  TakeOrdered (per-partition top-k, then a k-sized driver merge),
  never a global sort.

Scores are rounded to 6 decimals and tie-broken by id so the top-k is
deterministic across engines and partition orders.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gcp_data_pipeline_fyp_spark.functions.text import tokens
from gcp_data_pipeline_fyp_spark.queries_util import roundn


def tfidf_top_terms(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
) -> DataFrame:
    """Top-k characteristic terms per document by TF-IDF.

    idf(t) = ln(N / df_t); score = tf * idf. The (doc, term) frequency
    table joins the vocabulary-sized document-frequency table on term —
    a plain shuffled equi-join (the vocabulary is NOT broadcastable at
    corpus scale); the corpus-size scalar is broadcast. Per-doc top-k
    is a row_number window over the doc key — partitioned, never
    global. Scores round to 6 dp and tie-break on the term so the kept
    set is deterministic across engines and partition orders.
    """
    toks = F.coalesce(tokens(text_col), F.array().cast("array<string>"))
    pairs = df.select(F.col(id_col), F.explode(toks).alias("__term"))
    # tf feeds BOTH the score and the document-frequency aggregation;
    # without an explicit persist Catalyst inlines the subtree twice and
    # the corpus is scanned + exploded once per use (verified: no
    # ReusedExchange in the adaptive plan). Same persist->materialize->
    # release contract as minhash_lsh_candidates.
    tf = (
        pairs.groupBy(id_col, "__term").agg(F.count("*").alias("__tf")).persist()
    )
    dfreq = tf.groupBy("__term").agg(F.count("*").alias("__df"))
    scalars = F.broadcast(df.select(F.count("*").alias("__n")))
    scored = (
        tf.join(dfreq, "__term")
        .crossJoin(scalars)
        .withColumn(
            "score",
            roundn(
                F.col("__tf") * F.log(F.col("__n") / F.col("__df")), 6
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("__term").asc()
    )
    out = (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .select(
            id_col,
            F.col("__term").alias("term"),
            F.col("__rk").alias("rank"),
            "score",
        )
    )
    # eager: materialize the result, then release the tf cache (the
    # result itself stays persisted — callers running many invocations
    # in one session should .unpersist() it when done)
    out = out.persist()
    out.count()
    tf.unpersist()
    return out


def bm25_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: Sequence[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-k documents for `query_terms` by BM25: (id, score desc)."""
    if not query_terms:
        raise ValueError("bm25_topk requires at least one query term")
    toks = F.coalesce(tokens(text_col), F.array().cast("array<string>"))
    base = df.select(F.col(id_col), toks.alias("__toks")).withColumn(
        "__dl", F.size("__toks")
    )
    scalars = F.broadcast(
        base.agg(
            F.count("*").alias("__n"), F.avg("__dl").alias("__avgdl")
        )
    )
    hits = base.select(
        id_col, "__dl", F.explode("__toks").alias("__term")
    ).filter(F.col("__term").isin(*query_terms))
    # tf is tiny (docs mentioning a query term) but feeds both the score
    # and the df aggregation — persist so the corpus explode runs once,
    # not once per use (released below; result comes back persisted)
    tf = hits.groupBy(id_col, "__term").agg(
        F.count("*").alias("__tf"), F.first("__dl").alias("__dl")
    ).persist()
    dfreq = F.broadcast(
        tf.groupBy("__term").agg(F.count("*").alias("__df"))
    )
    joined = tf.join(dfreq, "__term").crossJoin(scalars)
    idf = F.log(
        F.lit(1.0)
        + (F.col("__n") - F.col("__df") + 0.5) / (F.col("__df") + 0.5)
    )
    denom = F.col("__tf") + k1 * (
        1.0 - b + b * F.col("__dl") / F.col("__avgdl")
    )
    term_score = idf * F.col("__tf") * (k1 + 1.0) / denom
    out = (
        joined.groupBy(id_col)
        .agg(roundn(F.sum(term_score), 6).alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )
    out = out.persist()
    out.count()
    tf.unpersist()
    return out


# ----------------------------------------------- persisted inverted index
def _term_bucket(term, n_buckets: int):
    return F.pmod(F.xxhash64(term), F.lit(n_buckets)).cast("int")


def build_text_index(
    wh,
    docs: DataFrame,
    id_col: str,
    text_col: str,
    name: str,
    n_buckets: int = 64,
) -> None:
    """Build-once inverted index for BM25: postings PARTITIONED BY a
    term-hash bucket, plus a doc-length table and a 1-row stats table.

    The 100 TB lever is the same as the IVF-PQ index
    (`pq.py:build_ivfpq_index`): the build (one explode + one
    (doc, term) aggregation) is amortized across every subsequent
    query, and `query_text_index` reads ONLY the term buckets its
    query terms hash to — ~|query terms|/n_buckets of the postings
    bytes per search instead of re-tokenizing the corpus per query.
    Document length is denormalized INTO the postings rows, so query
    scoring never joins the corpus-sized doclen table (that table
    exists to make `append_text_index`'s stats recompute exact).
    """
    toks = F.coalesce(tokens(text_col), F.array().cast("array<string>"))
    base = docs.select(F.col(id_col).alias("doc_id"), toks.alias("__toks"))
    dl = base.select("doc_id", F.size("__toks").alias("dl"))
    tf = (
        base.select("doc_id", F.size("__toks").alias("dl"),
                    F.explode("__toks").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"), F.first("dl").alias("dl"))
    )
    # REBALANCE by the partition column (guide §6, r13): without it
    # every aggregation task writes one file into EVERY bucket dir it
    # holds rows for — up to shuffle_partitions x n_buckets tiny files
    # (2048 at 32 cores / 64 buckets, 4x an 8-core run's count for the
    # same data). Rebalancing aligns write partitions with bucket dirs
    # and AQE sizes them by bytes: one file per bucket locally, ~64 MB
    # files per bucket at corpus scale.
    wh.overwrite(
        tf.withColumn(
            "term_bucket", _term_bucket(F.col("term"), n_buckets)
        ).hint("rebalance", "term_bucket"),
        f"{name}__postings",
        partition_cols=["term_bucket"],
    )
    wh.overwrite(dl.hint("rebalance"), f"{name}__doclen")
    wh.overwrite(_text_stats(dl, n_buckets), f"{name}__stats")


def _text_stats(dl: DataFrame, n_buckets: int) -> DataFrame:
    # avg over bigint lengths = exact long sum / count: deterministic
    # on any partitioning (same algebra bm25_topk certifies against)
    return dl.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    ).withColumn("n_buckets", F.lit(n_buckets))


def append_text_index(
    wh, docs: DataFrame, id_col: str, text_col: str, name: str
) -> None:
    """Incremental add: append postings + doclens for the new docs,
    recompute the 1-row stats from the doclen table (exact — no
    drifting streamed averages). New terms need no special case: they
    hash into the same bucket space."""
    n_buckets = wh.read(f"{name}__stats").first()["n_buckets"]
    toks = F.coalesce(tokens(text_col), F.array().cast("array<string>"))
    base = docs.select(F.col(id_col).alias("doc_id"), toks.alias("__toks"))
    tf = (
        base.select("doc_id", F.size("__toks").alias("dl"),
                    F.explode("__toks").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"), F.first("dl").alias("dl"))
    )
    # same bucket-aligned REBALANCE as build_text_index: an append's
    # file count follows batch bytes, not cores x buckets
    wh.append(
        tf.withColumn(
            "term_bucket", _term_bucket(F.col("term"), n_buckets)
        ).hint("rebalance", "term_bucket"),
        f"{name}__postings",
        partition_cols=["term_bucket"],
    )
    wh.append(
        base.select("doc_id", F.size("__toks").alias("dl")).hint("rebalance"),
        f"{name}__doclen",
    )
    wh.overwrite(
        _text_stats(wh.read(f"{name}__doclen"), n_buckets),
        f"{name}__stats",
    )


def query_text_index(
    wh,
    spark,
    query_terms: Sequence[str],
    name: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 top-k against a persisted index. The query terms are
    driver-known, so their buckets resolve to LITERALS (one tiny Spark
    job on a |terms|-row frame — the same hash expression the build
    used, never a reimplementation): the postings read carries a
    STATIC `term_bucket IN (...)` partition filter plus a pushed
    `term IN (...)` data filter — only the query's buckets are listed,
    only its terms' row groups decode. df/idf derive from the pruned
    rows (a term's postings live entirely in its bucket, so per-term
    df is still GLOBALLY exact); scoring math is
    expression-for-expression `bm25_topk`, so the two paths return
    identical bytes."""
    if not query_terms:
        raise ValueError("query_text_index requires at least one query term")
    stats = wh.read(f"{name}__stats").first()
    n_buckets = stats["n_buckets"]
    terms = sorted(set(query_terms))
    buckets = sorted(
        {
            r["b"]
            for r in spark.createDataFrame([(t,) for t in terms], "term string")
            .select(_term_bucket(F.col("term"), n_buckets).alias("b"))
            .collect()
        }
    )
    tf = (
        wh.read(f"{name}__postings")
        .filter(F.col("term_bucket").isin(buckets))
        .filter(F.col("term").isin(terms))
    )
    tf = tf.persist()
    dfreq = F.broadcast(tf.groupBy("term").agg(F.count("*").alias("__df")))
    joined = tf.join(dfreq, "term")
    idf = F.log(
        F.lit(1.0)
        + (F.lit(stats["n_docs"]) - F.col("__df") + 0.5)
        / (F.col("__df") + 0.5)
    )
    denom = F.col("tf") + k1 * (
        1.0 - b + b * F.col("dl") / F.lit(stats["avgdl"])
    )
    term_score = idf * F.col("tf") * (k1 + 1.0) / denom
    out = (
        joined.groupBy("doc_id")
        .agg(roundn(F.sum(term_score), 6).alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )
    out = out.persist()
    out.count()
    tf.unpersist()
    return out
