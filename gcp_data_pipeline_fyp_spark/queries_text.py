"""Driver-facing probes for the text-analysis + dedup operator families.

The synthetic `documents` table has no natural duplicates, so the
dedup probes synthesize controlled ones — a deterministic union of the
corpus with mutated copies (same construction in the oracle SQL), which
keeps the probe end-to-end honest: the operator must find exactly the
planted pairs (plus any real ones).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gcp_data_pipeline_fyp_spark.functions.text import (
    LANG_PROFILES,
    bpe_ish_token_count,
    lang_id,
    punct_count,
    rolling_fingerprint,
    stopword_hits,
    token_count,
    tokens,
)
from gcp_data_pipeline_fyp_spark.operators.dedup import (
    exact_dedup,
    exact_dup_stats,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash_groups,
)
from gcp_data_pipeline_fyp_spark.functions.text import minhash_signature, shingles, simhash16
from gcp_data_pipeline_fyp_spark.queries_util import (
    load,
    micro6,
    micro6_sql,
    roundn,
    scratch_dir,
)


def _docs(spark: SparkSession, sf: str) -> DataFrame:
    return load(spark, sf, "documents", spread=True)


def _docs_with_dups(spark: SparkSession, sf: str) -> DataFrame:
    """documents ∪ exact copies of every 10th doc (id shifted by 1e6)."""
    d = _docs(spark, sf)
    dups = d.filter(F.col("doc_id") % 10 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    return d.unionByName(dups)


_SQL_DOCS_WITH_DUPS = """
  SELECT * FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text, lang, source, n_chars
  FROM documents WHERE doc_id % 10 = 0
"""


def _docs_with_neardups(spark: SparkSession, sf: str) -> DataFrame:
    """documents ∪ near-copies (every 10th doc + a 3-token tail)."""
    d = _docs(spark, sf)
    dups = (
        d.filter(F.col("doc_id") % 10 == 0)
        .withColumn("doc_id", F.col("doc_id") + 1_000_000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" zq zr zs")))
    )
    return d.unionByName(dups)


_SQL_DOCS_WITH_NEARDUPS = """
  SELECT * FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text || ' zq zr zs' AS text, lang, source,
         n_chars
  FROM documents WHERE doc_id % 10 = 0
"""


# ------------------------------------------------------------ exact dedup
def q_dedup_exact_stats(spark: SparkSession, sf: str) -> DataFrame:
    return exact_dup_stats(_docs_with_dups(spark, sf), ["text"], "doc_id").select(
        "keep_id", "n_dupes"
    )


SQL_DEDUP_EXACT_STATS = f"""
SELECT min(doc_id) AS keep_id, count(*) AS n_dupes
FROM ({_SQL_DOCS_WITH_DUPS}) GROUP BY text
"""


def q_dedup_exact_rows(spark: SparkSession, sf: str) -> DataFrame:
    kept = exact_dedup(_docs_with_dups(spark, sf), ["text"], "doc_id")
    return kept.select("doc_id", "lang", "source")


SQL_DEDUP_EXACT_ROWS = f"""
WITH u AS ({_SQL_DOCS_WITH_DUPS})
SELECT doc_id, lang, source FROM u
WHERE doc_id IN (SELECT min(doc_id) FROM u GROUP BY text)
"""


# ------------------------------------------------------------ quality metrics
def q_text_quality(spark: SparkSession, sf: str) -> DataFrame:
    d = _docs(spark, sf)
    toks = tokens("text")
    tok_lens = F.transform(toks, lambda t: F.length(t))
    total_len = F.aggregate(tok_lens, F.lit(0), lambda a, b: a + b)
    en = LANG_PROFILES["en"]
    return d.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        bpe_ish_token_count("text").alias("n_bpe_tokens"),
        punct_count("text").alias("n_punct"),
        roundn(total_len.cast("double") / F.size(toks), 6).alias("avg_token_len"),
        roundn(
            stopword_hits(toks, en).cast("double") / F.size(toks), 6
        ).alias("stopword_ratio"),
    )


_SQL_TOKS = r"regexp_split_to_array(trim(text), '\s+')"
_SQL_EN = "('" + "','".join(LANG_PROFILES["en"]) + "')"
# regexp_count has no direct DuckDB twin; count matches via extract_all
SQL_TEXT_QUALITY = f"""
WITH t AS (SELECT doc_id, text, {_SQL_TOKS} AS toks FROM documents)
SELECT doc_id,
  cast(len(toks) AS int) AS n_tokens,
  cast(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))
       AS int) AS n_bpe_tokens,
  cast(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS int) AS n_punct,
  ((round((cast(list_sum(list_transform(toks, t -> length(t))) AS double)
        / len(toks)) * 1000000.0) / 1000000.0) + 0.0) AS avg_token_len,
  ((round((cast(len(list_filter(toks, t -> t IN {_SQL_EN})) AS double)
        / len(toks)) * 1000000.0) / 1000000.0) + 0.0) AS stopword_ratio
FROM t
"""


# ------------------------------------------------------------ language id
def q_lang_id(spark: SparkSession, sf: str) -> DataFrame:
    return _docs(spark, sf).select("doc_id", lang_id("text").alias("lang_pred"))


def _hits_sql(lang: str) -> str:
    words = "('" + "','".join(LANG_PROFILES[lang]) + "')"
    return f"len(list_filter(toks, t -> t IN {words}))"


SQL_LANG_ID = f"""
WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
h AS (SELECT doc_id, {_hits_sql('en')} AS h_en, {_hits_sql('es')} AS h_es,
             {_hits_sql('fr')} AS h_fr, {_hits_sql('de')} AS h_de FROM t)
SELECT doc_id,
  CASE WHEN h_en >= h_es AND h_en >= h_fr AND h_en >= h_de THEN 'en'
       WHEN h_es >= h_fr AND h_es >= h_de THEN 'es'
       WHEN h_fr >= h_de THEN 'fr'
       ELSE 'de' END AS lang_pred
FROM h
"""


# ------------------------------------------------------------ fingerprinting
def q_doc_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    d = _docs(spark, sf)
    return d.select(
        "doc_id",
        F.md5(F.trim(F.col("text"))).alias("content_md5"),
        rolling_fingerprint(tokens("text")).alias("rolling_hash"),
    )


SQL_DOC_FINGERPRINT = f"""
WITH t AS (SELECT doc_id, text, {_SQL_TOKS} AS toks FROM documents)
SELECT doc_id, md5(trim(text)) AS content_md5,
  cast(list_reduce(
    list_prepend(cast(0 AS bigint),
      list_transform(toks,
        t -> cast(cast(concat('0x', substr(md5(t), 1, 8)) AS bigint) % 1000000007
                  AS bigint))),
    (a, b) -> (a * 31 + b) % 1000000007) AS bigint) AS rolling_hash
FROM t
"""


# ------------------------------------------------------------ MinHash / LSH
_NUM_HASHES, _BANDS = 8, 4


def q_minhash_signature(spark: SparkSession, sf: str) -> DataFrame:
    d = _docs(spark, sf)
    # token array projected first — the shingle lambda would otherwise
    # re-tokenize per position (functions/text.py:shingles contract)
    td = d.select("doc_id", tokens("text").alias("__toks"))
    sig = minhash_signature(shingles(F.col("__toks"), 3), _NUM_HASHES)
    # degenerate docs (shorter than the shingle width / NULL text) have
    # an all-NULL signature: surface as NULL, matching DuckDB's
    # array_to_string semantics (Spark's array_join would give '')
    joined = F.array_join(sig.cast("array<string>"), "|")
    return td.select(
        "doc_id", F.nullif(joined, F.lit("")).alias("signature")
    )


_SQL_SHINGLES = (
    "list_distinct(list_transform(generate_series(1, greatest(len(toks) - 2, 0)),"
    " i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))"
)
from gcp_data_pipeline_fyp_spark.functions.text import minhash_params  # noqa: E402

_SQL_BASE = (
    "list_transform(sh, s -> cast(concat('0x', substr(md5(s), 1, 8)) AS bigint))"
)
_SQL_SIG = "[" + ", ".join(
    f"list_min(list_transform(base, x -> (x * {a} + {b}) % 4294967311))"
    for a, b in minhash_params(_NUM_HASHES)
) + "]"
SQL_MINHASH_SIGNATURE = f"""
WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
s AS (SELECT doc_id, {_SQL_SHINGLES} AS sh FROM t),
b AS (SELECT doc_id, {_SQL_BASE} AS base FROM s)
SELECT doc_id, array_to_string({_SQL_SIG}, '|') AS signature FROM b
"""


def q_minhash_lsh_pairs(spark: SparkSession, sf: str) -> DataFrame:
    d = _docs_with_neardups(spark, sf)
    return minhash_lsh_candidates(
        d, "doc_id", "text", num_hashes=_NUM_HASHES, bands=_BANDS
    )


SQL_MINHASH_LSH_PAIRS = f"""
WITH u AS ({_SQL_DOCS_WITH_NEARDUPS}),
t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM u),
s AS (SELECT doc_id, {_SQL_SHINGLES} AS sh FROM t),
bb AS (SELECT doc_id, {_SQL_BASE} AS base FROM s),
sig AS (SELECT doc_id, {_SQL_SIG} AS sig FROM bb),
bands AS (
  SELECT doc_id, b,
    concat_ws('|', sig[b*2+1], sig[b*2+2]) AS bsig
  FROM sig, unnest(generate_series(0, 3)) AS g(b)),
nz AS (SELECT * FROM bands WHERE bsig <> '')
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM nz a JOIN nz b ON a.b = b.b AND a.bsig = b.bsig AND a.doc_id < b.doc_id
"""


# ------------------------------------------------------------ SimHash
def q_simhash(spark: SparkSession, sf: str) -> DataFrame:
    d = _docs(spark, sf)
    return d.select("doc_id", simhash16(tokens("text")).alias("simhash"))


SQL_SIMHASH = f"""
WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
b AS (SELECT doc_id,
  list_transform(generate_series(0, 15), p ->
    CASE WHEN list_sum(list_transform(toks,
        t -> CASE WHEN substr(md5(t), p + 1, 1) >= '8' THEN 1 ELSE -1 END)) > 0
    THEN 1 ELSE 0 END) AS bits
  FROM t)
SELECT doc_id,
  cast(list_sum(list_transform(generate_series(0, 15),
    p -> bits[p+1] * cast(pow(2, p) AS bigint))) AS bigint) AS simhash
FROM b
"""


def q_simhash_dup_groups(spark: SparkSession, sf: str) -> DataFrame:
    d = _docs_with_dups(spark, sf)
    return simhash_groups(d, "doc_id", "text").select(
        "simhash", "n_docs", F.array_join(F.col("doc_ids").cast("array<string>"), ",").alias("doc_ids")
    )


SQL_SIMHASH_DUP_GROUPS = f"""
WITH u AS ({_SQL_DOCS_WITH_DUPS}),
t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM u),
b AS (SELECT doc_id,
  list_transform(generate_series(0, 15), p ->
    CASE WHEN list_sum(list_transform(toks,
        t -> CASE WHEN substr(md5(t), p + 1, 1) >= '8' THEN 1 ELSE -1 END)) > 0
    THEN 1 ELSE 0 END) AS bits
  FROM t),
h AS (SELECT doc_id,
  cast(list_sum(list_transform(generate_series(0, 15),
    p -> bits[p+1] * cast(pow(2, p) AS bigint))) AS bigint) AS simhash
  FROM b)
SELECT simhash, count(*) AS n_docs,
  array_to_string(list_transform(list_sort(list(doc_id)), x -> cast(x AS varchar)), ',') AS doc_ids
FROM h GROUP BY simhash HAVING count(*) > 1
"""


# ------------------------------------------------------------ n-gram Jaccard
def q_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    d = _docs_with_neardups(spark, sf).filter(
        (F.col("doc_id") % 7 == 0) | (F.col("doc_id") >= 1_000_000)
    )
    return ngram_jaccard_pairs(
        d, "doc_id", "text", ["lang", "source"], n=3, threshold=0.2
    )


SQL_NGRAM_JACCARD = f"""
WITH u AS (
  SELECT * FROM ({_SQL_DOCS_WITH_NEARDUPS})
  WHERE doc_id % 7 = 0 OR doc_id >= 1000000),
t AS (SELECT doc_id, lang, source, {_SQL_TOKS} AS toks FROM u),
g AS (SELECT doc_id, lang, source, {_SQL_SHINGLES} AS grams FROM t)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
  ((round((cast(len(list_intersect(a.grams, b.grams)) AS double)
        / nullif(len(list_distinct(list_concat(a.grams, b.grams))), 0)) * 1000000.0) / 1000000.0) + 0.0)
    AS jaccard
FROM g a JOIN g b
  ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
WHERE ((round((cast(len(list_intersect(a.grams, b.grams)) AS double)
        / nullif(len(list_distinct(list_concat(a.grams, b.grams))), 0)) * 1000000.0) / 1000000.0) + 0.0) >= 0.2
"""


TEXT_QUERIES: dict[str, tuple] = {
    "dedup_exact_stats": (q_dedup_exact_stats, SQL_DEDUP_EXACT_STATS),
    "dedup_exact_rows": (q_dedup_exact_rows, SQL_DEDUP_EXACT_ROWS),
    "text_quality": (q_text_quality, SQL_TEXT_QUALITY),
    "lang_id": (q_lang_id, SQL_LANG_ID),
    "doc_fingerprint": (q_doc_fingerprint, SQL_DOC_FINGERPRINT),
    "minhash_signature": (q_minhash_signature, SQL_MINHASH_SIGNATURE),
    "minhash_lsh_pairs": (q_minhash_lsh_pairs, SQL_MINHASH_LSH_PAIRS),
    "simhash": (q_simhash, SQL_SIMHASH),
    "simhash_dup_groups": (q_simhash_dup_groups, SQL_SIMHASH_DUP_GROUPS),
    "ngram_jaccard": (q_ngram_jaccard, SQL_NGRAM_JACCARD),
}


# ------------------------------------------------------------ vocabulary
def q_vocabulary_top(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus vocabulary: token explode -> count -> deterministic top 20."""
    d = _docs(spark, sf)
    return (
        d.select(F.explode(tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("token"))
        .limit(20)
    )


SQL_VOCABULARY_TOP = f"""
SELECT token, count(*) AS n_occurrences
FROM (SELECT unnest({_SQL_TOKS}) AS token FROM documents)
GROUP BY token
ORDER BY n_occurrences DESC, token
LIMIT 20
"""


# ------------------------------------------------------------ chunking
_CHUNK = 32


def q_chunk_documents(spark: SparkSession, sf: str) -> DataFrame:
    """Split each doc into fixed 32-token chunks (posexplode over slices)."""
    d = _docs(spark, sf)
    toks = tokens("text")
    n_chunks = F.ceil(F.size(toks) / F.lit(_CHUNK)).cast("int")
    with_toks = d.select("doc_id", toks.alias("__toks"), n_chunks.alias("__n"))
    return with_toks.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.col("__n") - 1)).alias("chunk_id"),
        F.col("__toks"),
    ).select(
        "doc_id",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.array_join(
            F.slice(F.col("__toks"), F.col("chunk_id") * _CHUNK + 1, _CHUNK), " "
        ).alias("chunk_text"),
        F.size(
            F.slice(F.col("__toks"), F.col("chunk_id") * _CHUNK + 1, _CHUNK)
        ).alias("n_tokens"),
    )


SQL_CHUNK_DOCUMENTS = f"""
WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
n AS (SELECT doc_id, toks, cast(ceil(len(toks) / {_CHUNK}.0) AS int) AS n_chunks
      FROM t)
SELECT doc_id, cast(g.ci AS int) AS chunk_id,
  array_to_string(list_slice(toks, ci * {_CHUNK} + 1, ci * {_CHUNK} + {_CHUNK}), ' ')
    AS chunk_text,
  cast(len(list_slice(toks, ci * {_CHUNK} + 1, ci * {_CHUNK} + {_CHUNK})) AS int)
    AS n_tokens
FROM n, unnest(generate_series(0, n_chunks - 1)) AS g(ci)
"""


# ------------------------------------------------------------ PII redaction
_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"


def q_redact_pii(spark: SparkSession, sf: str) -> DataFrame:
    """Plant an email per doc, then regex-redact it (training-data scrub)."""
    d = _docs(spark, sf)
    planted = F.concat(
        F.col("text"), F.lit(" contact: user"), F.col("doc_id"), F.lit("@example.com")
    )
    return d.select(
        "doc_id",
        F.regexp_count(planted, F.lit(_EMAIL_RE)).alias("n_emails"),
        F.regexp_replace(planted, _EMAIL_RE, "<EMAIL>").alias("redacted"),
    )


SQL_REDACT_PII = f"""
SELECT doc_id,
  cast(len(regexp_extract_all(text || ' contact: user' || doc_id || '@example.com',
       '{_EMAIL_RE}')) AS int) AS n_emails,
  regexp_replace(text || ' contact: user' || doc_id || '@example.com',
       '{_EMAIL_RE}', '<EMAIL>', 'g') AS redacted
FROM documents
"""


TEXT_QUERIES.update(
    {
        "vocabulary_top": (q_vocabulary_top, SQL_VOCABULARY_TOP),
        "chunk_documents": (q_chunk_documents, SQL_CHUNK_DOCUMENTS),
        "redact_pii": (q_redact_pii, SQL_REDACT_PII),
    }
)


# ------------------------------------------------------------ quality filter
def q_gopher_filter(spark: SparkSession, sf: str) -> DataFrame:
    from gcp_data_pipeline_fyp_spark.functions.text import gopher_keep, gopher_quality_flags

    d = _docs(spark, sf)
    flags = gopher_quality_flags(F.col("text"))
    return d.select(
        "doc_id",
        *[expr.alias(name) for name, expr in flags.items()],
        gopher_keep(F.col("text")).alias("keep"),
    )


_SQL_EN_LIST = _SQL_EN
SQL_GOPHER_FILTER = f"""
WITH t AS (SELECT doc_id, text, {_SQL_TOKS} AS toks FROM documents),
m AS (SELECT doc_id,
  len(toks) AS n,
  cast(list_sum(list_transform(toks, t -> length(t))) AS double)
    / nullif(len(toks), 0) AS mean_len,
  cast(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS double) AS symbols,
  len(list_filter(toks, t -> t IN {_SQL_EN_LIST})) AS stop_hits
  FROM t)
SELECT doc_id,
  n >= 50 AND n <= 100000 AS ok_word_count,
  mean_len >= 3 AND mean_len <= 10 AS ok_mean_word_len,
  symbols / nullif(n, 0) < 0.1 AS ok_symbol_ratio,
  stop_hits >= 2 AS ok_stopwords,
  coalesce(n >= 50 AND n <= 100000
    AND mean_len >= 3 AND mean_len <= 10
    AND symbols / nullif(n, 0) < 0.1
    AND stop_hits >= 2, false) AS keep
FROM m
"""


# ------------------------------------------------------------ composed dedup
def q_dedupe_corpus(spark: SparkSession, sf: str) -> DataFrame:
    """Full dedup pipeline (exact -> LSH -> Jaccard-verified drop)."""
    from gcp_data_pipeline_fyp_spark.operators.dedup import dedupe_corpus

    d = _docs_with_neardups(spark, sf)
    kept = dedupe_corpus(d, "doc_id", "text", jaccard_threshold=0.8)
    return kept.select("doc_id", "lang", "source")


SQL_DEDUPE_CORPUS = f"""
WITH u AS ({_SQL_DOCS_WITH_NEARDUPS}),
ek AS (SELECT * FROM u
       WHERE doc_id IN (SELECT min(doc_id) FROM u GROUP BY text)),
t AS (SELECT doc_id, text, {_SQL_TOKS} AS toks FROM ek),
s AS (SELECT doc_id, text, {_SQL_SHINGLES} AS sh FROM t),
bb AS (SELECT doc_id, sh, {_SQL_BASE} AS base FROM s),
sig AS (SELECT doc_id, sh, {_SQL_SIG} AS sig FROM bb),
bands AS (
  SELECT doc_id, sh, b, concat_ws('|', sig[b*2+1], sig[b*2+2]) AS bsig
  FROM sig, unnest(generate_series(0, 3)) AS g(b)),
nz AS (SELECT * FROM bands WHERE bsig <> ''),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.sh AS sha, b.sh AS shb
  FROM nz a JOIN nz b ON a.b = b.b AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
verified AS (
  SELECT id_b FROM cand
  WHERE ((round((cast(len(list_intersect(sha, shb)) AS double)
        / nullif(len(list_distinct(list_concat(sha, shb))), 0)) * 1000000.0) / 1000000.0) + 0.0) >= 0.8)
SELECT doc_id, lang, source FROM ek
WHERE doc_id NOT IN (SELECT id_b FROM verified)
"""


TEXT_QUERIES.update(
    {
        "gopher_filter": (q_gopher_filter, SQL_GOPHER_FILTER),
        "dedupe_corpus": (q_dedupe_corpus, SQL_DEDUPE_CORPUS),
    }
)


# ------------------------------------------------------------ sampling/splits
def q_hash_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Content-keyed deterministic 10% sample (reproducible across engines)."""
    from gcp_data_pipeline_fyp_spark.operators.sampling import hash_sample

    d = _docs(spark, sf)
    return hash_sample(d, ["doc_id"], 0.1, seed=42).select("doc_id", "lang")


def q_train_val_test_split(spark: SparkSession, sf: str) -> DataFrame:
    """Stable 80/10/10 split keyed on doc_id (no contamination on reprocess)."""
    from gcp_data_pipeline_fyp_spark.operators.sampling import hash_split

    d = _docs(spark, sf)
    out = hash_split(
        d, ["doc_id"], {"train": 0.8, "val": 0.1, "test": 0.1}, seed=7
    )
    return out.groupBy("split").agg(
        F.count("*").alias("n_docs"), F.min("doc_id").alias("min_id")
    )


from gcp_data_pipeline_fyp_spark.operators.sampling import hash_bucket_sql  # noqa: E402

_B42 = hash_bucket_sql(["doc_id"], seed=42)
_B7 = hash_bucket_sql(["doc_id"], seed=7)
SQL_HASH_SAMPLE = f"""
SELECT doc_id, lang FROM documents WHERE {_B42} < 100000
"""
SQL_TRAIN_VAL_TEST_SPLIT = f"""
WITH s AS (
  SELECT doc_id,
    CASE WHEN {_B7} < 800000 THEN 'train'
         WHEN {_B7} < 900000 THEN 'val'
         ELSE 'test' END AS split
  FROM documents)
SELECT split, count(*) AS n_docs, min(doc_id) AS min_id FROM s GROUP BY split
"""

TEXT_QUERIES.update(
    {
        "hash_sample": (q_hash_sample, SQL_HASH_SAMPLE),
        "train_val_test_split": (q_train_val_test_split, SQL_TRAIN_VAL_TEST_SPLIT),
    }
)


# ------------------------------------------------ end-to-end corpus prep
def q_corpus_prep(spark: SparkSession, sf: str) -> DataFrame:
    """The full training-data preparation flow in one plan:
    quality-filter (Gopher rules) -> exact dedup -> stable train/val/test
    split. One pass over the corpus + one dedup shuffle; the shape a
    100 TB pretraining-data job actually runs."""
    from gcp_data_pipeline_fyp_spark.functions.text import gopher_keep
    from gcp_data_pipeline_fyp_spark.operators.dedup import exact_dedup
    from gcp_data_pipeline_fyp_spark.operators.sampling import hash_split

    d = _docs_with_dups(spark, sf)
    kept = exact_dedup(d.filter(gopher_keep(F.col("text"))), ["text"], "doc_id")
    split = hash_split(kept, ["doc_id"], {"train": 0.8, "val": 0.1, "test": 0.1}, seed=7)
    return split.select("doc_id", "lang", "split")


from gcp_data_pipeline_fyp_spark.functions.text import LANG_PROFILES as _LP  # noqa: E402
from gcp_data_pipeline_fyp_spark.operators.sampling import hash_bucket_sql as _hbs  # noqa: E402

_B7P = _hbs(["doc_id"], seed=7)
SQL_CORPUS_PREP = f"""
WITH u AS ({_SQL_DOCS_WITH_DUPS}),
t AS (SELECT *, {_SQL_TOKS} AS toks FROM u),
m AS (SELECT *, len(toks) AS n,
  cast(list_sum(list_transform(toks, t -> length(t))) AS double)
    / nullif(len(toks), 0) AS mean_len,
  cast(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS double) AS symbols,
  len(list_filter(toks, t -> t IN {_SQL_EN})) AS stop_hits
  FROM t),
q AS (SELECT doc_id, lang, text FROM m
  WHERE coalesce(n >= 50 AND n <= 100000
    AND mean_len >= 3 AND mean_len <= 10
    AND symbols / nullif(n, 0) < 0.1
    AND stop_hits >= 2, false)),
kept AS (SELECT * FROM q
  WHERE doc_id IN (SELECT min(doc_id) FROM q GROUP BY text))
SELECT doc_id, lang,
  CASE WHEN {_B7P} < 800000 THEN 'train'
       WHEN {_B7P} < 900000 THEN 'val'
       ELSE 'test' END AS split
FROM kept
"""

TEXT_QUERIES["corpus_prep"] = (q_corpus_prep, SQL_CORPUS_PREP)


# ------------------------------------------ benchmark decontamination
def _sql_shingles_n(n: int) -> str:
    """DuckDB rendering of functions.text.shingles for width `n`."""
    terms = ", ".join(f"toks[i+{j}]" for j in range(n))
    return (
        f"list_distinct(list_transform("
        f"generate_series(1, greatest(len(toks) - {n - 1}, 0)),"
        f" i -> concat_ws(' ', {terms})))"
    )


def q_decontaminate_corpus(spark: SparkSession, sf: str) -> DataFrame:
    """Eval-set overlap removal: drop any doc sharing a 5-gram with the
    benchmark slice (doc_id % 97 == 0 stands in for a held-out eval
    set). Corpus side never shuffles — the benchmark n-gram set is
    broadcast (operators/decontaminate.py)."""
    from gcp_data_pipeline_fyp_spark.operators.decontaminate import decontaminate

    d = _docs(spark, sf)
    bench = d.filter(F.col("doc_id") % 97 == 0)
    kept = decontaminate(d, "doc_id", "text", bench, "text", n=5)
    return kept.select("doc_id", "lang", "source")


SQL_DECONTAMINATE_CORPUS = f"""
WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
g AS (SELECT doc_id, unnest({_sql_shingles_n(5)}) AS ngram FROM t),
bench AS (SELECT DISTINCT ngram FROM g WHERE doc_id % 97 = 0),
bad AS (SELECT DISTINCT g.doc_id FROM g JOIN bench USING (ngram))
SELECT doc_id, lang, source FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM bad)
"""


def q_bloom_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    """The Bloom x decontamination composition (operators/
    decontaminate.py::bloom_decontaminate): same benchmark slice and
    5-gram rule as decontaminate_corpus, but the bench gram set rides
    in as Bloom BITS and the corpus gram stream is pruned map-side
    before the exact digest semi join — the plan for eval-set unions
    past broadcast size. The oracle is the PLAIN decontamination SQL:
    any bloom false negative, digest mismatch, or fp leaking through
    the exact join hash-mismatches."""
    from gcp_data_pipeline_fyp_spark.operators.decontaminate import (
        bloom_decontaminate,
    )

    d = _docs(spark, sf)
    bench = d.filter(F.col("doc_id") % 97 == 0)
    kept = bloom_decontaminate(
        d, "doc_id", "text", bench, "text", n=5, m_bits=65_536, k=7
    )
    return kept.select("doc_id", "lang", "source")


# any row lost to a bloom false negative (or an FP surviving the exact
# join) diverges from the plain decontamination result — same oracle
SQL_BLOOM_DECONTAMINATE = SQL_DECONTAMINATE_CORPUS


# ------------------------------------------------- sequence packing
def q_pack_sequences(spark: SparkSession, sf: str) -> DataFrame:
    """Concatenate-and-chunk packing into 2048-token examples via the
    distributed two-level prefix sum (operators/prefix.py); the oracle
    is the plain global cumulative sum."""
    from gcp_data_pipeline_fyp_spark.operators.packing import pack_sequences

    d = _docs(spark, sf).select(
        "doc_id", F.coalesce(token_count("text"), F.lit(0)).alias("n_tokens")
    )
    out = pack_sequences(d, "doc_id", "n_tokens", max_tokens=2048, bucket_span=64)
    return out.select("doc_id", "n_tokens", "start_offset", "pack_id")


SQL_PACK_SEQUENCES = f"""
WITH t AS (SELECT doc_id,
  coalesce(cast(len({_SQL_TOKS}) AS int), 0) AS n_tokens FROM documents),
s AS (SELECT doc_id, n_tokens,
  cast(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bigint)
    AS start_offset
  FROM t)
SELECT doc_id, n_tokens, start_offset,
  cast(start_offset // 2048 AS bigint) AS pack_id
FROM s
"""


# ---------------------------------------------- repetition metrics
def q_repetition_metrics(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-style repetition signals: most-frequent-token fraction
    (explode + two keyed aggs — the scan-shaped plan) and duplicate-line
    fraction (pure array expressions, no shuffle)."""
    d = _docs(spark, sf)
    toks = tokens("text")
    lines = F.split(F.col("text"), "\n")
    base = d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        roundn(
            F.lit(1.0)
            - F.try_divide(
                F.size(F.array_distinct(lines)).cast("double"),
                F.size(lines).cast("double"),
            ),
            6,
        ).alias("dup_line_frac"),
    )
    counts = (
        d.select("doc_id", F.explode(toks).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("n"))
        .groupBy("doc_id")
        .agg(F.max("n").alias("top_cnt"))
    )
    return (
        base.join(counts, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            roundn(
                F.try_divide(
                    F.col("top_cnt").cast("double"), F.col("n_tokens").cast("double")
                ),
                6,
            ).alias("top_token_frac"),
            "dup_line_frac",
        )
    )


SQL_REPETITION_METRICS = f"""
WITH t AS (SELECT doc_id, text, {_SQL_TOKS} AS toks FROM documents),
e AS (SELECT doc_id, unnest(toks) AS tok FROM t),
c AS (SELECT doc_id, tok, count(*) AS n FROM e GROUP BY doc_id, tok),
m AS (SELECT doc_id, max(n) AS top_cnt FROM c GROUP BY doc_id),
lines AS (SELECT doc_id, regexp_split_to_array(text, '\\n') AS l FROM t)
SELECT t.doc_id,
  cast(len(t.toks) AS int) AS n_tokens,
  ((round((cast(m.top_cnt AS double) / nullif(len(t.toks), 0)) * 1000000.0) / 1000000.0) + 0.0)
    AS top_token_frac,
  ((round((1.0 - cast(len(list_distinct(lines.l)) AS double)
        / nullif(len(lines.l), 0)) * 1000000.0) / 1000000.0) + 0.0) AS dup_line_frac
FROM t LEFT JOIN m ON t.doc_id = m.doc_id
JOIN lines ON t.doc_id = lines.doc_id
"""


TEXT_QUERIES.update(
    {
        "decontaminate_corpus": (q_decontaminate_corpus, SQL_DECONTAMINATE_CORPUS),
        "bloom_decontaminate": (q_bloom_decontaminate, SQL_BLOOM_DECONTAMINATE),
        "pack_sequences": (q_pack_sequences, SQL_PACK_SEQUENCES),
        "repetition_metrics": (q_repetition_metrics, SQL_REPETITION_METRICS),
    }
)


# ------------------------------------------- stratified mix rebalance
def q_stratified_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Data-mix rebalancing: keep all English, 30% Spanish, 5% of every
    other language — one content-keyed filter pass, no shuffle
    (operators/sampling.py:stratified_hash_sample)."""
    from gcp_data_pipeline_fyp_spark.operators.sampling import (
        stratified_hash_sample,
    )

    d = _docs(spark, sf)
    out = stratified_hash_sample(
        d, ["doc_id"], "lang", {"en": 1.0, "es": 0.3},
        default_fraction=0.05, seed=11,
    )
    return out.select("doc_id", "lang", "source")


from gcp_data_pipeline_fyp_spark.operators.sampling import (  # noqa: E402
    hash_bucket_sql as _hbs11,
)

_B11 = _hbs11(["doc_id"], seed=11)
SQL_STRATIFIED_SAMPLE = f"""
SELECT doc_id, lang, source FROM documents
WHERE {_B11} < (CASE lang WHEN 'en' THEN 1000000
                          WHEN 'es' THEN 300000
                          ELSE 50000 END)
"""

TEXT_QUERIES["stratified_sample"] = (q_stratified_sample, SQL_STRATIFIED_SAMPLE)


# ------------------------------------------------ per-source cap (r6)
def q_source_capped_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source document cap (operators/sampling.py:cap_per_group):
    at most 40 docs per source, chosen by content-hash rank — the
    per-domain cap that stops one crawler loop / SEO farm from
    dominating a training mix. Deterministic, nested, engine-stable.
    Window is r6-queue."""
    from gcp_data_pipeline_fyp_spark.operators.sampling import cap_per_group

    d = _docs(spark, sf)
    return cap_per_group(d, ["source"], ["doc_id"], n=40, seed=3).select(
        "doc_id", "source"
    )


_B3 = _hbs11(["doc_id"], seed=3)
SQL_SOURCE_CAPPED_SAMPLE = f"""
WITH r AS (
  SELECT doc_id, source, row_number() OVER (
    PARTITION BY source ORDER BY {_B3} ASC, doc_id ASC) AS rk
  FROM documents)
SELECT doc_id, source FROM r WHERE rk <= 40
"""

TEXT_QUERIES["source_capped_sample"] = (
    q_source_capped_sample,
    SQL_SOURCE_CAPPED_SAMPLE,
)


# --------------------------------------- dup clusters (transitive closure)
def q_dup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """LSH candidate pairs -> connected components -> every doc labeled
    with its duplicate-cluster id (min reachable doc_id). Chains
    A~B~C collapse to one cluster — the closure the greedy pairwise
    pass can miss (operators/components.py)."""
    from gcp_data_pipeline_fyp_spark.operators.components import dup_clusters

    d = _docs_with_neardups(spark, sf)
    pairs = minhash_lsh_candidates(
        d, "doc_id", "text", num_hashes=_NUM_HASHES, bands=_BANDS
    )
    out = dup_clusters(d, pairs, "doc_id").select("doc_id", "cluster_id")
    # component labels are localCheckpointed inside dup_clusters, so the
    # candidate cache (returned persisted per the operator contract) can
    # be released here instead of leaking into the driver session
    pairs.unpersist()
    return out


SQL_DUP_CLUSTERS = f"""
WITH RECURSIVE pairs AS ({SQL_MINHASH_LSH_PAIRS}),
u2 AS ({_SQL_DOCS_WITH_NEARDUPS}),
ed AS (SELECT id_a AS a, id_b AS b FROM pairs
       UNION SELECT id_b, id_a FROM pairs),
reach(v, l) AS (
  SELECT a, a FROM ed
  UNION
  SELECT e.a, r.l FROM ed e JOIN reach r ON e.b = r.v),
comp AS (SELECT v, min(l) AS component FROM reach GROUP BY v)
SELECT u2.doc_id, coalesce(comp.component, u2.doc_id) AS cluster_id
FROM u2 LEFT JOIN comp ON u2.doc_id = comp.v
"""

TEXT_QUERIES["dup_clusters"] = (q_dup_clusters, SQL_DUP_CLUSTERS)


# ------------------------------------------------- BM25 text search
def q_bm25_search(spark: SparkSession, sf: str) -> DataFrame:
    """Okapi BM25 top-10 for a fixed 3-term query; shuffles only rows
    mentioning a query term; top-k is TakeOrdered, never a global sort
    (operators/search.py)."""
    from gcp_data_pipeline_fyp_spark.operators.search import bm25_topk

    d = _docs(spark, sf)
    return bm25_topk(d, "doc_id", "text", ["spark", "table", "join"], k=10)


SQL_BM25_SEARCH = f"""
WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
dl AS (SELECT doc_id, len(toks) AS dl FROM t),
g AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
e AS (SELECT doc_id, unnest(toks) AS term FROM t),
tf AS (SELECT e.doc_id, e.term, count(*) AS tf
       FROM e WHERE e.term IN ('spark', 'table', 'join')
       GROUP BY e.doc_id, e.term),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
s AS (
  SELECT tf.doc_id,
    sum(ln(1.0 + (g.n - df.df + 0.5) / (df.df + 0.5))
        * tf.tf * (1.2 + 1.0)
        / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / g.avgdl))) AS raw
  FROM tf JOIN df USING (term) JOIN dl ON tf.doc_id = dl.doc_id, g
  GROUP BY tf.doc_id)
SELECT doc_id, ((round((raw) * 1000000.0) / 1000000.0) + 0.0) AS score FROM s
ORDER BY score DESC, doc_id ASC LIMIT 10
"""

TEXT_QUERIES["bm25_search"] = (q_bm25_search, SQL_BM25_SEARCH)


# ------------------------------------------ hybrid retrieval fusion
def q_rrf_hybrid_search(spark: SparkSession, sf: str) -> DataFrame:
    """Hybrid search end-to-end (operators/rerank.py::rrf_fuse):
    BM25 top-20 (lexical) fused with exact-cosine top-20 (dense,
    vec_id 0 as the query over the aligned embeddings table) by
    reciprocal rank fusion — the scale-free combiner hybrid engines
    standardized on. All contributions are exact integers
    (floor(1e9/(60+rank))), so the fused order and scores replay
    bit-for-bit in the oracle, which re-derives BOTH input rankings
    from scratch."""
    from gcp_data_pipeline_fyp_spark.operators.rerank import rrf_fuse
    from gcp_data_pipeline_fyp_spark.operators.search import bm25_topk
    from gcp_data_pipeline_fyp_spark.operators.similarity import (
        brute_force_topk,
    )

    d = _docs(spark, sf)
    lex = bm25_topk(d, "doc_id", "text", ["spark", "table", "join"], k=20)
    e = load(spark, sf, "embeddings", spread=True)
    vec = brute_force_topk(
        e.filter(F.col("vec_id") == 0),
        e.filter(F.col("vec_id") > 0),
        "vec_id",
        "embedding",
        k=20,
    ).select(F.col("corpus_id").alias("doc_id"), "cosine_micro")
    fused = rrf_fuse(
        [("lex", lex, "score"), ("vec", vec, "cosine_micro")],
        id_cols=["doc_id"],
        k0=60,
        topk=10,
        unbounded_ok=True,  # both inputs are top-20 by construction
    )
    return fused.select("doc_id", "n_systems", "rrf_nano", "rrf_rank")


def _sql_rrf_hybrid_chain() -> str:
    """The rrf_hybrid WITH chain up to (and including) the ranked
    fusion CTE `rk` — shared verbatim by the standalone
    rrf_hybrid_search oracle and the hybrid_rerank_topk composition,
    which extends it with the MMR stages."""
    from gcp_data_pipeline_fyp_spark.queries_vectors import (
        _MICRO_COS,
        _SQL_COS,
    )

    return f"""
WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
dl AS (SELECT doc_id, len(toks) AS dl FROM t),
gs AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
ex AS (SELECT doc_id, unnest(toks) AS term FROM t),
tf AS (SELECT ex.doc_id, ex.term, count(*) AS tf
       FROM ex WHERE ex.term IN ('spark', 'table', 'join')
       GROUP BY ex.doc_id, ex.term),
dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
s AS (
  SELECT tf.doc_id,
    ((round((sum(ln(1.0 + (gs.n - dfq.df + 0.5) / (dfq.df + 0.5))
        * tf.tf * (1.2 + 1.0)
        / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / gs.avgdl)))) * 1000000.0)
      / 1000000.0) + 0.0) AS score
  FROM tf JOIN dfq USING (term) JOIN dl ON tf.doc_id = dl.doc_id, gs
  GROUP BY tf.doc_id),
lex AS (SELECT doc_id,
    row_number() OVER (ORDER BY score DESC, doc_id ASC) AS r FROM s),
q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id = 0),
c AS (SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS cv
      FROM embeddings WHERE vec_id > 0),
pairs AS (
  SELECT corpus_id, {_SQL_COS} AS cosine FROM c CROSS JOIN q),
vec AS (SELECT corpus_id AS doc_id,
    row_number() OVER (ORDER BY {_MICRO_COS} DESC, corpus_id ASC) AS r
  FROM pairs),
u AS (
  SELECT doc_id, (1000000 * (1000000000 // (60 + r))) // 1000000 AS contrib
  FROM lex WHERE r <= 20
  UNION ALL
  SELECT doc_id, (1000000 * (1000000000 // (60 + r))) // 1000000 AS contrib
  FROM vec WHERE r <= 20),
f AS (SELECT doc_id, count(*) AS n_systems,
        CAST(sum(contrib) AS BIGINT) AS rrf_nano
      FROM u GROUP BY doc_id),
rk AS (SELECT *, row_number() OVER
        (ORDER BY rrf_nano DESC, doc_id ASC) AS rrf_rank FROM f)"""


def _sql_rrf_hybrid() -> str:
    return (
        _sql_rrf_hybrid_chain()
        + """
SELECT doc_id, n_systems, rrf_nano, CAST(rrf_rank AS INT) AS rrf_rank
FROM rk WHERE rrf_rank <= 10
"""
    )


TEXT_QUERIES["rrf_hybrid_search"] = (q_rrf_hybrid_search, _sql_rrf_hybrid())


def q_hybrid_rerank_topk(spark: SparkSession, sf: str) -> DataFrame:
    """The full hybrid retrieval pipeline as ONE certified composition
    (DEPLOY's prescribed shape, no longer three separately-certified
    stages): BM25 top-20 + dense top-20 -> reciprocal-rank fusion
    (operators/rerank.py::rrf_fuse, top-10 pool) -> greedy MMR
    diversity re-rank (mmr_rerank, lambda=0.7, k=5) with the dense
    query-cosine as the relevance term. Every stage stays in the
    exact integer micro/nano domain, so the 5-round greedy argmax and
    both input rankings replay bit-for-bit in the oracle."""
    from gcp_data_pipeline_fyp_spark.operators.rerank import (
        mmr_rerank,
        rrf_fuse,
    )
    from gcp_data_pipeline_fyp_spark.operators.search import bm25_topk
    from gcp_data_pipeline_fyp_spark.operators.similarity import (
        brute_force_topk,
    )

    d = _docs(spark, sf)
    lex = bm25_topk(d, "doc_id", "text", ["spark", "table", "join"], k=20)
    e = load(spark, sf, "embeddings", spread=True)
    qv = e.filter(F.col("vec_id") == 0)
    corp = e.filter(F.col("vec_id") > 0)
    vec = brute_force_topk(qv, corp, "vec_id", "embedding", k=20).select(
        F.col("corpus_id").alias("doc_id"), "cosine_micro"
    )
    fused = rrf_fuse(
        [("lex", lex, "score"), ("vec", vec, "cosine_micro")],
        id_cols=["doc_id"],
        k0=60,
        topk=10,
        unbounded_ok=True,  # both inputs are top-20 by construction
    ).localCheckpoint(eager=False)
    # lazy barrier: `fused` (10 rows) feeds the MMR pool semi-join AND
    # the final rejoin — without it the whole BM25 + dense-retrieval +
    # fusion chain re-plans (and recomputes) under both consumers
    pool_vecs = corp.join(
        F.broadcast(fused.select(F.col("doc_id").alias("vec_id"))),
        "vec_id",
        "left_semi",
    )
    cand = brute_force_topk(qv, pool_vecs, "vec_id", "embedding", k=10)
    mmr = mmr_rerank(
        cand, pool_vecs, "vec_id", "embedding", k=5, lambda_micro=700_000
    )
    return mmr.join(
        fused, mmr["corpus_id"] == fused["doc_id"]
    ).select("doc_id", "mmr_rank", "cosine_micro", "rrf_nano", "rrf_rank")


def _sql_hybrid_rerank(k: int = 5, lambda_micro: int = 700_000) -> str:
    """The rrf_hybrid oracle's WITH chain (shared via
    `_sql_rrf_hybrid_chain`, no string surgery) extended with the
    pool cosine relevance, the pool pairwise-similarity matrix, and
    the k-round unrolled greedy MMR (the _mmr_sql pattern, single
    implicit query)."""
    from gcp_data_pipeline_fyp_spark.queries_vectors import (
        _pair_cos_sql,
    )

    lam, inv = lambda_micro, 1_000_000 - lambda_micro
    parts = [
        _sql_rrf_hybrid_chain()
        + f""",
pool AS (SELECT doc_id, rrf_nano, CAST(rrf_rank AS INT) AS rrf_rank
         FROM rk WHERE rrf_rank <= 10),
cand AS (SELECT corpus_id AS doc_id, {_MICRO_COS_T} AS cos_m
         FROM pairs JOIN pool ON pairs.corpus_id = pool.doc_id),
pv AS (SELECT c.corpus_id, c.cv FROM c JOIN pool ON c.corpus_id = pool.doc_id),
csim AS (
  SELECT a.corpus_id AS ca, b.corpus_id AS cb,
    CAST(round(({_pair_cos_sql("a.cv", "b.cv")}) * 1000000.0) AS BIGINT)
      AS sim_m
  FROM pv a JOIN pv b ON a.corpus_id <> b.corpus_id),
sel1 AS (
  SELECT doc_id, cos_m, 1 AS mmr_rank FROM (
    SELECT *, row_number() OVER (ORDER BY cos_m DESC, doc_id) AS rn
    FROM cand) WHERE rn = 1),
selall1 AS (SELECT * FROM sel1)"""
    ]
    for r in range(2, k + 1):
        parts.append(f""",
rem{r} AS (
  SELECT cand.* FROM cand WHERE NOT EXISTS (
    SELECT 1 FROM selall{r-1} s WHERE s.doc_id = cand.doc_id)),
sc{r} AS (
  SELECT r.doc_id, r.cos_m, max(sim_m) AS msim
  FROM rem{r} r
  JOIN selall{r-1} s ON TRUE
  JOIN csim ON ca = r.doc_id AND cb = s.doc_id
  GROUP BY 1, 2),
sel{r} AS (
  SELECT doc_id, cos_m, {r} AS mmr_rank FROM (
    SELECT *, row_number() OVER (
      ORDER BY ({lam} * cos_m - {inv} * msim) DESC, doc_id) AS rn
    FROM sc{r}) WHERE rn = 1),
selall{r} AS (SELECT * FROM selall{r-1} UNION ALL SELECT * FROM sel{r})""")
    parts.append(f"""
SELECT s.doc_id, CAST(s.mmr_rank AS INT) AS mmr_rank,
       s.cos_m AS cosine_micro, pool.rrf_nano, pool.rrf_rank
FROM selall{k} s JOIN pool USING (doc_id)""")
    return "".join(parts)


_MICRO_COS_T = "CAST(round((cosine) * 1000000.0) AS BIGINT)"

TEXT_QUERIES["hybrid_rerank_topk"] = (
    q_hybrid_rerank_topk,
    _sql_hybrid_rerank(),
)


# ------------------------------------------------- TF-IDF top terms
def q_tfidf_top_terms(spark: SparkSession, sf: str) -> DataFrame:
    """Top-3 characteristic terms per doc; vocabulary-sized df join is
    shuffled (not broadcast), per-doc top-k is a doc-partitioned window
    (operators/search.py:tfidf_top_terms)."""
    from gcp_data_pipeline_fyp_spark.operators.search import tfidf_top_terms

    d = _docs(spark, sf)
    return tfidf_top_terms(d, "doc_id", "text", k=3)


SQL_TFIDF_TOP_TERMS = f"""
WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
n AS (SELECT count(*) AS n FROM documents),
e AS (SELECT doc_id, unnest(toks) AS term FROM t),
tf AS (SELECT doc_id, term, count(*) AS tf FROM e GROUP BY doc_id, term),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
s AS (SELECT tf.doc_id, tf.term,
        ((round((tf.tf * ln(cast(n.n AS double) / df.df)) * 1000000.0) / 1000000.0) + 0.0) AS score
      FROM tf JOIN df USING (term), n),
r AS (SELECT doc_id, term, score,
        row_number() OVER (PARTITION BY doc_id
                           ORDER BY score DESC, term ASC) AS rank
      FROM s)
SELECT doc_id, term, cast(rank AS int) AS rank, score FROM r WHERE rank <= 3
"""

TEXT_QUERIES["tfidf_top_terms"] = (q_tfidf_top_terms, SQL_TFIDF_TOP_TERMS)


# -------------------------------------------- token-budget sampling
_BUDGET = 20_000


def q_token_budget_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Per-language token-budget prefix in content-hash order — the
    "N tokens of each source" mix spec
    (operators/sampling.py:token_budget_sample)."""
    from gcp_data_pipeline_fyp_spark.operators.sampling import (
        token_budget_sample,
    )

    d = _docs(spark, sf).select(
        "doc_id", "lang",
        F.coalesce(token_count("text"), F.lit(0)).alias("n_tokens"),
    )
    out = token_budget_sample(
        d, ["doc_id"], "n_tokens", "lang", budget=_BUDGET, seed=3
    )
    return out.select("doc_id", "lang", "n_tokens", "cum_weight")


from gcp_data_pipeline_fyp_spark.operators.sampling import (  # noqa: E402
    hash_bucket_sql as _hbs3,
)

_B3 = _hbs3(["doc_id"], seed=3)
SQL_TOKEN_BUDGET_SAMPLE = f"""
WITH t AS (SELECT doc_id, lang,
  coalesce(cast(len({_SQL_TOKS}) AS int), 0) AS n_tokens,
  {_B3} AS bucket FROM documents),
s AS (SELECT doc_id, lang, n_tokens,
  cast(sum(n_tokens) OVER (PARTITION BY lang ORDER BY bucket, doc_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bigint)
    AS cum_weight
  FROM t)
SELECT doc_id, lang, n_tokens, cum_weight FROM s
WHERE cum_weight <= {_BUDGET}
"""

TEXT_QUERIES["token_budget_sample"] = (q_token_budget_sample, SQL_TOKEN_BUDGET_SAMPLE)


# ----------------------- distributed per-stratum budget mix (r9)
def q_token_budget_mix(spark: SparkSession, sf: str) -> DataFrame:
    """The data-recipe mix operator (operators/sampling.py:
    token_budget_mix): per-language token budgets ("8k of en, 2k of
    de, 1.5k of zh"; es/fr carry no budget and are dropped — the
    stated-filter discipline), selection = budgeted prefix in the
    seeded md5-key order, computed with the two-level-prefix rank (no
    per-stratum single-partition sort — the giant-stratum shape
    token_budget_sample documents). The oracle replays the identical
    key order with DuckDB's plain per-stratum window: naive ==
    two-level by construction, which is exactly what the hash check
    certifies."""
    from gcp_data_pipeline_fyp_spark.operators.sampling import (
        token_budget_mix,
    )

    d = _docs(spark, sf).select(
        "doc_id", "lang",
        F.coalesce(token_count("text"), F.lit(0)).alias("n_tokens"),
    )
    out = token_budget_mix(
        d, "doc_id", "n_tokens", "lang",
        {"en": 8000, "de": 2000, "zh": 1500}, seed=3,
    )
    return out.select("doc_id", "lang", "n_tokens", "cum_weight")


SQL_TOKEN_BUDGET_MIX = f"""
WITH t AS (SELECT doc_id, lang,
  coalesce(cast(len({_SQL_TOKS}) AS int), 0) AS n_tokens,
  cast(concat('0x', substr(md5('3_' || cast(doc_id AS varchar)), 1, 15))
    AS bigint) AS k
  FROM documents WHERE lang IN ('de', 'en', 'zh')),
s AS (SELECT doc_id, lang, n_tokens,
  cast(sum(n_tokens) OVER (PARTITION BY lang ORDER BY k, doc_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bigint)
    AS cum_weight
  FROM t)
SELECT doc_id, lang, n_tokens, cum_weight FROM s
WHERE cum_weight <= CASE lang WHEN 'en' THEN 8000
                              WHEN 'de' THEN 2000
                              ELSE 1500 END
"""

TEXT_QUERIES["token_budget_mix"] = (q_token_budget_mix, SQL_TOKEN_BUDGET_MIX)


# -------------------------------------------------- corpus mix report
def q_corpus_mix_report(spark: SparkSession, sf: str) -> DataFrame:
    """Mixture dashboard: per (lang, length bucket) doc count, token
    total, and token share of the corpus. Tiny group-by + one broadcast
    scalar — a single scan at any corpus size."""
    d = _docs(spark, sf)
    n_tok = F.coalesce(token_count("text"), F.lit(0))
    base = d.select(
        "lang",
        F.when(n_tok < 40, "short")
        .when(n_tok < 80, "medium")
        .otherwise("long")
        .alias("len_bucket"),
        n_tok.alias("n_tokens"),
    )
    grouped = base.groupBy("lang", "len_bucket").agg(
        F.count("*").alias("n_docs"), F.sum("n_tokens").alias("tokens")
    )
    total = F.broadcast(base.agg(F.sum("n_tokens").alias("__total")))
    return grouped.crossJoin(total).select(
        "lang", "len_bucket", "n_docs", "tokens",
        roundn(F.col("tokens") / F.col("__total"), 6).alias("token_share"),
    )


SQL_CORPUS_MIX_REPORT = f"""
WITH t AS (SELECT lang,
  coalesce(cast(len({_SQL_TOKS}) AS int), 0) AS n_tokens FROM documents),
b AS (SELECT lang,
  CASE WHEN n_tokens < 40 THEN 'short'
       WHEN n_tokens < 80 THEN 'medium' ELSE 'long' END AS len_bucket,
  n_tokens FROM t),
g AS (SELECT lang, len_bucket, count(*) AS n_docs,
             sum(n_tokens) AS tokens FROM b GROUP BY lang, len_bucket),
tot AS (SELECT sum(n_tokens) AS total FROM b)
SELECT lang, len_bucket, n_docs, cast(tokens AS bigint) AS tokens,
  ((round((cast(tokens AS double) / tot.total) * 1000000.0) / 1000000.0) + 0.0) AS token_share
FROM g, tot
"""

TEXT_QUERIES["corpus_mix_report"] = (q_corpus_mix_report, SQL_CORPUS_MIX_REPORT)


# --------------------------------------- PageRank over similarity graph
def q_pagerank_sim_graph(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed 5-iteration PageRank over the LSH candidate-pair graph —
    centrality inside duplicate neighborhoods (a canonical-doc picker
    smarter than min-id). Decimal contribution sums make ranks
    byte-identical on any partitioning (operators/components.py)."""
    from gcp_data_pipeline_fyp_spark.operators.components import pagerank

    d = _docs_with_neardups(spark, sf)
    pairs = minhash_lsh_candidates(
        d, "doc_id", "text", num_hashes=_NUM_HASHES, bands=_BANDS
    )
    out = pagerank(pairs, iters=5)
    pairs.unpersist()  # ranks are localCheckpointed; release the cache
    return out.select(
        F.col("node").alias("doc_id"), roundn("rank", 6).alias("rank")
    )


from gcp_data_pipeline_fyp_spark.operators.components import (  # noqa: E402
    pagerank_iteration_sql as _pr_iter,
)

_PR_ITERS = " ,".join(_pr_iter(f"r{i-1}", i) for i in range(1, 6))
SQL_PAGERANK_SIM_GRAPH = f"""
WITH pairs AS ({SQL_MINHASH_LSH_PAIRS}),
e0 AS (SELECT id_a AS a, id_b AS b FROM pairs
       UNION SELECT id_b, id_a FROM pairs),
degs AS (SELECT a, count(*) AS deg FROM e0 GROUP BY a),
ed AS (SELECT e0.a, e0.b, degs.deg FROM e0 JOIN degs USING (a)),
nodes AS (SELECT DISTINCT a AS v FROM e0),
n AS (SELECT count(*) AS n FROM nodes),
r0 AS (SELECT v, cast(1 AS double) / n.n AS rank FROM nodes CROSS JOIN n),
{_PR_ITERS}
SELECT v AS doc_id, ((round((rank) * 1000000.0) / 1000000.0) + 0.0) AS rank FROM r5
"""

TEXT_QUERIES["pagerank_sim_graph"] = (q_pagerank_sim_graph, SQL_PAGERANK_SIM_GRAPH)


# ----------------------------------------- triangle closure (r6)
def q_triangle_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Per-doc triangle participation in the MinHash-LSH candidate
    graph (operators/components.py:triangle_counts) — closure density
    separates real near-dup cliques from chains of spurious band
    collisions. Window is r6-queue."""
    from gcp_data_pipeline_fyp_spark.operators.components import (
        triangle_counts,
    )

    d = _docs_with_neardups(spark, sf)
    pairs = minhash_lsh_candidates(
        d, "doc_id", "text", num_hashes=_NUM_HASHES, bands=_BANDS
    )
    out = triangle_counts(pairs).select(
        F.col("node").alias("doc_id"), "n_triangles"
    )
    pairs.unpersist()
    return out


SQL_TRIANGLE_COUNTS = f"""
WITH pairs AS ({SQL_MINHASH_LSH_PAIRS}),
e AS (SELECT DISTINCT least(id_a, id_b) AS a, greatest(id_a, id_b) AS b
      FROM pairs WHERE id_a <> id_b),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e e1 JOIN e e2 ON e2.a = e1.b
            JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
corners AS (
  SELECT x AS doc_id FROM tri
  UNION ALL SELECT y FROM tri
  UNION ALL SELECT z FROM tri)
SELECT doc_id, count(*) AS n_triangles FROM corners GROUP BY doc_id
"""

TEXT_QUERIES["triangle_counts"] = (q_triangle_counts, SQL_TRIANGLE_COUNTS)


# ------------------------------------------------- k-core peel (r6)
def q_kcore_docs(spark: SparkSession, sf: str) -> DataFrame:
    """2-core of the MinHash-LSH candidate graph after a bounded
    4-round peel (operators/components.py:kcore) — the densest-region
    filter: near-dup clusters survive, chains of borderline band
    collisions peel away. Window is r6-queue."""
    from gcp_data_pipeline_fyp_spark.operators.components import kcore

    d = _docs_with_neardups(spark, sf)
    pairs = minhash_lsh_candidates(
        d, "doc_id", "text", num_hashes=_NUM_HASHES, bands=_BANDS
    )
    out = kcore(pairs, k=2, rounds=4).select(
        F.col("node").alias("doc_id"), "degree"
    )
    pairs.unpersist()
    return out


def _kcore_round_sql(i: int, k: int) -> str:
    return (
        f"kc{i} AS (SELECT a, b FROM kc{i-1} WHERE "
        f"a IN (SELECT a FROM kc{i-1} GROUP BY a HAVING count(*) >= {k}) "
        f"AND b IN (SELECT a FROM kc{i-1} GROUP BY a HAVING count(*) >= {k}))"
    )


SQL_KCORE_DOCS = f"""
WITH pairs AS ({SQL_MINHASH_LSH_PAIRS}),
und AS (SELECT DISTINCT least(id_a, id_b) AS x, greatest(id_a, id_b) AS y
        FROM pairs WHERE id_a <> id_b),
kc0 AS (SELECT x AS a, y AS b FROM und UNION ALL SELECT y, x FROM und),
{", ".join(_kcore_round_sql(i, 2) for i in range(1, 5))}
SELECT a AS doc_id, count(*) AS degree FROM kc4 GROUP BY a
"""

TEXT_QUERIES["kcore_docs"] = (q_kcore_docs, SQL_KCORE_DOCS)


# --------------------------------- canonical doc per duplicate cluster
def q_canonical_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Dedup keep-policy upgrade: per duplicate cluster keep the
    highest-PageRank member (most-central copy) instead of min-id —
    closure + centrality composed from the same candidate-pair graph;
    isolated docs keep themselves with rank 0."""
    from gcp_data_pipeline_fyp_spark.operators.components import (
        dup_clusters,
        pagerank,
    )

    d = _docs_with_neardups(spark, sf)
    pairs = minhash_lsh_candidates(
        d, "doc_id", "text", num_hashes=_NUM_HASHES, bands=_BANDS
    )
    labeled = dup_clusters(d, pairs, "doc_id")
    ranks = pagerank(pairs, iters=5).withColumnRenamed("node", "doc_id")
    pairs.unpersist()
    j = labeled.join(ranks, "doc_id", "left").select(
        "doc_id",
        "cluster_id",
        F.coalesce(roundn("rank", 6), F.lit(0.0)).alias("rank"),
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("rank").desc(), F.col("doc_id").asc()
    )
    return (
        j.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("doc_id", "cluster_id", "rank")
    )


SQL_CANONICAL_DOCS = f"""
WITH RECURSIVE pairs AS ({SQL_MINHASH_LSH_PAIRS}),
u2 AS ({_SQL_DOCS_WITH_NEARDUPS}),
e0 AS (SELECT id_a AS a, id_b AS b FROM pairs
       UNION SELECT id_b, id_a FROM pairs),
reach(v, l) AS (
  SELECT a, a FROM e0
  UNION
  SELECT e.a, r.l FROM e0 e JOIN reach r ON e.b = r.v),
comp AS (SELECT v, min(l) AS component FROM reach GROUP BY v),
degs AS (SELECT a, count(*) AS deg FROM e0 GROUP BY a),
ed AS (SELECT e0.a, e0.b, degs.deg FROM e0 JOIN degs USING (a)),
nodes AS (SELECT DISTINCT a AS v FROM e0),
n AS (SELECT count(*) AS n FROM nodes),
r0 AS (SELECT v, cast(1 AS double) / n.n AS rank FROM nodes CROSS JOIN n),
{_PR_ITERS},
cl AS (SELECT u2.doc_id, coalesce(comp.component, u2.doc_id) AS cluster_id
       FROM u2 LEFT JOIN comp ON u2.doc_id = comp.v),
rk AS (SELECT cl.doc_id, cl.cluster_id,
              coalesce(((round((r5.rank) * 1000000.0) / 1000000.0) + 0.0), 0.0) AS rank
       FROM cl LEFT JOIN r5 ON cl.doc_id = r5.v),
sel AS (SELECT *, row_number() OVER (PARTITION BY cluster_id
          ORDER BY rank DESC, doc_id ASC) AS rn FROM rk)
SELECT doc_id, cluster_id, rank FROM sel WHERE rn = 1
"""

TEXT_QUERIES["canonical_docs"] = (q_canonical_docs, SQL_CANONICAL_DOCS)


# ------------------------------------- unigram-LM quality scoring
def q_unigram_logprob_score(spark: SparkSession, sf: str) -> DataFrame:
    """LM-based quality score (CCNet-style filtering, public method):
    train a unigram LM on the corpus itself (add-one smoothed), score
    each doc by mean -log2 p(token) — high perplexity flags gibberish.
    Two aggregations over one explode: vocab probs (persisted — feeds
    every doc's score), then a token->prob join + per-doc mean. The
    vocab join shuffles on the term like tfidf; the corpus scalars are
    broadcast."""
    d = _docs(spark, sf)
    pairs = d.select(
        "doc_id", F.explode(F.coalesce(tokens("text"), F.array())).alias("tok")
    )
    counts = pairs.groupBy("tok").agg(F.count("*").alias("c")).persist()
    scalars = F.broadcast(
        counts.agg(
            F.sum("c").alias("total"), F.count("*").alias("vocab")
        )
    )
    scored = (
        pairs.join(counts, "tok")
        .crossJoin(scalars)
        .select(
            "doc_id",
            (
                -F.log2(
                    (F.col("c") + 1.0) / (F.col("total") + F.col("vocab"))
                )
            ).alias("nll"),
        )
    )
    out = (
        scored.groupBy("doc_id")
        .agg(
            roundn(F.sum(F.col("nll").cast("decimal(18,6)")).cast("double")
                    / F.count("*"), 6).alias("mean_nll"),
            F.count("*").alias("n_scored")
        )
    )
    out = out.persist()
    out.count()
    counts.unpersist()
    return out


SQL_UNIGRAM_LOGPROB = f"""
WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
e AS (SELECT doc_id, unnest(toks) AS tok FROM t),
c AS (SELECT tok, count(*) AS c FROM e GROUP BY tok),
s AS (SELECT sum(c) AS total, count(*) AS vocab FROM c),
n AS (SELECT e.doc_id,
        -log2((c.c + 1.0) / (s.total + s.vocab)) AS nll
      FROM e JOIN c USING (tok) CROSS JOIN s)
SELECT doc_id,
  ((round((cast(sum(cast(nll AS decimal(18,6))) AS double) / count(*)) * 1000000.0) / 1000000.0) + 0.0)
    AS mean_nll,
  count(*) AS n_scored
FROM n GROUP BY doc_id
"""

TEXT_QUERIES["unigram_logprob_score"] = (q_unigram_logprob_score, SQL_UNIGRAM_LOGPROB)


# ----------------------- full training-corpus pipeline (flagship compose)
def q_corpus_prep_full(spark: SparkSession, sf: str) -> DataFrame:
    """The complete pretraining-corpus pipeline in one plan:
    Gopher quality filter -> benchmark decontamination (5-gram) ->
    digest-keyed exact dedup -> MinHash-LSH near-dup closure (keep the
    min-id member of each duplicate cluster) -> stable train/val/test
    split. Every stage is the production operator, composed; the whole
    chain hash-matches one DuckDB SQL statement."""
    from gcp_data_pipeline_fyp_spark.functions.text import gopher_keep
    from gcp_data_pipeline_fyp_spark.operators.components import dup_clusters
    from gcp_data_pipeline_fyp_spark.operators.decontaminate import decontaminate
    from gcp_data_pipeline_fyp_spark.operators.dedup import exact_dedup
    from gcp_data_pipeline_fyp_spark.operators.sampling import hash_split

    d = _docs_with_neardups(spark, sf)
    q = d.filter(gopher_keep(F.col("text")))
    bench = d.filter(F.col("doc_id") % 97 == 0)
    q2 = decontaminate(q, "doc_id", "text", bench, "text", n=5)
    # stage materialization: the deduped corpus feeds three consumers
    # (LSH signing, the cluster join, the final split) — lazy
    # localCheckpoint computes it once at the first action and serves
    # the rest from executor blocks (GC-managed, no explicit unpersist).
    # On a real cluster this stage boundary is where a production run
    # writes the post-dedup corpus to object store instead.
    kept = exact_dedup(q2, ["text"], "doc_id").localCheckpoint(eager=False)
    pairs = minhash_lsh_candidates(
        kept, "doc_id", "text", num_hashes=_NUM_HASHES, bands=_BANDS
    )
    labeled = dup_clusters(kept, pairs, "doc_id")
    pairs.unpersist()
    canon = labeled.filter(F.col("doc_id") == F.col("cluster_id"))
    split = hash_split(
        canon, ["doc_id"], {"train": 0.8, "val": 0.1, "test": 0.1}, seed=7
    )
    return split.select("doc_id", "lang", "split")


def _sql_lsh_pairs_ctes(src: str) -> str:
    """The LSH candidate-pair CTE chain over an arbitrary source CTE
    (mirrors SQL_MINHASH_LSH_PAIRS, which is hard-wired to u)."""
    return f"""
t2 AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM {src}),
s2 AS (SELECT doc_id, {_SQL_SHINGLES} AS sh FROM t2),
bb2 AS (SELECT doc_id, {_SQL_BASE} AS base FROM s2),
sig2 AS (SELECT doc_id, {_SQL_SIG} AS sig FROM bb2),
bands2 AS (
  SELECT doc_id, b,
    concat_ws('|', sig2.sig[b*2+1], sig2.sig[b*2+2]) AS bsig
  FROM sig2, unnest(generate_series(0, 3)) AS g(b)),
nz2 AS (SELECT * FROM bands2 WHERE bsig <> ''),
pairs2 AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM nz2 a JOIN nz2 b
    ON a.b = b.b AND a.bsig = b.bsig AND a.doc_id < b.doc_id)"""


SQL_CORPUS_PREP_FULL = f"""
WITH RECURSIVE u AS ({_SQL_DOCS_WITH_NEARDUPS}),
t AS (SELECT *, {_SQL_TOKS} AS toks FROM u),
m AS (SELECT *, len(toks) AS n,
  cast(list_sum(list_transform(toks, t -> length(t))) AS double)
    / nullif(len(toks), 0) AS mean_len,
  cast(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS double) AS symbols,
  len(list_filter(toks, t -> t IN {_SQL_EN})) AS stop_hits
  FROM t),
q AS (SELECT doc_id, lang, text FROM m
  WHERE coalesce(n >= 50 AND n <= 100000
    AND mean_len >= 3 AND mean_len <= 10
    AND symbols / nullif(n, 0) < 0.1
    AND stop_hits >= 2, false)),
tg AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM u),
g AS (SELECT doc_id, unnest({_sql_shingles_n(5)}) AS ngram FROM tg),
bench AS (SELECT DISTINCT ngram FROM g WHERE doc_id % 97 = 0),
bad AS (SELECT DISTINCT g.doc_id FROM g JOIN bench USING (ngram)),
q2 AS (SELECT * FROM q WHERE doc_id NOT IN (SELECT doc_id FROM bad)),
kept AS (SELECT * FROM q2
  WHERE doc_id IN (SELECT min(doc_id) FROM q2 GROUP BY text)),
{_sql_lsh_pairs_ctes("kept")},
ed2 AS (SELECT id_a AS a, id_b AS b FROM pairs2
        UNION SELECT id_b, id_a FROM pairs2),
reach(v, l) AS (
  SELECT a, a FROM ed2
  UNION
  SELECT e.a, r.l FROM ed2 e JOIN reach r ON e.b = r.v),
comp AS (SELECT v, min(l) AS component FROM reach GROUP BY v),
canon AS (SELECT kept.doc_id, kept.lang FROM kept
  LEFT JOIN comp ON kept.doc_id = comp.v
  WHERE coalesce(comp.component, kept.doc_id) = kept.doc_id)
SELECT doc_id, lang,
  CASE WHEN {_B7P} < 800000 THEN 'train'
       WHEN {_B7P} < 900000 THEN 'val'
       ELSE 'test' END AS split
FROM canon
"""

TEXT_QUERIES["corpus_prep_full"] = (q_corpus_prep_full, SQL_CORPUS_PREP_FULL)


# ---------------------------------------------------------- paragraph dedup
def q_paragraph_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """C4-style span-level dedup: a shared footer (and a 3-variant promo
    line) is planted in every document; corpus-wide paragraph dedup must
    keep each repeated span only at its first (doc_id, position) and
    reassemble the docs — doc-level dedup would remove nothing here."""
    from gcp_data_pipeline_fyp_spark.operators.dedup import paragraph_dedup

    footer = "Subscribe to our newsletter for the latest updates."
    promo = F.concat(
        F.lit("Follow us on social media - channel "),
        (F.col("doc_id") % 3).cast("string"),
    )
    docs = _docs(spark, sf).select(
        "doc_id",
        F.concat_ws("\n\n", F.col("text"), F.lit(footer), promo).alias("text"),
    )
    out = paragraph_dedup(docs, "doc_id", "text")
    return out.select(
        "doc_id",
        F.md5("text").alias("text_md5"),
        F.col("n_paras").cast("long").alias("n_paras"),
    ).orderBy("doc_id")


SQL_PARAGRAPH_DEDUP = """
WITH docs AS (
  SELECT doc_id,
         text || chr(10) || chr(10)
              || 'Subscribe to our newsletter for the latest updates.'
              || chr(10) || chr(10)
              || 'Follow us on social media - channel '
              || CAST(doc_id % 3 AS VARCHAR) AS text
  FROM documents
),
split_docs AS (
  SELECT doc_id, string_split(text, chr(10) || chr(10)) AS l FROM docs
),
parts AS (
  SELECT doc_id, unnest(l) AS para, generate_subscripts(l, 1) AS pos
  FROM split_docs
),
kept AS (
  SELECT doc_id, pos, para,
         row_number() OVER (PARTITION BY md5(para)
                            ORDER BY doc_id, pos) AS rn
  FROM parts WHERE length(para) >= 1
)
SELECT doc_id,
       md5(string_agg(para, chr(10) || chr(10) ORDER BY pos)) AS text_md5,
       count(*) AS n_paras
FROM kept WHERE rn = 1
GROUP BY doc_id
ORDER BY doc_id
"""

TEXT_QUERIES["paragraph_dedup"] = (q_paragraph_dedup, SQL_PARAGRAPH_DEDUP)


# ---------------------------------------------------- web-scrape cleanup
def q_clean_html_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Web-crawl ingestion shape: every doc is wrapped in an HTML page
    with entities and two links (one with uppercase scheme/host, a
    trailing-slash path, and a fragment). Strip to visible text,
    extract the URLs, canonicalize the first — all pure Catalyst
    regexp ops (functions/text.py), RE2-subset patterns so the oracle
    runs the identical regexes."""
    from gcp_data_pipeline_fyp_spark.functions.text import (
        extract_urls,
        normalize_url,
        strip_html,
    )

    html = F.concat(
        F.lit(
            "<html><head><title>Doc</title><style>p {color: red}</style>"
            "</head><body><p>"
        ),
        F.col("text"),
        F.lit(
            '</p>&nbsp;&amp; more &lt;tags&gt;'
            '<a href="HTTPS://Example.COM/Path/A/?q=1&utm=x#frag">x</a>'
            '<a href="http://host-'
        ),
        (F.col("doc_id") % 7).cast("string"),
        F.lit('.org/p/">y</a></body></html>'),
    )
    docs = _docs(spark, sf).select("doc_id", html.alias("html"))
    urls = extract_urls(F.col("html"))
    return docs.select(
        "doc_id",
        F.md5(strip_html(F.col("html"))).alias("clean_md5"),
        F.size(urls).cast("long").alias("n_urls"),
        normalize_url(F.try_element_at(urls, F.lit(1))).alias("first_url"),
    ).orderBy("doc_id")


SQL_CLEAN_HTML_DOCS = """
WITH docs AS (
  SELECT doc_id,
    '<html><head><title>Doc</title><style>p {color: red}</style></head><body><p>'
    || text ||
    '</p>&nbsp;&amp; more &lt;tags&gt;<a href="HTTPS://Example.COM/Path/A/?q=1&utm=x#frag">x</a><a href="http://host-'
    || CAST(doc_id % 7 AS VARCHAR) ||
    '.org/p/">y</a></body></html>' AS html
  FROM documents
),
base AS (
  SELECT doc_id,
    md5(trim(regexp_replace(
      replace(replace(replace(replace(replace(replace(
        regexp_replace(html, '<[^>]*>', ' ', 'g'),
        '&nbsp;', ' '), '&amp;', '&'), '&lt;', '<'), '&gt;', '>'),
        '&quot;', '"'), '&#39;', ''''),
      '\\s+', ' ', 'g'))) AS clean_md5,
    regexp_extract_all(html, '(?i)https?://[^\\s"''<>]+') AS us
  FROM docs
),
firsts AS (
  SELECT doc_id, clean_md5, len(us) AS n_urls,
         regexp_replace(us[1], '#.*$', '') AS u
  FROM base
),
parts AS (
  SELECT doc_id, clean_md5, n_urls, u,
    lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
    lower(regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS host,
    regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$', 1) AS rest
  FROM firsts
)
SELECT doc_id, clean_md5, CAST(n_urls AS BIGINT) AS n_urls,
  CASE WHEN scheme = '' THEN u
       ELSE scheme || '://' || host ||
            regexp_replace(regexp_extract(rest, '^([^?]*)', 1), '/+$', '', 'g') ||
            regexp_extract(rest, '(\\?.*)', 1)
  END AS first_url
FROM parts
ORDER BY doc_id
"""

TEXT_QUERIES["clean_html_docs"] = (q_clean_html_docs, SQL_CLEAN_HTML_DOCS)


# ------------------------------------------- boilerplate line filtering
def q_boilerplate_docs(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet-style high-document-frequency span scrub: a footer planted
    in EVERY doc (df = n) and a promo line with 3 variants (df ≈ n/3)
    both exceed the 1%-of-corpus threshold and must vanish from every
    document; each doc's own paragraphs (df ≤ a handful of exact-dup
    copies) survive. Complements `paragraph_dedup`, which would keep
    one copy of the footer — boilerplate filtering keeps zero."""
    from gcp_data_pipeline_fyp_spark.operators.dedup import boilerplate_line_filter

    footer = "Subscribe to our newsletter for the latest updates."
    promo = F.concat(
        F.lit("Follow us on social media - channel "),
        (F.col("doc_id") % 3).cast("string"),
    )
    docs = _docs(spark, sf).select(
        "doc_id",
        F.concat_ws("\n\n", F.col("text"), F.lit(footer), promo).alias("text"),
    )
    out = boilerplate_line_filter(docs, "doc_id", "text")
    return out.select(
        "doc_id",
        F.md5("text").alias("text_md5"),
        F.col("n_paras").cast("long").alias("n_paras"),
    ).orderBy("doc_id")


SQL_BOILERPLATE_DOCS = """
WITH docs AS (
  SELECT doc_id,
         text || chr(10) || chr(10)
              || 'Subscribe to our newsletter for the latest updates.'
              || chr(10) || chr(10)
              || 'Follow us on social media - channel '
              || CAST(doc_id % 3 AS VARCHAR) AS text
  FROM documents
),
split_docs AS (
  SELECT doc_id, string_split(text, chr(10) || chr(10)) AS l FROM docs
),
parts AS (
  SELECT doc_id, unnest(l) AS para, generate_subscripts(l, 1) AS pos
  FROM split_docs
),
thresh AS (
  SELECT greatest(2, CAST(ceil(0.01 * count(*)) AS BIGINT)) AS t FROM docs
),
boiler AS (
  SELECT md5(para) AS d
  FROM parts WHERE length(para) >= 1
  GROUP BY md5(para)
  HAVING count(DISTINCT doc_id) > (SELECT t FROM thresh)
)
SELECT doc_id,
       md5(string_agg(para, chr(10) || chr(10) ORDER BY pos)) AS text_md5,
       count(*) AS n_paras
FROM parts
WHERE length(para) >= 1
  AND md5(para) NOT IN (SELECT d FROM boiler)
GROUP BY doc_id
ORDER BY doc_id
"""

TEXT_QUERIES["boilerplate_docs"] = (q_boilerplate_docs, SQL_BOILERPLATE_DOCS)


# --------------------------------------------------- encoding repair pass
def _mojibake(s: str) -> str:
    """Corrupt `s` the classic way: UTF-8 bytes mis-decoded as cp1252
    (undefined cp1252 bytes fall back to their Latin-1 codepoint, which
    is exactly what lenient decoders emit). The probe plants corruption
    with this helper and repairs it with functions.text.clean_text, so
    the round-trip is honest by construction."""
    out = []
    for b in s.encode("utf-8"):
        try:
            out.append(bytes([b]).decode("cp1252"))
        except UnicodeDecodeError:
            out.append(chr(b))
    return "".join(out)


_CLEAN_SENTENCE = "It’s école “quote” — done"
# mojibake'd sentence + CRLF + tab/double-space + BEL control + newline run
DIRTY_PREFIX = (
    _mojibake(_CLEAN_SENTENCE) + "\r\ntab\tand  double space\x07\n\n\n\n"
)


def _sql_str(s: str) -> str:
    """Render a Python string as a DuckDB string expression; control and
    other non-printable chars become chr(n) pieces."""
    parts: list[str] = []
    buf = ""
    for ch in s:
        if ord(ch) < 32 or ord(ch) == 0x7F or ord(ch) == 0x9D:
            if buf:
                parts.append("'" + buf.replace("'", "''") + "'")
                buf = ""
            parts.append(f"chr({ord(ch)})")
        else:
            buf += ch
    if buf:
        parts.append("'" + buf.replace("'", "''") + "'")
    return " || ".join(parts) if parts else "''"


def _sql_clean_text(expr: str) -> str:
    """DuckDB rendering of functions.text.clean_text, step for step."""
    from gcp_data_pipeline_fyp_spark.functions.text import (
        CONTROL_CHARS,
        MOJIBAKE_PAIRS,
    )

    e = expr
    for bad, good in MOJIBAKE_PAIRS:
        e = f"replace({e}, {_sql_str(bad)}, {_sql_str(good)})"
    e = f"regexp_replace({e}, '\\r\\n?', chr(10), 'g')"
    e = f"regexp_replace({e}, '{CONTROL_CHARS}', '', 'g')"
    e = f"regexp_replace({e}, '[ \\t]+', ' ', 'g')"
    e = f"regexp_replace({e}, ' ?\\n ?', chr(10), 'g')"
    e = f"regexp_replace({e}, '\\n{{3,}}', chr(10) || chr(10), 'g')"
    return f"trim({e})"


def q_clean_text_docs(spark: SparkSession, sf: str) -> DataFrame:
    """ftfy-lite normalization over mojibake-corrupted docs: repair the
    cp1252 sequences, normalize line endings, strip controls, collapse
    runs — one pure-Catalyst projection (functions/text.py:clean_text),
    no shuffle at all: the whole pass runs at parquet scan speed."""
    from gcp_data_pipeline_fyp_spark.functions.text import clean_text

    docs = _docs(spark, sf).select(
        "doc_id",
        F.concat(F.lit(DIRTY_PREFIX), F.col("text")).alias("text"),
    )
    cleaned = clean_text(F.col("text"))
    return docs.select(
        "doc_id",
        F.md5(cleaned).alias("text_md5"),
        F.length(cleaned).cast("long").alias("n_chars_clean"),
    ).orderBy("doc_id")


SQL_CLEAN_TEXT_DOCS = f"""
WITH cleaned AS (
  SELECT doc_id,
         {_sql_clean_text(f"{_sql_str(DIRTY_PREFIX)} || text")} AS t
  FROM documents
)
SELECT doc_id, md5(t) AS text_md5, CAST(length(t) AS BIGINT) AS n_chars_clean
FROM cleaned
ORDER BY doc_id
"""

TEXT_QUERIES["clean_text_docs"] = (q_clean_text_docs, SQL_CLEAN_TEXT_DOCS)


# ------------------------------------------------ per-domain crawl stats
def q_domain_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Crawl-curation rollup: docs carry a source URL (planted here —
    5 subdomains x 7 sites so subdomains must collapse into registered
    domains); per domain, doc count, distinct hosts, mean doc length,
    and corpus share. At 100 TB this is one partial-agg shuffle on a
    low-cardinality key; the corpus-share denominator comes from a
    post-agg window over the handful of domain rows, not a second scan."""
    from gcp_data_pipeline_fyp_spark.functions.text import (
        registered_domain,
        url_host,
    )

    url = F.concat(
        F.lit("https://sub"),
        (F.col("doc_id") % 5).cast("string"),
        F.lit(".site"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".example/p/"),
        F.col("doc_id").cast("string"),
    )
    docs = _docs(spark, sf).select(
        "doc_id", "n_chars", url_host(url).alias("host")
    )
    agg = (
        docs.groupBy(registered_domain("host").alias("domain"))
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("host").alias("n_hosts"),
            roundn(
                F.avg(F.col("n_chars").cast("decimal(18,6)")), 6
            ).alias("avg_chars"),
        )
    )
    total = F.sum("n_docs").over(Window.partitionBy())
    # integer micro-units on the certification surface: doc_share goes
    # sub-0.001 as the domain count grows (JVM scientific notation) and
    # decimal reaches the driver as Decimal vs DuckDB's float64 — only
    # int64 renders identically in both engines (queries_util.micro6).
    return agg.select(
        "domain",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_hosts").cast("long").alias("n_hosts"),
        micro6(F.col("avg_chars")).alias("avg_chars_micro"),
        micro6(F.col("n_docs") / total).alias("doc_share_micro"),
    ).orderBy("domain")


SQL_DOMAIN_STATS = f"""
WITH docs AS (
  SELECT doc_id, n_chars,
    lower(regexp_extract(
      'https://sub' || CAST(doc_id % 5 AS VARCHAR) || '.site'
        || CAST(doc_id % 7 AS VARCHAR) || '.example/p/'
        || CAST(doc_id AS VARCHAR),
      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS host
  FROM documents
),
agg AS (
  SELECT regexp_extract(regexp_replace(host, ':[0-9]+$', ''),
                        '([^.]+\\.[^.]+)$', 1) AS domain,
         count(*) AS n_docs,
         count(DISTINCT host) AS n_hosts,
         ((round((avg(CAST(n_chars AS DECIMAL(18,6)))) * 1000000.0) / 1000000.0) + 0.0) AS avg_chars
  FROM docs
  GROUP BY 1
)
SELECT domain,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_hosts AS BIGINT) AS n_hosts,
       {micro6_sql('avg_chars')} AS avg_chars_micro,
       {micro6_sql('n_docs / sum(n_docs) OVER ()')} AS doc_share_micro
FROM agg
ORDER BY domain
"""

TEXT_QUERIES["domain_stats"] = (q_domain_stats, SQL_DOMAIN_STATS)


# --------------------------------------------- temperature-scaled mixing
def q_temperature_mix(spark: SparkSession, sf: str) -> DataFrame:
    """Temperature-scaled language rebalancing (alpha=0.5, half the
    corpus): rare languages keep a larger fraction of their docs than
    common ones — the multilingual-pretraining mix — with every kept
    row a pure function of (doc_id, seed)
    (operators/sampling.py:temperature_mix_sample)."""
    from gcp_data_pipeline_fyp_spark.operators.sampling import (
        temperature_mix_sample,
    )

    d = _docs(spark, sf)
    out = temperature_mix_sample(
        d, ["doc_id"], "lang", alpha=0.5, target_frac=0.5, seed=13
    )
    return out.select("doc_id", "lang").orderBy("doc_id")


from gcp_data_pipeline_fyp_spark.operators.sampling import (  # noqa: E402
    hash_bucket_sql as _hbs13,
)

_B13 = _hbs13(["doc_id"], seed=13)
SQL_TEMPERATURE_MIX = f"""
WITH stats AS (
  SELECT lang, count(*) AS n FROM documents GROUP BY 1
),
qr AS (
  SELECT lang, n,
         CAST(((round((pow(n * 1.0 / (SELECT sum(n) FROM stats), 0.5))
              * 1000000000000.0) / 1000000000000.0) + 0.0) AS DECIMAL(20,12)) AS w
  FROM stats
),
th AS (
  SELECT lang,
         CAST(round(least(
           1.0,
           0.5 * (SELECT sum(n) FROM stats)
               * (CAST(w AS DOUBLE) / CAST((SELECT sum(w) FROM qr) AS DOUBLE))
               / n
         ) * 1000000, 0) AS BIGINT) AS thresh
  FROM qr
)
SELECT d.doc_id, d.lang
FROM documents d JOIN th USING (lang)
WHERE {_B13} < th.thresh
ORDER BY d.doc_id
"""

TEXT_QUERIES["temperature_mix"] = (q_temperature_mix, SQL_TEMPERATURE_MIX)


# -------------------------------------------- filter chains + attribution
def _doc_filter_chain():
    """Gopher-lite keep-predicates over documents — shared by the
    filter-chain probes (operators/filters.py)."""
    return [
        ("min_chars", F.col("n_chars") >= 50),
        ("max_chars", F.col("n_chars") <= 5000),
        ("has_vowels", F.col("text").rlike("[aeiou]")),
        ("en_only", F.col("lang") == "en"),
    ]


_SQL_FIRST_FAIL = """
    CASE WHEN NOT coalesce(n_chars >= 50, FALSE) THEN 'min_chars'
         WHEN NOT coalesce(n_chars <= 5000, FALSE) THEN 'max_chars'
         WHEN NOT coalesce(regexp_matches(text, '[aeiou]'), FALSE)
           THEN 'has_vowels'
         WHEN NOT coalesce(lang = 'en', FALSE) THEN 'en_only'
         ELSE '_kept' END
"""


def q_filter_chain_report(spark: SparkSession, sf: str) -> DataFrame:
    """First-fail drop attribution for a 4-filter curation cascade —
    one corpus scan, |chain|+1 output rows (operators/filters.py:
    filter_chain_report), the table every curation paper publishes."""
    from gcp_data_pipeline_fyp_spark.operators.filters import (
        filter_chain_report,
    )

    d = _docs(spark, sf)
    return filter_chain_report(d, _doc_filter_chain()).orderBy("filter")


SQL_FILTER_CHAIN_REPORT = f"""
WITH labeled AS (
  SELECT {_SQL_FIRST_FAIL} AS filter FROM documents),
counts AS (SELECT filter, count(*) AS n_rows FROM labeled GROUP BY 1),
names(filter) AS (VALUES ('min_chars'), ('max_chars'), ('has_vowels'),
                         ('en_only'), ('_kept'))
SELECT names.filter, coalesce(n_rows, 0) AS n_rows
FROM names LEFT JOIN counts USING (filter)
ORDER BY filter
"""

TEXT_QUERIES["filter_chain_report"] = (q_filter_chain_report, SQL_FILTER_CHAIN_REPORT)


def q_filter_fail_matrix(spark: SparkSession, sf: str) -> DataFrame:
    """Order-blind per-filter failure counts in one aggregate row
    (operators/filters.py:filter_fail_matrix) — shows the overlap that
    first-fail attribution hides."""
    from gcp_data_pipeline_fyp_spark.operators.filters import (
        filter_fail_matrix,
    )

    d = _docs(spark, sf)
    return filter_fail_matrix(d, _doc_filter_chain())


SQL_FILTER_FAIL_MATRIX = """
SELECT
  -- CAST ... AS BIGINT on every bare sum: DuckDB's sum() returns
  -- HUGEINT, which reaches the driver as float64 ('3.0') and can never
  -- hash-match Spark's bigint ('3')
  CAST(sum(CASE WHEN NOT coalesce(n_chars >= 50, FALSE) THEN 1 ELSE 0 END)
       AS BIGINT) AS fail_min_chars,
  CAST(sum(CASE WHEN NOT coalesce(n_chars <= 5000, FALSE) THEN 1 ELSE 0 END)
       AS BIGINT) AS fail_max_chars,
  CAST(sum(CASE WHEN NOT coalesce(regexp_matches(text, '[aeiou]'), FALSE)
           THEN 1 ELSE 0 END) AS BIGINT) AS fail_has_vowels,
  CAST(sum(CASE WHEN NOT coalesce(lang = 'en', FALSE) THEN 1 ELSE 0 END)
       AS BIGINT) AS fail_en_only,
  count(*) AS n_total
FROM documents
"""

TEXT_QUERIES["filter_fail_matrix"] = (q_filter_fail_matrix, SQL_FILTER_FAIL_MATRIX)


# ---------------------------------------------- incremental exact dedup
def q_incremental_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Daily-ingest exact dedup (operators/dedup.py:
    incremental_exact_dedup): base corpus = doc_id < 250; the batch
    carries (a) genuinely new docs, (b) planted copies of base texts
    (must drop via the digest anti-join), and (c) planted in-batch
    copies (must collapse via the id_col self-dedup)."""
    from gcp_data_pipeline_fyp_spark.operators.dedup import (
        incremental_exact_dedup,
    )

    d = _docs(spark, sf)
    base = d.filter(F.col("doc_id") < 250)
    fresh = d.filter(F.col("doc_id") >= 250)
    copies_of_any = d.filter(F.col("doc_id") % 10 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    in_batch_copies = fresh.filter(F.col("doc_id") % 7 == 0).withColumn(
        "doc_id", F.col("doc_id") + 2_000_000
    )
    batch = fresh.unionByName(copies_of_any).unionByName(in_batch_copies)
    out = incremental_exact_dedup(batch, base, ["text"], id_col="doc_id")
    return out.select("doc_id", "lang").orderBy("doc_id")


SQL_INCREMENTAL_DEDUP = """
WITH base AS (SELECT * FROM documents WHERE doc_id < 250),
batch AS (
  SELECT doc_id, text, lang FROM documents WHERE doc_id >= 250
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text, lang
  FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id, text, lang
  FROM documents WHERE doc_id >= 250 AND doc_id % 7 = 0),
novel AS (
  -- IS NOT DISTINCT FROM: the Spark side matches on a NULL-tagged
  -- digest, so NULL text in base must suppress NULL text in the batch
  SELECT * FROM batch b
  WHERE NOT EXISTS (
    SELECT 1 FROM base WHERE base.text IS NOT DISTINCT FROM b.text))
SELECT doc_id, lang FROM novel
WHERE doc_id IN (SELECT min(doc_id) FROM novel GROUP BY text)
ORDER BY doc_id
"""

TEXT_QUERIES["incremental_dedup"] = (q_incremental_dedup, SQL_INCREMENTAL_DEDUP)


# ---------------------------------------------- exact-substring dedup
def q_substring_dup_report(spark: SparkSession, sf: str) -> DataFrame:
    """Per-doc duplicated-window stats (operators/dedup.py:
    substring_dup_stats) — the Lee et al. 2022 exact-substring dedup
    measurement at window width 8 over the documents corpus."""
    from gcp_data_pipeline_fyp_spark.operators.dedup import (
        substring_dup_stats,
    )

    d = _docs(spark, sf)
    return substring_dup_stats(d, "doc_id", "text", n_tokens=8).orderBy(
        "doc_id"
    )


_DUP_RATIO_MICRO = micro6_sql(
    "CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS DOUBLE) / count(*)"
)

SQL_SUBSTRING_DUP_REPORT = f"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
  FROM documents),
tt AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) >= 8),
wins AS (
  SELECT doc_id, u.i AS pos,
         md5(array_to_string(list_transform(toks[u.i : u.i + 7],
             t -> concat(CAST(length(t) AS VARCHAR), ':', t)), ''))
           AS whash
  FROM tt CROSS JOIN LATERAL
    (SELECT unnest(generate_series(1, tt.n - 7)) AS i) u),
flagged AS (
  SELECT doc_id,
         row_number() OVER (PARTITION BY whash ORDER BY doc_id, pos) > 1
           AS is_dup
  FROM wins)
SELECT doc_id,
       count(*) AS n_windows,
       CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_windows,
       {_DUP_RATIO_MICRO} AS dup_ratio_micro
FROM flagged GROUP BY doc_id ORDER BY doc_id
"""

TEXT_QUERIES["substring_dup_report"] = (
    q_substring_dup_report,
    SQL_SUBSTRING_DUP_REPORT,
)


def q_substring_filtered_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Doc-level consequence of the substring measurement
    (operators/dedup.py:exact_substring_filter): corpus after dropping
    docs whose 8-token-window dup ratio exceeds 0.2; sub-window-length
    docs are kept. Window is r4-queue (r3 window full)."""
    from gcp_data_pipeline_fyp_spark.operators.dedup import (
        exact_substring_filter,
    )

    d = _docs(spark, sf)
    out = exact_substring_filter(
        d, "doc_id", "text", n_tokens=8, max_dup_ratio=0.2
    )
    return out.select("doc_id", "lang").orderBy("doc_id")


SQL_SUBSTRING_FILTERED_DOCS = """
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
  FROM documents),
tt AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) >= 8),
wins AS (
  SELECT doc_id, u.i AS pos,
         md5(array_to_string(list_transform(toks[u.i : u.i + 7],
             t -> concat(CAST(length(t) AS VARCHAR), ':', t)), ''))
           AS whash
  FROM tt CROSS JOIN LATERAL
    (SELECT unnest(generate_series(1, tt.n - 7)) AS i) u),
flagged AS (
  SELECT doc_id,
         row_number() OVER (PARTITION BY whash ORDER BY doc_id, pos) > 1
           AS is_dup
  FROM wins),
ratios AS (
  -- micro-units, mirroring the operator's micro6 threshold exactly
  SELECT doc_id,
         CAST(round((CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS DOUBLE)
                    / count(*)) * 1000000.0) AS BIGINT) AS dup_ratio_micro
  FROM flagged GROUP BY doc_id),
keep AS (
  SELECT doc_id FROM ratios WHERE dup_ratio_micro <= 200000
  UNION
  -- no-windows docs (short or NULL text): anti-join, not len(toks)<8 —
  -- len of a NULL token list is NULL and would drop NULL-text docs
  SELECT doc_id FROM documents
  WHERE doc_id NOT IN (SELECT doc_id FROM ratios))
SELECT d.doc_id, d.lang FROM documents d
JOIN keep USING (doc_id) ORDER BY d.doc_id
"""

TEXT_QUERIES["substring_filtered_docs"] = (
    q_substring_filtered_docs,
    SQL_SUBSTRING_FILTERED_DOCS,
)


def q_dedup_normalized(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dedup keyed on the C4-style canonical form
    (functions/text.py:dedup_normalize): case/punctuation/whitespace
    variants of the same text collapse to one kept doc while the stored
    text stays untouched. Batch includes planted shouting-case copies.
    Window is r4-queue (r3 window full)."""
    from gcp_data_pipeline_fyp_spark.functions.text import dedup_normalize
    from gcp_data_pipeline_fyp_spark.operators.dedup import exact_dedup

    d = _docs(spark, sf)
    planted = d.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 3_000_000).alias("doc_id"),
        F.concat(F.upper("text"), F.lit("!!")).alias("text"),
        "lang",
    )
    u = d.select("doc_id", "text", "lang").unionByName(planted)
    kept = exact_dedup(
        u.withColumn("__key", dedup_normalize(F.col("text"))),
        ["__key"],
        "doc_id",
    )
    return kept.select("doc_id", "lang").orderBy("doc_id")


SQL_DEDUP_NORMALIZED = """
WITH u AS (
  SELECT doc_id, text, lang FROM documents
  UNION ALL
  SELECT doc_id + 3000000 AS doc_id, upper(text) || '!!' AS text, lang
  FROM documents WHERE doc_id % 25 = 0),
k AS (
  SELECT doc_id, lang,
    trim(regexp_replace(regexp_replace(lower(text),
         '[^\\p{L}\\p{N}\\s]', ' ', 'g'), '\\s+', ' ', 'g')) AS key
  FROM u)
SELECT doc_id, lang FROM k
WHERE doc_id IN (SELECT min(doc_id) FROM k GROUP BY key)
ORDER BY doc_id
"""

TEXT_QUERIES["dedup_normalized"] = (q_dedup_normalized, SQL_DEDUP_NORMALIZED)


# ------------------------------- quality-weighted sampling (score mix)
def q_quality_weighted_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Quality-bucketed keep rates (DCLM/FineWeb-Edu-style mixing,
    public method): score every doc with the self-trained unigram LM
    (mean -log2 p per token), band by static thresholds, then keep
    100% of high / 50% of mid / 10% of low via the content-keyed
    stratified sampler — score once, sample deterministically; the
    thresholds come from offline calibration exactly as production
    mixes do. Window is r4-queue."""
    from gcp_data_pipeline_fyp_spark.operators.sampling import (
        stratified_hash_sample,
    )

    scores = q_unigram_logprob_score(spark, sf)
    banded = scores.withColumn(
        "quality",
        F.when(F.col("mean_nll") <= 4.905, "high")
        .when(F.col("mean_nll") <= 4.92, "mid")
        .otherwise("low"),
    )
    out = stratified_hash_sample(
        banded, ["doc_id"], "quality",
        {"high": 1.0, "mid": 0.5, "low": 0.1}, seed=23,
    )
    return out.select("doc_id", "quality", "mean_nll").orderBy("doc_id")


from gcp_data_pipeline_fyp_spark.operators.sampling import (  # noqa: E402
    hash_bucket_sql as _hbs23,
)

_B23 = _hbs23(["doc_id"], seed=23)
SQL_QUALITY_WEIGHTED_SAMPLE = f"""
WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
e AS (SELECT doc_id, unnest(toks) AS tok FROM t),
c AS (SELECT tok, count(*) AS c FROM e GROUP BY tok),
s AS (SELECT sum(c) AS total, count(*) AS vocab FROM c),
n AS (SELECT e.doc_id,
        -log2((c.c + 1.0) / (s.total + s.vocab)) AS nll
      FROM e JOIN c USING (tok) CROSS JOIN s),
scored AS (
  SELECT doc_id,
    ((round((cast(sum(cast(nll AS decimal(18,6))) AS double) / count(*)) * 1000000.0) / 1000000.0) + 0.0)
      AS mean_nll
  FROM n GROUP BY doc_id),
banded AS (
  SELECT doc_id, mean_nll,
    CASE WHEN mean_nll <= 4.905 THEN 'high'
         WHEN mean_nll <= 4.92 THEN 'mid'
         ELSE 'low' END AS quality
  FROM scored)
SELECT doc_id, quality, mean_nll FROM banded
WHERE {_B23} < (CASE quality WHEN 'high' THEN 1000000
                             WHEN 'mid' THEN 500000
                             ELSE 100000 END)
ORDER BY doc_id
"""

TEXT_QUERIES["quality_weighted_sample"] = (
    q_quality_weighted_sample,
    SQL_QUALITY_WEIGHTED_SAMPLE,
)


# ------------------------------------------- sentence-level span dedup
def q_sentence_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Sentence-level span dedup — the unit C4's repeated-span scrub
    actually used. Sentence boundaries are marked by rewriting
    '[.!?] +' to a control separator (no lookbehind: RE2 oracles can't
    express one), then the paragraph-dedup machinery runs with that
    separator: planted boilerplate sentences collapse to their first
    (doc, position) while each doc's unique body survives. Window is
    r4-queue."""
    from gcp_data_pipeline_fyp_spark.operators.dedup import paragraph_dedup

    boiler = "All rights reserved."
    promo = "Click here to sign up now."
    docs = _docs(spark, sf).select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(". "), F.lit(boiler), F.lit(" "), F.lit(promo)
        ).alias("text"),
    )
    marked = docs.withColumn(
        "text", F.regexp_replace("text", "([.!?])\\s+", "$1\x1e")
    )
    out = paragraph_dedup(marked, "doc_id", "text", sep="\x1e")
    return out.select(
        "doc_id",
        F.md5(F.regexp_replace("text", "\x1e", " ")).alias("text_md5"),
        F.col("n_paras").cast("long").alias("n_sentences"),
    ).orderBy("doc_id")


SQL_SENTENCE_DEDUP = r"""
WITH docs AS (
  SELECT doc_id,
         text || '. ' || 'All rights reserved.' || ' '
              || 'Click here to sign up now.' AS text
  FROM documents),
marked AS (
  SELECT doc_id,
         regexp_replace(text, '([.!?])\s+', '\1' || chr(30), 'g') AS text
  FROM docs),
split_docs AS (
  SELECT doc_id, string_split(text, chr(30)) AS l FROM marked),
parts AS (
  SELECT doc_id, unnest(l) AS para, generate_subscripts(l, 1) AS pos
  FROM split_docs),
kept AS (
  SELECT doc_id, pos, para,
         row_number() OVER (PARTITION BY md5(para)
                            ORDER BY doc_id, pos) AS rn
  FROM parts WHERE length(para) >= 1)
SELECT doc_id,
       md5(replace(string_agg(para, chr(30) ORDER BY pos), chr(30), ' '))
         AS text_md5,
       count(*) AS n_sentences
FROM kept WHERE rn = 1
GROUP BY doc_id
ORDER BY doc_id
"""

TEXT_QUERIES["sentence_dedup"] = (q_sentence_dedup, SQL_SENTENCE_DEDUP)


# ----------------------------------------------- corpus length histogram
def q_length_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Log2-bucketed document length histogram with per-bucket token
    mass — the first chart of every corpus datasheet; one scan, one
    tiny aggregation. Window is r4-queue."""
    d = _docs(spark, sf)
    return (
        d.select(
            F.floor(F.log2(F.greatest(F.length("text"), F.lit(1))))
            .cast("int")
            .alias("log2_chars"),
            F.size(F.split(F.trim("text"), r"\s+")).alias("n_toks"),
        )
        .groupBy("log2_chars")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").alias("total_tokens"),
        )
        .orderBy("log2_chars")
    )


SQL_LENGTH_HISTOGRAM = r"""
SELECT CAST(floor(log2(greatest(length(text), 1))) AS INT) AS log2_chars,
       count(*) AS n_docs,
       CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
         AS total_tokens
FROM documents
GROUP BY 1 ORDER BY 1
"""

TEXT_QUERIES["length_histogram"] = (q_length_histogram, SQL_LENGTH_HISTOGRAM)


# ------------------------------------------------ batch n-gram novelty
def q_ngram_novelty(spark: SparkSession, sf: str) -> DataFrame:
    """Per-doc n-gram novelty of a batch against a base corpus: the
    fraction of a batch doc's distinct 3-gram shingles unseen anywhere
    in the base — the freshness metric a corpus-update pipeline tracks
    (a batch full of 0-novelty docs is a re-crawl, not new data).
    Base = doc_id < 400, batch = the rest. The base side reduces to
    DISTINCT shingle digests before the join — at 100 TB the base
    never ships shingle text, same discipline as incremental dedup.
    Window is r4-queue."""
    from gcp_data_pipeline_fyp_spark.functions.text import shingles, tokens

    d = _docs(spark, sf)
    base = d.filter(F.col("doc_id") < 400)
    batch = d.filter(F.col("doc_id") >= 400)
    from gcp_data_pipeline_fyp_spark.functions.text import (
        exploded_shingles,
    )

    base_digests = (
        exploded_shingles(base, [], "text", 3, out_col="sh")
        .select(F.unhex(F.md5("sh")).alias("digest"))
        .distinct()
    )
    batch_sh = exploded_shingles(
        batch, ["doc_id"], "text", 3, out_col="sh"
    ).select("doc_id", F.unhex(F.md5("sh")).alias("digest"))
    flagged = batch_sh.join(
        base_digests.withColumn("__seen", F.lit(1)), "digest", "left"
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.when(F.col("__seen").isNull(), 1).otherwise(0)).alias(
                "n_novel"
            ),
            micro6(
                F.sum(F.when(F.col("__seen").isNull(), 1).otherwise(0))
                / F.count(F.lit(1))
            ).alias("novelty_micro"),
        )
        .orderBy("doc_id")
    )


_NOVELTY_MICRO = micro6_sql(
    "CAST(sum(CASE WHEN NOT seen THEN 1 ELSE 0 END) AS DOUBLE) / count(*)"
)

SQL_NGRAM_NOVELTY = f"""
WITH base_t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
                WHERE doc_id < 400),
base_sh AS (
  SELECT DISTINCT md5(sh) AS digest
  FROM (SELECT unnest({_SQL_SHINGLES.replace("toks", "toks")}) AS sh
        FROM (SELECT {_SQL_TOKS} AS toks FROM documents WHERE doc_id < 400) s)),
batch_t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
            WHERE doc_id >= 400),
batch_sh AS (
  SELECT doc_id, md5(sh) AS digest
  FROM (SELECT doc_id, unnest({_SQL_SHINGLES}) AS sh FROM batch_t) s),
flagged AS (
  SELECT b.doc_id, (base_sh.digest IS NOT NULL) AS seen
  FROM batch_sh b LEFT JOIN base_sh ON b.digest = base_sh.digest)
SELECT doc_id,
       count(*) AS n_shingles,
       CAST(sum(CASE WHEN NOT seen THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       {_NOVELTY_MICRO} AS novelty_micro
FROM flagged GROUP BY doc_id ORDER BY doc_id
"""

TEXT_QUERIES["ngram_novelty"] = (q_ngram_novelty, SQL_NGRAM_NOVELTY)


# ---------------------------------------------- contamination audit report
def q_contamination_report(spark: SparkSession, sf: str) -> DataFrame:
    """Per-benchmark-doc contamination evidence: n-gram totals, hit
    counts, and hitting-corpus-doc counts (the table a contamination
    study publishes alongside the scrub) —
    operators/decontaminate.py:contamination_report."""
    d = _docs(spark, sf)
    bench = d.filter(F.col("doc_id") % 97 == 0)
    corpus = d.filter(F.col("doc_id") % 97 != 0)
    from gcp_data_pipeline_fyp_spark.operators.decontaminate import (
        contamination_report,
    )

    return contamination_report(
        corpus, "doc_id", "text", bench, "doc_id", "text", n=5
    )


SQL_CONTAMINATION_REPORT = f"""
WITH tb AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
            WHERE doc_id % 97 = 0),
bg AS (SELECT DISTINCT doc_id AS bid, unnest({_sql_shingles_n(5)}) AS ngram
       FROM tb),
tc AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
       WHERE doc_id % 97 <> 0),
cg AS (SELECT doc_id AS cid, unnest({_sql_shingles_n(5)}) AS ngram FROM tc),
hits AS (
  SELECT bid, count(DISTINCT ngram) AS n_grams_hit,
         count(DISTINCT cid) AS n_docs_hit
  FROM cg JOIN bg USING (ngram) GROUP BY bid),
gram_counts AS (SELECT bid, count(*) AS n_grams FROM bg GROUP BY bid),
-- totals anchor on the benchmark ID SET so sub-shingle-width docs
-- still report (0, 0, 0) — mirrors the operator's completeness contract
totals AS (
  SELECT tb.doc_id AS bid, coalesce(gram_counts.n_grams, 0) AS n_grams
  FROM tb LEFT JOIN gram_counts ON tb.doc_id = gram_counts.bid)
SELECT totals.bid AS doc_id, cast(n_grams AS bigint) AS n_grams,
       cast(coalesce(n_grams_hit, 0) AS bigint) AS n_grams_hit,
       cast(coalesce(n_docs_hit, 0) AS bigint) AS n_docs_hit
FROM totals LEFT JOIN hits USING (bid)
"""

TEXT_QUERIES["contamination_report"] = (q_contamination_report, SQL_CONTAMINATION_REPORT)


# --------------------------------------- LSH detection-quality report
def q_lsh_recall_report(spark: SparkSession, sf: str) -> DataFrame:
    """Certified detection-quality metric for the MinHash-LSH candidate
    stage: of the planted near-dup pairs (doc, doc+1e6 with a 3-token
    tail), how many does banding recover, and how many extra candidate
    pairs does it emit (extras include any REAL near-dups in the
    corpus, so the number is reported, not asserted zero). One
    BIGINT-only row — the probe form of the pytest recall bars."""
    d = _docs_with_neardups(spark, sf)
    pairs = minhash_lsh_candidates(
        d, "doc_id", "text", num_hashes=_NUM_HASHES, bands=_BANDS
    )
    planted = (
        d.filter(F.col("doc_id") >= 1_000_000)
        .select(
            (F.col("doc_id") - 1_000_000).alias("id_a"),
            F.col("doc_id").alias("id_b"),
        )
    )
    detected = planted.join(pairs, ["id_a", "id_b"], "left_semi")
    extras = pairs.join(planted, ["id_a", "id_b"], "left_anti")
    return (
        planted.agg(F.count(F.lit(1)).alias("n_planted"))
        .crossJoin(detected.agg(F.count(F.lit(1)).alias("n_detected")))
        .crossJoin(extras.agg(F.count(F.lit(1)).alias("n_extra")))
    )


SQL_LSH_RECALL_REPORT = f"""
WITH u AS ({_SQL_DOCS_WITH_NEARDUPS}),
{_sql_lsh_pairs_ctes("u")},
planted AS (
  SELECT doc_id - 1000000 AS id_a, doc_id AS id_b FROM u
  WHERE doc_id >= 1000000)
SELECT
  (SELECT count(*) FROM planted) AS n_planted,
  (SELECT count(*) FROM planted p
     WHERE EXISTS (SELECT 1 FROM pairs2 c
                   WHERE c.id_a = p.id_a AND c.id_b = p.id_b)) AS n_detected,
  (SELECT count(*) FROM pairs2 c
     WHERE NOT EXISTS (SELECT 1 FROM planted p
                       WHERE c.id_a = p.id_a AND c.id_b = p.id_b)) AS n_extra
"""

TEXT_QUERIES["lsh_recall_report"] = (q_lsh_recall_report, SQL_LSH_RECALL_REPORT)


# ---------------------------- model-based quality filter (fastText-ish)
def q_quality_classifier_scores(spark: SparkSession, sf: str) -> DataFrame:
    """Hashing-trick linear quality classifier, trained and applied in
    one plan (the CCNet/DCLM/FineWeb-Edu recipe, public method):
    pseudo-label every doc with the Gopher rules, train per-bucket
    weights in ONE groupBy(bucket) aggregation (output bounded by the
    4096-bucket feature space, never corpus-sized), then score the
    corpus through a broadcast weight join. See operators/classifier.py
    for the scale shape and the exact-rational weight function that
    keeps scores bit-identical across engines. Window is r5-queue."""
    from gcp_data_pipeline_fyp_spark.functions.text import gopher_keep
    from gcp_data_pipeline_fyp_spark.operators.classifier import (
        bucketed_features,
        score_from_buckets,
        train_from_buckets,
    )

    d = _docs(spark, sf)
    labeled = d.withColumn("__lbl", gopher_keep(F.col("text")))
    # the corpus is both seed set and scoring target here, so the
    # explode+hash stage (the dominant cost) materializes once and
    # feeds training AND scoring (lazy localCheckpoint: computed at
    # the first action, served from executor blocks after)
    feats = bucketed_features(
        labeled, ["doc_id", "__lbl"], "text", n_buckets=4096, seed=11
    ).localCheckpoint(eager=False)
    weights = train_from_buckets(feats, "__lbl", n_buckets=4096)
    out = score_from_buckets(
        feats.select("doc_id", "__b"), "doc_id", weights, d.select("doc_id")
    )
    return out.orderBy("doc_id")


_SQL_CLS_FEATS = r"""
tf AS (SELECT doc_id,
  coalesce(list_filter(regexp_split_to_array(trim(text), '\s+'),
           x -> x <> ''), []) AS toks
  FROM documents),
fe AS (SELECT doc_id,
  list_concat(toks,
    list_transform(generate_series(1, len(toks) - 1),
                   i -> toks[i] || '_' || toks[i+1])) AS feats
  FROM tf),
e AS (SELECT doc_id, unnest(feats) AS feat FROM fe),
b AS (SELECT doc_id,
  cast(concat('0x', substr(md5('11|' || feat), 1, 12)) AS bigint) % 4096
    AS bucket
  FROM e)"""

SQL_QUALITY_CLASSIFIER_SCORES = f"""
WITH t0 AS (SELECT doc_id, text, {_SQL_TOKS} AS toks FROM documents),
m AS (SELECT doc_id, len(toks) AS n,
  cast(list_sum(list_transform(toks, t -> length(t))) AS double)
    / nullif(len(toks), 0) AS mean_len,
  cast(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS double) AS symbols,
  len(list_filter(toks, t -> t IN {_SQL_EN})) AS stop_hits
  FROM t0),
lab AS (SELECT doc_id,
  coalesce(n >= 50 AND n <= 100000
    AND mean_len >= 3 AND mean_len <= 10
    AND symbols / nullif(n, 0) < 0.1
    AND stop_hits >= 2, false) AS lbl
  FROM m),
{_SQL_CLS_FEATS},
bl AS (SELECT b.doc_id, b.bucket, lab.lbl FROM b JOIN lab USING (doc_id)),
counts AS (SELECT bucket,
    sum(CASE WHEN lbl THEN 1 ELSE 0 END) AS n_pos,
    sum(CASE WHEN lbl THEN 0 ELSE 1 END) AS n_neg
  FROM bl GROUP BY bucket),
tot AS (SELECT sum(n_pos) AS tot_pos, sum(n_neg) AS tot_neg FROM counts),
w AS (SELECT bucket,
  CAST(round(
    (((n_pos + 1.0) / (tot_pos + 4096.0) - (n_neg + 1.0) / (tot_neg + 4096.0))
    / ((n_pos + 1.0) / (tot_pos + 4096.0) + (n_neg + 1.0) / (tot_neg + 4096.0)))
    * 1000.0) AS BIGINT) AS w_milli
  FROM counts CROSS JOIN tot),
s AS (SELECT b.doc_id,
    sum(coalesce(w.w_milli, 0)) AS sum_w,
    count(*) AS n_features
  FROM b LEFT JOIN w USING (bucket) GROUP BY b.doc_id)
SELECT d.doc_id,
  CAST(coalesce(s.n_features, 0) AS BIGINT) AS n_features,
  CAST(round(s.sum_w * 1000.0 / s.n_features) AS BIGINT) AS score_micro,
  CASE WHEN s.doc_id IS NULL THEN 'empty'
       WHEN round(s.sum_w * 1000.0 / s.n_features) > 0 THEN 'keep'
       ELSE 'drop' END AS label
FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id
ORDER BY d.doc_id
"""

TEXT_QUERIES["quality_classifier_scores"] = (
    q_quality_classifier_scores,
    SQL_QUALITY_CLASSIFIER_SCORES,
)


# -------------------------------------- train/heldout leakage audit
def q_split_leakage_report(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-split contamination audit: after the stable 80/10/10
    hash split, how many val/test docs share an 8-gram with ANY train
    doc (the near-dup-planted corpus guarantees real leakage). Both
    sides are corpus-sized, so the overlap join keys on 16-byte md5
    digests — never raw text (operators/decontaminate.py:
    split_leakage_report). Window is r5-queue."""
    from gcp_data_pipeline_fyp_spark.operators.decontaminate import (
        split_leakage_report,
    )
    from gcp_data_pipeline_fyp_spark.operators.sampling import hash_split

    d = _docs_with_neardups(spark, sf)
    split = hash_split(
        d, ["doc_id"], {"train": 0.8, "val": 0.1, "test": 0.1}, seed=7
    )
    return split_leakage_report(split, "doc_id", "text", "split", n=8).orderBy(
        "split"
    )


SQL_SPLIT_LEAKAGE_REPORT = f"""
WITH u AS ({_SQL_DOCS_WITH_NEARDUPS}),
sp AS (SELECT doc_id, text,
  CASE WHEN {_B7P} < 800000 THEN 'train'
       WHEN {_B7P} < 900000 THEN 'val'
       ELSE 'test' END AS split
  FROM u),
t AS (SELECT doc_id, split, {_SQL_TOKS} AS toks FROM sp),
g AS (SELECT doc_id, split, unnest({_sql_shingles_n(8)}) AS ng FROM t),
tr AS (SELECT DISTINCT ng FROM g WHERE split = 'train'),
lk AS (SELECT split, count(DISTINCT doc_id) AS n_leaked
       FROM g WHERE split <> 'train' AND ng IN (SELECT ng FROM tr)
       GROUP BY split),
tot AS (SELECT split, count(DISTINCT doc_id) AS n_docs
        FROM sp WHERE split <> 'train' GROUP BY split)
SELECT tot.split, tot.n_docs,
  CAST(coalesce(lk.n_leaked, 0) AS BIGINT) AS n_leaked,
  {micro6_sql('CAST(coalesce(lk.n_leaked, 0) AS DOUBLE) / tot.n_docs')}
    AS leak_ratio_micro
FROM tot LEFT JOIN lk USING (split)
ORDER BY tot.split
"""

TEXT_QUERIES["split_leakage_report"] = (
    q_split_leakage_report,
    SQL_SPLIT_LEAKAGE_REPORT,
)


# ------------------------------------------ BPE segmentation at scale
_BPE_PROBE_MERGES = [
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"),
    ("e", "r"), ("o", "n"), ("r", "e"), ("in", "g"),
]


def q_bpe_segment_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Apply a fixed learned merge table (the typical English head of a
    BPE vocabulary) to every document at scan speed — the merge list
    compiles into a nested column expression, no join, no shuffle
    (operators/tokenizer.py:bpe_segment). Emits the custom-vocab token
    count a packing/budget stage runs on, plus the first 12 subword
    tokens as evidence. Window is r5-queue."""
    from gcp_data_pipeline_fyp_spark.operators.tokenizer import bpe_segment

    d = _docs(spark, sf)
    out = bpe_segment(d, "text", _BPE_PROBE_MERGES, out_col="bpe")
    return out.select(
        "doc_id",
        F.col("bpe_count").cast("bigint").alias("n_bpe"),
        F.concat_ws(" ", F.slice(F.col("bpe"), 1, 12)).alias("bpe_head"),
    ).orderBy("doc_id")


def _sql_bpe_word(merges: list[tuple[str, str]]) -> str:
    """DuckDB rendering of one word's greedy BPE fold: wrap every char
    in single spaces (adjacent symbols are separated by TWO spaces, so
    consecutive merge sites never share a boundary character), then
    apply each merge rank as a left-to-right string replace —
    space-wrapped symbols make replace() exactly the trainer's greedy
    fold (operators/tokenizer.py:_apply_merge)."""
    expr = r"regexp_replace(w, '(.)', ' \1 ', 'g')"
    for left, right in merges:
        expr = f"replace({expr}, ' {left}  {right} ', ' {left}{right} ')"
    return f"string_split(trim({expr}), '  ')"


SQL_BPE_SEGMENT_COUNTS = rf"""
WITH t AS (SELECT doc_id,
  coalesce(list_filter(regexp_split_to_array(trim(text), '\s+'),
           x -> x <> ''), []) AS toks
  FROM documents),
seg AS (SELECT doc_id,
  flatten(list_transform(toks, w -> {_sql_bpe_word(_BPE_PROBE_MERGES)})) AS bpe
  FROM t)
SELECT doc_id,
  CAST(len(bpe) AS BIGINT) AS n_bpe,
  array_to_string(bpe[1:12], ' ') AS bpe_head
FROM seg
ORDER BY doc_id
"""

TEXT_QUERIES["bpe_segment_counts"] = (q_bpe_segment_counts, SQL_BPE_SEGMENT_COUNTS)


# ---------------------------------- interpolated bigram LM scoring
def q_bigram_logprob_score(spark: SparkSession, sf: str) -> DataFrame:
    """Bigram-LM quality score (the KenLM-shaped upgrade of the CCNet
    unigram scorer, public method): train bigram + unigram counts on
    the corpus itself, score each doc by mean -log2 of the interpolated
    conditional p(w2|w1) = 0.75*ML + 0.25*smoothed-unigram. Training is
    two aggregations (unigram table, bigram table); scoring joins each
    doc's bigram stream against the bigram->nll table (shuffle keyed on
    the bigram, never the document) and one per-doc mean. Every
    arithmetic step is rational IEEE (division, multiply, add) in
    mirrored order; the single log2 sits inside the proven
    decimal-sum + 6-dp-round emission chain. Docs with fewer than two
    tokens report n_bigrams=0 with NULL score — nothing vanishes.
    Window is r5-queue."""
    d = _docs(spark, sf)
    t = d.select("doc_id", tokens("text").alias("__toks"))
    uni = (
        t.select(F.explode(F.coalesce(F.col("__toks"), F.array())).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cu"))
        .persist()
    )
    scal = F.broadcast(
        uni.agg(F.sum("cu").alias("total"), F.count(F.lit(1)).alias("vocab"))
    )
    bg = F.when(
        F.size("__toks") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("__toks") - 1),
            lambda i: F.struct(
                F.element_at("__toks", i).alias("w1"),
                F.element_at("__toks", i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    big = t.select("doc_id", F.explode(bg).alias("__bg")).select(
        "doc_id", F.col("__bg.w1").alias("w1"), F.col("__bg.w2").alias("w2")
    )
    bcounts = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    bstats = (
        bcounts.join(uni.select(F.col("tok").alias("w1"), F.col("cu").alias("cu1")), "w1")
        .join(uni.select(F.col("tok").alias("w2"), F.col("cu").alias("cu2")), "w2")
        .crossJoin(scal)
        .select(
            "w1",
            "w2",
            (
                -F.log2(
                    F.lit(0.75) * (F.col("cb") / F.col("cu1"))
                    + F.lit(0.25)
                    * ((F.col("cu2") + F.lit(1.0)) / (F.col("total") + F.col("vocab")))
                )
            ).alias("nll"),
        )
    )
    scored = (
        big.join(bstats, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            micro6(
                F.sum(F.col("nll").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("nll_micro"),
            F.count(F.lit(1)).alias("n_bigrams"),
        )
    )
    out = (
        d.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            "nll_micro",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
        )
        .orderBy("doc_id")
    )
    # materialize the result, then release the unigram table (same
    # storage discipline as q_unigram_logprob_score: a persisted frame
    # must not outlive its consumers in a long-running session)
    out = out.persist()
    out.count()
    uni.unpersist()
    return out


SQL_BIGRAM_LOGPROB = f"""
WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
e AS (SELECT doc_id, unnest(toks) AS tok FROM t),
uni AS (SELECT tok, count(*) AS cu FROM e GROUP BY tok),
scal AS (SELECT sum(cu) AS total, count(*) AS vocab FROM uni),
big AS (SELECT doc_id, unnest(list_transform(
    generate_series(1, len(toks) - 1),
    i -> struct_pack(w1 := toks[i], w2 := toks[i+1]))) AS bg FROM t),
bigf AS (SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM big),
bcounts AS (SELECT w1, w2, count(*) AS cb FROM bigf GROUP BY w1, w2),
bstats AS (
  SELECT w1, w2,
    -log2(0.75 * (cb / u1.cu)
          + 0.25 * ((u2.cu + 1.0) / (scal.total + scal.vocab))) AS nll
  FROM bcounts
  JOIN uni u1 ON bcounts.w1 = u1.tok
  JOIN uni u2 ON bcounts.w2 = u2.tok
  CROSS JOIN scal),
scored AS (
  SELECT doc_id,
    {micro6_sql('cast(sum(cast(nll AS decimal(18,6))) AS double) / count(*)')}
      AS nll_micro,
    count(*) AS n_bigrams
  FROM bigf JOIN bstats USING (w1, w2) GROUP BY doc_id)
SELECT d.doc_id, s.nll_micro,
  CAST(coalesce(s.n_bigrams, 0) AS BIGINT) AS n_bigrams
FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
ORDER BY d.doc_id
"""

TEXT_QUERIES["bigram_logprob_score"] = (q_bigram_logprob_score, SQL_BIGRAM_LOGPROB)


# ---------------------- corpus prep v2: model-gated modern pipeline
def _corpus_prep_canon(
    spark: SparkSession,
    sf: str,
    checkpoint_dir: str | None = None,
    driver_threshold: int = 1_000_000,
) -> DataFrame:
    """The shared classifier-gate -> decontaminate -> exact dedup ->
    LSH-closure chain of corpus_prep_v2/v3, up to the canonical
    (cluster-winner) doc set."""
    from gcp_data_pipeline_fyp_spark.functions.text import gopher_keep
    from gcp_data_pipeline_fyp_spark.operators.classifier import (
        bucketed_features,
        score_from_buckets,
        train_from_buckets,
    )
    from gcp_data_pipeline_fyp_spark.operators.components import dup_clusters
    from gcp_data_pipeline_fyp_spark.operators.decontaminate import decontaminate
    from gcp_data_pipeline_fyp_spark.operators.dedup import exact_dedup

    d = _docs_with_neardups(spark, sf)
    labeled = d.withColumn("__lbl", gopher_keep(F.col("text")))
    feats = bucketed_features(
        labeled, ["doc_id", "__lbl"], "text", n_buckets=4096, seed=11
    ).localCheckpoint(eager=False)
    w = train_from_buckets(feats, "__lbl", n_buckets=4096)
    scored = score_from_buckets(
        feats.select("doc_id", "__b"), "doc_id", w, d.select("doc_id")
    )
    gated = d.join(
        scored.filter(F.col("label") == "keep").select("doc_id"),
        "doc_id",
        "left_semi",
    )
    bench = d.filter(F.col("doc_id") % 97 == 0)
    q2 = decontaminate(gated, "doc_id", "text", bench, "text", n=5)
    kept = exact_dedup(q2, ["text"], "doc_id").localCheckpoint(eager=False)
    pairs = minhash_lsh_candidates(
        kept, "doc_id", "text", num_hashes=_NUM_HASHES, bands=_BANDS
    )
    labeled2 = dup_clusters(
        kept, pairs, "doc_id", checkpoint_dir=checkpoint_dir,
        driver_threshold=driver_threshold,
    )
    pairs.unpersist()
    return labeled2.filter(F.col("doc_id") == F.col("cluster_id"))


def q_corpus_prep_v2(
    spark: SparkSession,
    sf: str,
    checkpoint_dir: str | None = None,
    driver_threshold: int = 1_000_000,
) -> DataFrame:
    """The modern pretraining pipeline in one certified plan — the
    model-based successor of `corpus_prep_full` (the DCLM/FineWeb
    architecture, public method): distill the Gopher heuristics into a
    hashed linear classifier (train on pseudo-labels, ONE bucket-sized
    aggregation), gate the corpus on the MODEL's verdict, then
    benchmark-decontaminate -> exact dedup -> MinHash-LSH near-dup
    closure -> stable split. Every stage is the production operator;
    the whole chain hash-matches one DuckDB statement that replays
    training, scoring, banding, and the connectivity closure.

    `checkpoint_dir` switches the closure's per-iteration lineage
    truncation to reliable checkpoints (the 1000-executor setting, see
    operators/iterate.py); results are hash-identical either way
    (pinned by tests/test_operators.py)."""
    from gcp_data_pipeline_fyp_spark.operators.sampling import hash_split

    canon = _corpus_prep_canon(spark, sf, checkpoint_dir, driver_threshold)
    split = hash_split(
        canon, ["doc_id"], {"train": 0.8, "val": 0.1, "test": 0.1}, seed=7
    )
    return split.select("doc_id", "lang", "split")


_SQL_CORPUS_PREP_CHAIN = f"""WITH RECURSIVE u AS ({_SQL_DOCS_WITH_NEARDUPS}),
t0v AS (SELECT doc_id, text, {_SQL_TOKS} AS toks FROM u),
mv AS (SELECT doc_id, len(toks) AS n,
  cast(list_sum(list_transform(toks, t -> length(t))) AS double)
    / nullif(len(toks), 0) AS mean_len,
  cast(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS double) AS symbols,
  len(list_filter(toks, t -> t IN {_SQL_EN})) AS stop_hits
  FROM t0v),
labv AS (SELECT doc_id,
  coalesce(n >= 50 AND n <= 100000
    AND mean_len >= 3 AND mean_len <= 10
    AND symbols / nullif(n, 0) < 0.1
    AND stop_hits >= 2, false) AS lbl
  FROM mv),
tfv AS (SELECT doc_id,
  coalesce(list_filter({_SQL_TOKS}, x -> x <> ''), []) AS toks FROM u),
fev AS (SELECT doc_id,
  list_concat(toks,
    list_transform(generate_series(1, len(toks) - 1),
                   i -> toks[i] || '_' || toks[i+1])) AS feats
  FROM tfv),
ev AS (SELECT doc_id, unnest(feats) AS feat FROM fev),
bv AS (SELECT doc_id,
  cast(concat('0x', substr(md5('11|' || feat), 1, 12)) AS bigint) % 4096
    AS bucket
  FROM ev),
blv AS (SELECT bv.doc_id, bv.bucket, labv.lbl FROM bv JOIN labv USING (doc_id)),
countsv AS (SELECT bucket,
    sum(CASE WHEN lbl THEN 1 ELSE 0 END) AS n_pos,
    sum(CASE WHEN lbl THEN 0 ELSE 1 END) AS n_neg
  FROM blv GROUP BY bucket),
totv AS (SELECT sum(n_pos) AS tot_pos, sum(n_neg) AS tot_neg FROM countsv),
wv AS (SELECT bucket,
  CAST(round(
    (((n_pos + 1.0) / (tot_pos + 4096.0) - (n_neg + 1.0) / (tot_neg + 4096.0))
    / ((n_pos + 1.0) / (tot_pos + 4096.0) + (n_neg + 1.0) / (tot_neg + 4096.0)))
    * 1000.0) AS BIGINT) AS w_milli
  FROM countsv CROSS JOIN totv),
sv AS (SELECT bv.doc_id,
    sum(coalesce(wv.w_milli, 0)) AS sum_w,
    count(*) AS n_features
  FROM bv LEFT JOIN wv USING (bucket) GROUP BY bv.doc_id),
clskeep AS (SELECT doc_id FROM sv
  WHERE round(sum_w * 1000.0 / n_features) > 0),
gated AS (SELECT * FROM u WHERE doc_id IN (SELECT doc_id FROM clskeep)),
tgv AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM u),
gmv AS (SELECT doc_id, unnest({_sql_shingles_n(5)}) AS ngram FROM tgv),
benchv AS (SELECT DISTINCT ngram FROM gmv WHERE doc_id % 97 = 0),
badv AS (SELECT DISTINCT gmv.doc_id FROM gmv JOIN benchv USING (ngram)),
q3v AS (SELECT * FROM gated
        WHERE doc_id NOT IN (SELECT doc_id FROM badv)),
kept AS (SELECT * FROM q3v
  WHERE doc_id IN (SELECT min(doc_id) FROM q3v GROUP BY text)),
{_sql_lsh_pairs_ctes("kept")},
ed2 AS (SELECT id_a AS a, id_b AS b FROM pairs2
        UNION SELECT id_b, id_a FROM pairs2),
reach(v, l) AS (
  SELECT a, a FROM ed2
  UNION
  SELECT e.a, r.l FROM ed2 e JOIN reach r ON e.b = r.v),
comp AS (SELECT v, min(l) AS component FROM reach GROUP BY v),
canon AS (SELECT kept.doc_id, kept.lang FROM kept
  LEFT JOIN comp ON kept.doc_id = comp.v
  WHERE coalesce(comp.component, kept.doc_id) = kept.doc_id)"""

_SQL_SPLIT_TAIL = f"""SELECT doc_id, lang,
  CASE WHEN {_B7P} < 800000 THEN 'train'
       WHEN {_B7P} < 900000 THEN 'val'
       ELSE 'test' END AS split"""

SQL_CORPUS_PREP_V2 = f"""
{_SQL_CORPUS_PREP_CHAIN}
{_SQL_SPLIT_TAIL}
FROM canon
"""

TEXT_QUERIES["corpus_prep_v2"] = (q_corpus_prep_v2, SQL_CORPUS_PREP_V2)


def q_corpus_prep_v3(
    spark: SparkSession,
    sf: str,
    checkpoint_dir: str | None = None,
    driver_threshold: int = 1_000_000,
) -> DataFrame:
    """corpus_prep_v2 + the SEMANTIC member of the dedup spectrum:
    classifier-gate -> decontaminate -> exact dedup -> MinHash-LSH
    closure -> SemDeDup -> stable split. The semantic stage runs
    post-LSH (surface dups are already collapsed, so it prunes only
    paraphrase-level redundancy) and pre-split, cluster-keyed like
    leakage_safe_split; canonical docs join the embeddings table on
    doc_id and docs WITHOUT an embedding pass through kept
    (conservative — a doc you cannot place in embedding space is not
    evidence of redundancy). n_centroids pinned at 16 to match the
    oracle's fixed fit (the operator's default is the auto sizing
    rule)."""
    from gcp_data_pipeline_fyp_spark.operators.dedup import semdedup
    from gcp_data_pipeline_fyp_spark.operators.sampling import hash_split

    canon = _corpus_prep_canon(
        spark, sf, checkpoint_dir, driver_threshold
    ).localCheckpoint(eager=False)
    e = load(spark, sf, "embeddings", spread=True)
    # sem_in feeds the semantic stage's fit init, its Lloyd pass AND
    # the multi-assignment — without the barrier the canon-RDD ⋈
    # embeddings join re-executes under each (same plan-dedup rationale
    # as the canon barrier; measured ~11% off the leg at sf0.1)
    sem_in = canon.select("doc_id").join(
        e.select(F.col("vec_id").alias("doc_id"), "embedding"), "doc_id"
    ).localCheckpoint(eager=False)
    sem = semdedup(
        sem_in, "doc_id", "embedding", n_centroids=16,
        threshold_micro=350_000,
    )
    drops = sem.filter(~F.col("keep")).select("doc_id")
    fin = canon.join(drops, "doc_id", "left_anti")
    split = hash_split(
        fin, ["doc_id"], {"train": 0.8, "val": 0.1, "test": 0.1}, seed=7
    )
    return split.select("doc_id", "lang", "split")


from gcp_data_pipeline_fyp_spark.queries_vectors import _semdedup_ctes  # noqa: E402

_SQL_SEM_CANON = (
    "SELECT c.doc_id AS corpus_id, e.embedding::DOUBLE[] AS cv "
    "FROM canon c JOIN embeddings e ON c.doc_id = e.vec_id"
)

# Every non-recursive CTE is declared AS MATERIALIZED, in this string
# only: DuckDB inlines a CTE at each reference, and across this
# 43-CTE chain the inlined plan runs out of memory (12.5 GiB at
# sf0.01); materialized, it runs in 0.2 s. The shared pieces stay as
# they are for the oracles they also serve.
SQL_CORPUS_PREP_V3 = re.sub(
    r"(?m)^((?:WITH RECURSIVE )?\w+) AS \(",
    r"\1 AS MATERIALIZED (",
    f"""
{_SQL_CORPUS_PREP_CHAIN},
{_semdedup_ctes(_SQL_SEM_CANON, 350_000, prefix="sd")},
fin AS (SELECT canon.doc_id, canon.lang FROM canon
  LEFT JOIN sddrp ON canon.doc_id = sddrp.corpus_id
  WHERE sddrp.corpus_id IS NULL)
{_SQL_SPLIT_TAIL}
FROM fin
""",
)

TEXT_QUERIES["corpus_prep_v3"] = (q_corpus_prep_v3, SQL_CORPUS_PREP_V3)


# ------------------------------- length-bucketed batching (r6)
def q_length_bucketed_batches(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed-size batches of similar-length documents
    (operators/packing.py:length_bucketed_batches) — the batching
    layout inference/training loops want: padding waste per batch is
    bounded by the power-of-two bucket spread, batch composition is a
    pure function of content (stable across runs and engines).
    Window is r7-queue."""
    from gcp_data_pipeline_fyp_spark.functions.text import token_count
    from gcp_data_pipeline_fyp_spark.operators.packing import (
        length_bucketed_batches,
    )

    d = _docs(spark, sf)
    with_len = d.select(
        "doc_id", F.coalesce(token_count("text"), F.lit(0)).alias("n_tokens")
    )
    return length_bucketed_batches(
        with_len, "doc_id", "n_tokens", batch_size=32, seed=5
    )


_B5 = _hbs11(["doc_id"], seed=5)
SQL_LENGTH_BUCKETED_BATCHES = f"""
WITH t AS (SELECT doc_id,
  coalesce(cast(len({_SQL_TOKS}) AS int), 0) AS n_tokens FROM documents),
f AS (SELECT doc_id,
  cast(length(bin(greatest(n_tokens, 1))) - 1 AS int) AS len_bucket
  FROM t WHERE n_tokens > 0),
r AS (SELECT doc_id, len_bucket, row_number() OVER (
    PARTITION BY len_bucket ORDER BY ({_B5}) ASC, doc_id ASC) AS rn
  FROM f)
SELECT doc_id, len_bucket,
  cast((rn - 1) // 32 AS int) AS batch_id
FROM r
"""

TEXT_QUERIES["length_bucketed_batches"] = (
    q_length_bucketed_batches,
    SQL_LENGTH_BUCKETED_BATCHES,
)


# ------------------------------------- k-anonymity release gate (r6 tail)
def q_kanon_released_docs(spark: SparkSession, sf: str) -> DataFrame:
    """k-anonymity-gated corpus release: generalize the size
    quasi-identifier into 1000-char bands, then release only documents
    whose (lang, source, band) group has >= 5 members — one group-size
    aggregation + a null-safe LEFT SEMI join back, never a window over
    the corpus (operators/privacy.py). Row-level output so the hash
    certifies the exact released set. Window is r7-queue."""
    from gcp_data_pipeline_fyp_spark.operators.privacy import (
        generalize_band,
        suppress_small_groups,
    )

    docs = load(spark, sf, "documents").select(
        "doc_id", "lang", "source",
        generalize_band("n_chars", 1000).alias("chars_band"),
    )
    return suppress_small_groups(docs, ["lang", "source", "chars_band"], 5)


SQL_KANON_RELEASED_DOCS = """
WITH g AS (
  SELECT doc_id, lang, source,
    CAST(FLOOR(n_chars / 1000) * 1000 AS BIGINT) AS chars_band
  FROM documents),
sizes AS (
  SELECT lang, source, chars_band
  FROM g GROUP BY lang, source, chars_band
  HAVING count(*) >= 5)
SELECT doc_id, g.lang, g.source, g.chars_band
FROM g SEMI JOIN sizes
  ON g.lang IS NOT DISTINCT FROM sizes.lang
 AND g.source IS NOT DISTINCT FROM sizes.source
 AND g.chars_band IS NOT DISTINCT FROM sizes.chars_band
"""

TEXT_QUERIES["kanon_released_docs"] = (
    q_kanon_released_docs,
    SQL_KANON_RELEASED_DOCS,
)


def q_kanon_report(spark: SparkSession, sf: str) -> DataFrame:
    """The audit artifact for the k-anonymity gate: every quasi-
    identifier group with its size and released/suppressed verdict.
    Window is r7-queue."""
    from gcp_data_pipeline_fyp_spark.operators.privacy import (
        generalize_band,
        kanonymity_report,
    )

    docs = load(spark, sf, "documents").select(
        "lang", "source", generalize_band("n_chars", 1000).alias("chars_band")
    )
    return kanonymity_report(docs, ["lang", "source", "chars_band"], 5)


SQL_KANON_REPORT = """
SELECT lang, source,
  CAST(FLOOR(n_chars / 1000) * 1000 AS BIGINT) AS chars_band,
  CAST(count(*) AS BIGINT) AS group_size,
  count(*) >= 5 AS released
FROM documents
GROUP BY lang, source, chars_band
"""

TEXT_QUERIES["kanon_report"] = (q_kanon_report, SQL_KANON_REPORT)


# --------------------------- label-propagation communities (r6 tail)
def q_label_prop_communities(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed 4-round synchronous label propagation over the LSH
    candidate-pair graph: the community complement of the transitive
    closure — weakly-bridged near-dup families split instead of
    chaining into one cluster (operators/components.py
    label_propagation; deterministic min-label tie-break, replayed
    round-for-round by the oracle). Window is r7-queue."""
    from gcp_data_pipeline_fyp_spark.operators.components import (
        label_propagation,
    )

    d = _docs_with_neardups(spark, sf)
    pairs = minhash_lsh_candidates(
        d, "doc_id", "text", num_hashes=_NUM_HASHES, bands=_BANDS
    )
    out = label_propagation(pairs, iters=4)
    pairs.unpersist()
    return out.select(F.col("node").alias("doc_id"), "community")


from gcp_data_pipeline_fyp_spark.operators.components import (  # noqa: E402
    label_propagation_iteration_sql as _lp_iter,
)

_LP_ITERS = ", ".join(_lp_iter(i) for i in range(1, 5))
SQL_LABEL_PROP_COMMUNITIES = f"""
WITH pairs AS ({SQL_MINHASH_LSH_PAIRS}),
e0 AS (SELECT id_a AS a, id_b AS b FROM pairs
       UNION SELECT id_b, id_a FROM pairs),
l0 AS (SELECT DISTINCT a AS v, a AS lbl FROM e0),
{_LP_ITERS}
SELECT v AS doc_id, lbl AS community FROM l4
"""

TEXT_QUERIES["label_prop_communities"] = (
    q_label_prop_communities,
    SQL_LABEL_PROP_COMMUNITIES,
)


# ------------------------ privacy-gated release pipeline (r6 tail)
def q_release_gated_docs(spark: SparkSession, sf: str) -> DataFrame:
    """The release composition: Gopher quality gate -> k-anonymity
    suppression over (lang, source, size band) — one Catalyst plan, no
    materialization between stages (the filter prunes BEFORE the
    group-size aggregation, so the privacy pass is sized by the kept
    set). The row-level released set certifies both stages and their
    interaction (filtering changes group sizes, which changes what the
    privacy gate releases). Window is r7-queue."""
    from gcp_data_pipeline_fyp_spark.functions.text import gopher_keep
    from gcp_data_pipeline_fyp_spark.operators.privacy import (
        generalize_band,
        suppress_small_groups,
    )

    d = _docs(spark, sf)
    kept = d.filter(gopher_keep(F.col("text"))).select(
        "doc_id", "lang", "source",
        generalize_band("n_chars", 1000).alias("chars_band"),
    )
    return suppress_small_groups(kept, ["lang", "source", "chars_band"], 5)


SQL_RELEASE_GATED_DOCS = f"""
WITH t AS (SELECT doc_id, lang, source, n_chars, text,
                  {_SQL_TOKS} AS toks FROM documents),
m AS (SELECT doc_id, lang, source, n_chars,
  len(toks) AS n,
  cast(list_sum(list_transform(toks, t -> length(t))) AS double)
    / nullif(len(toks), 0) AS mean_len,
  cast(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS double) AS symbols,
  len(list_filter(toks, t -> t IN {_SQL_EN_LIST})) AS stop_hits
  FROM t),
kept AS (SELECT doc_id, lang, source,
  CAST(FLOOR(n_chars / 1000) * 1000 AS BIGINT) AS chars_band
  FROM m
  WHERE coalesce(n >= 50 AND n <= 100000
    AND mean_len >= 3 AND mean_len <= 10
    AND symbols / nullif(n, 0) < 0.1
    AND stop_hits >= 2, false)),
sizes AS (SELECT lang, source, chars_band
  FROM kept GROUP BY lang, source, chars_band HAVING count(*) >= 5)
SELECT doc_id, kept.lang, kept.source, kept.chars_band
FROM kept SEMI JOIN sizes
  ON kept.lang IS NOT DISTINCT FROM sizes.lang
 AND kept.source IS NOT DISTINCT FROM sizes.source
 AND kept.chars_band IS NOT DISTINCT FROM sizes.chars_band
"""

TEXT_QUERIES["release_gated_docs"] = (
    q_release_gated_docs,
    SQL_RELEASE_GATED_DOCS,
)


def q_clustering_coefficients(spark: SparkSession, sf: str) -> DataFrame:
    """Local clustering coefficient per doc over the LSH candidate
    graph (operators/components.py:clustering_coefficients) — the
    normalized closure score: ~1 = clique member (real near-dup
    family), ~0 = hub of spurious band collisions. Window is
    r7-queue."""
    from gcp_data_pipeline_fyp_spark.operators.components import (
        clustering_coefficients,
    )

    d = _docs_with_neardups(spark, sf)
    pairs = minhash_lsh_candidates(
        d, "doc_id", "text", num_hashes=_NUM_HASHES, bands=_BANDS
    )
    # materialize before releasing the candidate cache: the operator
    # references the edge set four times (wedge join x2, closing join,
    # degrees), so dropping the cache on a still-lazy plan would
    # recompute the whole MinHash/LSH pipeline per reference
    out = clustering_coefficients(pairs).localCheckpoint()
    pairs.unpersist()
    return out.select(
        F.col("node").alias("doc_id"), "degree", "n_triangles", "cc_micro"
    )


SQL_CLUSTERING_COEFFICIENTS = f"""
WITH pairs AS ({SQL_MINHASH_LSH_PAIRS}),
e AS (SELECT DISTINCT least(id_a, id_b) AS a, greatest(id_a, id_b) AS b
      FROM pairs WHERE id_a <> id_b),
und AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
deg AS (SELECT a AS node, count(*) AS degree FROM und GROUP BY a),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e e1 JOIN e e2 ON e2.a = e1.b
            JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
corners AS (
  SELECT x AS node FROM tri
  UNION ALL SELECT y FROM tri
  UNION ALL SELECT z FROM tri),
tcount AS (SELECT node, count(*) AS n_triangles FROM corners GROUP BY node)
SELECT deg.node AS doc_id, CAST(degree AS BIGINT) AS degree,
  CAST(coalesce(n_triangles, 0) AS BIGINT) AS n_triangles,
  {micro6_sql(
    "2.0 * coalesce(n_triangles, 0) / (degree * (degree - 1))"
  )} AS cc_micro
FROM deg LEFT JOIN tcount ON deg.node = tcount.node
WHERE degree >= 2
"""

TEXT_QUERIES["clustering_coefficients"] = (
    q_clustering_coefficients,
    SQL_CLUSTERING_COEFFICIENTS,
)


# --------------------------------------- cross-source score calibration
def q_source_znormalized_tokens(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source z-normalization of a per-doc score (token count) via
    `operators/profile.py:group_znormalize` — the calibration step
    before corpus mixing: raw length/quality scores are only
    comparable across crawls after removing each source's own
    location/scale. Exact-decimal sufficient statistics, one shuffle,
    |sources|-sized broadcast back; z emitted in micro-units (the
    hash-safe convention). Window is r7-queue."""
    from gcp_data_pipeline_fyp_spark.operators.profile import (
        group_znormalize,
    )

    d = _docs(spark, sf).select(
        "doc_id",
        "source",
        F.coalesce(token_count("text"), F.lit(0)).alias("n_tokens"),
    )
    return group_znormalize(d, ["source"], "n_tokens", alias="z_micro")


SQL_SOURCE_ZNORMALIZED_TOKENS = f"""
WITH t AS (SELECT doc_id, source,
  coalesce(cast(len({_SQL_TOKS}) AS int), 0) AS n_tokens FROM documents),
stats AS (
  SELECT source, count(*) AS n,
    CAST(sum(CAST(n_tokens AS DECIMAL(18,4))) AS DOUBLE) AS sx,
    CAST(sum(CAST(CAST(n_tokens AS DECIMAL(18,4))
      * CAST(n_tokens AS DECIMAL(18,4)) AS DECIMAL(38,8))) AS DOUBLE)
      AS sxx
  FROM t GROUP BY source)
SELECT doc_id, t.source, n_tokens,
  {micro6_sql(
    "(CAST(n_tokens AS DOUBLE) - sx / CAST(n AS DOUBLE))"
    " / nullif(sqrt(greatest("
    "sxx / CAST(n AS DOUBLE)"
    " - (sx / CAST(n AS DOUBLE)) * (sx / CAST(n AS DOUBLE)), 0.0)), 0.0)"
  )} AS z_micro
FROM t JOIN stats ON t.source = stats.source
"""

TEXT_QUERIES["source_znormalized_tokens"] = (
    q_source_znormalized_tokens,
    SQL_SOURCE_ZNORMALIZED_TOKENS,
)


# ------------------------------------------- classifier calibration (r7)
def q_classifier_reliability(spark: SparkSession, sf: str) -> DataFrame:
    """Reliability table for the quality classifier — the standard
    calibration eval (reliability diagram): score the corpus with the
    certified hashing-trick classifier, rank docs into 10 score
    deciles (ntile over (score, doc_id) — deterministic under ties),
    and report per-bin size, mean score, and empirical positive rate
    against the Gopher pseudo-labels. A well-calibrated scorer shows
    frac_pos rising monotonically with the bin; the gate threshold
    (score > 0) can then be read off the table instead of guessed.
    Empty docs (no features) carry no score and are excluded.

    Scale note: decile assignment is a GLOBAL rank window (one-task
    sort) — correct practice is to calibrate on an eval sample, which
    is what this computes; for full-corpus binning at 100 TB derive
    boundaries from the mergeable quantile states
    (operators/rollup.py:quantile_state) and assign by range."""
    from pyspark.sql import Window

    from gcp_data_pipeline_fyp_spark.functions.text import gopher_keep
    from gcp_data_pipeline_fyp_spark.operators.classifier import (
        bucketed_features,
        score_from_buckets,
        train_from_buckets,
    )

    d = _docs(spark, sf)
    labeled = d.withColumn("__lbl", gopher_keep(F.col("text")))
    feats = bucketed_features(
        labeled, ["doc_id", "__lbl"], "text", n_buckets=4096, seed=11
    ).localCheckpoint(eager=False)
    weights = train_from_buckets(feats, "__lbl", n_buckets=4096)
    scored = score_from_buckets(
        feats.select("doc_id", "__b"), "doc_id", weights, d.select("doc_id")
    ).filter(F.col("label") != "empty")
    sl = scored.join(labeled.select("doc_id", "__lbl"), "doc_id").withColumn(
        "bin",
        F.ntile(10).over(Window.orderBy("score_micro", "doc_id")),
    )
    return (
        sl.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            micro6(F.avg("score_micro")).alias("mean_score_micro"),
            micro6(F.avg(F.col("__lbl").cast("int"))).alias(
                "frac_pos_micro"
            ),
        )
        .orderBy("bin")
    )


SQL_CLASSIFIER_RELIABILITY = f"""
WITH t0 AS (SELECT doc_id, text, {_SQL_TOKS} AS toks FROM documents),
m AS (SELECT doc_id, len(toks) AS n,
  cast(list_sum(list_transform(toks, t -> length(t))) AS double)
    / nullif(len(toks), 0) AS mean_len,
  cast(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS double) AS symbols,
  len(list_filter(toks, t -> t IN {_SQL_EN})) AS stop_hits
  FROM t0),
lab AS (SELECT doc_id,
  coalesce(n >= 50 AND n <= 100000
    AND mean_len >= 3 AND mean_len <= 10
    AND symbols / nullif(n, 0) < 0.1
    AND stop_hits >= 2, false) AS lbl
  FROM m),
{_SQL_CLS_FEATS},
bl AS (SELECT b.doc_id, b.bucket, lab.lbl FROM b JOIN lab USING (doc_id)),
counts AS (SELECT bucket,
    sum(CASE WHEN lbl THEN 1 ELSE 0 END) AS n_pos,
    sum(CASE WHEN lbl THEN 0 ELSE 1 END) AS n_neg
  FROM bl GROUP BY bucket),
tot AS (SELECT sum(n_pos) AS tot_pos, sum(n_neg) AS tot_neg FROM counts),
w AS (SELECT bucket,
  CAST(round(
    (((n_pos + 1.0) / (tot_pos + 4096.0) - (n_neg + 1.0) / (tot_neg + 4096.0))
    / ((n_pos + 1.0) / (tot_pos + 4096.0) + (n_neg + 1.0) / (tot_neg + 4096.0)))
    * 1000.0) AS BIGINT) AS w_milli
  FROM counts CROSS JOIN tot),
s AS (SELECT b.doc_id,
    sum(coalesce(w.w_milli, 0)) AS sum_w,
    count(*) AS n_features
  FROM b LEFT JOIN w USING (bucket) GROUP BY b.doc_id),
scored AS (SELECT s.doc_id,
    CAST(round(s.sum_w * 1000.0 / s.n_features) AS BIGINT) AS score_micro
  FROM s),
sl AS (SELECT scored.doc_id, score_micro, lab.lbl,
    ntile(10) OVER (ORDER BY score_micro, scored.doc_id) AS bin
  FROM scored JOIN lab USING (doc_id))
SELECT bin, count(*) AS n_docs,
  {{mean_score}},
  {{frac_pos}}
FROM sl GROUP BY bin ORDER BY bin
""".format(
    mean_score=micro6_sql("avg(score_micro)") + " AS mean_score_micro",
    frac_pos=micro6_sql("avg(CASE WHEN lbl THEN 1.0 ELSE 0.0 END)")
    + " AS frac_pos_micro",
)

TEXT_QUERIES["classifier_reliability"] = (
    q_classifier_reliability,
    SQL_CLASSIFIER_RELIABILITY,
)


# ------------------------------------------------- l-diversity gate (r7)
def q_ldiversity_report(spark: SparkSession, sf: str) -> DataFrame:
    """l-diversity audit (operators/privacy.py:ldiversity_report):
    k-anonymity's complement — a (source, chars_band) group releases
    only if the sensitive `lang` attribute takes >= 5 distinct values
    inside it, so membership in a released group cannot reveal a
    document's language. One exact groupBy, group-count-sized."""
    from gcp_data_pipeline_fyp_spark.operators.privacy import (
        generalize_band,
        ldiversity_report,
    )

    docs = load(spark, sf, "documents").select(
        "source",
        generalize_band("n_chars", 2000).alias("chars_band"),
        "lang",
    )
    return ldiversity_report(docs, ["source", "chars_band"], "lang", 5)


SQL_LDIVERSITY_REPORT = """
SELECT source,
  CAST(FLOOR(n_chars / 2000) * 2000 AS BIGINT) AS chars_band,
  CAST(count(*) AS BIGINT) AS group_size,
  CAST(count(DISTINCT lang) AS BIGINT) AS n_sensitive,
  count(DISTINCT lang) >= 5 AS released
FROM documents
GROUP BY source, chars_band
"""

TEXT_QUERIES["ldiversity_report"] = (q_ldiversity_report, SQL_LDIVERSITY_REPORT)


def q_ldiverse_released_docs(spark: SparkSession, sf: str) -> DataFrame:
    """The releasable rows under the l-diversity gate — row-level so
    the hash certifies the exact released set (the kanon_released_docs
    companion)."""
    from gcp_data_pipeline_fyp_spark.operators.privacy import (
        generalize_band,
        suppress_low_diversity,
    )

    docs = load(spark, sf, "documents").select(
        "doc_id",
        "source",
        generalize_band("n_chars", 2000).alias("chars_band"),
        "lang",
    )
    return suppress_low_diversity(
        docs, ["source", "chars_band"], "lang", 5
    )


SQL_LDIVERSE_RELEASED_DOCS = """
WITH g AS (
  SELECT doc_id, source,
    CAST(FLOOR(n_chars / 2000) * 2000 AS BIGINT) AS chars_band,
    lang
  FROM documents),
ok AS (
  SELECT source, chars_band
  FROM g GROUP BY source, chars_band
  HAVING count(DISTINCT lang) >= 5)
SELECT doc_id, g.source, g.chars_band, g.lang
FROM g SEMI JOIN ok
  ON g.source IS NOT DISTINCT FROM ok.source
 AND g.chars_band IS NOT DISTINCT FROM ok.chars_band
"""

TEXT_QUERIES["ldiverse_released_docs"] = (
    q_ldiverse_released_docs,
    SQL_LDIVERSE_RELEASED_DOCS,
)


# --------------------------------------------- categorical drift (r7)
def q_lang_mix_drift(spark: SparkSession, sf: str) -> DataFrame:
    """PSI of the language mix per source between the even- and
    odd-doc_id halves of the corpus — the categorical drift monitor a
    mixing pipeline runs between its training snapshot and each fresh
    crawl. Category set = union observed across both snapshots;
    add-half smoothing over exact counts; contributions
    micro6-rounded then integer-summed (no float summation order).

    The split key is ``doc_id % 40 < 20``: the synthetic corpus sets
    ``source = src{doc_id % 20}``, so an even/odd split would place
    each source entirely in one half and psi_categorical's
    both-snapshots gate would drop every group (a vacuous 0-row
    probe). Splitting on the mod-40 residue puts every mod-20 source
    class in both halves."""
    from gcp_data_pipeline_fyp_spark.operators.profile import psi_categorical

    docs = load(spark, sf, "documents")
    out = psi_categorical(
        docs.filter(F.col("doc_id") % 40 < 20),
        docs.filter(F.col("doc_id") % 40 >= 20),
        "lang",
        ["source"],
    )
    return out.select(
        "source", "n_base", "n_cur", "n_cats", "psi_micro"
    ).orderBy("source")


SQL_LANG_MIX_DRIFT = """
WITH base AS (
  SELECT source, lang FROM documents
  WHERE lang IS NOT NULL AND doc_id % 40 < 20),
cur AS (
  SELECT source, lang FROM documents
  WHERE lang IS NOT NULL AND doc_id % 40 >= 20),
b AS (SELECT source, lang, count(*) AS cb FROM base GROUP BY 1, 2),
c AS (SELECT source, lang, count(*) AS cc FROM cur GROUP BY 1, 2),
p AS (
  SELECT coalesce(b.source, c.source) AS source,
         coalesce(b.lang, c.lang) AS lang,
         coalesce(cb, 0) AS cb, coalesce(cc, 0) AS cc
  FROM b FULL JOIN c ON b.source = c.source AND b.lang = c.lang),
t AS (
  SELECT source, sum(cb) AS n_base, sum(cc) AS n_cur,
         count(*) AS n_cats
  FROM p GROUP BY 1 HAVING sum(cb) > 0 AND sum(cc) > 0),
d AS (
  SELECT p.source, n_base, n_cur, n_cats,
    (2.0 * cb + 1.0) / (2.0 * n_base + CAST(n_cats AS DOUBLE)) AS pb,
    (2.0 * cc + 1.0) / (2.0 * n_cur + CAST(n_cats AS DOUBLE)) AS pc
  FROM p JOIN t USING (source))
SELECT source,
  CAST(n_base AS BIGINT) AS n_base,
  CAST(n_cur AS BIGINT) AS n_cur,
  CAST(n_cats AS BIGINT) AS n_cats,
  CAST(sum(CAST(round(((pc - pb) * ln(pc / pb)) * 1000000.0) AS BIGINT))
    AS BIGINT) AS psi_micro
FROM d GROUP BY 1, 2, 3, 4 ORDER BY source
"""

TEXT_QUERIES["lang_mix_drift"] = (q_lang_mix_drift, SQL_LANG_MIX_DRIFT)


def q_source_lang_association(spark: SparkSession, sf: str) -> DataFrame:
    """Mutual information + chi-square between source and lang
    (operators/profile.py:contingency_stats) — is the corpus's
    language mix independent of its source? One contingency
    aggregation; per-cell terms micro6-rounded then integer-summed
    (no float summation order); chi-square over the full margin
    cross so empty cells contribute their expectation."""
    from gcp_data_pipeline_fyp_spark.operators.profile import (
        contingency_stats,
    )

    docs = load(spark, sf, "documents")
    return contingency_stats(docs, "source", "lang")


SQL_SOURCE_LANG_ASSOCIATION = """
WITH cells AS (
  SELECT source AS x, lang AS y, count(*) AS c
  FROM documents
  WHERE source IS NOT NULL AND lang IS NOT NULL GROUP BY 1, 2),
rx AS (SELECT x, sum(c) AS rx FROM cells GROUP BY 1),
cy AS (SELECT y, sum(c) AS cy FROM cells GROUP BY 1),
tot AS (SELECT sum(c) AS n FROM cells),
grid AS (
  SELECT rx.x, cy.y, coalesce(cells.c, 0) AS c, rx.rx, cy.cy, tot.n
  FROM rx CROSS JOIN cy
  LEFT JOIN cells ON cells.x = rx.x AND cells.y = cy.y
  CROSS JOIN tot),
terms AS (
  SELECT n, c, rx, cy,
    CASE WHEN c > 0 THEN CAST(round(
      ((CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
        * ln(CAST(c AS DOUBLE) * CAST(n AS DOUBLE)
             / (CAST(rx AS DOUBLE) * cy))) * 1000000.0) AS BIGINT)
    ELSE 0 END AS mi_t,
    CAST(round((
      (CAST(c AS DOUBLE) - CAST(rx AS DOUBLE) * cy / CAST(n AS DOUBLE))
      * (CAST(c AS DOUBLE) - CAST(rx AS DOUBLE) * cy / CAST(n AS DOUBLE))
      / (CAST(rx AS DOUBLE) * cy / CAST(n AS DOUBLE))) * 1000000.0)
      AS BIGINT) AS chi_t
  FROM grid)
SELECT CAST(max(n) AS BIGINT) AS n,
  CAST(count(*) AS BIGINT) AS n_cells,
  CAST(sum(mi_t) AS BIGINT) AS mi_micro,
  CAST(sum(chi_t) AS BIGINT) AS chi2_micro
FROM terms
"""

TEXT_QUERIES["source_lang_association"] = (
    q_source_lang_association,
    SQL_SOURCE_LANG_ASSOCIATION,
)


# ------------------------------------- source redundancy map (r7)
def q_source_jsd_matrix(spark: SparkSession, sf: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between the sources'
    unigram distributions (operators/profile.py:unigram_jsd_matrix) —
    the corpus-mixing redundancy map. Shared-vocab terms nano-rounded
    and integer-summed; single-source mass in closed form from
    integer totals; all emissions integer nano-units."""
    from gcp_data_pipeline_fyp_spark.operators.profile import (
        unigram_jsd_matrix,
    )

    docs = load(spark, sf, "documents")
    return unigram_jsd_matrix(docs, "text", "source").orderBy(
        "source_a", "source_b"
    )


import math as _math  # noqa: E402

SQL_SOURCE_JSD_MATRIX = f"""
WITH toks AS (
  SELECT source AS src,
         unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
  FROM documents WHERE text IS NOT NULL),
counts AS (
  SELECT src, tok, count(*) AS c FROM toks WHERE tok != '' GROUP BY 1, 2),
totals AS (SELECT src, sum(c) AS n FROM counts GROUP BY 1),
prof AS (SELECT counts.src, tok, c, n FROM counts JOIN totals USING (src)),
pairs AS (
  SELECT a.src AS source_a, b.src AS source_b,
         a.c AS ca, a.n AS na, b.c AS cb, b.n AS nb
  FROM prof a JOIN prof b ON a.tok = b.tok AND a.src < b.src),
terms AS (
  SELECT source_a, source_b, ca, na, cb, nb,
    CAST(round((
        (CAST(ca AS DOUBLE) / CAST(na AS DOUBLE) / 2.0)
          * ln((CAST(ca AS DOUBLE) / CAST(na AS DOUBLE))
               / ((CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)
                   + CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE)) / 2.0))
      + (CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE) / 2.0)
          * ln((CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))
               / ((CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)
                   + CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE)) / 2.0))
      ) * 1000000000.0) AS BIGINT) AS t
  FROM pairs),
agg AS (
  SELECT source_a, source_b,
    max(na) AS n_a, max(nb) AS n_b,
    sum(t) AS t_sum, sum(ca) AS sca, sum(cb) AS scb
  FROM terms GROUP BY 1, 2)
SELECT source_a, source_b,
  CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
  CAST(t_sum + CAST(round({_math.log(2.0) / 2.0!r}
    * (CAST(n_a - sca AS DOUBLE) / CAST(n_a AS DOUBLE)
       + CAST(n_b - scb AS DOUBLE) / CAST(n_b AS DOUBLE))
    * 1000000000.0) AS BIGINT) AS BIGINT) AS jsd_nano
FROM agg ORDER BY source_a, source_b
"""

TEXT_QUERIES["source_jsd_matrix"] = (
    q_source_jsd_matrix,
    SQL_SOURCE_JSD_MATRIX,
)


def q_weighted_doc_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Efraimidis-Spirakis weighted sampling without replacement
    (operators/sampling.py:weighted_sample_wor): exactly 30 docs per
    source, inclusion probability proportional to n_chars — the
    long-doc-favoring curation sample with no duplicates. Rank
    -ln(u)/w from the keyed md5; hash-deterministic across engines."""
    from gcp_data_pipeline_fyp_spark.operators.sampling import (
        weighted_sample_wor,
    )

    docs = load(spark, sf, "documents")
    out = weighted_sample_wor(
        docs, ["doc_id"], "n_chars", 30, ["source"], seed=0
    )
    return out.select("doc_id", "source", "n_chars").orderBy(
        "source", "doc_id"
    )


SQL_WEIGHTED_DOC_SAMPLE = """
WITH h0 AS (
  SELECT doc_id, source, n_chars,
    cast(concat('0x', substr(md5(concat('0|',
      CAST(length(CAST(doc_id AS VARCHAR)) AS VARCHAR), ':',
      CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) AS h
  FROM documents
  WHERE n_chars IS NOT NULL AND CAST(n_chars AS DOUBLE) > 0),
r AS (
  SELECT doc_id, source, n_chars, h,
    -ln((h + 1.0) / 1152921504606846977.0)
      / CAST(n_chars AS DOUBLE) AS es_rank
  FROM h0),
rn AS (
  SELECT doc_id, source, n_chars,
    row_number() OVER (PARTITION BY source
                       ORDER BY es_rank, h, doc_id) AS rk
  FROM r)
SELECT doc_id, source, n_chars FROM rn WHERE rk <= 30
ORDER BY source, doc_id
"""

TEXT_QUERIES["weighted_doc_sample"] = (
    q_weighted_doc_sample,
    SQL_WEIGHTED_DOC_SAMPLE,
)


# ------------------------------------- epoch shuffle order (r8)
def q_epoch_shuffle_order(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic epoch-3 training permutation (operators/
    packing.py:epoch_shuffle_order): global_pos is the rank under the
    md5(epoch_id)-keyed order — computed with uniform hash-bucket
    two-level prefix ranks, never a global sort. The oracle is the
    plain global row_number over the same key; chaining the epoch
    into the key makes every epoch a fresh, restart-stable
    permutation."""
    from gcp_data_pipeline_fyp_spark.operators.packing import (
        epoch_shuffle_order,
    )

    d = _docs(spark, sf).select("doc_id")
    out = epoch_shuffle_order(d, "doc_id", epoch=3)
    return out.select("doc_id", "global_pos")


SQL_EPOCH_SHUFFLE_ORDER = """
WITH k AS (
  SELECT doc_id,
    cast(concat('0x',
      substr(md5(concat('3_', cast(doc_id AS varchar))), 1, 15))
      AS bigint) AS key
  FROM documents)
SELECT doc_id,
  cast(row_number() OVER (ORDER BY key, doc_id) - 1 AS bigint)
    AS global_pos
FROM k
"""

TEXT_QUERIES["epoch_shuffle_order"] = (
    q_epoch_shuffle_order,
    SQL_EPOCH_SHUFFLE_ORDER,
)


# ------------------------------------- within-doc repetition (r8)
def q_doc_repetition_report(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-style within-document repetition filters (public
    heuristics; functions/text.py:ngram_repetition_frac): per doc, the
    duplicate bigram/trigram fraction — decoding loops and boilerplate
    stutter score high, prose stays near 0. Pure per-row column
    algebra: no explode, no shuffle, the whole report is one scan;
    docs shorter than n tokens emit NULL for that n."""
    from gcp_data_pipeline_fyp_spark.functions.text import (
        ngram_repetition_frac,
        tokens,
    )
    from gcp_data_pipeline_fyp_spark.queries_util import micro6

    d = _docs(spark, sf)
    # projected token array: ngram_repetition_frac's position lambda
    # references the array per gram — inline tokens would re-split per
    # position (the engine-wide higher-order-function trap)
    td = d.select("doc_id", tokens("text").alias("__toks"))
    return td.select(
        "doc_id",
        micro6(ngram_repetition_frac(F.col("__toks"), 2)).alias("rep2_micro"),
        micro6(ngram_repetition_frac(F.col("__toks"), 3)).alias("rep3_micro"),
    ).orderBy("doc_id")


SQL_DOC_REPETITION_REPORT = f"""
WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
g AS (
  SELECT doc_id,
    list_transform(generate_series(1, len(toks) - 1),
      i -> concat(toks[i], ' ', toks[i + 1])) AS g2,
    list_transform(generate_series(1, len(toks) - 2),
      i -> concat(toks[i], ' ', toks[i + 1], ' ', toks[i + 2])) AS g3
  FROM t)
SELECT doc_id,
  CASE WHEN len(g2) > 0 THEN CAST(round(
    (1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2)) * 1000000.0)
    AS BIGINT) END AS rep2_micro,
  CASE WHEN len(g3) > 0 THEN CAST(round(
    (1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3)) * 1000000.0)
    AS BIGINT) END AS rep3_micro
FROM g ORDER BY doc_id
"""

TEXT_QUERIES["doc_repetition_report"] = (
    q_doc_repetition_report,
    SQL_DOC_REPETITION_REPORT,
)


# ------------------------------------- tokenizer fertility (r8)
def q_tokenizer_fertility(spark: SparkSession, sf: str) -> DataFrame:
    """Tokenizer-fertility report per language — the standard
    tokenizer-eval statistic (sub-word tokens per whitespace word):
    languages the vocabulary under-serves show fertility creep, the
    signal that drives vocab rebalancing before a training run. One
    scan: per-doc counts are column expressions, the report is one
    |langs|-sized aggregation with exact integer sums and ONE division
    at the end."""
    from gcp_data_pipeline_fyp_spark.queries_util import micro6

    d = _docs(spark, sf).filter(
        F.col("lang").isNotNull() & F.col("text").isNotNull()
    )
    per = d.select(
        "lang",
        token_count("text").alias("__w"),
        bpe_ish_token_count("text").alias("__t"),
    ).filter(F.col("__w") > 0)
    agg = per.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__w").cast("long").alias("n_words"),
        F.sum("__t").cast("long").alias("n_subword_tokens"),
    )
    fert = micro6(
        F.col("n_subword_tokens").cast("double")
        / F.col("n_words").cast("double")
    )
    return agg.select(
        "lang", "n_docs", "n_words", "n_subword_tokens",
        fert.alias("fertility_micro"),
    ).orderBy("lang")


SQL_TOKENIZER_FERTILITY = f"""
WITH t AS (
  SELECT lang, len({_SQL_TOKS}) AS w,
    len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS tk
  FROM documents WHERE lang IS NOT NULL AND text IS NOT NULL),
f AS (SELECT * FROM t WHERE w > 0)
SELECT lang,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(w) AS BIGINT) AS n_words,
  CAST(sum(tk) AS BIGINT) AS n_subword_tokens,
  CAST(round((CAST(sum(tk) AS DOUBLE) / CAST(sum(w) AS DOUBLE))
    * 1000000.0) AS BIGINT) AS fertility_micro
FROM f GROUP BY lang ORDER BY lang
"""

TEXT_QUERIES["tokenizer_fertility"] = (
    q_tokenizer_fertility,
    SQL_TOKENIZER_FERTILITY,
)


# ------------------------------------- weighted interleave (r8)
def q_weighted_interleave_order(spark: SparkSession, sf: str) -> DataFrame:
    """Mixture-preserving training order (operators/packing.py:
    interleave_by_source): seeded per-source permutation ranks via
    uniform-hash two-level prefix counts, stride key
    (rank+0.5)/weight — a weight-2 source appears twice as often at
    EVERY stream prefix. Sources without a weight entry drop (stated,
    not defaulted). The oracle replays the md5 permutation and the
    stride algebra exactly."""
    from gcp_data_pipeline_fyp_spark.operators.packing import (
        interleave_by_source,
    )

    d = _docs(spark, sf).select("doc_id", "source")
    out = interleave_by_source(
        d, "doc_id", "source",
        {"src0": 2.0, "src1": 1.0, "src2": 0.5}, epoch=1,
    )
    return out.select(
        "doc_id", "source", "rank_in_source", "interleave_micro"
    ).orderBy("doc_id")


SQL_WEIGHTED_INTERLEAVE_ORDER = """
WITH k AS (
  SELECT doc_id, source,
    CASE source WHEN 'src0' THEN 2.0 WHEN 'src1' THEN 1.0
                WHEN 'src2' THEN 0.5 END AS w,
    cast(concat('0x', substr(md5(concat('1_', source, '_',
      cast(doc_id AS varchar))), 1, 15)) AS bigint) AS key
  FROM documents
  WHERE source IN ('src0', 'src1', 'src2')),
r AS (
  SELECT doc_id, source, w,
    cast(row_number() OVER (PARTITION BY source ORDER BY key, doc_id)
      - 1 AS bigint) AS rank_in_source
  FROM k)
SELECT doc_id, source, rank_in_source,
  CAST(round(((CAST(rank_in_source AS DOUBLE) + 0.5) / w) * 1000000.0)
    AS BIGINT) AS interleave_micro
FROM r ORDER BY doc_id
"""

TEXT_QUERIES["weighted_interleave_order"] = (
    q_weighted_interleave_order,
    SQL_WEIGHTED_INTERLEAVE_ORDER,
)


# ------------------------------------- LSH dedup quality eval (r8)
def q_minhash_recall_eval(spark: SparkSession, sf: str) -> DataFrame:
    """Dedup-config quality eval (operators/dedup.py:
    minhash_recall_eval) — the ANN-eval discipline applied to LSH
    dedup: exact 3-gram Jaccard ground truth on a 1-in-2 sample of
    the neardup-planted corpus (selected by stable_event_id(doc_id) %
    2, the md5-hash-mod standard — uniform on any id space, r9
    hardening of the raw id-mod), measured recall/precision of the
    production band config (8 hashes x 4 bands). The oracle replays
    the sample, the exhaustive truth pairs, the banded candidates,
    and both ratios bit-for-bit."""
    from gcp_data_pipeline_fyp_spark.operators.dedup import (
        minhash_recall_eval,
    )

    d = _docs_with_neardups(spark, sf)
    return minhash_recall_eval(
        d, "doc_id", "text", threshold=0.5, sample_mod=2,
        num_hashes=_NUM_HASHES, bands=_BANDS,
    )


SQL_MINHASH_RECALL_EVAL = f"""
WITH u0 AS ({_SQL_DOCS_WITH_NEARDUPS}),
u AS (SELECT * FROM u0
      WHERE cast(concat('0x', substr(md5(cast(doc_id AS varchar)), 1, 15))
            AS bigint) % 2 = 0),
t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM u),
g AS (SELECT doc_id, {_SQL_SHINGLES} AS grams FROM t),
truth AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM g a JOIN g b ON a.doc_id < b.doc_id
  WHERE ((round((cast(len(list_intersect(a.grams, b.grams)) AS double)
        / nullif(len(list_distinct(list_concat(a.grams, b.grams))), 0))
        * 1000000.0) / 1000000.0) + 0.0) >= 0.5),
bb AS (SELECT doc_id, {_SQL_BASE} AS base
       FROM (SELECT doc_id, grams AS sh FROM g) s),
sig AS (SELECT doc_id, {_SQL_SIG} AS sig FROM bb),
bands AS (
  SELECT doc_id, b,
    concat_ws('|', sig[b*2+1], sig[b*2+2]) AS bsig
  FROM sig, unnest(generate_series(0, 3)) AS gg(b)),
nz AS (SELECT * FROM bands WHERE bsig <> ''),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM nz a JOIN nz b
    ON a.b = b.b AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
hits AS (SELECT * FROM truth SEMI JOIN cand USING (id_a, id_b)),
c AS (
  SELECT (SELECT count(*) FROM u) AS n_docs,
         (SELECT count(*) FROM truth) AS n_true_pairs,
         (SELECT count(*) FROM cand) AS n_candidates,
         (SELECT count(*) FROM hits) AS n_hits)
SELECT CAST(n_docs AS BIGINT) AS n_docs,
  CAST(n_true_pairs AS BIGINT) AS n_true_pairs,
  CAST(n_candidates AS BIGINT) AS n_candidates,
  CAST(n_hits AS BIGINT) AS n_hits,
  CAST(round((CAST(n_hits AS DOUBLE) / nullif(n_true_pairs, 0))
    * 1000000.0) AS BIGINT) AS recall_micro,
  CAST(round((CAST(n_hits AS DOUBLE) / nullif(n_candidates, 0))
    * 1000000.0) AS BIGINT) AS precision_micro
FROM c
"""

TEXT_QUERIES["minhash_recall_eval"] = (
    q_minhash_recall_eval,
    SQL_MINHASH_RECALL_EVAL,
)


# ------------------------------------- corpus data card (r8)
def q_corpus_datacard(spark: SparkSession, sf: str) -> DataFrame:
    """The release data card in one pass: corpus size, token mass,
    exact-dup rate, Gopher quality pass rate, and language-mix
    entropy — the summary table a dataset publication ships. One
    scan computes per-doc columns (digest, token count, gopher flag);
    one digest aggregation and one |langs|-sized aggregation follow.
    Entropy follows the engine's integer-sum convention: per-language
    contributions micro6-rounded FIRST, then exact integer sum."""
    from gcp_data_pipeline_fyp_spark.functions.text import (
        gopher_keep,
        token_count,
    )
    from gcp_data_pipeline_fyp_spark.queries_util import micro6

    d = _docs(spark, sf).filter(F.col("text").isNotNull())
    per = d.select(
        F.md5(F.col("text")).alias("__dig"),
        F.coalesce(token_count("text"), F.lit(0)).alias("__tok"),
        gopher_keep("text").cast("int").alias("__keep"),
        "lang",
    )
    base = per.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__tok").cast("long").alias("n_tokens"),
        F.countDistinct("__dig").alias("__uniq"),
        F.sum("__keep").alias("__kept"),
    )
    lang = (
        per.filter(F.col("lang").isNotNull())
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    ltot = lang.agg(F.sum("__c").alias("__lt"))
    p = F.col("__c").cast("double") / F.col("__lt").cast("double")
    ent = (
        lang.crossJoin(F.broadcast(ltot))
        .select(micro6(-p * F.log(p)).alias("__e"))
        .agg(F.sum("__e").alias("lang_entropy_micro"))
    )
    return base.crossJoin(ent).select(
        "n_docs",
        "n_tokens",
        micro6(
            1.0
            - F.col("__uniq").cast("double") / F.col("n_docs").cast("double")
        ).alias("dup_frac_micro"),
        micro6(
            F.col("__kept").cast("double") / F.col("n_docs").cast("double")
        ).alias("gopher_pass_micro"),
        "lang_entropy_micro",
    )


SQL_CORPUS_DATACARD = f"""
WITH per AS (
  SELECT md5(text) AS dig,
    coalesce(len({_SQL_TOKS}), 0) AS tok,
    CASE WHEN
      len({_SQL_TOKS}) BETWEEN 50 AND 100000
      AND (cast(list_sum(list_transform({_SQL_TOKS}, t -> length(t)))
           AS double) / nullif(len({_SQL_TOKS}), 0)) BETWEEN 3 AND 10
      AND (cast(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS double)
           / nullif(len({_SQL_TOKS}), 0)) < 0.1
      AND len(list_filter({_SQL_TOKS}, t -> t IN {_SQL_EN})) >= 2
    THEN 1 ELSE 0 END AS keep,
    lang
  FROM documents WHERE text IS NOT NULL),
base AS (
  SELECT count(*) AS n_docs, sum(tok) AS n_tokens,
         count(DISTINCT dig) AS uniq, sum(keep) AS kept
  FROM per),
lang AS (
  SELECT lang, count(*) AS c FROM per WHERE lang IS NOT NULL GROUP BY 1),
ltot AS (SELECT sum(c) AS lt FROM lang),
ent AS (
  SELECT sum(CAST(round((-(CAST(c AS DOUBLE) / lt)
      * ln(CAST(c AS DOUBLE) / lt)) * 1000000.0) AS BIGINT))
    AS lang_entropy_micro
  FROM lang CROSS JOIN ltot)
SELECT CAST(n_docs AS BIGINT) AS n_docs,
  CAST(n_tokens AS BIGINT) AS n_tokens,
  CAST(round((1.0 - CAST(uniq AS DOUBLE) / n_docs) * 1000000.0) AS BIGINT)
    AS dup_frac_micro,
  CAST(round((CAST(kept AS DOUBLE) / n_docs) * 1000000.0) AS BIGINT)
    AS gopher_pass_micro,
  CAST(lang_entropy_micro AS BIGINT) AS lang_entropy_micro
FROM base CROSS JOIN ent
"""

TEXT_QUERIES["corpus_datacard"] = (
    q_corpus_datacard,
    SQL_CORPUS_DATACARD,
)


# ------------------------------------------ incremental NEAR-dup gate
def q_incremental_neardup(spark: SparkSession, sf: str) -> DataFrame:
    """Daily-ingest near-dup candidates against a PERSISTED LSH band
    index (operators/dedup.py: build_lsh_index +
    incremental_neardup_indexed): the base corpus is signed ONCE at
    build time; the batch signs only itself and joins the (band, sig)
    table — the 100 TB property is that yesterday's corpus is never
    re-tokenized. Batch plants: near-copies of base docs (must pair
    via the index) and in-batch near-copies (must pair batch-vs-batch);
    base-vs-base pairs must NOT appear."""
    import os

    from gcp_data_pipeline_fyp_spark.operators.dedup import (
        build_lsh_index,
        incremental_neardup_indexed,
    )
    from gcp_data_pipeline_fyp_spark.sources.tables import Warehouse

    d = _docs(spark, sf).select("doc_id", "text")
    base = d.filter(F.col("doc_id") < 250)
    fresh = d.filter(F.col("doc_id") >= 250)
    vs_base_plants = (
        base.filter(F.col("doc_id") % 10 == 0)
        .withColumn("doc_id", F.col("doc_id") + 1_000_000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" zq zr zs")))
    )
    in_batch_plants = (
        fresh.filter(F.col("doc_id") % 7 == 0)
        .withColumn("doc_id", F.col("doc_id") + 2_000_000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" zq zr zs")))
    )
    batch = fresh.unionByName(vs_base_plants).unionByName(in_batch_plants)
    scratch = scratch_dir(spark, "ndup", sf)
    wh = Warehouse(spark, scratch)
    build_lsh_index(
        wh, base, "doc_id", "text", "NDUP",
        num_hashes=_NUM_HASHES, bands=_BANDS,
    )
    pairs = incremental_neardup_indexed(
        wh, batch, "doc_id", "text", "NDUP",
        num_hashes=_NUM_HASHES, bands=_BANDS,
    )
    return pairs.orderBy("id_a", "id_b")


SQL_INCREMENTAL_NEARDUP = f"""
WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 250),
batch AS (
  SELECT doc_id, text FROM documents WHERE doc_id >= 250
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text || ' zq zr zs' AS text
  FROM documents WHERE doc_id < 250 AND doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id, text || ' zq zr zs' AS text
  FROM documents WHERE doc_id >= 250 AND doc_id % 7 = 0),
u AS (SELECT * FROM base UNION ALL SELECT * FROM batch),
t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM u),
s AS (SELECT doc_id, {_SQL_SHINGLES} AS sh FROM t),
bb AS (SELECT doc_id, {_SQL_BASE} AS base FROM s),
sig AS (SELECT doc_id, {_SQL_SIG} AS sig FROM bb),
bands AS (
  SELECT doc_id, b,
    concat_ws('|', sig[b*2+1], sig[b*2+2]) AS bsig
  FROM sig, unnest(generate_series(0, 3)) AS g(b)),
nz AS (SELECT * FROM bands WHERE bsig <> ''),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM nz a JOIN nz b ON a.b = b.b AND a.bsig = b.bsig
                     AND a.doc_id < b.doc_id)
SELECT id_a, id_b FROM pairs
WHERE NOT (id_a < 250 AND id_b < 250)
ORDER BY id_a, id_b
"""

TEXT_QUERIES["incremental_neardup"] = (
    q_incremental_neardup,
    SQL_INCREMENTAL_NEARDUP,
)


# ------------------------------------------------- URL canonicalization
def _doc_urls(spark: SparkSession, sf: str) -> DataFrame:
    """documents + a deterministically constructed messy URL per doc
    (mixed-case scheme/host, www., default and explicit ports, tracking
    params, trailing slashes, fragments) — documents carry no URL
    column, so the probe manufactures the full mess the canonicalizer
    must survive, identically in both engines."""
    d = _docs(spark, sf).select("doc_id", "source")
    i = F.col("doc_id")
    return d.withColumn(
        "url",
        F.concat(
            F.lit("HTTP://WWW.Site"),
            (i % 7).cast("string"),
            F.lit(".Example.COM"),
            F.when(i % 3 == 0, F.lit(":80"))
            .when(i % 3 == 1, F.lit(":8080"))
            .otherwise(F.lit("")),
            F.lit("/"),
            F.col("source"),
            F.lit("/Doc/"),
            i.cast("string"),
            F.when(
                i % 2 == 0, F.lit("/?utm_source=feed&b=2&a=1")
            ).otherwise(
                F.concat(
                    F.lit("?id="), i.cast("string"),
                    F.lit("&utm_campaign=x&ref=rss"),
                )
            ),
            F.when(i % 5 == 0, F.lit("#sec")).otherwise(F.lit("")),
        ),
    )


_SQL_DOC_URLS = """
  SELECT doc_id, source,
    'HTTP://WWW.Site' || (doc_id % 7) || '.Example.COM' ||
    CASE WHEN doc_id % 3 = 0 THEN ':80'
         WHEN doc_id % 3 = 1 THEN ':8080' ELSE '' END ||
    '/' || source || '/Doc/' || doc_id ||
    CASE WHEN doc_id % 2 = 0 THEN '/?utm_source=feed&b=2&a=1'
         ELSE '?id=' || doc_id || '&utm_campaign=x&ref=rss' END ||
    CASE WHEN doc_id % 5 = 0 THEN '#sec' ELSE '' END AS url
  FROM documents
"""

# the oracle's replay of functions/text.py's canonicalizer: same regex grammar (RE2 and
# Java regex agree on this subset), coalesce('') because DuckDB's
# array_to_string of an EMPTY list is NULL where Spark's array_join
# is ''
_SQL_URL_CANON = r"""
  SELECT doc_id, url,
    scheme || '://' || host ||
    CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
              OR (scheme = 'https' AND port = '443')
         THEN '' ELSE ':' || port END || path ||
    CASE WHEN cq = '' THEN '' ELSE '?' || cq END AS url_canonical,
    host
  FROM (
    SELECT *, regexp_replace(lower(regexp_extract(auth, '^([^:]*)', 1)),
                             '^www\.', '') AS host,
      regexp_extract(auth, ':([0-9]+)$', 1) AS port,
      coalesce(array_to_string(list_sort(list_filter(
        string_split(query, '&'),
        q -> q <> '' AND NOT (starts_with(split_part(q, '=', 1), 'utm_')
          OR split_part(q, '=', 1) IN
             ('fbclid','gclid','msclkid','mc_eid','igshid','ref')))),
        '&'), '') AS cq
    FROM (
      SELECT doc_id, url,
        lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.\-]*)://', 1))
          AS scheme,
        regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)', 1)
          AS auth,
        regexp_replace(
          regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^?#]*)', 1),
          '/+$', '') AS path,
        regexp_extract(regexp_replace(url, '#.*$', ''),
                       '\?(.*)$', 1) AS query
      FROM u))
"""


def q_canonical_urls(spark: SparkSession, sf: str) -> DataFrame:
    """Per-URL canonical form (functions/text.py:
    canonicalize_url) — pure whole-stage-codegen column expressions, zero shuffle; at
    100 TB this is a flat map riding the scan."""
    from gcp_data_pipeline_fyp_spark.functions.text import (
        canonical_host,
        canonicalize_url,
    )

    return _doc_urls(spark, sf).select(
        "doc_id",
        canonicalize_url("url").alias("url_canonical"),
        canonical_host("url").alias("host"),
    )


SQL_CANONICAL_URLS = f"""
WITH u AS ({_SQL_DOC_URLS}),
c AS ({_SQL_URL_CANON})
SELECT doc_id, url_canonical, host FROM c
"""

TEXT_QUERIES["canonical_urls"] = (q_canonical_urls, SQL_CANONICAL_URLS)


def q_url_host_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Host-level crawl stats over canonical URLs — the aggregation
    behind per-host caps and host-level dedup (cap_per_group keys on
    exactly this). One shuffle on the (low-cardinality) host key with
    map-side partial aggregation."""
    from gcp_data_pipeline_fyp_spark.functions.text import (
        canonical_host,
        canonicalize_url,
    )

    return (
        _doc_urls(spark, sf)
        .select(
            canonical_host("url").alias("host"),
            canonicalize_url("url").alias("cu"),
        )
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("cu").alias("n_urls"),
        )
        .orderBy("host")
    )


SQL_URL_HOST_STATS = f"""
WITH u AS ({_SQL_DOC_URLS}),
c AS ({_SQL_URL_CANON})
SELECT host, count(*) AS n_docs, count(DISTINCT url_canonical) AS n_urls
FROM c GROUP BY host ORDER BY host
"""

TEXT_QUERIES["url_host_stats"] = (q_url_host_stats, SQL_URL_HOST_STATS)


# ------------------------------------------ leakage-safe split
def q_leakage_safe_split(spark: SparkSession, sf: str) -> DataFrame:
    """Cluster-keyed train/val/test split (operators/sampling.py:
    leakage_safe_split): near-dup plants and their originals must land
    in the SAME split by construction — the oracle replays the LSH
    pairs, the recursive closure, and the md5 bucket split, so both
    the clustering and the assignment are pinned. Emits per-split doc
    and cluster counts (the weights apply over clusters)."""
    from gcp_data_pipeline_fyp_spark.operators.sampling import (
        leakage_safe_split,
    )

    d = _docs_with_neardups(spark, sf)
    pairs = minhash_lsh_candidates(
        d, "doc_id", "text", num_hashes=_NUM_HASHES, bands=_BANDS
    )
    out = leakage_safe_split(
        d, "doc_id", pairs,
        {"train": 0.8, "val": 0.1, "test": 0.1},
        seed=7, keep_cluster=True,
    )
    pairs.unpersist()
    return out.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("cluster_id").alias("n_clusters"),
    ).orderBy("split")


_BC7 = hash_bucket_sql(["cluster_id"], seed=7)
SQL_LEAKAGE_SAFE_SPLIT = f"""
WITH RECURSIVE pairs AS ({SQL_MINHASH_LSH_PAIRS}),
u2 AS ({_SQL_DOCS_WITH_NEARDUPS}),
ed AS (SELECT id_a AS a, id_b AS b FROM pairs
       UNION SELECT id_b, id_a FROM pairs),
reach(v, l) AS (
  SELECT a, a FROM ed
  UNION
  SELECT e.a, r.l FROM ed e JOIN reach r ON e.b = r.v),
comp AS (SELECT v, min(l) AS component FROM reach GROUP BY v),
cl AS (
  SELECT u2.doc_id, coalesce(comp.component, u2.doc_id) AS cluster_id
  FROM u2 LEFT JOIN comp ON u2.doc_id = comp.v),
s AS (
  SELECT cluster_id,
    CASE WHEN {_BC7} < 800000 THEN 'train'
         WHEN {_BC7} < 900000 THEN 'val'
         ELSE 'test' END AS split
  FROM cl)
SELECT split, count(*) AS n_docs,
  count(DISTINCT cluster_id) AS n_clusters
FROM s GROUP BY split ORDER BY split
"""

TEXT_QUERIES["leakage_safe_split"] = (
    q_leakage_safe_split,
    SQL_LEAKAGE_SAFE_SPLIT,
)


# ------------------------------------------------ winnowing (MOSS)
def q_winnow_dup_report(spark: SparkSession, sf: str) -> DataFrame:
    """Winnowed substring-dup statistics (operators/dedup.py:
    winnow_fingerprints / winnow_dup_report — the MOSS method): the
    near-dup plants share long token runs with their originals, so
    both sides must report shared fingerprints; the oracle replays the
    window hashing, the min-of-each-w-run selection, and the sharing
    rollup exactly. ~2/(window+1) the shuffle volume of
    substring_dup_report for the same >= (n+w-1)-token detection
    guarantee."""
    from gcp_data_pipeline_fyp_spark.operators.dedup import (
        winnow_dup_report,
    )

    d = _docs_with_neardups(spark, sf)
    return winnow_dup_report(
        d, "doc_id", "text", n_tokens=8, window=4
    ).orderBy("doc_id")


SQL_WINNOW_DUP_REPORT = f"""
WITH u AS ({_SQL_DOCS_WITH_NEARDUPS}),
t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM u),
g AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) >= 11),
h AS (SELECT doc_id,
  list_transform(generate_series(1, CAST(n - 7 AS INT)),
    i -> CAST(concat('0x', substr(md5(
           array_to_string(list_transform(toks[i:i+7],
             tk -> concat(length(tk), ':', tk)), '')
         ), 1, 8)) AS BIGINT)) AS hs
  FROM g),
s AS (SELECT doc_id,
  list_distinct(list_transform(generate_series(1, len(hs) - 3),
    p -> list_aggregate(hs[p:p+3], 'min'))) AS fps
  FROM h),
f AS (SELECT doc_id, unnest(fps) AS fp FROM s),
fr AS (SELECT fp, count(DISTINCT doc_id) AS nd FROM f GROUP BY fp),
j AS (SELECT f.doc_id, fr.nd FROM f JOIN fr USING (fp)),
r AS (SELECT doc_id, count(*) AS n_fps,
        CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
      FROM j GROUP BY doc_id)
SELECT doc_id, n_fps, n_shared,
  {micro6_sql("CAST(n_shared AS DOUBLE) / n_fps")} AS shared_ratio_micro
FROM r ORDER BY doc_id
"""

TEXT_QUERIES["winnow_dup_report"] = (
    q_winnow_dup_report,
    SQL_WINNOW_DUP_REPORT,
)


# --------------------------------------------- per-host doc cap (composed)
def q_host_capped_docs(spark: SparkSession, sf: str) -> DataFrame:
    """The URL family's purpose end-to-end: canonical_host extracts
    the host, cap_per_group keeps at most 3 docs per host by stable
    content-hash rank — the per-domain cap every web corpus applies so
    one SEO farm can't dominate the mix. `adaptive=True`: the plan is
    CHOSEN by measurement (operators/skew.topk_plan_decision) — plain
    window on balanced hosts, two-phase salted rank when one host
    dominates; both return the identical row set, so the oracle is
    unchanged. The oracle replays the host extraction, the md5 bucket
    rank, and the cap."""
    from gcp_data_pipeline_fyp_spark.functions.text import canonical_host
    from gcp_data_pipeline_fyp_spark.operators.sampling import (
        cap_per_group,
    )

    d = _doc_urls(spark, sf)
    with_host = d.select(
        "doc_id", canonical_host("url").alias("host")
    )
    return cap_per_group(
        with_host, ["host"], ["doc_id"], n=3, seed=5, adaptive=True
    ).select("doc_id", "host").orderBy("doc_id")


_HB5 = hash_bucket_sql(["doc_id"], seed=5)
SQL_HOST_CAPPED_DOCS = f"""
WITH u AS ({_SQL_DOC_URLS}),
h AS (
  SELECT doc_id,
    regexp_replace(lower(regexp_extract(
      regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1),
      '^([^:]*)', 1)), '^www\\.', '') AS host
  FROM u),
r AS (
  SELECT doc_id, host,
    row_number() OVER (
      PARTITION BY host ORDER BY {_HB5} ASC, doc_id ASC) AS rk
  FROM h)
SELECT doc_id, host FROM r WHERE rk <= 3 ORDER BY doc_id
"""

TEXT_QUERIES["host_capped_docs"] = (
    q_host_capped_docs,
    SQL_HOST_CAPPED_DOCS,
)


def q_adaptive_length_floor(spark: SparkSession, sf: str) -> DataFrame:
    """Per-language adaptive length floor (operators/filters.py::
    adaptive_threshold_filter, exact mode): keep docs at or above
    their OWN language's p25 of n_chars — the multilingual-curation
    shape where a constant tuned on one slice over-drops another.
    q=0.25 on integer values keeps every interpolation step exactly
    representable in binary (quarters of integers), so Spark's
    `percentile` and DuckDB's `quantile_cont` agree bit-for-bit and
    the threshold certifies as the exact integer threshold*4."""
    from gcp_data_pipeline_fyp_spark.operators.filters import (
        adaptive_group_thresholds,
        adaptive_threshold_filter,
    )

    d = load(spark, sf, "documents")
    th = adaptive_group_thresholds(d, ["lang"], "n_chars", q=0.25)
    kept = adaptive_threshold_filter(d, ["lang"], "n_chars", q=0.25)
    return (
        kept.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("kept"))
        .join(th.select("lang", "n", "threshold"), "lang")
        .select(
            "lang",
            "kept",
            F.col("n").alias("n_docs"),
            (F.col("threshold") * 4).cast("bigint").alias("threshold_q4"),
        )
    )


SQL_ADAPTIVE_LENGTH_FLOOR = """
WITH th AS (
  SELECT lang, count(*) AS n_docs,
         quantile_cont(CAST(n_chars AS DOUBLE), 0.25) AS t
  FROM documents WHERE n_chars IS NOT NULL GROUP BY lang)
SELECT d.lang,
       CAST(count(*) AS BIGINT) AS kept,
       CAST(max(n_docs) AS BIGINT) AS n_docs,
       CAST(max(t) * 4 AS BIGINT) AS threshold_q4
FROM documents d JOIN th ON d.lang = th.lang
WHERE CAST(d.n_chars AS DOUBLE) >= th.t
GROUP BY d.lang
"""

TEXT_QUERIES["adaptive_length_floor"] = (
    q_adaptive_length_floor,
    SQL_ADAPTIVE_LENGTH_FLOOR,
)


def q_adaptive_floor_sketch(spark: SparkSession, sf: str) -> DataFrame:
    """Certifies the 100 TB default of the adaptive filter —
    adaptive_group_thresholds(mode="sketch"), the mergeable log-bucket
    quantile state (operators/rollup.py:quantile_state) — against the
    EXACT nearest-rank quantile. The sketch's read rule picks the
    bucket containing the ceil(q*n)-th smallest value and returns its
    geometric midpoint, so |sketch - v*| / v* <= sqrt(growth) - 1
    (~0.995% at growth=1.02) is a GUARANTEE, not a statistic; the
    probe emits the exact rank value (integer, engine-independent)
    plus the in-band verdict, and the oracle replays the rank value
    and asserts TRUE — a sketch drifting out of its documented band
    hash-mismatches. Rank selection uses distinct-value cumulative
    counts, not a row window (the scan-shaped plan)."""
    from pyspark.sql import Window

    from gcp_data_pipeline_fyp_spark.operators.filters import (
        adaptive_group_thresholds,
    )

    d = load(spark, sf, "documents")
    sk = adaptive_group_thresholds(d, ["lang"], "n_chars", q=0.25, mode="sketch")
    nn = d.filter(F.col("n_chars").isNotNull())
    vc = nn.groupBy("lang", "n_chars").agg(F.count(F.lit(1)).alias("__c"))
    w_cum = (
        Window.partitionBy("lang")
        .orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_tot = Window.partitionBy("lang")
    cum = vc.withColumn("__cum", F.sum("__c").over(w_cum)).withColumn(
        "__n", F.sum("__c").over(w_tot)
    )
    rank_q = (
        cum.filter(F.col("__cum") >= F.ceil(F.lit(0.25) * F.col("__n")))
        .groupBy("lang")
        .agg(
            F.min("n_chars").cast("bigint").alias("rank_q25"),
            F.max("__n").alias("n_docs"),
        )
    )
    joined = rank_q.join(sk.select("lang", F.col("threshold").alias("__sk")), "lang")
    rk = F.col("rank_q25").cast("double")
    in_band = F.when(rk == 0, F.col("__sk") == 0).otherwise(
        F.abs(F.col("__sk") - rk) / rk <= F.lit(0.011)
    )
    return joined.select(
        "lang", "n_docs", "rank_q25", in_band.alias("sketch_in_band")
    ).orderBy("lang")


SQL_ADAPTIVE_FLOOR_SKETCH = """
WITH nn AS (SELECT lang, n_chars FROM documents WHERE n_chars IS NOT NULL),
n AS (SELECT lang, count(*) AS n_docs FROM nn GROUP BY lang),
r AS (SELECT lang, n_chars,
        row_number() OVER (PARTITION BY lang ORDER BY n_chars) AS rk
      FROM nn),
q AS (SELECT r.lang, min(n_chars) AS rank_q25
      FROM r JOIN n USING (lang)
      WHERE rk >= ceil(0.25 * n_docs) GROUP BY r.lang)
SELECT q.lang, n.n_docs, CAST(rank_q25 AS BIGINT) AS rank_q25,
       TRUE AS sketch_in_band
FROM q JOIN n USING (lang) ORDER BY q.lang
"""

TEXT_QUERIES["adaptive_floor_sketch"] = (
    q_adaptive_floor_sketch,
    SQL_ADAPTIVE_FLOOR_SKETCH,
)


# ------------------------------------------ distribution matching
def q_length_match_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Distribution matching (operators/sampling.py:
    distribution_match_rates/_sample): reshape the corpus's length-
    bucket profile to a skewed 'curated reference' slice (long docs
    from 3/7 of ids). Emits the rate table plus per-bucket kept
    counts; rates are exact integer floor divisions (decimal `div` =
    SQL `//`) and membership is the module's md5 hash_bucket rule, so
    the oracle replays every kept row bit-for-bit. Buckets absent
    from the reference must show rate 0 / kept 0."""
    from gcp_data_pipeline_fyp_spark.operators.sampling import (
        distribution_match_rates,
        distribution_match_sample,
    )

    d = _docs(spark, sf).filter(F.col("n_chars").isNotNull())
    src = d.withColumn("bucket", F.floor(F.col("n_chars") / 200))
    ref = d.filter(
        (F.col("doc_id") % 7 < 3) & (F.col("n_chars") >= 300)
    ).withColumn("bucket", F.floor(F.col("n_chars") / 200))
    rates = distribution_match_rates(src, "bucket", ref)
    kept = distribution_match_sample(src, ["doc_id"], "bucket", ref, seed=9)
    kc = kept.groupBy("bucket").agg(F.count(F.lit(1)).alias("kept"))
    return (
        rates.join(kc, "bucket", "left")
        .select(
            "bucket",
            "n_src",
            "n_ref",
            "rate_micro",
            F.coalesce("kept", F.lit(0)).alias("kept"),
        )
        .orderBy("bucket")
    )


_HB9 = hash_bucket_sql(["doc_id"], seed=9)
SQL_LENGTH_MATCH_SAMPLE = f"""
WITH d AS (SELECT doc_id, n_chars,
        CAST(floor(n_chars / 200) AS BIGINT) AS bucket
      FROM documents WHERE n_chars IS NOT NULL),
r AS (SELECT bucket, count(*) AS n_ref FROM d
      WHERE doc_id % 7 < 3 AND n_chars >= 300 GROUP BY bucket),
s AS (SELECT bucket, count(*) AS n_src FROM d GROUP BY bucket),
b AS (SELECT s.bucket, s.n_src, r.n_ref FROM s LEFT JOIN r USING (bucket)),
m AS (SELECT n_src AS s_m, n_ref AS r_m FROM b
      WHERE n_ref IS NOT NULL AND n_ref > 0
      ORDER BY CAST(n_src AS DOUBLE) / n_ref ASC,
               (bucket IS NULL) ASC, bucket ASC LIMIT 1),
rates AS (SELECT bucket, n_src, coalesce(n_ref, 0) AS n_ref,
    CASE WHEN n_ref IS NULL OR n_ref <= 0 OR m.s_m IS NULL THEN 0
         ELSE least(1000000,
           (1000000::HUGEINT * m.s_m * n_ref) // (m.r_m * n_src)) END
      AS rate_micro
  FROM b LEFT JOIN m ON TRUE),
kept AS (SELECT d.bucket, count(*) AS kept
  FROM d JOIN rates USING (bucket)
  WHERE {_HB9} < rates.rate_micro
  GROUP BY d.bucket)
SELECT rates.bucket, CAST(n_src AS BIGINT) AS n_src,
  CAST(n_ref AS BIGINT) AS n_ref,
  CAST(rate_micro AS BIGINT) AS rate_micro,
  CAST(coalesce(kept.kept, 0) AS BIGINT) AS kept
FROM rates LEFT JOIN kept ON rates.bucket = kept.bucket
ORDER BY rates.bucket
"""

TEXT_QUERIES["length_match_sample"] = (
    q_length_match_sample,
    SQL_LENGTH_MATCH_SAMPLE,
)


def q_length_match_by_lang(spark: SparkSession, sf: str) -> DataFrame:
    """Per-GROUP distribution matching (operators/sampling.py:
    distribution_match_rates/_sample with group_cols): each language
    reshapes its length-bucket profile against its OWN slice of the
    skewed reference — the multilingual form of length_match_sample,
    with the argmin bucket computed per language. Emits the per-
    (lang, bucket) rate table plus kept counts."""
    from gcp_data_pipeline_fyp_spark.operators.sampling import (
        distribution_match_rates,
        distribution_match_sample,
    )

    d = _docs(spark, sf).filter(F.col("n_chars").isNotNull())
    src = d.withColumn("bucket", F.floor(F.col("n_chars") / 200))
    ref = d.filter(
        (F.col("doc_id") % 7 < 3) & (F.col("n_chars") >= 300)
    ).withColumn("bucket", F.floor(F.col("n_chars") / 200))
    rates = distribution_match_rates(src, "bucket", ref, group_cols=["lang"])
    kept = distribution_match_sample(
        src, ["doc_id"], "bucket", ref, seed=9, group_cols=["lang"]
    )
    kc = kept.groupBy("lang", "bucket").agg(F.count(F.lit(1)).alias("kept"))
    return (
        rates.join(kc, ["lang", "bucket"], "left")
        .select(
            "lang",
            "bucket",
            "n_src",
            "n_ref",
            "rate_micro",
            F.coalesce("kept", F.lit(0)).alias("kept"),
        )
        .orderBy("lang", "bucket")
    )


SQL_LENGTH_MATCH_BY_LANG = f"""
WITH d AS (SELECT doc_id, lang, n_chars,
        CAST(floor(n_chars / 200) AS BIGINT) AS bucket
      FROM documents WHERE n_chars IS NOT NULL),
r AS (SELECT lang, bucket, count(*) AS n_ref FROM d
      WHERE doc_id % 7 < 3 AND n_chars >= 300 GROUP BY lang, bucket),
s AS (SELECT lang, bucket, count(*) AS n_src FROM d GROUP BY lang, bucket),
b AS (SELECT s.lang, s.bucket, s.n_src, r.n_ref
      FROM s LEFT JOIN r ON r.lang = s.lang AND r.bucket = s.bucket),
m AS (SELECT lang, n_src AS s_m, n_ref AS r_m FROM (
        SELECT lang, n_src, n_ref,
          row_number() OVER (PARTITION BY lang
            ORDER BY CAST(n_src AS DOUBLE) / n_ref ASC,
                     (bucket IS NULL) ASC, bucket ASC) AS rk
        FROM b WHERE n_ref IS NOT NULL AND n_ref > 0) x
      WHERE rk = 1),
rates AS (SELECT b.lang, b.bucket, b.n_src,
    coalesce(b.n_ref, 0) AS n_ref,
    CASE WHEN b.n_ref IS NULL OR b.n_ref <= 0 OR m.s_m IS NULL THEN 0
         ELSE least(1000000,
           (1000000::HUGEINT * m.s_m * b.n_ref) // (m.r_m * b.n_src)) END
      AS rate_micro
  FROM b LEFT JOIN m ON m.lang = b.lang),
kept AS (SELECT d.lang, d.bucket, count(*) AS kept
  FROM d JOIN rates ON rates.lang = d.lang AND rates.bucket = d.bucket
  WHERE {_HB9} < rates.rate_micro
  GROUP BY d.lang, d.bucket)
SELECT rates.lang, rates.bucket,
  CAST(n_src AS BIGINT) AS n_src,
  CAST(n_ref AS BIGINT) AS n_ref,
  CAST(rate_micro AS BIGINT) AS rate_micro,
  CAST(coalesce(kept.kept, 0) AS BIGINT) AS kept
FROM rates LEFT JOIN kept ON kept.lang = rates.lang
                         AND kept.bucket = rates.bucket
ORDER BY rates.lang, rates.bucket
"""

TEXT_QUERIES["length_match_by_lang"] = (
    q_length_match_by_lang,
    SQL_LENGTH_MATCH_BY_LANG,
)


# -------------------------------------- blend -> adaptive floor
def q_blend_floor_docs(spark: SparkSession, sf: str) -> DataFrame:
    """The DEPLOY-prescribed composition, certified: two heterogeneous
    quality signals (n_chars and type-token ratio) midrank-blended
    1:1 (operators/evalmetrics.py:blend_scores), then the per-language
    adaptive p25 floor applied to the BLEND
    (operators/filters.py:adaptive_threshold_filter, exact mode on
    integer micro scores — quarters of integers interpolate exactly
    on both engines). Emits (lang, kept, n_docs, threshold_q4)."""
    from gcp_data_pipeline_fyp_spark.functions.text import tokens
    from gcp_data_pipeline_fyp_spark.operators.evalmetrics import (
        blend_scores,
    )
    from gcp_data_pipeline_fyp_spark.operators.filters import (
        adaptive_group_thresholds,
        adaptive_threshold_filter,
    )

    d = _docs(spark, sf)
    toks = tokens("text")
    scored = d.select(
        "doc_id",
        "lang",
        F.col("n_chars").cast("double").alias("s_len"),
        (
            F.size(F.array_distinct(toks)).cast("double")
            / F.size(toks).cast("double")
        ).alias("s_ttr"),
    )
    blended = blend_scores(
        scored, {"s_len": 1_000_000, "s_ttr": 1_000_000}
    )
    th = adaptive_group_thresholds(blended, ["lang"], "blend_micro", q=0.25)
    kept = adaptive_threshold_filter(blended, ["lang"], "blend_micro", q=0.25)
    return (
        kept.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("kept"))
        .join(th.select("lang", "n", "threshold"), "lang")
        .select(
            "lang",
            "kept",
            F.col("n").alias("n_docs"),
            (F.col("threshold") * 4).cast("bigint").alias("threshold_q4"),
        )
        .orderBy("lang")
    )


SQL_BLEND_FLOOR_DOCS = f"""
WITH base AS (
  SELECT doc_id, lang, CAST(n_chars AS DOUBLE) AS s1,
    CAST(len(list_distinct({_SQL_TOKS})) AS DOUBLE)
      / CAST(len({_SQL_TOKS}) AS DOUBLE) AS s2
  FROM documents),
a AS (SELECT doc_id, s1 FROM base WHERE s1 IS NOT NULL AND NOT isnan(s1)),
ar AS (SELECT doc_id, rank() OVER (ORDER BY s1) AS rk,
        count(*) OVER (PARTITION BY s1) AS c, count(*) OVER () AS n FROM a),
ap AS (SELECT doc_id,
  {micro6_sql("CAST(2 * (rk - 1) + c AS DOUBLE) / CAST(2 * n AS DOUBLE)")}
    AS p1 FROM ar),
b AS (SELECT doc_id, s2 FROM base WHERE s2 IS NOT NULL AND NOT isnan(s2)),
br AS (SELECT doc_id, rank() OVER (ORDER BY s2) AS rk,
        count(*) OVER (PARTITION BY s2) AS c, count(*) OVER () AS n FROM b),
bp AS (SELECT doc_id,
  {micro6_sql("CAST(2 * (rk - 1) + c AS DOUBLE) / CAST(2 * n AS DOUBLE)")}
    AS p2 FROM br),
bl AS (
  SELECT base.doc_id, base.lang,
    CASE WHEN (CASE WHEN p1 IS NOT NULL THEN 1 ELSE 0 END
             + CASE WHEN p2 IS NOT NULL THEN 1 ELSE 0 END) > 0
      THEN CAST(round(CAST(coalesce(1000000 * p1, 0)
                         + coalesce(1000000 * p2, 0) AS DOUBLE)
           / CAST((CASE WHEN p1 IS NOT NULL THEN 1000000 ELSE 0 END
                 + CASE WHEN p2 IS NOT NULL THEN 1000000 ELSE 0 END)
             AS DOUBLE)) AS BIGINT)
    END AS blend_micro
  FROM base LEFT JOIN ap USING (doc_id) LEFT JOIN bp USING (doc_id)),
th AS (
  SELECT lang, count(*) AS n_docs,
    quantile_cont(CAST(blend_micro AS DOUBLE), 0.25) AS t
  FROM bl WHERE blend_micro IS NOT NULL GROUP BY lang)
SELECT bl.lang,
  CAST(count(*) AS BIGINT) AS kept,
  CAST(max(n_docs) AS BIGINT) AS n_docs,
  CAST(max(t) * 4 AS BIGINT) AS threshold_q4
FROM bl JOIN th ON bl.lang = th.lang
WHERE CAST(bl.blend_micro AS DOUBLE) >= th.t
GROUP BY bl.lang
ORDER BY bl.lang
"""

TEXT_QUERIES["blend_floor_docs"] = (q_blend_floor_docs, SQL_BLEND_FLOOR_DOCS)


# ------------------------------------------ canonical-doc election
def q_quality_canonical_docs(spark: SparkSession, sf: str) -> DataFrame:
    """One representative per near-dup cluster (operators/dedup.py:
    elect_canonical): highest n_chars wins, ties on lowest doc_id —
    in this fixture the planted copies share n_chars with their
    originals, so the election certifies the deterministic tie-break
    (original survives) plus singleton passthrough. Emitted as
    (winner doc_id, n_members) — invariant to the clustering's
    internal component-id convention, which the oracle need not
    replicate."""
    from gcp_data_pipeline_fyp_spark.operators.dedup import elect_canonical

    d = _docs_with_neardups(spark, sf)
    pairs = minhash_lsh_candidates(
        d, "doc_id", "text", num_hashes=_NUM_HASHES, bands=_BANDS
    )
    out = elect_canonical(d, pairs, "doc_id", "n_chars")
    pairs.unpersist()
    return out.select("doc_id", "n_members").orderBy("doc_id")


SQL_QUALITY_CANONICAL_DOCS = f"""
WITH RECURSIVE pairs AS ({SQL_MINHASH_LSH_PAIRS}),
u2 AS ({_SQL_DOCS_WITH_NEARDUPS}),
ed AS (SELECT id_a AS a, id_b AS b FROM pairs
       UNION SELECT id_b, id_a FROM pairs),
reach(v, l) AS (
  SELECT a, a FROM ed
  UNION
  SELECT e.a, r.l FROM ed e JOIN reach r ON e.b = r.v),
comp AS (SELECT v, min(l) AS component FROM reach GROUP BY v),
cl AS (
  SELECT u2.doc_id, u2.n_chars,
         coalesce(comp.component, u2.doc_id) AS cluster_id
  FROM u2 LEFT JOIN comp ON u2.doc_id = comp.v),
w AS (
  SELECT doc_id, cluster_id,
    row_number() OVER (
      PARTITION BY cluster_id
      ORDER BY n_chars DESC, doc_id ASC) AS rk,
    count(*) OVER (PARTITION BY cluster_id) AS n_members
  FROM cl)
SELECT doc_id, CAST(n_members AS BIGINT) AS n_members
FROM w WHERE rk = 1 ORDER BY doc_id
"""

TEXT_QUERIES["quality_canonical_docs"] = (
    q_quality_canonical_docs,
    SQL_QUALITY_CANONICAL_DOCS,
)


# ------------------------------------------ DSIR importance resampling
# (operators/dsir.py — Xie et al. 2023, hashed-ngram importance
# weights + Gumbel top-k selection; target = the English slice of the
# corpus, raw = the whole corpus). The oracle replays the full chain:
# identical md5 bucket hash, identical smoothed log-ratio expression,
# decimal(18,6) order-independent per-doc sums, identical Gumbel draw.
_DSIR_B = 4096
_SQL_DSIR_FEATS = (
    "list_concat(toks, list_transform("
    "generate_series(1, greatest(len(toks) - 1, 0)), "
    "i -> concat_ws(' ', toks[i], toks[i+1])))"
)
# shared chain: dsirw(doc_id, logw, n_feats) — raw profile on the
# whole corpus, target profile on the lang='en' slice
_SQL_DSIR_WEIGHTS = f"""
rtoks AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
ttoks AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
          WHERE lang = 'en'),
rfeat AS (SELECT doc_id, {_SQL_DSIR_FEATS} AS feats FROM rtoks),
tfeat AS (SELECT doc_id, {_SQL_DSIR_FEATS} AS feats FROM ttoks),
rexp AS (SELECT doc_id, unnest(feats) AS f FROM rfeat),
texp AS (SELECT doc_id, unnest(feats) AS f FROM tfeat),
rb AS (SELECT doc_id,
         cast(concat('0x', substr(md5(f), 1, 8)) AS BIGINT) % {_DSIR_B}
           AS bucket
       FROM rexp),
tb AS (SELECT doc_id,
         cast(concat('0x', substr(md5(f), 1, 8)) AS BIGINT) % {_DSIR_B}
           AS bucket
       FROM texp),
rprof AS (SELECT bucket, count(*) AS rc FROM rb GROUP BY bucket),
tprof AS (SELECT bucket, count(*) AS tc FROM tb GROUP BY bucket),
rtot AS (SELECT coalesce(sum(rc), 0) AS rtot FROM rprof),
ttot AS (SELECT coalesce(sum(tc), 0) AS ttot FROM tprof),
lrt AS (SELECT bucket,
          ln((coalesce(tc, 0) + 1.0) / (ttot + {_DSIR_B}.0))
          - ln((coalesce(rc, 0) + 1.0) / (rtot + {_DSIR_B}.0)) AS lr
        FROM rprof FULL OUTER JOIN tprof USING (bucket)
        CROSS JOIN rtot CROSS JOIN ttot),
dterms AS (SELECT rb.doc_id, lrt.lr FROM rb LEFT JOIN lrt USING (bucket)),
dagg AS (SELECT doc_id,
           cast(sum(cast(lr AS decimal(18,6))) AS double) AS lw,
           count(*) AS nf
         FROM dterms GROUP BY doc_id),
dsirw AS (SELECT d.doc_id,
            ((round((coalesce(dagg.lw, 0.0)) * 1000000.0) / 1000000.0) + 0.0)
              AS logw,
            cast(coalesce(dagg.nf, 0) AS BIGINT) AS n_feats
          FROM (SELECT doc_id FROM documents) d
          LEFT JOIN dagg USING (doc_id))
"""


def _dsir_weights(spark: SparkSession, sf: str) -> DataFrame:
    """Shared probe chain: DSIR log-weights for the whole corpus with
    target = the English slice (operators/dsir.py:dsir_logweights)."""
    from gcp_data_pipeline_fyp_spark.operators.dsir import dsir_logweights

    d = _docs(spark, sf)
    return dsir_logweights(
        d, "doc_id", d.filter(F.col("lang") == "en"), n_buckets=_DSIR_B
    )


def q_dsir_logweights(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR importance log-weights (Xie et al. 2023): hashed
    unigram+bigram bag features (md5 % 4096), add-one-smoothed
    target/raw log-ratio per bucket (a <=4096-row broadcast table),
    per-doc occurrence-weighted sum through decimal(18,6). English
    docs should score high, others low — certified value-for-value
    against the full SQL replay."""
    w = _dsir_weights(spark, sf)
    return w.select(
        "doc_id", micro6("logw").alias("logw_micro"), "n_feats"
    )


SQL_DSIR_LOGWEIGHTS = f"""
WITH {_SQL_DSIR_WEIGHTS}
SELECT doc_id, {micro6_sql("logw")} AS logw_micro, n_feats FROM dsirw
"""

TEXT_QUERIES["dsir_logweights"] = (q_dsir_logweights, SQL_DSIR_LOGWEIGHTS)


def q_dsir_indexed(spark: SparkSession, sf: str) -> DataFrame:
    """The PERSISTED-profile path (build_dsir_profiles +
    dsir_logweights_indexed): fit both profiles once into the
    warehouse with their hashing meta, then score against the stored
    pair — certifying index-path == direct-path against the same
    full SQL replay as `dsir_logweights`. This is the steady-state
    shape at 100 TB: the measured per-run split is 5.9 s fit vs
    2.1 s frozen-profile scoring at sf0.1 (BASELINE.md), and the fit
    is exactly what the index amortizes away (the same
    build-once/reuse discipline as build_ivfpq_index /
    build_lsh_index)."""
    from gcp_data_pipeline_fyp_spark.operators.dsir import (
        build_dsir_profiles,
        dsir_logweights_indexed,
    )
    from gcp_data_pipeline_fyp_spark.sources.tables import Warehouse

    d = _docs(spark, sf)
    wh = Warehouse(spark, scratch_dir(spark, "dsiridx", sf))
    # r13: the target is a predicate over the corpus, so both profiles
    # come out of ONE tokenize+explode+aggregate pass (bit-identical
    # to the old two-frame fit; see build_dsir_profiles)
    build_dsir_profiles(
        wh, d, None, "DSIDX", n_buckets=_DSIR_B,
        target_filter=F.col("lang") == "en",
    )
    w = dsir_logweights_indexed(wh, d, "doc_id", "DSIDX")
    return w.select(
        "doc_id", micro6("logw").alias("logw_micro"), "n_feats"
    )


TEXT_QUERIES["dsir_indexed"] = (q_dsir_indexed, SQL_DSIR_LOGWEIGHTS)


# Gumbel top-k selection over the weights — seed 7, k 50. The oracle
# replays the exact keyed-md5 draw and tie order.
_DSIR_K, _DSIR_SEED = 50, 7
_SQL_DSIR_SELECTED = f"""
gk AS (SELECT doc_id, logw,
         cast(concat('0x', substr(md5(concat('{_DSIR_SEED}|',
           CAST(length(CAST(doc_id AS VARCHAR)) AS VARCHAR), ':',
           CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) AS h
       FROM dsirw),
sel AS (SELECT doc_id, logw,
          logw + (-ln(-ln(least((h + 1.0) / 1152921504606846977.0,
                               0.9999999999999999)))) AS gkey, h
        FROM gk
        ORDER BY gkey DESC, h ASC, doc_id ASC LIMIT {_DSIR_K})
"""


def q_dsir_sample_docs(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR selection: Gumbel top-k (k=50) over the importance
    weights — samples without replacement with P proportional to
    exp(logw), deterministically from the keyed md5 draw
    (operators/dsir.py:dsir_sample). TakeOrderedAndProject, never a
    global sort."""
    from gcp_data_pipeline_fyp_spark.operators.dsir import dsir_sample

    w = _dsir_weights(spark, sf)
    s = dsir_sample(w, "doc_id", _DSIR_K, seed=_DSIR_SEED)
    d = _docs(spark, sf).select("doc_id", "lang", "source")
    return s.join(d, "doc_id").select(
        "doc_id", "lang", "source", micro6("logw").alias("logw_micro")
    )


SQL_DSIR_SAMPLE_DOCS = f"""
WITH {_SQL_DSIR_WEIGHTS},
{_SQL_DSIR_SELECTED}
SELECT s.doc_id, d.lang, d.source, {micro6_sql("s.logw")} AS logw_micro
FROM sel s JOIN documents d USING (doc_id)
"""

TEXT_QUERIES["dsir_sample_docs"] = (q_dsir_sample_docs, SQL_DSIR_SAMPLE_DOCS)


def q_dsir_selection_shift(spark: SparkSession, sf: str) -> DataFrame:
    """The DSIR quality row: per-language corpus count vs selected
    count — certifies the selection SHIFTS the mix toward the target
    (English share of the k=50 sample far above its corpus share).
    Same measured-evidence discipline as minhash_recall_eval /
    semdedup_recall_eval: the operator's effect, not just its rows."""
    from gcp_data_pipeline_fyp_spark.operators.dsir import dsir_sample

    d = _docs(spark, sf)
    w = _dsir_weights(spark, sf)
    s = dsir_sample(w, "doc_id", _DSIR_K, seed=_DSIR_SEED)
    raw = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_raw"))
    sel = (
        s.join(d.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_sel"))
    )
    return raw.join(sel, "lang", "left").select(
        "lang",
        "n_raw",
        F.coalesce(F.col("n_sel"), F.lit(0)).alias("n_sel"),
    )


SQL_DSIR_SELECTION_SHIFT = f"""
WITH {_SQL_DSIR_WEIGHTS},
{_SQL_DSIR_SELECTED},
raw AS (SELECT lang, count(*) AS n_raw FROM documents GROUP BY lang),
selc AS (SELECT d.lang, count(*) AS n_sel
         FROM sel s JOIN documents d USING (doc_id) GROUP BY d.lang)
SELECT raw.lang, raw.n_raw,
       cast(coalesce(selc.n_sel, 0) AS BIGINT) AS n_sel
FROM raw LEFT JOIN selc USING (lang)
"""

TEXT_QUERIES["dsir_selection_shift"] = (
    q_dsir_selection_shift,
    SQL_DSIR_SELECTION_SHIFT,
)


# Budget-constrained DSIR selection: keep the Gumbel-top prefix whose
# running n_chars total stays within the budget — selection jobs are
# specified as token/char BUDGETS, not row counts. The operator is the
# two-level no-global-sort prefix; the oracle is the plain global
# window (bit-equal by order-preserving bucketing).
_DSIR_BUDGET = 15_000


def q_dsir_budget_docs(spark: SparkSession, sf: str) -> DataFrame:
    """operators/dsir.py:dsir_budget_select — nested, deterministic
    budget prefix in Gumbel-importance order (same keyed draw as
    dsir_sample_docs, seed 7), charged by n_chars."""
    from gcp_data_pipeline_fyp_spark.operators.dsir import (
        dsir_budget_select,
    )

    d = _docs(spark, sf)
    w = _dsir_weights(spark, sf).join(
        d.select("doc_id", "n_chars"), "doc_id"
    )
    out = dsir_budget_select(
        w, "doc_id", "n_chars", _DSIR_BUDGET,
        seed=_DSIR_SEED, out_col="cum_chars",
    )
    return out.select(
        "doc_id", micro6("logw").alias("logw_micro"), "n_chars", "cum_chars"
    )


SQL_DSIR_BUDGET_DOCS = f"""
WITH {_SQL_DSIR_WEIGHTS},
wj AS (SELECT w.doc_id, w.logw, d.n_chars
       FROM dsirw w JOIN documents d USING (doc_id)),
gk2 AS (SELECT doc_id, logw, n_chars,
          cast(concat('0x', substr(md5(concat('{_DSIR_SEED}|',
            CAST(length(CAST(doc_id AS VARCHAR)) AS VARCHAR), ':',
            CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) AS h
        FROM wj),
ck AS (SELECT doc_id, logw, n_chars, h,
         logw + (-ln(-ln(least((h + 1.0) / 1152921504606846977.0,
                              0.9999999999999999)))) AS gkey
       FROM gk2),
cm AS (SELECT doc_id, logw, n_chars,
         cast(sum(greatest(coalesce(n_chars, 0), 0)) OVER (
           ORDER BY gkey DESC, h ASC, doc_id ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_chars
       FROM ck)
SELECT doc_id, {micro6_sql("logw")} AS logw_micro, n_chars, cum_chars
FROM cm WHERE cum_chars <= {_DSIR_BUDGET}
"""

TEXT_QUERIES["dsir_budget_docs"] = (q_dsir_budget_docs, SQL_DSIR_BUDGET_DOCS)


# ---------------------------------------- UniMax budget allocation
# (operators/sampling.py:unimax_alloc — Chung et al. 2023 water-fill:
# as-uniform-as-possible per-language budgets under an epoch cap).
_UNIMAX_B, _UNIMAX_E = 100_000, 1


def q_unimax_alloc_report(spark: SparkSession, sf: str) -> DataFrame:
    """UniMax allocation over the documents corpus: strata = lang,
    weights = n_chars, budget 100k chars, epoch cap 1. Tail languages
    below the water level absorb their full capacity; the rest split
    the remainder evenly at the integer water level — exact integer
    algebra, bit-replayed by the oracle."""
    from gcp_data_pipeline_fyp_spark.operators.sampling import unimax_alloc

    d = _docs(spark, sf)
    return unimax_alloc(d, "lang", "n_chars", _UNIMAX_B, _UNIMAX_E)


# shared water-fill chain: af(lang, weight_total, capacity, alloc),
# parameterized on (budget, epoch cap) so the epochs>1 probe replays
# the same algebra at its own setting
def _sql_unimax_chain(budget: int, epochs: int) -> str:
    return f"""
wsum AS (SELECT lang,
                cast(coalesce(sum(n_chars), 0) AS BIGINT) AS weight_total
              FROM documents GROUP BY lang),
sized AS (SELECT lang, weight_total,
            cast({epochs} * weight_total AS BIGINT) AS capacity
          FROM wsum),
ordered AS (SELECT lang, weight_total, capacity,
    coalesce(sum(capacity) OVER (
      ORDER BY capacity ASC, lang ASC NULLS FIRST
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb,
    count(*) OVER () AS n,
    row_number() OVER (
      ORDER BY capacity ASC, lang ASC NULLS FIRST) AS rn
  FROM sized),
flagged AS (SELECT lang, weight_total, capacity,
    capacity * (n - rn + 1) <= {budget} - cumb AS capped
  FROM ordered),
tot AS (SELECT
    coalesce(sum(CASE WHEN capped THEN capacity END), 0) AS csum,
    sum(CASE WHEN capped THEN 0 ELSE 1 END) AS nun
  FROM flagged),
af AS (SELECT lang, weight_total, capacity,
  cast(CASE WHEN capped THEN capacity
       ELSE ({budget} - csum) // nullif(nun, 0) END AS BIGINT) AS alloc
FROM flagged CROSS JOIN tot)
"""


_SQL_UNIMAX_CHAIN = _sql_unimax_chain(_UNIMAX_B, _UNIMAX_E)

SQL_UNIMAX_ALLOC = f"""
WITH {_SQL_UNIMAX_CHAIN}
SELECT lang, weight_total, capacity, alloc FROM af
"""

TEXT_QUERIES["unimax_alloc_report"] = (
    q_unimax_alloc_report,
    SQL_UNIMAX_ALLOC,
)


def q_unimax_mix_docs(spark: SparkSession, sf: str) -> DataFrame:
    """The allocation CONSUMED: unimax_alloc's per-language budgets
    feed token_budget_mix, so "allocate fairly under an epoch cap,
    then enforce as budgeted prefixes" is one certified chain. The
    alloc collect is |strata| rows (languages — bounded by
    construction, the same class as a broadcast dim); the mix itself
    is the two-level-prefix operator, nothing corpus-sized sorts."""
    from gcp_data_pipeline_fyp_spark.operators.sampling import (
        token_budget_mix,
        unimax_alloc,
    )

    d = _docs(spark, sf)
    budgets = {
        r["lang"]: int(r["alloc"])
        for r in unimax_alloc(
            d, "lang", "n_chars", _UNIMAX_B, _UNIMAX_E
        ).collect()
        if r["alloc"] > 0
    }
    out = token_budget_mix(
        d.select("doc_id", "lang", "n_chars"),
        "doc_id", "n_chars", "lang", budgets, seed=3,
    )
    return out.select("doc_id", "lang", "n_chars", "cum_weight")


SQL_UNIMAX_MIX_DOCS = f"""
WITH {_SQL_UNIMAX_CHAIN},
t AS (SELECT doc_id, lang, n_chars,
  coalesce(n_chars, 0) AS w,
  cast(concat('0x', substr(md5('3_' || cast(doc_id AS varchar)), 1, 15))
    AS bigint) AS k
  FROM documents
  WHERE lang IN (SELECT lang FROM af WHERE alloc > 0)),
s AS (SELECT doc_id, lang, n_chars,
  cast(sum(w) OVER (PARTITION BY lang ORDER BY k, doc_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bigint)
    AS cum_weight
  FROM t)
SELECT s.doc_id, s.lang, s.n_chars, s.cum_weight
FROM s JOIN af USING (lang)
WHERE s.cum_weight <= af.alloc
"""

TEXT_QUERIES["unimax_mix_docs"] = (q_unimax_mix_docs, SQL_UNIMAX_MIX_DOCS)


# epochs>1 made real: budget far above the one-epoch water level so
# tail languages' allocs EXCEED their token totals. At sf0.01 every
# stratum caps at 2W (two complete epochs); at sf0.1 the water level
# tau = 240k sits between W and 2W for all non-en languages (PARTIAL
# second epochs) — both branches of the epoch expansion certify
# across the driver's gates.
_UNIMAX_B2, _UNIMAX_E2 = 1_200_000, 2


def q_unimax_epoch_mix_docs(spark: SparkSession, sf: str) -> DataFrame:
    """UniMax with max_epochs=2 END-TO-END: the water-fill allocation
    feeds `unimax_epoch_mix` (operators/sampling.py), which expands
    each stratum into ceil(alloc/W) epochs — complete passes below
    the last, the final epoch a budgeted prefix in its own per-epoch
    md5 order — so tail strata EMIT REPEATED DOCS up to the epoch cap
    (Chung et al. 2023 §3: the point of UniMax). Deterministic and
    nested; the oracle replays allocation, epoch expansion, and
    per-epoch prefix exactly."""
    from gcp_data_pipeline_fyp_spark.operators.sampling import (
        unimax_alloc,
        unimax_epoch_mix,
    )

    d = _docs(spark, sf)
    alloc = unimax_alloc(d, "lang", "n_chars", _UNIMAX_B2, _UNIMAX_E2)
    out = unimax_epoch_mix(
        d.select("doc_id", "lang", "n_chars"),
        "doc_id",
        "n_chars",
        "lang",
        alloc,
        seed=3,
    )
    return out.select("doc_id", "lang", "n_chars", "epoch", "cum_weight")


SQL_UNIMAX_EPOCH_MIX_DOCS = f"""
WITH {_sql_unimax_chain(_UNIMAX_B2, _UNIMAX_E2)},
ep AS (SELECT lang, weight_total AS W, alloc,
         unnest(generate_series(cast(1 AS BIGINT),
           (alloc + weight_total - 1) // weight_total)) AS epoch
       FROM af WHERE alloc > 0 AND weight_total > 0),
epb AS (SELECT lang, epoch,
          least(W, alloc - (epoch - 1) * W) AS bud
        FROM ep),
t AS (SELECT d.doc_id, d.lang, d.n_chars, e.epoch, e.bud,
        greatest(coalesce(d.n_chars, 0), 0) AS w,
        cast(concat('0x', substr(md5(concat('3_',
          cast(e.epoch AS VARCHAR), '_',
          cast(d.doc_id AS VARCHAR))), 1, 15)) AS BIGINT) AS k
      FROM documents d JOIN epb e USING (lang)),
s AS (SELECT doc_id, lang, n_chars, epoch, bud,
        cast(sum(w) OVER (PARTITION BY lang, epoch ORDER BY k, doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS cum_weight
      FROM t)
SELECT doc_id, lang, n_chars, epoch, cum_weight
FROM s WHERE cum_weight <= bud
"""

TEXT_QUERIES["unimax_epoch_mix_docs"] = (
    q_unimax_epoch_mix_docs,
    SQL_UNIMAX_EPOCH_MIX_DOCS,
)


# ---------------------------------------------- PII detect + redact (r12)
# The anonymization stage of public pretraining pipelines (FineWeb
# anonymizes emails + IPs; CCNet/The Pile document the same classes),
# as pure codegen regex ops (functions/pii.py). The synthetic corpus
# carries no organic PII, so the probes PLANT it deterministically on
# every 7th doc (the near-dup-plant discipline): one email whose
# domain embeds a WORD-BOUNDED dotted quad (@1.2.3.4.org — the quad
# is independently IP-matchable, exercising the load-bearing email-
# before-IP redaction order) plus one bare IPv4.
def _docs_with_pii(spark: SparkSession, sf: str) -> DataFrame:
    d = _docs(spark, sf)
    planted = F.concat(
        F.col("text"),
        F.lit(" contact u"),
        F.col("doc_id").cast("string"),
        F.lit("@1.2.3.4.org via 10."),
        (F.col("doc_id") % 200).cast("string"),
        F.lit(".0.1"),
    )
    return d.select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 0, planted)
        .otherwise(F.col("text"))
        .alias("text"),
    )


_SQL_DOCS_WITH_PII = """
  SELECT doc_id,
    CASE WHEN doc_id % 7 = 0 THEN
      text || ' contact u' || cast(doc_id AS VARCHAR)
           || '@1.2.3.4.org via 10.'
           || cast(doc_id % 200 AS VARCHAR) || '.0.1'
    ELSE text END AS text
  FROM documents
"""


def q_pii_scan_report(spark: SparkSession, sf: str) -> DataFrame:
    """Per-doc PII audit (functions/pii.py:pii_counts/has_pii): email
    and IPv4 match counts + the gate flag, over the planted corpus —
    the scan a release pipeline runs before deciding redact vs drop.
    Pure regexp_extract_all column algebra; identical RE2-subset
    pattern strings run in the oracle."""
    from gcp_data_pipeline_fyp_spark.functions.pii import has_pii, pii_counts

    d = _docs_with_pii(spark, sf)
    c = pii_counts("text")
    return d.select(
        "doc_id",
        c["n_emails"].alias("n_emails"),
        c["n_ipv4"].alias("n_ipv4"),
        has_pii("text").alias("has_pii"),
    )


def _sql_pii_counts() -> dict[str, str]:
    from gcp_data_pipeline_fyp_spark.functions.pii import pii_counts_sql

    return pii_counts_sql("text")


SQL_PII_SCAN_REPORT = f"""
WITH u AS ({_SQL_DOCS_WITH_PII})
SELECT doc_id,
  {_sql_pii_counts()["n_emails"]} AS n_emails,
  {_sql_pii_counts()["n_ipv4"]} AS n_ipv4,
  ({_sql_pii_counts()["n_emails"]} > 0
   OR {_sql_pii_counts()["n_ipv4"]} > 0) AS has_pii
FROM u
"""

TEXT_QUERIES["pii_scan_report"] = (q_pii_scan_report, SQL_PII_SCAN_REPORT)


def q_pii_redact_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Redacted corpus (functions/pii.py:redact_pii): emails then IPs
    replaced by fixed sentinel tokens — fixed, so redacted text stays
    deterministic, hash-comparable, and dedup-stable. The planted
    email embeds a dotted quad in its domain, so this probe certifies
    the email-before-IP order end-to-end (IP-first would emit the
    u<id>@h<IP>x.org composite leak). Emits the redacted text
    verbatim; the driver's value hash compares it byte-for-byte."""
    from gcp_data_pipeline_fyp_spark.functions.pii import redact_pii

    d = _docs_with_pii(spark, sf)
    return d.select("doc_id", redact_pii("text").alias("text_redacted"))


def _sql_redact() -> str:
    from gcp_data_pipeline_fyp_spark.functions.pii import redact_pii_sql

    return redact_pii_sql("text")


SQL_PII_REDACT_DOCS = f"""
WITH u AS ({_SQL_DOCS_WITH_PII})
SELECT doc_id, {_sql_redact()} AS text_redacted
FROM u
"""

TEXT_QUERIES["pii_redact_docs"] = (q_pii_redact_docs, SQL_PII_REDACT_DOCS)


# ---------------------------------------------- document chunking (r12)
_CHUNK_T, _CHUNK_O = 32, 8  # chunk/overlap tokens; stride 24


def q_chunk_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Token-window chunking (functions/text.py:chunk_documents): the
    split-to-context-length stage — overlapping 32-token windows
    advancing by 24, one row per (doc, chunk_ix) with the token count
    and the whitespace-normalized chunk text. Stable keys ((doc_id,
    chunk_ix) is a pure function of content + params), zero shuffles;
    the oracle replays window count, slicing, and re-join exactly."""
    from gcp_data_pipeline_fyp_spark.functions.text import chunk_documents

    d = _docs(spark, sf)
    return chunk_documents(
        d, "doc_id", "text", chunk_tokens=_CHUNK_T, overlap_tokens=_CHUNK_O
    )


SQL_CHUNK_DOCS = f"""
WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
v AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) >= 1),
c AS (SELECT doc_id, toks,
        unnest(generate_series(cast(0 AS BIGINT),
          (greatest(n - {_CHUNK_T}, 0) + {_CHUNK_T - _CHUNK_O} - 1)
            // {_CHUNK_T - _CHUNK_O})) AS chunk_ix
      FROM v),
s AS (SELECT doc_id, cast(chunk_ix AS INT) AS chunk_ix,
        list_slice(toks, chunk_ix * {_CHUNK_T - _CHUNK_O} + 1,
                   chunk_ix * {_CHUNK_T - _CHUNK_O} + {_CHUNK_T}) AS ck
      FROM c)
SELECT doc_id, chunk_ix, cast(len(ck) AS INT) AS chunk_n_tokens,
       array_to_string(ck, ' ') AS chunk_text
FROM s
"""

TEXT_QUERIES["chunk_docs"] = (q_chunk_docs, SQL_CHUNK_DOCS)
