"""Driver-facing probes for similarity search over embedding columns.

Every probe here is oracle-checked hash-exact, including the
approximate ones: LSH and IVF are approximate ALGORITHMS but
deterministic computations (seeded hyperplanes / seeded centroid init
+ decimal-exact means), so the DuckDB oracle replays the identical
algorithm — the literal plane values are embedded into the SQL at
module import, bucket bits and probe sets reproduce bit-for-bit, and
both engines rank, threshold, and emit in the SAME integer micro-unit
domain (`cosine_micro`, queries_util.micro6 — scale-then-round-once,
the certification-hash-safe type). Recall quality against brute force
is separately asserted in tests/test_similarity.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gcp_data_pipeline_fyp_spark.operators.dedup import embedding_neardup_pairs
from gcp_data_pipeline_fyp_spark.operators.similarity import (
    brute_force_topk,
    ivf_topk,
    lsh_topk,
)
from gcp_data_pipeline_fyp_spark.queries_util import load, micro6_sql

_MICRO_COS = micro6_sql("cosine")

# RAW cosine — every consumer ranks/filters/emits via micro6_sql, the
# same domain the Spark side uses (micro6 of the raw cosine); a 6-dp
# pre-round here would re-open the shortest-repr-vs-binary rounding
# divergence the round-5 micro6 rewrite closed.
_SQL_COS = """
  (list_sum(list_transform(generate_series(1, len(qv)), i -> qv[i] * cv[i]))
    / nullif(sqrt(list_sum(list_transform(generate_series(1, len(qv)), i -> qv[i] * qv[i])))
           * sqrt(list_sum(list_transform(generate_series(1, len(cv)), i -> cv[i] * cv[i]))), 0))
"""


def _emb(spark: SparkSession, sf: str) -> DataFrame:
    return load(spark, sf, "embeddings", spread=True)


def q_ann_cosine_topk(spark: SparkSession, sf: str) -> DataFrame:
    e = _emb(spark, sf)
    queries = e.filter(F.col("vec_id") < 8)
    corpus = e.filter(F.col("vec_id") >= 8)
    return brute_force_topk(queries, corpus, "vec_id", "embedding", k=5)


SQL_ANN_COSINE_TOPK = f"""
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < 8),
c AS (SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS cv
      FROM embeddings WHERE vec_id >= 8),
pairs AS (
  SELECT query_id, corpus_id, {_SQL_COS} AS cosine FROM c CROSS JOIN q),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY {_MICRO_COS} DESC, corpus_id) AS rn
  FROM pairs)
SELECT query_id, corpus_id, {_MICRO_COS} AS cosine_micro
FROM ranked WHERE rn <= 5
"""


def q_embedding_neardup(spark: SparkSession, sf: str) -> DataFrame:
    e = _emb(spark, sf)
    planted = e.filter(F.col("vec_id") % 20 == 0).withColumn(
        "vec_id", F.col("vec_id") + 100_000
    )
    u = e.unionByName(planted)
    return embedding_neardup_pairs(u, "vec_id", "embedding", ["label"], threshold=0.99)


SQL_EMBEDDING_NEARDUP = f"""
WITH u AS (
  SELECT vec_id, embedding, label FROM embeddings
  UNION ALL
  SELECT vec_id + 100000 AS vec_id, embedding, label
  FROM embeddings WHERE vec_id % 20 = 0),
g AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM u),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
    {_SQL_COS.replace('qv', 'a.v').replace('cv', 'b.v')} AS cosine
  FROM g a JOIN g b ON a.label = b.label AND a.vec_id < b.vec_id)
SELECT id_a, id_b, {_MICRO_COS} AS cosine_micro
FROM pairs WHERE {_MICRO_COS} >= 990000
"""


# -------------------------------------------------- approximate paths
# LSH and IVF are approximate by DESIGN but deterministic by
# construction (seeded hyperplanes / seeded centroid init), so the
# oracle replays the exact same algorithm: the literal plane values are
# embedded into the SQL at module import. This certifies the chosen
# buckets/probes and the reranked scores hash-exact — approximation is
# a property of the algorithm, not an excuse for an unverifiable one.
def _planes_literal(dim: int = 64, n_planes: int = 8, seed: int = 42) -> str:
    from gcp_data_pipeline_fyp_spark.operators.similarity import (
        make_hyperplanes,
    )

    planes = make_hyperplanes(dim, n_planes, seed)
    rows = ", ".join(
        "[" + ", ".join(repr(x) for x in plane) + "]" for plane in planes
    )
    return f"SELECT [{rows}]::DOUBLE[][] AS pl"


def _bucket_sql(vec: str, dim: int = 64, n_planes: int = 8) -> str:
    """Sign-random-projection bucket id over `vec` (needs `pl` in scope):
    bit i set when dot(vec, plane_i) >= 0 — same fold as
    functions/vectors.py:lsh_sign_bucket."""
    return (
        f"list_sum(list_transform(generate_series(1, {n_planes}), i__ -> "
        f"CASE WHEN list_sum(list_transform(generate_series(1, {dim}), "
        f"j__ -> {vec}[j__] * pl[i__][j__])) >= 0 "
        f"THEN (CAST(1 AS BIGINT) << (i__ - 1)) ELSE 0 END))"
    )


def q_ann_lsh_topk(spark: SparkSession, sf: str) -> DataFrame:
    e = _emb(spark, sf)
    queries = e.filter(F.col("vec_id") < 8)
    corpus = e.filter(F.col("vec_id") >= 8)
    return lsh_topk(queries, corpus, "vec_id", "embedding", k=5, dim=64)


SQL_ANN_LSH_TOPK = f"""
WITH planes AS ({_planes_literal()}),
q0 AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
       FROM embeddings WHERE vec_id < 8),
c0 AS (SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS cv
       FROM embeddings WHERE vec_id >= 8),
cb AS (SELECT corpus_id, cv, {_bucket_sql('cv')} AS bucket
       FROM c0 CROSS JOIN planes),
qb AS (SELECT query_id, qv, {_bucket_sql('qv')} AS qbucket
       FROM q0 CROSS JOIN planes),
qp AS (SELECT query_id, qv, xor(qbucket, f.flip) AS probe
       FROM qb CROSS JOIN (
         SELECT unnest([0, 1, 2, 4, 8, 16, 32, 64, 128]) AS flip) f),
pairs AS (
  SELECT DISTINCT query_id, corpus_id, {_SQL_COS} AS cosine
  FROM qp JOIN cb ON qp.probe = cb.bucket),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY {_MICRO_COS} DESC, corpus_id) AS rn
  FROM pairs)
SELECT query_id, corpus_id, {_MICRO_COS} AS cosine_micro
FROM ranked WHERE rn <= 5
"""


def _ivf_ctes(
    corpus_sql: str, n_centroids: int, dim: int = 64, prefix: str = ""
) -> str:
    """CTE chain mirroring operators/similarity.py:fit_ivf_centroids +
    _assign with refine_iters=1: seeded init (n smallest ids), one
    Lloyd refinement with decimal-exact means, assignment by max dot
    (ties to the lower centroid id). `prefix` namespaces the CTEs so
    two chains (e.g. the bitext probe's per-side fits) can coexist in
    one statement."""
    p = prefix
    return f"""
{p}c0 AS ({corpus_sql}),
{p}init AS (SELECT row_number() OVER (ORDER BY corpus_id) AS centroid_id,
                cv AS centroid
         FROM (SELECT corpus_id, cv FROM {p}c0
               ORDER BY corpus_id LIMIT {n_centroids}) s),
{p}asg0 AS (
  SELECT corpus_id, cv, centroid_id FROM (
    SELECT c.corpus_id, c.cv, i.centroid_id, row_number() OVER (
      PARTITION BY c.corpus_id ORDER BY
        list_sum(list_transform(generate_series(1, {dim}),
                 j__ -> c.cv[j__] * i.centroid[j__])) DESC,
        i.centroid_id) AS rn
    FROM {p}c0 c CROSS JOIN {p}init i) s WHERE rn = 1),
{p}cent AS (
  SELECT centroid_id, list(m ORDER BY pos) AS centroid FROM (
    SELECT centroid_id, idx.pos,
      CAST(sum(CAST(cv[idx.pos] AS DECIMAL(28,12))) AS DOUBLE)
      / count(*) AS m
    FROM {p}asg0 CROSS JOIN
      (SELECT unnest(generate_series(1, {dim})) AS pos) idx
    GROUP BY centroid_id, idx.pos) s GROUP BY centroid_id),
{p}assigned AS (
  SELECT corpus_id, cv, centroid_id FROM (
    SELECT c.corpus_id, c.cv, i.centroid_id, row_number() OVER (
      PARTITION BY c.corpus_id ORDER BY
        list_sum(list_transform(generate_series(1, {dim}),
                 j__ -> c.cv[j__] * i.centroid[j__])) DESC,
        i.centroid_id) AS rn
    FROM {p}c0 c CROSS JOIN {p}cent i) s WHERE rn = 1)
"""


def q_ann_ivf_topk(spark: SparkSession, sf: str) -> DataFrame:
    e = _emb(spark, sf)
    queries = e.filter(F.col("vec_id") < 8)
    corpus = e.filter(F.col("vec_id") >= 8)
    return ivf_topk(queries, corpus, "vec_id", "embedding", k=5)


SQL_ANN_IVF_TOPK = f"""
WITH {_ivf_ctes(
    "SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS cv"
    " FROM embeddings WHERE vec_id >= 8",
    n_centroids=16,
)},
q0 AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
       FROM embeddings WHERE vec_id < 8),
probes AS (
  SELECT query_id, qv, centroid_id FROM (
    SELECT q.query_id, q.qv, i.centroid_id, row_number() OVER (
      PARTITION BY q.query_id ORDER BY
        list_sum(list_transform(generate_series(1, 64),
                 j__ -> q.qv[j__] * i.centroid[j__])) DESC,
        i.centroid_id) AS rn
    FROM q0 q CROSS JOIN cent i) s WHERE rn <= 4),
pairs AS (
  SELECT query_id, corpus_id, {_SQL_COS} AS cosine
  FROM probes p JOIN assigned a ON p.centroid_id = a.centroid_id),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY {_MICRO_COS} DESC, corpus_id) AS rn
  FROM pairs)
SELECT query_id, corpus_id, {_MICRO_COS} AS cosine_micro
FROM ranked WHERE rn <= 5
"""


VECTOR_QUERIES: dict[str, tuple] = {
    "ann_cosine_topk": (q_ann_cosine_topk, SQL_ANN_COSINE_TOPK),
    "embedding_neardup": (q_embedding_neardup, SQL_EMBEDDING_NEARDUP),
    "ann_lsh_topk": (q_ann_lsh_topk, SQL_ANN_LSH_TOPK),
    "ann_ivf_topk": (q_ann_ivf_topk, SQL_ANN_IVF_TOPK),
}


def q_embedding_neardup_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """LSH-blocked near-dup (no blocking column needed) — oracle replays
    the deterministic sign-bucket blocking; recall vs the blocked-exact
    variant is additionally asserted in pytest."""
    from gcp_data_pipeline_fyp_spark.operators.dedup import embedding_neardup_lsh

    e = _emb(spark, sf)
    planted = e.filter(F.col("vec_id") % 20 == 0).withColumn(
        "vec_id", F.col("vec_id") + 100_000
    )
    u = e.unionByName(planted)
    return embedding_neardup_lsh(u, "vec_id", "embedding", threshold=0.99)


SQL_EMBEDDING_NEARDUP_LSH = f"""
WITH planes AS ({_planes_literal()}),
u AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 100000 AS vec_id, embedding
  FROM embeddings WHERE vec_id % 20 = 0),
g AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM u),
gb AS (SELECT vec_id, v, {_bucket_sql('v')} AS bucket
       FROM g CROSS JOIN planes),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
    {_SQL_COS.replace('qv', 'a.v').replace('cv', 'b.v')} AS cosine
  FROM gb a JOIN gb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
SELECT id_a, id_b, {_MICRO_COS} AS cosine_micro
FROM pairs WHERE {_MICRO_COS} >= 990000
"""

VECTOR_QUERIES["embedding_neardup_lsh"] = (
    q_embedding_neardup_lsh,
    SQL_EMBEDDING_NEARDUP_LSH,
)


def _kmeans_ctes(
    pts_sql: str, k: int, iters: int, dim: int = 64, prefix: str = ""
) -> str:
    """Chained CTEs mirroring operators/clustering.py:kmeans exactly —
    the Lloyd's loop (`_lloyd`) that `kmeans` and `kmeans_grouped`
    share, on one group.

    Lloyd's with seeded init (k lowest ids) is deterministic, so a
    FIXED-iteration unroll certifies the iterative operator — the same
    pattern as the PageRank oracle. Spark's early stop is a fixpoint
    (assignments unchanged => centroids recompute identically), so
    running the full `iters` rounds in the oracle converges to the same
    assignment. The algebra matches step for step: squared-distance
    fold in index order, argmin ties broken on cluster id, per-
    dimension means as decimal(28,12) sums cast to double.

    `prefix` namespaces every CTE (pts/c{{j}}/a{{j}}) so several
    instances — e.g. one per PQ subspace — compose in one statement.
    """
    dist = (
        f"list_sum(list_transform(generate_series(1, {dim}), "
        f"i__ -> (p.v[i__] - c.cv[i__]) * (p.v[i__] - c.cv[i__])))"
    )

    def assign(j: int) -> str:
        return (
            f"{prefix}a{j} AS (SELECT id, v, cid FROM ("
            f"SELECT p.id, p.v, c.cid, row_number() OVER ("
            f"PARTITION BY p.id ORDER BY {dist} ASC, c.cid) AS rn "
            f"FROM {prefix}pts p CROSS JOIN {prefix}c{j} c) s WHERE rn = 1)"
        )

    def update(j: int) -> str:
        return (
            f"{prefix}c{j} AS (SELECT cid, list(m ORDER BY pos) AS cv FROM ("
            f"SELECT cid, idx.pos, "
            f"CAST(sum(CAST(v[idx.pos] AS DECIMAL(28,12))) AS DOUBLE) "
            f"/ count(*) AS m FROM {prefix}a{j - 1} CROSS JOIN "
            f"(SELECT unnest(generate_series(1, {dim})) AS pos) idx "
            f"GROUP BY cid, idx.pos) s GROUP BY cid)"
        )

    parts = [
        f"{prefix}pts AS ({pts_sql})",
        f"{prefix}c0 AS (SELECT row_number() OVER (ORDER BY id) AS cid, v AS cv "
        f"FROM (SELECT id, v FROM {prefix}pts ORDER BY id LIMIT {k}) s)",
        assign(0),
    ]
    for j in range(1, iters + 1):
        parts.append(update(j))
        parts.append(assign(j))
    return ",\n".join(parts)


_PTS_PLAIN = "SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings"
_PTS_PLANTED = """
  SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
  UNION ALL
  SELECT vec_id + 100000 AS id, embedding::DOUBLE[] AS v
  FROM embeddings WHERE vec_id % 20 = 0
"""


def q_kmeans_embeddings(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic Lloyd's k-means over the embedding column
    (operators/clustering.py) — seeded init + decimal-exact centroid
    means make it oracle-checkable via a fixed-iteration CTE unroll;
    planted-blob recovery is additionally asserted in pytest."""
    from gcp_data_pipeline_fyp_spark.operators.clustering import kmeans

    e = _emb(spark, sf)
    assigned, _cent = kmeans(e, "vec_id", "embedding", k=8, max_iter=5)
    return assigned.select("vec_id", "cluster_id")


SQL_KMEANS_EMBEDDINGS = f"""
WITH {_kmeans_ctes(_PTS_PLAIN, k=8, iters=5)}
SELECT id AS vec_id, cid AS cluster_id FROM a5
"""

VECTOR_QUERIES["kmeans_embeddings"] = (q_kmeans_embeddings, SQL_KMEANS_EMBEDDINGS)


def q_semantic_neardup_kmeans(spark: SparkSession, sf: str) -> DataFrame:
    """Cluster-blocked semantic near-dup: pairwise cosine only inside a
    k-means cell — oracle-checked end to end (fixed-iteration k-means
    CTE + in-cluster pair scan); recall vs the blocked-exact variant is
    additionally asserted in pytest."""
    from gcp_data_pipeline_fyp_spark.operators.clustering import (
        semantic_neardup_kmeans,
    )

    e = _emb(spark, sf)
    planted = e.filter(F.col("vec_id") % 20 == 0).withColumn(
        "vec_id", F.col("vec_id") + 100_000
    )
    u = e.unionByName(planted)
    return semantic_neardup_kmeans(u, "vec_id", "embedding", threshold=0.99, k=8)


SQL_SEMANTIC_NEARDUP_KMEANS = f"""
WITH {_kmeans_ctes(_PTS_PLANTED, k=8, iters=5)},
pairs AS (
  SELECT a.id AS id_a, b.id AS id_b,
    {_SQL_COS.replace('qv', 'a.v').replace('cv', 'b.v')} AS cosine
  FROM a5 a JOIN a5 b ON a.cid = b.cid AND a.id < b.id)
SELECT id_a, id_b, {_MICRO_COS} AS cosine_micro
FROM pairs WHERE {_MICRO_COS} >= 990000
"""

VECTOR_QUERIES["semantic_neardup_kmeans"] = (
    q_semantic_neardup_kmeans,
    SQL_SEMANTIC_NEARDUP_KMEANS,
)


# --------------------------------------- SQ8 scalar-quantized top-k
def q_ann_sq8_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Int8 scalar-quantized cosine top-k (the Faiss SQ8 memory lever):
    8x smaller corpus bytes, integer dot products, per-row scale-back.
    Deterministic by construction — codes derive from the proven
    micro6 integer chain, so the oracle replays quantization
    bit-for-bit (operators/similarity.py:quantize_sq8). Recall vs the
    exact path is asserted in tests/test_similarity.py. Window is
    r5-queue."""
    from gcp_data_pipeline_fyp_spark.operators.similarity import sq8_topk

    e = _emb(spark, sf)
    queries = e.filter(F.col("vec_id") < 8)
    corpus = e.filter(F.col("vec_id") >= 8)
    return sq8_topk(queries, corpus, "vec_id", "embedding", k=5)


def _sql_sq8_ctes(prefix: str, where: str, id_alias: str) -> str:
    """Quantization CTE chain for one side: unit-normalize (multiply by
    reciprocal norm — same op order as Spark's scale(v, 1.0/n)), round
    to micro-units, derive int8 codes from the integer micro vector."""
    return f"""
{prefix}0 AS (SELECT vec_id AS {id_alias}, embedding::DOUBLE[] AS v
              FROM embeddings WHERE {where}),
{prefix}n AS (SELECT {id_alias}, v,
    sqrt(list_sum(list_transform(v, y -> y * y))) AS nrm FROM {prefix}0),
{prefix}u AS (SELECT {id_alias},
    list_transform(v, x -> x * (1.0 / nrm)) AS u
  FROM {prefix}n WHERE nrm > 0),
{prefix}m AS (SELECT {id_alias},
    list_transform(u, x ->
      CAST(round(x * 1000000.0) AS BIGINT)) AS um
  FROM {prefix}u),
{prefix}x AS (SELECT {id_alias}, um,
    list_max(list_transform(um, m -> abs(m))) AS mx FROM {prefix}m),
{prefix}c AS (SELECT {id_alias}, mx,
    list_transform(um, m -> CAST(round(m * 127.0 / mx) AS INT)) AS codes
  FROM {prefix}x WHERE mx > 0)"""


SQL_ANN_SQ8_TOPK = f"""
WITH {_sql_sq8_ctes('q', 'vec_id < 8', 'query_id')},
{_sql_sq8_ctes('c', 'vec_id >= 8', 'corpus_id')},
pairs AS (
  SELECT query_id, corpus_id,
    ((CAST(list_sum(list_transform(generate_series(1, len(qc.codes)),
        i -> qc.codes[i] * cc.codes[i])) AS DOUBLE) * qc.mx) * cc.mx)
      / 16129000000000000.0 AS score
  FROM cc CROSS JOIN qc),
ranked AS (
  SELECT query_id, corpus_id, {micro6_sql('score')} AS cosine_micro,
    row_number() OVER (PARTITION BY query_id
      ORDER BY {micro6_sql('score')} DESC, corpus_id) AS rn
  FROM pairs)
SELECT query_id, corpus_id, cosine_micro FROM ranked WHERE rn <= 5
"""

VECTOR_QUERIES["ann_sq8_topk"] = (q_ann_sq8_topk, SQL_ANN_SQ8_TOPK)


# ------------------------------------------- product-quantized top-k
def q_ann_pq_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Product-quantized ANN with asymmetric distance (operators/pq.py):
    4 subspaces x 8-centroid codebooks trained by the certified
    deterministic k-means, corpus stored as 4 small ints per vector,
    scores are exact int64 sums of micro-unit LUT entries. The oracle
    replays per-subspace Lloyd's with the prefixed k-means CTE chain.
    Window is r5-queue."""
    from gcp_data_pipeline_fyp_spark.operators.pq import pq_topk

    e = _emb(spark, sf)
    queries = e.filter(F.col("vec_id") < 8)
    corpus = e.filter(F.col("vec_id") >= 8)
    return pq_topk(
        queries, corpus, "vec_id", "embedding", k=5, m=4, n_codes=8, iters=3
    )


_SQL_UNIT6 = (
    "SELECT id, list_transform(v, x -> round(x * (1.0 / nrm) * 1000000.0) / 1000000.0) AS u "
    "FROM (SELECT vec_id AS id, embedding::DOUBLE[] AS v, "
    "sqrt(list_sum(list_transform(embedding::DOUBLE[], y__ -> y__ * y__))) "
    "AS nrm FROM embeddings WHERE {where}) s WHERE nrm > 0"
)


def _sql_pq_topk(m: int = 4, n_codes: int = 8, iters: int = 3, dim: int = 64) -> str:
    sub = dim // m
    unit6 = _SQL_UNIT6
    parts = [
        "uc AS (" + unit6.format(where="vec_id >= 8") + ")",
        "uq AS (" + unit6.format(where="vec_id < 8") + ")",
    ]
    dot16 = (
        f"list_sum(list_transform(generate_series(1, {sub}), "
        f"i__ -> q.qs[i__] * c.cv[i__]))"
    )
    pair_selects = []
    for mi in range(m):
        lo, hi = mi * sub + 1, (mi + 1) * sub
        parts.append(
            _kmeans_ctes(
                f"SELECT id, u[{lo}:{hi}] AS v FROM uc",
                k=n_codes,
                iters=iters,
                dim=sub,
                prefix=f"p{mi}_",
            )
        )
        parts.append(
            f"lut{mi} AS (SELECT q.id AS query_id, c.cid, "
            f"{micro6_sql(dot16)} AS lm "
            f"FROM (SELECT id, u[{lo}:{hi}] AS qs FROM uq) q "
            f"CROSS JOIN p{mi}_c{iters} c)"
        )
        pair_selects.append(
            f"SELECT l.query_id, a.id AS corpus_id, l.lm "
            f"FROM p{mi}_a{iters} a JOIN lut{mi} l ON a.cid = l.cid"
        )
    union = "\nUNION ALL\n".join(pair_selects)
    return (
        "WITH "
        + ",\n".join(parts)
        + f""",
pr AS ({union}),
scored AS (
  SELECT query_id, corpus_id, CAST(sum(lm) AS BIGINT) AS cosine_micro
  FROM pr GROUP BY query_id, corpus_id),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
    ORDER BY cosine_micro DESC, corpus_id) AS rn
  FROM scored)
SELECT query_id, corpus_id, cosine_micro FROM ranked WHERE rn <= 5
"""
    )


SQL_ANN_PQ_TOPK = _sql_pq_topk()

VECTOR_QUERIES["ann_pq_topk"] = (q_ann_pq_topk, SQL_ANN_PQ_TOPK)


# ------------------------------------- IVF-partitioned PQ/ADC top-k
def q_ann_ivfpq_topk(spark: SparkSession, sf: str) -> DataFrame:
    """The 100 TB ANN layout (operators/pq.py:ivfpq_topk — FAISS-style
    IVFPQ minus residual encoding): a coarse 16-centroid IVF quantizer
    partitions the corpus into inverted lists, PQ codes live within
    each list, and a query ADC-scans only its 4 nearest lists. Both
    quantizers run over the same canonical unit6 vectors, so the
    oracle replays coarse fit + codebook fit + encode + probe + score
    bit-for-bit. Window is r6-queue."""
    from gcp_data_pipeline_fyp_spark.operators.pq import ivfpq_topk

    e = _emb(spark, sf)
    queries = e.filter(F.col("vec_id") < 8)
    corpus = e.filter(F.col("vec_id") >= 8)
    return ivfpq_topk(
        queries, corpus, "vec_id", "embedding", k=5,
        m=4, n_codes=8, iters=3, n_centroids=16, nprobe=4,
    )


def _sql_ivfpq_topk(
    m: int = 4,
    n_codes: int = 8,
    iters: int = 3,
    dim: int = 64,
    n_centroids: int = 16,
    nprobe: int = 4,
) -> str:
    """Compose the two certified CTE chains: `_ivf_ctes` (coarse fit +
    corpus assignment, here over unit6 vectors) and the per-subspace
    `_kmeans_ctes` + LUT chain from the PQ oracle, with each
    subspace's pair stream restricted to probed inverted lists."""
    sub = dim // m
    parts = [
        "uc AS (" + _SQL_UNIT6.format(where="vec_id >= 8") + ")",
        "uq AS (" + _SQL_UNIT6.format(where="vec_id < 8") + ")",
    ]
    # coarse quantizer over the unit6 corpus (same algebra as
    # SQL_ANN_IVF_TOPK: seeded init, one decimal-exact Lloyd
    # refinement, assignment by max dot with ties to the lower id)
    parts.append(
        _ivf_ctes(
            "SELECT id AS corpus_id, u AS cv FROM uc",
            n_centroids=n_centroids,
            dim=dim,
        ).strip().rstrip()
    )
    parts.append(
        f"""probes AS (
  SELECT query_id, centroid_id FROM (
    SELECT q.id AS query_id, i.centroid_id, row_number() OVER (
      PARTITION BY q.id ORDER BY
        list_sum(list_transform(generate_series(1, {dim}),
                 j__ -> q.u[j__] * i.centroid[j__])) DESC,
        i.centroid_id) AS rn
    FROM uq q CROSS JOIN cent i) s WHERE rn <= {nprobe})"""
    )
    dot16 = (
        f"list_sum(list_transform(generate_series(1, {sub}), "
        f"i__ -> q.qs[i__] * c.cv[i__]))"
    )
    pair_selects = []
    for mi in range(m):
        lo, hi = mi * sub + 1, (mi + 1) * sub
        parts.append(
            _kmeans_ctes(
                f"SELECT id, u[{lo}:{hi}] AS v FROM uc",
                k=n_codes,
                iters=iters,
                dim=sub,
                prefix=f"p{mi}_",
            )
        )
        parts.append(
            f"lut{mi} AS (SELECT q.id AS query_id, c.cid, "
            f"{micro6_sql(dot16)} AS lm "
            f"FROM (SELECT id, u[{lo}:{hi}] AS qs FROM uq) q "
            f"CROSS JOIN p{mi}_c{iters} c)"
        )
        pair_selects.append(
            f"SELECT l.query_id, a.id AS corpus_id, l.lm "
            f"FROM p{mi}_a{iters} a "
            f"JOIN assigned asg ON asg.corpus_id = a.id "
            f"JOIN probes pr ON pr.centroid_id = asg.centroid_id "
            f"JOIN lut{mi} l ON a.cid = l.cid AND l.query_id = pr.query_id"
        )
    union = "\nUNION ALL\n".join(pair_selects)
    return (
        "WITH "
        + ",\n".join(parts)
        + f""",
pr AS ({union}),
scored AS (
  SELECT query_id, corpus_id, CAST(sum(lm) AS BIGINT) AS cosine_micro
  FROM pr GROUP BY query_id, corpus_id),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
    ORDER BY cosine_micro DESC, corpus_id) AS rn
  FROM scored)
"""
    )


SQL_ANN_IVFPQ_TOPK = (
    _sql_ivfpq_topk()
    + "SELECT query_id, corpus_id, cosine_micro FROM ranked WHERE rn <= 5"
)

VECTOR_QUERIES["ann_ivfpq_topk"] = (q_ann_ivfpq_topk, SQL_ANN_IVFPQ_TOPK)


# --------------------------- IVF-PQ candidates + exact-cosine re-rank
def q_ann_ivfpq_rerank_topk(spark: SparkSession, sf: str) -> DataFrame:
    """The full production ANN recipe (DEPLOY.md): IVF-PQ generates a
    cheap 20-candidate set per query, then ONLY those vectors are
    fetched at full precision and re-scored with the exact micro-unit
    cosine (operators/similarity.py:rerank_exact) — broadcast
    semi-join fetch, no corpus-sized shuffle. Window is r6-queue."""
    from gcp_data_pipeline_fyp_spark.operators.pq import ivfpq_topk
    from gcp_data_pipeline_fyp_spark.operators.similarity import rerank_exact

    e = _emb(spark, sf)
    queries = e.filter(F.col("vec_id") < 8)
    corpus = e.filter(F.col("vec_id") >= 8)
    cand = ivfpq_topk(
        queries, corpus, "vec_id", "embedding", k=20,
        m=4, n_codes=8, iters=3, n_centroids=16, nprobe=4,
    )
    return rerank_exact(cand, queries, corpus, "vec_id", "embedding", k=5)


SQL_ANN_IVFPQ_RERANK_TOPK = (
    _sql_ivfpq_topk()
    + f""", cand AS (
  SELECT query_id, corpus_id FROM ranked WHERE rn <= 20),
rq0 AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
        FROM embeddings WHERE vec_id < 8),
rc0 AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
        FROM embeddings WHERE vec_id >= 8),
ex AS (
  SELECT cand.query_id, cand.corpus_id, {_SQL_COS} AS cosine
  FROM cand JOIN rq0 ON rq0.qid = cand.query_id
            JOIN rc0 ON rc0.cid = cand.corpus_id),
rr AS (
  SELECT query_id, corpus_id, {_MICRO_COS} AS cosine_micro,
    row_number() OVER (PARTITION BY query_id
      ORDER BY {_MICRO_COS} DESC, corpus_id) AS rn2
  FROM ex)
SELECT query_id, corpus_id, cosine_micro FROM rr WHERE rn2 <= 5
"""
)

VECTOR_QUERIES["ann_ivfpq_rerank_topk"] = (
    q_ann_ivfpq_rerank_topk,
    SQL_ANN_IVFPQ_RERANK_TOPK,
)


# ------------------------------ sampled-fit PQ/ADC top-k (100 TB path)
def q_ann_pq_topk_sampled(spark: SparkSession, sf: str) -> DataFrame:
    """PQ with the codebook fit on a 30% content-keyed sample
    (operators/pq.py:fit_pq_codebooks train_sample_frac — the 100 TB
    default, mirroring the IVF knob) while ENCODING still covers every
    corpus vector. The sample is the certified md5 bucket rule
    (operators/sampling.py:hash_bucket, seed 7), so the oracle replays
    the sampled fit exactly: per-subspace Lloyd's over the sampled
    rows, then a full-corpus nearest-centroid encode pass against the
    fitted codebooks. Window is r6-queue."""
    from gcp_data_pipeline_fyp_spark.operators.pq import pq_topk

    e = _emb(spark, sf)
    queries = e.filter(F.col("vec_id") < 8)
    corpus = e.filter(F.col("vec_id") >= 8)
    return pq_topk(
        queries, corpus, "vec_id", "embedding", k=5, m=4, n_codes=8,
        iters=3, train_sample_frac=0.3,
    )


def _sql_pq_topk_sampled(
    m: int = 4,
    n_codes: int = 8,
    iters: int = 3,
    dim: int = 64,
    frac: float = 0.3,
) -> str:
    """Like `_sql_pq_topk`, but the k-means chain trains only on the
    hash-bucket sample while a separate encode CTE assigns EVERY
    corpus vector to its nearest fitted centroid (the training
    assignment no longer covers the full corpus, so encode == final
    training assignment does not apply here)."""
    from gcp_data_pipeline_fyp_spark.operators.sampling import (
        hash_bucket_sql,
    )

    sub = dim // m
    pred = f"({hash_bucket_sql(['id'], seed=7)}) < {int(frac * 1_000_000)}"
    parts = [
        "uc AS (" + _SQL_UNIT6.format(where="vec_id >= 8") + ")",
        "uq AS (" + _SQL_UNIT6.format(where="vec_id < 8") + ")",
    ]
    dot16 = (
        f"list_sum(list_transform(generate_series(1, {sub}), "
        f"i__ -> q.qs[i__] * c.cv[i__]))"
    )
    dist = (
        f"list_sum(list_transform(generate_series(1, {sub}), "
        f"i__ -> (p.v[i__] - c.cv[i__]) * (p.v[i__] - c.cv[i__])))"
    )
    pair_selects = []
    for mi in range(m):
        lo, hi = mi * sub + 1, (mi + 1) * sub
        parts.append(
            _kmeans_ctes(
                f"SELECT id, u[{lo}:{hi}] AS v FROM uc WHERE {pred}",
                k=n_codes,
                iters=iters,
                dim=sub,
                prefix=f"s{mi}_",
            )
        )
        parts.append(
            f"enc{mi} AS (SELECT id, cid FROM ("
            f"SELECT p.id, c.cid, row_number() OVER ("
            f"PARTITION BY p.id ORDER BY {dist} ASC, c.cid) AS rn "
            f"FROM (SELECT id, u[{lo}:{hi}] AS v FROM uc) p "
            f"CROSS JOIN s{mi}_c{iters} c) s WHERE rn = 1)"
        )
        parts.append(
            f"lut{mi} AS (SELECT q.id AS query_id, c.cid, "
            f"{micro6_sql(dot16)} AS lm "
            f"FROM (SELECT id, u[{lo}:{hi}] AS qs FROM uq) q "
            f"CROSS JOIN s{mi}_c{iters} c)"
        )
        pair_selects.append(
            f"SELECT l.query_id, e.id AS corpus_id, l.lm "
            f"FROM enc{mi} e JOIN lut{mi} l ON e.cid = l.cid"
        )
    union = "\nUNION ALL\n".join(pair_selects)
    return (
        "WITH "
        + ",\n".join(parts)
        + f""",
pr AS ({union}),
scored AS (
  SELECT query_id, corpus_id, CAST(sum(lm) AS BIGINT) AS cosine_micro
  FROM pr GROUP BY query_id, corpus_id),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
    ORDER BY cosine_micro DESC, corpus_id) AS rn
  FROM scored)
SELECT query_id, corpus_id, cosine_micro FROM ranked WHERE rn <= 5
"""
    )


SQL_ANN_PQ_TOPK_SAMPLED = _sql_pq_topk_sampled()

VECTOR_QUERIES["ann_pq_topk_sampled"] = (
    q_ann_pq_topk_sampled,
    SQL_ANN_PQ_TOPK_SAMPLED,
)


# --------------------------------------- residual-encoded IVF-PQ topk
def q_ann_ivfpq_residual_topk(spark: SparkSession, sf: str) -> DataFrame:
    """The full FAISS IVFPQ layout (operators/pq.py:
    ivfpq_residual_topk): PQ codes quantize `u - coarse_centroid`, the
    recall upgrade at the same bit budget; the score decomposes as
    coarse dot + residual LUT sum, so scoring stays one broadcast LUT
    per batch and every term is an exact integer micro-unit. Window is
    r6-queue."""
    from gcp_data_pipeline_fyp_spark.operators.pq import ivfpq_residual_topk

    e = _emb(spark, sf)
    queries = e.filter(F.col("vec_id") < 8)
    corpus = e.filter(F.col("vec_id") >= 8)
    return ivfpq_residual_topk(
        queries, corpus, "vec_id", "embedding", k=5,
        m=4, n_codes=8, iters=3, n_centroids=16, nprobe=4,
    )


def _sql_ivfpq_residual_topk(
    m: int = 4,
    n_codes: int = 8,
    iters: int = 3,
    dim: int = 64,
    n_centroids: int = 16,
    nprobe: int = 4,
) -> str:
    """Residual variant of `_sql_ivfpq_topk`: the per-subspace k-means
    chains train on RESIDUAL slices (u - coarse centroid, computed from
    the same `_ivf_ctes` assignment), probes keep their micro-unit
    coarse dot, and the final score is coarse + LUT-sum."""
    sub = dim // m
    qdot = (
        f"list_sum(list_transform(generate_series(1, {dim}), "
        f"j__ -> q.u[j__] * i.centroid[j__]))"
    )
    parts = [
        "uc AS (" + _SQL_UNIT6.format(where="vec_id >= 8") + ")",
        "uq AS (" + _SQL_UNIT6.format(where="vec_id < 8") + ")",
    ]
    parts.append(
        _ivf_ctes(
            "SELECT id AS corpus_id, u AS cv FROM uc",
            n_centroids=n_centroids,
            dim=dim,
        ).strip().rstrip()
    )
    parts.append(
        f"""res AS (
  SELECT a.corpus_id AS id,
    list_transform(generate_series(1, {dim}),
                   j__ -> a.cv[j__] - i.centroid[j__]) AS v,
    a.centroid_id
  FROM assigned a JOIN cent i ON a.centroid_id = i.centroid_id)"""
    )
    parts.append(
        f"""probes AS (
  SELECT query_id, centroid_id, cm FROM (
    SELECT q.id AS query_id, i.centroid_id,
      row_number() OVER (PARTITION BY q.id ORDER BY {qdot} DESC,
                         i.centroid_id) AS rn,
      {micro6_sql(qdot)} AS cm
    FROM uq q CROSS JOIN cent i) s WHERE rn <= {nprobe})"""
    )
    dot16 = (
        f"list_sum(list_transform(generate_series(1, {sub}), "
        f"i__ -> q.qs[i__] * c.cv[i__]))"
    )
    pair_selects = []
    for mi in range(m):
        lo, hi = mi * sub + 1, (mi + 1) * sub
        parts.append(
            _kmeans_ctes(
                f"SELECT id, v[{lo}:{hi}] AS v FROM res",
                k=n_codes,
                iters=iters,
                dim=sub,
                prefix=f"r{mi}_",
            )
        )
        parts.append(
            f"lut{mi} AS (SELECT q.id AS query_id, c.cid, "
            f"{micro6_sql(dot16)} AS lm "
            f"FROM (SELECT id, u[{lo}:{hi}] AS qs FROM uq) q "
            f"CROSS JOIN r{mi}_c{iters} c)"
        )
        pair_selects.append(
            f"SELECT l.query_id, a.id AS corpus_id, l.lm "
            f"FROM r{mi}_a{iters} a "
            f"JOIN res r ON r.id = a.id "
            f"JOIN probes p ON p.centroid_id = r.centroid_id "
            f"JOIN lut{mi} l ON a.cid = l.cid AND l.query_id = p.query_id"
        )
    union = "\nUNION ALL\n".join(pair_selects)
    return (
        "WITH "
        + ",\n".join(parts)
        + f""",
pr AS ({union}),
scored AS (
  SELECT query_id, corpus_id, CAST(sum(lm) AS BIGINT) AS s
  FROM pr GROUP BY query_id, corpus_id),
final AS (
  SELECT s.query_id, s.corpus_id, s.s + p.cm AS cosine_micro
  FROM scored s
  JOIN res r ON r.id = s.corpus_id
  JOIN probes p ON p.centroid_id = r.centroid_id
               AND p.query_id = s.query_id),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
    ORDER BY cosine_micro DESC, corpus_id) AS rn
  FROM final)
SELECT query_id, corpus_id, cosine_micro FROM ranked WHERE rn <= 5
"""
    )


SQL_ANN_IVFPQ_RESIDUAL_TOPK = _sql_ivfpq_residual_topk()

VECTOR_QUERIES["ann_ivfpq_residual_topk"] = (
    q_ann_ivfpq_residual_topk,
    SQL_ANN_IVFPQ_RESIDUAL_TOPK,
)


# -------------------------------------------- hard-negative mining
def q_hard_negatives(spark: SparkSession, sf: str) -> DataFrame:
    """Contrastive-training hard negatives: per query, the most similar
    corpus vectors BELOW the near-dup threshold (planted dups of the
    query ids are excluded by the cosine gate, not by id bookkeeping).
    Window is r5-queue."""
    from gcp_data_pipeline_fyp_spark.operators.similarity import hard_negatives

    e = _emb(spark, sf)
    # plant exact copies of the query vectors in the corpus: the miner
    # must SKIP them (cosine 1.0 >= threshold) and still fill k slots
    planted = e.filter(F.col("vec_id") < 8).withColumn(
        "vec_id", F.col("vec_id") + 100_000
    )
    queries = e.filter(F.col("vec_id") < 8)
    corpus = e.filter(F.col("vec_id") >= 8).unionByName(planted)
    return hard_negatives(
        queries, corpus, "vec_id", "embedding", k=5, dup_threshold_micro=990_000
    )


SQL_HARD_NEGATIVES = f"""
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < 8),
c AS (SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS cv
      FROM embeddings WHERE vec_id >= 8
      UNION ALL
      SELECT vec_id + 100000 AS corpus_id, embedding::DOUBLE[] AS cv
      FROM embeddings WHERE vec_id < 8),
pairs AS (
  SELECT query_id, corpus_id, {_SQL_COS} AS cosine FROM c CROSS JOIN q),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY {_MICRO_COS} DESC, corpus_id) AS rn
  FROM pairs WHERE {_MICRO_COS} < 990000)
SELECT query_id, corpus_id, {_MICRO_COS} AS cosine_micro
FROM ranked WHERE rn <= 5
"""

VECTOR_QUERIES["hard_negatives"] = (q_hard_negatives, SQL_HARD_NEGATIVES)


# ----------------------------------------- embedding centroid drift (r7)
def q_embedding_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Per-label cosine between the mean vectors of the even- and
    odd-vec_id halves of the embedding corpus — the semantic drift
    monitor next to psi/ks/lang_mix. Per-dim means in exact decimal,
    pinned to an integer nano grid; dot/norms in exact decimal; ONE
    float expression (the final cosine) micro6-rounded once."""
    from gcp_data_pipeline_fyp_spark.operators.profile import embedding_drift

    e = _emb(spark, sf)
    out = embedding_drift(
        e.filter(F.col("vec_id") % 2 == 0),
        e.filter(F.col("vec_id") % 2 == 1),
        "embedding",
        ["label"],
    )
    return out.select(
        "label", "n_base", "n_cur", "centroid_cos_micro"
    ).orderBy("label")


SQL_EMBEDDING_DRIFT = """
WITH b AS (
  SELECT label, embedding::DOUBLE[] AS v FROM embeddings
  WHERE embedding IS NOT NULL AND vec_id % 2 = 0),
c AS (
  SELECT label, embedding::DOUBLE[] AS v FROM embeddings
  WHERE embedding IS NOT NULL AND vec_id % 2 = 1),
mb AS (
  SELECT label, idx.pos,
    CAST(round(CAST(sum(CAST(v[idx.pos] AS DECIMAL(28,12))) AS DOUBLE)
      / count(*) * 1000000000.0) AS BIGINT) AS m,
    count(*) AS n
  FROM b CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS pos) idx
  GROUP BY 1, 2),
mc AS (
  SELECT label, idx.pos,
    CAST(round(CAST(sum(CAST(v[idx.pos] AS DECIMAL(28,12))) AS DOUBLE)
      / count(*) * 1000000000.0) AS BIGINT) AS m,
    count(*) AS n
  FROM c CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS pos) idx
  GROUP BY 1, 2),
j AS (
  SELECT mb.label, mb.m AS mbm, mc.m AS mcm, mb.n AS nb, mc.n AS nc
  FROM mb JOIN mc ON mb.label = mc.label AND mb.pos = mc.pos),
a AS (
  SELECT label, max(nb) AS n_base, max(nc) AS n_cur,
    sum(CAST(mbm AS HUGEINT) * mcm) AS dot,
    sum(CAST(mbm AS HUGEINT) * mbm) AS bb,
    sum(CAST(mcm AS HUGEINT) * mcm) AS cc
  FROM j GROUP BY 1)
SELECT label,
  CAST(n_base AS BIGINT) AS n_base,
  CAST(n_cur AS BIGINT) AS n_cur,
  CAST(round((CAST(dot AS DOUBLE)
    / (sqrt(CAST(bb AS DOUBLE)) * sqrt(CAST(cc AS DOUBLE))))
    * 1000000.0) AS BIGINT) AS centroid_cos_micro
FROM a ORDER BY label
"""
VECTOR_QUERIES["embedding_drift"] = (q_embedding_drift, SQL_EMBEDDING_DRIFT)


# ------------------------------------------- ANN quality eval (r7)
def q_ann_lsh_eval(spark: SparkSession, sf: str) -> DataFrame:
    """Recall/MRR report of the LSH top-k against brute-force ground
    truth (operators/similarity.py:topk_overlap_report) — the index-
    quality eval as a certified operator over |queries|*k rows. The
    oracle composes the two certified rankings and replays the same
    exact-integer overlap + one-reciprocal MRR."""
    from gcp_data_pipeline_fyp_spark.operators.similarity import (
        topk_overlap_report,
    )

    truth = q_ann_cosine_topk(spark, sf)
    cand = q_ann_lsh_topk(spark, sf)
    return topk_overlap_report(truth, cand, k=5).orderBy("query_id")


SQL_ANN_LSH_EVAL = f"""
WITH t0 AS (SELECT * FROM ({SQL_ANN_COSINE_TOPK}) x),
c0_ AS (SELECT * FROM ({SQL_ANN_LSH_TOPK}) y),
t AS (
  SELECT query_id, corpus_id,
    row_number() OVER (PARTITION BY query_id
                       ORDER BY cosine_micro DESC, corpus_id) AS rk
  FROM t0),
c AS (
  SELECT query_id, corpus_id,
    row_number() OVER (PARTITION BY query_id
                       ORDER BY cosine_micro DESC, corpus_id) AS rk
  FROM c0_),
tk AS (SELECT * FROM t WHERE rk <= 5),
ck AS (SELECT * FROM c WHERE rk <= 5),
ov AS (
  SELECT tk.query_id, count(*) AS n_overlap
  FROM tk JOIN ck ON ck.query_id = tk.query_id
                 AND ck.corpus_id = tk.corpus_id
  GROUP BY 1),
hit AS (
  SELECT tk.query_id,
    coalesce(CAST(round((1.0 / ck.rk) * 1000000.0) AS BIGINT), 0)
      AS mrr_micro
  FROM tk LEFT JOIN ck ON ck.query_id = tk.query_id
                      AND ck.corpus_id = tk.corpus_id
  WHERE tk.rk = 1),
base AS (SELECT query_id, count(*) AS n_truth FROM tk GROUP BY 1)
SELECT base.query_id,
  CAST(n_truth AS BIGINT) AS n_truth,
  CAST(coalesce(n_overlap, 0) AS BIGINT) AS n_overlap,
  coalesce(hit.mrr_micro, 0) AS mrr_micro
FROM base
LEFT JOIN ov ON ov.query_id = base.query_id
LEFT JOIN hit ON hit.query_id = base.query_id
ORDER BY base.query_id
"""

VECTOR_QUERIES["ann_lsh_eval"] = (q_ann_lsh_eval, SQL_ANN_LSH_EVAL)


def _sql_topk_eval(truth_sql: str, cand_sql: str, k: int = 5) -> str:
    """Compose two certified (query_id, corpus_id, cosine_micro)
    rankings into the recall/MRR report SQL — the same overlap + one-
    reciprocal algebra as SQL_ANN_LSH_EVAL, parameterized so every
    approximate family (PQ, IVF-PQ, ...) gets the eval against
    brute-force ground truth without hand-copying the report CTEs."""
    return f"""
WITH t0 AS (SELECT * FROM ({truth_sql}) x),
c0_ AS (SELECT * FROM ({cand_sql}) y),
t AS (
  SELECT query_id, corpus_id,
    row_number() OVER (PARTITION BY query_id
                       ORDER BY cosine_micro DESC, corpus_id) AS rk
  FROM t0),
c AS (
  SELECT query_id, corpus_id,
    row_number() OVER (PARTITION BY query_id
                       ORDER BY cosine_micro DESC, corpus_id) AS rk
  FROM c0_),
tk AS (SELECT * FROM t WHERE rk <= {k}),
ck AS (SELECT * FROM c WHERE rk <= {k}),
ov AS (
  SELECT tk.query_id, count(*) AS n_overlap
  FROM tk JOIN ck ON ck.query_id = tk.query_id
                 AND ck.corpus_id = tk.corpus_id
  GROUP BY 1),
hit AS (
  SELECT tk.query_id,
    coalesce(CAST(round((1.0 / ck.rk) * 1000000.0) AS BIGINT), 0)
      AS mrr_micro
  FROM tk LEFT JOIN ck ON ck.query_id = tk.query_id
                      AND ck.corpus_id = tk.corpus_id
  WHERE tk.rk = 1),
base AS (SELECT query_id, count(*) AS n_truth FROM tk GROUP BY 1)
SELECT base.query_id,
  CAST(n_truth AS BIGINT) AS n_truth,
  CAST(coalesce(n_overlap, 0) AS BIGINT) AS n_overlap,
  coalesce(hit.mrr_micro, 0) AS mrr_micro
FROM base
LEFT JOIN ov ON ov.query_id = base.query_id
LEFT JOIN hit ON hit.query_id = base.query_id
ORDER BY base.query_id
"""


def _sql_ndcg_eval(truth_sql: str, cand_sql: str, k: int = 5) -> str:
    """Compose two certified rankings into the nDCG@k report SQL —
    discounts and the IDCG prefix table are the SAME Python-computed
    literals the operator embeds (operators/similarity.py:
    ndcg_report), so both engines multiply identical doubles and sum
    identical integers."""
    import math

    disc = [1.0 / math.log2(i + 1) for i in range(1, k + 1)]

    def _half_up(x: float) -> int:
        return math.floor(x + 0.5)

    idcg_prefix = {}
    acc = 0
    for m in range(1, k + 1):
        acc += _half_up((k - m + 1) * disc[m - 1] * 1_000_000)
        idcg_prefix[m] = acc
    d_case = " ".join(f"WHEN {i} THEN {disc[i - 1]!r}" for i in range(1, k + 1))
    i_case = " ".join(f"WHEN {m} THEN {v}" for m, v in idcg_prefix.items())
    return f"""
WITH t0 AS (SELECT * FROM ({truth_sql}) x),
c0_ AS (SELECT * FROM ({cand_sql}) y),
t AS (
  SELECT query_id, corpus_id,
    row_number() OVER (PARTITION BY query_id
                       ORDER BY cosine_micro DESC, corpus_id) AS rk
  FROM t0),
c AS (
  SELECT query_id, corpus_id,
    row_number() OVER (PARTITION BY query_id
                       ORDER BY cosine_micro DESC, corpus_id) AS rk
  FROM c0_),
tk AS (SELECT * FROM t WHERE rk <= {k}),
ck AS (SELECT * FROM c WHERE rk <= {k}),
j AS (
  SELECT ck.query_id, ck.rk,
    coalesce({k} + 1 - tk.rk, 0) AS rel
  FROM ck LEFT JOIN tk ON tk.query_id = ck.query_id
                      AND tk.corpus_id = ck.corpus_id),
dcg AS (
  SELECT query_id,
    CAST(sum(CAST(round(CAST(rel AS DOUBLE)
      * (CASE rk {d_case} END) * 1000000.0) AS BIGINT)) AS BIGINT)
      AS dcg_micro
  FROM j GROUP BY 1),
base AS (SELECT query_id, count(*) AS n_truth FROM tk GROUP BY 1)
SELECT base.query_id,
  CAST(n_truth AS BIGINT) AS n_truth,
  CAST(coalesce(dcg_micro, 0) AS BIGINT) AS dcg_micro,
  CAST(CASE n_truth {i_case} END AS BIGINT) AS idcg_micro,
  CAST(round((CAST(coalesce(dcg_micro, 0) AS DOUBLE)
    / CAST(CASE n_truth {i_case} END AS DOUBLE)) * 1000000.0) AS BIGINT)
    AS ndcg_micro
FROM base LEFT JOIN dcg ON dcg.query_id = base.query_id
ORDER BY base.query_id
"""


def q_ann_ivf_ndcg_eval(spark: SparkSession, sf: str) -> DataFrame:
    """nDCG@5 of the IVF coarse index against brute-force ground truth
    (operators/similarity.py:ndcg_report) — position-graded ranking
    quality for the production pruning path, completing the metric
    triple (recall, MRR, nDCG) every approximate family ships."""
    from gcp_data_pipeline_fyp_spark.operators.similarity import (
        ndcg_report,
    )

    truth = q_ann_cosine_topk(spark, sf)
    cand = q_ann_ivf_topk(spark, sf)
    return ndcg_report(truth, cand, k=5).orderBy("query_id")


# --------------------- quantized-family recall evals vs brute (r9)
def q_ann_pq_recall_eval(spark: SparkSession, sf: str) -> DataFrame:
    """Recall/MRR of the PQ/ADC top-k against brute-force ground truth
    (operators/similarity.py:topk_overlap_report over the two certified
    rankings) — the quantized family gets the same measured-recall
    discipline as LSH (`ann_lsh_eval`): compression is a storage
    lever, and this row is what it costs in ranking quality."""
    from gcp_data_pipeline_fyp_spark.operators.similarity import (
        topk_overlap_report,
    )

    truth = q_ann_cosine_topk(spark, sf)
    cand = q_ann_pq_topk(spark, sf)
    return topk_overlap_report(truth, cand, k=5).orderBy("query_id")


SQL_ANN_PQ_RECALL_EVAL = _sql_topk_eval(SQL_ANN_COSINE_TOPK, SQL_ANN_PQ_TOPK)

VECTOR_QUERIES["ann_pq_recall_eval"] = (
    q_ann_pq_recall_eval,
    SQL_ANN_PQ_RECALL_EVAL,
)


def q_ann_ivfpq_recall_eval(spark: SparkSession, sf: str) -> DataFrame:
    """Recall/MRR of the composed 100 TB layout — IVF coarse pruning x
    PQ/ADC compression (`ann_ivfpq_topk`) — against brute-force ground
    truth: the production index's quality row, measuring BOTH loss
    sources together (unprobed lists and code quantization)."""
    from gcp_data_pipeline_fyp_spark.operators.similarity import (
        topk_overlap_report,
    )

    truth = q_ann_cosine_topk(spark, sf)
    cand = q_ann_ivfpq_topk(spark, sf)
    return topk_overlap_report(truth, cand, k=5).orderBy("query_id")


SQL_ANN_IVFPQ_RECALL_EVAL = _sql_topk_eval(
    SQL_ANN_COSINE_TOPK, SQL_ANN_IVFPQ_TOPK
)

VECTOR_QUERIES["ann_ivfpq_recall_eval"] = (
    q_ann_ivfpq_recall_eval,
    SQL_ANN_IVFPQ_RECALL_EVAL,
)

SQL_ANN_IVF_NDCG_EVAL = _sql_ndcg_eval(SQL_ANN_COSINE_TOPK, SQL_ANN_IVF_TOPK)

VECTOR_QUERIES["ann_ivf_ndcg_eval"] = (
    q_ann_ivf_ndcg_eval,
    SQL_ANN_IVF_NDCG_EVAL,
)


def q_ivf_retrain_decision(spark: SparkSession, sf: str) -> DataFrame:
    """Retrain trigger (operators/similarity.py:ivf_retrain_decision):
    centroids fitted on the even-vec_id half (the live index's
    training snapshot), both halves assigned, PSI over the
    centroid-id mix, retrain = psi > 0.25. The oracle replays the
    identical seeded fit + assignment (the certified `_ivf_ctes`
    chain) and the identical smoothed-PSI algebra — the DECISION
    itself is hash-checked, not just the statistic."""
    from gcp_data_pipeline_fyp_spark.operators.similarity import (
        ivf_retrain_decision,
    )

    e = _emb(spark, sf)
    return ivf_retrain_decision(
        e.filter(F.col("vec_id") % 2 == 0),
        e.filter(F.col("vec_id") % 2 == 1),
        "vec_id",
        "embedding",
        n_centroids=16,
    )


SQL_IVF_RETRAIN_DECISION = f"""
WITH {_ivf_ctes(
    "SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS cv"
    " FROM embeddings WHERE vec_id % 2 = 0",
    n_centroids=16,
)},
cur0 AS (SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS cv
         FROM embeddings WHERE vec_id % 2 = 1),
curasg AS (
  SELECT corpus_id, centroid_id FROM (
    SELECT c.corpus_id, i.centroid_id, row_number() OVER (
      PARTITION BY c.corpus_id ORDER BY
        list_sum(list_transform(generate_series(1, 64),
                 j__ -> c.cv[j__] * i.centroid[j__])) DESC,
        i.centroid_id) AS rn
    FROM cur0 c CROSS JOIN cent i) s WHERE rn = 1),
bc AS (SELECT centroid_id, count(*) AS cb FROM assigned GROUP BY 1),
cc AS (SELECT centroid_id, count(*) AS ccnt FROM curasg GROUP BY 1),
p AS (
  SELECT coalesce(bc.centroid_id, cc.centroid_id) AS cat,
         coalesce(cb, 0) AS cb, coalesce(ccnt, 0) AS ccnt
  FROM bc FULL JOIN cc ON bc.centroid_id = cc.centroid_id),
t AS (
  SELECT sum(cb) AS n_base, sum(ccnt) AS n_cur, count(*) AS n_cats
  FROM p),
d AS (
  SELECT n_base, n_cur, n_cats,
    (2.0 * cb + 1.0) / (2.0 * n_base + CAST(n_cats AS DOUBLE)) AS pb,
    (2.0 * ccnt + 1.0) / (2.0 * n_cur + CAST(n_cats AS DOUBLE)) AS pc
  FROM p CROSS JOIN t),
s AS (
  SELECT n_base, n_cur, n_cats,
    sum(CAST(round(((pc - pb) * ln(pc / pb)) * 1000000.0) AS BIGINT))
      AS psi_micro
  FROM d GROUP BY 1, 2, 3)
SELECT CAST(n_base AS BIGINT) AS n_base,
  CAST(n_cur AS BIGINT) AS n_cur,
  CAST(n_cats AS BIGINT) AS n_cats,
  CAST(psi_micro AS BIGINT) AS psi_micro,
  psi_micro > 250000 AS retrain
FROM s
"""

VECTOR_QUERIES["ivf_retrain_decision"] = (
    q_ivf_retrain_decision,
    SQL_IVF_RETRAIN_DECISION,
)


def q_bitext_margin_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Margin-based bitext mining (operators/similarity.py:
    bitext_margin_pairs — the public CCMatrix/LASER ratio-margin
    method) between the label-0 and label-1 embedding sides: best
    right match per left vector whose cosine beats both neighborhood
    densities by >= 1.02. `n_centroids=None` is the explicit
    certification override (exact brute-force top-k lists — the
    operator's DEFAULT is the auto-sized IVF scale path, certified
    separately by `bitext_ivf_agreement`): the oracle replays the
    brute lists, the two neighborhood means, and the single-ratio
    margin bit-for-bit."""
    from gcp_data_pipeline_fyp_spark.operators.similarity import (
        bitext_margin_pairs,
    )

    e = _emb(spark, sf)
    out = bitext_margin_pairs(
        e.filter(F.col("label") == 0),
        e.filter(F.col("label") == 1),
        "vec_id",
        "embedding",
        k=4,
        margin_threshold_micro=1_020_000,
        n_centroids=None,
    )
    return out.orderBy("query_id")


SQL_BITEXT_MARGIN_PAIRS = f"""
WITH a0 AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
            FROM embeddings WHERE label = 0),
b0 AS (SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS cv
       FROM embeddings WHERE label = 1),
fp0 AS (
  SELECT query_id, corpus_id, {_SQL_COS} AS cosine
  FROM a0 CROSS JOIN b0),
fp AS (SELECT query_id, corpus_id, {_MICRO_COS} AS cm FROM fp0),
ftop AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cm DESC, corpus_id) AS rn
    FROM fp) s WHERE rn <= 4),
fmean AS (
  SELECT query_id, sum(cm) / count(*) AS fm FROM ftop GROUP BY 1),
btop AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY corpus_id ORDER BY cm DESC, query_id) AS rn
    FROM fp) s WHERE rn <= 4),
bmean AS (
  SELECT corpus_id, sum(cm) / count(*) AS bm FROM btop GROUP BY 1),
m AS (
  SELECT f.query_id, f.corpus_id, f.cm AS cosine_micro,
    CAST(round((f.cm / ((fm + bm) / 2.0)) * 1000000.0) AS BIGINT)
      AS margin_micro
  FROM ftop f
  JOIN fmean USING (query_id)
  JOIN bmean USING (corpus_id)
  WHERE (fm + bm) <> 0),
sel AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY margin_micro DESC, corpus_id) AS rn
  FROM m)
SELECT query_id, corpus_id, cosine_micro, margin_micro
FROM sel WHERE rn = 1 AND margin_micro >= 1020000
ORDER BY query_id
"""

VECTOR_QUERIES["bitext_margin_pairs"] = (
    q_bitext_margin_pairs,
    SQL_BITEXT_MARGIN_PAIRS,
)


# --------------------------- bitext IVF-path agreement vs brute (r9)
def q_bitext_ivf_agreement(spark: SparkSession, sf: str) -> DataFrame:
    """Quality certification of the bitext SCALE path: the same margin
    mining run through the IVF candidate lists (pinned 8 centroids,
    nprobe=4 — the oracle replays both per-side seeded fits via the
    prefixed `_ivf_ctes` chains) against the exact brute-force run.
    One row: pair counts of both paths, the pairs they share, and
    top-1 agreement = |common| / |brute| in micro-units — the same
    measured-recall discipline the LSH family gets from
    `minhash_recall_eval`/`ann_lsh_eval`. The auto-√n sizing rule
    itself (`auto_n_centroids`) is pinned by pytest; this probe
    certifies what the IVF lists do to the mined pairs."""
    from gcp_data_pipeline_fyp_spark.operators.similarity import (
        bitext_margin_pairs,
    )
    from gcp_data_pipeline_fyp_spark.queries_util import micro6

    e = _emb(spark, sf)
    left = e.filter(F.col("label") == 0)
    right = e.filter(F.col("label") == 1)
    kw = dict(k=4, margin_threshold_micro=1_020_000)
    # lazy barriers: each pair set feeds the semi-join AND its own
    # count — one computation per path instead of a re-planned chain
    # per consumer (the fit/top-k subtrees are the expensive part)
    brute = bitext_margin_pairs(
        left, right, "vec_id", "embedding", n_centroids=None, **kw
    ).select("query_id", "corpus_id").localCheckpoint(eager=False)
    ivf = bitext_margin_pairs(
        left, right, "vec_id", "embedding", n_centroids=8, nprobe=4, **kw
    ).select("query_id", "corpus_id").localCheckpoint(eager=False)
    common = brute.join(ivf, ["query_id", "corpus_id"], "left_semi")
    agg = (
        brute.agg(F.count(F.lit(1)).alias("n_brute"))
        .crossJoin(ivf.agg(F.count(F.lit(1)).alias("n_ivf")))
        .crossJoin(common.agg(F.count(F.lit(1)).alias("n_common")))
    )
    return agg.select(
        "n_brute",
        "n_ivf",
        "n_common",
        micro6(
            F.try_divide(
                F.col("n_common").cast("double"),
                F.col("n_brute").cast("double"),
            )
        ).alias("agreement_micro"),
    )


def _sql_bitext_ivf_sel(n_centroids: int = 8, nprobe: int = 4, k: int = 4) -> str:
    """The IVF-path bitext pair set as a CTE block (names prefixed
    ivf_*/r_*/l_* to coexist with the brute subquery's CTEs): two
    per-side seeded IVF fits, probed top-k lists both directions, the
    same neighborhood-mean margin algebra as SQL_BITEXT_MARGIN_PAIRS."""
    probes = """
ivf_{d}prob AS (
  SELECT query_id, qv, centroid_id FROM (
    SELECT q.query_id, q.qv, i.centroid_id, row_number() OVER (
      PARTITION BY q.query_id ORDER BY
        list_sum(list_transform(generate_series(1, 64),
                 j__ -> q.qv[j__] * i.centroid[j__])) DESC,
        i.centroid_id) AS rn
    FROM {qsrc} q CROSS JOIN {p}cent i) s WHERE rn <= {nprobe}),
ivf_{d}p0 AS (
  SELECT query_id, a.corpus_id, {cos} AS cosine
  FROM ivf_{d}prob p JOIN {p}assigned a ON p.centroid_id = a.centroid_id),
ivf_{d}pairs AS (SELECT query_id, corpus_id, {mic} AS cm FROM ivf_{d}p0),
ivf_{d}top AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cm DESC, corpus_id) AS rn
    FROM ivf_{d}pairs) s WHERE rn <= {k})"""
    fwd = probes.format(
        d="f", qsrc="ivf_lq", p="r_", nprobe=nprobe, k=k,
        cos=_SQL_COS.replace("qv", "p.qv").replace("cv", "a.cv"),
        mic=_MICRO_COS,
    )
    bwd = probes.format(
        d="b", qsrc="ivf_rq", p="l_", nprobe=nprobe, k=k,
        cos=_SQL_COS.replace("qv", "p.qv").replace("cv", "a.cv"),
        mic=_MICRO_COS,
    )
    return f"""
{_ivf_ctes(
    "SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS cv"
    " FROM embeddings WHERE label = 1",
    n_centroids=n_centroids, prefix="r_",
)},
{_ivf_ctes(
    "SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS cv"
    " FROM embeddings WHERE label = 0",
    n_centroids=n_centroids, prefix="l_",
)},
ivf_lq AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE label = 0),
ivf_rq AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE label = 1),
{fwd},
{bwd},
ivf_fmean AS (
  SELECT query_id, sum(cm) / count(*) AS fm FROM ivf_ftop GROUP BY 1),
ivf_bmean AS (
  SELECT query_id AS corpus_id, sum(cm) / count(*) AS bm
  FROM ivf_btop GROUP BY 1),
ivf_m AS (
  SELECT f.query_id, f.corpus_id, f.cm AS cosine_micro,
    CAST(round((f.cm / ((fm + bm) / 2.0)) * 1000000.0) AS BIGINT)
      AS margin_micro
  FROM ivf_ftop f
  JOIN ivf_fmean USING (query_id)
  JOIN ivf_bmean USING (corpus_id)
  WHERE (fm + bm) <> 0),
ivf_sel AS (
  SELECT query_id, corpus_id FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY margin_micro DESC, corpus_id) AS rn
    FROM ivf_m) s
  WHERE rn = 1 AND margin_micro >= 1020000)"""


SQL_BITEXT_IVF_AGREEMENT = f"""
WITH {_sql_bitext_ivf_sel()},
brute_sel AS (
  SELECT query_id, corpus_id FROM ({SQL_BITEXT_MARGIN_PAIRS}) b),
agr AS (
  SELECT
    (SELECT count(*) FROM brute_sel) AS n_brute,
    (SELECT count(*) FROM ivf_sel) AS n_ivf,
    (SELECT count(*) FROM brute_sel SEMI JOIN ivf_sel
       USING (query_id, corpus_id)) AS n_common)
SELECT CAST(n_brute AS BIGINT) AS n_brute,
  CAST(n_ivf AS BIGINT) AS n_ivf,
  CAST(n_common AS BIGINT) AS n_common,
  CAST(round((CAST(n_common AS DOUBLE) / nullif(n_brute, 0))
    * 1000000.0) AS BIGINT) AS agreement_micro
FROM agr
"""

VECTOR_QUERIES["bitext_ivf_agreement"] = (
    q_bitext_ivf_agreement,
    SQL_BITEXT_IVF_AGREEMENT,
)


# ------------------------------------------ semantic decontamination
def q_semantic_contamination(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-space benchmark decontamination (operators/
    decontaminate.py: semantic_contamination_report): benchmark = every
    25th vector; corpus = the rest PLUS planted exact copies of the
    benchmark (ids +1_000_000) that MUST flag at cosine 1.0. The
    broadcast-benchmark / one-corpus-scan shape is the same as the
    n-gram scrub; threshold 0.98 also catches natural same-cluster
    neighbors, so the report is non-trivial beyond the plants."""
    from gcp_data_pipeline_fyp_spark.operators.decontaminate import (
        semantic_contamination_report,
    )

    e = _emb(spark, sf)
    bench = e.filter(F.col("vec_id") % 25 == 0)
    planted = bench.withColumn("vec_id", F.col("vec_id") + 1_000_000)
    corpus = e.filter(F.col("vec_id") % 25 != 0).unionByName(planted)
    return semantic_contamination_report(
        corpus, bench, "vec_id", "embedding", threshold=0.98
    ).orderBy("corpus_id")


SQL_SEMANTIC_CONTAMINATION = f"""
WITH bench AS (
  SELECT vec_id AS bench_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id % 25 = 0),
corpus AS (
  SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS cv
  FROM embeddings WHERE vec_id % 25 <> 0
  UNION ALL
  SELECT vec_id + 1000000 AS corpus_id, embedding::DOUBLE[] AS cv
  FROM embeddings WHERE vec_id % 25 = 0),
pairs AS (
  SELECT corpus_id, bench_id, {_SQL_COS} AS cosine
  FROM corpus CROSS JOIN bench),
ranked AS (
  SELECT corpus_id, bench_id, {_MICRO_COS} AS max_cosine_micro,
    row_number() OVER (
      PARTITION BY corpus_id ORDER BY {_MICRO_COS} DESC, bench_id) AS rn
  FROM pairs WHERE cosine IS NOT NULL)
SELECT corpus_id, bench_id, max_cosine_micro
FROM ranked WHERE rn = 1 AND max_cosine_micro >= 980000
ORDER BY corpus_id
"""

VECTOR_QUERIES["semantic_contamination"] = (
    q_semantic_contamination,
    SQL_SEMANTIC_CONTAMINATION,
)


# ------------------------------------------ JL random projection
def q_jl_projection(spark: SparkSession, sf: str) -> DataFrame:
    """Seeded JL projection certified component-exact (operators/
    similarity.py: jl_project): 64-dim embeddings -> 16 components,
    emitted (vec_id, comp_idx, comp_micro) — the oracle replays the
    identical literal plane matrix, so both the Gaussian source and
    the 1/sqrt(k) scaling are pinned. Distance-preservation quality is
    separately asserted in pytest (it is a property of JL, not of this
    implementation's determinism)."""
    from gcp_data_pipeline_fyp_spark.operators.similarity import jl_project

    e = _emb(spark, sf).filter(F.col("vec_id") < 100)
    from gcp_data_pipeline_fyp_spark.queries_util import micro6

    proj = jl_project(e, "embedding", out_dim=16, seed=7, in_dim=64)
    return proj.select(
        "vec_id", F.posexplode("embedding").alias("comp_idx", "__c")
    ).select("vec_id", "comp_idx", micro6("__c").alias("comp_micro"))


_JL_MICRO = micro6_sql("comp")
SQL_JL_PROJECTION = f"""
WITH p AS ({_planes_literal(dim=64, n_planes=16, seed=7)}),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v
      FROM embeddings WHERE vec_id < 100),
x AS (
  SELECT vec_id, g.k AS comp_idx,
    list_sum(list_transform(generate_series(1, len(v)),
                            i -> v[i] * pl[g.k+1][i])) * (1.0 / sqrt(16.0))
      AS comp
  FROM e, p, unnest(generate_series(0, 15)) AS g(k))
SELECT vec_id, CAST(comp_idx AS INT) AS comp_idx,
  {_JL_MICRO} AS comp_micro
FROM x
"""

VECTOR_QUERIES["jl_projection"] = (q_jl_projection, SQL_JL_PROJECTION)


# ------------------------------------------------- MMR diversity re-rank
def q_mmr_rerank_topk(spark: SparkSession, sf: str) -> DataFrame:
    """MMR diversity re-rank (operators/rerank.py): brute-force top-8
    candidates per query, then greedy lambda=0.7 selection of 3 —
    relevance minus max-similarity-to-already-picked, all in the exact
    integer micro domain so the k-stage SQL oracle below replays the
    greedy argmax bit-for-bit."""
    from gcp_data_pipeline_fyp_spark.operators.rerank import mmr_rerank

    e = _emb(spark, sf)
    queries = e.filter(F.col("vec_id") < 8)
    corpus = e.filter(F.col("vec_id") >= 8)
    cand = brute_force_topk(queries, corpus, "vec_id", "embedding", k=8)
    return mmr_rerank(cand, corpus, "vec_id", "embedding", k=3, lambda_micro=700_000)


def _pair_cos_sql(xv: str, yv: str) -> str:
    return f"""
  (list_sum(list_transform(generate_series(1, len({xv})), i -> {xv}[i] * {yv}[i]))
    / nullif(sqrt(list_sum(list_transform(generate_series(1, len({xv})), i -> {xv}[i] * {xv}[i])))
           * sqrt(list_sum(list_transform(generate_series(1, len({yv})), i -> {yv}[i] * {yv}[i]))), 0))
"""


def _mmr_sql(k: int, n_cand: int, lambda_micro: int) -> str:
    """Unrolled k-stage greedy MMR in DuckDB SQL — one (rem, score,
    argmax, accumulate) CTE block per round, the SQL mirror of the
    operator's plan-unrolled loop. Integer score domain: lam * cos_m -
    (1e6 - lam) * max_sim_m, ties on corpus_id."""
    lam, inv = lambda_micro, 1_000_000 - lambda_micro
    parts = [f"""
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < 8),
c AS (SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS cv
      FROM embeddings WHERE vec_id >= 8),
pairs AS (
  SELECT query_id, corpus_id, {_SQL_COS} AS cosine FROM c CROSS JOIN q),
cand AS (
  SELECT query_id, corpus_id, {_MICRO_COS} AS cos_m FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY {_MICRO_COS} DESC, corpus_id) AS rn
    FROM pairs) WHERE rn <= {n_cand}),
cid AS (SELECT DISTINCT corpus_id FROM cand),
cv2 AS (SELECT c.corpus_id, c.cv FROM c JOIN cid USING (corpus_id)),
csim AS (
  SELECT a.corpus_id AS ca, b.corpus_id AS cb,
    CAST(round(({_pair_cos_sql("a.cv", "b.cv")}) * 1000000.0) AS BIGINT) AS sim_m
  FROM cv2 a JOIN cv2 b ON a.corpus_id <> b.corpus_id),
sel1 AS (
  SELECT query_id, corpus_id, cos_m, 1 AS mmr_rank FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cos_m DESC, corpus_id) AS rn
    FROM cand) WHERE rn = 1),
selall1 AS (SELECT * FROM sel1)"""]
    for r in range(2, k + 1):
        parts.append(f""",
rem{r} AS (
  SELECT cand.* FROM cand WHERE NOT EXISTS (
    SELECT 1 FROM selall{r-1} s
    WHERE s.query_id = cand.query_id AND s.corpus_id = cand.corpus_id)),
sc{r} AS (
  SELECT r.query_id, r.corpus_id, r.cos_m, max(sim_m) AS msim
  FROM rem{r} r
  JOIN selall{r-1} s ON s.query_id = r.query_id
  JOIN csim ON ca = r.corpus_id AND cb = s.corpus_id
  GROUP BY 1, 2, 3),
sel{r} AS (
  SELECT query_id, corpus_id, cos_m, {r} AS mmr_rank FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id
      ORDER BY ({lam} * cos_m - {inv} * msim) DESC, corpus_id) AS rn
    FROM sc{r}) WHERE rn = 1),
selall{r} AS (SELECT * FROM selall{r-1} UNION ALL SELECT * FROM sel{r})""")
    parts.append(f"""
SELECT query_id, corpus_id, CAST(mmr_rank AS INT) AS mmr_rank,
       cos_m AS cosine_micro
FROM selall{k}""")
    return "".join(parts)


SQL_MMR_RERANK_TOPK = _mmr_sql(k=3, n_cand=8, lambda_micro=700_000)

VECTOR_QUERIES["mmr_rerank_topk"] = (q_mmr_rerank_topk, SQL_MMR_RERANK_TOPK)


# ------------------------------------------------- semantic dedup (SemDeDup)
def q_semdedup_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Semantic near-dup pruning (operators/dedup.py:semdedup — the
    SemDeDup prefix-greedy variant on the deterministic IVF fit): the
    embeddings table unioned with exact copies of every 5th vector
    (shifted ids) so the probe certifies BOTH drop mechanisms — the
    cos=1.0 duplicates (must drop, their originals rank earlier on
    the id tie) and the organic same-neighborhood tail at the 0.35
    threshold. Emits one row per input with cluster, rank, centroid
    cosine, and the keep verdict; the oracle replays the fit, the
    rank, and the prefix-greedy EXISTS rule."""
    from gcp_data_pipeline_fyp_spark.operators.dedup import semdedup

    e = _emb(spark, sf)
    corpus = e.select("vec_id", "embedding").unionByName(
        e.filter(F.col("vec_id") % 5 == 0).select(
            (F.col("vec_id") + 10_000).alias("vec_id"), "embedding"
        )
    )
    out = semdedup(
        corpus, "vec_id", "embedding", n_centroids=16,
        threshold_micro=350_000,
    )
    return out.select(
        "vec_id", "centroid_id", "sem_rank", "cent_cos_micro", "keep"
    )


def _semdedup_ctes(
    corpus_sql: str,
    threshold_micro: int,
    n_assign: int = 1,
    prefix: str = "",
) -> str:
    """The semdedup CTE list (fit + multi-assignment + primary
    centroid-cosine rank + prefix-greedy drop set over shared probe
    clusters) over any corpus CTE, WITHOUT the leading WITH — so it
    can embed into a larger statement (corpus_prep_v3's semantic
    stage). `prefix` namespaces every CTE like `_ivf_ctes`'s own."""
    p = prefix
    return f"""{_ivf_ctes(corpus_sql, n_centroids=16, prefix=prefix)},
{p}multi AS (
  SELECT corpus_id, centroid_id FROM (
    SELECT c.corpus_id, i.centroid_id, row_number() OVER (
      PARTITION BY c.corpus_id ORDER BY
        list_sum(list_transform(generate_series(1, 64),
                 j__ -> c.cv[j__] * i.centroid[j__])) DESC,
        i.centroid_id) AS rn
    FROM {p}c0 c CROSS JOIN {p}cent i) s WHERE rn <= {n_assign}),
{p}cs AS (
  SELECT a.corpus_id, a.centroid_id, a.cv,
    CAST(round(({_pair_cos_sql("a.cv", "i.centroid")}) * 1000000.0) AS BIGINT)
      AS cent_cos_micro
  FROM {p}assigned a JOIN {p}cent i USING (centroid_id)),
{p}rk AS (
  SELECT *, row_number() OVER (PARTITION BY centroid_id
    ORDER BY cent_cos_micro ASC, corpus_id ASC) AS sem_rank
  FROM {p}cs),
{p}shared AS (
  SELECT DISTINCT ma.corpus_id AS a_id, mb.corpus_id AS b_id
  FROM {p}multi ma JOIN {p}multi mb ON ma.centroid_id = mb.centroid_id
   AND ma.corpus_id <> mb.corpus_id),
{p}drp AS (
  SELECT DISTINCT a.corpus_id FROM {p}shared s
  JOIN {p}cs a ON a.corpus_id = s.a_id
  JOIN {p}cs b ON b.corpus_id = s.b_id
  WHERE (b.cent_cos_micro < a.cent_cos_micro
     OR (b.cent_cos_micro = a.cent_cos_micro
         AND b.corpus_id < a.corpus_id)
     OR (b.cent_cos_micro IS NOT NULL AND a.cent_cos_micro IS NULL))
    AND CAST(round(({_pair_cos_sql("a.cv", "b.cv")}) * 1000000.0) AS BIGINT)
    >= {threshold_micro})"""


def _semdedup_chain(
    corpus_sql: str, threshold_micro: int, n_assign: int = 1
) -> str:
    """The semdedup WITH chain — `_semdedup_ctes` with the leading
    WITH, shared by the per-row semdedup_docs oracle and both
    recall-eval aggregations. The drop order is (cent_cos_micro NULLS
    LAST, id): within one cluster that IS the sem_rank order, so at
    n_assign=1 it is byte-equal to the "earlier sem_rank in the
    shared cluster" rule."""
    return f"""
WITH {_semdedup_ctes(corpus_sql, threshold_micro, n_assign)}"""


def _sql_semdedup(threshold_micro: int = 350_000) -> str:
    corpus_sql = (
        "SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS cv"
        " FROM embeddings"
        " UNION ALL"
        " SELECT vec_id + 10000, embedding::DOUBLE[]"
        " FROM embeddings WHERE vec_id % 5 = 0"
    )
    return f"""{_semdedup_chain(corpus_sql, threshold_micro)}
SELECT rk.corpus_id AS vec_id, CAST(rk.centroid_id AS INT) AS centroid_id,
  CAST(rk.sem_rank AS INT) AS sem_rank, rk.cent_cos_micro,
  (drp.corpus_id IS NULL) AS keep
FROM rk LEFT JOIN drp ON rk.corpus_id = drp.corpus_id
"""


VECTOR_QUERIES["semdedup_docs"] = (q_semdedup_docs, _sql_semdedup())


def q_semdedup_recall_eval(spark: SparkSession, sf: str) -> DataFrame:
    """Measured detection quality for semdedup — the quality row every
    approximate family here ships (minhash_recall_eval's sibling).
    Each vector gets ONE planted near-dup at a graded perturbation
    (alternating +/-eps per component, eps = 0.02 x (vec_id%5 + 1)):
    level 1 sits at cos ~0.99 (must detect, modulo the IVF
    cluster-straddle blind spot the n_same_cluster column makes
    visible), levels 3-5 fall below the 0.9 threshold (undetectable
    BY DESIGN — the row proves the threshold is a real boundary, not
    that everything drops). Emits per level: planted pairs, pairs
    that landed in the same cluster, detected pairs (either member
    dropped; organic pairs are silent at this threshold — corpus max
    organic cosine is ~0.47), and exact integer recall."""
    return _recall_eval(spark, sf, n_assign=1)


def _recall_eval(spark: SparkSession, sf: str, n_assign: int) -> DataFrame:
    from gcp_data_pipeline_fyp_spark.operators.dedup import semdedup

    e = _emb(spark, sf)
    base = e.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    eps = ((F.col("vec_id") % 5 + 1).cast("double") * F.lit(0.02))
    pert = base.select(
        (F.col("vec_id") + 10_000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x
            + eps * F.when(i % 2 == 0, F.lit(1.0)).otherwise(F.lit(-1.0)),
        ).alias("embedding"),
    )
    corpus = base.unionByName(pert)
    out = semdedup(
        corpus, "vec_id", "embedding", n_centroids=16,
        threshold_micro=900_000, n_assign=n_assign,
    )
    o = out.filter(F.col("vec_id") < 10_000).select(
        F.col("vec_id").alias("orig_id"),
        F.col("centroid_id").alias("o_cent"),
        F.col("keep").alias("o_keep"),
    )
    c = out.filter(F.col("vec_id") >= 10_000).select(
        (F.col("vec_id") - 10_000).alias("orig_id"),
        F.col("centroid_id").alias("c_cent"),
        F.col("keep").alias("c_keep"),
    )
    j = o.join(c, "orig_id").select(
        (F.col("orig_id") % 5 + 1).cast("int").alias("eps_level"),
        (F.col("o_cent") == F.col("c_cent")).cast("long").alias("same_c"),
        (~(F.col("o_keep") & F.col("c_keep"))).cast("long").alias("det"),
    )
    return (
        j.groupBy("eps_level")
        .agg(
            F.count(F.lit(1)).alias("n_planted"),
            F.sum("same_c").alias("n_same_cluster"),
            F.sum("det").alias("n_detected"),
        )
        .select(
            "eps_level",
            "n_planted",
            "n_same_cluster",
            "n_detected",
            F.expr("(1000000 * n_detected) div n_planted").alias(
                "recall_micro"
            ),
        )
        .orderBy("eps_level")
    )


def _sql_semdedup_recall(
    threshold_micro: int = 900_000, n_assign: int = 1
) -> str:
    corpus_sql = (
        "SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS cv"
        " FROM embeddings"
        " UNION ALL"
        " SELECT vec_id + 10000,"
        " list_transform(generate_series(1, 64), i__ -> v[i__]"
        "   + (CAST(vec_id % 5 + 1 AS DOUBLE) * 0.02)"
        "     * (CASE WHEN i__ % 2 = 1 THEN 1.0 ELSE -1.0 END))"
        " FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)"
    )
    return f"""{_semdedup_chain(corpus_sql, threshold_micro, n_assign)},
ver AS (
  SELECT rk.corpus_id, rk.centroid_id, (drp.corpus_id IS NULL) AS keep
  FROM rk LEFT JOIN drp ON rk.corpus_id = drp.corpus_id),
o AS (SELECT corpus_id AS orig_id, centroid_id AS o_cent, keep AS o_keep
      FROM ver WHERE corpus_id < 10000),
cc AS (SELECT corpus_id - 10000 AS orig_id, centroid_id AS c_cent,
              keep AS c_keep
       FROM ver WHERE corpus_id >= 10000),
j AS (
  SELECT CAST(o.orig_id % 5 + 1 AS INT) AS eps_level,
    CAST(o_cent = c_cent AS BIGINT) AS same_c,
    CAST(NOT (o_keep AND c_keep) AS BIGINT) AS det
  FROM o JOIN cc ON o.orig_id = cc.orig_id)
SELECT eps_level, count(*) AS n_planted,
  CAST(sum(same_c) AS BIGINT) AS n_same_cluster,
  CAST(sum(det) AS BIGINT) AS n_detected,
  (1000000 * CAST(sum(det) AS BIGINT)) // count(*) AS recall_micro
FROM j GROUP BY eps_level ORDER BY eps_level
"""


VECTOR_QUERIES["semdedup_recall_eval"] = (
    q_semdedup_recall_eval,
    _sql_semdedup_recall(),
)


def q_semdedup_recall_multiprobe(spark: SparkSession, sf: str) -> DataFrame:
    """The measured MITIGATION for the blind spot
    semdedup_recall_eval exposes: the identical planted-near-dup
    grid, run with n_assign=2 (every vector posts to its top-2
    centroids for the pairwise stage) — the straddle-lost pairs whose
    second-choice clusters touch are now compared, so detected must
    rise toward the same-cluster-plus-adjacent ceiling while
    below-threshold levels stay 0. Blind spot found by measurement
    (the recall_eval row) -> mitigation implemented (n_assign) ->
    improvement measured and certified (this probe)."""
    return _recall_eval(spark, sf, n_assign=2)


VECTOR_QUERIES["semdedup_recall_multiprobe"] = (
    q_semdedup_recall_multiprobe,
    _sql_semdedup_recall(n_assign=2),
)
