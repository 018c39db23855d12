"""Similarity search over embedding columns.

- `brute_force_topk`: exact top-k — the correctness baseline. The
  (small) query set is broadcast against the corpus, cosine computed
  with native array lambdas, per-query `row_number` keeps k. Cost is
  O(|Q|·|corpus|) but fully scan-parallel: on a 1000-executor cluster
  this is one pass over the corpus with no shuffle except the final
  per-query top-k (tiny).
- `lsh_topk`: the scale path — sign-random-projection buckets; each
  query probes only its own bucket (plus optional multi-probe
  neighbors at Hamming distance 1), then exact rerank inside. Bucket
  assignment is a narrow map; the probe join shuffles only on the
  bucket id.
- `ivf_topk`: inverted-file variant — corpus assigned to the nearest
  of C centroids (seeded deterministic init + one Lloyd refinement,
  computed with posexplode/groupBy, no MLlib dependency); queries
  probe the `nprobe` nearest centroids and rerank exactly.

Hyperplanes/centroid seeds derive from Python's seeded `random`, so
plans are rerun-stable.
"""

from __future__ import annotations

import random as _random

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gcp_data_pipeline_fyp_spark.functions.vectors import (
    as_double_vec,
    cosine,
    dot,
    lsh_sign_bucket,
)
from gcp_data_pipeline_fyp_spark.operators.clustering import (
    centroid_means,
    lowest_id_seeds,
)
from gcp_data_pipeline_fyp_spark.queries_util import micro6


def _topk_per_query(pairs: DataFrame, k: int) -> DataFrame:
    # rank on the integer micro-cosine: same order as the 6-dp value
    # it encodes, and the emission type is certification-hash-safe
    # (see queries_util.micro6)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_micro").desc(), F.col("corpus_id")
    )
    return (
        pairs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k of corpus rows per query row (ids must not overlap roles)."""
    # pre-normalize both sides: cosine of unit vectors is a bare dot
    # product, so the O(|Q|·|corpus|) pair stage does 1/3 of the work
    # (norms are computed once per row, not once per pair)
    q = queries.select(
        F.col(id_col).alias("query_id"), _unit(as_double_vec(vec_col)).alias("__qv")
    )
    c = corpus.select(
        F.col(id_col).alias("corpus_id"), _unit(as_double_vec(vec_col)).alias("__cv")
    )
    pairs = c.crossJoin(F.broadcast(q)).select(
        "query_id",
        "corpus_id",
        micro6(_fast_dot(F.col("__qv"), F.col("__cv"))).alias("cosine_micro"),
    )
    return _topk_per_query(pairs, k)


def rerank_exact(
    candidates: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
) -> DataFrame:
    """Exact-cosine re-rank of an ANN candidate set — the final
    precision step of every quantized path (DEPLOY.md): the
    approximate index (SQ8 / PQ / IVF-PQ) generates candidates cheap,
    then only those few vectors are fetched at full precision and
    rescored with the same micro-unit cosine as `brute_force_topk`.

    `candidates` carries (query_id, corpus_id) — any ANN top-k output
    works. The candidate set is |Q| x k'-sized (broadcastable by
    construction), so the raw-vector fetch is a broadcast semi-join
    that prunes the corpus scan to candidate rows; no corpus-sized
    shuffle anywhere. Output is (query_id, corpus_id, cosine_micro)
    re-ranked exactly — when the ANN stage's recall captures the true
    top-k, this output IS the brute-force answer at ~1/compression of
    the scan bytes."""
    cand = candidates.select("query_id", "corpus_id")
    q = queries.select(
        F.col(id_col).alias("query_id"), _unit(as_double_vec(vec_col)).alias("__qv")
    )
    c = corpus.select(
        F.col(id_col).alias("corpus_id"), _unit(as_double_vec(vec_col)).alias("__cv")
    )
    fetched = c.join(
        F.broadcast(cand.select("corpus_id").distinct()), "corpus_id", "left_semi"
    )
    pairs = (
        fetched.join(F.broadcast(cand), "corpus_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "corpus_id",
            micro6(_fast_dot(F.col("__qv"), F.col("__cv"))).alias("cosine_micro"),
        )
    )
    return _topk_per_query(pairs, k)


def _fast_dot(a, b):
    from gcp_data_pipeline_fyp_spark.functions import vectors as _v

    if _v.HAVE_VECTORIZED:
        return _v.dot_vectorized(a, b)
    return dot(a, b)


def _unit(v):
    from gcp_data_pipeline_fyp_spark.functions.vectors import norm, scale

    n = norm(v)
    # zero vector -> NULL unit vector -> NULL cosine (try_divide parity)
    return F.when(n > 0, scale(v, 1.0 / n))


def make_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rng = _random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    dim: int = 64,
    n_planes: int = 8,
    seed: int = 42,
    multiprobe: bool = True,
) -> DataFrame:
    """Approximate top-k: probe the query's sign bucket (+ Hamming-1 neighbors)."""
    planes = make_hyperplanes(dim, n_planes, seed)
    c = corpus.select(
        F.col(id_col).alias("corpus_id"), as_double_vec(vec_col).alias("__cv")
    ).withColumn("__bucket", lsh_sign_bucket(F.col("__cv"), planes))
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double_vec(vec_col).alias("__qv")
    ).withColumn("__qbucket", lsh_sign_bucket(F.col("__qv"), planes))
    if multiprobe:
        # probe own bucket + all Hamming-distance-1 buckets
        probes = F.array(
            F.col("__qbucket"),
            *[
                F.col("__qbucket").bitwiseXOR(F.lit(1 << i)).cast("long")
                for i in range(n_planes)
            ],
        )
        q = q.withColumn("__probe", F.explode(probes))
    else:
        q = q.withColumn("__probe", F.col("__qbucket"))
    pairs = q.join(c, q["__probe"] == c["__bucket"]).select(
        "query_id",
        "corpus_id",
        micro6(cosine(F.col("__qv"), F.col("__cv"))).alias("cosine_micro"),
    ).dropDuplicates(["query_id", "corpus_id"])
    return _topk_per_query(pairs, k)


def fit_ivf_centroids(
    c: DataFrame,
    n_centroids: int,
    refine_iters: int,
    train_sample_frac: float | None = None,
) -> DataFrame:
    """Deterministic IVF centroids: seeded with the `n_centroids`
    smallest-id corpus vectors, refined with `refine_iters` spherical
    Lloyd iterations — dot-product assignment (`_assign`) and the
    k-means update (operators/clustering.py:centroid_means; no MLlib
    dependency, partitioning-invariant). `c` must carry (`corpus_id`,
    `__cv`).

    `train_sample_frac`: the 100 TB path (DEPLOY.md) — fit on a
    deterministic content-keyed sample of the corpus instead of every
    vector. Centroid quality needs vectors-per-centroid in the
    hundreds, not the full corpus; the assignment pass downstream
    still covers everything. Sampling is id-keyed (hash_bucket), so
    the fit is reproducible on any partitioning.

    The returned (n_centroids-row, tiny) frame is lazily
    localCheckpointed: every caller consumes the centroids at least
    twice (corpus assignment + query probing), and without the
    barrier the whole Lloyd subtree — including its full-corpus
    assignment pass — re-plans under EVERY consumer (measured before
    the fix: semdedup_docs carried 190 Exchange nodes / 42 parquet
    scans in one physical plan). Values are unchanged: the fit is
    deterministic, the barrier only pins where it computes."""
    if train_sample_frac is not None:
        from gcp_data_pipeline_fyp_spark.operators.sampling import hash_sample

        c = hash_sample(c, ["corpus_id"], train_sample_frac, seed=7)
    cent = lowest_id_seeds(c, "corpus_id", "__cv", n_centroids, "centroid_id")
    for _ in range(refine_iters):
        cent = centroid_means(_assign(c, cent, n_centroids), ("centroid_id",), "__cv")
    return cent.localCheckpoint(eager=False)


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    refine_iters: int = 1,
    train_sample_frac: float | None = None,
    broadcast_probes: bool = True,
) -> DataFrame:
    """IVF: partition corpus by nearest centroid, probe nprobe lists, exact rerank.

    `broadcast_probes` (default True): the probe set is |Q| x nprobe
    rows; broadcasting it makes the probes ⋈ assigned-corpus join a
    BroadcastHashJoin with the CORPUS as the streamed side — the
    corpus is never shuffled. Left to the planner, the explode over
    the crossJoin defeats size estimation and the join falls back to
    SortMergeJoin, which shuffles the whole corpus by centroid_id — a
    key with only n_centroids distinct values, i.e. the corpus
    funneled into n_centroids partitions (guide §2.5: synthetic keys
    with too few distinct values; §3.1: broadcast the side that
    fits). Pass False when the QUERY side is itself corpus-sized
    (bitext mining), where n_centroids is auto-sized ~sqrt(n) so the
    centroid-keyed shuffle stays spread."""
    c = corpus.select(
        F.col(id_col).alias("corpus_id"), as_double_vec(vec_col).alias("__cv")
    )
    cent = fit_ivf_centroids(c, n_centroids, refine_iters, train_sample_frac)
    assigned = _assign(c, cent, n_centroids)
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double_vec(vec_col).alias("__qv")
    )
    # shuffle-free top-nprobe (see _topn_cent_struct): matters when the
    # query side is corpus-sized (bitext mining runs every left row as
    # a query) — the old row_number window shuffled |Q| x n_centroids
    # rows carrying the query vectors
    probes = q.crossJoin(F.broadcast(_cent_array(cent))).select(
        "query_id",
        "__qv",
        F.explode(
            _topn_cent_struct(F.col("__qv"), F.col("__cents"), nprobe)
        ).alias("__p"),
    ).select("query_id", "__qv", F.col("__p.centroid_id").alias("centroid_id"))
    probes_j = F.broadcast(probes) if broadcast_probes else probes
    pairs = probes_j.join(assigned, "centroid_id").select(
        "query_id",
        "corpus_id",
        micro6(cosine(F.col("__qv"), F.col("__cv"))).alias("cosine_micro"),
    )
    return _topk_per_query(pairs, k)


def _cent_array(cent: DataFrame, id_col: str = "centroid_id", vec_col: str = "__centroid") -> DataFrame:
    """The centroid set as ONE row holding an id-ascending array of
    (id, vector) structs — the broadcastable operand of the
    shuffle-free assignment below. array_sort on the struct orders by
    its first field (the distinct id), so the array order is
    deterministic on any partitioning."""
    return cent.agg(
        F.array_sort(
            F.collect_list(F.struct(F.col(id_col), F.col(vec_col)))
        ).alias("__cents")
    )


def _topn_cent_struct(vec, cents_col, n: int):
    """Top-`n` (score desc, centroid_id asc) prefix of the broadcast
    centroid array for one row's vector — the shuffle-free form of the
    per-row row_number window (same order, same NULLS LAST: a NULL
    score sorts after every non-NULL one, ties break to the lower
    centroid id)."""
    sc = F.transform(
        cents_col,
        lambda s: F.struct(
            dot(vec, s["__centroid"]).alias("__score"),
            s["centroid_id"].alias("centroid_id"),
        ),
    )
    return F.slice(
        F.array_sort(
            sc,
            lambda a, b: F.when(
                a["__score"].isNotNull() & b["__score"].isNull(), F.lit(-1)
            )
            .when(a["__score"].isNull() & b["__score"].isNotNull(), F.lit(1))
            .when(a["__score"] > b["__score"], F.lit(-1))
            .when(a["__score"] < b["__score"], F.lit(1))
            .when(a["centroid_id"] < b["centroid_id"], F.lit(-1))
            .otherwise(F.lit(1)),
        ),
        1,
        n,
    )


# Ceiling for the broadcast-array fold in _assign: the whole codebook
# rides in ONE row (n_centroids x dim doubles — 4096 x 128 is ~4 MB;
# 1M auto-sized centroids at 100 TB would be hundreds of MB against
# the 2 GB single-row limit) and the per-row fold is an unpruned
# O(n_centroids x dim) scan. Above this, _assign falls back to the
# shuffle form (VERDICT r12 item 6): broadcast the centroid ROWS
# (normal broadcast relation, no single-row cap), explode via the
# nested-loop join, and argmax per corpus row with a partial
# AGGREGATION — each row's n_centroids scored copies collapse
# map-side, so the exchange carries ONE row per corpus row.
_ASSIGN_FOLD_MAX_CENTROIDS = 4096

_NUMERIC_CID_TYPES = ("tinyint", "smallint", "int", "bigint", "float", "double")


def _assign_agg(c: DataFrame, cent: DataFrame) -> DataFrame:
    """The large-n_centroids assignment: explode + max-struct argmax.

    Same semantics as the fold (differential-pinned in
    tests/test_assign_equivalence.py): Spark struct ordering compares
    fields left-to-right with NULL smallest, so a NULL score loses to
    any non-NULL one, ties on score fall through to max(-centroid_id)
    = the LOWEST centroid id, and an empty centroid set yields zero
    rows (the crossJoin produces none)."""
    scored = c.crossJoin(F.broadcast(cent)).select(
        "corpus_id",
        "__cv",
        "centroid_id",
        dot(F.col("__cv"), F.col("__centroid")).alias("__score"),
    )
    best = scored.groupBy("corpus_id").agg(
        F.max(
            F.struct(
                F.col("__score"),
                (-F.col("centroid_id")).alias("__negid"),
                F.col("centroid_id"),
                F.col("__cv"),
            )
        ).alias("__b")
    )
    return best.select(
        "corpus_id",
        F.col("__b.__cv").alias("__cv"),
        F.col("__b.centroid_id").alias("centroid_id"),
    )


def _assign(
    c: DataFrame, cent: DataFrame, n_centroids: int | None = None
) -> DataFrame:
    """Nearest-centroid assignment as a pure projection — NO shuffle.

    The previous form crossJoined every corpus row with the centroid
    set (n_centroids rows per vector) and ranked with a row_number
    window partitioned by corpus_id: a full-corpus exchange + two
    sorts carrying the vector payload, repeated in every Lloyd
    iteration and every index build (guide §2.4: remove shuffles
    outright). Here the centroids ride along as one broadcast array
    and the argmax is a per-row fold.

    Semantics are IDENTICAL to the window form, including its corner
    cases: ties on __score break to the lower centroid_id (the array
    is id-ascending and the fold keeps the incumbent on ties), a NULL
    score (NULL __cv) loses to any non-NULL score (desc = NULLS LAST),
    and an all-NULL row takes the lowest centroid_id. An empty
    centroid set yields zero rows (the old crossJoin shape),
    via the final isNotNull filter.

    `n_centroids` (callers that size the codebook pass it through):
    above `_ASSIGN_FOLD_MAX_CENTROIDS` the fold's single-row codebook
    and unpruned per-row scan stop being the right trade and the
    assignment auto-falls back to `_assign_agg` (shuffle form). With
    `n_centroids=None` the fold is used — every auto-sized caller in
    the engine passes the count."""
    if (
        n_centroids is not None
        and n_centroids > _ASSIGN_FOLD_MAX_CENTROIDS
        and dict(cent.dtypes)["centroid_id"] in _NUMERIC_CID_TYPES
    ):
        return _assign_agg(c, cent)
    cid_t = dict(cent.dtypes)["centroid_id"]
    scored = c.crossJoin(F.broadcast(_cent_array(cent))).select(
        "corpus_id",
        "__cv",
        F.transform(
            F.col("__cents"),
            lambda s: F.struct(
                dot(F.col("__cv"), s["__centroid"]).alias("__score"),
                s["centroid_id"].alias("centroid_id"),
            ),
        ).alias("__sc"),
    )
    best = F.aggregate(
        F.col("__sc"),
        F.lit(None).cast(f"struct<__score:double,centroid_id:{cid_t}>"),
        lambda acc, s: F.when(acc.isNull(), s)
        .when(s["__score"].isNotNull() & acc["__score"].isNull(), s)
        .when(
            s["__score"].isNotNull()
            & acc["__score"].isNotNull()
            & (s["__score"] > acc["__score"]),
            s,
        )
        .otherwise(acc),
    )
    return (
        scored.select("corpus_id", "__cv", best.alias("__best"))
        .filter(F.col("__best").isNotNull())
        .select(
            "corpus_id", "__cv", F.col("__best.centroid_id").alias("centroid_id")
        )
    )


# ------------------------------------------------ scalar quantization
def _sq8_um(vec_col) -> F.Column:
    """Unit vector in integer micro-units (the proven micro6 chain:
    scale-then-round-ONCE, see queries_util.micro6 for why the
    round(x,6)-then-scale form diverges across engines on tie-adjacent
    components); NULL for zero vectors."""
    u = _unit(as_double_vec(vec_col))
    return F.transform(
        u, lambda x: F.round(x * 1000000.0, 0).cast("long")
    )


def quantize_sq8(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Int8 scalar quantization (the Faiss SQ8 scheme, public method):
    unit-normalize, then encode each component as round(x * 127 /
    max_abs) -> (id, codes array<int>, maxu bigint).

    This is the 100 TB memory lever for vector search: an int8 code
    array is 8x smaller than float64 (4x vs float32), so a quantized
    corpus fits 4-8x more vectors per executor and shuffle/scan bytes
    drop by the same factor. Scoring stays integer: code dot products
    are exact int64 sums, scaled back by each row's stored max
    (`maxu`, the unit vector's max |component| in micro-units).

    Cross-engine exactness (certification): the unit vector is rounded
    to 6 dp and scaled to integer micro-units FIRST (the proven micro6
    chain — absorbs fold-order noise), so codes derive from integer
    inputs via one correctly-rounded divide and reproduce bit-for-bit
    in any engine. Zero vectors are dropped: they are meaningless under
    cosine and have no quantization scale.

    Catalyst trap (the BASELINE.md MinHash lesson, round 2): the codes
    lambda must NOT reference the __um/__mx COLUMNS — CollapseProject
    inlines a referenced column's full expression into the lambda BODY,
    re-evaluating the O(dim^2) unit-vector chain once PER ELEMENT
    (O(dim^3) per row — measured 26 ms/row vs ~1 ms). `zip_with` over
    `array_repeat(mx, size)` keeps every expensive expression in
    lambda ARGUMENTS, which evaluate once per row after any inlining.
    """
    d = df.select(id_col, vec_col).withColumn("__um", _sq8_um(F.col(vec_col)))
    mx = F.array_max(F.transform(F.col("__um"), lambda m: F.abs(m)))
    d = d.withColumn("__mx", F.when(mx > 0, mx))
    codes = F.when(
        F.col("__mx").isNotNull(),
        F.zip_with(
            F.col("__um"),
            F.array_repeat(F.col("__mx"), F.size(F.col("__um")).cast("int")),
            lambda m, s: F.round(m * 127.0 / s).cast("int"),
        ),
    )
    return (
        d.withColumn("codes", codes)
        .withColumn("maxu", F.col("__mx"))
        .filter(F.col("codes").isNotNull())
        .select(id_col, "codes", "maxu")
    )


def sq8_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
) -> DataFrame:
    """Approximate cosine top-k over SQ8-quantized vectors: integer
    code dot products (exact int64), scaled back to an approximate
    cosine by the two rows' stored scales. Same broadcast-the-queries
    shape as `brute_force_topk`, but the corpus side streams 8x fewer
    bytes — the plan a 100 TB scan actually wants. Emits
    `cosine_micro` (micro-units of the approximate cosine; recall vs
    exact is asserted in tests/test_similarity.py).
    """
    q = quantize_sq8(queries, id_col, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col("codes").alias("__qc"),
        F.col("maxu").alias("__qm"),
    )
    c = quantize_sq8(corpus, id_col, vec_col).select(
        F.col(id_col).alias("corpus_id"),
        F.col("codes").alias("__cc"),
        F.col("maxu").alias("__cm"),
    )
    pairs = c.crossJoin(F.broadcast(q)).select(
        "query_id",
        "corpus_id",
        micro6(
            _sq8_pair_score(
                F.col("__qc"), F.col("__cc"), F.col("__qm"), F.col("__cm")
            )
        ).alias("cosine_micro"),
    )
    return _topk_per_query(pairs, k)


def _sq8_pair_score(qc, cc, qm, cm):
    """Approximate cosine of two SQ8 rows: (dot * mq) * mc / (127^2 *
    1e12). The code dot is an exact int64 sum — Arrow-vectorized in the
    pair stage when available (higher-order `aggregate`/`zip_with` are
    CodegenFallback, interpreted per element; over millions of pairs
    that interpretation dominates — same reason `brute_force_topk` uses
    the vectorized double dot). Integer sums are order-independent, so
    the fast path is bit-identical to the fold, and the scale
    multiplies/divide are correctly-rounded IEEE ops in a fixed order,
    mirrored verbatim in the SQL oracle."""
    from gcp_data_pipeline_fyp_spark.functions import vectors as _v

    if _v.HAVE_VECTORIZED:
        dot_int = _v.dot_int_vectorized(qc, cc)
    else:
        dot_int = F.aggregate(
            F.zip_with(qc, cc, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
    return (dot_int.cast("double") * qm) * cm / F.lit(16129000000000000.0)


def hard_negatives(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    dup_threshold_micro: int = 990_000,
) -> DataFrame:
    """Hard-negative mining for contrastive embedding training (public
    recipe, e.g. DPR/SimCSE-style): per query, the k MOST similar
    corpus items that are NOT near-duplicates — high-cosine pairs above
    `dup_threshold_micro` are excluded (they are positives/duplicates,
    and training on them as negatives poisons the objective).

    Same scan shape as `brute_force_topk` (broadcast queries, one
    corpus pass); the near-dup exclusion is a filter on the already-
    computed micro-cosine, so mining costs nothing beyond the top-k.
    At scale, swap the pair stage for the LSH/IVF/SQ8 candidates and
    keep the same exclusion + rank."""
    q = queries.select(
        F.col(id_col).alias("query_id"), _unit(as_double_vec(vec_col)).alias("__qv")
    )
    c = corpus.select(
        F.col(id_col).alias("corpus_id"), _unit(as_double_vec(vec_col)).alias("__cv")
    )
    pairs = c.crossJoin(F.broadcast(q)).select(
        "query_id",
        "corpus_id",
        micro6(_fast_dot(F.col("__qv"), F.col("__cv"))).alias("cosine_micro"),
    )
    return _topk_per_query(
        pairs.filter(F.col("cosine_micro") < dup_threshold_micro), k
    )


def topk_overlap_report(
    truth: DataFrame,
    candidate: DataFrame,
    query_col: str = "query_id",
    id_col: str = "corpus_id",
    score_col: str = "cosine_micro",
    k: int = 5,
) -> DataFrame:
    """Ranking-quality report between a ground-truth top-k (brute
    force) and an approximate candidate top-k (LSH/IVF/PQ) — the
    recall@k / MRR eval as a first-class distributed operator, so
    index-quality regressions surface in the SAME certified pipeline
    that serves queries instead of a side script.

    Per query: `n_overlap` (truth ids the candidate list recovered,
    exact integer — recall@k = n_overlap/k) and `mrr_micro`
    (reciprocal rank of the truth's #1 in the candidate list, 0 when
    missed; the single float is the one reciprocal, micro6-rounded).
    Both lists re-rank internally by (score desc, id) so the report
    never trusts input row order. Inputs are |queries|·k rows — every
    join here is tiny regardless of corpus size.
    """
    from gcp_data_pipeline_fyp_spark.queries_util import micro6

    wt = Window.partitionBy(query_col).orderBy(
        F.col(score_col).desc(), F.col(id_col)
    )
    t = truth.select(query_col, id_col, score_col).withColumn(
        "__rk_t", F.row_number().over(wt)
    ).filter(F.col("__rk_t") <= k)
    c = candidate.select(query_col, id_col, score_col).withColumn(
        "__rk_c", F.row_number().over(wt)
    ).filter(F.col("__rk_c") <= k)
    overlap = (
        t.join(c.select(query_col, id_col), [query_col, id_col], "left_semi")
        .groupBy(query_col)
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    top1 = t.filter(F.col("__rk_t") == 1).select(query_col, id_col)
    hit = top1.join(
        c.select(query_col, id_col, "__rk_c"), [query_col, id_col], "left"
    ).select(
        query_col,
        F.coalesce(
            micro6(F.lit(1.0) / F.col("__rk_c")), F.lit(0).cast("bigint")
        ).alias("mrr_micro"),
    )
    base = t.groupBy(query_col).agg(F.count(F.lit(1)).alias("n_truth"))
    return (
        base.join(overlap, [query_col], "left")
        .join(hit, [query_col], "left")
        .select(
            query_col,
            "n_truth",
            F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
            F.coalesce("mrr_micro", F.lit(0).cast("bigint")).alias("mrr_micro"),
        )
    )


def ndcg_report(
    truth: DataFrame,
    candidate: DataFrame,
    query_col: str = "query_id",
    id_col: str = "corpus_id",
    score_col: str = "cosine_micro",
    k: int = 5,
) -> DataFrame:
    """nDCG@k of an approximate top-k against ground truth — the third
    standard retrieval metric next to `topk_overlap_report`'s
    recall/MRR: recall ignores ORDER inside the list, MRR sees only
    the #1; nDCG grades every position. Graded relevance is linear by
    truth rank (rel = k - truth_rank + 1, 0 for ids outside the truth
    top-k); DCG = sum rel_i / log2(i+1) over candidate positions.

    Determinism across engines: the per-position discounts
    1/log2(i+1) are PLAN CONSTANTS computed once in Python and
    embedded as double literals (engine-native log2/ln differ by ulps
    between JVM and C, which micro rounding can amplify at
    boundaries), each position's term rounds to integer micros
    independently (order-independent integer sums; per-term error
    <= 0.5e-6, immaterial for an eval metric), and IDCG comes from a
    Python-precomputed prefix table keyed on n_truth. Output:
    (query_col, n_truth, dcg_micro, idcg_micro, ndcg_micro). Both
    lists re-rank internally by (score desc, id); inputs are
    |queries| x k rows — every join tiny at any corpus scale.
    """
    import math

    from gcp_data_pipeline_fyp_spark.queries_util import micro6

    disc = [1.0 / math.log2(i + 1) for i in range(1, k + 1)]

    def _half_up(x: float) -> int:
        return math.floor(x + 0.5)

    idcg_prefix = {}
    acc = 0
    for m in range(1, k + 1):
        acc += _half_up((k - m + 1) * disc[m - 1] * 1_000_000)
        idcg_prefix[m] = acc

    wt = Window.partitionBy(query_col).orderBy(
        F.col(score_col).desc(), F.col(id_col)
    )
    t = (
        truth.select(query_col, id_col, score_col)
        .withColumn("__rk_t", F.row_number().over(wt))
        .filter(F.col("__rk_t") <= k)
    )
    c = (
        candidate.select(query_col, id_col, score_col)
        .withColumn("__rk_c", F.row_number().over(wt))
        .filter(F.col("__rk_c") <= k)
    )
    joined = c.join(
        t.select(
            query_col, id_col, (F.lit(k) - F.col("__rk_t") + 1).alias("__rel")
        ),
        [query_col, id_col],
        "left",
    ).withColumn("__rel", F.coalesce("__rel", F.lit(0)))
    term = None
    for i, d in enumerate(disc, start=1):
        val = F.round(
            F.col("__rel").cast("double") * F.lit(d) * F.lit(1_000_000.0)
        ).cast("long")
        term = (
            F.when(F.col("__rk_c") == i, val)
            if term is None
            else term.when(F.col("__rk_c") == i, val)
        )
    dcg = joined.groupBy(query_col).agg(F.sum(term).alias("dcg_micro"))
    base = t.groupBy(query_col).agg(F.count(F.lit(1)).alias("n_truth"))
    idcg = None
    for m, v in idcg_prefix.items():
        idcg = (
            F.when(F.col("n_truth") == m, F.lit(v).cast("long"))
            if idcg is None
            else idcg.when(F.col("n_truth") == m, F.lit(v).cast("long"))
        )
    return (
        base.join(dcg, [query_col], "left")
        .select(
            query_col,
            "n_truth",
            F.coalesce("dcg_micro", F.lit(0).cast("long")).alias("dcg_micro"),
            idcg.alias("idcg_micro"),
        )
        .withColumn(
            "ndcg_micro",
            micro6(
                F.col("dcg_micro").cast("double")
                / F.col("idcg_micro").cast("double")
            ),
        )
    )


# ------------------------------------------- index-drift retrain trigger
def ivf_retrain_decision(
    base: DataFrame,
    current: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int = 16,
    refine_iters: int = 1,
    psi_threshold_micro: int = 250_000,
    train_sample_frac: float | None = None,
) -> DataFrame:
    """Should the ANN index be retrained? Wire the embedding-drift
    monitor to the IVF index family: fit centroids on the BASE
    snapshot (the corpus the live index was trained on), assign both
    snapshots to those centroids, and run PSI over the centroid-id
    mix (operators/profile.py:psi_categorical — union category set,
    add-half smoothing, micro6-then-integer-sum determinism). A
    shifted assignment distribution means queries now probe lists the
    codebook no longer balances — the operational retrain signal.

    Emits ONE row: (n_base, n_cur, n_cats, psi_micro, retrain) with
    `retrain = psi_micro > psi_threshold_micro` (default 0.25, the
    classic "significant shift" PSI rule).

    Scale: the fit is sample-able (`train_sample_frac`, the 100 TB
    path), both assignment passes are broadcast-centroid map-side
    scoring (no shuffle of the vectors), and the PSI runs on
    n_centroids-sized counts. Nothing here exceeds the cost of the
    index build it guards.
    """
    from gcp_data_pipeline_fyp_spark.operators.profile import psi_categorical

    b = base.select(
        F.col(id_col).alias("corpus_id"), as_double_vec(vec_col).alias("__cv")
    )
    cur = current.select(
        F.col(id_col).alias("corpus_id"), as_double_vec(vec_col).alias("__cv")
    )
    cent = fit_ivf_centroids(b, n_centroids, refine_iters, train_sample_frac)
    ab = _assign(b, cent, n_centroids).select(
        F.lit("all").alias("__scope"), "centroid_id"
    )
    ac = _assign(cur, cent, n_centroids).select(
        F.lit("all").alias("__scope"), "centroid_id"
    )
    psi = psi_categorical(ab, ac, "centroid_id", ["__scope"])
    return psi.select(
        "n_base",
        "n_cur",
        "n_cats",
        "psi_micro",
        (F.col("psi_micro") > F.lit(psi_threshold_micro)).alias("retrain"),
    )


# ------------------------------------------------- bitext margin mining
def auto_n_centroids(n: int) -> int:
    """The FAISS sizing rule for IVF list counts: ~sqrt(n) centroids
    balances list length (n/sqrt(n) vectors probed per list) against
    codebook size — and, at 100 TB, IS the parallelism knob: a fixed
    small centroid count collapses the probed-partition fan-out no
    matter how many executors exist (the BASELINE.md round-8
    anti-lesson: 16 fixed centroids mined slower than brute). Floor of
    2 so degenerate corpora still get a real coarse split."""
    import math

    return max(2, math.ceil(math.sqrt(max(n, 0))))


def bitext_margin_pairs(
    left: DataFrame,
    right: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 4,
    margin_threshold_micro: int = 1_020_000,
    n_centroids: int | str | None = "auto",
    nprobe: int = 4,
) -> DataFrame:
    """Margin-based parallel-pair mining between two embedding sides —
    the public CCMatrix/LASER method (Artetxe & Schwenk 2019): a
    candidate (x, y) is a translation pair when cos(x, y) clearly
    beats the DENSITY of both neighborhoods, margin = cos(x, y) /
    ((mean top-k cos of x in RIGHT + mean top-k cos of y in LEFT)/2).
    Raw cosine thresholds fail on hubness (dense regions score high
    everywhere); the ratio margin normalizes it away.

    Emits the best right match per left row with `margin_micro >=
    margin_threshold_micro` (default 1.02; the paper operates around
    1.06): (query_id, corpus_id, cosine_micro, margin_micro).

    Scale: the DEFAULT path is IVF — `n_centroids="auto"` sizes the
    codebook as ceil(sqrt(max(|left|, |right|))) per `auto_n_centroids`
    (the FAISS rule; costs one count() per side), so the scale path is
    the easy path and nobody inherits the round-8 anti-lesson of a
    fixed tiny codebook collapsing parallelism. Pass an int to pin the
    codebook size, or `None` to run exact brute-force top-k — the
    certification override the oracle probes replay (both directions
    reuse `ivf_topk`'s broadcast-codebook assignment, so neither
    corpus ever shuffles by pair; `bitext_ivf_agreement` certifies the
    IVF path's top-1 agreement against brute). The margin algebra
    afterwards runs on top-k-sized lists: two tiny aggregations and
    one join, never a second pass over the vectors.

    Determinism: cosines live in integer micro-units, the two
    neighborhood means are (exact int sum)/count in ONE pinned double
    expression each, and `margin_micro` is micro6 of the single ratio
    — DuckDB replays it bit-for-bit. try_divide: a degenerate
    all-orthogonal neighborhood (mean 0) yields NULL margin and the
    pair drops rather than dividing by zero.
    """
    if n_centroids == "auto":
        n_centroids = auto_n_centroids(max(left.count(), right.count()))
    if n_centroids is not None:
        def topk(q: DataFrame, c: DataFrame) -> DataFrame:
            # broadcast_probes=False: the query side here is a full
            # corpus (every left row probes), so the probe set is NOT
            # broadcastable at scale; n_centroids is auto-sized
            # ~sqrt(n), which keeps the centroid-keyed shuffle spread
            return ivf_topk(
                q, c, id_col, vec_col, k=k,
                n_centroids=n_centroids, nprobe=nprobe,
                broadcast_probes=False,
            )
    else:
        def topk(q: DataFrame, c: DataFrame) -> DataFrame:
            return brute_force_topk(q, c, id_col, vec_col, k=k)

    # lazy barrier on fwd: it feeds BOTH the forward-mean aggregation
    # and the scored join — without it the whole top-k chain (incl.
    # the IVF fit + assignment) re-plans under each consumer
    fwd = topk(left, right).localCheckpoint(eager=False)
    bwd = topk(right, left)
    fmean = fwd.groupBy("query_id").agg(
        (F.sum("cosine_micro") / F.count(F.lit(1))).alias("__fmean")
    )
    bmean = bwd.groupBy("query_id").agg(
        (F.sum("cosine_micro") / F.count(F.lit(1))).alias("__bmean")
    ).withColumnRenamed("query_id", "corpus_id")
    # NOT forced broadcast: the mean tables are node-count-sized (one
    # row per left/right vector) — broadcastable at probe scale but
    # not at 100 TB; AQE picks broadcast when they fit
    scored = (
        fwd.join(fmean, "query_id")
        .join(bmean, "corpus_id")
        .select(
            "query_id",
            "corpus_id",
            "cosine_micro",
            micro6(
                F.try_divide(
                    F.col("cosine_micro"),
                    (F.col("__fmean") + F.col("__bmean")) / 2.0,
                )
            ).alias("margin_micro"),
        )
        .filter(F.col("margin_micro").isNotNull())
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("margin_micro").desc(), F.col("corpus_id")
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(
            (F.col("__rn") == 1)
            & (F.col("margin_micro") >= margin_threshold_micro)
        )
        .drop("__rn")
    )


def ivf_retrain_decision_indexed(
    wh,
    batch: DataFrame,
    id_col: str,
    vec_col: str,
    name: str,
    psi_threshold_micro: int = 250_000,
) -> DataFrame:
    """Retrain check against a PERSISTED index, no refit (the
    operational cadence DEPLOY.md prescribes): the base distribution
    is the index's TRAINING-TIME assignment mix (`{name}__train_mix`,
    snapshotted by `build_ivfpq_index` and never
    touched by appends), the current distribution is the new batch
    assigned against the stored codebook (one broadcast-assign pass),
    and the verdict is the same smoothed centroid-mix PSI as
    `ivf_retrain_decision`. One row:
    (n_base, n_cur, n_cats, psi_micro, retrain).

    Why the snapshot and not live postings counts: an ingest loop
    that folds every new batch into the postings would make a
    live-counted baseline progressively absorb the drifted data — PSI
    damps toward zero the longer the stream runs, delaying the trigger
    exactly when drift has accumulated most. For a legacy index persisted before the
    snapshot existed, the live counts of `{name}__codes` (m rows per
    vector — subspace 0 taken as the one-row-per-vector view) remain
    the fallback (stated caveat: rebuild once to pin the baseline).
    Assignment by max dot is invariant under the positive per-vector
    scaling the PQ path's unit normalization applies, so the batch mix
    and the stored mix are comparable."""
    from gcp_data_pipeline_fyp_spark.operators.profile import (
        psi_from_joint_counts,
    )

    cent = wh.read(f"{name}__centroids").select(
        "centroid_id", F.col("centroid").alias("__centroid")
    )
    if wh.exists(f"{name}__train_mix"):
        base_counts = wh.read(f"{name}__train_mix").select(
            "centroid_id", F.col("n").alias("__cb")
        )
    else:
        base_counts = (
            wh.read(f"{name}__codes")
            .filter(F.col("subspace") == 0)
            .groupBy("centroid_id")
            .agg(F.count(F.lit(1)).alias("__cb"))
        )
    b = batch.select(
        F.col(id_col).alias("corpus_id"), as_double_vec(vec_col).alias("__cv")
    )
    cur_counts = (
        _assign(b, cent, cent.count())
        .groupBy("centroid_id")
        .agg(F.count(F.lit(1)).alias("__cc"))
    )
    pooled = base_counts.join(cur_counts, "centroid_id", "full").select(
        F.coalesce("__cb", F.lit(0)).alias("__cb"),
        F.coalesce("__cc", F.lit(0)).alias("__cc"),
    )
    psi = psi_from_joint_counts(pooled, [])
    return psi.select(
        "n_base",
        "n_cur",
        "n_cats",
        "psi_micro",
        (F.col("psi_micro") > F.lit(psi_threshold_micro)).alias("retrain"),
    )


def jl_project(
    df: DataFrame,
    vec_col: str,
    out_dim: int,
    seed: int = 42,
    in_dim: int | None = None,
) -> DataFrame:
    """Johnson-Lindenstrauss random projection: replace `vec_col` with
    its seeded Gaussian projection to `out_dim` components (scaled
    1/sqrt(out_dim), the distance-preserving normalization).

    The standard 100 TB pre-step before LSH bucketing / k-means
    blocking / drift monitoring: a d=1024 float corpus projected to 64
    dims cuts vector bytes 16x while preserving pairwise distances to
    within JL tolerance — every downstream shuffle, broadcast, and
    codebook fit gets 16x cheaper, and exact re-rank against the full
    vectors restores precision where it matters (`rerank_exact`).

    Pure column expressions over a broadcast-literal plane matrix
    (same seeded-Gaussian source as the LSH hyperplanes, so plans are
    rerun-stable and oracle-replayable); no shuffle, no Python — the
    projection rides the scan. Deterministic for a given (dim,
    out_dim, seed).
    """
    if in_dim is None:
        # one-row dimension probe (a `first()` = limit-1 scan); pass
        # `in_dim` explicitly to keep the plan action-free
        first = df.select(F.size(as_double_vec(vec_col))).first()
        if first is None or first[0] is None:
            return df.withColumn(vec_col, as_double_vec(vec_col))
        in_dim = first[0]
    planes = make_hyperplanes(in_dim, out_dim, seed)
    s = 1.0 / (out_dim ** 0.5)
    v = as_double_vec(vec_col)
    comps = [
        (dot(v, F.array(*[F.lit(x) for x in p])) * s).alias(f"_c{i}")
        for i, p in enumerate(planes)
    ]
    return df.withColumn(vec_col, F.array(*comps))
