"""Product quantization (Jégou et al., TPAMI 2011) — the compressed
vector representation a 100 TB ANN corpus actually stores.

Where SQ8 (operators/similarity.py:quantize_sq8) keeps one int8 per
component (8x compression), PQ splits each vector into `m` subvectors
and stores only the id of the nearest per-subspace codebook centroid:
`m` small ints per vector — 64-dim float64 at m=4 is 512 bytes down to
4 bytes of codes (plus the shared codebooks, n_codes*dim doubles
total). Scoring is asymmetric (ADC): the query stays full-precision,
one tiny lookup table of query-subvector x centroid dot products is
built per query batch, and each corpus vector's score is the sum of
`m` table lookups — no per-pair float math at all.

Spark-first shape:

- **Training** (`fit_pq_codebooks`) runs the engine's deterministic
  DataFrame k-means (operators/clustering.py) once per subspace over
  the corpus (or a sample at scale — same argument as IVF sampled
  training). Output is m * n_codes centroids: always broadcastable.
- **Encoding** (`pq_encode`) is one nearest-centroid assignment pass
  per subspace (broadcast centroids, corpus scan).
- **Scoring** broadcasts the per-batch LUT (|Q| * m * n_codes rows)
  against the corpus code stream and does ONE id-keyed aggregation.
- **Persistence** (`build_ivfpq_index` / `ivfpq_topk_indexed`) stores
  the coarse codebook, PQ codebooks and codes as warehouse tables —
  the build-once / query-many lifecycle of the LSH-band index
  (operators/dedup.py:build_lsh_index).

Cross-engine exactness: vectors are unit-normalized and rounded to
6 dp before training (identical doubles in any engine), k-means is the
certified decimal-exact Lloyd's, and LUT entries are integer
micro-units — so the final score (an exact int64 sum of m lookups) is
partition- and engine-invariant, and the DuckDB oracle replays the
whole algorithm bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gcp_data_pipeline_fyp_spark.functions.vectors import as_double_vec
from gcp_data_pipeline_fyp_spark.functions.vectors import dot as vec_dot
from gcp_data_pipeline_fyp_spark.operators.clustering import (
    _argmin_cluster,
    kmeans_grouped,
)
from gcp_data_pipeline_fyp_spark.operators.similarity import (
    _assign,
    _cent_array,
    _topk_per_query,
    _topn_cent_struct,
    _unit,
    fit_ivf_centroids,
)
from gcp_data_pipeline_fyp_spark.queries_util import micro6


def unit6(vec_col) -> F.Column:
    """Unit-normalized vector rounded to 6 dp per component — the
    canonical pre-quantization form: exact decimal values stored as
    their nearest double are identical in every engine, so everything
    derived downstream (codebooks, codes, scores) reproduces
    bit-for-bit. NULL for zero vectors (no direction to preserve)."""
    u = _unit(as_double_vec(vec_col))
    # scale-round-descale, NOT F.round(x, 6): Spark HALF_UPs the
    # shortest decimal repr while DuckDB rounds the true binary value,
    # so the raw forms diverge on tie-adjacent components
    # (queries_util.roundn; fuzz-pinned in tests/test_properties.py)
    return F.transform(u, lambda x: F.round(x * 1000000.0, 0) / 1000000.0)


def _subvectors(v: DataFrame, id_col: str, m: int, dim: int) -> DataFrame:
    """(id_col, subspace, __s): `__u` of every row of `v` cut into its
    m subvectors, one row each — the shape the codebook fit, the
    encoder and the LUT all work on."""
    sub_dim = _check_geometry(dim, m)
    return v.select(
        id_col,
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(mi).alias("subspace"),
                    F.slice(F.col("__u"), mi * sub_dim + 1, sub_dim).alias("__s"),
                )
                for mi in range(m)
            ])
        ).alias("__e"),
    ).select(id_col, F.col("__e.subspace").alias("subspace"), F.col("__e.__s").alias("__s"))


def _check_geometry(dim: int, m: int) -> int:
    """sub_dim, or ValueError when `dim % m != 0` — a non-dividing m
    would silently drop the trailing dim % m components from training,
    encoding AND scoring (F.slice never reads past m*sub_dim), so the
    precision loss could never surface downstream. Same
    defensive posture as the malformed-codebooks check."""
    if m <= 0 or dim <= 0:
        raise ValueError(f"PQ geometry must be positive: dim={dim}, m={m}")
    if dim % m != 0:
        raise ValueError(
            f"dim={dim} is not divisible by m={m}: the trailing "
            f"{dim % m} components would be silently dropped; pick m "
            "dividing dim (or pad the vectors)"
        )
    return dim // m


def fit_pq_codebooks(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    m: int = 4,
    n_codes: int = 8,
    iters: int = 3,
    dim: int = 64,
    checkpoint_dir: str | None = None,
    train_sample_frac: float | None = None,
) -> DataFrame:
    """Train one k-means codebook per subspace -> (subspace, cluster_id,
    centroid). m * n_codes rows: always broadcastable.

    All m subspaces train in ONE grouped run of the Lloyd's loop
    `kmeans` runs too (operators/clustering.py:kmeans_grouped, one
    group per subspace): each codebook equals a `kmeans` fit of its
    subspace alone (test-pinned), but one assignment + one update pass
    per iteration serves the whole codebook set instead of an m-long
    sequential job chain (measured ~3x on the sf0.1 fit).

    `train_sample_frac`: the 100 TB path, mirroring
    `fit_ivf_centroids` (operators/similarity.py) — Lloyd's over
    every corpus vector is the wrong default at scale (the r5 probe
    measured training 29->70 s across a 1x->16x corpus while scoring
    stayed scan-bound); codebook quality needs
    vectors-per-centroid in the hundreds, not the full corpus. The
    sample is id-keyed (operators/sampling.py:hash_sample, seed 7 —
    the same content-hash rule as the IVF fit), so a sampled fit is
    reproducible on any partitioning, and ENCODING still covers every
    vector — only the fit sees the sample."""
    c = corpus.select(
        F.col(id_col).alias("__id"), unit6(vec_col).alias("__u")
    ).filter(F.col("__u").isNotNull())
    return _fit_codebooks_on(
        c, m, n_codes, iters, dim, checkpoint_dir, train_sample_frac
    )


def _fit_codebooks_on(
    c: DataFrame,
    m: int,
    n_codes: int,
    iters: int,
    dim: int,
    checkpoint_dir: str | None = None,
    train_sample_frac: float | None = None,
) -> DataFrame:
    """Codebook fit over a prepared (__id, __u) frame — shared by the
    unit6 path (`fit_pq_codebooks`) and the residual path
    (`ivfpq_topk(residual=True)`, which must NOT re-normalize)."""
    if train_sample_frac is not None:
        from gcp_data_pipeline_fyp_spark.operators.sampling import hash_sample

        c = hash_sample(c, ["__id"], train_sample_frac, seed=7)
    _assigned, cent = kmeans_grouped(
        _subvectors(c, "__id", m, dim), "subspace", "__id", "__s",
        k=n_codes, max_iter=iters, checkpoint_dir=checkpoint_dir,
    )
    return cent.select("subspace", "cluster_id", "centroid")


def pq_encode(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: DataFrame,
    m: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Encode vectors against trained codebooks -> one row per
    (id, subspace, cluster_id): nearest centroid by squared distance,
    ties to the lower cluster id — the same rule as k-means assignment,
    so encoding the training corpus reproduces the training
    assignments exactly. Broadcast codebooks; one scan."""
    v = df.select(
        F.col(id_col).alias("__id"), unit6(vec_col).alias("__u")
    ).filter(F.col("__u").isNotNull())
    return _encode_on(v, codebooks, m, dim).select(
        F.col("__id").alias(id_col), "subspace", "cluster_id"
    )


def _encode_on(
    v: DataFrame, codebooks: DataFrame, m: int, dim: int
) -> DataFrame:
    """Nearest-centroid encode over a prepared (__id, __u) frame —
    shared by the unit6 and residual paths (see `_fit_codebooks_on`)."""
    rows = _subvectors(v, "__id", m, dim)
    # shuffle-free nearest-centroid (guide §2.4): per-subspace codebooks
    # ride along as one broadcast array each and the argmin is the
    # k-means fold, clustering._argmin_cluster (__d asc NULLS FIRST,
    # ties to the lower cluster_id)
    cid_t = dict(codebooks.dtypes)["cluster_id"]
    # ONE row holding map<subspace, id-ascending books array>: a
    # global collect (Exchange SinglePartition over m x n_codes rows)
    # instead of a groupBy("subspace") — even a bounded
    # hashpartitioning(subspace) exchange is banned from this path by
    # tests/test_plans.py (the codes stream must never shuffle on the
    # m-valued key, and the plan check is deliberately blunt). The
    # O(m^2 x n_codes) map construction below runs once, on the single
    # aggregated row, never per corpus row.
    allb = codebooks.agg(
        F.array_sort(
            F.collect_list(F.struct("subspace", "cluster_id", "centroid"))
        ).alias("__all")
    )
    carr = allb.select(
        F.map_from_entries(
            F.transform(
                F.array_distinct(
                    F.transform("__all", lambda s: s["subspace"])
                ),
                lambda sub: F.struct(
                    sub.alias("key"),
                    # __all sorts by (subspace, cluster_id), so each
                    # filtered slice is already cluster_id-ascending
                    F.transform(
                        F.filter("__all", lambda x: x["subspace"] == sub),
                        lambda x: F.struct(
                            x["cluster_id"].alias("cluster_id"),
                            x["centroid"].alias("__centroid"),
                        ),
                    ).alias("value"),
                ),
            )
        ).alias("__books_map")
    )
    # element_at on a missing subspace yields NULL books -> NULL fold
    # -> dropped by the isNotNull filter: same semantics as the old
    # inner join against the codebook rows
    return (
        rows.crossJoin(F.broadcast(carr))
        .select(
            "__id",
            "subspace",
            "__s",
            F.element_at(F.col("__books_map"), F.col("subspace")).alias(
                "__books"
            ),
        )
        .select(
            "__id",
            "subspace",
            _argmin_cluster(F.col("__s"), F.col("__books"), cid_t).alias("__best"),
        )
        .filter(F.col("__best").isNotNull())
        .select("__id", "subspace", F.col("__best.cluster_id").alias("cluster_id"))
    )


def _pq_lut(
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: DataFrame,
    m: int,
    dim: int,
) -> DataFrame:
    """Per-query-batch ADC lookup table: (query_id, subspace,
    cluster_id, __lm) with __lm the micro-unit dot of the query
    subvector and the centroid. |Q| * m * n_codes rows — tiny."""
    q = queries.select(
        F.col(id_col).alias("query_id"), unit6(vec_col).alias("__u")
    ).filter(F.col("__u").isNotNull())
    qs = _subvectors(q, "query_id", m, dim)
    return qs.join(F.broadcast(codebooks), "subspace").select(
        "query_id",
        "subspace",
        "cluster_id",
        micro6(vec_dot(F.col("__s"), F.col("centroid"))).alias("__lm"),
    )


def _pq_score_topk(codes: DataFrame, lut: DataFrame, k: int) -> DataFrame:
    pairs = (
        codes.join(F.broadcast(lut), ["subspace", "cluster_id"])
        .groupBy("query_id", "corpus_id")
        # exact int64 sum of micro-unit LUT entries: partition-order
        # independent by construction, no float accumulation anywhere
        .agg(F.sum("__lm").alias("cosine_micro"))
    )
    return _topk_per_query(pairs, k)


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    m: int = 4,
    n_codes: int = 8,
    iters: int = 3,
    dim: int = 64,
    checkpoint_dir: str | None = None,
    train_sample_frac: float | None = None,
) -> DataFrame:
    """Approximate cosine top-k via product quantization with
    asymmetric distance (train + encode + score in one call — the
    composition shape of `ivf_topk`; use the index trio below for the
    build-once lifecycle).

    Returns (query_id, corpus_id, cosine_micro): the ADC approximation
    of the cosine in micro-units, an exact int64 sum of `m` LUT
    entries. Zero vectors on either side are dropped (meaningless
    under cosine, same rule as SQ8).
    """
    books = fit_pq_codebooks(
        corpus, id_col, vec_col, m, n_codes, iters, dim, checkpoint_dir,
        train_sample_frac,
    )
    codes = pq_encode(corpus, id_col, vec_col, books, m, dim).select(
        F.col(id_col).alias("corpus_id"), "subspace", "cluster_id"
    )
    lut = _pq_lut(queries, id_col, vec_col, books, m, dim)
    return _pq_score_topk(codes, lut, k)


def _codebook_meta(books: DataFrame) -> tuple[int, int, bool]:
    """(m, dim, residual) read off the persisted codebooks in ONE
    driver action — the stored layout is the source of truth, so a
    caller can NEVER query with a geometry or code interpretation that
    disagrees with the build (a mismatched slice would NULL every LUT
    dot; scoring residual codes as plain returns garbage top-k with no
    error)."""
    row = books.agg(
        F.max("subspace").alias("mx"),
        F.min(F.size("centroid")).alias("lo"),
        F.max(F.size("centroid")).alias("hi"),
        F.max("meta_residual").alias("res"),
    ).first()
    if row["mx"] is None or row["lo"] != row["hi"]:
        raise ValueError(f"malformed PQ codebooks: {row}")
    m = int(row["mx"]) + 1
    return m, m * int(row["lo"]), bool(row["res"])


# ----------------------------------------------- IVF-PQ composition
#
# The standard 100 TB ANN layout (FAISS IVFPQ, minus residual
# encoding): a coarse IVF quantizer partitions the corpus into
# `n_centroids` inverted lists, PQ codes are stored WITHIN each list,
# and a query probes only its `nprobe` nearest lists — so the ADC scan
# touches nprobe/n_centroids of the code bytes instead of all of them.
# Codes encode the unit vector itself, not the residual from the
# coarse centroid: residual encoding buys recall at a fixed bit budget
# but breaks the one-LUT-per-query-batch property (each probed list
# would need its own LUT); at the engine's certified-exactness bar the
# non-residual variant keeps train/encode/score each a single
# certified piece (the IVF fit and the PQ chain, composed unchanged).


def _unit6_side(df: DataFrame, id_col: str, vec_col: str, out_id: str, out_vec: str) -> DataFrame:
    return (
        df.select(F.col(id_col).alias(out_id), unit6(vec_col).alias(out_vec))
        .filter(F.col(out_vec).isNotNull())
    )


def _coarse_probes(qu: DataFrame, cent: DataFrame, nprobe: int) -> DataFrame:
    """Top-nprobe coarse centroids per query by dot product (ties to
    the lower centroid id — same rule as corpus assignment). |Q| x
    n_centroids scored rows, |Q| x nprobe out: always broadcastable."""
    return qu.crossJoin(F.broadcast(_cent_array(cent))).select(
        "query_id",
        F.explode(
            _topn_cent_struct(F.col("__u"), F.col("__cents"), nprobe)
        ).alias("__p"),
    ).select("query_id", F.col("__p.centroid_id").alias("centroid_id"))


def _ivfpq_score_topk(
    codes: DataFrame, probes: DataFrame, lut: DataFrame, k: int
) -> DataFrame:
    """ADC top-k over centroid-pruned codes. Join order matters at
    scale: probes (|Q| x nprobe) and the LUT are broadcast against the
    code stream, so the big table is filtered to its probed lists and
    never shuffled before the map-side-combining aggregation."""
    pairs = (
        codes.join(F.broadcast(probes), "centroid_id")
        .join(F.broadcast(lut), ["query_id", "subspace", "cluster_id"])
        .groupBy("query_id", "corpus_id")
        .agg(F.sum("__lm").alias("cosine_micro"))
    )
    return _topk_per_query(pairs, k)


def ivfpq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    m: int = 4,
    n_codes: int = 8,
    iters: int = 3,
    dim: int = 64,
    n_centroids: int = 16,
    nprobe: int = 4,
    refine_iters: int = 1,
    checkpoint_dir: str | None = None,
    train_sample_frac: float | None = None,
) -> DataFrame:
    """IVF-partitioned PQ/ADC top-k in one call (train coarse + train
    codebooks + encode + probe + score). Returns (query_id, corpus_id,
    cosine_micro) like `pq_topk`; the approximation differs only by
    list pruning — a vector outside every probed list is never scored.

    Both quantizers run over the SAME canonical unit6 vectors, so the
    DuckDB oracle replays coarse fit, codebook fit, encoding, probing
    and scoring bit-for-bit (queries_vectors.py:SQL_ANN_IVFPQ_TOPK).
    """
    cu = _unit6_side(corpus, id_col, vec_col, "corpus_id", "__cv")
    cent = fit_ivf_centroids(cu, n_centroids, refine_iters, train_sample_frac)
    assigned = _assign(cu, cent, n_centroids).select("corpus_id", "centroid_id")
    books = fit_pq_codebooks(
        corpus, id_col, vec_col, m, n_codes, iters, dim, checkpoint_dir,
        train_sample_frac,
    )
    codes = pq_encode(corpus, id_col, vec_col, books, m, dim).select(
        F.col(id_col).alias("corpus_id"), "subspace", "cluster_id"
    ).join(assigned, "corpus_id")
    qu = _unit6_side(queries, id_col, vec_col, "query_id", "__u")
    probes = _coarse_probes(qu, cent, nprobe)
    lut = _pq_lut(queries, id_col, vec_col, books, m, dim)
    return _ivfpq_score_topk(codes, probes, lut, k)


def ivfpq_residual_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    m: int = 4,
    n_codes: int = 8,
    iters: int = 3,
    dim: int = 64,
    n_centroids: int = 16,
    nprobe: int = 4,
    refine_iters: int = 1,
    checkpoint_dir: str | None = None,
    train_sample_frac: float | None = None,
) -> DataFrame:
    """IVF-PQ with RESIDUAL encoding (the full FAISS IVFPQ layout):
    codes quantize `u - coarse_centroid` instead of `u`, so the PQ bit
    budget spends itself on the within-list detail the coarse quantizer
    already removed — higher recall at the same m x n_codes.

    The one-LUT-per-batch property SURVIVES residual encoding because
    the residual codebook is shared across lists (FAISS's default) and
    the score decomposes exactly:

        dot(q, centroid_l + r_c) = dot(q, centroid_l)       [coarse]
                                 + sum_mi dot(q_mi, r_mi)   [LUT]

    — the coarse term is per (query, probed centroid) (|Q| x nprobe
    values, computed during probe selection anyway) and the LUT is the
    same |Q| x m x n_codes table as non-residual ADC, just built from
    residual centroids. score = coarse_micro + sum of LUT micros: all
    int64 adds, partition/engine invariant, DuckDB-replayable
    (queries_vectors.py:SQL_ANN_IVFPQ_RESIDUAL_TOPK).

    Residuals are differences of canonical unit6 doubles (identical in
    every engine) and are deliberately NOT re-normalized."""
    cu = _unit6_side(corpus, id_col, vec_col, "corpus_id", "__cv")
    cent = fit_ivf_centroids(cu, n_centroids, refine_iters, train_sample_frac)
    res = _residuals(_assign(cu, cent, n_centroids), cent)
    books = _fit_codebooks_on(
        res.select("__id", "__u"), m, n_codes, iters, dim,
        checkpoint_dir, train_sample_frac,
    )
    codes = _residual_codes(res, books, m, dim)
    qu = _unit6_side(queries, id_col, vec_col, "query_id", "__u")
    probes = _coarse_probes_scored(qu, cent, nprobe)
    lut = _pq_lut(queries, id_col, vec_col, books, m, dim)
    return _ivfpq_residual_score_topk(codes, probes, lut, k)


def _residuals(assigned: DataFrame, cent: DataFrame) -> DataFrame:
    """(__id, __u, centroid_id): each assigned (corpus_id, __cv,
    centroid_id) vector minus its coarse centroid — the residual PQ
    input, deliberately not re-normalized."""
    return assigned.join(F.broadcast(cent), "centroid_id").select(
        F.col("corpus_id").alias("__id"),
        F.zip_with(
            F.col("__cv"), F.col("__centroid"), lambda x, y: x - y
        ).alias("__u"),
        "centroid_id",
    )


def _residual_codes(
    res: DataFrame, books: DataFrame, m: int, dim: int
) -> DataFrame:
    """(corpus_id, subspace, cluster_id, centroid_id): `_residuals`
    rows encoded against residual codebooks, tagged with their list."""
    return _encode_on(res.select("__id", "__u"), books, m, dim).join(
        res.select("__id", "centroid_id"), "__id"
    ).select(
        F.col("__id").alias("corpus_id"), "subspace", "cluster_id",
        "centroid_id",
    )


def _coarse_probes_scored(
    qu: DataFrame, cent: DataFrame, nprobe: int
) -> DataFrame:
    """`_coarse_probes` + the micro-unit coarse dot kept per probe —
    the first term of the residual ADC decomposition."""
    return qu.crossJoin(F.broadcast(_cent_array(cent))).select(
        "query_id",
        F.explode(
            _topn_cent_struct(F.col("__u"), F.col("__cents"), nprobe)
        ).alias("__p"),
    ).select(
        "query_id",
        F.col("__p.centroid_id").alias("centroid_id"),
        micro6(F.col("__p.__score")).alias("__cm"),
    )


def _ivfpq_residual_score_topk(
    codes: DataFrame, probes: DataFrame, lut: DataFrame, k: int
) -> DataFrame:
    """Residual ADC: LUT sums aggregate first (same join shape as
    `_ivfpq_score_topk`), then the per-(query, centroid) coarse term
    joins on AFTER the aggregation — probe-sized, broadcast."""
    lut_sums = (
        codes.join(F.broadcast(probes.select("query_id", "centroid_id")), "centroid_id")
        .join(F.broadcast(lut), ["query_id", "subspace", "cluster_id"])
        .groupBy("query_id", "corpus_id")
        .agg(
            F.sum("__lm").alias("__s"),
            # every row of a (q, c) group carries the same centroid
            F.min("centroid_id").alias("centroid_id"),
        )
    )
    pairs = lut_sums.join(
        F.broadcast(probes), ["query_id", "centroid_id"]
    ).select(
        "query_id",
        "corpus_id",
        (F.col("__s") + F.col("__cm")).alias("cosine_micro"),
    )
    return _topk_per_query(pairs, k)


def build_ivfpq_index(
    wh,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    name: str,
    m: int = 4,
    n_codes: int = 8,
    iters: int = 3,
    dim: int = 64,
    n_centroids: int = 16,
    refine_iters: int = 1,
    checkpoint_dir: str | None = None,
    train_sample_frac: float | None = None,
    residual: bool = False,
) -> None:
    """Persist the IVF-PQ index: `name__centroids` (coarse, tiny),
    `name__codebooks` (m * n_codes rows), and `name__codes`
    PARTITIONED BY centroid_id — at 100 TB a query's nprobe lists are
    pruned at the FILE level (broadcast probe join on the partition
    column -> dynamic partition pruning), so probed bytes scale with
    nprobe/n_centroids, not corpus size.

    `residual=True` stores RESIDUAL codes (see `ivfpq_residual_topk`).
    The choice is persisted as a constant `meta_residual` column on
    the codebooks table — the stored index, not the caller, decides
    how queries interpret the codes: scoring residual codes as plain
    codes would return plausible-looking garbage with no error.

    Also persists `name__train_mix` — the TRAINING-TIME per-centroid
    assignment counts (n_centroids rows). The retrain monitor
    (`similarity.ivf_retrain_decision_indexed`) PSIs against this
    frozen snapshot, NOT against live codes counts: were new batches
    folded into the codes, a codes-derived baseline would
    progressively absorb the drifted data and damp the PSI — the
    trigger would fire latest exactly when drift has run longest. The
    snapshot is only rewritten by the rebuild itself."""
    cu = _unit6_side(corpus, id_col, vec_col, "corpus_id", "__cv")
    cent = fit_ivf_centroids(cu, n_centroids, refine_iters, train_sample_frac)
    wh.overwrite(
        cent.select("centroid_id", F.col("__centroid").alias("centroid")),
        f"{name}__centroids",
    )
    stored_cent = wh.read(f"{name}__centroids").select(
        "centroid_id", F.col("centroid").alias("__centroid")
    )
    assigned = _assign(cu, stored_cent, n_centroids)
    if residual:
        res = _residuals(assigned, stored_cent)
        books = _fit_codebooks_on(
            res.select("__id", "__u"), m, n_codes, iters, dim,
            checkpoint_dir, train_sample_frac,
        )
        wh.overwrite(
            books.withColumn("meta_residual", F.lit(True)),
            f"{name}__codebooks",
        )
        codes = _residual_codes(
            res,
            wh.read(f"{name}__codebooks").select(
                "subspace", "cluster_id", "centroid"
            ),
            m,
            dim,
        )
    else:
        books = fit_pq_codebooks(
            corpus, id_col, vec_col, m, n_codes, iters, dim, checkpoint_dir,
            train_sample_frac,
        )
        wh.overwrite(
            books.withColumn("meta_residual", F.lit(False)),
            f"{name}__codebooks",
        )
        codes = pq_encode(
            corpus, id_col, vec_col,
            wh.read(f"{name}__codebooks").select(
                "subspace", "cluster_id", "centroid"
            ),
            m, dim,
        ).select(
            F.col(id_col).alias("corpus_id"), "subspace", "cluster_id"
        ).join(assigned.select("corpus_id", "centroid_id"), "corpus_id")
    wh.overwrite(codes, f"{name}__codes", partition_cols=["centroid_id"])
    # training-mix snapshot (one row per coarse centroid, counted from
    # the subspace-0 view of the just-written codes = one row per
    # vector; no second assignment pass)
    wh.overwrite(
        wh.read(f"{name}__codes")
        .filter(F.col("subspace") == 0)
        .groupBy("centroid_id")
        .agg(F.count(F.lit(1)).alias("n")),
        f"{name}__train_mix",
    )


def ivfpq_topk_indexed(
    wh,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    name: str,
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """ADC top-k against a persisted IVF-PQ index: read centroids +
    codebooks (both tiny), pick nprobe lists per query, scan ONLY those
    code partitions. Geometry AND the residual/plain interpretation
    come off the stored codebooks (`meta_residual`)."""
    books = wh.read(f"{name}__codebooks")
    m, dim, residual = _codebook_meta(books)
    cent = wh.read(f"{name}__centroids").select(
        "centroid_id", F.col("centroid").alias("__centroid")
    )
    qu = _unit6_side(queries, id_col, vec_col, "query_id", "__u")
    codes = wh.read(f"{name}__codes")
    lut = _pq_lut(queries, id_col, vec_col, books, m, dim)
    if residual:
        probes = _coarse_probes_scored(qu, cent, nprobe)
        return _ivfpq_residual_score_topk(codes, probes, lut, k)
    probes = _coarse_probes(qu, cent, nprobe)
    return _ivfpq_score_topk(codes, probes, lut, k)


def delete_from_ivfpq_index(
    wh,
    ids: DataFrame,
    id_col: str,
    name: str,
) -> int:
    """Remove vectors from a persisted IVF-PQ index by id — the
    right-to-be-forgotten path (pairs with the k-anonymity release
    gate in operators/privacy.py: both treat removal as a first-class
    pipeline operation, not a rebuild).

    Partition-scoped: the victims' centroid lists are located by one
    scan of the CODES table (PQ codes, ~100x smaller than the
    vectors; no vector bytes are read), then ONLY those partitions
    rewrite — staging write + rename promotion (`swap_partitions`),
    so a reader never sees a torn list and a crash leaves either the
    old or the new partition on disk. Partitions emptied entirely are
    dropped explicitly (dynamic/staged overwrites cannot express "this
    partition now has zero rows"). Idempotent: re-running with the
    same ids is a no-op. Returns the number of rewritten (or dropped)
    partitions.

    Deletes are expected to be SMALL batches (the ids broadcast); a
    mass purge should rebuild the index instead — same cadence
    discipline as codebook drift.
    """
    import os

    codes = wh.read(f"{name}__codes")
    victims = ids.select(F.col(id_col).alias("corpus_id")).distinct()
    affected = {
        r.centroid_id
        for r in codes.join(F.broadcast(victims), "corpus_id", "left_semi")
        .select("centroid_id")
        .distinct()
        .collect()
    }
    if not affected:
        return 0
    # isin on the partition column -> static partition pruning: the
    # rewrite scan reads only the affected lists
    remaining = codes.filter(
        F.col("centroid_id").isin(sorted(affected))
    ).join(F.broadcast(victims), "corpus_id", "left_anti")
    staging = f"{name}__codes__delete_staging"
    wh.overwrite(remaining, staging, partition_cols=["centroid_id"])

    def _partition_values(table: str) -> set:
        root = wh.path(table)
        return {
            d.split("=", 1)[1]
            for d in os.listdir(root)
            if d.startswith("centroid_id=") and os.path.isdir(
                os.path.join(root, d)
            )
        }

    # kept/emptied derive from the STAGING LISTING, not a second run
    # of the anti-join plan (the overwrite already executed it once)
    kept_parts = _partition_values(staging)
    untouched = {
        v
        for v in _partition_values(f"{name}__codes")
        if v not in {str(a) for a in affected}
    }
    if not kept_parts and not untouched:
        # the delete emptied the ENTIRE codes table: promoting nothing
        # and dropping every partition dir would leave a directory no
        # parquet reader can infer a schema from — write an empty but
        # TYPED single-file table instead (repartition(1) forces one
        # writer task, which emits a schema-bearing file even for
        # zero rows)
        wh.drop(staging)
        wh.overwrite(remaining.repartition(1), staging)
        wh.swap(staging, f"{name}__codes")
        return len(affected)
    wh.swap_partitions(staging, f"{name}__codes", "centroid_id")
    wh.drop_partitions(
        f"{name}__codes", "centroid_id",
        sorted({str(a) for a in affected} - kept_parts),
    )
    return len(affected)
