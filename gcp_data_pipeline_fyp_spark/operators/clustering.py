"""K-means clustering over embedding columns + cluster-blocked
semantic near-dup.

Lloyd's algorithm expressed as DataFrame ops — no MLlib dependency, so
the operator composes with the rest of the engine's plans. ONE loop
(`_lloyd`) runs every L2 fit: `kmeans` hands it a single literal group,
`kmeans_grouped` one group per value (the PQ codebooks), and its two
building blocks are reused elsewhere — `centroid_means` by the IVF fit
(operators/similarity.py:fit_ivf_centroids) and `_argmin_cluster` by
the PQ encoder (operators/pq.py:_encode_on).

- assignment: a pure projection — each group's (tiny) centroid set
  rides along as one broadcast array and the argmin is a per-row fold
  (_argmin_cluster; no shuffle);
- update: posexplode the assigned vectors to (keys, dim_pos, x) and
  average per (keys, pos) — a corpus-sized but narrow shuffle;
- convergence: an `observe` metric counts flips during the action
  that materializes the re-assignment — no join, no extra job;
- per-iteration materialization truncates the lineage
  (operators/iterate.py; reliable `checkpoint_dir` for cluster runs).

Determinism: init is the k lowest-id vectors (per group); ties in the
argmin break on centroid id; centroid means use exact decimal sums so
they don't depend on partial-aggregation order. Reruns on any cluster
layout produce identical clusterings.

`semantic_neardup_kmeans` uses the clustering as a BLOCKING stage:
pairwise cosine runs only inside a cluster, never across the corpus —
cost sum(|c_i|^2) instead of n^2. The LSH variant
(operators/dedup.py:embedding_neardup_lsh) is the fixed-cost scale
path; k-means blocking trades a clustering pass for better recall on
elongated clusters that sign-buckets split.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from gcp_data_pipeline_fyp_spark.functions.vectors import as_double_vec, cosine
from gcp_data_pipeline_fyp_spark.operators.iterate import materialize
from gcp_data_pipeline_fyp_spark.queries_util import micro6


def _sq_dist(a, b) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _argmin_cluster(vec, cents_col, cid_t: str):
    """Per-row argmin over a broadcast (cluster_id-ascending) array of
    (cluster_id, __centroid) structs — the shuffle-free form of the
    row_number window the assignment passes used (guide §2.4).
    Semantics preserved exactly: __d asc with Spark's default NULLS
    FIRST (a NULL distance wins), ties break to the lower cluster_id
    (the array is id-ascending and the fold keeps the incumbent on
    ties); a NULL array yields NULL."""
    sc = F.transform(
        cents_col,
        lambda s: F.struct(
            _sq_dist(vec, s["__centroid"]).alias("__d"),
            s["cluster_id"].alias("cluster_id"),
        ),
    )
    return F.aggregate(
        sc,
        F.lit(None).cast(f"struct<__d:double,cluster_id:{cid_t}>"),
        lambda acc, s: F.when(acc.isNull(), s)
        .when(s["__d"].isNull() & acc["__d"].isNotNull(), s)
        .when(
            s["__d"].isNotNull()
            & acc["__d"].isNotNull()
            & (s["__d"] < acc["__d"]),
            s,
        )
        .otherwise(acc),
    )


def centroid_means(assigned: DataFrame, keys: tuple[str, ...], vec_col: str) -> DataFrame:
    """(keys..., __centroid): the per-dimension mean of `vec_col` per
    `keys` value — the Lloyd's update step of every centroid fit.
    Decimal-exact sums (not F.avg on double) make the means independent
    of partial-aggregation order, so centroids are bit-identical on any
    partitioning — and to the DuckDB oracles' same algebra."""
    return (
        assigned.select(*keys, F.posexplode(vec_col).alias("__pos", "__x"))
        .groupBy(*keys, "__pos")
        .agg(
            (
                F.sum(F.col("__x").cast("decimal(28,12)")).cast("double")
                / F.count("__x")
            ).alias("__m")
        )
        .groupBy(*keys)
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("__pos"), F.col("__m")))
                ),
                lambda s: s["__m"],
            ).alias("__centroid")
        )
    )


def lowest_id_seeds(
    df: DataFrame, id_col: str, vec_col: str, k: int, cid_col: str
) -> DataFrame:
    """(cid_col, __centroid): the `k` lowest-id vectors, numbered from 1
    — the deterministic init of `kmeans` and the IVF fit. The sort and
    limit run as one TakeOrderedAndProject, so the seed costs no
    exchange of its own."""
    return (
        df.orderBy(id_col)
        .limit(k)
        .select(
            F.row_number().over(Window.orderBy(id_col)).alias(cid_col),
            F.col(vec_col).alias("__centroid"),
        )
    )


def _assign_nearest_grouped(
    points: DataFrame, cent: DataFrame, carry: tuple[str, ...] = ()
) -> DataFrame:
    """(__g, __id, __v, cluster_id): nearest centroid WITHIN the row's
    group, as a broadcast join + per-row argmin (_argmin_cluster)
    instead of a per-(group, id) window shuffle. Rows of a group with
    no centroid are dropped. `carry` names extra point columns to pass
    through unchanged (the Lloyd loop carries the previous assignment
    so the convergence check needs no join)."""
    cid_t = dict(cent.dtypes)["cluster_id"]
    carr = cent.groupBy("__g").agg(
        F.array_sort(
            F.collect_list(F.struct("cluster_id", "__centroid"))
        ).alias("__cents")
    )
    return (
        points.join(F.broadcast(carr), "__g")
        .select(
            "__g", "__id", "__v", *carry,
            _argmin_cluster(F.col("__v"), F.col("__cents"), cid_t).alias("__best"),
        )
        .filter(F.col("__best").isNotNull())
        .select(
            "__g", "__id", "__v", *carry,
            F.col("__best.cluster_id").alias("cluster_id"),
        )
    )


def _lloyd(
    pts: DataFrame, cent: DataFrame, max_iter: int, checkpoint_dir: str | None
) -> tuple[DataFrame, DataFrame]:
    """Lloyd's loop over (__g, __id, __v) points from (__g, cluster_id,
    __centroid) seeds, every group fitted independently in the same
    passes -> materialized (assigned (__g, __id, __v, cluster_id),
    centroids (__g, cluster_id, __centroid)).

    Stops when NO group changes assignment: more iterations leave a
    converged group unchanged, so every group gets its solo result."""
    cent = materialize(cent, checkpoint_dir)
    assigned = materialize(_assign_nearest_grouped(pts, cent), checkpoint_dir)
    for _ in range(max_iter):
        cent = materialize(
            centroid_means(assigned, ("__g", "cluster_id"), "__v"), checkpoint_dir
        )
        # convergence check fused into the assignment pass (guide
        # §2.4): `assigned` holds exactly the point set, so it is
        # re-assigned with its previous cluster_id carried along, and
        # the flips are counted by the action that materializes it
        obs = Observation()
        cand = _assign_nearest_grouped(
            assigned.withColumnRenamed("cluster_id", "__prev"),
            cent,
            carry=("__prev",),
        ).observe(
            obs,
            F.count_if(F.col("cluster_id") != F.col("__prev")).alias(
                "changed"
            ),
        )
        assigned = materialize(cand.drop("__prev"), checkpoint_dir)
        if int(obs.get["changed"] or 0) == 0:
            break
    return assigned, cent


def kmeans(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    max_iter: int = 10,
    checkpoint_dir: str | None = None,
    pin_points: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Cluster rows by embedding; returns (assignments, centroids).

    assignments: (id_col, cluster_id); centroids: (cluster_id,
    centroid array<double>). Stops early when no assignment changes.
    Runs `_lloyd` on one literal group, seeded by `lowest_id_seeds`;
    the same fit through `kmeans_grouped` costs one more job, its
    window seed's exchange (test-pinned).

    `checkpoint_dir`: per-iteration lineage truncation is executor-
    local by default (right for local mode); pass a reliable directory
    for fault-tolerant cluster runs (operators/iterate.py, DEPLOY.md).

    `pin_points`: every assignment pass reuses the points, so the
    default pins them (eager checkpoint) — right for a bounded
    TRAINING SAMPLE. Pass False when `df` is a full corpus
    (semantic_neardup_kmeans): the points are then cached evictably
    (MEMORY_AND_DISK, lineage kept) for the length of the fit only.
    """
    pts = df.select(
        F.col(id_col).alias("__id"), as_double_vec(vec_col).alias("__v")
    )
    if pin_points:
        pts = materialize(pts, checkpoint_dir)
    else:
        pts = pts.persist(StorageLevel.MEMORY_AND_DISK)
    g0 = F.lit(0).alias("__g")
    seeds = lowest_id_seeds(pts, "__id", "__v", k, "cluster_id")
    try:
        assigned, cent = _lloyd(
            pts.select(g0, "__id", "__v"),
            seeds.select(g0, "cluster_id", "__centroid"),
            max_iter,
            checkpoint_dir,
        )
    finally:
        if not pin_points:
            # both results are materialized: nothing reads the cache
            pts.unpersist()
    return (
        assigned.select(F.col("__id").alias(id_col), "cluster_id"),
        cent.select("cluster_id", F.col("__centroid").alias("centroid")),
    )


def kmeans_grouped(
    df: DataFrame,
    group_col: str,
    id_col: str,
    vec_col: str,
    k: int = 8,
    max_iter: int = 10,
    checkpoint_dir: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """An independent `kmeans` per `group_col` value, all in ONE run of
    `_lloyd`: per-group results are IDENTICAL to per-group `kmeans`
    calls (test-pinned), but one assignment and one update pass per
    iteration serve ALL groups. This is the PQ codebook fit (m
    subspaces = m groups), where per-job overhead, not compute,
    dominates. Seeded by a per-group row_number window.

    Returns (assignments (group, id, cluster_id), centroids
    (group, cluster_id, centroid))."""
    pts = materialize(
        df.select(
            F.col(group_col).alias("__g"),
            F.col(id_col).alias("__id"),
            as_double_vec(vec_col).alias("__v"),
        ),
        checkpoint_dir,
    )
    w_init = Window.partitionBy("__g").orderBy("__id")
    seeds = (
        pts.withColumn("__rn", F.row_number().over(w_init))
        .filter(F.col("__rn") <= k)
        .select(
            "__g", F.col("__rn").alias("cluster_id"), F.col("__v").alias("__centroid")
        )
    )
    assigned, cent = _lloyd(pts, seeds, max_iter, checkpoint_dir)
    return (
        assigned.select(
            F.col("__g").alias(group_col),
            F.col("__id").alias(id_col),
            "cluster_id",
        ),
        cent.select(
            F.col("__g").alias(group_col),
            "cluster_id",
            F.col("__centroid").alias("centroid"),
        ),
    )


def semantic_neardup_kmeans(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    k: int = 16,
    max_iter: int = 5,
) -> DataFrame:
    """Near-dup pairs (id_a < id_b, cosine >= threshold), blocked by
    k-means cluster — pairwise cost is per-cluster, never corpus-wide.

    The fit runs over the FULL corpus here (blocking needs every
    vector assigned), so the points cache is evictable rather than
    pinned (`pin_points=False`) — see `kmeans`."""
    assigned, _ = kmeans(
        df, id_col, vec_col, k=k, max_iter=max_iter, pin_points=False
    )
    v = df.select(F.col(id_col), as_double_vec(vec_col).alias("__v")).join(
        assigned, id_col
    )
    a = v.select(
        F.col("cluster_id"),
        F.col(id_col).alias("id_a"),
        F.col("__v").alias("__va"),
    )
    b = v.select(
        F.col("cluster_id"),
        F.col(id_col).alias("id_b"),
        F.col("__v").alias("__vb"),
    )
    return (
        a.join(b, "cluster_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            micro6(cosine(F.col("__va"), F.col("__vb"))).alias("cosine_micro"),
        )
        .filter(F.col("cosine_micro") >= int(round(threshold * 1_000_000)))
    )
