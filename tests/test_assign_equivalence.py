"""Differential pins for the shuffle-free assignment forms.

The nearest-centroid assignments are per-row argmin/argmax folds over a
broadcast centroid array — zero shuffles, zero row explosion — not the
crossJoin + row_number windows they replaced. Two folds serve every
caller: the dot-product argmax (operators/similarity.py:_assign and its
size-selected `_assign_agg` fallback, the probe selector
`_topn_cent_struct`) and the squared-distance argmin
(operators/clustering.py:_argmin_cluster, run by the k-means loop
through `_assign_nearest_grouped` and by the PQ encoder
operators/pq.py:_encode_on). These tests pin them against inline window
twins (the exact old code), INCLUDING the corner semantics the windows
had:

- ties on score/distance break to the lower centroid/cluster id;
- desc order (dot-product argmax) treats NULL as NULLS LAST;
- asc order (squared-distance argmin) treats NULL as NULLS FIRST
  (Spark's bare .asc() default — a NULL distance wins);
- an empty centroid set yields zero assigned rows;
- top-n prefixes keep min(n, |centroids|) entries in the same order.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from gcp_data_pipeline_fyp_spark.functions.vectors import dot
from gcp_data_pipeline_fyp_spark.operators.clustering import (
    _assign_nearest_grouped,
    _sq_dist,
)
from gcp_data_pipeline_fyp_spark.operators.pq import _encode_on
from gcp_data_pipeline_fyp_spark.operators.similarity import (
    _assign,
    _cent_array,
    _topn_cent_struct,
)


def _mk_points(spark):
    # ties (two identical centroids), a NULL vector, a zero vector,
    # and a negative-best row — every corner the windows ordered
    rows = [
        (1, [1.0, 0.0]),
        (2, None),
        (3, [0.0, 0.0]),
        (4, [0.5, 0.5]),
        (5, [-1.0, 0.0]),
        (6, [0.0, -1.0]),
    ]
    return spark.createDataFrame(rows, "corpus_id long, __cv array<double>")


def _mk_cent(spark):
    return spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 1.0])],
        "centroid_id int, __centroid array<double>",
    )


def test_assign_matches_window_twin(spark):
    c = _mk_points(spark)
    cent = _mk_cent(spark)
    scored = c.crossJoin(F.broadcast(cent)).select(
        "corpus_id",
        "__cv",
        "centroid_id",
        dot(F.col("__cv"), F.col("__centroid")).alias("__score"),
    )
    w = Window.partitionBy("corpus_id").orderBy(
        F.col("__score").desc(), F.col("centroid_id")
    )
    old = (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("corpus_id", "centroid_id")
    )
    new = _assign(c, cent).select("corpus_id", "centroid_id")
    assert sorted(map(tuple, new.collect())) == sorted(map(tuple, old.collect()))


def test_assign_empty_centroids_yields_no_rows(spark):
    c = _mk_points(spark)
    cent = _mk_cent(spark).filter("centroid_id > 99")
    assert _assign(c, cent).count() == 0


def test_topn_cent_struct_matches_window_twin(spark):
    c = _mk_points(spark)
    cent = _mk_cent(spark)
    for n in (1, 2, 5):
        scored = c.crossJoin(F.broadcast(cent)).select(
            "corpus_id",
            "centroid_id",
            dot(F.col("__cv"), F.col("__centroid")).alias("__score"),
        )
        w = Window.partitionBy("corpus_id").orderBy(
            F.col("__score").desc(), F.col("centroid_id")
        )
        old = (
            scored.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= n)
            .select("corpus_id", "centroid_id", "__rn")
        )
        new = c.crossJoin(F.broadcast(_cent_array(cent))).select(
            "corpus_id",
            F.posexplode(
                _topn_cent_struct(F.col("__cv"), F.col("__cents"), n)
            ).alias("__pos", "__p"),
        ).select(
            "corpus_id",
            F.col("__p.centroid_id").alias("centroid_id"),
            (F.col("__pos") + 1).alias("__rn"),
        )
        assert sorted(map(tuple, new.collect())) == sorted(
            map(tuple, old.collect())
        ), f"n={n}"


def test_assign_nearest_grouped_matches_per_group(spark):
    # group 3 is the shared point/centroid set: tied centroids 1 and 2,
    # a NULL vector, a zero vector and a negative-best row
    pts = spark.createDataFrame(
        [
            (0, 1, [1.0, 0.0]),
            (0, 2, [0.0, 1.0]),
            (1, 3, [0.4, 0.4]),
            (1, 4, None),
            (2, 5, [9.0, 9.0]),  # group with no centroids -> dropped
        ],
        "__g int, __id long, __v array<double>",
    ).unionByName(
        _mk_points(spark).select(
            F.lit(3).alias("__g"),
            F.col("corpus_id").alias("__id"),
            F.col("__cv").alias("__v"),
        )
    )
    cent = spark.createDataFrame(
        [
            (0, 1, [1.0, 0.0]),
            (0, 2, [1.0, 0.0]),
            (1, 1, [0.5, 0.5]),
            (1, 2, [-1.0, 0.0]),
        ],
        "__g int, cluster_id int, __centroid array<double>",
    ).unionByName(
        _mk_cent(spark).select(
            F.lit(3).alias("__g"),
            F.col("centroid_id").alias("cluster_id"),
            "__centroid",
        )
    )
    scored = pts.join(F.broadcast(cent), "__g").select(
        "__g",
        "__id",
        "cluster_id",
        _sq_dist(F.col("__v"), F.col("__centroid")).alias("__d"),
    )
    w = Window.partitionBy("__g", "__id").orderBy(
        F.col("__d").asc(), F.col("cluster_id")
    )
    old = (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("__g", "__id", "cluster_id")
    )
    new = _assign_nearest_grouped(pts, cent).select("__g", "__id", "cluster_id")
    assert sorted(map(tuple, new.collect())) == sorted(map(tuple, old.collect()))
    # NULL distance wins under .asc() (NULLS FIRST): the NULL-vector row
    # of group 3 must land in cluster 1, the window's historical behaviour
    got = {(r["__g"], r["__id"]): r["cluster_id"] for r in new.collect()}
    assert got[(3, 2)] == 1


def test_encode_on_matches_window_twin(spark):
    v = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 1.0]),
            (2, [0.5, 0.5, -0.5, 0.5]),
            (3, [0.0, 0.0, 0.0, 0.0]),
        ],
        "__id long, __u array<double>",
    )
    books = spark.createDataFrame(
        [
            (0, 1, [1.0, 0.0]),
            (0, 2, [1.0, 0.0]),
            (0, 3, [0.0, 1.0]),
            (1, 1, [0.0, 1.0]),
            (1, 2, [-1.0, 0.0]),
        ],
        "subspace int, cluster_id int, centroid array<double>",
    )
    rows = v.select(
        "__id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(mi).alias("subspace"),
                    F.slice(F.col("__u"), mi * 2 + 1, 2).alias("__s"),
                )
                for mi in range(2)
            ])
        ).alias("__e"),
    ).select("__id", F.col("__e.subspace").alias("subspace"), F.col("__e.__s").alias("__s"))
    sq = F.aggregate(
        F.zip_with(F.col("__s"), F.col("centroid"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, d: acc + d,
    )
    scored = rows.join(F.broadcast(books), "subspace").select(
        "__id", "subspace", "cluster_id", sq.alias("__d")
    )
    w = Window.partitionBy("__id", "subspace").orderBy(
        F.col("__d").asc(), F.col("cluster_id")
    )
    old = (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("__id", "subspace", "cluster_id")
    )
    new = _encode_on(v, books, m=2, dim=4)
    assert sorted(map(tuple, new.collect())) == sorted(map(tuple, old.collect()))


def test_assign_agg_fallback_matches_fold(spark):
    """r13 (VERDICT r12 item 6): above _ASSIGN_FOLD_MAX_CENTROIDS the
    assignment auto-falls back from the broadcast-array fold to the
    explode + max-struct aggregation. The two forms must be
    bit-identical on every corner the fold pins: score ties (duplicate
    centroids -> lower id), NULL vectors (lowest id), negative-best
    rows, empty centroid set (zero rows)."""
    from gcp_data_pipeline_fyp_spark.operators.similarity import (
        _ASSIGN_FOLD_MAX_CENTROIDS,
        _assign_agg,
    )

    pts, cent = _mk_points(spark), _mk_cent(spark)
    fold = _assign(pts, cent).orderBy("corpus_id").collect()
    agg = _assign_agg(pts, cent).orderBy("corpus_id").collect()
    assert [tuple(r) for r in fold] == [tuple(r) for r in agg]
    # forcing the threshold routes through the agg form (same rows)
    forced = _assign(
        pts, cent, n_centroids=_ASSIGN_FOLD_MAX_CENTROIDS + 1
    ).orderBy("corpus_id").collect()
    assert [tuple(r) for r in forced] == [tuple(r) for r in fold]
    # empty centroid set: zero rows in both forms
    empty = cent.filter("centroid_id < 0")
    assert _assign_agg(pts, empty).count() == 0
    assert _assign(pts, empty, n_centroids=10**6).count() == 0


def test_assign_agg_fallback_matches_fold_dense(spark):
    """Dense randomized differential: 40 points x 33 centroids with
    planted exact ties — fold and agg must agree row-for-row."""
    import random

    from gcp_data_pipeline_fyp_spark.operators.similarity import _assign_agg

    rng = random.Random(13)
    cents = [
        (i, [rng.choice([-1.0, -0.5, 0.0, 0.5, 1.0]) for _ in range(4)])
        for i in range(33)
    ]
    cents[7] = (7, cents[3][1])  # planted duplicate -> tie on score
    pts = [
        (i, [rng.choice([-1.0, 0.0, 1.0, 2.0]) for _ in range(4)])
        for i in range(40)
    ] + [(100, None), (101, [0.0, 0.0, 0.0, 0.0])]
    pdf = spark.createDataFrame(pts, "corpus_id long, __cv array<double>")
    cdf = spark.createDataFrame(
        cents, "centroid_id int, __centroid array<double>"
    )
    fold = {r["corpus_id"]: r["centroid_id"] for r in _assign(pdf, cdf).collect()}
    agg = {r["corpus_id"]: r["centroid_id"] for r in _assign_agg(pdf, cdf).collect()}
    assert fold == agg


def test_stored_index_paths_take_agg_form_above_the_ceiling(
    spark, tmp_path, monkeypatch
):
    """The stored-index assignment of the indexed retrain decision sizes
    `_assign` by the stored codebook: with the ceiling below a
    4-centroid index it takes `_assign_agg`, and its output equals the
    fold run's."""
    import random

    from gcp_data_pipeline_fyp_spark.operators import similarity as sim
    from gcp_data_pipeline_fyp_spark.operators.pq import build_ivfpq_index
    from gcp_data_pipeline_fyp_spark.sources.tables import Warehouse

    rng = random.Random(5)
    centers = [[rng.gauss(0, 1) for _ in range(8)] for _ in range(4)]

    def vec(blob):
        return [centers[blob][d] + rng.gauss(0, 0.1) for d in range(8)]

    schema = "vec_id long, embedding array<double>"
    corpus = spark.createDataFrame([(i, vec(i % 4)) for i in range(80)], schema)
    batch = spark.createDataFrame(
        [(1000 + i, vec(i % 3)) for i in range(30)], schema
    )
    wh = Warehouse(spark, str(tmp_path / "built"))
    build_ivfpq_index(
        wh, corpus, "vec_id", "embedding", "ix", m=2, n_codes=4, dim=8,
        n_centroids=4,
    )

    agg_calls = []
    real_agg = sim._assign_agg

    def counting_agg(c, cent):
        agg_calls.append(1)
        return real_agg(c, cent)

    monkeypatch.setattr(sim, "_assign_agg", counting_agg)

    def run():
        del agg_calls[:]
        decision = sim.ivf_retrain_decision_indexed(
            wh, batch, "vec_id", "embedding", "ix"
        ).first().asDict()
        return decision, len(agg_calls)

    fold_out, fold_calls = run()
    assert fold_calls == 0
    monkeypatch.setattr(sim, "_ASSIGN_FOLD_MAX_CENTROIDS", 3)
    agg_out, agg_calls_n = run()
    assert agg_calls_n >= 1
    assert agg_out == fold_out
    assert fold_out["n_cur"] == 30
