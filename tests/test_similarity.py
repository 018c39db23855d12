"""ANN recall tests: the approximate paths against the exact baseline."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

import pytest

from gcp_data_pipeline_fyp_spark.operators.similarity import (
    brute_force_topk,
    ivf_topk,
    lsh_topk,
)

DIM = 16


def _vectors(spark, n=300, seed=7):
    rng = random.Random(seed)
    rows = [(i, [rng.gauss(0, 1) for _ in range(DIM)]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _recall(exact, approx):
    e = {(r["query_id"], r["corpus_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["corpus_id"]) for r in approx.collect()}
    return len(e & a) / len(e)


def _blob_vectors(spark, n=300, n_blobs=20, noise=0.15, seed=11):
    """Clustered corpus — the shape real embedding spaces have (and the
    shape LSH/IVF bucketing exploits); random gaussians are the
    structureless adversarial case."""
    rng = random.Random(seed)
    centers = [[rng.gauss(0, 1) for _ in range(DIM)] for _ in range(n_blobs)]
    rows = [
        (
            i,
            [centers[i % n_blobs][d] + rng.gauss(0, noise) for d in range(DIM)],
        )
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _exact_cosine(va, vb):
    import math

    dot = sum(x * y for x, y in zip(va, vb))
    na = math.sqrt(sum(x * x for x in va))
    nb = math.sqrt(sum(x * x for x in vb))
    return dot / (na * nb)


def _assert_scores_exact(df, approx_rows, k):
    """Every returned (query, corpus, cosine_micro) must carry the EXACT
    cosine of that pair (recomputed independently, in micro-units), be
    grouped ≤ k per query, and rank descending — approximation may drop
    pairs, it may never misscore them."""
    vecs = {r["vec_id"]: r["embedding"] for r in df.collect()}
    by_q = {}
    for r in approx_rows:
        got = int(r["cosine_micro"])
        want = int(
            round(
                round(_exact_cosine(vecs[r["query_id"]], vecs[r["corpus_id"]]), 6)
                * 1_000_000
            )
        )
        assert abs(got - want) <= 1, (r["query_id"], r["corpus_id"], got, want)
        by_q.setdefault(r["query_id"], []).append(got)
    for scores in by_q.values():
        assert len(scores) <= k
        assert scores == sorted(scores, reverse=True)


def test_brute_force_is_exact_and_ranked(spark):
    df = _vectors(spark)
    q = df.filter(F.col("vec_id") < 3)
    c = df.filter(F.col("vec_id") >= 3)
    out = brute_force_topk(q, c, "vec_id", "embedding", k=5)
    rows = out.collect()
    assert len(rows) == 15
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r["cosine_micro"])
    for scores in by_q.values():
        assert scores == sorted(scores, reverse=True)


def test_lsh_recall_clustered_corpus(spark):
    """Pinned config (n_planes=6, Hamming-1 multiprobe) on a clustered
    corpus — the realistic embedding-space shape — must recover ≥0.9 of
    exact top-5 (measured 1.0; a broken bucketing drops far below)."""
    df = _blob_vectors(spark)
    q = df.filter(F.col("vec_id") < 5)
    c = df.filter(F.col("vec_id") >= 5)
    exact = brute_force_topk(q, c, "vec_id", "embedding", k=5)
    approx = lsh_topk(q, c, "vec_id", "embedding", k=5, dim=DIM, n_planes=6)
    assert _recall(exact, approx) >= 0.9
    _assert_scores_exact(df, approx.collect(), k=5)


def test_lsh_recall_structureless_gaussians(spark):
    """Random gaussians are LSH's adversarial case (top-5 of a random
    point is barely closer than the rest, so sign buckets carry little
    signal). Pinned at n_planes=4 the measured recall is 0.8; bar at
    0.7 to catch real bucketing regressions without flaking."""
    df = _vectors(spark)
    q = df.filter(F.col("vec_id") < 5)
    c = df.filter(F.col("vec_id") >= 5)
    exact = brute_force_topk(q, c, "vec_id", "embedding", k=5)
    approx = lsh_topk(q, c, "vec_id", "embedding", k=5, dim=DIM, n_planes=4)
    assert _recall(exact, approx) >= 0.7
    _assert_scores_exact(df, approx.collect(), k=5)


def test_ivf_recall_pinned(spark):
    """Pinned config (8 centroids, nprobe=4): measured 0.96 on random
    gaussians, 1.0 on clustered; bar at 0.9."""
    df = _vectors(spark)
    q = df.filter(F.col("vec_id") < 5)
    c = df.filter(F.col("vec_id") >= 5)
    exact = brute_force_topk(q, c, "vec_id", "embedding", k=5)
    approx = ivf_topk(q, c, "vec_id", "embedding", k=5, n_centroids=8, nprobe=4)
    assert _recall(exact, approx) >= 0.9
    _assert_scores_exact(df, approx.collect(), k=5)

    blobs = _blob_vectors(spark)
    qb = blobs.filter(F.col("vec_id") < 5)
    cb = blobs.filter(F.col("vec_id") >= 5)
    exact_b = brute_force_topk(qb, cb, "vec_id", "embedding", k=5)
    approx_b = ivf_topk(
        qb, cb, "vec_id", "embedding", k=5, n_centroids=8, nprobe=4
    )
    assert _recall(exact_b, approx_b) >= 0.9
    _assert_scores_exact(blobs, approx_b.collect(), k=5)


def test_lsh_exact_self_match(spark):
    # a query vector identical to a corpus vector must land in the same
    # bucket (deterministic hyperplanes) and rank first
    df = _vectors(spark, n=50)
    q = df.filter(F.col("vec_id") == 0)
    c = df.withColumn("vec_id", F.col("vec_id") + 1000)  # includes copy of 0
    out = lsh_topk(q, c, "vec_id", "embedding", k=1, dim=DIM, n_planes=6).collect()
    assert out[0]["corpus_id"] == 1000
    assert out[0]["cosine_micro"] == 1_000_000


def test_lsh_neardup_finds_planted_copies(spark):
    from gcp_data_pipeline_fyp_spark.operators.dedup import embedding_neardup_lsh

    df = _vectors(spark, n=120)
    copies = df.filter(F.col("vec_id") % 10 == 0).withColumn(
        "vec_id", F.col("vec_id") + 1000
    )
    u = df.unionByName(copies)
    rows = embedding_neardup_lsh(
        u, "vec_id", "embedding", threshold=0.999, dim=DIM, n_planes=6
    ).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in rows}
    planted = {(i, i + 1000) for i in range(0, 120, 10)}
    # identical vectors always share a sign bucket -> 100% recall on exact copies
    assert planted <= pairs
    # exactness invariant: every emitted pair really is above threshold
    # (recomputed independently) — blocking may miss pairs, never invent
    vecs = {r["vec_id"]: r["embedding"] for r in u.collect()}
    for r in rows:
        assert _exact_cosine(vecs[r["id_a"]], vecs[r["id_b"]]) >= 0.999 - 1e-6


def test_brute_force_null_and_zero_vectors(spark):
    # zero-norm corpus vector -> NULL cosine, ranked last, no crash in
    # the Arrow-vectorized pair stage
    rows = [(0, [1.0, 0.0]), (1, [1.0, 1.0]), (2, [0.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter(F.col("vec_id") == 0)
    c = df.filter(F.col("vec_id") > 0)
    out = brute_force_topk(q, c, "vec_id", "embedding", k=2).collect()
    scores = {r["corpus_id"]: r["cosine_micro"] for r in out}
    assert scores[2] is None
    assert abs(scores[1] - 707107) <= 1


def test_kmeans_recovers_planted_blobs(spark):
    from gcp_data_pipeline_fyp_spark.operators.clustering import kmeans

    rng = random.Random(5)
    centers = [[10.0 * (c + 1)] * DIM for c in range(3)]
    rows = [
        (i, [centers[i % 3][d] + rng.gauss(0, 0.1) for d in range(DIM)])
        for i in range(90)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assigned, cent = kmeans(df, "vec_id", "embedding", k=3, max_iter=10)
    got = {r["vec_id"]: r["cluster_id"] for r in assigned.collect()}
    # every point in blob b must share blob-mates' label (perfect separation)
    for b in range(3):
        labels = {got[i] for i in range(90) if i % 3 == b}
        assert len(labels) == 1, f"blob {b} split across {labels}"
    assert len({got[b] for b in range(3)}) == 3  # blobs not merged
    # centroids converged near the true centers
    cents = sorted(r["centroid"][0] for r in cent.collect())
    for got_c, want_c in zip(cents, [10.0, 20.0, 30.0]):
        assert abs(got_c - want_c) < 1.0


def test_kmeans_deterministic_across_partitioning(spark):
    from gcp_data_pipeline_fyp_spark.operators.clustering import kmeans

    df = _vectors(spark, n=60)
    a1, _ = kmeans(df.repartition(1), "vec_id", "embedding", k=4, max_iter=4)
    a2, _ = kmeans(df.repartition(13), "vec_id", "embedding", k=4, max_iter=4)
    assert sorted(map(tuple, a1.collect())) == sorted(map(tuple, a2.collect()))


def test_semantic_neardup_kmeans_finds_planted_copies(spark):
    from gcp_data_pipeline_fyp_spark.operators.clustering import (
        semantic_neardup_kmeans,
    )

    df = _vectors(spark, n=100)
    copies = df.filter(F.col("vec_id") % 10 == 0).withColumn(
        "vec_id", F.col("vec_id") + 1000
    )
    u = df.unionByName(copies)
    pairs = {
        (r["id_a"], r["id_b"])
        for r in semantic_neardup_kmeans(
            u, "vec_id", "embedding", threshold=0.999, k=4, max_iter=3
        ).collect()
    }
    planted = {(i, i + 1000) for i in range(0, 100, 10)}
    # identical vectors always land in the same cluster -> full recall
    assert planted <= pairs


def test_semantic_neardup_kmeans_releases_points_cache(spark):
    """The full-corpus fit caches its points evictably for the length of
    the fit only: nothing stays cached once the pairs frame is built,
    and the pairs still come out right."""
    from gcp_data_pipeline_fyp_spark.operators.clustering import (
        semantic_neardup_kmeans,
    )

    spark.catalog.clearCache()
    df = _vectors(spark, n=100)
    copies = df.filter(F.col("vec_id") % 10 == 0).withColumn(
        "vec_id", F.col("vec_id") + 1000
    )
    out = semantic_neardup_kmeans(
        df.unionByName(copies), "vec_id", "embedding", threshold=0.999, k=4,
        max_iter=3,
    )
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert pairs == {(i, i + 1000) for i in range(0, 100, 10)}
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _count_jobs(spark, group, action):
    """Run `action` under job group `group`; return its job count."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_kmeans_fit_job_count(spark):
    """One `kmeans` fit (400 8-dim points, k=4, max_iter=5) runs 35
    jobs: the seed is a sort + limit with no exchange of its own. The
    same fit run through `kmeans_grouped` with one literal group runs
    36: its window seed's exchange runs as an AQE map stage job."""
    from gcp_data_pipeline_fyp_spark.operators.clustering import kmeans

    rng = random.Random(11)
    df = spark.createDataFrame(
        [(i, [rng.gauss(i % 4, 1.0) for _ in range(8)]) for i in range(400)],
        "vec_id long, embedding array<double>",
    )
    jobs = _count_jobs(
        spark, "kmeans-fit-jobs",
        lambda: kmeans(df, "vec_id", "embedding", k=4, max_iter=5),
    )
    assert jobs == 35


def test_fit_pq_codebooks_job_count(spark):
    """One `fit_pq_codebooks` fit (200 16-dim points, m=4, n_codes=4,
    iters=3) runs 24 jobs: all subspaces train in one grouped Lloyd's
    loop, not one job chain per subspace."""
    from gcp_data_pipeline_fyp_spark.operators.pq import fit_pq_codebooks

    rng = random.Random(12)
    df = spark.createDataFrame(
        [(i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(200)],
        "vec_id long, embedding array<double>",
    )
    jobs = _count_jobs(
        spark, "pq-fit-jobs",
        lambda: fit_pq_codebooks(
            df, "vec_id", "embedding", m=4, n_codes=4, iters=3, dim=16
        ),
    )
    assert jobs == 24


@pytest.mark.slow
def test_ivf_sampled_training_recall(spark):
    """The 100 TB centroid-fit path: training on a ~30% content-keyed
    sample must keep recall at the pinned bar — the assignment pass
    still covers the full corpus, only the Lloyd fit is sampled. Also
    pins determinism: two runs produce identical result sets."""
    blobs = _blob_vectors(spark)
    q = blobs.filter(F.col("vec_id") < 5)
    c = blobs.filter(F.col("vec_id") >= 5)
    exact = brute_force_topk(q, c, "vec_id", "embedding", k=5)
    approx = ivf_topk(
        q, c, "vec_id", "embedding", k=5, n_centroids=8, nprobe=4,
        train_sample_frac=0.3,
    )
    assert _recall(exact, approx) >= 0.9
    again = ivf_topk(
        q, c, "vec_id", "embedding", k=5, n_centroids=8, nprobe=4,
        train_sample_frac=0.3,
    )
    assert sorted(map(tuple, approx.collect())) == sorted(
        map(tuple, again.collect())
    )


def test_sq8_recall_and_score_error(spark):
    """SQ8 quantization must preserve cosine ranking. Measured recall
    is 0.88 on this blob corpus — within-blob neighbors differ by less
    than the ~0.5% quantization error, so a few top-5-boundary ties
    reorder; bar at 0.8 to catch real regressions without flaking. The
    hard invariant is the score error: every reported score within 2%
    absolute of the true cosine (int8 over a unit vector bounds the
    per-component error at ~1/254 of the row max)."""
    from gcp_data_pipeline_fyp_spark.operators.similarity import sq8_topk

    df = _blob_vectors(spark)
    q = df.filter(F.col("vec_id") < 5)
    c = df.filter(F.col("vec_id") >= 5)
    exact = brute_force_topk(q, c, "vec_id", "embedding", k=5)
    approx = sq8_topk(q, c, "vec_id", "embedding", k=5)
    assert _recall(exact, approx) >= 0.8
    vecs = {r["vec_id"]: r["embedding"] for r in df.collect()}
    for r in approx.collect():
        true = _exact_cosine(vecs[r["query_id"]], vecs[r["corpus_id"]])
        assert abs(r["cosine_micro"] / 1e6 - true) < 0.02


def test_sq8_codes_bounded_and_zero_vectors_dropped(spark):
    """Codes stay in [-127, 127]; the zero vector (no quantization
    scale, meaningless under cosine) is excluded from the output."""
    from gcp_data_pipeline_fyp_spark.operators.similarity import quantize_sq8

    rows = [
        (0, [1.0, -2.0, 0.5, 0.0]),
        (1, [0.0, 0.0, 0.0, 0.0]),
        (2, [-0.001, 0.001, 0.001, -0.001]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r for r in quantize_sq8(df, "vec_id", "embedding").collect()}
    assert set(out) == {0, 2}
    for r in out.values():
        assert all(-127 <= c <= 127 for c in r["codes"])
        assert max(abs(c) for c in r["codes"]) == 127


@pytest.mark.slow
def test_pq_recall_and_determinism(spark):
    """PQ/ADC with 4 subspaces x 8 codes on clustered vectors. PQ is a
    candidate-generation stage, so the published metric is recall@R:
    the TRUE nearest neighbor must appear in the PQ top-10 (measured
    1.0 here; bar 0.8) — exact-top-5 set overlap is meaningless when
    within-blob neighbors collapse to identical codes. Also pins
    partition invariance: codes and LUT sums are integer-exact, so two
    runs over different partitionings return identical result sets."""
    from gcp_data_pipeline_fyp_spark.operators.pq import pq_topk

    df = _blob_vectors(spark)
    q = df.filter(F.col("vec_id") < 5)
    c = df.filter(F.col("vec_id") >= 5)
    exact1 = brute_force_topk(q, c, "vec_id", "embedding", k=1)
    top1 = {r["query_id"]: r["corpus_id"] for r in exact1.collect()}
    approx = pq_topk(
        q, c, "vec_id", "embedding", k=10, m=4, n_codes=8, iters=3, dim=DIM
    )
    rows = approx.collect()
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r["corpus_id"])
    recall_at_10 = sum(
        1 for qq, t in top1.items() if t in by_q.get(qq, [])
    ) / len(top1)
    assert recall_at_10 >= 0.8
    again = pq_topk(
        q.repartition(3), c.repartition(5), "vec_id", "embedding",
        k=10, m=4, n_codes=8, iters=3, dim=DIM,
    ).collect()
    key = lambda r: (r["query_id"], r["corpus_id"], r["cosine_micro"])  # noqa: E731
    assert sorted(map(key, rows)) == sorted(map(key, again))


# --------------------------------------------------- IVF-PQ (r6)
@pytest.mark.slow
def test_ivfpq_matches_pq_at_full_probe(spark):
    """With nprobe == n_centroids the coarse quantizer prunes nothing,
    so IVF-PQ must return EXACTLY the plain PQ/ADC result — list
    pruning is the only semantic difference between the two paths."""
    from gcp_data_pipeline_fyp_spark.operators.pq import ivfpq_topk, pq_topk

    df = _blob_vectors(spark)
    q = df.filter(F.col("vec_id") < 5)
    c = df.filter(F.col("vec_id") >= 5)
    plain = pq_topk(
        q, c, "vec_id", "embedding", k=5, m=4, n_codes=8, iters=3, dim=DIM
    )
    full = ivfpq_topk(
        q, c, "vec_id", "embedding", k=5, m=4, n_codes=8, iters=3, dim=DIM,
        n_centroids=8, nprobe=8,
    )
    key = lambda r: (r["query_id"], r["corpus_id"], r["cosine_micro"])  # noqa: E731
    assert sorted(map(key, plain.collect())) == sorted(map(key, full.collect()))


@pytest.mark.slow
def test_ivfpq_recall_and_determinism(spark):
    """Pruned IVF-PQ (nprobe=4 of 8 lists) keeps the true nearest
    neighbor inside the ADC top-10 on clustered vectors (recall@10 bar
    0.8, same bar as plain PQ), and two runs over different
    partitionings return identical result sets (integer-exact scores +
    deterministic coarse fit)."""
    from gcp_data_pipeline_fyp_spark.operators.pq import ivfpq_topk

    df = _blob_vectors(spark)
    q = df.filter(F.col("vec_id") < 5)
    c = df.filter(F.col("vec_id") >= 5)
    exact1 = brute_force_topk(q, c, "vec_id", "embedding", k=1)
    top1 = {r["query_id"]: r["corpus_id"] for r in exact1.collect()}
    approx = ivfpq_topk(
        q, c, "vec_id", "embedding", k=10, m=4, n_codes=8, iters=3, dim=DIM,
        n_centroids=8, nprobe=4,
    )
    rows = approx.collect()
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r["corpus_id"])
    recall_at_10 = sum(
        1 for qq, t in top1.items() if t in by_q.get(qq, [])
    ) / len(top1)
    assert recall_at_10 >= 0.8
    again = ivfpq_topk(
        q.repartition(3), c.repartition(5), "vec_id", "embedding",
        k=10, m=4, n_codes=8, iters=3, dim=DIM, n_centroids=8, nprobe=4,
    ).collect()
    key = lambda r: (r["query_id"], r["corpus_id"], r["cosine_micro"])  # noqa: E731
    assert sorted(map(key, rows)) == sorted(map(key, again))


@pytest.mark.slow
def test_ivfpq_index_persist_matches_direct_and_layout(spark, tmp_path):
    """The persisted IVF-PQ index returns exactly what the one-shot
    path returns, the codes table is laid out as centroid_id=*
    partition directories (the file-level pruning unit at 100 TB)."""
    import os

    from gcp_data_pipeline_fyp_spark.operators.pq import (
        build_ivfpq_index,
        ivfpq_topk,
        ivfpq_topk_indexed,
    )
    from gcp_data_pipeline_fyp_spark.sources.tables import Warehouse

    df = _blob_vectors(spark, n=200)
    q = df.filter(F.col("vec_id") < 3)
    c = df.filter((F.col("vec_id") >= 3) & (F.col("vec_id") < 150))
    wh = Warehouse(spark, str(tmp_path / "wh"))
    build_ivfpq_index(
        wh, c, "vec_id", "embedding", "ivfpq",
        m=4, n_codes=8, iters=3, dim=DIM, n_centroids=8,
    )
    direct = ivfpq_topk(
        q, c, "vec_id", "embedding", k=5, m=4, n_codes=8, iters=3, dim=DIM,
        n_centroids=8, nprobe=3,
    )
    indexed = ivfpq_topk_indexed(
        wh, q, "vec_id", "embedding", "ivfpq", k=5, nprobe=3
    )
    key = lambda r: (r["query_id"], r["corpus_id"], r["cosine_micro"])  # noqa: E731
    assert sorted(map(key, direct.collect())) == sorted(map(key, indexed.collect()))

    parts = [
        d for d in os.listdir(tmp_path / "wh" / "ivfpq__codes")
        if d.startswith("centroid_id=")
    ]
    assert len(parts) >= 2, parts


def test_pq_sampled_training_deterministic(spark):
    """The 100 TB codebook-fit path (train_sample_frac, mirroring the
    IVF knob): the fit sees only a content-keyed sample but ENCODING
    still covers every vector, results stay deterministic across
    partitionings, and recall on clustered vectors holds the same 0.8
    bar as the full fit."""
    from gcp_data_pipeline_fyp_spark.operators.pq import pq_topk

    df = _blob_vectors(spark)
    q = df.filter(F.col("vec_id") < 5)
    c = df.filter(F.col("vec_id") >= 5)
    exact1 = brute_force_topk(q, c, "vec_id", "embedding", k=1)
    top1 = {r["query_id"]: r["corpus_id"] for r in exact1.collect()}
    approx = pq_topk(
        q, c, "vec_id", "embedding", k=10, m=4, n_codes=8, iters=3, dim=DIM,
        train_sample_frac=0.5,
    )
    rows = approx.collect()
    # every corpus vector is encoded and scorable even though the fit
    # only saw ~half of them
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r["corpus_id"])
    recall_at_10 = sum(
        1 for qq, t in top1.items() if t in by_q.get(qq, [])
    ) / len(top1)
    assert recall_at_10 >= 0.8
    again = pq_topk(
        q.repartition(3), c.repartition(5), "vec_id", "embedding",
        k=10, m=4, n_codes=8, iters=3, dim=DIM, train_sample_frac=0.5,
    ).collect()
    key = lambda r: (r["query_id"], r["corpus_id"], r["cosine_micro"])  # noqa: E731
    assert sorted(map(key, rows)) == sorted(map(key, again))


@pytest.mark.slow
def test_ivfpq_residual_recall_and_determinism(spark):
    """Residual-encoded IVF-PQ (codes quantize u - coarse_centroid):
    the same recall@10 bar as the non-residual path on clustered
    vectors, and identical result sets across partitionings (the
    score is coarse_micro + an int64 LUT sum — exact adds only)."""
    from gcp_data_pipeline_fyp_spark.operators.pq import ivfpq_residual_topk

    df = _blob_vectors(spark)
    q = df.filter(F.col("vec_id") < 5)
    c = df.filter(F.col("vec_id") >= 5)
    exact1 = brute_force_topk(q, c, "vec_id", "embedding", k=1)
    top1 = {r["query_id"]: r["corpus_id"] for r in exact1.collect()}
    approx = ivfpq_residual_topk(
        q, c, "vec_id", "embedding", k=10, m=4, n_codes=8, iters=3, dim=DIM,
        n_centroids=8, nprobe=4,
    )
    rows = approx.collect()
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r["corpus_id"])
    recall_at_10 = sum(
        1 for qq, t in top1.items() if t in by_q.get(qq, [])
    ) / len(top1)
    assert recall_at_10 >= 0.8
    again = ivfpq_residual_topk(
        q.repartition(3), c.repartition(5), "vec_id", "embedding",
        k=10, m=4, n_codes=8, iters=3, dim=DIM, n_centroids=8, nprobe=4,
    ).collect()
    key = lambda r: (r["query_id"], r["corpus_id"], r["cosine_micro"])  # noqa: E731
    assert sorted(map(key, rows)) == sorted(map(key, again))


@pytest.mark.slow
def test_ivfpq_residual_scores_closer_to_exact(spark):
    """The point of residual encoding: at the SAME bit budget the ADC
    score of the true nearest neighbor sits closer to its exact cosine
    than the non-residual code's score — the codes spend their bits on
    within-list detail instead of re-describing the centroid."""
    from gcp_data_pipeline_fyp_spark.operators.pq import (
        ivfpq_residual_topk,
        ivfpq_topk,
    )

    df = _blob_vectors(spark)
    q = df.filter(F.col("vec_id") < 5)
    c = df.filter(F.col("vec_id") >= 5)
    exact = {
        (r["query_id"], r["corpus_id"]): r["cosine_micro"]
        for r in brute_force_topk(q, c, "vec_id", "embedding", k=10).collect()
    }
    kw = dict(k=10, m=4, n_codes=8, iters=3, dim=DIM, n_centroids=8, nprobe=8)
    plain = {
        (r["query_id"], r["corpus_id"]): r["cosine_micro"]
        for r in ivfpq_topk(q, c, "vec_id", "embedding", **kw).collect()
    }
    resid = {
        (r["query_id"], r["corpus_id"]): r["cosine_micro"]
        for r in ivfpq_residual_topk(q, c, "vec_id", "embedding", **kw).collect()
    }
    common_p = set(exact) & set(plain)
    common_r = set(exact) & set(resid)
    assert common_p and common_r
    err_plain = sum(abs(exact[k] - plain[k]) for k in common_p) / len(common_p)
    err_resid = sum(abs(exact[k] - resid[k]) for k in common_r) / len(common_r)
    assert err_resid < err_plain, (err_resid, err_plain)


@pytest.mark.slow
def test_ivfpq_residual_index_self_describing(spark, tmp_path):
    """A residual-built IVF-PQ index must (a) return exactly what the
    one-shot residual path returns, and (b) carry its interpretation in
    the stored codebooks (meta_residual) so the query path never needs
    — or trusts — a caller flag."""
    from gcp_data_pipeline_fyp_spark.operators.pq import (
        _codebook_meta,
        build_ivfpq_index,
        ivfpq_residual_topk,
        ivfpq_topk_indexed,
    )
    from gcp_data_pipeline_fyp_spark.sources.tables import Warehouse

    df = _blob_vectors(spark, n=200)
    q = df.filter(F.col("vec_id") < 3)
    c = df.filter((F.col("vec_id") >= 3) & (F.col("vec_id") < 150))
    wh = Warehouse(spark, str(tmp_path / "wh"))
    build_ivfpq_index(
        wh, c, "vec_id", "embedding", "ridx",
        m=4, n_codes=8, iters=3, dim=DIM, n_centroids=8, residual=True,
    )
    m, dim, residual = _codebook_meta(wh.read("ridx__codebooks"))
    assert (m, dim, residual) == (4, DIM, True)
    direct = ivfpq_residual_topk(
        q, c, "vec_id", "embedding", k=5, m=4, n_codes=8, iters=3, dim=DIM,
        n_centroids=8, nprobe=3,
    )
    indexed = ivfpq_topk_indexed(
        wh, q, "vec_id", "embedding", "ridx", k=5, nprobe=3
    )
    key = lambda r: (r["query_id"], r["corpus_id"], r["cosine_micro"])  # noqa: E731
    assert sorted(map(key, direct.collect())) == sorted(map(key, indexed.collect()))


@pytest.mark.slow
def test_rerank_exact_recovers_brute_force(spark):
    """Re-ranking a candidate set that CONTAINS the true top-k must
    return exactly the brute-force answer (scores included) — and the
    composed IVF-PQ -> rerank pipeline achieves that on clustered
    vectors with a 2k candidate budget."""
    from gcp_data_pipeline_fyp_spark.operators.pq import ivfpq_topk
    from gcp_data_pipeline_fyp_spark.operators.similarity import rerank_exact

    df = _blob_vectors(spark)
    q = df.filter(F.col("vec_id") < 5)
    c = df.filter(F.col("vec_id") >= 5)
    exact = brute_force_topk(q, c, "vec_id", "embedding", k=5)
    key = lambda r: (r["query_id"], r["corpus_id"], r["cosine_micro"])  # noqa: E731

    # sanity: rerank of the full pair set IS brute force
    all_pairs = c.crossJoin(
        q.select(F.col("vec_id").alias("qid"))
    ).select(
        F.col("qid").alias("query_id"), F.col("vec_id").alias("corpus_id")
    )
    full = rerank_exact(all_pairs, q, c, "vec_id", "embedding", k=5)
    assert sorted(map(key, full.collect())) == sorted(map(key, exact.collect()))

    # the production shape: ANN candidates -> exact rerank. The
    # returned SCORES are exact for every returned pair (identical to
    # the brute-force cosine of that pair), and the true top-1 — which
    # the candidate stage captures on clustered vectors (recall bar
    # pinned elsewhere) — comes back ranked first with its exact score
    cand = ivfpq_topk(
        q, c, "vec_id", "embedding", k=10, m=4, n_codes=8, iters=3,
        dim=DIM, n_centroids=8, nprobe=4,
    )
    rr = rerank_exact(cand, q, c, "vec_id", "embedding", k=5).collect()
    exact_scores = {
        (r["query_id"], r["corpus_id"]): r["cosine_micro"]
        for r in rerank_exact(all_pairs, q, c, "vec_id", "embedding", k=1000).collect()
    }
    for r in rr:
        assert r["cosine_micro"] == exact_scores[(r["query_id"], r["corpus_id"])]
    top1_exact = {
        r["query_id"]: (r["corpus_id"], r["cosine_micro"])
        for r in brute_force_topk(q, c, "vec_id", "embedding", k=1).collect()
    }
    best_rr: dict = {}
    for r in rr:
        cur = best_rr.get(r["query_id"])
        if cur is None or (r["cosine_micro"], -r["corpus_id"]) > (cur[1], -cur[0]):
            best_rr[r["query_id"]] = (r["corpus_id"], r["cosine_micro"])
    assert best_rr == top1_exact


def test_ivfpq_indexed_query_prunes_code_partitions(spark, tmp_path):
    """The persisted IVF-PQ layout's 100 TB claim, pinned on the plan:
    the broadcast probe join on the partition column must inject a
    dynamic-partition-pruning subquery into the codes FileScan, so a
    query reads nprobe/n_centroids of the code files instead of all of
    them."""
    from gcp_data_pipeline_fyp_spark.operators.pq import (
        build_ivfpq_index,
        ivfpq_topk_indexed,
    )
    from gcp_data_pipeline_fyp_spark.sources.tables import Warehouse

    df = _blob_vectors(spark, n=200)
    q = df.filter(F.col("vec_id") < 3)
    c = df.filter(F.col("vec_id") >= 3)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    build_ivfpq_index(
        wh, c, "vec_id", "embedding", "px",
        m=4, n_codes=8, iters=2, dim=DIM, n_centroids=8,
    )
    res = ivfpq_topk_indexed(wh, q, "vec_id", "embedding", "px", k=5, nprobe=2)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan, plan[:2000]


@pytest.mark.slow
def test_ivfpq_index_delete_partition_scoped_and_idempotent(spark, tmp_path):
    """Right-to-be-forgotten on the persisted IVF-PQ index: deleted
    ids vanish from queries, untouched partitions keep their files
    byte-identical (the rewrite is list-scoped — the 100 TB property),
    a fully-emptied list's directory is dropped, and re-running the
    same delete is a no-op."""
    import os

    from gcp_data_pipeline_fyp_spark.operators.pq import (
        build_ivfpq_index,
        delete_from_ivfpq_index,
        ivfpq_topk_indexed,
    )
    from gcp_data_pipeline_fyp_spark.sources.tables import Warehouse

    df = _blob_vectors(spark, n=200)
    q = df.filter(F.col("vec_id") < 3)
    c = df.filter((F.col("vec_id") >= 3) & (F.col("vec_id") < 150))
    wh = Warehouse(spark, str(tmp_path / "wh"))
    build_ivfpq_index(
        wh, c, "vec_id", "embedding", "ivfpq",
        m=4, n_codes=8, iters=3, dim=DIM, n_centroids=8,
    )
    codes_root = tmp_path / "wh" / "ivfpq__codes"

    # victims: two ids from ONE list, so other lists must not rewrite
    codes = wh.read("ivfpq__codes")
    one_part = codes.select("centroid_id").distinct().orderBy("centroid_id").first().centroid_id
    vic_ids = [
        r.corpus_id
        for r in codes.filter(F.col("centroid_id") == one_part)
        .select("corpus_id").distinct().orderBy("corpus_id").limit(2).collect()
    ]
    untouched_snapshot = {}
    for d in os.listdir(codes_root):
        if d.startswith("centroid_id=") and d != f"centroid_id={one_part}":
            pdir = codes_root / d
            untouched_snapshot[d] = sorted(
                (f, os.stat(pdir / f).st_ino) for f in os.listdir(pdir)
            )

    victims = spark.createDataFrame([(v,) for v in vic_ids], "vec_id long")
    n = delete_from_ivfpq_index(wh, victims, "vec_id", "ivfpq")
    assert n == 1  # exactly the one affected list rewrote
    left = {r.corpus_id for r in wh.read("ivfpq__codes").select("corpus_id").distinct().collect()}
    assert not (left & set(vic_ids))
    assert len(left) == 147 - 2 + 0  # 3..149 minus the two victims
    for d, snap in untouched_snapshot.items():
        pdir = codes_root / d
        assert sorted((f, os.stat(pdir / f).st_ino) for f in os.listdir(pdir)) == snap

    # queries never return victims
    hits = ivfpq_topk_indexed(
        wh, q, "vec_id", "embedding", "ivfpq", k=200, nprobe=8
    ).collect()
    assert not ({r.corpus_id for r in hits} & set(vic_ids))

    # idempotent re-run
    assert delete_from_ivfpq_index(wh, victims, "vec_id", "ivfpq") == 0

    # empty an entire list -> its partition directory is dropped
    rest = [
        r.corpus_id
        for r in wh.read("ivfpq__codes")
        .filter(F.col("centroid_id") == one_part)
        .select("corpus_id").distinct().collect()
    ]
    if rest:  # the list had more members than the two victims
        delete_from_ivfpq_index(
            wh,
            spark.createDataFrame([(v,) for v in rest], "vec_id long"),
            "vec_id",
            "ivfpq",
        )
    assert not (codes_root / f"centroid_id={one_part}").exists()

    # delete EVERYTHING that remains: the codes table must stay
    # readable (empty but typed), not a schema-less husk of dirs
    everyone = wh.read("ivfpq__codes").select("corpus_id").distinct()
    delete_from_ivfpq_index(wh, everyone, "corpus_id", "ivfpq")
    emptied = wh.read("ivfpq__codes")
    assert emptied.count() == 0
    assert "corpus_id" in emptied.columns
    # and idempotent on the empty table
    assert delete_from_ivfpq_index(wh, victims, "vec_id", "ivfpq") == 0


def test_topk_overlap_report_identity_miss_and_rank(spark):
    """Identical rankings give full overlap + MRR 1e6; a candidate
    missing the truth's #1 at rank 1 but holding it at rank 3 gives
    mrr 333333; a fully disjoint candidate gives 0/0."""
    from gcp_data_pipeline_fyp_spark.operators.similarity import (
        topk_overlap_report,
    )

    truth = spark.createDataFrame(
        [(1, i, 1000 - i) for i in range(1, 6)],
        "query_id long, corpus_id long, cosine_micro long",
    )
    same = topk_overlap_report(truth, truth, k=5).collect()[0]
    assert (same["n_truth"], same["n_overlap"], same["mrr_micro"]) == (
        5, 5, 1_000_000,
    )
    # candidate ranks truth's #1 (corpus 1) third
    cand = spark.createDataFrame(
        [(1, 7, 999), (1, 8, 998), (1, 1, 997), (1, 2, 996), (1, 9, 995)],
        "query_id long, corpus_id long, cosine_micro long",
    )
    r = topk_overlap_report(truth, cand, k=5).collect()[0]
    assert r["n_overlap"] == 2  # corpus 1 and 2
    assert r["mrr_micro"] == 333_333
    disjoint = spark.createDataFrame(
        [(1, 100 + i, 900 - i) for i in range(5)],
        "query_id long, corpus_id long, cosine_micro long",
    )
    z = topk_overlap_report(truth, disjoint, k=5).collect()[0]
    assert (z["n_overlap"], z["mrr_micro"]) == (0, 0)


def test_ivf_retrain_decision_flips_under_drift(spark):
    """The retrain trigger says NO for an iid half-split of the same
    blob corpus (assignment mix stable) and YES when the current
    snapshot collapses onto a single blob (the mix concentrates into
    few centroid lists) — and the PSI statistic itself orders the two
    cases. Pins the decision semantics, not just the plumbing."""
    from gcp_data_pipeline_fyp_spark.operators.similarity import (
        ivf_retrain_decision,
    )

    blobs = _blob_vectors(spark, n=400)
    # split on mod-40 so each mod-20 blob lands in BOTH halves (an
    # even/odd id split would give the halves disjoint blob sets —
    # genuine drift, not an iid control)
    base = blobs.filter(F.col("vec_id") % 40 < 20)
    same = blobs.filter(F.col("vec_id") % 40 >= 20)
    r_same = ivf_retrain_decision(
        base, same, "vec_id", "embedding", n_centroids=8
    ).collect()[0]
    assert r_same["retrain"] is False
    # drifted current: every vector from one blob (vec_id % 20 == 3)
    drifted = blobs.filter(F.col("vec_id") % 20 == 3)
    r_drift = ivf_retrain_decision(
        base, drifted, "vec_id", "embedding", n_centroids=8
    ).collect()[0]
    assert r_drift["retrain"] is True
    assert r_drift["psi_micro"] > r_same["psi_micro"]


def test_bitext_margin_mining_semantics(spark):
    """A planted near-parallel pair is mined; a HUB vector (high
    cosine to everything on the other side) is rejected by the ratio
    margin even though its raw cosines beat the threshold — the
    hubness property that makes margin scoring the method of record
    over raw-cosine mining."""
    import math
    import random

    from gcp_data_pipeline_fyp_spark.operators.similarity import (
        bitext_margin_pairs,
    )

    rng = random.Random(5)
    dim = 16

    def rand_unit():
        v = [rng.gauss(0, 1) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    def jitter(v, eps):
        w = [x + rng.gauss(0, eps) for x in v]
        n = math.sqrt(sum(x * x for x in w))
        return [x / n for x in w]

    base = [rand_unit() for _ in range(10)]
    hub = [1.0 / math.sqrt(dim)] * dim
    # left: 10 distinct vectors + 4 near-copies of a hub region;
    # right: the jittered translations + 4 MORE hub near-copies. The
    # hub region is dense on BOTH sides, so every hub pair's cosine
    # only matches its neighborhood means — margin ~1.0, rejected —
    # while each planted pair towers over both neighborhoods.
    left = [(i, base[i]) for i in range(10)]
    left += [(90 + j, jitter(hub, 0.05)) for j in range(4)]
    right = [(100 + i, jitter(base[i], 0.05)) for i in range(10)]
    right += [(200 + j, jitter(hub, 0.05)) for j in range(4)]
    ldf = spark.createDataFrame(left, "vec_id long, embedding array<double>")
    rdf = spark.createDataFrame(right, "vec_id long, embedding array<double>")
    got = {
        r["query_id"]: r["corpus_id"]
        for r in bitext_margin_pairs(
            ldf, rdf, "vec_id", "embedding", k=4,
            margin_threshold_micro=1_020_000,
        ).collect()
    }
    # every planted pair mined to ITS translation
    for i in range(10):
        assert got.get(i) == 100 + i, (i, got.get(i))
    # the hub-region vectors are rejected: their best cosines only
    # match their (both-sides-dense) neighborhood means
    for j in range(4):
        assert 90 + j not in got, (90 + j, got.get(90 + j))


@pytest.mark.slow
def test_bitext_auto_centroid_sizing(spark):
    """The default n_centroids='auto' resolves to ceil(sqrt(max side))
    (the FAISS sizing rule, floor 2) and mines exactly the pairs the
    same explicit codebook size mines — the scale path is the default
    path, with the sizing pinned here and the IVF-vs-brute pair
    agreement certified by the bitext_ivf_agreement oracle probe."""
    from gcp_data_pipeline_fyp_spark.operators.similarity import (
        auto_n_centroids,
        bitext_margin_pairs,
    )

    assert [auto_n_centroids(n) for n in (0, 1, 4, 5, 16, 100, 101)] == [
        2, 2, 2, 3, 4, 10, 11,
    ]
    import random

    rng = random.Random(11)
    mk = lambda lo, n: [  # noqa: E731
        (lo + i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(30)
    ]
    ldf = spark.createDataFrame(mk(0, 30), "vec_id long, embedding array<double>")
    rdf = spark.createDataFrame(mk(100, 30), "vec_id long, embedding array<double>")
    got_auto = sorted(
        (r["query_id"], r["corpus_id"], r["margin_micro"])
        for r in bitext_margin_pairs(ldf, rdf, "vec_id", "embedding").collect()
    )
    got_pinned = sorted(
        (r["query_id"], r["corpus_id"], r["margin_micro"])
        for r in bitext_margin_pairs(
            ldf, rdf, "vec_id", "embedding", n_centroids=auto_n_centroids(30)
        ).collect()
    )
    assert got_auto == got_pinned


def test_ivf_retrain_decision_indexed_vs_stored_index(spark, tmp_path):
    """The no-refit retrain check against a stored IVF-PQ index:
    stable batch says no, collapsed batch says yes, and the base
    distribution comes from the persisted index, not a refit."""
    from gcp_data_pipeline_fyp_spark.operators.pq import build_ivfpq_index
    from gcp_data_pipeline_fyp_spark.operators.similarity import (
        ivf_retrain_decision_indexed,
    )
    from gcp_data_pipeline_fyp_spark.sources.tables import Warehouse

    all_vecs = _blob_vectors(spark, n=360, n_blobs=6)
    blobs = all_vecs.filter(F.col("vec_id") < 240)
    # same centers, fresh noise draws — the iid continuation
    same = all_vecs.filter(F.col("vec_id") >= 240)
    wh = Warehouse(spark, str(tmp_path / "rwh"))
    build_ivfpq_index(
        wh, blobs, "vec_id", "embedding", "ix", dim=DIM, n_centroids=6
    )
    r = ivf_retrain_decision_indexed(
        wh, same, "vec_id", "embedding", "ix"
    ).collect()[0]
    assert r["retrain"] is False and r["n_base"] == 240 and r["n_cur"] == 120
    drifted = blobs.filter(F.col("vec_id") % 6 == 2).withColumn(
        "vec_id", F.col("vec_id") + 10_000
    )
    r2 = ivf_retrain_decision_indexed(
        wh, drifted, "vec_id", "embedding", "ix"
    ).collect()[0]
    assert r2["retrain"] is True
    assert r2["psi_micro"] > r["psi_micro"]
    # the baseline is the build-time snapshot ({name}__train_mix)
    mix = wh.read("ix__train_mix")
    assert mix.agg(F.sum("n")).collect()[0][0] == 240


def test_jl_project_preserves_distances(spark):
    """JL quality: 32 seeded 64-dim vectors projected to 24 dims keep
    pairwise squared distances within a loose (eps=0.6) band — the
    property the operator exists for — and the projection is
    deterministic across invocations."""
    import itertools
    import random

    from gcp_data_pipeline_fyp_spark.operators.similarity import jl_project

    rng = random.Random(11)
    rows = [
        (i, [rng.gauss(0.0, 1.0) for _ in range(64)]) for i in range(32)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r["vec_id"]: r["embedding"]
        for r in jl_project(df, "embedding", out_dim=24, seed=5).collect()
    }
    assert all(len(v) == 24 for v in got.values())
    got2 = {
        r["vec_id"]: r["embedding"]
        for r in jl_project(df, "embedding", out_dim=24, seed=5).collect()
    }
    assert got == got2

    orig = dict(rows)

    def d2(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    violations = 0
    pairs = list(itertools.combinations(range(32), 2))
    for i, j in pairs:
        do, dp = d2(orig[i], orig[j]), d2(got[i], got[j])
        if not (0.4 * do <= dp <= 1.6 * do):
            violations += 1
    # JL is probabilistic: allow a small tail, require the bulk to hold
    assert violations <= len(pairs) * 0.02, violations


def test_jl_project_empty_and_explicit_dim(spark):
    from gcp_data_pipeline_fyp_spark.operators.similarity import jl_project

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert jl_project(empty, "embedding", out_dim=4).count() == 0
    df = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    out = jl_project(df, "embedding", out_dim=2, seed=3, in_dim=4).first()
    assert len(out["embedding"]) == 2


def test_ndcg_report_perfect_and_graded(spark):
    """Candidate == truth -> nDCG exactly 1e6 per query; a candidate
    with the truth's top-2 swapped scores strictly between the
    reversed list and 1.0; a fully disjoint candidate scores 0."""
    import math

    from pyspark.sql import functions as F

    from gcp_data_pipeline_fyp_spark.operators.similarity import ndcg_report

    truth = spark.createDataFrame(
        [(1, 10 + i, 1_000_000 - i * 1000) for i in range(5)],
        "query_id long, corpus_id long, cosine_micro long",
    )
    # perfect
    perfect = ndcg_report(truth, truth, k=5).first()
    assert perfect["ndcg_micro"] == 1_000_000
    assert perfect["dcg_micro"] == perfect["idcg_micro"]
    # swap positions 1 and 2 in the candidate via scores
    swapped = spark.createDataFrame(
        [
            (1, 11, 1_000_000),
            (1, 10, 999_000),
            (1, 12, 998_000),
            (1, 13, 997_000),
            (1, 14, 996_000),
        ],
        "query_id long, corpus_id long, cosine_micro long",
    )
    s = ndcg_report(truth, swapped, k=5).first()
    assert 0 < s["ndcg_micro"] < 1_000_000
    # swapping adjacent top-2: DCG loses (5-4)*(1 - 1/log2(3)) weight
    want = (
        sum(
            round((5 - i) * (1.0 / math.log2(i + 2)) * 1e6)
            for i in range(5)
        )
    )
    assert s["idcg_micro"] == want
    # disjoint candidate
    disjoint = truth.select(
        "query_id",
        (F.col("corpus_id") + 1000).alias("corpus_id"),
        "cosine_micro",
    )
    d = ndcg_report(truth, disjoint, k=5).first()
    assert d["dcg_micro"] == 0 and d["ndcg_micro"] == 0


def test_ndcg_report_short_truth_uses_prefix_idcg(spark):
    from gcp_data_pipeline_fyp_spark.operators.similarity import ndcg_report

    truth = spark.createDataFrame(
        [(1, 10, 1_000_000), (1, 11, 900_000)],
        "query_id long, corpus_id long, cosine_micro long",
    )
    r = ndcg_report(truth, truth, k=5).first()
    # n_truth=2 -> IDCG over the first 2 positions only; self-eval = 1.0
    assert r["n_truth"] == 2
    assert r["ndcg_micro"] == 1_000_000
