#!/usr/bin/env python3
"""Per-stage wall-clock isolation for the heavy bench legs (guide §1).

Times each STAGE of a composed leg separately (noop sink per stage,
jobs labeled) so the optimization targets the piece that actually
costs. Warm protocol: each probe callable runs `reps` times after one
untimed warm pass of the session; reported value is the median.

Usage: python3 tools/stage_probe.py <probe> [reps]
Probes: ivfpq, pq, sq8, semdedup, v2, v3
(the pipeline's per-stage breakdown comes from `perfbench/run.py --trace 1`)
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from gcp_data_pipeline_fyp_spark.session import get_spark  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def noop(df):
    df.write.mode("overwrite").format("noop").save()


def timed(spark, name, fn, reps=3):
    vals = []
    for _ in range(reps):
        spark.sparkContext.setJobDescription(name)
        t0 = time.perf_counter()
        fn()
        vals.append(time.perf_counter() - t0)
        spark.sparkContext.setJobDescription(None)
    med = statistics.median(vals)
    print(f"  {name:42s} med {med:6.2f}s  runs {[round(v, 2) for v in vals]}")
    return med


def _emb_sides(spark):
    from gcp_data_pipeline_fyp_spark.queries_util import load

    e = load(spark, SF, "embeddings", spread=True)
    return e.filter(F.col("vec_id") < 8), e.filter(F.col("vec_id") >= 8)


def probe_ivfpq(spark, reps):
    from gcp_data_pipeline_fyp_spark.operators.pq import (
        _coarse_probes,
        _ivfpq_score_topk,
        _pq_lut,
        _unit6_side,
        fit_pq_codebooks,
        ivfpq_topk,
        pq_encode,
    )
    from gcp_data_pipeline_fyp_spark.operators.similarity import (
        _assign,
        fit_ivf_centroids,
    )

    queries, corpus = _emb_sides(spark)

    def full():
        noop(
            ivfpq_topk(
                queries, corpus, "vec_id", "embedding", k=5,
                m=4, n_codes=8, iters=3, n_centroids=16, nprobe=4,
            )
        )

    def ivf_fit():
        cu = _unit6_side(corpus, "vec_id", "embedding", "corpus_id", "__cv")
        noop(fit_ivf_centroids(cu, 16, 1))

    def ivf_fit_assign():
        cu = _unit6_side(corpus, "vec_id", "embedding", "corpus_id", "__cv")
        cent = fit_ivf_centroids(cu, 16, 1)
        noop(_assign(cu, cent).select("corpus_id", "centroid_id"))

    def books_fit():
        noop(
            fit_pq_codebooks(corpus, "vec_id", "embedding", 4, 8, 3, 64)
        )

    def encode():
        books = fit_pq_codebooks(corpus, "vec_id", "embedding", 4, 8, 3, 64)
        noop(pq_encode(corpus, "vec_id", "embedding", books, 4, 64))

    timed(spark, "ivfpq: full leg", full, reps)
    timed(spark, "ivfpq: ivf fit only", ivf_fit, reps)
    timed(spark, "ivfpq: ivf fit+assign", ivf_fit_assign, reps)
    timed(spark, "ivfpq: codebook fit only", books_fit, reps)
    timed(spark, "ivfpq: codebook fit+encode", encode, reps)


def probe_pq(spark, reps):
    from gcp_data_pipeline_fyp_spark.operators.pq import (
        fit_pq_codebooks,
        pq_topk,
    )

    queries, corpus = _emb_sides(spark)
    timed(
        spark, "pq: full leg",
        lambda: noop(
            pq_topk(queries, corpus, "vec_id", "embedding", k=5, m=4,
                    n_codes=8, iters=3)
        ),
        reps,
    )
    timed(
        spark, "pq: codebook fit only",
        lambda: noop(fit_pq_codebooks(corpus, "vec_id", "embedding", 4, 8, 3, 64)),
        reps,
    )


def probe_sq8(spark, reps):
    from gcp_data_pipeline_fyp_spark.operators.similarity import (
        _topk_per_query,
        quantize_sq8,
        sq8_topk,
    )

    queries, corpus = _emb_sides(spark)
    timed(
        spark, "sq8: full leg",
        lambda: noop(sq8_topk(queries, corpus, "vec_id", "embedding", k=5)),
        reps,
    )
    timed(
        spark, "sq8: quantize corpus only",
        lambda: noop(quantize_sq8(corpus, "vec_id", "embedding")),
        reps,
    )


def probe_semdedup(spark, reps):
    from gcp_data_pipeline_fyp_spark.operators.dedup import semdedup
    from gcp_data_pipeline_fyp_spark.operators.similarity import (
        fit_ivf_centroids,
    )
    from gcp_data_pipeline_fyp_spark.functions.vectors import as_double_vec
    from gcp_data_pipeline_fyp_spark.queries_util import load

    e = load(spark, SF, "embeddings", spread=True)

    def full():
        noop(
            semdedup(e, "vec_id", "embedding", n_centroids=16,
                     threshold_micro=350_000)
        )

    def fit_only():
        c = e.select(
            F.col("vec_id").alias("corpus_id"),
            as_double_vec("embedding").alias("__cv"),
        )
        noop(fit_ivf_centroids(c, 16, 1))

    timed(spark, "semdedup: full operator", full, reps)
    timed(spark, "semdedup: ivf fit only", fit_only, reps)


def probe_v3(spark, reps):
    from gcp_data_pipeline_fyp_spark.queries_text import (
        _corpus_prep_canon,
        q_corpus_prep_v2,
        q_corpus_prep_v3,
    )

    timed(spark, "v3: full leg", lambda: noop(q_corpus_prep_v3(spark, SF)), reps)
    timed(spark, "v2: full leg", lambda: noop(q_corpus_prep_v2(spark, SF)), reps)
    timed(
        spark, "v2/v3: canon chain only",
        lambda: noop(_corpus_prep_canon(spark, SF, None, 1_000_000)),
        reps,
    )


def probe_v2(spark, reps):
    from gcp_data_pipeline_fyp_spark.queries_text import (
        _corpus_prep_canon,
        _docs_with_neardups,
        q_corpus_prep_v2,
    )

    timed(spark, "v2: full leg", lambda: noop(q_corpus_prep_v2(spark, SF)), reps)
    timed(
        spark, "v2: canon chain only",
        lambda: noop(_corpus_prep_canon(spark, SF, None, 1_000_000)),
        reps,
    )
    timed(
        spark, "v2: docs_with_neardups scan",
        lambda: noop(_docs_with_neardups(spark, SF)),
        reps,
    )


PROBES = {
    "ivfpq": probe_ivfpq,
    "pq": probe_pq,
    "sq8": probe_sq8,
    "semdedup": probe_semdedup,
    "v3": probe_v3,
    "v2": probe_v2,
}


def main():
    which = sys.argv[1] if len(sys.argv) > 1 else "ivfpq"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    spark = get_spark(app_name=f"stage_probe_{which}", cpus=CPUS,
                      shuffle_partitions=CPUS)
    # one cheap warm action (same as bench.py)
    from gcp_data_pipeline_fyp_spark.queries_util import load

    load(spark, SF, "region").count()
    print(f"probe={which} sf={SF} cpus={CPUS}")
    PROBES[which](spark, reps)
    spark.stop()


if __name__ == "__main__":
    main()
