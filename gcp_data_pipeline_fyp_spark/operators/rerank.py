"""MMR (maximal marginal relevance) diversity re-ranking of ANN
candidates — the standard de-redundancy step between retrieval and
consumption (RAG context packing, eval-set selection, dedup-aware
sampling): pure relevance top-k returns near-duplicates of the best
hit; MMR greedily picks items that are relevant AND novel vs what is
already picked (Carbonell & Goldstein 1998).

score(d) = lambda * cos(q, d) - (1 - lambda) * max_{s in selected} cos(d, s)

Spark-first shape: the greedy loop is k-1 ROUNDS OF DATAFRAME OPS,
not a Python UDF — each round is
  (remaining candidates) x (selected so far)   join on query_id
  -> max pair-similarity to the selected set   groupBy (query, cand)
  -> integer MMR score                          exact bigint math
  -> per-query argmax                           row_number window
All joins are keyed on query_id and bounded by the candidate pool:
|Q| x C rows join |Q| x r, so round r shuffles |Q| x C x r pair rows
— candidate pools (C ~ 10-100) and k (<= 10) keep this tiny relative
to the retrieval stage that produced the candidates, at any corpus
scale. No driver-side loops over data: the Python `for` builds the
PLAN. Each round's `selected` frame is localCheckpoint'ed: it feeds
TWO joins in the next round, so a lazy unroll doubles the plan per
round (2^k branches — measured driver OOM at k=10, BASELINE.md
round-10 MMR rows); the per-round checkpoint materializes a |Q| x r
frame (trivial) and keeps the plan CONSTANT-size per round, making
cost linear in k as the round structure claims.

Determinism / certification: relevance and pair similarities live in
the engine's `cosine_micro` integer domain, the MMR score is the
exact bigint `lambda_micro * cos_micro - (1e6 - lambda_micro) *
max_sim_micro` (|score| <= 2e12, far inside int64), ties break on
corpus_id — so a k-stage SQL oracle replays the greedy selection
bit-for-bit (queries_vectors.py::mmr_rerank_topk builds that SQL
programmatically for the same k).

lambda_micro = 1_000_000 degenerates to pure relevance top-k — pinned
against brute_force_topk in tests/test_rerank.py.

`rrf_fuse` is the other standard retrieval post-processor: reciprocal
rank fusion (Cormack, Clarke & Buettcher, SIGIR 2009) merges rankings
from heterogeneous systems — BM25 and dense ANN disagree on score
SCALE but agree on rank quality, and sum(1/(k0+rank)) is the
scale-free combiner hybrid search engines standardized on. Everything
lives in the integer domain (floor(1e9/(k0+rank)) nano-contributions,
micro weights), so the fused order is deterministic on any
partitioning and bit-replayable in SQL.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gcp_data_pipeline_fyp_spark.functions.vectors import as_double_vec
from gcp_data_pipeline_fyp_spark.operators.similarity import _fast_dot, _unit
from gcp_data_pipeline_fyp_spark.queries_util import micro6


def mmr_rerank(
    candidates: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    lambda_micro: int = 700_000,
) -> DataFrame:
    """Greedy MMR selection of k rows per query from an ANN candidate
    set. `candidates` carries (query_id, corpus_id, cosine_micro) —
    any retrieval output works (brute_force_topk, ivf_topk, ...);
    `corpus` supplies the candidate vectors for the pairwise-novelty
    term, fetched via a broadcast semi-join exactly like
    similarity.rerank_exact (candidate sets are |Q| x C-sized,
    broadcastable by construction).

    Returns (query_id, corpus_id, mmr_rank 1..k, cosine_micro).
    Queries with fewer than k candidates emit what they have.
    """
    if not (0 <= lambda_micro <= 1_000_000):
        raise ValueError("lambda_micro must be in [0, 1_000_000]")
    if k <= 0:
        raise ValueError("k must be positive")

    cand_ids = candidates.select("query_id", "corpus_id", "cosine_micro")
    vecs = corpus.select(
        F.col(id_col).alias("corpus_id"),
        _unit(as_double_vec(vec_col)).alias("__cv"),
    ).join(
        F.broadcast(cand_ids.select("corpus_id").distinct()),
        "corpus_id",
        "left_semi",
    )
    # the vectors side is candidate-sized (|Q| x C rows at most) —
    # broadcast it so the pool build never shuffles the candidate set.
    # localCheckpoint (not persist): the pool is read k times and its
    # build subplan would otherwise be embedded in every round of the
    # unrolled greedy plan; eager materialization of a pool-sized frame
    # is free, truncates that lineage, and leaves no CacheManager entry
    # behind (checkpoint blocks are GC-cleaned, a persist with no
    # unpersist accumulates across calls — the r2 dedupe_corpus lesson)
    pool = (
        cand_ids.join(F.broadcast(vecs), "corpus_id")
        .select("query_id", "corpus_id", "cosine_micro", "__cv")
        .localCheckpoint(eager=True)
    )

    first = Window.partitionBy("query_id").orderBy(
        F.col("cosine_micro").desc(), F.col("corpus_id")
    )
    selected = (
        pool.withColumn("__rn", F.row_number().over(first))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .withColumn("mmr_rank", F.lit(1))
        .localCheckpoint(eager=True)
    )

    for r in range(2, k + 1):
        # selected is |Q| x (r-1) rows — broadcast on both uses so each
        # round is a map-side join over the (already small) pool
        remaining = pool.join(
            F.broadcast(selected.select("query_id", "corpus_id")),
            ["query_id", "corpus_id"],
            "left_anti",
        )
        sel = selected.select(
            F.col("query_id").alias("__sq"), F.col("__cv").alias("__sv")
        )
        scored = (
            remaining.join(F.broadcast(sel), remaining["query_id"] == sel["__sq"])
            .withColumn("__sim", micro6(_fast_dot(F.col("__cv"), F.col("__sv"))))
            .groupBy("query_id", "corpus_id")
            .agg(
                F.first("cosine_micro").alias("cosine_micro"),
                F.first("__cv").alias("__cv"),
                F.max("__sim").alias("__max_sim"),
            )
            .withColumn(
                "__score",
                F.lit(lambda_micro).cast("long") * F.col("cosine_micro")
                - F.lit(1_000_000 - lambda_micro).cast("long") * F.col("__max_sim"),
            )
        )
        nxt = Window.partitionBy("query_id").orderBy(
            F.col("__score").desc(), F.col("corpus_id")
        )
        pick = (
            scored.withColumn("__rn", F.row_number().over(nxt))
            .filter(F.col("__rn") == 1)
            .select("query_id", "corpus_id", "cosine_micro", "__cv")
            .withColumn("mmr_rank", F.lit(r))
        )
        # checkpoint per round: `selected` feeds two joins next round —
        # see the module docstring's 2^k plan-depth note
        selected = selected.unionByName(pick).localCheckpoint(eager=True)

    return selected.select("query_id", "corpus_id", "mmr_rank", "cosine_micro")


def rrf_fuse(
    systems: Sequence[tuple[str, DataFrame, str]],
    id_cols: Sequence[str],
    query_cols: Sequence[str] = (),
    k0: int = 60,
    weights_micro: dict[str, int] | None = None,
    topk: int | None = None,
    unbounded_ok: bool = False,
    unpartitioned_cap: int = 2_000_000,
) -> DataFrame:
    """Reciprocal rank fusion of retrieval outputs.

    `systems` is (name, frame, score_col) per ranking; each frame
    carries `id_cols` (the candidate identity, e.g. ["query_id",
    "corpus_id"] or just ["doc_id"]) plus its own score column —
    BM25 scores, cosine micros, recency priors, anything: RRF never
    compares scores across systems, only ranks within one. Each
    system's frame must hold ONE row per id (the natural shape of a
    retrieval output); duplicate ids would rank separately and both
    contribute, inflating n_systems.
    `query_cols` (subset of id_cols, empty for a single implicit
    query) partitions the per-system rank.

    Per system: rank = row_number over (score desc, remaining id_cols
    asc — deterministic ties); contribution = w_micro *
    (10^9 div (k0 + rank)) div 10^6, all bigint — exact on any
    partitioning and bit-replayable in ANSI SQL (certified by the
    rrf_hybrid_search probe). Fused rows carry (id_cols...,
    n_systems, rrf_nano) plus `rrf_rank` when `topk` is set
    (rrf_nano desc, id_cols asc, top `topk` per query group).

    Scale shape: inputs are top-k RETRIEVAL OUTPUTS (|Q| x k rows, not
    corpora), so every window and the fusion groupBy are candidate-
    pool-sized; per-query partitioning keeps the windows parallel. k0
    = 60 is the paper's constant; weights default to 1_000_000 (=1.0)
    per system.

    Misuse guard: with EMPTY `query_cols` the per-system rank is ONE
    window partition — a single reducer sorting the whole input. That
    is exactly right for a single query's k-sized candidate list and
    exactly wrong for a corpus, so each system is size-checked with a
    cheap early-stop count (`limit(cap+1).count()`) and the call
    raises past `unpartitioned_cap` rows. Pass `query_cols` (the
    partitioned path has no cap and no check), or `unbounded_ok=True`
    to assert the input is bounded by construction.
    """
    if not systems:
        raise ValueError("rrf_fuse requires at least one system")
    if k0 <= 0:
        raise ValueError("k0 must be positive")
    ids = list(id_cols)
    qcols = list(query_cols)
    if not set(qcols) <= set(ids):
        raise ValueError("query_cols must be a subset of id_cols")
    tie_cols = [c for c in ids if c not in qcols]
    weights_micro = weights_micro or {}
    if any(int(w) < 0 for w in weights_micro.values()):
        raise ValueError("weights_micro must be non-negative")
    if not qcols and not unbounded_ok:
        for name, frame, _ in systems:
            if frame.limit(unpartitioned_cap + 1).count() > unpartitioned_cap:
                raise ValueError(
                    f"rrf_fuse: system {name!r} exceeds "
                    f"{unpartitioned_cap} rows with no query_cols — the "
                    "unpartitioned rank window would sort it on one "
                    "reducer; pass query_cols, or unbounded_ok=True if "
                    "the input is bounded by construction"
                )
    parts = []
    for name, frame, score_col in systems:
        w_micro = int(weights_micro.get(name, 1_000_000))
        if qcols:
            win = Window.partitionBy(*qcols)
        else:
            win = Window.partitionBy(F.lit(1))
        win = win.orderBy(
            F.col("__s").desc(), *[F.col(c).asc() for c in tie_cols]
        )
        parts.append(
            frame.select(*ids, F.col(score_col).alias("__s"))
            .withColumn("__rrf_rank", F.row_number().over(win))
            .select(
                *ids,
                F.expr(
                    f"({w_micro}L * (1000000000L div ({k0} + __rrf_rank)))"
                    " div 1000000L"
                ).alias("__contrib"),
            )
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    fused = u.groupBy(*ids).agg(
        F.count(F.lit(1)).alias("n_systems"),
        F.sum("__contrib").alias("rrf_nano"),
    )
    if topk is None:
        return fused
    if qcols:
        w_out = Window.partitionBy(*qcols)
    else:
        w_out = Window.partitionBy(F.lit(1))
    w_out = w_out.orderBy(
        F.col("rrf_nano").desc(), *[F.col(c).asc() for c in tie_cols]
    )
    return (
        fused.withColumn("rrf_rank", F.row_number().over(w_out))
        .filter(F.col("rrf_rank") <= topk)
    )
