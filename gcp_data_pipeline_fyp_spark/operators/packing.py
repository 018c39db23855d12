"""Sequence packing — concatenate-and-chunk documents into token bins.

Training pipelines concatenate tokenized documents in a deterministic
order and slice the stream into fixed-length examples (`max_tokens`).
The assignment each document needs is its global START OFFSET in the
concatenated token stream; `pack_id = start_offset div max_tokens` is
then the training example its first token lands in (documents may span
pack boundaries — that is the concatenate-then-chunk semantics, the
splitting itself happens at tokenization time).

The start offset is a global running sum, and the training orders
below are global ranks: each is one `operators/prefix.py` distributed
prefix sum, never a single-partition `Window.orderBy`.

Rows with NULL token counts or NULL ids keep NULL offsets (they
contribute nothing to the stream) — coalesce upstream if they should
pack.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gcp_data_pipeline_fyp_spark.functions.ids import stable_event_id
from gcp_data_pipeline_fyp_spark.operators.prefix import (
    BUCKET,
    HASH_SPAN,
    PREFIX,
    prefix_sum,
)


def pack_sequences(
    df: DataFrame,
    id_col: str,
    n_tokens_col: str,
    max_tokens: int,
    bucket_span: int = 4096,
) -> DataFrame:
    """Add `start_offset` and `pack_id` columns (ordered by `id_col`).

    Deterministic: the pack layout is a pure function of the
    (id, n_tokens) pairs — stable across partitioning, retries, and
    engines, like everything else keyed in this package. The prefix
    bucket is `id div bucket_span`: order-preserving, and only as
    balanced as the ids.
    """
    # a NULL id rides in bucket 0 with a NULL count: the row stays,
    # gets NULL offsets and shifts no other row
    n = F.when(F.col(id_col).isNotNull(), F.col(n_tokens_col))
    # integral `div`, not float division + floor: exact for any int64 id
    bucket = F.coalesce(F.expr(f"{id_col} div {bucket_span}"), F.lit(0))
    out = prefix_sum(
        df.withColumn(BUCKET, bucket), BUCKET, [F.col(id_col).asc()], n
    )
    return out.select(
        *df.columns, (F.col(PREFIX) - n).alias("start_offset")
    ).withColumn("pack_id", F.expr(f"start_offset div {max_tokens}"))


def length_bucketed_batches(
    df: DataFrame,
    id_col: str,
    length_col: str,
    batch_size: int,
    seed: int = 0,
) -> DataFrame:
    """Assign rows to fixed-size batches of SIMILAR length ->
    (id, length bucket, batch_id) — the batching layout inference and
    training loops want: padding waste inside a batch is bounded by
    the bucket's length spread instead of the corpus-wide maximum.

    Buckets are powers of two of the length (floor(log2 n), computed
    as binary-digit count minus one — pure integer logic, no float
    log whose last ulp could disagree across engines at exact powers
    of two); within a
    bucket rows order by content hash (the `hash_sample` basis — an
    unbiased deterministic shuffle, so batch composition is stable
    across runs/engines and batches mix sources instead of clumping
    input order), and consecutive `batch_size` rows share a batch id.
    One shuffle (partition by bucket) + per-bucket rank; a single
    giant bucket serializes its sort — at corpus scale sub-split the
    hot bucket on a hash range exactly like `token_budget_sample`
    documents."""
    from gcp_data_pipeline_fyp_spark.operators.sampling import hash_bucket

    n = F.col(length_col).cast("long")
    bucket = (F.length(F.bin(F.greatest(n, F.lit(1)))) - 1).cast("int")
    w = Window.partitionBy(bucket).orderBy(
        hash_bucket([id_col], seed).asc(), F.col(id_col).asc()
    )
    rn = F.row_number().over(w)
    return df.filter(n > 0).select(
        F.col(id_col),
        bucket.alias("len_bucket"),
        F.floor((rn - 1) / batch_size).cast("int").alias("batch_id"),
    )


def epoch_shuffle_order(
    df: DataFrame,
    id_col: str,
    epoch: int,
) -> DataFrame:
    """Deterministic per-epoch global training order — every training
    run needs "shuffle the corpus differently each epoch, identically
    on every retry/restart". Adds `global_pos` (0-based, a bijection
    onto 0..n-1): the row's rank under the keyed permutation
    md5(epoch || '_' || id), tie-broken by id.

    The rank is a distributed prefix count (operators/prefix.py) whose
    bucket is the hash key's high bits. The key is uniform by
    construction, so bucket occupancy is ~n/N_BUCKETS REGARDLESS of
    the id distribution (pack_sequences' id-div bucketing is only as
    balanced as the ids).

    The key is `stable_event_id` (functions/ids.py), so a DuckDB
    oracle replays the exact permutation; chain the output into
    `pack_sequences` (ordered by global_pos) to get the epoch's
    packed layout.
    """
    keyed = df.withColumn(
        "__key", stable_event_id(F.lit(int(epoch)), id_col)
    ).withColumn(BUCKET, F.expr(f"__key div {HASH_SPAN}"))
    ranked = prefix_sum(
        keyed, BUCKET, [F.col("__key").asc(), F.col(id_col).asc()], F.lit(1)
    )
    return ranked.select(
        *df.columns, (F.col(PREFIX) - 1).cast("long").alias("global_pos")
    )


def interleave_by_source(
    df: DataFrame,
    id_col: str,
    source_col: str,
    weights: dict[str, float],
    epoch: int = 0,
) -> DataFrame:
    """Mixture-preserving training order — stride scheduling over
    sources: within each source rows take a seeded random order
    (rank_in_source, the same md5(epoch_id) permutation as
    `epoch_shuffle_order`), and the cross-source order key is
    `(rank_in_source + 0.5) / weight` — a weight-2 source appears
    twice as often as a weight-1 source at EVERY prefix of the stream,
    not just in expectation (the classic stride-scheduler invariant).
    `epoch_shuffle_order` randomizes globally; this keeps the mixture
    locally uniform, which is what curriculum-free training schedules
    want from a source mix.

    Emits `rank_in_source` (dense 0-based within source) and
    `interleave_micro` (the stride key in integer micro-units — write
    shards ordered by it; ties share a micro grain only when strides
    collide exactly, broken by id downstream). Ranks are
    `epoch_shuffle_order`'s hash-bucket prefix count partitioned by
    source: parallel within every source, no per-source
    single-partition sort.

    Unknown sources (no weight entry) are dropped with the filter
    stated here: a silent weight default would skew the mixture.
    Weights must be strictly positive, enforced eagerly: a 0.0 weight
    would make the stride division yield NULL interleave_micro
    (rows silently unsortable, not an error) and a negative weight
    would invert the source's order — both are configuration bugs,
    rejected with the same strictness as unknown sources.
    """
    bad = {s: w for s, w in weights.items() if not float(w) > 0.0}
    if bad:
        raise ValueError(
            f"interleave_by_source weights must be > 0; got {bad!r}"
        )
    src_w = [(s, float(w)) for s, w in sorted(weights.items())]
    wmap = F.create_map(
        *[F.lit(x) for sw in src_w for x in sw]
    )
    keyed = (
        df.filter(F.col(source_col).isin([s for s, _ in src_w]))
        .withColumn(
            "__key", stable_event_id(F.lit(int(epoch)), source_col, id_col)
        )
        .withColumn(BUCKET, F.expr(f"__key div {HASH_SPAN}"))
    )
    ranked = prefix_sum(
        keyed,
        BUCKET,
        [F.col("__key").asc(), F.col(id_col).asc()],
        F.lit(1),
        [source_col],
    ).withColumn("rank_in_source", (F.col(PREFIX) - 1).cast("long"))
    stride = (F.col("rank_in_source").cast("double") + 0.5) / wmap[
        F.col(source_col)
    ]
    from gcp_data_pipeline_fyp_spark.queries_util import micro6

    return ranked.select(
        *df.columns, "rank_in_source", micro6(stride).alias("interleave_micro")
    )
