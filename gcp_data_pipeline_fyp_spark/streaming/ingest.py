"""Streaming ingest + windowed aggregation.

`stream_ingest_available_now` is the Structured Streaming rendering of
the reference's delta chain (SURVEY.md §2.5): CSV files landing in a
directory are discovered by the file source, deduplicated by event id
within the watermark, and merged into the warehouse table via
`foreachBatch` -> `merge_upsert` — exactly the anti-join + MERGE
semantics of `Delta Load Scripts/ods_delta_load2.py:140-190` /
`dw2_delta_load2.py:101-131`, but incremental per micro-batch and
restartable from the checkpoint.

Every `stream_*` ingest here is one batch operator run per micro-batch
on three shared helpers:

- `_feed` is the one place a `readStream` is set up: headered CSV or
  parquet, optional `maxFilesPerTrigger`, optional watermark +
  `dropDuplicatesWithinWatermark`;
- `_run_available_now` is the one `foreachBatch` +
  `Trigger.AvailableNow` site. It dedups and persists each batch once
  for its fold and skips the data-less batch AvailableNow runs to
  flush dedup state;
- `_fold_state` is the one replay guard for distributive-but-not-
  idempotent state (counts, sums): it refuses a state table from a
  foreign checkpoint lineage, skips a batch the state already holds,
  and otherwise stamps `(__stream_id, __last_batch_id)` onto the merged
  state and promotes it by staging + `Warehouse.swap`. Plain appends
  guard themselves with `batch_already_appended`.

`windowed_event_counts` is the watermarked tumbling-window aggregation
(the streaming measure layer); in batch mode the same function body
answers the DuckDB-checked `windowed_counts` probe — one definition,
two execution modes, which is the point of Structured Streaming.

Scale notes: the file source scales by listing (use
`maxFilesPerTrigger` to bound batch size); dedup state is bounded by
the watermark horizon; `foreachBatch` runs the merge as a normal batch
join so all the batch-side partitioning applies.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from gcp_data_pipeline_fyp_spark.operators.merge import (
    merge_upsert,
    merge_upsert_partitioned,
)
from gcp_data_pipeline_fyp_spark.sources.tables import Warehouse

def checkpoint_stream_id(checkpoint_dir: str) -> str:
    """The stream's identity from its checkpoint metadata — the key
    every replay-guarded ingest stamps into its state so a state
    table from a DIFFERENT checkpoint lineage (whose batch ids are
    not comparable) raises instead of silently double-counting."""
    import json as _json
    import os as _os

    with open(_os.path.join(checkpoint_dir, "metadata")) as fh:
        return _json.load(fh)["id"]


def batch_already_appended(
    wh: Warehouse, table: str, batch_id: int, col: str = "__batch_id"
) -> bool:
    """True if `table` already carries rows stamped with `batch_id` —
    the idempotent-append probe used by every foreachBatch ingest
    whose output rides a plain append (a crash between append and
    state swap re-delivers the batch; the probe turns the re-append
    into a no-op). `col` names the stamp column: newer ingests stamp
    `__batch_id`; the validated ingest's report/quarantine tables,
    the monitors' reports and the index ledger predate the
    convention and stamp `batch_id`.

    COMMIT-PROTOCOL ASSUMPTION (documented, not hidden): the probe
    treats ANY committed row with `batch_id` as "the whole batch
    landed". That holds under Spark's default Hadoop commit protocol
    (FileOutputCommitter v1, job-level commit: task files surface in
    the destination only at job commit, so a crash mid-WRITE leaves
    zero visible rows and the replay re-appends cleanly). What it
    does NOT cover is a crash inside the job-commit rename loop
    itself — a window of sequential renames in which some files are
    visible and some are not; a replay would then skip the re-append
    and silently drop the unrenamed files' rows. On a real object
    store, use a committer with atomic job commit (or a table format
    with a transaction log) and this probe is exact; do not run these
    ingests with FileOutputCommitter v2 (task-level visibility),
    which widens that window to the whole write."""
    return wh.exists(table) and (
        wh.read(table)
        .filter(F.col(col) == batch_id)
        .limit(1)
        .count()
        > 0
    )


def _feed(
    spark: SparkSession,
    input_dir: str,
    schema_ddl: str,
    parquet: bool = False,
    max_files: int | None = None,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    ts_col: str | None = None,
    watermark: str | None = None,
    dedup_cols: list[str] | None = None,
) -> DataFrame:
    """The file-source stream every ingest reads: headered CSV (the
    delta-chain convention), or parquet for feeds carrying types CSV
    cannot represent (array<double> embeddings). `max_files` bounds a
    batch (`maxFilesPerTrigger`); `transform` runs on the raw rows;
    `dedup_cols` drops re-deliveries within the `watermark` horizon of
    `ts_col`."""
    reader = spark.readStream.schema(schema_ddl)
    if max_files is not None:
        reader = reader.option("maxFilesPerTrigger", max_files)
    if parquet:
        feed = reader.parquet(input_dir)
    else:
        feed = reader.option("header", True).csv(input_dir)
    if transform is not None:
        feed = transform(feed)
    if dedup_cols:
        feed = feed.withWatermark(ts_col, watermark)
        feed = feed.dropDuplicatesWithinWatermark(dedup_cols)
    return feed


def _run_available_now(
    feed: DataFrame,
    fold: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    dedup_cols: list[str] | None = None,
) -> StreamingQuery:
    """Run `fold(batch, batch_id)` over every micro-batch of what is
    available now, then stop; a re-run resumes from the checkpoint and
    sees only new files.

    The batch is deduplicated on `dedup_cols` (watermark dedup keeps
    the first arrival per key across batches; this drops in-batch
    repeats) and persisted, so a fold may read it several times for
    one computation. Empty batches never reach the fold: AvailableNow
    + stateful dedup runs a trailing data-less batch to flush state,
    and folding it would append spurious all-zero report rows (and
    trip row_count lower bounds) or rewrite a table for nothing."""

    def _each(batch: DataFrame, batch_id: int) -> None:
        if dedup_cols:
            batch = batch.dropDuplicates(dedup_cols)
        batch = batch.persist()
        try:
            if not batch.isEmpty():
                fold(batch, batch_id)
        finally:
            batch.unpersist()

    return (
        feed.writeStream.foreachBatch(_each)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _fold_state(
    wh: Warehouse,
    table: str,
    checkpoint_dir: str,
    batch_id: int,
    part: DataFrame,
    merge: Callable[[DataFrame, DataFrame], DataFrame],
) -> bool:
    """Fold one batch's partial state `part` into the persisted state
    `table` as `merge(prior, part)`, at most once per batch. Returns
    False when the state already held the batch (a replay).

    Count/sum merges are distributive but NOT idempotent — replaying a
    merged batch double-counts. The guard is `__stream_id` (the
    checkpoint's persisted query id) + `__last_batch_id`, stamped on
    every state row and promoted in the SAME staging + swap as the
    data, so state and mark can never disagree even across a crash
    mid-promotion. Within one checkpoint lineage foreachBatch
    re-delivers only the LAST batch, so `batch_id <=
    max(__last_batch_id)` identifies every already-merged delivery,
    which leaves the state as it is. Batch ids from a DIFFERENT
    checkpoint (deleted/recreated) are NOT comparable — the source
    renumbers and re-delivers everything, so silently applying the id
    guard would both double-count replayed files and DROP files that
    arrived after the old high-water mark. That case raises instead.

    Either way the state afterwards holds this batch: derive anything
    (reports, rates) from the table as read after this call, and
    append what is derived after it too. An append then needs its
    `batch_already_appended` probe only on a replay: a batch the state
    did not hold cannot have reached any append yet."""
    sid = checkpoint_stream_id(checkpoint_dir)
    if wh.exists(table):
        prior = wh.read(table)
        mark = prior.select(
            F.max("__stream_id").alias("sid"),
            F.max("__last_batch_id").alias("m"),
        ).first()
        if mark["sid"] is not None and mark["sid"] != sid:
            raise ValueError(
                f"state table {table!r} was built by stream {mark['sid']} "
                f"but this checkpoint is {sid}: batch ids are "
                "not comparable across checkpoints (every file "
                "re-delivers under new numbering). Drop the state table "
                "to rebuild it under this checkpoint, or restart from "
                "the original checkpoint directory."
            )
        if mark["m"] is not None and batch_id <= mark["m"]:
            return False
        part = merge(prior.drop("__stream_id", "__last_batch_id"), part)
    staging = f"{table}__staging"
    wh.overwrite(
        part.withColumn("__stream_id", F.lit(sid)).withColumn(
            "__last_batch_id", F.lit(batch_id)
        ),
        staging,
    )
    wh.swap(staging, table)
    return True



def stream_ingest_available_now(
    spark: SparkSession,
    input_dir: str,
    schema_ddl: str,
    event_id_cols: list[str],
    ts_col: str,
    wh: Warehouse,
    table: str,
    checkpoint_dir: str,
    watermark: str = "1 day",
    transform: Callable[[DataFrame], DataFrame] | None = None,
    partition_col: str | None = None,
) -> StreamingQuery:
    """CSV directory -> watermarked dedup -> foreachBatch merge into `table`.

    Processes everything currently available, then stops (the
    `Trigger.AvailableNow` rendering of the daily delta job); re-running
    resumes from the checkpoint and picks up only new files.

    With `partition_col` set (and the merge key stable within a
    partition — e.g. a date bucket derived from an immutable event
    field), each micro-batch merge is partition-scoped: only base
    partitions present in the batch are joined and promoted, so a small
    batch against a large table never rewrites the whole table — same
    discipline as the batch delta path (plans/delta.py).
    """
    feed = _feed(
        spark, input_dir, schema_ddl, transform=transform, ts_col=ts_col,
        watermark=watermark, dedup_cols=event_id_cols,
    )

    def _merge_batch(batch: DataFrame, batch_id: int) -> None:
        _merge_into(wh, table, batch, event_id_cols, partition_col)

    return _run_available_now(feed, _merge_batch, checkpoint_dir, event_id_cols)


def _merge_into(
    wh: Warehouse,
    table: str,
    batch: DataFrame,
    event_id_cols: list[str],
    partition_col: str | None,
) -> None:
    """MERGE one (already in-batch-deduplicated) micro-batch into `table`.

    Every write below carries a REBALANCE hint (guide §6 / §2.2): the
    merge output's partition count otherwise inherits
    `spark.sql.shuffle.partitions` (sized to CORES), so each batch of a
    32-core run wrote 4x the files of an 8-core run for identical data
    — measured r13 as genuine inverse scaling of this leg (32-core
    1.97x slower; dropping the partition count recovered ~90% of it).
    REBALANCE makes AQE size the write partitions by bytes
    (advisoryPartitionSizeInBytes), so file count follows DATA SIZE at
    any scale: one file per small micro-batch locally, ~64 MB files on
    a fact-scale partition-scoped merge — never one file per core."""
    part_cols = [partition_col] if partition_col else None
    staging = f"{table}__staging"
    if wh.exists(table):
        # land the merge in a staging dir, then promote by RENAME —
        # never a read-back-rewrite of the base (which would double
        # the write volume and race the lazy base scan)
        base = wh.read(table)
        if partition_col:
            merged = merge_upsert_partitioned(
                base, batch.select(*base.columns), event_id_cols, partition_col
            )
            wh.overwrite(
                merged.hint("rebalance", partition_col),
                staging,
                partition_cols=part_cols,
            )
            wh.swap_partitions(staging, table, partition_col)
        else:
            merged = merge_upsert(base, batch.select(*base.columns), event_id_cols)
            wh.overwrite(merged.hint("rebalance"), staging)
            wh.swap(staging, table)
    else:
        first = batch.hint("rebalance", partition_col) if partition_col else batch.hint("rebalance")
        wh.overwrite(first, table, partition_cols=part_cols)


def stream_validated_ingest(
    spark: SparkSession,
    input_dir: str,
    schema_ddl: str,
    event_id_cols: list[str],
    ts_col: str,
    wh: Warehouse,
    table: str,
    checkpoint_dir: str,
    rules: list,
    watermark: str = "1 day",
    partition_col: str | None = None,
    report_table: str = "EXPECTATIONS_LOG",
    quarantine_table: str | None = None,
    zonemap_cols: list[str] | None = None,
) -> StreamingQuery:
    """Validated streaming ingest: per micro-batch, the declarative
    expectations suite (operators/expectations.py) runs BEFORE the
    merge — the streaming rendering of the ingest-promotion gate.

    Per batch:
    - the full rule report (rule, kind, target, n_violations, passed)
      is appended to `report_table` stamped with the batch id — an
      append-only audit log of feed health over time;
    - rows violating any ROW-LEVEL rule (not_null / accepted_values /
      in_range / matches_regex / satisfies) are split out; with
      `quarantine_table` set they append there (the dead-letter
      pattern, reference S10) instead of silently vanishing;
    - only clean rows merge into `table`.

    Aggregate-shaped rules (unique / row_count / referential) can't
    name individual rows; they gate via the report, not the split.
    `zonemap_cols` keeps the table's skipping index (operators/
    zonemap.py) fresh after each batch's merge, so interval reads on a
    streamed table prune files without a manual rebuild.
    Scale: the report is rules-sized, the split is one filter over the
    batch, and the merge is the partition-scoped batch path — nothing
    here holds streaming state beyond the dedup watermark.
    """
    from gcp_data_pipeline_fyp_spark.operators.expectations import (
        expectations_report,
        row_violation,
    )

    feed = _feed(
        spark, input_dir, schema_ddl, ts_col=ts_col, watermark=watermark,
        dedup_cols=event_id_cols,
    )
    violated = row_violation(rules)

    def _validate_and_merge(batch: DataFrame, batch_id: int) -> None:
        # foreachBatch is at-least-once: on a replay after a mid-batch
        # failure the MERGE is naturally idempotent, but the appends
        # are not — each append-only table is its OWN replay ledger
        # (probe its batch_id before appending). Guarding quarantine
        # with the report ledger would leave a crash window between
        # the two appends that duplicates dead-letter rows on replay.
        already_logged = batch_already_appended(
            wh, report_table, batch_id, col="batch_id"
        )
        clean = batch
        if violated is not None:
            if quarantine_table is not None and not batch_already_appended(
                wh, quarantine_table, batch_id, col="batch_id"
            ):
                # rebalance: dead-letter appends are a (usually tiny)
                # filtered slice of the batch — without the clamp each
                # append lands one file PER PARTITION of the batch
                # (cores-sized), decaying the quarantine into
                # core-count x batches files
                wh.append(
                    batch.filter(violated)
                    .withColumn("batch_id", F.lit(batch_id).cast("long"))
                    .hint("rebalance"),
                    quarantine_table,
                )
            clean = batch.filter(~violated)
        if not already_logged:
            report = expectations_report(batch, rules).withColumn(
                "batch_id", F.lit(batch_id).cast("long")
            )
            wh.append(report, report_table)
        _merge_into(wh, table, clean, event_id_cols, partition_col)
        if zonemap_cols:
            # keep the skipping index fresh as the stream appends:
            # stats only the batch's new files (operators/zonemap.
            # refresh_zonemap); entries for files the merge rewrote go
            # stale and are ignored by prune_files, so pruned reads
            # stay exact between (occasional) full rebuilds
            from gcp_data_pipeline_fyp_spark.operators.zonemap import (
                refresh_zonemap,
            )

            refresh_zonemap(wh, table, zonemap_cols)

    return _run_available_now(
        feed, _validate_and_merge, checkpoint_dir, event_id_cols
    )


def windowed_event_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "1 hour",
    watermark: str | None = "2 hours",
) -> DataFrame:
    """Tumbling-window counts per key; watermark applies on streaming input."""
    df = events
    if watermark is not None and df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(
            F.window(F.col(ts_col), window).alias("w"),
            F.col(key_col).alias("lb_type"),
        )
        .agg(F.count("*").alias("total_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "lb_type",
            "total_events",
        )
    )


def reprocess_quarantine(
    wh: Warehouse,
    quarantine_table: str,
    rules: list,
    table: str,
    event_id_cols: list[str],
    partition_col: str | None = None,
) -> dict[str, int]:
    """Close the dead-letter loop: re-validate quarantined rows under a
    (presumably fixed) rule set, merge the now-clean ones into the
    target, and rewrite the quarantine with only the still-failing
    remainder. Returns {"released": n, "remaining": n}.

    The batch_id stamp rides along in the quarantine but is dropped
    before the merge (the target table never carries it). Batch-sized
    work only: one filter split + the idempotent partition-scoped merge.
    """
    from gcp_data_pipeline_fyp_spark.operators.expectations import row_violation

    q = wh.read(quarantine_table).persist()
    try:
        violated = row_violation(rules)
        if violated is None:
            violated = F.lit(False)
        clean = q.filter(~violated).drop("batch_id")
        still_bad = q.filter(violated)
        released = clean.count()
        remaining = still_bad.count()
        if released:
            _merge_into(
                wh, table, clean.dropDuplicates(event_id_cols), event_id_cols,
                partition_col,
            )
        # rewrite via staging + swap: overwriting the table we are
        # still lazily reading would race the scan
        wh.overwrite(still_bad, f"{quarantine_table}__staging")
        wh.swap(f"{quarantine_table}__staging", quarantine_table)
        return {"released": released, "remaining": remaining}
    finally:
        q.unpersist()


def stream_dedup_ingest(
    spark: SparkSession,
    input_dir: str,
    schema_ddl: str,
    key_cols: list[str],
    id_col: str,
    ts_col: str,
    wh: Warehouse,
    table: str,
    index_name: str,
    checkpoint_dir: str,
    watermark: str = "1 day",
) -> StreamingQuery:
    """Streaming ingest deduplicated against the PERSISTED content-
    digest index (operators/dedup.py:build_digest_index) — history-
    aware dedup at the feed, not just within the watermark.

    `dropDuplicatesWithinWatermark` only sees ids inside its state
    horizon; a document re-delivered a month later sails through. Per
    micro-batch this path: (1) in-batch exact dedup, (2) LEFT ANTI
    join of the batch's 16-byte content digests against the persisted
    index — the base side is the index read, never a corpus scan,
    (3) appends the survivors to `table`, then (4) folds their digests
    into the index so the NEXT batch (and the next run) dedups against
    base ∪ everything ingested so far.

    Replay semantics (foreachBatch is at-least-once): rows append
    BEFORE digests, so a crash between the two writes self-heals — the
    replayed batch's rows merge idempotently by content (their digests
    are still absent, the anti-join passes them, and the append is the
    same rows), then digests land. A FULLY completed batch that
    replays is dropped entirely by the anti-join — the index itself is
    the replay ledger; duplicate digests from a crash inside step (4)
    are harmless (the anti-join semantics don't change) and are
    reaped by the next index rebuild.

    Scale: batch-sized work throughout — the only per-batch read of
    anything corpus-sized is the digest index (16 bytes/doc, ~1/10^4
    of corpus bytes)."""
    from gcp_data_pipeline_fyp_spark.operators.dedup import (
        _content_digest,
        exact_dedup,
        incremental_dedup_indexed,
    )

    feed = _feed(
        spark, input_dir, schema_ddl, ts_col=ts_col, watermark=watermark,
        dedup_cols=[id_col],
    )

    def _dedup_and_append(batch: DataFrame, batch_id: int) -> None:
        fresh = incremental_dedup_indexed(
            wh, exact_dedup(batch, key_cols, id_col), key_cols, index_name,
            update_index=False,
        ).localCheckpoint()
        if fresh.isEmpty():
            return
        wh.append(fresh, table)
        wh.append(
            fresh.select(_content_digest(key_cols).alias("digest")).distinct(),
            f"{index_name}__digests",
        )

    return _run_available_now(feed, _dedup_and_append, checkpoint_dir, [id_col])


def stream_rollup_ingest(
    spark: SparkSession,
    input_dir: str,
    schema_ddl: str,
    keys: list[str],
    sum_cols: list[str],
    wh: Warehouse,
    state_table: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Streaming mergeable-rollup maintenance: each micro-batch
    reduces to a partial-aggregate state (operators/rollup.py
    rollup_state — count + exact decimal sums, group-key-sized) and
    MERGES into the persisted state, so the serving table is always
    one `finalize_state` read away and the per-batch work never
    rescans history.

    Count/sum merges are distributive but NOT idempotent — replaying
    a merged batch double-counts, so this needs a replay guard. The
    guard is `__stream_id` (the checkpoint's persisted query id) +
    `__last_batch_id`, stamped on every state row and promoted in the
    SAME staging+swap as the data, so state and mark can never
    disagree even across a crash mid-promotion. Within one checkpoint
    lineage foreachBatch re-delivers only the LAST batch, so
    `batch_id <= max(__last_batch_id)` identifies every
    already-merged delivery. Batch ids from a DIFFERENT checkpoint
    (deleted/recreated) are NOT comparable — the source renumbers and
    re-delivers everything, so silently applying the id guard would
    both double-count replayed files and DROP files that arrived
    after the old high-water mark. That case raises instead: rebuild
    the state table with the new checkpoint, or keep the original
    checkpoint directory."""
    from gcp_data_pipeline_fyp_spark.operators.rollup import (
        merge_states,
        rollup_state,
    )

    feed = _feed(spark, input_dir, schema_ddl, max_files=max_files_per_trigger)

    def _fold(batch: DataFrame, batch_id: int) -> None:
        _fold_state(
            wh, state_table, checkpoint_dir, batch_id,
            rollup_state(batch, keys, sum_cols),
            lambda prior, part: merge_states([prior, part], keys),
        )

    return _run_available_now(feed, _fold, checkpoint_dir)


def _sum_counts(keys: list[str], count_col: str):
    """The merge of count states keyed by `keys`: sum `count_col`."""

    def merge(prior: DataFrame, part: DataFrame) -> DataFrame:
        return (
            prior.select(*keys, count_col)
            .unionByName(part)
            .groupBy(*keys)
            .agg(F.sum(count_col).alias(count_col))
        )

    return merge


def stream_drift_monitor(
    spark: SparkSession,
    input_dir: str,
    schema_ddl: str,
    value_col: str,
    group_cols: list[str],
    wh: Warehouse,
    profile_table: str,
    state_table: str,
    report_table: str,
    checkpoint_dir: str,
    n_bins: int = 10,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Streaming PSI drift monitor: every micro-batch bins against the
    PERSISTED base profile (operators/profile.py:fit_psi_profile — the
    |groups|·n_bins state fitted once from the training snapshot),
    folds its per-(group, bin) counts into a cumulative state table,
    and appends the resulting per-group PSI to a report table — drift
    of the ENTIRE streamed corpus vs the base, per batch, without ever
    rescanning history.

    Count folds are distributive but not idempotent, so the state
    carries the `stream_rollup_ingest` replay guard: (__stream_id,
    __last_batch_id) stamped in the SAME staging+swap as the counts —
    a replayed batch is skipped before any merge, and a state table
    from a different checkpoint lineage raises instead of silently
    double-counting. The report row appends AFTER the state swap,
    computed from the state as of its batch; a crash inside that
    window is healed by the replay, which finds the batch in the state
    and appends the row it is missing (probed by batch id), so the
    report has exactly one row per (batch, group).

    Scale: per batch, one scan of the batch (map-side-combinable
    count), then profile-sized joins; state and report are
    |groups|-sized. The base corpus is never re-read.
    """
    from gcp_data_pipeline_fyp_spark.operators.profile import (
        bin_against_profile,
        psi_from_profile,
    )

    feed = _feed(spark, input_dir, schema_ddl, max_files=max_files_per_trigger)

    def _fold(batch: DataFrame, batch_id: int) -> None:
        profile = wh.read(profile_table)
        part = bin_against_profile(batch, profile, value_col, group_cols, n_bins)
        merged = _fold_state(
            wh, state_table, checkpoint_dir, batch_id, part,
            _sum_counts([*group_cols, "bin"], "cur_cnt"),
        )
        if not merged and batch_already_appended(
            wh, report_table, batch_id, col="batch_id"
        ):
            return
        report = psi_from_profile(
            profile,
            wh.read(state_table).select(*group_cols, "bin", "cur_cnt"),
            group_cols,
            n_bins,
        ).withColumn("batch_id", F.lit(batch_id))
        wh.append(report, report_table)

    return _run_available_now(feed, _fold, checkpoint_dir)


def stream_retrain_monitor(
    spark: SparkSession,
    input_dir: str,
    schema_ddl: str,
    id_col: str,
    vec_col: str,
    wh: Warehouse,
    index_name: str,
    state_table: str,
    report_table: str,
    checkpoint_dir: str,
    psi_threshold_micro: int = 250_000,
    vec_sep: str | None = "|",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Streaming ANN-index retrain trigger: every micro-batch of new
    embeddings is assigned against the PERSISTED IVF codebook
    (`build_ivf_index`'s `{name}__centroids` — no refit, the DEPLOY.md
    cadence), the per-centroid counts fold into a cumulative state
    table, and a report row lands per batch with the PSI between the
    index's TRAINING assignment distribution (the
    `{index_name}__train_mix` snapshot `build_ivf_index` persists —
    frozen at build time, so the baseline never absorbs the very
    drift being measured even while `stream_index_ingest` appends
    every batch into the postings; a legacy index without the
    snapshot falls back to one postings count) and the
    streamed-so-far distribution —
    `retrain = psi > threshold`, the streaming rendition of
    `similarity.ivf_retrain_decision`.

    State discipline is `stream_drift_monitor`'s exactly: counts fold
    via staging+swap stamped with (__stream_id, __last_batch_id), so
    a replayed batch is skipped before any merge and a state table
    from a foreign checkpoint lineage raises instead of silently
    double-counting. The report appends AFTER the swap; a replay after
    a crash in that window appends the missing row.

    Scale: per batch, one broadcast-codebook assignment scan of the
    batch plus n_centroids-sized math; the training distribution and
    the codebook size are read ONCE at stream construction
    (n_centroids rows held on the driver; the size picks `_assign`'s
    form, so a codebook above its fold ceiling takes the shuffle
    form); the corpus is never re-read. `vec_sep` parses a
    delimited-string vector column from CSV feeds; pass None when the
    stream already carries array<double> (parquet feeds).
    """
    from gcp_data_pipeline_fyp_spark.operators.profile import (
        psi_from_joint_counts,
    )
    from gcp_data_pipeline_fyp_spark.operators.similarity import _assign

    cent = wh.read(f"{index_name}__centroids").select(
        "centroid_id", F.col("centroid").alias("__centroid")
    )
    n_centroids = cent.count()
    if wh.exists(f"{index_name}__train_mix"):
        base_df = wh.read(f"{index_name}__train_mix")
    else:
        # legacy index persisted before the snapshot existed: one live
        # count (caveat stated in the docstring — rebuild to pin it)
        base_df = (
            wh.read(f"{index_name}__postings")
            .groupBy("centroid_id")
            .agg(F.count(F.lit(1)).alias("n"))
        )
    base_rows = [
        (int(r["centroid_id"]), int(r["n"]))
        for r in base_df.collect()  # n_centroids rows — scalar-bounded
    ]

    feed = _feed(
        spark, input_dir, schema_ddl, parquet=vec_sep is None,
        max_files=max_files_per_trigger,
    )

    def _fold(batch: DataFrame, batch_id: int) -> None:
        vecs = batch.select(
            F.col(id_col).alias("corpus_id"),
            _vec_expr(vec_col, vec_sep).alias("__cv")
        ).filter(F.col("__cv").isNotNull())
        part = (
            _assign(vecs, cent, n_centroids)
            .groupBy("centroid_id")
            .agg(F.count(F.lit(1)).alias("cur_cnt"))
        )
        merged = _fold_state(
            wh, state_table, checkpoint_dir, batch_id, part,
            _sum_counts(["centroid_id"], "cur_cnt"),
        )
        if not merged and batch_already_appended(
            wh, report_table, batch_id, col="batch_id"
        ):
            return
        # PSI over the centroid-id mix: training distribution vs the
        # streamed-so-far cumulative — THE shared counts-level algebra
        # (operators/profile.py:psi_from_joint_counts), so this can
        # never drift from psi_categorical / ivf_retrain_decision
        base = spark.createDataFrame(base_rows, "centroid_id int, __cb long")
        cur = wh.read(state_table).select(
            "centroid_id", F.col("cur_cnt").alias("__cc")
        )
        pooled = base.join(cur, "centroid_id", "full").select(
            F.coalesce("__cb", F.lit(0)).alias("__cb"),
            F.coalesce("__cc", F.lit(0)).alias("__cc"),
        )
        report = (
            psi_from_joint_counts(pooled, [])
            .select(
                "n_base",
                "n_cur",
                "n_cats",
                "psi_micro",
                (F.col("psi_micro") > F.lit(psi_threshold_micro)).alias(
                    "retrain"
                ),
            )
            .withColumn("batch_id", F.lit(batch_id).cast("long"))
        )
        wh.append(report, report_table)

    return _run_available_now(feed, _fold, checkpoint_dir)


def _vec_expr(vec_col: str, vec_sep: str | None):
    """The batch-side reading of `vec_sep`: parse the delimited string
    (CSV feeds) or pass the array column through (parquet feeds —
    CSV cannot represent arrays, so the two options are one choice)."""
    import re as _re

    if vec_sep is None:
        return F.col(vec_col)
    return F.transform(
        F.split(F.col(vec_col), _re.escape(vec_sep)),
        lambda x: x.cast("double"),
    )


def stream_index_ingest(
    spark: SparkSession,
    input_dir: str,
    schema_ddl: str,
    id_col: str,
    vec_col: str,
    wh: Warehouse,
    index_name: str,
    ledger_table: str,
    checkpoint_dir: str,
    vec_sep: str | None = "|",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Streaming vector-index ingest: each micro-batch of embeddings
    folds into the persisted IVF index via `append_ivf_index` — assign
    against the STORED centroids (no refit; rebuild cadence handles
    drift, see DEPLOY.md), append only the centroid partitions the
    batch touches. Queries through `ivf_topk_indexed` see new vectors
    as soon as their batch lands.

    Postings appends are not idempotent, so the fold is guarded by an
    append-only LEDGER table (batch_id rows, the
    `batch_already_appended` discipline): a replayed batch is skipped
    before the append. Order matters for the crash window between the
    two writes: ledger-first would silently DROP a batch whose
    postings append then crashed; postings-first can only DUPLICATE
    rows, which `similarity.dedup_index_postings` heals (and which
    queries over-recall rather than miss in the meantime) — so
    postings go first, the recoverable failure mode, and the
    trade-off is stated here rather than hidden.

    Completes the streaming vector pipeline: stream_index_ingest →
    stream_retrain_monitor → rebuild.
    """
    from gcp_data_pipeline_fyp_spark.operators.similarity import (
        append_ivf_index,
    )

    feed = _feed(
        spark, input_dir, schema_ddl, parquet=vec_sep is None,
        max_files=max_files_per_trigger,
    )

    def _fold(batch: DataFrame, batch_id: int) -> None:
        if batch_already_appended(wh, ledger_table, batch_id, col="batch_id"):
            return
        vecs = batch.select(
            F.col(id_col).alias("__vid"),
            _vec_expr(vec_col, vec_sep).alias("__vec"),
        ).filter(F.col("__vec").isNotNull())
        append_ivf_index(wh, vecs, "__vid", "__vec", index_name)
        n = vecs.count()
        wh.append(
            spark.createDataFrame(
                [(int(batch_id), int(n))], "batch_id long, n_vectors long"
            ),
            ledger_table,
        )

    return _run_available_now(feed, _fold, checkpoint_dir)


def _append_kept(
    wh: Warehouse, kept: DataFrame, out_table: str, batch_id: int, merged: bool
) -> None:
    """Append a state-gated ingest's keepers for `batch_id`, once: on a
    replay (`merged` False) the keepers may have landed already."""
    if merged or not batch_already_appended(wh, out_table, batch_id):
        wh.append(
            kept.withColumn("__batch_id", F.lit(batch_id).cast("long")),
            out_table,
        )


def stream_match_ingest(
    spark: SparkSession,
    input_dir: str,
    schema_ddl: str,
    key_cols: list[str],
    bucket_col: str,
    reference: DataFrame,
    wh: Warehouse,
    out_table: str,
    state_table: str,
    checkpoint_dir: str,
    ref_bucket_col: str | None = None,
    seed: int = 0,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Streaming distribution matching: the batch reshaper
    (operators/sampling.py:distribution_match_sample) as an ingest —
    each micro-batch folds its per-bucket counts into a persisted
    SOURCE-PROFILE state (mergeable: plain count sums), derives the
    current keep rates from (cumulative profile, frozen reference
    profile) through the exact integer algebra of
    `match_rates_from_counts`, applies the module's md5 membership
    rule to the batch's rows, and appends the keepers to `out_table`.

    The reference profile is aggregated ONCE at wiring time and
    pinned (localCheckpoint) — the target shape is a curated corpus,
    not a moving stream.

    RATE-DRIFT CAVEAT (inherent, documented not hidden): rates are
    computed from the profile AS OF each batch, so early batches are
    sampled under a less-informed profile than late ones — the
    accumulated `out_table` is NOT bit-equal to re-running the batch
    reshaper over the full history (that run would sample every row
    under the FINAL rates). Because membership is the seeded hash
    rule and rates only ever *reshape* monotone-ish profiles, each
    row's keep decision is still deterministic given its batch's
    profile; for an exact retrospective sample, run
    `distribution_match_sample` over the accumulated raw corpus
    instead. The nested-sample property holds per bucket between any
    two batches whose rate moved monotonically (hash rule nesting) —
    not globally.

    Replay discipline is stream_rollup_ingest's: count sums fold
    distributively but not idempotently, so (__stream_id,
    __last_batch_id) ride the state's staging+swap; a replayed batch
    skips the merge and still derives its rates from the state, which
    already holds it. The keeper append comes AFTER the swap and, on
    a replay, is guarded by a batch_id probe of `out_table` itself (a
    crash between swap and append re-delivers into the missing
    append, a crash after the append into a no-op; an all-dropped
    batch re-appends nothing, harmlessly). A state table from a
    different checkpoint lineage raises instead of silently
    double-counting.

    Scale: state is |buckets| rows; rates are |buckets| rows
    (broadcast join onto the batch); per-batch work is one batch-
    sized aggregation + one broadcast filter join — no history
    rescans, nothing corpus-sized shuffles.
    """
    from gcp_data_pipeline_fyp_spark.operators.sampling import (
        hash_bucket,
        match_rates_from_counts,
    )

    rb = ref_bucket_col or bucket_col
    ref_counts = (
        reference.groupBy(F.col(rb).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n_ref"))
        .localCheckpoint(eager=True)
    )

    feed = _feed(spark, input_dir, schema_ddl, max_files=max_files_per_trigger)

    def _fold(batch: DataFrame, batch_id: int) -> None:
        bc = batch.groupBy(F.col(bucket_col).alias("bucket")).agg(
            F.count(F.lit(1)).alias("n_src")
        )
        merged = _fold_state(
            wh, state_table, checkpoint_dir, batch_id, bc,
            _sum_counts(["bucket"], "n_src"),
        )
        rates = match_rates_from_counts(
            wh.read(state_table).select("bucket", "n_src"), ref_counts
        )
        r = F.broadcast(
            rates.select(F.col("bucket").alias("__mb"), "rate_micro")
        )
        kept = (
            batch.join(r, F.col(bucket_col).eqNullSafe(F.col("__mb")), "inner")
            .filter(hash_bucket(key_cols, seed) < F.col("rate_micro"))
            .drop("__mb", "rate_micro")
        )
        _append_kept(wh, kept, out_table, batch_id, merged)

    return _run_available_now(feed, _fold, checkpoint_dir)


def stream_dsir_ingest(
    spark: SparkSession,
    input_dir: str,
    schema_ddl: str,
    id_col: str,
    text_col: str,
    target: DataFrame,
    min_logw: float,
    wh: Warehouse,
    out_table: str,
    state_table: str,
    checkpoint_dir: str,
    target_text_col: str | None = None,
    n_buckets: int | None = None,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Streaming DSIR selection (operators/dsir.py as an ingest): each
    micro-batch folds its hashed-ngram bucket counts into a persisted
    RAW-PROFILE state (mergeable: plain count sums, <= n_buckets
    rows), derives the current target/raw log-ratio table from
    (cumulative raw profile, frozen target profile), scores the
    batch's docs with the module's exact scoring half
    (`score_against_ratios` — the same decimal-pinned chain the batch
    probes certify), and appends docs with logw >= `min_logw` to
    `out_table` (with their logw/n_feats columns for downstream
    resampling).

    The TARGET profile is aggregated once at wiring time and pinned
    (localCheckpoint) — the target is a curated corpus, not a stream.

    WEIGHT-DRIFT CAVEAT (inherent, documented not hidden): log-ratios
    are computed from the raw profile AS OF each batch, so early
    batches are gated under a less-informed raw profile than late
    ones — the accumulated `out_table` is NOT bit-equal to re-running
    `dsir_logweights` + a threshold over the full history. As the
    cumulative profile converges (bucket frequencies are ratios of
    monotone counts), per-batch weights converge to the batch
    equivalent; for an exact retrospective selection, score the
    accumulated raw corpus with the batch operator instead. A
    threshold gate is used rather than top-k because k-of-stream is
    not computable online without history rescans.

    Replay discipline is stream_match_ingest's: count sums fold
    distributively but not idempotently, so (__stream_id,
    __last_batch_id) ride the state's staging+swap; a replayed batch
    skips the merge, and the keeper append (after the swap) is
    guarded on a replay by a batch_id probe of `out_table` itself. A
    state table from a different checkpoint lineage raises instead of
    silently double-counting.

    Scale: state is <= n_buckets rows; the ratio table is broadcast
    by construction; per-batch work is one batch-sized explode +
    broadcast join + partially-aggregated per-doc sum — no history
    rescans, nothing corpus-sized shuffles.
    """
    from gcp_data_pipeline_fyp_spark.operators.dsir import (
        DEFAULT_BUCKETS,
        bucket_profile,
        dsir_log_ratios,
        score_against_ratios,
    )

    nb = n_buckets or DEFAULT_BUCKETS
    tgt_prof = bucket_profile(
        target, target_text_col or text_col, nb
    ).localCheckpoint(eager=True)

    # the keeper append carries the score columns; a feed that already
    # has them would write duplicate column names into out_table.
    # Spark column resolution is case-INsensitive by default, so the
    # check is too ('Logw' clashes with 'logw'). Parsed with Spark's
    # own DDL parser — a hand-rolled comma split misses backtick-
    # quoted names and mangles complex types with embedded commas
    # (map<string,int>), silently skipping a real collision
    from pyspark.sql.types import StructType

    feed_cols = {
        f.lower() for f in StructType.fromDDL(schema_ddl).fieldNames()
    }
    clash = {"logw", "n_feats"} & feed_cols
    if clash:
        raise ValueError(
            f"stream_dsir_ingest: feed schema already has {sorted(clash)} "
            "— rename those columns; the ingest appends its own."
        )

    feed = _feed(spark, input_dir, schema_ddl, max_files=max_files_per_trigger)

    def _fold(batch: DataFrame, batch_id: int) -> None:
        merged = _fold_state(
            wh, state_table, checkpoint_dir, batch_id,
            bucket_profile(batch, text_col, nb), _sum_counts(["bucket"], "c"),
        )
        ratios = dsir_log_ratios(
            wh.read(state_table).select("bucket", "c"), tgt_prof, nb
        )
        w = score_against_ratios(batch, id_col, ratios, text_col, nb)
        kept = batch.join(
            w.filter(F.col("logw") >= F.lit(float(min_logw))),
            id_col,
            "inner",
        )
        _append_kept(wh, kept, out_table, batch_id, merged)

    return _run_available_now(feed, _fold, checkpoint_dir)
