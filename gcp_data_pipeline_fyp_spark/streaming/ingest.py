"""Streaming ingest + windowed aggregation.

`stream_validated_ingest` is the Structured Streaming rendering of the
reference's delta chain (SURVEY.md §2.5): CSV files landing in a
directory are discovered by the file source, deduplicated by event id
within the watermark, validated against a declarative rule suite, and
merged into the warehouse table via `foreachBatch` ->
`operators/merge.upsert` — the anti-join + MERGE semantics of
`Delta Load Scripts/ods_delta_load2.py:140-190` /
`dw2_delta_load2.py:101-131`, but incremental per micro-batch and
restartable from the checkpoint. A batch whose ids the table does not
hold yet (the steady case: re-sends die in the watermark dedup) is
appended; only a batch with a stored id (a replay after a crash that
followed the append, or a re-send older than the watermark) rewrites
the table through staging + `Warehouse.swap`. A steady round is one
micro-batch and 7 Spark jobs (local[4]): the report and quarantine
ledgers are probed only for the batch a restart re-delivers.
`stream_drift_monitor` folds each batch into a persisted PSI state
against a fitted base profile.

Both run one batch operator per micro-batch on three shared helpers:

- `_feed` is the one place a `readStream` is set up: headered CSV,
  optional `maxFilesPerTrigger`, optional watermark +
  `dropDuplicatesWithinWatermark`;
- `_run_available_now` is the one `foreachBatch` +
  `Trigger.AvailableNow` site. It dedups and persists each batch once
  for its fold, skips empty batches, and runs no data-less batch
  (dedup state is evicted at the end of the next data batch);
- `_fold_state` is the replay guard for distributive-but-not-
  idempotent state (counts): it refuses a state table from a foreign
  checkpoint lineage, skips a batch the state already holds, and
  otherwise stamps `(__stream_id, __last_batch_id)` onto the merged
  state and promotes it by staging + `Warehouse.swap`. Plain appends
  guard themselves with `batch_already_appended`, probed only for a
  batch a restart can re-deliver: one whose id the checkpoint's
  offset log held before the run started (`last_logged_batch`).

`windowed_event_counts` is the watermarked tumbling-window aggregation
(the streaming measure layer); in batch mode the same function body
answers the DuckDB-checked `windowed_counts` probe — one definition,
two execution modes, which is the point of Structured Streaming.

Scale notes: the file source scales by listing (use
`maxFilesPerTrigger` to bound batch size); dedup state is bounded by
the watermark horizon; the merge's probe scans the table's key column
against the broadcast batch keys, and a rewrite is a normal batch join
so all the batch-side partitioning applies. Appends grow the table by
about one file per batch; `maintain --compact` packs them.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from gcp_data_pipeline_fyp_spark.operators.merge import upsert
from gcp_data_pipeline_fyp_spark.sources.tables import Warehouse

def checkpoint_stream_id(checkpoint_dir: str) -> str:
    """The stream's identity from its checkpoint metadata — the key
    every replay-guarded ingest stamps into its state so a state
    table from a DIFFERENT checkpoint lineage (whose batch ids are
    not comparable) raises instead of silently double-counting."""
    with open(os.path.join(checkpoint_dir, "metadata")) as fh:
        return json.load(fh)["id"]


def last_logged_batch(checkpoint_dir: str) -> int:
    """The highest batch id in the checkpoint's offset log, -1 for a
    fresh checkpoint: a plain listing, no job. Read before a query
    starts, it bounds the one batch a restart can re-deliver (the last
    logged one, when its commit never landed); every later batch id is
    new to this checkpoint lineage."""
    try:
        names = os.listdir(os.path.join(checkpoint_dir, "offsets"))
    except FileNotFoundError:
        return -1
    return max((int(n) for n in names if n.isdigit()), default=-1)


def batch_already_appended(wh: Warehouse, table: str, batch_id: int) -> bool:
    """True if `table` already carries rows stamped `batch_id` in its
    `batch_id` column — the idempotent-append probe of every
    foreachBatch ingest whose output rides a plain append (a crash
    between append and state swap re-delivers the batch; the probe
    turns the re-append into a no-op).

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
    which widens that window to the whole write.

    Costs two jobs and two fresh generated classes per call (Spark
    names each LIMIT's counter uniquely), so callers probe only a batch
    that can be a replay: `batch_id <= last_logged_batch(...)` read
    before the start, or a batch `_fold_state` found already merged."""
    return wh.exists(table) and (
        wh.read(table)
        .filter(F.col("batch_id") == batch_id)
        .limit(1)
        .count()
        > 0
    )


def _feed(
    spark: SparkSession,
    input_dir: str,
    schema_ddl: str,
    max_files: int | None = None,
    ts_col: str | None = None,
    watermark: str | None = None,
    dedup_cols: list[str] | None = None,
) -> DataFrame:
    """The headered-CSV file-source stream every ingest reads (the
    delta-chain convention). `max_files` bounds a batch
    (`maxFilesPerTrigger`); `dedup_cols` drops re-deliveries within the
    `watermark` horizon of `ts_col`."""
    reader = spark.readStream.schema(schema_ddl)
    if max_files is not None:
        reader = reader.option("maxFilesPerTrigger", max_files)
    feed = reader.option("header", True).csv(input_dir)
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
    one computation. Empty batches never reach the fold: folding one
    would append spurious all-zero report rows (and trip row_count
    lower bounds) or rewrite a table for nothing.

    No data-less batch runs. By default AvailableNow + stateful dedup
    ends with one only to evict dedup state past the watermark (a
    whole micro-batch and an emptiness check for nothing the fold
    sees); the query starts with `noDataMicroBatches` off instead, so
    that eviction happens at the end of the next data batch, under the
    same watermark, as between consecutive batches of one run. Only
    this query sees the setting: `.start()` clones the session, and the
    caller's value is restored right after.

    A replay is a batch a restart re-delivers: the last one in the
    checkpoint's offset log when the run before crashed ahead of its
    commit. `last_logged_batch`, read before the start, bounds it."""

    def _each(batch: DataFrame, batch_id: int) -> None:
        if dedup_cols:
            batch = batch.dropDuplicates(dedup_cols)
        batch = batch.persist()
        try:
            if not batch.isEmpty():
                fold(batch, batch_id)
        finally:
            batch.unpersist()

    conf = feed.sparkSession.conf
    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    prior = conf.get(key)
    conf.set(key, "false")
    try:
        return (
            feed.writeStream.foreachBatch(_each)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
    finally:
        conf.set(key, prior)


def _fold_state(
    wh: Warehouse,
    table: str,
    checkpoint_dir: str,
    batch_id: int,
    part: DataFrame,
) -> bool:
    """Fold one batch's partial counts `part` into the persisted count
    state `table`, at most once per batch: the last column of `part` is
    the count, summed per key, the columns before it the key. Returns
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
        *keys, count = part.columns
        part = (
            prior.select(*part.columns)
            .unionByName(part)
            .groupBy(*keys)
            .agg(F.sum(count).alias(count))
        )
    staging = f"{table}__staging"
    wh.overwrite(
        part.withColumn("__stream_id", F.lit(sid)).withColumn(
            "__last_batch_id", F.lit(batch_id)
        ),
        staging,
    )
    wh.swap(staging, table)
    return True


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
    report_table: str = "EXPECTATIONS_LOG",
    quarantine_table: str | None = None,
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

    Report and quarantine rows are exactly-once per checkpoint lineage.
    A deleted checkpoint re-delivers every file under new batch ids;
    those batches are new to the fresh lineage, so their report and
    quarantine rows append again (the merge stays idempotent).

    Scale: the report is rules-sized, the split is one filter over the
    batch, and the merge is the batch upsert path — nothing here holds
    streaming state beyond the dedup watermark.
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
    replayable = last_logged_batch(checkpoint_dir)

    def _validate_and_merge(batch: DataFrame, batch_id: int) -> None:
        # foreachBatch is at-least-once: on a replay after a mid-batch
        # failure the MERGE is naturally idempotent, but the appends
        # are not — each append-only table is its OWN replay ledger
        # (probe its batch_id before appending). Guarding quarantine
        # with the report ledger would leave a crash window between
        # the two appends that duplicates dead-letter rows on replay.
        # Only a batch the offset log held before this run started can
        # be a replay; a later one is new, so no run appended it yet.
        replay = batch_id <= replayable

        def appended(ledger: str) -> bool:
            return replay and batch_already_appended(wh, ledger, batch_id)

        already_logged = appended(report_table)
        clean = batch
        if violated is not None:
            if quarantine_table is not None and not appended(quarantine_table):
                # each append writes one file per partition of the
                # batch, however few rows it quarantines: the
                # foreachBatch session runs with AQE off, so a
                # REBALANCE hint here would be dropped unrecognized
                wh.append(
                    batch.filter(violated)
                    .withColumn("batch_id", F.lit(batch_id).cast("long")),
                    quarantine_table,
                )
            clean = batch.filter(~violated)
        if not already_logged:
            report = expectations_report(batch, rules).withColumn(
                "batch_id", F.lit(batch_id).cast("long")
            )
            wh.append(report, report_table)
        upsert(wh, table, clean, event_id_cols)

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
    carries the `_fold_state` replay guard: (__stream_id,
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
        merged = _fold_state(wh, state_table, checkpoint_dir, batch_id, part)
        if not merged and batch_already_appended(wh, report_table, batch_id):
            return
        report = psi_from_profile(
            profile,
            wh.read(state_table).select(*group_cols, "bin", "cur_cnt"),
            group_cols,
        ).withColumn("batch_id", F.lit(batch_id))
        wh.append(report, report_table)

    return _run_available_now(feed, _fold, checkpoint_dir)
