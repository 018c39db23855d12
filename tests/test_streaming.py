"""Streaming ingest + windowed aggregation tests (real readStream runs)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gcp_data_pipeline_fyp_spark.sources.tables import Warehouse
from gcp_data_pipeline_fyp_spark.streaming.ingest import (
    stream_ingest_available_now,
    windowed_event_counts,
)

SCHEMA = "event_id long, ts timestamp, event_type string, value double"


def _write_csv(path, rows):
    path.write_text(
        "event_id,ts,event_type,value\n" + "\n".join(",".join(map(str, r)) for r in rows)
    )


def test_available_now_ingest_with_dedup_and_merge(spark, tmp_path):
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    wh = Warehouse(spark, str(tmp_path / "wh"))
    ckpt = str(tmp_path / "ckpt")
    _write_csv(
        in_dir / "batch1.csv",
        [
            (1, "2024-01-01 10:00:00", "click", 1.0),
            (1, "2024-01-01 10:00:00", "click", 1.0),  # in-batch dup
            (2, "2024-01-01 11:00:00", "view", 2.0),
        ],
    )
    q = stream_ingest_available_now(
        spark, str(in_dir), SCHEMA, ["event_id"], "ts", wh, "events_t", ckpt
    )
    q.awaitTermination(120)
    assert wh.read("events_t").count() == 2

    # seed a row into the warehouse from OUTSIDE the stream (another load
    # path); the stream has never seen id 5, so when a file carries an
    # updated id-5 row the foreachBatch merge must UPDATE it in place
    seed = spark.createDataFrame(
        [(5, "2024-01-01 09:00:00", "view", 0.5)],
        "event_id long, ts string, event_type string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    wh.append(seed, "events_t")

    # second file: a redelivery of id 2 (dropped — still inside the
    # watermark state), a correction for id 5, and a brand-new id 3
    _write_csv(
        in_dir / "batch2.csv",
        [
            (2, "2024-01-01 11:00:00", "view", 99.0),
            (5, "2024-01-01 09:00:00", "view", 42.0),
            (3, "2024-01-01 12:00:00", "click", 3.0),
        ],
    )
    q = stream_ingest_available_now(
        spark, str(in_dir), SCHEMA, ["event_id"], "ts", wh, "events_t", ckpt
    )
    q.awaitTermination(120)
    out = {r["event_id"]: r["value"] for r in wh.read("events_t").collect()}
    # id 2 redelivery dropped by checkpointed dedup state; id 5 updated
    # by the merge; id 3 inserted
    assert out == {1: 1.0, 2: 2.0, 3: 3.0, 5: 42.0}


def test_windowed_counts_streaming_matches_batch(spark, tmp_path):
    in_dir = tmp_path / "sin"
    in_dir.mkdir()
    rows = [
        (1, "2024-01-01 10:05:00", "click", 1.0),
        (2, "2024-01-01 10:55:00", "click", 1.0),
        (3, "2024-01-01 11:05:00", "view", 1.0),
    ]
    _write_csv(in_dir / "a.csv", rows)
    stream = (
        spark.readStream.schema(SCHEMA).option("header", True).csv(str(in_dir))
    )
    agg = windowed_event_counts(stream, window="1 hour")
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (str(r["window_start"]), r["lb_type"]): r["total_events"]
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    assert got == {
        ("2024-01-01 10:00:00", "click"): 2,
        ("2024-01-01 11:00:00", "view"): 1,
    }
    # batch mode over the same rows gives identical results
    batch = spark.createDataFrame(
        [(i, t, ty, v) for i, t, ty, v in rows],
        "event_id long, ts string, event_type string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    bgot = {
        (str(r["window_start"]), r["lb_type"]): r["total_events"]
        for r in windowed_event_counts(batch, window="1 hour").collect()
    }
    assert bgot == got


def test_available_now_ingest_partition_scoped_merge(spark, tmp_path):
    """With partition_col set, a micro-batch merge only promotes the
    partitions present in the batch; untouched partition dirs keep
    their files byte-identical (same inode, same mtime)."""
    import os

    in_dir = tmp_path / "pin"
    in_dir.mkdir()
    wh = Warehouse(spark, str(tmp_path / "pwh"))
    ckpt = str(tmp_path / "pckpt")

    def add_pt(df):
        return df.withColumn(
            "pt", F.date_format("ts", "yyyyMMdd").cast("int")
        )

    _write_csv(
        in_dir / "b1.csv",
        [
            (1, "2024-01-01 10:00:00", "click", 1.0),
            (2, "2024-01-02 11:00:00", "view", 2.0),
        ],
    )
    q = stream_ingest_available_now(
        spark, str(in_dir), SCHEMA, ["event_id"], "ts", wh, "ev_pt", ckpt,
        transform=add_pt, partition_col="pt",
    )
    q.awaitTermination(120)
    root = wh.path("ev_pt")
    assert sorted(
        d for d in os.listdir(root) if d.startswith("pt=")
    ) == ["pt=20240101", "pt=20240102"]

    def snapshot(day):
        d = os.path.join(root, f"pt={day}")
        return {
            f: (os.stat(os.path.join(d, f)).st_ino, os.stat(os.path.join(d, f)).st_mtime_ns)
            for f in os.listdir(d)
        }

    before = snapshot("20240101")
    # second batch touches only 2024-01-02 (update) + 2024-01-03 (insert)
    _write_csv(
        in_dir / "b2.csv",
        [
            (2, "2024-01-02 11:00:00", "view", 99.0),  # redelivery: dropped
            (3, "2024-01-02 12:00:00", "click", 3.0),
            (4, "2024-01-03 09:00:00", "view", 4.0),
        ],
    )
    q = stream_ingest_available_now(
        spark, str(in_dir), SCHEMA, ["event_id"], "ts", wh, "ev_pt", ckpt,
        transform=add_pt, partition_col="pt",
    )
    q.awaitTermination(120)
    out = {r["event_id"]: r["value"] for r in wh.read("ev_pt").collect()}
    assert out == {1: 1.0, 2: 2.0, 3: 3.0, 4: 4.0}
    assert snapshot("20240101") == before


def test_first_create_lands_one_file_per_partition_dir(spark, tmp_path):
    """The batch that creates a partitioned table is rebalanced BY the
    partition column, as the merge branch is: each partition value's
    rows go to one write task, so each directory holds one file. A
    bare rebalance spreads every value over all write tasks: this
    ~6 MB batch then lands 4 files in every directory."""
    import os

    from gcp_data_pipeline_fyp_spark.streaming.ingest import _merge_into

    wh = Warehouse(spark, str(tmp_path / "wh"))
    batch = spark.range(0, 60000, numPartitions=4).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 3).cast("int").alias("pt"),
        F.sha2(F.col("id").cast("string"), 256).alias("payload"),
    )
    _merge_into(wh, "ev_first", batch, ["event_id"], "pt")
    root = wh.path("ev_first")
    files = {
        d: [f for f in os.listdir(os.path.join(root, d)) if f.endswith(".parquet")]
        for d in os.listdir(root)
        if d.startswith("pt=")
    }
    assert sorted(files) == ["pt=0", "pt=1", "pt=2"]
    assert {d: len(fs) for d, fs in files.items()} == {"pt=0": 1, "pt=1": 1, "pt=2": 1}
    assert wh.read("ev_first").count() == 60000


def test_interval_join_stream_matches_batch(spark, tmp_path):
    """Same rows through the SAME interval_join body in streaming mode
    (two file-source streams, watermarked state) and batch mode."""
    from gcp_data_pipeline_fyp_spark.streaming.joins import interval_join

    click_rows = [
        (1, "2024-01-01 10:00:00", "click", 0.0, 7),
        (2, "2024-01-01 10:40:00", "click", 0.0, 7),
        (3, "2024-01-01 10:00:00", "click", 0.0, 8),
    ]
    buy_rows = [
        (11, "2024-01-01 10:20:00", "purchase", 5.0, 7),  # joins click 1
        (12, "2024-01-01 10:50:00", "purchase", 5.0, 7),  # joins click 2
        (13, "2024-01-01 12:00:00", "purchase", 5.0, 8),  # outside bound
    ]
    schema = "event_id long, ts timestamp, event_type string, value double, user_id long"

    def write(dirname, rows):
        d = tmp_path / dirname
        d.mkdir()
        d.joinpath("a.csv").write_text(
            "event_id,ts,event_type,value,user_id\n"
            + "\n".join(",".join(map(str, r)) for r in rows)
        )
        return str(d)

    cdir, pdir = write("clicks", click_rows), write("buys", buy_rows)

    def run(left, right):
        return interval_join(
            left.select("event_id", "user_id", "ts"),
            right.select("event_id", "user_id", "ts"),
            ["user_id"], "ts", "ts", max_delay_secs=1800,
            left_watermark="1 hour", right_watermark="1 hour",
        ).select("event_id", "user_id", F.col("r_event_id"))

    batch = run(
        spark.read.schema(schema).option("header", True).csv(cdir),
        spark.read.schema(schema).option("header", True).csv(pdir),
    )
    stream_out = run(
        spark.readStream.schema(schema).option("header", True).csv(cdir),
        spark.readStream.schema(schema).option("header", True).csv(pdir),
    )
    q = (
        stream_out.writeStream.format("memory")
        .queryName("ij_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_ij"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got_stream = sorted(map(tuple, spark.table("ij_out").collect()))
    got_batch = sorted(map(tuple, batch.collect()))
    assert got_stream == got_batch
    assert [(r[0], r[2]) for r in got_batch] == [(1, 11), (2, 12)]


def test_windowed_counts_drop_late_data_past_watermark(spark, tmp_path):
    """An event arriving in a later micro-batch with an event time older
    than (max seen - watermark) must NOT reopen its closed window; an
    event inside the horizon must still be counted. Append mode only
    emits windows the watermark has finalized."""
    in_dir = tmp_path / "late_in"
    in_dir.mkdir()
    ckpt = str(tmp_path / "late_ckpt")
    out_dir = str(tmp_path / "late_out")

    def run():
        stream = (
            spark.readStream.schema(SCHEMA).option("header", True).csv(str(in_dir))
        )
        q = (
            windowed_event_counts(stream, window="1 hour", watermark="1 hour")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # batch 1: events at 10:05 and 14:05 -> max event time 14:05,
    # watermark after this batch = 13:05; the 10:00 window is final
    _write_csv(
        in_dir / "b1.csv",
        [
            (1, "2024-01-01 10:05:00", "click", 1.0),
            (2, "2024-01-01 14:05:00", "click", 1.0),
        ],
    )
    run()
    # batch 2: one event at 10:10 (older than 13:05: must be DROPPED),
    # one at 13:30 (inside horizon: counted when its window finalizes)
    _write_csv(
        in_dir / "b2.csv",
        [
            (3, "2024-01-01 10:10:00", "click", 1.0),
            (4, "2024-01-01 13:30:00", "click", 1.0),
        ],
    )
    run()
    # batch 3: advance event time so 13:00 and 14:00 windows finalize
    _write_csv(in_dir / "b3.csv", [(5, "2024-01-01 16:30:00", "click", 1.0)])
    run()
    got = {
        r["window_start"].hour: r["total_events"]
        for r in spark.read.parquet(out_dir).collect()
    }
    assert got.get(10) == 1, f"late event must not reopen 10:00 window: {got}"
    assert got.get(13) == 1, f"in-horizon event must be counted: {got}"
    assert got.get(14) == 1, got


def test_streaming_corpus_ingest_with_digest_index(spark, tmp_path):
    """Streaming corpus ingest with content dedup via the persisted
    digest index: each micro-batch anti-joins the index (never the
    corpus), appends only novel docs, and folds their digests forward —
    across RESTARTS of the stream (second file, same checkpoint)."""
    from gcp_data_pipeline_fyp_spark.operators.dedup import (
        build_digest_index,
        incremental_dedup_indexed,
    )

    in_dir = tmp_path / "docs_in"
    in_dir.mkdir()
    wh = Warehouse(spark, str(tmp_path / "wh"))
    ckpt = str(tmp_path / "ckpt_docs")

    base = spark.createDataFrame(
        [(1, "seen before"), (2, "also seen")], "doc_id long, text string"
    )
    wh.overwrite(base, "corpus")
    build_digest_index(wh, base, ["text"], "corpus")

    def ingest(batch, batch_id):
        novel = incremental_dedup_indexed(
            wh, batch, ["text"], "corpus", id_col="doc_id"
        )
        wh.append(novel, "corpus")

    def run_stream():
        q = (
            spark.readStream.schema("doc_id long, text string")
            .option("header", True)
            .csv(str(in_dir))
            .writeStream.foreachBatch(ingest)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    (in_dir / "f1.csv").write_text(
        "doc_id,text\n10,seen before\n11,fresh one\n12,fresh one\n"
    )
    run_stream()
    got1 = {r["doc_id"] for r in wh.read("corpus").collect()}
    assert got1 == {1, 2, 11}  # 10 dup-of-base, 12 in-batch dup of 11

    # restart with a second file: dups of the previous batch's survivor
    # must now be suppressed by the folded-forward index
    (in_dir / "f2.csv").write_text(
        "doc_id,text\n20,fresh one\n21,genuinely new\n"
    )
    run_stream()
    got2 = {r["doc_id"] for r in wh.read("corpus").collect()}
    assert got2 == {1, 2, 11, 21}


def test_stream_validated_ingest_quarantines_and_logs(spark, tmp_path):
    """Per-micro-batch expectations: the rule report lands in the audit
    log stamped with the batch id, row-level violators go to the
    quarantine table, only clean rows merge — and a restart continues
    the log/quarantine/merge from the checkpoint."""
    from gcp_data_pipeline_fyp_spark.operators.expectations import (
        in_range,
        not_null,
        unique,
    )
    from gcp_data_pipeline_fyp_spark.streaming.ingest import (
        stream_validated_ingest,
    )

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    wh = Warehouse(spark, str(tmp_path / "wh"))
    ckpt = str(tmp_path / "ckpt")
    rules = [not_null("event_type"), in_range("value", 0, 10), unique("event_id")]
    _write_csv(
        in_dir / "b1.csv",
        [
            (1, "2024-01-01 10:00:00", "click", 1.0),
            (2, "2024-01-01 10:01:00", "view", 99.0),  # out of range
            (3, "2024-01-01 10:02:00", "", 2.0),       # empty -> NULL type
        ],
    )
    kw = dict(
        rules=rules, quarantine_table="Q", report_table="LOG",
    )
    q = stream_validated_ingest(
        spark, str(in_dir), SCHEMA, ["event_id"], "ts", wh, "ev", ckpt, **kw
    )
    q.awaitTermination(120)
    assert {r["event_id"] for r in wh.read("ev").collect()} == {1}
    assert {r["event_id"] for r in wh.read("Q").collect()} == {2, 3}
    log = wh.read("LOG").collect()
    assert len(log) == 3  # 3 rules x 1 batch
    got = {r["rule"]: r["n_violations"] for r in log}
    assert got == {"event_type_not_null": 1, "value_in_range": 1, "event_id_unique": 0}

    # restart: only the new file processes; clean row 4 merges, log grows
    _write_csv(
        in_dir / "b2.csv",
        [(4, "2024-01-01 11:00:00", "click", 3.0)],
    )
    q2 = stream_validated_ingest(
        spark, str(in_dir), SCHEMA, ["event_id"], "ts", wh, "ev", ckpt, **kw
    )
    q2.awaitTermination(120)
    assert {r["event_id"] for r in wh.read("ev").collect()} == {1, 4}
    assert wh.read("Q").count() == 2  # unchanged
    log2 = wh.read("LOG").collect()
    assert len(log2) == 6
    assert all(r["n_violations"] == 0 for r in log2 if r["batch_id"] != log[0]["batch_id"])


def test_stream_validated_ingest_replay_skips_duplicate_appends(spark, tmp_path):
    """foreachBatch is at-least-once, and each append-only table is its
    OWN replay ledger (r8: guarding quarantine with the report ledger
    left a crash window between the two appends that duplicated
    dead-letter rows). Crash after BOTH appends: neither re-appends.
    Crash BETWEEN them (quarantine landed, report did not): the report
    row lands on replay and the quarantine rows do NOT duplicate. The
    idempotent merge lands the clean rows in every scenario."""
    from gcp_data_pipeline_fyp_spark.operators.expectations import in_range
    from gcp_data_pipeline_fyp_spark.streaming.ingest import (
        stream_validated_ingest,
    )

    rows = [
        (1, "2024-01-01 10:00:00", "click", 1.0),
        (2, "2024-01-01 10:01:00", "view", 99.0),  # violator
    ]
    seeded_log = spark.createDataFrame(
        [("value_in_range", "in_range", "value", 1, False, 0)],
        "rule string, kind string, target string, n_violations long, "
        "passed boolean, batch_id long",
    )
    seeded_q = spark.createDataFrame(
        [(2, "2024-01-01 10:01:00", "view", 99.0, 0)],
        "event_id long, ts string, event_type string, value double, "
        "batch_id long",
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    def replay(tag, seed_log, seed_q):
        in_dir = tmp_path / f"in_{tag}"
        in_dir.mkdir()
        wh = Warehouse(spark, str(tmp_path / f"wh_{tag}"))
        if seed_log:
            wh.append(seeded_log, "LOG")
        if seed_q:
            wh.append(seeded_q, "Q")
        _write_csv(in_dir / "b1.csv", rows)
        q = stream_validated_ingest(
            spark, str(in_dir), SCHEMA, ["event_id"], "ts", wh, "ev",
            str(tmp_path / f"ckpt_{tag}"),
            rules=[in_range("value", 0, 10)], quarantine_table="Q",
            report_table="LOG",
        )
        q.awaitTermination(120)
        return wh

    # crash after BOTH appends: nothing re-appends
    wh = replay("both", seed_log=True, seed_q=True)
    assert {r["event_id"] for r in wh.read("ev").collect()} == {1}
    assert wh.read("LOG").count() == 1
    assert wh.read("Q").count() == 1
    # crash BETWEEN the appends (quarantine landed, report did not):
    # replay must complete the report WITHOUT duplicating quarantine
    wh = replay("between", seed_log=False, seed_q=True)
    assert {r["event_id"] for r in wh.read("ev").collect()} == {1}
    assert wh.read("LOG").count() == 1
    assert wh.read("Q").count() == 1


def test_reprocess_quarantine_releases_now_clean_rows(spark, tmp_path):
    """After a contract relaxation, re-validation merges the now-clean
    quarantined rows into the target and keeps only still-failing ones
    in quarantine."""
    from gcp_data_pipeline_fyp_spark.operators.expectations import (
        in_range,
        not_null,
    )
    from gcp_data_pipeline_fyp_spark.streaming.ingest import (
        reprocess_quarantine,
        stream_validated_ingest,
    )

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    wh = Warehouse(spark, str(tmp_path / "wh"))
    _write_csv(
        in_dir / "b1.csv",
        [
            (1, "2024-01-01 10:00:00", "click", 1.0),
            (2, "2024-01-01 10:01:00", "view", 99.0),   # fails 0..10
            (3, "2024-01-01 10:02:00", "", 2.0),        # NULL type
        ],
    )
    q = stream_validated_ingest(
        spark, str(in_dir), SCHEMA, ["event_id"], "ts", wh, "ev",
        str(tmp_path / "ckpt"),
        rules=[not_null("event_type"), in_range("value", 0, 10)],
        quarantine_table="Q", report_table="LOG",
    )
    q.awaitTermination(120)
    assert {r["event_id"] for r in wh.read("Q").collect()} == {2, 3}

    # relaxed contract: 99.0 is now acceptable; NULL type still isn't
    out = reprocess_quarantine(
        wh, "Q", [not_null("event_type"), in_range("value", 0, 100)],
        "ev", ["event_id"],
    )
    assert out == {"released": 1, "remaining": 1}
    assert {r["event_id"] for r in wh.read("ev").collect()} == {1, 2}
    assert {r["event_id"] for r in wh.read("Q").collect()} == {3}


def test_stream_scored_ingest_filters_by_model(spark, tmp_path):
    """Model-filtered corpus ingest: offline-trained weights score each
    micro-batch; keepers merge, dropped/empty docs land in the rejects
    table with their scores, the per-batch summary is logged — and a
    restart processes only new files from the checkpoint."""
    import csv as _csv

    from gcp_data_pipeline_fyp_spark.operators.classifier import (
        train_linear_classifier,
    )
    from gcp_data_pipeline_fyp_spark.streaming.ingest import (
        stream_scored_ingest,
    )

    good = "science method evidence theory result data"
    bad = "spam click buy now free winner"
    seed = spark.createDataFrame(
        [(i, f"{good} {good}", True) for i in range(10)]
        + [(100 + i, f"{bad} {bad}", False) for i in range(10)],
        "doc_id long, text string, lbl boolean",
    )
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.overwrite(
        train_linear_classifier(seed, "doc_id", "text", "lbl", n_buckets=512),
        "MODEL_V1",
    )

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    schema = "doc_id LONG, ts TIMESTAMP, text STRING"

    def _write(path, rows):
        with open(path, "w", newline="") as f:
            w = _csv.writer(f)
            w.writerow(["doc_id", "ts", "text"])
            w.writerows(rows)

    _write(
        in_dir / "b1.csv",
        [
            (1, "2024-01-01 10:00:00", f"more {good} here"),
            (2, "2024-01-01 10:01:00", f"ugh {bad} again"),
            (3, "2024-01-01 10:02:00", ""),
        ],
    )
    ckpt = str(tmp_path / "ckpt")
    kw = dict(
        weights_table="MODEL_V1", n_buckets=512, rejects_table="REJ",
        score_log_table="SLOG",
    )
    q = stream_scored_ingest(
        spark, str(in_dir), schema, "doc_id", "ts", "text", wh, "docs", ckpt,
        **kw,
    )
    q.awaitTermination(120)
    assert {r["doc_id"] for r in wh.read("docs").collect()} == {1}
    rej = {r["doc_id"]: r["label"] for r in wh.read("REJ").collect()}
    assert rej == {2: "drop", 3: "empty"}
    log = wh.read("SLOG").collect()
    assert len(log) == 1
    assert (log[0]["n_docs"], log[0]["n_keep"], log[0]["n_drop"],
            log[0]["n_empty"]) == (3, 1, 1, 1)

    # restart from checkpoint: only the new file processes
    _write(in_dir / "b2.csv", [(4, "2024-01-01 11:00:00", f"{good} encore")])
    q2 = stream_scored_ingest(
        spark, str(in_dir), schema, "doc_id", "ts", "text", wh, "docs", ckpt,
        **kw,
    )
    q2.awaitTermination(120)
    assert {r["doc_id"] for r in wh.read("docs").collect()} == {1, 4}
    assert wh.read("REJ").count() == 2
    assert wh.read("SLOG").count() == 2


def test_stream_dedup_ingest_history_aware(spark, tmp_path):
    """Streaming dedup against the PERSISTED digest index: a document
    re-delivered far outside the watermark state still drops (the
    watermark-only path would pass it), new content lands, survivors'
    digests fold into the index so the next run keeps dedup exact."""
    from gcp_data_pipeline_fyp_spark.operators.dedup import (
        build_digest_index,
    )
    from gcp_data_pipeline_fyp_spark.streaming.ingest import (
        stream_dedup_ingest,
    )

    in_dir = tmp_path / "din"
    in_dir.mkdir()
    wh = Warehouse(spark, str(tmp_path / "wh"))
    ckpt = str(tmp_path / "dckpt")

    # historical corpus, ingested long ago: its digests ARE the index
    hist = spark.createDataFrame(
        [(1, "2023-01-01 10:00:00", "old doc", 1.0)],
        "event_id long, ts string, event_type string, value double",
    )
    build_digest_index(wh, hist, ["event_type"], "docs")

    schema = "event_id long, ts timestamp, event_type string, value double"
    _write_csv(
        in_dir / "b1.csv",
        [
            (10, "2024-01-01 10:00:00", "old doc", 5.0),   # historical dup
            (11, "2024-01-01 10:01:00", "fresh doc", 6.0),
            (12, "2024-01-01 10:02:00", "fresh doc", 7.0), # in-batch dup
        ],
    )
    q = stream_dedup_ingest(
        spark, str(in_dir), schema, ["event_type"], "event_id", "ts",
        wh, "DOCS", "docs", ckpt,
    )
    q.awaitTermination(120)
    got = {r["event_id"] for r in wh.read("DOCS").collect()}
    assert got == {11}

    # second run: a much-later re-delivery of "fresh doc" (outside any
    # watermark state — brand-new query run) must STILL drop via the
    # index; brand-new content lands
    _write_csv(
        in_dir / "b2.csv",
        [
            (20, "2024-03-01 10:00:00", "fresh doc", 9.0),
            (21, "2024-03-01 10:01:00", "newest doc", 2.0),
        ],
    )
    q2 = stream_dedup_ingest(
        spark, str(in_dir), schema, ["event_type"], "event_id", "ts",
        wh, "DOCS", "docs", ckpt,
    )
    q2.awaitTermination(120)
    got2 = {r["event_id"] for r in wh.read("DOCS").collect()}
    assert got2 == {11, 21}
    # the index grew by exactly the two survivors' digests
    assert wh.read("docs__digests").distinct().count() == 3


def test_stream_dedup_ingest_replay_from_scratch_is_noop(spark, tmp_path):
    """Losing the checkpoint and replaying the whole feed must not
    duplicate a single row: every already-ingested document's digest
    is in the index, so the anti-join drops the entire replay — the
    index IS the replay ledger."""
    from gcp_data_pipeline_fyp_spark.operators.dedup import (
        build_digest_index,
    )
    from gcp_data_pipeline_fyp_spark.streaming.ingest import (
        stream_dedup_ingest,
    )

    in_dir = tmp_path / "rin"
    in_dir.mkdir()
    wh = Warehouse(spark, str(tmp_path / "wh"))
    seed = spark.createDataFrame(
        [(0, "2023-01-01 00:00:00", "seeded", 0.0)],
        "event_id long, ts string, event_type string, value double",
    )
    build_digest_index(wh, seed, ["event_type"], "idx")

    schema = "event_id long, ts timestamp, event_type string, value double"
    _write_csv(
        in_dir / "b1.csv",
        [(1, "2024-01-01 10:00:00", "alpha", 1.0),
         (2, "2024-01-01 10:01:00", "beta", 2.0)],
    )
    args = (spark, str(in_dir), schema, ["event_type"], "event_id", "ts",
            wh, "T", "idx")
    q = stream_dedup_ingest(*args, str(tmp_path / "ck1"))
    q.awaitTermination(120)
    before = sorted(r["event_id"] for r in wh.read("T").collect())
    assert before == [1, 2]

    # fresh checkpoint -> the file source replays EVERYTHING
    q2 = stream_dedup_ingest(*args, str(tmp_path / "ck2"))
    q2.awaitTermination(120)
    after = sorted(r["event_id"] for r in wh.read("T").collect())
    assert after == before


def test_stream_scd2_ingest_matches_full_snapshot_and_replays_idempotent(
    spark, tmp_path
):
    """Streaming SCD2 dimension maintenance: two micro-batches fold to
    EXACTLY the full-feed snapshot (the scd2_apply algebra), and a
    re-delivered batch under a new filename changes nothing."""
    from gcp_data_pipeline_fyp_spark.operators.scd import scd2_snapshot
    from gcp_data_pipeline_fyp_spark.streaming.ingest import (
        stream_scd2_ingest,
    )

    in_dir = tmp_path / "sin"
    in_dir.mkdir()
    wh = Warehouse(spark, str(tmp_path / "wh"))
    schema = "event_id long, ts timestamp, event_type string, value double"

    rows1 = [
        (1, "2024-01-01 10:00:00", "a", 0.0),
        (2, "2024-01-01 10:01:00", "a", 0.0),   # same state -> collapses
        (3, "2024-01-01 10:02:00", "b", 0.0),
    ]
    rows2 = [
        (4, "2024-01-02 10:00:00", "b", 0.0),   # no-op vs current 'b'
        (5, "2024-01-02 10:01:00", "c", 0.0),   # closes 'b'
    ]
    _write_csv(in_dir / "f1.csv", [(i, ts, f"u0_{s}", v) for i, ts, s, v in rows1])
    _write_csv(in_dir / "f2.csv", [(i, ts, f"u0_{s}", v) for i, ts, s, v in rows2])

    def run():
        q = stream_scd2_ingest(
            spark, str(in_dir), schema,
            key_cols=["value"], attr_cols=["event_type"],
            order_col="ts", tiebreak_cols=["event_id"],
            wh=wh, dim_table="DIM_STATE",
            checkpoint_dir=str(tmp_path / "sckpt"),
            max_files_per_trigger=1,  # force one fold per file
        )
        q.awaitTermination(120)

    run()
    got = sorted(
        (r.value, r.event_type, str(r.valid_from), str(r.valid_to), r.is_current)
        for r in wh.read("DIM_STATE").collect()
    )
    full = spark.createDataFrame(
        [(i, ts, f"u0_{s}", v) for i, ts, s, v in rows1 + rows2],
        "event_id long, ts string, event_type string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    expect = sorted(
        (r.value, r.event_type, str(r.valid_from), str(r.valid_to), r.is_current)
        for r in scd2_snapshot(
            full, ["value"], ["event_type"], "ts", ["event_id"]
        ).collect()
    )
    assert got == expect
    assert len(got) == 3  # a, b, c runs

    # re-delivery of batch 2 under a NEW filename: pure replay, no-op
    _write_csv(in_dir / "f3.csv", [(i, ts, f"u0_{s}", v) for i, ts, s, v in rows2])
    run()
    again = sorted(
        (r.value, r.event_type, str(r.valid_from), str(r.valid_to), r.is_current)
        for r in wh.read("DIM_STATE").collect()
    )
    assert again == got


def test_stream_rollup_ingest_matches_batch_and_replay_guarded(
    spark, tmp_path
):
    """Streaming mergeable rollup: two micro-batches merge to exactly
    the one-shot batch rollup, and a from-scratch checkpoint replay
    (batch ids renumber from 0) is fully skipped by the in-table
    high-water mark — no double counting."""
    from gcp_data_pipeline_fyp_spark.operators.rollup import (
        finalize_state,
        rollup_state,
    )
    from gcp_data_pipeline_fyp_spark.streaming.ingest import (
        stream_rollup_ingest,
    )

    in_dir = tmp_path / "rin"
    in_dir.mkdir()
    wh = Warehouse(spark, str(tmp_path / "wh"))
    schema = "event_id long, ts timestamp, event_type string, value double"
    rows1 = [(1, "2024-01-01 10:00:00", "a", 1.5), (2, "2024-01-01 10:01:00", "b", 2.0)]
    rows2 = [(3, "2024-01-02 10:00:00", "a", 4.0), (4, "2024-01-02 10:01:00", "a", 0.5)]
    _write_csv(in_dir / "f1.csv", rows1)
    _write_csv(in_dir / "f2.csv", rows2)

    def run(ckpt):
        q = stream_rollup_ingest(
            spark, str(in_dir), schema, ["event_type"], ["value"],
            wh, "ROLLUP", str(tmp_path / ckpt), max_files_per_trigger=1,
        )
        q.awaitTermination(120)

    run("rckpt")

    def read_final():
        return sorted(
            (r.event_type, r.n, r.sum_value)
            for r in finalize_state(
                wh.read("ROLLUP").drop("__last_batch_id"), ["value"]
            ).collect()
        )

    got = read_final()
    full = spark.createDataFrame(
        rows1 + rows2, "event_id long, ts string, event_type string, value double"
    )
    expect = sorted(
        (r.event_type, r.n, r.sum_value)
        for r in finalize_state(
            rollup_state(full, ["event_type"], ["value"]), ["value"]
        ).collect()
    )
    assert got == expect == [("a", 3, 6.0), ("b", 1, 2.0)]

    # from-scratch replay: NEW checkpoint, same input files. Batch ids
    # renumber and every file re-delivers, so ids are NOT comparable —
    # the fold must refuse loudly (silently applying the id guard
    # would double-count replays AND drop any newer files) and leave
    # the state untouched
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises(StreamingQueryException, match="not comparable"):
        run("rckpt2")
    assert read_final() == got

    # restarting from the ORIGINAL checkpoint still works (same
    # lineage: nothing new to process, state unchanged)
    run("rckpt")
    assert read_final() == got


def test_stream_enriched_ingest_sees_dim_updates_between_batches(
    spark, tmp_path
):
    """Stream-static enrichment re-reads the dimension per micro-batch:
    rows ingested before a dim update carry the old attributes, rows
    after carry the new ones (no stream restart), an unmatched key
    survives the LEFT join with NULLs — and with dim_versioned=True
    each batch joins one immutable published snapshot."""
    from gcp_data_pipeline_fyp_spark.streaming.ingest import (
        stream_enriched_ingest,
    )

    in_dir = tmp_path / "ein"
    in_dir.mkdir()
    wh = Warehouse(spark, str(tmp_path / "wh"))
    ckpt = str(tmp_path / "eckpt")

    wh.overwrite_versioned(
        spark.createDataFrame(
            [("purchase", "BUY-V1"), ("signup", "NEW-V1")],
            "event_type string, type_desc string",
        ),
        "dim_type",
    )
    _write_csv(
        in_dir / "e1.csv",
        [
            (1, "2024-01-01 10:00:00", "purchase", 5.0),
            (2, "2024-01-01 10:01:00", "mystery", 6.0),  # no dim row
        ],
    )
    args = dict(
        spark=spark, input_dir=str(in_dir), schema_ddl=SCHEMA,
        event_id_cols=["event_id"], ts_col="ts", wh=wh,
        dim_table="dim_type", join_cols=["event_type"],
        table="enriched", checkpoint_dir=ckpt, dim_versioned=True,
    )
    stream_enriched_ingest(**args).awaitTermination()
    got = {
        r["event_id"]: r["type_desc"] for r in wh.read("enriched").collect()
    }
    assert got == {1: "BUY-V1", 2: None}

    # publish dim v2, stream new rows WITHOUT clearing the checkpoint
    wh.overwrite_versioned(
        spark.createDataFrame(
            [("purchase", "BUY-V2"), ("mystery", "SOLVED")],
            "event_type string, type_desc string",
        ),
        "dim_type",
    )
    _write_csv(
        in_dir / "e2.csv", [(3, "2024-01-01 11:00:00", "purchase", 7.0)]
    )
    stream_enriched_ingest(**args).awaitTermination()
    got = {
        r["event_id"]: r["type_desc"] for r in wh.read("enriched").collect()
    }
    # old rows keep batch-time attributes; the new row sees v2
    assert got == {1: "BUY-V1", 2: None, 3: "BUY-V2"}


def test_stream_validated_ingest_maintains_zonemap(spark, tmp_path):
    """zonemap_cols keeps the skipping index fresh across streamed
    batches: after two restarts the map covers the table's current
    files and a pruned interval read equals the plain filter."""
    from gcp_data_pipeline_fyp_spark.operators.expectations import not_null
    from gcp_data_pipeline_fyp_spark.operators.zonemap import (
        prune_files,
        read_pruned,
    )
    from gcp_data_pipeline_fyp_spark.streaming.ingest import (
        stream_validated_ingest,
    )

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    wh = Warehouse(spark, str(tmp_path / "wh"))
    ckpt = str(tmp_path / "ckpt")
    kw = dict(rules=[not_null("event_type")], zonemap_cols=["value"])
    _write_csv(
        in_dir / "b1.csv",
        [(i, f"2024-01-01 10:{i:02d}:00", "click", float(i)) for i in range(20)],
    )
    q = stream_validated_ingest(
        spark, str(in_dir), SCHEMA, ["event_id"], "ts", wh, "ev", ckpt, **kw
    )
    q.awaitTermination(120)
    assert (tmp_path / "wh" / "ev" / "_zonemap").exists()
    _write_csv(
        in_dir / "b2.csv",
        [(i, f"2024-01-01 11:{i - 20:02d}:00", "view", float(i)) for i in range(20, 40)],
    )
    q2 = stream_validated_ingest(
        spark, str(in_dir), SCHEMA, ["event_id"], "ts", wh, "ev", ckpt, **kw
    )
    q2.awaitTermination(120)
    got = read_pruned(wh, "ev", {"value": (5.0, 25.0)})
    exp = wh.read("ev").filter(F.col("value").between(5.0, 25.0))
    assert sorted(r["event_id"] for r in got.collect()) == sorted(
        r["event_id"] for r in exp.collect()
    ) and exp.count() == 21
    # the map is not vacuously empty and pruning is live on this table
    files, total = prune_files(wh, "ev", {"value": (-1e9, -1.0)})
    assert total > 0 and files == []


@pytest.mark.slow
def test_stream_drift_monitor_matches_batch_psi_and_replays_safely(
    spark, tmp_path
):
    """The streamed cumulative PSI equals the one-shot batch
    psi_report of base vs everything streamed so far; a restart on
    the same checkpoint folds only new files; the report history has
    one row per (batch, group)."""
    from gcp_data_pipeline_fyp_spark.operators.profile import (
        fit_psi_profile,
        psi_report,
    )
    from gcp_data_pipeline_fyp_spark.streaming.ingest import (
        stream_drift_monitor,
    )

    in_dir = tmp_path / "din"
    in_dir.mkdir()
    wh = Warehouse(spark, str(tmp_path / "wh"))
    schema = "event_id long, ts timestamp, event_type string, value double"

    base_rows = [(i, "2024-01-01 00:00:00", "a", float(i % 20)) for i in range(200)]
    base = spark.createDataFrame(
        base_rows, "event_id long, ts string, event_type string, value double"
    )
    wh.overwrite(fit_psi_profile(base, "value", ["event_type"], 10), "PROFILE")

    rows1 = [(1000 + i, "2024-01-02 00:00:00", "a", float(i % 10)) for i in range(50)]
    rows2 = [(2000 + i, "2024-01-03 00:00:00", "a", 15.0 + i % 5) for i in range(50)]
    _write_csv(in_dir / "f1.csv", rows1)
    _write_csv(in_dir / "f2.csv", rows2)
    ckpt = str(tmp_path / "dckpt")

    def run():
        q = stream_drift_monitor(
            spark, str(in_dir), schema, "value", ["event_type"],
            wh, "PROFILE", "DRIFT_STATE", "DRIFT_REPORT", ckpt,
            n_bins=10, max_files_per_trigger=1,
        )
        q.awaitTermination(120)

    run()
    streamed = spark.createDataFrame(
        rows1 + rows2, "event_id long, ts string, event_type string, value double"
    )
    want = psi_report(base, streamed, "value", ["event_type"], 10).collect()[0]
    state = wh.read("DRIFT_STATE")
    assert state.agg(F.sum("cur_cnt")).first()[0] == 100
    report = wh.read("DRIFT_REPORT").orderBy("batch_id").collect()
    assert len(report) == 2  # one row per batch for the single group
    last = report[-1]
    assert (last["n_base"], last["n_cur"], last["psi_micro"]) == (
        want["n_base"], want["n_cur"], want["psi_micro"],
    )

    # restart on the same checkpoint: only the new file folds in
    rows3 = [(3000 + i, "2024-01-04 00:00:00", "a", 2.0) for i in range(25)]
    _write_csv(in_dir / "f3.csv", rows3)
    run()
    assert wh.read("DRIFT_STATE").agg(F.sum("cur_cnt")).first()[0] == 125
    streamed3 = spark.createDataFrame(
        rows1 + rows2 + rows3,
        "event_id long, ts string, event_type string, value double",
    )
    want3 = psi_report(base, streamed3, "value", ["event_type"], 10).collect()[0]
    rep3 = wh.read("DRIFT_REPORT").orderBy("batch_id").collect()[-1]
    assert (rep3["n_cur"], rep3["psi_micro"]) == (
        want3["n_cur"], want3["psi_micro"],
    )
    # idle restart: nothing new, state and report untouched
    n_rep = wh.read("DRIFT_REPORT").count()
    run()
    assert wh.read("DRIFT_STATE").agg(F.sum("cur_cnt")).first()[0] == 125
    assert wh.read("DRIFT_REPORT").count() == n_rep


@pytest.mark.slow
def test_stream_retrain_monitor_decides_and_replays_safely(spark, tmp_path):
    """Streaming retrain trigger: batches matching the index's
    training distribution keep retrain=False; after a collapsed
    (single-blob) batch floods the cumulative mix the decision flips
    to True; a restart on the same checkpoint folds only new files
    (no double counting) and the report has one row per batch."""
    import random

    from gcp_data_pipeline_fyp_spark.operators.similarity import (
        build_ivf_index,
    )
    from gcp_data_pipeline_fyp_spark.streaming.ingest import (
        stream_retrain_monitor,
    )

    rng = random.Random(9)
    dim = 8
    centers = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(6)]

    def vec(blob):
        return [centers[blob][d] + rng.gauss(0, 0.1) for d in range(dim)]

    corpus = spark.createDataFrame(
        [(i, vec(i % 6)) for i in range(240)],
        "vec_id long, embedding array<double>",
    )
    wh = Warehouse(spark, str(tmp_path / "wh"))
    build_ivf_index(wh, corpus, "vec_id", "embedding", "ix", n_centroids=6)

    in_dir = tmp_path / "vin"
    in_dir.mkdir()

    def write_batch(name, rows):
        lines = ["vec_id,emb"]
        lines += [f"{i},{'|'.join(str(x) for x in v)}" for i, v in rows]
        (in_dir / name).write_text("\n".join(lines) + "\n")

    # batch 1: same mix as training -> stable
    write_batch("b1.csv", [(1000 + i, vec(i % 6)) for i in range(120)])
    ckpt = str(tmp_path / "vckpt")
    schema = "vec_id long, emb string"

    def run():
        q = stream_retrain_monitor(
            spark, str(in_dir), schema, "vec_id", "emb", wh, "ix",
            "RETRAIN_STATE", "RETRAIN_REPORT", ckpt,
            max_files_per_trigger=1,
        )
        q.awaitTermination(120)

    run()
    rep = {r["batch_id"]: r for r in wh.read("RETRAIN_REPORT").collect()}
    assert len(rep) == 1
    first = list(rep.values())[0]
    assert first["retrain"] is False and first["n_cur"] == 120
    # batch 2: collapse onto blob 2 — the cumulative mix concentrates
    write_batch("b2.csv", [(5000 + i, vec(2)) for i in range(600)])
    run()  # restart from checkpoint: folds ONLY the new file
    rep = sorted(
        wh.read("RETRAIN_REPORT").collect(), key=lambda r: r["batch_id"]
    )
    assert len(rep) == 2
    assert rep[-1]["n_cur"] == 720  # cumulative, not double-counted
    assert rep[-1]["retrain"] is True
    assert rep[-1]["psi_micro"] > rep[0]["psi_micro"]
    # the DEPLOY.md loop (ingest THEN monitor) must not damp its own
    # trigger: fold the drifted vectors into the postings via the
    # ingest path, then run a FRESH monitor over the same feed — the
    # baseline is the build-time train_mix snapshot, so the verdict
    # and PSI are unchanged even though live postings now contain the
    # drift (the r9 ADVICE fix, pinned at the streaming level)
    from gcp_data_pipeline_fyp_spark.streaming.ingest import (
        stream_index_ingest,
    )

    qi = stream_index_ingest(
        spark, str(in_dir), schema, "vec_id", "emb", wh, "ix",
        "IX_LEDGER2", str(tmp_path / "ickpt"),
    )
    qi.awaitTermination(120)
    assert wh.read("ix__postings").count() == 240 + 720
    q2 = stream_retrain_monitor(
        spark, str(in_dir), schema, "vec_id", "emb", wh, "ix",
        "RETRAIN_STATE2", "RETRAIN_REPORT2", str(tmp_path / "vckpt2"),
    )
    q2.awaitTermination(120)
    rep2 = sorted(
        wh.read("RETRAIN_REPORT2").collect(), key=lambda r: r["batch_id"]
    )
    assert rep2[-1]["retrain"] is True
    assert rep2[-1]["psi_micro"] == rep[-1]["psi_micro"]
    assert rep2[-1]["n_base"] == 240  # frozen training mass, not 960


@pytest.mark.slow
def test_stream_index_ingest_appends_replays_and_heals(spark, tmp_path):
    """Streaming IVF ingest: streamed vectors become queryable through
    the persisted index; a restart on the same checkpoint skips
    already-folded batches (ledger guard, no duplicate postings); a
    planted crash-window duplicate is healed by dedup_index_postings
    rewriting only the affected centroid partition."""
    import random

    from gcp_data_pipeline_fyp_spark.operators.similarity import (
        build_ivf_index,
        dedup_index_postings,
        ivf_topk_indexed,
    )
    from gcp_data_pipeline_fyp_spark.streaming.ingest import (
        stream_index_ingest,
    )

    rng = random.Random(13)
    dim = 8
    centers = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(4)]

    def vec(blob):
        return [centers[blob][d] + rng.gauss(0, 0.1) for d in range(dim)]

    corpus = spark.createDataFrame(
        [(i, vec(i % 4)) for i in range(80)],
        "vec_id long, embedding array<double>",
    )
    wh = Warehouse(spark, str(tmp_path / "xwh"))
    build_ivf_index(wh, corpus, "vec_id", "embedding", "ix", n_centroids=4)
    base_count = wh.read("ix__postings").count()

    in_dir = tmp_path / "xin"
    in_dir.mkdir()

    def write_batch(name, rows):
        lines = ["vec_id,emb"]
        lines += [f"{i},{'|'.join(str(x) for x in v)}" for i, v in rows]
        (in_dir / name).write_text("\n".join(lines) + "\n")

    new_vecs = [(9000 + i, vec(i % 4)) for i in range(40)]
    write_batch("b1.csv", new_vecs)
    ckpt = str(tmp_path / "xckpt")

    def run():
        q = stream_index_ingest(
            spark, str(in_dir), "vec_id long, emb string", "vec_id", "emb",
            wh, "ix", "IX_LEDGER", ckpt, max_files_per_trigger=1,
        )
        q.awaitTermination(120)

    run()
    assert wh.read("ix__postings").count() == base_count + 40
    assert wh.read("IX_LEDGER").count() == 1
    # a streamed vector is found by the indexed query, exact-scored
    probe = spark.createDataFrame(
        [(1, new_vecs[0][1])], "vec_id long, embedding array<double>"
    )
    top = ivf_topk_indexed(wh, probe, "vec_id", "embedding", "ix", k=1)
    assert top.collect()[0]["corpus_id"] == 9000
    # replay: same checkpoint, no new files -> nothing re-appends
    run()
    assert wh.read("ix__postings").count() == base_count + 40
    # crash-window duplicate: re-append one streamed row by hand, heal
    dup = wh.read("ix__postings").filter(F.col("corpus_id") == 9000)
    wh.append(dup, "ix__postings", partition_cols=["centroid_id"])
    assert wh.read("ix__postings").count() == base_count + 41
    # plus a CROSS-centroid shape: the same corpus_id under a second
    # centroid (a re-ingest with an updated embedding) — NOT a crash
    # dup, and the heal must leave both rows alone (its key is
    # (centroid_id, corpus_id), matching the dup scan's)
    row9001 = wh.read("ix__postings").filter(F.col("corpus_id") == 9001)
    other = (
        wh.read("ix__centroids")
        .filter(F.col("centroid_id") != row9001.first()["centroid_id"])
        .first()["centroid_id"]
    )
    wh.append(
        row9001.withColumn("centroid_id", F.lit(other).cast("int")),
        "ix__postings",
        partition_cols=["centroid_id"],
    )
    dedup_index_postings(wh, "ix")
    assert wh.read("ix__postings").count() == base_count + 41
    assert (
        wh.read("ix__postings").filter(F.col("corpus_id") == 9000).count()
        == 1
    )
    assert (
        wh.read("ix__postings").filter(F.col("corpus_id") == 9001).count()
        == 2
    )


def test_stream_index_ingest_parquet_feed(spark, tmp_path):
    """The vec_sep=None mode reads a parquet feed already carrying
    array<double> — the reader must follow the separator choice (CSV
    cannot represent arrays)."""
    import random

    from gcp_data_pipeline_fyp_spark.operators.similarity import (
        build_ivf_index,
    )
    from gcp_data_pipeline_fyp_spark.streaming.ingest import (
        stream_index_ingest,
    )

    rng = random.Random(23)
    dim = 8

    def vec():
        return [rng.gauss(0, 1) for _ in range(dim)]

    corpus = spark.createDataFrame(
        [(i, vec()) for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    wh = Warehouse(spark, str(tmp_path / "pwh"))
    build_ivf_index(wh, corpus, "vec_id", "embedding", "ix", n_centroids=4)
    base = wh.read("ix__postings").count()

    in_dir = tmp_path / "pqin"
    in_dir.mkdir()
    spark.createDataFrame(
        [(500 + i, vec()) for i in range(30)],
        "vec_id long, embedding array<double>",
    ).coalesce(1).write.parquet(str(in_dir / "b1"))
    # the file source wants a flat dir of parquet files
    import glob
    import shutil

    for i, f in enumerate(glob.glob(str(in_dir / "b1" / "*.parquet"))):
        shutil.move(f, str(in_dir / f"b1_{i}.parquet"))
    shutil.rmtree(str(in_dir / "b1"))

    q = stream_index_ingest(
        spark, str(in_dir), "vec_id long, embedding array<double>",
        "vec_id", "embedding", wh, "ix", "L", str(tmp_path / "pqckpt"),
        vec_sep=None,
    )
    q.awaitTermination(120)
    assert wh.read("ix__postings").count() == base + 30


@pytest.mark.slow
def test_stream_neardup_ingest_suppresses_near_copies(spark, tmp_path):
    """Streaming NEAR-dup gate: exact re-deliveries drop via the digest
    index, near-copies of indexed docs drop via the band index,
    in-batch near-pairs keep only the smallest id, genuinely new text
    lands — and only survivors fold into both indexes."""
    from gcp_data_pipeline_fyp_spark.operators.dedup import (
        build_digest_index,
        build_lsh_index,
    )
    from gcp_data_pipeline_fyp_spark.streaming.ingest import (
        stream_neardup_ingest,
    )

    in_dir = tmp_path / "nin"
    in_dir.mkdir()
    wh = Warehouse(spark, str(tmp_path / "nwh"))
    ckpt = str(tmp_path / "nckpt")

    base_text = "the quick brown fox jumps over the lazy dog again and again"
    hist = spark.createDataFrame(
        [(1, "2023-01-01 10:00:00", base_text, 1.0)],
        "event_id long, ts string, event_type string, value double",
    )
    build_digest_index(wh, hist, ["event_type"], "nd")
    build_lsh_index(wh, hist, "event_id", "event_type", "nd")

    fresh_a = "completely different subject matter with zero shared shingles one"
    fresh_b = fresh_a + " tail"   # near-copy of fresh_a, larger id
    schema = "event_id long, ts timestamp, event_type string, value double"
    _write_csv(
        in_dir / "b1.csv",
        [
            (10, "2024-01-01 10:00:00", base_text, 5.0),            # exact dup
            (11, "2024-01-01 10:01:00", base_text + " zz", 6.0),    # near-copy of indexed
            (12, "2024-01-01 10:02:00", fresh_a, 7.0),              # new -> keep
            (13, "2024-01-01 10:03:00", fresh_b, 8.0),              # near-copy of 12 -> drop
        ],
    )
    q = stream_neardup_ingest(
        spark, str(in_dir), schema, "event_id", "event_type", "ts",
        wh, "NDOCS", "nd", ckpt,
    )
    q.awaitTermination(120)
    got = {r["event_id"] for r in wh.read("NDOCS").collect()}
    assert got == {12}
    # index grew by the single survivor only
    assert wh.read("nd__digests").distinct().count() == 2
    assert (
        wh.read("nd__bands").select("event_id").distinct().count() == 2
    )

    # next run: a near-copy of the batch-1 SURVIVOR (now indexed) must
    # drop even though batch 1's state is long gone; new content lands
    _write_csv(
        in_dir / "b2.csv",
        [
            (20, "2024-03-01 10:00:00", fresh_a + " coda", 9.0),
            (21, "2024-03-01 10:01:00",
             "yet another wholly novel document body two", 2.0),
        ],
    )
    q2 = stream_neardup_ingest(
        spark, str(in_dir), schema, "event_id", "event_type", "ts",
        wh, "NDOCS", "nd", ckpt,
    )
    q2.awaitTermination(120)
    got2 = {r["event_id"] for r in wh.read("NDOCS").collect()}
    assert got2 == {12, 21}


@pytest.mark.slow
def test_stream_neardup_ingest_full_replay_is_noop(spark, tmp_path):
    """Checkpoint loss + full feed replay: the digest index (the replay
    ledger) drops every already-ingested row BEFORE band matching, so
    nothing duplicates — band matching alone could not self-suppress
    (same-id pairs are filtered by the pair operator)."""
    from gcp_data_pipeline_fyp_spark.operators.dedup import (
        build_digest_index,
        build_lsh_index,
    )
    from gcp_data_pipeline_fyp_spark.streaming.ingest import (
        stream_neardup_ingest,
    )

    in_dir = tmp_path / "rnin"
    in_dir.mkdir()
    wh = Warehouse(spark, str(tmp_path / "rnwh"))
    empty = spark.createDataFrame(
        [], "event_id long, ts string, event_type string, value double"
    )
    build_digest_index(wh, empty, ["event_type"], "nd")
    build_lsh_index(wh, empty, "event_id", "event_type", "nd")

    schema = "event_id long, ts timestamp, event_type string, value double"
    _write_csv(
        in_dir / "b1.csv",
        [
            (30, "2024-01-01 10:00:00",
             "document alpha beta gamma delta epsilon zeta", 1.0),
            (31, "2024-01-01 10:01:00",
             "unrelated words entirely separate content here", 2.0),
        ],
    )
    q = stream_neardup_ingest(
        spark, str(in_dir), schema, "event_id", "event_type", "ts",
        wh, "RNDOCS", "nd", str(tmp_path / "ck1"),
    )
    q.awaitTermination(120)
    assert wh.read("RNDOCS").count() == 2

    # fresh checkpoint -> the file source re-reads EVERYTHING
    q2 = stream_neardup_ingest(
        spark, str(in_dir), schema, "event_id", "event_type", "ts",
        wh, "RNDOCS", "nd", str(tmp_path / "ck2"),
    )
    q2.awaitTermination(120)
    assert wh.read("RNDOCS").count() == 2


def test_stream_neardup_ingest_jsonl_feed(spark, tmp_path):
    """The JSONL feed path: same gates, document-corpus format; a torn
    JSON line must not crash the stream or land in the table."""
    from gcp_data_pipeline_fyp_spark.operators.dedup import (
        build_digest_index,
        build_lsh_index,
    )
    from gcp_data_pipeline_fyp_spark.streaming.ingest import (
        stream_neardup_ingest,
    )

    in_dir = tmp_path / "jnin"
    in_dir.mkdir()
    wh = Warehouse(spark, str(tmp_path / "jnwh"))
    base_text = "the quick brown fox jumps over the lazy dog again and again"
    hist = spark.createDataFrame(
        [(1, "2023-01-01 10:00:00", base_text, 1.0)],
        "event_id long, ts string, event_type string, value double",
    )
    build_digest_index(wh, hist, ["event_type"], "jnd")
    build_lsh_index(wh, hist, "event_id", "event_type", "jnd")

    fresh = "entirely novel jsonl document body with plenty of words one"
    (in_dir / "b1.jsonl").write_text(
        '{"event_id": 10, "ts": "2024-01-01T10:00:00", '
        f'"event_type": "{base_text} zz", "value": 5.0}}\n'  # near-copy
        '{"event_id": 11, "ts": "2024-01-01T10:01:00", '
        f'"event_type": "{fresh}", "value": 6.0}}\n'
        "{torn json line\n"
    )
    q = stream_neardup_ingest(
        spark, str(in_dir), 
        "event_id long, ts timestamp, event_type string, value double",
        "event_id", "event_type", "ts", wh, "JDOCS", "jnd",
        str(tmp_path / "jck"), feed_format="jsonl",
    )
    q.awaitTermination(120)
    got = {r["event_id"] for r in wh.read("JDOCS").collect()}
    assert got == {11}


def _write_score_csv(path, rows):
    path.write_text(
        "doc_id,score,label\n" + "\n".join(",".join(map(str, r)) for r in rows)
    )


def test_stream_quality_monitor_matches_batch_and_replays_safely(
    spark, tmp_path
):
    """The streamed cumulative state read through
    quality_summary_from_state equals the one-shot batch summary over
    everything streamed so far; a restart folds only new files; the
    report has one row per batch."""
    from gcp_data_pipeline_fyp_spark.operators.evalmetrics import (
        calibration_state,
        quality_summary_from_state,
    )
    from gcp_data_pipeline_fyp_spark.streaming.ingest import (
        stream_quality_monitor,
    )

    in_dir = tmp_path / "qin"
    in_dir.mkdir()
    wh = Warehouse(spark, str(tmp_path / "qwh"))
    schema = "doc_id long, score double, label boolean"

    rows1 = [(i, round(0.05 + (i % 10) / 10.0, 2), i % 3 == 0) for i in range(60)]
    rows2 = [(100 + i, round((i % 5) / 5.0, 2), i % 2 == 0) for i in range(40)]
    _write_score_csv(in_dir / "f1.csv", rows1)
    _write_score_csv(in_dir / "f2.csv", rows2)
    ckpt = str(tmp_path / "qckpt")

    def run():
        q = stream_quality_monitor(
            spark, str(in_dir), schema, "score", "label",
            wh, "Q_STATE", "Q_REPORT", ckpt,
            n_bins=10, max_files_per_trigger=1,
        )
        q.awaitTermination(120)

    run()
    all_rows = spark.createDataFrame(rows1 + rows2, schema)
    want = quality_summary_from_state(
        calibration_state(all_rows, "score", "label", 10)
    ).first()
    report = wh.read("Q_REPORT").orderBy("batch_id").collect()
    assert len(report) == 2
    last = report[-1]
    assert (last["n"], last["n_pos"]) == (100, want["n_pos"])
    assert last["ece_micro"] == want["ece_micro"]
    assert last["auc_binned_micro"] == want["auc_binned_micro"]

    # restart: only the new file folds in
    rows3 = [(200 + i, 0.9, True) for i in range(20)]
    _write_score_csv(in_dir / "f3.csv", rows3)
    run()
    assert wh.read("Q_STATE").agg(F.sum("n")).first()[0] == 120
    rep3 = wh.read("Q_REPORT").orderBy("batch_id").collect()[-1]
    all3 = spark.createDataFrame(rows1 + rows2 + rows3, schema)
    want3 = quality_summary_from_state(
        calibration_state(all3, "score", "label", 10)
    ).first()
    assert (rep3["n"], rep3["auc_binned_micro"]) == (120, want3["auc_binned_micro"])

    # idle restart: nothing new, state and report untouched
    n_rep = wh.read("Q_REPORT").count()
    run()
    assert wh.read("Q_STATE").agg(F.sum("n")).first()[0] == 120
    assert wh.read("Q_REPORT").count() == n_rep


def test_stream_match_ingest_reshapes_and_replays_safely(spark, tmp_path):
    """Streaming distribution matching: the persisted profile state
    equals the batch groupBy over everything delivered; the LAST
    batch's keepers equal the batch reshaper run at the full profile
    (cumulative state == full source there); a from-scratch replay
    refuses loudly; an original-checkpoint restart appends nothing."""
    from gcp_data_pipeline_fyp_spark.operators.sampling import (
        distribution_match_sample,
    )
    from gcp_data_pipeline_fyp_spark.streaming.ingest import (
        stream_match_ingest,
    )

    in_dir = tmp_path / "min"
    in_dir.mkdir()
    wh = Warehouse(spark, str(tmp_path / "wh"))
    schema = "doc_id long, bucket long"
    rows1 = [(i, 0) for i in range(40)] + [(100 + i, 1) for i in range(10)]
    rows2 = [(200 + i, 0) for i in range(20)] + [
        (300 + i, 1) for i in range(30)
    ]
    (in_dir / "f1.csv").write_text(
        "doc_id,bucket\n" + "\n".join(f"{a},{b}" for a, b in rows1)
    )
    (in_dir / "f2.csv").write_text(
        "doc_id,bucket\n" + "\n".join(f"{a},{b}" for a, b in rows2)
    )
    # reference wants 1:1 over buckets 0 and 1
    ref = spark.createDataFrame(
        [(i, i % 2) for i in range(20)], "rid long, bucket long"
    )

    def run(ckpt):
        q = stream_match_ingest(
            spark, str(in_dir), schema, ["doc_id"], "bucket", ref,
            wh, "MATCHED", "MATCH_STATE", str(tmp_path / ckpt),
            seed=7, max_files_per_trigger=1,
        )
        q.awaitTermination(120)

    run("mckpt")

    full = spark.createDataFrame(rows1 + rows2, schema)
    # profile state == one-shot batch counts over both files
    got_state = sorted(
        (r.bucket, r.n_src)
        for r in wh.read("MATCH_STATE").select("bucket", "n_src").collect()
    )
    assert got_state == [(0, 60), (1, 40)]

    out = wh.read("MATCHED")
    n_batches = out.select("__batch_id").distinct().count()
    assert n_batches == 2
    # last batch's keepers == the batch reshaper at the FULL profile,
    # restricted to that batch's rows (cumulative state == full there)
    last = out.filter(F.col("__batch_id") == 1)
    batch2_ids = {a for a, _ in rows2}
    expect_full = {
        r.doc_id
        for r in distribution_match_sample(
            full, ["doc_id"], "bucket", ref, seed=7
        ).collect()
    }
    assert {r.doc_id for r in last.collect()} == expect_full & batch2_ids
    total_rows = out.count()

    # from-scratch replay: new checkpoint renumbers batch ids -> raise
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises(StreamingQueryException, match="not comparable"):
        run("mckpt2")
    assert wh.read("MATCHED").count() == total_rows

    # original checkpoint restart: nothing new, no duplicate appends
    run("mckpt")
    assert wh.read("MATCHED").count() == total_rows
    assert sorted(
        (r.bucket, r.n_src)
        for r in wh.read("MATCH_STATE").select("bucket", "n_src").collect()
    ) == got_state


@pytest.mark.slow
def test_stream_dsir_ingest_scores_and_replays_safely(spark, tmp_path):
    """Streaming DSIR: the persisted raw-profile state equals the
    batch bucket_profile over everything delivered; the LAST batch's
    keepers equal dsir_logweights + threshold at the full raw profile
    (cumulative state == full corpus there); a from-scratch replay
    refuses loudly; an original-checkpoint restart appends nothing."""
    from gcp_data_pipeline_fyp_spark.operators.dsir import (
        bucket_profile,
        dsir_logweights,
    )
    from gcp_data_pipeline_fyp_spark.streaming.ingest import (
        stream_dsir_ingest,
    )

    in_dir = tmp_path / "din"
    in_dir.mkdir()
    wh = Warehouse(spark, str(tmp_path / "wh"))
    schema = "doc_id long, text string"
    rows1 = [(i, "alpha beta gamma") for i in range(5)] + [
        (10 + i, "junk1 junk2 junk3") for i in range(5)
    ]
    rows2 = [(20 + i, "alpha beta beta") for i in range(5)] + [
        (30 + i, "junk4 junk5 junk6") for i in range(5)
    ]
    (in_dir / "f1.csv").write_text(
        "doc_id,text\n" + "\n".join(f"{a},{b}" for a, b in rows1)
    )
    (in_dir / "f2.csv").write_text(
        "doc_id,text\n" + "\n".join(f"{a},{b}" for a, b in rows2)
    )
    target = spark.createDataFrame(
        [(100, "alpha beta alpha beta gamma")], "tid long, text string"
    )

    # threshold between the two weight populations AT THE FULL
    # PROFILE (the parity point the test checks at batch 2)
    full = spark.createDataFrame(rows1 + rows2, schema)
    w_full = {
        r["doc_id"]: r["logw"]
        for r in dsir_logweights(full, "doc_id", target).collect()
    }
    lo = max(v for k, v in w_full.items() if k >= 30)  # junk docs
    hi = min(v for k, v in w_full.items() if 20 <= k < 30)  # target-like
    assert lo < hi
    thresh = (lo + hi) / 2.0

    def run(ckpt):
        q = stream_dsir_ingest(
            spark, str(in_dir), schema, "doc_id", "text", target, thresh,
            wh, "DSIR_KEPT", "DSIR_STATE", str(tmp_path / ckpt),
            max_files_per_trigger=1,
        )
        q.awaitTermination(120)

    run("dckpt")

    # profile state == one-shot bucket_profile over both files
    got_state = sorted(
        (r.bucket, r.c)
        for r in wh.read("DSIR_STATE").select("bucket", "c").collect()
    )
    want_state = sorted(
        (r.bucket, r.c) for r in bucket_profile(full, "text").collect()
    )
    assert got_state == want_state

    out = wh.read("DSIR_KEPT")
    assert out.select("__batch_id").distinct().count() == 2
    # last batch's keepers == batch operator at the FULL raw profile,
    # restricted to that batch's rows (cumulative state == full there)
    last_ids = {
        r.doc_id for r in out.filter(F.col("__batch_id") == 1).collect()
    }
    batch2_ids = {a for a, _ in rows2}
    expect = {
        k for k, v in w_full.items() if v >= thresh and k in batch2_ids
    }
    assert last_ids == expect
    # the kept rows carry their scores for downstream resampling
    assert {"logw", "n_feats"} <= set(out.columns)
    total_rows = out.count()

    # from-scratch replay: new checkpoint renumbers batch ids -> raise
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises(StreamingQueryException, match="not comparable"):
        run("dckpt2")
    assert wh.read("DSIR_KEPT").count() == total_rows

    # original checkpoint restart: nothing new, no duplicate appends
    run("dckpt")
    assert wh.read("DSIR_KEPT").count() == total_rows
    assert sorted(
        (r.bucket, r.c)
        for r in wh.read("DSIR_STATE").select("bucket", "c").collect()
    ) == got_state


def test_stream_dsir_ingest_rejects_score_column_clash(spark, tmp_path):
    from gcp_data_pipeline_fyp_spark.streaming.ingest import (
        stream_dsir_ingest,
    )

    target = spark.createDataFrame([(1, "x")], "tid long, text string")
    wh = Warehouse(spark, str(tmp_path / "wh"))
    import pytest

    with pytest.raises(ValueError, match="logw"):
        # case-insensitive like Spark's own column resolution
        stream_dsir_ingest(
            spark, str(tmp_path), "doc_id long, text string, Logw double",
            "doc_id", "text", target, 0.0, wh, "OUT", "STATE",
            str(tmp_path / "ck"),
        )
