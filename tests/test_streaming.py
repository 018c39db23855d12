"""Streaming ingest + windowed aggregation tests (real readStream runs)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from gcp_data_pipeline_fyp_spark.sources.tables import Warehouse
from gcp_data_pipeline_fyp_spark.streaming.ingest import (
    stream_validated_ingest,
    windowed_event_counts,
)

SCHEMA = "event_id long, ts timestamp, event_type string, value double"


def _write_csv(path, rows):
    path.write_text(
        "event_id,ts,event_type,value\n" + "\n".join(",".join(map(str, r)) for r in rows)
    )


def test_available_now_ingest_with_dedup_and_merge(spark, tmp_path):
    """The streamed delta chain with a rule every row passes: in-batch
    and watermark dedup, then a MERGE that updates in place and
    inserts."""
    from gcp_data_pipeline_fyp_spark.operators.expectations import not_null

    rules = [not_null("event_id")]
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
    q = stream_validated_ingest(
        spark, str(in_dir), SCHEMA, ["event_id"], "ts", wh, "events_t", ckpt,
        rules,
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
    q = stream_validated_ingest(
        spark, str(in_dir), SCHEMA, ["event_id"], "ts", wh, "events_t", ckpt,
        rules,
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


def test_stream_validated_ingest_replay_skips_duplicate_appends(
    spark, tmp_path, monkeypatch
):
    """foreachBatch is at-least-once, and each append-only table is its
    OWN replay ledger (guarding quarantine with the report ledger left
    a crash window between the two appends that duplicated dead-letter
    rows). Both scenarios restart the same checkpoint, so Spark really
    re-delivers batch 0. Crash after BOTH appends (the batch ran, its
    commit never landed): neither re-appends. Crash BETWEEN them
    (quarantine landed, report did not): the report row lands on
    replay and the quarantine rows do NOT duplicate. The idempotent
    merge lands the clean rows in every scenario."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from gcp_data_pipeline_fyp_spark.operators.expectations import in_range

    def run(tag, crash=None):
        in_dir = tmp_path / f"in_{tag}"
        in_dir.mkdir()
        ckpt = tmp_path / f"ckpt_{tag}"
        wh = Warehouse(spark, str(tmp_path / f"wh_{tag}"))
        _write_csv(in_dir / "b1.csv", [
            (1, "2024-01-01 10:00:00", "click", 1.0),
            (2, "2024-01-01 10:01:00", "view", 99.0),  # violator
        ])

        def ingest():
            return stream_validated_ingest(
                spark, str(in_dir), SCHEMA, ["event_id"], "ts", wh, "ev",
                str(ckpt), rules=[in_range("value", 0, 10)],
                quarantine_table="Q", report_table="LOG",
            )

        if crash is None:
            ingest().awaitTermination(120)
            # what a crash after the fold, before the commit, leaves
            for name in ("0", ".0.crc"):
                (ckpt / "commits" / name).unlink()
        else:
            with monkeypatch.context() as mp:
                _crash_once(mp, *crash)
                with pytest.raises(StreamingQueryException, match="InjectedCrash"):
                    ingest().awaitTermination(120)
        q = ingest()
        q.awaitTermination(120)
        assert [p["batchId"] for p in q.recentProgress] == [0]  # the replay
        return wh

    # crash after BOTH appends: nothing re-appends
    wh = run("both")
    assert {r["event_id"] for r in wh.read("ev").collect()} == {1}
    assert wh.read("LOG").count() == 1
    assert wh.read("Q").count() == 1
    # crash BETWEEN the appends (quarantine landed, report did not):
    # replay must complete the report WITHOUT duplicating quarantine
    wh = run("between", crash=("append", "Q"))
    assert {r["event_id"] for r in wh.read("ev").collect()} == {1}
    assert wh.read("LOG").count() == 1
    assert wh.read("Q").count() == 1


def test_ledger_probes_run_only_for_a_replayed_batch(spark, tmp_path, monkeypatch):
    """`batch_already_appended` runs for no batch of a steady round (a
    batch the offset log did not hold before the start is new) and
    once per ledger for the batch a restart re-delivers."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from gcp_data_pipeline_fyp_spark.operators.expectations import in_range
    from gcp_data_pipeline_fyp_spark.streaming import ingest as ingest_mod

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    wh = Warehouse(spark, str(tmp_path / "wh"))
    probed = []
    real = ingest_mod.batch_already_appended

    def counted(wh, table, batch_id):
        probed.append((table, batch_id))
        return real(wh, table, batch_id)

    monkeypatch.setattr(ingest_mod, "batch_already_appended", counted)

    def ingest():
        return stream_validated_ingest(
            spark, str(in_dir), SCHEMA, ["event_id"], "ts", wh, "ev",
            str(tmp_path / "ckpt"), rules=[in_range("value", 0, 10)],
            quarantine_table="Q", report_table="LOG",
        )

    for i in range(3):
        _write_csv(in_dir / f"b{i}.csv", [
            (10 * i + 1, f"2024-01-01 1{i}:00:00", "click", 1.0),
            (10 * i + 2, f"2024-01-01 1{i}:01:00", "view", 99.0),  # violator
        ])
        if i == 2:  # killed after the clean rows' append, before the commit
            with monkeypatch.context() as mp:
                _crash_once(mp, "append", "ev")
                with pytest.raises(StreamingQueryException, match="InjectedCrash"):
                    ingest().awaitTermination(120)
        ingest().awaitTermination(120)
    # batches 0, 1 and batch 2's first delivery: none; its replay: one each
    assert probed == [("LOG", 2), ("Q", 2)]
    assert wh.read("LOG").count() == 3 and wh.read("Q").count() == 3
    assert {r["event_id"] for r in wh.read("ev").collect()} == {1, 11, 21}


def test_fresh_checkpoint_appends_over_ledgers_holding_its_batch_ids(spark, tmp_path):
    """Batch ids are numbered per checkpoint lineage: a fresh checkpoint
    over report and quarantine tables that already hold batch 0 (from
    a deleted checkpoint) appends its batch 0 rows. Its files are new
    to this lineage, so the ledgers are not probed."""
    from gcp_data_pipeline_fyp_spark.operators.expectations import in_range

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.append(spark.createDataFrame(
        [("value_in_range", "in_range", "value", 1, False, 0)],
        "rule string, kind string, target string, n_violations long, "
        "passed boolean, batch_id long",
    ), "LOG")
    wh.append(spark.createDataFrame(
        [(2, "2024-01-01 10:01:00", "view", 99.0, 0)],
        "event_id long, ts string, event_type string, value double, "
        "batch_id long",
    ).withColumn("ts", F.col("ts").cast("timestamp")), "Q")
    _write_csv(in_dir / "b1.csv", [
        (1, "2024-01-01 10:00:00", "click", 1.0),
        (2, "2024-01-01 10:01:00", "view", 99.0),  # violator
    ])
    stream_validated_ingest(
        spark, str(in_dir), SCHEMA, ["event_id"], "ts", wh, "ev",
        str(tmp_path / "ckpt"), rules=[in_range("value", 0, 10)],
        quarantine_table="Q", report_table="LOG",
    ).awaitTermination(120)
    assert {r["event_id"] for r in wh.read("ev").collect()} == {1}
    assert [r["batch_id"] for r in wh.read("LOG").collect()] == [0, 0]
    assert [r["batch_id"] for r in wh.read("Q").collect()] == [0, 0]


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


def test_fold_state_skips_replays_and_refuses_a_foreign_lineage(spark, tmp_path):
    """The state fold's replay guard, without a stream: a batch id at or
    below the stored mark is skipped, a newer one merges, and a state
    table stamped by another checkpoint lineage raises and stays as
    it was."""
    import json

    from gcp_data_pipeline_fyp_spark.streaming.ingest import _fold_state

    wh = Warehouse(spark, str(tmp_path / "wh"))

    def checkpoint(name, stream_id):
        d = tmp_path / name
        d.mkdir()
        (d / "metadata").write_text(json.dumps({"id": stream_id}))
        return str(d)

    own, foreign = checkpoint("own", "stream-a"), checkpoint("foreign", "stream-b")

    def fold(ckpt, batch_id, rows):
        part = spark.createDataFrame(rows, "k string, n long")
        return _fold_state(wh, "S", ckpt, batch_id, part)

    def state():
        return sorted((r["k"], r["n"]) for r in wh.read("S").collect())

    assert fold(own, 0, [("a", 1), ("b", 2)]) is True
    assert fold(own, 0, [("a", 1), ("b", 2)]) is False  # replay
    assert state() == [("a", 1), ("b", 2)]
    assert fold(own, 1, [("a", 3)]) is True
    assert state() == [("a", 4), ("b", 2)]
    with pytest.raises(ValueError, match="not comparable"):
        fold(foreign, 2, [("a", 5)])
    assert state() == [("a", 4), ("b", 2)]
    marks = wh.read("S").select("__stream_id", "__last_batch_id").distinct()
    assert [tuple(r) for r in marks.collect()] == [("stream-a", 1)]


_QUAKE_SCHEMA = (
    "id string, time timestamp, mag double, type string, place string, "
    "depth double"
)
_QUAKE_TYPES = ["earthquake", "quarry blast", "explosion", "ice quake"]


def _quake_round(rng, r, n_new, prev_clean):
    """One landed file of the quake feed: `n_new` events from round r's
    own 10-minute window, ~3% breaking a rule (NULL or out-of-range
    magnitude, unknown type), plus ~30% re-sends of the previous
    round's clean rows."""
    import datetime as dt

    start = dt.datetime(2024, 5, 20) + dt.timedelta(minutes=10 * r)
    rows = []
    for i in range(n_new):
        t = start + dt.timedelta(milliseconds=rng.randrange(600_000))
        row = [
            f"r{r}e{i}", t.strftime("%Y-%m-%d %H:%M:%S.%f")[:-3],
            f"{rng.uniform(0.5, 6.5):.2f}", rng.choice(_QUAKE_TYPES),
            f"{rng.randrange(1, 90)} km N of Town {rng.randrange(50)}",
            f"{rng.uniform(0, 300):.2f}",
        ]
        if rng.random() < 0.03:
            kind = rng.randrange(3)
            if kind == 0:
                row[2] = ""
            elif kind == 1:
                row[2] = f"{rng.uniform(10.5, 15.0):.2f}"
            else:
                row[3] = "meteor"
        rows.append(row)
    rows += [list(x) for x in prev_clean if rng.random() < 0.3]
    rng.shuffle(rows)
    return rows


def _quake_rules():
    from gcp_data_pipeline_fyp_spark.operators.expectations import (
        accepted_values,
        in_range,
        not_null,
        unique,
    )

    return [
        not_null("mag"),
        in_range("mag", -1.0, 10.0),
        accepted_values("type", _QUAKE_TYPES),
        unique("id"),
    ]


def test_steady_validated_round_runs_at_most_7_jobs(spark, tmp_path):
    """Structural pin on the benchmarked streaming path: after a first
    round has created the tables and a second has compiled the steady
    path's classes once, one steady `stream_validated_ingest` round (a 4k-event file with violators and re-sends, appended to
    the existing table: no id is stored yet) runs one micro-batch and
    at most 7 Spark jobs on local[4] with 4 shuffle partitions — 7
    measured; 12 while every round ended in a data-less batch and
    probed both replay ledgers, 15 when every round rewrote the table
    and each table read inferred its schema from a footer. It compiles
    at most 5 generated classes (the watermark predicate and the two
    `batch_id` stamps, whose long literals are inlined; 13 with the
    probes, each LIMIT's counter being named afresh), and the
    caller's session keeps its `noDataMicroBatches` setting. The
    stream runs its jobs in its own thread, under the query's run id
    as job group."""
    import csv
    import random

    assert spark.sparkContext.master == "local[4]"
    assert spark.conf.get("spark.sql.shuffle.partitions") == "4"
    no_data = "spark.sql.streaming.noDataMicroBatches.enabled"
    before = spark.conf.get(no_data)
    compiled = (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_SOURCE_CODE_SIZE()
    )
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    wh = Warehouse(spark, str(tmp_path / "wh"))
    rules = _quake_rules()
    rng = random.Random(3)
    prev_clean, clean_ids = [], set()
    for r in range(3):
        rows = _quake_round(rng, r, 4000, prev_clean)
        with open(in_dir / f"round_{r}.csv", "w", newline="") as fh:
            w = csv.writer(fh)
            w.writerow(["id", "time", "mag", "type", "place", "depth"])
            w.writerows(rows)
        prev_clean = [
            x for x in rows
            if x[2] and -1.0 <= float(x[2]) <= 10.0 and x[3] in _QUAKE_TYPES
        ]
        clean_ids |= {x[0] for x in prev_clean}
        n_compiled = compiled.getCount()
        q = stream_validated_ingest(
            spark, str(in_dir), _QUAKE_SCHEMA, ["id"], "time", wh, "EVENTS",
            str(tmp_path / "ckpt"), rules=rules, quarantine_table="QUARANTINE",
            report_table="EXPECTATIONS_LOG",
        )
        q.awaitTermination(120)
        n_compiled = compiled.getCount() - n_compiled
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))
    assert 0 < len(jobs) <= 7, len(jobs)
    assert len(q.recentProgress) == 1, q.recentProgress
    assert n_compiled <= 5, n_compiled
    assert spark.conf.get(no_data) == before
    assert wh.read("EVENTS").count() == len(clean_ids)


class _InjectedCrash(RuntimeError):
    pass


def _crash_once(mp, method, table, nth=1, before=False):
    """Make `Warehouse.<method>` raise on its `nth` call for `table` —
    after that call's write has landed, or before it with `before`.
    With `method="rename"` the target is `os.rename` under the
    warehouse's promotions, matched by the destination's basename, so
    ("rename", t, 1, True) kills the promotion of t between its two
    renames (t moved aside, the staged copy not yet in place)."""
    if method == "rename":
        owner = os

        def target(args):
            return os.path.basename(args[1])
    else:
        owner = Warehouse

        def target(args):
            return args[2]  # (self, frame or staging table, table, ...)

    real = getattr(owner, method)
    calls = [0]

    def patched(*args, **kw):
        hit = target(args) == table
        calls[0] += hit
        fire = hit and calls[0] == nth
        if fire and before:
            raise _InjectedCrash(f"before {method} {table}")
        out = real(*args, **kw)
        if fire:
            raise _InjectedCrash(f"after {method} {table}")
        return out

    mp.setattr(owner, method, patched)


def _rows(wh, table, drop=()):
    return sorted(map(tuple, wh.read(table).drop(*drop).collect()), key=repr)


def test_validated_ingest_crash_at_each_step_replays_exactly(
    spark, tmp_path, monkeypatch
):
    """Kill the second batch's fold at each write step, restart from the
    same checkpoint: table, quarantine and report equal an
    uninterrupted run's — no row lost or doubled."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from gcp_data_pipeline_fyp_spark.operators.expectations import (
        in_range,
        not_null,
    )
    from gcp_data_pipeline_fyp_spark.streaming.ingest import (
        stream_validated_ingest,
    )

    files = [
        [(1, "2024-01-01 10:00:00", "click", 1.0),
         (2, "2024-01-01 10:01:00", "view", 99.0),
         (3, "2024-01-01 10:02:00", "", 2.0)],
        [(1, "2024-01-01 10:00:00", "click", 1.0),  # re-send: dropped
         (4, "2024-01-01 11:00:00", "view", 4.0),
         (5, "2024-01-01 11:01:00", "view", -3.0),
         (6, "2024-01-01 11:02:00", "", 5.0)],
    ]

    def run(tag, *crashes):
        in_dir = tmp_path / f"in_{tag}"
        in_dir.mkdir()
        wh = Warehouse(spark, str(tmp_path / f"wh_{tag}"))

        def ingest():
            stream_validated_ingest(
                spark, str(in_dir), SCHEMA, ["event_id"], "ts", wh, "ev",
                str(tmp_path / f"ckpt_{tag}"),
                rules=[not_null("event_type"), in_range("value", 0, 10)],
                quarantine_table="Q", report_table="LOG",
            ).awaitTermination(120)

        for i, rows in enumerate(files):
            _write_csv(in_dir / f"b{i}.csv", rows)
            if i == 1:
                for crash in crashes:  # each restart crashes once more
                    with monkeypatch.context() as mp:
                        _crash_once(mp, *crash)
                        with pytest.raises(StreamingQueryException, match="InjectedCrash"):
                            ingest()
            ingest()
        return [_rows(wh, t) for t in ("ev", "Q", "LOG")]

    want = run("clean")
    assert [len(t) for t in want] == [2, 4, 4]
    for n, crashes in enumerate([
        [("append", "Q")],
        [("append", "LOG", 1, True)],
        [("append", "LOG")],
        # after the clean rows' append, before the batch commits: the
        # replay finds their ids stored and rewrites instead of appending
        [("append", "ev")],
        # that rewrite killed after its swap, and between its two renames
        [("append", "ev"), ("swap", "ev")],
        [("append", "ev"), ("rename", "ev", 1, True)],
    ]):
        assert run(f"crash{n}", *crashes) == want, crashes


def test_partitioned_upsert_crash_between_renames_recovers(
    spark, tmp_path, monkeypatch
):
    """A partitioned upsert that rewrites (a stored key is updated)
    killed inside `swap_partitions` between the two renames of a month:
    reading the table restores that month's old directory (no row lost),
    and re-running the upsert leaves the table equal to an
    uninterrupted run's."""
    from gcp_data_pipeline_fyp_spark.operators.merge import upsert

    schema = "k string, p int, v double"
    stored = [("a", 1, 1.0), ("b", 2, 2.0), ("c", 2, 3.0), (None, 3, 4.0)]
    updates = [("b", 2, 20.0), ("d", 3, 5.0), (None, 3, 40.0), ("e", 4, 6.0)]

    def run(tag, crash=None):
        wh = Warehouse(spark, str(tmp_path / tag))
        wh.overwrite(spark.createDataFrame(stored, schema), "T", ["p"])

        def merge():
            return upsert(wh, "T", spark.createDataFrame(updates, schema), ["k"], "p")

        if crash is not None:
            with monkeypatch.context() as mp:
                _crash_once(mp, *crash)
                with pytest.raises(_InjectedCrash):
                    merge()
            after_crash = _rows(Warehouse(spark, wh.root), "T")
            assert not any(e.endswith(".__backup") for e in os.listdir(wh.path("T")))
            assert len(after_crash) >= len(stored), after_crash
            wh = Warehouse(spark, wh.root)  # the restart
        assert merge() is False  # a stored key: the rewrite path
        return _rows(wh, "T")

    want = run("clean")
    assert want == sorted(
        [("a", 1.0, 1), ("b", 20.0, 2), ("c", 3.0, 2), (None, 40.0, 3),
         ("d", 5.0, 3), ("e", 6.0, 4)], key=repr,
    )
    for n, crash in enumerate([
        ("rename", "p=2", 1, True),
        ("rename", "p=3", 1, True),
        ("swap_partitions", "T"),
    ]):
        assert run(f"crash{n}", crash) == want, crash


@pytest.mark.slow
def test_drift_state_fold_crash_at_each_step_replays_exactly(
    spark, tmp_path, monkeypatch
):
    """The replay-guarded state fold, killed in its second batch after
    the staging write, after the swap and after the report append:
    a restart from the same checkpoint leaves state and report equal
    to an uninterrupted run's — no count doubled, no report row lost."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from gcp_data_pipeline_fyp_spark.operators.profile import fit_psi_profile
    from gcp_data_pipeline_fyp_spark.streaming.ingest import (
        stream_drift_monitor,
    )

    base = spark.createDataFrame(
        [(i, "2024-01-01 00:00:00", "ab"[i % 2], float(i % 20)) for i in range(200)],
        "event_id long, ts string, event_type string, value double",
    )
    profile = fit_psi_profile(base, "value", ["event_type"], 10)

    def run(tag, crash=None):
        in_dir = tmp_path / f"in_{tag}"
        in_dir.mkdir()
        _write_csv(in_dir / "f1.csv", [
            (1000 + i, "2024-01-02 00:00:00", "ab"[i % 2], float(i % 10))
            for i in range(50)
        ])
        _write_csv(in_dir / "f2.csv", [
            (2000 + i, "2024-01-03 00:00:00", "ab"[i % 2], 15.0 + i % 5)
            for i in range(50)
        ])
        wh = Warehouse(spark, str(tmp_path / f"wh_{tag}"))
        wh.overwrite(profile, "PROFILE")

        def monitor():
            stream_drift_monitor(
                spark, str(in_dir), SCHEMA, "value", ["event_type"], wh,
                "PROFILE", "STATE", "REPORT", str(tmp_path / f"ckpt_{tag}"),
                max_files_per_trigger=1,
            ).awaitTermination(120)

        if crash is not None:
            with monkeypatch.context() as mp:
                _crash_once(mp, *crash)
                with pytest.raises(StreamingQueryException, match="InjectedCrash"):
                    monitor()
        monitor()
        return _rows(wh, "STATE", drop=["__stream_id"]), _rows(wh, "REPORT")

    want = run("clean")
    assert len(want[1]) == 4  # 2 batches x 2 groups
    for n, crash in enumerate([
        ("overwrite", "STATE__staging", 2),
        ("swap", "STATE", 2),
        ("append", "REPORT", 2),
    ]):
        assert run(f"crash{n}", crash) == want, crash
