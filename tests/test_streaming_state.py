"""Stateful sessionization: session continuity across micro-batches,
equivalence with the batch window-function query."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gcp_data_pipeline_fyp_spark.streaming.sessionize import sessionize_stream

SCHEMA = "event_id long, ts string, user_id long"

ROWS_B1 = [
    (1, "2024-01-01 10:00:00", 7),
    (2, "2024-01-01 10:10:00", 7),   # same session (10 min gap)
    (3, "2024-01-01 12:00:00", 7),   # new session (>30 min)
    (4, "2024-01-01 10:00:00", 8),
]
ROWS_B2 = [
    (5, "2024-01-01 12:05:00", 7),   # continues session 2 ACROSS batches
    (6, "2024-01-01 15:00:00", 8),   # user 8 new session
]


pytestmark = pytest.mark.slow  # E2E module: full tier only (pytest -m "")


def _write(path, rows):
    path.write_text(
        "event_id,ts,user_id\n" + "\n".join(",".join(map(str, r)) for r in rows)
    )


def test_stateful_sessionize_across_batches(spark, tmp_path):
    in_dir = tmp_path / "sess_in"
    in_dir.mkdir()
    ckpt = str(tmp_path / "sess_ckpt")
    _write(in_dir / "b1.csv", ROWS_B1)

    out_dir = str(tmp_path / "sess_out")

    def run():
        stream = (
            spark.readStream.schema(SCHEMA)
            .option("header", True)
            .csv(str(in_dir))
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )
        # parquet sink: supports checkpoint recovery across restarts
        # (memory sink does not)
        q = (
            sessionize_stream(stream, gap_seconds=1800.0)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    got1 = {
        r["event_id"]: r["session_id"]
        for r in spark.read.parquet(out_dir).collect()
    }
    assert got1 == {1: 1, 2: 1, 3: 2, 4: 1}

    _write(in_dir / "b2.csv", ROWS_B2)
    run()
    got2 = {
        r["event_id"]: r["session_id"]
        for r in spark.read.parquet(out_dir).collect()
    }
    # state carried: event 5 (5 min after event 3) stays in session 2;
    # event 6 (5h after event 4) opens session 2 for user 8
    assert got2[5] == 2
    assert got2[6] == 2


def test_stateful_matches_batch_windows(spark, tmp_path):
    """One batch through the stateful path == the batch lag/sum query."""
    from gcp_data_pipeline_fyp_spark.queries_analytics import q_sessionize_events  # noqa: F401

    in_dir = tmp_path / "sess_eq"
    in_dir.mkdir()
    all_rows = ROWS_B1 + ROWS_B2
    _write(in_dir / "all.csv", all_rows)
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("header", True)
        .csv(str(in_dir))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    q = (
        sessionize_stream(stream, gap_seconds=1800.0)
        .writeStream.format("memory")
        .queryName("sessions_eq")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "eq_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    stateful = {
        (r["user_id"], r["event_id"]): r["session_id"]
        for r in spark.sql("SELECT * FROM sessions_eq").collect()
    }

    # batch equivalent (same lag/gap semantics, inline)
    from pyspark.sql import Window

    batch = spark.createDataFrame(all_rows, SCHEMA).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    flag = F.when(
        prev.isNull() | ((F.unix_micros(F.col("ts")) - F.unix_micros(prev)) > 1800 * 1_000_000),
        1,
    ).otherwise(0)
    w2 = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    expected = {
        (r["user_id"], r["event_id"]): r["sid"]
        for r in batch.withColumn("__f", flag)
        .select("user_id", "event_id", F.sum("__f").over(w2).alias("sid"))
        .collect()
    }
    assert stateful == expected


class _FakeGroupState:
    """Minimal GroupState stand-in for driving _sessionize_group purely."""

    def __init__(self):
        self._v = None
        self.hasTimedOut = False

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v

    def setTimeoutDuration(self, ms):
        pass


def test_vectorized_group_matches_row_loop_reference():
    """Differential unit test (no Spark): the numpy shift+cumsum
    sessionizer must match the per-row reference loop across carried
    state, ties, and empty micro-batches."""
    import random

    import pandas as pd

    from gcp_data_pipeline_fyp_spark.streaming.sessionize import (
        _sessionize_group,
    )

    def reference(batches, gap):
        last, sid, out = None, 0, []
        for batch in batches:
            for eid, ts in sorted(batch, key=lambda r: (r[1], r[0])):
                if last is None or (ts - last) > gap:
                    sid += 1
                last = ts
                out.append((eid, sid))
        return sorted(out)

    rng = random.Random(7)
    for _trial in range(100):
        gap = rng.choice([1.0, 5.0, 30.0])
        batches, t = [], 0.0
        for _ in range(rng.randint(1, 3)):
            rows = []
            for _ in range(rng.randint(0, 20)):
                t += rng.choice([0.1, 0.5, 2.0, 6.0, 40.0])
                rows.append((len(rows) + rng.randint(0, 1000) * 100, t))
            batches.append(rows)
        st, got = _FakeGroupState(), []
        for batch in batches:
            pdf = pd.DataFrame(
                {
                    "event_id": [r[0] for r in batch],
                    "ts": pd.to_datetime([r[1] for r in batch], unit="s"),
                }
            )
            for f in _sessionize_group((1,), iter([pdf]), st, gap):
                got.extend(
                    zip(f["event_id"].astype(int), f["session_id"].astype(int))
                )
        assert sorted(got) == reference(batches, gap)
