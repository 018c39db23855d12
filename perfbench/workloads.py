"""The benchmark's workloads, driving the product path through its public
entry points only: `plans.pipeline.run_pipeline`, the `plans.measures`
functions (called the way the `measures` CLI command calls them) and
`streaming.ingest.stream_validated_ingest`.

Every workload is a closed loop with one client: the next operation
starts when the previous one and its output check are done. A run makes
a fixed number of operations, the run length divided by the workload's
nominal operation time, so that two commits compared do identical work
(a time-bounded loop would give the faster commit more, and warmer,
samples). Each operation is checked against the independent model in
reference.py, and a raise or a mismatch counts it as failed.
"""

from __future__ import annotations

import datetime as dt
import functools
import os
import random
import shutil
import sys
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import gen
import reference
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gcp_data_pipeline_fyp_spark.operators.expectations import (
    accepted_values,
    in_range,
    not_null,
    unique,
)
from gcp_data_pipeline_fyp_spark.plans import measures, pipeline
from gcp_data_pipeline_fyp_spark.sources.tables import Warehouse
from gcp_data_pipeline_fyp_spark.streaming.ingest import stream_validated_ingest

MONTH = (2024, 5)           # stream_rounds' month
BASE_MONTH = (2024, 4)      # daily_delta's full load; its deliveries land in the next month
BASE_ROWS = 5_000
DELIVERY_NEW = 1_500        # new events per daily delivery
MAX_DELIVERIES = 20
STREAM_ROUND_NEW = 4_000    # new events landed per stream round
STREAM_VIOLATOR_SHARE = 0.03
STREAM_RESEND_SHARE = 0.3
WARM_ROUNDS = 3
MAX_ROUNDS = 40
FULL_RUN_TS = dt.datetime(2024, 6, 1, 3, 0)

STREAM_SCHEMA = ", ".join(
    f"{c} {'TIMESTAMP' if c in ('time', 'updated') else 'DOUBLE' if c in gen.FLOAT_COLUMNS else 'STRING'}"
    for c in gen.COLUMNS
)
STREAM_TYPES = [t for t, _w in gen.TYPE_MIX]
STREAM_MAG_RANGE = (-1.0, 10.0)


def stream_rules() -> list:
    """The streamed feed's contract (rule columns need a live session)."""
    return [
        not_null("mag"),
        in_range("mag", *STREAM_MAG_RANGE),
        accepted_values("type", STREAM_TYPES),
        unique("id"),
    ]


DIM_TABLES = [
    "T_DIM_Network", "T_DIM_RegionCountry", "T_DIM_Seismic_Activity_Type",
    "T_DIM_magCategory", "T_DIM_depthCategory", "T_DIM_date", "T_FACT_Events",
]


def data_files(path: str) -> list[str]:
    return [os.path.join(dp, f) for dp, _dn, fns in os.walk(path)
            for f in fns if f.endswith(".parquet")]


@dataclass
class Ctx:
    spark: object
    states: object
    work: str
    seed: int
    n_ops: int = 0
    tracer: object = None
    op_s: list[float] = field(default_factory=list)   # successful operations
    op_py_cpu_s: float = 0.0    # this process's CPU time inside operations
    attempted: int = 0
    failed: int = 0
    fact_rows_added: int = 0    # by delta loads, warm-up included
    stream_batches: int = 0
    stream_table_files: int = 0

    def span(self, layer: str, **tags):
        return self.tracer.span(layer, **tags) if self.tracer else nullcontext()

    def path(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def load(self, raw: str, wh_root: str, n_rows: int, run_ts: dt.datetime) -> None:
        with self.span("pipeline", raw=os.path.basename(raw)) as s:
            pipeline.run_pipeline(self.spark, raw, self.states, wh_root, run_ts=run_ts)
            if s is not None:
                s.counts["rows"] = n_rows

    def timed_op(self, fn, check) -> None:
        """One measured operation plus its output check. The wall clock and
        this process's CPU clock time the operation alone; the JVM's CPU
        time, read around the whole loop (run.py), covers the check too."""
        self.attempted += 1
        t0, c0 = time.perf_counter(), time.process_time()
        try:
            fn()
        except Exception as e:  # a failed op is counted, the run goes on
            print(f"op {self.attempted} raised: {e!r}", file=sys.stderr)
            self.failed += 1
            return
        finally:
            self.op_py_cpu_s += time.process_time() - c0
        self.op_s.append(time.perf_counter() - t0)
        with self.span("check"):
            try:
                problems = check()
            except Exception as e:  # an unreadable output is a wrong output
                problems = [f"check raised {e!r}"]
        if problems:
            print(f"op {self.attempted} wrong: {problems[:5]}", file=sys.stderr)
            self.failed += 1

    def measuring(self) -> bool:
        return self.attempted < self.n_ops


def refresh_measures(ctx: Ctx, wh_root: str) -> dict:
    """One dashboard refresh, exactly as the `measures` CLI command runs it."""
    wh = Warehouse(ctx.spark, wh_root)
    with ctx.span("measures", measure="star") as s:
        star = measures.star_events(
            wh.read("T_FACT_Events"), wh.read("T_DIM_Seismic_Activity_Type")
        ).persist()
        if s is not None:
            s.counts["files_scanned"] = len(data_files(wh.path("T_FACT_Events"))) + len(
                data_files(wh.path("T_DIM_Seismic_Activity_Type")))
    out = {}
    try:
        for name, fn in (
            ("latest_daily_update", lambda: str(measures.latest_daily_update(star).first()[0])),
            ("avg_earthquake_magnitude", lambda: measures.avg_earthquake_magnitude(star).first()[0]),
            ("max_earthquake_depth", lambda: measures.max_earthquake_depth(star).first()[0]),
            ("max_earthquake_magnitude", lambda: measures.max_earthquake_magnitude(star).first()[0]),
            ("totals_by_type", lambda: {r["LB_type"]: r["total_events"]
                                        for r in measures.totals_by_type(star).collect()}),
            ("total_seismic_events", lambda: measures.total_seismic_events(star).first()[0]),
        ):
            with ctx.span("measures", measure=name):
                out[name] = fn()
    finally:
        star.unpersist()
    return out


def check_warehouse(ctx: Ctx, wh_root: str, want: reference.Warehouse,
                    refresh: bool) -> list[str]:
    """Row counts of every dimension and of the fact; with `refresh`, also
    every measure."""
    wh = Warehouse(ctx.spark, wh_root)
    tagged = [wh.read(t).select(F.lit(t).alias("table")) for t in DIM_TABLES]
    got_counts = {r["table"]: r["count"] for r in
                  functools.reduce(DataFrame.union, tagged).groupBy("table").count().collect()}
    problems = reference.mismatches(got_counts, want.dims())
    if refresh:
        problems += reference.mismatches(refresh_measures(ctx, wh_root), want.measures())
    return problems


class Workload:
    """Inputs are generated in the constructor (plain Python, before the
    session starts). `warm_up` is the untimed first operation that set-up
    time includes, so measured operations run on a warm JVM; `run` is the
    measured loop of `ctx.n_ops` operations of about `nominal_op_s` each."""

    nominal_op_s: float

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx


class DailyDelta(Workload):
    """Daily deliveries of month M+1 loaded in delta mode after a full load
    of month M; the full load and the first delivery are the warm-up. Every
    delivery is checked by row counts, and the last one by the measures too:
    the warehouse is cumulative, so a wrong delivery shows in the last
    refresh."""

    nominal_op_s = 7.0

    def __init__(self, ctx: Ctx) -> None:
        super().__init__(ctx)
        rng = random.Random(ctx.seed)
        self.base_rows = gen.month_events(rng, *BASE_MONTH, BASE_ROWS)
        self.base_raw = ctx.path("raw", f"whole_month_{BASE_MONTH[0]}{BASE_MONTH[1]:02d}.csv")
        gen.write_feed(self.base_raw, self.base_rows)
        self.deliveries = gen.daily_deliveries(
            rng, BASE_MONTH[0], BASE_MONTH[1] + 1, MAX_DELIVERIES, DELIVERY_NEW)
        for d in self.deliveries:
            gen.write_feed(ctx.path("raw", d.name), d.rows)
        self.wh_root = ctx.path("wh", "")
        self.want = reference.Warehouse()

    def deliver(self, d: gen.Delivery) -> None:
        self.ctx.load(self.ctx.path("raw", d.name), self.wh_root, len(d.rows), d.run_ts)

    def warm_up(self) -> None:
        run_ts = dt.datetime(BASE_MONTH[0], BASE_MONTH[1] + 1, 1, 3, 0)
        self.want.load(self.base_rows, run_ts, full=True)
        self.ctx.load(self.base_raw, self.wh_root, len(self.base_rows), run_ts)
        first = self.deliveries[0]
        self.ctx.fact_rows_added += self.want.load(first.rows, first.run_ts, full=False)
        self.deliver(first)

    def run(self) -> None:
        todo = self.deliveries[1:1 + self.ctx.n_ops]
        for i, d in enumerate(todo):
            self.ctx.fact_rows_added += self.want.load(d.rows, d.run_ts, full=False)
            self.ctx.timed_op(
                lambda: self.deliver(d),
                lambda: check_warehouse(self.ctx, self.wh_root, self.want, i == len(todo) - 1))


def stream_file(rng: random.Random, r: int, n_new: int,
                prev_clean: list[dict[str, str]]) -> list[dict[str, str]]:
    """Round r: `n_new` events from its own 10-minute window (never late for
    the 1-day watermark), a few rule violators, and re-sends of clean rows."""
    start = dt.datetime(MONTH[0], MONTH[1], 20) + dt.timedelta(minutes=10 * r)
    out = []
    for _ in range(n_new):
        row = gen.make_event(rng, start + dt.timedelta(milliseconds=rng.randrange(600_000)),
                             malformed=False)
        if rng.random() < STREAM_VIOLATOR_SHARE:
            kind = rng.randrange(3)
            if kind == 0:
                row["mag"] = ""
            elif kind == 1:
                row["mag"] = f"{rng.uniform(10.5, 15.0):.2f}"
            else:
                row["type"] = "meteor"
        out.append(row)
    out += [dict(r) for r in prev_clean if rng.random() < STREAM_RESEND_SHARE]
    rng.shuffle(out)
    return out


class StreamTarget:
    """A landing directory, checkpoint and warehouse fed round by round."""

    def __init__(self, ctx: Ctx, name: str) -> None:
        self.ctx = ctx
        self.in_dir = ctx.path(name, "in", "")
        self.ckpt = ctx.path(name, "ckpt")
        self.wh = Warehouse(ctx.spark, ctx.path(name, "wh", ""))
        self.rules = stream_rules()
        self.want = reference.Stream(STREAM_TYPES, STREAM_MAG_RANGE)
        self.prev_clean: list[dict[str, str]] = []

    def land(self, rng: random.Random, r: int, n_new: int) -> None:
        rows = stream_file(rng, r, n_new, self.prev_clean)
        self.prev_clean = [x for x in rows if not self.want.violates(x)]
        self.want.round(rows)
        gen.write_feed(os.path.join(self.in_dir, f"round_{r:04d}.csv"), rows)

    def ingest(self, r: int) -> None:
        with self.ctx.span("stream", round=r):
            q = stream_validated_ingest(
                self.ctx.spark, self.in_dir, STREAM_SCHEMA, ["id"], "time", self.wh,
                "EVENTS", self.ckpt, rules=self.rules, quarantine_table="QUARANTINE",
                report_table="EXPECTATIONS_LOG",
            )
            q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        self.ctx.stream_batches += sum(1 for p in q.recentProgress if p["numInputRows"] > 0)

    def check(self) -> list[str]:
        got = self.wh.read("EVENTS").selectExpr("count(*) AS n", "count(DISTINCT id) AS ids").first()
        self.ctx.stream_table_files = len(data_files(self.wh.path("EVENTS")))
        return reference.mismatches(
            {"rows": got["n"], "ids": got["ids"], "quarantine": self.wh.read("QUARANTINE").count(),
             "log": self.wh.read("EXPECTATIONS_LOG").count()},
            {"rows": len(self.want.clean_ids), "ids": len(self.want.clean_ids),
             "quarantine": self.want.quarantined, "log": len(self.rules) * self.want.batches},
        )


class StreamRounds(Workload):
    """Each round lands one file and reruns the AvailableNow ingest. The
    warm-up is three rounds: the first creates the tables, the next two
    merge into them while the JVM warms."""

    nominal_op_s = 2.7

    def __init__(self, ctx: Ctx) -> None:
        super().__init__(ctx)
        self.rng = random.Random(ctx.seed)
        self.target: StreamTarget | None = None

    def warm_up(self) -> None:
        self.target = StreamTarget(self.ctx, "stream")
        for r in range(WARM_ROUNDS):
            self.target.land(self.rng, r, STREAM_ROUND_NEW)
            self.target.ingest(r)

    def run(self) -> None:
        for r in range(WARM_ROUNDS, MAX_ROUNDS):
            if not self.ctx.measuring():
                break
            self.target.land(self.rng, r, STREAM_ROUND_NEW)
            self.ctx.timed_op(lambda: self.target.ingest(r), self.target.check)


def cover_layers(ctx: Ctx, missing: set[str]) -> None:
    """Traced runs only, after the measured phase: exercise once, on tiny
    inputs and under a `tour` span, each layer the workload did not reach,
    so that every per-layer figure is a measurement. Figures of those
    layers describe this tour, not the workload."""
    rng = random.Random(f"tour-{ctx.seed}")
    with ctx.span("tour"):
        if missing - {"session", "stream"}:
            base = gen.month_events(rng, *BASE_MONTH, 500)
            raw = ctx.path("tour", f"whole_month_{BASE_MONTH[0]}{BASE_MONTH[1]:02d}.csv")
            gen.write_feed(raw, base)
            want = reference.Warehouse()
            want.load(base, FULL_RUN_TS, full=True)
            wh_root = ctx.path("tour", "wh", "")
            ctx.load(raw, wh_root, len(base), FULL_RUN_TS)
            d = gen.daily_deliveries(rng, BASE_MONTH[0], BASE_MONTH[1] + 1, 1, 100)[0]
            gen.write_feed(ctx.path("tour", d.name), d.rows)
            ctx.fact_rows_added += want.load(d.rows, d.run_ts, full=False)
            ctx.load(ctx.path("tour", d.name), wh_root, len(d.rows), d.run_ts)
            refresh_measures(ctx, wh_root)
        if "stream" in missing:
            target = StreamTarget(ctx, "tour_stream")
            target.land(rng, 0, 200)
            target.ingest(0)
            ctx.stream_table_files = len(data_files(target.wh.path("EVENTS")))


WORKLOADS = {
    "daily_delta": DailyDelta,
    "stream_rounds": StreamRounds,
}
