"""Tests for the benchmark's own logic; no Spark, no timing.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import random
import sys
import threading

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import reference  # noqa: E402
import tracing  # noqa: E402

RUN_TS = dt.datetime(2024, 6, 1, 3, 0)


def _digest(tmp_path, seed: int) -> str:
    rng = random.Random(seed)
    paths = [str(tmp_path / f"m{seed}.csv")]
    gen.write_feed(paths[0], gen.month_events(rng, 2024, 5, 3_000))
    for d in gen.daily_deliveries(rng, 2024, 6, 3, 200):
        paths.append(str(tmp_path / f"{seed}-{d.name}"))
        gen.write_feed(paths[-1], d.rows)
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def test_generator_is_deterministic_per_seed(tmp_path):
    (tmp_path / "a").mkdir()
    (tmp_path / "b").mkdir()
    assert _digest(tmp_path / "a", 7) == _digest(tmp_path / "b", 7)
    assert _digest(tmp_path / "a", 7) != _digest(tmp_path / "a", 8)


def test_generator_feed_shape():
    rows = gen.month_events(random.Random(3), 2024, 5, 20_000)
    assert all(list(r) == gen.COLUMNS for r in rows)
    assert len({(r["time"], r["latitude"], r["longitude"]) for r in rows}) == len(rows)
    places = [r["place"] for r in rows]
    states = {name for _c, name, _a in gen.US_PLACES} | {a for _c, _n, a in gen.US_PLACES}
    assert any(p.rsplit(", ", 1)[-1] in states for p in places if ", " in p)
    assert any(p.rsplit(", ", 1)[-1] not in states for p in places if ", " in p)
    assert any(p and "," not in p for p in places)
    quakes = [r for r in rows if r["type"] == "earthquake"]
    assert 0.9 < len(quakes) / len(rows) < 0.98
    # the quality gate drops ~REJECT_SHARE of earthquakes plus the malformed rows
    dropped = sum(reference.staged(r) is None for r in quakes) / len(quakes)
    assert abs(dropped - gen.REJECT_SHARE - gen.MALFORMED_SHARE) < 0.015
    # Gutenberg-Richter with b=1: each magnitude unit is ~10x rarer
    mags = [float(r["mag"]) for r in quakes if reference.staged(r) is not None]
    n1 = sum(1.0 <= m < 2.0 for m in mags)
    n2 = sum(2.0 <= m < 3.0 for m in mags)
    assert 7 < n1 / n2 < 13


def test_deliveries_overlap_and_revise():
    rng = random.Random(5)
    ds = gen.daily_deliveries(rng, 2024, 6, 4, 1_000)
    for prev, cur in zip(ds, ds[1:]):
        key = {(r["time"], r["latitude"], r["longitude"]): r for r in prev.rows}
        resent = [r for r in cur.rows if (r["time"], r["latitude"], r["longitude"]) in key]
        assert 0.35 < len(resent) / 1_000 < 0.65
        revised = [r for r in resent if r["mag"] != key[(r["time"], r["latitude"], r["longitude"])]["mag"]]
        assert 0 < len(revised) < 0.15 * len(resent)
        assert len({(r["time"], r["latitude"], r["longitude"]) for r in cur.rows}) == len(cur.rows)


def _row(**kw) -> dict[str, str]:
    row = gen.make_event(random.Random(1), dt.datetime(2024, 5, 3, 12), malformed=False)
    row.update({"type": "earthquake", "depth": "10.00", "mag": "2.50", "magError": "0.100",
                "depthError": "1.00"})
    row.update(kw)
    return row


def test_reference_gate_and_coercion():
    assert reference.staged(_row()) is not None
    assert reference.staged(_row(depth="0.50")) is None
    assert reference.staged(_row(depth="0")) is None          # '0' -> NULL -> 0 < 1
    assert reference.staged(_row(mag="0.90")) is None
    assert reference.staged(_row(magError="0.600")) is None
    assert reference.staged(_row(type="quarry blast", mag="0.20")) is not None
    assert reference.staged(_row(type="quarry blast", mag="n/a")) is None  # malformed


def test_reference_place_parsing():
    assert reference.region_country("12 km SW of Ridgecrest, CA") == ("California", "USA")
    assert reference.region_country("5 km N of Anza, California") == ("California", "USA")
    assert reference.region_country("80 km NE of Hihifo, Tonga") == ("Hihifo", "Tonga")
    assert reference.region_country("Kermadec Islands, New Zealand") == ("Kermadec Islands", "New Zealand")
    assert reference.region_country("south of the Kermadec Islands") == ("south of the Kermadec Islands", None)
    assert reference.region_country(None) == (None, None)


def test_reference_rejects_planted_wrong_measure():
    rows = gen.month_events(random.Random(11), 2024, 5, 2_000)
    want = reference.Warehouse()
    want.load(rows, RUN_TS, full=True)
    good = want.measures()
    assert reference.mismatches(dict(good), good) == []
    for key, bad in (
        ("avg_earthquake_magnitude", good["avg_earthquake_magnitude"] * (1 + 1e-6)),
        ("total_seismic_events", good["total_seismic_events"] + 1),
        ("latest_daily_update", "2024-06-02 03:00:00"),
        ("totals_by_type", {**good["totals_by_type"], "explosion": -1}),
    ):
        assert reference.mismatches({**good, key: bad}, good), key


def test_reference_delta_first_accepted_version_wins():
    rng = random.Random(2)
    want = reference.Warehouse()
    want.load(gen.month_events(rng, 2024, 5, 500), RUN_TS, full=True)
    d1, d2 = gen.daily_deliveries(rng, 2024, 6, 2, 300)
    added1 = want.load(d1.rows, d1.run_ts, full=False)
    before = dict(want.fact)
    added2 = want.load(d2.rows, d2.run_ts, full=False)
    # re-sends (revised or not) never add a second fact row or change the first
    assert added1 == sum(reference.staged(r) is not None for r in d1.rows)
    accepted2 = [s for s in map(reference.staged, d2.rows) if s is not None]
    assert added2 == sum(reference.fact_row(s, RUN_TS)["key"] not in before for s in accepted2)
    assert added2 < len(accepted2)
    assert all(want.fact[k] == v for k, v in before.items())
    assert want.measures()["latest_daily_update"] == str(d2.run_ts)


def test_reference_stream_model():
    s = reference.Stream(["earthquake"], (-1.0, 10.0))
    a = _row(id="a1")
    bad = _row(id="b1", mag="")
    s.round([a, bad, _row(id="c1", mag="12.00"), _row(id="d1", type="meteor")])
    s.round([dict(a), _row(id="e1")])
    assert s.clean_ids == {"a1", "e1"}
    assert s.quarantined == 3
    assert s.batches == 2


def test_interval_arithmetic():
    assert tracing.union([(3, 4), (0, 1), (0.5, 2)]) == [(0, 2), (3, 4)]
    assert tracing.length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)
    assert tracing.subtract([(0, 10)], [(1, 2), (1.5, 3), (9, 12)]) == pytest.approx(7.0)
    assert tracing.subtract([(0, 1), (5, 6)], []) == pytest.approx(2.0)
    assert tracing.subtract([(0, 1)], [(-5, 5)]) == pytest.approx(0.0)


def _span(tr: tracing.Tracer, layer: str, parent, start: float, end: float) -> tracing.Span:
    s = tracing.Span(len(tr.spans), parent, layer, {}, start, end)
    tr.spans.append(s)
    return s


def _task(stage: int, launch: float, finish: float) -> tracing.Task:
    return tracing.Task(stage, launch, finish, finish - launch, 0.5 * (finish - launch), 0.0,
                        1_000_000, 2_000_000, 10)


def test_self_time_attribution_and_driver_time():
    tr = tracing.Tracer()
    root = _span(tr, "bench", None, 0.0, 100.0)
    stg = _span(tr, "staging", root.id, 10.0, 20.0)
    _span(tr, "warehouse", stg.id, 12.0, 18.0)
    log = tracing.EventLog(
        jobs={0: tracing.Job(0, 11.0, [0]), 1: tracing.Job(1, 13.0, [1, 2]),
              2: tracing.Job(2, 150.0, [3]), 3: tracing.Job(3, 14.0, [2])},
        stages_run={0, 1, 2},
        tasks=[_task(0, 11.0, 11.5), _task(1, 13.0, 15.0), _task(2, 15.0, 17.0)],
    )
    assert tracing.attribute(tr, log) == [2]          # outside every span
    assert log.jobs[0].span == stg.id and log.jobs[1].span == 2
    assert log.stage_job[2] == 1                      # reused stage runs in its first job
    every = {s.id for s in tr.spans}
    m = tracing.layer_metrics(tr, log, "staging", every) | tracing.layer_metrics(tr, log, "warehouse", every)
    assert m["staging.wall_s"] == pytest.approx(10.0)
    assert m["staging.self_s"] == pytest.approx(4.0)  # 10 s minus the 6 s child
    assert m["warehouse.self_s"] == pytest.approx(6.0)
    assert m["staging.driver_s"] == pytest.approx(10.0 - 0.5 - 4.0)
    assert m["staging.jobs"] == 3 and m["warehouse.jobs"] == 2   # inclusive up the chain
    assert m["staging.stages"] == 3 and m["warehouse.stages"] == 2
    assert m["staging.task_s"] == pytest.approx(4.5)
    assert m["warehouse.mb_written"] == pytest.approx(4.0)
    assert tracing.records_written(tr, log, every, "warehouse") == 20
    # a span set without the staging span drops its own figures
    assert tracing.layer_metrics(tr, log, "staging", every - {stg.id})["staging.jobs"] == 0


def test_worker_threads_nest_under_main_thread_span():
    tr = tracing.Tracer()
    with tr.span("dw") as dw:
        t = threading.Thread(target=lambda: tr.span("warehouse").__enter__())
        t.start()
        t.join(timeout=10)
        assert not t.is_alive()
    assert tr.spans[1].parent == dw.id


def test_wrap_records_and_unpatch_restores():
    class Box:
        def put(self, x):
            return x * 2

    tr = tracing.Tracer()
    orig = Box.put
    tr.wrap(Box, "put", "warehouse", tag=lambda a: {"x": a[1]},
            before=lambda a: a[1], after=lambda s, a, st: s.counts.update(seen=st))
    assert Box().put(3) == 6
    assert tr.spans[0].layer == "warehouse" and tr.spans[0].tags == {"x": 3}
    assert tr.spans[0].counts == {"seen": 3} and tr.spans[0].end is not None
    tr.unpatch()
    assert Box.put is orig


@pytest.mark.parametrize("name", ["java", "odd) name"])
def test_proc_cpu_s_reads_user_and_system_ticks(tmp_path, name):
    import run

    stat = tmp_path / "stat"
    stat.write_text(f"4242 ({name}) S 1 2 3 0 -1 4194368 10 0 0 0 250 31 0 0 20 0 30 0 100\n")
    assert run.proc_cpu_s(str(stat)) == pytest.approx(281 / os.sysconf("SC_CLK_TCK"))
