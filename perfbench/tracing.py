"""Traced-run tooling: span recorder, Spark event-log parser, job-to-span
attribution and self-time arithmetic.

Spans are recorded from outside the program by wrapping the public
functions of each layer (`Tracer.wrap`); nothing inside the package is
instrumented. Jobs come from an uncompressed Spark event log and are
attributed to the innermost span open at their submission time; stages
and tasks follow their job. Layer counters are inclusive (a layer's
jobs include those of its child spans) except `self_s`, which is the
layer's span time not covered by child spans of other layers.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from collections.abc import Iterable
from contextlib import contextmanager
from dataclasses import dataclass, field

# ------------------------------------------------------------ intervals
def union(intervals: Iterable[tuple[float, float]]) -> list[tuple[float, float]]:
    """Sorted, merged, disjoint cover of the given [start, end] intervals."""
    out: list[list[float]] = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [(s, e) for s, e in out]


def length(intervals: Iterable[tuple[float, float]]) -> float:
    return sum(e - s for s, e in union(intervals))


def subtract(a: Iterable[tuple[float, float]], b: Iterable[tuple[float, float]]) -> float:
    """Length of union(a) not covered by union(b)."""
    ua, ub = union(a), union(b)
    covered, j = 0.0, 0
    for s, e in ua:
        while j < len(ub) and ub[j][1] <= s:
            j += 1
        k = j
        while k < len(ub) and ub[k][0] < e:
            covered += min(e, ub[k][1]) - max(s, ub[k][0])
            k += 1
    return sum(e - s for s, e in ua) - covered


# ------------------------------------------------------------ spans
@dataclass
class Span:
    id: int
    parent: int | None
    layer: str
    tags: dict
    start: float
    end: float | None = None
    counts: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder. Worker threads with no open span of their
    own (the dim builds' ThreadPoolExecutor) nest under the innermost
    span open on the main thread."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stacks: dict[int, list[Span]] = {}
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        return self._stacks.setdefault(threading.get_ident(), [])

    @contextmanager
    def span(self, layer: str, **tags):
        stack = self._stack()
        with self._lock:
            outer = stack or self._stacks.get(threading.main_thread().ident, [])
            s = Span(len(self.spans), outer[-1].id if outer else None, layer, tags, time.time())
            self.spans.append(s)
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()

    def wrap(self, owner: object, name: str, layer: str, tag=None, before=None, after=None) -> None:
        """Replace `owner.name` with a span-recording wrapper.

        `tag(args)` gives the span's tags; `before(args)` runs first and
        its result is passed to `after(span, args, state)` once the call
        returns, for counters measured around the call.
        """
        fn = getattr(owner, name)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            state = before(args) if before else None
            with self.span(layer, **(tag(args) if tag else {})) as s:
                out = fn(*args, **kwargs)
                if after:
                    after(s, args, state)
            return out

        self._patched.append((owner, name, fn))
        setattr(owner, name, traced)

    def unpatch(self) -> None:
        for owner, name, fn in reversed(self._patched):
            setattr(owner, name, fn)
        self._patched.clear()

    def ancestors(self, span_id: int | None) -> list[Span]:
        out = []
        while span_id is not None:
            out.append(self.spans[span_id])
            span_id = self.spans[span_id].parent
        return out

    def depth(self, s: Span) -> int:
        return len(self.ancestors(s.parent))

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([s.__dict__ for s in self.spans], fh, default=str)


# ------------------------------------------------------------ event log
@dataclass
class Job:
    id: int
    submitted: float
    stage_ids: list[int]
    span: int | None = None


@dataclass
class Task:
    stage: int
    launch: float
    finish: float
    run_s: float
    cpu_s: float
    gc_s: float
    shuffle_write: int
    written: int
    records_written: int


@dataclass
class EventLog:
    jobs: dict[int, Job]
    stages_run: set[int]
    tasks: list[Task]
    # a shuffle stage reused by a later job runs only in the first job listing it
    stage_job: dict[int, int] = field(default_factory=dict)

    def __post_init__(self) -> None:
        for job in sorted(self.jobs.values(), key=lambda j: j.id):
            for sid in job.stage_ids:
                self.stage_job.setdefault(sid, job.id)

    def tasks_of(self, jobs: set[int]) -> list[Task]:
        return [t for t in self.tasks if self.stage_job.get(t.stage) in jobs]


def parse_event_log(log_dir: str) -> EventLog:
    """Read every event file under `log_dir` (Spark 4 writes
    eventlog_v2_<app>/events_<n>_<app>; older versions one plain file)."""
    paths = sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)) or sorted(
        p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p))
    if not paths:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    jobs: dict[int, Job] = {}
    stages_run: set[int] = set()
    tasks: list[Task] = []
    for p in paths:
        with open(p) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = Job(ev["Job ID"], ev["Submission Time"] / 1000, ev["Stage IDs"])
                elif kind == "SparkListenerStageCompleted":
                    stages_run.add(ev["Stage Info"]["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    tasks.append(Task(
                        stage=ev["Stage ID"],
                        launch=info["Launch Time"] / 1000,
                        finish=info["Finish Time"] / 1000,
                        run_s=m.get("Executor Run Time", 0) / 1000,
                        cpu_s=m.get("Executor CPU Time", 0) / 1e9,
                        gc_s=m.get("JVM GC Time", 0) / 1000,
                        shuffle_write=(m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                        written=(m.get("Output Metrics") or {}).get("Bytes Written", 0),
                        records_written=(m.get("Output Metrics") or {}).get("Records Written", 0),
                    ))
    return EventLog(jobs, stages_run, tasks)


def attribute(tracer: Tracer, log: EventLog) -> list[int]:
    """Point each job at the innermost span open at its submission; returns
    the ids of jobs no span covers."""
    closed = [s for s in tracer.spans if s.end is not None]
    depth = {s.id: tracer.depth(s) for s in closed}
    unattributed = []
    for job in log.jobs.values():
        t = job.submitted
        # timestamps are whole milliseconds: widen spans by half of one
        covering = [s for s in closed if s.start - 5e-4 <= t <= s.end + 5e-4]
        if not covering:
            unattributed.append(job.id)
            continue
        job.span = max(covering, key=lambda s: (depth[s.id], s.start)).id
    return unattributed


def layer_metrics(tracer: Tracer, log: EventLog, layer: str, keep: set[int]) -> dict[str, float]:
    """`<layer>.<counter>` for wall_s, self_s, driver_s, jobs, stages,
    tasks, task_s, cpu_s, gc_s, shuffle_write_mb, mb_written and
    files_written. Only spans whose id is in `keep` and the jobs under
    them count."""
    spans = [s for s in tracer.spans if s.end is not None and s.id in keep]
    kept = {s.id for s in spans}
    busy = [(t.launch, t.finish) for t in log.tasks]

    def layers_of(span_id: int | None) -> set[str]:
        return {s.layer for s in tracer.ancestors(span_id) if s.id in kept}

    own = [s for s in spans if s.layer == layer]
    own_ids = {s.id for s in own}
    iv = [(s.start, s.end) for s in own]
    kids = [(s.start, s.end) for s in spans if s.parent in own_ids and s.layer != layer]
    jobs = {j.id for j in log.jobs.values() if layer in layers_of(j.span)}
    tasks = log.tasks_of(jobs)
    vals = {
        "wall_s": length(iv),
        "self_s": subtract(iv, kids),
        "driver_s": subtract(iv, busy),
        "jobs": len(jobs),
        "stages": sum(1 for sid in log.stages_run if log.stage_job.get(sid) in jobs),
        "tasks": len(tasks),
        "task_s": sum(t.run_s for t in tasks),
        "cpu_s": sum(t.cpu_s for t in tasks),
        "gc_s": sum(t.gc_s for t in tasks),
        "shuffle_write_mb": sum(t.shuffle_write for t in tasks) / 1e6,
        "mb_written": sum(t.written for t in tasks) / 1e6,
        "files_written": sum(s.counts.get("files_written", 0) for s in spans
                             if layer in layers_of(s.id)),
    }
    return {f"{layer}.{k}": v for k, v in vals.items()}


def records_written(tracer: Tracer, log: EventLog, keep: set[int], layer: str, **tags) -> int:
    """Output records of the jobs attributed to kept spans of `layer` with `tags`."""
    span_ids = {s.id for s in tracer.spans if s.id in keep and s.layer == layer
                and all(s.tags.get(k) == v for k, v in tags.items())}
    jobs = {j.id for j in log.jobs.values() if j.span in span_ids}
    return sum(t.records_written for t in log.tasks_of(jobs))
