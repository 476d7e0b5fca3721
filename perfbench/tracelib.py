"""Pure logic of the benchmark: percentiles, spans and self time, the
Spark event-log reader and build/exec job attribution.

Nothing here touches Spark, so all of it is unit-tested in
``perfbench/tests``.
"""

from __future__ import annotations

import bisect
import glob
import itertools
import json
import math
import os
import statistics
import threading
from dataclasses import dataclass, field
from datetime import datetime, timezone

# Percentiles tried for the tail metric, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def tail_percentile(samples, beyond: int = 10):
    """The highest percentile of ``samples`` that has at least
    ``beyond`` samples strictly above its rank, as ``(percentile,
    value, n)``; ``None`` when even the median lacks the support.

    Nearest-rank percentiles: the p-th percentile of n sorted samples
    is the one at 1-based rank ceil(p * n / 100), leaving n - rank
    samples beyond it."""
    xs = sorted(samples)
    n = len(xs)
    for p in TAIL_LADDER:
        rank = max(1, math.ceil(p * n / 100))
        if n - rank >= beyond:
            return p, xs[rank - 1], n
    return None


def median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


# --- spans ----------------------------------------------------------------

@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    layer: str
    start: float  # epoch seconds
    end: float | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


class Tracer:
    """In-memory span recorder.

    The benchmark loop sets the open phase span (``phase``) of the
    query it runs; spans opened by layer wrappers on any thread hang
    under the innermost span open on their own thread, or under the
    phase when their thread has none. That is how work done on a
    query's ``ThreadPoolExecutor`` legs lands in its build."""

    def __init__(self, clock):
        self.clock = clock
        self.spans: list[Span] = []
        self.phase: int | None = None
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def open(self, name: str, layer: str, parent: int | None = None,
             **attrs) -> Span:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        if parent is None:
            parent = stack[-1] if stack else self.phase
        sp = Span(next(self._ids), parent, name, layer, self.clock(),
                  attrs=attrs)
        with self._lock:
            self.spans.append(sp)
        stack.append(sp.id)
        return sp

    def close(self, sp: Span) -> None:
        sp.end = self.clock()
        stack = self._local.stack
        if stack and stack[-1] == sp.id:
            stack.pop()

    def add(self, name: str, layer: str, parent: int | None, start: float,
            end: float, **attrs) -> Span:
        """Record a finished span measured elsewhere (Spark jobs)."""
        sp = Span(next(self._ids), parent, name, layer, start, end, attrs)
        with self._lock:
            self.spans.append(sp)
        return sp


def self_times(spans) -> dict[int, float]:
    """Self time of every span: its duration minus the part of that
    interval its children cover.

    Children are clipped to their parent. Where children overlap each
    other (parallel legs, concurrent Spark jobs), the shared interval
    is split evenly between the children active in it, so the self
    times of a span's subtree always sum to that span's duration."""
    by_parent: dict[int | None, list[Span]] = {}
    for s in spans:
        by_parent.setdefault(s.parent, []).append(s)
    out: dict[int, float] = {}

    def visit(sp: Span, lo: float, hi: float, weight: float) -> None:
        # ``weight``: this span's share of [lo, hi], already split with
        # any siblings overlapping it there
        kids = [(max(c.start, lo), min(c.end, hi), c)
                for c in by_parent.get(sp.id, [])
                if c.end is not None and min(c.end, hi) > max(c.start, lo)]
        covered = 0.0
        cuts = sorted({lo, hi, *(a for a, _, _ in kids),
                       *(b for _, b, _ in kids)})
        shares: dict[int, list[tuple[float, float, float]]] = {}
        for a, b in zip(cuts, cuts[1:]):
            active = [c for ca, cb, c in kids if ca <= a and cb >= b]
            if not active:
                continue
            covered += (b - a) * weight
            for c in active:
                shares.setdefault(c.id, []).append((a, b, weight / len(active)))
        out[sp.id] = out.get(sp.id, 0.0) + (hi - lo) * weight - covered
        for _, _, c in kids:
            for a, b, w in shares.get(c.id, []):
                visit(c, a, b, w)

    for root in by_parent.get(None, []):
        if root.end is not None:
            visit(root, root.start, root.end, 1.0)
    return out


def subtree(spans, root_id: int) -> list[Span]:
    by_parent: dict[int | None, list[Span]] = {}
    for s in spans:
        by_parent.setdefault(s.parent, []).append(s)
    out, todo = [], [root_id]
    while todo:
        pid = todo.pop()
        for c in by_parent.get(pid, []):
            out.append(c)
            todo.append(c.id)
    return out


# --- Spark event log -------------------------------------------------------

PY_RUN = "time to run Python workers"
PY_START = "time to start Python workers"
PY_INIT = "time to initialize Python workers"
PY_BYTES = ("data sent to Python workers", "data returned from Python workers")
PROGRESS = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"


@dataclass
class Job:
    id: int
    submit: float  # epoch seconds
    end: float | None = None
    stages: list = field(default_factory=list)


@dataclass
class Stage:
    id: int
    attempt: int
    submit: float | None
    end: float | None
    python_rdd: bool
    tasks: list = field(default_factory=list)


@dataclass
class Task:
    launch: float
    finish: float
    ok: bool
    run_s: float
    cpu_s: float
    gc_s: float
    shuffle_bytes: int
    shuffle_records: int
    spill_bytes: int
    py_run_s: float
    py_start_s: float
    py_init_s: float
    py_bytes: int


@dataclass
class EventLog:
    jobs: dict
    stages: dict  # (stage id, attempt) -> Stage
    progress: list  # epoch seconds of streaming micro-batch progress events


def event_files(log_dir: str) -> list[str]:
    """Event files of every application under ``log_dir``: a rolled
    ``eventlog_v2_*/events_<N>_*`` directory (read in N order) or a
    plain single file."""
    out = []
    for entry in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(entry):
            parts = glob.glob(os.path.join(entry, "events_*"))
            out += sorted(parts, key=lambda p: int(
                os.path.basename(p).split("_")[1]))
        elif not os.path.basename(entry).startswith("."):
            out.append(entry)
    return out


def _task(ev) -> Task:
    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
    acc: dict[str, float] = {}
    for a in info.get("Accumulables", []):
        try:
            acc[a.get("Name")] = acc.get(a.get("Name"), 0) + float(a["Update"])
        except (KeyError, TypeError, ValueError):
            continue
    sw = m.get("Shuffle Write Metrics") or {}
    return Task(
        launch=info["Launch Time"] / 1e3,
        finish=info["Finish Time"] / 1e3,
        ok=not info.get("Failed") and not info.get("Killed"),
        run_s=m.get("Executor Run Time", 0) / 1e3,
        cpu_s=m.get("Executor CPU Time", 0) / 1e9,
        gc_s=m.get("JVM GC Time", 0) / 1e3,
        shuffle_bytes=int(sw.get("Shuffle Bytes Written", 0)),
        shuffle_records=int(sw.get("Shuffle Records Written", 0)),
        spill_bytes=int(m.get("Memory Bytes Spilled", 0))
        + int(m.get("Disk Bytes Spilled", 0)),
        # Python SQL metrics are millisecond timings and byte sizes
        py_run_s=acc.get(PY_RUN, 0) / 1e3,
        py_start_s=acc.get(PY_START, 0) / 1e3,
        py_init_s=acc.get(PY_INIT, 0) / 1e3,
        py_bytes=int(sum(acc.get(k, 0) for k in PY_BYTES)),
    )


def read_event_log(paths) -> EventLog:
    jobs: dict[int, Job] = {}
    stages: dict[tuple, Stage] = {}
    progress: list[float] = []

    def stage(info) -> Stage:
        key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
        st = stages.get(key)
        if st is None:
            st = stages[key] = Stage(key[0], key[1], None, None, False)
        if info.get("Submission Time") is not None:
            st.submit = info["Submission Time"] / 1e3
        if info.get("Completion Time") is not None:
            st.end = info["Completion Time"] / 1e3
        st.python_rdd = st.python_rdd or any(
            r.get("Name") == "PythonRDD" for r in info.get("RDD Info", []))
        return st

    for path in paths:
        with open(path, encoding="utf-8") as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue  # a log cut mid-line by a killed app
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = Job(ev["Job ID"],
                                             ev["Submission Time"] / 1e3,
                                             stages=list(ev.get("Stage IDs", [])))
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1e3
                elif kind in ("SparkListenerStageSubmitted",
                              "SparkListenerStageCompleted"):
                    stage(ev["Stage Info"])
                elif kind == "SparkListenerTaskEnd":
                    key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
                    st = stages.get(key) or stage(
                        {"Stage ID": key[0], "Stage Attempt ID": key[1]})
                    st.tasks.append(_task(ev))
                elif kind == PROGRESS:
                    ts = (ev.get("progress") or {}).get("timestamp")
                    progress.append(_iso_epoch(ts) if ts else 0.0)
    return EventLog(jobs, stages, progress)


def _iso_epoch(ts: str) -> float:
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc).timestamp()


def attribute(times, windows) -> dict:
    """Map each ``(key, t)`` in ``times`` to the label of the window
    ``(label, start, end)`` holding ``t``; keys outside every window
    are left out.

    Jobs are attributed by submission time, never by job group:
    legs built on ``ThreadPoolExecutor`` threads do not inherit the
    submitting thread's group, but their jobs still start inside the
    build window of the query that spawned them."""
    ws = sorted(windows, key=lambda w: w[1])
    starts = [w[1] for w in ws]
    out = {}
    for key, t in times:
        i = bisect.bisect_right(starts, t) - 1
        if i >= 0 and t <= ws[i][2]:
            out[key] = ws[i][0]
    return out


def stage_totals(stages) -> dict:
    """Execution counters summed over ``stages``."""
    tasks = [t for st in stages for t in st.tasks]
    overhead = 0.0
    for st in stages:
        if st.submit is not None and st.end is not None and st.tasks:
            longest = max(t.finish - t.launch for t in st.tasks)
            overhead += max(0.0, (st.end - st.submit) - longest)
    return {
        "stages": len(stages),
        "tasks": len(tasks),
        "run_s": sum(t.run_s for t in tasks),
        "cpu_s": sum(t.cpu_s for t in tasks),
        "gc_s": sum(t.gc_s for t in tasks),
        "scheduler_overhead_s": overhead,
        "shuffle_bytes": sum(t.shuffle_bytes for t in tasks),
        "shuffle_records": sum(t.shuffle_records for t in tasks),
        "spill_bytes": sum(t.spill_bytes for t in tasks),
        "task_success_ratio": (sum(t.ok for t in tasks) / len(tasks)
                               if tasks else 1.0),
        "py_run_s": sum(t.py_run_s for t in tasks),
        "py_start_s": sum(t.py_start_s for t in tasks),
        "py_init_s": sum(t.py_init_s for t in tasks),
        "py_bytes": sum(t.py_bytes for t in tasks),
        "python_rdd_run_s": sum(t.run_s for st in stages if st.python_rdd
                                for t in st.tasks),
    }
