"""Tracing for the benchmark's traced run.  It observes the program from
outside, through three sources:

* ``ListenerCapture`` - a ``StreamingQueryListener`` that keeps every
  progress event, keyed by the query's ``runId``;
* ``read_event_log`` - the Spark event log that the benchmark session
  writes (plain JSON lines, one file per application);
* ``Tracer.patch`` - wrappers around public functions and methods,
  applied in the benchmark process only.

Spans are kept in memory and written once, by ``Tracer.dump``.
"""

from __future__ import annotations

import functools
import glob
import itertools
import json
import os
import threading
import time
from dataclasses import asdict, dataclass, field
from datetime import datetime


@dataclass
class Span:
    name: str
    start: float
    end: float
    span_id: int
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def covered(start: float, end: float, intervals) -> float:
    """Length of [start, end] covered by the union of ``intervals``
    (each clipped to [start, end])."""
    clipped = sorted((max(a, start), min(b, end)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class Tracer:
    """In-memory span store.  Wrapped calls nest through a per-thread
    stack; spans recorded after the fact (micro-batches, Spark jobs) name
    their parent explicitly."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self.patches: list[tuple[object, str, object, bool]] = []

    def add(self, name, start, end, parent=None, **attrs) -> Span:
        with self._lock:
            s = Span(name, start, end, next(self._ids), parent, attrs)
            self.spans.append(s)
        return s

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.span_id]

    def self_time(self, span: Span) -> float:
        """The span's duration minus the part of it its children cover."""
        kids = [(c.start, c.end) for c in self.children(span)]
        return span.dur - covered(span.start, span.end, kids)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def wrap(self, fn, name: str, attrs_fn=None):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            stack = tracer._local.__dict__.setdefault("stack", [])
            parent = stack[-1] if stack else None
            span = tracer.add(name, time.time(), 0.0, parent,
                              **(attrs_fn(*args, **kwargs) if attrs_fn else {}))
            stack.append(span.span_id)
            try:
                return fn(*args, **kwargs)
            finally:
                stack.pop()
                span.end = time.time()

        return wrapper

    def patch(self, owner, attr: str, name: str, attrs_fn=None) -> None:
        """Replace ``owner.attr`` with a traced wrapper until ``unpatch``."""
        own = attr in vars(owner)
        orig = getattr(owner, attr)
        self.patches.append((owner, attr, vars(owner).get(attr), own))
        setattr(owner, attr, self.wrap(orig, name, attrs_fn))

    def unpatch(self, keep: int = 0) -> None:
        """Undo every patch made after the first ``keep``."""
        while len(self.patches) > keep:
            owner, attr, orig, own = self.patches.pop()
            if own:
                setattr(owner, attr, orig)
            else:
                delattr(owner, attr)

    def adopt(self, span: Span, candidates) -> None:
        """Parent ``span`` under the innermost candidate whose interval
        contains its start (no-op when none does)."""
        best = None
        for c in candidates:
            if c is not span and c.start <= span.start <= c.end:
                if best is None or c.dur < best.dur:
                    best = c
        if best is not None:
            span.parent = best.span_id

    def dump(self, path: str, meta: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"meta": meta, "spans": [asdict(s) for s in self.spans]}, fh)


def _iso_epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def make_listener_capture():
    """A ``StreamingQueryListener`` that records every event by runId.
    Built in a function so that importing this module needs no Spark."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ListenerCapture(StreamingQueryListener):
        def __init__(self) -> None:
            self.runs: dict[str, dict] = {}
            self._cv = threading.Condition()

        def _run(self, run_id: str) -> dict:
            return self.runs.setdefault(
                run_id, {"id": None, "started": None, "terminated": None,
                         "progress": []})

        def onQueryStarted(self, event) -> None:
            with self._cv:
                r = self._run(str(event.runId))
                r["id"] = str(event.id)
                r["started"] = _iso_epoch(event.timestamp)

        def onQueryProgress(self, event) -> None:
            p = json.loads(event.progress.json)
            with self._cv:
                self._run(p["runId"])["progress"].append(p)

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            with self._cv:
                self._run(str(event.runId))["terminated"] = time.time()
                self._cv.notify_all()

        def drain(self, queries: int, timeout: float = 60.0) -> None:
            """Wait until ``queries`` runs have started and every started
            run's terminated event arrived.  The listener bus delivers a
            query's events in order, so its last progress event has
            arrived by then."""
            deadline = time.time() + timeout
            with self._cv:
                while len(self.runs) < queries or any(
                        r["terminated"] is None for r in self.runs.values()):
                    left = deadline - time.time()
                    if left <= 0:
                        raise TimeoutError("listener bus did not drain")
                    self._cv.wait(left)

    return ListenerCapture()


def progress_summary(progress: list[dict]) -> dict:
    """Sums over one query run's progress events (durations in seconds)."""
    def dur(p, k):
        return p.get("durationMs", {}).get(k, 0) / 1000.0

    ops: dict[str, dict] = {}
    store_commits = 0
    for p in progress:
        for op in p.get("stateOperators", []):
            o = ops.setdefault(op["operatorName"], {
                "rows_updated": 0, "rows_dropped_late": 0, "update_s": 0.0,
                "commit_s": 0.0, "state_bytes": 0})
            o["rows_updated"] += op.get("numRowsUpdated", 0)
            o["rows_dropped_late"] += op.get("numRowsDroppedByWatermark", 0)
            o["update_s"] += op.get("allUpdatesTimeMs", 0) / 1000.0
            o["commit_s"] += op.get("commitTimeMs", 0) / 1000.0
            o["state_bytes"] = max(o["state_bytes"], op.get("memoryUsedBytes", 0))
            store_commits += op.get("numStateStoreInstances",
                                    op.get("numShufflePartitions", 0))
    return {
        "batches": len(progress),
        "input_rows": sum(p.get("numInputRows", 0) for p in progress),
        "add_batch_s": sum(dur(p, "addBatch") for p in progress),
        "planning_s": sum(dur(p, "queryPlanning") for p in progress),
        "log_commit_s": sum(dur(p, "walCommit") + dur(p, "commitOffsets")
                            for p in progress),
        "trigger_s": sum(dur(p, "triggerExecution") for p in progress),
        "store_commits": store_commits,
        "ops": ops,
    }


def batch_spans(tracer: Tracer, run: dict, name: str, parent=None) -> list[Span]:
    """One span per micro-batch, from the listener's trigger timestamp and
    its triggerExecution duration."""
    out = []
    for p in run["progress"]:
        start = _iso_epoch(p["timestamp"])
        end = start + p.get("durationMs", {}).get("triggerExecution", 0) / 1000.0
        out.append(tracer.add(name, start, end, parent, batch_id=p["batchId"],
                              query_id=run["id"]))
    return out


@dataclass
class Job:
    job_id: int
    start: float
    end: float
    props: dict
    stages: list[int]
    run_s: float = 0.0       # executor run time, summed over tasks
    cpu_s: float = 0.0       # executor CPU time, summed over tasks
    shuffle_write: int = 0   # shuffle bytes written, summed over tasks

    @property
    def description(self) -> str:
        return self.props.get("spark.job.description") or ""

    @property
    def query_id(self) -> str | None:
        return self.props.get("sql.streaming.queryId")


def read_event_log(log_dir: str) -> list[Job]:
    """Jobs, with per-task totals, from every uncompressed event log file
    in ``log_dir``."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    j = Job(ev["Job ID"], ev["Submission Time"] / 1000.0, 0.0,
                            ev.get("Properties") or {}, ev.get("Stage IDs", []))
                    jobs[j.job_id] = j
                    for s in j.stages:
                        stage_job[s] = j.job_id
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    j = jobs.get(stage_job.get(ev.get("Stage ID")))
                    m = ev.get("Task Metrics")
                    if j is None or not m:
                        continue
                    j.run_s += m.get("Executor Run Time", 0) / 1000.0
                    j.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    j.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
    return sorted(jobs.values(), key=lambda j: j.job_id)


def job_totals(jobs) -> dict:
    run_s = sum(j.run_s for j in jobs)
    return {
        "task_cpu_frac": sum(j.cpu_s for j in jobs) / run_s if run_s > 0 else 0.0,
        "shuffle_write_bytes": sum(j.shuffle_write for j in jobs),
    }
