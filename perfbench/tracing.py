"""Tracing from outside the engine: wrapper spans, streaming progress and
the Spark event log.

* ``Tracer`` wraps public engine callables (class methods or module
  functions) and records one span per call: name, start, end, parent
  span and a trace id (workload and iteration). Spans stay in memory.
  Calls made by the streaming ``foreachBatch`` thread, which has no open
  span of its own, are parented to the innermost span open on the
  thread that started the stream.
* ``TriggerLog`` is a ``StreamingQueryListener`` that keeps every
  trigger's progress (``durationMs`` and input rows).
* ``EventLog`` parses a Spark event log into jobs (with the engine's
  ``mtm:<phase>`` descriptions), stages, tasks and the output-row
  counts of the join operators in the SQL plans.

A span's self time is its duration minus the part of it covered by its
child spans.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import threading
import time
from dataclasses import asdict, dataclass, field
from typing import Any, Callable

from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int
    trace: str
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def self_times(spans: list[Span]) -> list[float]:
    """Per span: duration minus the union of its children's intervals."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent >= 0:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return [
        s.dur - union_length(clip(kids.get(i, []), s.start, s.end))
        for i, s in enumerate(spans)
    ]


class Tracer:
    def __init__(self, clock: Callable[[], float] = time.time):
        self.clock = clock
        self.spans: list[Span] = []
        self.trace_id = ""
        self.enabled = False
        self._local = threading.local()
        self._lock = threading.Lock()
        self._main_stack: list[int] | None = None
        self._patched: list[tuple[Any, str, Any]] = []

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Record a span around the block (a no-op while disabled); yields
        the span's attrs dict so the block can attach counts."""
        if not self.enabled:
            yield attrs
            return
        st = self._stack()
        if self._main_stack is None:
            self._main_stack = st
        parent = st[-1] if st else (self._main_stack[-1] if self._main_stack else -1)
        with self._lock:
            idx = len(self.spans)
            self.spans.append(Span(name, self.clock(), 0.0, parent, self.trace_id, attrs))
        st.append(idx)
        try:
            yield attrs
        finally:
            st.pop()
            self.spans[idx].end = self.clock()

    def wrap(
        self,
        owner: Any,
        attr: str,
        name: str,
        on_exit: Callable | None = None,
        trace_of: Callable | None = None,
    ) -> None:
        """Replace ``owner.attr`` (a class method or module function) with a
        span-recording wrapper. ``trace_of(args)`` names a sub-trace (an
        epoch, say) that this call and everything under it belong to.
        ``on_exit(attrs, result, args)`` may attach counts to the span; it
        runs after the span closes, inside a ``trace.probe`` span, with
        recording paused, so the probe's own engine calls are neither
        spans nor part of the layer's time."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            trace = tracer.trace_id
            if trace_of is not None and tracer.enabled:
                tracer.trace_id = f"{trace}/{trace_of(args)}"
            try:
                with tracer.span(name) as attrs:
                    result = orig(*args, **kwargs)
            finally:
                tracer.trace_id = trace
            if on_exit is not None and tracer.enabled:
                with tracer.span("trace.probe"):
                    tracer.enabled = False
                    try:
                        on_exit(attrs, result, args)
                    finally:
                        tracer.enabled = True
            return result

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def dump(self, path: str, **extra) -> None:
        """Append the spans to ``path`` as JSON lines."""
        with open(path, "a") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, **asdict(s), **extra}) + "\n")

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()


class TriggerLog(StreamingQueryListener):
    """Per-trigger progress of every streaming query in the session."""

    def __init__(self):
        self.progress: list[dict] = []
        self.terminated = 0
        self._cv = threading.Condition()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        with self._cv:
            self.progress.append(
                {"duration_ms": dict(p.durationMs), "input_rows": int(p.numInputRows)}
            )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._cv:
            self.terminated += 1
            self._cv.notify_all()

    def wait_terminated(self, count: int, timeout_s: float = 30.0) -> bool:
        """Block until ``count`` queries have terminated: the listener bus
        delivers a query's progress events before its termination."""
        with self._cv:
            return self._cv.wait_for(lambda: self.terminated >= count, timeout_s)


@dataclass
class Stage:
    sid: int
    start: float
    end: float
    parents: list[int]
    #: names of the stage's accumulables (which SQL metrics it carries)
    acc_names: set[str]
    tasks: list[dict] = field(default_factory=list)


#: per-task accumulable updates kept by name
TASK_ACCUMULABLES = ("data sent to Python workers", "data returned from Python workers")


def _plan_joins(info: dict, out: dict[int, str]) -> None:
    """accumulator id -> node name of every join's "number of output
    rows" metric in a ``sparkPlanInfo`` tree."""
    if "Join" in info.get("nodeName", ""):
        for m in info.get("metrics", []):
            if m.get("name") == "number of output rows":
                out[m["accumulatorId"]] = info["nodeName"]
    for child in info.get("children", []):
        _plan_joins(child, out)


class EventLog:
    """The parts of a Spark event log the per-layer report reads. Times
    are converted to seconds on the ``time.time`` clock."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, Stage] = {}
        #: SQL execution id -> (start, {join output-rows accumulator id: node})
        self.sql_joins: dict[int, tuple[float, dict[int, str]]] = {}
        #: accumulator id -> the sum of its task updates
        self.acc_updates: dict[int, float] = {}
        tasks: dict[int, list[dict]] = {}
        files = sorted(glob.glob(os.path.join(path, "*"))) if os.path.isdir(path) else [path]
        for f in files:
            with open(f) as fh:
                for line in fh:
                    self._event(json.loads(line), tasks)
        for sid, ts in tasks.items():
            if sid in self.stages:
                self.stages[sid].tasks = ts

    def _event(self, e: dict, tasks: dict[int, list[dict]]) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            self.jobs[e["Job ID"]] = {
                "start": e["Submission Time"] / 1e3,
                "end": None,
                "desc": (e.get("Properties") or {}).get("spark.job.description"),
            }
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in self.jobs:
            self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
        elif kind == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            if "Submission Time" not in si:
                return  # skipped stage: its shuffle output was reused
            self.stages[si["Stage ID"]] = Stage(
                si["Stage ID"],
                si["Submission Time"] / 1e3,
                si["Completion Time"] / 1e3,
                list(si.get("Parent IDs", [])),
                {a.get("Name") for a in si.get("Accumulables", [])},
            )
        elif kind == "SparkListenerTaskEnd":
            ti, tm = e["Task Info"], e.get("Task Metrics") or {}
            sr = tm.get("Shuffle Read Metrics", {})
            named = dict.fromkeys(TASK_ACCUMULABLES, 0.0)
            for a in ti.get("Accumulables", []):
                try:
                    v = float(a["Update"])
                except (KeyError, TypeError, ValueError):
                    continue
                self.acc_updates[a["ID"]] = self.acc_updates.get(a["ID"], 0.0) + v
                if a.get("Name") in named:
                    named[a["Name"]] += v
            tasks.setdefault(e["Stage ID"], []).append(
                {
                    "dur": (ti["Finish Time"] - ti["Launch Time"]) / 1e3,
                    "gc": tm.get("JVM GC Time", 0) / 1e3,
                    "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    "spill": tm.get("Disk Bytes Spilled", 0),
                    "acc": named,
                }
            )
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            joins: dict[int, str] = {}
            _plan_joins(e.get("sparkPlanInfo", {}), joins)
            self.sql_joins[e["executionId"]] = (e["time"] / 1e3, joins)
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate") and e["executionId"] in self.sql_joins:
            # adaptive re-planning: the final plan's joins carry new metrics
            _plan_joins(e.get("sparkPlanInfo", {}), self.sql_joins[e["executionId"]][1])

    # -- selections -------------------------------------------------------------
    def stages_within(self, lo: float, hi: float) -> list[Stage]:
        return [s for s in self.stages.values() if s.start >= lo and s.end <= hi]

    def job_intervals(self, lo: float, hi: float, desc: str | None = None) -> list[tuple[float, float]]:
        """Jobs (with description ``desc``, when given) inside [lo, hi]."""
        return [
            (j["start"], j["end"])
            for j in self.jobs.values()
            if (desc is None or j["desc"] == desc)
            and j["end"] is not None and j["start"] >= lo and j["end"] <= hi
        ]

    def join_output_rows(self, lo: float, hi: float) -> list[float]:
        """Output rows of every join of the SQL executions started in
        [lo, hi]."""
        return [
            self.acc_updates.get(acc, 0.0)
            for start, joins in self.sql_joins.values() if lo <= start <= hi
            for acc in joins
        ]


PYTHON_STAGE_MARK = "data sent to Python workers"


def python_stages(stages: list[Stage]) -> list[Stage]:
    return [s for s in stages if PYTHON_STAGE_MARK in s.acc_names]


def with_feeding_stages(picked: list[Stage], pool: list[Stage]) -> list[Stage]:
    """``picked`` plus their direct parent stages present in ``pool``: the
    map side of the exchange that feeds a Python kernel belongs to it."""
    by_id = {s.sid: s for s in pool}
    out = {s.sid: s for s in picked}
    for s in picked:
        for p in s.parents:
            if p in by_id:
                out[p] = by_id[p]
    return list(out.values())


def task_skew(stage: Stage) -> float:
    """max / median task duration of one stage."""
    durs = sorted(t["dur"] for t in stage.tasks)
    if not durs:
        return 1.0
    med = durs[len(durs) // 2] if len(durs) % 2 else (durs[len(durs) // 2 - 1] + durs[len(durs) // 2]) / 2
    return durs[-1] / med if med > 0 else 1.0
