"""Spans, statistics and Spark event-log accounting for the benchmark.

A traced run records a span around every call the benchmark makes into an
engine layer, and around the engine's public functions it patches at module
level (``Tracer.patch``). Spans stay in memory and are written out once, at
the end. Spark's own accounting (jobs, stages, tasks, SQL plan metrics,
streaming progress) comes from the event log, which Spark writes while the
run goes on and which is parsed after the session stops; each job is charged
to the spans that were open when it was submitted.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import re
import statistics
import sys
import time
from dataclasses import dataclass, field

TAIL_BEYOND = 10


# --------------------------------------------------------------------------
# statistics
# --------------------------------------------------------------------------


def median(values) -> float:
    return float(statistics.median(values))


def tail(samples) -> tuple[float, float, int]:
    """The highest percentile that has at least ``TAIL_BEYOND`` samples
    above it: the sample with exactly that many samples above it in sorted
    order. With fewer than ``2 * TAIL_BEYOND`` samples that percentile would
    lie at or below the median, so the slowest sample is returned instead.
    Returns ``(value, percentile, sample_count)``."""
    n = len(samples)
    ordered = sorted(samples)
    if n < 2 * TAIL_BEYOND:
        return ordered[-1], 100.0, n
    return ordered[n - 1 - TAIL_BEYOND], 100.0 * (n - TAIL_BEYOND) / n, n


# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------


@dataclass
class Span:
    id: int
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def rebind(original, replacement, module_prefix: str = "job_datapipeline_spark") -> list[tuple[object, str]]:
    """Bind ``replacement`` wherever an engine module holds ``original`` as a
    module attribute (``from ..catalog import table`` binds a name per
    importing module). Returns the ``(module, attribute)`` pairs it changed."""
    changed = []
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not (mod_name == module_prefix or mod_name.startswith(module_prefix + ".")):
            continue
        for attr, value in list(vars(mod).items()):
            if value is original:
                setattr(mod, attr, replacement)
                changed.append((mod, attr))
    return changed


class Tracer:
    """Collects spans when ``enabled``; otherwise every call is a no-op.
    The benchmark has one caller thread, so spans nest on one stack."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next_op = 0
        self._patched: list[tuple[object, str, object]] = []

    def new_op(self) -> int:
        self._next_op += 1
        return self._next_op

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if op is None:
            op = parent.op if parent else 0
        s = Span(len(self.spans), name, op, parent.id if parent else None, time.time(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def patch(self, original, name: str) -> int:
        """Replace ``original`` by a traced wrapper in every engine module
        that imported it. Returns the number of bindings."""
        if not self.enabled:
            return 0

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        changed = rebind(original, traced)
        self._patched += [(mod, attr, original) for mod, attr in changed]
        return len(changed)

    def unpatch(self) -> None:
        for mod, attr, original in reversed(self._patched):
            setattr(mod, attr, original)
        self._patched.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(
                    json.dumps(
                        {
                            "id": s.id,
                            "name": s.name,
                            "op": s.op,
                            "parent": s.parent,
                            "start": s.start,
                            "end": s.end,
                            **({"attrs": s.attrs} if s.attrs else {}),
                        }
                    )
                    + "\n"
                )


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its child
    spans cover (overlapping children are counted once)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_start = cur_end = None
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_end is None or lo > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = lo, hi
            else:
                cur_end = max(cur_end, hi)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.id] = s.duration - covered
    return out


# --------------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------------

_PYTHON_NODE = re.compile(r"Python|Pandas|InArrow")
_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
_PROGRESS = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"


@dataclass
class Task:
    stage: int
    launch_ms: int
    finish_ms: int
    run_ms: int
    cpu_ns: int
    gc_ms: int
    deser_ms: int
    ser_ms: int
    getting_result_ms: int
    shuffle_read: int
    shuffle_write: int
    spill: int
    accums: dict[int, int]

    @property
    def scheduler_delay_ms(self) -> int:
        return max(
            0,
            self.finish_ms - self.launch_ms - self.run_ms - self.deser_ms - self.ser_ms - self.getting_result_ms,
        )


class EventLog:
    """The parts of one Spark event log the benchmark reports."""

    def __init__(self, log_dir: str):
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks: list[Task] = []
        self.python_row_accums: set[int] = set()
        self.progress: list[dict] = []
        for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
            with open(path) as fh:
                for line in fh:
                    self._event(json.loads(line))

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            job = ev["Job ID"]
            self.jobs[job] = {"submit_ms": ev["Submission Time"]}
            for st in ev["Stage IDs"]:
                self.stage_job[st] = job
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            info = ev["Task Info"]
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            self.tasks.append(
                Task(
                    stage=ev["Stage ID"],
                    launch_ms=info["Launch Time"],
                    finish_ms=info["Finish Time"],
                    run_ms=m.get("Executor Run Time", 0),
                    cpu_ns=m.get("Executor CPU Time", 0),
                    gc_ms=m.get("JVM GC Time", 0),
                    deser_ms=m.get("Executor Deserialize Time", 0),
                    ser_ms=m.get("Result Serialization Time", 0),
                    getting_result_ms=(
                        info["Finish Time"] - info["Getting Result Time"] if info.get("Getting Result Time") else 0
                    ),
                    shuffle_read=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    shuffle_write=sw.get("Shuffle Bytes Written", 0),
                    spill=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    accums={
                        a["ID"]: a["Update"]
                        for a in info.get("Accumulables", [])
                        if isinstance(a.get("Update"), int)
                    },
                )
            )
        elif kind in (_SQL_START, _SQL_AQE):
            self._plan_metrics(ev.get("sparkPlanInfo") or {})
        elif kind == _PROGRESS:
            self.progress.append(ev["progress"])

    def _plan_metrics(self, node: dict) -> None:
        if _PYTHON_NODE.search(node.get("nodeName", "")):
            for m in node.get("metrics", []):
                if m.get("name") == "number of output rows":
                    self.python_row_accums.add(m["accumulatorId"])
        for child in node.get("children", []):
            self._plan_metrics(child)

    def python_rows(self, tasks: list[Task]) -> int:
        return sum(v for t in tasks for k, v in t.accums.items() if k in self.python_row_accums)

    def tasks_of(self, jobs) -> list[Task]:
        jobs = set(jobs)
        return [t for t in self.tasks if self.stage_job.get(t.stage) in jobs]
