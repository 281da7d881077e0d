"""Tracing from outside the program: spans, counters, job accounting
and the Spark event log.

Spans are recorded by the benchmark's own code around each call into
a layer's public function; nothing in ``spype_spark`` is edited. Calls
the registry's query functions make internally (``tables.load_table``,
``Pype.apply``) are reached by swapping the public attribute for a
timing wrapper for the length of the traced phase (:func:`patched`).
Everything stays in memory until the run ends.
"""

from __future__ import annotations

import contextlib
import json
import os
import sys
import time
from dataclasses import dataclass, field
from statistics import median


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


@dataclass
class Tracer:
    """Span and counter store. Disabled, every call is a no-op."""

    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    counts: dict[str, list[float]] = field(default_factory=dict)
    op: int | None = None
    _stack: list[int] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counts.setdefault(name, []).append(value)

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def median_s(self, name: str) -> float:
        d = self.durations(name)
        return median(d) if d else 0.0

    def mean_count(self, name: str) -> float:
        v = self.counts.get(name, [])
        return sum(v) / len(v) if v else 0.0

    def total_count(self, name: str) -> float:
        return float(sum(self.counts.get(name, [])))


def _timed(tracer: Tracer, name: str, fn):
    def wrapper(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)

    wrapper.__wrapped__ = fn
    return wrapper


@contextlib.contextmanager
def patched(tracer: Tracer):
    """Time ``tables.load_table``, ``Pype.apply`` and ``Task.apply``
    wherever the registry's query modules call them. Restores every
    attribute on exit."""
    from spype_spark import tables
    from spype_spark.pipeline import dsl

    swaps: list[tuple[object, str, object]] = []
    orig_load = tables.load_table
    wrapped_load = _timed(tracer, "tables.load", orig_load)
    for mod in list(sys.modules.values()):
        if (getattr(mod, "__name__", "") or "").startswith("spype_spark") and (
            getattr(mod, "load_table", None) is orig_load
        ):
            swaps.append((mod, "load_table", orig_load))
            setattr(mod, "load_table", wrapped_load)
    for cls, attr, name in ((dsl.Pype, "apply", "pipeline.compose"),
                            (dsl.Task, "apply", "pipeline.task")):
        orig = cls.__dict__[attr]
        swaps.append((cls, attr, orig))
        setattr(cls, attr, _timed(tracer, name, orig))
    try:
        yield
    finally:
        for obj, attr, orig in reversed(swaps):
            setattr(obj, attr, orig)


class JobGroups:
    """Tags every Spark job of an op with a job group, so the jobs
    launched while composing (before the action) can be told from the
    action's jobs, and counts them through ``statusTracker``."""

    PREFIX = "perfbench"

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.groups: dict[str, tuple[int, str]] = {}

    def enter(self, op: int, part: str) -> None:
        if self.enabled:
            gid = f"{self.PREFIX}-{op}-{part}"
            self.sc.setJobGroup(gid, gid)
            self.groups[gid] = (op, part)

    def clear(self) -> None:
        if self.enabled:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def tally(self) -> dict[int, dict[str, int]]:
        """Per op: jobs, jobs launched before the action, tasks."""
        st = self.sc.statusTracker()
        out: dict[int, dict[str, int]] = {}
        for gid, (op, part) in self.groups.items():
            rec = out.setdefault(op, {"jobs": 0, "eager_jobs": 0, "tasks": 0})
            for jid in st.getJobIdsForGroup(gid):
                rec["jobs"] += 1
                rec["eager_jobs"] += part == "compose"
                info = st.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    stage = st.getStageInfo(sid)
                    rec["tasks"] += stage.numTasks if stage else 0
        return out


def event_log_metrics(log_dir: str, group_prefix: str) -> dict[str, float]:
    """Task-level totals over the jobs whose group starts with
    ``group_prefix``, parsed from the Spark event log in ``log_dir``
    (read after the session stopped, so the log is complete)."""
    stage_ok: set[int] = set()
    tot = {"stages": 0, "task_run_s": 0.0, "task_cpu_s": 0.0, "gc_s": 0.0,
           "shuffle_write_bytes": 0, "shuffle_read_bytes": 0, "spill_bytes": 0}
    for fname in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, fname)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    if group.startswith(group_prefix):
                        stage_ok.update(ev.get("Stage IDs", []))
                elif kind == "SparkListenerStageCompleted":
                    if ev["Stage Info"]["Stage ID"] in stage_ok:
                        tot["stages"] += 1
                elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stage_ok:
                    m = ev.get("Task Metrics") or {}
                    tot["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    tot["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    tot["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    tot["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    tot["shuffle_read_bytes"] += (
                        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    )
                    tot["spill_bytes"] += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    )
    return tot
