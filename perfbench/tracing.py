"""Benchmark-side tracing: spans around calls into the program's
public functions, one Spark job group per span, and a standard-library
parser for Spark's local (uncompressed, non-rolling) event log.

Nothing here is imported by the program. A span is recorded from the
benchmark's own files: ``Tracer.wrap`` replaces a public function on
its module for the duration of a traced pass and ``Tracer.restore``
puts it back.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import dataclass, field

#: Spark SQL metric holding Python-worker wall time (milliseconds).
PY_RUN_METRIC = "time to run Python workers"
#: plan node of the per-group pandas kernel (``applyInPandas``)
KERNEL_SCOPE = "FlatMapGroupsInPandas"

#: settings that make the event log readable with ``json`` alone
EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


@dataclass
class Span:
    name: str
    unit: int
    start: float  # epoch seconds, comparable with event-log times
    end: float
    parent: str | None

    @property
    def seconds(self) -> float:
        return self.end - self.start


def group_id(unit: int, name: str) -> str:
    return f"pb:{unit}:{name}"


def parse_group(group: str | None) -> tuple[int, str] | None:
    if not group or not group.startswith("pb:"):
        return None
    _, unit, name = group.split(":", 2)
    return int(unit), name


class Tracer:
    """Records spans in memory; each span sets its own Spark job group
    and restores the enclosing one on exit, so every job carries the
    innermost span that launched it."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[Span] = []
        self.unit = -1
        self._stack: list[str] = []
        self._patched: list[tuple[object, str, object]] = []

    def _set_group(self, name: str) -> None:
        self.sc.setJobGroup(group_id(self.unit, name), name)

    @contextlib.contextmanager
    def unit_scope(self, unit: int, name: str):
        """The outermost span of one timed unit of work."""
        self.unit = unit
        with self.span(name):
            yield

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self._set_group(name)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self._stack.pop()
            if parent is not None:
                self._set_group(parent)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(Span(name, self.unit, start, end, parent))

    def wrap(self, module, attr: str, name: str) -> None:
        """Put a span around every call of ``module.attr``."""
        original = getattr(module, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        self._patched.append((module, attr, original))
        setattr(module, attr, traced)

    def restore(self) -> None:
        for module, attr, original in reversed(self._patched):
            setattr(module, attr, original)
        self._patched.clear()

    def unit_spans(self, unit: int) -> list[Span]:
        return [s for s in self.spans if s.unit == unit]


class NullTracer:
    """The untraced stand-in: same interface, records nothing."""

    @contextlib.contextmanager
    def unit_scope(self, unit: int, name: str):
        yield

    @contextlib.contextmanager
    def span(self, name: str):
        yield

    def wrap(self, module, attr: str, name: str) -> None:
        pass

    def restore(self) -> None:
        pass


# ---------------------------------------------------------------- event log


@dataclass
class StageRecord:
    group: str | None
    start_ms: int = 0
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write: int = 0
    shuffle_read: int = 0
    spill: int = 0
    accums: dict[str, int] = field(default_factory=dict)
    scopes: set[str] = field(default_factory=set)  # plan nodes in the stage

    @property
    def python_ms(self) -> int:
        return self.accums.get(PY_RUN_METRIC, 0)


@dataclass
class JobRecord:
    group: str | None
    start_ms: int
    end_ms: int | None = None


@dataclass
class EventLog:
    jobs: dict[int, JobRecord] = field(default_factory=dict)
    # keyed by (stage id, attempt id)
    stages: dict[tuple[int, int], StageRecord] = field(default_factory=dict)


def _int(v) -> int:
    try:
        return int(v)
    except (TypeError, ValueError):
        return 0


def parse_event_log(path: str) -> EventLog:
    """Read one application's event log (JSON lines)."""
    log = EventLog()
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                log.jobs[ev["Job ID"]] = JobRecord(
                    props.get("spark.jobGroup.id"), ev["Submission Time"]
                )
            elif kind == "SparkListenerJobEnd":
                job = log.jobs.get(ev["Job ID"])
                if job is not None:
                    job.end_ms = ev["Completion Time"]
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                props = ev.get("Properties") or {}
                key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
                log.stages[key] = StageRecord(
                    props.get("spark.jobGroup.id"), _int(info.get("Submission Time"))
                )
            elif kind == "SparkListenerTaskEnd":
                key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
                st = log.stages.setdefault(key, StageRecord(None))
                m = ev.get("Task Metrics") or {}
                st.tasks += 1
                st.run_ms += _int(m.get("Executor Run Time"))
                st.cpu_ns += _int(m.get("Executor CPU Time"))
                st.gc_ms += _int(m.get("JVM GC Time"))
                st.spill += _int(m.get("Disk Bytes Spilled"))
                sw = m.get("Shuffle Write Metrics") or {}
                st.shuffle_write += _int(sw.get("Shuffle Bytes Written"))
                sr = m.get("Shuffle Read Metrics") or {}
                st.shuffle_read += _int(sr.get("Remote Bytes Read")) + _int(
                    sr.get("Local Bytes Read")
                )
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
                st = log.stages.setdefault(key, StageRecord(None))
                for rdd in info.get("RDD Info", []):
                    if rdd.get("Scope"):
                        st.scopes.add(json.loads(rdd["Scope"]).get("name", ""))
                for acc in info.get("Accumulables", []):
                    name = acc.get("Name", "")
                    if name.startswith("internal."):
                        continue
                    st.accums[name] = st.accums.get(name, 0) + _int(acc.get("Value"))
    return log


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of intervals."""
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


def engine_totals(log: EventLog, keep) -> dict[str, float]:
    """Spark-engine counters over the jobs and stages for which
    ``keep(record)`` holds (a record has ``group`` and ``start_ms``)."""
    jobs = [j for j in log.jobs.values() if keep(j)]
    stages = [s for s in log.stages.values() if keep(s) and s.tasks]
    return {
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": sum(s.tasks for s in stages),
        "executor_run_s": sum(s.run_ms for s in stages) / 1e3,
        "executor_cpu_s": sum(s.cpu_ns for s in stages) / 1e9,
        "gc_s": sum(s.gc_ms for s in stages) / 1e3,
        "shuffle_write_bytes": sum(s.shuffle_write for s in stages),
        "shuffle_read_bytes": sum(s.shuffle_read for s in stages),
        "spill_bytes": sum(s.spill for s in stages),
        "python_s": sum(s.python_ms for s in stages) / 1e3,
    }


def job_intervals(log: EventLog, keep) -> list[tuple[float, float]]:
    return [
        (j.start_ms / 1e3, j.end_ms / 1e3)
        for j in log.jobs.values()
        if keep(j) and j.end_ms is not None
    ]


def kernel_stages(log: EventLog, keep) -> list[StageRecord]:
    """Stages that ran the per-group pandas kernel."""
    return [
        s for s in log.stages.values()
        if keep(s) and s.tasks and KERNEL_SCOPE in s.scopes
    ]
