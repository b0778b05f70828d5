"""Spans recorded around the benchmark's calls into each layer, and the
fold of Spark's event log onto them.

Spans live in memory (name, start, end, parent, request id) and are written
out once, when the run ends.  Each span that runs Spark work sets a Spark
job group named after its id, so every job, stage and task in the event log
can be attributed to the span that caused it.  Micro-batch jobs carry the
batch id Spark already stamps on them instead.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field, fields


@dataclass
class Span:
    id: str
    name: str
    layer: str
    start: float
    end: float | None = None
    parent: str | None = None
    request: str | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Records spans when ``enabled``; otherwise every call is a no-op
    context, so untraced runs pay one attribute check per call."""

    def __init__(self, spark_context=None, enabled: bool = False) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._sc = spark_context
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(
        self, name: str, layer: str, request: str | None = None,
        parent: Span | None = None, **attrs,
    ):
        """A span around the block.  The parent is the innermost open span
        of this thread, or ``parent`` for work handed to another thread."""
        if not self.enabled:
            yield None
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        if parent is None and stack:
            parent = stack[-1]
        with self._lock:
            sid = f"span-{next(self._ids)}"
        s = Span(
            sid,
            name,
            layer,
            time.time(),
            parent=parent.id if parent else None,
            request=request or (parent.request if parent else None),
            attrs=dict(attrs),
        )
        stack.append(s)
        if self._sc is not None:
            self._sc.setJobGroup(sid, name)
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            if self._sc is not None:
                if stack:
                    self._sc.setJobGroup(stack[-1].id, stack[-1].name)
                else:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)
            with self._lock:
                self.spans.append(s)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def clipped(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi]


def self_times(spans: list[Span]) -> dict[str, float]:
    """Each span's duration minus the part of it its children cover."""
    kids: dict[str, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: (s.end - s.start)
        - union_length(clipped(kids.get(s.id, []), s.start, s.end))
        for s in spans
    }


def layer_self_times(spans: list[Span]) -> dict[str, float]:
    """Self time summed per layer."""
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s.layer] = out.get(s.layer, 0.0) + st[s.id]
    return out


# -- event log fold ----------------------------------------------------------

_FILES_READ = "number of files read"


@dataclass
class JobAgg:
    """Work one group of Spark jobs did, summed over its tasks."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_ms: int = 0
    executor_cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    input_rows: int = 0
    files_read: int = 0
    task_intervals: list = field(default_factory=list)  # (start_s, end_s)

    def add(self, other: "JobAgg") -> None:
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))


def group_key(props: dict) -> str | None:
    """The span a job belongs to: the benchmark span whose job group it
    carries, else for a streaming micro-batch ``batch:<id>`` from the id
    Spark stamps on its jobs, else its job group."""
    group = props.get("spark.jobGroup.id")
    if group is not None and group.startswith("span-"):
        return group
    bid = props.get("streaming.sql.batchId")
    if bid is not None:
        return f"batch:{bid}"
    return group


def read_event_log(path: str) -> list[dict]:
    """Events of an uncompressed, non-rolling event log file."""
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _plan_metric_ids(plan: dict, name: str, acc: set) -> None:
    for m in plan.get("metrics", []):
        if m.get("name") == name:
            acc.add(m["accumulatorId"])
    for child in plan.get("children", []):
        _plan_metric_ids(child, name, acc)


def fold_event_log(events: list[dict]) -> dict[str, JobAgg]:
    """One :class:`JobAgg` per group key (see :func:`group_key`); jobs
    with neither a group nor a batch id fold under ``""``."""
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    files_ids: set = set()
    files_by_exec: dict[int, int] = {}
    out: dict[str, JobAgg] = {}

    def agg(key: str) -> JobAgg:
        return out.setdefault(key, JobAgg())

    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            key = group_key(props) or ""
            agg(key).jobs += 1
            for sid in e.get("Stage IDs", []):
                stage_group[sid] = key
            xid = props.get("spark.sql.execution.id")
            if xid is not None:
                exec_group.setdefault(int(xid), key)
        elif kind == "SparkListenerStageCompleted":
            sid = e["Stage Info"]["Stage ID"]
            if sid in stage_group:
                agg(stage_group[sid]).stages += 1
        elif kind == "SparkListenerTaskEnd":
            key = stage_group.get(e["Stage ID"])
            if key is None:
                continue
            a = agg(key)
            info = e["Task Info"]
            m = e.get("Task Metrics") or {}
            a.tasks += 1
            a.task_intervals.append((info["Launch Time"] / 1e3, info["Finish Time"] / 1e3))
            a.executor_run_ms += m.get("Executor Run Time", 0)
            a.executor_cpu_ns += m.get("Executor CPU Time", 0)
            a.gc_ms += m.get("JVM GC Time", 0)
            a.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            a.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            inp = m.get("Input Metrics") or {}
            a.input_bytes += inp.get("Bytes Read", 0)
            a.input_rows += inp.get("Records Read", 0)
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            _plan_metric_ids(e.get("sparkPlanInfo") or {}, _FILES_READ, files_ids)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            xid = e["executionId"]
            for acc_id, value in e.get("accumUpdates", []):
                if acc_id in files_ids:
                    files_by_exec[xid] = files_by_exec.get(xid, 0) + value
    for xid, n in files_by_exec.items():
        if xid in exec_group:
            agg(exec_group[xid]).files_read += n
    return out


def driver_seconds(span_start: float, span_end: float, task_intervals) -> float:
    """The part of a span's wall time when none of its tasks ran."""
    busy = union_length(clipped(task_intervals, span_start, span_end))
    return (span_end - span_start) - busy
