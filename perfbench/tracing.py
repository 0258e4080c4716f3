"""Traced runs: spans around calls into the program's layers, and the
Spark event log read back per operation.

Spans are recorded by the benchmark's own code: a context manager around
each call it makes, plus wrappers installed over the public functions a
layer calls internally (``Tracer.patch``).  While a span is open, every
Spark job submitted is tagged with the span path through a local
property, and every operation runs under its own job group, so the event
log attributes executor work to an operation and a layer.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from dataclasses import dataclass, field

SPAN_PROPERTY = "perfbench.span"
JOB_GROUP_PROPERTY = "spark.jobGroup.id"


class Tracer:
    """Span recorder.  Disabled, it only sets each operation's job group."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patched: list[tuple[object, str, object]] = []
        self.op: str | None = None

    def begin_op(self, op_id: str) -> None:
        self.op = op_id
        self.sc.setJobGroup(op_id, op_id)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "op": self.op,
               "parent": parent["id"] if parent else None,
               "path": f"{parent['path']}/{name}" if parent else name,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setLocalProperty(SPAN_PROPERTY, rec["path"])
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.sc.setLocalProperty(SPAN_PROPERTY, parent["path"] if parent else None)

    def patch(self, module, attr: str, name: str) -> None:
        """Record a span around every call to ``module.attr``."""
        if not self.enabled:
            return
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        self._patched.append((module, attr, fn))
        setattr(module, attr, traced)

    def unpatch(self) -> None:
        for module, attr, fn in reversed(self._patched):
            setattr(module, attr, fn)
        self._patched.clear()

    def op_spans(self, op_id: str) -> list[dict]:
        return [s for s in self.spans if s["op"] == op_id]

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps({k: s[k] for k in ("id", "name", "start", "end", "parent", "op")})
                        + "\n")


def span_seconds(spans: list[dict], name: str) -> float:
    """Total time of the spans called ``name`` (inclusive of children)."""
    return sum(s["end"] - s["start"] for s in spans if s["name"] == name)


# -- event log -------------------------------------------------------------


@dataclass
class Task:
    stage: int
    group: str | None
    span: str
    launch_ms: int
    finish_ms: int
    cpu_ns: int
    gc_ms: int
    shuffle_bytes: int
    spill_bytes: int
    records_read: int


@dataclass
class EventLog:
    tasks: list[Task] = field(default_factory=list)
    #: job id → (job group, span path)
    jobs: dict[int, tuple[str | None, str]] = field(default_factory=dict)


def parse_event_log(lines) -> EventLog:
    """Tasks and jobs of a Spark event log (uncompressed JSON lines),
    each tagged with the job group and span path of the job that
    submitted its stage."""
    log = EventLog()
    stage_tags: dict[int, tuple[str | None, str]] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            log.jobs[ev["Job ID"]] = (props.get(JOB_GROUP_PROPERTY), props.get(SPAN_PROPERTY, ""))
        elif kind == "SparkListenerStageSubmitted":
            props = ev.get("Properties") or {}
            stage_tags[ev["Stage Info"]["Stage ID"]] = (
                props.get(JOB_GROUP_PROPERTY), props.get(SPAN_PROPERTY, ""))
        elif kind == "SparkListenerTaskEnd":
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            group, span = stage_tags.get(ev["Stage ID"], (None, ""))
            log.tasks.append(Task(
                stage=ev["Stage ID"], group=group, span=span,
                launch_ms=info["Launch Time"], finish_ms=info["Finish Time"],
                cpu_ns=m.get("Executor CPU Time", 0), gc_ms=m.get("JVM GC Time", 0),
                shuffle_bytes=m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
                spill_bytes=m.get("Disk Bytes Spilled", 0),
                records_read=m.get("Input Metrics", {}).get("Records Read", 0),
            ))
    return log


def busy_seconds(tasks: list[Task], start: float, end: float) -> float:
    """Seconds of ``[start, end]`` during which at least one task ran."""
    intervals = sorted((max(t.launch_ms / 1e3, start), min(t.finish_ms / 1e3, end))
                       for t in tasks)
    busy, cur_start, cur_end = 0.0, None, None
    for a, b in intervals:
        if b <= a:
            continue
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                busy += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        busy += cur_end - cur_start
    return busy


def executor_metrics(log: EventLog, op_id: str, start: float, end: float) -> dict[str, float]:
    """Executor work of one operation (its job group), ``start``/``end``
    being the operation's wall-clock bounds in epoch seconds."""
    tasks = [t for t in log.tasks if t.group == op_id]
    return {
        "exec.cpu_s": sum(t.cpu_ns for t in tasks) / 1e9,
        "exec.gc_s": sum(t.gc_ms for t in tasks) / 1e3,
        "exec.shuffle_bytes": float(sum(t.shuffle_bytes for t in tasks)),
        "exec.spill_bytes": float(sum(t.spill_bytes for t in tasks)),
        "exec.tasks": float(len(tasks)),
        "exec.idle_s": (end - start) - busy_seconds(tasks, start, end),
        "spark.jobs": float(sum(1 for g, _ in log.jobs.values() if g == op_id)),
    }


def span_tasks(log: EventLog, op_id: str, span_name: str) -> list[Task]:
    """Tasks of one operation submitted while ``span_name`` was open."""
    return [t for t in log.tasks
            if t.group == op_id and span_name in t.span.split("/")]


def span_jobs(log: EventLog, op_id: str, span_name: str) -> int:
    return sum(1 for g, path in log.jobs.values()
               if g == op_id and span_name in path.split("/"))
