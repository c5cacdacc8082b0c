"""Spans around public calls, and their per-layer split from Spark's
event log.

A ``Tracer`` records one span per public call the benchmark makes:
name, start, end and parent. With ``job_groups`` on, each span also sets
its own Spark job group (restoring the parent's on exit), so every job
the call runs is tagged with the innermost open span. After the session
stops, ``layer_metrics`` joins the spans with the event log:

- jobs and stages are attributed by the ``spark.jobGroup.id`` they
  carry, tasks through their stage;
- ``self_s`` is span time not covered by child spans;
- ``driver_serial_s`` is span time not covered by any of its own or
  its descendants' job intervals.

Counters are reported per call: the sum over a span name's calls
divided by their number.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

SPANS = (
    "session.get_spark",
    "streaming.ingest.sink",
    "sources.tableio.write",
    "sources.tableio.read",
    "matcher_api.search",
    "matcher_api.insert_entries",
    "matcher_api.remove_entries",
)

COUNTERS = (
    "calls",
    "wall_s",
    "self_s",
    "driver_serial_s",
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "python_run_s",
    "python_bytes_sent",
    "shuffle_write_bytes",
    "spill_bytes",
)

_PY_RUN = "time to run Python workers"
_PY_SENT = "data sent to Python workers"


@dataclass
class Span:
    name: str
    sid: int
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def group(self) -> str:
        return f"{self.name}#{self.sid}"


@dataclass
class Tracer:
    """Records spans; with ``job_groups`` it also tags Spark jobs.

    ``sc`` is the live SparkContext (set by the caller after each
    session start); spans opened without one tag nothing."""

    job_groups: bool = False
    sc: object = None
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)

    def _set_group(self, span: Span | None) -> None:
        if not (self.job_groups and self.sc is not None):
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.group, span.name)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, len(self.spans), parent.sid if parent else None, time.time())
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._set_group(parent)


class TracedTableIO:
    """Delegating TableIO wrapper: ``read`` and ``write`` run inside
    ``sources.tableio.*`` spans; everything else passes through."""

    def __init__(self, inner, tracer: Tracer, write_log: list[float] | None = None):
        self._inner = inner
        self._tracer = tracer
        self.write_log = write_log if write_log is not None else []

    def read(self, table: str):
        with self._tracer.span("sources.tableio.read"):
            return self._inner.read(table)

    def write(self, df, table: str, mode: str = "overwrite", partition_by=None) -> None:
        with self._tracer.span("sources.tableio.write") as s:
            self._inner.write(df, table, mode=mode, partition_by=partition_by)
        self.write_log.append(s.end - s.start)

    def __getattr__(self, name: str):
        return getattr(self._inner, name)


@dataclass
class Job:
    group: str | None
    start: float
    end: float


@dataclass
class GroupStats:
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    python_run_s: float = 0.0
    python_bytes_sent: float = 0.0
    shuffle_write_bytes: float = 0.0
    spill_bytes: float = 0.0


def parse_event_log(lines) -> tuple[list[Job], dict[str | None, GroupStats]]:
    """Jobs (with their group and interval, in seconds) and per-group
    stage/task totals from an uncompressed Spark event log."""
    jobs: dict[int, Job] = {}
    stage_group: dict[int, str | None] = {}
    stats: dict[str | None, GroupStats] = {}
    for line in lines:
        e = json.loads(line)
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id")
            jobs[e["Job ID"]] = Job(g, e["Submission Time"] / 1000.0, 0.0)
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]].end = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageSubmitted":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id")
            stage_group[e["Stage Info"]["Stage ID"]] = g
            stats.setdefault(g, GroupStats()).stages += 1
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(e["Stage ID"])
            st = stats.setdefault(g, GroupStats())
            st.tasks += 1
            m = e.get("Task Metrics") or {}
            st.executor_run_s += m.get("Executor Run Time", 0) / 1e3
            st.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                name, upd = acc.get("Name"), acc.get("Update")
                if name == _PY_RUN:
                    st.python_run_s += float(upd) / 1e3
                elif name == _PY_SENT:
                    st.python_bytes_sent += float(upd)
    return [j for j in jobs.values() if j.end > 0], stats


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def layer_metrics(spans: list[Span], jobs: list[Job], stats: dict) -> dict[str, float]:
    """``<span>.<counter>`` for every span name in SPANS, per call.

    Job, stage and task counters are the span's own (innermost group);
    ``driver_serial_s`` uses the jobs of the span and its descendants,
    because a child's jobs run inside the parent's interval too."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    jobs_by_group: dict[str, list[Job]] = {}
    for j in jobs:
        jobs_by_group.setdefault(j.group, []).append(j)

    def subtree(s: Span):
        yield s
        for c in children.get(s.sid, []):
            yield from subtree(c)

    totals = {n: dict.fromkeys(COUNTERS, 0.0) for n in SPANS}
    for s in spans:
        if s.name not in totals:
            continue
        t = totals[s.name]
        wall = s.end - s.start
        kids = [(c.start, c.end) for c in children.get(s.sid, [])]
        tree_jobs = [(j.start, j.end) for d in subtree(s) for j in jobs_by_group.get(d.group, [])]
        own = stats.get(s.group, GroupStats())
        t["calls"] += 1
        t["wall_s"] += wall
        t["self_s"] += wall - _covered(kids, s.start, s.end)
        t["driver_serial_s"] += wall - _covered(tree_jobs, s.start, s.end)
        t["jobs"] += len(jobs_by_group.get(s.group, []))
        for k in ("stages", "tasks", "executor_run_s", "executor_cpu_s", "python_run_s",
                  "python_bytes_sent", "shuffle_write_bytes", "spill_bytes"):
            t[k] += getattr(own, k)
    out: dict[str, float] = {}
    for name, t in totals.items():
        calls = t["calls"]
        for k, v in t.items():
            out[f"{name}.{k}"] = v if k == "calls" or calls == 0 else v / calls
    return out
