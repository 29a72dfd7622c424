"""Spans, per-call job accounting and event-log parsing.

Everything here observes the engine from outside through public
PySpark calls: each span gets its own job group
(``SparkContext.setJobGroup``), and the jobs, stages and tasks it ran
are read back from ``SparkContext.statusTracker()`` when it closes.
Task-level costs come from Spark's own event log, parsed per job group.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run: str
    start: float
    end: float = 0.0
    group: str | None = None
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. Disabled tracers record nothing and
    touch no Spark state, so untraced runs pay only a branch.

    Once `sc` is set to a SparkContext, every span that asks for one
    runs under a job group of its own, and its jobs, stages and tasks
    are counted when it closes."""

    def __init__(self, run: str, enabled: bool):
        self.run = run
        self.enabled = enabled
        self.sc = None
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, job_group: bool = True, **attrs):
        if not self.enabled:
            yield None
            return
        sc = self.sc if job_group else None
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=len(self.spans),
            name=name,
            parent=parent.id if parent else None,
            run=self.run,
            start=time.perf_counter(),
            attrs=attrs,
        )
        self.spans.append(s)
        self._stack.append(s)
        if sc is not None:
            s.group = f"{self.run}.{s.id}"
            sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                outer = next((p for p in reversed(self._stack) if p.group), None)
                if outer is not None:
                    sc.setJobGroup(outer.group, outer.name)
                else:
                    sc.setJobGroup(f"{self.run}.idle", "idle")
                _count_jobs(sc, s)

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                out[s.parent].append(s)
        return out

    def subtree(self, span: Span) -> list[Span]:
        kids = self.children()
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s.id, []))
        return out

    def self_seconds(self) -> dict[int, float]:
        """A span's duration minus the time its children cover."""
        kids = self.children()
        return {
            s.id: s.seconds - sum(c.seconds for c in kids.get(s.id, []))
            for s in self.spans
        }

    def dump(self, path: str, extra: dict | None = None) -> None:
        selfs = self.self_seconds()
        rows = [{**asdict(s), "self_s": selfs[s.id]} for s in self.spans]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run": self.run, "spans": rows, **(extra or {})}, f, indent=1)


def _count_jobs(sc, span: Span) -> None:
    """Jobs, executed stages and completed tasks of the span's own
    job group (children have groups of their own)."""
    tracker = sc.statusTracker()
    seen_stages: set[int] = set()
    for job_id in tracker.getJobIdsForGroup(span.group):
        span.jobs += 1
        info = tracker.getJobInfo(job_id)
        for stage_id in info.stageIds if info else ():
            if stage_id in seen_stages:
                continue
            seen_stages.add(stage_id)
            st = tracker.getStageInfo(stage_id)
            if st is not None and st.numCompletedTasks > 0:
                span.stages += 1
                span.tasks += st.numCompletedTasks


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------

TASK_FIELDS = (
    "tasks",
    "task_run_s",
    "task_cpu_s",
    "gc_s",
    "deser_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "python_sent_bytes",
    "python_returned_bytes",
)
_PY_SENT = "data sent to Python workers"
_PY_RETURNED = "data returned from Python workers"
_SCAN_SIZE = "size of files read"


def _num(v) -> float:
    return float(v) if v not in (None, "") else 0.0


def _scan_nodes(plan: dict, out: dict[int, str]) -> None:
    """Map each file scan's 'size of files read' accumulator to the
    scan's location."""
    loc = (plan.get("metadata") or {}).get("Location")
    if loc:
        for m in plan.get("metrics", []):
            if m.get("name") == _SCAN_SIZE:
                out[m["accumulatorId"]] = loc
    for child in plan.get("children", []):
        _scan_nodes(child, out)


def parse_event_log(path: str) -> dict[str, dict]:
    """Aggregate an uncompressed Spark event log per job group.

    Returns {group: {field: value, ..., "scans": {location: bytes}}}
    where the task fields are summed over every successful or failed
    task the group's stages ran, and "scans" sums each file scan's
    'size of files read' over the group's SQL executions.
    """
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    scan_acc: dict[int, str] = {}
    groups: dict[str, dict] = defaultdict(lambda: {**dict.fromkeys(TASK_FIELDS, 0.0), "scans": defaultdict(float)})
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if g:
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, g)
            elif kind == "SparkListenerStageSubmitted":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if g:
                    stage_group[ev["Stage Info"]["Stage ID"]] = g
            elif kind.endswith("SQLExecutionStart"):
                if ev.get("jobGroupId"):
                    exec_group[ev["executionId"]] = ev["jobGroupId"]
                _scan_nodes(ev.get("sparkPlanInfo") or {}, scan_acc)
            elif kind.endswith("SQLAdaptiveExecutionUpdate"):
                _scan_nodes(ev.get("sparkPlanInfo") or {}, scan_acc)
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                g = exec_group.get(ev.get("executionId"))
                if g is None:
                    continue
                for acc_id, value in ev.get("accumUpdates", []):
                    if acc_id in scan_acc:
                        groups[g]["scans"][scan_acc[acc_id]] += _num(value)
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev.get("Stage ID"))
                if g is None:
                    continue
                _add_task(groups[g], ev)
    return {g: {**v, "scans": dict(v["scans"])} for g, v in groups.items()}


def _add_task(agg: dict, ev: dict) -> None:
    m = ev.get("Task Metrics") or {}
    agg["tasks"] += 1
    agg["task_run_s"] += _num(m.get("Executor Run Time")) / 1e3
    agg["task_cpu_s"] += _num(m.get("Executor CPU Time")) / 1e9
    agg["gc_s"] += _num(m.get("JVM GC Time")) / 1e3
    agg["deser_s"] += _num(m.get("Executor Deserialize Time")) / 1e3
    rd = m.get("Shuffle Read Metrics") or {}
    agg["shuffle_read_bytes"] += _num(rd.get("Remote Bytes Read")) + _num(rd.get("Local Bytes Read"))
    agg["shuffle_write_bytes"] += _num((m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written"))
    agg["spill_bytes"] += _num(m.get("Memory Bytes Spilled")) + _num(m.get("Disk Bytes Spilled"))
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        name = acc.get("Name")
        if name == _PY_SENT:
            agg["python_sent_bytes"] += _num(acc.get("Update"))
        elif name == _PY_RETURNED:
            agg["python_returned_bytes"] += _num(acc.get("Update"))


def find_event_log(log_dir: str) -> str:
    """The single finished application log in `log_dir`."""
    done = [n for n in os.listdir(log_dir) if not n.endswith(".inprogress")]
    if len(done) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {done}")
    return os.path.join(log_dir, done[0])
