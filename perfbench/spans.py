"""In-memory spans and Spark event-log attribution for the traced run.

Spans are recorded by the benchmark around its own calls into the engine
(no instrumentation inside ``raqc_spark``). Each has a name, wall-clock
start and end (epoch seconds, the event log's clock), a parent and the run
id. Spark jobs, stages and tasks are attributed to a span by time window: a
job belongs to a span when it was submitted inside the span's interval, and
a task belongs to the span of its stage's job. Time windows rather than job
groups, because the runner submits jobs from ``ThreadPoolExecutor`` threads
that do not inherit a job group set by the caller.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

# plan nodes whose rows pass through Python/Arrow workers
_PYTHON_NODES = ("Python", "Arrow", "InPandas")
_WRITE_NODES = ("InsertIntoHadoopFsRelation", "WriteFiles", "AppendData",
                "OverwriteByExpression", "WriteToDataSourceV2")


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans in memory; ``write`` dumps them as JSON lines."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(sid, name, time.time(), 0.0, parent, self.run_id)
        self.spans.append(s)
        self._stack.append(sid)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.time()

    def write(self, path: str) -> None:
        """One JSON line per span, with its self time."""
        selfs = self_times(self.spans)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**asdict(s), "self_s": selfs[s.id]}) + "\n")


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    return {
        s.id: s.duration
        - union_length(
            [(c.start, c.end) for c in children.get(s.id, [])], s.start, s.end
        )
        for s in spans
    }


# ---------------------------------------------------------------- event log


@dataclass
class Job:
    id: int
    submit: float
    end: float
    stage_ids: list[int]
    execution_id: int | None


@dataclass
class Task:
    stage_id: int
    launch: float
    finish: float
    run_s: float
    gc_s: float
    shuffle_write: int
    spill: int
    accums: dict[int, int] = field(default_factory=dict)


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    tasks: list[Task] = field(default_factory=list)
    completed_stages: set[int] = field(default_factory=set)
    write_executions: set[int] = field(default_factory=set)
    # accumulator ids of the "number of output rows" metric of Python/Arrow nodes
    python_row_accums: set[int] = field(default_factory=set)


def _walk_plan(info: dict, log: EventLog, execution_id: int, root: bool) -> None:
    name = info.get("nodeName", "")
    if root and any(w in name or w in info.get("simpleString", "")
                    for w in _WRITE_NODES):
        log.write_executions.add(execution_id)
    if any(p in name for p in _PYTHON_NODES):
        for m in info.get("metrics", []):
            if m.get("name") == "number of output rows":
                log.python_row_accums.add(int(m["accumulatorId"]))
    for child in info.get("children", []):
        # a write's command node may sit under an AdaptiveSparkPlan root
        _walk_plan(child, log, execution_id, root and "Adaptive" in name)


def parse_event_log(lines) -> EventLog:
    """Parse Spark event-log JSON lines (an iterable of str)."""
    log = EventLog()
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            exe = props.get("spark.sql.execution.id")
            log.jobs[ev["Job ID"]] = Job(
                ev["Job ID"], ev["Submission Time"] / 1000.0, 0.0,
                list(ev.get("Stage IDs", [])),
                int(exe) if exe is not None else None,
            )
        elif kind == "SparkListenerJobEnd":
            job = log.jobs.get(ev["Job ID"])
            if job is not None:
                job.end = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            log.completed_stages.add(ev["Stage Info"]["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            accums = {}
            for a in info.get("Accumulables", []):
                upd = a.get("Update")
                if isinstance(upd, (int, float)) or (
                    isinstance(upd, str) and upd.lstrip("-").isdigit()
                ):
                    accums[int(a["ID"])] = int(upd)
            log.tasks.append(Task(
                ev["Stage ID"], info["Launch Time"] / 1000.0,
                info["Finish Time"] / 1000.0,
                m.get("Executor Run Time", 0) / 1000.0,
                m.get("JVM GC Time", 0) / 1000.0,
                sw.get("Shuffle Bytes Written", 0),
                m.get("Disk Bytes Spilled", 0),
                accums,
            ))
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            _walk_plan(ev.get("sparkPlanInfo") or {}, log, ev["executionId"], True)
    return log


def read_event_logs(directory: str) -> EventLog:
    """Parse every event-log file under ``directory``."""
    lines: list[str] = []
    for d, _, files in sorted(os.walk(directory)):
        for name in sorted(files):
            with open(os.path.join(d, name)) as f:
                lines.extend(f)
    return parse_event_log(lines)


@dataclass
class Attribution:
    jobs: int
    stages: int
    tasks: int
    task_s: float
    gc_s: float
    shuffle_mb: float
    spill_mb: float
    idle_s: float
    write_s: float
    collect_s: float
    python_rows: int


def attribute(log: EventLog, start: float, end: float) -> Attribution:
    """Spark work of the jobs submitted inside ``[start, end]``."""
    jobs = [j for j in log.jobs.values() if start <= j.submit <= end]
    stage_ids = {s for j in jobs for s in j.stage_ids}
    tasks = [t for t in log.tasks if t.stage_id in stage_ids]
    intervals = [(j.submit, j.end or end) for j in jobs]
    write = [(j.submit, j.end or end) for j in jobs
             if j.execution_id in log.write_executions]
    other = [(j.submit, j.end or end) for j in jobs
             if j.execution_id is not None
             and j.execution_id not in log.write_executions]
    mb = 1024.0 * 1024.0
    return Attribution(
        jobs=len(jobs),
        stages=len(stage_ids & log.completed_stages),
        tasks=len(tasks),
        task_s=sum(t.run_s for t in tasks),
        gc_s=sum(t.gc_s for t in tasks),
        shuffle_mb=sum(t.shuffle_write for t in tasks) / mb,
        spill_mb=sum(t.spill for t in tasks) / mb,
        idle_s=(end - start) - union_length(intervals, start, end),
        write_s=union_length(write, start, end),
        collect_s=union_length(other, start, end),
        python_rows=sum(
            v for t in tasks for k, v in t.accums.items()
            if k in log.python_row_accums
        ),
    )
