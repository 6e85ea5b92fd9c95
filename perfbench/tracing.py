"""In-memory spans and the Spark event-log fold of a traced run.

A span is one timed call into a layer of the package: a key, its build /
plan / exec / unpersist steps, a cache build, a ``run_overlapped`` wave,
a stream restart. Spans live in memory and are written out when the run
ends. Self time is a span's duration minus the part of it that its
children cover.

The event log (``spark.eventLog.enabled``, uncompressed, written by the
JVM) supplies jobs, stages, tasks, task metrics and SQL executions. Jobs
are attributed to a key by job-id range, not by job group: threads
started inside the package (``overlap.run_overlapped``) do not inherit
the caller's job group, but job ids only increase and keys run one at a
time, so the ids a key's span covers are exactly its jobs.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field

from perfbench.stats import union_length


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float  # epoch seconds
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans; a per-thread stack supplies each span's parent."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        # epoch clock with perf_counter resolution and monotonicity
        self._offset = time.time() - time.perf_counter()

    def now(self) -> float:
        return time.perf_counter() + self._offset

    @contextmanager
    def span(self, name: str, **attrs) -> Iterator[Span]:
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sp = Span(len(self.spans), name, stack[-1].sid if stack else None, self.now(), attrs=attrs)
            self.spans.append(sp)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = self.now()
            stack.pop()

    def children(self, sid: int) -> list[Span]:
        return [s for s in self.spans if s.parent == sid]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def self_time(span: Span, children: list[Span]) -> float:
    """Duration of ``span`` not covered by any of its ``children``."""
    return span.dur - union_length([(c.start, c.end) for c in children], span.start, span.end)


def self_times(spans: list[Span]) -> dict[int, float]:
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    return {s.sid: self_time(s, kids.get(s.sid, [])) for s in spans}


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"


@dataclass
class Job:
    jid: int
    submit: float  # epoch seconds
    end: float
    group: str | None
    stage_ids: list[int]


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stage_tasks: dict[int, int] = field(default_factory=dict)  # completed stages
    stage_metrics: dict[int, dict[str, float]] = field(default_factory=dict)
    sql_starts: list[float] = field(default_factory=list)


def _log_files(log_dir: str, app_id: str) -> list[str]:
    rolled = sorted(
        glob.glob(os.path.join(log_dir, f"eventlog_v2_{app_id}*", "events_*")),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    )
    return rolled or sorted(glob.glob(os.path.join(log_dir, f"{app_id}*")))


def _task_metrics(tm: dict) -> dict[str, float]:
    sr = tm.get("Shuffle Read Metrics", {})
    return {
        "executor_run_ms": tm.get("Executor Run Time", 0),
        "executor_cpu_ms": tm.get("Executor CPU Time", 0) / 1e6,
        "gc_ms": tm.get("JVM GC Time", 0),
        "input_bytes": tm.get("Input Metrics", {}).get("Bytes Read", 0),
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle_write_bytes": tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
        "spill_bytes": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
    }


def read_event_log(log_dir: str, app_id: str) -> EventLog:
    """Parse the (uncompressed, possibly rolled) event log of one app."""
    log = EventLog()
    starts: dict[int, dict] = {}
    for path in _log_files(log_dir, app_id):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    starts[ev["Job ID"]] = ev
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in starts:
                    st = starts.pop(ev["Job ID"])
                    log.jobs[ev["Job ID"]] = Job(
                        ev["Job ID"],
                        st["Submission Time"] / 1000.0,
                        ev["Completion Time"] / 1000.0,
                        (st.get("Properties") or {}).get("spark.jobGroup.id"),
                        list(st.get("Stage IDs", [])),
                    )
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    log.stage_tasks[info["Stage ID"]] = info.get("Number of Tasks", 0)
                elif kind == "SparkListenerTaskEnd":
                    acc = log.stage_metrics.setdefault(ev["Stage ID"], {})
                    for k, v in _task_metrics(ev.get("Task Metrics") or {}).items():
                        acc[k] = acc.get(k, 0) + v
                elif kind == _SQL_START:
                    log.sql_starts.append(ev["time"] / 1000.0)
    return log


def fold(log: EventLog, span: Span, job_ids: range) -> dict[str, float]:
    """Spark-side row for one span whose jobs are ``job_ids``."""
    jobs = [log.jobs[j] for j in job_ids if j in log.jobs]
    stages = sorted({s for j in jobs for s in j.stage_ids if s in log.stage_tasks})
    row: dict[str, float] = {
        "jobs": len(job_ids),
        "stages": len(stages),
        "tasks": sum(log.stage_tasks[s] for s in stages),
        "sql_executions": sum(span.start <= t <= span.end for t in log.sql_starts),
        "job_time_s": sum(j.end - j.submit for j in jobs),
        "driver_gap_s": span.dur
        - union_length([(j.submit, j.end) for j in jobs], span.start, span.end),
    }
    for s in stages:
        for k, v in log.stage_metrics.get(s, {}).items():
            row[k] = row.get(k, 0) + v
    return row
