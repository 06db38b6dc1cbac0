"""Timing and tracing of the benchmark's calls into the program.

Every call the benchmark makes into a public function of the engine
goes through `Tracer.call`, which times it.  With tracing on, each call
also becomes a span (name, start, end, parent, call id) kept in memory,
and a Spark job group named after the span is set before the call so
the event log attributes jobs, stages and tasks to it.  Streaming
micro-batch jobs run under the query's own job group, so they are
attributed to the innermost span whose interval holds their submission
time.  No span is placed inside the program.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from collections.abc import Callable, Iterator
from dataclasses import dataclass
from typing import Any

MB = 1024 * 1024


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    call_id: int | None
    t0: float  # epoch seconds, comparable with event-log timestamps
    t1: float = 0.0

    @property
    def seconds(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """Times calls; with `traced`, also records spans and sets job groups."""

    def __init__(self, traced: bool) -> None:
        self.traced = traced
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._calls = 0
        self.sc = None  # SparkContext, once the session exists

    @contextlib.contextmanager
    def span(self, name: str, call_id: int | None = None) -> Iterator[Span | None]:
        if not self.traced:
            yield None
            return
        parent = self._stack[-1].sid if self._stack else None
        s = Span(len(self.spans), name, parent, call_id, time.time())
        self.spans.append(s)
        self._stack.append(s)
        if self.sc is not None:
            self.sc.setJobGroup(f"lb-{s.sid}", name)
        try:
            yield s
        finally:
            s.t1 = time.time()
            self._stack.pop()
            if self.sc is not None and self._stack:
                self.sc.setJobGroup(f"lb-{self._stack[-1].sid}", self._stack[-1].name)
            elif self.sc is not None:
                # Outside every span: jobs run from here on belong to no span.
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def call(self, name: str, fn: Callable[..., Any], *args: Any, **kw: Any) -> tuple[Any, float]:
        """Run one call into the program; return (result, wall seconds)."""
        self._calls += 1
        with self.span(name, call_id=self._calls):
            t0 = time.perf_counter()
            out = fn(*args, **kw)
            dt = time.perf_counter() - t0
        return out, dt


def self_seconds(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover
    (children of one parent never overlap: the client is serial)."""
    covered: dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            covered[s.parent] = covered.get(s.parent, 0.0) + s.seconds
    return {s.sid: s.seconds - covered.get(s.sid, 0.0) for s in spans}


def write_spans(spans: list[Span], path: str) -> None:
    own = self_seconds(spans)
    with open(path, "w") as fh:
        for s in spans:
            fh.write(
                json.dumps(
                    {
                        "id": s.sid,
                        "name": s.name,
                        "parent": s.parent,
                        "call_id": s.call_id,
                        "start": s.t0,
                        "end": s.t1,
                        "self_s": own[s.sid],
                    }
                )
                + "\n"
            )


# --------------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------------
@dataclass
class Job:
    group: str | None
    submit: float
    stages: list[int]
    streaming: bool


@dataclass
class Task:
    stage: int
    seconds: float
    failed: bool
    shuffle_read: int
    shuffle_write: int
    spill: int
    records_read: int


def read_event_log(log_dir: str) -> tuple[dict[int, Job], list[Task]]:
    """Jobs and finished tasks from every event-log file under `log_dir`."""
    jobs: dict[int, Job] = {}
    tasks: list[Task] = []
    files = sorted(
        p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and "appstatus" not in os.path.basename(p)
    )
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = Job(
                        props.get("spark.jobGroup.id"),
                        ev["Submission Time"] / 1000.0,
                        list(ev.get("Stage IDs", [])),
                        "streaming.sql.batchId" in props,
                    )
                elif kind == "SparkListenerTaskEnd":
                    info = ev["Task Info"]
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.append(
                        Task(
                            ev["Stage ID"],
                            (info["Finish Time"] - info["Launch Time"]) / 1000.0,
                            bool(info.get("Failed") or info.get("Killed")),
                            sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                            sw.get("Shuffle Bytes Written", 0),
                            m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                            (m.get("Input Metrics") or {}).get("Records Read", 0),
                        )
                    )
    return jobs, tasks


@dataclass
class ExecStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    max_task_s: float = 0.0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    failed: int = 0
    records_read: int = 0
    streaming_shuffle_write: int = 0


class ExecIndex:
    """Event-log jobs and tasks attributed to spans."""

    def __init__(self, spans: list[Span], log_dir: str) -> None:
        self.spans = spans
        self.jobs, self.tasks = read_event_log(log_dir)
        by_group = {f"lb-{s.sid}": s.sid for s in spans}
        self.job_span: dict[int, int | None] = {}
        for jid, job in self.jobs.items():
            sid = by_group.get(job.group or "")
            if sid is None:
                sid = self._innermost(job.submit)
            self.job_span[jid] = sid
        self.stage_job: dict[int, int] = {}
        for jid, job in sorted(self.jobs.items()):
            for st in job.stages:
                self.stage_job.setdefault(st, jid)

    def _innermost(self, t: float) -> int | None:
        best = None
        for s in self.spans:
            if s.t0 <= t <= s.t1 and (best is None or s.t0 >= best.t0):
                best = s
        return best.sid if best else None

    def stats(self, sids: set[int]) -> ExecStats:
        """Totals over the jobs attributed to any span in `sids`."""
        jids = {j for j, s in self.job_span.items() if s in sids}
        st = ExecStats(jobs=len(jids))
        stages = set()
        for t in self.tasks:
            jid = self.stage_job.get(t.stage)
            if jid not in jids:
                continue
            stages.add(t.stage)
            st.tasks += 1
            st.task_s += t.seconds
            st.max_task_s = max(st.max_task_s, t.seconds)
            st.shuffle_read += t.shuffle_read
            st.shuffle_write += t.shuffle_write
            st.spill += t.spill
            st.failed += t.failed
            st.records_read += t.records_read
            if self.jobs[jid].streaming:
                st.streaming_shuffle_write += t.shuffle_write
        st.stages = len(stages)
        return st

    def descendants(self, roots: set[int]) -> set[int]:
        out = set(roots)
        for s in self.spans:  # spans are appended parent-first
            if s.parent in out:
                out.add(s.sid)
        return out


def exec_metrics(st: ExecStats, call_s: float, cores: int) -> dict[str, float]:
    """Execution totals; `call_s` is the summed wall time of the calls the
    totals belong to, so `exec.core_util` is busy task time per core-second
    of those calls."""
    return {
        "exec.stages": st.stages,
        "exec.tasks": st.tasks,
        "exec.task_s_sum": st.task_s,
        "exec.max_task_s": st.max_task_s,
        "exec.core_util": st.task_s / (call_s * cores) if call_s > 0 else 0.0,
        "exec.shuffle_read_mb": st.shuffle_read / MB,
        "exec.shuffle_write_mb": st.shuffle_write / MB,
        "exec.spill_mb": st.spill / MB,
        "exec.failed_tasks": st.failed,
    }


def plan_ms(df: Any) -> float:
    """Catalyst time (analysis + optimization + physical planning) of an
    executed DataFrame, from its query execution's planning tracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    it = phases.iterator()
    total = 0
    while it.hasNext():
        total += it.next()._2().durationMs()
    return float(total)


def persisted_mb(sc: Any) -> float:
    """Memory plus disk held by persisted and checkpointed RDDs."""
    infos = sc._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / MB


def p50(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def progress_listener() -> Any:
    """A StreamingQueryListener that keeps each trigger's progress."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def __init__(self) -> None:
            self.progress: list[Any] = []

        def onQueryStarted(self, event: Any) -> None:
            pass

        def onQueryProgress(self, event: Any) -> None:
            self.progress.append(event.progress)

        def onQueryIdle(self, event: Any) -> None:
            pass

        def onQueryTerminated(self, event: Any) -> None:
            pass

    return _Listener()
