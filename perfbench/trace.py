"""Spans around public calls, and Spark event-log attribution.

A span records name, start, end, parent and query id. Spans are kept
in memory and written out when the run ends. Inside a span every
Spark job the client thread submits carries the span's name as its
job group; jobs submitted from the engine's own worker threads do not
inherit it, so jobs are attributed to the innermost span whose wall
interval holds the job's submission time (one client thread, so spans
never overlap except by nesting).
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from pathlib import Path


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    qid: str | None
    start: float  # epoch seconds, the clock the event log uses
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """``enabled=False`` makes every span a no-op (untraced runs)."""

    def __init__(self, enabled: bool, spark_context=None):
        self.enabled = enabled
        self.sc = spark_context
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, qid: str | None = None):
        if not self.enabled:
            yield None
            return
        s = Span(len(self.spans), name, self._stack[-1] if self._stack else None, qid, time.time())
        self.spans.append(s)
        self._stack.append(s.id)
        if self.sc is not None:
            self.sc.setJobGroup(f"{name}#{s.id}", f"{name} {qid or ''}".strip())
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self.sc is not None:
                if self._stack:
                    p = self.spans[self._stack[-1]]
                    self.sc.setJobGroup(f"{p.name}#{p.id}", p.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: Path) -> None:
        path.write_text(json.dumps([asdict(s) for s in self.spans]))


@dataclass
class Job:
    id: int
    submit: float
    end: float
    stages: list[int]
    span: int | None = None


@dataclass
class Task:
    stage: int
    launch: float
    finish: float
    run_s: float
    cpu_s: float
    shuffle_write: int
    spill: int
    input_bytes: int


class EventLog:
    """Jobs, stages and tasks read back from one Spark event log file
    (uncompressed, not rolling), with jobs attributed to spans."""

    def __init__(self, path: Path, spans: list[Span]):
        self.jobs: dict[int, Job] = {}
        self.tasks: dict[int, list[Task]] = {}
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    self.jobs[e["Job ID"]] = Job(
                        e["Job ID"], e["Submission Time"] / 1e3, 0.0, list(e["Stage IDs"])
                    )
                elif ev == "SparkListenerJobEnd":
                    self.jobs[e["Job ID"]].end = e["Completion Time"] / 1e3
                elif ev == "SparkListenerTaskEnd" and e.get("Task Metrics"):
                    info, m = e["Task Info"], e["Task Metrics"]
                    self.tasks.setdefault(e["Stage ID"], []).append(
                        Task(
                            e["Stage ID"],
                            info["Launch Time"] / 1e3,
                            info["Finish Time"] / 1e3,
                            m["Executor Run Time"] / 1e3,
                            m["Executor CPU Time"] / 1e9,
                            m["Shuffle Write Metrics"]["Shuffle Bytes Written"],
                            m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"],
                            m["Input Metrics"]["Bytes Read"],
                        )
                    )
        for j in self.jobs.values():
            inner = [s for s in spans if s.start <= j.submit <= s.end]
            if inner:
                j.span = max(inner, key=lambda s: s.start).id

    def jobs_in(self, span_ids: set[int]) -> list[Job]:
        return [j for j in self.jobs.values() if j.span in span_ids]

    def tasks_of(self, jobs: list[Job]) -> list[Task]:
        return [t for j in jobs for st in j.stages for t in self.tasks.get(st, [])]

    def widest_stage_skew(self, jobs: list[Job]) -> float:
        """max / median task duration of the stage with the most tasks."""
        stages = [st for j in jobs for st in j.stages if self.tasks.get(st)]
        if not stages:
            return 0.0
        widest = max(stages, key=lambda st: len(self.tasks[st]))
        durs = [t.finish - t.launch for t in self.tasks[widest]]
        med = statistics.median(durs)
        return max(durs) / med if med > 0 else 0.0


def uncovered_s(span: Span, jobs: list[Job]) -> float:
    """Part of the span's wall time during which none of ``jobs`` ran."""
    ivs = sorted((max(j.submit, span.start), min(j.end, span.end)) for j in jobs)
    covered, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in ivs:
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return max(0.0, span.dur - covered)
