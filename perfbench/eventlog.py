"""Offline parser for Spark's JSON event log.

Spark writes one JSON event per line (``spark.eventLog.enabled``; Spark 4
writes a rolling ``eventlog_v2_*`` directory of ``events_<n>_*`` files).
The parser reads job starts/ends, stage submissions and task ends, and
groups jobs and tasks into spans by the local properties the benchmark
set on the submitting thread (``perfbench.span``, or the streaming
query and batch ids Spark sets itself). Each job and stage carries the
properties of the thread that submitted it, so no timing heuristics are
involved.
"""

from __future__ import annotations

import json
import re
import statistics
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field
from pathlib import Path

MB = 1024.0 * 1024.0


@dataclass
class Stage:
    props: dict
    run_s: list[float] = field(default_factory=list)
    shuffle_write: int = 0
    spill: int = 0

    def skew(self) -> float:
        """max/median task run time; 1.0 when too few or too short tasks."""
        if len(self.run_s) < 2:
            return 1.0
        med = statistics.median(self.run_s)
        return max(self.run_s) / med if med > 0 else 1.0


@dataclass
class Job:
    props: dict
    start: float
    end: float | None = None

    @property
    def call_site(self) -> str:
        return self.props.get("callSite.short") or ""


@dataclass
class Span:
    jobs: list[Job] = field(default_factory=list)
    stages: list[Stage] = field(default_factory=list)

    @property
    def task_s(self) -> float:
        return sum(sum(s.run_s) for s in self.stages)

    @property
    def shuffle_write_mb(self) -> float:
        return sum(s.shuffle_write for s in self.stages) / MB

    @property
    def spill_mb(self) -> float:
        return sum(s.spill for s in self.stages) / MB

    @property
    def skew_max(self) -> float:
        return max((s.skew() for s in self.stages), default=1.0)

    def job_wall_s(self, call_site: re.Pattern) -> float:
        """Summed wall of this span's jobs whose call site matches."""
        return sum(
            (j.end or j.start) - j.start for j in self.jobs if call_site.search(j.call_site)
        )


def _files(log_dir: Path) -> list[Path]:
    def order(p: Path):
        m = re.match(r"events_(\d+)_", p.name)
        return (str(p.parent), int(m.group(1)) if m else 0)

    return sorted(
        (p for p in log_dir.rglob("*") if p.is_file() and not p.name.startswith((".", "appstatus"))),
        key=order,
    )


def events(log_dir: Path) -> Iterator[dict]:
    for path in _files(log_dir):
        with open(path) as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


@dataclass
class EventLog:
    jobs: dict[int, Job]
    stages: dict[int, Stage]

    @classmethod
    def parse(cls, log_dir: Path) -> "EventLog":
        jobs: dict[int, Job] = {}
        stages: dict[int, Stage] = {}
        for ev in events(log_dir):
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = Job(ev.get("Properties") or {}, ev["Submission Time"] / 1000.0)
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageSubmitted":
                sid = ev["Stage Info"]["Stage ID"]
                stages.setdefault(sid, Stage(ev.get("Properties") or {}))
            elif kind == "SparkListenerTaskEnd":
                stage = stages.setdefault(ev["Stage ID"], Stage({}))
                m = ev.get("Task Metrics") or {}
                stage.run_s.append(m.get("Executor Run Time", 0) / 1000.0)
                stage.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                stage.spill += m.get("Disk Bytes Spilled", 0)
        return cls(jobs, stages)

    def spans(self, key: Callable[[dict], str | None]) -> dict[str, Span]:
        """Jobs and stages grouped by ``key(properties)``; None drops them."""
        out: dict[str, Span] = {}
        for job in self.jobs.values():
            name = key(job.props)
            if name is not None:
                out.setdefault(name, Span()).jobs.append(job)
        for stage in self.stages.values():
            name = key(stage.props)
            if name is not None:
                out.setdefault(name, Span()).stages.append(stage)
        return out
