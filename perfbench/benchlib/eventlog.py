"""Reader for Spark's JSON event log (uncompressed, single-file or rolling
directory form).

Only what the per-layer report needs is kept: jobs with the harness span that
submitted them (the ``perfbench.span`` local property, inherited by every job
AQE submits for a query) and their submission/completion times, and successful
tasks with their duration, shuffle write bytes and the Python-exec SQL metrics
Spark attaches to tasks of stages that run a Python worker.  Failed task
attempts are skipped; the run's failed/attempted counts cover failures.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from .stats import union_length

SPAN_PROPERTY = "perfbench.span"

# SQL metric names of Spark's Python exec nodes (PythonSQLMetrics)
PY_INIT = "time to initialize Python workers"
PY_RUN = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
_PY_METRICS = (PY_INIT, PY_RUN, PY_SENT, PY_RETURNED)


@dataclass
class Task:
    stage_id: int
    duration_ms: float
    shuffle_write_bytes: int
    py: dict[str, float]

    @property
    def is_python(self) -> bool:
        return PY_RUN in self.py


@dataclass
class Job:
    job_id: int
    span: str | None
    stage_ids: list[int]
    submit_ms: float = 0.0
    end_ms: float = 0.0


@dataclass
class EventLog:
    jobs: list[Job] = field(default_factory=list)
    tasks: list[Task] = field(default_factory=list)

    def jobs_in(self, spans: set[str]) -> list[Job]:
        return [j for j in self.jobs if j.span in spans]

    def tasks_of(self, jobs: list[Job]) -> list[Task]:
        """Tasks that ran for these jobs.  A stage id belongs to the first job
        listing it; later jobs list it again only as a skipped stage."""
        owner: dict[int, int] = {}
        for j in self.jobs:
            for sid in j.stage_ids:
                owner.setdefault(sid, j.job_id)
        ids = {j.job_id for j in jobs}
        return [t for t in self.tasks if owner.get(t.stage_id) in ids]


def busy_s(jobs: list[Job]) -> float:
    """Wall time during which at least one of ``jobs`` ran (the union of
    their submission→completion intervals), in seconds."""
    return union_length((j.submit_ms, j.end_ms) for j in jobs) / 1000.0


def read_events(path: str) -> list[dict]:
    """All events under ``path`` (a log file or a directory of them).  A
    truncated last line, which a still-open log can have, is skipped."""
    files = []
    if os.path.isdir(path):
        for root, _dirs, names in os.walk(path):
            files += [os.path.join(root, n) for n in sorted(names)
                      if not n.startswith(("appstatus", "."))]
    else:
        files = [path]
    events = []
    for name in sorted(files):
        with open(name, encoding="utf-8", errors="replace") as fh:
            for line in fh:
                try:
                    events.append(json.loads(line))
                except json.JSONDecodeError:
                    continue
    return events


def _num(value) -> float:
    try:
        return float(value)
    except (TypeError, ValueError):
        return 0.0


def parse_events(events: list[dict]) -> EventLog:
    log = EventLog()
    ends: dict[int, float] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            log.jobs.append(Job(job_id=int(e["Job ID"]),
                                span=props.get(SPAN_PROPERTY),
                                stage_ids=[int(s) for s in e.get("Stage IDs", [])],
                                submit_ms=_num(e.get("Submission Time"))))
        elif kind == "SparkListenerJobEnd":
            ends[int(e["Job ID"])] = _num(e.get("Completion Time"))
        elif kind == "SparkListenerTaskEnd":
            info = e.get("Task Info") or {}
            reason = (e.get("Task End Reason") or {}).get("Reason")
            if info.get("Failed") or reason not in (None, "Success"):
                continue
            py = {}
            for acc in info.get("Accumulables") or []:
                if acc.get("Name") in _PY_METRICS:
                    py[acc["Name"]] = py.get(acc["Name"], 0.0) + _num(acc.get("Update"))
            metrics = e.get("Task Metrics") or {}
            shuffle = (metrics.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            log.tasks.append(Task(
                stage_id=int(e["Stage ID"]),
                duration_ms=_num(info.get("Finish Time")) - _num(info.get("Launch Time")),
                shuffle_write_bytes=int(shuffle or 0),
                py=py))
    for j in log.jobs:
        j.end_ms = ends.get(j.job_id, j.submit_ms)
    log.jobs.sort(key=lambda j: j.job_id)
    return log


def load(path: str) -> EventLog:
    return parse_events(read_events(path))
