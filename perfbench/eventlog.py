"""Reader for Spark's JSON event log (``spark.eventLog.enabled=true``).

The benchmark turns the log on only for traced runs, uncompressed
(``spark.eventLog.compress=false``): Spark 4 compresses with zstd by default
and no zstd or lz4 module is importable here. A log is either one file or,
with rolling logs (the Spark 4 default), an ``eventlog_v2_<app>`` directory of
``events_<n>_<app>`` files read in ``n`` order.

Only what the layer ledger needs is kept: per task the wall, run, CPU and GC
time, shuffle read and write, fetch wait, input and output bytes; per stage
its wall and tasks; per job its stages and SQL execution id; per SQL
execution its wall.
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Iterator
from dataclasses import dataclass, field

from stats import percentile


@dataclass
class Task:
    duration_ms: int
    run_ms: int
    cpu_ms: float
    gc_ms: int
    shuffle_read_records: int
    shuffle_read_bytes: int
    fetch_wait_ms: int
    shuffle_write_bytes: int
    input_bytes: int
    output_bytes: int


@dataclass
class Stage:
    stage_id: int
    attempt: int
    name: str
    num_tasks: int
    submit_ms: int = 0
    complete_ms: int = 0
    tasks: list[Task] = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return max(0, self.complete_ms - self.submit_ms) / 1000

    def total(self, attr: str) -> float:
        return sum(getattr(t, attr) for t in self.tasks)

    def task_ms(self, q: float) -> float:
        return percentile([t.duration_ms for t in self.tasks], q) if self.tasks else 0.0


@dataclass
class Job:
    job_id: int
    submit_ms: int
    stage_ids: list[int]
    execution_id: int | None


@dataclass
class Execution:
    execution_id: int
    start_ms: int
    end_ms: int = 0

    @property
    def wall_s(self) -> float:
        return max(0, self.end_ms - self.start_ms) / 1000


def _events_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    files = [f for f in os.listdir(path) if f.startswith("events_")]

    def index(name: str) -> int:
        m = re.match(r"events_(\d+)_", name)
        if not m:
            raise ValueError(f"unexpected event log file {name!r} in {path}")
        return int(m.group(1))

    return [os.path.join(path, f) for f in sorted(files, key=index)]


def read_events(path: str) -> Iterator[dict]:
    """Every event of the log at ``path`` (file or rolling directory)."""
    for name in _events_files(path):
        with open(name, encoding="utf-8") as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def _task(ev: dict) -> Task:
    m = ev.get("Task Metrics") or {}
    info = ev["Task Info"]
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    return Task(
        duration_ms=info["Finish Time"] - info["Launch Time"],
        run_ms=m.get("Executor Run Time", 0),
        cpu_ms=m.get("Executor CPU Time", 0) / 1e6,
        gc_ms=m.get("JVM GC Time", 0),
        shuffle_read_records=sr.get("Total Records Read", 0),
        shuffle_read_bytes=sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0),
        fetch_wait_ms=sr.get("Fetch Wait Time", 0),
        shuffle_write_bytes=sw.get("Shuffle Bytes Written", 0),
        input_bytes=(m.get("Input Metrics") or {}).get("Bytes Read", 0),
        output_bytes=(m.get("Output Metrics") or {}).get("Bytes Written", 0),
    )


class EventLog:
    """Jobs, stages (keyed by (stage id, attempt)) and SQL executions."""

    def __init__(self, events: Iterator[dict]) -> None:
        self.jobs: dict[int, Job] = {}
        self.stages: dict[tuple[int, int], Stage] = {}
        self.executions: dict[int, Execution] = {}
        for ev in events:
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                exec_id = (ev.get("Properties") or {}).get("spark.sql.execution.id")
                self.jobs[ev["Job ID"]] = Job(
                    ev["Job ID"],
                    ev["Submission Time"],
                    list(ev["Stage IDs"]),
                    int(exec_id) if exec_id is not None else None,
                )
            elif kind in ("SparkListenerStageSubmitted", "SparkListenerStageCompleted"):
                info = ev["Stage Info"]
                key = (info["Stage ID"], info["Stage Attempt ID"])
                st = self.stages.setdefault(
                    key, Stage(key[0], key[1], info["Stage Name"], info["Number of Tasks"])
                )
                st.submit_ms = info.get("Submission Time") or st.submit_ms
                if kind == "SparkListenerStageCompleted":
                    st.complete_ms = info.get("Completion Time") or 0
            elif kind == "SparkListenerTaskEnd":
                key = (ev["Stage ID"], ev["Stage Attempt ID"])
                st = self.stages.setdefault(key, Stage(key[0], key[1], "", 0))
                st.tasks.append(_task(ev))
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                self.executions[ev["executionId"]] = Execution(ev["executionId"], ev["time"])
            elif kind.endswith("SparkListenerSQLExecutionEnd"):
                ex = self.executions.get(ev["executionId"])
                if ex is not None:
                    ex.end_ms = ev["time"]

    @classmethod
    def load(cls, path: str) -> "EventLog":
        return cls(read_events(path))

    def stages_of(self, jobs: list[Job]) -> list[Stage]:
        """Stages that ran tasks for ``jobs`` (skipped stages have none)."""
        ids = {sid for j in jobs for sid in j.stage_ids}
        return [s for (sid, _), s in sorted(self.stages.items()) if sid in ids and s.tasks]

    def jobs_between(self, start_ms: float, end_ms: float) -> list[Job]:
        """Jobs submitted inside the wall-clock window [start_ms, end_ms]."""
        return [j for j in self.jobs.values() if start_ms <= j.submit_ms <= end_ms]


def find_log(directory: str) -> str:
    """The single application log written under ``directory``."""
    entries = [e for e in os.listdir(directory) if not e.startswith(".")]
    if len(entries) != 1:
        raise ValueError(f"expected one event log in {directory}, found {entries}")
    return os.path.join(directory, entries[0])
