"""The benchmark's one Spark event-log parser.

It reads what the per-layer metrics need and nothing else:

* job start events, with the job's ``spark.scheduler.pool`` property
  (the engine tags every job of a task with ``datapact_<task_key>``);
* task-end metrics (run/CPU/GC time, result size, scan, shuffle and
  spill bytes), summed per stage and attributed to the first job that
  lists the stage;
* task-end SQL accumulators of the Python exec nodes (``MapInPandas``,
  ``ArrowEvalPython``, ...): bytes sent to and returned from Python
  workers.

Spark 4 writes a rolling log, a directory ``eventlog_v2_<app>`` of
``events_<n>_<app>`` files; a single plain file is read as well.
"""

from __future__ import annotations

import json
import os
import re
from collections import Counter
from dataclasses import dataclass, field

POOL_PREFIX = "datapact_"
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


@dataclass
class Job:
    id: int
    submit: float  # epoch seconds
    pool: str | None = None
    stages: list[int] = field(default_factory=list)

    @property
    def task_key(self) -> str | None:
        if self.pool and self.pool.startswith(POOL_PREFIX):
            return self.pool[len(POOL_PREFIX):]
        return None


def _files(log_dir: str) -> list[str]:
    out = []
    for entry in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, entry)
        if os.path.isdir(path):
            parts = [p for p in os.listdir(path) if p.startswith("events_")]
            parts.sort(key=lambda p: int(re.match(r"events_(\d+)_", p).group(1)))
            out += [os.path.join(path, p) for p in parts]
        elif not entry.startswith("."):
            out.append(path)
    return out


class EventLog:
    def __init__(self) -> None:
        self.jobs: dict[int, Job] = {}
        self.stage_job: dict[int, int] = {}
        self.stages_run: set[int] = set()
        self.stage_metrics: dict[int, Counter] = {}

    @classmethod
    def load(cls, log_dir: str) -> "EventLog":
        log = cls()
        for path in _files(log_dir):
            with open(path) as f:
                for line in f:
                    log._event(json.loads(line))
        return log

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            job = Job(
                e["Job ID"], e["Submission Time"] / 1000.0,
                pool=(e.get("Properties") or {}).get("spark.scheduler.pool"),
                stages=list(e["Stage IDs"]),
            )
            self.jobs[job.id] = job
            for s in job.stages:
                self.stage_job.setdefault(s, job.id)
        elif kind == "SparkListenerStageCompleted":
            self.stages_run.add(e["Stage Info"]["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            self._task(e)

    def _task(self, e: dict) -> None:
        c = self.stage_metrics.setdefault(e["Stage ID"], Counter())
        c["tasks"] += 1
        m = e.get("Task Metrics") or {}
        c["executor_run_ms"] += m.get("Executor Run Time", 0)
        c["executor_cpu_ns"] += m.get("Executor CPU Time", 0)
        c["gc_ms"] += m.get("JVM GC Time", 0)
        c["result_bytes"] += m.get("Result Size", 0)
        c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        inp = m.get("Input Metrics") or {}
        c["scan_rows"] += inp.get("Records Read", 0)
        c["scan_bytes"] += inp.get("Bytes Read", 0)
        sr = m.get("Shuffle Read Metrics") or {}
        c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        sw = m.get("Shuffle Write Metrics") or {}
        c["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        for acc in (e.get("Task Info") or {}).get("Accumulables", []):
            if acc.get("Name") == PY_SENT:
                c["python_to_bytes"] += int(acc.get("Update") or 0)
            elif acc.get("Name") == PY_RETURNED:
                c["python_from_bytes"] += int(acc.get("Update") or 0)

    def jobs_between(self, t0: float, t1: float) -> list[Job]:
        return [j for j in self.jobs.values() if t0 <= j.submit <= t1]

    def totals(self, jobs: list[Job]) -> dict[str, float]:
        """Summed runtime metrics of ``jobs`` (seconds, bytes, counts)."""
        ids = {j.id for j in jobs}
        stages = [s for s, jid in self.stage_job.items() if jid in ids]
        c: Counter = Counter()
        for s in stages:
            c.update(self.stage_metrics.get(s, Counter()))
        return {
            "jobs": len(jobs),
            "stages": sum(1 for s in stages if s in self.stages_run),
            "tasks": c["tasks"],
            "result_bytes": c["result_bytes"],
            "executor_run_s": c["executor_run_ms"] / 1000.0,
            "executor_cpu_s": c["executor_cpu_ns"] / 1e9,
            "gc_s": c["gc_ms"] / 1000.0,
            "scan_rows": c["scan_rows"],
            "scan_bytes": c["scan_bytes"],
            "shuffle_write_bytes": c["shuffle_write_bytes"],
            "shuffle_read_bytes": c["shuffle_read_bytes"],
            "spill_bytes": c["spill_bytes"],
            "python_to_bytes": c["python_to_bytes"],
            "python_from_bytes": c["python_from_bytes"],
        }
