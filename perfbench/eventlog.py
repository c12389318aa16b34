"""Reader for Spark's JSON event log (``spark.eventLog.enabled``, a local
``file:`` directory, uncompressed, not rolling).

It folds the log into per-job and per-stage numbers: wall time, task
time, shuffle read/write bytes, spill, retries, and the Python
"data sent to/returned from Python workers" SQL metrics. Each job is
attributed to the job description that was set when it was launched
(the benchmark sets it to ``span:<id>``).
"""

from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass, field

PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
FILES_READ = "number of files read"


@dataclass
class Stage:
    stage_id: int
    task_ms: list = field(default_factory=list)
    failed_tasks: int = 0
    attempts: int = 1
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    records_read: int = 0
    py_sent: int = 0
    py_recv: int = 0


@dataclass
class Job:
    job_id: int
    desc: str | None
    start_ms: int
    end_ms: int = 0
    stage_ids: list = field(default_factory=list)
    execution_id: str | None = None


@dataclass
class Log:
    jobs: dict[int, Job]
    stages: dict[int, Stage]
    #: SQL execution id -> number of files read by its scans
    files_read: dict[str, int]

    def job_stages(self, job: Job) -> list[Stage]:
        return [self.stages[s] for s in job.stage_ids if s in self.stages]

    def summary(self, jobs: list[Job], cores: int) -> dict:
        """Totals over ``jobs``: task time, shuffle, spill, retries,
        Python bytes, core utilisation over the jobs' wall time and the
        task skew (max / median task time) of the worst stage."""
        stages = {s.stage_id: s for j in jobs for s in self.job_stages(j)}
        task_ms = [t for s in stages.values() for t in s.task_ms]
        wall_ms = sum(j.end_ms - j.start_ms for j in jobs)
        skew = 1.0
        for s in stages.values():
            if len(s.task_ms) > 1:
                med = statistics.median(s.task_ms)
                if med > 0:
                    skew = max(skew, max(s.task_ms) / med)
        return {
            "jobs": len(jobs),
            "tasks": len(task_ms),
            "task_s": sum(task_ms) / 1000.0,
            "wall_s": wall_ms / 1000.0,
            "core_util": sum(task_ms) / (wall_ms * cores) if wall_ms else 0.0,
            "task_skew": skew,
            "shuffle_read_bytes": sum(s.shuffle_read for s in stages.values()),
            "shuffle_write_bytes": sum(s.shuffle_write for s in stages.values()),
            "spill_bytes": sum(s.spill for s in stages.values()),
            "task_retries": sum(
                s.failed_tasks + s.attempts - 1 for s in stages.values()
            ),
            "records_read": sum(s.records_read for s in stages.values()),
            "python_bytes_sent": sum(s.py_sent for s in stages.values()),
            "python_bytes_received": sum(s.py_recv for s in stages.values()),
            "files_read": sum(
                self.files_read.get(e, 0)
                for e in {j.execution_id for j in jobs}
                if e is not None
            ),
        }


def _plan_metric_ids(plan: dict, name: str, out: set) -> None:
    for m in plan.get("metrics", []):
        if m.get("name") == name:
            out.add(m["accumulatorId"])
    for child in plan.get("children", []):
        _plan_metric_ids(child, name, out)


def parse_lines(lines) -> Log:
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    files_ids: dict[str, set] = {}
    files_read: dict[str, int] = {}
    for line in lines:
        if not line.strip():
            continue
        e = json.loads(line)
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jobs[e["Job ID"]] = Job(
                job_id=e["Job ID"],
                desc=props.get("spark.job.description"),
                start_ms=e["Submission Time"],
                stage_ids=list(e["Stage IDs"]),
                execution_id=props.get("spark.sql.execution.id"),
            )
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]].end_ms = e["Completion Time"]
        elif kind == "SparkListenerStageSubmitted":
            sid = e["Stage Info"]["Stage ID"]
            st = stages.setdefault(sid, Stage(sid))
            st.attempts = max(st.attempts, e["Stage Info"]["Stage Attempt ID"] + 1)
        elif kind == "SparkListenerTaskEnd":
            sid = e["Stage ID"]
            st = stages.setdefault(sid, Stage(sid))
            info = e["Task Info"]
            if info.get("Failed") or info.get("Killed"):
                st.failed_tasks += 1
                continue
            st.task_ms.append(info["Finish Time"] - info["Launch Time"])
            m = e.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            st.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            st.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            st.spill += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            st.records_read += (m.get("Input Metrics") or {}).get("Records Read", 0)
            for a in info.get("Accumulables", []):
                if a.get("Name") == PY_SENT:
                    st.py_sent += int(a.get("Update", 0))
                elif a.get("Name") == PY_RECV:
                    st.py_recv += int(a.get("Update", 0))
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            ids: set = set()
            _plan_metric_ids(e.get("sparkPlanInfo") or {}, FILES_READ, ids)
            files_ids[str(e["executionId"])] = ids
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            ids = files_ids.setdefault(str(e["executionId"]), set())
            _plan_metric_ids(e.get("sparkPlanInfo") or {}, FILES_READ, ids)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            ex = str(e["executionId"])
            ids = files_ids.get(ex, set())
            for acc_id, value in e["accumUpdates"]:
                if acc_id in ids:
                    files_read[ex] = files_read.get(ex, 0) + int(value)
    return Log(jobs=jobs, stages=stages, files_read=files_read)


def read_dir(path: str) -> Log:
    """Parse every event-log file in ``path`` (one per application)."""
    lines = []
    for name in sorted(os.listdir(path)):
        if name.startswith("."):
            continue
        with open(os.path.join(path, name)) as f:
            lines.extend(f.readlines())
    return parse_lines(lines)


def span_of(job: Job) -> int | None:
    """The span id a job was launched under, from its description."""
    if job.desc and job.desc.startswith("span:"):
        return int(job.desc.split(":", 1)[1])
    return None
