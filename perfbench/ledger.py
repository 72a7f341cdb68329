"""Per-layer ledger from Spark's own event log.

A traced run turns on `spark.eventLog.enabled` (uncompressed) and wraps
every call into the package in a span whose name is also the Spark job
group (`<workload>.<layer-call>`). This module reads the event log back
and charges each job's stages and tasks to the span that caused it:

- by job group, when the job carries one;
- otherwise by time, when exactly one span was open at the job's
  submission (jobs that the package launches from its own threads, HTTP
  handler threads among them, do not inherit the caller's job group;
  every request the benchmark sends is a span of its own, so a handler's
  job falls inside its request's span);
- otherwise to `<workload>.untagged` (for the served workload: jobs that
  HTTP handler threads launch while another request or a tick is open).

Counts and times come from `SparkListenerTaskEnd` task metrics and the
SQL metrics in each task's accumulables; job groups and each job's
stages come from `SparkListenerJobStart`.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field
from pathlib import Path

# SQL metrics of the Python/Arrow exchange (PythonSQLMetrics); the time
# is in ms
PY_METRICS = {
    "time to run Python workers": "python_run_ms",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_returned",
}

STAGE_FIELDS = (
    "tasks", "run_ms", "cpu_ms", "gc_ms", "input_bytes", "shuffle_write_bytes",
    "shuffle_fetch_wait_ms", "output_bytes", "python_run_ms",
    "python_bytes_sent", "python_bytes_returned",
)


@dataclass
class Stage:
    stage_id: int
    max_task_ms: float = 0.0
    totals: dict = field(default_factory=lambda: dict.fromkeys(STAGE_FIELDS, 0.0))


@dataclass
class Job:
    job_id: int
    group: str | None
    submitted_ms: int
    stage_ids: list[int]


def read_event_log(path: Path):
    """Events of one application; `path` is the log file or the
    directory Spark wrote it into (exactly one application)."""
    path = Path(path)
    if path.is_dir():
        files = [p for p in path.iterdir() if p.is_file() and not p.name.startswith(".")]
        if len(files) != 1:
            raise ValueError(f"expected one event log in {path}, found {len(files)}")
        path = files[0]
    with open(path, encoding="utf-8") as f:
        for line in f:
            if line.strip():
                yield json.loads(line)


def parse(events) -> tuple[list[Job], dict[int, Stage]]:
    jobs: list[Job] = []
    stages: dict[int, Stage] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            jobs.append(Job(e["Job ID"], group, e["Submission Time"], list(e["Stage IDs"])))
        elif kind == "SparkListenerTaskEnd":
            st = stages.setdefault(e["Stage ID"], Stage(e["Stage ID"]))
            m = e.get("Task Metrics") or {}
            t = st.totals
            run = float(m.get("Executor Run Time", 0))
            t["tasks"] += 1
            t["run_ms"] += run
            t["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            t["gc_ms"] += m.get("JVM GC Time", 0)
            t["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            t["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            t["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            t["shuffle_fetch_wait_ms"] += (m.get("Shuffle Read Metrics") or {}).get(
                "Fetch Wait Time", 0)
            st.max_task_ms = max(st.max_task_ms, run)
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("Name") in PY_METRICS:
                    t[PY_METRICS[acc["Name"]]] += float(acc.get("Update", 0))
    return jobs, stages


def attribute(jobs, spans, workload: str) -> dict[int, str]:
    """job id -> the call it is charged to (see module docstring)."""
    out = {}
    for job in jobs:
        t = job.submitted_ms / 1000.0
        open_now = [s for s in spans if s.start <= t <= s.end]
        if job.group is not None:
            out[job.job_id] = job.group
        elif len({s.name for s in open_now}) == 1:
            out[job.job_id] = open_now[0].name
        else:
            out[job.job_id] = f"{workload}.untagged"
    return out


def ledger(events, spans, workload: str, since: float = 0.0) -> dict[str, dict]:
    """One row per layer call: how often it ran, its wall time, and the
    Spark work charged to it. Jobs submitted before `since` (epoch
    seconds: set-up and warm-up) are left out. A stage that several jobs
    share is charged once, to the first job that lists it."""
    jobs, stages = parse(events)
    jobs = [j for j in jobs if j.submitted_ms / 1000.0 >= since]
    owner = attribute(jobs, spans, workload)
    rows: dict[str, dict] = defaultdict(lambda: {
        "calls": 0, "wall_s": 0.0, "jobs": 0, "stages": 0,
        "single_task_stages": 0, "max_task_ms": 0.0,
        **dict.fromkeys(STAGE_FIELDS, 0.0),
    })
    for s in spans:
        rows[s.name]["calls"] += 1
        rows[s.name]["wall_s"] += s.seconds
    charged: dict[int, str] = {}
    for job in jobs:
        rows[owner[job.job_id]]["jobs"] += 1
        for sid in job.stage_ids:
            if sid in stages and sid not in charged and stages[sid].totals["tasks"]:
                charged[sid] = owner[job.job_id]
    per_call_stages = defaultdict(list)
    for sid, call in charged.items():
        per_call_stages[call].append(stages[sid])
    for call, sts in per_call_stages.items():
        row = rows[call]
        for st in sts:
            row["stages"] += 1
            row["max_task_ms"] = max(row["max_task_ms"], st.max_task_ms)
            for k in STAGE_FIELDS:
                row[k] += st.totals[k]
        # a stage that ran as one task and carried a tenth of the call's
        # executor time: it serialized real work onto one core
        row["single_task_stages"] = sum(
            1 for st in sts
            if st.totals["tasks"] == 1 and st.totals["run_ms"] >= 0.1 * row["run_ms"] > 0
        )
    for row in rows.values():
        row["max_task_share"] = row["max_task_ms"] / row["run_ms"] if row["run_ms"] else 0.0
    return dict(rows)


def rollup(rows: dict, prefix: str) -> dict:
    """Spark totals of every call under `prefix`."""
    keep = [r for k, r in rows.items() if k.startswith(prefix)]

    def total(f):
        return sum(r[f] for r in keep)

    run_ms = total("run_ms")
    return {
        "spark.jobs": total("jobs"),
        "spark.stages": total("stages"),
        "spark.tasks": total("tasks"),
        "spark.run_ms": run_ms,
        "spark.cpu_ms": total("cpu_ms"),
        "spark.gc_ms": total("gc_ms"),
        "spark.input_bytes": total("input_bytes"),
        "spark.shuffle_write_bytes": total("shuffle_write_bytes"),
        "spark.shuffle_fetch_wait_ms": total("shuffle_fetch_wait_ms"),
        "spark.output_bytes": total("output_bytes"),
        "spark.max_task_share": max(
            (r["max_task_ms"] for r in keep), default=0.0) / run_ms if run_ms else 0.0,
        "spark.single_task_stages": total("single_task_stages"),
        "functions.python_run_ms": total("python_run_ms"),
        "functions.python_bytes_sent": total("python_bytes_sent"),
        "functions.python_bytes_returned": total("python_bytes_returned"),
        "spark.untagged_jobs": sum(r["jobs"] for k, r in rows.items()
                                   if k.endswith(".untagged")),
    }


def per_call(rows: dict, name: str, field: str) -> float:
    r = rows.get(name)
    return r[field] / r["calls"] if r and r["calls"] else 0.0
