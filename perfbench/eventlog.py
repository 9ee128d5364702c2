"""Reader for Spark's uncompressed JSON-lines event log.

Spark writes one JSON object per line. Two event kinds carry what the
benchmark reports:

- ``SparkListenerJobStart``: job id, its stage ids, and the submitting
  thread's local properties, among them ``spark.job.description``;
- ``SparkListenerTaskEnd``: per-task executor CPU, GC, shuffle and
  spill counters, keyed by stage id.

Tasks are charged to the first job that lists their stage. Jobs are
grouped by a label derived from their description: ``perfbench:<x>``
descriptions set by the benchmark give the label ``<x>``; any other
description (Spark streaming names its micro-batch jobs) gives
``other``; no description at all gives ``untagged``. Jobs submitted
before the measured section began are labelled ``setup`` whatever
their description.
"""

from __future__ import annotations

import json
from collections import defaultdict

from common import JOB_PREFIX

COUNTERS = ("jobs", "tasks", "task_cpu_s", "gc_s", "shuffle_mb", "spill_mb")


def job_label(description: str | None) -> str:
    if not description:
        return "untagged"
    if description.startswith(JOB_PREFIX + ":"):
        return description[len(JOB_PREFIX) + 1:]
    return "other"


def read_event_log(path: str, measured_from_ms: float = 0.0) -> dict[str, dict[str, float]]:
    """Per-label totals of COUNTERS over every job in the log; jobs
    submitted before ``measured_from_ms`` (epoch ms) count as ``setup``."""
    stage_job: dict[int, int] = {}
    job_lbl: dict[int, str] = {}
    task_rows: list[tuple[int, dict]] = []
    with open(path) as fh:
        for line in fh:
            if '"SparkListenerJobStart"' in line:
                ev = json.loads(line)
                job = ev["Job ID"]
                props = ev.get("Properties") or {}
                job_lbl[job] = (
                    "setup" if ev.get("Submission Time", 0) < measured_from_ms
                    else job_label(props.get("spark.job.description"))
                )
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, job)
            elif '"SparkListenerTaskEnd"' in line:
                ev = json.loads(line)
                task_rows.append((ev["Stage ID"], ev.get("Task Metrics") or {}))
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0.0))
    for job, lbl in job_lbl.items():
        out[lbl]["jobs"] += 1
    mb = 1024.0 * 1024.0
    for sid, m in task_rows:
        job = stage_job.get(sid)
        row = out[job_lbl[job] if job is not None else "untagged"]
        row["tasks"] += 1
        row["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        row["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        rd = m.get("Shuffle Read Metrics") or {}
        wr = m.get("Shuffle Write Metrics") or {}
        row["shuffle_mb"] += (
            rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            + wr.get("Shuffle Bytes Written", 0)
        ) / mb
        row["spill_mb"] += (
            m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        ) / mb
    return dict(out)


def totals(per_label: dict[str, dict[str, float]], prefix: str = "") -> dict[str, float]:
    """Sum COUNTERS over the labels that start with ``prefix``."""
    acc = dict.fromkeys(COUNTERS, 0.0)
    for lbl, row in per_label.items():
        if lbl.startswith(prefix):
            for k in COUNTERS:
                acc[k] += row[k]
    return acc
