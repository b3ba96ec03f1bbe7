"""Fold a Spark event log into per-call counters.

The benchmark launches the JVM with ``spark.eventLog.enabled=true`` and
``compress=false``, so the log is plain JSON lines, which Spark 4.x writes
to ``eventlog_v2_<app>/events_<n>_<app>``.  Each benchmark call runs under its own job group; jobs
submitted from threads the program starts itself carry no group and are
given to the call whose wall-clock window holds their submission time.  A
job is counted for a call only if it was submitted inside the call's
window, so a job that still carries a call's group after the call has
returned is not counted at all.
"""

from __future__ import annotations

import glob
import json
import math
import os
import re
from collections import defaultdict

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
    "in_job_s",
)


def event_files(log_dir: str) -> list[str]:
    """Every event file under ``log_dir``, in the order Spark wrote them."""

    def index(path: str) -> int:
        return int(re.match(r"events_(\d+)_", os.path.basename(path)).group(1))

    return sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")), key=index)


def read_events(log_dir: str):
    for path in event_files(log_dir):
        with open(path) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def _union_s(intervals: list[tuple[int, int]]) -> float:
    """Length in seconds of the union of [start, end] millisecond intervals."""
    total, cur_start, cur_end = 0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total / 1000.0


def fold(events, windows: dict[str, tuple[float, float]]) -> dict[str, dict]:
    """Counters per job group.

    ``windows`` maps each group the benchmark set to the (start, end)
    epoch seconds of its call.  Returns ``{group: {counter: value}}``
    with every group of ``windows`` present, zeros where no job ran."""
    job_group: dict[int, str] = {}
    job_span: dict[int, list[int]] = {}
    stage_job: dict[int, int] = {}
    task_rows: list[tuple[int, dict]] = []

    # windows in whole milliseconds, the resolution of the log's times
    ms = {g: (math.floor(start * 1000), math.ceil(end * 1000)) for g, (start, end) in windows.items()}

    def owner(props: dict, submitted_ms: int) -> str | None:
        group = props.get("spark.jobGroup.id")
        if group in ms:
            start, end = ms[group]
            return group if start <= submitted_ms <= end else None
        for name, (start, end) in ms.items():
            if start <= submitted_ms <= end:
                return name
        return None

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            job = ev["Job ID"]
            group = owner(ev.get("Properties") or {}, ev.get("Submission Time", 0))
            if group is None:
                continue
            job_group[job] = group
            job_span[job] = [ev.get("Submission Time", 0), ev.get("Submission Time", 0)]
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = job
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_span:
            job_span[ev["Job ID"]][1] = ev.get("Completion Time", job_span[ev["Job ID"]][0])
        elif kind == "SparkListenerTaskEnd":
            task_rows.append((ev.get("Stage ID"), ev.get("Task Metrics") or {}))

    out = {g: dict.fromkeys(COUNTERS, 0) for g in windows}
    spans: dict[str, list[tuple[int, int]]] = defaultdict(list)
    for job, group in job_group.items():
        out[group]["jobs"] += 1
        spans[group].append(tuple(job_span[job]))
    stages: dict[str, set[int]] = defaultdict(set)
    for stage, m in task_rows:
        job = stage_job.get(stage)
        if job is None:
            continue
        row = out[job_group[job]]
        stages[job_group[job]].add(stage)
        row["tasks"] += 1
        row["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
        row["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        row["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        sr = m.get("Shuffle Read Metrics") or {}
        row["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        row["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        row["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        row["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    for group, ids in stages.items():
        out[group]["stages"] = len(ids)
    for group, ivs in spans.items():
        out[group]["in_job_s"] = _union_s(ivs)
    return out
