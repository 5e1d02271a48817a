"""Spark event-log reader for the traced run.

Reads the JSON-lines event log Spark writes when ``spark.eventLog.enabled``
is set (the same decomposition ``BENCH/stage_profile.py`` uses) and
attributes every job to a benchmark span: by job group when the job was
submitted from the benchmark's own thread (the group is the span id), else
by time window — jobs the engine submits from its own executor threads
carry no group, so they go to the innermost span open at their submission.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field

from .measure import Span

GROUP_PREFIX = "perfbench-span-"


@dataclass
class Job:
    jid: int
    group: str | None
    submit_s: float
    end_s: float | None = None
    stages: list[int] = field(default_factory=list)


@dataclass
class StageTotals:
    tasks: int = 0
    failed_tasks: int = 0
    cpu_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0


def find_log(log_dir: str) -> str:
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    return files[0]


def parse(path: str) -> tuple[dict[int, Job], dict[int, StageTotals]]:
    jobs: dict[int, Job] = {}
    stages: dict[int, StageTotals] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = Job(
                    ev["Job ID"],
                    props.get("spark.jobGroup.id"),
                    ev["Submission Time"] / 1e3,
                    stages=list(ev.get("Stage IDs", [])),
                )
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end_s = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerTaskEnd":
                st = stages.setdefault(ev["Stage ID"], StageTotals())
                st.tasks += 1
                info = ev.get("Task Info") or {}
                if info.get("Failed") or (ev.get("Task End Reason") or {}).get(
                    "Reason", "Success"
                ) != "Success":
                    st.failed_tasks += 1
                m = ev.get("Task Metrics") or {}
                st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                sw = m.get("Shuffle Write Metrics") or {}
                st.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                st.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
    return jobs, stages


def attribute(jobs: dict[int, Job], spans: list[Span]) -> dict[int, list[Job]]:
    """Span id -> the jobs that ran on its behalf (see module docstring)."""
    by_id = {s.sid: s for s in spans}
    out: dict[int, list[Job]] = {}
    for job in jobs.values():
        sid = None
        if job.group and job.group.startswith(GROUP_PREFIX):
            sid = int(job.group[len(GROUP_PREFIX):])
        if sid is None or sid not in by_id:
            open_at = [
                s for s in spans
                if s.end is not None and s.start <= job.submit_s <= s.end
            ]
            if not open_at:
                continue
            sid = max(open_at, key=lambda s: s.start).sid
        out.setdefault(sid, []).append(job)
    return out


def job_totals(job_list: list[Job], stages: dict[int, StageTotals]) -> dict:
    """Job, executed-stage and task counts plus task metrics over jobs."""
    seen: set[int] = set()
    t = StageTotals()
    n_stages = 0
    for job in job_list:
        for sid in job.stages:
            st = stages.get(sid)
            if st is None or sid in seen:  # skipped (reused) stages run no tasks
                continue
            seen.add(sid)
            n_stages += 1
            for k in vars(t):
                setattr(t, k, getattr(t, k) + getattr(st, k))
    return {"jobs": len(job_list), "stages": n_stages, **vars(t)}


def covered_s(start: float, end: float, job_list: list[Job]) -> float:
    """Part of [start, end] during which at least one of the jobs ran."""
    from .measure import self_time

    ivs = [(j.submit_s, j.end_s) for j in job_list if j.end_s is not None]
    return (end - start) - self_time(start, end, ivs)
