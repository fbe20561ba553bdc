"""Fold a Spark event log into per-job executor metrics.

The stage and task records come from the repo's pure-Python loader
(tools/evlog_report.py). One more pass over the log reads what that loader
does not keep: each job's submit time, job group and stage list, and each
stage's first task launch, so that scheduling delay (job submit to first
task launch) can be derived per job.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from tools.evlog_report import load, newest_app, open_log


@dataclass
class JobMetrics:
    job_id: int
    group: str
    submit_ms: int
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    task_s: float = 0.0
    input_bytes: int = 0
    shuffle_bytes: int = 0
    fetch_wait_s: float = 0.0
    sched_delay_s: float = 0.0


def _jobs_and_launches(path: str):
    jobs, first_launch = [], {}
    with open_log(path) as f:
        for line in f:
            if '"SparkListenerJobStart"' not in line and '"SparkListenerTaskStart"' not in line:
                continue
            ev = json.loads(line)
            if ev["Event"] == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs.append((ev["Job ID"], props.get("spark.jobGroup.id") or "",
                             ev["Submission Time"], ev.get("Stage IDs") or []))
            else:
                sid, t = ev["Stage ID"], ev["Task Info"]["Launch Time"]
                first_launch[sid] = min(t, first_launch.get(sid, t))
    return jobs, first_launch


def fold(log_dir: str) -> list[JobMetrics]:
    """One JobMetrics per Spark job of the newest application in ``log_dir``."""
    path = newest_app(log_dir)
    _stages, tasks, _execs = load(path)
    jobs, first_launch = _jobs_and_launches(path)
    owner: dict[int, int] = {}  # stage -> lowest job listing it (later jobs skip it)
    for jid, _g, _t, sids in sorted(jobs):
        for sid in sids:
            owner.setdefault(sid, jid)
    out = {jid: JobMetrics(jid, g, t) for jid, g, t, _ in jobs}
    for sid, ts in tasks.items():
        m = out.get(owner.get(sid))
        if m is None:
            continue
        m.tasks += len(ts)
        m.run_s += sum(t["run"] for t in ts) / 1e3
        m.cpu_s += sum(t["cpu_ms"] for t in ts) / 1e3
        m.gc_s += sum(t["gc"] for t in ts) / 1e3
        m.task_s += sum(t["dur"] for t in ts) / 1e3
        m.input_bytes += sum(t["in_b"] for t in ts)
        m.shuffle_bytes += sum(t["sw_b"] for t in ts)
        m.fetch_wait_s += sum(t["fetch_wait"] for t in ts) / 1e3
    for jid, _g, t, sids in jobs:
        launches = [first_launch[s] for s in sids if s in first_launch and owner[s] == jid]
        if launches:
            out[jid].sched_delay_s = max(0, min(launches) - t) / 1e3
    return sorted(out.values(), key=lambda m: m.job_id)


def in_window(jobs: list[JobMetrics], t0: float, t1: float) -> list[JobMetrics]:
    """Jobs submitted between wall-clock seconds t0 and t1."""
    return [j for j in jobs if t0 * 1e3 <= j.submit_ms <= t1 * 1e3]
