"""Stdlib fold of a Spark event log into per-stage task-metric rows.

Only three record kinds matter: ``SparkListenerJobStart`` (job id,
submission time, stage ids, job group / description properties),
``SparkListenerJobEnd`` (completion time) and ``SparkListenerTaskEnd``
(per-task metrics).  A stage id belongs to the first job that lists it:
later jobs that reuse its shuffle output list it again but skip it.
"""

from __future__ import annotations

import json

FIELDS = ("jobs", "tasks", "run_s", "cpu_s", "gc_s", "shuffle_write_mb",
          "spill_mb", "output_mb", "slot_idle_share")

_MB = 1024.0 * 1024.0
_TOTALS = ("tasks", "busy_ms", "run_ms", "cpu_ns", "gc_ms", "shuffle_write",
           "spill", "output")


def fold(lines) -> tuple[dict, dict]:
    """Event-log JSON lines -> (jobs, stage_totals).

    jobs: job id -> {group, desc, submit_ms, end_ms, stages}
    stage_totals: stage id -> {tasks, busy_ms, run_ms, cpu_ns, gc_ms,
    shuffle_write, spill, output} summed over that stage's finished tasks;
    busy_ms is launch-to-finish slot occupancy."""
    jobs: dict = {}
    stages: dict = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "desc": props.get("spark.job.description"),
                "submit_ms": ev.get("Submission Time"),
                "end_ms": None,
                "stages": list(ev.get("Stage IDs") or []),
            }
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end_ms"] = ev.get("Completion Time")
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            info = ev.get("Task Info") or {}
            st = stages.setdefault(ev["Stage ID"], dict.fromkeys(_TOTALS, 0))
            st["tasks"] += 1
            st["busy_ms"] += (info.get("Finish Time", 0)
                              - info.get("Launch Time", 0))
            st["run_ms"] += m.get("Executor Run Time", 0)
            st["cpu_ns"] += m.get("Executor CPU Time", 0)
            st["gc_ms"] += m.get("JVM GC Time", 0)
            st["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            st["spill"] += m.get("Disk Bytes Spilled", 0)
            st["output"] += (m.get("Output Metrics") or {}).get(
                "Bytes Written", 0)
    return jobs, stages


def stage_row(jobs: dict, stages: dict, job_ids, slots: int,
              wall_s: float) -> dict:
    """One named stage's row over the given jobs.  ``slot_idle_share`` is
    1 - sum(task busy time) / (slots * stage wall), with busy time taken
    from task launch to finish: Spark's executor run time of Python tasks
    in local mode can exceed that interval, so it cannot measure slot use.
    """
    owner: dict = {}
    for jid in sorted(jobs):
        for sid in jobs[jid]["stages"]:
            owner.setdefault(sid, jid)
    job_ids = set(job_ids)
    tot = dict.fromkeys(_TOTALS, 0)
    for sid, st in stages.items():
        if owner.get(sid) in job_ids:
            for k in tot:
                tot[k] += st[k]
    busy_s = tot["busy_ms"] / 1000.0
    idle = 1.0 - busy_s / (slots * wall_s) if wall_s > 0 else 0.0
    return {
        "jobs": len(job_ids),
        "tasks": tot["tasks"],
        "run_s": tot["run_ms"] / 1000.0,
        "cpu_s": tot["cpu_ns"] / 1e9,
        "gc_s": tot["gc_ms"] / 1000.0,
        "shuffle_write_mb": tot["shuffle_write"] / _MB,
        "spill_mb": tot["spill"] / _MB,
        "output_mb": tot["output"] / _MB,
        "slot_idle_share": idle,
    }


def interval_stage(t_ms: float, bounds) -> str:
    """The name of the interval in ``bounds`` = [(name, start_ms, end_ms)],
    in time order, that holds ``t_ms``: a time before an interval's end
    falls to it (gaps fall to the stage that follows), a time after the
    last end to the last one."""
    for name, _, e in bounds:
        if t_ms < e:
            return name
    return bounds[-1][0]
