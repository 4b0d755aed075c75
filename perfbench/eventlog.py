"""Per-job and per-group totals from an uncompressed Spark event log.

Everything here comes from public Spark surfaces: ``JobStart`` /
``JobEnd`` (job group and phase properties, submit and end times),
``StageSubmitted``, ``TaskEnd`` task metrics, and the SQL plan metrics whose
types (``timing`` in ms, ``nsTiming`` in ns, ``size`` in bytes) come from
``SQLExecutionStart`` and ``SQLAdaptiveExecutionUpdate``. Spark reports the
Python worker boundary as SQL metrics on the tasks that cross it.
"""

from __future__ import annotations

import json
from collections import defaultdict
from pathlib import Path

from driver import PHASE_PROPERTY

MB = 1e6
_PY_METRICS = {
    "time to start Python workers": "py_start_s",
    "time to initialize Python workers": "py_init_s",
    "time to run Python workers": "py_run_s",
    "data sent to Python workers": "py_sent_mb",
    "data returned from Python workers": "py_returned_mb",
}
_UNIT_SCALE = {"timing": 1e-3, "nsTiming": 1e-9, "size": 1 / MB}

# Totals kept per job and summed per group.
FIELDS = (
    "stages",
    "tasks",
    "task_s",
    "cpu_s",
    "gc_s",
    "task_wait_s",
    "input_mb",
    "input_rows",
    "shuffle_write_mb",
    "shuffle_read_mb",
    "spill_mb",
    *_PY_METRICS.values(),
)


def _plan_metric_types(plan: dict, out: dict[int, str]) -> None:
    for m in plan.get("metrics", ()):
        out[m["accumulatorId"]] = m["metricType"]
    for child in plan.get("children", ()):
        _plan_metric_types(child, out)


def read(path: Path) -> dict[int, dict]:
    """Jobs by id: group, phase, start/end (epoch s) and the FIELDS totals."""
    jobs: dict[int, dict] = {}
    stage_jobs: dict[int, list[int]] = defaultdict(list)  # jobs listing a stage, in start order
    owner: dict[tuple[int, int], int] = {}  # (stage, attempt) -> the job that ran it
    metric_type: dict[int, str] = {}
    task_ends: list[dict] = []
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                job = dict.fromkeys(FIELDS, 0)
                job.update(
                    group=props.get("spark.jobGroup.id"),
                    phase=props.get(PHASE_PROPERTY),
                    start=e["Submission Time"] / 1e3,
                    end=None,
                )
                jobs[e["Job ID"]] = job
                for sid in e["Stage IDs"]:
                    stage_jobs[sid].append(e["Job ID"])
            elif kind == "SparkListenerJobEnd":
                jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
            elif kind == "SparkListenerStageSubmitted":
                # A stage runs for the lowest-numbered active job that lists
                # it (the scheduler's rule); later jobs that list it again,
                # as adaptive stage jobs and repeated actions do, skip it.
                info = e["Stage Info"]
                listing = stage_jobs[info["Stage ID"]]
                jid = next((j for j in listing if jobs[j]["end"] is None), listing[-1])
                owner[info["Stage ID"], info["Stage Attempt ID"]] = jid
                jobs[jid]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                task_ends.append(e)
            elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                _plan_metric_types(e["sparkPlanInfo"], metric_type)
    # Task ends are summed last: a plan update can name an accumulator
    # after the first task that reported it.
    for e in task_ends:
        job = jobs[owner[e["Stage ID"], e["Stage Attempt ID"]]]
        info, m = e["Task Info"], e.get("Task Metrics") or {}
        job["tasks"] += 1
        if not m:
            continue
        run_ms = m["Executor Run Time"]
        job["task_s"] += run_ms / 1e3
        job["cpu_s"] += m["Executor CPU Time"] / 1e9
        job["gc_s"] += m["JVM GC Time"] / 1e3
        job["task_wait_s"] += max(info["Finish Time"] - info["Launch Time"] - run_ms, 0) / 1e3
        job["input_mb"] += m["Input Metrics"]["Bytes Read"] / MB
        job["input_rows"] += m["Input Metrics"]["Records Read"]
        job["shuffle_write_mb"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / MB
        sr = m["Shuffle Read Metrics"]
        job["shuffle_read_mb"] += (sr["Local Bytes Read"] + sr["Remote Bytes Read"]) / MB
        job["spill_mb"] += (m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]) / MB
        for acc in info.get("Accumulables", ()):
            field = _PY_METRICS.get(acc.get("Name"))
            if field is not None and "Update" in acc:
                scale = _UNIT_SCALE[metric_type.get(acc["ID"], "timing")]
                job[field] += float(acc["Update"]) * scale
    return jobs


def by_group(jobs: dict[int, dict]) -> dict[str, dict]:
    """FIELDS totals per job group, plus ``jobs`` and ``build_jobs`` counts."""
    out: dict[str, dict] = defaultdict(lambda: dict.fromkeys(("jobs", "build_jobs", *FIELDS), 0))
    for job in jobs.values():
        g = out[job["group"]]
        g["jobs"] += 1
        g["build_jobs"] += job["phase"] == "build"
        for k in FIELDS:
            g[k] += job[k]
    return dict(out)


def covered_s(jobs: dict[int, dict], start: float, end: float) -> float:
    """Seconds of [start, end] during which at least one job was running."""
    spans = sorted(
        (max(j["start"], start), min(j["end"] if j["end"] is not None else end, end))
        for j in jobs.values()
    )
    total, cur_s, cur_e = 0.0, None, None
    for s, e in spans:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
