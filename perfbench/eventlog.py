"""Reader for Spark's JSON event log (``spark.eventLog.enabled``).

Only the job, stage and task events are used. Each job, stage and task
is attributed to the workload operation whose wall-clock window holds
its submission or launch time — the workload has one client, so the
windows never overlap and the attribution is exact even for jobs a
worker thread launched without the caller's job properties.
"""

from __future__ import annotations

import json

COUNTERS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
    "scheduler_delay_s", "shuffle_read_bytes", "shuffle_write_bytes",
    "input_bytes", "output_bytes",
)


def parse(lines) -> dict:
    """Jobs, stages and tasks from event-log lines. Times are epoch
    seconds; task time fields are seconds, byte fields bytes."""
    jobs: "dict[int, dict]" = {}
    stages: "dict[int, dict]" = {}
    tasks: "list[dict]" = []
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = {"submit": ev["Submission Time"] / 1000.0, "end": None}
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            stages[info["Stage ID"]] = {"submit": info.get("Submission Time", 0) / 1000.0}
        elif kind == "SparkListenerTaskEnd":
            ti, tm = ev["Task Info"], ev.get("Task Metrics") or {}
            run_ms = tm.get("Executor Run Time", 0)
            other_ms = (tm.get("Executor Deserialize Time", 0)
                        + tm.get("Result Serialization Time", 0)
                        + ti.get("Getting Result Time", 0))
            dur_ms = ti["Finish Time"] - ti["Launch Time"]
            sr = tm.get("Shuffle Read Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            tasks.append({
                "stage": ev["Stage ID"],
                "launch": ti["Launch Time"] / 1000.0,
                "executor_run_s": run_ms / 1000.0,
                "executor_cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
                "scheduler_delay_s": max(0, dur_ms - run_ms - other_ms) / 1000.0,
                "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
                "input_bytes": (tm.get("Input Metrics") or {}).get("Bytes Read", 0),
                "output_bytes": (tm.get("Output Metrics") or {}).get("Bytes Written", 0),
            })
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def read(path: str) -> dict:
    with open(path) as f:
        return parse(f)


def _owner(windows, t: float):
    """The op id whose ``(op, start, end)`` window holds time ``t``."""
    for op, lo, hi in windows:
        if lo <= t <= hi:
            return op
    return None


def attribute(log: dict, windows: "list[tuple[str, float, float]]") -> "dict[str, dict]":
    """Per-op totals of :data:`COUNTERS` plus ``job_intervals`` (the
    op's job ``(submit, end)`` pairs, for driver-only time). Event-log
    times have millisecond resolution, so each window is widened by
    one millisecond on both sides."""
    wins = [(op, lo - 0.001, hi + 0.001) for op, lo, hi in windows]
    out = {op: dict.fromkeys(COUNTERS, 0) | {"job_intervals": []} for op, _, _ in windows}
    for j in log["jobs"].values():
        op = _owner(wins, j["submit"])
        if op is not None:
            out[op]["jobs"] += 1
            out[op]["job_intervals"].append((j["submit"], j["end"] or j["submit"]))
    for s in log["stages"].values():
        op = _owner(wins, s["submit"])
        if op is not None:
            out[op]["stages"] += 1
    for t in log["tasks"]:
        op = _owner(wins, t["launch"])
        if op is None:
            continue
        o = out[op]
        o["tasks"] += 1
        for k in COUNTERS[3:]:
            o[k] += t[k]
    return out
