"""Per-layer figures from Spark's own event log (traced runs only).

The runner tags every job with ``setJobGroup``: ``build:<query>`` while
a query function builds its DataFrame, ``check:<...>`` for untimed
correctness checks, and ``exec:``/``harvest:``/``read:`` for the timed
actions. Streaming micro-batches carry ``stream:<tick>`` or the
streaming query's run id as their group; their jobs are
``run_downloader``'s. This module reads the uncompressed JSON-lines
event log and sums stage metrics per class of group, over the jobs
submitted inside the measured window.
"""

from __future__ import annotations

import glob
import json
import os
import statistics

# job groups the runner sets around its own timed calls outside the
# stream; the stream's micro-batches run under "stream:" or the
# streaming query's run id
_RUNNER_GROUPS = ("exec:", "harvest:", "read:")
_AQE_UPDATE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"


def _kind(group: str | None) -> str:
    g = group or ""
    if g.startswith("build:"):
        return "build"
    if g.startswith(("check:", "warmup", "idle")):
        return "other"
    return "exec"


def summarize(log_dir: str, window_ms: tuple[int, int]) -> dict[str, float]:
    """Per-layer sums for the jobs submitted within ``window_ms``
    (epoch milliseconds, inclusive)."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {paths}")
    jobs: dict[int, dict] = {}
    stage_kind: dict[int, str] = {}
    tasks: dict[int, list[dict]] = {}
    aqe_by_exec: dict[str, int] = {}
    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            name = ev.get("Event")
            if name == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                t = ev["Submission Time"]
                if not window_ms[0] <= t <= window_ms[1]:
                    continue
                group = props.get("spark.jobGroup.id")
                kind = _kind(group)
                jobs[ev["Job ID"]] = {
                    "kind": kind,
                    "stream": kind == "exec" and not (group or "").startswith(_RUNNER_GROUPS),
                    "start": t,
                    "sql": props.get("spark.sql.execution.id"),
                }
                for sid in ev["Stage IDs"]:
                    stage_kind.setdefault(sid, kind)
            elif name == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
            elif name == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_kind:
                tasks.setdefault(ev["Stage ID"], []).append(ev)
            elif name == _AQE_UPDATE:
                key = str(ev.get("executionId"))
                aqe_by_exec[key] = aqe_by_exec.get(key, 0) + 1

    out = {
        "plans.build_jobs": 0.0,
        "plans.build_job_s": 0.0,
        "downloader.jobs": 0.0,
        "exec.stages": 0.0,
        "exec.tasks": 0.0,
        "exec.executor_run_s": 0.0,
        "exec.shuffle_read_bytes": 0.0,
        "exec.shuffle_write_bytes": 0.0,
        "exec.spill_bytes": 0.0,
        "exec.task_skew": 0.0,
        "exec.aqe_replans": 0.0,
    }
    exec_sql = set()
    for j in jobs.values():
        if j["kind"] == "build":
            out["plans.build_jobs"] += 1
            out["plans.build_job_s"] += (j.get("end", j["start"]) - j["start"]) / 1e3
        elif j["kind"] == "exec":
            out["downloader.jobs"] += j["stream"]
            if j["sql"] is not None:
                exec_sql.add(str(j["sql"]))
    out["exec.aqe_replans"] = float(sum(aqe_by_exec.get(s, 0) for s in exec_sql))

    skew_weighted = run_total = 0.0
    for sid, evs in tasks.items():
        if stage_kind[sid] != "exec":
            continue
        out["exec.stages"] += 1
        out["exec.tasks"] += len(evs)
        stage_run = 0.0
        durations = []
        for ev in evs:
            m = ev.get("Task Metrics") or {}
            info = ev["Task Info"]
            durations.append(info["Finish Time"] - info["Launch Time"])
            stage_run += m.get("Executor Run Time", 0) / 1e3
            sr = m.get("Shuffle Read Metrics") or {}
            out["exec.shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            sw = m.get("Shuffle Write Metrics") or {}
            out["exec.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            out["exec.spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
        out["exec.executor_run_s"] += stage_run
        med = statistics.median(durations)
        if len(durations) > 1 and med > 0:
            skew_weighted += stage_run * max(durations) / med
            run_total += stage_run
    # per-stage max/median task time, weighted by the stage's run time
    out["exec.task_skew"] = skew_weighted / run_total if run_total else 1.0
    return out
