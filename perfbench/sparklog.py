"""Spark-side layer statistics: the event log (stages, tasks, shuffle,
driver gaps; read the way ``tools/profile_query.py`` reads it) and a
streaming query's ``recentProgress`` durations."""

from __future__ import annotations

import json
import os
import statistics


def _events(evdir: str):
    for name in sorted(os.listdir(evdir)):
        path = os.path.join(evdir, name)
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                try:
                    yield json.loads(line)
                except json.JSONDecodeError:
                    continue  # a line cut off by an unclean stop


def stage_metrics(evdir: str, m0: float, m1: float, write_tag: str | None = None) -> dict:
    """Metrics of jobs submitted in [m0, m1] (epoch seconds).

    ``write_tag``: jobs whose description starts with it are sink
    passes; in each, the highest stage id is the write stage and the
    stages before it are the dedup/repartition stages."""
    lo, hi = m0 * 1000, m1 * 1000
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    task_durs: dict[int, list[float]] = {}
    shuffle_w = spill = 0
    stage_job: dict[int, int] = {}
    for e in _events(evdir):
        ev = e.get("Event")
        if ev == "SparkListenerJobStart":
            t = e["Submission Time"]
            if lo <= t <= hi:
                desc = (e.get("Properties") or {}).get("spark.job.description") or ""
                jobs[e["Job ID"]] = {"t0": t, "t1": t, "desc": desc}
                for sid in e.get("Stage IDs", []):
                    stage_job[sid] = e["Job ID"]
        elif ev == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]]["t1"] = e["Completion Time"]
        elif ev == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            if si["Stage ID"] in stage_job and si.get("Submission Time") is not None:
                stages[si["Stage ID"]] = {
                    "t0": si["Submission Time"],
                    "t1": si.get("Completion Time", si["Submission Time"]),
                    "tasks": si.get("Number of Tasks", 0),
                }
        elif ev == "SparkListenerTaskEnd" and e.get("Stage ID") in stage_job:
            ti = e.get("Task Info") or {}
            task_durs.setdefault(e["Stage ID"], []).append(
                (ti.get("Finish Time", 0) - ti.get("Launch Time", 0)) / 1000)
            tm = e.get("Task Metrics") or {}
            shuffle_w += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            spill += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)

    covered, end = 0.0, lo
    for j in sorted(jobs.values(), key=lambda j: j["t0"]):
        start = max(j["t0"], end)
        if j["t1"] > start:
            covered += j["t1"] - start
            end = j["t1"]
    skews = [max(d) / statistics.median(d) for d in task_durs.values()
             if len(d) > 1 and statistics.median(d) > 0]
    out = {
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": sum(len(d) for d in task_durs.values()),
        "spark.task_busy_s": sum(sum(d) for d in task_durs.values()),
        "spark.driver_gap_s": max(0.0, (hi - lo - covered) / 1000),
        "spark.shuffle_write_bytes": shuffle_w,
        "spark.spill_bytes": spill,
        "spark.max_task_skew": max(skews, default=0.0),
        "spark.sink_write_tasks": 0,
        "changelog.dedup.stage_s": 0.0,
    }
    if write_tag:
        by_pass: dict[str, list[int]] = {}
        for sid, jid in stage_job.items():
            if sid in stages and jobs[jid]["desc"].startswith(write_tag):
                by_pass.setdefault(jobs[jid]["desc"], []).append(sid)
        write_tasks, dedup_s = [], []
        for sids in by_pass.values():
            last = max(sids)
            write_tasks.append(stages[last]["tasks"])
            dedup_s.append(sum((stages[s]["t1"] - stages[s]["t0"]) / 1000
                               for s in sids if s != last))
        if by_pass:
            out["spark.sink_write_tasks"] = statistics.median(write_tasks)
            out["changelog.dedup.stage_s"] = statistics.median(dedup_s)
    return out


def progress_metrics(progress: list, prefix: str = "stream") -> dict:
    """p50 of each ``durationMs`` part over the batches that read rows."""
    batches = [p for p in progress if (p.get("numInputRows") or 0) > 0]
    out = {f"{prefix}.triggers": len(batches)}
    for key, name in (("triggerExecution", "trigger_ms"),
                      ("latestOffset", "latest_offset_ms"),
                      ("queryPlanning", "query_planning_ms"),
                      ("addBatch", "add_batch_ms"),
                      ("walCommit", "wal_commit_ms"),
                      ("commitOffsets", "commit_offsets_ms")):
        vals = [p["durationMs"].get(key, 0) for p in batches]
        out[f"{prefix}.{name}"] = statistics.median(vals) if vals else 0.0
    return out
