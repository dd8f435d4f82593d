"""Spark event-log reader for the traced run: jobs, stages and tasks, each
attributed to the benchmark span whose job group started it, and the
``spark.*`` / ``boundary.*`` / ``driver.*`` layer metrics over them."""

from __future__ import annotations

import json
import os
import re
import statistics

# RDD scope / name of a stage that runs Python: the physical operators that
# hand rows to a Python worker (MapInPandas, ArrowEvalPython,
# BatchEvalPython, FlatMapGroupsInPandas, ...) and PythonRDD.
_PYTHON_SCOPE = re.compile(r"Python|Pandas|InArrow")
TINY_TASK_BYTES = 64 * 1024


def read(event_log_dir: str) -> dict:
    """Parse the one application log under ``event_log_dir``."""
    files = [f for f in os.listdir(event_log_dir) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log, found {files}")
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    tasks: list[dict] = []
    with open(os.path.join(event_log_dir, files[0])) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {"start": ev["Submission Time"] / 1e3,
                                      "end": None,
                                      "group": props.get("spark.jobGroup.id"),
                                      "stages": ev.get("Stage IDs", [])}
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                scopes = []
                for rdd in info.get("RDD Info", []):
                    scopes.append(rdd.get("Name", ""))
                    with_scope = rdd.get("Scope")
                    if with_scope:
                        scopes.append(json.loads(with_scope).get("name", ""))
                stages[info["Stage ID"]] = {
                    "python": any(_PYTHON_SCOPE.search(s) for s in scopes)}
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                inp = m.get("Input Metrics") or {}
                info = ev["Task Info"]
                tasks.append({
                    "stage": ev["Stage ID"],
                    "wall": (info["Finish Time"] - info["Launch Time"]) / 1e3,
                    "cpu": m.get("Executor CPU Time", 0) / 1e9,
                    "gc": m.get("JVM GC Time", 0) / 1e3,
                    "in_bytes": (inp.get("Bytes Read", 0)
                                 + sr.get("Remote Bytes Read", 0)
                                 + sr.get("Local Bytes Read", 0)),
                    "shuffle_read": (sr.get("Remote Bytes Read", 0)
                                     + sr.get("Local Bytes Read", 0)),
                    "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                    "spill": (m.get("Memory Bytes Spilled", 0)
                              + m.get("Disk Bytes Spilled", 0))})
    stage_group = {}
    for job in jobs.values():
        for sid in job["stages"]:
            stage_group[sid] = job["group"]
    for t in tasks:
        t["group"] = stage_group.get(t["stage"])
        t["python"] = stages.get(t["stage"], {}).get("python", False)
    return {"jobs": list(jobs.values()), "tasks": tasks}


def _union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def op_metrics(log: dict, spans: list[dict], ops: list[dict]) -> dict[str, float]:
    """Layer metrics per measured operation: ``ops`` are the operations'
    spans, ``spans`` those and every span under them (their jobs count
    towards the operation)."""
    ids = {f"span-{s['id']}" for s in spans}
    jobs = [j for j in log["jobs"] if j["group"] in ids and j["end"] is not None]
    tasks = [t for t in log["tasks"] if t["group"] in ids]
    py = [t for t in tasks if t["python"]]
    py_stages = {t["stage"] for t in py}
    n_ops = max(len(ops), 1)

    wall = sum(s["end"] - s["start"] for s in ops)
    job_union = _union_seconds([(j["start"], j["end"]) for j in jobs])
    # task-time share of Python stages splits the job time between the
    # Spark (JVM) layer and the Python boundary
    task_s = sum(t["wall"] for t in tasks)
    py_s = sum(t["wall"] for t in py)
    py_share = py_s / task_s if task_s else 0.0

    by_stage: dict[int, list[float]] = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t["wall"])
    skew = 1.0
    if by_stage:
        heavy = max(by_stage.values(), key=sum)
        med = statistics.median(heavy)
        skew = max(heavy) / med if med > 0 else 1.0
    mb = 1024.0 * 1024.0
    return {
        "boundary.python_stages": float(len(py_stages)) / n_ops,
        "boundary.python_tasks": float(len(py)) / n_ops,
        "boundary.python_task_s": py_s / n_ops,
        "boundary.python_task_p50_ms": (statistics.median(t["wall"] for t in py) * 1e3
                                        if py else 0.0),
        "boundary.tiny_task_share": (sum(1 for t in py if t["in_bytes"] < TINY_TASK_BYTES)
                                     / len(py) if py else 0.0),
        "spark.tasks": float(len(tasks)) / n_ops,
        "spark.task_s": task_s / n_ops,
        "spark.cpu_s": sum(t["cpu"] for t in tasks) / n_ops,
        "spark.gc_s": sum(t["gc"] for t in tasks) / n_ops,
        "spark.shuffle_read_mb": sum(t["shuffle_read"] for t in tasks) / mb / n_ops,
        "spark.shuffle_write_mb": sum(t["shuffle_write"] for t in tasks) / mb / n_ops,
        "spark.spill_mb": sum(t["spill"] for t in tasks) / mb / n_ops,
        "spark.stage_skew": skew,
        "driver.jobs_per_request": float(len(jobs)) / n_ops,
        "driver.only_s": max(wall - job_union, 0.0) / n_ops,
        "self.spark_s": job_union * (1.0 - py_share) / n_ops,
        "self.boundary_s": job_union * py_share / n_ops,
    }
