"""Reader for Spark's JSON event log (uncompressed, not rolling).

The traced session writes its log with ``spark.eventLog.compress=false``
and ``spark.eventLog.rolling.enabled=false``, so the file is plain JSON
lines the standard library can read. Jobs, stages and tasks become
spans (task → stage → job → the harness span that was open when the job
was submitted), and task metrics plus the Python-runner SQL metrics are
summed over a time window.
"""

from __future__ import annotations

import json
import os
import statistics
from typing import Dict, List

from .spans import Tracer

# Spark's PythonSQLMetrics names (data sizes in bytes, times in ms)
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
PY_RUN = "time to run Python workers"
PY_START = "time to start Python workers"

EVENTLOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


def find_log(log_dir: str, app_id: str) -> str:
    for name in (app_id, app_id + ".inprogress"):
        path = os.path.join(log_dir, name)
        if os.path.exists(path):
            return path
    raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")


class EventLog:
    def __init__(self, path: str) -> None:
        self.jobs: Dict[int, Dict] = {}
        self.stages: Dict[tuple, Dict] = {}
        self.tasks: List[Dict] = []
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                self._event(json.loads(line))

    def _event(self, e: Dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            self.jobs[e["Job ID"]] = {
                "id": e["Job ID"], "start": e["Submission Time"] / 1e3,
                "end": None, "stage_ids": e.get("Stage IDs", []),
                "sql": (e.get("Properties") or {}).get(
                    "spark.sql.execution.id")}
        elif kind == "SparkListenerJobEnd":
            job = self.jobs.get(e["Job ID"])
            if job is not None:
                job["end"] = e["Completion Time"] / 1e3
                job["result"] = e["Job Result"]["Result"]
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if "Submission Time" in info:
                self.stages[(info["Stage ID"], info["Stage Attempt ID"])] = {
                    "id": info["Stage ID"],
                    "attempt": info["Stage Attempt ID"],
                    "name": info.get("Stage Name", ""),
                    "start": info["Submission Time"] / 1e3,
                    "end": info.get("Completion Time",
                                    info["Submission Time"]) / 1e3,
                    "tasks": info.get("Number of Tasks", 0)}
        elif kind == "SparkListenerTaskEnd":
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            acc = {}
            for a in info.get("Accumulables", []):
                if a.get("Name") in (PY_SENT, PY_RECV, PY_RUN, PY_START):
                    acc[a["Name"]] = acc.get(a["Name"], 0) + int(a["Update"])
            sr = m.get("Shuffle Read Metrics", {})
            self.tasks.append({
                "stage": (e["Stage ID"], e["Stage Attempt ID"]),
                "start": info["Launch Time"] / 1e3,
                "end": info["Finish Time"] / 1e3,
                "ok": e["Task End Reason"]["Reason"] == "Success",
                "run_ms": m.get("Executor Run Time", 0),
                "cpu_ns": m.get("Executor CPU Time", 0),
                "gc_ms": m.get("JVM GC Time", 0),
                "spill": m.get("Disk Bytes Spilled", 0),
                "shuffle_write": m.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0),
                "shuffle_read": sr.get("Local Bytes Read", 0)
                + sr.get("Remote Bytes Read", 0),
                **acc})

    def job_of_stage(self) -> Dict[int, int]:
        out: Dict[int, int] = {}
        for job in sorted(self.jobs.values(), key=lambda j: j["id"]):
            for sid in job["stage_ids"]:
                out.setdefault(sid, job["id"])
        return out

    def attach(self, tracer: Tracer, candidates: List[int]) -> None:
        """Add job/stage/task spans; a job's parent is the innermost
        ``candidates`` span open at its submission."""
        job_span: Dict[int, int] = {}
        for job in sorted(self.jobs.values(), key=lambda j: j["id"]):
            parent = tracer.innermost(job["start"], candidates)
            if parent is None:
                continue
            job_span[job["id"]] = tracer.add(
                f"spark.job.{job['id']}", job["start"],
                job["end"] or job["start"], parent,
                sql_execution=job["sql"], result=job.get("result"))
        stage_job = self.job_of_stage()
        stage_span: Dict[tuple, int] = {}
        for key, st in sorted(self.stages.items()):
            parent = job_span.get(stage_job.get(st["id"], -1))
            if parent is None:
                continue
            stage_span[key] = tracer.add(
                f"spark.stage.{st['id']}.{st['attempt']}", st["start"],
                st["end"], parent, stage_name=st["name"],
                tasks=st["tasks"])
        for t in self.tasks:
            parent = stage_span.get(t["stage"])
            if parent is not None:
                tracer.add("spark.task", t["start"], t["end"], parent,
                           ok=t["ok"], run_ms=t["run_ms"])

    def window(self, t0: float, t1: float) -> "Window":
        jobs = [j for j in self.jobs.values() if t0 <= j["start"] <= t1]
        stage_ids = {sid for j in jobs for sid in j["stage_ids"]}
        tasks = [t for t in self.tasks if t["stage"][0] in stage_ids]
        return Window(jobs, tasks)


class Window:
    """Sums over the jobs submitted inside one time window."""

    def __init__(self, jobs: List[Dict], tasks: List[Dict]) -> None:
        self.jobs, self.tasks = jobs, tasks

    def total(self, key: str) -> float:
        return float(sum(t.get(key, 0) for t in self.tasks))

    def task_skew(self) -> float:
        """max/median task time of the stage with the most task time."""
        by_stage: Dict[tuple, List[float]] = {}
        for t in self.tasks:
            by_stage.setdefault(t["stage"], []).append(t["end"] - t["start"])
        if not by_stage:
            return 0.0
        durs = max(by_stage.values(), key=sum)
        med = statistics.median(durs)
        return max(durs) / med if med > 0 else 0.0

    def busy_s(self) -> float:
        return sum(t["end"] - t["start"] for t in self.tasks)


def stop_and_read(spark, log_dir: str) -> EventLog:
    """Stop the session (which closes its log) and parse the log."""
    app_id = spark.sparkContext.applicationId
    spark.stop()
    return EventLog(find_log(log_dir, app_id))
