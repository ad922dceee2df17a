"""Spark counters per job group, read from the session's UI REST API.

Every job the benchmark launches runs under a job group named
``<pass>|<part>`` (see ``job_group``), so the counters of one pass, or
of one part of it (a sink write, a query build), are the jobs whose
group starts with that prefix. The REST API is served by the Spark
driver on localhost; the listener bus is drained first so the status
store holds every finished task.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import urllib.request

MB = 1024 * 1024


@contextlib.contextmanager
def job_group(sc, group: str):
    """Run the body with ``group`` as the thread's Spark job group."""
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)


class SparkStats:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.base = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as resp:
            return json.load(resp)

    def _drain(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def jobs(self, prefix: str) -> list[dict]:
        self._drain()
        return [
            j for j in self._get("/jobs")
            if (j.get("jobGroup") or "").startswith(prefix)
        ]

    def counters(self, prefix: str) -> dict[str, float]:
        """Jobs, stages, tasks and task metrics of the jobs under ``prefix``."""
        jobs = self.jobs(prefix)
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [s for s in self._get("/stages") if s["stageId"] in stage_ids
                  and s["status"] == "COMPLETE"]
        return {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(s["numCompleteTasks"] for s in stages),
            "executor_run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
            "executor_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "gc_s": sum(s.get("jvmGcTime", 0) for s in stages) / 1e3,
            "shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) / MB,
            "spill_mb": sum(s["diskBytesSpilled"] for s in stages) / MB,
        }

    def task_durations_ms(self, prefix: str) -> list[float]:
        """Durations of every successful task of the jobs under ``prefix``."""
        stage_ids = {s for j in self.jobs(prefix) for s in j["stageIds"]}
        out: list[float] = []
        for s in self._get("/stages"):
            if s["status"] != "COMPLETE" or s["stageId"] not in stage_ids:
                continue
            tasks = self._get(
                f"/stages/{s['stageId']}/{s['attemptId']}/taskList?length=100000"
            )
            out.extend(t["duration"] for t in tasks if t.get("status") == "SUCCESS")
        return out

    def cached_mb(self) -> float:
        """Storage still held by persisted RDDs/DataFrames."""
        self._drain()
        rdds = self._get("/storage/rdd")
        return sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0) for r in rdds) / MB


def task_skew(durations_ms: list[float]) -> float:
    """Longest task over the median task (1.0 for a single task)."""
    if not durations_ms:
        return 0.0
    med = statistics.median(durations_ms)
    return max(durations_ms) / med if med > 0 else 1.0
