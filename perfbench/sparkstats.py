"""Exact Spark counters for one pass, read from the Spark driver's status store.

Every job with an id at or above the pass's floor belongs to the pass;
the store is serialized to JSON in the JVM (one py4j round trip per
list instead of one per attribute).  A pass must launch fewer jobs and
stages than the store retains (``spark.ui.retainedJobs`` and
``retainedStages``, 1000 by default); a benchmark pass launches a few
hundred.
"""

from __future__ import annotations

import json

from spans import union_length


class StatusStore:
    def __init__(self, spark):
        jvm = spark._jvm
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._om = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._om.registerModule(scala_module.__getattr__("MODULE$"))

    def _json(self, seq) -> list[dict]:
        return json.loads(self._om.writeValueAsString(seq))

    def jobs(self) -> list[dict]:
        self._sc.listenerBus().waitUntilEmpty()
        return self._json(self._store.jobsList(None))

    def stages(self) -> list[dict]:
        s = self._store
        dflt = [getattr(s, f"stageList$default${n}")() for n in (2, 3, 4, 5)]
        return self._json(s.stageList(None, *dflt))

    def floor(self) -> int:
        """The id the next job will get."""
        return max((j["jobId"] for j in self.jobs()), default=-1) + 1

    def since(self, floor: int, until: int) -> tuple[list[dict], list[dict]]:
        """Jobs with ``floor <= id < until`` and the latest attempt of each of their stages."""
        jobs = [j for j in self.jobs() if floor <= j["jobId"] < until]
        wanted = {sid for j in jobs for sid in j["stageIds"]}
        latest: dict[int, dict] = {}
        for st in self.stages():
            sid = st["stageId"]
            if sid in wanted and (sid not in latest or st["attemptId"] > latest[sid]["attemptId"]):
                latest[sid] = st
        return jobs, list(latest.values())


def busy_seconds(jobs: list[dict]) -> float:
    """Length of the union of the jobs' [submission, completion] intervals."""
    return union_length(
        (j["submissionTime"] / 1e3, j["completionTime"] / 1e3)
        for j in jobs
        if j.get("submissionTime") is not None and j.get("completionTime") is not None
    )


def counters(jobs: list[dict], stages: list[dict]) -> dict[str, float]:
    """The ``spark.*`` per-layer metrics of one pass."""
    run = [s for s in stages if s["status"] != "SKIPPED"]

    def ssum(key):
        return sum(s.get(key) or 0 for s in run)

    return {
        "spark.jobs": len(jobs),
        "spark.tasks": ssum("numCompleteTasks") + ssum("numFailedTasks"),
        "spark.failed_tasks": ssum("numFailedTasks"),
        "spark.job_busy_s": busy_seconds(jobs),
        "spark.executor_run_s": ssum("executorRunTime") / 1e3,
        "spark.executor_cpu_s": ssum("executorCpuTime") / 1e9,
        "spark.gc_s": ssum("jvmGcTime") / 1e3,
        "spark.input_rows": ssum("inputRecords"),
        "spark.input_bytes": ssum("inputBytes"),
        "spark.shuffle_read_bytes": ssum("shuffleReadBytes"),
        "spark.shuffle_write_bytes": ssum("shuffleWriteBytes"),
        "spark.spill_bytes": ssum("memoryBytesSpilled") + ssum("diskBytesSpilled"),
        "spark.output_bytes": ssum("outputBytes"),
        "spark.output_rows": ssum("outputRecords"),
    }
