"""Per-job execution statistics from the Spark driver's status store.

The store behind the UI and REST API is filled with the UI disabled
too, so a run accounts for its own jobs: take :func:`floor` before it,
read :func:`since` after.  Each list is serialized to JSON in the JVM,
one py4j round trip per list instead of one per attribute.  A span
covers only jobs the store still retains (``spark.ui.retainedJobs`` /
``retainedStages``, 1000 by default).
"""

from __future__ import annotations

import json

# Job-group prefix that attributes a job to a named step (the ETL's
# ``EtlPipeline._step`` sets it thread-locally).
STEP_GROUP = "riab:"

# StepMetric I/O field -> StageData attribute it sums.
IO_FIELDS = {
    "input_rows": "inputRecords",
    "input_bytes": "inputBytes",
    "output_rows": "outputRecords",
    "output_bytes": "outputBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
}


def _as_json(spark, seq) -> list[dict]:
    jvm = spark._jvm
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper.registerModule(scala.__getattr__("MODULE$"))
    return json.loads(mapper.writeValueAsString(seq))


def _jobs(spark) -> list[dict]:
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    return _as_json(spark, sc.statusStore().jobsList(None))


def floor(spark) -> int:
    """The id the next job will get."""
    return max((j["jobId"] for j in _jobs(spark)), default=-1) + 1


def since(spark, floor: int) -> tuple[list[dict], list[dict]]:
    """Every job with id >= ``floor`` (newest first, the store's order)
    and the latest attempt of each of their stages (a retried stage
    would otherwise count twice)."""
    jobs = [j for j in _jobs(spark) if j["jobId"] >= floor]
    wanted = {sid for j in jobs for sid in j["stageIds"]}
    store = spark.sparkContext._jsc.sc().statusStore()
    dflt = [getattr(store, f"stageList$default${n}")() for n in (2, 3, 4, 5)]
    latest: dict[int, dict] = {}
    for st in _as_json(spark, store.stageList(None, *dflt)):
        sid = st["stageId"]
        if sid in wanted and (
            sid not in latest or st["attemptId"] > latest[sid]["attemptId"]
        ):
            latest[sid] = st
    return jobs, list(latest.values())


def step_io(jobs: list[dict], stages: list[dict]) -> dict[str, dict[str, int]]:
    """Step name -> the six I/O fields summed over its jobs' stages,
    for jobs in a ``riab:<step>`` job group; other jobs are not
    attributed.

    A stage shared by jobs of different steps (a shuffle stage a later
    job reuses) lands wholly in the step of the oldest such job rather
    than being split."""
    stage_step: dict[int, str] = {}
    for j in jobs:
        group = j.get("jobGroup") or ""
        if group.startswith(STEP_GROUP):
            for sid in j["stageIds"]:
                stage_step[sid] = group[len(STEP_GROUP):]
    out: dict[str, dict[str, int]] = {}
    for st in stages:
        step = stage_step.get(st["stageId"])
        if step is not None:
            acc = out.setdefault(step, dict.fromkeys(IO_FIELDS, 0))
            for field, key in IO_FIELDS.items():
                acc[field] += int(st.get(key) or 0)
    return out
