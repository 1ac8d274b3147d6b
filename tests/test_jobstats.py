"""core/jobstats.py: the status-store span reader and the step rollup."""

from __future__ import annotations

from rabbit_in_a_blender_spark.core import jobstats


def _known_action(spark) -> None:
    # Under AQE each shuffle stage runs as its own job: the range scan
    # (2 tasks), the repartition(3) partial count (3 tasks), the final
    # count (1 task); each later job also lists its earlier stages
    # again, as skipped stages under new ids.
    spark.range(1000, numPartitions=2).repartition(3).count()


def test_since_returns_exactly_the_jobs_and_stages_of_a_known_action(spark):
    floor = jobstats.floor(spark)
    _known_action(spark)
    jobs, stages = jobstats.since(spark, floor)
    assert sorted(j["jobId"] for j in jobs) == [floor, floor + 1, floor + 2]
    assert sorted(s["stageId"] for s in stages) == sorted(
        sid for j in jobs for sid in j["stageIds"]
    )
    ran = [s for s in stages if s["status"] == "COMPLETE"]
    assert sorted(s["numCompleteTasks"] for s in ran) == [1, 2, 3]
    assert len(stages) - len(ran) == 3
    assert jobstats.floor(spark) == floor + 3
    assert jobstats.since(spark, floor + 3) == ([], [])


def test_step_io_rolls_up_riab_groups_only(spark):
    sc = spark.sparkContext
    floor = jobstats.floor(spark)
    for group in ("riab:x", None, "other:y"):
        if group:
            sc.setJobGroup(group, group, False)
        try:
            _known_action(spark)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
    jobs, stages = jobstats.since(spark, floor)
    assert len(jobs) == 9
    io = jobstats.step_io(jobs, stages)
    assert list(io) == ["x"]
    x = io["x"]
    assert set(x) == set(jobstats.IO_FIELDS)
    # every shuffle byte the step wrote, it read back
    assert x["shuffle_write_bytes"] == x["shuffle_read_bytes"] > 0
    assert x["input_bytes"] == x["output_rows"] == x["output_bytes"] == 0
