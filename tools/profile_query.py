"""Per-job profile of catalog queries: a thin CLI over ``core.jobstats``.

Usage: python tools/profile_query.py q1_pricing_summary ext_semantic_dedup ...

Each query gets an untimed warmup pass, then a timed pass through the
noop sink (as in bench.py); every job the timed pass launched is listed
(id, wall s, tasks, input and shuffle read/write bytes, description) so
the wall time decomposes into its actions.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rabbit_in_a_blender_spark.core import jobstats
from rabbit_in_a_blender_spark.core.caching import unpersist_intermediates
from rabbit_in_a_blender_spark.core.session import get_spark


def _job_rows(jobs: list[dict], stages: list[dict]):
    """(id, wall s, tasks, input B, shuffle read B, shuffle write B,
    description) per job, oldest first; wall is -1 while a job runs."""
    by_id = {s["stageId"]: s for s in stages}
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        st = [by_id[i] for i in j["stageIds"] if i in by_id]
        sub, comp = j.get("submissionTime"), j.get("completionTime")
        yield (
            j["jobId"],
            (comp - sub) / 1e3 if sub is not None and comp is not None else -1.0,
            *(sum(s[k] for s in st) for k in (
                "numCompleteTasks", "inputBytes", "shuffleReadBytes", "shuffleWriteBytes"
            )),
            str(j.get("description") or j["name"])[:110],
        )


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("profile")
    spark.sparkContext.setLogLevel("ERROR")
    from rabbit_in_a_blender_spark.plans.catalog import all_queries

    queries = all_queries()
    spark.range(1000).count()

    for name in names:
        fn = queries[name]
        df = fn(spark, sf_dir)  # warmup
        df.write.format("noop").mode("overwrite").save()
        unpersist_intermediates(df)
        floor = jobstats.floor(spark)
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        t_build = time.perf_counter() - t0
        df.write.format("noop").mode("overwrite").save()
        t_total = time.perf_counter() - t0
        unpersist_intermediates(df)
        jobs = list(_job_rows(*jobstats.since(spark, floor)))
        jsum = sum(d for _, d, *_ in jobs if d > 0)
        print(f"\n=== {name}: total {t_total:.3f}s (plan-build {t_build:.3f}s, "
              f"{len(jobs)} jobs, job-sum {jsum:.3f}s, "
              f"gap {t_total - jsum:.3f}s) ===")
        for jid, dur, ntasks, inp, srd, swr, desc in jobs:
            print(f"  job {jid:>5} {dur:8.3f}s tasks={ntasks:<5} "
                  f"in={inp/1e6:8.2f}MB srd={srd/1e6:7.2f}MB "
                  f"swr={swr/1e6:7.2f}MB  {desc}")


if __name__ == "__main__":
    main()
