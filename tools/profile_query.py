#!/usr/bin/env python3
"""Profile one declared query: run it end-to-end (noop sink unless the
query executes internally), then dump every Spark job this run launched
with wall time, description, and stage-level shuffle/task metrics from
the local UI REST API.

Usage: python tools/profile_query.py <query> [reps]
Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default: every core).
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

# the repo root, so the package imports without setting PYTHONPATH
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _rest(app_ui: str, path: str):
    with urllib.request.urlopen(f"{app_ui}/api/v1/{path}") as r:
        return json.load(r)


def main() -> int:
    name = sys.argv[1]
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from dataengineeringpipeline_spark.cache import release_caches
    from dataengineeringpipeline_spark.session import DEFAULT_CPUS, get_spark

    cpus = DEFAULT_CPUS

    spark = get_spark(app_name=f"profile-{name}", cpus=cpus, shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    import __spark_entry__ as entrymod

    fn = entrymod.queries()[name]
    # warm-up (JVM + python workers), matching bench.py
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    def _touch_numpy(batches):
        import numpy  # noqa: F401

        yield from batches

    spark.range(cpus).repartition(cpus).mapInPandas(
        _touch_numpy, "id long"
    ).write.mode("overwrite").format("noop").save()

    for rep in range(reps):
        jobs_before = {j["jobId"] for j in _rest(ui, f"applications/{app_id}/jobs")}
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        wall = time.perf_counter() - t0
        jobs = [
            j
            for j in _rest(ui, f"applications/{app_id}/jobs")
            if j["jobId"] not in jobs_before
        ]
        jobs.sort(key=lambda j: j["jobId"])
        print(f"\n=== rep {rep}: {name} wall={wall:.2f}s jobs={len(jobs)} ===")
        tot = 0.0
        for j in jobs:
            t_sub = time.strptime(j["submissionTime"][:19], "%Y-%m-%dT%H:%M:%S")
            t_cmp = time.strptime(j["completionTime"][:19], "%Y-%m-%dT%H:%M:%S")
            frac = float(j["completionTime"][20:23] or 0) / 1000 - float(
                j["submissionTime"][20:23] or 0
            ) / 1000
            dur = time.mktime(t_cmp) - time.mktime(t_sub) + frac
            tot += dur
            desc = (j.get("description") or j["name"])[:100]
            print(
                f"  job {j['jobId']:>4} {dur:6.2f}s tasks={j['numTasks']:>4} "
                f"stages={len(j['stageIds'])} {desc}"
            )
        print(f"  sum of job durations: {tot:.2f}s (gaps = driver-side time)")
        release_caches()
        spark.catalog.clearCache()
    return 0


if __name__ == "__main__":
    sys.exit(main())
