#!/usr/bin/env python3
"""Dump .explain("formatted") for declared queries to plans/<outdir>/.

Usage: python tools/dump_plans.py <outdir> [query ...]
With no query names, dumps every declared query. Plans are captured
lazily (no execution), so this is cheap; streaming/lifecycle queries
whose *construction* executes work (bootstraps, drains) still run that
work once to produce the final read-back plan.
"""

from __future__ import annotations

import os
import sys

# the repo root, so the package imports without setting PYTHONPATH
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    outdir = sys.argv[1]
    names = sys.argv[2:]
    os.makedirs(outdir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

    from dataengineeringpipeline_spark.cache import release_caches
    from dataengineeringpipeline_spark.session import DEFAULT_CPUS, get_spark

    cpus = DEFAULT_CPUS

    spark = get_spark(app_name="dep-spark-plans", cpus=cpus, shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as entrymod

    queries = entrymod.queries()
    todo = names or sorted(queries)
    for name in todo:
        fn = queries[name]
        try:
            df = fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # noqa: BLE001
            plan = f"ERROR: {type(exc).__name__}: {exc}"
        with open(os.path.join(outdir, f"{name}.txt"), "w") as f:
            f.write(plan)
        release_caches()
        spark.catalog.clearCache()
        print(name, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
