#!/usr/bin/env python3
"""Scale-evidence probe (round-11 verdict item 6): time a list of
declared queries once (noop sink, warmed JVM/python workers) at
``$SPARK_GRAFT_CPUS`` over ``$SPARK_GRAFT_SF_DIR`` — meant to be run
twice (e.g. cpus=32 and cpus=8) over a tools/make_scale_data.py
directory, so compute-bound operators can demonstrate a core ratio the
sf0.1 bench cannot (there, every ratio is ~1: driver-latency-bound).

OFF by default everywhere: not wired into bench.py, never invoked by
the driver, touches no contract. Prints ONE JSON line.

Usage: python tools/scale_probe.py <query> [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

# the repo root, so the package imports without setting PYTHONPATH
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from dataengineeringpipeline_spark.cache import release_caches
    from dataengineeringpipeline_spark.session import DEFAULT_CPUS, get_spark

    cpus = DEFAULT_CPUS

    spark = get_spark(app_name="dep-scale-probe", cpus=cpus, shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    import bench
    import __spark_entry__ as entrymod

    queries = entrymod.queries()
    bench._warm_up(spark, cpus)

    out: dict[str, object] = {
        "metric": "scale_probe",
        "sf_dir": sf_dir,
        "cpus": cpus,
        "timings": {},
        "errors": {},
    }
    for name in names:
        fn = queries.get(name)
        if fn is None:
            continue
        t0 = time.perf_counter()
        try:
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            out["timings"][name] = round(time.perf_counter() - t0, 3)  # type: ignore[index]
        except Exception as exc:  # noqa: BLE001 — recorded, probe continues
            out["errors"][name] = f"{type(exc).__name__}: {exc}"[:200]  # type: ignore[index]
        release_caches()
        spark.catalog.clearCache()
    print("SCALE_PROBE_JSON:" + json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
