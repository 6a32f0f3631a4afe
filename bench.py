#!/usr/bin/env python3
"""Benchmark harness: runs every declared query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line of full detail, which it also writes to BENCH_DETAIL.json,
then a compact summary as the final line ($SPARK_GRAFT_CPUS defaults to
every core):

    {"metric": "all_queries_wall", "value": N, "unit": "sec", ..., "queries": {...}}

Each query is forced end-to-end with the ``noop`` sink (full execution,
no collect-to-driver cost, no disk write skew). An untimed warm-up (one
JVM job, one Python-worker job) runs before timing and again at the
start of every sweep, so neither classloading nor a Python worker spawn
is billed to the first query that needs it.

Per-query time is the MIN across up to $SPARK_GRAFT_REPS full sweeps
(default 3). Ambient interference (JIT, page cache, GC pauses, CPU
steal) only ever adds time, so the smallest sample is the closest to
the code's steady-state cost. Medians and every raw per-sweep sample
are kept in the detail record. The first sweep always completes;
further sweeps run only while the wall-clock budget
$SPARK_GRAFT_BUDGET_S (default 1000) remains. "value" is the wall clock
of all sweeps, "sweeps" how many ran, and "cpu_steal_pct" the host's
CPU-steal share over them.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time


def _warm_up(spark, cpus: int) -> None:
    """Untimed JVM and Python-worker warm-up. Executors reap idle Python
    workers, and mapInPandas queries pay a per-core worker spawn plus a
    numpy import on first use (measured: ~6 s billed to the first Arrow
    query of a sweep without this)."""

    # nested, so it is pickled by value: a Python worker started outside
    # the repo root (tools/ run from elsewhere) cannot import ``bench``
    def _touch_numpy(batches):
        import numpy  # noqa: F401  (import cost is the warm-up target)

        yield from batches

    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.range(cpus).repartition(cpus).mapInPandas(
        _touch_numpy, "id long"
    ).write.mode("overwrite").format("noop").save()


def _sf_from_dir(sf_dir: str) -> float:
    tail = os.path.basename(sf_dir.rstrip("/"))
    if tail.startswith("sf"):
        try:
            return float(tail[2:])
        except ValueError:
            pass
    return -1.0


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from dataengineeringpipeline_spark.cache import release_caches
    from dataengineeringpipeline_spark.session import DEFAULT_CPUS, get_spark

    cpus = DEFAULT_CPUS

    spark = get_spark(app_name="dep-spark-bench", cpus=cpus, shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    queries = entrymod.queries()
    _warm_up(spark, cpus)

    reps = max(1, int(os.environ.get("SPARK_GRAFT_REPS", "3")))
    budget_s = float(os.environ.get("SPARK_GRAFT_BUDGET_S", "1000"))
    global _STEAL_T0
    _STEAL_T0 = _read_proc_cpu()
    samples: dict[str, list[float]] = {name: [] for name in queries}
    t_all = time.perf_counter()
    sweeps = 0
    for _sweep in range(reps):
        _warm_up(spark, cpus)
        for name, fn in sorted(queries.items()):
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            df.write.mode("overwrite").format("noop").save()
            samples[name].append(time.perf_counter() - t0)
            # Operators persist shared subtrees scoped to their own run;
            # dropping them between queries keeps each timing independent
            # and executor memory flat across the sweep. release_caches()
            # unpersists the tracked operator persists; clearCache sweeps
            # anything else.
            release_caches()
            spark.catalog.clearCache()
        sweeps += 1
        if time.perf_counter() - t_all > budget_s:
            break  # the first sweep always completes; extras are budget-gated
    timings = {name: round(min(s), 3) for name, s in samples.items()}
    total = round(time.perf_counter() - t_all, 3)

    # The recorder of this bench keeps only the last ~2000 characters of
    # output and parses the final line, so the full detail is printed
    # first and written to BENCH_DETAIL.json, and the final line is the
    # compact summary from _head_line.
    detail = {
        "metric": "all_queries_wall",
        "value": total,
        "unit": "sec",
        "estimator": "min_of_sweeps",
        "queries": timings,
        "queries_median": {n: round(statistics.median(s), 3) for n, s in samples.items()},
        "queries_samples": {n: [round(x, 3) for x in s] for n, s in samples.items()},
        "cpu_steal_pct": _steal_pct(),
        "sf": _sf_from_dir(sf_dir),
        "cpus": cpus,
        "sweeps": sweeps,
    }
    print(json.dumps(detail))
    detail_file = "BENCH_DETAIL.json"
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    try:
        with open(os.path.join(repo_dir, detail_file), "w") as f:
            json.dump(detail, f, indent=1)
            f.write("\n")
    except OSError:
        pass  # read-only checkout: the printed line above still has everything

    print(_head_line(detail, detail_file))
    return 0


def _head_line(detail: dict, detail_file: str) -> str:
    """The bench's final line: a compact summary of ``detail`` that stays
    under the ~2000-character window its recorder parses — headline
    total plus as many per-query minima as fit, slowest first, with the
    count of elided queries."""
    timings = detail["queries"]
    head = {
        "metric": "all_queries_wall",
        "value": detail["value"],
        "unit": "sec",
        "estimator": "min_of_sweeps",
        "sf": detail["sf"],
        "sweeps": detail["sweeps"],
        "cpu_steal_pct": detail["cpu_steal_pct"],
        "queries_total": len(timings),
        "queries_elided": 0,
        "detail": detail_file,
        "queries": {},
    }
    budget = 1900  # line budget well under the 2000-char capture window
    by_slowest = sorted(timings.items(), key=lambda kv: -kv[1])
    for i, (name, sec) in enumerate(by_slowest):
        head["queries"][name] = sec
        head["queries_elided"] = len(timings) - i - 1
        if len(json.dumps(head, separators=(",", ":"))) > budget - 40:
            del head["queries"][name]
            head["queries_elided"] = len(timings) - i
            break
    return json.dumps(head, separators=(",", ":"))


_STEAL_T0: tuple[int, int] | None = None


def _read_proc_cpu() -> tuple[int, int] | None:
    """(steal_ticks, total_ticks) from /proc/stat, None off-Linux."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = [int(x) for x in parts[1:]]
        return (vals[7] if len(vals) > 7 else 0, sum(vals))
    except OSError:
        return None


def _steal_pct() -> float | None:
    if _STEAL_T0 is None:
        return None
    now = _read_proc_cpu()
    if now is None:
        return None
    dsteal, dtotal = now[0] - _STEAL_T0[0], now[1] - _STEAL_T0[1]
    return round(100.0 * dsteal / dtotal, 2) if dtotal > 0 else None


if __name__ == "__main__":
    sys.exit(main())
