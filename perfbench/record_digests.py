#!/usr/bin/env python3
"""Record ``digests.json``: the expected output of every benchmark query.

    python3 perfbench/record_digests.py

For each query of every workload, on the tables under ``data/sf0.1``: collect the
Spark output and, where ``__spark_entry__.oracle_sql()`` has a twin,
require ``tests/oracle_check.canonicalize`` of it to equal that of the
DuckDB oracle; then take :func:`check.digest` in two separate invocations
and require them equal. Exits 1 without writing if any query fails.
Rerun after changing the tables or a workload's query list.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

import check
import run
from workloads import WORKLOADS


def run_oracle(sql: str, data: str) -> tuple[list[str], list[tuple]]:
    """``tests/oracle_check.run_oracle`` over the tables present in
    ``data`` (it wants every test table; the benchmark keeps only those its
    queries read)."""
    import duckdb

    con = duckdb.connect()
    try:
        for name in sorted(os.listdir(data)):
            con.execute(f"CREATE VIEW {name.removesuffix('.parquet')} AS SELECT * FROM '{os.path.join(data, name)}'")
        cur = con.execute(sql)
        return [d[0] for d in cur.description], cur.fetchall()
    finally:
        con.close()


def main() -> int:
    sys.path.insert(0, run.ROOT)
    import __spark_entry__ as entry
    from tests.oracle_check import canonicalize

    from dataengineeringpipeline_spark.cache import release_caches

    os.makedirs(run.WORK, exist_ok=True)
    data = check.DATA
    run_dir = tempfile.mkdtemp(prefix="record-", dir=run.WORK)
    home, spark = os.getcwd(), None
    out, problems = {}, []
    try:
        run.prepare(run_dir)
        spark, _ = run.start_session(run.cpus())
        queries, oracles = entry.queries(), entry.oracle_sql()
        for name in sorted({q for w in WORKLOADS.values() for q in w["queries"]}):
            try:
                df = queries[name](spark, data)
                rows = [tuple(r) for r in df.collect()]
                cols = df.columns
                digests = [check.digest(df)]
                release_caches()
                digests.append(check.digest(queries[name](spark, data)))
                release_caches()
            except Exception as exc:  # noqa: BLE001 — report every query, then fail
                problems.append(f"{name}: {type(exc).__name__}: {exc}")
                continue
            sql = oracles.get(name)
            if sql is not None:
                ocols, orows = run_oracle(sql, data)
                if sorted(cols) != sorted(ocols) or canonicalize(cols, rows) != canonicalize(ocols, orows):
                    problems.append(f"{name}: Spark output differs from the DuckDB oracle")
            elif not rows:
                problems.append(f"{name}: no oracle and no rows")
            if digests[0] != digests[1]:
                problems.append(f"{name}: digest not repeatable {digests}")
            out[name] = {"rows": len(rows), "oracle": sql is not None, "digest": digests[0]}
            print(name, out[name], flush=True)
    finally:
        run.stop_all(spark)
        os.chdir(home)
        shutil.rmtree(run_dir, ignore_errors=True)
    for p in problems:
        print("FAILED", p, file=sys.stderr)
    if problems:
        return 1
    with open(check.DIGESTS, "w") as f:
        json.dump({"data": check.data_manifest(data), "queries": out}, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
