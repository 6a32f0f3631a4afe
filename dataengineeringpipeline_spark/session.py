"""SparkSession factory tuned for the engine.

Local test profile: ``local[$SPARK_GRAFT_CPUS]`` single-JVM.  The same
configuration keys are the ones that matter on a real multi-executor
cluster: AQE (runtime re-planning, partition coalescing, skew-join
splitting), shuffle partition sizing, Arrow for any Pandas-UDF exchange,
and a UTC session timezone so date/timestamp semantics are deterministic
across engines and machines.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Local core count: ``$SPARK_GRAFT_CPUS``, else every core of the host.
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)

# Configuration applied when *we* create the session.  Queries must still
# run correctly on an externally provided session (the driver passes its
# own), so nothing in the engine may *depend* on these being set.
ENGINE_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.compression.codec": "snappy",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Whole-stage-codegen class cache (static conf, default 100 entries).
    # A repeated workload of ~85 distinct queries compiles several
    # codegen units each — far past 100, so under the default every
    # repeat recompiles every stage (measured: 2-3x wall on repeat runs
    # of the ANN family). Sized so a full workload's classes stay
    # resident, exactly as a production cluster running a recurring
    # query set would tune it.
    "spark.sql.codegen.cache.maxEntries": "5000",
    # Parquet timestamps without UTC-adjustment flag read as TIMESTAMP_NTZ
    # (Spark 4 default) — keeps date extraction timezone-free.
}


def _ensure_jvm_code_cache(size: str = "2g") -> None:
    """Raise the JVM's JIT code cache before the gateway launches.

    The default 240 MB ReservedCodeCacheSize cannot hold the compiled
    whole-stage-codegen methods of a ~90-query workload: once it fills,
    the JVM flushes hot compiled methods and repeated queries run
    interpreted — measured 3-4× slower on the dedup family by the third
    bench sweep, back to normal at 1g. Re-sized 1g → 2g when the suite
    grew to 121 queries: the md5-expression dedup family measured ~2×
    its isolated steady state inside full-suite sweeps at 1g (same
    flush-and-reinterpret signature, now later in the sweep). Must be in
    SPARK_SUBMIT_OPTS before the first SparkSession (JVM flags cannot
    change later); a no-op if the caller already set one or the JVM is
    up."""
    opts = os.environ.get("SPARK_SUBMIT_OPTS", "")
    if "ReservedCodeCacheSize" not in opts:
        os.environ["SPARK_SUBMIT_OPTS"] = f"{opts} -XX:ReservedCodeCacheSize={size}".strip()


def get_spark(
    app_name: str = "dataengineeringpipeline-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a local SparkSession with the engine profile.

    ``shuffle_partitions`` defaults to the core count for local runs; on a
    real cluster this should be sized so each shuffle partition stays in
    the 64–256 MB range at the target data scale (override via
    ``extra_conf`` or Spark submit conf — AQE coalescing makes a generous
    value cheap).
    """
    cpus = cpus or DEFAULT_CPUS
    _ensure_jvm_code_cache()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    for k, v in ENGINE_CONF.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
