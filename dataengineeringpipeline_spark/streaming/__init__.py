"""Structured Streaming surface (SURVEY.md §2.9).

The reference approximates streaming with event-driven micro-batches
(EventBridge "Object Created" → crawler trigger →  Glue job,
``terraform/modules/glue/main.tf:555-588``). Spark's native answer is the
Structured Streaming **file source**: new files under a path become
micro-batches, the commit protocol replaces the reference's
``_SUCCESS``/``.tmp`` skip-list (``crawler_trigger.py:226-246``), and a
checkpoint replaces its at-most-one-concurrent crawler dedup.

One lifecycle runs every exactly-once stream here: an ``availableNow``
file-source drain with a checkpoint and a ``foreachBatch`` writer.

- :func:`_file_stream` is the reader (optionally bounded by
  ``maxFilesPerTrigger``) and :func:`_drain` the writer: ``foreachBatch``,
  checkpoint, ``availableNow``, then wait. The query is stopped and
  deregistered on success, when a batch raises and on timeout alike
  (:func:`_await_drained`, which :func:`run_available_now` shares for its
  memory sink).
- :func:`_bootstrap` sets up every contract query that streams staged
  arrival files: a fresh temp root, the arrivals staged in ``in/`` while
  the seed state is built beside them. Every temp root is registered
  with ``cache.release_caches``, which removes it once the result has
  been consumed.

On top of that lifecycle sit the stream shapes: :func:`stream_events`
(file source over the events table with the batch loader's integer-µs
event time), windowed and stream-static rollups
(:func:`hourly_stream_counts`), a stream-stream join, custom state via
``applyInPandasWithState`` (:func:`sessionize_stream`), and the
``stream_*`` writers whose per-batch partitions or lake ledgers make a
crash replay idempotent.

Scale notes: streaming aggregation state lives in the state store keyed
by window/user — partitioned by the grouping key across executors; the
watermark bounds state size (late rows beyond it are dropped, and closed
windows are evicted). ``availableNow`` + checkpoint gives exactly-once
over any backlog size.
"""

from __future__ import annotations

import os
import time
from collections.abc import Iterator
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..cache import tracked_mkdtemp


#: Events schema template; ``{ts}`` is filled with the type the parquet
#: writer actually used (bigint = raw nanos under the ``nanosAsLong``
#: conf, else timestamp / timestamp_ntz = TIMESTAMP(MICROS)). A stream
#: source cannot infer schemas, so :func:`stream_events` probes the batch
#: reader once and emits the matching DDL — keeping the stream an exact
#: twin of :func:`dataengineeringpipeline_spark.datalake.load_events`
#: whichever way the testdata is typed.
EVENTS_DDL_TEMPLATE = (
    "event_id bigint, ts {ts}, user_id bigint, event_type string, value double, props string"
)

#: Nanos-as-bigint instance of the template — synthetic-file tests write
#: this shape directly.
EVENTS_DDL = EVENTS_DDL_TEMPLATE.format(ts="bigint")

DEFAULT_SESSION_GAP_MINUTES = 30

#: Default writer-lock wait for streaming lake mutators: two live
#: maintenance jobs on one table (a streaming gold refresh + a
#: compaction) should QUEUE on the single-writer fence, not crash —
#: fail-fast is the interactive default, queueing is the pipeline one.
DEFAULT_STREAM_LOCK_WAIT_S = 120.0


#: Default snapshot retention applied to a Lake used INSIDE a streaming
#: writer when the caller set none: at micro-batch cadence a
#: snapshot-per-batch pattern commits ~500k versions/year, and hard
#: links make each one cheap enough that nothing ever hurts until the
#: version root has six figures of directories. A caller who wants
#: unbounded history can pass ``keep_snapshots=None`` explicitly via a
#: pre-configured Lake only for BATCH use; in the streaming context the
#: bound is on by default (same rationale as the bounded applied-batch
#: ledger).
DEFAULT_STREAM_KEEP_SNAPSHOTS = 32


def _queued(lake, lock_wait_s: float):
    """A copy of ``lake`` configured for the STREAMING context: the
    single-writer fence waits at least ``lock_wait_s`` before raising
    ``ConcurrentWriteError`` (queue mode — ``lock_wait_s=0`` keeps the
    caller's fail-fast behavior), and snapshot auto-retention defaults
    to :data:`DEFAULT_STREAM_KEEP_SNAPSHOTS` when the caller's lake has
    no ``keep_snapshots`` bound — any per-micro-batch snapshotting
    through this lake is bounded by default. A caller-set bound always
    wins."""
    import dataclasses

    changes = {}
    if lock_wait_s > getattr(lake, "lock_wait_s", 0.0):
        changes["lock_wait_s"] = lock_wait_s
    if getattr(lake, "keep_snapshots", None) is None:
        changes["keep_snapshots"] = DEFAULT_STREAM_KEEP_SNAPSHOTS
    return dataclasses.replace(lake, **changes) if changes else lake


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over ``<sf_dir>/events.parquet`` with the batch
    loader's integer-µs event-time columns plus a proper TimestampType
    ``event_ts`` for watermarks/windows (epoch-µs based → tz-free).

    The ``ts`` physical type is probed from the batch reader (one footer
    read, no data scan) and both the stream DDL and the µs derivation
    adapt via :func:`~dataengineeringpipeline_spark.datalake.raw_ts_us_expr`
    — the stream and :func:`~dataengineeringpipeline_spark.datalake.load_events`
    can never disagree on event time regardless of how the parquet writer
    typed the column (raw-nanos BIGINT vs TIMESTAMP(MICROS))."""
    from ..datalake import raw_ts_us_expr

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    probe = (
        spark.read.option("pathGlobFilter", "events.parquet").parquet(sf_dir)
    )
    ts_type = dict(probe.dtypes)["ts"]
    ts_us = raw_ts_us_expr(ts_type)
    raw = (
        spark.readStream.schema(EVENTS_DDL_TEMPLATE.format(ts=ts_type))
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return (
        raw.withColumn("ts_us", F.expr(ts_us))
        .withColumn("event_ts", F.timestamp_micros(F.col("ts_us")))
        .withColumn(
            "event_date",
            F.expr(f"date_add(date'1970-01-01', cast(({ts_us}) div 86400000000 as int))"),
        )
    )


def hourly_stream_counts(events: DataFrame, watermark_delay: str = "1 hour") -> DataFrame:
    """Tumbling 1-hour window rollup with a late-data watermark.

    Output keys by ``window_start_us`` (epoch µs of the window start) so
    results are timezone-free and joinable against the batch twin.
    """
    return (
        events.withWatermark("event_ts", watermark_delay)
        .groupBy(F.window("event_ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            F.sum(F.col("value").cast("decimal(27,2)")).cast("double").alias("total_value"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            .cast("long")
            .alias("error_count"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_count",
            "total_value",
            "error_count",
        )
    )


# -- the one drain lifecycle ---------------------------------------------------


def _file_stream(
    spark: SparkSession, ddl: str, source_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Parquet file-source stream over ``source_dir``. A stream source
    cannot infer its schema, hence ``ddl``; ``max_files_per_trigger``
    bounds each micro-batch on a backlog (``None``: one batch takes
    every pending file)."""
    reader = spark.readStream.schema(ddl)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(source_dir)


def _drain(raw: DataFrame, write_batch, checkpoint_dir: str, what: str, timeout_s: float) -> None:
    """Drain ``raw``'s backlog through ``write_batch`` and return: the
    ``foreachBatch`` + checkpoint + ``availableNow`` lifecycle every
    exactly-once stream in this module runs. The checkpoint makes a
    re-run incremental; ``write_batch`` gets batch ids that are stable
    across replays, which is what each writer's idempotence rests on."""
    query = (
        raw.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    _await_drained(raw.sparkSession, query, what, timeout_s)


def _await_drained(spark: SparkSession, query, what: str, timeout_s: float) -> None:
    """Wait for an ``availableNow`` query to finish, then stop it and wait
    for it to leave the active registry — on success, when a batch
    raises (the error propagates) and on timeout (``TimeoutError``)
    alike, so no query outlives its call."""
    try:
        finished = query.awaitTermination(timeout_s)
    finally:
        query.stop()
        _await_deregistration(spark, query)
    if not finished:
        raise TimeoutError(f"{what} did not finish within {timeout_s}s")


def _await_deregistration(spark: SparkSession, query, timeout_s: float = 30.0) -> None:
    """Wait until a stopped query leaves the active registry — starting a
    new query on the same checkpoint before then fails with
    'Multiple streaming queries are concurrently using <path>'."""
    deadline = time.monotonic() + timeout_s
    while any(q.id == query.id for q in spark.streams.active):
        if time.monotonic() > deadline:
            raise TimeoutError(f"query {query.id} did not deregister within {timeout_s}s")
        time.sleep(0.05)


def run_available_now(
    sdf: DataFrame,
    name: str,
    output_mode: str = "complete",
    timeout_s: int = 300,
    state_partitions: int | None = 8,
) -> None:
    """Drain the stream's backlog as micro-batches into an in-memory
    table ``name`` and terminate (the reference's scheduled-batch
    semantics). In production swap the memory sink for a partitioned
    Parquet ``writeStream`` with a durable checkpoint.

    ``state_partitions`` right-sizes the query's shuffle/state-store
    partition count, which is PINNED at first start (a streaming query's
    state layout lives in its checkpoint and must not change across
    restarts). Every state partition costs per-micro-batch store
    open/commit I/O regardless of data volume, so a local backlog drain
    with the session's cluster-sized default (e.g. 32) pays 4×32 store
    commits per batch of a stream-stream join — measured 7.5s → 2.8s at
    sf0.1 with 8. Size it to expected state volume (at 100 TB: hundreds),
    or pass ``None`` to inherit the session conf untouched.
    """
    spark = sdf.sparkSession
    for q in spark.streams.active:
        if q.name == name:
            q.stop()
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        query = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        _await_drained(spark, query, f"streaming query {name!r}", timeout_s)
    finally:
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)


def streaming_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract query: run the tumbling-window rollup over the
    events backlog to completion, return the final result table."""
    run_available_now(hourly_stream_counts(stream_events(spark, sf_dir)), "hourly_stream_counts")
    return spark.table("hourly_stream_counts").orderBy("window_start_us")


#: Static severity dim for the stream-static join — in production this is
#: a small reference table loaded from the lake.
SEVERITY_ROWS = [
    ("error", "high"),
    ("purchase", "business"),
    ("signup", "business"),
    ("click", "low"),
    ("view", "low"),
]


def severity_stream_counts(events: DataFrame) -> DataFrame:
    """Stream-static broadcast join + aggregation: each micro-batch joins
    the (tiny, broadcast) severity dim without any stream-side state, then
    rolls up per severity tier. The canonical enrich-then-aggregate
    streaming topology. (Exact distinct aggregation is illegal on
    streams — ``approx_count_distinct`` is the streaming-legal variant —
    so the rollup sticks to count/sum and stays oracle-exact.)"""
    spark = events.sparkSession
    dim = spark.createDataFrame(SEVERITY_ROWS, "event_type string, severity string")
    return (
        events.join(F.broadcast(dim), "event_type", "left")
        .groupBy(F.coalesce("severity", F.lit("unknown")).alias("severity"))
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            F.sum(F.col("value").cast("decimal(27,2)")).cast("double").alias("total_value"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            .cast("long")
            .alias("error_count"),
        )
    )


def streaming_severity_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract query: stream-static join rollup over the events
    backlog, final complete-mode table."""
    run_available_now(
        severity_stream_counts(stream_events(spark, sf_dir)), "severity_stream_counts"
    )
    return spark.table("severity_stream_counts").orderBy("severity")


def dedup_stream(events: DataFrame, watermark_delay: str = "1 hour") -> DataFrame:
    """Streaming exact dedup: drop re-delivered events by id within the
    watermark horizon (``dropDuplicatesWithinWatermark`` state is bounded
    — old ids age out instead of accumulating forever, the property that
    keeps an always-on dedup stream alive at 100 TB/day).
    """
    return events.withWatermark("event_ts", watermark_delay).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def stream_etl(
    spark: SparkSession,
    source_dir: str,
    schema_ddl: str,
    transform,
    sink_dir: str,
    checkpoint_dir: str,
    timeout_s: int = 300,
) -> None:
    """Incremental bronze→silver ETL as a ``foreachBatch`` stream — the
    reference's event-driven Glue pattern (S3 ObjectCreated → job run,
    SURVEY.md §2.9) in Spark-native form: each new file under
    ``source_dir`` becomes a micro-batch and ``transform`` (a plain
    ``DataFrame -> DataFrame`` engine function, e.g.
    ``cleaning.clean_orders``) runs on it.

    Exactly-once: the checkpoint makes re-runs incremental (processed
    files are never *read* twice), and each batch overwrites its own
    ``batch_id=<n>`` partition of the sink — so a crash-replay of a
    batch whose write committed before the checkpoint did is idempotent
    (a blind append here would silently duplicate rows instead). Readers
    see one partitioned parquet table at ``sink_dir``.
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        transform(batch_df).write.mode("overwrite").parquet(f"{sink_dir}/batch_id={batch_id}")

    raw = _file_stream(spark, schema_ddl, source_dir)
    _drain(raw, write_batch, checkpoint_dir, "stream_etl", timeout_s)


def incremental_gold(
    spark: SparkSession,
    source_dir: str,
    schema_ddl: str,
    aggregate,
    merge,
    gold_dir: str,
    checkpoint_dir: str,
    date_col: str = "order_date",
    timeout_s: int = 300,
) -> None:
    """Incrementally maintained gold rollup without a lakehouse format.

    Each micro-batch of silver rows is reduced by ``aggregate`` (rows →
    per-``date_col`` partials), combined with the existing gold rows for
    the **touched dates only** by ``merge`` (partials → partials — e.g.
    counts re-sum), and written back via dynamic partition overwrite.

    Scale properties: per batch, only the touched date partitions are
    read and rewritten (partition pruning on both sides). This is the
    reference's silver→gold incremental semantics (SURVEY.md §2.9)
    expressed as exactly-once micro-batches.

    Crash-replay idempotence: every gold row carries
    ``merged_through_batch`` — the id of the last batch merged into its
    partition. If the partition overwrite commits but the checkpoint
    commit does not (crash in between), the replayed batch sees its own
    id already recorded in the partitions it touched and skips merging
    its partials into them again — a blind re-merge would re-sum rows
    that already contain this batch's contribution and double-count.
    (foreachBatch batch ids are stable across checkpoint replays, which
    is what makes the marker sound.)
    """
    from pyspark.errors import AnalysisException

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        partial = aggregate(batch_df)
        touched = [r[date_col] for r in partial.select(date_col).distinct().collect()]
        if not touched:
            return
        # `touched` is bounded by dates-per-batch (a steady stream spans
        # 1-2). A backfill batch spanning thousands of partitions would
        # make the isin() predicate and the overwrite huge — fail loudly
        # so the operator is re-run with a bounded source (e.g.
        # maxFilesPerTrigger) instead of degrading into a full rewrite.
        if len(touched) > 10_000:
            raise ValueError(
                f"batch {batch_id} touches {len(touched)} {date_col} partitions; "
                "bound the micro-batch (maxFilesPerTrigger) for backfills"
            )
        try:
            existing = spark.read.parquet(gold_dir).filter(F.col(date_col).isin(touched))
        except AnalysisException:  # first batch: gold table doesn't exist yet
            merged = partial.withColumn("merged_through_batch", F.lit(batch_id))
        else:
            # partitions whose marker already records this batch were
            # written by a pre-crash attempt of THIS batch — leave them
            # out entirely (dynamic overwrite only rewrites partitions
            # present in the output, so they survive untouched).
            replayed = existing.filter(F.col("merged_through_batch") >= batch_id)
            done_dates = [r[date_col] for r in replayed.select(date_col).distinct().collect()]
            fresh_partial = partial
            if done_dates:
                fresh_partial = partial.filter(~F.col(date_col).isin(done_dates))
                if not fresh_partial.limit(1).count():
                    return  # full replay: every touched partition already merged
            to_merge = existing.filter(F.col("merged_through_batch") < batch_id).drop(
                "merged_through_batch"
            )
            # materialize before writing: the write overwrites the very
            # partitions the merge is reading (read-overwrite hazard on a
            # plain parquet table; a lakehouse format would version instead)
            merged = (
                merge(to_merge.unionByName(fresh_partial))
                .withColumn("merged_through_batch", F.lit(batch_id))
                .localCheckpoint()
            )
        (
            merged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(date_col)
            .parquet(gold_dir)
        )

    raw = _file_stream(spark, schema_ddl, source_dir)
    _drain(raw, upsert, checkpoint_dir, "incremental_gold", timeout_s)


def purchase_click_join_stream(
    purchases: DataFrame,
    clicks: DataFrame,
    window_minutes: int = 30,
    watermark_delay: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join (§2.9's hardest shape): each ``purchase``
    event joined to the same user's ``click`` events in the preceding
    ``window_minutes`` — streaming attribution, both sides unbounded.

    Both inputs must carry ``event_ts``; each side gets its own
    watermark, and the join condition includes the event-time range
    (``click_ts ∈ (purchase_ts − window, purchase_ts]``) expressed on
    the watermarked timestamp columns — that is what lets Spark compute
    a state-eviction bound for BOTH sides (a click older than
    watermark + window can never match a future purchase and its state
    is dropped; without the time-range condition the join state grows
    forever, which is the always-on-at-100TB killer).

    Output is append-mode pair rows keyed by integer µs so the result is
    timezone-free and oracle-comparable.
    """
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts_us").alias("purchase_ts_us"),
        F.col("event_ts").alias("purchase_ts"),
    ).withWatermark("purchase_ts", watermark_delay)
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts_us").alias("click_ts_us"),
        F.col("event_ts").alias("click_ts"),
    ).withWatermark("click_ts", watermark_delay)
    cond = (
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") > F.col("purchase_ts") - F.expr(f"INTERVAL {window_minutes} MINUTES"))
    )
    return p.join(c, cond, "inner").select(
        F.col("p_user").alias("user_id"),
        "purchase_id",
        "click_id",
        "purchase_ts_us",
        "click_ts_us",
        (F.col("purchase_ts_us") - F.col("click_ts_us")).alias("gap_us"),
    )


def streaming_attribution_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract query: drain the stream-stream attribution join
    over the events backlog; final append-mode pair set."""
    ev = stream_events(spark, sf_dir)
    joined = purchase_click_join_stream(
        ev.filter(F.col("event_type") == "purchase"),
        ev.filter(F.col("event_type") == "click"),
    )
    run_available_now(joined, "streaming_attribution_pairs", output_mode="append")
    return spark.table("streaming_attribution_pairs").orderBy("purchase_id", "click_id")


def windowed_user_counts(events: DataFrame, watermark_delay: str = "1 hour") -> DataFrame:
    """Per-(tumbling-hour, user) event counts — the streaming state that
    backs heavy-hitter detection. Keys by integer µs (timezone-free).

    Scale shape: state is one counter row per (window, active user),
    partitioned by the grouping key across executors; in an always-on
    append-mode deployment the watermark closes windows and evicts their
    counters, so state is bounded by users-per-horizon, not by history.
    For cardinalities where even that is too much state, the sketch
    answer is count-min + a candidate heap per partition — the exact
    windowed count here is the oracle-checkable baseline.
    """
    return (
        events.withWatermark("event_ts", watermark_delay)
        .groupBy(F.window("event_ts", "1 hour").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("events"))
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "user_id",
            "events",
        )
    )


def streaming_heavy_hitters(spark: SparkSession, sf_dir: str, k: int = 5) -> DataFrame:
    """Driver-contract query: event-time top-k heavy hitters per hourly
    window — the streaming twin of ``scale.key_skew_profile`` (which
    ranks whole-table key mass; this ranks within each event-time
    window, the shape an always-on skew monitor actually needs).

    Topology: the stream maintains per-(window, user) counts
    (:func:`windowed_user_counts`); ranking is a batch window function
    over the drained counts — top-k is not expressible inside a
    streaming agg, and doesn't need to be: the rank input is already
    reduced to O(windows × active users), a tiny fraction of the event
    volume. Ties break on ``user_id`` so the result is deterministic.
    """
    from pyspark.sql.window import Window

    run_available_now(
        windowed_user_counts(stream_events(spark, sf_dir)),
        "streaming_windowed_user_counts",
    )
    t = spark.table("streaming_windowed_user_counts")
    rnk = F.row_number().over(
        Window.partitionBy("window_start_us").orderBy(F.desc("events"), F.asc("user_id"))
    )
    return (
        t.withColumn("rnk", rnk.cast("int"))
        .filter(F.col("rnk") <= k)
        .select("window_start_us", "user_id", "events", "rnk")
        .orderBy("window_start_us", "rnk")
    )


def stream_cms_sketch(
    spark: SparkSession,
    source_dir: str,
    schema_ddl: str,
    key_col: str,
    sketch_dir: str,
    checkpoint_dir: str,
    timeout_s: int = 300,
    max_files_per_trigger: int | None = None,
) -> None:
    """Maintain a count-min sketch of ``key_col`` over a file stream —
    the streaming face of ``scale.cms_sketch`` and the demonstration of
    why a sketch is the right heavy-hitter state at 100 TB/day: each
    micro-batch reduces to a ≤ depth×width partial sketch (KBs), and
    partial sketches MERGE by counter addition, so the running state is
    bounded regardless of key cardinality or stream age.

    Exactly-once by layout, not by bookkeeping: each batch's partial
    sketch is written to its own ``batch_id=<n>`` partition (dynamic
    overwrite), so a crash-replayed batch overwrites itself instead of
    double-counting — the same idempotence shape as ``stream_etl``. The
    merged view is :func:`read_cms_sketch`'s ``groupBy(d, bucket).sum``
    over the partition rows (merge-on-read; compact old partitions into
    a base sketch when batch count grows into the thousands).
    """
    from ..scale import cms_sketch

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        cms_sketch(batch_df, key_col).write.mode("overwrite").parquet(
            f"{sketch_dir}/batch_id={batch_id}"
        )

    raw = _file_stream(spark, schema_ddl, source_dir, max_files_per_trigger)
    _drain(raw, write_batch, checkpoint_dir, "stream_cms_sketch", timeout_s)


def read_cms_sketch(spark: SparkSession, sketch_dir: str) -> DataFrame:
    """The merged (d, bucket, c) sketch across all streamed batches —
    counter addition IS the CMS merge operation."""
    return (
        spark.read.parquet(sketch_dir)
        .groupBy("d", "bucket")
        .agg(F.sum("c").alias("c"))
    )


def stream_hll_sketch(
    spark: SparkSession,
    source_dir: str,
    schema_ddl: str,
    key_col: str,
    sketch_dir: str,
    checkpoint_dir: str,
    timeout_s: int = 300,
    max_files_per_trigger: int | None = None,
) -> None:
    """Maintain HyperLogLog distinct-count registers of ``key_col`` over
    a file stream — the streaming face of ``scale.hll_registers`` and
    the CMS twin's sibling for distinct counts: each micro-batch reduces
    to a ≤ 2^p register partial (KBs), and register partials MERGE by
    MAX, so the running state is bounded regardless of key cardinality
    or stream age, and a crash-replayed batch is harmless twice over
    (its partition overwrites itself AND max is idempotent).

    Same exactly-once-by-layout shape as :func:`stream_cms_sketch`; the
    merged view is :func:`read_hll_sketch`'s ``groupBy(bucket).max``.
    """
    from ..scale import hll_registers

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        hll_registers(batch_df, key_col).write.mode("overwrite").parquet(
            f"{sketch_dir}/batch_id={batch_id}"
        )

    raw = _file_stream(spark, schema_ddl, source_dir, max_files_per_trigger)
    _drain(raw, write_batch, checkpoint_dir, "stream_hll_sketch", timeout_s)


def read_hll_sketch(spark: SparkSession, sketch_dir: str) -> DataFrame:
    """The merged (bucket, max_rho) registers across all streamed
    batches — MAX IS the HLL merge operation."""
    return (
        spark.read.parquet(sketch_dir)
        .groupBy("bucket")
        .agg(F.max("max_rho").alias("max_rho"))
    )


def stream_quantile_sketch(
    sdf: DataFrame,
    value_col: str,
    sketch_dir: str,
    checkpoint_dir: str,
    group_cols: tuple[str, ...] = (),
    timeout_s: int = 300,
) -> None:
    """Maintain a log-linear quantile sketch over a stream — the
    quantile member of the streaming sketch family
    (:func:`stream_cms_sketch` frequency, :func:`stream_hll_sketch`
    distinct): each micro-batch reduces to a ≤ ~1.9k-bin histogram
    partial per group (``scale.quantile_sketch``), and bin partials
    MERGE by counter addition, so a latency/value percentile monitor
    holds KBs of state per group regardless of stream age or value
    cardinality.

    Same exactly-once-by-layout shape as the CMS twin: each batch's
    partial lands in its own ``batch_id=<n>`` partition, a crash-
    replayed batch overwrites itself, and the merged view is
    :func:`read_quantile_sketch`'s ``groupBy(bin).sum`` at read.
    Takes the stream DataFrame (not a source dir) so callers compose
    it onto :func:`stream_events`' probed-schema source.
    """
    from ..scale import quantile_sketch

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        quantile_sketch(batch_df, value_col, group_cols).write.mode(
            "overwrite"
        ).parquet(f"{sketch_dir}/batch_id={batch_id}")

    _drain(sdf, write_batch, checkpoint_dir, "stream_quantile_sketch", timeout_s)


def read_quantile_sketch(
    spark: SparkSession, sketch_dir: str, group_cols: tuple[str, ...] = ()
) -> DataFrame:
    """The merged (group..., bin, c) histogram across all streamed
    batches — counter addition IS the quantile-sketch merge operation."""
    return (
        spark.read.parquet(sketch_dir)
        .groupBy(*group_cols, "bin")
        .agg(F.sum("c").alias("c"))
    )


def streaming_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract query: stream the events backlog into a per-
    event-type quantile sketch (cents-scaled ``value``), then read
    p50/p90/p99 off the merged bins. Because bin-count merge is exact,
    the drained sketch is bit-identical to the batch sketch over the
    same rows — the oracle is the batch arithmetic."""
    from ..scale import quantile_sketch_estimates

    ev = stream_events(spark, sf_dir).select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    tmp = tracked_mkdtemp("stream_qsk_")
    stream_quantile_sketch(
        ev, "cents", f"{tmp}/sketch", f"{tmp}/ckpt", ("event_type",)
    )
    bins = read_quantile_sketch(spark, f"{tmp}/sketch", ("event_type",))
    return (
        quantile_sketch_estimates(bins, [0.5, 0.9, 0.99], ("event_type",))
        .select("event_type", "p", "n", F.col("est").alias("est_cents"))
        .orderBy("event_type", "p")
    )


def sessionize_stream(
    events: DataFrame,
    gap_minutes: int = DEFAULT_SESSION_GAP_MINUTES,
    evict_idle_state: bool = False,
) -> DataFrame:
    """Custom stateful operator: per-user gap-based session counting via
    ``applyInPandasWithState``.

    State per user = (last event µs, sessions so far). Each micro-batch
    sorts its rows by event time, splits on > ``gap`` idle, and carries
    the boundary across batches through the state store.

    ``evict_idle_state=True`` registers a processing-time timeout that
    evicts idle users' state — use it for an *always-on* stream (bounded
    memory). Leave it off for ``availableNow`` backlog drains: a
    registered timeout keeps the query scheduling empty batches to
    service future timeouts, so the drain never terminates.
    """
    import pandas as pd

    gap_us = gap_minutes * 60_000_000

    def update(
        key: tuple, pdfs: Iterator["pd.DataFrame"], state: GroupState
    ) -> Iterator["pd.DataFrame"]:
        if state.hasTimedOut:
            # idle eviction: drop the state, emit nothing — re-arming here
            # would keep every idle user's state (and a spurious output
            # row) alive forever.
            state.remove()
            return
        import numpy as np

        last_ts, sessions, events_n = state.get if state.exists else (None, 0, 0)
        # A large group arrives as MULTIPLE unordered Arrow chunks (default
        # ~10k rows each); sorting per chunk would compute gaps across
        # unsorted chunk boundaries. Accumulate the whole group, sort once.
        # Memory is bounded by the user's rows in this micro-batch — the
        # same bound the state-store update itself already implies.
        chunks = [pdf["ts_us"].to_numpy() for pdf in pdfs if len(pdf)]
        if chunks:
            # vectorized gap count: a session starts at each ts whose gap
            # from its predecessor exceeds the threshold (the first ts's
            # predecessor is the carried-over state boundary).
            ts = np.sort(np.concatenate(chunks))
            prev = np.concatenate(([last_ts if last_ts is not None else -(1 << 62)], ts[:-1]))
            sessions += int((ts - prev > gap_us).sum())
            last_ts = int(ts[-1])
            events_n += len(ts)
        state.update((last_ts, sessions, events_n))
        if evict_idle_state:
            state.setTimeoutDuration(3_600_000)
        yield pd.DataFrame(
            {"user_id": [key[0]], "sessions": [sessions], "events_seen": [events_n]}
        )

    return events.select("user_id", "ts_us").groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, sessions bigint, events_seen bigint",
        stateStructType="last_ts bigint, sessions bigint, events_seen bigint",
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if evict_idle_state
            else GroupStateTimeout.NoTimeout
        ),
    )


def sessionize_stream_event_time(
    events: DataFrame,
    gap_minutes: int = DEFAULT_SESSION_GAP_MINUTES,
    state_ttl_minutes: int = 24 * 60,
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Always-on sessionization with EVENT-TIME state eviction: a user
    idle for ``state_ttl_minutes`` of *event* time (watermark-driven, so
    it is replay-deterministic — unlike the processing-time variant in
    :func:`sessionize_stream`, a backfill at full speed evicts exactly
    the same users a live run would) has their state dropped. Bounded
    state is what keeps an always-on stream alive at 100 TB/day; the
    documented trade is that a user returning after the TTL starts a
    fresh count.

    Same vectorized gap kernel as :func:`sessionize_stream`; the stream
    must carry ``event_ts`` (watermark is applied here).
    """
    import pandas as pd

    gap_us = gap_minutes * 60_000_000
    ttl_ms = state_ttl_minutes * 60_000

    def update(
        key: tuple, pdfs: Iterator["pd.DataFrame"], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        import numpy as np

        last_ts, sessions, events_n = state.get if state.exists else (None, 0, 0)
        chunks = [pdf["ts_us"].to_numpy() for pdf in pdfs if len(pdf)]
        if chunks:
            ts = np.sort(np.concatenate(chunks))
            prev = np.concatenate(([last_ts if last_ts is not None else -(1 << 62)], ts[:-1]))
            sessions += int((ts - prev > gap_us).sum())
            last_ts = int(ts[-1])
            events_n += len(ts)
        state.update((last_ts, sessions, events_n))
        # evict when the EVENT-TIME watermark passes last-seen + TTL; the
        # timeout must sit strictly beyond the current watermark or Spark
        # rejects it (a very stale group's deadline may already have passed)
        deadline = (last_ts or 0) // 1000 + ttl_ms
        state.setTimeoutTimestamp(max(deadline, state.getCurrentWatermarkMs() + 1))
        yield pd.DataFrame(
            {"user_id": [key[0]], "sessions": [sessions], "events_seen": [events_n]}
        )

    return (
        events.withWatermark("event_ts", watermark_delay)
        .select("user_id", "ts_us", "event_ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType="user_id bigint, sessions bigint, events_seen bigint",
            stateStructType="last_ts bigint, sessions bigint, events_seen bigint",
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def session_window_stats(events: DataFrame, gap_minutes: int = DEFAULT_SESSION_GAP_MINUTES) -> DataFrame:
    """Native ``session_window`` sessionization — the built-in answer to
    gap-based sessions (use it BEFORE reaching for the
    ``applyInPandasWithState`` kernel in :func:`sessionize_stream`; the
    custom operator exists for semantics this can't express, e.g.
    cross-batch carried counters with TTL eviction).

    One row per closed session: ``(user_id, session_start_us,
    session_end_us, events_in_session)`` where the window end is
    ``last event + gap`` (Spark's session_window contract). Keys by
    integer µs — timezone-free, oracle-comparable.
    """
    return (
        events.groupBy(
            F.session_window("event_ts", f"{gap_minutes} minutes").alias("w"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("events_in_session"))
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            F.unix_micros(F.col("w.end")).alias("session_end_us"),
            "events_in_session",
        )
    )


def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract query: drain the native session_window rollup over
    the events backlog (complete mode — a bounded backlog needs no
    watermark eviction; an always-on stream would use watermark+append),
    then summarize per user: session count, events, and total session
    µs (each session's span is ``last − first + gap``)."""
    run_available_now(
        session_window_stats(stream_events(spark, sf_dir)),
        "streaming_session_windows",
        output_mode="complete",
    )
    t = spark.table("streaming_session_windows")
    return (
        t.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("sessions"),
            F.sum("events_in_session").cast("long").alias("events_seen"),
            F.sum(F.col("session_end_us") - F.col("session_start_us"))
            .cast("long")
            .alias("total_session_us"),
        )
        .orderBy("user_id")
    )


def streaming_session_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract query (rows-only check: custom stateful streaming
    op, not SQL-expressible): final per-user session counts."""
    run_available_now(
        sessionize_stream(stream_events(spark, sf_dir)),
        "streaming_session_counts",
        output_mode="update",
    )
    # update-mode memory sink holds one row per micro-batch per user; the
    # final state per user is the row with the most events seen. max over
    # a (events_seen, sessions) struct is totally ordered — deterministic
    # even if the sink retained duplicate rows for the same state (max_by
    # alone breaks ties by encounter order, which depends on retention).
    t = spark.table("streaming_session_counts")
    return (
        t.groupBy("user_id")
        .agg(F.max(F.struct("events_seen", "sessions")).alias("s"))
        .select(
            "user_id",
            F.col("s.sessions").alias("sessions"),
            F.col("s.events_seen").alias("events_seen"),
        )
        .orderBy("user_id")
    )


def hourly_volume_baseline(events: DataFrame) -> DataFrame:
    """Batch-side volume baseline: mean/std of hourly event counts per
    hour-of-day, from exact integer window sums in a fixed expression
    order (the ``quality.daily_volume_anomalies`` determinism recipe) —
    the reference table a streaming volume watch scores against.

    Two bounded aggregations: hourly counts (one shuffle keyed by hour
    index), then 24 rows of ``(n, Σx, Σx²)``.
    """
    hourly = events.groupBy(
        F.expr("ts_us div 3600000000").alias("hidx")
    ).agg(F.count(F.lit(1)).cast("long").alias("rows"))
    agg = hourly.groupBy(F.pmod("hidx", F.lit(24)).cast("int").alias("hod")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("rows").cast("long").alias("sx"),
        F.sum(F.col("rows") * F.col("rows")).cast("long").alias("sxx"),
    )
    mean = F.col("sx") / F.col("n")
    var = (F.col("sxx") - F.col("n") * mean * mean) / (F.col("n") - 1)
    return agg.select(
        "hod",
        "n",
        mean.alias("mean_rows"),
        F.when(F.col("n") > 1, F.sqrt(F.greatest(var, F.lit(0.0)))).alias("std_rows"),
    )


def volume_alert_stream(events: DataFrame, baseline_rows: list) -> DataFrame:
    """Streaming volume watch: each closed hourly window emits one row
    with its event count z-scored against the per-hour-of-day baseline
    and classified on the alert severity ladder (INFO below the WARNING
    tier — this is a metrics feed, not only an exception feed; the
    notifier's routing rules drop INFO rows exactly as
    ``alerts.route_alerts`` does).

    The baseline is 24 rows, COMPILED into literal map lookups instead
    of joined: Spark disallows stream-static joins downstream of a
    streaming aggregation, and a 24-entry scalar map is the cheaper
    plan anyway (pure projection, no broadcast exchange, no state). At
    100 TB/day the baseline refresh is a scheduled batch job
    (:func:`hourly_volume_baseline`) and the stream restarts on the new
    literals — the standard slowly-refreshed-reference pattern.
    """
    from dataengineeringpipeline_spark.alerts import (
        SEVERITY_PRIORITY,
        VOL_CRITICAL_Z,
        VOL_ERROR_Z,
        VOL_WARN_Z,
    )

    mean_map = F.create_map(
        *[x for r in baseline_rows for x in (F.lit(r["hod"]), F.lit(r["mean_rows"]))]
    )
    std_map = F.create_map(
        *[x for r in baseline_rows for x in (F.lit(r["hod"]), F.lit(r["std_rows"]))]
    )
    counts = (
        events.withWatermark("event_ts", "1 hour")
        .groupBy(F.window("event_ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).cast("long").alias("event_count"))
        .select(F.unix_micros(F.col("w.start")).alias("window_start_us"), "event_count")
    )
    hod = F.pmod(F.expr("window_start_us div 3600000000"), F.lit(24)).cast("int")
    mean = mean_map[hod]
    std = std_map[hod]
    z = F.when(std > 0, (F.col("event_count") - mean) / std)
    absz = F.abs(z)
    sev = (
        F.when(absz >= VOL_CRITICAL_Z, F.lit("CRITICAL"))
        .when(absz >= VOL_ERROR_Z, F.lit("ERROR"))
        .when(absz >= VOL_WARN_Z, F.lit("WARNING"))
        .otherwise(F.lit("INFO"))
    )
    prio = F.coalesce(
        *[F.when(sev == s, F.lit(p)) for s, p in SEVERITY_PRIORITY.items()]
    ).cast("int")
    return counts.select(
        "window_start_us",
        "event_count",
        z.cast("double").alias("z_score"),
        sev.alias("severity"),
        prio.alias("priority"),
    )


def streaming_volume_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract query: baseline from the batch history, volume
    watch over the streamed backlog, final feed ordered by window."""
    from ..datalake import load_events

    baseline_rows = [r.asDict() for r in hourly_volume_baseline(load_events(spark, sf_dir)).collect()]
    run_available_now(
        volume_alert_stream(stream_events(spark, sf_dir), baseline_rows),
        "volume_alert_stream",
    )
    return spark.table("volume_alert_stream").orderBy("window_start_us")


# -- streaming categorical-mix drift -----------------------------------------


def event_mix_baseline(events: DataFrame) -> DataFrame:
    """Batch reference mix: per-event_type counts over the history — the
    slowly-refreshed baseline the streaming drift watch compiles in
    (same refresh pattern as :func:`hourly_volume_baseline`)."""
    return events.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("base_n")
    )


def mix_drift_stream(
    events: DataFrame,
    baseline_rows: list,
    stable_below: float = 0.1,
    major_above: float = 0.25,
) -> DataFrame:
    """Streaming face of :func:`quality.category_drift`: each closed
    hourly window's event-type mix scored against the compiled baseline
    mix with the total-variation distance and banded stable / moderate /
    major — "the traffic composition shifted" alongside the volume
    watch's "the traffic volume shifted".

    The type set is closed over the baseline (a type the baseline never
    saw contributes through the window-total side only), so the window
    aggregation is ONE stateful pass of |types| conditional counts and
    the TV arithmetic is a stateless projection: the numerator
    ``Σ_t |cnt_t·N_base − base_t·N_window|`` stays in exact integers in
    a fixed expression order, one double division at the end —
    bit-identical to the batch twin and the oracle, the property that
    lets the stream and a backfill reconcile exactly.
    """
    types = sorted(r["event_type"] for r in baseline_rows)
    base = {r["event_type"]: int(r["base_n"]) for r in baseline_rows}
    nb = sum(base.values())
    if nb <= 0:  # fail at build time, not as a per-row divide inside the stream
        raise ValueError("mix_drift_stream needs a non-empty baseline mix")
    counts = (
        events.withWatermark("event_ts", "1 hour")
        .groupBy(F.window("event_ts", "1 hour").alias("w"))
        .agg(
            *[
                F.coalesce(F.sum(F.when(F.col("event_type") == t, 1)), F.lit(0))
                .cast("long")
                .alias(f"_c_{i}")
                for i, t in enumerate(types)
            ],
            F.count(F.lit(1)).cast("long").alias("window_n"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "window_n",
            *[F.col(f"_c_{i}") for i in range(len(types))],
        )
    )
    nc = F.col("window_n")
    numer = None
    for i, t in enumerate(types):
        term = F.abs(F.col(f"_c_{i}") * F.lit(nb) - F.lit(base[t]) * nc)
        numer = term if numer is None else numer + term
    tv = numer.cast("double") / (F.lit(2.0) * nc.cast("double") * F.lit(float(nb)))
    return counts.select(
        "window_start_us",
        "window_n",
        tv.alias("tv_distance"),
        F.when(tv < stable_below, F.lit("stable"))
        .when(tv < major_above, F.lit("moderate"))
        .otherwise(F.lit("major"))
        .alias("drift_band"),
    )


def streaming_mix_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract query: baseline mix from the batch history, drift
    watch over the streamed backlog, feed ordered by window."""
    from ..datalake import load_events

    baseline_rows = [
        r.asDict() for r in event_mix_baseline(load_events(spark, sf_dir)).collect()
    ]
    run_available_now(
        mix_drift_stream(stream_events(spark, sf_dir), baseline_rows),
        "mix_drift_stream",
    )
    return spark.table("mix_drift_stream").orderBy("window_start_us")


# ---------------------------------------------------------------------------
# Streaming incremental dedup (continuous-ingest face of
# operators/dedup.incremental_dedup)
# ---------------------------------------------------------------------------

#: Stream DDL for the documents table (same physical schema the batch
#: reader sees).
DOCUMENTS_DDL = "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"


def materialize_stream_dedup_state(corpus_docs: DataFrame, state_dir: str) -> None:
    """Seed the streaming dedup state: the existing corpus's shingle-hash
    arrays and LSH band keys written as the ``batch_id=-1`` base
    partitions (the same signature tables
    ``operators.dedup.materialize_signatures`` manages, laid out so
    streamed increments land beside them batch-by-batch)."""
    from ..cache import tracked_persist
    from ..operators.dedup import (
        doc_shingle_hash_arrays,
        minhash_bands,
        minhash_signatures,
    )

    arrays = tracked_persist(doc_shingle_hash_arrays(corpus_docs))
    bands = minhash_bands(minhash_signatures(corpus_docs, hash_arrays=arrays))
    # The arrays write is the job that populates the cache (no separate
    # count() materialization pass); the bands write then reads it — two
    # jobs total, the second map-only over cached arrays.
    arrays.write.mode("overwrite").parquet(f"{state_dir}/arrays/batch_id=-1")
    bands.write.mode("overwrite").parquet(f"{state_dir}/bands/batch_id=-1")


def stream_incremental_dedup(
    spark: SparkSession,
    source_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.5,
    timeout_s: int = 300,
    max_files_per_trigger: int | None = 1,
) -> None:
    """Continuous-ingest near-dup detection: each micro-batch of arriving
    documents is matched against ALL previously stored signatures (the
    seeded corpus plus every earlier batch), its decisions recorded, and
    its own signatures folded into the state for the next batch.

    Exactly-once by layout, not bookkeeping (the ``stream_cms_sketch``
    shape): every batch writes its decisions AND its signature increment
    to its own ``batch_id=<n>`` partitions with dynamic overwrite, so a
    crash-replayed batch overwrites itself; the match explicitly reads
    only ``batch_id < n`` state, so a replay cannot see the crashed
    attempt's own half-written signatures either. Matching state stays
    O(corpus signatures) — arrays and 8-int band rows — never O(corpus
    text), and the per-batch match cost is the band equi-join of the
    increment against the stored band table.

    Within-batch duplicates are intentionally NOT matched against each
    other (same contract as the batch operator — an increment
    deduplicates internally with ``minhash_lsh_pairs`` if needed), which
    is also what makes the decision for every document a pure function
    of (document, earlier state): replay-stable and oracle-checkable.
    """
    from ..cache import tracked_persist
    from ..operators.dedup import (
        doc_shingle_hash_arrays,
        match_increment,
        minhash_bands,
        minhash_signatures,
    )

    # Explicit state schemas: per-micro-batch reads skip the driver-side
    # parquet footer fetch that schema inference costs (twice per batch).
    arrays_ddl = "doc_id BIGINT, hs ARRAY<BIGINT>, batch_id INT"
    bands_ddl = "doc_id BIGINT, band_idx INT, band_hash BIGINT, batch_id INT"

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        arrays = tracked_persist(doc_shingle_hash_arrays(batch_df))
        # Persisted: the signature derivation (32 modular traversals per
        # doc over the cached hash arrays) otherwise re-runs in both the
        # decisions join and the bands state write. Band rows are 8 ints
        # per doc — the cache is O(batch ids), never O(text).
        bands = tracked_persist(
            minhash_bands(minhash_signatures(batch_df, hash_arrays=arrays))
        )
        old_arrays = (
            spark.read.schema(arrays_ddl)
            .parquet(f"{state_dir}/arrays")
            .filter(F.col("batch_id") < batch_id)
            .drop("batch_id")
        )
        old_bands = (
            spark.read.schema(bands_ddl)
            .parquet(f"{state_dir}/bands")
            .filter(F.col("batch_id") < batch_id)
            .drop("batch_id")
        )
        decisions = match_increment(
            batch_df.select("doc_id"), arrays, bands, old_arrays, old_bands,
            threshold, ordered=False, distinct_candidates=False,
        )
        # Each state write runs first for the cache its job populates
        # (no separate count() passes): arrays, then bands (signatures
        # derive off the warm arrays cache exactly once), then the
        # decisions join reads both warm caches. Running decisions
        # concurrently with a cold bands cache double-computed the
        # signature derivation — racing jobs materialize overlapping
        # cache partitions independently. All three land in their own
        # batch partition, so a crash replay overwrites each regardless
        # of completion order (decisions reads only batch_id < n state).
        arrays.write.mode("overwrite").parquet(
            f"{state_dir}/arrays/batch_id={batch_id}"
        )
        bands.write.mode("overwrite").parquet(
            f"{state_dir}/bands/batch_id={batch_id}"
        )
        decisions.write.mode("overwrite").parquet(
            f"{state_dir}/decisions/batch_id={batch_id}"
        )

    raw = _file_stream(spark, DOCUMENTS_DDL, source_dir, max_files_per_trigger)
    _drain(raw, write_batch, checkpoint_dir, "stream_incremental_dedup", timeout_s)


def stream_incremental_dedup_ordered(
    spark: SparkSession,
    source_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    batch_of: str,
    threshold: float = 0.5,
    timeout_s: int = 300,
) -> None:
    """Single-drain variant of :func:`stream_incremental_dedup` for
    backlogs whose arrival order is **provable from the data**:
    ``batch_of`` is a SQL expression over ``doc_id`` giving each
    document's logical arrival batch, so the sequential "match against
    strictly earlier arrivals" contract no longer requires draining one
    physical micro-batch per arrival. The whole backlog drains in ONE
    availableNow micro-batch and the order predicate moves INTO the
    band join (``match_increment(order_col=...)``): candidates are the
    stored state (order ``-1``) plus arriving docs with a strictly
    smaller logical batch. Decisions are identical to the sequential
    drain; the per-document decision stays a pure function of
    (document, earlier state).

    Cost: one signature pass + one match join + three writes TOTAL,
    versus ``n_batches × (2 state reads + match + 3 writes)`` plus a
    stream-cycle per batch for the general operator — the shape to use
    whenever a backlog is replayed or the arrival split is derived
    (date partitions, monotone ingest ids). Exactly-once is unchanged:
    the single batch writes ``batch_id=<n>`` partitions that a crash
    replay overwrites wholesale.
    """
    from ..cache import tracked_persist
    from ..operators.dedup import (
        doc_shingle_hash_arrays,
        match_increment,
        minhash_bands,
        minhash_signatures,
    )

    arrays_ddl = "doc_id BIGINT, hs ARRAY<BIGINT>, batch_id INT"
    bands_ddl = "doc_id BIGINT, band_idx INT, band_hash BIGINT, batch_id INT"
    order = F.expr(batch_of).cast("int")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        arrays = tracked_persist(doc_shingle_hash_arrays(batch_df))
        # Persisted for the same reason as the unordered variant — and
        # this writer consumes the band subtree three times (decisions'
        # probe side, the old∪new union, and the state write).
        bands = tracked_persist(
            minhash_bands(minhash_signatures(batch_df, hash_arrays=arrays)).withColumn(
                "_lb", order
            )
        )
        old_arrays = (
            spark.read.schema(arrays_ddl)
            .parquet(f"{state_dir}/arrays")
            .filter(F.col("batch_id") < batch_id)
            .drop("batch_id")
        )
        old_bands = (
            spark.read.schema(bands_ddl)
            .parquet(f"{state_dir}/bands")
            .filter(F.col("batch_id") < batch_id)
            .drop("batch_id")
            .withColumn("_lb", F.lit(-1))
        )
        decisions = match_increment(
            batch_df.select("doc_id"),
            arrays,
            bands,
            arrays.unionByName(old_arrays),
            old_bands.unionByName(bands),
            threshold,
            ordered=False,
            distinct_candidates=False,
            order_col="_lb",
        )
        # Serial, cache-populating order (see the unordered variant):
        # arrays, then bands (materializes the band cache the decisions
        # join consumes twice), then decisions off both warm caches.
        arrays.write.mode("overwrite").parquet(f"{state_dir}/arrays/batch_id={batch_id}")
        bands.drop("_lb").write.mode("overwrite").parquet(
            f"{state_dir}/bands/batch_id={batch_id}"
        )
        decisions.write.mode("overwrite").parquet(
            f"{state_dir}/decisions/batch_id={batch_id}"
        )

    raw = _file_stream(spark, DOCUMENTS_DDL, source_dir)
    _drain(raw, write_batch, checkpoint_dir, "stream_incremental_dedup_ordered", timeout_s)


def read_stream_dedup_decisions(spark: SparkSession, state_dir: str) -> DataFrame:
    """All per-batch dedup decisions, one row per streamed document."""
    return spark.read.parquet(f"{state_dir}/decisions").select(
        "doc_id", "dup_of", "jaccard", "is_duplicate"
    )


def _stage_arrival_batches(df: DataFrame, batch_col, src: str, n_batches: int) -> None:
    """Stage ``df`` as ``n_batches`` single-file parquet arrival batches
    in ``src`` with strictly increasing pinned mtimes (the file source
    drains oldest-first, so the batch split becomes the arrival order).

    Spark-side: ONE partitioned write (``repartition(batch)`` sends each
    batch value to one shuffle partition, so every ``_b=<v>`` directory
    holds exactly one part file) followed by driver-side renames — no
    ``toPandas``, nothing row-sized ever lands on the driver. Used by
    the streaming contract-query harnesses; row order inside a staged
    file is irrelevant (every consumer re-derives its own order)."""
    import glob
    import shutil
    import tempfile

    stage = tempfile.mkdtemp(prefix="stage_batches_")
    (
        df.withColumn("_b", batch_col)
        .repartition("_b")
        .write.partitionBy("_b")
        .mode("overwrite")
        .parquet(stage)
    )
    t0 = time.time()
    for b in range(n_batches):
        parts = glob.glob(os.path.join(stage, f"_b={b}", "part-*.parquet"))
        if not parts:
            continue  # empty batch: no file, no arrival
        if len(parts) != 1:  # not assert: must survive `python -O`
            raise RuntimeError(f"batch {b} split across {len(parts)} files")
        path = os.path.join(src, f"batch{b}.parquet")
        shutil.move(parts[0], path)
        os.utime(path, (t0 + 60 * b, t0 + 60 * b))
    shutil.rmtree(stage, ignore_errors=True)


def _bootstrap(prefix: str, build, stage_df: DataFrame, batch_col, n_batches: int = 3) -> str:
    """Per-invocation bootstrap of a streaming contract query: a fresh
    temp root (removed by ``cache.release_caches``) whose ``in/`` holds
    ``stage_df`` staged as ``n_batches`` arrival files, while
    ``build(root)`` (when given) writes the seed state beside it. The two
    touch disjoint outputs, so they overlap and the staging write hides
    inside the seed build. Nothing is memoized across invocations: every
    run pays its own bootstrap. Returns the root."""
    root = tracked_mkdtemp(prefix)
    src = os.path.join(root, "in")
    os.makedirs(src)
    with ThreadPoolExecutor(max_workers=2) as ex:
        jobs = [ex.submit(build, root)] if build is not None else []
        jobs.append(ex.submit(_stage_arrival_batches, stage_df, batch_col, src, n_batches))
        for job in jobs:
            job.result()
    return root


def streaming_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract query: seed the dedup state with 80% of the corpus
    (``doc_id % 5 != 0``), stream the remaining 20% in three
    deterministic arrival batches (``(doc_id div 5) % 3``, file
    modification times pinned so the file source drains them in order),
    and return every arriving document's dedup decision.

    The batch split and ordering are deterministic functions of doc_id,
    which is what lets a SQL oracle reproduce the sequential semantics:
    a document's candidate set is the seeded corpus plus arriving
    documents from strictly earlier batches. BECAUSE the order is a
    pure function of the data, the backlog drains through the
    single-drain :func:`stream_incremental_dedup_ordered` (one
    micro-batch, the order predicate inside the band join) — decisions
    identical to the one-physical-batch-per-arrival general operator
    (``tests/test_streaming.py`` proves the equivalence).
    """
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    tmp = _bootstrap(
        "stream_dedup_boot_",
        lambda root: materialize_stream_dedup_state(
            docs.filter(F.col("doc_id") % 5 != 0), f"{root}/state"
        ),
        docs.filter(F.col("doc_id") % 5 == 0),
        F.expr("(doc_id div 5) % 3"),
    )
    stream_incremental_dedup_ordered(
        spark, f"{tmp}/in", f"{tmp}/state", f"{tmp}/ckpt", "(doc_id div 5) % 3"
    )
    return read_stream_dedup_decisions(spark, f"{tmp}/state").orderBy("doc_id")


# -- streaming search-index maintenance ---------------------------------------


def stream_search_index(
    spark: SparkSession,
    source_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    timeout_s: int = 300,
    max_files_per_trigger: int | None = 1,
) -> None:
    """Exactly-once streaming maintenance of the inverted search index:
    each micro-batch of arriving documents writes its posting rows and
    its document count to ``batch_id=<n>`` partitions (the
    ``stream_cms_sketch`` layout — a crash-replayed batch overwrites
    itself, so postings can never double and the corpus size never
    double-counts). Weights are NOT stored — exactly as the batch
    lifecycle (``search.materialize_search_index``) decides, the reader
    derives IDF from the merged postings + summed counts, so every
    query batch ranks with the index as of the latest drained batch.
    """
    from ..operators.search import posting_lists

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        posts = posting_lists(batch_df)
        posts.write.mode("overwrite").parquet(
            f"{state_dir}/postings/batch_id={batch_id}"
        )
        # count over POSTING rows (docs that produced ≥1 term) — the same
        # N convention search.term_weights uses inline, so a token-less
        # doc can never skew the streamed IDF scale off the batch ranking
        posts.agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs")
        ).write.mode("overwrite").parquet(f"{state_dir}/meta/batch_id={batch_id}")

    raw = _file_stream(spark, DOCUMENTS_DDL, source_dir, max_files_per_trigger)
    _drain(raw, write_batch, checkpoint_dir, "stream_search_index", timeout_s)


def read_stream_search_index(spark: SparkSession, state_dir: str):
    """(postings, weights) from the streamed state — the same read-time
    IDF derivation as ``search.read_search_index``, with the corpus
    size summed over the per-batch counts (sum is replay-safe because
    each batch's count lives in its own overwritten partition)."""
    from ..operators.search import WEIGHT_SCALE

    posts = spark.read.parquet(f"{state_dir}/postings").drop("batch_id")
    n_row = (
        spark.read.parquet(f"{state_dir}/meta")
        .agg(F.sum("n_docs").cast("long").alias("n_docs"))
    )
    df_tab = posts.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    wt = df_tab.crossJoin(F.broadcast(n_row)).select(
        "term",
        "df",
        F.expr(f"(n_docs * {WEIGHT_SCALE}) div df").cast("long").alias("weight"),
    )
    return posts, wt


def streaming_search_topk(spark: SparkSession, sf_dir: str, k: int = 5) -> DataFrame:
    """Driver-contract query: stream the candidate corpus
    (``doc_id % 100 != 0``) into the index state in three deterministic
    arrival batches, then run the held-out queries against the drained
    index. Because the index is pure merged state (postings + counts),
    the result is EXACTLY the batch ``lexical_search_topk`` — the
    oracle is the same SQL.
    """
    from pyspark.sql import Window

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    tmp = _bootstrap(
        "stream_search_", None, docs.filter(F.col("doc_id") % 100 != 0), F.expr("doc_id % 3")
    )
    stream_search_index(spark, f"{tmp}/in", f"{tmp}/state", f"{tmp}/ckpt")

    from ..operators.search import posting_lists

    posts, wt = read_stream_search_index(spark, f"{tmp}/state")
    q_terms = posting_lists(docs.filter(F.col("doc_id") % 100 == 0)).select(
        F.col("doc_id").alias("query_id"), "term"
    )
    matched = (
        posts.join(F.broadcast(wt), "term")
        .join(F.broadcast(q_terms), "term")
        .groupBy("query_id", "doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("shared_terms"),
            F.sum("weight").cast("long").alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        matched.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


# -- streaming classifier quality gate ----------------------------------------


def stream_quality_gate(
    spark: SparkSession,
    source_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    timeout_s: int = 300,
    max_files_per_trigger: int | None = 1,
) -> None:
    """Exactly-once streaming quality gate: every arriving micro-batch of
    documents is scored by the hashed n-gram classifier (the same
    map-only expression projection the batch gate runs —
    ``operators/classify.with_classifier_score``) and ROUTED:

    - per-document decisions to ``decisions/batch_id=<n>``;
    - rejected documents' full rows to ``quarantine/batch_id=<n>`` —
      the streaming sibling of the batch quarantine sink
      (``quality.quarantine``; reference keeps failing rows too,
      ``lambda/data_quality_monitor/lambda_function.py:455-496``).

    Per-batch partitions make crash replay idempotent (a replayed batch
    overwrites exactly its own two partitions — the CMS/HLL/dedup-state
    layout), and scoring is pure per-row expressions, so the gate adds
    ZERO shuffles to the stream: at 100 TB/day the cost is the scan the
    ingest already pays, and the decision/quarantine writes partition by
    batch naturally."""
    from ..operators.classify import with_classifier_score

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # A single-file micro-batch arrives as ONE partition, which would
        # serialize the md5 feature-hash fold on one core. spread()
        # persists the repartitioned batch (the cache is the optimizer
        # barrier — scoring attaches ABOVE it, or Catalyst pushes the
        # projection back through the exchange onto the 1-task scan).
        from ..scale import spread

        spreaded = spread(batch_df, "doc_id")
        # Persist ABOVE the scoring projection, not just below it: the
        # spread cache alone made both sinks recompute the md5
        # feature-hash fold (profiled as two ~0.7s scoring jobs per
        # batch) — and launching them concurrently on a cold cache
        # still double-computes, because racing jobs materialize
        # overlapping partitions independently. So: cache the scored
        # rows, run the decisions write FIRST (its job populates the
        # cache — the arrays-write pattern of the dedup writer, no
        # separate count() pass), then the quarantine write is a cache
        # read + filter.
        scored = with_classifier_score(spreaded).persist()
        try:
            scored.select(
                "doc_id", "source", "n_features", "score_sum", "keep"
            ).write.mode("overwrite").parquet(
                f"{state_dir}/decisions/batch_id={batch_id}"
            )
            scored.filter(~F.col("keep")).drop(
                "n_features", "score_sum", "keep"
            ).write.mode("overwrite").parquet(
                f"{state_dir}/quarantine/batch_id={batch_id}"
            )
        finally:
            scored.unpersist()
            spreaded.unpersist()

    raw = _file_stream(spark, DOCUMENTS_DDL, source_dir, max_files_per_trigger)
    _drain(raw, write_batch, checkpoint_dir, "stream_quality_gate", timeout_s)


def read_stream_gate_decisions(spark: SparkSession, state_dir: str) -> DataFrame:
    """All per-batch gate decisions; ``batch_id`` is the partition column."""
    return spark.read.parquet(f"{state_dir}/decisions")


def streaming_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract query: stream the corpus through the classifier
    gate in three deterministic arrival batches (``doc_id % 3``, file
    mtimes pinned so the file source drains them in order) and report
    per-(arrival batch, source) routing: docs, kept, quarantined, keep
    rate, and the integer score sum.

    The batch split is a function of doc_id, so the SQL oracle
    reproduces it exactly; the keep decision is the integer classifier
    gate — no floats anywhere in the routed decision."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    tmp = _bootstrap("stream_gate_", None, docs, F.expr("doc_id % 3"))
    stream_quality_gate(spark, f"{tmp}/in", f"{tmp}/state", f"{tmp}/ckpt")
    dec = read_stream_gate_decisions(spark, f"{tmp}/state")
    return (
        dec.groupBy(
            F.col("batch_id").cast("long").alias("arrival_batch"), F.col("source")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("docs"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("long").alias("kept_docs"),
            F.sum(F.when(~F.col("keep"), 1).otherwise(0))
            .cast("long")
            .alias("quarantined_docs"),
            F.sum("score_sum").cast("long").alias("total_score"),
        )
        .select(
            "arrival_batch",
            "source",
            "docs",
            "kept_docs",
            "quarantined_docs",
            (F.col("kept_docs").cast("double") / F.col("docs").cast("double")).alias(
                "keep_rate"
            ),
            "total_score",
        )
        .orderBy("arrival_batch", "source")
    )


# -- streaming ANN index maintenance ------------------------------------------

EMBEDDINGS_DDL = "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"


def stream_ann_index(
    spark: SparkSession,
    source_dir: str,
    lake,
    snapshot: str,
    checkpoint_dir: str,
    timeout_s: int = 300,
    max_files_per_trigger: int | None = 1,
) -> None:
    """Exactly-once streaming maintenance of the materialized IVF+PQ
    index: each arriving micro-batch of vectors is assigned + PQ-encoded
    against the FROZEN stored quantizers (map-only, broadcast quantizer
    tables — the same kernel as ``similarity.ann_index_append``) and
    written to a ``batch_id=<n>`` partition of the SAME encoded gold
    table batch appends target. A crash-replayed batch overwrites
    exactly its own partition, so a vector can never be encoded twice —
    the blind-append race the batch ``mode("append")`` path would have
    under replay is structurally impossible here.

    Quantizers stay frozen across the stream (the FAISS ``add()``
    contract); retraining is a new snapshot, not a stream concern. At
    100 TB the per-batch cost is the batch scan + two broadcast joins —
    no corpus-side work ever happens on the hot path."""
    from ..operators.similarity import encode_for_index

    cents = lake.read(spark, "gold", f"ann_{snapshot}_centroids")
    codebook = lake.read(spark, "gold", f"ann_{snapshot}_codebook")
    table_path = lake.path("gold", f"ann_{snapshot}_encoded")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        encode_for_index(batch_df, cents, codebook).write.mode("overwrite").parquet(
            f"{table_path}/batch_id={batch_id}"
        )

    raw = _file_stream(spark, EMBEDDINGS_DDL, source_dir, max_files_per_trigger)
    _drain(raw, write_batch, checkpoint_dir, "stream_ann_index", timeout_s)


def streaming_ann_topk(spark: SparkSession, sf_dir: str, k: int = 5) -> DataFrame:
    """Driver-contract query: freeze the quantizers (the pure ``train()``
    half of ``similarity.materialize_ann_index``), stream the ENTIRE
    vector corpus into the encoded table, then run the held-out queries
    (``vec_id % 100 == 0``) against the drained index. Because encoding
    against frozen quantizers is a pure per-vector function, arrival
    order cannot matter — so the backlog files drain in ONE availableNow
    micro-batch (``max_files_per_trigger=None``; the per-batch general
    path and its crash replay stay covered by the operator tests) and
    the drained table is EXACTLY the batch-materialized one — the
    result, and the oracle, are the inline ``ann_ivfpq_topk``."""
    from ..datalake import Lake
    from ..operators.similarity import ann_index_topk, materialize_ann_index

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    tmp = _bootstrap(
        "stream_ann_boot_",
        lambda root: materialize_ann_index(
            emb, Lake(os.path.join(root, "lake")), "s1", include_corpus=False
        ),
        emb,
        F.expr("vec_id % 3"),
    )
    lake = Lake(os.path.join(tmp, "lake"))
    stream_ann_index(spark, f"{tmp}/in", lake, "s1", f"{tmp}/ckpt", max_files_per_trigger=None)
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return ann_index_topk(queries, emb, spark, lake, snapshot="s1", k=k)


# -- streaming feature-store maintenance --------------------------------------


#: Staged-events DDL for the feature-upsert stream: the harness stages
#: the batch loader's derived integer-µs form, so the stream needs no
#: timestamp-type probe.
FEATURE_EVENTS_DDL = (
    "event_id bigint, ts_us bigint, user_id bigint, event_type string, value double"
)


def stream_feature_upsert(
    spark: SparkSession,
    source_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    timeout_s: int = 300,
    max_files_per_trigger: int | None = 1,
) -> None:
    """Exactly-once streaming maintenance of the daily-user feature
    group (``featurestore.daily_user_features``): each arriving
    micro-batch of events aggregates to per-``(user_id, event_date)``
    **mergeable partials** written to its own ``batch_id=<n>`` partition
    of the offline store — the CMS/HLL/dedup-state layout, so a
    crash-replayed batch overwrites exactly its own partition and a
    feature partial can never double-count.

    The partial schema is chosen so the merged features are BIT-EXACTLY
    the batch ``daily_user_features`` regardless of how a user's day
    splits across arrival batches: counts and conditional counts sum;
    the money sum stays DECIMAL until the final cast (decimal addition
    is associative, so partial-then-merge equals one global sum — the
    same determinism argument as ``functions.money_sum``); distinct
    event types merge as sets; ``last_event_us`` is a max of maxes; the
    average derives from (decimal sum, count) partials at read. This is
    the upsert half of the feature-store lifecycle — the PIT join and
    online view read the merged result (:func:`read_stream_features`).

    At 100 TB/day the per-batch cost is one map-side-combined agg over
    the batch (state never rescans), and the merge-on-read is a
    partial-aggregate shuffle over partial rows, not events.
    """
    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        partial = (
            batch_df.withColumn(
                "event_date",
                F.expr("date_add(date'1970-01-01', cast(ts_us div 86400000000 as int))"),
            )
            .groupBy("user_id", "event_date")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_events"),
                F.collect_set("event_type").alias("event_types"),
                F.sum(F.col("value").cast("decimal(27,2)")).alias("value_sum"),
                F.count("value").cast("long").alias("n_values"),
                F.max("ts_us").alias("last_event_us"),
                F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
                .cast("long")
                .alias("purchase_events"),
            )
        )
        partial.write.mode("overwrite").parquet(
            f"{state_dir}/features/batch_id={batch_id}"
        )

    raw = _file_stream(spark, FEATURE_EVENTS_DDL, source_dir, max_files_per_trigger)
    _drain(raw, write_batch, checkpoint_dir, "stream_feature_upsert", timeout_s)


def read_stream_features(spark: SparkSession, state_dir: str) -> DataFrame:
    """Merge the streamed per-batch feature partials into the exact
    ``daily_user_features`` schema: sums of sums, max of maxes, set
    union for the distinct count, and the average from (decimal sum,
    count) — each step an identical IEEE-754/decimal op to the batch
    aggregation, so the merge is bit-reproducible."""
    partials = spark.read.parquet(f"{state_dir}/features")
    return partials.groupBy("user_id", "event_date").agg(
        F.sum("n_events").cast("long").alias("daily_events"),
        F.size(F.array_distinct(F.flatten(F.collect_list("event_types"))))
        .cast("long")
        .alias("distinct_event_types"),
        F.sum("value_sum").cast("double").alias("daily_value"),
        (F.sum("value_sum").cast("double") / F.sum("n_values")).alias("avg_event_value"),
        F.max("last_event_us").alias("last_event_us"),
        F.sum("purchase_events").cast("long").alias("purchase_events"),
    )


def streaming_feature_store_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract query: stream the events table into the feature
    store in three arrival batches split by ``event_id % 3`` — which
    scatters every user-day's events ACROSS batches, so the merge-on-
    read genuinely reconciles partials — then serve the online latest
    view. Result (and oracle) are exactly ``feature_store_latest``:
    the streamed upsert is proven equivalent to the batch
    materialization (also asserted bit-exactly in
    ``tests/test_streaming.py``)."""
    from ..datalake import load_events
    from ..featurestore import online_latest

    ev = load_events(spark, sf_dir).select(
        "event_id", "ts_us", "user_id", "event_type", "value"
    )
    tmp = _bootstrap("stream_feat_", None, ev, F.expr("event_id % 3"))
    stream_feature_upsert(spark, f"{tmp}/in", f"{tmp}/state", f"{tmp}/ckpt")
    return (
        online_latest(read_stream_features(spark, f"{tmp}/state"), "user_id", "event_date")
        .select(
            "user_id",
            "event_date",
            "daily_events",
            "distinct_event_types",
            "daily_value",
            "avg_event_value",
            "last_event_us",
            "purchase_events",
        )
        .orderBy("user_id")
    )


# -- streaming CDC changelog apply --------------------------------------------


def stream_cdc_changes(
    spark: SparkSession,
    source_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    schema_ddl: str,
    key_cols: tuple[str, ...],
    ts_col: str,
    op_col: str = "op",
    tiebreak_cols: tuple[str, ...] = (),
    timeout_s: int = 300,
    max_files_per_trigger: int | None = None,
) -> None:
    """Exactly-once streaming consumption of a CDC changelog (the
    streaming face of :func:`~dataengineeringpipeline_spark.scd.cdc_apply`):
    each micro-batch collapses to its latest-per-key change rows —
    tombstones included — and lands in a ``batch_id=<n>`` partition, so
    a crash-replayed batch overwrites itself (the ``stream_cms_sketch``
    layout).

    No ordered drain is needed, unlike the dedup stream: "latest change
    per key by ``(ts, *tiebreaks)``" is an ASSOCIATIVE merge, so batch
    partials combine at read in any arrival interleaving and the result
    is bit-identical to batch-applying the whole changelog at once.
    State per batch is at most one row per key the batch touched —
    intra-batch churn never persists, which is what keeps a hot-key
    firehose (one key updated millions of times an hour) from bloating
    the state at 100 TB.
    """
    from pyspark.sql.window import Window

    order = [F.col(ts_col).desc(), *[F.col(c).desc() for c in tiebreak_cols]]
    w = Window.partitionBy(*key_cols).orderBy(*order)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
            .write.mode("overwrite")
            .parquet(f"{state_dir}/batch_id={batch_id}")
        )

    raw = _file_stream(spark, schema_ddl, source_dir, max_files_per_trigger)
    _drain(raw, write_batch, checkpoint_dir, "stream_cdc_changes", timeout_s)


def read_cdc_snapshot(
    spark: SparkSession,
    snapshot: DataFrame,
    state_dir: str,
    key_cols: tuple[str, ...],
    ts_col: str,
    op_col: str = "op",
    tiebreak_cols: tuple[str, ...] = (),
) -> DataFrame:
    """The current latest-state table: the drained batch partials merged
    onto ``snapshot`` with the SAME batch operator (``scd.cdc_apply``) —
    one code path decides winner-per-key and tombstone semantics for
    both faces, so they cannot drift."""
    from ..scd import cdc_apply

    changes = spark.read.parquet(state_dir).drop("batch_id")
    return cdc_apply(
        snapshot,
        changes,
        key_cols=list(key_cols),
        ts_col=ts_col,
        op_col=op_col,
        tiebreak_cols=list(tiebreak_cols),
    )


def streaming_cdc_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract query: the streaming twin of
    ``scd.cdc_order_snapshot`` — the same pre-1999 order snapshot, the
    same 2001+ shipment changelog, but the changelog ARRIVES as three
    micro-batches (``order_key % 3``) through the exactly-once CDC
    stream. Because the latest-change merge is associative, the drained
    snapshot is bit-identical to the batch apply, and the oracle is the
    batch arithmetic."""
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    lineitem = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    snapshot = orders.filter(
        F.col("o_orderdate").cast("date") < F.lit("1999-01-01").cast("date")
    ).select(
        F.col("o_orderkey").alias("order_key"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("total_price"),
        F.col("o_orderdate").cast("date").alias("last_change"),
    )
    changes = lineitem.filter(
        F.col("l_shipdate").cast("date") >= F.lit("2001-01-01").cast("date")
    ).select(
        F.col("l_orderkey").alias("order_key"),
        F.when(F.col("l_returnflag") == "R", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.concat(F.lit("SHIPPED-"), F.col("l_linestatus")).alias("status"),
        F.col("l_extendedprice").alias("total_price"),
        F.col("l_shipdate").cast("date").alias("last_change"),
        F.col("l_linenumber").alias("line_number"),
    )
    tmp = _bootstrap("stream_cdc_", None, changes, F.expr("order_key % 3"))
    ddl = (
        "order_key bigint, op string, status string, total_price double,"
        " last_change date, line_number int"
    )
    stream_cdc_changes(
        spark,
        f"{tmp}/in",
        f"{tmp}/state",
        f"{tmp}/ckpt",
        ddl,
        key_cols=("order_key",),
        ts_col="last_change",
        tiebreak_cols=("line_number", "op", "status", "total_price"),
    )
    return read_cdc_snapshot(
        spark,
        snapshot,
        f"{tmp}/state",
        key_cols=("order_key",),
        ts_col="last_change",
        tiebreak_cols=("line_number", "op", "status", "total_price"),
    ).orderBy("order_key")


# -- streaming incremental view maintenance (IVM) -----------------------------


def stream_sales_partials(
    spark: SparkSession,
    source_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    schema_ddl: str,
    timeout_s: int = 300,
    max_files_per_trigger: int | None = None,
) -> None:
    """Streaming face of the IVM partials (``ivm.sales_partials``): each
    micro-batch of silver order rows collapses to its mergeable partial
    aggregates and lands in a ``batch_id=<n>`` partition — the same
    exactly-once-by-layout shape as the CMS/HLL/quantile/feature-store
    streams, and because partials merge by EXACT decimal addition, the
    merged-on-read summary is bit-identical to a batch recompute over
    every row ever streamed. A crash-replayed batch overwrites itself.
    """
    from .. import ivm

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        ivm.sales_partials(batch_df).write.mode("overwrite").parquet(
            f"{state_dir}/batch_id={batch_id}"
        )

    raw = _file_stream(spark, schema_ddl, source_dir, max_files_per_trigger)
    _drain(raw, write_batch, checkpoint_dir, "stream_sales_partials", timeout_s)


def streaming_daily_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract query: stream the silver orders backlog through
    the IVM partials stream in three arrival batches and read the daily
    summary off the merged batch partials. The oracle is the batch
    ``daily_sales_summary`` SQL — streamed maintenance must equal the
    full recompute bit-for-bit or the view is corrupt."""
    from .. import cleaning, ivm

    silver = cleaning.clean_orders(
        spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    ).select(
        "order_key", "customer_key", "order_date", "total_price", "is_complete_order"
    )
    tmp = _bootstrap("stream_ivm_", None, silver, F.expr("order_key % 3"))
    ddl = (
        "order_key bigint, customer_key bigint, order_date date,"
        " total_price double, is_complete_order boolean"
    )
    stream_sales_partials(spark, f"{tmp}/in", f"{tmp}/state", f"{tmp}/ckpt", ddl)
    merged = ivm.reaggregate_partials(
        spark.read.parquet(f"{tmp}/state").drop("batch_id")
    )
    return ivm.daily_summary_from_partials(merged)


def stream_rule_partials(
    spark: SparkSession,
    rule,
    source_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    schema_ddl: str,
    timeout_s: int = 300,
    max_files_per_trigger: int | None = None,
) -> None:
    """Streaming face of the GENERIC rule-IVM compiler
    (``ivm.rule_partials``): each micro-batch of rows collapses to the
    configured rule's mergeable partials and lands in a
    ``batch_id=<n>`` partition — exactly-once by layout, crash replay
    overwrites itself — so ANY aggregation rule from the reference's
    config schema streams with the same machinery the hand-built
    families use, and the merged-on-read summary equals the batch rule
    compiler bit-for-bit."""
    from .. import ivm

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        ivm.rule_partials(batch_df, rule).write.mode("overwrite").parquet(
            f"{state_dir}/batch_id={batch_id}"
        )

    raw = _file_stream(spark, schema_ddl, source_dir, max_files_per_trigger)
    _drain(raw, write_batch, checkpoint_dir, "stream_rule_partials", timeout_s)


def streaming_rule_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract query: stream the silver backlog through the
    configured demo rule's partials in three arrival batches and fold
    the summary off the drained state. Oracle = the batch
    ``rule_driven_aggregation`` SQL — config-driven streaming ==
    config-driven batch, bit-for-bit."""
    from .. import cleaning, ivm
    from ..rules import MONTHLY_REVENUE_RULE as rule

    silver = cleaning.clean_orders(
        spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    ).select(
        "order_key",
        "customer_key",
        "order_year",
        "order_month",
        "order_status",
        "total_price",
        "is_complete_order",
    )
    tmp = _bootstrap("stream_rule_", None, silver, F.expr("order_key % 3"))
    ddl = (
        "order_key bigint, customer_key bigint, order_year int, order_month int,"
        " order_status string, total_price double, is_complete_order boolean"
    )
    stream_rule_partials(spark, rule, f"{tmp}/in", f"{tmp}/state", f"{tmp}/ckpt", ddl)
    stacked = spark.read.parquet(f"{tmp}/state").drop("batch_id")
    return ivm.rule_summary_from_partials(stacked, rule).orderBy(
        *rule.group_by_columns
    )


def streaming_quartile_rule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract query (STREAMING face of the percentile rule):
    the silver backlog streams through ``rules.QUARTILE_RULE``'s
    partials — each micro-batch lands its value-histogram partials in a
    ``batch_id=<n>`` partition via the SAME generic harness every
    configured rule uses — and exact quartiles fold off the drained
    state. Histograms merge by per-value count addition, so the
    streamed state is bit-identical to the one-pass build and the
    oracle is shared with ``rule_quartile_aggregation``."""
    from .. import cleaning, ivm
    from ..cache import tracked_persist
    from ..rules import QUARTILE_RULE as rule

    silver = cleaning.clean_orders(
        spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    ).select(
        "order_key",
        "order_status",
        "days_since_order",
        "total_price",
        "is_complete_order",
    )
    tmp = _bootstrap("stream_pctl_", None, silver, F.expr("order_key % 3"))
    ddl = (
        "order_key bigint, order_status string, days_since_order int,"
        " total_price double, is_complete_order boolean"
    )
    stream_rule_partials(spark, rule, f"{tmp}/in", f"{tmp}/state", f"{tmp}/ckpt", ddl)
    # the main-measure fold and the histogram fold both read the drained
    # state — persist the (group-sized) stack so it loads once
    stacked = tracked_persist(
        spark.read.parquet(f"{tmp}/state").drop("batch_id")
    )
    return ivm.rule_summary_from_partials(stacked, rule).orderBy(
        *rule.group_by_columns
    )


def streaming_ndv_rule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract query (STREAMING face of the approx-NDV rule):
    the silver backlog streams through ``rules.NDV_RULE``'s partials —
    each micro-batch lands its HLL register-map partials in a
    ``batch_id=<n>`` partition via the SAME generic harness every
    configured rule uses — and the integer digest folds off the drained
    state. Registers merge by element-wise MAX, so the streamed sketch
    state is bit-identical to the one-pass build and the oracle is
    shared with ``rule_ndv_aggregation``."""
    from .. import cleaning, ivm
    from ..cache import tracked_persist
    from ..rules import NDV_RULE as rule

    silver = cleaning.clean_orders(
        spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    ).select(
        "order_key", "customer_key", "order_status", "total_price", "is_complete_order"
    )
    tmp = _bootstrap("stream_ndv_", None, silver, F.expr("order_key % 3"))
    ddl = (
        "order_key bigint, customer_key bigint, order_status string,"
        " total_price double, is_complete_order boolean"
    )
    stream_rule_partials(spark, rule, f"{tmp}/in", f"{tmp}/state", f"{tmp}/ckpt", ddl)
    # the profile's count fold and register digest both read the drained
    # state — persist the (group-sized) stack so it loads once
    stacked = tracked_persist(spark.read.parquet(f"{tmp}/state").drop("batch_id"))
    return ivm.rule_ndv_profile(stacked, rule).orderBy(*rule.group_by_columns)


def stream_stats_drift(
    spark: SparkSession,
    source_dir: str,
    snapshot_stats_path: str,
    state_dir: str,
    checkpoint_dir: str,
    schema_ddl: str,
    timeout_s: int = 300,
    max_files_per_trigger: int | None = None,
) -> None:
    """Streaming ANALYZE-to-ANALYZE drift: each micro-batch lands its
    MERGEABLE stats partials (``quality.stats_counter_partials`` +
    ``stats_distinct_partials``) in ``batch_id=<n>`` partitions — the
    same exactly-once-by-layout shape as the IVM/sketch streams; a
    crash-replayed batch overwrites itself — then publishes the
    CUMULATIVE drift of everything streamed so far against the LATEST
    dated snapshot in ``snapshot_stats_path`` (a persisted
    ``table_stats`` lake table, the ``analyze_join_keys``
    analyze-once-advise-many pattern) to ``drift/batch_id=<n>``.

    Because counter partials merge exactly and the distinct-value state
    is the exact-NDV irreducible minimum, the drift after the final
    batch is bit-identical to the batch
    ``quality.stats_drift(snapshot_df, all_streamed_rows)`` — streamed
    monitoring never diverges from the nightly report it replaces.
    (During a crash replay an intermediate batch's drift row may
    transiently include partials of later already-written batches; the
    final batch's drift is always over the complete drained state.)
    """
    from .. import quality

    snap = spark.read.parquet(snapshot_stats_path)
    latest_date = snap.agg(F.max("snapshot_date")).collect()[0][0]
    latest = snap.filter(F.col("snapshot_date") == F.lit(latest_date)).select(
        "column_name", "rows", "non_null", "nulls", "ndv",
        "min_num", "max_num", "min_str", "max_str", "avg_len",
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        quality.stats_counter_partials(batch_df).write.mode("overwrite").parquet(
            f"{state_dir}/counters/batch_id={batch_id}"
        )
        quality.stats_distinct_partials(batch_df).write.mode("overwrite").parquet(
            f"{state_dir}/distincts/batch_id={batch_id}"
        )
        merged = quality.stats_from_partials(
            spark.read.parquet(f"{state_dir}/counters").drop("batch_id"),
            spark.read.parquet(f"{state_dir}/distincts").drop("batch_id"),
        )
        quality.stats_drift_from_stats(latest, merged).write.mode(
            "overwrite"
        ).parquet(f"{state_dir}/drift/batch_id={batch_id}")

    raw = _file_stream(spark, schema_ddl, source_dir, max_files_per_trigger)
    _drain(raw, write_batch, checkpoint_dir, "stream_stats_drift", timeout_s)


def streaming_stats_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract query: persist two dated ANALYZE snapshots of the
    orders table (pre-1996 decoy + pre-1997 latest — the stream must
    pick the latest), stream the 1997+ rows in three arrival batches
    through :func:`stream_stats_drift`, and return the final batch's
    cumulative drift. The oracle is the batch ``stats_drift_report``
    SQL: the streamed drift must equal the one-shot ANALYZE diff
    bit-for-bit."""
    from .. import quality
    from ..datalake import Lake

    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    d = F.col("o_orderdate").cast("date")
    old = orders.filter(d < F.lit("1997-01-01").cast("date"))
    new = orders.filter(d >= F.lit("1997-01-01").cast("date"))

    def _snapshot_stats(root: str) -> None:
        blake = Lake(os.path.join(root, "lake"))
        # the decoy's only job is to exercise latest-snapshot selection,
        # so it ANALYZEs a tiny early slice, not half the table
        for snap_date, frame in (
            ("1993-01-01", orders.filter(d < F.lit("1993-01-01").cast("date"))),
            ("1997-01-01", old),
        ):
            blake.write(
                quality.table_stats(frame)
                .withColumn("table_name", F.lit("orders"))
                .withColumn("snapshot_date", F.lit(snap_date).cast("date")),
                "gold",
                "stats_snapshots",
                partition_by=("snapshot_date",),
            )

    tmp = _bootstrap("stream_stats_boot_", _snapshot_stats, new, F.expr("o_orderkey % 3"))
    lake = Lake(os.path.join(tmp, "lake"))
    ddl = (
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string"
    )
    stream_stats_drift(
        spark,
        f"{tmp}/in",
        lake.path("gold", "stats_snapshots"),
        f"{tmp}/state",
        f"{tmp}/ckpt",
        ddl,
    )
    drift = spark.read.parquet(f"{tmp}/state/drift")
    last = drift.agg(F.max("batch_id")).collect()[0][0]
    return (
        drift.filter(F.col("batch_id") == last)
        .drop("batch_id")
        .orderBy("column_name")
    )


# -- streaming CDC lake merge (changelog micro-batches through
#    Lake.merge_changes — the Type-1 sibling of the streaming SCD2 face) ------


def stream_cdc_merge(
    spark: SparkSession,
    source_dir: str,
    lake,
    layer: str,
    table: str,
    checkpoint_dir: str,
    schema_ddl: str,
    key_col: str,
    ts_col: str,
    op_col: str = "op",
    tiebreak_cols: tuple[str, ...] = (),
    timeout_s: int = 300,
    max_files_per_trigger: int | None = None,
    evolve_schema: bool = False,
    update_cols: tuple[str, ...] = (),
    lock_wait_s: float = DEFAULT_STREAM_LOCK_WAIT_S,
    snapshot_each_batch: bool = False,
) -> None:
    """Streaming face of :meth:`Lake.merge_changes`: each CDC changelog
    micro-batch MERGEs physically into the lake table (footer-pruned
    rewrite + hard-linked untouched files), exactly-once via the
    applied-batch ledger riding the merge's atomic swap — the Type-1
    latest-state sibling of :func:`stream_scd2_updates`, for pipelines
    that want the live table maintained continuously instead of
    merge-on-read over batch partials (:func:`stream_cdc_changes`).

    Ordering: within a batch, latest-per-key by ``(ts, *tiebreaks)``
    wins (one code path: ``scd.cdc_apply``). Across batches the merge
    is LAST-WRITER-WINS per key — deliver a key's changes in order
    (per-key-ordered transports: Debezium, Kinesis partition key) or in
    per-key-complete batches for parity with the one-shot batch apply.

    ``snapshot_each_batch=True`` commits a numbered table snapshot
    after every APPLIED micro-batch (hard-linked, O(files) metadata —
    the time-travel/AS-OF trail for the continuously maintained table).
    A crash-replayed batch snapshots nothing: its merge is a ledger-hit
    no-op, so the version history stays one-snapshot-per-applied-batch.
    Snapshot growth is bounded by default in the streaming context:
    :func:`_queued` gives the stream's lake
    ``keep_snapshots=DEFAULT_STREAM_KEEP_SNAPSHOTS`` unless the caller
    configured a bound — per-micro-batch history cannot grow without
    limit (the caller's own ``keep_snapshots`` wins when set).
    """

    lake = _queued(lake, lock_wait_s)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        rep = lake.merge_changes(
            spark,
            layer,
            table,
            batch_df,
            key_col=key_col,
            ts_col=ts_col,
            op_col=op_col,
            tiebreak_cols=tiebreak_cols,
            batch_id=f"cdc-{batch_id}",
            evolve_schema=evolve_schema,
            update_cols=update_cols,
        )
        if snapshot_each_batch and not rep.get("skipped_replay"):
            lake.snapshot_version(layer, table)

    raw = _file_stream(spark, schema_ddl, source_dir, max_files_per_trigger)
    _drain(raw, write_batch, checkpoint_dir, "stream_cdc_merge", timeout_s)


def streaming_lake_cdc_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract query: the PHYSICAL streaming CDC face — the same
    pre-1999 order snapshot and 2001+ shipment changelog as
    ``lake_cdc_merged_snapshot``, but the changelog ARRIVES as three
    per-key-complete micro-batches (``order_key % 3``) that each MERGE
    into the key-clustered lake table through the exactly-once streaming
    merge. Batches touch disjoint key sets, so the final table is
    bit-identical to the single-batch lake merge and the oracle is the
    shared batch-apply arithmetic."""
    from ..datalake import Lake

    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    lineitem = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    snapshot = orders.filter(
        F.col("o_orderdate").cast("date") < F.lit("1999-01-01").cast("date")
    ).select(
        F.col("o_orderkey").alias("order_key"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("total_price"),
        F.col("o_orderdate").cast("date").alias("last_change"),
    )
    changes = lineitem.filter(
        F.col("l_shipdate").cast("date") >= F.lit("2001-01-01").cast("date")
    ).select(
        F.col("l_orderkey").alias("order_key"),
        F.when(F.col("l_returnflag") == "R", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.concat(F.lit("SHIPPED-"), F.col("l_linestatus")).alias("status"),
        F.col("l_extendedprice").alias("total_price"),
        F.col("l_shipdate").cast("date").alias("last_change"),
        F.col("l_linenumber").alias("line_number"),
    )
    tmp = _bootstrap(
        "stream_cdc_merge_boot_",
        lambda root: Lake(os.path.join(root, "lake")).write_clustered(
            snapshot, "silver", "orders_current", ("order_key",)
        ),
        changes,
        F.expr("order_key % 3"),
    )
    lake = Lake(os.path.join(tmp, "lake"))
    ddl = (
        "order_key bigint, op string, status string, total_price double,"
        " last_change date, line_number int"
    )
    stream_cdc_merge(
        spark,
        f"{tmp}/in",
        lake,
        "silver",
        "orders_current",
        os.path.join(tmp, "ckpt"),
        ddl,
        key_col="order_key",
        ts_col="last_change",
        tiebreak_cols=("line_number", "op", "status", "total_price"),
        max_files_per_trigger=1,
    )
    return (
        lake.read(spark, "silver", "orders_current")
        .select("order_key", "status", "total_price", "last_change")
        .orderBy("order_key")
    )


def stream_gold_refresh(
    spark: SparkSession,
    source_dir: str,
    lake,
    silver_customers: DataFrame,
    checkpoint_dir: str,
    schema_ddl: str,
    timeout_s: int = 300,
    max_files_per_trigger: int | None = None,
    lock_wait_s: float = DEFAULT_STREAM_LOCK_WAIT_S,
) -> None:
    """Streaming face of :func:`ivm.refresh_customer_analytics`: each
    micro-batch of silver orders refreshes the LIVE customer-360 gold
    lake table in place — partials absorb the batch, the touched keys'
    full rows re-derive and MERGE — exactly-once end to end via the
    per-batch ledgers on BOTH tables (a crash-replayed batch is a
    no-op on the partials and re-derives identical replacement rows
    for the gold merge). Unlike CDC, NO batch-split discipline is
    required: partials merge additively and every refresh recomputes a
    key's row from its full merged state, so any partitioning of the
    delta stream converges to the batch gold table bit-for-bit."""
    from .. import ivm

    lake = _queued(lake, lock_wait_s)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        ivm.refresh_customer_analytics(
            lake,
            spark,
            silver_customers,
            batch_df,
            refresh_seq=batch_id,
            batch_id=f"goldrefresh-{batch_id}",
        )

    raw = _file_stream(spark, schema_ddl, source_dir, max_files_per_trigger)
    _drain(raw, write_batch, checkpoint_dir, "stream_gold_refresh", timeout_s)


def stream_rule_summary_refresh(
    spark: SparkSession,
    rule,
    partition_col: str,
    source_dir: str,
    lake,
    checkpoint_dir: str,
    schema_ddl: str,
    timeout_s: int = 300,
    max_files_per_trigger: int | None = None,
    lock_wait_s: float = DEFAULT_STREAM_LOCK_WAIT_S,
) -> None:
    """Streaming face of :func:`ivm.refresh_rule_summary`: each
    micro-batch refreshes ANY configured rule's live summary lake table
    in place — partials absorb the batch, touched groups re-fold and
    MERGE on the composite grain key — exactly-once end to end via the
    per-batch ledgers on both tables. Like the gold refresh (and unlike
    CDC), no batch-split discipline is required: partials merge
    additively and every refresh re-folds a group from its full merged
    state, so any partitioning of the delta stream converges to the
    batch rule compiler bit-for-bit."""
    from .. import ivm

    lake = _queued(lake, lock_wait_s)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        ivm.refresh_rule_summary(
            lake,
            spark,
            rule,
            batch_df,
            partition_col,
            refresh_seq=batch_id,
            batch_id=f"rulerefresh-{batch_id}",
        )

    raw = _file_stream(spark, schema_ddl, source_dir, max_files_per_trigger)
    _drain(raw, write_batch, checkpoint_dir, "stream_rule_summary_refresh", timeout_s)


def streaming_rule_summary_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract query: the STREAMING face of the generic
    rule-summary refresh — bootstrap the demo rule's summary table from
    the pre-cutoff orders, stream the post-cutoff delta through
    :func:`stream_rule_summary_refresh` as three interleaved
    micro-batches, read the live table back. Shares the batch
    ``rule_driven_aggregation`` oracle."""
    from .. import cleaning, ivm
    from ..datalake import Lake
    from ..rules import MONTHLY_REVENUE_RULE as rule

    silver = cleaning.clean_orders(
        spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    ).select(
        "order_key",
        "customer_key",
        "order_year",
        "order_month",
        "order_date",
        "order_status",
        "total_price",
        "is_complete_order",
    )
    d = F.col("order_date")
    lit_cut = F.lit("1998-06-01").cast("date")

    def _build_summary(root: str) -> None:
        # partials → summary is a data dependency (serial inside this
        # build); the arrival staging is independent of both
        blake = Lake(os.path.join(root, "lake"))
        ivm.maintain_rule_partials(blake, silver.filter(d < lit_cut), rule, "order_year")
        initial = ivm.rule_summary_from_partials(
            blake.read(spark, "gold", f"{rule.name}_partials"), rule
        )
        blake.write(initial, "gold", f"{rule.name}_summary")

    tmp = _bootstrap(
        "stream_rule_summary_boot_", _build_summary, silver.filter(d >= lit_cut),
        F.expr("order_key % 3"),
    )
    lake = Lake(os.path.join(tmp, "lake"))
    ddl = (
        "order_key bigint, customer_key bigint, order_year int, order_month int,"
        " order_date date, order_status string, total_price double,"
        " is_complete_order boolean"
    )
    stream_rule_summary_refresh(
        spark,
        rule,
        "order_year",
        f"{tmp}/in",
        lake,
        os.path.join(tmp, "ckpt"),
        ddl,
        max_files_per_trigger=1,
    )
    return lake.read(spark, "gold", f"{rule.name}_summary").orderBy(
        *rule.group_by_columns
    )


def streaming_gold_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract query: the STREAMING face of the in-place gold
    refresh — bootstrap the customer-360 table from the pre-cutoff
    orders, stream the post-cutoff delta through
    :func:`stream_gold_refresh` as three interleaved micro-batches
    (``order_key % 3`` — deliberately NOT per-key-complete: a customer's
    orders span batches and the row still converges because every
    refresh folds from the full merged partials), and read the live
    table back. Shares the FULL BATCH ``customer_analytics`` oracle.

    Bench note: this is the heaviest contract query by design — a full
    lifecycle (partials bootstrap, key-clustered gold build, THREE
    crash-safe in-place refreshes of ~4s each at sf0.1, final read).
    Each refresh pays the multi-action price of exactly-once
    maintenance (ledgered upsert + fold + ledgered merge); at 100 TB
    those same actions are delta-sized while a full gold rebuild is
    table-sized, which is the trade this query certifies."""
    from .. import cleaning, ivm
    from ..cache import tracked_persist
    from ..datalake import Lake

    # the dim side is re-joined in EVERY micro-batch's refresh (and the
    # bootstrap): persist it once for the query's lifetime
    silver_customers = tracked_persist(
        cleaning.clean_customers(
            spark.read.parquet(os.path.join(sf_dir, "customer.parquet")),
            spark.read.parquet(os.path.join(sf_dir, "nation.parquet")),
            spark.read.parquet(os.path.join(sf_dir, "region.parquet")),
        ).drop("geography")
    )
    silver_orders = cleaning.clean_orders(
        spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    ).select(
        "order_key",
        "customer_key",
        "order_year",
        "order_date",
        "total_price",
        "days_since_order",
        "order_size_category",
        "is_complete_order",
    )
    d = F.col("order_date")
    lit_cut = F.lit("1998-06-01").cast("date")

    def _build_gold(root: str) -> None:
        # partials → gold is a data dependency (serial inside this
        # build); the arrival staging is independent of both
        blake = Lake(os.path.join(root, "lake"))
        ivm.maintain_customer_partials(blake, silver_orders.filter(d < lit_cut))
        initial = ivm.customer_analytics_from_partials(
            silver_customers, blake.read(spark, "gold", "customer_partials")
        )
        blake.write(
            initial.repartitionByRange(16, "customer_key").sortWithinPartitions("customer_key"),
            "gold",
            "customer_analytics",
        )

    tmp = _bootstrap(
        "stream_gold_refresh_boot_", _build_gold, silver_orders.filter(d >= lit_cut),
        F.expr("order_key % 3"),
    )
    lake = Lake(os.path.join(tmp, "lake"))
    ddl = (
        "order_key bigint, customer_key bigint, order_year int,"
        " order_date date, total_price double, days_since_order int,"
        " order_size_category string, is_complete_order boolean"
    )
    stream_gold_refresh(
        spark,
        f"{tmp}/in",
        lake,
        silver_customers,
        os.path.join(tmp, "ckpt"),
        ddl,
        max_files_per_trigger=1,
    )
    return lake.read(spark, "gold", "customer_analytics").orderBy("customer_key")


# -- streaming SCD2 (dimension-update micro-batches through Lake.merge_scd2) --


def stream_scd2_updates(
    spark: SparkSession,
    source_dir: str,
    lake,
    layer: str,
    table: str,
    checkpoint_dir: str,
    schema_ddl: str,
    key_col: str,
    attr_cols: tuple[str, ...],
    ts_col: str,
    tiebreak_cols: tuple[str, ...] = (),
    carry_cols: tuple[str, ...] = (),
    timeout_s: int = 300,
    max_files_per_trigger: int | None = None,
    evolve_schema: bool = False,
    lock_wait_s: float = DEFAULT_STREAM_LOCK_WAIT_S,
) -> None:
    """Streaming face of :meth:`Lake.merge_scd2` — dimension updates
    arrive as micro-batches and each batch MERGEs into the SCD2 history
    table (the reference's customer-dimension SCD2 columns,
    ``bronze_to_silver_customers.py:159-174``, maintained continuously
    instead of by full refresh).

    Exactly-once: the checkpoint makes re-runs incremental, and each
    merge carries ``batch_id`` into the table's applied-batch ledger —
    written inside the staged tree, so it commits in the same atomic
    swap as the data. A crash-replayed batch whose merge committed
    before its checkpoint did is a no-op (``skipped_replay``), never a
    double-apply; foreachBatch ids are stable across checkpoint replays,
    which is what makes the ledger sound.

    Ordering note: within one batch, :func:`scd.scd2_apply_changes`
    splices late changes in-place, so any intra-batch order works. A
    change for a key landing in a LATER batch than a newer change for
    the same key re-derives that key's history again (openers are kept,
    suppressed duplicates are not) — deliver a key's changes in
    per-key-ordered batches (every real CDC transport: Debezium,
    Kinesis partition-key) for bit-exact parity with a one-shot apply.
    """

    lake = _queued(lake, lock_wait_s)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        lake.merge_scd2(
            spark,
            layer,
            table,
            batch_df,
            key_col=key_col,
            attr_cols=attr_cols,
            ts_col=ts_col,
            tiebreak_cols=tiebreak_cols,
            carry_cols=carry_cols,
            batch_id=f"scd2-{batch_id}",
            evolve_schema=evolve_schema,
        )

    raw = _file_stream(spark, schema_ddl, source_dir, max_files_per_trigger)
    _drain(raw, write_batch, checkpoint_dir, "stream_scd2_updates", timeout_s)


def streaming_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract query: the STREAMING twin of
    ``datalake.lake_scd2_merged_history`` — same pre-1997 seeded history,
    same 1997+ priority changes, but the changes ARRIVE as three
    micro-batches (split by ``customer_key % 3``, i.e. per-key-complete
    batches — each key's changes land in one batch, the per-key-ordered
    delivery every real CDC transport provides) through the exactly-once
    streaming SCD2 merge. Batches touch disjoint key sets, so the
    drained history is bit-identical to the single-batch lake merge and
    the oracle is shared with ``lake_scd2_merged_history``."""
    from ..datalake import Lake
    from ..scd import scd2_history

    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    changes = orders.select(
        F.col("o_custkey").alias("customer_key"),
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderdate").cast("date").alias("change_date"),
        F.col("o_orderkey").alias("order_key"),
    )
    split = F.lit("1997-01-01").cast("date")
    hist1 = scd2_history(
        changes.filter(F.col("change_date") < split),
        key_cols=["customer_key"],
        attr_cols=["priority"],
        ts_col="change_date",
        tiebreak_cols=["order_key"],
        carry_cols=["order_key"],
    )
    tmp = _bootstrap(
        "stream_scd2_boot_",
        lambda root: Lake(os.path.join(root, "lake")).write_clustered(
            hist1, "gold", "priority_history", ("customer_key",)
        ),
        changes.filter(F.col("change_date") >= split),
        F.expr("customer_key % 3"),
    )
    lake = Lake(os.path.join(tmp, "lake"))
    ddl = "customer_key bigint, priority string, change_date date, order_key bigint"
    stream_scd2_updates(
        spark,
        f"{tmp}/in",
        lake,
        "gold",
        "priority_history",
        os.path.join(tmp, "ckpt"),
        ddl,
        key_col="customer_key",
        attr_cols=("priority",),
        ts_col="change_date",
        tiebreak_cols=("order_key",),
        carry_cols=("order_key",),
    )
    return (
        lake.read(spark, "gold", "priority_history")
        .select(
            "customer_key",
            "priority",
            "order_key",
            "valid_from",
            "valid_to",
            "version",
            "is_current",
        )
        .orderBy("customer_key", "version")
    )
