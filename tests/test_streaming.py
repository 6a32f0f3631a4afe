"""Streaming semantics beyond the oracle gate: batch/stream equivalence,
append-mode watermark behavior (late windows withheld), incremental
file-source micro-batches."""

from __future__ import annotations

from pyspark.sql import functions as F

from dataengineeringpipeline_spark import events_analytics, streaming
from dataengineeringpipeline_spark.datalake import load_events


def test_stream_events_ts_matches_batch_loader(spark, sf_dir):
    """stream_events must derive the SAME integer-µs event time as
    load_events regardless of how the testdata parquet types ``ts``
    (raw-nanos BIGINT vs TIMESTAMP(MICROS)) — a type flip in a future
    round must not silently shear the stream off the batch twin again."""
    streaming.run_available_now(
        streaming.stream_events(spark, sf_dir).agg(
            F.min("ts_us").alias("lo"), F.max("ts_us").alias("hi"), F.count("*").alias("n")
        ),
        "t_ts_parity",
    )
    got = spark.table("t_ts_parity").collect()[0]
    want = load_events(spark, sf_dir).agg(
        F.min("ts_us").alias("lo"), F.max("ts_us").alias("hi"), F.count("*").alias("n")
    ).collect()[0]
    assert (got["lo"], got["hi"], got["n"]) == (want["lo"], want["hi"], want["n"])


def test_session_counts_stable_across_multi_batch_drain(spark, sf_dir, tmp_path):
    """streaming_session_counts' final answer must not depend on how many
    micro-batches the backlog drained in: split events across 3 files,
    drain with maxFilesPerTrigger=1 (update-mode sink then retains one row
    per user PER BATCH), and require per-user parity with the batch
    sessionizer."""
    import os as _os

    src = tmp_path / "multi"
    src.mkdir()
    ev = load_events(spark, sf_dir)
    lo, hi = ev.agg(F.min("ts_us"), F.max("ts_us")).collect()[0]
    step = (hi - lo) // 3 + 1
    # time-ordered tercile files with increasing mtimes: the file source
    # replays them as in-order micro-batches (the kernel's delivery
    # contract — sessions legitimately spanning file boundaries exercise
    # the carried state).
    for i in range(3):
        sub = src / f"part{i}"
        ev.filter(
            (F.col("ts_us") >= lo + i * step) & (F.col("ts_us") < lo + (i + 1) * step)
        ).select(
            "event_id", (F.col("ts_us") * 1000).alias("ts"), "user_id", "event_type",
            "value", "props",
        ).coalesce(1).write.mode("overwrite").parquet(str(sub))
        for root, _d, files in _os.walk(str(sub)):
            for f in files:
                _os.utime(_os.path.join(root, f), (1000 * (i + 1), 1000 * (i + 1)))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    stream = (
        spark.readStream.schema(streaming.EVENTS_DDL)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "part*"))
        .withColumn("ts_us", F.expr("ts div 1000"))
        .withColumn("event_ts", F.timestamp_micros(F.col("ts_us")))
    )
    streaming.run_available_now(
        streaming.sessionize_stream(stream), "t_multi_batch_sessions", output_mode="update"
    )
    t = spark.table("t_multi_batch_sessions")
    final = (
        t.groupBy("user_id")
        .agg(F.max(F.struct("events_seen", "sessions")).alias("s"))
        .select("user_id", F.col("s.sessions").alias("sessions"))
    )
    batch = (
        events_analytics.sessionize(ev)
        .groupBy("user_id")
        .agg(F.max("session_seq").alias("sessions"))
    )
    diff = final.join(batch, "user_id").filter(final["sessions"] != batch["sessions"]).count()
    assert diff == 0
    assert final.count() == batch.count()


def test_stream_equals_batch_hourly(spark, sf_dir):
    streaming.run_available_now(
        streaming.hourly_stream_counts(streaming.stream_events(spark, sf_dir)),
        "t_stream_hourly",
    )
    got = {
        r["window_start_us"]: (r["event_count"], r["error_count"])
        for r in spark.table("t_stream_hourly").collect()
    }
    batch = {
        (
            r["event_date"].toordinal() - 719_163  # date(1970,1,1).toordinal()
        ) * 86_400_000_000 + r["event_hour"] * 3_600_000_000: (
            r["event_count"],
            r["error_count"],
        )
        for r in events_analytics.hourly_event_summary(load_events(spark, sf_dir)).collect()
    }
    assert got == batch


def test_streaming_heavy_hitters_match_batch_topk(spark, sf_dir):
    """The drained streaming top-k per window equals the same ranking
    computed purely in batch over the loader — stream/batch parity for
    the windowed-counts state."""
    from pyspark.sql.window import Window

    got = streaming.streaming_heavy_hitters(spark, sf_dir, k=3).collect()
    ev = load_events(spark, sf_dir)
    counts = (
        ev.groupBy(
            ((F.col("ts_us") / 3_600_000_000).cast("long") * 3_600_000_000).alias(
                "window_start_us"
            ),
            "user_id",
        ).agg(F.count(F.lit(1)).alias("events"))
    )
    rnk = F.row_number().over(
        Window.partitionBy("window_start_us").orderBy(F.desc("events"), F.asc("user_id"))
    )
    want = (
        counts.withColumn("rnk", rnk.cast("int"))
        .filter(F.col("rnk") <= 3)
        .orderBy("window_start_us", "rnk")
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    # no window emits more than k rows; sparse windows emit what they have
    per_window: dict = {}
    for r in got:
        per_window[r["window_start_us"]] = per_window.get(r["window_start_us"], 0) + 1
    assert max(per_window.values()) == 3 and min(per_window.values()) >= 1


def test_append_mode_withholds_open_windows(spark, sf_dir):
    """With outputMode=append, windows not yet past the watermark are
    withheld at backlog end — the late-data contract."""
    streaming.run_available_now(
        streaming.hourly_stream_counts(streaming.stream_events(spark, sf_dir)),
        "t_stream_append",
        output_mode="append",
    )
    appended = spark.table("t_stream_append")
    ev = load_events(spark, sf_dir)
    max_us = ev.agg(F.max("ts_us")).collect()[0][0]
    watermark_us = max_us - 3_600_000_000  # delay = 1 hour
    # every emitted window is fully closed w.r.t. the final watermark
    open_emitted = appended.filter(
        F.col("window_start_us") + 3_600_000_000 > watermark_us
    ).count()
    assert open_emitted == 0
    # and all closed windows were emitted
    total_windows = ev.select((F.col("ts_us") / 3_600_000_000).cast("long")).distinct().count()
    withheld = total_windows - appended.count()
    assert 1 <= withheld <= 2  # the final open window (+boundary window)


def test_file_source_processes_each_file_as_micro_batch(spark, sf_dir, tmp_path):
    """Micro-batch ingestion: with maxFilesPerTrigger=1, each file in the
    source dir is processed as its own micro-batch, all accumulating into
    one result."""
    src = tmp_path / "stream_src"
    src.mkdir()
    ev = load_events(spark, sf_dir).limit(500).select(
        "event_id", F.col("ts_us").alias("ts"), "user_id", "event_type", "value", "props"
    )
    # write nanos-free bigint ts directly; schema matches EVENTS_DDL
    ev.withColumn("ts", F.col("ts") * 1000).coalesce(1).write.mode("overwrite").parquet(
        str(src / "batch1")
    )
    ev.withColumn("ts", F.col("ts") * 1000).withColumn(
        "event_id", F.col("event_id") + 1_000_000
    ).coalesce(1).write.mode("overwrite").parquet(str(src / "batch2"))

    batch_ids = []

    def record_batch(batch_df, batch_id):
        batch_ids.append((batch_id, batch_df.count()))

    raw = (
        spark.readStream.schema(streaming.EVENTS_DDL)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "batch*"))
    )
    q = raw.writeStream.foreachBatch(record_batch).trigger(availableNow=True).start()
    assert q.awaitTermination(120)
    q.stop()
    assert len(batch_ids) == 2  # one micro-batch per file
    assert sum(n for _, n in batch_ids) == 1000


def test_stream_cms_sketch_merge_equals_batch_sketch(spark, sf_dir, tmp_path):
    """Per-micro-batch partial sketches merged by counter addition must
    equal the batch sketch of the whole stream — the CMS mergeability
    property the streaming maintainer relies on."""
    from dataengineeringpipeline_spark.scale import cms_sketch

    src = tmp_path / "cms_src"
    src.mkdir()
    ev = load_events(spark, sf_dir).limit(600).select(
        "event_id", (F.col("ts_us") * 1000).alias("ts"), "user_id", "event_type", "value", "props"
    )
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(str(src / "a"))
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(str(src / "b"))
    streaming.stream_cms_sketch(
        spark,
        str(src / "*"),
        streaming.EVENTS_DDL,
        "user_id",
        str(tmp_path / "sketch"),
        str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    merged = {
        (r["d"], r["bucket"]): r["c"]
        for r in streaming.read_cms_sketch(spark, str(tmp_path / "sketch")).collect()
    }
    want = {
        (r["d"], r["bucket"]): r["c"] for r in cms_sketch(ev, "user_id").collect()
    }
    assert merged == want and len(merged) > 0
    # at least two batch partitions landed (one per file)
    import os as _os

    parts = [p for p in _os.listdir(tmp_path / "sketch") if p.startswith("batch_id=")]
    assert len(parts) >= 2


def test_stream_dedup_drops_redelivered_events(spark, sf_dir, tmp_path):
    """The same events file delivered twice (at-least-once source) must
    come out once through the watermarked dedup stream."""
    src = tmp_path / "dedup_src"
    src.mkdir()
    ev = load_events(spark, sf_dir).limit(300).select(
        "event_id", F.col("ts_us").alias("ts"), "user_id", "event_type", "value",
        F.lit("{}").alias("props"),
    )
    raw = ev.withColumn("ts", F.col("ts") * 1000)
    raw.coalesce(1).write.mode("overwrite").parquet(str(src / "delivery1"))
    raw.coalesce(1).write.mode("overwrite").parquet(str(src / "delivery2"))

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    stream = (
        spark.readStream.schema(streaming.EVENTS_DDL)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "delivery*"))
        .withColumn("ts_us", F.expr("ts div 1000"))
        .withColumn("event_ts", F.timestamp_micros(F.col("ts_us")))
    )
    deduped = streaming.dedup_stream(stream).select("event_id")
    streaming.run_available_now(deduped, "t_stream_dedup", output_mode="append")
    out = spark.table("t_stream_dedup")
    assert out.count() == 300  # 600 delivered, 300 unique
    assert out.select("event_id").distinct().count() == 300


ORDERS_DDL = (
    "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
    "o_totalprice double, o_orderdate timestamp, o_orderpriority string"
)


def test_incremental_gold_matches_batch_rollup(spark, sf_dir, tmp_path):
    """Micro-batch-maintained gold equals the one-shot batch rollup, and a
    re-run with the same checkpoint is a no-op."""
    from dataengineeringpipeline_spark.functions import money_sum

    silver = str(tmp_path / "silver_src")
    gold = str(tmp_path / "gold")
    ckpt = str(tmp_path / "gold_ckpt")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    half1 = orders.filter(F.col("o_orderkey") % 2 == 0)
    half2 = orders.filter(F.col("o_orderkey") % 2 == 1)
    half1.coalesce(1).write.mode("overwrite").parquet(silver + "/f1")
    half2.coalesce(1).write.mode("overwrite").parquet(silver + "/f2")

    def aggregate(df):
        return df.groupBy(
            F.date_format("o_orderdate", "yyyy-MM").alias("order_month")
        ).agg(
            F.count(F.lit(1)).alias("order_count"),
            money_sum("o_totalprice", "revenue_dec"),
        )

    def merge(partials):
        return partials.groupBy("order_month").agg(
            F.sum("order_count").alias("order_count"),
            money_sum("revenue_dec", "revenue_dec"),
        )

    want = {
        str(r["order_month"]): (r["order_count"], round(r["revenue_dec"], 2))
        for r in aggregate(orders).collect()
    }

    def gold_state():
        return {
            str(r["order_month"]): (r["order_count"], round(r["revenue_dec"], 2))
            for r in spark.read.parquet(gold).collect()
        }

    for _ in range(2):  # second run: checkpoint says nothing new
        streaming.incremental_gold(
            spark, silver + "/f*", ORDERS_DDL, aggregate, merge, gold, ckpt,
            date_col="order_month",
        )
        assert gold_state() == want

    # crash-replay idempotence: the partition overwrite committed but the
    # checkpoint commit did not (crash in between) — the replayed batch
    # must NOT re-merge its partials into partitions that already contain
    # them (that would re-sum and double-count). Wipe the last commit and
    # restart in a fresh process (in-session, Spark 4's commit-log guard
    # reads the tampering as concurrent checkpoint use).
    import os
    import subprocess
    import sys

    last = max(f for f in os.listdir(os.path.join(ckpt, "commits")) if not f.startswith("."))
    os.remove(os.path.join(ckpt, "commits", last))
    crc = os.path.join(ckpt, "commits", f".{last}.crc")
    if os.path.exists(crc):  # a real crash writes neither file
        os.remove(crc)
    script = f"""
import sys; sys.path.insert(0, {repr(os.getcwd())})
from pyspark.sql import SparkSession, functions as F
spark = (SparkSession.builder.master("local[4]")
         .config("spark.sql.shuffle.partitions","4").config("spark.ui.enabled","false")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
from dataengineeringpipeline_spark import streaming
from dataengineeringpipeline_spark.functions import money_sum

def aggregate(df):
    return df.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("order_month")).agg(
        F.count(F.lit(1)).alias("order_count"), money_sum("o_totalprice", "revenue_dec"))

def merge(partials):
    return partials.groupBy("order_month").agg(
        F.sum("order_count").alias("order_count"), money_sum("revenue_dec", "revenue_dec"))

streaming.incremental_gold(spark, {(silver + "/f*")!r}, {ORDERS_DDL!r},
                           aggregate, merge, {gold!r}, {ckpt!r}, date_col="order_month")
print("REPLAY_DONE")
"""
    proc = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, timeout=300
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "REPLAY_DONE" in proc.stdout
    assert gold_state() == want  # replay did not double-count


def test_stream_etl_is_incremental_exactly_once(spark, sf_dir, tmp_path):
    """foreachBatch bronze→silver: first run transforms the backlog; a
    re-run with the same checkpoint processes only NEW files."""
    from pyspark.sql import functions as F

    from dataengineeringpipeline_spark import cleaning

    bronze = str(tmp_path / "bronze")
    silver = str(tmp_path / "silver")
    ckpt = str(tmp_path / "ckpt")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    n = orders.count()
    orders.coalesce(1).write.mode("overwrite").parquet(bronze + "/f1")

    streaming.stream_etl(
        spark, bronze + "/f*", ORDERS_DDL, cleaning.clean_orders, silver, ckpt
    )
    assert spark.read.parquet(silver).count() == n

    # second file with shifted keys → only its rows are appended
    orders.withColumn("o_orderkey", F.col("o_orderkey") + 10_000_000).coalesce(1).write.mode(
        "overwrite"
    ).parquet(bronze + "/f2")
    streaming.stream_etl(
        spark, bronze + "/f*", ORDERS_DDL, cleaning.clean_orders, silver, ckpt
    )
    out = spark.read.parquet(silver)
    assert out.count() == 2 * n  # not 3n — f1 was not re-transformed
    assert out.filter(F.col("order_key") >= 10_000_000).count() == n
    assert "order_size_category" in out.columns  # transform really ran

    # crash-replay idempotence: wipe the last batch's checkpoint commit
    # (the state a crash between sink-write and commit leaves behind) and
    # restart in a FRESH process — in-session, Spark 4's commit-log guard
    # reads the tampering as concurrent checkpoint use. The replayed
    # batch's per-partition overwrite must not duplicate rows.
    import os
    import subprocess
    import sys

    last = max(f for f in os.listdir(os.path.join(ckpt, "commits")) if not f.startswith("."))
    os.remove(os.path.join(ckpt, "commits", last))
    crc = os.path.join(ckpt, "commits", f".{last}.crc")
    if os.path.exists(crc):  # a real crash writes neither file
        os.remove(crc)
    script = f"""
import sys; sys.path.insert(0, {repr(os.getcwd())})
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[4]")
         .config("spark.sql.shuffle.partitions","4").config("spark.ui.enabled","false")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
from dataengineeringpipeline_spark import cleaning, streaming
streaming.stream_etl(spark, {(bronze + "/f*")!r}, {ORDERS_DDL!r},
                     cleaning.clean_orders, {silver!r}, {ckpt!r})
print("REPLAY_COUNT", spark.read.parquet({silver!r}).count())
"""
    proc = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, timeout=300
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    count_line = next(l for l in proc.stdout.splitlines() if l.startswith("REPLAY_COUNT"))
    assert int(count_line.split()[1]) == 2 * n  # replay did not append dupes


def test_sessionize_group_spanning_many_arrow_chunks(spark, tmp_path):
    """applyInPandasWithState delivers a large group as MULTIPLE Arrow
    chunks with no ordering guarantee. 300 events for one user, written
    in descending time order, forced through 64-row chunks: every event
    is its own session (spacing > gap), so per-chunk sorting would
    miscount gaps across chunk boundaries."""
    import pandas as pd

    n = 300
    gap_us = streaming.DEFAULT_SESSION_GAP_MINUTES * 60_000_000
    ts_us = [(n - 1 - i) * (gap_us + 1) for i in range(n)]  # descending
    pdf = pd.DataFrame(
        {
            "event_id": range(n),
            "ts": [t * 1000 for t in ts_us],  # ns, matches EVENTS_DDL reader
            "user_id": [7] * n,
            "event_type": ["click"] * n,
            "value": [1.0] * n,
            "props": ["{}"] * n,
        }
    )
    src = tmp_path / "chunk_src"
    src.mkdir()
    # stream_events pathGlobFilter matches the FILE name "events.parquet",
    # so surface the single part file under that exact name.
    staging = tmp_path / "staging"
    spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(str(staging))
    part = next(p for p in staging.iterdir() if p.name.endswith(".parquet"))
    part.rename(src / "events.parquet")
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
    try:
        got = streaming.streaming_session_counts(spark, str(src)).collect()
    finally:
        if old is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert [(r["user_id"], r["sessions"], r["events_seen"]) for r in got] == [(7, n, n)]


def test_streaming_sessionize_matches_batch(spark, sf_dir):
    streaming.run_available_now(
        streaming.sessionize_stream(streaming.stream_events(spark, sf_dir)),
        "t_stream_sessions",
        output_mode="update",
    )
    final = (
        spark.table("t_stream_sessions")
        .groupBy("user_id")
        .agg(F.max_by("sessions", "events_seen").alias("sessions"))
    )
    batch = (
        events_analytics.sessionize(load_events(spark, sf_dir))
        .groupBy("user_id")
        .agg(F.max("session_seq").alias("sessions"))
    )
    diff = final.join(batch, "user_id").filter(final["sessions"] != batch["sessions"]).count()
    assert diff == 0


def test_event_time_ttl_evicts_idle_state(spark, tmp_path):
    """Event-time state TTL: a user idle past the TTL (by WATERMARK, so
    replay-deterministic) is evicted and restarts counting; with a huge
    TTL the same input keeps cumulative state. Four single-event files
    drained one per micro-batch so the watermark advances between
    batches."""
    import os as _os

    t0 = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC in µs
    hour = 3_600_000_000

    def write_file(name, user_id, ts_us, mtime):
        pdf = spark.createDataFrame(
            [(user_id * 1000 + int(ts_us % 997), ts_us * 1000, user_id, "click", 1.0, "{}")],
            "event_id bigint, ts bigint, user_id bigint, event_type string, value double, props string",
        )
        path = str(tmp_path / name)
        pdf.coalesce(1).write.mode("overwrite").parquet(path)
        for root, _d, files in _os.walk(path):
            for f in files:
                _os.utime(_os.path.join(root, f), (mtime, mtime))

    write_file("f1", 1, t0, 1_000)            # u1 @ t0
    write_file("f2", 2, t0 + 3 * hour, 2_000)  # u2 advances watermark
    write_file("f3", 3, t0 + 3 * hour + hour // 2, 3_000)  # u3: u1 evicts here
    write_file("f4", 1, t0 + 4 * hour, 4_000)  # u1 returns after TTL

    def drain(ttl_minutes, sink):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        stream = (
            spark.readStream.schema(streaming.EVENTS_DDL)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(tmp_path / "f*"))
            .withColumn("ts_us", F.expr("ts div 1000"))
            .withColumn("event_ts", F.timestamp_micros(F.col("ts_us")))
        )
        streaming.run_available_now(
            streaming.sessionize_stream_event_time(
                stream, state_ttl_minutes=ttl_minutes, watermark_delay="1 hour"
            ),
            sink,
            output_mode="update",
        )
        return {
            (r["user_id"], r["sessions"], r["events_seen"])
            for r in spark.table(sink).collect()
        }

    evicted = drain(60, "t_ttl_evict")       # TTL 1h << the 4h gap
    kept = drain(10**6, "t_ttl_keep")        # TTL ~2 years: nothing evicts
    # with eviction, u1's return starts fresh: no cumulative (1,2,2) row
    assert (1, 1, 1) in evicted and (1, 2, 2) not in evicted
    # without eviction, the same input accumulates across the idle gap
    assert (1, 2, 2) in kept
    # single-event users are unaffected by the TTL in either mode
    assert (2, 1, 1) in evicted and (2, 1, 1) in kept
    assert (3, 1, 1) in evicted and (3, 1, 1) in kept


def test_native_session_window_agrees_with_custom_kernel(spark, sf_dir):
    """Two independent sessionizers — built-in session_window (complete
    mode) and the applyInPandasWithState kernel — must produce identical
    per-user session/event counts over the same backlog."""
    native = {
        r["user_id"]: (r["sessions"], r["events_seen"])
        for r in streaming.streaming_session_windows(spark, sf_dir).collect()
    }
    custom = {
        r["user_id"]: (r["sessions"], r["events_seen"])
        for r in streaming.streaming_session_counts(spark, sf_dir).collect()
    }
    assert native == custom


def test_stream_hll_sketch_merge_equals_batch_registers(spark, sf_dir, tmp_path):
    """Per-micro-batch HLL register partials merged by MAX must equal
    the batch registers of the whole stream — and because max is
    idempotent, re-merging a batch's partition twice changes nothing
    (the replay-safety property on top of the partition overwrite)."""
    from dataengineeringpipeline_spark.scale import hll_registers

    src = tmp_path / "hll_src"
    src.mkdir()
    ev = load_events(spark, sf_dir).limit(600).select(
        "event_id", (F.col("ts_us") * 1000).alias("ts"), "user_id", "event_type", "value", "props"
    )
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(str(src / "a"))
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(str(src / "b"))
    streaming.stream_hll_sketch(
        spark,
        str(src / "*"),
        streaming.EVENTS_DDL,
        "user_id",
        str(tmp_path / "sketch"),
        str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    merged_df = streaming.read_hll_sketch(spark, str(tmp_path / "sketch"))
    merged = {r["bucket"]: r["max_rho"] for r in merged_df.collect()}
    want = {r["bucket"]: r["max_rho"] for r in hll_registers(ev, "user_id").collect()}
    assert merged == want and len(merged) > 0
    # replay idempotence: double-reading every partition still merges equal
    doubled = (
        spark.read.parquet(str(tmp_path / "sketch"))
        .unionByName(spark.read.parquet(str(tmp_path / "sketch")))
        .groupBy("bucket")
        .agg(F.max("max_rho").alias("max_rho"))
    )
    assert {r["bucket"]: r["max_rho"] for r in doubled.collect()} == want


def test_streaming_volume_alerts_matches_batch_twin(spark, sf_dir):
    """The drained volume-alert feed equals the same expressions run in
    one batch over the batch loader (watermark is a no-op on batch), and
    the feed covers every hourly window exactly once."""
    feed = streaming.streaming_volume_alerts(spark, sf_dir).collect()
    ev = load_events(spark, sf_dir).withColumn("event_ts", F.timestamp_micros("ts_us"))
    baseline = [r.asDict() for r in streaming.hourly_volume_baseline(ev).collect()]
    batch = (
        streaming.volume_alert_stream(ev, baseline).orderBy("window_start_us").collect()
    )
    assert [tuple(r) for r in feed] == [tuple(r) for r in batch]
    starts = [r["window_start_us"] for r in feed]
    assert len(starts) == len(set(starts)) > 0


def test_streaming_mix_drift_matches_batch_twin(spark, sf_dir):
    """The drained mix-drift feed equals the same TV expressions run in
    one batch pass (watermark is a no-op on batch), bands included, and
    every hourly window appears exactly once."""
    feed = streaming.streaming_mix_drift(spark, sf_dir).collect()
    ev = load_events(spark, sf_dir).withColumn("event_ts", F.timestamp_micros("ts_us"))
    baseline = [r.asDict() for r in streaming.event_mix_baseline(ev).collect()]
    batch = (
        streaming.mix_drift_stream(ev, baseline).orderBy("window_start_us").collect()
    )
    assert [tuple(r) for r in feed] == [tuple(r) for r in batch]
    starts = [r["window_start_us"] for r in feed]
    assert len(starts) == len(set(starts)) > 0
    assert all(0.0 <= r["tv_distance"] <= 1.0 for r in feed)


def test_mix_drift_flags_planted_composition_shift(spark):
    import pytest
    """A window whose mix departs the baseline hard lands in 'major';
    a window matching the baseline exactly is 'stable' with tv=0."""
    rows = []
    # baseline-shaping history: 3 windows of 50/50 a/b
    for h in (0, 1, 2):
        rows += [(h * 3600_000_000 + i, "a") for i in range(10)]
        rows += [(h * 3600_000_000 + 1000 + i, "b") for i in range(10)]
    # drifted window: all-a
    rows += [(3 * 3600_000_000 + i, "a") for i in range(20)]
    ev = spark.createDataFrame(rows, "ts_us long, event_type string").withColumn(
        "event_ts", F.timestamp_micros("ts_us")
    )
    baseline = [r.asDict() for r in streaming.event_mix_baseline(ev).collect()]
    out = {
        r["window_start_us"]: r
        for r in streaming.mix_drift_stream(ev, baseline).collect()
    }
    # overall mix: a=50, b=30 of 80. windows 0-2 (10a/10b): tv=|10*80-50*20|+|10*80-30*20|)/(2*20*80)
    w0 = out[0]
    assert w0["drift_band"] in ("stable", "moderate")
    w3 = out[3 * 3600_000_000]
    # all-a window vs 62.5/37.5 baseline: tv = 0.375 -> major
    assert w3["tv_distance"] == pytest.approx(0.375, abs=1e-12)
    assert w3["drift_band"] == "major"


def test_mix_drift_stable_across_multi_batch_drain(spark, sf_dir, tmp_path):
    """The drift feed's final answer must not depend on micro-batch
    boundaries: tercile files drained one per trigger must reproduce the
    batch twin exactly, bands and TV floats included."""
    import os as _os

    src = tmp_path / "mixmulti"
    src.mkdir()
    ev = load_events(spark, sf_dir)
    lo, hi = ev.agg(F.min("ts_us"), F.max("ts_us")).collect()[0]
    step = (hi - lo) // 3 + 1
    for i in range(3):
        sub = src / f"part{i}"
        ev.filter(
            (F.col("ts_us") >= lo + i * step) & (F.col("ts_us") < lo + (i + 1) * step)
        ).select(
            "event_id", (F.col("ts_us") * 1000).alias("ts"), "user_id", "event_type",
            "value", "props",
        ).coalesce(1).write.mode("overwrite").parquet(str(sub))
        for root, _d, files in _os.walk(str(sub)):
            for f in files:
                _os.utime(_os.path.join(root, f), (1000 * (i + 1), 1000 * (i + 1)))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    stream = (
        spark.readStream.schema(streaming.EVENTS_DDL)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "part*"))
        .withColumn("ts_us", F.expr("ts div 1000"))
        .withColumn("event_ts", F.timestamp_micros(F.col("ts_us")))
    )
    baseline = [r.asDict() for r in streaming.event_mix_baseline(ev).collect()]
    streaming.run_available_now(
        streaming.mix_drift_stream(stream, baseline), "t_multi_batch_mix_drift"
    )
    got = sorted(
        tuple(r) for r in spark.table("t_multi_batch_mix_drift").collect()
    )
    ev_b = ev.withColumn("event_ts", F.timestamp_micros("ts_us"))
    want = sorted(
        tuple(r) for r in streaming.mix_drift_stream(ev_b, baseline).collect()
    )
    assert got == want


# -- streaming incremental dedup -------------------------------------------


def _build_dedup_stream_dirs(spark, sf_dir, tmp_path):
    """Seed state + ordered arrival files exactly as the contract query
    does, but under pytest's tmp_path so tests control the layout."""
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    state = str(tmp_path / "state")
    streaming.materialize_stream_dedup_state(
        docs.filter(F.col("doc_id") % 5 != 0), state
    )
    src = tmp_path / "in"
    src.mkdir()
    pdf = (
        docs.filter(F.col("doc_id") % 5 == 0)
        .withColumn("_b", F.expr("(doc_id div 5) % 3"))
        .orderBy("doc_id")
        .toPandas()
    )
    t0 = _time.time()
    for b in range(3):
        part = pdf[pdf["_b"] == b].drop(columns=["_b"])
        path = str(src / f"batch{b}.parquet")
        pq.write_table(pa.Table.from_pandas(part, preserve_index=False), path)
        import os as _os

        _os.utime(path, (t0 + 60 * b, t0 + 60 * b))
    return str(src), state, len(pdf)


def test_stream_incremental_dedup_covers_every_arrival_once(spark, sf_dir, tmp_path):
    src, state, n_arrivals = _build_dedup_stream_dirs(spark, sf_dir, tmp_path)
    streaming.stream_incremental_dedup(spark, src, state, str(tmp_path / "ckpt"))
    rows = streaming.read_stream_dedup_decisions(spark, state).collect()
    assert len(rows) == n_arrivals
    assert len({r["doc_id"] for r in rows}) == n_arrivals
    for r in rows:
        assert r["is_duplicate"] == (r["dup_of"] is not None)
        if r["is_duplicate"]:
            assert r["jaccard"] >= 0.5


def test_stream_incremental_dedup_replay_is_idempotent(spark, sf_dir, tmp_path):
    """Re-running the drained stream with the SAME checkpoint must be a
    no-op, and re-running with a FRESH checkpoint (a full replay over
    already-written state partitions) must overwrite each batch into the
    identical decision set — the exactly-once-by-layout claim."""
    src, state, _ = _build_dedup_stream_dirs(spark, sf_dir, tmp_path)
    streaming.stream_incremental_dedup(spark, src, state, str(tmp_path / "ckpt"))
    first = {
        r["doc_id"]: (r["dup_of"], r["jaccard"])
        for r in streaming.read_stream_dedup_decisions(spark, state).collect()
    }
    # same checkpoint: no new batches, decisions unchanged
    streaming.stream_incremental_dedup(spark, src, state, str(tmp_path / "ckpt"))
    again = {
        r["doc_id"]: (r["dup_of"], r["jaccard"])
        for r in streaming.read_stream_dedup_decisions(spark, state).collect()
    }
    assert again == first
    # fresh checkpoint: every batch replays over existing batch_id
    # partitions; the batch_id < n read filter must hide the previous
    # run's own partitions, reproducing identical decisions
    streaming.stream_incremental_dedup(spark, src, state, str(tmp_path / "ckpt2"))
    replayed = {
        r["doc_id"]: (r["dup_of"], r["jaccard"])
        for r in streaming.read_stream_dedup_decisions(spark, state).collect()
    }
    assert replayed == first


def test_stream_incremental_dedup_matches_cross_batch(spark, sf_dir, tmp_path):
    """At least one arriving doc must match a doc from an EARLIER arrival
    batch (dup_of % 5 == 0) — proving the state actually grows between
    micro-batches — and any such match must respect the batch order."""
    src, state, _ = _build_dedup_stream_dirs(spark, sf_dir, tmp_path)
    streaming.stream_incremental_dedup(spark, src, state, str(tmp_path / "ckpt"))
    rows = streaming.read_stream_dedup_decisions(spark, state).collect()
    cross = [r for r in rows if r["is_duplicate"] and r["dup_of"] % 5 == 0]
    assert cross, "expected at least one cross-batch duplicate in the fixture corpus"
    for r in cross:
        assert (r["dup_of"] // 5) % 3 < (r["doc_id"] // 5) % 3


def test_single_drain_ordered_dedup_equals_sequential(spark, sf_dir, tmp_path):
    """stream_incremental_dedup_ordered (ONE micro-batch, order predicate
    in the band join) must produce decision-for-decision the same output
    as the general one-physical-batch-per-arrival operator, and a replay
    from a fresh checkpoint must be idempotent over the written state."""
    src, state, n_arrivals = _build_dedup_stream_dirs(spark, sf_dir, tmp_path)
    streaming.stream_incremental_dedup(spark, src, state, str(tmp_path / "ckpt"))
    sequential = {
        r["doc_id"]: (r["dup_of"], r["jaccard"], r["is_duplicate"])
        for r in streaming.read_stream_dedup_decisions(spark, state).collect()
    }
    src2, state2, _ = _build_dedup_stream_dirs(spark, sf_dir, tmp_path / "b")
    streaming.stream_incremental_dedup_ordered(
        spark, src2, state2, str(tmp_path / "b" / "ckpt"), "(doc_id div 5) % 3"
    )
    single = {
        r["doc_id"]: (r["dup_of"], r["jaccard"], r["is_duplicate"])
        for r in streaming.read_stream_dedup_decisions(spark, state2).collect()
    }
    assert len(single) == n_arrivals
    assert single == sequential
    # fresh-checkpoint replay over already-written state partitions: the
    # batch_id < n filter hides the previous run's own writes
    streaming.stream_incremental_dedup_ordered(
        spark, src2, state2, str(tmp_path / "b" / "ckpt2"), "(doc_id div 5) % 3"
    )
    replayed = {
        r["doc_id"]: (r["dup_of"], r["jaccard"], r["is_duplicate"])
        for r in streaming.read_stream_dedup_decisions(spark, state2).collect()
    }
    assert replayed == sequential


def test_stream_feature_upsert_merges_bit_exactly_and_replays(spark, sf_dir, tmp_path):
    """The streamed per-batch feature partials must merge to BIT-EXACTLY
    the batch daily_user_features (decimal partial sums, set-union
    distinct, max-of-max), the online view must equal
    feature_store_latest, and a fresh-checkpoint replay must overwrite
    the per-batch partitions into the identical merged result."""
    from dataengineeringpipeline_spark import featurestore
    from dataengineeringpipeline_spark.datalake import load_events

    ev = load_events(spark, sf_dir)
    staged = ev.select("event_id", "ts_us", "user_id", "event_type", "value")
    src = str(tmp_path / "in")
    import os

    os.makedirs(src)
    streaming._stage_arrival_batches(staged, F.expr("event_id % 3"), src, 3)
    state, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")
    streaming.stream_feature_upsert(spark, src, state, ckpt)
    # three arrival batches → three partial partitions; user-days split
    # across them, so the merge is genuinely exercised
    batches = {d for d in os.listdir(f"{state}/features") if d.startswith("batch_id=")}
    assert len(batches) == 3
    merged = {
        (r["user_id"], str(r["event_date"])): tuple(r)[2:]
        for r in streaming.read_stream_features(spark, state).collect()
    }
    batch_rows = {
        (r["user_id"], str(r["event_date"])): tuple(r)[2:]
        for r in featurestore.daily_user_features(ev).collect()
    }
    assert merged == batch_rows  # bit-exact, including the float avg
    latest = {
        r["user_id"]: tuple(r)[1:]
        for r in featurestore.online_latest(
            streaming.read_stream_features(spark, state), "user_id", "event_date"
        ).collect()
    }
    batch_latest = {
        r["user_id"]: tuple(r)[1:]
        for r in featurestore.feature_store_latest(ev).collect()
    }
    assert latest == batch_latest
    # fresh-checkpoint replay: per-batch partitions overwrite themselves
    streaming.stream_feature_upsert(spark, src, state, str(tmp_path / "ckpt2"))
    replayed = {
        (r["user_id"], str(r["event_date"])): tuple(r)[2:]
        for r in streaming.read_stream_features(spark, state).collect()
    }
    assert replayed == merged


# -- streaming search-index maintenance ---------------------------------------


def test_streamed_search_index_equals_batch_index(spark, sf_dir, tmp_path):
    """The drained streamed state must reproduce the batch retrieval
    bit-for-bit (postings merge, counts sum, IDF derives at read)."""
    import os
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from dataengineeringpipeline_spark import streaming
    from dataengineeringpipeline_spark.operators.search import lexical_search_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    src = str(tmp_path / "in")
    os.makedirs(src)
    pdf = docs.filter(F.col("doc_id") % 100 != 0).orderBy("doc_id").toPandas()
    half = len(pdf) // 2
    t0 = _time.time()
    for b, part in enumerate((pdf.iloc[:half], pdf.iloc[half:])):
        path = os.path.join(src, f"b{b}.parquet")
        pq.write_table(pa.Table.from_pandas(part, preserve_index=False), path)
        os.utime(path, (t0 + 60 * b, t0 + 60 * b))
    streaming.stream_search_index(
        spark, src, str(tmp_path / "state"), str(tmp_path / "ckpt")
    )
    posts, wt = streaming.read_stream_search_index(spark, str(tmp_path / "state"))
    # corpus size == candidate count; df table matches a direct count
    n = posts.sparkSession.read.parquet(str(tmp_path / "state") + "/meta").agg(
        F.sum("n_docs")
    ).collect()[0][0]
    assert n == len(pdf)
    got = streaming.streaming_search_topk(spark, sf_dir)
    # (streaming_search_topk re-streams internally; compare to batch op)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, lexical_search_topk(docs).collect())
    )


def test_stream_quality_gate_routes_and_replays_idempotently(spark, sf_dir, tmp_path):
    """The gate must (a) score every streamed doc exactly once, (b) write
    failing docs' FULL rows to quarantine, and (c) leave batch-replay
    unable to double anything (per-batch overwrite layout)."""
    import os

    from dataengineeringpipeline_spark.operators.classify import classifier_scores
    from dataengineeringpipeline_spark.streaming import (
        _stage_arrival_batches,
        read_stream_gate_decisions,
        stream_quality_gate,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    src = str(tmp_path / "in")
    os.makedirs(src)
    _stage_arrival_batches(docs, F.expr("doc_id % 3"), src, 3)
    state = str(tmp_path / "state")
    stream_quality_gate(spark, src, state, str(tmp_path / "ckpt"))

    dec = read_stream_gate_decisions(spark, state)
    n_decided = dec.count()
    batch_ref = classifier_scores(docs)
    # every doc decided once, decisions identical to the batch classifier
    assert sorted(
        (r["doc_id"], r["score_sum"], r["keep"])
        for r in dec.select("doc_id", "score_sum", "keep").collect()
    ) == sorted(
        (r["doc_id"], r["score_sum"], r["keep"])
        for r in batch_ref.select("doc_id", "score_sum", "keep").collect()
    )
    # arrival batch is the staged split
    assert dec.filter(F.col("batch_id") != F.col("doc_id") % 3).count() == 0
    # quarantine holds the full original rows of exactly the failing docs
    quar = spark.read.parquet(f"{state}/quarantine")
    failing = {r["doc_id"] for r in batch_ref.filter(~F.col("keep")).collect()}
    assert {r["doc_id"] for r in quar.collect()} == failing
    assert set(quar.columns) == set(docs.columns) | {"batch_id"}
    # replaying one arrival file into a fresh checkpoint overwrites its
    # own partition rather than appending (exactly-once by layout)
    import glob
    import shutil

    replay_src = str(tmp_path / "replay_in")
    os.makedirs(replay_src)
    shutil.copy(sorted(glob.glob(os.path.join(src, "*.parquet")))[0], replay_src)
    stream_quality_gate(spark, replay_src, state, str(tmp_path / "ckpt2"))
    dec2 = read_stream_gate_decisions(spark, state)
    assert dec2.count() == n_decided
    assert dec2.groupBy("doc_id").count().filter("count > 1").count() == 0


def test_streamed_ann_index_equals_batch_index(spark, sf_dir, tmp_path):
    """Draining vectors through stream_ann_index against frozen
    quantizers must reproduce the batch-materialized encoded table
    content exactly (modulo the batch_id partition column), and a
    replayed arrival file must overwrite, not double, its partition."""
    import os

    from dataengineeringpipeline_spark.datalake import Lake
    from dataengineeringpipeline_spark.operators import similarity as sim
    from dataengineeringpipeline_spark.streaming import (
        _stage_arrival_batches,
        stream_ann_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    lake_b = Lake(str(tmp_path / "lake_batch"))
    sim.materialize_ann_index(emb, lake_b, snapshot="b1")
    want = sorted(
        map(tuple, lake_b.read(spark, "gold", "ann_b1_encoded").collect())
    )

    lake_s = Lake(str(tmp_path / "lake_stream"))
    sim.materialize_ann_index(emb, lake_s, snapshot="s1", include_corpus=False)
    src = str(tmp_path / "in")
    os.makedirs(src)
    _stage_arrival_batches(emb, F.expr("vec_id % 3"), src, 3)
    stream_ann_index(spark, src, lake_s, "s1", str(tmp_path / "ckpt"))
    streamed = lake_s.read(spark, "gold", "ann_s1_encoded")
    got = sorted(map(tuple, streamed.drop("batch_id").collect()))
    assert got == want and len(got) == emb.count()
    # replay one arrival file into a fresh checkpoint: same row count
    import glob
    import shutil

    replay_src = str(tmp_path / "replay_in")
    os.makedirs(replay_src)
    shutil.copy(sorted(glob.glob(os.path.join(src, "*.parquet")))[0], replay_src)
    stream_ann_index(spark, replay_src, lake_s, "s1", str(tmp_path / "ckpt2"))
    assert lake_s.read(spark, "gold", "ann_s1_encoded").count() == emb.count()


def test_stream_cdc_changes_crash_replay_and_batch_parity(spark, tmp_path):
    """The streamed CDC snapshot equals the batch cdc_apply over the
    same changelog, and a crash-replayed micro-batch (checkpoint commit
    wiped, fresh-process restart) overwrites its own partition instead
    of double-applying changes."""
    import os
    import subprocess
    import sys

    from dataengineeringpipeline_spark.scd import cdc_apply

    snap = spark.createDataFrame(
        [(i, "OLD", float(i), "2020-01-01") for i in range(1, 21)],
        "k long, status string, price double, ts string",
    )
    chg = spark.createDataFrame(
        [
            (k, "D" if k % 7 == 0 else "U", f"NEW{v}", float(10 * k + v),
             f"2021-01-{v + 1:02d}", v)
            for k in range(1, 31)
            for v in range(3)
        ],
        "k long, op string, status string, price double, ts string, tb int",
    )
    src = str(tmp_path / "in")
    os.makedirs(src)
    streaming._stage_arrival_batches(chg, F.expr("k % 3"), src, 3)
    state, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")
    ddl = "k long, op string, status string, price double, ts string, tb int"
    kw = dict(key_cols=("k",), ts_col="ts", tiebreak_cols=("tb",))
    streaming.stream_cdc_changes(spark, src, state, ckpt, ddl, **kw)

    got = sorted(
        map(tuple, streaming.read_cdc_snapshot(spark, snap, state, **kw).collect())
    )
    want = sorted(
        map(tuple, cdc_apply(snap, chg, ["k"], "ts", tiebreak_cols=["tb"]).collect())
    )
    assert got == want
    assert all(r[1] == "NEW2" for r in got if r[0] <= 30)  # latest change won
    assert not any(r[0] % 7 == 0 for r in got)  # tombstones applied

    # state is batch-partitioned and intra-batch churn collapsed: ≤1 row
    # per (batch, key)
    per = spark.read.parquet(state).groupBy("batch_id", "k").count()
    assert per.filter(F.col("count") > 1).count() == 0

    last = max(
        f for f in os.listdir(os.path.join(ckpt, "commits")) if not f.startswith(".")
    )
    os.remove(os.path.join(ckpt, "commits", last))
    crc = os.path.join(ckpt, "commits", f".{last}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    script = f"""
import sys; sys.path.insert(0, {repr(os.getcwd())})
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[4]")
         .config("spark.sql.shuffle.partitions","4").config("spark.ui.enabled","false")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
from dataengineeringpipeline_spark import streaming
streaming.stream_cdc_changes(spark, {src!r}, {state!r}, {ckpt!r}, {ddl!r},
                             key_cols=("k",), ts_col="ts", tiebreak_cols=("tb",))
rows = streaming.read_cdc_snapshot(
    spark,
    spark.createDataFrame([(i, "OLD", float(i), "2020-01-01") for i in range(1, 21)],
                          "k long, status string, price double, ts string"),
    {state!r}, key_cols=("k",), ts_col="ts", tiebreak_cols=("tb",)).collect()
print("REPLAY_ROWS", len(rows))
"""
    proc = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, timeout=300
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    line = next(l for l in proc.stdout.splitlines() if l.startswith("REPLAY_ROWS"))
    assert int(line.split()[1]) == len(want)  # replay did not duplicate state


def test_streaming_scd2_crash_replay(spark, sf_dir, tmp_path):
    """Streaming SCD2 exactly-once: a wiped checkpoint commit + a
    fresh-process restart replays the last micro-batch, whose merge
    already committed — the applied-batch ledger (riding the merge's
    atomic swap) must turn the replay into a no-op, leaving the history
    bit-identical to the batch two-phase apply."""
    import os
    import subprocess
    import sys

    from pyspark.sql import functions as F

    from dataengineeringpipeline_spark import streaming
    from dataengineeringpipeline_spark.datalake import Lake
    from dataengineeringpipeline_spark.scd import scd2_apply_changes, scd2_history

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
    lake = Lake(str(tmp_path / "lake"))
    lake.write(hist1, "gold", "priority_history")
    lake.cluster_by(spark, "gold", "priority_history", ("customer_key",))
    src, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    os.makedirs(src)
    tail = changes.filter(F.col("change_date") >= split)
    streaming._stage_arrival_batches(tail, F.expr("customer_key % 3"), src, 3)
    ddl = "customer_key bigint, priority string, change_date date, order_key bigint"
    kwargs = dict(
        key_col="customer_key",
        attr_cols=("priority",),
        ts_col="change_date",
        tiebreak_cols=("order_key",),
        carry_cols=("order_key",),
    )
    streaming.stream_scd2_updates(
        spark, src, lake, "gold", "priority_history", ckpt, ddl, **kwargs
    )
    cols = [
        "customer_key", "priority", "order_key",
        "valid_from", "valid_to", "version", "is_current",
    ]
    got = sorted(
        map(tuple, lake.read(spark, "gold", "priority_history").select(*cols).collect())
    )
    want = sorted(
        map(
            tuple,
            scd2_apply_changes(hist1, tail, ["customer_key"], ["priority"],
                               "change_date", ["order_key"], ["order_key"])
            .select(*cols)
            .collect(),
        )
    )
    assert got == want  # streamed == one-shot batch apply

    # simulate the crash: merge committed, checkpoint commit lost
    last = max(
        f for f in os.listdir(os.path.join(ckpt, "commits")) if not f.startswith(".")
    )
    os.remove(os.path.join(ckpt, "commits", last))
    crc = os.path.join(ckpt, "commits", f".{last}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    lake_root = str(tmp_path / "lake")
    script = f"""
import sys; sys.path.insert(0, {os.getcwd()!r})
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[4]")
         .config("spark.sql.shuffle.partitions","4").config("spark.ui.enabled","false")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
from dataengineeringpipeline_spark import streaming
from dataengineeringpipeline_spark.datalake import Lake
lake = Lake({lake_root!r})
streaming.stream_scd2_updates(spark, {src!r}, lake, "gold", "priority_history",
    {ckpt!r}, {ddl!r}, key_col="customer_key", attr_cols=("priority",),
    ts_col="change_date", tiebreak_cols=("order_key",), carry_cols=("order_key",))
rows = lake.read(spark, "gold", "priority_history").count()
print("REPLAY_ROWS", rows)
"""
    proc = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, timeout=300
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    line = next(l for l in proc.stdout.splitlines() if l.startswith("REPLAY_ROWS"))
    assert int(line.split()[1]) == len(got)
    after = sorted(
        map(tuple, lake.read(spark, "gold", "priority_history").select(*cols).collect())
    )
    assert after == want  # replay was a no-op, not a double-apply


def test_merge_scd2_batch_ledger_survives_compact(spark, tmp_path):
    """A replayed batch_id is a no-op even after an unrelated rewrite
    (compact) — the ledger is rescued across swaps that don't update it."""
    from pyspark.sql import functions as F

    from dataengineeringpipeline_spark.datalake import Lake
    from dataengineeringpipeline_spark.scd import scd2_history

    lake = Lake(str(tmp_path))
    changes = spark.createDataFrame(
        [(1, "A", "2024-01-01", 10), (1, "B", "2024-02-01", 11), (2, "A", "2024-01-05", 12)],
        "k long, attr string, d string, ob long",
    ).select("k", "attr", F.col("d").cast("date").alias("d"), "ob")
    hist = scd2_history(changes, ["k"], ["attr"], "d", ["ob"], ["ob"])
    lake.write(hist, "gold", "h")
    upd = spark.createDataFrame(
        [(2, "B", "2024-03-01", 13)], "k long, attr string, d string, ob long"
    ).select("k", "attr", F.col("d").cast("date").alias("d"), "ob")
    a1 = lake.merge_scd2(
        spark, "gold", "h", upd, key_col="k", attr_cols=("attr",), ts_col="d",
        tiebreak_cols=("ob",), carry_cols=("ob",), batch_id="b1",
    )
    assert "skipped_replay" not in a1
    rows1 = sorted(map(tuple, lake.read(spark, "gold", "h").collect()))
    lake.compact(spark, "gold", "h")  # unrelated rewrite between batches
    a2 = lake.merge_scd2(
        spark, "gold", "h", upd, key_col="k", attr_cols=("attr",), ts_col="d",
        tiebreak_cols=("ob",), carry_cols=("ob",), batch_id="b1",
    )
    assert a2.get("skipped_replay") is True
    assert sorted(map(tuple, lake.read(spark, "gold", "h").collect())) == rows1


def test_streaming_cdc_merge_crash_replay(spark, sf_dir, tmp_path):
    """Streaming CDC lake merge exactly-once: wipe the last checkpoint
    commit, replay in a fresh process — the applied-batch ledger turns
    the replayed merge into a no-op and the table equals the one-shot
    batch apply."""
    import os
    import subprocess
    import sys

    from pyspark.sql import functions as F

    from dataengineeringpipeline_spark import streaming
    from dataengineeringpipeline_spark.datalake import Lake
    from dataengineeringpipeline_spark.scd import cdc_apply

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
        F.when(F.col("l_returnflag") == "R", F.lit("D")).otherwise(F.lit("U")).alias("op"),
        F.concat(F.lit("SHIPPED-"), F.col("l_linestatus")).alias("status"),
        F.col("l_extendedprice").alias("total_price"),
        F.col("l_shipdate").cast("date").alias("last_change"),
        F.col("l_linenumber").alias("line_number"),
    )
    lake = Lake(str(tmp_path / "lake"))
    lake.write(snapshot, "silver", "t")
    src, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    os.makedirs(src)
    streaming._stage_arrival_batches(changes, F.expr("order_key % 3"), src, 3)
    ddl = (
        "order_key bigint, op string, status string, total_price double,"
        " last_change date, line_number int"
    )
    tb = ("line_number", "op", "status", "total_price")
    streaming.stream_cdc_merge(
        spark, src, lake, "silver", "t", ckpt, ddl,
        key_col="order_key", ts_col="last_change", tiebreak_cols=tb,
    )
    got = sorted(map(tuple, lake.read(spark, "silver", "t").collect()))
    want = sorted(
        map(
            tuple,
            cdc_apply(snapshot, changes, ["order_key"], "last_change",
                      tiebreak_cols=list(tb)).collect(),
        )
    )
    assert got == want

    last = max(
        f for f in os.listdir(os.path.join(ckpt, "commits")) if not f.startswith(".")
    )
    os.remove(os.path.join(ckpt, "commits", last))
    crc = os.path.join(ckpt, "commits", f".{last}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    lake_root = str(tmp_path / "lake")
    script = f"""
import sys; sys.path.insert(0, {os.getcwd()!r})
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[4]")
         .config("spark.sql.shuffle.partitions","4").config("spark.ui.enabled","false")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
from dataengineeringpipeline_spark import streaming
from dataengineeringpipeline_spark.datalake import Lake
lake = Lake({lake_root!r})
streaming.stream_cdc_merge(spark, {src!r}, lake, "silver", "t", {ckpt!r}, {ddl!r},
    key_col="order_key", ts_col="last_change",
    tiebreak_cols=("line_number", "op", "status", "total_price"))
print("REPLAY_ROWS", lake.read(spark, "silver", "t").count())
"""
    proc = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, timeout=300
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    line = next(l for l in proc.stdout.splitlines() if l.startswith("REPLAY_ROWS"))
    assert int(line.split()[1]) == len(got)
    assert sorted(map(tuple, lake.read(spark, "silver", "t").collect())) == want


def test_stream_gold_refresh_converges_and_replays_exactly_once(spark, sf_dir, tmp_path):
    """The streaming in-place gold refresh: interleaved (NOT
    per-key-complete) micro-batches converge the live customer-360
    table to the full batch recompute bit-for-bit, and a crash-replayed
    final batch (checkpoint commit deleted, fresh process) is a ledger
    no-op that leaves the table unchanged."""
    import os
    import subprocess
    import sys

    from pyspark.sql import functions as F

    from dataengineeringpipeline_spark import cleaning, gold, ivm, streaming
    from dataengineeringpipeline_spark.datalake import Lake

    sc = cleaning.clean_customers(
        spark.read.parquet(os.path.join(sf_dir, "customer.parquet")),
        spark.read.parquet(os.path.join(sf_dir, "nation.parquet")),
        spark.read.parquet(os.path.join(sf_dir, "region.parquet")),
    ).drop("geography").persist()
    so = cleaning.clean_orders(
        spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    ).select(
        "order_key", "customer_key", "order_year", "order_date", "total_price",
        "days_since_order", "order_size_category", "is_complete_order",
    ).persist()
    d = F.col("order_date")
    cut = F.lit("1998-06-01").cast("date")
    base, delta = so.filter(d < cut), so.filter(d >= cut)
    lake = Lake(str(tmp_path / "lake"))
    ivm.maintain_customer_partials(lake, base)
    initial = ivm.customer_analytics_from_partials(
        sc, lake.read(spark, "gold", "customer_partials")
    )
    lake.write(
        initial.repartitionByRange(8, "customer_key").sortWithinPartitions("customer_key"),
        "gold", "customer_analytics",
    )
    src, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    os.makedirs(src)
    streaming._stage_arrival_batches(delta, F.expr("order_key % 3"), src, 3)
    ddl = (
        "order_key bigint, customer_key bigint, order_year int, order_date date,"
        " total_price double, days_since_order int, order_size_category string,"
        " is_complete_order boolean"
    )
    streaming.stream_gold_refresh(
        spark, src, lake, sc, ckpt, ddl, max_files_per_trigger=1
    )
    full = gold.customer_analytics(sc, so.drop("order_key"))
    cols = full.columns
    want = sorted(tuple(r[c] for c in cols) for r in full.collect())
    got = sorted(
        tuple(r[c] for c in cols)
        for r in lake.read(spark, "gold", "customer_analytics").collect()
    )
    assert got == want
    # crash replay: drop the final checkpoint commit, rerun in a fresh
    # process — both ledgers make the re-applied batch a no-op
    last = max(
        f for f in os.listdir(os.path.join(ckpt, "commits")) if not f.startswith(".")
    )
    os.remove(os.path.join(ckpt, "commits", last))
    crc = os.path.join(ckpt, "commits", f".{last}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    lake_root = str(tmp_path / "lake")
    script = f"""
import sys; sys.path.insert(0, {os.getcwd()!r})
import os
from pyspark.sql import SparkSession, functions as F
spark = (SparkSession.builder.master("local[4]")
         .config("spark.sql.shuffle.partitions","4").config("spark.ui.enabled","false")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
from dataengineeringpipeline_spark import cleaning, streaming
from dataengineeringpipeline_spark.datalake import Lake
sc = cleaning.clean_customers(
    spark.read.parquet(os.path.join({sf_dir!r}, "customer.parquet")),
    spark.read.parquet(os.path.join({sf_dir!r}, "nation.parquet")),
    spark.read.parquet(os.path.join({sf_dir!r}, "region.parquet")),
).drop("geography")
lake = Lake({lake_root!r})
streaming.stream_gold_refresh(spark, {src!r}, lake, sc, {ckpt!r}, {ddl!r})
print("REPLAY_ROWS", lake.read(spark, "gold", "customer_analytics").count())
"""
    proc = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, timeout=300
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    line = next(l for l in proc.stdout.splitlines() if l.startswith("REPLAY_ROWS"))
    assert int(line.split()[1]) == len(got)
    got2 = sorted(
        tuple(r[c] for c in cols)
        for r in lake.read(spark, "gold", "customer_analytics").collect()
    )
    assert got2 == want
    sc.unpersist(); so.unpersist()


def test_stream_rule_summary_refresh_converges(spark, sf_dir, tmp_path):
    """Interleaved micro-batches through the generic rule-summary
    refresh converge the live table to the batch rule compiler
    bit-for-bit (a group's rows span batches; count_distinct grains
    merge additively)."""
    import os

    from pyspark.sql import functions as F

    from dataengineeringpipeline_spark import cleaning, ivm, rules, streaming
    from dataengineeringpipeline_spark.datalake import Lake

    rule = rules.MONTHLY_REVENUE_RULE
    silver = cleaning.clean_orders(
        spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    ).select(
        "order_key", "customer_key", "order_year", "order_month",
        "order_date", "order_status", "total_price", "is_complete_order",
    ).persist()
    d = F.col("order_date")
    cut = F.lit("1998-06-01").cast("date")
    base, delta = silver.filter(d < cut), silver.filter(d >= cut)
    lake = Lake(str(tmp_path / "lake"))
    ivm.maintain_rule_partials(lake, base, rule, "order_year")
    initial = ivm.rule_summary_from_partials(
        lake.read(spark, "gold", f"{rule.name}_partials"), rule
    )
    lake.write(initial, "gold", f"{rule.name}_summary")
    src, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    os.makedirs(src)
    streaming._stage_arrival_batches(delta, F.expr("order_key % 3"), src, 3)
    ddl = (
        "order_key bigint, customer_key bigint, order_year int, order_month int,"
        " order_date date, order_status string, total_price double,"
        " is_complete_order boolean"
    )
    streaming.stream_rule_summary_refresh(
        spark, rule, "order_year", src, lake, ckpt, ddl, max_files_per_trigger=1
    )
    cols = rules.apply_aggregation_rule(silver, rule).columns
    want = sorted(
        tuple(r[c] for c in cols)
        for r in rules.apply_aggregation_rule(silver, rule).collect()
    )
    got = sorted(
        tuple(r[c] for c in cols)
        for r in lake.read(spark, "gold", f"{rule.name}_summary").collect()
    )
    assert got == want
    silver.unpersist()


def test_stream_cdc_merge_evolves_schema(spark, tmp_path):
    """A CDC stream whose schema carries a column the bootstrapped table
    lacks: with evolve_schema=True the first micro-batch appends it via
    the sidecar, later batches keep merging, pre-stream rows read NULL."""
    import os

    from pyspark.sql import functions as F

    from dataengineeringpipeline_spark import streaming
    from dataengineeringpipeline_spark.datalake import Lake, _read_schema_json

    lake = Lake(str(tmp_path / "lake"))
    base = spark.createDataFrame(
        [(i, f"S{i % 3}", float(i)) for i in range(100)],
        "k long, status string, ts double",
    )
    lake.write(base.repartitionByRange(4, "k").sortWithinPartitions("k"), "silver", "t")
    changes = spark.createDataFrame(
        [
            (5, "S9", "WEB", "U", 100.0, 0),
            (200, "NEW", "APP", "U", 101.0, 1),
            (7, None, None, "D", 102.0, 2),
        ],
        "k long, status string, channel string, op string, ts double, b int",
    )
    src, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    os.makedirs(src)
    streaming._stage_arrival_batches(
        changes.drop("b"), (F.col("ts") - 100.0).cast("int"), src, 3
    )
    ddl = "k long, status string, channel string, op string, ts double"
    streaming.stream_cdc_merge(
        spark, src, lake, "silver", "t", ckpt, ddl,
        key_col="k", ts_col="ts", max_files_per_trigger=1, evolve_schema=True,
    )
    assert _read_schema_json(lake.path("silver", "t")) is not None
    t = lake.read(spark, "silver", "t")
    assert t.columns == ["k", "status", "ts", "channel"]
    rows = {r["k"]: (r["status"], r["channel"]) for r in t.collect()}
    assert rows[5] == ("S9", "WEB") and rows[200] == ("NEW", "APP")
    assert 7 not in rows
    assert rows[0] == ("S0", None)  # pre-stream row reads NULL
    assert len(rows) == 100  # 100 - 1 delete + 1 insert


def test_stream_cdc_merge_queues_behind_concurrent_writer(spark, tmp_path):
    """Streaming writers default to QUEUE mode on the single-writer
    fence: a concurrent maintenance job briefly holding the table lock
    (a compaction) makes the stream's merge WAIT, not crash — both
    complete and the table is consistent. With lock_wait_s=0 the same
    contention fails fast."""
    import os
    import threading
    import time

    import pytest

    from pyspark.sql import functions as F

    from dataengineeringpipeline_spark import streaming
    from dataengineeringpipeline_spark.datalake import Lake, _table_lock

    base = spark.createDataFrame(
        [(i, f"S{i % 3}", float(i)) for i in range(100)],
        "k long, status string, ts double",
    )
    changes = spark.createDataFrame(
        [(5, "S9", "U", 100.0), (200, "NEW", "U", 101.0), (7, None, "D", 102.0)],
        "k long, status string, op string, ts double",
    )
    ddl = "k long, status string, op string, ts double"

    def setup(root):
        lake = Lake(str(root / "lake"))
        lake.write(
            base.repartitionByRange(4, "k").sortWithinPartitions("k"), "silver", "t"
        )
        src = str(root / "in")
        os.makedirs(src)
        streaming._stage_arrival_batches(changes, F.lit(0), src, 1)
        return lake, src, str(root / "ckpt")

    def hold(path, hold_s, started):
        with _table_lock(path):
            started.set()
            time.sleep(hold_s)

    # queue mode (default): stream waits out the other writer
    lake, src, ckpt = setup(tmp_path / "q")
    started = threading.Event()
    t = threading.Thread(target=hold, args=(lake.path("silver", "t"), 3.0, started))
    t.start()
    started.wait()
    streaming.stream_cdc_merge(
        spark, src, lake, "silver", "t", ckpt, ddl, key_col="k", ts_col="ts"
    )
    t.join()
    rows = {r["k"]: r["status"] for r in lake.read(spark, "silver", "t").collect()}
    assert rows[5] == "S9" and rows[200] == "NEW" and 7 not in rows

    # fail-fast mode: the same contention raises through the stream
    lake2, src2, ckpt2 = setup(tmp_path / "ff")
    started2 = threading.Event()
    t2 = threading.Thread(
        target=hold, args=(lake2.path("silver", "t"), 5.0, started2)
    )
    t2.start()
    started2.wait()
    with pytest.raises(Exception, match="being mutated by pid"):
        streaming.stream_cdc_merge(
            spark, src2, lake2, "silver", "t", ckpt2, ddl,
            key_col="k", ts_col="ts", lock_wait_s=0.0,
        )
    t2.join()


def test_stream_cdc_merge_snapshot_each_batch_bounded(spark, tmp_path, monkeypatch):
    """snapshot_each_batch: a many-batch CDC merge stream commits one
    numbered snapshot per APPLIED micro-batch, and the streaming
    context bounds the version history BY DEFAULT (the _queued wrapper
    gives the stream's lake keep_snapshots when the caller set none) —
    8 applied batches retain only the newest 4 under a patched default.
    The latest snapshot equals the live table, and a full crash-replay
    of the feed (fresh checkpoint, same source) is ledger-hit no-ops
    that add NO versions. A caller-configured bound always wins over
    the streaming default."""
    import os

    from pyspark.sql import functions as F

    from dataengineeringpipeline_spark import streaming
    from dataengineeringpipeline_spark.datalake import Lake

    monkeypatch.setattr(streaming, "DEFAULT_STREAM_KEEP_SNAPSHOTS", 4)
    base = spark.createDataFrame(
        [(i, f"S{i % 3}", float(i)) for i in range(100)],
        "k long, status string, ts double",
    )
    changes = spark.createDataFrame(
        [(k, f"N{b}", "U", 100.0 + b) for b in range(8) for k in (b, 50 + b)],
        "k long, status string, op string, ts double",
    )
    lake = Lake(str(tmp_path / "lake"))  # no caller bound: default applies
    lake.write(base.repartitionByRange(4, "k").sortWithinPartitions("k"), "silver", "t")
    src, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    os.makedirs(src)
    streaming._stage_arrival_batches(changes, (F.col("ts") - 100.0).cast("int"), src, 8)
    ddl = "k long, status string, op string, ts double"
    streaming.stream_cdc_merge(
        spark, src, lake, "silver", "t", ckpt, ddl,
        key_col="k", ts_col="ts", max_files_per_trigger=1,
        snapshot_each_batch=True,
    )
    vs = lake.versions("silver", "t")
    assert vs == [5, 6, 7, 8]  # 8 applied batches, newest 4 retained
    live = sorted(map(tuple, lake.read(spark, "silver", "t").collect()))
    snap = sorted(
        map(tuple, lake.read_version(spark, "silver", "t", vs[-1]).collect())
    )
    assert snap == live
    # crash-replay of the whole feed: merges are exactly-once no-ops,
    # so the snapshot trail does not grow either
    streaming.stream_cdc_merge(
        spark, src, lake, "silver", "t", str(tmp_path / "ckpt2"), ddl,
        key_col="k", ts_col="ts", max_files_per_trigger=1,
        snapshot_each_batch=True,
    )
    assert lake.versions("silver", "t") == vs
    assert sorted(map(tuple, lake.read(spark, "silver", "t").collect())) == live
    # the default only fills a gap: a caller-set bound passes through
    assert streaming._queued(Lake(str(tmp_path / "x"), keep_snapshots=2), 5.0).keep_snapshots == 2
    assert streaming._queued(Lake(str(tmp_path / "y")), 5.0).keep_snapshots == 4


def test_streaming_gold_refresh_invocations_are_independent(spark, sf_dir):
    """Two invocations of the heavyweight streaming gold refresh each
    rebuild their own bootstrap from the parquet inputs (no process
    cache — every run computes end-to-end) and produce the identical
    result."""
    from dataengineeringpipeline_spark import streaming

    first = sorted(map(tuple, streaming.streaming_gold_refresh(spark, sf_dir).collect()))
    second = sorted(map(tuple, streaming.streaming_gold_refresh(spark, sf_dir).collect()))
    assert second == first and len(first) > 0


def test_drain_stops_and_deregisters_on_timeout_and_on_batch_error(spark, tmp_path):
    """The one drain lifecycle cleans up on its failure paths too: a
    writer slower than ``timeout_s`` raises ``TimeoutError``, a writer
    that raises propagates its error, and in both cases no query is left
    active."""
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    src = tmp_path / "in"
    src.mkdir()
    for i in range(2):
        pq.write_table(pa.table({"id": pa.array([i], pa.int64())}), str(src / f"f{i}.parquet"))
    raw = streaming._file_stream(spark, "id bigint", str(src), 1)

    def slow(batch_df, batch_id):
        time.sleep(3)

    def failing(batch_df, batch_id):
        raise ValueError("writer failed on purpose")

    with pytest.raises(TimeoutError, match="slow_drain did not finish within 1s"):
        streaming._drain(raw, slow, str(tmp_path / "ckpt_slow"), "slow_drain", 1)
    assert spark.streams.active == []
    with pytest.raises(Exception, match="writer failed on purpose"):
        streaming._drain(raw, failing, str(tmp_path / "ckpt_fail"), "failing_drain", 60)
    assert spark.streams.active == []


def test_release_caches_removes_streaming_temp_roots(spark, sf_dir, tmp_path):
    """A consumed streaming contract query leaves the temp directory as
    it found it once ``release_caches`` runs: its bootstrapped lake,
    arrival files and checkpoint live under one tracked temp root."""
    import os
    import tempfile

    from dataengineeringpipeline_spark.cache import release_caches

    # the JVM unpacks its parquet codec's native library into the temp
    # directory once per process, on first use: do that before looking
    spark.range(1).write.parquet(str(tmp_path / "codec_warmup"))
    tmp = tempfile.gettempdir()
    release_caches()
    before = set(os.listdir(tmp))
    rows = streaming.streaming_scd2_history(spark, sf_dir).collect()
    assert rows
    release_caches()
    assert set(os.listdir(tmp)) - before == set()
