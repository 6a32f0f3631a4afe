"""Scale strategies: bucketed joins really avoid exchanges, salted
aggregation is exactly equivalent to direct aggregation, sketches land
within their error bounds."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from dataengineeringpipeline_spark import scale


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    scale.write_bucketed(
        orders, "b_orders", "o_orderkey", num_buckets=8, path=str(tmp_path / "b_orders")
    )
    scale.write_bucketed(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
        "b_lineitem",
        "o_orderkey",
        8,
        path=str(tmp_path / "b_lineitem"),
    )
    # disable auto-broadcast so the join strategy question is real
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = scale.colocated_join(spark, "b_orders", "b_lineitem", "o_orderkey")
        plan = _plan(joined)
        assert "Exchange" not in plan, "bucketed join still shuffles"
        assert joined.count() == lineitem.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_salted_aggregate_equals_direct(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    salted = {
        r["o_orderstatus"]: (r["n"], r["revenue"], r["max_price"])
        for r in scale.salted_aggregate(
            orders,
            ["o_orderstatus"],
            {"n": "count:*", "revenue": "sum:o_totalprice", "max_price": "max:o_totalprice"},
            salt_buckets=16,
        ).collect()
    }
    direct = {
        r["o_orderstatus"]: (r["n"], r["revenue"], r["max_price"])
        for r in orders.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(27,2)")).cast("double").alias("revenue"),
            F.max("o_totalprice").alias("max_price"),
        )
        .collect()
    }
    assert salted == direct  # bit-exact: decimal partials combine losslessly


def test_salted_aggregate_rejects_non_decomposable(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    with pytest.raises(ValueError, match="non-decomposable"):
        scale.salted_aggregate(orders, ["o_orderstatus"], {"m": "avg:o_totalprice"})


def test_approx_distinct_within_rsd(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    exact = orders.select("o_custkey").distinct().count()
    approx = (
        scale.approx_distinct_summary(orders.withColumn("g", F.lit(1)), ["g"], "o_custkey")
        .collect()[0]["approx_distinct_o_custkey"]
    )
    assert abs(approx - exact) / exact < 0.05


def test_approx_quantiles_bracket_exact(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lo, hi = scale.approx_quantiles(orders, "o_totalprice", [0.25, 0.75])
    mn, mx = orders.agg(F.min("o_totalprice"), F.max("o_totalprice")).collect()[0]
    assert mn <= lo <= hi <= mx


def test_map_only_text_ops_have_no_exchange(spark, sf_dir):
    """repetition_stats and scrub_pii are per-row projections — their
    physical plans must contain NO Exchange (shuffle): at 100 TB these
    run as a single map-only pass over the corpus."""
    from dataengineeringpipeline_spark.operators import text as text_ops

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for df in (text_ops.repetition_stats(docs), text_ops.scrub_pii(docs)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan.splitlines()[:5]


def test_chunking_scan_prunes_to_two_columns(spark, sf_dir):
    """chunk_documents must push column pruning to the parquet scan:
    reading (doc_id, text) only, never lang/source/n_chars."""
    from dataengineeringpipeline_spark.operators import text as text_ops

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = text_ops.chunk_documents(docs)._jdf.queryExecution().executedPlan().toString()
    scan_lines = [l for l in plan.splitlines() if "ReadSchema" in l or "Scan parquet" in l]
    assert any("doc_id" in l and "text" in l and "lang" not in l for l in plan.splitlines()), scan_lines


def test_minhash_signatures_are_map_only_on_wide_input(spark, sf_dir, tmp_path):
    """The MinHash front end's scale claim: on a well-partitioned corpus
    (where ``spread`` is a no-op) signature computation is a pure
    projection — hash arrays + array_min(transform) — with NO Exchange
    anywhere in the physical plan. The exploded-aggregation form this
    replaced shuffled every shingle-hash row."""
    from dataengineeringpipeline_spark.operators import dedup as dedup_ops

    wide = str(tmp_path / "docs_wide")
    spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(64).write.mode(
        "overwrite"
    ).parquet(wide)
    docs = spark.read.parquet(wide)
    plan = dedup_ops.minhash_signatures(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan.splitlines()[:8]


def test_ab_split_scoring_is_shuffle_free(spark, sf_dir):
    """Deployment A/B scoring: variant assignment is a key-hash filter and
    model inference is a map — the scored population plan must contain no
    Exchange (the union of two map-only branches)."""
    from dataengineeringpipeline_spark import cleaning, deployment, features, mlpipe

    feats = features.ml_customer_features(
        cleaning.clean_orders(spark.read.parquet(f"{sf_dir}/orders.parquet"))
    )
    prepared = mlpipe._prepare(feats, "churn_flag", None).localCheckpoint()
    model_a = mlpipe.make_classifier("random_forest", n_estimators=3).fit(prepared)
    model_b = mlpipe.make_classifier("random_forest", n_estimators=3).fit(prepared)
    scored = deployment.ab_split_score(prepared, model_a, model_b, key_col="customer_key")
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan.splitlines()[:8]


def test_lake_compaction_shrinks_file_count_preserving_data(spark, sf_dir, tmp_path):
    """Small-file compaction: a fragmented partitioned table (many tiny
    part files per partition, as streaming appends leave behind) rewrites
    into ~1 file per partition with identical contents."""
    from dataengineeringpipeline_spark.datalake import Lake

    lake = Lake(str(tmp_path / "lake"))
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    # fragment: 12 writers per partition directory
    lake.write(
        orders.repartition(12), "silver", "orders_frag",
        partition_by=("o_orderstatus",),
    )
    before = {
        (r["o_orderkey"], float(r["o_totalprice"]))
        for r in lake.read(spark, "silver", "orders_frag").collect()
    }
    report = lake.compact(
        spark, "silver", "orders_frag", target_file_mb=512,
        partition_by=("o_orderstatus",),
    )
    assert report["files_before"] >= 3 * 12
    assert report["files_after"] <= 3  # one file per status partition
    after = {
        (r["o_orderkey"], float(r["o_totalprice"]))
        for r in lake.read(spark, "silver", "orders_frag").collect()
    }
    assert after == before and report["rows"] == len(before)


def test_key_skew_profile_flags_heavy_hitter(spark):
    from pyspark.sql import Row

    rows = [Row(k="hot", v=i) for i in range(90)] + [Row(k=c, v=0) for c in "abcdefghij"]
    df = spark.createDataFrame(rows)
    top = scale.key_skew_profile(df, ["k"], top_n=3).collect()
    assert top[0]["k"] == "hot" and top[0]["rows"] == 90
    assert abs(top[0]["share"] - 0.9) < 1e-12
    # mean group size = 100/11 rows; hot is ~9.9x the mean
    assert top[0]["skew_factor"] > 9
    assert top[1]["rows"] == 1  # everything else is singleton


def test_cms_never_undercounts_and_ranks_heavy_hitter(spark):
    """Count-min invariants: estimate >= exact count for EVERY key, a
    clear heavy hitter tops the estimate ranking, and the sketch state
    is depth x width regardless of key cardinality."""
    from pyspark.sql import Row

    rows = [Row(k=999) for _ in range(500)] + [Row(k=i) for i in range(400)]
    df = spark.createDataFrame(rows)
    hh = scale.cms_heavy_hitters(df, "k", top_n=401).collect()
    assert all(r["overcount"] >= 0 for r in hh)  # CM never undercounts
    assert hh[0]["k"] == 999 and hh[0]["true_count"] == 500
    assert hh[0]["est_count"] >= 500
    sk = scale.cms_sketch(df, "k")
    assert sk.count() <= scale.CMS_DEPTH * scale.CMS_WIDTH
    # total mass per sketch row equals the input row count (mergeability)
    per_d = {r["d"]: r["s"] for r in sk.groupBy("d").agg(F.sum("c").alias("s")).collect()}
    assert set(per_d.values()) == {900}


def test_cms_plan_shape(spark, sf_dir):
    """The CMS scale claims, plan-asserted: the sketch aggregation is the
    only corpus-wide work (partial aggregation before its exchange), the
    sketch reaches the estimator via broadcast (no shuffle join), and
    top-n is TakeOrdered, never a single-partition global sort."""
    from dataengineeringpipeline_spark.datalake import load_events

    ev = load_events(spark, sf_dir)
    plan = scale.cms_heavy_hitters(ev, "user_id")._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan.splitlines()[:8]
    assert "TakeOrderedAndProject" in plan, plan.splitlines()[:8]
    assert "SortMergeJoin" not in plan, plan.splitlines()[:8]


def test_partition_balance_reports_layout(spark):
    df = spark.range(0, 10_000).repartition(8)
    row = scale.partition_balance(df).collect()[0]
    assert row["partitions"] == 8
    assert row["min_rows"] + row["max_rows"] >= 2
    assert abs(row["mean_rows"] - 1250.0) < 1e-9
    assert row["balance_factor"] >= 1.0


def test_spread_parallelizes_narrow_input_and_keeps_results(spark, sf_dir):
    """spread() must (a) leave well-partitioned input untouched, (b) lift
    a single-partition scan to the session parallelism, and (c) keep the
    heavy per-row work ABOVE the exchange — Catalyst would otherwise push
    a deterministic filter through the repartition back onto the 1-task
    scan, which is exactly the pathology spread exists to fix."""
    import pyspark.sql.functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert docs.rdd.getNumPartitions() == 1
    wide = spark.range(0, 1000).repartition(64)
    assert scale.spread(wide) is wide  # no-op past the threshold

    rep = scale.spread(docs, "doc_id")
    target = spark.sparkContext.defaultParallelism
    assert rep.rdd.getNumPartitions() == target
    # heavy downstream filter still runs on `target` runtime partitions
    filtered = rep.filter(F.length("text") > 0).select("doc_id")
    parts = filtered.select(F.spark_partition_id().alias("p")).distinct().count()
    assert parts > 1
    # identical result set
    assert sorted(r["doc_id"] for r in filtered.collect()) == sorted(
        r["doc_id"] for r in docs.filter(F.length("text") > 0).select("doc_id").collect()
    )
    from dataengineeringpipeline_spark.cache import release_caches

    release_caches()


def test_duplicate_span_plan_shape(spark, sf_dir):
    """Span-coverage scale claims, plan-asserted: the window-hash front
    end and duplicate marking stay equi-joined JVM work — no cartesian
    product, no nested-loop join, no Python eval anywhere in the plan."""
    from dataengineeringpipeline_spark.cache import release_caches
    from dataengineeringpipeline_spark.operators.dedup import duplicate_span_coverage

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = (
        duplicate_span_coverage(docs)._jdf.queryExecution().executedPlan().toString()
    )
    release_caches()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_cluster_by_collapses_read_amplification(spark, sf_dir, tmp_path):
    """A round-robin-written table interleaves the full ts range through
    every file (point probe hits every row group); range-clustering on
    ts_us collapses the footer-stats read amplification to ~1 while
    preserving the data."""
    from dataengineeringpipeline_spark.datalake import Lake, load_events

    lake = Lake(str(tmp_path))
    ev = load_events(spark, sf_dir).select("user_id", "event_type", "ts_us")
    n = ev.count()
    checksum = ev.agg(F.sum("ts_us")).collect()[0][0]
    lake.write(ev.repartition(8), "silver", "ev_scrambled")
    rep = lake.cluster_by(spark, "silver", "ev_scrambled", ("ts_us",), target_file_mb=1)
    assert rep["rows"] == n
    assert rep["read_amplification_before"] > 3.0, rep
    assert rep["read_amplification_after"] < 1.5, rep
    back = spark.read.parquet(lake.path("silver", "ev_scrambled"))
    assert back.count() == n
    assert back.agg(F.sum("ts_us")).collect()[0][0] == checksum


def test_hll_registers_merge_and_estimate_accuracy(spark):
    """HLL properties: shard registers max-merge to exactly the
    whole-data registers (the mergeable-sketch contract), and the
    estimator lands within 3 sigma (~10% at p=10) of truth in both the
    linear-counting and raw-harmonic branches."""
    from dataengineeringpipeline_spark.scale import hll_estimate, hll_registers

    for n in (500, 200_000):  # small range (linear counting) and raw branch
        df = spark.range(n).selectExpr("id AS k", "CAST(id % 2 AS INT) AS half")
        full = hll_registers(df, "k")
        merged = (
            hll_registers(df.filter("half = 0"), "k")
            .unionByName(hll_registers(df.filter("half = 1"), "k"))
            .groupBy("bucket")
            .agg(F.max("max_rho").alias("max_rho"))
        )
        assert merged.exceptAll(full).count() == 0
        assert full.exceptAll(merged).count() == 0
        est = hll_estimate(full).collect()[0]["hll_estimate"]
        assert abs(est - n) / n < 0.10, (n, est)


def test_hll_distinct_report_matches_sketch_summary(spark, sf_dir):
    """The tested gauge and the oracle-checked digest agree on the exact
    side, and the estimate is within 3 sigma of it per event type."""
    from dataengineeringpipeline_spark.scale import hll_distinct_report, hll_sketch_summary

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    gauge = {r["event_type"]: r for r in hll_distinct_report(ev).collect()}
    digest = {r["event_type"]: r for r in hll_sketch_summary(ev).collect()}
    assert set(gauge) == set(digest)
    for t, g in gauge.items():
        assert g["exact_distinct"] == digest[t]["exact_distinct"]
        assert g["rel_error"] < 0.10, (t, g)


def test_materialized_hll_range_query_prunes_and_merges_exactly(spark, sf_dir, tmp_path):
    """Lake HLL lifecycle: per-day registers materialize partitioned by
    day; a range query's max-merge equals the registers computed
    directly on the range slice (merge exactness), the estimate lands
    within 3 sigma of the exact range distinct, and the date filter
    reaches the scan as a partition filter."""
    from dataengineeringpipeline_spark.datalake import Lake, load_events

    lake = Lake(str(tmp_path))
    ev = load_events(spark, sf_dir)
    scale.materialize_hll(ev, lake)
    lo, hi = "2024-01-05", "2024-01-14"
    sliced = ev.filter((F.col("event_date") >= lo) & (F.col("event_date") <= hi))
    direct = {
        r["bucket"]: r["max_rho"] for r in scale.hll_registers(sliced, "user_id").collect()
    }
    regs = lake.read(spark, "gold", "hll_user_daily").filter(
        (F.col("event_date") >= F.lit(lo)) & (F.col("event_date") <= F.lit(hi))
    )
    merged = {
        r["bucket"]: r["max_rho"]
        for r in regs.groupBy("bucket").agg(F.max("max_rho").alias("max_rho")).collect()
    }
    assert merged == direct
    est = scale.hll_range_distinct(spark, lake, lo, hi).collect()[0]["hll_estimate"]
    exact = sliced.select("user_id").distinct().count()
    assert abs(est - exact) / exact < 0.10, (est, exact)
    plan = regs._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "event_date" in plan.split("PartitionFilters")[1][:200]


def test_bloom_prune_never_drops_true_matches(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").filter(
        "c_mktsegment = 'BUILDING'"
    )
    bloom = scale.bloom_build(cust, "c_custkey")
    pruned = scale.bloom_prune(orders, bloom, "o_custkey")
    true_rows = orders.join(
        cust.select(F.col("c_custkey").alias("o_custkey")).distinct(),
        "o_custkey",
        "left_semi",
    )
    # no false negatives: every true match survives pruning
    assert true_rows.join(pruned, orders.columns, "left_anti").count() == 0
    assert pruned.count() >= true_rows.count()
    assert pruned.columns == orders.columns


def test_bloom_small_bitmap_shows_false_positives_but_bounded(spark, sf_dir):
    # undersized bitmap: false positives appear, bitmap stays <= m bits,
    # and the stats row stays internally consistent
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").filter(
        "c_mktsegment = 'BUILDING'"
    )
    row = scale.bloom_prune_stats(
        orders, cust, "o_custkey", "c_custkey", m=256, k=2
    ).collect()[0]
    assert row["bits_set"] <= 256
    assert row["passed_rows"] == row["true_match_rows"] + row["false_positive_rows"]
    assert row["false_positive_rows"] > 0  # loaded filter must show fp
    assert row["pruned_rows"] == row["fact_rows"] - row["passed_rows"]


def test_bloom_prune_is_map_only_on_fact_side(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").filter(
        "c_mktsegment = 'BUILDING'"
    )
    bloom = scale.bloom_build(cust, "c_custkey")
    plan = _plan(scale.bloom_prune(orders, bloom, "o_custkey"))
    # probe side: broadcast join only — the fact scan reaches the filter
    # with no exchange above it
    assert "BroadcastExchange" in plan
    fact_section = plan.split("BroadcastExchange")[0]
    assert "Exchange hashpartitioning" not in fact_section


def test_category_drift_detects_planted_shift(spark):
    rows = [("a", "2024-01-01")] * 80 + [("b", "2024-01-01")] * 20 + [
        ("a", "2024-03-01")
    ] * 20 + [("b", "2024-03-01")] * 80
    df = spark.createDataFrame(rows, "category string, d string").select(
        F.col("category").alias("cat"), F.to_timestamp("d").alias("ts")
    )
    from dataengineeringpipeline_spark import quality

    out = {r["category"]: r for r in quality.category_drift(df, "cat", "ts", "2024-02-01").collect()}
    # tv = 0.5*(|0.8-0.2| + |0.2-0.8|) = 0.6 exactly -> major
    assert out["a"]["tv_distance"] == pytest.approx(0.6, abs=1e-12)
    assert out["a"]["drift_band"] == "major"
    assert out["a"]["base_n"] == 80 and out["a"]["cur_n"] == 20
    assert out["b"]["share_delta"] == pytest.approx(0.6, abs=1e-12)


def test_zorder_cluster_serves_both_columns(spark, sf_dir, tmp_path):
    """Lexicographic clustering on (user_id, ts_us) leaves ts_us probes
    scanning every file; Z-order interleaving gives BOTH columns narrow
    per-file ranges, at a modest cost to the leading column."""
    from dataengineeringpipeline_spark.datalake import Lake, load_events

    lake = Lake(str(tmp_path))
    ev = load_events(spark, sf_dir).select("user_id", "event_type", "ts_us")
    n = ev.count()
    checksum = ev.agg(F.sum("ts_us")).collect()[0][0]
    lake.write(ev.repartition(8), "silver", "ev_z")
    # size the target so the rewrite lands in ~4 files at any test SF
    from dataengineeringpipeline_spark.datalake import _file_stats

    _files, nbytes = _file_stats(lake.path("silver", "ev_z"))
    rep = lake.cluster_by_zorder(
        spark, "silver", "ev_z", ("user_id", "ts_us"), bits=8,
        target_file_mb=nbytes / 4e6,
    )
    assert rep["rows"] == n
    before = rep["read_amplification_before"]
    after = rep["read_amplification_after"]
    assert rep["files_after"] >= 3  # multi-file, or the comparison is vacuous
    # scrambled layout: every file spans ~the full range of both columns
    assert before["user_id"] > 3.0 and before["ts_us"] > 3.0, rep
    # z-order: BOTH columns land near sqrt(files) (measured ~2.5 and ~2.1
    # over 4 files) — lexicographic (user_id, ts_us) clustering on the
    # same table measures 1.0 / 4.0: perfect lead column, unclustered
    # second
    assert after["user_id"] < before["user_id"] / 2, rep
    assert after["ts_us"] < before["ts_us"] / 2, rep
    back = spark.read.parquet(lake.path("silver", "ev_z"))
    assert back.count() == n
    assert back.agg(F.sum("ts_us")).collect()[0][0] == checksum
    assert sorted(back.columns) == sorted(["user_id", "event_type", "ts_us"])


def test_category_drift_empty_period_reports_undefined_not_error(spark):
    """An empty baseline window must not be an ANSI divide-by-zero job
    kill: shares/tv go NULL and the band says 'undefined'."""
    from dataengineeringpipeline_spark import quality

    rows = [("a", "2024-03-01"), ("b", "2024-03-02")]  # no base-period rows
    df = spark.createDataFrame(rows, "cat string, d string").select(
        "cat", F.to_timestamp("d").alias("ts")
    )
    out = quality.category_drift(df, "cat", "ts", "2024-02-01").collect()
    assert len(out) == 2
    assert all(r["drift_band"] == "undefined" for r in out)
    assert all(r["tv_distance"] is None and r["base_share"] is None for r in out)
    assert {r["category"]: r["cur_n"] for r in out} == {"a": 1, "b": 1}


# -- hot-key-split (skew) join ----------------------------------------------


def _skew_inputs(spark):
    fact = spark.createDataFrame(
        [(i, 1 if i % 2 == 0 else 2 + i % 5, float(i)) for i in range(200)]
        + [(900, None, 1.5), (901, 99, 2.5)],  # null key + dim-less key
        "fid bigint, k bigint, v double",
    )
    dim = spark.createDataFrame(
        [(1, "hot"), (2, "a"), (3, "b"), (4, "c"), (5, "d"), (6, "e"), (77, "unref")],
        "dk bigint, label string",
    )
    return fact, dim


@pytest.mark.parametrize("how", ["inner", "left"])
def test_skew_split_join_equals_plain_join(spark, how):
    fact, dim = _skew_inputs(spark)
    plain = fact.join(dim, fact["k"] == dim["dk"], how)
    split = scale.skew_split_join(fact, dim, "k", "dk", min_rows=10, top_n=5, how=how)
    key = lambda r: tuple((c, str(v)) for c, v in sorted(r.asDict().items()))
    assert sorted(map(key, split.collect())) == sorted(map(key, plain.collect()))


def test_skew_split_join_hot_slice_is_broadcast(spark):
    fact, dim = _skew_inputs(spark)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        split = scale.skew_split_join(fact, dim, "k", "dk", min_rows=50, top_n=5)
        plan = _plan(split)
        # the hot slice (key 1, 100 rows ≥ min_rows=50) takes the broadcast
        # path even with auto-broadcast off; the cold slice shuffles
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_skew_split_join_no_hot_keys_degrades_to_plain(spark):
    fact, dim = _skew_inputs(spark)
    split = scale.skew_split_join(fact, dim, "k", "dk", min_rows=10_000)
    plain = fact.join(dim, fact["k"] == dim["dk"], "inner")
    assert sorted(map(str, split.collect())) == sorted(map(str, plain.collect()))


def test_skew_split_join_rejects_right_join(spark):
    fact, dim = _skew_inputs(spark)
    with pytest.raises(ValueError, match="inner/left"):
        scale.skew_split_join(fact, dim, "k", "dk", how="right")


def test_numeric_drift_detects_planted_shift(spark):
    from dataengineeringpipeline_spark import quality

    rows = [(i, 0, float(i % 100)) for i in range(1000)] + [
        (i, 1, float(i % 100) + 50.0) for i in range(1000)
    ]
    df = spark.createDataFrame(rows, "id long, period int, v double")
    out = quality.numeric_drift(df, "v", "period", 1).collect()
    assert [r["p"] for r in out] == [0.1, 0.25, 0.5, 0.75, 0.9]
    for r in out:
        # identical shape shifted +50 → every quantile gap is 5000 in
        # the cents domain (up to interpolation ulps)
        assert abs(r["abs_gap"] - 5000.0) < 1e-6
        assert abs((r["cur_q"] - r["base_q"]) - 5000.0) < 1e-6


def test_numeric_drift_zero_on_identical_mix(spark):
    from dataengineeringpipeline_spark import quality

    rows = [(i, p, float(i % 37)) for i in range(500) for p in (0, 1)]
    df = spark.createDataFrame(rows, "id long, period int, v double")
    out = quality.numeric_drift(df, "v", "period", 1).collect()
    assert all(r["abs_gap"] == 0.0 for r in out)


def test_numeric_drift_approx_grid_parity(spark):
    """The percentile_approx warehouse path returns the SAME grid shape
    as the exact path — identical schema, percentile column, ordering —
    and rank-approximate values within sketch error of the exact ones
    (accuracy=10000 on the sf0.01 events table bounds rank error to a
    handful of rows)."""
    from dataengineeringpipeline_spark import quality
    from dataengineeringpipeline_spark.datalake import load_events

    events = load_events(spark, "/root/testdata/sf0.01")
    split = 19_738 * 86_400_000_000
    exact = quality.numeric_drift(events, "value", "ts_us", split).collect()
    approx = quality.numeric_drift(
        events, "value", "ts_us", split, exact=False
    ).collect()
    assert [r["p"] for r in approx] == [r["p"] for r in exact]
    assert approx[0].asDict().keys() == exact[0].asDict().keys()
    for a, e in zip(approx, exact):
        for col in ("base_q", "cur_q"):
            assert abs(a[col] - e[col]) <= abs(e[col]) * 0.01 + 1.0, (
                a["p"], col, a[col], e[col],
            )


def test_join_strategy_advisor_branches(spark):
    """Three synthetic joins hit the three strategies: a tiny dim
    broadcasts; a wide dim with a uniform fact shuffles; a wide dim with
    a hot fact key (60% of rows on one key) splits."""
    from dataengineeringpipeline_spark import scale

    tiny_dim = spark.createDataFrame([(i,) for i in range(10)], "k long")
    # 40-col-equivalent width via strings: 3 string cols ~ 60B/row * 100 rows
    wide_dim = spark.createDataFrame(
        [(i, "x" * 5, "y" * 5) for i in range(100)], "k long, a string, b string"
    )
    uniform_fact = spark.createDataFrame([(i % 50,) for i in range(1000)], "k long")
    hot_fact = spark.createDataFrame(
        [(0,)] * 600 + [(i % 50 + 1,) for i in range(400)], "k long"
    )
    out = {
        (r["fact_table"], r["dim_table"]): r
        for r in scale.join_strategy_advisor(
            [
                ("f1", uniform_fact, "k", "tiny", tiny_dim, "k"),
                ("f2", uniform_fact, "k", "wide", wide_dim, "k"),
                ("f3", hot_fact, "k", "wide", wide_dim, "k"),
            ],
            broadcast_bytes=1000,  # tiny=80B fits; wide=4800B does not
            hot_key_pm=100,
        ).collect()
    }
    assert out[("f1", "tiny")]["strategy"] == "broadcast"
    assert out[("f2", "wide")]["strategy"] == "shuffle_hash"
    assert out[("f3", "wide")]["strategy"] == "hot_key_split"
    r = out[("f3", "wide")]
    assert r["fact_rows"] == 1000 and r["top_key_rows"] == 600 and r["top_key_pm"] == 600
    assert out[("f2", "wide")]["dim_est_bytes"] == 100 * (8 + 20 + 20)


def test_table_stats_closed_form(spark):
    """Hand-computed stats: nulls, ndv, numeric min/max, string min/max
    + mean length, timestamp epoch-µs normalization."""
    import datetime as dt

    from dataengineeringpipeline_spark import quality

    rows = [
        (1, 2.5, "bb", dt.datetime(1970, 1, 1, 0, 0, 1)),
        (2, None, "a", dt.datetime(1970, 1, 2)),
        (2, -1.0, None, None),
    ]
    df = spark.createDataFrame(rows, "k long, v double, s string, t timestamp")
    out = {r["column_name"]: r for r in quality.table_stats(df).collect()}
    assert set(out) == {"k", "v", "s", "t"}
    k = out["k"]
    assert (k["rows"], k["non_null"], k["nulls"], k["ndv"]) == (3, 3, 0, 2)
    assert (k["min_num"], k["max_num"]) == (1.0, 2.0)
    assert k["min_str"] is None and k["avg_len"] is None
    v = out["v"]
    assert (v["non_null"], v["nulls"], v["ndv"], v["min_num"], v["max_num"]) == (2, 1, 2, -1.0, 2.5)
    s = out["s"]
    assert (s["min_str"], s["max_str"], s["ndv"]) == ("a", "bb", 2)
    assert s["avg_len"] == 1.5 and s["min_num"] is None
    t = out["t"]
    assert t["min_num"] == 1_000_000.0  # 1970-01-01T00:00:01 in µs
    assert t["max_num"] == 86_400_000_000.0
    # approx mode: same shape, sketched ndv within HLL tolerance
    approx = {r["column_name"]: r for r in quality.table_stats(df, exact=False).collect()}
    assert set(approx) == set(out)
    for c in out:
        assert abs(approx[c]["ndv"] - out[c]["ndv"]) <= max(1, out[c]["ndv"] // 10)


def test_advisor_from_stats_agrees_and_never_scans_facts(spark, sf_dir, tmp_path):
    """The ANALYZE-fed advisor must (a) agree row-for-row with the
    inline advisor on the same data, and (b) read ONLY the persisted
    stats table — no fact/dim parquet scan appears in its plan (the
    one-fewer-fact-scan-per-advised-join claim, plan-asserted)."""
    from dataengineeringpipeline_spark.datalake import Lake

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    inline = scale.join_strategy_advisor(
        [
            ("orders", orders, "o_custkey", "customer", customer, "c_custkey"),
            ("events", events, "user_id", "events", events, "user_id"),
        ],
        broadcast_bytes=512 * 1024,
        hot_key_pm=5,
    ).collect()
    lake = Lake(str(tmp_path))
    stats = (
        scale.analyze_join_keys("orders", orders, ["o_custkey"])
        .unionByName(scale.analyze_join_keys("customer", customer, ["c_custkey"]))
        .unionByName(scale.analyze_join_keys("events", events, ["user_id"]))
    )
    lake.write(stats, "gold", "join_key_stats")
    advised = scale.join_strategy_advisor_from_stats(
        lake.read(spark, "gold", "join_key_stats"),
        [
            ("orders", "o_custkey", "customer", "c_custkey", scale.est_row_bytes(customer)),
            ("events", "user_id", "events", "user_id", scale.est_row_bytes(events)),
        ],
        broadcast_bytes=512 * 1024,
        hot_key_pm=5,
    )
    plan = _plan(advised)
    assert "join_key_stats" in plan  # the stats table is the only scan …
    for fact in ("orders.parquet", "customer.parquet", "events.parquet"):
        assert fact not in plan  # … no fact or dim is ever re-scanned
    assert [tuple(r) for r in advised.collect()] == [tuple(r) for r in inline]


def test_analyze_join_keys_empty_table(spark):
    """Degenerate stats must be explicit zeros, not NULLs, so the
    advisor's guarded top_key_pm stays well-defined."""
    empty = spark.createDataFrame([], "k long, v double")
    row = scale.analyze_join_keys("t", empty, ["k"]).collect()[0]
    assert (row["rows"], row["ndv"], row["top_key_rows"]) == (0, 0, 0)


def test_purge_keys_removes_only_matching_rows(spark, tmp_path):
    """Erasure semantics: matching rows physically gone, everything else
    byte-identical; purging an empty key list is a no-op rewrite; the
    audit arithmetic reconciles."""
    from dataengineeringpipeline_spark.datalake import Lake

    lake = Lake(str(tmp_path))
    df = spark.createDataFrame(
        [(i, i % 5, float(i)) for i in range(100)], "id long, user_id long, v double"
    )
    lake.write(df, "bronze", "t")
    keys = spark.createDataFrame([(1,), (3,)], "user_id long")
    audit = lake.purge_keys(spark, "bronze", "t", "user_id", keys)
    assert {k: audit[k] for k in ("table", "key_col", "rows_before", "rows_removed", "rows_after")} == {
        "table": "bronze.t",
        "key_col": "user_id",
        "rows_before": 100,
        "rows_removed": 40,
        "rows_after": 60,
    }
    assert 1 <= audit["files_rewritten"] <= audit["files_total"]
    back = lake.read(spark, "bronze", "t")
    assert back.filter(F.col("user_id").isin(1, 3)).count() == 0
    kept = {(r["id"], r["v"]) for r in back.collect()}
    assert kept == {(i, float(i)) for i in range(100) if i % 5 not in (1, 3)}
    # no tombstone/backup dirs left behind
    import os

    # (the flock fence's lock file persists by design — it is not litter)
    siblings = [s for s in os.listdir(str(tmp_path / "bronze")) if s != "t__lock"]
    assert siblings == ["t"]
    # empty opt-out list: zero files rewritten, nothing touched
    empty = spark.createDataFrame([], "user_id long")
    audit2 = lake.purge_keys(spark, "bronze", "t", "user_id", empty)
    assert audit2["rows_removed"] == 0 and audit2["rows_after"] == 60
    assert audit2["files_rewritten"] == 0


def test_purge_keys_prunes_by_footer_envelope(spark, tmp_path):
    """On a key-clustered table only the files whose footer [min,max]
    envelope can hold an opt-out key are rewritten; every other file
    survives byte-identical (same inode, same mtime — hard-linked, not
    copied), and the audit arithmetic still reconciles without a
    full-table count."""
    import os

    from dataengineeringpipeline_spark.datalake import Lake

    lake = Lake(str(tmp_path))
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(1000)], "user_id long, v double"
    )
    # 10 files of disjoint user_id ranges (0-99, 100-199, ...)
    lake.write(df.repartitionByRange(10, "user_id").sortWithinPartitions("user_id"), "bronze", "t")
    path = lake.path("bronze", "t")
    before = {
        f: (os.stat(os.path.join(path, f)).st_ino, os.stat(os.path.join(path, f)).st_mtime_ns)
        for f in os.listdir(path)
        if f.endswith(".parquet")
    }
    # keys land in exactly one range-file's envelope
    keys = spark.createDataFrame([(250,), (251,)], "user_id long")
    audit = lake.purge_keys(spark, "bronze", "t", "user_id", keys)
    assert audit["rows_removed"] == 2 and audit["rows_after"] == 998
    assert audit["files_rewritten"] == 1 and audit["files_total"] == 10
    after = {
        f: (os.stat(os.path.join(path, f)).st_ino, os.stat(os.path.join(path, f)).st_mtime_ns)
        for f in os.listdir(path)
        if f.endswith(".parquet")
    }
    untouched = set(before) & set(after)
    assert len(untouched) == 9  # one file replaced, nine linked through
    for f in untouched:
        assert before[f] == after[f]  # same inode + mtime: byte-identical
    back = lake.read(spark, "bronze", "t")
    assert back.count() == 998
    assert back.filter(F.col("user_id").isin(250, 251)).count() == 0


def test_purge_keys_recovers_from_crashed_swap(spark, tmp_path):
    """A crash between the two swap renames (live path absent, old copy
    stranded at __prepurge) is repaired by the next purge call."""
    import os
    import shutil

    from dataengineeringpipeline_spark.datalake import Lake

    lake = Lake(str(tmp_path))
    df = spark.createDataFrame([(i, float(i)) for i in range(50)], "user_id long, v double")
    lake.write(df, "bronze", "t")
    path = lake.path("bronze", "t")
    # simulate the mid-swap crash: table renamed away, staging dir stale
    os.rename(path, path + "__prepurge")
    os.makedirs(path + "__purging")
    keys = spark.createDataFrame([(7,)], "user_id long")
    audit = lake.purge_keys(spark, "bronze", "t", "user_id", keys)
    assert audit["rows_before"] == 50 and audit["rows_removed"] == 1
    assert sorted(
        s for s in os.listdir(str(tmp_path / "bronze")) if s != "t__lock"
    ) == ["t"]  # the flock fence's lock file persists by design
    shutil.rmtree(str(tmp_path / "bronze"))


def test_merge_changes_prunes_by_footer_envelope(spark, tmp_path):
    """Lake MERGE INTO: a CDC batch touching one key range rewrites only
    that range's file; the other files hard-link through byte-identical;
    inserts of brand-new keys need no rewrite at all; the merged table
    equals the logical cdc_apply."""
    import os

    from dataengineeringpipeline_spark.datalake import Lake
    from dataengineeringpipeline_spark.scd import cdc_apply

    lake = Lake(str(tmp_path))
    df = spark.createDataFrame(
        [(i, f"S{i % 7}", float(i)) for i in range(1000)],
        "k long, status string, ts double",
    )
    lake.write(df.repartitionByRange(10, "k").sortWithinPartitions("k"), "silver", "t")
    path = lake.path("silver", "t")

    def state():
        return {
            f: (os.stat(os.path.join(path, f)).st_ino,
                os.stat(os.path.join(path, f)).st_mtime_ns)
            for f in os.listdir(path)
            if f.endswith(".parquet")
        }

    before = state()
    # batch: update 340, delete 341, insert 5000 (outside every envelope)
    chg = spark.createDataFrame(
        [
            (340, "U", "UPD", 2000.0, 1),
            (341, "D", "GONE", 2000.0, 1),
            (5000, "U", "NEW", 2000.0, 1),
        ],
        "k long, op string, status string, ts double, tb int",
    )
    audit = lake.merge_changes(
        spark, "silver", "t", chg, key_col="k", ts_col="ts", tiebreak_cols=("tb",)
    )
    assert audit["files_total"] == 10 and audit["files_rewritten"] == 1
    assert audit["rows_before"] == 1000 and audit["rows_upserted"] == 2
    assert audit["rows_after"] == 1000  # -1 delete +1 insert net zero; update in place

    after = state()
    untouched = set(before) & set(after)
    assert len(untouched) == 9
    for f in untouched:
        assert before[f] == after[f]

    got = sorted(map(tuple, lake.read(spark, "silver", "t").collect()))
    want = sorted(
        map(
            tuple,
            cdc_apply(df, chg, ["k"], "ts", op_col="op", tiebreak_cols=["tb"]).collect(),
        )
    )
    assert got == want


def test_merge_changes_empty_batch_is_zero_io(spark, tmp_path):
    import os

    from dataengineeringpipeline_spark.datalake import Lake

    lake = Lake(str(tmp_path))
    df = spark.createDataFrame([(i, float(i)) for i in range(50)], "k long, ts double")
    lake.write(df, "silver", "t")
    path = lake.path("silver", "t")
    before = {
        f: os.stat(os.path.join(path, f)).st_mtime_ns
        for f in os.listdir(path)
        if f.endswith(".parquet")
    }
    chg = spark.createDataFrame([], "k long, op string, ts double")
    audit = lake.merge_changes(spark, "silver", "t", chg, key_col="k", ts_col="ts")
    assert audit["files_rewritten"] == 0 and audit["rows_after"] == 50
    after = {
        f: os.stat(os.path.join(path, f)).st_mtime_ns
        for f in os.listdir(path)
        if f.endswith(".parquet")
    }
    assert before == after


def test_time_travel_snapshot_survives_purge(spark, tmp_path):
    """A hard-linked snapshot is immutable across destructive
    mutations: purge keys from the live table, and version 1 still
    reads the pre-purge rows from the SAME inodes, while the live
    table no longer has them. Retention (expire_versions) is the
    privacy counterpart."""
    import os

    from dataengineeringpipeline_spark.datalake import Lake

    lake = Lake(str(tmp_path))
    df = spark.createDataFrame(
        [(i, f"u{i % 7}", float(i)) for i in range(500)],
        "k long, user string, v double",
    )
    lake.write(
        df.repartitionByRange(5, "k").sortWithinPartitions("k"), "gold", "t"
    )
    before = sorted(map(tuple, lake.read(spark, "gold", "t").collect()))
    v1 = lake.snapshot_version("gold", "t")
    assert v1 == 1 and lake.versions("gold", "t") == [1]
    vdir = lake.path("gold", "t") + "__versions/v=1"
    inodes_before = {
        f: os.stat(os.path.join(vdir, f)).st_ino for f in os.listdir(vdir)
    }

    doomed = spark.createDataFrame([(i,) for i in range(100, 200)], "k long")
    audit = lake.purge_keys(spark, "gold", "t", "k", doomed)
    assert audit["rows_removed"] == 100
    v2 = lake.snapshot_version("gold", "t")

    live = sorted(map(tuple, lake.read(spark, "gold", "t").collect()))
    assert len(live) == 400
    time_traveled = sorted(
        map(tuple, lake.read_version(spark, "gold", "t", v1).collect())
    )
    assert time_traveled == before  # pre-purge rows fully intact
    inodes_after = {
        f: os.stat(os.path.join(vdir, f)).st_ino for f in os.listdir(vdir)
    }
    assert inodes_before == inodes_after  # zero-copy, never rewritten
    assert sorted(
        map(tuple, lake.read_version(spark, "gold", "t", v2).collect())
    ) == live

    # retention: v1 predates the purge, so completing the erasure
    # means expiring it
    assert lake.expire_versions("gold", "t", keep=1) == [1]
    assert lake.versions("gold", "t") == [2]
    try:
        lake.read_version(spark, "gold", "t", 1)
        raise AssertionError("expected ValueError for expired version")
    except ValueError:
        pass


def test_version_changes_row_level_semantics(spark, tmp_path):
    """CDF between snapshots: insert/delete/update tagged per key with
    pre/post images; identical-payload rows (no-op upserts) produce NO
    change row."""
    from dataengineeringpipeline_spark.datalake import Lake

    lake = Lake(str(tmp_path))
    v1_rows = [(1, "A", 10.0), (2, "B", 20.0), (3, "C", 30.0)]
    lake.write(
        spark.createDataFrame(v1_rows, "k long, s string, v double"), "gold", "t"
    )
    v1 = lake.snapshot_version("gold", "t")
    # mutate: delete k=1, update k=2, keep k=3 identical, insert k=4
    v2_rows = [(2, "B2", 21.0), (3, "C", 30.0), (4, "D", 40.0)]
    lake.write(
        spark.createDataFrame(v2_rows, "k long, s string, v double"), "gold", "t"
    )
    v2 = lake.snapshot_version("gold", "t")

    feed = {
        r["k"]: r
        for r in lake.version_changes(spark, "gold", "t", v1, v2, ("k",)).collect()
    }
    assert set(feed) == {1, 2, 4}  # k=3 unchanged -> absent
    assert feed[1]["change_type"] == "delete" and feed[1]["post"] is None
    assert feed[1]["pre"]["s"] == "A"
    assert feed[2]["change_type"] == "update"
    assert (feed[2]["pre"]["s"], feed[2]["post"]["s"]) == ("B", "B2")
    assert feed[4]["change_type"] == "insert" and feed[4]["pre"] is None
    assert feed[4]["post"]["v"] == 40.0


def test_restore_version_rolls_back_and_history_reports(spark, tmp_path):
    """RESTORE makes the live table the snapshot's exact state (zero
    copy, snapshot preserved); DESCRIBE HISTORY reads counts from
    footers only."""
    from dataengineeringpipeline_spark.datalake import Lake

    lake = Lake(str(tmp_path))
    lake.write(
        spark.createDataFrame([(i, float(i)) for i in range(300)], "k long, v double"),
        "gold",
        "t",
    )
    before = sorted(map(tuple, lake.read(spark, "gold", "t").collect()))
    v1 = lake.snapshot_version("gold", "t")

    doomed = spark.createDataFrame([(i,) for i in range(100)], "k long")
    lake.purge_keys(spark, "gold", "t", "k", doomed)
    assert lake.read(spark, "gold", "t").count() == 200
    v2 = lake.snapshot_version("gold", "t")

    lake.restore_version("gold", "t", v1)
    assert sorted(map(tuple, lake.read(spark, "gold", "t").collect())) == before
    # both snapshots still intact after the rollback
    assert lake.read_version(spark, "gold", "t", v1).count() == 300
    assert lake.read_version(spark, "gold", "t", v2).count() == 200

    hist = lake.history("gold", "t")
    by_v = {h["version"]: h for h in hist}
    assert by_v[v1]["rows"] == 300 and by_v[v2]["rows"] == 200
    assert by_v[None]["rows"] == 300  # the restored live table
    try:
        lake.restore_version("gold", "t", 99)
        raise AssertionError("expected ValueError")
    except ValueError:
        pass


def test_concurrent_writers_fence(spark, tmp_path):
    """Single-writer fence: while one mutation holds the table's writer
    lock, a second concurrent mutation fails fast with
    ConcurrentWriteError (never interleaves swap stages), and the table
    stays consistent. A lock left by a dead process is cleared."""
    import threading

    from dataengineeringpipeline_spark.datalake import (
        ConcurrentWriteError,
        Lake,
        _table_lock,
    )

    lake = Lake(str(tmp_path))
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(2000)], "k long, v double"
    )
    lake.write(df, "gold", "t")
    path = lake.path("gold", "t")

    entered = threading.Event()
    release = threading.Event()
    orig_swap = __import__(
        "dataengineeringpipeline_spark.datalake", fromlist=["_atomic_swap"]
    )._atomic_swap

    def slow_swap(p, tmp, old):
        entered.set()
        release.wait(timeout=30)
        orig_swap(p, tmp, old)

    import dataengineeringpipeline_spark.datalake as dl

    dl._atomic_swap = slow_swap
    errors: list = []

    def winner():
        try:
            lake.compact(spark, "gold", "t")
        except Exception as e:  # pragma: no cover
            errors.append(e)

    t = threading.Thread(target=winner)
    t.start()
    try:
        assert entered.wait(timeout=60), "winner never reached the swap"
        # loser: mutation attempted while the winner holds the lock
        try:
            lake.purge_keys(
                spark, "gold", "t", "k",
                spark.createDataFrame([(1,)], "k long"),
            )
            raise AssertionError("expected ConcurrentWriteError")
        except ConcurrentWriteError:
            pass
    finally:
        release.set()
        t.join(timeout=120)
        dl._atomic_swap = orig_swap
    assert not errors
    assert lake.read(spark, "gold", "t").count() == 2000  # consistent

    # a leftover lock FILE (no flock held — e.g. from a dead writer)
    # never blocks: mutual exclusion is the kernel flock, not the file
    with open(path + "__lock", "w") as f:
        f.write("999999999")
    audit = lake.purge_keys(
        spark, "gold", "t", "k", spark.createDataFrame([(5,)], "k long")
    )
    assert audit["rows_removed"] == 1
    # diagnostic pid cleared on release; the file itself persists by
    # design (unlinking would orphan a waiter's locked inode)
    assert open(path + "__lock").read() == ""

    # and a held lock in the SAME process also fences (thread-vs-thread)
    with _table_lock(path):
        try:
            lake.compact(spark, "gold", "t")
            raise AssertionError("expected ConcurrentWriteError")
        except ConcurrentWriteError:
            pass


def test_timestamp_as_of_time_travel(spark, tmp_path):
    """TIMESTAMP AS OF: commit timestamps are strictly increasing, ride
    the snapshot atomically, resolve to the newest version at-or-before
    the asked instant (int us or ISO string), and error before the
    first commit."""
    from dataengineeringpipeline_spark.datalake import Lake

    lake = Lake(str(tmp_path))
    lake.write(spark.createDataFrame([(1,)], "k long"), "gold", "t")
    v1 = lake.snapshot_version("gold", "t")
    lake.write(spark.createDataFrame([(1,), (2,)], "k long"), "gold", "t")
    v2 = lake.snapshot_version("gold", "t")

    hist = {h["version"]: h for h in lake.history("gold", "t")}
    t1, t2 = hist[v1]["committed_us"], hist[v2]["committed_us"]
    assert t1 < t2  # strictly increasing even for back-to-back commits
    assert hist[None]["committed_us"] is None

    assert lake.resolve_as_of("gold", "t", t1) == v1
    assert lake.resolve_as_of("gold", "t", t2 - 1) == v1
    assert lake.resolve_as_of("gold", "t", t2) == v2
    assert lake.resolve_as_of("gold", "t", t2 + 10_000_000) == v2
    assert lake.read_version(spark, "gold", "t", as_of=t1).count() == 1
    assert lake.read_version(spark, "gold", "t", as_of=t2).count() == 2

    # ISO-8601 string form (UTC)
    from datetime import datetime, timezone

    iso = datetime.fromtimestamp(t2 / 1e6, tz=timezone.utc).isoformat()
    assert lake.resolve_as_of("gold", "t", iso) == v2

    try:
        lake.resolve_as_of("gold", "t", t1 - 1)
        raise AssertionError("expected ValueError before the first commit")
    except ValueError:
        pass
    try:
        lake.read_version(spark, "gold", "t", version=v1, as_of=t1)
        raise AssertionError("expected ValueError for both args")
    except ValueError:
        pass


def test_merge_changes_batch_ledger_and_restore_as_of(spark, tmp_path):
    """merge_changes(batch_id=...) is a retry no-op once committed (the
    Type-1 twin of the SCD2 ledger), and RESTORE resolves TIMESTAMP AS
    OF to the right snapshot."""
    from pyspark.sql import functions as F

    from dataengineeringpipeline_spark.datalake import Lake

    lake = Lake(str(tmp_path))
    snap = spark.createDataFrame(
        [(1, "A", "2024-01-01"), (2, "B", "2024-01-02")], "k long, s string, d string"
    ).select("k", "s", F.col("d").cast("date").alias("d"))
    lake.write(snap, "silver", "t")
    v1 = lake.snapshot_version("silver", "t")
    ch = spark.createDataFrame(
        [(2, "U", "B2", "2024-02-01"), (3, "U", "C", "2024-02-02")],
        "k long, op string, s string, d string",
    ).select("k", "op", "s", F.col("d").cast("date").alias("d"))
    a1 = lake.merge_changes(
        spark, "silver", "t", ch, key_col="k", ts_col="d", batch_id="b1"
    )
    assert a1["rows_upserted"] == 2 and "skipped_replay" not in a1
    rows1 = sorted(map(tuple, lake.read(spark, "silver", "t").collect()))
    a2 = lake.merge_changes(
        spark, "silver", "t", ch, key_col="k", ts_col="d", batch_id="b1"
    )
    assert a2.get("skipped_replay") is True
    assert sorted(map(tuple, lake.read(spark, "silver", "t").collect())) == rows1

    # RESTORE ... TIMESTAMP AS OF v1's commit instant rolls back
    t1 = {h["version"]: h for h in lake.history("silver", "t")}[v1]["committed_us"]
    lake.restore_version("silver", "t", as_of=t1)
    assert sorted(map(tuple, lake.read(spark, "silver", "t").collect())) == sorted(
        map(tuple, snap.collect())
    )


def test_schema_evolution_add_column_without_rewrite(spark, tmp_path):
    """evolve_schema=True appends the new column via the sidecar: files
    untouched by the merge hard-link through byte-identical (no
    evolution rewrite), pre-evolution rows read the column as NULL,
    merge metadata (op/ts/tiebreaks) never evolves in, and a type
    change of an existing column is rejected loudly."""
    import os

    import pytest

    from dataengineeringpipeline_spark.datalake import Lake, _read_schema_json

    lake = Lake(str(tmp_path))
    df = spark.createDataFrame(
        [(i, f"S{i % 7}", float(i)) for i in range(1000)],
        "k long, status string, ts double",
    )
    lake.write(df.repartitionByRange(10, "k").sortWithinPartitions("k"), "silver", "t")
    path = lake.path("silver", "t")

    def state():
        return {
            f: os.stat(os.path.join(path, f)).st_ino
            for f in os.listdir(path)
            if f.endswith(".parquet")
        }

    before = state()
    changes = spark.createDataFrame(
        [(5, "S5", 5.5, "WEB", "U", 1.0), (2000, "NEW", 0.0, "APP", "U", 1.0)],
        "k long, status string, ts double, channel string, op string, tb double",
    )
    rep = lake.merge_changes(
        spark, "silver", "t", changes, "k", "ts",
        tiebreak_cols=("tb",), evolve_schema=True,
    )
    assert rep["files_rewritten"] == 1
    after = state()
    linked = set(before) & set(after)
    assert len(linked) == 9  # 9 of 10 range files hard-linked through
    assert all(before[f] == after[f] for f in linked)
    t = lake.read(spark, "silver", "t")
    assert t.columns == ["k", "status", "ts", "channel"]  # op/tb/ts excluded
    rows = {r["k"]: (r["ts"], r["channel"]) for r in t.collect()}
    assert rows[5] == (5.5, "WEB") and rows[2000] == (0.0, "APP")
    assert rows[999] == (999.0, None)  # pre-evolution row, linked file
    # type conflict: rejected before any IO
    bad = spark.createDataFrame(
        [(1, 1, 1.0, "U")], "k long, status int, ts double, op string"
    )
    with pytest.raises(ValueError, match="type changes rejected"):
        lake.merge_changes(spark, "silver", "t", bad, "k", "ts", evolve_schema=True)
    # without evolve_schema, an unknown column is ignored (old contract)
    ch2 = spark.createDataFrame(
        [(7, "S0", 7.7, "ignored", "mystery", "U", 2.0)],
        "k long, status string, ts double, channel string, extra string, op string, tb double",
    )
    lake.merge_changes(spark, "silver", "t", ch2, "k", "ts", tiebreak_cols=("tb",))
    assert lake.read(spark, "silver", "t").columns == ["k", "status", "ts", "channel"]
    assert _read_schema_json(path) is not None


def test_schema_evolution_survives_maintenance_and_bakes_on_compact(spark, tmp_path):
    """The sidecar rides purge (linked files) and a crashed swap; a full
    compact rewrite bakes the evolved schema into the physical files and
    drops the sidecar."""
    import os

    from dataengineeringpipeline_spark.datalake import Lake, _read_schema_json

    lake = Lake(str(tmp_path))
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(200)], "k long, v double"
    )
    lake.write(df.repartitionByRange(4, "k").sortWithinPartitions("k"), "silver", "t")
    changes = spark.createDataFrame(
        [(3, 3.3, "WEB", "U", 1.0)], "k long, v double, channel string, op string, ts double"
    )
    lake.merge_changes(spark, "silver", "t", changes, "k", "ts", evolve_schema=True)
    path = lake.path("silver", "t")
    # purge: linked survivors still need the sidecar
    lake.purge_keys(spark, "silver", "t", "k", spark.createDataFrame([(9,)], "k long"))
    assert _read_schema_json(path) is not None
    t = lake.read(spark, "silver", "t")
    assert t.columns == ["k", "v", "channel"] and t.count() == 199
    # crash mid-swap: recovery must bring the sidecar back with the table
    os.rename(path, path + "__prepurge")
    lake.purge_keys(spark, "silver", "t", "k", spark.createDataFrame([(10,)], "k long"))
    assert _read_schema_json(path) is not None
    assert lake.read(spark, "silver", "t").columns == ["k", "v", "channel"]
    # compact: full rewrite bakes the schema in, sidecar gone
    lake.compact(spark, "silver", "t")
    assert _read_schema_json(path) is None
    t = lake.read(spark, "silver", "t")
    assert t.columns == ["k", "v", "channel"] and t.count() == 198
    assert {r["k"]: r["channel"] for r in t.collect()}[3] == "WEB"


def test_schema_evolution_time_travel_and_cdf(spark, tmp_path):
    """Snapshots are schema-self-describing: a pre-evolution version
    reads with the old schema, restore past the evolution rolls the
    column back, and the change feed across the boundary pads the old
    side with typed NULLs (an unchanged row is still not a change)."""
    from dataengineeringpipeline_spark.datalake import Lake

    lake = Lake(str(tmp_path))
    df = spark.createDataFrame([(i, float(i)) for i in range(50)], "k long, v double")
    lake.write(df, "silver", "t")
    v1 = lake.snapshot_version("silver", "t")
    changes = spark.createDataFrame(
        [(1, 1.5, "WEB", "U", 1.0), (100, 0.5, "APP", "U", 1.0)],
        "k long, v double, channel string, op string, ts double",
    )
    lake.merge_changes(spark, "silver", "t", changes, "k", "ts", evolve_schema=True)
    v2 = lake.snapshot_version("silver", "t")
    assert lake.read_version(spark, "silver", "t", v1).columns == ["k", "v"]
    assert lake.read_version(spark, "silver", "t", v2).columns == ["k", "v", "channel"]
    feed = lake.version_changes(spark, "silver", "t", v1, v2, ("k",))
    got = {r["k"]: r["change_type"] for r in feed.collect()}
    # k=0..49 unchanged rows must NOT appear: NULL-padded pre == NULL post
    assert got == {1: "update", 100: "insert"}
    post = {r["k"]: r["post"]["channel"] for r in feed.collect()}
    assert post == {1: "WEB", 100: "APP"}
    # DESCRIBE HISTORY shows the evolution as the version where the
    # column count grew
    hist = {h["version"]: h["n_columns"] for h in lake.history("silver", "t")}
    assert hist[v1] == 2 and hist[v2] == 3
    lake.restore_version("silver", "t", v1)
    t = lake.read(spark, "silver", "t")
    assert t.columns == ["k", "v"] and t.count() == 50
    assert {h["version"]: h["n_columns"] for h in lake.history("silver", "t")}[None] == 2


def test_merge_changes_composite_key(spark, tmp_path):
    """Composite business keys: latest-per-key and the rewrite run on
    the full tuple; two rows sharing the lead column but differing in
    the second key are distinct rows; envelope pruning on the lead
    column still hard-links untouched files through."""
    import os

    from dataengineeringpipeline_spark.datalake import Lake

    lake = Lake(str(tmp_path))
    rows = [(y, m, f"g{y}-{m}", float(y * 100 + m)) for y in range(1990, 2000) for m in (1, 2, 3)]
    df = spark.createDataFrame(rows, "y int, m int, tag string, v double")
    lake.write(df.repartitionByRange(5, "y").sortWithinPartitions("y", "m"), "gold", "s")
    path = lake.path("gold", "s")

    def inodes():
        return {
            f: os.stat(os.path.join(path, f)).st_ino
            for f in os.listdir(path)
            if f.endswith(".parquet")
        }

    before = inodes()
    # two changes for (1995,1) in one batch — later _seq wins; one insert
    # for a brand-new (1995,4); (1995,2)/(1995,3) untouched
    ch = spark.createDataFrame(
        [
            (1995, 1, "old", 0.0, "U", 1),
            (1995, 1, "new", 42.0, "U", 2),
            (1995, 4, "april", 7.0, "U", 1),
            (1990, 2, None, 0.0, "D", 1),
        ],
        "y int, m int, tag string, v double, op string, _seq int",
    )
    rep = lake.merge_changes(
        spark, "gold", "s", ch, key_col=("y", "m"), ts_col="_seq"
    )
    assert rep["key_col"] == ("y", "m")
    assert 0 < rep["files_rewritten"] < rep["files_total"]
    after = inodes()
    linked = set(before) & set(after)
    assert linked and all(before[f] == after[f] for f in linked)
    t = {(r["y"], r["m"]): (r["tag"], r["v"]) for r in lake.read(spark, "gold", "s").collect()}
    assert t[(1995, 1)] == ("new", 42.0)
    assert t[(1995, 4)] == ("april", 7.0)
    assert (1990, 2) not in t
    assert t[(1995, 2)] == ("g1995-2", 199502.0)
    assert len(t) == 30  # 30 - 1 delete + 1 insert


def test_bloom_file_index_prunes_where_envelopes_cannot(spark, tmp_path):
    """Per-file bloom index: on an UNCLUSTERED table (every file's
    footer envelope covers every key) a point lookup reads only the
    bloom-passing files, finds exactly the requested rows, returns
    zero files for absent keys, and stays correct (conservative full
    read) after a compact invalidates the index."""
    from pyspark.sql import functions as F

    from dataengineeringpipeline_spark.datalake import Lake

    lake = Lake(str(tmp_path))
    df = spark.range(0, 100000).select(
        (F.col("id") * 2654435761 % 1000003).alias("k"), F.col("id").alias("v")
    )
    lake.write(df.repartition(20), "silver", "t")
    rep = lake.build_file_index(spark, "silver", "t", "k")
    assert rep["files_indexed"] == 20
    keys = [r["k"] for r in df.orderBy("v").limit(5).collect()]
    out, lrep = lake.point_lookup(spark, "silver", "t", "k", keys)
    assert lrep["bloom_indexed"] and lrep["files_total"] == 20
    assert lrep["files_read"] <= 8  # 5 true hits + bloom fpp slack
    got = sorted((r["k"], r["v"]) for r in out.collect())
    want = sorted(
        (r["k"], r["v"]) for r in df.filter(F.col("k").isin(keys)).collect()
    )
    assert got == want
    # absent key: bloom proves no file can contain it
    out2, lrep2 = lake.point_lookup(spark, "silver", "t", "k", [999999999])
    assert lrep2["files_read"] == 0 and out2.count() == 0
    # compact rewrites files under new names: the index is REBUILT after
    # the swap (see test_bloom_index_rebuilds_through_compact_and_cluster)
    # and the lookup stays exact
    lake.compact(spark, "silver", "t")
    out3, lrep3 = lake.point_lookup(spark, "silver", "t", "k", keys)
    assert lrep3["bloom_indexed"]
    assert sorted((r["k"], r["v"]) for r in out3.collect()) == want


def test_bloom_index_rebuilds_through_compact_and_cluster(spark, tmp_path):
    """Maintenance rewrites rename every file; an existing bloom index
    is REBUILT after compact and cluster_by instead of silently
    dropping to conservative full reads."""
    from pyspark.sql import functions as F

    from dataengineeringpipeline_spark.datalake import Lake

    lake = Lake(str(tmp_path))
    df = spark.range(0, 50000).select(
        (F.col("id") * 2654435761 % 1000003).alias("k"), F.col("id").alias("v")
    )
    lake.write(df.repartition(10), "silver", "t")
    lake.build_file_index(spark, "silver", "t", "k")
    keys = [r["k"] for r in df.orderBy("v").limit(3).collect()]
    lake.compact(spark, "silver", "t", target_file_mb=1)
    out, rep = lake.point_lookup(spark, "silver", "t", "k", keys)
    assert rep["bloom_indexed"], rep
    want = sorted((r["k"], r["v"]) for r in df.filter(F.col("k").isin(keys)).collect())
    assert sorted((r["k"], r["v"]) for r in out.collect()) == want
    lake.cluster_by(spark, "silver", "t", ("v",))
    out2, rep2 = lake.point_lookup(spark, "silver", "t", "k", keys)
    assert rep2["bloom_indexed"], rep2
    assert sorted((r["k"], r["v"]) for r in out2.collect()) == want


def test_lock_wait_queues_behind_live_writer(spark, tmp_path):
    """lock_wait_s > 0: a second writer QUEUES behind a live holder and
    both mutations land serialized (batch-pipeline mode); with the
    default 0 it still fails fast."""
    import threading
    import time

    import pytest

    from dataengineeringpipeline_spark.datalake import (
        ConcurrentWriteError,
        Lake,
        _table_lock,
    )

    lake = Lake(str(tmp_path), lock_wait_s=30.0)
    df = spark.createDataFrame([(i, float(i)) for i in range(100)], "k long, v double")
    lake.write(df, "silver", "t")
    path = lake.path("silver", "t")
    results = []

    def slow_holder():
        with _table_lock(path):
            time.sleep(1.5)
            results.append("holder-done")

    t = threading.Thread(target=slow_holder)
    t.start()
    time.sleep(0.3)  # holder owns the lock now
    # fail-fast lake: immediate ConcurrentWriteError
    fast = Lake(str(tmp_path))
    with pytest.raises(ConcurrentWriteError):
        fast.purge_keys(spark, "silver", "t", "k", spark.createDataFrame([(1,)], "k long"))
    # queueing lake: waits the holder out and applies
    audit = lake.purge_keys(
        spark, "silver", "t", "k", spark.createDataFrame([(1,)], "k long")
    )
    t.join()
    assert results == ["holder-done"]  # the purge really queued
    assert audit["rows_removed"] == 1
    assert lake.read(spark, "silver", "t").count() == 99


def test_bloom_file_index_on_string_keys(spark, tmp_path):
    """The bloom index on a STRING key: xxhash64 over strings, string
    footer envelopes, exact results, and pruning below the candidate
    set."""
    from pyspark.sql import functions as F

    from dataengineeringpipeline_spark.datalake import Lake

    lake = Lake(str(tmp_path))
    df = spark.range(0, 30000).select(
        F.concat(F.lit("doc-"), F.md5(F.col("id").cast("string"))).alias("doc_id"),
        F.col("id").alias("v"),
    )
    lake.write(df.repartition(12), "silver", "docs")
    lake.build_file_index(spark, "silver", "docs", "doc_id")
    keys = [r["doc_id"] for r in df.orderBy("v").limit(4).collect()]
    out, rep = lake.point_lookup(spark, "silver", "docs", "doc_id", keys)
    assert rep["bloom_indexed"] and rep["files_read"] <= 6 < rep["files_total"]
    got = sorted((r["doc_id"], r["v"]) for r in out.collect())
    want = sorted(
        (r["doc_id"], r["v"]) for r in df.filter(F.col("doc_id").isin(keys)).collect()
    )
    assert got == want
    out2, rep2 = lake.point_lookup(spark, "silver", "docs", "doc_id", ["doc-missing"])
    assert rep2["files_read"] == 0 and out2.count() == 0


def test_merge_changes_partial_column_update(spark, tmp_path):
    """update_cols: change rows carry only key+metadata+named columns —
    existing keys keep their other columns' stored values, brand-new
    keys insert NULL-padded, deletes still delete, untouched files link
    through, and the invalid combinations fail loudly."""
    import os

    import pytest

    from dataengineeringpipeline_spark.datalake import Lake

    lake = Lake(str(tmp_path))
    df = spark.createDataFrame(
        [(i, f"S{i % 5}", float(i), f"note-{i}") for i in range(1000)],
        "k long, status string, score double, note string",
    )
    lake.write(df.repartitionByRange(10, "k").sortWithinPartitions("k"), "silver", "t")
    path = lake.path("silver", "t")
    before = {
        f: os.stat(os.path.join(path, f)).st_ino
        for f in os.listdir(path)
        if f.endswith(".parquet")
    }
    ch = spark.createDataFrame(
        [
            (150, 99.5, "U", 1),   # update score only; status/note keep
            (150, 77.5, "U", 2),   # later ts wins within the batch
            (2000, 1.0, "U", 1),   # new key: status/note insert as NULL
            (151, 0.0, "D", 1),    # delete still deletes
        ],
        "k long, score double, op string, ts int",
    )
    rep = lake.merge_changes(
        spark, "silver", "t", ch, "k", "ts", update_cols=("score",)
    )
    assert 0 < rep["files_rewritten"] < rep["files_total"]
    after = {
        f: os.stat(os.path.join(path, f)).st_ino
        for f in os.listdir(path)
        if f.endswith(".parquet")
    }
    linked = set(before) & set(after)
    assert linked and all(before[f] == after[f] for f in linked)
    t = {r["k"]: (r["status"], r["score"], r["note"]) for r in lake.read(spark, "silver", "t").collect()}
    assert t[150] == ("S0", 77.5, "note-150")  # patched score, kept rest
    assert t[2000] == (None, 1.0, None)        # NULL-padded insert
    assert 151 not in t
    assert t[152] == ("S2", 152.0, "note-152")  # untouched
    assert len(t) == 1000
    # invalid: unknown / key column in update_cols; combo with evolve
    with pytest.raises(ValueError, match="non-key table columns"):
        lake.merge_changes(spark, "silver", "t", ch, "k", "ts", update_cols=("k",))
    with pytest.raises(ValueError, match="mutually exclusive"):
        lake.merge_changes(
            spark, "silver", "t", ch, "k", "ts",
            update_cols=("score",), evolve_schema=True,
        )


def test_merge_changes_large_batch_uses_distributed_key_path(spark, tmp_path, monkeypatch):
    """Above ``merge_broadcast_keys`` the MERGE never collects the
    batch's key set to the driver: the footer prune runs as a
    distributed join of batch keys against a file-envelope frame and
    the rewrite's anti-join is a shuffle join — and the merged table is
    bit-identical to the broadcast path's / the logical cdc_apply."""
    import dataengineeringpipeline_spark.datalake as dl
    from dataengineeringpipeline_spark.datalake import Lake
    from dataengineeringpipeline_spark.scd import cdc_apply

    df = spark.createDataFrame(
        [(i, f"S{i % 7}", float(i)) for i in range(2000)],
        "k long, status string, ts double",
    )
    # wide-key delta: every 3rd key updates, every 50th deletes, plus inserts
    chg = spark.createDataFrame(
        [(i, "D" if i % 50 == 0 else "U", "NEW", 9000.0, 1) for i in range(0, 2000, 3)]
        + [(10_000 + i, "U", "INS", 9000.0, 1) for i in range(25)],
        "k long, op string, status string, ts double, tb int",
    )
    want = sorted(
        map(
            tuple,
            cdc_apply(df, chg, ["k"], "ts", op_col="op", tiebreak_cols=["tb"]).collect(),
        )
    )

    def build(root, threshold):
        lake = Lake(str(root), merge_broadcast_keys=threshold)
        lake.write(
            df.repartitionByRange(8, "k").sortWithinPartitions("k"), "silver", "t"
        )
        return lake

    small = build(tmp_path / "small", 10_000_000)
    a1 = small.merge_changes(
        spark, "silver", "t", chg, key_col="k", ts_col="ts", tiebreak_cols=("tb",)
    )
    assert a1["key_path"] == "broadcast"
    got_small = sorted(map(tuple, small.read(spark, "silver", "t").collect()))

    large = build(tmp_path / "large", 0)

    def boom(keys_df, col):
        raise AssertionError("large path must not collect the key set")

    monkeypatch.setattr(dl, "_collect_key_vals", boom)
    a2 = large.merge_changes(
        spark, "silver", "t", chg, key_col="k", ts_col="ts", tiebreak_cols=("tb",)
    )
    assert a2["key_path"] == "distributed"
    got_large = sorted(map(tuple, large.read(spark, "silver", "t").collect()))
    assert got_small == want and got_large == want
    # the distributed envelope prune matched the driver-side one
    assert a2["files_rewritten"] == a1["files_rewritten"]
    assert a2["rows_after"] == a1["rows_after"]


def test_merge_scd2_large_batch_uses_distributed_key_path(spark, tmp_path, monkeypatch):
    """merge_scd2's backfill shape: same threshold switch — no driver
    key collect, shuffle touched-key joins inside scd2_apply_changes,
    history identical to the broadcast path."""
    import dataengineeringpipeline_spark.datalake as dl
    from dataengineeringpipeline_spark.datalake import Lake
    from dataengineeringpipeline_spark.scd import scd2_history

    changes = spark.createDataFrame(
        [(k, f"addr-{k}-{v}", float(v)) for k in range(400) for v in range(3)],
        "k long, addr string, ts double",
    )
    hist = scd2_history(changes, ["k"], ["addr"], "ts")
    upd = spark.createDataFrame(
        [(k, f"addr-{k}-new", 10.0) for k in range(0, 400, 2)],
        "k long, addr string, ts double",
    )

    def run(root, threshold, patched):
        lake = Lake(str(root), merge_broadcast_keys=threshold)
        lake.write(
            hist.repartitionByRange(6, "k").sortWithinPartitions("k"), "silver", "d"
        )
        audit = lake.merge_scd2(
            spark, "silver", "d", upd, key_col="k", attr_cols=("addr",), ts_col="ts"
        )
        return audit, sorted(map(tuple, lake.read(spark, "silver", "d").collect()))

    a1, got_small = run(tmp_path / "small", 10_000_000, False)
    assert a1["key_path"] == "broadcast"

    def boom(keys_df, col):
        raise AssertionError("large path must not collect the key set")

    monkeypatch.setattr(dl, "_collect_key_vals", boom)
    a2, got_large = run(tmp_path / "large", 0, True)
    assert a2["key_path"] == "distributed"
    assert got_small == got_large
    assert a2["files_rewritten"] == a1["files_rewritten"]


def test_bloom_index_maintained_through_merge_and_purge(spark, tmp_path):
    """merge_changes / purge_keys keep the per-file bloom index LIVE:
    hard-linked files keep their entries, rewritten files are re-scanned
    into the index inside the same swap — so point-lookup pruning does
    not decay to envelope-only between compactions, and the index never
    excludes a file containing a probed key."""
    import json
    import os

    from pyspark.sql import functions as F

    from dataengineeringpipeline_spark.datalake import Lake, _data_file_rels

    lake = Lake(str(tmp_path))
    df = spark.range(0, 60000).select(
        (F.col("id") * 2654435761 % 1000003).alias("k"), F.col("id").alias("v")
    )
    lake.write(df.repartition(15), "silver", "t")  # unclustered: envelopes useless
    lake.build_file_index(spark, "silver", "t", "k")
    path = lake.path("silver", "t")

    probe = [r["k"] for r in df.orderBy("v").limit(4).collect()]
    chg = spark.createDataFrame(
        [(probe[0], "U", -1.0), (424242424242, "U", -2.0)],
        "k long, op string, v double",
    ).select("k", "op", F.col("v").cast("long").alias("v"), F.lit(1.0).alias("ts"))
    rep = lake.merge_changes(spark, "silver", "t", chg, key_col="k", ts_col="ts")
    assert rep["files_rewritten"] >= 1

    idx = json.load(open(os.path.join(path, f"_file_bloom_k.json")))
    on_disk = set(_data_file_rels(path))
    # every live data file is indexed (no decay), no ghost entries
    assert set(idx["files"]) == on_disk

    out, lrep = lake.point_lookup(spark, "silver", "t", "k", probe + [424242424242])
    assert lrep["bloom_indexed"]
    assert lrep["files_read"] < lrep["files_total"]  # still pruned post-merge
    got = {(r["k"], r["v"]) for r in out.collect()}
    assert (probe[0], -1) in got and (424242424242, -2) in got
    for k in probe[1:]:
        assert any(g[0] == k for g in got)  # never excludes a real key

    # purge keeps it live too
    gone = probe[1]
    lake.purge_keys(
        spark, "silver", "t", "k", spark.createDataFrame([(gone,)], "k long")
    )
    idx2 = json.load(open(os.path.join(path, f"_file_bloom_k.json")))
    assert set(idx2["files"]) == set(_data_file_rels(path))
    out2, lrep2 = lake.point_lookup(spark, "silver", "t", "k", [gone])
    assert out2.count() == 0


def test_file_index_handles_percent_encoded_paths(spark, tmp_path):
    """Hive partition values with spaces arrive percent-encoded from
    input_file_name(); index keys must decode to the on-disk relpaths
    or the index silently never prunes."""
    import json
    import os

    from pyspark.sql import functions as F

    from dataengineeringpipeline_spark.datalake import Lake, _data_file_rels

    lake = Lake(str(tmp_path))
    df = spark.createDataFrame(
        [(i, "region A" if i % 2 else "region%B", float(i)) for i in range(2000)],
        "k long, part string, v double",
    )
    lake.write(df, "silver", "t", partition_by=("part",))
    lake.build_file_index(spark, "silver", "t", "k")
    path = lake.path("silver", "t")
    idx = json.load(open(os.path.join(path, "_file_bloom_k.json")))
    assert set(idx["files"]) == set(_data_file_rels(path))  # decoded keys match
    out, rep = lake.point_lookup(spark, "silver", "t", "k", [7])
    assert rep["bloom_indexed"] and rep["files_read"] < rep["files_total"]
    assert [(r["k"], r["v"]) for r in out.collect()] == [(7, 7.0)]


def test_crashed_writer_releases_lock_and_threads_serialize(tmp_path):
    """flock fence: a SIGKILLed holder's lock releases automatically
    (no stale state, nothing to reap), a leftover pid file never
    blocks, and a 12-thread acquisition storm holds strict mutual
    exclusion with zero spurious failures — the race every pid-file
    cleanup protocol (blind unlink OR rename-to-tombstone) loses."""
    import os
    import signal
    import subprocess
    import sys
    import threading
    import time

    from dataengineeringpipeline_spark.datalake import _table_lock

    target = str(tmp_path / "tbl")
    os.makedirs(target, exist_ok=True)

    # (a) holder dies without releasing: next writer proceeds at once
    script = (
        "import fcntl, os, sys, time\n"
        f"fd = os.open({target + '__lock'!r}, os.O_CREAT | os.O_RDWR)\n"
        "fcntl.flock(fd, fcntl.LOCK_EX)\n"
        "print('HELD', flush=True)\n"
        "time.sleep(60)\n"
    )
    proc = subprocess.Popen(
        [sys.executable, "-c", script], stdout=subprocess.PIPE, text=True
    )
    assert proc.stdout.readline().strip() == "HELD"
    os.kill(proc.pid, signal.SIGKILL)
    proc.wait()
    t0 = time.monotonic()
    with _table_lock(target, wait_s=10.0):
        pass
    assert time.monotonic() - t0 < 5.0  # released with the dead process

    # (b) leftover pid file + 12-thread storm: strict mutual exclusion
    with open(target + "__lock", "w") as f:
        f.write("999999999")  # stale diagnostic from a dead writer
    live, peak, errs = [], [], []
    guard = threading.Lock()

    def worker():
        try:
            with _table_lock(target, wait_s=30.0):
                with guard:
                    live.append(1)
                    peak.append(len(live))
                time.sleep(0.01)
                with guard:
                    live.pop()
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [threading.Thread(target=worker) for _ in range(12)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    assert max(peak) == 1  # never two holders


def test_distributed_prune_string_and_negative_keys(spark, tmp_path):
    """The distributed envelope prune's two probe shapes: STRING keys
    (raw key join — no bucketing) and NEGATIVE integral keys (bucket
    coarsening must handle lo < 0); both merge bit-identically to the
    logical apply."""
    from dataengineeringpipeline_spark.datalake import Lake
    from dataengineeringpipeline_spark.scd import cdc_apply

    # string keys
    sdf = spark.createDataFrame(
        [(f"id-{i:05d}", float(i)) for i in range(600)], "k string, ts double"
    )
    schg = spark.createDataFrame(
        [(f"id-{i:05d}", "U" if i % 7 else "D", 999.0) for i in range(0, 600, 2)],
        "k string, op string, ts double",
    )
    lake = Lake(str(tmp_path / "s"), merge_broadcast_keys=0)
    lake.write(sdf.repartitionByRange(5, "k").sortWithinPartitions("k"), "silver", "t")
    a = lake.merge_changes(spark, "silver", "t", schg, key_col="k", ts_col="ts")
    assert a["key_path"] == "distributed"
    got = sorted(map(tuple, lake.read(spark, "silver", "t").collect()))
    want = sorted(map(tuple, cdc_apply(sdf, schg, ["k"], "ts").collect()))
    assert got == want

    # negative bigint keys
    ndf = spark.createDataFrame(
        [(i - 500, float(i)) for i in range(1000)], "k long, ts double"
    )
    nchg = spark.createDataFrame(
        [(i - 500, "U" if i % 5 else "D", 999.0) for i in range(0, 1000, 3)],
        "k long, op string, ts double",
    )
    lake2 = Lake(str(tmp_path / "n"), merge_broadcast_keys=0)
    lake2.write(ndf.repartitionByRange(6, "k").sortWithinPartitions("k"), "silver", "t")
    a2 = lake2.merge_changes(spark, "silver", "t", nchg, key_col="k", ts_col="ts")
    assert a2["key_path"] == "distributed"
    got2 = sorted(map(tuple, lake2.read(spark, "silver", "t").collect()))
    want2 = sorted(map(tuple, cdc_apply(ndf, nchg, ["k"], "ts").collect()))
    assert got2 == want2


def test_bloom_index_maintained_through_upsert_partitions(spark, tmp_path):
    """upsert_partitions joins the index-maintenance story: untouched
    partitions' entries survive by relpath, rewritten partitions'
    files re-scan — index keys always equal the live file set."""
    import json
    import os

    from pyspark.sql import functions as F

    from dataengineeringpipeline_spark.datalake import Lake, _data_file_rels

    lake = Lake(str(tmp_path))
    base = spark.createDataFrame(
        [(i % 4, i, float(i)) for i in range(4000)], "p int, k long, v double"
    )
    lake.upsert_partitions(
        spark, "gold", "t", base, "p",
        lambda b, d: b.unionByName(d).groupBy("p", "k").agg(F.sum("v").alias("v")),
    )
    lake.build_file_index(spark, "gold", "t", "k")
    path = lake.path("gold", "t")
    delta = spark.createDataFrame([(1, 17, 100.0), (1, 99991, 1.0)], "p int, k long, v double")
    lake.upsert_partitions(
        spark, "gold", "t", delta, "p",
        lambda b, d: b.unionByName(d).groupBy("p", "k").agg(F.sum("v").alias("v")),
    )
    idx = json.load(open(os.path.join(path, "_file_bloom_k.json")))
    assert set(idx["files"]) == set(_data_file_rels(path))
    out, rep = lake.point_lookup(spark, "gold", "t", "k", [17, 99991])
    assert rep["bloom_indexed"] and rep["files_read"] < rep["files_total"]
    got = {(r["k"], r["v"]) for r in out.collect()}
    assert (17, 117.0) in got and (99991, 1.0) in got


def test_partial_column_merge_on_distributed_path(spark, tmp_path, monkeypatch):
    """update_cols (UPDATE SET subset) composed with the large-batch
    key path: patched rows keep their stored columns, inserts NULL-pad,
    no driver key collect — identical to the broadcast path."""
    import dataengineeringpipeline_spark.datalake as dl
    from dataengineeringpipeline_spark.datalake import Lake

    base = spark.createDataFrame(
        [(i, f"S{i % 3}", float(i), f"note-{i}") for i in range(800)],
        "k long, status string, score double, note string",
    )
    ch = spark.createDataFrame(
        [(i, 1000.0 + i, "U", 1) for i in range(0, 800, 2)]
        + [(9000, -5.0, "U", 1), (3, 0.0, "D", 1)],
        "k long, score double, op string, ts int",
    )

    def run(root, threshold):
        lake = Lake(str(root), merge_broadcast_keys=threshold)
        lake.write(
            base.repartitionByRange(6, "k").sortWithinPartitions("k"), "silver", "t"
        )
        a = lake.merge_changes(
            spark, "silver", "t", ch, "k", "ts", update_cols=("score",)
        )
        return a, sorted(map(tuple, lake.read(spark, "silver", "t").collect()))

    a1, got_b = run(tmp_path / "b", 10_000_000)
    assert a1["key_path"] == "broadcast"

    def boom(keys_df, col):
        raise AssertionError("large path must not collect the key set")

    monkeypatch.setattr(dl, "_collect_key_vals", boom)
    a2, got_d = run(tmp_path / "d", 0)
    assert a2["key_path"] == "distributed"
    assert got_b == got_d
    rows = {r[0]: r for r in got_d}
    assert rows[4][2] == 1004.0 and rows[4][1] == "S1" and rows[4][3] == "note-4"
    assert rows[9000] == (9000, None, -5.0, None)
    assert 3 not in rows


def test_distributed_prune_wide_span_bigint_keys(spark, tmp_path, monkeypatch):
    """Hash-surrogate bigint keys near ±2^62: the bucket arithmetic's
    span exceeds int64, which int64 subtraction would abort on under
    ANSI (ARITHMETIC_OVERFLOW) or silently wrap into missed files under
    legacy mode — decimal(38,0) arithmetic must keep the prune exact.
    A batch touching only the TOP key range must still prune (buckets
    work, not just 'rewrite everything'), and the merged table must be
    bit-identical to the logical apply."""
    import dataengineeringpipeline_spark.datalake as dl
    from dataengineeringpipeline_spark.datalake import Lake
    from dataengineeringpipeline_spark.scd import cdc_apply

    B = 1 << 62
    step = (2 * B) // 1000
    df = spark.createDataFrame(
        [(-B + i * step, float(i)) for i in range(1000)], "k long, ts double"
    )
    # touch only the top ~5% of the key space
    chg = spark.createDataFrame(
        [(-B + i * step, "U" if i % 9 else "D", 9e9) for i in range(950, 1000)],
        "k long, op string, ts double",
    )
    lake = Lake(str(tmp_path), merge_broadcast_keys=0)
    lake.write(
        df.repartitionByRange(10, "k").sortWithinPartitions("k"), "silver", "t"
    )

    def boom(keys_df, col):
        raise AssertionError("large path must not collect the key set")

    monkeypatch.setattr(dl, "_collect_key_vals", boom)
    a = lake.merge_changes(spark, "silver", "t", chg, key_col="k", ts_col="ts")
    assert a["key_path"] == "distributed"
    assert 1 <= a["files_rewritten"] < a["files_total"]  # pruned, not blanket
    got = sorted(map(tuple, lake.read(spark, "silver", "t").collect()))
    want = sorted(map(tuple, cdc_apply(df, chg, ["k"], "ts").collect()))
    assert got == want


def test_distributed_prune_uuid_keys_prefix_buckets(spark, tmp_path, monkeypatch):
    """String (uuid) keys on the distributed path probe byte-PREFIX
    buckets, not raw keys: the probe side's distinct count stays
    bounded near 8× the file count (never the raw key count), unicode
    and empty-adjacent prefixes stay conservative, and the merge is
    bit-identical to the broadcast path's."""
    import uuid

    import dataengineeringpipeline_spark.datalake as dl
    from dataengineeringpipeline_spark.datalake import Lake
    from dataengineeringpipeline_spark.scd import cdc_apply

    keys = sorted(
        str(uuid.UUID(int=((i * 2654435761) % (1 << 32)) << 96 | i))
        for i in range(1500)
    )
    df = spark.createDataFrame(
        [(k, float(i)) for i, k in enumerate(keys)], "k string, ts double"
    )
    chg = spark.createDataFrame(
        [(k, "U" if i % 11 else "D", 9e9) for i, k in enumerate(keys[::2])]
        + [("zz-new-key-é", "U", 9e9), ("", "U", 9e9)],  # unicode + empty inserts
        "k string, op string, ts double",
    )
    want = sorted(map(tuple, cdc_apply(df, chg, ["k"], "ts").collect()))

    broadcast = Lake(str(tmp_path / "b"), merge_broadcast_keys=10_000_000)
    broadcast.write(
        df.repartitionByRange(8, "k").sortWithinPartitions("k"), "silver", "t"
    )
    a1 = broadcast.merge_changes(spark, "silver", "t", chg, key_col="k", ts_col="ts")
    assert a1["key_path"] == "broadcast"
    got_b = sorted(map(tuple, broadcast.read(spark, "silver", "t").collect()))

    large = Lake(str(tmp_path / "d"), merge_broadcast_keys=0)
    large.write(
        df.repartitionByRange(8, "k").sortWithinPartitions("k"), "silver", "t"
    )

    def boom(keys_df, col):
        raise AssertionError("large path must not collect the key set")

    monkeypatch.setattr(dl, "_collect_key_vals", boom)

    # pin the probe-side coarsening: capture the prune frame it builds
    real_frame = dl._distributed_prune_frame
    seen = {}

    def spy(sp, files, keys_df):
        frame, no_stats = real_frame(sp, files, keys_df)
        seen["probe_rows"] = None
        if frame is not None:
            # the probe side of the join is the first child: count its
            # distinct rows via the same expression the frame used
            seen["n_files"] = len(files) - len(no_stats)
        return frame, no_stats

    monkeypatch.setattr(dl, "_distributed_prune_frame", spy)
    a2 = large.merge_changes(spark, "silver", "t", chg, key_col="k", ts_col="ts")
    assert a2["key_path"] == "distributed"
    got_d = sorted(map(tuple, large.read(spark, "silver", "t").collect()))
    assert got_b == want and got_d == want

    # bounded probe: the ladder's chosen prefix length yields a distinct
    # count far below the raw key count (uuids share 1-2 leading bytes
    # per bucket); verify directly on the same inputs
    from pyspark.sql import functions as F

    ladder = (1, 2, 3, 4, 6, 8, 12, 16, 24, 32)
    target = 8 * seen["n_files"]
    kdf = spark.createDataFrame([(k,) for k in keys], "k string")
    cnts = kdf.agg(
        *[
            F.approx_count_distinct(F.substring("k", 1, p)).alias(f"_c{p}")
            for p in ladder
        ]
    ).first()
    plen = next((p for p in ladder if cnts[f"_c{p}"] >= target), ladder[-1])
    n_probe = kdf.select(F.substring("k", 1, plen)).distinct().count()
    assert n_probe < len(keys)  # coarsened, not raw
    assert n_probe >= min(target // 2, len(keys))  # but not degenerate


def test_composite_key_merge_prunes_on_second_key(spark, tmp_path):
    """Composite-key MERGE intersects the lead- and second-key envelope
    prunes: with a 2-value lead key spread through every file (lead-only
    pruning would rewrite ALL files) and a range-clustered second key,
    a batch touching one narrow second-key range rewrites a strict
    subset — and the table is bit-identical to the logical apply."""
    from dataengineeringpipeline_spark.datalake import Lake
    from dataengineeringpipeline_spark.scd import cdc_apply

    df = spark.createDataFrame(
        [("A" if i % 2 else "B", i, f"v{i}", float(i)) for i in range(4000)],
        "status string, id long, payload string, ts double",
    )
    # cluster by the SECOND key only: every file holds both statuses
    chg = spark.createDataFrame(
        [("A" if i % 2 else "B", i, "NEW", 9e9, "U" if i % 13 else "D")
         for i in range(100, 160)],
        "status string, id long, payload string, ts double, op string",
    )
    want = sorted(
        map(tuple, cdc_apply(df, chg, ["status", "id"], "ts").collect())
    )

    for name, threshold in (("b", 10_000_000), ("d", 0)):
        lake = Lake(str(tmp_path / name), merge_broadcast_keys=threshold)
        lake.write(
            df.repartitionByRange(10, "id").sortWithinPartitions("id"),
            "silver",
            "t",
        )
        a = lake.merge_changes(
            spark, "silver", "t", chg, key_col=("status", "id"), ts_col="ts"
        )
        # lead-only pruning would hit every file (both statuses are in
        # every envelope); the second key's envelopes cut it down
        assert 1 <= a["files_rewritten"] < a["files_total"], a
        got = sorted(map(tuple, lake.read(spark, "silver", "t").collect()))
        assert got == want, name


def test_composite_key_merge_prunes_on_third_key(spark, tmp_path):
    """3-column business key: the envelope prune intersects EVERY key
    dimension, so when the first TWO keys are low-cardinality and
    spread through every file (any 2-column prune rewrites ALL files —
    proven in-test from the same envelopes) and only the THIRD key is
    range-clustered, a narrow batch still rewrites a strict subset —
    on both the broadcast and distributed key paths, with the table
    bit-identical to the logical apply."""
    from dataengineeringpipeline_spark.datalake import (
        Lake,
        _collect_key_vals,
        _envelope_hits,
        _key_envelopes_multi,
    )
    from dataengineeringpipeline_spark.scd import cdc_apply

    df = spark.createDataFrame(
        [("A" if i % 2 else "B", i % 5, i, f"v{i}", float(i)) for i in range(4000)],
        "status string, bucket long, id long, payload string, ts double",
    )
    chg = spark.createDataFrame(
        [("A" if i % 2 else "B", i % 5, i, "NEW", 9e9, "U" if i % 13 else "D")
         for i in range(100, 160)],
        "status string, bucket long, id long, payload string, ts double, op string",
    )
    want = sorted(
        map(tuple, cdc_apply(df, chg, ["status", "bucket", "id"], "ts").collect())
    )

    for name, threshold in (("b", 10_000_000), ("d", 0)):
        lake = Lake(str(tmp_path / name), merge_broadcast_keys=threshold)
        # cluster by the THIRD key only: every file holds every
        # (status, bucket) combination
        lake.write(
            df.repartitionByRange(10, "id").sortWithinPartitions("id"),
            "silver",
            "t",
        )
        if name == "b":
            # in-test proof that a ≤2-column prune is useless here:
            # every file's (status, bucket) envelopes hit the batch
            multi = _key_envelopes_multi(
                lake.path("silver", "t"), ("status", "bucket")
            )
            latest = chg
            for dim, col in enumerate(("status", "bucket")):
                vals = _collect_key_vals(latest.select(col).distinct(), col)
                hit = {
                    rel
                    for rel, _rows, envs in multi
                    if _envelope_hits(envs[dim][0], envs[dim][1], vals)
                }
                assert len(hit) == len(multi), col  # all files hit
        a = lake.merge_changes(
            spark, "silver", "t", chg,
            key_col=("status", "bucket", "id"), ts_col="ts",
        )
        assert 1 <= a["files_rewritten"] < a["files_total"], a
        got = sorted(map(tuple, lake.read(spark, "silver", "t").collect()))
        assert got == want, name


def test_footer_metadata_pool_matches_serial_order(spark, tmp_path):
    """The thread-pooled footer walk (round-12 scale bound on the
    driver-side metadata pass) must return the same metadata in the
    same input order as the serial loop — envelopes/row-counts zip
    against the rel list positionally, so an order slip would silently
    attribute one file's envelope to another."""
    from dataengineeringpipeline_spark.datalake import (
        _FOOTER_POOL_AFTER,
        _data_file_rels,
        _footer_metadata,
        _key_envelopes,
        Lake,
    )

    lake = Lake(str(tmp_path))
    n_files = _FOOTER_POOL_AFTER + 9  # force the pooled path
    df = spark.range(0, 5000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    lake.write(
        df.repartitionByRange(n_files, "k").sortWithinPartitions("k"), "silver", "t"
    )
    path = lake.path("silver", "t")
    rels = _data_file_rels(path)
    assert len(rels) > _FOOTER_POOL_AFTER
    pooled = _footer_metadata(path, rels)
    serial = _footer_metadata(path, rels[: _FOOTER_POOL_AFTER])  # serial branch
    assert [m.num_rows for m in pooled[: _FOOTER_POOL_AFTER]] == [
        m.num_rows for m in serial
    ]
    assert sum(m.num_rows for m in pooled) == 5000
    # envelopes stay per-file correct (range clustering ⇒ disjoint,
    # ascending [min,max] per rel) — an order slip would break this
    envs = _key_envelopes(path, "k")
    assert [e[0] for e in envs] == rels
    assert all(e[2] <= e[3] for e in envs)
    bounds = [(e[2], e[3]) for e in envs if e[2] is not None]
    assert bounds == sorted(bounds)


def test_distributed_prune_probe_is_single_pass(spark, tmp_path):
    """The integral prune's probe side derives its global [lo, hi] from
    the file envelopes the driver already holds — NOT from a min/max
    aggregation over the keys — so the keys relation is scanned exactly
    once and the probe side pays exactly one shuffle (the bucket
    distinct)."""
    from pyspark.sql import functions as F

    from dataengineeringpipeline_spark.datalake import (
        _distributed_prune_frame,
        _key_envelopes,
        Lake,
    )

    lake = Lake(str(tmp_path))
    df = spark.range(0, 20000).select(F.col("id").alias("k"), F.rand(7).alias("v"))
    lake.write(df.repartitionByRange(8, "k").sortWithinPartitions("k"), "silver", "t")
    keys_path = str(tmp_path / "keys.parquet")
    spark.range(0, 5000).select((F.col("id") * 4).alias("k")).write.parquet(keys_path)
    keys_df = spark.read.parquet(keys_path).select("k")

    files = _key_envelopes(lake.path("silver", "t"), "k")
    frame, no_stats = _distributed_prune_frame(spark, files, keys_df)
    assert not no_stats and frame is not None
    assert len(frame.collect()) > 0  # executes THIS frame's plan
    plan = frame._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]  # AQE prints both
    # the keys relation (the only parquet in this plan — the envelope
    # side is a local frame) is scanned exactly ONCE
    assert plan.count("Scan parquet") == 1, plan
    # shuffles: bucket distinct (probe side) + hit-rel distinct = 2;
    # a min/max pre-pass over the keys would add a third
    assert plan.count("Exchange hashpartitioning") == 2, plan


def _mk_versioned_lake(spark, tmp_path):
    """Lake with v1 (pre-merge), v2 (post-merge) snapshots and a live
    table; returns (lake, v1, v2, v1_rows, v2_rows)."""
    from pyspark.sql import functions as F

    from dataengineeringpipeline_spark.datalake import Lake

    lake = Lake(str(tmp_path))
    df = spark.range(0, 3000).select(
        F.col("id").alias("k"), (F.col("id") % 7).cast("double").alias("v")
    )
    lake.write(df.repartitionByRange(6, "k").sortWithinPartitions("k"), "silver", "t")
    v1 = lake.snapshot_version("silver", "t")
    # touch only the low key range: the merge rewrites some files
    # (those become v1-exclusive inodes) and hard-links the rest
    # (shared by v1, v2, and the live table)
    chg = spark.createDataFrame(
        [(i, "U" if i % 3 else "D", -1.0, 1.0) for i in range(0, 300, 10)],
        "k long, op string, v double, ts double",
    )
    lake.merge_changes(spark, "silver", "t", chg, key_col="k", ts_col="ts")
    v2 = lake.snapshot_version("silver", "t")
    v1_rows = sorted(map(tuple, lake.read_version(spark, "silver", "t", v1).collect()))
    v2_rows = sorted(map(tuple, lake.read_version(spark, "silver", "t", v2).collect()))
    return lake, v1, v2, v1_rows, v2_rows


def test_expire_snapshots_frees_inodes_and_keeps_retained(spark, tmp_path):
    """expire_snapshots(keep_last=1): the expired version's dirs are
    gone, inodes owned EXCLUSIVELY by it are freed (nlink was 1),
    retained versions and the live table read byte-identically,
    restore_version to a retained version still works, a new read of
    the expired number raises a clear error, and the applied-batch
    ledger survives."""
    import os

    import pytest

    from dataengineeringpipeline_spark.datalake import _data_file_rels, _read_ledger

    lake, v1, v2, v1_rows, v2_rows = _mk_versioned_lake(spark, tmp_path)
    live = lake.path("silver", "t")
    vdir1 = os.path.join(lake._versions_root("silver", "t"), f"v={v1}")
    # the merge rewrote files: some of v1's links are now EXCLUSIVE to it
    exclusive = [
        r
        for r in _data_file_rels(vdir1)
        if os.stat(os.path.join(vdir1, r)).st_nlink == 1
    ]
    shared = [
        r
        for r in _data_file_rels(vdir1)
        if os.stat(os.path.join(vdir1, r)).st_nlink > 1
    ]
    assert exclusive and shared  # the scenario exercises both classes
    live_rows_before = sorted(map(tuple, lake.read(spark, "silver", "t").collect()))

    rep = lake.expire_snapshots("silver", "t", keep_last=1)
    assert rep["expired"] == [v1] and rep["retained"] == [v2]
    assert not os.path.exists(vdir1)  # exclusive inodes freed with the dir
    assert lake.versions("silver", "t") == [v2]
    # retained version + live table byte-identical to pre-expiry reads
    assert (
        sorted(map(tuple, lake.read_version(spark, "silver", "t", v2).collect()))
        == v2_rows
    )
    assert (
        sorted(map(tuple, lake.read(spark, "silver", "t").collect()))
        == live_rows_before
    )
    # a NEW read of the expired number raises, naming what remains
    with pytest.raises(ValueError, match=f"no version {v1}"):
        lake.read_version(spark, "silver", "t", v1)
    # history now covers only retained versions (+ live)
    assert [h["version"] for h in lake.history("silver", "t")] == [v2, None]
    # restore to the retained version still works; snapshot intact after
    lake.restore_version("silver", "t", v2)
    assert (
        sorted(map(tuple, lake.read(spark, "silver", "t").collect())) == v2_rows
    )
    assert lake.versions("silver", "t") == [v2]
    assert not _read_ledger(live)  # no ledger ever written: consistent


def test_expire_snapshots_older_than_and_guards(spark, tmp_path):
    """older_than expires strictly-older commits only, the newest
    snapshot survives any parameterization, keep_last<1 and
    parameterless calls are rejected, and resolve_as_of on an instant
    before every retained commit raises."""
    import pytest

    lake, v1, v2, _v1_rows, v2_rows = _mk_versioned_lake(spark, tmp_path)
    c1 = lake._commit_us("silver", "t", v1)
    c2 = lake._commit_us("silver", "t", v2)

    with pytest.raises(ValueError, match="keep_last and/or older_than"):
        lake.expire_snapshots("silver", "t")
    with pytest.raises(ValueError, match="keep_last must be >= 1"):
        lake.expire_snapshots("silver", "t", keep_last=0)

    # older_than before v1's commit: nothing qualifies
    rep = lake.expire_snapshots("silver", "t", older_than=c1)
    assert rep["expired"] == [] and rep["retained"] == [v1, v2]
    # both given: keep_last protects even qualifying-by-age versions
    rep = lake.expire_snapshots(
        "silver", "t", keep_last=2, older_than=c2 + 1
    )
    assert rep["expired"] == []
    # older_than past both commits: v1 expires, the newest NEVER does
    rep = lake.expire_snapshots("silver", "t", older_than=c2 + 1)
    assert rep["expired"] == [v1] and rep["retained"] == [v2]
    with pytest.raises(ValueError, match="no version at or before"):
        lake.resolve_as_of("silver", "t", c2 - 1)
    assert lake.resolve_as_of("silver", "t", c2) == v2
    assert (
        sorted(map(tuple, lake.read_version(spark, "silver", "t", v2).collect()))
        == v2_rows
    )


def test_vacuum_sweeps_stale_stages_and_restores_stranded_swap(spark, tmp_path):
    """vacuum removes orphaned stage/old trees and interrupted snapshot
    .tmp_ dirs beside a LIVE table, and REPAIRS a crashed swap (live
    path absent, old copy stranded) instead of deleting the only copy."""
    import os
    import shutil

    lake, v1, v2, _v1_rows, v2_rows = _mk_versioned_lake(spark, tmp_path)
    live = lake.path("silver", "t")
    os.makedirs(live + "__merging/sub", exist_ok=True)
    os.makedirs(live + "__prepurge", exist_ok=True)
    os.makedirs(os.path.join(lake._versions_root("silver", "t"), ".tmp_v9"))
    rep = lake.vacuum("silver", "t")
    assert rep["restored_live_table"] is False
    assert {"t__merging", "t__prepurge"} <= set(rep["removed"])
    assert any(r.endswith(".tmp_v9") for r in rep["removed"])
    assert not os.path.exists(live + "__merging")
    assert not os.path.exists(live + "__prepurge")

    # crashed swap: live absent, old stranded — vacuum restores it
    live_rows = sorted(map(tuple, lake.read(spark, "silver", "t").collect()))
    os.rename(live, live + "__premerge")
    rep2 = lake.vacuum("silver", "t")
    assert rep2["restored_live_table"] is True
    assert os.path.isdir(live) and not os.path.exists(live + "__premerge")
    assert (
        sorted(map(tuple, lake.read(spark, "silver", "t").collect())) == live_rows
    )


def test_auto_compaction_bounds_file_count_across_merges(spark, tmp_path):
    """compact_after_files: a stream of micro-batch merges keeps the
    table's data-file count bounded (each merge otherwise adds survivor
    part files), contents stay identical to an uncompacted twin, the
    applied-batch ledger survives the auto-compact's swap, and the
    bloom index is rebuilt into it (still prunes)."""
    from pyspark.sql import functions as F

    from dataengineeringpipeline_spark.datalake import (
        Lake,
        _data_file_rels,
        _read_ledger,
    )

    base = spark.range(0, 2000).select(
        F.col("id").alias("k"), F.lit("base").alias("s")
    )

    def batches():
        for b in range(6):
            yield b, spark.createDataFrame(
                [(2000 + b * 50 + i, f"b{b}", "U", float(b)) for i in range(50)]
                + [(b * 10 + i, f"u{b}", "U", float(b)) for i in range(5)]
                + [(1000 + b, None, "D", float(b))],
                "k long, s string, op string, ts double",
            )

    auto = Lake(str(tmp_path / "a"), compact_after_files=8)
    plain = Lake(str(tmp_path / "p"))
    for lake in (auto, plain):
        lake.write(
            base.repartitionByRange(4, "k").sortWithinPartitions("k"), "silver", "t"
        )
        lake.build_file_index(spark, "silver", "t", "k")
        for b, chg in batches():
            a = lake.merge_changes(
                spark, "silver", "t", chg, key_col="k", ts_col="ts",
                batch_id=f"b{b}",
            )
    n_auto = len(_data_file_rels(auto.path("silver", "t")))
    n_plain = len(_data_file_rels(plain.path("silver", "t")))
    assert n_auto <= 8 < n_plain  # bounded vs unbounded growth
    got_a = sorted(map(tuple, auto.read(spark, "silver", "t").collect()))
    got_p = sorted(map(tuple, plain.read(spark, "silver", "t").collect()))
    assert got_a == got_p and len(got_a) > 2000
    # exactly-once memory survives the auto-compact swaps
    led = _read_ledger(auto.path("silver", "t"))
    assert all(f"b{b}" in led for b in range(6))
    # a replay is still a no-op
    _b, last = list(batches())[-1]
    rep = auto.merge_changes(
        spark, "silver", "t", last, key_col="k", ts_col="ts", batch_id="b5"
    )
    assert rep.get("skipped_replay") is True
    # bloom index rebuilt into the compacted tree: still prunes
    out, lrep = auto.point_lookup(spark, "silver", "t", "k", [3, 2001])
    assert lrep["bloom_indexed"]
    assert set(lrep and [r["k"] for r in out.collect()]) == {3, 2001}


def test_ledger_representation_bounded():
    """The v2 applied-batch ledger stays O(window) per stream no matter
    how many batches commit (the v1 flat list grew one entry per batch
    forever — at 1 batch/min that is ~500k entries/year, each merge
    paying an O(history) driver-side read+rewrite), while the
    exactly-once answers stay correct: every applied id reads applied
    (pre-watermark replays included), the never-applied frontier does
    not, out-of-order ids inside the window work, v1 ledgers load, and
    digitless ids keep exact-list semantics."""
    import json as _json

    from dataengineeringpipeline_spark.datalake import _LEDGER_WINDOW, _Ledger

    led = _Ledger()
    for i in range(5000):
        led.add(f"cdc-{i}")
        led.add(f"goldrefresh-{i}/partials")
    blob = _json.dumps(led.to_json())
    # two streams x 5000 batches: the serialized ledger is a few hundred
    # bytes, not 10k entries
    assert len(blob) < 2000
    st = led.to_json()["streams"]["cdc-#"]
    assert st["hwm"] == 4999 and st["recent"] == []
    assert "cdc-0" in led and "cdc-4999" in led  # pre-watermark replay: applied
    assert "goldrefresh-3/partials" in led
    assert "cdc-5000" not in led and "other-0" not in led
    # out-of-order inside the window
    led2 = _Ledger()
    for s in (10, 12, 11, 9):
        led2.add(f"b{s}")
    assert all(f"b{s}" in led2 for s in (9, 10, 11, 12)) and "b8" not in led2
    # window overflow absorbs the oldest into the watermark: an id more
    # than _LEDGER_WINDOW behind the frontier reads applied (documented
    # reordering-window contract)
    led3 = _Ledger()
    for s in range(0, 3 * _LEDGER_WINDOW, 2):  # gappy: never contiguous
        led3.add(f"s:{s}")
    assert len(led3.to_json()["streams"]["s:#"]["recent"]) <= _LEDGER_WINDOW
    assert f"s:{3 * _LEDGER_WINDOW - 2}" in led3 and "s:0" in led3
    # v1 flat list loads transparently; digitless ids use the exact list
    led4 = _Ledger.from_json(["b0", "b1", "manual-backfill"])
    assert "b0" in led4 and "b1" in led4 and "manual-backfill" in led4
    assert "b2" not in led4 and "other" not in led4
    # zero-padded sequences keep EXACT semantics: 'run-007' and 'run-7'
    # are distinct ids (collapsing them would drop a never-applied
    # batch as a phantom replay)
    led6 = _Ledger()
    led6.add("run-007")
    assert "run-007" in led6 and "run-7" not in led6
    led6.add("run-7")
    assert "run-7" in led6 and "run-07" not in led6
    # __add__ returns a new ledger without mutating the base (staged
    # writes must not dirty the live ledger before the swap commits)
    led5 = led4 + ["b2"]
    assert "b2" in led5 and "b2" not in led4


def test_ledger_bounds_across_merge_stream(spark, tmp_path, monkeypatch):
    """A long stream of ledgered merges keeps the on-disk ledger
    O(window) (window patched to 4 so 12 batches overflow it), a replay
    of a PRE-WATERMARK batch is still a no-op, and contents match a
    ledger-free twin."""
    import json as _json
    import os

    from dataengineeringpipeline_spark import datalake
    from dataengineeringpipeline_spark.datalake import Lake

    monkeypatch.setattr(datalake, "_LEDGER_WINDOW", 4)
    base = spark.range(0, 500).select(
        F.col("id").alias("k"), F.lit("base").alias("s")
    )
    lake = Lake(str(tmp_path / "l"))
    lake.write(base.repartitionByRange(4, "k").sortWithinPartitions("k"), "silver", "t")
    for b in range(12):
        chg = spark.createDataFrame(
            [(b * 7 + i, f"m{b}", "U", float(b)) for i in range(3)],
            "k long, s string, op string, ts double",
        )
        lake.merge_changes(
            spark, "silver", "t", chg, key_col="k", ts_col="ts",
            batch_id=f"m-{b}",
        )
    with open(os.path.join(lake.path("silver", "t"), "_applied_batches.json")) as f:
        raw = _json.load(f)
    assert raw["v"] == 2
    st = raw["streams"]["m-#"]
    assert len(st["recent"]) <= 4  # bounded: 12 commits, <=window retained
    assert st["hwm"] is not None and st["hwm"] >= 7  # oldest absorbed
    rows_before = sorted(map(tuple, lake.read(spark, "silver", "t").collect()))
    # replay of a batch BELOW the watermark (its id is long gone from
    # the recent window) is still an exactly-once no-op
    replay = spark.createDataFrame(
        [(0, "DOUBLE-APPLIED", "U", 99.0)], "k long, s string, op string, ts double"
    )
    rep = lake.merge_changes(
        spark, "silver", "t", replay, key_col="k", ts_col="ts", batch_id="m-0"
    )
    assert rep.get("skipped_replay") is True
    assert (
        sorted(map(tuple, lake.read(spark, "silver", "t").collect())) == rows_before
    )


def test_keep_snapshots_auto_retention(spark, tmp_path):
    """Lake(keep_snapshots=2): every snapshot_version commit auto-
    expires beyond the newest 2 — bounded history for per-micro-batch
    snapshotting without a retention scheduler; retained reads stay
    byte-identical."""
    from pyspark.sql import functions as F

    from dataengineeringpipeline_spark.datalake import Lake

    lake = Lake(str(tmp_path), keep_snapshots=2)
    states = {}
    for i in range(4):
        lake.write(
            spark.range(0, 100).select(F.col("id"), F.lit(i).alias("gen")),
            "silver",
            "t",
        )
        v = lake.snapshot_version("silver", "t")
        states[v] = i
        assert lake.versions("silver", "t") == list(
            range(max(1, v - 1), v + 1)
        )
    assert lake.versions("silver", "t") == [3, 4]
    for v in (3, 4):
        got = lake.read_version(spark, "silver", "t", v)
        assert got.agg(F.max("gen")).first()[0] == states[v]


def test_merge_handles_null_keys_on_both_paths(spark, tmp_path):
    """A CDC batch carrying NULL-key rows must not crash either key
    path (a mixed None/value set does not even sort on the broadcast
    path) and must leave stored rows untouched — NULL equals nothing in
    the rewrite's equi-joins, matching cdc_apply."""
    from dataengineeringpipeline_spark.datalake import Lake
    from dataengineeringpipeline_spark.scd import cdc_apply

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(200)] + [(None, -1.0)],
        "k long, ts double",
    )
    chg = spark.createDataFrame(
        [(i, "U", 9e9) for i in range(0, 200, 5)] + [(None, "U", 9e9)],
        "k long, op string, ts double",
    )
    want = sorted(
        map(tuple, cdc_apply(df, chg, ["k"], "ts").collect()),
        key=lambda t: (t[0] is None, t),
    )
    for name, threshold in (("b", 10_000_000), ("d", 0)):
        lake = Lake(str(tmp_path / name), merge_broadcast_keys=threshold)
        lake.write(
            df.repartitionByRange(4, "k").sortWithinPartitions("k"), "silver", "t"
        )
        a = lake.merge_changes(spark, "silver", "t", chg, key_col="k", ts_col="ts")
        got = sorted(
            map(tuple, lake.read(spark, "silver", "t").collect()),
            key=lambda t: (t[0] is None, t),
        )
        assert got == want, (name, a)
    # purge_keys (always the broadcast path): a NULL opt-out key removes
    # nothing, like the left_anti rewrite, and stored NULL-key rows stay
    optout = spark.createDataFrame([(5,), (None,)], "k long")
    a = lake.purge_keys(spark, "silver", "t", "k", optout)
    assert a["rows_removed"] == 1, a
    got = sorted(
        map(tuple, lake.read(spark, "silver", "t").collect()),
        key=lambda t: (t[0] is None, t),
    )
    assert got == [t for t in want if t[0] != 5]


def test_bloom_index_rebuilt_when_rewrite_outgrows_its_sizing(spark, tmp_path):
    """A linked rewrite whose new file holds more rows than the bloom
    index was sized for rebuilds that column's index over the stage:
    carried as is, an 8000-row file in bits sized for 1000 rows answers
    "maybe" to most probes and point lookups silently stop pruning."""
    import json
    import os

    from dataengineeringpipeline_spark.datalake import Lake, _data_file_rels

    def merge(base, delta):
        return base.unionByName(delta).groupBy("p", "k").agg(F.sum("v").alias("v"))

    lake = Lake(str(tmp_path))
    base = spark.createDataFrame(
        [(i % 4, i, 1.0) for i in range(4000)], "p int, k long, v double"
    )
    lake.upsert_partitions(spark, "gold", "t", base, "p", merge)  # 4 x 1000 rows
    lake.build_file_index(spark, "gold", "t", "k")
    grow = spark.createDataFrame(
        [(0, 10_000 + i, 1.0) for i in range(7000)], "p int, k long, v double"
    )
    lake.upsert_partitions(spark, "gold", "t", grow, "p", merge)  # p=0: 8000 rows
    out, rep = lake.point_lookup(spark, "gold", "t", "k", [1, 5, 9])  # all p=1
    assert rep["files_read"] == 1, rep
    assert sorted(r["k"] for r in out.collect()) == [1, 5, 9]
    path = lake.path("gold", "t")
    idx = json.load(open(os.path.join(path, "_file_bloom_k.json")))
    assert idx["rows"] == 8000 and set(idx["files"]) == set(_data_file_rels(path))


def test_distributed_prune_partition_dir_key(spark, tmp_path, monkeypatch):
    """Distributed prune when the MERGE key IS a hive partition column:
    envelopes come from directory names (strings), which must still
    feed the integral bucket path's envelope-derived bounds — the merge
    rewrites exactly the touched partition's files."""
    import dataengineeringpipeline_spark.datalake as dl
    from dataengineeringpipeline_spark.datalake import Lake
    from dataengineeringpipeline_spark.scd import cdc_apply

    df = spark.createDataFrame(
        [(i % 10, i, float(i)) for i in range(1000)], "p int, k long, ts double"
    )
    chg = spark.createDataFrame(
        [(3, i, "U", 9e9) for i in range(0, 1000, 7)],
        "p int, k long, op string, ts double",
    )
    lake = Lake(str(tmp_path), merge_broadcast_keys=0)
    lake.write(df, "silver", "t", partition_by=("p",))

    def boom(keys_df, col):
        raise AssertionError("large path must not collect the key set")

    monkeypatch.setattr(dl, "_collect_key_vals", boom)
    a = lake.merge_changes(spark, "silver", "t", chg, key_col="p", ts_col="ts")
    assert a["key_path"] == "distributed"
    assert 1 <= a["files_rewritten"] < a["files_total"] // 2  # one partition
    got = sorted(
        map(tuple, lake.read(spark, "silver", "t").select("p", "k", "ts").collect())
    )
    want = sorted(
        map(tuple, cdc_apply(df, chg, ["p"], "ts").select("p", "k", "ts").collect())
    )
    assert got == want


def test_composite_key_scd2_merge_prunes_on_second_key(spark, tmp_path):
    """merge_scd2 with a composite business key: histories re-derive on
    the full tuple, and the envelope prune intersects the lead- and
    second-key hit sets — a 2-value lead key spread through every file
    still yields a strict-subset rewrite when the second key is
    range-clustered. Both key paths, bit-identical to the logical
    apply."""
    from dataengineeringpipeline_spark.datalake import Lake
    from dataengineeringpipeline_spark.scd import scd2_apply_changes, scd2_history

    changes = spark.createDataFrame(
        [
            ("A" if i % 2 else "B", i, f"addr-{i}-{v}", float(v))
            for i in range(600)
            for v in range(2)
        ],
        "region string, id long, addr string, ts double",
    )
    hist = scd2_history(changes, ["region", "id"], ["addr"], "ts")
    upd = spark.createDataFrame(
        [("A" if i % 2 else "B", i, f"addr-{i}-new", 10.0) for i in range(100, 140)],
        "region string, id long, addr string, ts double",
    )
    want = sorted(
        map(
            tuple,
            scd2_apply_changes(
                hist, upd, key_cols=["region", "id"], attr_cols=["addr"], ts_col="ts"
            ).collect(),
        )
    )
    for name, threshold in (("b", 10_000_000), ("d", 0)):
        lake = Lake(str(tmp_path / name), merge_broadcast_keys=threshold)
        lake.write(
            hist.repartitionByRange(8, "id").sortWithinPartitions("id"),
            "gold",
            "dim",
        )
        a = lake.merge_scd2(
            spark,
            "gold",
            "dim",
            upd,
            key_col=("region", "id"),
            attr_cols=("addr",),
            ts_col="ts",
        )
        assert a["key_path"] == ("broadcast" if name == "b" else "distributed")
        # lead-only pruning would hit every file; the id envelopes cut it
        assert 1 <= a["files_rewritten"] < a["files_total"], a
        got = sorted(map(tuple, lake.read(spark, "gold", "dim").collect()))
        assert got == want, name


def test_partial_column_merge_with_composite_keys(spark, tmp_path):
    """update_cols (UPDATE SET subset) composed with a composite key:
    the patch joins on the full tuple, unnamed columns keep stored
    values, brand-new tuples NULL-pad, tombstones delete — on both key
    paths, with the two-column intersected prune still strict-subset."""
    from dataengineeringpipeline_spark.datalake import Lake

    base = spark.createDataFrame(
        [
            ("A" if i % 2 else "B", i, float(i), f"note-{i}")
            for i in range(1200)
        ],
        "status string, id long, score double, note string",
    )
    ch = spark.createDataFrame(
        [("A" if i % 2 else "B", i, 9000.0 + i, "U", 1) for i in range(200, 240)]
        + [("Z", 77777, -5.0, "U", 1), ("B", 210, None, "D", 2)],
        "status string, id long, score double, op string, ts int",
    )

    for name, threshold in (("b", 10_000_000), ("d", 0)):
        lake = Lake(str(tmp_path / name), merge_broadcast_keys=threshold)
        lake.write(
            base.repartitionByRange(8, "id").sortWithinPartitions("id"),
            "silver",
            "t",
        )
        a = lake.merge_changes(
            spark, "silver", "t", ch,
            key_col=("status", "id"), ts_col="ts", update_cols=("score",),
        )
        assert 1 <= a["files_rewritten"] < a["files_total"], a
        rows = {(r["status"], r["id"]): r for r in lake.read(spark, "silver", "t").collect()}
        assert rows[("A", 201)]["score"] == 9201.0          # patched
        assert rows[("A", 201)]["note"] == "note-201"        # kept
        assert rows[("B", 200)]["score"] == 9200.0
        assert rows[("Z", 77777)]["score"] == -5.0           # new tuple
        assert rows[("Z", 77777)]["note"] is None            # NULL-padded
        assert ("B", 210) not in rows                        # tombstoned
        assert rows[("A", 199)]["score"] == 199.0            # untouched
        assert len(rows) == 1200 - 1 + 1


def test_merge_and_purge_on_escaped_partition_key_values(spark, tmp_path):
    """String partition-key values Spark percent-escapes in directory
    names (':' etc.): the envelope prune must DECODE the dir value or it
    silently misses affected files — stale rows surviving the merge,
    tombstones not deleting, purges no-oping."""
    from dataengineeringpipeline_spark.datalake import Lake
    from dataengineeringpipeline_spark.scd import cdc_apply

    df = spark.createDataFrame(
        [(f"ns:{i % 4}", i, float(i)) for i in range(400)],
        "k string, v long, ts double",
    )
    chg = spark.createDataFrame(
        [("ns:1", 777, "U", 9e9), ("ns:2", 0, "D", 9e9)],
        "k string, v long, op string, ts double",
    )
    for name, threshold in (("b", 10_000_000), ("d", 0)):
        lake = Lake(str(tmp_path / name), merge_broadcast_keys=threshold)
        lake.write(df, "silver", "t", partition_by=("k",))
        a = lake.merge_changes(spark, "silver", "t", chg, key_col="k", ts_col="ts")
        assert a["files_rewritten"] >= 1, a  # the escaped dirs WERE pruned in
        got = sorted(
            map(tuple, lake.read(spark, "silver", "t").select("k", "v").collect())
        )
        want = sorted(
            map(tuple, cdc_apply(df, chg, ["k"], "ts").select("k", "v").collect())
        )
        assert got == want, name
        assert ("ns:1", 777) in got and all(g[0] != "ns:2" for g in got)

    # purge the escaped cohort: must actually remove it
    lake = Lake(str(tmp_path / "p"))
    lake.write(df, "silver", "t", partition_by=("k",))
    rep = lake.purge_keys(
        spark, "silver", "t", "k", spark.createDataFrame([("ns:3",)], "k string")
    )
    assert rep["rows_removed"] == 100, rep
    assert lake.read(spark, "silver", "t").filter("k = 'ns:3'").count() == 0


def test_upsert_partitions_escaped_partition_values(spark, tmp_path):
    """upsert_partitions' untouched-file hard-link check must percent-
    decode dir names: an escaped touched-partition dir comparing unequal
    would link the OLD file in beside its rewrite — duplicate rows."""
    from pyspark.sql import functions as F

    from dataengineeringpipeline_spark.datalake import Lake

    lake = Lake(str(tmp_path))
    base = spark.createDataFrame(
        [(f"region {i % 3}", i, float(i)) for i in range(300)],
        "p string, k long, v double",
    )
    merge = lambda b, d: b.unionByName(d).groupBy("p", "k").agg(  # noqa: E731
        F.sum("v").alias("v")
    )
    lake.upsert_partitions(spark, "gold", "t", base, "p", merge)
    delta = spark.createDataFrame(
        [("region 1", 1, 100.0)], "p string, k long, v double"
    )
    lake.upsert_partitions(spark, "gold", "t", delta, "p", merge)
    out = lake.read(spark, "gold", "t")
    assert out.count() == 300  # no duplicated touched partition
    assert out.filter("p = 'region 1' and k = 1").first()["v"] == 101.0


def test_keep_snapshots_rejects_nonpositive(spark, tmp_path):
    """A negative keep_snapshots would protect vs[N:] == [] and delete
    every snapshot including the one just committed — rejected loudly."""
    import pytest

    from dataengineeringpipeline_spark.datalake import Lake

    lake = Lake(str(tmp_path), keep_snapshots=-10)
    lake.write(spark.range(5), "silver", "t")
    with pytest.raises(ValueError, match="keep_snapshots must be >= 1"):
        lake.snapshot_version("silver", "t")
    # the guard runs BEFORE any work: nothing was half-committed
    assert lake.versions("silver", "t") == []
    lake.keep_snapshots = 1
    assert lake.snapshot_version("silver", "t") == 1


def test_expired_version_interrupted_delete_is_invisible(spark, tmp_path):
    """Expiry renames a version out of the v= namespace BEFORE deleting:
    a crash mid-delete leaves only a .tmp_ dir — never a half-deleted
    dir that versions()/read_version would serve as a complete
    snapshot — and the next vacuum sweeps it."""
    import os

    lake, v1, v2, _r1, _r2 = _mk_versioned_lake(spark, tmp_path)
    root = lake._versions_root("silver", "t")
    # simulate the crash: the rename happened, the rmtree didn't
    os.rename(os.path.join(root, f"v={v1}"), os.path.join(root, f".tmp_expired_v{v1}"))
    assert lake.versions("silver", "t") == [v2]  # invisible mid-delete
    rep = lake.vacuum("silver", "t")
    assert any(f".tmp_expired_v{v1}" in r for r in rep["removed"])
    assert not os.path.exists(os.path.join(root, f".tmp_expired_v{v1}"))


def _scd2_kw(batch_id):
    return dict(
        key_col="k", attr_cols=("attr", "tier"), ts_col="ts",
        tiebreak_cols=("tb",), carry_cols=("tb",), batch_id=batch_id,
        evolve_schema=True,
    )


@pytest.fixture(scope="module")
def merged_b0_lake(spark, tmp_path_factory):
    """An SCD2 history table with a bloom index on ``k`` and batch
    ``b-0`` merged in, which evolves the schema with a ``tier``
    attribute and leaves a snapshot of the merged state. Built once;
    each test mutates its own copy."""
    from dataengineeringpipeline_spark.datalake import Lake
    from dataengineeringpipeline_spark.scd import scd2_history

    lake = Lake(str(tmp_path_factory.mktemp("b0")))
    hist = scd2_history(
        spark.createDataFrame(
            [(i, f"A{i % 3}", float(i % 5), i) for i in range(400)],
            "k long, attr string, ts double, tb long",
        ),
        ["k"], ["attr"], "ts", tiebreak_cols=["tb"], carry_cols=["tb"],
    )
    lake.write(hist.repartitionByRange(4, "k").sortWithinPartitions("k"), "gold", "h")
    lake.build_file_index(spark, "gold", "h", "k")
    b0 = spark.createDataFrame(
        [(40, "A1", "GOLD", 99.0, 9001), (5000, "FRESH", "SILVER", 1.0, 9002)],
        "k long, attr string, tier string, ts double, tb long",
    )
    lake.merge_scd2(spark, "gold", "h", b0, **_scd2_kw("b-0"))
    lake.snapshot_version("gold", "h")
    return lake, b0, lake.read(spark, "gold", "h").schema.simpleString()


_MUTATIONS = {
    "compact": lambda spark, lake: lake.compact(spark, "gold", "h"),
    "cluster_by": lambda spark, lake: lake.cluster_by(spark, "gold", "h", ("k",)),
    "cluster_by_zorder": lambda spark, lake: lake.cluster_by_zorder(
        spark, "gold", "h", ("k", "tb")
    ),
    "purge_keys": lambda spark, lake: lake.purge_keys(
        spark, "gold", "h", "k", spark.createDataFrame([(3,)], "k long")
    ),
    "merge_scd2": lambda spark, lake: lake.merge_scd2(
        spark, "gold", "h",
        spark.createDataFrame(
            [(80, "A2", "BRONZE", 99.0, 9003)],
            "k long, attr string, tier string, ts double, tb long",
        ),
        **_scd2_kw("b-1"),
    ),
    "replace_table": lambda spark, lake: lake.replace_table(
        spark, "gold", "h", lake.read(spark, "gold", "h")
    ),
    "restore_version": lambda spark, lake: lake.restore_version(
        "gold", "h", lake.versions("gold", "h")[-1]
    ),
}


@pytest.mark.parametrize("mutation", sorted(_MUTATIONS))
def test_mutation_commit_carries_ledger_index_and_schema(
    spark, tmp_path, merged_b0_lake, mutation
):
    """Every mutation publishes through the one staged commit, so the
    sidecars survive it: the applied-batch ledger (replaying ``b-0`` is a
    no-op), the bloom index (present, and point lookups still find every
    key) and the evolved schema."""
    import shutil

    from dataengineeringpipeline_spark.datalake import Lake

    src, b0, schema = merged_b0_lake
    shutil.copytree(src.root, tmp_path / "lake")
    lake = Lake(str(tmp_path / "lake"))
    _MUTATIONS[mutation](spark, lake)

    replay = lake.merge_scd2(spark, "gold", "h", b0, **_scd2_kw("b-0"))
    assert replay.get("skipped_replay") is True, replay
    keys = set(range(400)) - ({3} if mutation == "purge_keys" else set()) | {5000}
    out, rep = lake.point_lookup(spark, "gold", "h", "k", sorted(keys))
    assert rep["bloom_indexed"], rep
    assert {r["k"] for r in out.select("k").collect()} == keys
    assert lake.read(spark, "gold", "h").schema.simpleString() == schema


@pytest.mark.parametrize(
    "query",
    ["lake_point_lookup_orders", "incremental_rule_summary_table", "snapshot_diff_report"],
)
def test_release_caches_removes_lake_temp_roots(spark, sf_dir, tmp_path, query):
    """A consumed lake, IVM or corpus contract query leaves the temp
    directory as it found it once ``release_caches`` runs: the throwaway
    lake each one builds is a tracked temp root."""
    import os
    import tempfile

    import __spark_entry__ as entrymod
    from dataengineeringpipeline_spark.cache import release_caches

    # the JVM unpacks its parquet codec's native library into the temp
    # directory once per process, on first use: do that before looking
    spark.range(1).write.parquet(str(tmp_path / "codec_warmup"))
    tmp = tempfile.gettempdir()
    release_caches()
    before = set(os.listdir(tmp))
    assert entrymod.queries()[query](spark, sf_dir).collect()
    release_caches()
    assert set(os.listdir(tmp)) - before == set()
