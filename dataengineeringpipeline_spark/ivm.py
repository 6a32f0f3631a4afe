"""Incremental materialized-view maintenance (IVM) for the gold layer.

The reference recomputes gold aggregates from the full silver table every
run (``terraform/modules/glue/templates/silver_to_gold_analytics.py`` —
cited for parity, not copied); at 100 TB a nightly full recompute of a
daily summary is the single most wasteful job in the pipeline, because
yesterday's groups did not change. This module keeps the summary as a
table of MERGEABLE PARTIAL AGGREGATES so a delta batch maintains it with
delta-sized work:

- partials live at ``(order_date, customer_key)`` grain — fine enough
  that even ``COUNT(DISTINCT customer_key)`` becomes mergeable (it is
  the row count of the grain), which is the classic IVM trick for the
  one non-mergeable measure in the summary;
- sums are kept as UNCAST decimals (exact, order-independent — see
  ``functions.money_sum``), so partial + partial == full recompute
  bit-for-bit, not approximately;
- the partials table is PARTITIONED BY ``order_date``; a delta touches
  a handful of dates, so maintenance reads only those partitions
  (partition pruning) and rewrites only those partitions (dynamic
  partition overwrite). Untouched date partitions are not read and not
  written — O(delta), not O(table).

The final summary (`daily_summary_from_partials`) reproduces
``gold.daily_sales_summary`` exactly: every derived measure uses the
same IEEE operation sequence on the same exact decimal sums.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .cache import tracked_mkdtemp
from .datalake import Lake

#: Decimal types for the exact partial sums. ``rev`` matches
#: ``money_sum``'s cast; ``rev_sq`` matches ``det_stddev``'s
#: decimal(18,2) square (product type decimal(37,4)).
_REV_DEC = "decimal(27,2)"
_SQ_DEC = "decimal(18,2)"

#: Canonical STORED types for the partial sums. Spark widens a decimal
#: sum's precision by 10 (capped at 38) per aggregation, so without a
#: pin the first write holds decimal(37,2) and a re-merged write holds
#: decimal(38,2) — unreadable side by side in one partitioned table.
#: Casting every partials frame to the widest type keeps the table
#: schema stable across any number of maintenance rounds (the values
#: are exact either way).
_REV_STORE = "decimal(38,2)"
_SQ_STORE = "decimal(38,4)"


def _canonical(partials: DataFrame) -> DataFrame:
    return partials.select(
        "order_date",
        "customer_key",
        "cnt",
        F.col("rev").cast(_REV_STORE).alias("rev"),
        F.col("rev_sq").cast(_SQ_STORE).alias("rev_sq"),
        "mn",
        "mx",
    )


def sales_partials(silver_orders: DataFrame) -> DataFrame:
    """Mergeable partial aggregates of the daily sales summary at
    ``(order_date, customer_key)`` grain: ``cnt``, exact decimal
    ``rev`` / ``rev_sq`` sums, ``mn`` / ``mx``.

    One map-side-combined shuffle on the grain; every column merges by
    SUM (or MIN/MAX), so partials from any two disjoint row sets — base
    vs delta, day vs day, partition vs partition — combine with one
    re-aggregation and the result is what a full recompute would have
    produced, exactly.
    """
    p = F.col("total_price")
    dec = p.cast(_SQ_DEC)
    return _canonical(
        silver_orders.filter(F.col("is_complete_order"))
        .groupBy("order_date", "customer_key")
        .agg(
            F.count(p).alias("cnt"),
            F.sum(p.cast(_REV_DEC)).alias("rev"),
            F.sum(dec * dec).alias("rev_sq"),
            F.min(p).alias("mn"),
            F.max(p).alias("mx"),
        )
    )


def reaggregate_partials(partials: DataFrame) -> DataFrame:
    """Collapse any number of stacked partials rows back to one row per
    grain — THE merge operation, shared by the batch two-frame merge and
    the streaming merge-on-read (N batch partitions at once)."""
    return _canonical(
        partials.groupBy("order_date", "customer_key").agg(
            F.sum("cnt").alias("cnt"),
            F.sum("rev").alias("rev"),
            F.sum("rev_sq").alias("rev_sq"),
            F.min("mn").alias("mn"),
            F.max("mx").alias("mx"),
        )
    )


def merge_partials(base: DataFrame, delta: DataFrame) -> DataFrame:
    """Combine two partials frames — the IVM merge step. Counter/sum
    addition and min/max are the whole operation; decimal sums make the
    addition exact, so merge order and partitioning cannot perturb the
    result."""
    return reaggregate_partials(base.unionByName(delta))


def daily_summary_from_partials(partials: DataFrame) -> DataFrame:
    """Fold the grain out: the exact ``gold.daily_sales_summary`` shape
    from the partials table. ``unique_customers`` is the grain row
    count; avg and stddev replay ``money_avg`` / ``det_stddev``'s IEEE
    sequence on the summed decimals, so the incremental summary is
    bit-identical to the batch one."""
    agg = partials.groupBy("order_date").agg(
        F.sum("cnt").alias("total_orders"),
        F.count(F.lit(1)).alias("unique_customers"),
        F.sum("rev").alias("_rev"),
        F.sum("rev_sq").alias("_rev_sq"),
        F.min("mn").alias("min_order_value"),
        F.max("mx").alias("max_order_value"),
    )
    n = F.col("total_orders").cast("double")
    sx = F.col("_rev").cast("double")
    sxx = F.col("_rev_sq").cast("double")
    var = (n * sxx - sx * sx) / (n * (n - F.lit(1.0)))
    return agg.select(
        "order_date",
        "total_orders",
        "unique_customers",
        sx.alias("total_revenue"),
        (sx / F.col("total_orders")).alias("avg_order_value"),
        "min_order_value",
        "max_order_value",
        F.when(
            F.col("total_orders") > 1, F.sqrt(F.greatest(var, F.lit(0.0)))
        ).alias("order_value_stddev"),
    ).orderBy("order_date")


def maintain_sales_partials(
    lake: Lake,
    delta_silver_orders: DataFrame,
    layer: str = "gold",
    table: str = "sales_partials",
    batch_id: str | None = None,
) -> list:
    """Apply a silver delta to the materialized partials table, touching
    ONLY the date partitions the delta hits. Returns the touched dates.

    Read side: the base is read with an ``isin(touched)`` predicate that
    prunes to the affected ``order_date=`` directories. Write side:
    :meth:`Lake.upsert_partitions` — the merged touched partitions are
    staged and swapped in atomically while every sibling partition's
    files hard-link across byte-identical, so a crash at any point
    leaves the table fully pre-delta or fully post-delta (never a
    partially-merged mix a retry would double-count), and a ``batch_id``
    makes retries of an applied delta exact no-ops (the applied-batch
    ledger rides the swap). The touched-date ``collect()`` is bounded by
    the calendar, not the data: a delta is days wide, never
    key-cardinality wide.
    """
    return lake.upsert_partitions(
        delta_silver_orders.sparkSession,
        layer,
        table,
        sales_partials(delta_silver_orders),
        "order_date",
        merge_partials,
        batch_id=batch_id,
    )


def incremental_daily_sales(
    silver_orders: DataFrame, cutoff: str = "1998-06-01"
) -> DataFrame:
    """Driver-contract query: maintain the daily summary incrementally —
    base partials from orders before ``cutoff``, a delta batch from
    orders on/after it, one merge — and read the summary off the merged
    partials. The oracle is the PLAIN FULL RECOMPUTE
    (``daily_sales_summary`` SQL): passing means incremental == batch
    bit-for-bit, which is the entire IVM contract."""
    d = F.col("order_date")
    lit_cut = F.lit(cutoff).cast("date")
    base = sales_partials(silver_orders.filter(d < lit_cut))
    delta = sales_partials(silver_orders.filter(d >= lit_cut))
    return daily_summary_from_partials(merge_partials(base, delta))


def monthly_summary_from_partials(partials: DataFrame) -> DataFrame:
    """Second granularity off the SAME partials table — the
    TimescaleDB-style continuous-aggregate hierarchy: because the grain
    is (order_date, customer_key), the monthly rollup's
    ``unique_customers`` is a distinct over grain rows, ``active_days``
    a distinct over dates, and every sum re-folds the exact decimals —
    the monthly summary never touches the fact table and still equals
    ``gold.monthly_sales_summary`` bit-for-bit. One partials table,
    every coarser rollup for free.
    """
    keyed = partials.select(
        F.year("order_date").alias("order_year"),
        F.month("order_date").alias("order_month"),
        "order_date",
        "customer_key",
        "cnt",
        "rev",
    )
    agg = keyed.groupBy("order_year", "order_month").agg(
        F.sum("cnt").alias("total_orders"),
        F.countDistinct("customer_key").alias("unique_customers"),
        F.countDistinct("order_date").alias("active_days"),
        F.sum("rev").alias("_rev"),
    )
    return agg.select(
        "order_year",
        "order_month",
        "total_orders",
        "unique_customers",
        "active_days",
        F.col("_rev").cast("double").alias("total_revenue"),
        (F.col("_rev").cast("double") / F.col("total_orders")).alias(
            "avg_order_value"
        ),
        F.to_date(
            F.concat_ws(
                "-",
                F.col("order_year"),
                F.lpad(F.col("order_month"), 2, "0"),
                F.lit("01"),
            )
        ).alias("month_start"),
    ).orderBy("order_year", "order_month")


def monthly_sales_from_partials(silver_orders: DataFrame) -> DataFrame:
    """Driver-contract query: the monthly summary read off the daily
    partials (built through the same base/delta merge as
    :func:`incremental_daily_sales`) — the oracle is the plain monthly
    recompute, proving the partials hierarchy serves a second
    granularity exactly."""
    d = F.col("order_date")
    lit_cut = F.lit("1998-06-01").cast("date")
    base = sales_partials(silver_orders.filter(d < lit_cut))
    delta = sales_partials(silver_orders.filter(d >= lit_cut))
    return monthly_summary_from_partials(merge_partials(base, delta))


# ---------------------------------------------------------------------------
# Second IVM family: per-customer lifetime metrics.
#
# Proof that the partials pattern is a LIBRARY, not a daily-summary
# one-off: ``gold.customer_lifetime_metrics`` (A3, 11 measures —
# count / exact-decimal sum / avg / min / max price / first / last date /
# COUNT(DISTINCT order_year) / min recency / conditional sum) all fold
# from one grain. The grain is ``(customer_key, order_year)`` — as with
# the daily family, picking the grain that CONTAINS the distinct-counted
# column is what makes ``active_years`` mergeable (it becomes the
# grain-row count per customer). Partitioning the partials table by
# ``order_year`` makes maintenance O(delta): an update batch of recent
# orders touches only the latest year's partition, regardless of how
# many customers it spans.
# ---------------------------------------------------------------------------

#: Pinned stored type for the exact revenue sum (same rationale as
#: ``_REV_STORE``: stop Spark's per-merge decimal widening from forking
#: the table schema between maintenance rounds).
_CUST_COLS = (
    "customer_key order_year cnt cnt_price rev mn_price mx_price "
    "mn_date mx_date mn_recency xl n_small n_medium n_large"
).split()


def _cust_canonical(partials: DataFrame) -> DataFrame:
    return partials.select(
        *[
            F.col(c).cast(_REV_STORE).alias(c) if c == "rev" else F.col(c)
            for c in _CUST_COLS
        ]
    )


def customer_partials(silver_orders: DataFrame) -> DataFrame:
    """Mergeable partials of the customer lifetime metrics at
    ``(customer_key, order_year)`` grain.

    ``cnt`` and ``cnt_price`` are kept separately: the batch metric's
    ``total_orders`` is ``COUNT(*)`` while ``money_avg`` divides by
    ``COUNT(total_price)`` — folding both exactly requires both
    counters. ``rev`` is the exact decimal sum (order-independent), so
    partial ⊕ partial == full recompute bit-for-bit.
    """
    p = F.col("total_price")
    return _cust_canonical(
        silver_orders.filter(F.col("is_complete_order"))
        .groupBy("customer_key", "order_year")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.count(p).alias("cnt_price"),
            F.sum(p.cast(_REV_DEC)).alias("rev"),
            F.min(p).alias("mn_price"),
            F.max(p).alias("mx_price"),
            F.min("order_date").alias("mn_date"),
            F.max("order_date").alias("mx_date"),
            F.min("days_since_order").alias("mn_recency"),
            F.sum(
                F.when(F.col("order_size_category") == "EXTRA_LARGE", 1).otherwise(0)
            ).alias("xl"),
            # per-size counters: the order_size_distribution pivot's
            # mergeable form (counts add), making the FULL customer-360
            # gold row — dims ⟕ metrics ⟕ size pivot — refreshable from
            # partials (customer_analytics_from_partials)
            F.sum(
                F.when(F.col("order_size_category") == "SMALL", 1).otherwise(0)
            ).alias("n_small"),
            F.sum(
                F.when(F.col("order_size_category") == "MEDIUM", 1).otherwise(0)
            ).alias("n_medium"),
            F.sum(
                F.when(F.col("order_size_category") == "LARGE", 1).otherwise(0)
            ).alias("n_large"),
        )
    )


def reaggregate_customer_partials(partials: DataFrame) -> DataFrame:
    """THE merge for the customer family — counter addition plus
    min/max, shared by the batch two-frame merge and merge-on-read."""
    return _cust_canonical(
        partials.groupBy("customer_key", "order_year").agg(
            F.sum("cnt").alias("cnt"),
            F.sum("cnt_price").alias("cnt_price"),
            F.sum("rev").alias("rev"),
            F.min("mn_price").alias("mn_price"),
            F.max("mx_price").alias("mx_price"),
            F.min("mn_date").alias("mn_date"),
            F.max("mx_date").alias("mx_date"),
            F.min("mn_recency").alias("mn_recency"),
            F.sum("xl").alias("xl"),
            F.sum("n_small").alias("n_small"),
            F.sum("n_medium").alias("n_medium"),
            F.sum("n_large").alias("n_large"),
        )
    )


def merge_customer_partials(base: DataFrame, delta: DataFrame) -> DataFrame:
    return reaggregate_customer_partials(base.unionByName(delta))


def customer_metrics_from_partials(partials: DataFrame) -> DataFrame:
    """Fold the year grain out: the exact
    ``gold.customer_lifetime_metrics`` shape. ``active_years`` is the
    grain-row count; ``lifetime_value`` / ``avg_order_value`` replay
    ``money_sum`` / ``money_avg``'s IEEE sequence (exact decimal sum →
    one cast to double → one division), so the incremental metrics are
    bit-identical to the batch ones."""
    agg = partials.groupBy("customer_key").agg(
        F.sum("cnt").alias("total_orders"),
        F.sum("rev").alias("_rev"),
        F.sum("cnt_price").alias("_cnt_price"),
        F.min("mn_price").alias("min_order_value"),
        F.max("mx_price").alias("max_order_value"),
        F.min("mn_date").alias("first_order_date"),
        F.max("mx_date").alias("last_order_date"),
        F.count(F.lit(1)).alias("active_years"),
        F.min("mn_recency").alias("recency_days"),
        F.sum("xl").alias("extra_large_orders"),
    )
    sx = F.col("_rev").cast("double")
    return agg.select(
        "customer_key",
        "total_orders",
        sx.alias("lifetime_value"),
        (sx / F.col("_cnt_price")).alias("avg_order_value"),
        "min_order_value",
        "max_order_value",
        "first_order_date",
        "last_order_date",
        "active_years",
        "recency_days",
        "extra_large_orders",
    )


def maintain_customer_partials(
    lake: Lake,
    delta_silver_orders: DataFrame,
    layer: str = "gold",
    table: str = "customer_partials",
    batch_id: str | None = None,
) -> list:
    """Apply a silver delta to the materialized customer-partials table,
    touching ONLY the ``order_year`` partitions the delta hits. A
    real-world delta (recent orders) lands in one or two year
    partitions no matter how many customers it spans; every other
    year's files hard-link across untouched. Returns touched years.
    Crash-safe + retry-idempotent via :meth:`Lake.upsert_partitions`
    (see :func:`maintain_sales_partials`).
    """
    return lake.upsert_partitions(
        delta_silver_orders.sparkSession,
        layer,
        table,
        customer_partials(delta_silver_orders),
        "order_year",
        merge_customer_partials,
        batch_id=batch_id,
    )


# ---------------------------------------------------------------------------
# Rule-driven IVM: compile ANY aggregation rule (rules.AggregationRule —
# the reference's config schema) to mergeable partials + a fold that
# reproduces ``rules.apply_aggregation_rule`` bit-for-bit. The two
# hand-built families above are instances of this compiler's output;
# this is the general form — IVM driven by the same CONFIG that drives
# the batch job, so "make this configured summary incremental" is a
# call, not a rewrite.
#
# Grain rule: partials live at ``group_by ∪ {count_distinct columns}``
# (the usual trick — containing the distinct-counted columns makes them
# mergeable). ``approx_count_distinct`` compiles to a mergeable
# HYPERLOGLOG REGISTER MAP per grain row (the portable md5-prefix HLL
# from ``scale.hll_registers`` — register state is O(2^p) per group
# regardless of key cardinality, and registers merge by element-wise
# MAX): the folded measure is the SKETCH-UNION estimate, which is the
# documented semantics — it will NOT bit-match Spark's one-pass native
# ``approx_count_distinct`` (a different sketch), but it is mergeable,
# bit-identical across the batch/incremental/streaming faces, and
# within the sketch's ~1.04/√m relative-error bound of exact
# (property-tested). The batch compiler (``rules.apply_aggregation_rule``)
# keeps the native one-pass estimator; pipelines that need face-parity
# use the IVM faces end to end.
# ---------------------------------------------------------------------------

_P_SUM_DEC = "decimal(27,2)"  # money_sum's cast
_P_SQ_DEC = "decimal(18,2)"  # det_stddev's square operand
_P_SUM_STORE = "decimal(38,2)"
_P_SQ_STORE = "decimal(38,4)"


def _rule_partial_specs(rule) -> tuple[list, dict]:
    """(grain columns, {partial column name: aggregate Column}) for a
    rule — partials are deduplicated by content, so sum/avg/stddev over
    the same column share one exact decimal sum."""
    distinct_cols = [
        a.column
        for a in rule.aggregate_columns
        if a.function.lower() == "count_distinct"
    ]
    grain = list(dict.fromkeys([*rule.group_by_columns, *distinct_cols]))
    parts: dict = {}
    for a in rule.aggregate_columns:
        fn = a.function.lower()
        c = F.col(a.column)
        if fn in ("sum", "avg", "stddev"):
            parts[f"_sum_{a.column}"] = F.sum(c.cast(_P_SUM_DEC)).cast(_P_SUM_STORE)
        if fn in ("avg", "stddev", "count"):
            parts[f"_cnt_{a.column}"] = F.count(c)
        if fn == "stddev":
            dec = c.cast(_P_SQ_DEC)
            parts[f"_sq_{a.column}"] = F.sum(dec * dec).cast(_P_SQ_STORE)
        if fn == "min":
            parts[f"_min_{a.column}"] = F.min(c)
        if fn == "max":
            parts[f"_max_{a.column}"] = F.max(c)
        if fn == "count_distinct":
            pass  # the column IS part of the grain
        if fn == "approx_count_distinct":
            pass  # compiled to an HLL register-map partial (see below)
        if fn in ("median", "percentile"):
            pass  # compiled to a value-histogram partial (see below)
    return grain, parts


def _rule_ndv_cols(rule) -> list[str]:
    """Columns carrying an ``approx_count_distinct`` measure — each gets
    a mergeable HLL register-map partial column ``_hll_<col>``."""
    return list(
        dict.fromkeys(
            a.column
            for a in rule.aggregate_columns
            if a.function.lower() == "approx_count_distinct"
        )
    )


def _rule_pctl_cols(rule) -> list[str]:
    """Columns carrying a ``median``/``percentile`` measure — each gets
    a mergeable value-histogram partial column ``_vh_<col>`` (one
    ``map<value, count>`` per grain row). Exact quantiles provably need
    per-distinct-value state, so the partial is O(NDV of the measure
    within the group) — the right trade for bounded-cardinality
    measures (ages, counts, bucketed amounts); unbounded measures
    should use ``scale.quantile_sketch`` instead."""
    return list(
        dict.fromkeys(
            a.column
            for a in rule.aggregate_columns
            if a.function.lower() in ("median", "percentile")
        )
    )


def _pctl_fraction(a) -> float:
    return 0.5 if a.function.lower() == "median" else float(a.param)


def _value_hist_partial(df: DataFrame, grain: list, col: str) -> DataFrame:
    """Per grain row, the value→count histogram of ``col`` over one row
    slice. Histograms merge by per-value count addition, so partials
    from disjoint slices merge to exactly the histogram a one-pass
    build would hold — making EXACT interpolated percentiles
    incrementally maintainable (nulls excluded, matching
    ``F.percentile``)."""
    counts = (
        df.filter(F.col(col).isNotNull()).groupBy(*grain, col).agg(F.count(F.lit(1)).alias("_c"))
    )
    agg = F.map_from_entries(
        F.sort_array(F.collect_list(F.struct(F.col(col), F.col("_c"))))
    ).alias(f"_vh_{col}")
    return counts.groupBy(*grain).agg(agg) if grain else counts.agg(agg)


def _merged_value_counts(partials: DataFrame, keys: list, col: str) -> DataFrame:
    """Stacked partials → merged (keys..., _v, _c) value-count rows for
    ``col`` (per-value count addition across the stacked maps)."""
    ex = partials.select(*keys, F.explode(f"_vh_{col}").alias("_v", "_c"))
    return ex.groupBy(*keys, "_v").agg(F.sum("_c").alias("_c"))


def _fold_pctl(partials: DataFrame, keys: list, col: str, specs: list) -> DataFrame:
    """Exact interpolated percentiles off stacked value-histogram
    partials: one merged-histogram pass serves every requested fraction
    of ``col``. Replays the engine's own arithmetic — rank
    ``r = (n-1)*p``, two-sided interpolation ``(ceil(r)-r)*lo +
    (r-floor(r))*hi`` — which is also DuckDB ``quantile_cont``'s
    sequence, so the fold is bit-identical to ``F.percentile`` (same
    IEEE ops in the same order), not merely close.

    ``specs`` is ``[(fraction, alias), ...]``. The window runs over the
    MERGED histogram (NDV-of-measure rows per group, not raw rows)."""
    from pyspark.sql.window import Window

    ex = _merged_value_counts(partials, keys, col)
    wk = Window.partitionBy(*keys).orderBy("_v")
    wa = Window.partitionBy(*keys)
    ex = ex.withColumn("_cum", F.sum("_c").over(wk)).withColumn(
        "_n", F.sum("_c").over(wa)
    )
    v = F.col("_v").cast("double")
    aggs = []
    for i, (p, _alias) in enumerate(specs):
        r = (F.col("_n").cast("double") - F.lit(1.0)) * F.lit(float(p))
        aggs.append(F.max(r).alias(f"_r_{i}"))
        aggs.append(F.min(F.when(F.col("_cum") > F.floor(r), v)).alias(f"_lo_{i}"))
        aggs.append(F.min(F.when(F.col("_cum") > F.ceil(r), v)).alias(f"_hi_{i}"))
    g = ex.groupBy(*keys).agg(*aggs) if keys else ex.agg(*aggs)
    outs = []
    for i, (_p, alias) in enumerate(specs):
        r, lo, hi = F.col(f"_r_{i}"), F.col(f"_lo_{i}"), F.col(f"_hi_{i}")
        k, c = F.floor(r), F.ceil(r)
        interp = (c.cast("double") - r) * lo + (r - k.cast("double")) * hi
        outs.append(F.when(c == k, lo).otherwise(interp).alias(alias))
    return g.select(*keys, *outs)


def _collect_register_map(regs: DataFrame, grain: list, alias: str) -> DataFrame:
    """(grain..., bucket, max_rho) register rows → one ``map<bucket,
    max_rho>`` column per grain row (sorted entries, so the stored bytes
    are deterministic)."""
    agg = F.map_from_entries(
        F.sort_array(F.collect_list(F.struct("bucket", "max_rho")))
    ).alias(alias)
    return regs.groupBy(*grain).agg(agg) if grain else regs.agg(agg)


def _hll_map_partial(df: DataFrame, grain: list, col: str) -> DataFrame:
    """Per grain row, the HLL register map of ``col`` over one row slice
    — the approx-NDV partial. Registers merge by element-wise MAX, so
    partials from disjoint slices union to exactly the registers a
    one-pass build over all rows would hold (sketch-union == one-pass on
    REGISTERS; only the native estimator differs)."""
    from .scale import hll_registers

    return _collect_register_map(
        hll_registers(df, col, tuple(grain)), grain, f"_hll_{col}"
    )


def _merged_registers(partials: DataFrame, keys: list, col: str) -> DataFrame:
    """Stacked partials → merged (keys..., bucket, max_rho) register rows
    for ``col`` (element-wise MAX across the stacked maps)."""
    ex = partials.select(
        *keys, F.explode(f"_hll_{col}").alias("bucket", "rho")
    )
    return ex.groupBy(*keys, "bucket").agg(F.max("rho").alias("max_rho"))


def _join_on(left: DataFrame, right: DataFrame, keys: list) -> DataFrame:
    return left.join(right, keys) if keys else left.crossJoin(F.broadcast(right))


def rule_partials(df: DataFrame, rule) -> DataFrame:
    """Mergeable partials of ``rules.apply_aggregation_rule(df, rule)``
    over one row slice (a delta batch, a partition, a micro-batch).
    ``approx_count_distinct`` measures add one HLL register-map column
    per sketched column (still one row per grain)."""
    if rule.filters:
        df = df.filter(F.expr(rule.filters))
    grain, parts = _rule_partial_specs(rule)
    ndv = _rule_ndv_cols(rule)
    pctl = _rule_pctl_cols(rule)
    aggs = [col.alias(name) for name, col in parts.items()]
    if not aggs and not ndv and not pctl:
        raise ValueError(f"rule {rule.name!r} has no mergeable measures")
    out = (
        (df.groupBy(*grain).agg(*aggs) if grain else df.agg(*aggs))
        if aggs
        else df.select(*grain).distinct()
    )
    for c in ndv:
        out = _join_on(out, _hll_map_partial(df, grain, c), grain)
    for c in pctl:
        # LEFT: a grain row whose measure is all-null still exists (its
        # histogram is just empty), matching F.percentile's null result
        hist = _value_hist_partial(df, grain, c)
        out = out.join(hist, grain, "left") if grain else _join_on(out, hist, grain)
    return out


def merge_rule_partials(partials: DataFrame, rule) -> DataFrame:
    """Collapse stacked partials back to one row per grain — counter/sum
    addition plus min/max (and element-wise register MAX for approx-NDV
    maps), the maintenance step that keeps a materialized partials table
    delta-sized."""
    grain, parts = _rule_partial_specs(rule)
    ndv = _rule_ndv_cols(rule)
    pctl = _rule_pctl_cols(rule)
    aggs = []
    for name in parts:
        if name.startswith("_min_"):
            aggs.append(F.min(name).alias(name))
        elif name.startswith("_max_"):
            aggs.append(F.max(name).alias(name))
        elif name.startswith("_sum_"):
            aggs.append(F.sum(name).cast(_P_SUM_STORE).alias(name))
        elif name.startswith("_sq_"):
            aggs.append(F.sum(name).cast(_P_SQ_STORE).alias(name))
        else:  # _cnt_
            aggs.append(F.sum(name).alias(name))
    out = (
        (partials.groupBy(*grain).agg(*aggs) if grain else partials.agg(*aggs))
        if aggs
        else partials.select(*grain).distinct()
    )
    for c in ndv:
        merged = _collect_register_map(
            _merged_registers(partials, grain, c), grain, f"_hll_{c}"
        )
        out = _join_on(out, merged, grain)
    for c in pctl:
        vc = _merged_value_counts(partials, grain, c)
        agg = F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("_v", "_c")))
        ).alias(f"_vh_{c}")
        merged = vc.groupBy(*grain).agg(agg) if grain else vc.agg(agg)
        # LEFT: grain rows whose histogram is empty (all-null measure)
        # survive the merge with a null map
        out = out.join(merged, grain, "left") if grain else _join_on(out, merged, grain)
    return out


def rule_summary_from_partials(partials: DataFrame, rule) -> DataFrame:
    """Fold partials out to the exact ``apply_aggregation_rule`` shape —
    every measure replays the batch compiler's IEEE sequence
    (``money_sum`` / ``money_avg`` / ``det_stddev`` arithmetic on the
    same exact decimal sums), so incremental == batch bit-for-bit.
    Works directly on STACKED partials (base ∪ delta): every fold
    aggregate is itself a merge."""
    outs = []
    for a in rule.aggregate_columns:
        fn = a.function.lower()
        if fn == "sum":
            outs.append(F.sum(f"_sum_{a.column}").cast("double").alias(a.alias))
        elif fn == "avg":
            outs.append(
                (
                    F.sum(f"_sum_{a.column}").cast("double")
                    / F.sum(f"_cnt_{a.column}")
                ).alias(a.alias)
            )
        elif fn == "stddev":
            n = F.sum(f"_cnt_{a.column}").cast("double")
            sx = F.sum(f"_sum_{a.column}").cast("double")
            sxx = F.sum(f"_sq_{a.column}").cast("double")
            var = (n * sxx - sx * sx) / (n * (n - F.lit(1.0)))
            outs.append(
                F.when(
                    F.sum(f"_cnt_{a.column}") > 1,
                    F.sqrt(F.greatest(var, F.lit(0.0))),
                ).alias(a.alias)
            )
        elif fn == "count":
            outs.append(F.sum(f"_cnt_{a.column}").alias(a.alias))
        elif fn == "count_distinct":
            outs.append(F.countDistinct(a.column).alias(a.alias))
        elif fn == "approx_count_distinct":
            continue  # folded from the register maps below (needs its own agg)
        elif fn in ("median", "percentile"):
            continue  # folded from the value histograms below (needs its own agg)
        elif fn == "min":
            outs.append(F.min(f"_min_{a.column}").alias(a.alias))
        elif fn == "max":
            outs.append(F.max(f"_max_{a.column}").alias(a.alias))
    keys = list(rule.group_by_columns)
    ndv_specs = [
        a for a in rule.aggregate_columns
        if a.function.lower() == "approx_count_distinct"
    ]
    pctl_specs: dict[str, list] = {}
    for a in rule.aggregate_columns:
        if a.function.lower() in ("median", "percentile"):
            pctl_specs.setdefault(a.column, []).append((_pctl_fraction(a), a.alias))
    if outs:
        main = partials.groupBy(*keys).agg(*outs) if keys else partials.agg(*outs)
    else:
        main = partials.select(*keys).distinct()
    for a in ndv_specs:
        from .scale import hll_estimate

        est = hll_estimate(
            _merged_registers(partials, keys, a.column), tuple(keys)
        ).withColumnRenamed("hll_estimate", a.alias)
        main = _join_on(main, est, keys)
    for col, specs in pctl_specs.items():
        fold = _fold_pctl(partials, keys, col, specs)
        # LEFT: groups whose measure is all-null have no histogram rows
        # but must keep their row (percentile = null, like F.percentile)
        main = main.join(fold, keys, "left") if keys else _join_on(main, fold, keys)
    if ndv_specs or pctl_specs:  # restore the configured measure order after the joins
        main = main.select(*keys, *[a.alias for a in rule.aggregate_columns])
    return main


def maintain_rule_partials(
    lake: Lake,
    delta: DataFrame,
    rule,
    partition_col: str,
    layer: str = "gold",
    table: str | None = None,
    batch_id: str | None = None,
) -> list:
    """Partitioned maintenance for ANY configured rule: apply a delta
    to the rule's materialized partials table, touching only the
    ``partition_col`` partitions the delta hits. ``partition_col`` must
    be one of the rule's grain columns (group_by ∪ distinct cols) and
    should be the column a real delta is naturally bounded on (a date
    or year part) — the same O(delta) economics as the hand-built
    families, now available to every configured summary. Crash-safe +
    retry-idempotent via :meth:`Lake.upsert_partitions` (see
    :func:`maintain_sales_partials`). Returns the touched values."""
    grain, _ = _rule_partial_specs(rule)
    if partition_col not in grain:
        raise ValueError(
            f"partition_col {partition_col!r} must be a grain column of "
            f"rule {rule.name!r} (grain: {grain})"
        )
    # config-drift fence: refreshing a table built from a DIFFERENT
    # compiled config would silently mix old- and new-config rows —
    # fail loudly and route through migrate_rule instead. Tables from
    # before the fingerprint feature adopt one on their next refresh.
    fp_path = _rule_fp_path(lake, layer, table or f"{rule.name}_partials")
    want_fp = rule_fingerprint(rule)
    have_fp = _read_rule_fp(fp_path)
    if have_fp is not None and have_fp != want_fp:
        raise ValueError(
            f"rule {rule.name!r}: config changed since its partials table "
            "was built (fingerprint mismatch) — run ivm.migrate_rule(...) "
            "before refreshing"
        )

    def _merge(base, d):
        stacked = base.unionByName(d)
        if _rule_ndv_cols(rule) or _rule_pctl_cols(rule):
            # NDV/percentile rules' merge consumes the stacked frame once
            # per register/histogram column plus once for the main
            # measures — persist so the delta's fact scan runs once, not
            # per consumer
            from .cache import tracked_persist

            stacked = tracked_persist(stacked)
        return merge_rule_partials(stacked, rule)

    touched = lake.upsert_partitions(
        delta.sparkSession,
        layer,
        table or f"{rule.name}_partials",
        rule_partials(delta, rule),
        partition_col,
        _merge,
        batch_id=batch_id,
    )
    if have_fp is None:  # first build / legacy adoption
        _write_rule_fp(fp_path, want_fp)
    return touched


def incremental_rule_aggregation(
    silver_orders: DataFrame, cutoff: str = "1998-06-01"
) -> DataFrame:
    """Driver-contract query: the CONFIGURED demo aggregation rule
    (``rules.MONTHLY_REVENUE_RULE`` — sum/avg/stddev/count/
    count_distinct/max with a filter) maintained incrementally through
    the generic rule-IVM compiler. The oracle is the batch
    ``rule_driven_aggregation`` SQL: config-driven incremental ==
    config-driven batch, bit-for-bit."""
    from .rules import MONTHLY_REVENUE_RULE as rule

    d = F.col("order_date")
    lit_cut = F.lit(cutoff).cast("date")
    base = rule_partials(silver_orders.filter(d < lit_cut), rule)
    delta = rule_partials(silver_orders.filter(d >= lit_cut), rule)
    return rule_summary_from_partials(base.unionByName(delta), rule).orderBy(
        *rule.group_by_columns
    )


def fold_stream_partials(
    spark,
    lake: Lake,
    state_dir: str,
    layer: str,
    table: str,
    partition_col: str,
    merge,
    feed: str = "stream",
) -> list:
    """Stream-state COMPACTION: fold drained ``batch_id=<n>`` streaming
    partials into the maintained partitioned partials table, then delete
    the folded batch directories. This is the missing lifecycle step
    between the streaming layout (append-only batch partitions,
    merge-on-read) and the batch-maintained table (one row per grain,
    partition-pruned reads): without it, merge-on-read cost grows with
    every micro-batch ever streamed; with it, reads hit a compacted
    table whose size is the grain cardinality.

    Exactly-once end to end:

    - all pending batches fold through ONE
      :meth:`Lake.upsert_partitions` call whose ledger entry lists every
      folded batch id — the merge and the "these batches are folded"
      record commit in the same atomic swap;
    - batch directories are deleted only AFTER their ids are visible in
      the live table's ledger, so a crash between the swap and the
      deletes re-runs as a ledger-hit no-op fold followed by the
      leftover deletes — never a double-count, never a lost batch;
    - a batch that lands in ``state_dir`` mid-fold is simply not in this
      fold's pending set and survives for the next one.

    ``merge`` is the family's stacked-partials re-aggregation
    (``merge_partials`` / ``merge_customer_partials`` / a
    ``merge_rule_partials`` closure). ``feed`` namespaces the ledger
    ids (``<feed>:<n>``) — a restarted or second stream writes a fresh
    checkpoint whose batch ids restart at 0, so each feed must fold
    under its own name. Returns the folded batch numbers.
    """
    import os
    import shutil

    from .datalake import _Ledger, _read_ledger

    batches = sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(state_dir)
        if d.startswith("batch_id=") and os.path.isdir(os.path.join(state_dir, d))
    ) if os.path.isdir(state_dir) else []
    path = lake.path(layer, table)
    applied = _read_ledger(path) if os.path.isdir(path) else _Ledger()
    pending = [b for b in batches if f"{feed}:{b}" not in applied]
    if pending:
        delta = spark.read.parquet(
            *[os.path.join(state_dir, f"batch_id={b}") for b in pending]
        )
        # stacked batch partials can hold several rows per grain — the
        # merge callback re-aggregates, so pre-collapsing here would be
        # a redundant shuffle
        lake.upsert_partitions(
            spark,
            layer,
            table,
            delta,
            partition_col,
            lambda base, d: merge(base, d),
            batch_id=[f"{feed}:{b}" for b in pending],
        )
    # delete every batch dir whose id the LIVE ledger now records —
    # includes leftovers from a crash after a previous fold's swap
    applied = _read_ledger(path) if os.path.isdir(path) else _Ledger()
    for b in batches:
        if f"{feed}:{b}" in applied:
            shutil.rmtree(os.path.join(state_dir, f"batch_id={b}"), ignore_errors=True)
    return pending


def rule_ndv_profile(partials: DataFrame, rule) -> DataFrame:
    """Oracle-checkable integer digest of a rule's approx-NDV state off
    STACKED partials: per group, the rule's exact mergeable measures
    plus, per sketched measure, ``<alias>_occupied`` /
    ``<alias>_register_sum`` / ``<alias>_deepest`` from the merged
    registers. This is the cross-engine-hard part of the sketch
    (hashing, bucketing, leading-zero ranks — reproduced bit-identically
    by the SQL oracle) kept free of the one engine-dependent float: the
    linear-counting ``ln`` inside the estimate itself, whose accuracy
    is property-tested instead (same split as
    ``scale.hll_sketch_summary`` vs ``hll_estimate``)."""
    keys = list(rule.group_by_columns)
    outs = []
    for a in rule.aggregate_columns:
        if a.function.lower() == "count":
            outs.append(F.sum(f"_cnt_{a.column}").alias(a.alias))
    main = partials.groupBy(*keys).agg(*outs) if outs else partials.select(*keys).distinct()
    for a in rule.aggregate_columns:
        if a.function.lower() != "approx_count_distinct":
            continue
        digest = (
            _merged_registers(partials, keys, a.column)
            .groupBy(*keys)
            .agg(
                F.count(F.lit(1)).cast("long").alias(f"{a.alias}_occupied"),
                F.sum("max_rho").cast("long").alias(f"{a.alias}_register_sum"),
                F.max("max_rho").cast("int").alias(f"{a.alias}_deepest"),
            )
        )
        main = _join_on(main, digest, keys)
    return main


def rule_ndv_aggregation(silver_orders: DataFrame) -> DataFrame:
    """Driver-contract query (BATCH face): the approx-NDV demo rule
    (``rules.NDV_RULE``) compiled to HLL register-map partials over the
    full table in one shot, folded to the integer digest. The oracle
    rebuilds the registers in SQL (same portable md5-prefix hash), so a
    pass proves the sketch state itself is bit-exact cross-engine.

    The partials frame is persisted (group-cardinality-sized — tiny at
    any scale) because the profile's count fold and register digest are
    two consumers of it: without the persist each consumer re-executes
    the partials subtree, i.e. re-scans the fact table."""
    from .cache import tracked_persist
    from .rules import NDV_RULE as rule

    p = tracked_persist(rule_partials(silver_orders, rule))
    return rule_ndv_profile(p, rule).orderBy(*rule.group_by_columns)


def incremental_ndv_rule(
    silver_orders: DataFrame, cutoff: str = "1998-06-01"
) -> DataFrame:
    """Driver-contract query (INCREMENTAL face): the same approx-NDV
    rule maintained as base/delta partials through THE merge
    (``merge_rule_partials`` — element-wise register MAX), digest off
    the merged state. Shares the batch face's oracle: sketch-union
    registers == one-pass registers, bit-for-bit.

    The stacked base∪delta partials persist before the merge: the merge
    (main measures + register maps) and the profile (count fold +
    digest) each reference them more than once, and without the persist
    every reference re-scans the fact table — measured 16 scans in the
    unpersisted plan vs 2 per slice (the irreducible main-agg +
    register-build passes) with it."""
    from .cache import tracked_persist
    from .rules import NDV_RULE as rule

    d = F.col("order_date")
    lit_cut = F.lit(cutoff).cast("date")
    base = rule_partials(silver_orders.filter(d < lit_cut), rule)
    delta = rule_partials(silver_orders.filter(d >= lit_cut), rule)
    stacked = tracked_persist(base.unionByName(delta))
    merged = tracked_persist(merge_rule_partials(stacked, rule))
    return rule_ndv_profile(merged, rule).orderBy(*rule.group_by_columns)


def order_sizes_from_partials(partials: DataFrame) -> DataFrame:
    """Fold the year grain out of the per-size counters: the exact
    ``gold.order_size_distribution`` pivot shape (counts add across
    years; explicit-value pivot of counts IS a mergeable aggregate)."""
    return partials.groupBy("customer_key").agg(
        F.sum("n_small").alias("size_small_orders"),
        F.sum("n_medium").alias("size_medium_orders"),
        F.sum("n_large").alias("size_large_orders"),
        F.sum("xl").alias("size_extra_large_orders"),
    )


def customer_analytics_from_partials(
    silver_customers: DataFrame, partials: DataFrame
) -> DataFrame:
    """The FULL customer-360 gold row — dim ⟕ lifetime metrics ⟕ size
    pivot, null-defaulted, RFM-scored, lifecycle-staged — folded off the
    customer partials instead of the fact table. Reuses
    ``gold.rfm_scores`` / ``gold.FILL_DEFAULTS`` /
    ``gold.lifecycle_stage_expr`` so this face and the batch
    ``gold.customer_analytics`` CANNOT drift: bit-identical output is
    the refresh contract (see :func:`refresh_customer_analytics`)."""
    from . import gold

    metrics = gold.rfm_scores(customer_metrics_from_partials(partials))
    sizes = order_sizes_from_partials(partials)
    joined = (
        silver_customers.join(metrics, "customer_key", "left")
        .join(sizes, "customer_key", "left")
        .fillna(gold.FILL_DEFAULTS)
    )
    return joined.withColumn("lifecycle_stage", gold.lifecycle_stage_expr())


def refresh_customer_analytics(
    lake: Lake,
    spark,
    silver_customers: DataFrame,
    delta_orders: DataFrame,
    layer: str = "gold",
    analytics_table: str = "customer_analytics",
    partials_table: str = "customer_partials",
    refresh_seq: int = 0,
    batch_id: str | None = None,
) -> dict:
    """Incremental GOLD-TABLE refresh — join-IVM for the customer-360
    view: a delta batch of orders updates the live ``customer_analytics``
    lake table IN PLACE, recomputing ONLY the customers the delta
    touches.

    The delta-sized pipeline: (1) the year-partitioned partials table
    absorbs the delta (:func:`maintain_customer_partials` — O(touched
    year partitions), crash-safe, exactly-once); (2) the touched keys'
    gold rows are re-derived from their MERGED partials state joined to
    just their dim rows (semi joins against the broadcast batch-sized
    key set); (3) :meth:`Lake.merge_changes` replaces exactly those
    keys' rows in the key-clustered gold table (footer-pruned rewrite,
    untouched files hard-link through). Untouched customers' stored
    rows were computed from partials the delta did not change, so the
    refreshed table equals the full ``gold.customer_analytics``
    recompute BIT-FOR-BIT — at 100 TB that is the difference between a
    nightly full gold rebuild and a minutes-cadence refresh whose cost
    scales with the batch, not the table.

    Retry-idempotent end to end with ``batch_id``: the partials ledger
    makes a replayed delta a no-op, and the gold merge re-derives the
    same replacement rows from the already-merged partials state."""
    maintain_customer_partials(
        lake,
        delta_orders,
        layer=layer,
        table=partials_table,
        batch_id=(f"{batch_id}/partials" if batch_id is not None else None),
    )
    affected = (
        delta_orders.filter(F.col("is_complete_order"))
        .select("customer_key")
        .distinct()
    )
    # AQE picks the semi-join strategy from the touched-key set's RUNTIME
    # size: a micro-batch delta broadcasts, a backfill delta (most keys
    # touched) stays a shuffle join — the same switch the old explicit
    # count-then-F.broadcast made, without the extra count action (and
    # its persist materialization) every refresh paid before the merge.
    # merge_changes still makes its own threshold-gated key-path choice
    # (the no-driver-key-collect contract is unchanged). Both semi joins
    # share one distinct subtree via exchange reuse in the single write
    # action.
    partials = lake.read(spark, layer, partials_table).join(
        affected, "customer_key", "left_semi"
    )
    dims = silver_customers.join(affected, "customer_key", "left_semi")
    rows = customer_analytics_from_partials(dims, partials)
    changes = rows.withColumn("op", F.lit("U")).withColumn(
        "_refresh_seq", F.lit(refresh_seq)
    )
    return lake.merge_changes(
        spark,
        layer,
        analytics_table,
        changes,
        key_col="customer_key",
        ts_col="_refresh_seq",
        batch_id=(f"{batch_id}/gold" if batch_id is not None else None),
    )


def incremental_gold_refresh(
    spark, sf_dir: str, cutoff: str = "1998-06-01"
) -> DataFrame:
    """Driver-contract query: build the customer-360 gold table from
    the pre-``cutoff`` orders (partials-table bootstrap + key-clustered
    lake write), refresh it IN PLACE with the on/after-``cutoff`` delta
    through :func:`refresh_customer_analytics`, and read the live table
    back. The oracle is the FULL BATCH ``customer_analytics`` SQL over
    all orders: an in-place delta refresh must land the table exactly
    where the full recompute would, or the view is corrupt.

    Bench note: most of this query's wall clock is the BOOTSTRAP
    (building the partials table and the key-clustered gold table from
    scratch) — a one-time cost in a real pipeline; the refresh step
    itself is delta-sized. The toy-scale delta also touches ~2/3 of all
    customers, so the merge legitimately rewrites most gold files here;
    the file-pruned economics appear with the key-skewed deltas real
    CDC produces (inode-tested in ``test_refresh_customer_analytics_is_
    delta_sized_and_idempotent``)."""
    import os
    from . import cleaning

    silver_customers = cleaning.clean_customers(
        spark.read.parquet(os.path.join(sf_dir, "customer.parquet")),
        spark.read.parquet(os.path.join(sf_dir, "nation.parquet")),
        spark.read.parquet(os.path.join(sf_dir, "region.parquet")),
    ).drop("geography")  # struct kept in the library API; flat cols for the oracle
    silver_orders = cleaning.clean_orders(
        spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    )
    d = F.col("order_date")
    lit_cut = F.lit(cutoff).cast("date")
    delta = silver_orders.filter(d >= lit_cut)

    def _bootstrap() -> str:
        blake = Lake(tracked_mkdtemp("gold_refresh_boot_"))
        maintain_customer_partials(blake, silver_orders.filter(d < lit_cut))
        initial = customer_analytics_from_partials(
            silver_customers, blake.read(spark, "gold", "customer_partials")
        )
        # write key-clustered directly (range partition + sort) — one
        # write instead of write + cluster_by rewrite; same layout
        blake.write(
            initial.repartitionByRange(16, "customer_key").sortWithinPartitions(
                "customer_key"
            ),
            "gold",
            "customer_analytics",
        )
        return blake.root

    # bootstrap rebuilt per invocation: every run computes from the
    # parquet inputs end-to-end (bench honesty — nothing memoized
    # across invocations), then the in-place refresh runs on top
    lake = Lake(_bootstrap())
    refresh_customer_analytics(
        lake, spark, silver_customers, delta, refresh_seq=1
    )
    return lake.read(spark, "gold", "customer_analytics").orderBy("customer_key")


def refresh_rule_summary(
    lake: Lake,
    spark,
    rule,
    delta: DataFrame,
    partition_col: str,
    layer: str = "gold",
    summary_table: str | None = None,
    partials_table: str | None = None,
    refresh_seq: int = 0,
    batch_id: str | None = None,
) -> dict:
    """Generic in-place SUMMARY-TABLE refresh for ANY configured
    aggregation rule — the rule-driven form of
    :func:`refresh_customer_analytics`: a delta batch updates the live
    materialized summary of ``rule``, recomputing ONLY the groups the
    delta touches.

    (1) the rule's partitioned partials table absorbs the delta
    (:func:`maintain_rule_partials` — crash-safe, exactly-once);
    (2) the touched groups' summary rows re-fold from their merged
    partials (broadcast semi join on the batch-sized group set — every
    measure the compiler supports: exact sums/avg/stddev,
    count_distinct via the grain, approx-NDV registers, percentile
    histograms); (3) :meth:`Lake.merge_changes` replaces exactly those
    rows in the summary table, keyed on the rule's COMPOSITE group-by
    tuple (footer envelope prune on the lead group column). Untouched
    groups' stored rows came from partials the delta did not change, so
    the refreshed table equals ``apply_aggregation_rule`` over all data
    BIT-FOR-BIT — "make this configured summary a continuously
    maintained table" is a call, not a rewrite. Retry-idempotent under
    one ``batch_id`` (both ledgers)."""
    keys = list(rule.group_by_columns)
    if not keys:
        raise ValueError(
            f"rule {rule.name!r} has no group_by columns — a grain-less "
            "summary is one row with no partitioned-maintenance grain; "
            "fold it directly off a maintained partials table "
            "(rule_summary_from_partials) instead of a MERGE-refreshed one"
        )
    maintain_rule_partials(
        lake,
        delta,
        rule,
        partition_col,
        layer=layer,
        table=partials_table or f"{rule.name}_partials",
        batch_id=(f"{batch_id}/partials" if batch_id is not None else None),
    )
    d = delta.filter(F.expr(rule.filters)) if rule.filters else delta
    affected = d.select(*keys).distinct()
    # AQE picks the semi-join strategy from the touched-group set's
    # RUNTIME size (micro-batch → broadcast, backfill → shuffle join) —
    # same switch the old explicit count-then-F.broadcast made, without
    # the extra count action + persist every refresh paid before the
    # merge. merge_changes still makes its own threshold-gated key-path
    # choice for the summary-table merge.
    partials = lake.read(
        spark, layer, partials_table or f"{rule.name}_partials"
    ).join(affected, keys, "left_semi")
    rows = rule_summary_from_partials(partials, rule)
    changes = rows.withColumn("op", F.lit("U")).withColumn(
        "_refresh_seq", F.lit(refresh_seq)
    )
    return lake.merge_changes(
        spark,
        layer,
        summary_table or f"{rule.name}_summary",
        changes,
        key_col=tuple(keys),
        ts_col="_refresh_seq",
        batch_id=(f"{batch_id}/summary" if batch_id is not None else None),
    )


def incremental_rule_summary_table(
    spark, sf_dir: str, cutoff: str = "1998-06-01"
) -> DataFrame:
    """Driver-contract query: the configured demo rule
    (``rules.MONTHLY_REVENUE_RULE`` — a COMPOSITE ``(year, month,
    status)`` grain) materialized as a live summary lake table from the
    pre-``cutoff`` orders, refreshed IN PLACE with the post-``cutoff``
    delta through :func:`refresh_rule_summary`, and read back. Shares
    the batch ``rule_driven_aggregation`` oracle: the continuously
    maintained table must equal the one-shot config-driven batch job
    bit-for-bit."""
    import os
    from . import cleaning
    from .rules import MONTHLY_REVENUE_RULE as rule

    silver_orders = cleaning.clean_orders(
        spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    )
    d = F.col("order_date")
    lit_cut = F.lit(cutoff).cast("date")
    delta = silver_orders.filter(d >= lit_cut)

    def _bootstrap() -> str:
        blake = Lake(tracked_mkdtemp("rule_summary_boot_"))
        maintain_rule_partials(blake, silver_orders.filter(d < lit_cut), rule, "order_year")
        blake.write(
            rule_summary_from_partials(
                blake.read(spark, "gold", f"{rule.name}_partials"), rule
            ),
            "gold",
            f"{rule.name}_summary",
        )
        return blake.root

    # bootstrap rebuilt per invocation (bench honesty — nothing
    # memoized across invocations), then the in-place refresh runs
    lake = Lake(_bootstrap())
    refresh_rule_summary(
        lake, spark, rule, delta, "order_year", refresh_seq=1
    )
    return lake.read(spark, "gold", f"{rule.name}_summary").orderBy(
        *rule.group_by_columns
    )


def rule_partials_columns(rule) -> list[str]:
    """The column set the IVM compiler stores for ``rule``'s partials
    table: grain ∪ mergeable measure partials ∪ HLL register maps ∪
    value histograms. (The migration detector compares the FULL
    :func:`rule_fingerprint`, not just this set — several config
    changes leave the column set unchanged; this remains the legacy
    fallback for pre-fingerprint tables.)"""
    grain, parts = _rule_partial_specs(rule)
    return [
        *grain,
        *parts,
        *[f"_hll_{c}" for c in _rule_ndv_cols(rule)],
        *[f"_vh_{c}" for c in _rule_pctl_cols(rule)],
    ]


def rule_fingerprint(rule) -> str:
    """Canonical JSON fingerprint of a rule's FULL compiled config —
    grain order, every measure's (function, column, param, alias), and
    filters. The migration detector compares THIS, not the partials
    column set: a changed ``filters``, a re-parameterized percentile
    (0.5 and 0.9 both compile to the same ``_vh_<col>`` partial), or
    an output-alias rename all change the live summary while leaving
    the stored columns identical — a column-set check would silently
    mix old-config and new-config rows."""
    import json

    return json.dumps(
        {
            "name": rule.name,
            "group_by": list(rule.group_by_columns),
            "measures": [
                [a.function, a.column, a.param, a.alias]
                for a in rule.aggregate_columns
            ],
            "filters": rule.filters,
        },
        sort_keys=True,
    )


def _rule_fp_path(lake: Lake, layer: str, p_table: str) -> str:
    """The fingerprint sidecar lives BESIDE the partials table dir
    (``<table>__rulefp.json``), like the writer-lock file: staged
    swaps (upsert_partitions / replace_table) replace the table dir
    wholesale, so an in-dir sidecar would be dropped by the first
    refresh after a migration."""
    import os

    return lake.path(layer, p_table) + "__rulefp.json"


def _read_rule_fp(path: str) -> str | None:
    import json

    try:
        with open(path) as f:
            return json.load(f)["fingerprint"]
    except (OSError, KeyError, ValueError):
        return None


def _write_rule_fp(path: str, fp: str) -> None:
    import json
    import os

    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"fingerprint": fp}, f)
    os.rename(tmp, path)


def migrate_rule(
    lake: Lake,
    spark,
    rule,
    source: DataFrame,
    partition_col: str,
    layer: str = "gold",
    partials_table: str | None = None,
    summary_table: str | None = None,
) -> dict:
    """Migration path for a CHANGED rule whose partials/summary tables
    already exist: when the rule's FULL compiled fingerprint
    (:func:`rule_fingerprint` — grain, per-measure function + column +
    param + alias, filters) differs from the one recorded when the
    partials were built, REBUILD the rule's partials from ``source``
    (one full pass is inherent: the new config's state was never
    collected) and rebuild the live summary from the new partials.
    The fingerprint — not just the partials column set — is what makes
    "call this unconditionally at deploy time" SAFE: a changed filter,
    a re-parameterized percentile (0.5 → 0.9 compiles to the same
    ``_vh_<col>`` partial), or an alias rename leave the columns
    identical but change the summary, and must migrate.

    Both rebuilds go through :meth:`Lake.replace_table`: staged,
    swapped atomically under the writer fence, with the applied-batch
    LEDGERS carried — a streaming consumer replaying an already-applied
    batch after the migration is still a no-op, and subsequent
    :func:`refresh_rule_summary` calls resume delta-sized. A matching
    fingerprint is a no-op (``migrated: False``). A PRE-FINGERPRINT
    table (no sidecar) whose stored columns match the compiled set is
    adopted without a rebuild (the legacy detector's exact semantics)
    and gets a fingerprint going forward."""
    grain, _ = _rule_partial_specs(rule)
    if partition_col not in grain:
        raise ValueError(
            f"partition_col {partition_col!r} must be a grain column of "
            f"rule {rule.name!r} (grain: {grain})"
        )
    p_table = partials_table or f"{rule.name}_partials"
    s_table = summary_table or f"{rule.name}_summary"
    want = set(rule_partials_columns(rule))
    import os as _os

    fp_path = _rule_fp_path(lake, layer, p_table)
    want_fp = rule_fingerprint(rule)
    have_fp = _read_rule_fp(fp_path)
    exists = _os.path.isdir(lake.path(layer, p_table))
    if exists and have_fp == want_fp:
        # the steady-state deploy path: one sidecar file read, no Spark
        # job — the schema read below is only needed when migrating
        return {
            "rule": rule.name,
            "migrated": False,
            "reason": "fingerprint matches",
        }
    stored = set(lake.read(spark, layer, p_table).columns) if exists else None
    if exists and have_fp is None and stored == want:
        _write_rule_fp(fp_path, want_fp)  # legacy table: adopt
        return {
            "rule": rule.name,
            "migrated": False,
            "reason": "columns match (pre-fingerprint table adopted)",
        }
    parts = rule_partials(source, rule)
    # one write task per partition value — the upsert_partitions first-
    # load shape, so later maintenance finds the same file economics
    lake.replace_table(
        spark,
        layer,
        p_table,
        parts.repartition(partition_col),
        partition_by=(partition_col,),
    )
    _write_rule_fp(fp_path, want_fp)  # the rebuilt state's provenance
    out = {
        "rule": rule.name,
        "migrated": True,
        "partials_table": f"{layer}.{p_table}",
        "added_columns": sorted(want - stored) if stored is not None else sorted(want),
        "dropped_columns": sorted(stored - want) if stored is not None else [],
    }
    if _os.path.isdir(lake.path(layer, s_table)):
        summary = rule_summary_from_partials(
            lake.read(spark, layer, p_table), rule
        )
        lake.replace_table(spark, layer, s_table, summary)
        out["summary_table"] = f"{layer}.{s_table}"
    return out


def rule_migration_summary(
    spark, sf_dir: str, cutoff: str = "1998-06-01"
) -> DataFrame:
    """Driver-contract query: RULE-CONFIG EVOLUTION for a live summary
    table. Bootstrap the demo rule's summary from the pre-``cutoff``
    orders, then deploy an EXTENDED rule (a ``min`` measure added to
    the config), :func:`migrate_rule` the existing partials+summary
    tables to the new schema, refresh with the post-``cutoff`` delta
    through the ordinary :func:`refresh_rule_summary`, and read the
    live table back. The oracle is the extended rule's one-shot batch
    SQL over ALL orders: migrate + refresh must land exactly where a
    from-scratch build of the new config would."""
    import os
    from . import cleaning
    from .rules import MONTHLY_REVENUE_RULE, AggregateColumn, AggregationRule

    silver_orders = cleaning.clean_orders(
        spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    )
    d = F.col("order_date")
    lit_cut = F.lit(cutoff).cast("date")
    base = silver_orders.filter(d < lit_cut)
    delta = silver_orders.filter(d >= lit_cut)
    old = MONTHLY_REVENUE_RULE
    new = AggregationRule(
        name=old.name,
        group_by_columns=old.group_by_columns,
        aggregate_columns=(
            *old.aggregate_columns,
            AggregateColumn("total_price", "min", "min_order_value"),
        ),
        filters=old.filters,
    )
    def _bootstrap() -> str:
        blake = Lake(tracked_mkdtemp("rule_migrate_boot_"))
        maintain_rule_partials(blake, base, old, "order_year")
        blake.write(
            rule_summary_from_partials(
                blake.read(spark, "gold", f"{old.name}_partials"), old
            ),
            "gold",
            f"{old.name}_summary",
        )
        return blake.root

    # OLD-rule bootstrap rebuilt per invocation (bench honesty), then
    # migrate + refresh — what this query proves — run on top
    lake = Lake(_bootstrap())
    rep = migrate_rule(lake, spark, new, base, "order_year")
    assert rep["migrated"] and rep["added_columns"] == ["_min_total_price"]
    # a second call is a no-op: the schema now matches
    assert not migrate_rule(lake, spark, new, base, "order_year")["migrated"]
    refresh_rule_summary(lake, spark, new, delta, "order_year", refresh_seq=1)
    return lake.read(spark, "gold", f"{new.name}_summary").orderBy(
        *new.group_by_columns
    )


def large_delta_gold_refresh(spark, sf_dir: str) -> DataFrame:
    """Driver-contract query: the BACKFILL face of
    :func:`incremental_gold_refresh` — ``merge_broadcast_keys=0``
    forces every stage onto the large-delta path (shuffle semi joins
    for the touched keys, distributed file-envelope prune and shuffle
    anti-join inside ``merge_changes``; no driver key collect, no
    broadcast of the touched set). Shares the full-batch
    ``customer_analytics`` oracle: the key-path switch must be
    invisible in the data."""
    import os
    from . import cleaning

    silver_customers = cleaning.clean_customers(
        spark.read.parquet(os.path.join(sf_dir, "customer.parquet")),
        spark.read.parquet(os.path.join(sf_dir, "nation.parquet")),
        spark.read.parquet(os.path.join(sf_dir, "region.parquet")),
    ).drop("geography")
    silver_orders = cleaning.clean_orders(
        spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    )
    d = F.col("order_date")
    lit_cut = F.lit("1998-06-01").cast("date")
    delta = silver_orders.filter(d >= lit_cut)

    def _bootstrap() -> str:
        # the bootstrap ALSO runs under merge_broadcast_keys=0 (its
        # partials upserts take the distributed path too)
        blake = Lake(
            tracked_mkdtemp("gold_backfill_boot_"), merge_broadcast_keys=0
        )
        maintain_customer_partials(blake, silver_orders.filter(d < lit_cut))
        initial = customer_analytics_from_partials(
            silver_customers, blake.read(spark, "gold", "customer_partials")
        )
        blake.write(
            initial.repartitionByRange(16, "customer_key").sortWithinPartitions(
                "customer_key"
            ),
            "gold",
            "customer_analytics",
        )
        return blake.root

    # bootstrap rebuilt per invocation (bench honesty); the LARGE-DELTA
    # refresh (shuffle key path, no driver collect — what this query
    # proves) runs on top
    lake = Lake(_bootstrap(), merge_broadcast_keys=0)
    refresh_customer_analytics(
        lake, spark, silver_customers, delta, refresh_seq=1
    )
    return lake.read(spark, "gold", "customer_analytics").orderBy("customer_key")


def incremental_quartile_rule(
    silver_orders: DataFrame, cutoff: str = "1998-06-01"
) -> DataFrame:
    """Driver-contract query (INCREMENTAL face): the percentile demo
    rule (``rules.QUARTILE_RULE``) maintained as base/delta
    value-histogram partials through THE merge (per-value count
    addition), exact quartiles folded off the merged state. Shares the
    batch face's oracle (``rule_quartile_aggregation`` SQL): merged
    histograms == one-pass histogram, and the fold replays
    ``F.percentile``'s interpolation arithmetic, so incremental ==
    batch == oracle bit-for-bit.

    The stacked partials persist (group-cardinality-sized): the main
    measure fold and the per-column histogram fold are separate
    consumers, and without the persist each re-scans the fact table
    (measured 12 scans → 4 with it — the same split as the NDV
    faces)."""
    from .cache import tracked_persist
    from .rules import QUARTILE_RULE as rule

    d = F.col("order_date")
    lit_cut = F.lit(cutoff).cast("date")
    base = rule_partials(silver_orders.filter(d < lit_cut), rule)
    delta = rule_partials(silver_orders.filter(d >= lit_cut), rule)
    stacked = tracked_persist(base.unionByName(delta))
    return rule_summary_from_partials(stacked, rule).orderBy(
        *rule.group_by_columns
    )


def incremental_customer_metrics(
    silver_orders: DataFrame, cutoff: str = "1998-06-01"
) -> DataFrame:
    """Driver-contract query: maintain the 11-measure customer lifetime
    metrics incrementally — base partials before ``cutoff``, a delta
    batch on/after it, one merge — and fold the metrics off the merged
    partials. The oracle is the PLAIN FULL RECOMPUTE
    (``customer_lifetime_metrics`` SQL): passing means incremental ==
    batch bit-for-bit across all 11 measures, including the
    COUNT(DISTINCT order_year) the grain makes mergeable."""
    d = F.col("order_date")
    lit_cut = F.lit(cutoff).cast("date")
    base = customer_partials(silver_orders.filter(d < lit_cut))
    delta = customer_partials(silver_orders.filter(d >= lit_cut))
    return customer_metrics_from_partials(merge_customer_partials(base, delta))
