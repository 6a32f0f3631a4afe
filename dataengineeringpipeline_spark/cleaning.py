"""Bronze→Silver cleaning / standardization transforms.

Re-expresses the reference Glue cleaning jobs
(``terraform/modules/glue/templates/bronze_to_silver_{orders,customers,products}.py``)
over the testdata star schema: casts with null defaults, string
standardization, derived date parts, threshold bucketing, validity flags,
and struct building (SURVEY.md §2.2, §2.8).

Determinism: the reference pins ``EXECUTION_DATE`` once per run
(``bronze_to_silver_orders.py:52-53``); we make it an explicit ``as_of``
argument so recency metrics are reproducible and oracle-checkable.

Scale notes (SURVEY.md §4.2):

- every transform here is a narrow projection — no shuffle, stays inside
  one WholeStageCodegen span over the Parquet scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dataengineeringpipeline_spark.functions import (
    bucketize,
    flag,
    std_string,
)

#: Deterministic "today" for recency metrics (max o_orderdate in testdata
#: is ~2002; any fixed later date works — reproducibility is what matters).
AS_OF_DATE = "2002-12-31"

ORDER_SIZE_EDGES = [50_000.0, 150_000.0, 300_000.0]
ORDER_SIZE_LABELS = ["SMALL", "MEDIUM", "LARGE", "EXTRA_LARGE"]
VALID_ORDER_STATUSES = ["O", "F", "P"]

ACCTBAL_EDGES = [0.0, 2500.0, 7500.0]
ACCTBAL_LABELS = ["NEGATIVE", "LOW", "MEDIUM", "HIGH"]


def clean_orders(orders: DataFrame, as_of: str = AS_OF_DATE) -> DataFrame:
    """Silver orders: standardize, derive date parts, bucket, flag.

    Mirrors ``bronze_to_silver_orders.py`` semantics (status
    standardization :132-138, date parts :183-187, size buckets :174-180,
    quality flags :190-207, recency :157-171) on the TPC-H-ish ``orders``
    table. Pure narrow ops — no shuffle.
    """
    order_date = F.col("o_orderdate").cast("date")
    total = F.col("o_totalprice").cast("double")
    status = std_string("o_orderstatus")
    return orders.select(
        F.col("o_orderkey").alias("order_key"),
        F.col("o_custkey").alias("customer_key"),
        status.alias("order_status"),
        flag(status.isin(VALID_ORDER_STATUSES)).alias("is_valid_status"),
        total.alias("total_price"),
        flag(total.isNotNull() & (total > 0)).alias("is_valid_price"),
        order_date.alias("order_date"),
        F.year(order_date).alias("order_year"),
        F.month(order_date).alias("order_month"),
        F.quarter(order_date).alias("order_quarter"),
        F.dayofweek(order_date).alias("order_day_of_week"),
        F.dayofyear(order_date).alias("order_day_of_year"),
        F.weekofyear(order_date).alias("order_week_of_year"),
        F.date_format(order_date, "EEEE").alias("order_day_name"),
        bucketize(total, ORDER_SIZE_EDGES, ORDER_SIZE_LABELS).alias("order_size_category"),
        std_string("o_orderpriority").alias("order_priority"),
        F.split(F.trim(F.col("o_orderpriority")), "-").getItem(0).cast("int").alias("priority_level"),
        F.datediff(F.lit(as_of).cast("date"), order_date).alias("days_since_order"),
        flag(
            status.isin(VALID_ORDER_STATUSES) & total.isNotNull() & (total > 0) & order_date.isNotNull()
        ).alias("is_complete_order"),
    )


def clean_customers(customer: DataFrame, nation: DataFrame, region: DataFrame) -> DataFrame:
    """Silver customers with geography struct + balance tier.

    Mirrors ``bronze_to_silver_customers.py`` (name normalization :97-105,
    standardized struct :126-135, quality flags) with the testdata
    ``customer``/``nation``/``region`` dims. The nation/region joins are
    tiny-dimension broadcasts — Catalyst auto-broadcasts under the
    threshold; we hint explicitly so the plan is stable at any scale.
    """
    geo = (
        nation.join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"], "left")
        .select(
            F.col("n_nationkey").alias("nation_key"),
            std_string("n_name").alias("nation_name"),
            std_string("r_name").alias("region_name"),
        )
    )
    acctbal = F.col("c_acctbal").cast("double")
    cleaned = customer.select(
        F.col("c_custkey").alias("customer_key"),
        F.coalesce(F.trim(F.col("c_name")), F.lit("Unknown")).alias("customer_name"),
        std_string("c_mktsegment").alias("market_segment"),
        acctbal.alias("account_balance"),
        flag(acctbal.isNotNull() & (acctbal >= 0)).alias("is_balance_nonnegative"),
        bucketize(acctbal, ACCTBAL_EDGES, ACCTBAL_LABELS).alias("balance_tier"),
        F.col("c_nationkey").alias("nation_key"),
    )
    return (
        cleaned.join(F.broadcast(geo), "nation_key", "left")
        .withColumn(
            "geography",
            F.struct(
                F.col("nation_name").alias("nation"),
                F.col("region_name").alias("region"),
            ),
        )
    )


PART_PRICE_EDGES = [930.0, 960.0, 990.0]
PART_PRICE_LABELS = ["BUDGET", "STANDARD", "PREMIUM", "LUXURY"]
PART_SIZE_EDGES = [10, 25, 40]
PART_SIZE_LABELS = ["COMPACT", "SMALL", "MEDIUM", "LARGE"]


def clean_parts(part: DataFrame) -> DataFrame:
    """Silver parts: mirrors ``bronze_to_silver_products.py`` (name
    whitespace collapse :96-108, price tiers :168-180, size buckets)."""
    price = F.col("p_retailprice").cast("double")
    return part.select(
        F.col("p_partkey").alias("part_key"),
        F.regexp_replace(F.trim(F.col("p_name")), r"\s+", " ").alias("part_name"),
        std_string("p_brand").alias("brand"),
        std_string("p_type").alias("part_type"),
        F.split(std_string("p_type"), " ").getItem(0).alias("part_category"),
        F.col("p_size").alias("part_size"),
        bucketize(F.col("p_size"), PART_SIZE_EDGES, PART_SIZE_LABELS).alias("size_category"),
        price.alias("retail_price"),
        bucketize(price, PART_PRICE_EDGES, PART_PRICE_LABELS).alias("price_tier"),
        flag(price.isNotNull() & (price > 0)).alias("is_valid_price"),
    )


def clean_lineitems(lineitem: DataFrame) -> DataFrame:
    """Silver line items: net/gross revenue derivation (arithmetic chain —
    mirrors total-value derivation ``bronze_to_silver_orders.py:126-129``)."""
    ext = F.col("l_extendedprice").cast("double")
    disc = F.col("l_discount").cast("double")
    tax = F.col("l_tax").cast("double")
    return lineitem.select(
        F.col("l_orderkey").alias("order_key"),
        F.col("l_partkey").alias("part_key"),
        F.col("l_suppkey").alias("supplier_key"),
        F.col("l_linenumber").alias("line_number"),
        F.col("l_quantity").cast("double").alias("quantity"),
        ext.alias("extended_price"),
        disc.alias("discount"),
        tax.alias("tax"),
        (ext * (1 - disc)).alias("net_revenue"),
        (ext * (1 - disc) * (1 + tax)).alias("gross_revenue"),
        std_string("l_returnflag").alias("return_flag"),
        std_string("l_linestatus").alias("line_status"),
        F.col("l_shipdate").cast("date").alias("ship_date"),
        flag(disc.between(0.0, 1.0)).alias("is_valid_discount"),
    )


def scd2_columns(df: DataFrame, effective_date: str = "2024-01-01") -> DataFrame:
    """SCD2 bookkeeping columns (cosmetic in the reference —
    ``bronze_to_silver_customers.py:159-162`` writes constants; parity
    requires the columns to exist, not a real merge)."""
    return (
        df.withColumn("effective_date", F.lit(effective_date).cast("date"))
        .withColumn("expiry_date", F.lit("9999-12-31").cast("date"))
        .withColumn("is_current", F.lit(True))
    )


def scd2_merge(
    current: DataFrame,
    updates: DataFrame,
    key: str,
    tracked_cols: list[str],
    effective_date: str,
) -> DataFrame:
    """Real SCD2 merge (the reference stamps constant SCD2 columns —
    ``bronze_to_silver_customers.py:159-162`` — without ever merging;
    this is the actual type-2 semantics those columns imply).

    ``updates`` is a new snapshot of ``key`` + ``tracked_cols``. Rows
    whose tracked attributes changed get their open version closed
    (``expiry_date = effective_date``, ``is_current = False``) and a new
    open version inserted; unchanged and historical rows pass through;
    unseen keys insert as new open versions.

    One full-outer equi-join on the (high-cardinality) key — a single
    well-spread shuffle; comparisons are null-safe so NULL→value and
    value→NULL transitions version correctly.
    """
    eff = F.lit(effective_date).cast("date")
    far_future = F.lit("9999-12-31").cast("date")
    open_rows = current.filter(F.col("is_current"))
    closed_rows = current.filter(~F.col("is_current"))

    c = open_rows.alias("c")
    u = updates.alias("u")
    changed = None
    for col in tracked_cols:
        diff = ~F.col(f"c.{col}").eqNullSafe(F.col(f"u.{col}"))
        changed = diff if changed is None else (changed | diff)
    j = c.join(u, F.col(f"c.{key}") == F.col(f"u.{key}"), "full")

    out_cols = [key, *tracked_cols]
    both = F.col(f"c.{key}").isNotNull() & F.col(f"u.{key}").isNotNull()
    only_cur = F.col(f"u.{key}").isNull()
    only_upd = F.col(f"c.{key}").isNull()

    kept = j.filter(both & ~changed | only_cur).select(
        *[F.col(f"c.{col}").alias(col) for col in out_cols],
        F.col("c.effective_date").alias("effective_date"),
        F.col("c.expiry_date").alias("expiry_date"),
        F.col("c.is_current").alias("is_current"),
    )
    closed_out = j.filter(both & changed).select(
        *[F.col(f"c.{col}").alias(col) for col in out_cols],
        F.col("c.effective_date").alias("effective_date"),
        eff.alias("expiry_date"),
        F.lit(False).alias("is_current"),
    )
    new_versions = j.filter((both & changed) | only_upd).select(
        *[F.col(f"u.{col}").alias(col) for col in out_cols],
        eff.alias("effective_date"),
        far_future.alias("expiry_date"),
        F.lit(True).alias("is_current"),
    )
    history = closed_rows.select(*out_cols, "effective_date", "expiry_date", "is_current")
    return history.unionByName(kept).unionByName(closed_out).unionByName(new_versions)
