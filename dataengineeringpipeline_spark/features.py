"""Silver→Gold ML feature engineering (SURVEY.md §2.4 A4, §2.8, §2.10).

Re-expresses ``silver_to_gold_ml_features.py``: per-entity conditional
aggregations, log / greatest / consistency derived features, churn & CLV
targets, and train/validation/test assignment.

Split determinism (fixes SURVEY.md §4.2-4): the reference calls ``rand()``
twice independently, so its split fractions are biased. The engine offers

- :func:`hash_split` (default): a multiplicative-hash bucket of the entity
  key — deterministic across runs, engines, partitionings, and cluster
  sizes; reproducible lineage at 100 TB, and oracle-checkable.
- :func:`seeded_random_split`: single seeded ``rand()`` column with
  threshold bands (one draw, not two) when statistical randomness matters
  more than cross-run stability.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dataengineeringpipeline_spark.functions import det_stddev, money_avg, money_sum

#: Knuth's multiplicative constant — spreads sequential keys uniformly.
_HASH_MULT = 2654435761


def hash_split(key: Column, train_pct: int = 70, val_pct: int = 15) -> tuple[Column, Column]:
    """Deterministic split bucket + label from an integral key column."""
    bucket = (key * F.lit(_HASH_MULT)) % 100
    label = (
        F.when(bucket < train_pct, "train")
        .when(bucket < train_pct + val_pct, "validation")
        .otherwise("test")
    )
    return bucket, label


def seeded_random_split(df: DataFrame, train_frac: float = 0.7, val_frac: float = 0.15, seed: int = 42) -> DataFrame:
    """One seeded rand() draw with threshold bands (not the reference's two
    independent draws — ``silver_to_gold_ml_features.py:484-489``)."""
    r = F.rand(seed)
    return df.withColumn(
        "data_split",
        F.when(r < train_frac, "train").when(r < train_frac + val_frac, "validation").otherwise("test"),
    )


def ml_customer_features(silver_orders: DataFrame) -> DataFrame:
    """Per-customer ML feature table (24-measure style —
    ``silver_to_gold_ml_features.py:122-154`` + derived features
    :217-235 + targets :317-344 + split).

    One shuffle on ``customer_key``; everything else is map-side partial
    aggregation + narrow projections.
    """
    q = lambda i: F.sum(F.when(F.col("order_quarter") == i, 1).otherwise(0)).cast("long")
    per_cust = (
        silver_orders.filter(F.col("is_complete_order"))
        .groupBy("customer_key")
        .agg(
            F.count("*").alias("total_orders"),
            money_sum("total_price", "lifetime_value"),
            money_avg("total_price", "avg_order_value"),
            det_stddev("total_price", "order_value_stddev"),
            F.min("total_price").alias("min_order_value"),
            F.max("total_price").alias("max_order_value"),
            F.min("days_since_order").alias("recency_days"),
            F.max("days_since_order").alias("first_order_age_days"),
            F.countDistinct("order_year").alias("active_years"),
            q(1).alias("orders_q1"),
            q(2).alias("orders_q2"),
            q(3).alias("orders_q3"),
            q(4).alias("orders_q4"),
            F.sum(F.when(F.col("order_day_of_week").isin(1, 7), 1).otherwise(0))
            .cast("long")
            .alias("weekend_orders"),
            F.sum(F.when(F.col("order_size_category") == "EXTRA_LARGE", 1).otherwise(0))
            .cast("long")
            .alias("extra_large_orders"),
        )
    )
    feats = (
        per_cust
        # LOG(1+x) feature — rounded to 6dp: ln() differs between libm
        # implementations in the last ulp, rounding makes it portable.
        .withColumn("log_lifetime_value", F.round(F.log(F.lit(1.0) + F.col("lifetime_value")), 6))
        .withColumn(
            "max_quarter_orders",
            F.greatest("orders_q1", "orders_q2", "orders_q3", "orders_q4"),
        )
        .withColumn(
            "order_consistency",
            F.when(
                F.col("order_value_stddev").isNotNull() & (F.col("avg_order_value") > 0),
                F.lit(1.0) / (F.lit(1.0) + F.col("order_value_stddev") / F.col("avg_order_value")),
            ),
        )
        .withColumn(
            "avg_days_between_orders",
            F.when(
                F.col("total_orders") > 1,
                (F.col("first_order_age_days") - F.col("recency_days")) / (F.col("total_orders") - 1),
            ),
        )
        .withColumn("tenure_days", F.col("first_order_age_days") - F.col("recency_days"))
    )
    bucket, label = hash_split(F.col("customer_key"))
    return (
        feats
        # targets (threshold semantics like silver_to_gold_ml_features.py:317-344)
        .withColumn("churn_flag", F.col("recency_days") > 1500)
        .withColumn("is_high_value", F.col("lifetime_value") >= 3_000_000)
        .withColumn(
            "clv_bucket",
            F.when(F.col("lifetime_value") >= 4_000_000, "HIGH")
            .when(F.col("lifetime_value") >= 2_000_000, "MEDIUM")
            .otherwise("LOW"),
        )
        .withColumn("split_bucket", bucket)
        .withColumn("data_split", label)
    )
