"""Gold layer: star schema + pre-aggregations (SURVEY §2 B23-B28).

dim_customer / dim_product / dim_date, fact_transactions (header
grain), fact_transaction_items (item grain), fact_user_activity
(event grain), agg_daily_revenue. All Parquet, facts partitioned by
date for partition pruning; the refresh chain is ordered and
idempotent (overwrite semantics) — the Spark-native replacement for
the Snowflake Task chain (A31).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def dim_date(spark: SparkSession, start: str = "2024-01-01", end: str = "2026-12-31") -> DataFrame:
    """B25: generated calendar dimension enabling time intelligence
    (``Stream_Analytics_Phase_2.md:111-112``)."""
    return spark.sql(
        f"""
        SELECT d AS date_key,
               year(d)                       AS year,
               quarter(d)                    AS quarter,
               month(d)                      AS month,
               day(d)                        AS day,
               dayofweek(d)                  AS day_of_week,
               weekofyear(d)                 AS week_of_year,
               date_format(d, 'MMMM')        AS month_name,
               date_format(d, 'EEEE')        AS day_name,
               (dayofweek(d) IN (1, 7))      AS is_weekend,
               trunc(d, 'MM')                AS month_start
        FROM (SELECT explode(sequence(to_date('{start}'), to_date('{end}'))) AS d)
        """
    )


def refresh_gold(spark: SparkSession, warehouse_dir: str) -> dict[str, int]:
    """Ordered gold refresh: dims then facts then aggs (A30-A31)."""
    silver = lambda t: spark.read.parquet(os.path.join(warehouse_dir, "silver", t))  # noqa: E731
    gold_path = lambda t: os.path.join(warehouse_dir, "gold", t)  # noqa: E731
    counts: dict[str, int] = {}

    def save(df: DataFrame, table: str, partition_by: str | None = None) -> None:
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(partition_by)
        writer.parquet(gold_path(table))
        counts[table] = spark.read.parquet(gold_path(table)).count()

    # B23/B24: dimensions from staged dims if present, else derived
    # from facts (keeps the chain self-contained when no dim files
    # were staged).
    dims_dir = os.path.join(warehouse_dir, "silver")
    if os.path.isdir(os.path.join(dims_dir, "stg_customers")):
        save(silver("stg_customers"), "dim_customer")
    else:
        save(
            silver("stg_user_events").select("user_id").distinct(),
            "dim_customer",
        )
    if os.path.isdir(os.path.join(dims_dir, "stg_products")):
        save(silver("stg_products"), "dim_product")
    else:
        save(
            silver("stg_transaction_items")
            .select("product_id", "product_name", "category", "brand")
            .filter(F.col("product_id").isNotNull())
            .dropDuplicates(["product_id"]),
            "dim_product",
        )

    save(dim_date(spark), "dim_date")

    # B26: header-grain fact with date FK.
    txn = silver("stg_transactions")
    save(
        txn.select(
            "transaction_id",
            "user_id",
            "transaction_type",
            "status",
            "payment_method",
            "currency",
            "subtotal",
            "tax",
            "total",
            "original_transaction_id",
            "txn_ts",
            F.col("txn_date").alias("date_key"),
        ),
        "fact_transactions",
        partition_by="date_key",
    )

    # Item-grain fact (B21 downstream).
    save(
        silver("stg_transaction_items").withColumnRenamed("txn_date", "date_key"),
        "fact_transaction_items",
        partition_by="date_key",
    )

    # B27: event-grain fact.
    save(
        silver("stg_user_events").select(
            "event_id",
            "user_id",
            "session_id",
            "event_type",
            "page",
            "device",
            "browser",
            "product_id",
            "quantity",
            "event_ts",
            F.col("event_date").alias("date_key"),
        ),
        "fact_user_activity",
        partition_by="date_key",
    )

    # B28: pre-aggregated daily revenue. Revenue measures follow the
    # documented semantics (SURVEY §2.C-2): all rows kept; completed-
    # only revenue exposed as its own column; refunds flow through as
    # negatives.
    fact_txn = spark.read.parquet(gold_path("fact_transactions"))
    save(
        fact_txn.groupBy("date_key").agg(
            F.sum("total").alias("gross_revenue"),
            F.sum(
                F.when(F.col("status") == "completed", F.col("total")).otherwise(
                    F.lit(0).cast("decimal(12,2)")
                )
            ).alias("completed_revenue"),
            F.count(F.lit(1)).alias("n_transactions"),
            F.countDistinct("user_id").alias("n_customers"),
        ),
        "agg_daily_revenue",
    )
    return counts


def save_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    n_buckets: int = 8,
    sort_by: str | None = None,
) -> None:
    """B16: persist a DataFrame as a bucketed (and optionally
    sort-ordered) catalog table.

    Bucketing pre-shuffles the data ONCE at write time: every
    subsequent join or aggregation on ``key`` between tables bucketed
    with the same bucket count reads co-located buckets and skips the
    exchange entirely — the cure for a fact↔fact join key that recurs
    across queries (user_id here). Requires ``saveAsTable`` (bucket
    metadata lives in the catalog, not the parquet files).
    """
    writer = df.write.mode("overwrite").format("parquet").bucketBy(n_buckets, key)
    if sort_by:
        writer = writer.sortBy(sort_by)
    writer.saveAsTable(table)
