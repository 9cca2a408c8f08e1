"""Silver layer: typed, deduplicated staging tables (SURVEY §2 B19-B22,
replacing the Snowflake MERGE at A29 with window-dedup + INSERT
OVERWRITE).

Bronze keeps raw JSON strings; silver applies explicit schemas
(``from_json``), casts money to DECIMAL(12,2), parses ISO-8601
timestamps, and dedups by natural key keeping the latest load — the
idempotent, re-runnable equivalent of the reference's Task-driven
MERGE chain.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from group5_spark.schemas import (
    ISO_TS_FORMAT,
    MONEY,
    TRANSACTION_SCHEMA,
    USER_EVENT_SCHEMA,
)


def _dedup_latest(
    df: DataFrame, key: str, tie_cols: list[str] | None = None
) -> DataFrame:
    """Keep the most recently loaded row per natural key (A29).

    row_number over (partition by key order by load_ts desc, ties) = 1
    — one shuffle on the key; at scale this is the idempotency
    workhorse for re-runs and backfills.

    ``load_ts`` alone cannot break ties within one bronze build
    (current_timestamp() is plan-constant), so later batch files win
    via ``source_file`` desc (landing filenames embed the batch
    timestamp), then any caller-supplied tie columns. Remaining ties
    are byte-identical duplicate payloads, where either row is the
    same row.
    """
    order = [F.col("load_ts").desc(), F.col("source_file").desc()] + [
        F.col(c).desc() for c in (tie_cols or [])
    ]
    w = Window.partitionBy(key).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _quarantine(
    typed: DataFrame, key: str, quarantine_path: str | None
) -> DataFrame:
    """Split off rows whose natural key failed to parse.

    Bronze's contract (bronze.py module docstring) is that malformed
    payloads are quarantined with lineage, never silently dropped —
    the explicit opposite of the reference's ON_ERROR='CONTINUE'.
    """
    bad = typed.filter(F.col(key).isNull()).select(
        "raw_payload", "source_file", "load_ts"
    )
    if quarantine_path is not None:
        bad.write.mode("overwrite").parquet(quarantine_path)
    return typed.filter(F.col(key).isNotNull()).drop("raw_payload")


def stg_user_events(
    spark: SparkSession, warehouse_dir: str, quarantine: bool = True
) -> DataFrame:
    """B19: bronze raw_user_events → typed, event_id-deduped rows;
    unparseable rows land in silver/_quarantine/stg_user_events."""
    bronze = spark.read.parquet(os.path.join(warehouse_dir, "bronze", "raw_user_events"))
    parsed = bronze.select(
        F.from_json("raw_payload", USER_EVENT_SCHEMA).alias("p"),
        "raw_payload",
        "source_file",
        "load_ts",
    ).select("p.*", "raw_payload", "source_file", "load_ts")
    typed = parsed.withColumn(
        "event_ts", F.to_timestamp("timestamp", ISO_TS_FORMAT)
    ).withColumn("event_date", F.to_date(F.to_timestamp("timestamp", ISO_TS_FORMAT)))
    qpath = (
        os.path.join(warehouse_dir, "silver", "_quarantine", "stg_user_events")
        if quarantine
        else None
    )
    good = _quarantine(typed, "event_id", qpath)
    return _dedup_latest(good, "event_id", tie_cols=["timestamp"])


def stg_transactions(
    spark: SparkSession, warehouse_dir: str, quarantine: bool = True
) -> DataFrame:
    """B20: transaction headers, typed; line_items kept nested here;
    unparseable rows land in silver/_quarantine/stg_transactions."""
    bronze = spark.read.parquet(
        os.path.join(warehouse_dir, "bronze", "raw_transactions")
    )
    parsed = bronze.select(
        F.from_json("raw_payload", TRANSACTION_SCHEMA).alias("p"),
        "raw_payload",
        "source_file",
        "load_ts",
    ).select("p.*", "raw_payload", "source_file", "load_ts")
    typed = (
        parsed.withColumn("txn_ts", F.to_timestamp("timestamp", ISO_TS_FORMAT))
        .withColumn("txn_date", F.to_date(F.to_timestamp("timestamp", ISO_TS_FORMAT)))
        .withColumn("subtotal", F.col("subtotal").cast(MONEY))
        .withColumn("tax", F.col("tax").cast(MONEY))
        .withColumn("total", F.col("total").cast(MONEY))
    )
    qpath = (
        os.path.join(warehouse_dir, "silver", "_quarantine", "stg_transactions")
        if quarantine
        else None
    )
    good = _quarantine(typed, "transaction_id", qpath)
    return _dedup_latest(good, "transaction_id", tie_cols=["timestamp"])


def stg_transaction_items(stg_txn: DataFrame) -> DataFrame:
    """B21: one row per line item ("flattened from nested products",
    ``Stream_Analytics_Phase_2.md:70,151``) — explode + struct flatten
    with DECIMAL unit_price and a derived line_total."""
    exploded = stg_txn.select(
        "transaction_id",
        "user_id",
        "transaction_type",
        "status",
        "txn_ts",
        "txn_date",
        F.posexplode_outer("line_items").alias("line_number", "item"),
    )
    return exploded.select(
        "transaction_id",
        "user_id",
        "transaction_type",
        "status",
        "txn_ts",
        "txn_date",
        "line_number",
        F.col("item.product_id").alias("product_id"),
        F.col("item.product_name").alias("product_name"),
        F.col("item.category").alias("category"),
        F.col("item.brand").alias("brand"),
        F.col("item.quantity").alias("quantity"),
        F.col("item.unit_price").cast(MONEY).alias("unit_price"),
        (F.col("item.quantity") * F.col("item.unit_price")).cast(MONEY).alias(
            "line_total"
        ),
    )


def refresh_silver(spark: SparkSession, warehouse_dir: str) -> dict[str, int]:
    """Ordered silver refresh (A31 chain, silver stage): writes
    stg_user_events, stg_transactions, stg_transaction_items as
    Parquet, partitioned by event date for downstream pruning (B15).
    """
    counts = {}

    def save(df: DataFrame, table: str, partition_col: str) -> None:
        out = os.path.join(warehouse_dir, "silver", table)
        df.write.mode("overwrite").partitionBy(partition_col).parquet(out)
        # count the written parquet: re-counting the unmaterialized
        # plan would re-run the whole parse+dedup DAG (the reference's
        # multi-action defect, SURVEY §4.1)
        counts[table] = spark.read.parquet(out).count()

    save(stg_user_events(spark, warehouse_dir), "stg_user_events", "event_date")
    save(stg_transactions(spark, warehouse_dir), "stg_transactions", "txn_date")
    save(
        stg_transaction_items(
            spark.read.parquet(
                os.path.join(warehouse_dir, "silver", "stg_transactions")
            )
        ),
        "stg_transaction_items",
        "txn_date",
    )
    return counts
