"""Measure library over the gold star schema (SURVEY §2 B29-B42).

Each measure is a named function over gold DataFrames — the Spark-SQL
equivalent of the reference's DAX catalog
(``Stream_Analytics_Phase_2.md:113-121``) and dashboard pages
(``:123-131``). Revenue semantics follow SURVEY §2.C-2: fact tables
keep all rows; revenue measures filter ``status='completed'``
explicitly, and refund/chargeback totals are already negative so they
net out of completed revenue naturally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

def _completed() -> F.Column:
    # Lazy: F.col needs an active SparkContext, so no module-level Column.
    return F.col("status") == "completed"


def total_revenue(fact_txn: DataFrame) -> DataFrame:
    """B29 Total Revenue (completed transactions; refunds net out)."""
    return fact_txn.filter(_completed()).agg(
        F.sum("total").alias("total_revenue")
    )


def unique_users(fact: DataFrame, approx: bool = False) -> DataFrame:
    """B30 Unique Users; ``approx=True`` switches to HLL
    approx_count_distinct for the 100 TB path."""
    agg = (
        F.approx_count_distinct("user_id") if approx else F.countDistinct("user_id")
    )
    return fact.agg(agg.alias("unique_users"))


def conversion_rate(fact_activity: DataFrame, fact_txn: DataFrame) -> DataFrame:
    """B31 Conversion Rate: purchasing users / active users."""
    viewers = fact_activity.select("user_id").distinct()
    buyers = fact_txn.filter(_completed()).select("user_id").distinct()
    v = viewers.count()
    b = buyers.join(viewers, "user_id", "left_semi").count()
    import pyspark.sql.types as T  # local import to keep module surface small

    spark = fact_activity.sparkSession
    rate = round(b / v, 6) if v else None
    return spark.createDataFrame(
        [(v, b, rate)],
        T.StructType(
            [
                T.StructField("active_users", T.LongType()),
                T.StructField("purchasing_users", T.LongType()),
                T.StructField("conversion_rate", T.DoubleType()),
            ]
        ),
    )


def avg_order_value(fact_txn: DataFrame) -> DataFrame:
    """B32 Avg Order Value = completed revenue / completed txns."""
    agg = fact_txn.filter(_completed()).agg(
        F.sum("total").alias("revenue"),
        F.countDistinct("transaction_id").alias("n_orders"),
    )
    return agg.withColumn(
        "aov", F.round(F.col("revenue").cast("double") / F.col("n_orders"), 6)
    )


def revenue_by_period(fact_txn: DataFrame, dim_date: DataFrame, grain: str) -> DataFrame:
    """Revenue rolled up to a calendar grain via the date dimension
    (grain ∈ year/quarter/month/date_key)."""
    joined = fact_txn.filter(_completed()).join(
        F.broadcast(dim_date), on=fact_txn.date_key == dim_date.date_key
    )
    keys = {"year": ["year"], "quarter": ["year", "quarter"],
            "month": ["year", "month"], "date_key": [dim_date.date_key]}[grain]
    return joined.groupBy(*keys).agg(
        F.sum("total").alias("revenue"),
        F.count(F.lit(1)).alias("n_transactions"),
    )


def yoy_growth(fact_txn: DataFrame, dim_date: DataFrame) -> DataFrame:
    """B33 YoY Growth on yearly revenue (lag window)."""
    yearly = revenue_by_period(fact_txn, dim_date, "year")
    w = Window.orderBy("year")
    prev = F.lag("revenue").over(w)
    return yearly.withColumn(
        "yoy_growth",
        F.round(
            (F.col("revenue").cast("double") - prev.cast("double")) / prev.cast("double"),
            6,
        ),
    )


def mtd_revenue(fact_txn: DataFrame, dim_date: DataFrame) -> DataFrame:
    """B34 MTD Revenue: running total within (year, month)."""
    daily = revenue_by_period(fact_txn, dim_date, "date_key").withColumnRenamed(
        "date_key", "d"
    )
    cal = dim_date.select(F.col("date_key").alias("d"), "year", "month")
    w = (
        Window.partitionBy("year", "month")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        daily.join(F.broadcast(cal), "d")
        .withColumn("mtd_revenue", F.sum("revenue").over(w))
        .select("d", "year", "month", "revenue", "mtd_revenue")
    )


def running_total(fact_txn: DataFrame) -> DataFrame:
    """B35 Running Total over daily completed revenue."""
    daily = (
        fact_txn.filter(_completed())
        .groupBy("date_key")
        .agg(F.sum("total").alias("revenue"))
    )
    w = Window.orderBy("date_key").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return daily.withColumn("running_revenue", F.sum("revenue").over(w))


def pct_of_total(df: DataFrame, key: str, value: str = "revenue") -> DataFrame:
    """B36 % of Total for any keyed aggregate."""
    total = F.sum(value).over(Window.partitionBy())
    return df.withColumn(
        "pct_of_total",
        F.round(F.col(value).cast("double") / total.cast("double"), 6),
    )


def top_n_products(fact_items: DataFrame, n: int = 10) -> DataFrame:
    """B37 Top-N Products by completed item revenue."""
    rev = (
        fact_items.filter(_completed())
        .groupBy("product_id", "product_name")
        .agg(F.sum("line_total").alias("revenue"))
    )
    w = Window.orderBy(F.col("revenue").desc(), F.col("product_id"))
    return rev.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= n)


def funnel(fact_activity: DataFrame) -> DataFrame:
    """B38 Funnel page_view → add_to_cart → purchase-intent (checkout
    page view), stepwise user counts + conversion ratios."""
    flags = fact_activity.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "page_view", 1).otherwise(0)).alias("s_view"),
        F.max(F.when(F.col("event_type") == "add_to_cart", 1).otherwise(0)).alias("s_cart"),
        F.max(
            F.when(
                (F.col("event_type") == "page_view") & (F.col("page") == "/checkout"), 1
            ).otherwise(0)
        ).alias("s_checkout"),
    )
    out = flags.agg(
        F.sum("s_view").alias("viewed"),
        F.sum(F.col("s_view") * F.col("s_cart")).alias("carted"),
        F.sum(F.col("s_view") * F.col("s_cart") * F.col("s_checkout")).alias("checked_out"),
    )
    return out.withColumn(
        "view_to_cart", F.round(F.col("carted").cast("double") / F.col("viewed"), 6)
    ).withColumn(
        "cart_to_checkout",
        F.round(F.col("checked_out").cast("double") / F.col("carted"), 6),
    )


def category_revenue(fact_items: DataFrame) -> DataFrame:
    """B40 Sales page: revenue by category with % of total."""
    rev = (
        fact_items.filter(_completed())
        .groupBy("category")
        .agg(F.sum("line_total").alias("revenue"))
    )
    return pct_of_total(rev, "category")


def kpi_cards(fact_txn: DataFrame, fact_activity: DataFrame) -> DataFrame:
    """B42 exec-page KPI scalar block."""
    rev = fact_txn.filter(_completed()).agg(
        F.sum("total").alias("total_revenue"),
        F.countDistinct("transaction_id").alias("orders"),
        F.countDistinct("user_id").alias("buyers"),
    )
    act = fact_activity.agg(
        F.count(F.lit(1)).alias("events"),
        F.countDistinct("user_id").alias("active_users"),
    )
    return rev.crossJoin(act)
