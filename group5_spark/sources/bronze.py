"""Bronze loader (SURVEY §2 A24-A28): Spark-native replacement for the
Snowflake PUT / COPY INTO path.

The reference stages files then ``COPY INTO raw_* (RAW_PAYLOAD,
SOURCE_FILE, LOAD_TS)`` with ``METADATA$FILENAME`` and
``CURRENT_TIMESTAMP()`` (``dag_streamflow_warehouse.py:62-81``). Here
bronze reads the files directly: the raw payload is kept as a JSON
string column (VARIANT parity), lineage comes from
``input_file_name()`` and ``current_timestamp()``, and the table lands
as Parquet in the warehouse directory.

ON_ERROR='CONTINUE' (silent row skip, ``dag_snowflake.py:84``) is
deliberately NOT reproduced — malformed rows survive in raw_payload
and fail typing at silver where they are quarantined, not dropped.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Pattern→table mapping, config-driven like dag_snowflake.py:35-40.
DEFAULT_SOURCES = {
    "raw_user_events": "user_events_batch_*.json",
    "raw_transactions": "transaction_events_batch_*.json",
}


def load_raw_json(
    spark: SparkSession, glob: str
) -> DataFrame:
    """Read NDJSON as raw text rows with lineage columns — the bronze
    shape: (raw_payload, source_file, load_ts)."""
    return (
        spark.read.text(glob)
        .withColumnRenamed("value", "raw_payload")
        .withColumn("source_file", F.input_file_name())
        .withColumn("load_ts", F.current_timestamp())
    )


def build_bronze(
    spark: SparkSession,
    landing_dir: str,
    warehouse_dir: str,
    sources: dict[str, str] | None = None,
) -> dict[str, int]:
    """Load every landing pattern into its bronze Parquet table.

    Returns per-table row counts (the loader's telemetry, parity with
    the COPY INTO result scan).
    """
    from pyspark.errors import AnalysisException

    counts: dict[str, int] = {}
    for table, pattern in (sources or DEFAULT_SOURCES).items():
        glob = os.path.join(landing_dir, pattern)
        out = os.path.join(warehouse_dir, "bronze", table)
        try:
            load_raw_json(spark, glob).write.mode("overwrite").parquet(out)
        except AnalysisException:
            # A11 graceful-skip parity with the landing readers: a
            # source whose consumer hasn't run yet is not an error
            counts[table] = 0
            continue
        counts[table] = spark.read.parquet(out).count()
    return counts
