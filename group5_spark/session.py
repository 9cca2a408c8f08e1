"""SparkSession factory.

Re-expresses the reference's session factory
(``Assets/Jobs/spark_session_factory.py:10-33``) with production
defaults the reference lacked: AQE on (runtime re-planning, skew-join
handling, shuffle-partition coalescing), UTC session timezone (the
reference's producers emit UTC ISO-8601 timestamps,
``user_events_producer.py:82``), and Arrow for any Pandas interchange.

At 100 TB these defaults matter: AQE coalesces the post-shuffle
partition count to match actual data volume, converts sort-merge joins
to broadcast when the runtime size is below the threshold, and splits
skewed partitions.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CONFIG: dict[str, str] = {
    # Runtime re-planning: partition coalescing, skew-join splitting,
    # runtime broadcast-join conversion.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Deterministic timestamps: producers emit UTC.
    "spark.sql.session.timeZone": "UTC",
    # Arrow-batched transfer for any Pandas UDF / toPandas path.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Per-op call-site capture for DataFrame error contexts costs two
    # py4j round trips plus a Python stack walk on EVERY DataFrame
    # method call (pyspark.errors.utils._with_origin); measured ~40%
    # of query-construction time on chained builder pipelines. Pure
    # driver-side Python overhead, independent of data scale — off in
    # production, at the price of less precise Python call-site info
    # in error messages (JVM stack traces are unaffected). NOTE:
    # pyspark caches is_debugging_enabled() in a process-global on
    # first DataFrame use, so this only takes effect when the FIRST
    # session of the process is built here — later config_overrides
    # cannot re-enable it mid-process.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # Let the planner pick shuffled-hash join where its size
    # conditions hold instead of always sorting both sides (guide §3.1
    # / §9). Non-broadcast joins here are the scenario/semdedup
    # shapes: measured SMJ→SHJ on dedup_clusters_incremental (−378 ms)
    # and corpus_curation_funnel, zero regressions, identical rows;
    # joins too big for the per-partition build stay sort-merge by the
    # planner's own size gate, so the spill-safety of SMJ is kept
    # where it matters.
    "spark.sql.join.preferSortMergeJoin": "false",
    # zstd parquet output: markedly better ratio than snappy at
    # similar read speed (guide §6). Write paths only (medallion
    # snapshots, scratch scenario tables, indexes) — the read-side
    # testdata stays whatever the driver generated. Measured on the
    # snapshot-writing scenario queries: −0.4 to −0.7 s each
    # (smaller files re-read faster in the commit/read-back loops);
    # at 100 TB the ratio is storage + scan bytes saved.
    "spark.sql.parquet.compression.codec": "zstd",
    # Small dims (reference: 1k customers / 2k products) broadcast.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Cost-based optimization: join reordering + selectivity from
    # ANALYZE TABLE stats (medallion.maintenance.analyze_tables).
    "spark.sql.cbo.enabled": "true",
    "spark.sql.cbo.joinReorder.enabled": "true",
    "spark.sql.statistics.histogram.enabled": "true",
    # Whole-stage-codegen unit cache: the default 100 entries thrashes
    # once a session runs tens of distinct multi-unit plans (each
    # eviction re-pays a ~50-200 ms janino compile on next use).
    # Driver-memory-only cost, independent of data scale. NOTE: this
    # is a STATIC SQL conf (StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES) —
    # it binds when the process's first JVM session is created;
    # getOrCreate() against an existing session silently keeps the
    # old value, as would a config_overrides attempt at runtime.
    "spark.sql.codegen.cache.maxEntries": "1000",
    # Sized for local testing; on a real cluster AQE coalesces upward
    # from a larger initial number instead.
    "spark.sql.shuffle.partitions": "32",
    # Read-side split sizing: keep scan partitions memory-friendly.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.driver.memory": "8g",
}


def create_spark_session(
    app_name: str = "group5_spark",
    master: str | None = None,
    config_overrides: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with engine defaults.

    Mirrors the reference factory's signature
    (``spark_session_factory.py:10``): app name, master, and a dict of
    config overrides applied last so callers win over defaults.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(DEFAULT_CONFIG)
    if config_overrides:
        conf.update(config_overrides)
    for key, value in conf.items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
