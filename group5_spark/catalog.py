"""Testdata catalog: load the driver's parquet tables and register views.

Tables (see TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings — one parquet file per table under
``/root/testdata/sf{0.001,0.01,0.1}``.

Reads go through ``spark.read.parquet`` so Catalyst gets vectorized
scans, predicate pushdown, and column pruning for free. No DATA is
cached here — callers decide lifetime (operators that reuse a table
across actions cache explicitly, see operators.columns.cached). The
lazy table HANDLE (file listing + footer schema) is reused per
session via ``_TABLE_CACHE`` below, invalidated on file change.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to always broadcast in joins, at every
# scale factor (TPC-H dims grow sub-linearly or not at all).
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part", "customer"})

# Session-scoped table-handle cache: plain-parquet loads re-list the
# path and re-read footers on every call, which is pure driver-side
# metadata work (guide: cache file listings per session — the same
# job a metastore does). Keyed by the live SparkSession (weak, so a
# stopped session's entries die with it) and by the path's
# (mtime_ns, size), so overwriting the file invalidates the entry.
# Only the LAZY DataFrame handle is cached — every action still
# computes from the parquet input; no rows or results are stored.
# Snapshot-managed tables are never cached (their manifests version).
_TABLE_CACHE: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _path_token(path: str) -> tuple:
    """Change token for a cached handle: (inode, mtime_ns, size).

    st_ino catches replace-by-rename (cp/mv a new file over the path
    preserving mtime+size); for a FLAT directory dataset (a
    Spark-written table whose part-files are direct children) the
    token also folds in the direct children's stats, so an in-place
    part-file rewrite that keeps the dir's own mtime is still
    detected. Files nested deeper (e.g. Hive partition dirs) are not
    stat-ed: only a change to a direct child is seen.
    """
    st = os.stat(path)
    token: tuple = (st.st_ino, st.st_mtime_ns, st.st_size)
    if os.path.isdir(path):
        kids = []
        with os.scandir(path) as entries:
            for e in entries:
                kst = e.stat()
                kids.append((e.name, kst.st_ino, kst.st_mtime_ns, kst.st_size))
        token = token + (tuple(sorted(kids)),)
    return token


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table as a DataFrame.

    ``events.parquet`` stores nanosecond timestamps, which Spark's
    vectorized parquet reader rejects (PARQUET_TYPE_ILLEGAL). We read
    nanos as long (legacy conf, runtime-settable) and rebuild a
    microsecond TimestampType column — matching DuckDB's nanos→micros
    truncation.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    # a catalog dir may hold SNAPSHOT-managed tables ({dir}/{name} with
    # a manifest) instead of plain {name}.parquet files — read through
    # the manifest so versioning, deletion vectors, and file pruning
    # apply, and so the advisor can plan from the same manifest's
    # write-time statistics with zero extra scans (auto-discovered in
    # queries._manifest_stats; spark.group5.advisor.stats_dir overrides)
    from group5_spark.medallion.snapshots import (
        is_snapshot_table,
        snapshot_read,
    )

    if is_snapshot_table(f"{sf_dir}/{name}"):
        return snapshot_read(spark, f"{sf_dir}/{name}")
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        # must be set before both construction (schema) and execution
        # (footer re-read in tasks) — re-assert it on cache hits too
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        key = (path, _path_token(path))
        per_session = _TABLE_CACHE.setdefault(spark, {})
        cached = per_session.get(key)
        if cached is not None:
            return cached
        # a miss with the path present means the file changed: evict
        # prior generations so a rewritten path cannot accumulate
        # stale handles (each pins a JVM-side plan) over a long session
        for stale in [k for k in per_session if k[0] == path]:
            del per_session[stale]
    except OSError:
        key = None  # missing path: let the reader raise its own error
    df = spark.read.parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if key is not None:
        _TABLE_CACHE[spark][key] = df
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register each table as a temp view so spark.sql() can see them."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
