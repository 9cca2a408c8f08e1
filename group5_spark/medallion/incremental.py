"""Incremental materialized-aggregate maintenance.

The reference's gold layer rebuilds ``agg_daily_revenue`` wholesale on
every refresh (Snowflake Task chain, ``Stream_Analytics_Phase_2.md:
70-71``). At 100 TB a full rebuild rescans years of fact history to
refresh yesterday; the incremental form recomputes only the
partitions a change batch touched:

1. derive the affected partition values from the batch (driver-side
   list — dates, typically a handful);
2. recompute the aggregate *for those partitions only* — the
   partition filter prunes the fact scan to the touched dates;
3. swap exactly those partitions into the aggregate table
   (staging-rename, same pattern as :mod:`merge` — readers never see
   a half-written partition, untouched partitions are never opened).

Full-partition recompute (rather than delta-merging aggregate rows)
keeps every aggregate expressible — COUNT DISTINCT, percentiles, and
other non-subtractable aggregates are correct by construction, no
retraction logic. The cost model is: refresh ∝ changed-partition
volume, not table volume.
"""

from __future__ import annotations

import shutil
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "replace_partitions",
    "refresh_aggregate",
    "ivm_init",
    "ivm_refresh",
]


def replace_partitions(
    spark: SparkSession,
    target_path: str,
    fresh: DataFrame,
    partition_col: str,
    snapshot: bool | None = None,
) -> list[str]:
    """Overwrite only the partitions present in ``fresh``; leave every
    other partition physically untouched. Returns the replaced
    partition directory names.

    A partition present in the target but absent from ``fresh`` stays
    as-is — pass rows for every partition you mean to change, even if
    the new content is empty for one of them (an empty partition in
    ``fresh`` cannot be represented in a DataFrame; delete that
    directory explicitly if a partition must vanish).

    ``snapshot`` routes the swap through the snapshot commit protocol
    (:func:`..snapshots.snapshot_commit` with
    ``mode='replace_partitions'``): the replace becomes ONE atomic
    manifest flip — readers see the entire old or the entire new
    partition set, never a half-replaced table — plus time travel to
    the pre-restatement version. Default ``None`` auto-detects: a
    target that already is a snapshot table stays one. The legacy
    directory-rename path remains for plain Hive-layout tables, but
    note its caveat: per-partition renames are atomic only on a real
    filesystem (local/HDFS), NOT on object stores, and a crash midway
    leaves some partitions new and some old. On S3/GCS, use the
    snapshot route — its commit point is a single put-if-absent
    chain-link object (see ``snapshots.py`` commit protocol notes).
    """
    from group5_spark.medallion.snapshots import (
        is_snapshot_table,
        snapshot_commit,
        snapshot_manifest,
    )

    root = Path(target_path)
    if snapshot is None:
        snapshot = is_snapshot_table(root)
    if snapshot:
        v = snapshot_commit(
            fresh,
            target_path,
            mode="replace_partitions",
            partition_by=partition_col,
        )
        head = snapshot_manifest(target_path, v)
        parent_paths: set[str] = set()
        if head.get("parent"):
            parent_paths = {
                e["path"]
                for e in snapshot_manifest(target_path, head["parent"])["files"]
            }
        return sorted(
            {
                f"{partition_col}={e['partition']}"
                for e in head["files"]
                if e["path"] not in parent_paths and "partition" in e
            }
        )

    staging = root.parent / f".{root.name}_ipr_{uuid.uuid4().hex[:8]}"
    fresh.write.mode("overwrite").partitionBy(partition_col).parquet(str(staging))

    replaced: list[str] = []
    for d in sorted(staging.iterdir()):
        if not d.is_dir() or not d.name.startswith(f"{partition_col}="):
            continue
        dest = root / d.name
        if dest.exists():
            shutil.rmtree(dest)
        root.mkdir(parents=True, exist_ok=True)
        d.rename(dest)
        replaced.append(d.name)
    shutil.rmtree(staging)
    return replaced


def refresh_aggregate(
    spark: SparkSession,
    fact: DataFrame,
    agg_path: str,
    partition_col: str,
    build: "callable",
    changed_values: list,
    snapshot: bool | None = None,
) -> list[str]:
    """Recompute an aggregate table for the given partition values.

    ``build(df) -> DataFrame`` is the same aggregation used for the
    full build (it must output ``partition_col``); it runs over the
    fact rows filtered to ``changed_values`` — with a partitioned (or
    range-sorted) fact table that filter prunes the scan to the
    touched partitions. ``snapshot`` is forwarded to
    :func:`replace_partitions` (None = auto-detect snapshot targets).
    """
    pruned = fact.filter(F.col(partition_col).isin(changed_values))
    return replace_partitions(
        spark, agg_path, build(pruned), partition_col, snapshot=snapshot
    )


# ---------------------------------------------------------------------------
# True incremental view maintenance (IVM) over snapshot tables: refresh
# cost proportional to CHANGED FILES, independent of partition layout.
# ---------------------------------------------------------------------------


def ivm_init(
    spark: SparkSession,
    base_path: str,
    mv_path: str,
    group_cols: list[str],
    sum_cols: list[str],
) -> int:
    """Build the maintainable aggregate MV (``sum_<col>`` per measure
    plus ``n_rows``) from the base snapshot table's current version,
    recording that version in the MV's commit note so later refreshes
    know their delta window."""
    from group5_spark.medallion.snapshots import (
        _current_version,
        snapshot_commit,
    )

    base_v = _current_version(Path(base_path))
    from group5_spark.medallion.snapshots import snapshot_read

    df = snapshot_read(spark, base_path, version=base_v)
    mv = df.groupBy(*group_cols).agg(
        *[F.sum(c).alias(f"sum_{c}") for c in sum_cols],
        F.count(F.lit(1)).alias("n_rows"),
    )
    return snapshot_commit(mv, mv_path, note={"base_version": base_v})


def ivm_refresh(
    spark: SparkSession,
    base_path: str,
    mv_path: str,
    group_cols: list[str],
    sum_cols: list[str],
) -> dict:
    """Incrementally maintain the MV built by :func:`ivm_init`.

    The delta between the MV's recorded base version and the base
    table's head is read from the MANIFEST file diff: files present
    only in the new version contribute +rows, files present only in
    the old version contribute −rows; files in both are untouched.
    File identity is ``(path, deletion-vector sidecar)`` — data files
    are immutable, but a DV commit changes a file's LOGICAL content
    without moving a byte, so a file whose DV changed is treated as
    removed-at-old-DV plus added-at-new-DV (each side read through
    :func:`snapshots.read_entries`, which applies the respective
    mask; the file is read twice — the simple, provably-equivalent
    form; reading only the delta positions is a possible refinement).
    Without this, a DV-path merge would silently double-count in
    every downstream incremental aggregate. The MV update is then

        MV' = Σ_groups ( MV  ∪  +agg(added files)  ∪  −agg(removed files) )

    — valid for the decomposable SUM/COUNT measures the MV carries
    (AVG derives as sum/count; MIN/MAX are refused by construction
    since retraction can't be expressed). Cost ∝ changed-file volume:
    an append of one day's file into a 3-year table reads ONE file,
    no matter how the table is partitioned. Groups whose row count
    reaches zero are dropped, matching a full rebuild exactly.

    Returns ``{mv_version, base_from, base_to, files_added,
    files_removed}`` (unchanged base → no new MV commit).

    Retention contract (standard for CDF consumers): the base table's
    ``base_from`` version must not have been expired — removed files
    are READ to retract their contribution, so ``snapshot_expire``'s
    ``keep_last`` must cover the MV's refresh lag; if history was
    expired, rebuild with :func:`ivm_init`.
    """
    from group5_spark.medallion.snapshots import (
        _current_version,
        latest_note,
        snapshot_commit,
        snapshot_read,
    )

    base_to = _current_version(Path(base_path))
    note = latest_note(mv_path) or {}
    base_from = int(note.get("base_version", 0))
    if not base_from:
        raise ValueError(
            f"MV at {mv_path} lacks a base_version note; build with ivm_init"
        )
    if base_from == base_to:
        return {
            "mv_version": _current_version(Path(mv_path)),
            "base_from": base_from,
            "base_to": base_to,
            "files_added": 0,
            "files_removed": 0,
        }

    from group5_spark.medallion.snapshots import (
        entry_eq_suffix,
        read_entries,
        snapshot_manifest,
    )

    old_m = snapshot_manifest(base_path, base_from)
    new_m = snapshot_manifest(base_path, base_to)

    def ident(e: dict, m: dict) -> tuple:
        # (path, dv sidecar, eq-delete suffix) IS the logical content
        # identity: the same bytes under a different positional mask —
        # or with more equality-delete sidecars postdating them — are a
        # different logical file. An eq-upsert therefore retracts every
        # pre-existing file at its old mask and re-adds it at the new
        # one (each side read through read_entries under its own
        # manifest, so the respective masks apply) — the simple,
        # provably-equivalent form, same as the DV path below.
        return (
            e["path"],
            (e.get("dv") or {}).get("sidecar"),
            entry_eq_suffix(m, e),
        )

    old_by = {ident(e, old_m): e for e in old_m["files"]}
    new_by = {ident(e, new_m): e for e in new_m["files"]}
    added_entries = [e for k, e in sorted(new_by.items()) if k not in old_by]
    removed_entries = [e for k, e in sorted(old_by.items()) if k not in new_by]

    def signed_agg(
        entries: list[dict], manifest: dict, sign: int
    ) -> DataFrame | None:
        if not entries:
            return None
        # read_entries applies each entry's OWN deletion vector — the
        # removed side is read under the old mask, the added side
        # under the new one, so the retraction is exactly the rows
        # that stopped being visible
        df = read_entries(spark, Path(base_path), manifest, entries)
        return df.groupBy(*group_cols).agg(
            *[
                (F.lit(sign) * F.sum(c)).alias(f"sum_{c}")
                for c in sum_cols
            ],
            (F.lit(sign) * F.count(F.lit(1))).alias("n_rows"),
        )

    added = added_entries
    removed = removed_entries
    parts = [snapshot_read(spark, mv_path)]
    for part in (
        signed_agg(added_entries, new_m, 1),
        signed_agg(removed_entries, old_m, -1),
    ):
        if part is not None:
            parts.append(part)
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.unionByName(p)
    refreshed = (
        merged.groupBy(*group_cols)
        .agg(
            *[F.sum(f"sum_{c}").alias(f"sum_{c}") for c in sum_cols],
            F.sum("n_rows").alias("n_rows"),
        )
        .filter(F.col("n_rows") > 0)
    )
    v = snapshot_commit(refreshed, mv_path, note={"base_version": base_to})
    return {
        "mv_version": v,
        "base_from": base_from,
        "base_to": base_to,
        "files_added": len(added),
        "files_removed": len(removed),
    }
