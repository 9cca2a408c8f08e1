"""Small-file compaction (medallion.maintenance)."""

from __future__ import annotations

import os

import pytest

from group5_spark.medallion.maintenance import compact, table_file_stats


def _fragmented_table(spark, path, partitioned: bool):
    df = spark.createDataFrame(
        [(i, f"d{i % 2}", f"v{i}") for i in range(100)], ["id", "d", "v"]
    ).repartition(10)
    w = df.write.mode("overwrite")
    if partitioned:
        w = w.partitionBy("d")
    w.parquet(path)


def test_stats_and_compact_partitioned(spark, tmp_path):
    path = str(tmp_path / "t")
    _fragmented_table(spark, path, partitioned=True)
    stats = table_file_stats(path)
    assert set(stats) == {"d=d0", "d=d1"}
    assert all(n > 1 for n, _ in stats.values())

    before = {r["id"] for r in spark.read.parquet(path).collect()}
    done = compact(spark, path, target_file_bytes=1 << 30)
    assert set(done) == {"d=d0", "d=d1"}

    stats = table_file_stats(path)
    assert all(n == 1 for n, _ in stats.values())
    after = {r["id"] for r in spark.read.parquet(path).collect()}
    assert after == before


def test_compact_skips_healthy_partitions(spark, tmp_path):
    path = str(tmp_path / "t")
    _fragmented_table(spark, path, partitioned=True)
    compact(spark, path, target_file_bytes=1 << 30)
    # already compacted: nothing to do, files untouched
    files_before = sorted(os.listdir(os.path.join(path, "d=d0")))
    done = compact(spark, path, target_file_bytes=1 << 30)
    assert done == {}
    assert sorted(os.listdir(os.path.join(path, "d=d0"))) == files_before


def test_compact_unpartitioned(spark, tmp_path):
    path = str(tmp_path / "t")
    _fragmented_table(spark, path, partitioned=False)
    n_before, _ = table_file_stats(path)[""]
    assert n_before > 1
    before = {r["id"] for r in spark.read.parquet(path).collect()}
    done = compact(spark, path, target_file_bytes=1 << 30)
    assert done == {"": n_before}
    n_after, _ = table_file_stats(path)[""]
    assert n_after == 1
    assert {r["id"] for r in spark.read.parquet(path).collect()} == before
    # no staging leftovers next to the table
    assert not [
        d for d in os.listdir(tmp_path) if "_compact_" in d
    ]


def test_target_size_splits_output(spark, tmp_path):
    path = str(tmp_path / "t")
    _fragmented_table(spark, path, partitioned=True)
    # tiny target forces needed-files > 1; partition has 10 small
    # files totalling a few KB → needed = ceil(bytes/2KB) ≥ 2
    compact(spark, path, target_file_bytes=2048)
    n, _ = table_file_stats(path)["d=d0"]
    assert n >= 2


def test_write_sorted_nonoverlapping_file_ranges(spark, tmp_path):
    import glob

    import pyarrow.parquet as pq

    from group5_spark.medallion.maintenance import write_sorted

    df = spark.range(0, 10_000).selectExpr(
        "id", "id % 97 AS v"
    )
    path = str(tmp_path / "sorted")
    write_sorted(df, path, ["id"], n_files=4)

    ranges = []
    for f in glob.glob(path + "/*.parquet"):
        md = pq.ParquetFile(f).metadata
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(0)  # id
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    assert len(ranges) == 4
    # file ranges are disjoint → a point/range filter on id can skip
    # every other file via footer stats alone
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2
    # data intact
    assert spark.read.parquet(path).count() == 10_000


def test_analyze_tables_computes_stats(spark, tmp_path):
    from group5_spark.medallion.maintenance import analyze_tables

    spark.createDataFrame(
        [(i, i % 5) for i in range(123)], ["id", "grp"]
    ).write.mode("overwrite").saveAsTable("t_stats_probe")
    try:
        counts = analyze_tables(spark, ["t_stats_probe"])
        assert counts["t_stats_probe"] == 123
        # column-level stats exist (CBO inputs): distinct count for grp
        desc = spark.sql(
            "DESCRIBE EXTENDED t_stats_probe grp"
        ).collect()
        kv = {r["info_name"]: r["info_value"] for r in desc}
        assert kv.get("distinct_count") == "5"
    finally:
        spark.sql("DROP TABLE IF EXISTS t_stats_probe")


def test_write_zorder_clusters_both_columns(spark, tmp_path):
    import glob

    import pyarrow.parquet as pq

    from group5_spark.medallion.maintenance import write_sorted, write_zorder

    # 64x64 grid: x and y each span 0..63 uniformly
    df = spark.range(0, 4096).selectExpr("id % 64 AS x", "id DIV 64 AS y")

    def file_spans(path, col_idx):
        spans = []
        for f in glob.glob(path + "/*.parquet"):
            md = pq.ParquetFile(f).metadata
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(col_idx).statistics
                mins.append(st.min)
                maxs.append(st.max)
            spans.append(max(maxs) - min(mins))
        return spans

    zpath = str(tmp_path / "zorder")
    write_zorder(df, zpath, ["x", "y"], bits=6, n_files=16)
    # lexicographic baseline: sorted by x only
    spath = str(tmp_path / "xsort")
    write_sorted(df, spath, ["x"], n_files=16)

    # x-sorted files each cover ~the full y range; z-ordered files
    # cover a narrow rectangle in BOTH dimensions
    assert max(file_spans(zpath, 0)) <= 32  # x span per file
    assert max(file_spans(zpath, 1)) <= 32  # y span per file
    assert max(file_spans(spath, 1)) >= 56  # baseline: y unclustered
    # data intact
    got = spark.read.parquet(zpath)
    assert got.count() == 4096 and set(got.columns) == {"x", "y"}


def test_write_zorder_validates_args(spark, tmp_path):
    import pytest as _pytest

    from group5_spark.medallion.maintenance import write_zorder

    df = spark.range(10).selectExpr("id AS a", "id AS b")
    with _pytest.raises(ValueError, match="needs >= 2"):
        write_zorder(df, str(tmp_path / "z1"), ["a"])
    with _pytest.raises(ValueError, match="<= 63"):
        write_zorder(df, str(tmp_path / "z2"), ["a", "b"], bits=32)


def test_snapshot_delete_rewrites_only_matching_files(spark, tmp_path):
    """DELETE WHERE prunes at file level: files whose min/max can't
    contain the key carry over by reference (identical manifest
    paths), only the touched file is rewritten; time travel still
    shows the pre-delete rows."""
    from pyspark.sql import functions as F

    from group5_spark.medallion.maintenance import snapshot_delete
    from group5_spark.medallion.snapshots import (
        snapshot_commit,
        snapshot_manifest,
        snapshot_read,
    )

    tbl = str(tmp_path / "del_tbl")
    # three appends with disjoint id ranges -> three file sets with
    # disjoint min/max stats
    for lo in (0, 100, 200):
        snapshot_commit(
            spark.range(lo, lo + 100).select(
                F.col("id"), (F.col("id") % 7).alias("user_id")
            ).coalesce(1),
            tbl,
            mode="append" if lo else "overwrite",
            stats_cols=["id"],
        )
    before = snapshot_manifest(tbl)
    report = snapshot_delete(spark, tbl, [("id", ">=", 120), ("id", "<=", 130)])
    assert report["files_rewritten"] == 1
    assert report["files_carried"] == 2
    assert report["rows_deleted"] == 11
    after = snapshot_manifest(tbl, report["version"])
    # the two untouched files carry over with IDENTICAL manifest paths
    carried_paths = {e["path"] for e in before["files"]} & {
        e["path"] for e in after["files"]
    }
    assert len(carried_paths) == 2
    got = snapshot_read(spark, tbl)
    assert got.count() == 289
    assert got.filter((F.col("id") >= 120) & (F.col("id") <= 130)).count() == 0
    # time travel: the pre-delete version still has all 300 rows
    assert snapshot_read(spark, tbl, version=before["version"]).count() == 300


def test_snapshot_delete_no_match_is_noop(spark, tmp_path):
    from pyspark.sql import functions as F

    from group5_spark.medallion.maintenance import snapshot_delete
    from group5_spark.medallion.snapshots import snapshot_commit

    tbl = str(tmp_path / "del_noop")
    snapshot_commit(
        spark.range(50).select(F.col("id")), tbl, stats_cols=["id"]
    )
    report = snapshot_delete(spark, tbl, [("id", ">=", 1000)])
    assert report == {
        "version": 1,
        "files_rewritten": 0,
        "files_carried": report["files_carried"],
        "rows_deleted": 0,
    }


def test_snapshot_delete_partitioned_touches_one_partition(spark, tmp_path):
    from pyspark.sql import functions as F

    from group5_spark.medallion.maintenance import snapshot_delete
    from group5_spark.medallion.snapshots import (
        snapshot_commit,
        snapshot_read,
    )

    tbl = str(tmp_path / "del_part")
    snapshot_commit(
        spark.createDataFrame(
            [("d1", 1, "alice"), ("d1", 2, "bob"), ("d2", 3, "alice")],
            ["d", "uid", "name"],
        ),
        tbl,
        partition_by="d",
    )
    report = snapshot_delete(
        spark, tbl, [("d", "=", "d1"), ("name", "=", "alice")]
    )
    assert report["rows_deleted"] == 1
    got = sorted(map(tuple, snapshot_read(spark, tbl).collect()))
    assert got == [("d1", 2, "bob"), ("d2", 3, "alice")]


def test_snapshot_delete_entire_file_contents(spark, tmp_path):
    """Deleting every row of the touched files leaves a version with
    only the carried files — no empty-file debris requirement, counts
    still reconcile."""
    from pyspark.sql import functions as F

    from group5_spark.medallion.maintenance import snapshot_delete
    from group5_spark.medallion.snapshots import (
        snapshot_commit,
        snapshot_read,
    )

    tbl = str(tmp_path / "del_all")
    snapshot_commit(
        spark.range(0, 10).select(F.col("id")).coalesce(1),
        tbl, stats_cols=["id"],
    )
    snapshot_commit(
        spark.range(100, 110).select(F.col("id")).coalesce(1),
        tbl, mode="append", stats_cols=["id"],
    )
    report = snapshot_delete(spark, tbl, [("id", "<", 50)])
    assert report["rows_deleted"] == 10
    got = snapshot_read(spark, tbl)
    assert got.count() == 10
    assert got.agg(F.min("id")).first()[0] == 100


def test_table_health_flags_fragmentation_and_heals(spark, tmp_path):
    """The health report recommends compaction for a fragmented table
    and goes quiet after compact_snapshot + expire run — the nightly
    ops loop in miniature, all decisions from metadata only."""
    from pyspark.sql import functions as F

    from group5_spark.medallion.maintenance import (
        compact_snapshot,
        table_health,
    )
    from group5_spark.medallion.snapshots import (
        snapshot_commit,
        snapshot_expire,
    )

    tbl = str(tmp_path / "health")
    for i in range(12):  # 12 tiny appends -> 12 versions, 12+ files
        snapshot_commit(
            spark.range(i * 10, (i + 1) * 10).select(F.col("id")).coalesce(1),
            tbl,
            mode="append" if i else "overwrite",
        )
    h = table_health(tbl)
    assert h["files"] >= 12 and h["versions_retained"] == 12
    recs = " | ".join(h["recommendations"])
    assert "compact" in recs and "expire" in recs and "stats" in recs
    # heal: compact, expire history, re-commit carries stats
    assert compact_snapshot(spark, tbl, min_files_to_compact=2)
    snapshot_expire(tbl, keep_last=1, orphan_grace_s=0.0)
    h2 = table_health(tbl)
    assert h2["files"] <= 2
    assert h2["versions_retained"] == 1
    joined = " | ".join(h2["recommendations"])
    assert "compact:" not in joined and "expire:" not in joined


def test_partition_findings_reach_health_and_heal(spark, tmp_path):
    """Round-10: advise_partitions wired into the ops loop. A layout
    with one SKEWED partition (10x the median's rows) and one
    FRAGMENTED partition (20 tiny files) -> table_health names both
    partitions with their measured numbers; apply_health compacts the
    fragmented one and surfaces split_or_salt as a report-only record
    (it has no safe auto-executor — splitting a partition value or
    salting the key is a write-contract change); a second pass
    executes nothing (converged) while the skew advisory remains."""
    from pyspark.sql import functions as F

    from group5_spark.medallion.maintenance import (
        apply_health,
        table_health,
    )
    from group5_spark.medallion.snapshots import snapshot_commit

    tbl = str(tmp_path / "part_health")
    hot = spark.range(4000).select(
        F.lit("hot").alias("p"), F.col("id")
    )
    # range-partitioned so the 20 tiny files carry DISJOINT id stats —
    # the fragmentation finding must fire, not the clustering one
    frag = spark.range(4000, 4400).select(
        F.lit("frag").alias("p"), F.col("id")
    ).repartitionByRange(20, "id")
    cold = spark.range(4400, 4800).select(
        F.lit("cold").alias("p"), F.col("id")
    )
    snapshot_commit(
        hot.repartition(1, "p"), tbl, partition_by="p",
        stats_cols=["id"], ndv_cols=["id"],
    )
    snapshot_commit(frag, tbl, mode="append", partition_by="p")
    snapshot_commit(
        cold.repartition(1, "p"), tbl, mode="append", partition_by="p"
    )

    h = table_health(tbl)
    by_action = {}
    for f in h["partition_findings"]:
        by_action.setdefault(f["action"], []).append(f)
    assert [f["partition"] for f in by_action["split_or_salt"]] == ["hot"]
    assert [f["partition"] for f in by_action["compact"]] == ["frag"]
    recs = h["recommendations"]
    skew_recs = [r for r in recs if r.startswith("skew:")]
    assert len(skew_recs) == 1
    assert "'hot'" in skew_recs[0] and "rows=4000" in skew_recs[0]
    assert "no safe automatic rewrite" in skew_recs[0]
    assert any(
        r.startswith("compact:") and "'frag'" in r and "files=20" in r
        for r in recs
    )

    done = apply_health(spark, tbl)
    by_name = {a["action"]: a for a in done}
    adv = by_name["split_or_salt"]
    assert adv["executed"] is False and adv["partition"] == "hot"
    assert "rows=4000" in adv["reason"]
    compact = by_name["compact"]
    assert compact["executed"] and compact["result"]["partitions_compacted"] == 1

    h2 = table_health(tbl)
    assert not any(
        f["action"] == "compact" for f in h2["partition_findings"]
    )
    again = apply_health(spark, tbl)
    assert [a["action"] for a in again] == ["split_or_salt"]
    assert all(not a["executed"] for a in again)


def test_table_health_stats_and_ndv_coverage(spark, tmp_path):
    from pyspark.sql import functions as F

    from group5_spark.medallion.maintenance import table_health
    from group5_spark.medallion.snapshots import snapshot_commit

    tbl = str(tmp_path / "health2")
    snapshot_commit(
        spark.range(100).select(F.col("id")),
        tbl,
        stats_cols=["id"],
        ndv_cols=["id"],
    )
    h = table_health(tbl)
    assert h["stats_coverage"] == 1.0
    assert not any("stats:" in r or "ndv:" in r for r in h["recommendations"])


def test_snapshot_update_rewrites_only_matching_files(spark, tmp_path):
    """UPDATE WHERE shares the delete's file economics: untouched
    files carry by reference; matching rows transform, non-matching
    rows in the same file copy through unchanged."""
    from pyspark.sql import functions as F

    from group5_spark.medallion.maintenance import snapshot_update
    from group5_spark.medallion.snapshots import (
        snapshot_commit,
        snapshot_manifest,
        snapshot_read,
    )

    tbl = str(tmp_path / "upd_tbl")
    for lo in (0, 100):
        snapshot_commit(
            spark.range(lo, lo + 100).select(
                F.col("id"), F.lit("active").alias("status")
            ).coalesce(1),
            tbl,
            mode="append" if lo else "overwrite",
            stats_cols=["id"],
        )
    before = snapshot_manifest(tbl)
    report = snapshot_update(
        spark, tbl,
        [("id", ">=", 150)],
        {"status": F.lit("archived")},
    )
    assert report["files_rewritten"] == 1 and report["files_carried"] == 1
    after = snapshot_manifest(tbl, report["version"])
    assert len(
        {e["path"] for e in before["files"]} & {e["path"] for e in after["files"]}
    ) == 1
    got = snapshot_read(spark, tbl)
    assert got.count() == 200  # updates preserve row counts
    assert got.filter(F.col("status") == "archived").count() == 50
    # rows in the rewritten file BELOW the predicate copied through
    assert got.filter(
        (F.col("id") >= 100) & (F.col("id") < 150)
        & (F.col("status") == "active")
    ).count() == 50
    # time travel still sees the pre-update state
    old = snapshot_read(spark, tbl, version=before["version"])
    assert old.filter(F.col("status") == "archived").count() == 0


def test_resolve_asof_reads_table_as_of_timestamp(spark, tmp_path):
    from pyspark.sql import functions as F

    from group5_spark.medallion.snapshots import (
        resolve_asof,
        snapshot_commit,
        snapshot_manifest,
        snapshot_read,
    )

    tbl = str(tmp_path / "asof_tbl")
    snapshot_commit(spark.range(10).toDF("id"), tbl)
    t1 = snapshot_manifest(tbl)["ts"]
    snapshot_commit(spark.range(99).toDF("id"), tbl)
    # an instant between the commits resolves to v1
    assert resolve_asof(tbl, t1) == 1
    assert snapshot_read(spark, tbl, asof=t1).count() == 10
    assert snapshot_read(spark, tbl, asof=t1 + 10**9).count() == 99
    import pytest

    with pytest.raises(ValueError, match="first commit is newer"):
        resolve_asof(tbl, 0.0)
    with pytest.raises(ValueError, match="at most one"):
        snapshot_read(spark, tbl, version=1, asof=t1)


def test_compact_snapshot_partitions_rewrites_only_fragmented(spark, tmp_path):
    """Ten tiny commits into day d1 fragment it; day d2 stays healthy.
    Partition-scoped compaction rewrites d1 into few files while d2's
    file entries carry into the new version with identical paths —
    and time travel still reads the pre-compaction layout."""
    from pyspark.sql import functions as F

    from group5_spark.medallion.maintenance import (
        compact_snapshot_partitions,
    )
    from group5_spark.medallion.snapshots import (
        snapshot_commit,
        snapshot_manifest,
        snapshot_read,
    )

    tbl = str(tmp_path / "cpart")
    snapshot_commit(
        spark.createDataFrame([("d2", 0, 0.0)], ["d", "id", "v"]),
        tbl,
        partition_by="d",
    )
    for i in range(10):
        snapshot_commit(
            spark.createDataFrame([("d1", i, float(i))], ["d", "id", "v"]),
            tbl,
            mode="append",
            partition_by="d",
        )
    before = snapshot_manifest(tbl)
    d2_paths = {e["path"] for e in before["files"] if e["partition"] == "d2"}
    out = compact_snapshot_partitions(spark, tbl, min_files_to_compact=2)
    assert out["partitions_compacted"] == 1
    assert out["files_before"] >= 10 and out["files_after"] < out["files_before"]
    after = snapshot_manifest(tbl, out["version"])
    # d2 carried by reference
    assert d2_paths <= {e["path"] for e in after["files"]}
    got = sorted(map(tuple, snapshot_read(spark, tbl).collect()))
    assert len(got) == 11 and ("d2", 0, 0.0) in got
    # pre-compaction version intact
    assert snapshot_read(spark, tbl, version=before["version"]).count() == 11
    # second run: healthy -> no-op
    assert compact_snapshot_partitions(spark, tbl, min_files_to_compact=2) == {}


# ------------------- clustering compaction (OPTIMIZE ZORDER) ---------


def test_sort_clustering_compaction_tightens_pruning(spark, tmp_path):
    """Round-robin-written files each span the full key range, so a
    selective predicate prunes nothing; a sort-clustered compaction
    must rewrite into non-overlapping ranges the manifest stats can
    actually skip — same rows, fewer files opened."""
    import math

    from pyspark.sql import functions as F

    from group5_spark.medallion.maintenance import compact_snapshot
    from group5_spark.medallion.snapshots import (
        prune_files,
        snapshot_commit,
        snapshot_manifest,
        snapshot_read,
    )

    t = str(tmp_path / "tbl")
    snapshot_commit(
        spark.range(4000).repartition(8), t, stats_cols=["id"]
    )
    kept, total = prune_files(t, [("id", ">=", 3900)])
    assert len(kept) == total  # every file overlaps: nothing skips

    nbytes = sum(e["bytes"] for e in snapshot_manifest(t)["files"])
    out = compact_snapshot(
        spark,
        t,
        sort_cols=["id"],
        target_file_bytes=math.ceil(nbytes / 4),
    )
    assert out["version"] == 2
    kept, total = prune_files(t, [("id", ">=", 3900)])
    assert 0 < len(kept) < total
    assert snapshot_manifest(t)["note"]["clustered_by"] == ["id"]
    got = snapshot_read(spark, t, predicates=[("id", ">=", 3900)])
    assert got.count() == 100


def test_zorder_clustering_compaction_skips_on_both_keys(spark, tmp_path):
    """Morton clustering must let BOTH independently-filtered keys
    skip files — a lexicographic sort would only serve the leading
    one. Layout-only rewrite: runs even when the file count is
    healthy."""
    import math

    from pyspark.sql import functions as F

    from group5_spark.medallion.maintenance import compact_snapshot
    from group5_spark.medallion.snapshots import (
        prune_files,
        snapshot_commit,
        snapshot_read,
    )

    t = str(tmp_path / "tbl")
    grid = spark.range(64 * 64).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("long").alias("y")
    )
    snapshot_commit(grid.repartition(8), t, stats_cols=["x", "y"])
    from group5_spark.medallion.snapshots import snapshot_manifest

    nbytes = sum(e["bytes"] for e in snapshot_manifest(t)["files"])
    out = compact_snapshot(
        spark,
        t,
        zorder_cols=["x", "y"],
        target_file_bytes=math.ceil(nbytes / 8),
    )
    assert out["version"] == 2
    kx, total = prune_files(t, [("x", "=", 5)])
    ky, _ = prune_files(t, [("y", "=", 5)])
    assert len(kx) < total and len(ky) < total
    # values intact under the rewrite
    assert snapshot_read(spark, t).count() == 64 * 64
    assert (
        snapshot_read(spark, t, predicates=[("x", "=", 5), ("y", "=", 5)])
        .count()
        == 1
    )


def test_clustering_compaction_rejects_both_modes(spark, tmp_path):
    import pytest

    from group5_spark.medallion.maintenance import compact_snapshot
    from group5_spark.medallion.snapshots import snapshot_commit

    t = str(tmp_path / "tbl")
    snapshot_commit(spark.range(10).toDF("id"), t)
    with pytest.raises(ValueError, match="not both"):
        compact_snapshot(spark, t, sort_cols=["id"], zorder_cols=["id"])


def test_health_flags_overlapping_layout_and_clears_after_clustering(
    spark, tmp_path
):
    """table_health must read the layout problem out of the manifest
    alone: round-robin files overlap ~100% on id → a cluster
    recommendation; after the sort-clustered compaction the overlap
    collapses and the recommendation disappears."""
    import math

    from pyspark.sql import functions as F

    from group5_spark.medallion.maintenance import (
        compact_snapshot,
        table_health,
    )
    from group5_spark.medallion.snapshots import (
        snapshot_commit,
        snapshot_manifest,
    )

    t = str(tmp_path / "tbl")
    snapshot_commit(spark.range(4000).repartition(8), t, stats_cols=["id"])
    h = table_health(t)
    assert h["clustering_overlap"]["id"] > 0.5
    assert any("cluster:" in r for r in h["recommendations"])

    nbytes = sum(e["bytes"] for e in snapshot_manifest(t)["files"])
    compact_snapshot(
        spark, t, sort_cols=["id"], target_file_bytes=math.ceil(nbytes / 4)
    )
    h2 = table_health(t)
    assert h2["clustering_overlap"]["id"] <= 0.5
    assert not any("cluster:" in r for r in h2["recommendations"])


def test_apply_health_converges_the_table(spark, tmp_path):
    """The ops loop end-to-end: a fragmented, badly-clustered,
    history-heavy table → apply_health clusters (subsuming the
    compact), reports the expiry it is NOT allowed to run, runs it
    when allowed — and a second pass finds nothing to do."""
    import math

    from pyspark.sql import functions as F

    from group5_spark.medallion.maintenance import apply_health, table_health
    from group5_spark.medallion.snapshots import (
        snapshot_commit,
        snapshot_versions,
    )

    t = str(tmp_path / "tbl")
    for i in range(12):
        snapshot_commit(
            spark.range(i * 400, (i + 1) * 400).repartition(2),
            t,
            mode="append" if i else "overwrite",
            stats_cols=["id"],
        )
    # dry run: names the work, touches nothing
    planned = apply_health(spark, t, dry_run=True)
    assert planned and all(not a["executed"] for a in planned)
    assert len(snapshot_versions(t)) == 12

    done = apply_health(spark, t)  # expire not allowed by default
    kinds = {a["action"]: a for a in done}
    assert "cluster_compact" in kinds and kinds["cluster_compact"]["executed"]
    assert kinds["cluster_compact"]["column"] == "id"
    assert "expire" in kinds and not kinds["expire"]["executed"]

    h = table_health(t)
    assert not any(r.startswith(("cluster:", "compact:")) for r in h["recommendations"])

    done2 = apply_health(spark, t, expire=True, keep_last=1)
    assert any(a["action"] == "expire" and a["executed"] for a in done2)
    assert len(snapshot_versions(t)) == 1

    assert apply_health(spark, t, expire=True, keep_last=1) == []


def test_partition_scoped_clustering_compaction(spark, tmp_path):
    """sort_cols on the partition compactor clusters WITHIN each
    rewritten partition while healthy partitions carry by reference —
    pruning on (partition, sort-key) predicates tightens, rows are
    intact, and the healthy partition's files are untouched."""
    import math

    from pyspark.sql import functions as F

    from group5_spark.medallion.maintenance import (
        compact_snapshot_partitions,
    )
    from group5_spark.medallion.snapshots import (
        prune_files,
        snapshot_commit,
        snapshot_manifest,
        snapshot_read,
    )

    t = str(tmp_path / "tbl")
    # partition a: ONE healthy file; partition b: 8 shuffled files
    a = spark.range(0, 500).select(
        F.lit("a").alias("p"), F.col("id")
    ).coalesce(1)
    snapshot_commit(a, t, partition_by="p", stats_cols=["id"])
    b = spark.range(0, 4000).select(
        F.lit("b").alias("p"), F.col("id")
    ).repartition(8)
    snapshot_commit(b, t, mode="append", partition_by="p", stats_cols=["id"])

    kept, total = prune_files(t, [("p", "=", "b"), ("id", ">=", 3900)])
    assert len(kept) == 8  # round-robin: every b file overlaps

    m1 = snapshot_manifest(t)
    b_bytes = sum(
        e["bytes"] for e in m1["files"] if e.get("partition") == "b"
    )
    a_files_before = {
        e["path"] for e in m1["files"] if e.get("partition") == "a"
    }
    out = compact_snapshot_partitions(
        spark, t,
        sort_cols=["id"],
        target_file_bytes=math.ceil(b_bytes / 4),
    )
    assert out["partitions_compacted"] == 1
    m2 = snapshot_manifest(t)
    assert m2["note"]["clustered_by"] == ["id"]
    # healthy partition carried by reference
    assert {
        e["path"] for e in m2["files"] if e.get("partition") == "a"
    } == a_files_before
    kept, _ = prune_files(t, [("p", "=", "b"), ("id", ">=", 3900)])
    assert 0 < len(kept) < 8
    got = snapshot_read(
        spark, t, predicates=[("p", "=", "b"), ("id", ">=", 3900)]
    )
    assert got.count() == 100
    assert snapshot_read(spark, t).count() == 4500


def test_health_reports_constraints(spark, tmp_path):
    from group5_spark.medallion.maintenance import table_health
    from group5_spark.medallion.snapshots import snapshot_commit

    t = str(tmp_path / "tbl")
    snapshot_commit(
        spark.range(1, 5).toDF("id"), t, constraints={"pos_id": "id > 0"}
    )
    assert table_health(t)["constraints"] == ["pos_id"]


def test_compact_snapshot_preserves_partition_layout(spark, tmp_path):
    """Regression: a whole-table (clustering) compaction of a
    PARTITIONED table must keep partition_by and partition pruning —
    an overwrite without it would silently de-partition the table."""
    import math

    from pyspark.sql import functions as F

    from group5_spark.medallion.maintenance import compact_snapshot
    from group5_spark.medallion.snapshots import (
        prune_files,
        snapshot_commit,
        snapshot_manifest,
        snapshot_read,
    )

    t = str(tmp_path / "tbl")
    df = spark.range(0, 2000).select(
        (F.col("id") % 2).cast("string").alias("p"), F.col("id")
    )
    snapshot_commit(df.repartition(8), t, partition_by="p", stats_cols=["id"])
    nbytes = sum(e["bytes"] for e in snapshot_manifest(t)["files"])
    out = compact_snapshot(
        spark, t, sort_cols=["id"], target_file_bytes=math.ceil(nbytes / 4)
    )
    assert out["version"] == 2
    m = snapshot_manifest(t)
    assert m["partition_by"] == "p"
    assert all("partition" in e for e in m["files"])
    kept, total = prune_files(t, [("p", "=", "1")])
    assert 0 < len(kept) < total
    assert snapshot_read(spark, t, predicates=[("p", "=", "1")]).count() == 1000


def test_apply_health_repairs_stats_on_healthy_file_counts(spark, tmp_path):
    """A table whose file count is healthy but whose files carry no
    stats gets a FORCED stats-recording rewrite — the heal loop
    converges instead of no-op'ing forever."""
    from group5_spark.medallion.maintenance import apply_health, table_health
    from group5_spark.medallion.snapshots import snapshot_commit

    t = str(tmp_path / "tbl")
    snapshot_commit(spark.range(2000).coalesce(2), t)  # no stats_cols
    h = table_health(t)
    assert any(r.startswith("stats:") for r in h["recommendations"])

    done = apply_health(spark, t)
    assert any(
        a["action"] == "compact" and a["executed"] and a["result"]
        for a in done
    )
    h2 = table_health(t)
    assert h2["stats_coverage"] == 1.0
    assert not any(r.startswith("stats:") for r in h2["recommendations"])


def test_compact_snapshot_partitions_on_fragmented_clone(spark, tmp_path):
    """Partition-scoped compaction of a CLONE: the clone's manifest
    references the source's files by ABSOLUTE path, so basePath
    derivation must use the cloned-entry fallback (the staging dir
    above the col=value dir) — grouping by Path.parts[0] would yield
    basePath "/" and mis-derive any 'key=value' ancestor directory as
    a phantom partition column. The ancestor dir here ('exp=1') is
    adversarial on purpose."""
    from pyspark.sql import functions as F

    from group5_spark.medallion.maintenance import (
        compact_snapshot_partitions,
    )
    from group5_spark.medallion.snapshots import (
        snapshot_clone,
        snapshot_commit,
        snapshot_read,
    )

    base = tmp_path / "exp=1"
    base.mkdir()
    src = str(base / "src")
    clone = str(base / "clone")

    def day_df(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id"),
            (F.col("id") % 2).cast("string").alias("day"),
        )

    snapshot_commit(day_df(0, 40), src, partition_by="day")
    snapshot_clone(src, clone)
    # fragment the CLONE with several small partitioned appends — the
    # fragmented partitions now mix cloned (absolute) and local
    # (relative) entries
    for lo in range(100, 130, 10):
        snapshot_commit(
            day_df(lo, lo + 10), clone, mode="append", partition_by="day"
        )
    before = {
        (r["id"], r["day"])
        for r in snapshot_read(spark, clone).collect()
    }
    out = compact_snapshot_partitions(
        spark, clone, target_file_bytes=1 << 30, min_files_to_compact=1
    )
    assert out["partitions_compacted"] == 2
    after_df = snapshot_read(spark, clone)
    # no phantom partition columns, same rows, partition col intact
    assert set(after_df.columns) == {"id", "day"}
    assert {
        (r["id"], r["day"]) for r in after_df.collect()
    } == before
    # the source is untouched
    assert snapshot_read(spark, src).count() == 40


def test_partition_named_previous_spec_survives_migration(spark, tmp_path):
    """Round-6 ADVICE (low): a real partition literally named
    '__previous_spec__' used to collide with the migrate group's
    string sentinel in compact_snapshot_partitions — its fragmented[]
    slot was overwritten and its entries neither carried nor rewritten
    (dropped from the new manifest). The sentinel is now a non-string
    object; both groups must survive the same compaction pass."""
    from group5_spark.medallion.maintenance import (
        compact_snapshot_partitions,
    )
    from group5_spark.medallion.snapshots import (
        snapshot_commit,
        snapshot_read,
    )

    t = str(tmp_path / "tbl")
    df1 = spark.createDataFrame(
        [(i, "old", float(i)) for i in range(20)],
        "id int, grp string, val double",
    )
    snapshot_commit(df1, t, partition_by="grp", stats_cols=["id"])
    # evolve to partition by `name`, with the poisoned value itself
    # fragmented (many small appends)
    for lo in range(0, 30, 10):
        df2 = spark.createDataFrame(
            [
                (100 + lo + i, "old", float(i), "__previous_spec__")
                for i in range(10)
            ],
            "id int, grp string, val double, name string",
        )
        snapshot_commit(
            df2,
            t,
            mode="append",
            partition_by="name",
            **({"evolve_partitioning": True} if lo == 0 else {}),
        )
    before = {
        r["id"] for r in snapshot_read(spark, t).select("id").collect()
    }
    assert len(before) == 50
    r = compact_snapshot_partitions(
        spark, t, target_file_bytes=1 << 30, min_files_to_compact=2
    )
    # both the migrate group AND the real '__previous_spec__' value
    # partition compacted — two groups, zero dropped rows
    assert r["partitions_compacted"] == 2
    after = {
        r["id"] for r in snapshot_read(spark, t).select("id").collect()
    }
    assert after == before


def test_migrate_group_with_sort_cols_avoids_file_blowup(spark, tmp_path):
    """Round-6 ADVICE (low): with sort_cols, the migrate group used to
    take the generic repartitionByRange branch — each of the `needed`
    range tasks spans many partition values, so the partitionBy write
    emitted up to needed × |values| files. The migrate group must hash
    by the partition column first (one file per value), sorting only
    within partitions."""
    from group5_spark.medallion.maintenance import (
        compact_snapshot_partitions,
    )
    from group5_spark.medallion.snapshots import (
        snapshot_commit,
        snapshot_manifest,
        snapshot_read,
    )

    t = str(tmp_path / "tbl")
    df1 = spark.createDataFrame(
        [(i, i % 4, i % 3, float(i)) for i in range(4000)],
        "id int, p1 int, p2 int, val double",
    )
    snapshot_commit(df1, t, partition_by="p1", stats_cols=["id"])
    snapshot_commit(
        spark.createDataFrame(
            [(9000, 0, 0, 0.0)], "id int, p1 int, p2 int, val double"
        ),
        t,
        mode="append",
        partition_by="p2",
        evolve_partitioning=True,
    )
    before = snapshot_read(spark, t).count()
    # tiny target → needed >> 1 for the migrate group; only it is
    # unhealthy (min_files_to_compact keeps value groups out)
    r = compact_snapshot_partitions(
        spark,
        t,
        target_file_bytes=8 * 1024,
        min_files_to_compact=64,
        sort_cols=["id"],
    )
    assert r["partitions_compacted"] == 1
    m = snapshot_manifest(t)
    migrated = [
        e for e in m["files"] if e.get("partition_col", "p2") == "p2"
        and e.get("seq") == m["last_seq"]
    ]
    # hash-by-p2 keeps one task per value: ≤ |p2 values| = 3 new files
    # (the buggy range branch emitted needed × 3)
    assert 0 < len(migrated) <= 3
    assert snapshot_read(spark, t).count() == before


def test_snapshot_purge_ids_erasure_across_derived_tables(spark, tmp_path):
    """Right-to-erasure purge (round 12): one call retires an explicit
    id set from the corpus AND every derived index — deleting the
    document row alone is not erasure while its words live on in the
    containment postings and its spans in the span index. Each table
    gets one file-pruned merge-delete, the erasure is verified
    (re-read finds nothing), the commits are note-audited, and a
    re-run with the same ids is a no-op."""
    import pytest
    from pyspark.sql import functions as F

    from group5_spark.extensions.dedup import (
        containment_index_build,
        lsh_band_buckets,
    )
    from group5_spark.medallion.maintenance import snapshot_purge_ids
    from group5_spark.medallion.snapshots import (
        latest_note,
        snapshot_commit,
        snapshot_read,
    )

    docs = spark.createDataFrame(
        [
            (i, " ".join(f"w{i}_{j}" for j in range(8)))
            for i in range(40)
        ],
        ["doc_id", "text"],
    )
    corpus = str(tmp_path / "corpus")
    cont_idx = str(tmp_path / "cont_idx")
    lsh_idx = str(tmp_path / "lsh_idx")
    # range-clustered layout: the doomed ids live in a few files and
    # manifest min/max pruning can prove the rest untouched
    snapshot_commit(
        docs.repartitionByRange(4, "doc_id"), corpus,
        stats_cols=["doc_id"],
    )
    snapshot_commit(
        containment_index_build(docs, threshold=0.9).repartition(4, "id"),
        cont_idx,
        stats_cols=["id"],
    )
    snapshot_commit(
        lsh_band_buckets(docs).repartition(4, "id"),
        lsh_idx,
        stats_cols=["id"],
    )

    doomed = [3, 17, 29]
    tables = [(corpus, "doc_id"), (cont_idx, "id"), (lsh_idx, "id")]
    out = snapshot_purge_ids(
        spark, doomed, tables, note={"ticket": "DMCA-123"},
    )
    # corpus: 3 docs; indexes: their word/span rows
    assert out["rows_deleted"] > 3
    for path, id_col in tables:
        got = snapshot_read(spark, path)
        assert got.where(F.col(id_col).isin(doomed)).count() == 0
        n = latest_note(path)
        assert n["op"] == "purge_ids" and n["ticket"] == "DMCA-123"
    # survivors intact
    assert snapshot_read(spark, corpus).count() == 37
    # file pruning engaged: untouched files carried by reference
    assert out["tables"][corpus]["files_carried"] > 0
    # idempotent: a healing re-run deletes nothing and still verifies
    again = snapshot_purge_ids(spark, doomed, tables)
    assert again["rows_deleted"] == 0

    # ids as a one-column DataFrame, deleting via a DV sidecar
    more = spark.createDataFrame([(5,), (11,)], ["doc_id"])
    out2 = snapshot_purge_ids(
        spark, more, [(corpus, "doc_id")], dv_threshold=1.0
    )
    assert out2["rows_deleted"] == 2
    assert (
        snapshot_read(spark, corpus).where("doc_id in (5, 11)").count()
        == 0
    )

    # guard rails: absent table raises unless missing_ok; empty ids,
    # multi-column frames, and unknown id columns are loud
    missing = str(tmp_path / "never_built")
    with pytest.raises(FileNotFoundError, match="missing_ok"):
        snapshot_purge_ids(spark, [1], [(missing, "doc_id")])
    skipped = snapshot_purge_ids(
        spark, [1], [(missing, "doc_id")], missing_ok=True
    )
    assert skipped["tables"][missing] == "absent"
    with pytest.raises(ValueError, match="empty"):
        snapshot_purge_ids(spark, [], [(corpus, "doc_id")])
    with pytest.raises(ValueError, match="one column"):
        snapshot_purge_ids(spark, docs, [(corpus, "doc_id")])
    with pytest.raises(ValueError, match="no column"):
        snapshot_purge_ids(spark, [1], [(corpus, "nope")])


def _unreferenced_staging(t: str) -> list[str]:
    """data-*/dv-* dirs holding parquet bytes that no manifest (published
    or orphan) references — what a lost commit race must never leave."""
    import json
    from pathlib import Path

    root = Path(t)
    referenced = set()
    for m in (root / "_manifests").glob("v*.json"):
        man = json.loads(m.read_text())
        for e in man["files"]:
            referenced.add(Path(e["path"]).parts[0])
            if e.get("dv"):
                referenced.add(Path(e["dv"]["sidecar"]).parts[0])
    return sorted(
        d.name
        for pat in ("data-*", "dv-*")
        for d in root.glob(pat)
        if d.name not in referenced and any(d.rglob("*.parquet"))
    )


@pytest.mark.parametrize(
    "op,dv",
    [
        ("delete", None), ("delete", 0.9),
        ("update", None), ("update", 0.9),
        ("merge", None), ("merge", 0.9),
        ("compact", None), ("compact_partitions", None),
        ("compact_masks", None),
    ],
)
def test_rmw_retries_past_racing_append(spark, tmp_path, monkeypatch, op, dv):
    """Every snapshot read-modify-write, in both write modes: an append
    landing between the op's head read and its commit makes the commit
    raise SnapshotConflict; the op re-runs on the new head, the racing
    rows survive, and the losing attempt leaves no staged bytes behind."""
    from pyspark.sql import functions as F

    from group5_spark.medallion import snapshots as snap
    from group5_spark.medallion.maintenance import (
        compact_snapshot,
        compact_snapshot_masks,
        compact_snapshot_partitions,
        snapshot_delete,
        snapshot_merge,
        snapshot_update,
    )

    t = str(tmp_path / "t")
    part = "p" if op == "compact_partitions" else None
    base = spark.range(100).select(
        "id", (F.col("id") % 2).alias("p"), F.lit("v").alias("v")
    )
    snap.snapshot_commit(
        base.repartitionByRange(4, "id"), t, stats_cols=["id"],
        partition_by=part,
    )
    if op == "compact_masks":
        snapshot_delete(spark, t, [("id", "<", 3)], dv_threshold=0.9)
    racing_rows = spark.createDataFrame(
        [(10_000, 0, "race")], "id long, p long, v string"
    )
    real_commit = snap.snapshot_commit
    calls = {"rmw": 0}

    def racing(df, path_, **kw):
        if kw.get("expected_parent") is not None:
            calls["rmw"] += 1
            if calls["rmw"] == 1:
                real_commit(racing_rows, path_, mode="append", partition_by=part)
        return real_commit(df, path_, **kw)

    monkeypatch.setattr(snap, "snapshot_commit", racing)
    if op == "delete":
        out = snapshot_delete(spark, t, [("id", "<", 3)], dv_threshold=dv)
        assert out["rows_deleted"] == 3
    elif op == "update":
        snapshot_update(
            spark, t, [("id", "<", 3)], {"v": F.lit("u")}, dv_threshold=dv
        )
    elif op == "merge":
        src = spark.createDataFrame(
            [(1, 1, "m"), (500, 0, "new")], "id long, p long, v string"
        )
        out = snapshot_merge(spark, t, src, ["id"], dv_threshold=dv)
        assert (out["updated"], out["inserted"]) == (1, 1)
    elif op == "compact":
        assert compact_snapshot(spark, t)
    elif op == "compact_partitions":
        assert compact_snapshot_partitions(spark, t)
    else:
        assert compact_snapshot_masks(spark, t)["dv_files"] == 1
    monkeypatch.setattr(snap, "snapshot_commit", real_commit)

    assert calls["rmw"] == 2  # the raced attempt, then the retry
    got = {
        r["id"]: r["v"] for r in snap.snapshot_read(spark, t).collect()
    }
    assert got[10_000] == "race"  # the racing append survived
    if op in ("delete", "compact_masks"):
        assert len(got) == 98 and not {0, 1, 2} & set(got)
    elif op == "update":
        assert len(got) == 101 and got[0] == got[2] == "u"
    elif op == "merge":
        assert len(got) == 102 and got[1] == "m" and got[500] == "new"
    else:
        assert len(got) == 101
    assert _unreferenced_staging(t) == []


@pytest.fixture(scope="module")
def dv_partitioned_tables(spark, tmp_path_factory):
    """``{2: (path, rows), 16: (path, rows)}``: the same 1,920 rows
    over 2 or 16 partitions, written by 8 single-file appends per
    partition (every partition fragmented), then a quarter of the rows
    deleted under deletion vectors (every file partly masked)."""
    from pyspark.sql import functions as F

    from group5_spark.medallion.maintenance import snapshot_delete
    from group5_spark.medallion.snapshots import snapshot_commit, snapshot_read

    out = {}
    for n_parts in (2, 16):
        t = str(tmp_path_factory.mktemp("sizing") / f"p{n_parts}")
        for i in range(8):
            df = spark.range(i * 240, (i + 1) * 240).select(
                "id",
                (F.col("id") % n_parts).cast("string").alias("p"),
                F.sha2(F.col("id").cast("string"), 256).alias("s"),
                ((F.col("id") / 32).cast("long") % 4).alias("q"),
            )
            snapshot_commit(
                df.repartition(1, "p"), t, mode="append" if i else "overwrite",
                partition_by="p", stats_cols=["id"],
            )
        snapshot_delete(spark, t, [("q", "=", 0)], dv_threshold=0.9)
        out[n_parts] = t, sorted(map(tuple, snapshot_read(spark, t).collect()))
    return out


class _Planned(Exception):
    """Raised in place of the commit once the frame is captured."""


@pytest.mark.parametrize(
    "op", ["force", "sort_cols", "zorder_cols", "partitions", "masks"]
)
def test_compactions_share_one_per_partition_sizing_rule(
    spark, tmp_path, monkeypatch, dv_partitioned_tables, op
):
    """Every compaction sizes each rewritten partition by its own live
    bytes (manifest bytes scaled by unmasked rows): at most
    Σ_p ceil(live_p / target) + |P| new files — a rewrite whose tasks
    span every partition value writes up to tasks × |P| — and, with
    each partition holding ~4× the target, more than one file per
    partition (hashing a partition to one task writes one oversized
    file). Same rows before and after. The frame handed to the commit
    core scans as many relations for 16 rewritten partitions as for 2
    (no per-partition union branch); the 2-partition run stops at the
    commit, once planned."""
    import math
    import shutil

    from group5_spark.medallion import maintenance as mt
    from group5_spark.medallion.snapshots import (
        entry_rows,
        snapshot_manifest,
        snapshot_read,
    )

    real = mt._dml_commit

    def live(entries) -> float:
        return sum(e["bytes"] * entry_rows(e) / e["rows"] for e in entries)

    def compaction(t: str, n_parts: int, commit: bool):
        frames = []

        def capture(spark_, root, head, touched, carried, frame, *a, **kw):
            frames.append(frame)
            if not commit:
                raise _Planned
            return real(spark_, root, head, touched, carried, frame, *a, **kw)

        target = math.ceil(live(snapshot_manifest(t)["files"]) / (4 * n_parts))
        monkeypatch.setattr(mt, "_dml_commit", capture)
        out = None
        try:
            if op == "partitions":
                out = mt.compact_snapshot_partitions(
                    spark, t, target_file_bytes=target
                )
            elif op == "masks":
                out = mt.compact_snapshot_masks(
                    spark, t, target_file_bytes=target
                )
            else:
                kw = {
                    "force": {"force": True},
                    "sort_cols": {"sort_cols": ["id"]},
                    "zorder_cols": {"zorder_cols": ["id", "q"]},
                }[op]
                out = mt.compact_snapshot(
                    spark, t, target_file_bytes=target, **kw
                )
        except _Planned:
            pass
        finally:
            monkeypatch.setattr(mt, "_dml_commit", real)
        assert len(frames) == 1
        plan = frames[0]._jdf.queryExecution().analyzed().toString()
        return out, target, plan.count("Relation [")

    _, _, scans2 = compaction(dv_partitioned_tables[2][0], 2, commit=False)

    base, rows = dv_partitioned_tables[16]
    t = str(tmp_path / "t")
    shutil.copytree(base, t)
    before = snapshot_manifest(t)
    out, target, scans16 = compaction(t, 16, commit=True)
    assert scans2 == scans16 > 0, (scans2, scans16)

    after = snapshot_manifest(t, out["version"])
    kept = {e["path"] for e in after["files"]}
    rewritten: dict = {}
    for e in before["files"]:
        if e["path"] not in kept:
            rewritten.setdefault(e["partition"], []).append(e)
    assert len(rewritten) == 16
    new = [e for e in after["files"] if e["seq"] == after["last_seq"]]
    bound = sum(
        math.ceil(live(es) / target) for es in rewritten.values()
    ) + len(rewritten)
    assert 0 < len(new) <= bound, (len(new), bound)
    per_part = {p: sum(e["partition"] == p for e in new) for p in rewritten}
    assert min(per_part.values()) > 1, per_part
    assert sorted(map(tuple, snapshot_read(spark, t).collect())) == rows
