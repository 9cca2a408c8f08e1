"""Incremental aggregate maintenance (medallion.incremental):
changed-partition-only refresh equals the full rebuild."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from group5_spark.medallion.incremental import refresh_aggregate, replace_partitions


def _orders(spark, rows):
    return spark.createDataFrame(rows, ["okey", "d", "price"])


def _build(df):
    return df.groupBy("d").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("price").cast("decimal(18,2)")).cast("decimal(18,2)").alias("rev"),
        F.count_distinct("okey").alias("n_keys"),  # non-subtractable agg
    )


BASE = [
    (1, "2024-01-01", 10.0),
    (2, "2024-01-01", 20.0),
    (3, "2024-01-02", 30.0),
    (4, "2024-01-03", 40.0),
]


def _read_agg(spark, path):
    return {
        str(r["d"]): (r["n_orders"], str(r["rev"]), r["n_keys"])
        for r in spark.read.parquet(path).collect()
    }


def test_incremental_refresh_equals_full_rebuild(spark, tmp_path):
    fact_path = str(tmp_path / "fact")
    agg_path = str(tmp_path / "agg")
    _orders(spark, BASE).write.partitionBy("d").parquet(fact_path)
    full = _build(spark.read.parquet(fact_path))
    full.write.partitionBy("d").parquet(agg_path)

    # a change batch lands for 01-01 only: one new order
    batch = [(5, "2024-01-01", 5.0)]
    _orders(spark, batch).write.mode("append").partitionBy("d").parquet(fact_path)

    untouched = sorted(os.listdir(os.path.join(agg_path, "d=2024-01-03")))
    replaced = refresh_aggregate(
        spark,
        spark.read.parquet(fact_path),
        agg_path,
        "d",
        _build,
        ["2024-01-01"],
    )
    assert replaced == ["d=2024-01-01"]
    # other agg partitions physically untouched
    assert sorted(os.listdir(os.path.join(agg_path, "d=2024-01-03"))) == untouched

    # incremental result == full rebuild from the updated fact
    expect = {
        str(r["d"]): (r["n_orders"], str(r["rev"]), r["n_keys"])
        for r in _build(spark.read.parquet(fact_path)).collect()
    }
    assert _read_agg(spark, agg_path) == expect
    assert _read_agg(spark, agg_path)["2024-01-01"] == (3, "35.00", 3)


def test_replace_partitions_only_named(spark, tmp_path):
    path = str(tmp_path / "t")
    _orders(spark, BASE).write.partitionBy("d").parquet(path)
    fresh = _orders(spark, [(9, "2024-01-02", 99.0)])
    replaced = replace_partitions(spark, path, fresh, "d")
    assert replaced == ["d=2024-01-02"]
    got = {
        (str(r["d"]), r["okey"]) for r in spark.read.parquet(path).collect()
    }
    # 01-02 now holds only the fresh row; 01-01/01-03 untouched
    assert got == {
        ("2024-01-01", 1),
        ("2024-01-01", 2),
        ("2024-01-02", 9),
        ("2024-01-03", 4),
    }


# ---------------------------------------------------------------------------
# File-diff IVM: refresh cost proportional to changed files
# ---------------------------------------------------------------------------


def _full_rebuild(spark, base, group_cols, sum_cols):
    from group5_spark.medallion.snapshots import snapshot_read

    return {
        tuple(r[c] for c in group_cols): (
            *[r[f"s_{c}"] for c in sum_cols],
            r["n"],
        )
        for r in snapshot_read(spark, base)
        .groupBy(*group_cols)
        .agg(
            *[F.sum(c).alias(f"s_{c}") for c in sum_cols],
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }


def _mv_rows(spark, mv_path, group_cols, sum_cols):
    from group5_spark.medallion.snapshots import snapshot_read

    return {
        tuple(r[c] for c in group_cols): (
            *[r[f"sum_{c}"] for c in sum_cols],
            r["n_rows"],
        )
        for r in snapshot_read(spark, mv_path).collect()
    }


def test_ivm_append_reads_only_new_files_and_matches_rebuild(spark, tmp_path):
    from group5_spark.medallion.incremental import ivm_init, ivm_refresh
    from group5_spark.medallion.snapshots import snapshot_commit

    base = str(tmp_path / "base")
    mv = str(tmp_path / "mv")
    day1 = spark.createDataFrame(
        [("a", 10.0), ("a", 5.0), ("b", 1.0)], ["seg", "amount"]
    )
    snapshot_commit(day1.coalesce(1), base)
    ivm_init(spark, base, mv, ["seg"], ["amount"])
    assert _mv_rows(spark, mv, ["seg"], ["amount"]) == {
        ("a",): (15.0, 2), ("b",): (1.0, 1),
    }
    # append one file: refresh must read exactly that one file
    day2 = spark.createDataFrame([("b", 4.0), ("c", 7.0)], ["seg", "amount"])
    snapshot_commit(day2.coalesce(1), base, mode="append")
    report = ivm_refresh(spark, base, mv, ["seg"], ["amount"])
    assert report["files_added"] == 1 and report["files_removed"] == 0
    assert _mv_rows(spark, mv, ["seg"], ["amount"]) == _full_rebuild(
        spark, base, ["seg"], ["amount"]
    )
    # no base change -> no new MV commit
    again = ivm_refresh(spark, base, mv, ["seg"], ["amount"])
    assert again["files_added"] == 0
    assert again["mv_version"] == report["mv_version"]


def test_ivm_overwrite_retracts_and_drops_empty_groups(spark, tmp_path):
    from group5_spark.medallion.incremental import ivm_init, ivm_refresh
    from group5_spark.medallion.snapshots import snapshot_commit

    base = str(tmp_path / "base_ow")
    mv = str(tmp_path / "mv_ow")
    snapshot_commit(
        spark.createDataFrame(
            [("a", 10.0), ("b", 2.0), ("b", 3.0)], ["seg", "amount"]
        ).coalesce(1),
        base,
    )
    ivm_init(spark, base, mv, ["seg"], ["amount"])
    # overwrite: 'b' disappears entirely, 'a' changes, 'c' appears
    snapshot_commit(
        spark.createDataFrame(
            [("a", 1.0), ("c", 9.0)], ["seg", "amount"]
        ).coalesce(1),
        base,
    )
    report = ivm_refresh(spark, base, mv, ["seg", ], ["amount"])
    assert report["files_removed"] >= 1
    got = _mv_rows(spark, mv, ["seg"], ["amount"])
    assert got == {("a",): (1.0, 1), ("c",): (9.0, 1)}  # 'b' dropped


def test_refresh_aggregate_routes_through_snapshot_commits(spark, tmp_path):
    """A snapshot-table aggregate target auto-routes the partition
    swap through snapshot_commit(mode='replace_partitions'): the
    replace is ONE atomic manifest flip with time travel, not a
    sequence of directory renames. Readers can never observe a
    half-replaced partition set — mid-'replace' state (staged files +
    manifest, chain link not yet claimed) still reads as the complete
    old version."""
    import json
    from pathlib import Path

    from group5_spark.medallion.snapshots import (
        snapshot_commit,
        snapshot_manifest,
        snapshot_read,
    )

    agg = str(tmp_path / "agg_snap")
    snapshot_commit(
        spark.createDataFrame(
            [("d1", 10.0, 1), ("d2", 20.0, 1)], ["d", "sum_v", "n"]
        ),
        agg,
        partition_by="d",
    )
    fact = spark.createDataFrame(
        [("d1", 4.0), ("d1", 5.0), ("d2", 99.0)], ["d", "v"]
    )

    def build(df):
        return df.groupBy("d").agg(
            F.sum("v").alias("sum_v"), F.count(F.lit(1)).alias("n")
        )

    replaced = refresh_aggregate(spark, fact, agg, "d", build, ["d1"])
    assert replaced == ["d=d1"]
    head = sorted(map(tuple, snapshot_read(spark, agg).collect()))
    assert head == [("d1", 9.0, 2), ("d2", 20.0, 1)]
    # snapshot isolation: the pre-restatement version is intact
    v1 = sorted(map(tuple, snapshot_read(spark, agg, version=1).collect()))
    assert v1 == [("d1", 10.0, 1), ("d2", 20.0, 1)]

    # crash injection: a replace that staged data + manifest but died
    # before claiming the chain link is INVISIBLE — readers still see
    # the complete version-2 table, not a mix
    root = Path(agg)
    head_m = snapshot_manifest(agg)
    orphan = dict(head_m, version=head_m["version"] + 1, files=[])
    (root / "_manifests" / f"v{head_m['version'] + 1:05d}.json").write_text(
        json.dumps(orphan)
    )
    still = sorted(map(tuple, snapshot_read(spark, agg).collect()))
    assert still == head


def test_ivm_random_commit_sequence_matches_rebuild(spark, tmp_path):
    """Property: after ANY interleaving of append/overwrite commits,
    ivm_refresh equals a from-scratch rebuild (deterministic seed)."""
    import random

    from group5_spark.medallion.incremental import ivm_init, ivm_refresh
    from group5_spark.medallion.snapshots import snapshot_commit

    rng = random.Random(11)
    base = str(tmp_path / "prop_base")
    mv = str(tmp_path / "prop_mv")
    segs = ["a", "b", "c", "d"]

    def batch(n):
        return spark.createDataFrame(
            [(rng.choice(segs), float(rng.randint(1, 50))) for _ in range(n)],
            ["seg", "amount"],
        ).coalesce(rng.randint(1, 3))

    snapshot_commit(batch(20), base)
    ivm_init(spark, base, mv, ["seg"], ["amount"])
    for _ in range(6):
        mode = rng.choice(["append", "append", "overwrite"])
        snapshot_commit(batch(rng.randint(5, 25)), base, mode=mode)
        ivm_refresh(spark, base, mv, ["seg"], ["amount"])
        assert _mv_rows(spark, mv, ["seg"], ["amount"]) == _full_rebuild(
            spark, base, ["seg"], ["amount"]
        )


def test_ivm_composes_with_file_pruned_delete(spark, tmp_path):
    """snapshot_delete rewrites only touched files; the manifest file
    diff turns that into exact retractions for an incrementally
    maintained aggregate — the MV after refresh equals a from-scratch
    rebuild, including a group dropping to zero."""
    from group5_spark.medallion.incremental import ivm_init, ivm_refresh
    from group5_spark.medallion.maintenance import snapshot_delete
    from group5_spark.medallion.snapshots import snapshot_commit, snapshot_read

    base = str(tmp_path / "dml_base")
    mv = str(tmp_path / "dml_mv")
    snapshot_commit(
        spark.createDataFrame(
            [("a", 1.0), ("a", 2.0), ("b", 5.0), ("c", 9.0)],
            ["seg", "amount"],
        ).coalesce(1),
        base,
        stats_cols=["seg"],
    )
    ivm_init(spark, base, mv, ["seg"], ["amount"])
    report = snapshot_delete(spark, base, [("seg", "=", "c")])
    assert report["rows_deleted"] == 1
    out = ivm_refresh(spark, base, mv, ["seg"], ["amount"])
    assert out["files_removed"] >= 1
    got = {
        r["seg"]: (r["sum_amount"], r["n_rows"])
        for r in snapshot_read(spark, mv).collect()
    }
    assert got == {"a": (3.0, 2), "b": (5.0, 1)}  # 'c' retracted away
