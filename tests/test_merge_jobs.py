"""The cost of one snapshot MERGE: the Spark jobs it runs, the files it
writes, and the counts it reports (``maintenance.snapshot_merge`` over
the ``_dml_commit`` core), plus the DML fixes that ride on the same
observed counts."""

from __future__ import annotations

import json
import uuid
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from group5_spark.medallion.maintenance import (
    snapshot_delete,
    snapshot_eq_delete,
    snapshot_merge,
)
from group5_spark.medallion.snapshots import (
    snapshot_commit,
    snapshot_manifest,
    snapshot_read,
)
from group5_spark.streaming import jobs


def _count_jobs(spark, fn):
    """``fn()``'s result and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    group = f"merge-jobs-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(spark, t):
    return {r["id"]: (r["v"], r["seq"]) for r in snapshot_read(spark, t).collect()}


def _ranged_table(spark, t, bounds, **kw):
    """One snapshot file per ``[lo, hi)`` id range, stats (and a bloom)
    on ``id``."""
    for i, (lo, hi) in enumerate(bounds):
        snapshot_commit(
            spark.range(lo, hi)
            .select("id", F.lit("v").alias("v"), F.lit(1).cast("long").alias("seq"))
            .coalesce(1),
            t,
            mode="append" if i else "overwrite",
            stats_cols=["id"],
            bloom_cols=["id"],
            **kw,
        )


def _batch(spark, updates, inserts, v="new"):
    return spark.createDataFrame(
        [(i, v, 2) for i in list(updates) + list(inserts)],
        "id long, v string, seq long",
    )


def test_probe_shape_merge_runs_in_four_jobs(spark, tmp_path):
    """A 400-row batch (300 updates, 100 inserts) into a 15,000-row,
    8-file table with stats and a bloom on the key: one bounded source
    probe plus the join's two shuffle stages and the write — with the
    default duplicate-key validation on."""
    t = str(tmp_path / "t")
    snapshot_commit(
        spark.range(15000)
        .select("id", F.lit("v").alias("v"), F.lit(1).cast("long").alias("seq"))
        .repartitionByRange(8, "id"),
        t, stats_cols=["id"], bloom_cols=["id"],
    )
    assert len(snapshot_manifest(t)["files"]) == 8
    src = _batch(spark, range(0, 1800, 6), range(15000, 15100))
    out, n_jobs = _count_jobs(spark, lambda: snapshot_merge(spark, t, src, ["id"]))
    assert (out["inserted"], out["updated"], out["deleted"]) == (100, 300, 0)
    assert n_jobs <= 4, n_jobs
    assert len(_rows(spark, t)) == 15100


def test_one_file_touch_writes_one_file(spark, tmp_path):
    """The rewrite is sized from the touched files' bytes, not from the
    shuffle-partition count: a batch whose keys live in one file
    replaces that file with one file."""
    t = str(tmp_path / "t")
    _ranged_table(spark, t, [(0, 100), (100, 200), (200, 300)])
    before = {e["path"] for e in snapshot_manifest(t)["files"]}
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    try:
        out = snapshot_merge(
            spark, t, _batch(spark, range(110, 150, 2), [150, 151]), ["id"]
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert out["files_rewritten"] == 1 and out["files_carried"] == 2
    staged = [e for e in snapshot_manifest(t)["files"] if e["path"] not in before]
    assert len(staged) == 1
    assert len(_rows(spark, t)) == 300


def test_duplicate_source_keys_still_raise(spark, tmp_path):
    """The folded probe keeps the duplicate-key contract: on an existing
    table, on an absent one, and past ``key_probe_limit`` (the
    aggregate fallback); ``validate_source_keys=False`` skips it."""
    t = str(tmp_path / "t")
    _ranged_table(spark, t, [(0, 50)])
    dup = _batch(spark, [3, 3, 4], [])
    with pytest.raises(ValueError, match="duplicate key"):
        snapshot_merge(spark, t, dup, ["id"])
    with pytest.raises(ValueError, match="duplicate key"):
        snapshot_merge(spark, str(tmp_path / "absent"), dup, ["id"])
    many = _batch(spark, range(20), [7])
    with pytest.raises(ValueError, match=r"duplicate key.*'id': 7"):
        snapshot_merge(spark, t, many, ["id"], key_probe_limit=4)
    # a clean batch past the limit prunes by range alone and merges
    out = snapshot_merge(
        spark, t, _batch(spark, range(10, 20), []), ["id"], key_probe_limit=4
    )
    assert out["updated"] == 10
    # NULL keys group together, as in the aggregate the check replaced
    nulls = spark.createDataFrame(
        [(None, "a", 2), (None, "b", 2)], "id long, v string, seq long"
    )
    with pytest.raises(ValueError, match="duplicate key"):
        snapshot_merge(spark, t, nulls, ["id"])
    assert snapshot_manifest(t)["version"] == 2
    assert not Path(tmp_path / "absent").exists()


@pytest.mark.parametrize("dv_threshold", [None, 0.5])
@pytest.mark.parametrize(
    "case, updates, inserts, kw, expected",
    [
        ("update", [12, 15], [100], {}, (1, 2, 0, 8)),
        ("delete", [12, 15], [100], {"when_matched": "delete"}, (1, 0, 2, 8)),
        ("insert_only", [], [100, 101], {}, (2, 0, 0, 0)),
        ("ignore", [12, 15], [100], {"when_not_matched": "ignore"}, (0, 2, 0, 8)),
    ],
)
def test_merge_counts_in_both_write_modes(
    spark, tmp_path, dv_threshold, case, updates, inserts, kw, expected
):
    """``inserted/updated/deleted/kept`` come from the write's observed
    marks and equal the counts of the per-action aggregate they
    replaced — ``kept`` counts the unchanged rows of the touched file,
    also where merge-on-read carries that file under a deletion
    vector — and the table holds what the counts say."""
    t = str(tmp_path / "t")
    _ranged_table(spark, t, [(0, 10), (10, 20), (20, 30), (30, 40)])
    out = snapshot_merge(
        spark, t, _batch(spark, updates, inserts), ["id"],
        dv_threshold=dv_threshold, **kw,
    )
    got = (out["inserted"], out["updated"], out["deleted"], out["kept"])
    assert got == expected, case
    rows = _rows(spark, t)
    assert len(rows) == 40 + got[0] - got[2]
    if kw.get("when_matched") != "delete":
        assert all(rows[i] == ("new", 2) for i in updates)
    if dv_threshold is not None and updates:
        assert out["files_masked"] == 1 and out["rows_masked"] == 2


def test_stream_upsert_snapshot_scans_each_batch_once(spark, tmp_path):
    """The sink persists the deduplicated micro-batch, so the emptiness
    test, the MERGE probe and the write read the cached rows: the
    batch's ``numInputRows`` equals its file's row count."""
    t = str(tmp_path / "t")
    _ranged_table(spark, t, [(0, 50), (50, 100)])
    src = tmp_path / "src"
    src.mkdir()
    lines = [{"id": i, "v": "cdc", "seq": 2} for i in range(0, 40, 2)]
    lines += [{"id": i, "v": "new", "seq": 2} for i in range(100, 110)]
    lines.append({"id": 4, "v": "older", "seq": 1})  # in-batch duplicate
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in lines) + "\n")
    stream = spark.readStream.schema("id long, v string, seq long").json(str(src))
    q = jobs.stream_upsert_snapshot(stream, str(tmp_path / "ckpt"), t, ["id"],
                                    sequence_col="seq")
    progress = [p for p in q.recentProgress if p["numInputRows"]]
    assert [p["numInputRows"] for p in progress] == [len(lines)]
    rows = _rows(spark, t)
    assert len(rows) == 110 and rows[4] == ("cdc", 2)


def test_cow_delete_over_eq_deleted_rows_counts_live_rows(spark, tmp_path):
    """A copy-on-write DELETE reports the rows it removed from the live
    table: rows already masked by an equality delete are not counted
    again."""
    t = str(tmp_path / "t")
    _ranged_table(spark, t, [(0, 100)])
    snapshot_eq_delete(spark, t, spark.createDataFrame([(1,), (2,), (3,)], "id long"))
    assert snapshot_read(spark, t).count() == 97
    out = snapshot_delete(spark, t, [("id", "<", 10)])
    assert out["rows_deleted"] == 7
    assert snapshot_read(spark, t).count() == 90


def test_pure_dv_commits_leave_no_orphan_staging_dir(spark, tmp_path):
    """A deletion-vector commit stages no rows; its empty staging dir is
    removed, so every ``data-*`` dir on disk is referenced by the head
    manifest."""
    t = str(tmp_path / "t")
    _ranged_table(spark, t, [(0, 100)])
    for lo in (10, 20):
        out = snapshot_delete(
            spark, t, [("id", ">=", lo), ("id", "<", lo + 3)], dv_threshold=0.5
        )
        assert out["files_masked"] == 1 and out["rows_deleted"] == 3
    referenced = {e["path"].split("/")[0] for e in snapshot_manifest(t)["files"]}
    on_disk = {d.name for d in Path(t).glob("data-*")}
    assert on_disk == referenced
    assert snapshot_read(spark, t).count() == 94
