"""Deletion vectors / merge-on-read for snapshot DML (round 6,
VERDICT #1/#6): a sub-threshold match masks row positions in a sidecar
instead of rewriting the file; readers anti-join the mask away;
compaction folds DVs back into plain files; IVM and the change feed
stay exact across DV commits.

Reference parity note: the reference's warehouse DML is full-rewrite
Snowflake MERGE (`dag_streamflow_warehouse.py:118-126`); deletion
vectors are the beyond-reference scale path (Iceberg v2 / Delta DV
pattern) that makes a 10-row match in a 1 GB file cost a kilobyte
sidecar instead of a 1 GB rewrite.
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from group5_spark.medallion.incremental import ivm_init, ivm_refresh
from group5_spark.medallion.maintenance import (
    compact_snapshot,
    compact_snapshot_partitions,
    snapshot_delete,
    snapshot_merge,
    snapshot_update,
    table_health,
)
from group5_spark.medallion.snapshots import (
    snapshot_changes,
    snapshot_clone,
    snapshot_commit,
    snapshot_expire,
    snapshot_manifest,
    snapshot_read,
)


def _base(spark, n=1000):
    return spark.range(n).select(
        F.col("id"),
        (F.col("id") % 10).alias("g"),
        F.concat(F.lit("v"), F.col("id")).alias("v"),
        F.lit(1).alias("seq"),
    )


def _table(spark, tmp_path, name="t", n=1000, files=1):
    t = str(tmp_path / name)
    snapshot_commit(_base(spark, n).coalesce(files), t, stats_cols=["id"])
    return t


def _rows(spark, t, version=None):
    return {
        r["id"]: (r["g"], r["v"], r["seq"])
        for r in snapshot_read(spark, t, version=version).collect()
    }


def test_dv_delete_masks_instead_of_rewriting(spark, tmp_path):
    t = _table(spark, tmp_path)
    before = snapshot_manifest(t)["files"][0]
    out = snapshot_delete(spark, t, [("id", "<", 5)], dv_threshold=0.2)
    assert out["files_masked"] == 1 and out["files_rewritten"] == 0
    assert out["rows_deleted"] == 5
    after = snapshot_manifest(t)["files"]
    masked = [e for e in after if e.get("dv")]
    assert len(masked) == 1
    # byte-identical carry: same path, same size, same stats
    assert masked[0]["path"] == before["path"]
    assert masked[0]["bytes"] == before["bytes"]
    assert masked[0]["dv"]["deleted"] == 5
    # reads are exact, and time travel still shows the pre-delete rows
    assert snapshot_read(spark, t).count() == 995
    assert snapshot_read(spark, t).filter("id < 5").count() == 0
    assert snapshot_read(spark, t, version=1).count() == 1000


def test_dv_equivalence_merge_delete_update_vs_rewrite(spark, tmp_path):
    """The done-criterion equivalence: every DV-mode DML produces a
    table identical to the rewrite-mode DML on the same inputs."""
    a = _table(spark, tmp_path, "rewrite")
    b = _table(spark, tmp_path, "dv")
    # a row whose predicate column is NULL: no predicate matches it,
    # so no DML may delete it — in either mode
    null_row = spark.createDataFrame(
        [(None, 1, "null-id", 1)], "id long, g long, v string, seq int"
    )
    for t in (a, b):
        snapshot_commit(null_row, t, mode="append")
    src = spark.createDataFrame(
        [(3, 3, "UP3", 2), (7, 7, "UP7", 2), (2000, 0, "NEW", 1)],
        ["id", "g", "v", "seq"],
    )
    ra = snapshot_merge(spark, a, src, ["id"], sequence_col="seq")
    rb = snapshot_merge(
        spark, b, src, ["id"], sequence_col="seq", dv_threshold=0.2
    )
    for k in ("inserted", "updated", "deleted"):
        assert ra[k] == rb[k]
    assert rb["files_masked"] == 1 and rb["files_rewritten"] == 0
    assert _rows(spark, a) == _rows(spark, b)

    snapshot_delete(spark, a, [("id", "=", 500)])
    snapshot_delete(spark, b, [("id", "=", 500)], dv_threshold=0.2)
    assert _rows(spark, a) == _rows(spark, b)
    assert _rows(spark, a)[None] == (1, "null-id", 1)

    snapshot_update(
        spark, a, [("id", ">", 990)], {"v": F.lit("tail")}
    )
    ub = snapshot_update(
        spark, b, [("id", ">", 990)], {"v": F.lit("tail")},
        dv_threshold=0.2,
    )
    assert ub["rows_updated"] == 10  # ids 991..999 plus the inserted 2000
    assert _rows(spark, a) == _rows(spark, b)


def test_dv_remask_unions_sidecars(spark, tmp_path):
    """A second DV DML on an already-masked file unions the positions
    into ONE new sidecar (each entry references exactly one sidecar)."""
    t = _table(spark, tmp_path)
    snapshot_delete(spark, t, [("id", "<", 5)], dv_threshold=0.2)
    snapshot_delete(spark, t, [("id", ">=", 995)], dv_threshold=0.2)
    e = [x for x in snapshot_manifest(t)["files"] if x.get("dv")][0]
    assert e["dv"]["deleted"] == 10
    assert snapshot_read(spark, t).count() == 990
    assert snapshot_read(spark, t).filter("id < 5 or id >= 995").count() == 0
    # and the intermediate version still shows exactly its own mask
    assert snapshot_read(spark, t, version=2).count() == 995


def test_dv_threshold_rewrites_above_and_drops_dead_files(spark, tmp_path):
    t = _table(spark, tmp_path)
    # 60% of the file matches: above threshold -> rewrite, no DV
    out = snapshot_delete(spark, t, [("id", "<", 600)], dv_threshold=0.2)
    assert out["files_masked"] == 0 and out["files_rewritten"] == 1
    assert out["rows_deleted"] == 600
    assert snapshot_read(spark, t).count() == 400
    assert not any(e.get("dv") for e in snapshot_manifest(t)["files"])
    # a fully-dead file is dropped outright even in DV mode
    out2 = snapshot_delete(spark, t, [("id", ">=", 0)], dv_threshold=0.99)
    assert out2["files_masked"] == 0
    assert snapshot_read(spark, t).count() == 0


def test_dv_compaction_folds_masks(spark, tmp_path):
    t = _table(spark, tmp_path)
    snapshot_delete(spark, t, [("id", "<", 50)], dv_threshold=0.2)
    pre = _rows(spark, t)
    res = compact_snapshot(spark, t, force=True)
    assert res  # a rewrite happened
    after = snapshot_manifest(t)["files"]
    assert not any(e.get("dv") for e in after)
    assert _rows(spark, t) == pre


def test_dv_partitioned_table_and_partition_compaction(spark, tmp_path):
    t = str(tmp_path / "p")
    df = _base(spark, 1000).withColumn("part", F.col("id") % 2)
    snapshot_commit(df, t, partition_by="part", stats_cols=["id"])
    out = snapshot_delete(spark, t, [("id", "<", 10)], dv_threshold=0.5)
    assert out["files_masked"] >= 1 and out["rows_deleted"] == 10
    got = snapshot_read(spark, t)
    assert got.count() == 990 and got.filter("id < 10").count() == 0
    # partition values survive the DV read
    assert got.filter("part = 0").count() == 495
    # fragment one partition, then compact: DVs in rewritten
    # partitions fold; reads stay exact
    extra = spark.createDataFrame(
        [(5000 + i, 0, "x", 1, 0) for i in range(4)],
        ["id", "g", "v", "seq", "part"],
    )
    for i in range(4):
        snapshot_commit(
            extra.filter(F.col("id") == 5000 + i), t,
            mode="append", partition_by="part",
        )
    pre = {r["id"] for r in snapshot_read(spark, t).collect()}
    res = compact_snapshot_partitions(
        spark, t, target_file_bytes=1 << 30, min_files_to_compact=2
    )
    assert res.get("partitions_compacted", 0) >= 1
    assert {r["id"] for r in snapshot_read(spark, t).collect()} == pre


def test_dv_expire_keeps_live_reclaims_dead_sidecars(spark, tmp_path):
    t = _table(spark, tmp_path)
    snapshot_delete(spark, t, [("id", "<", 5)], dv_threshold=0.2)
    # live sidecar must survive an expire that keeps the head
    snapshot_expire(t, keep_last=1)
    assert len(glob.glob(os.path.join(t, "dv-*"))) == 1
    assert snapshot_read(spark, t).count() == 995
    # fold the DV, then expire: the sidecar is no longer referenced
    compact_snapshot(spark, t, force=True)
    snapshot_expire(t, keep_last=1)
    assert glob.glob(os.path.join(t, "dv-*")) == []
    assert snapshot_read(spark, t).count() == 995


def test_dv_clone_carries_masks(spark, tmp_path):
    src = _table(spark, tmp_path, "src")
    snapshot_delete(spark, src, [("id", "<", 5)], dv_threshold=0.2)
    dst = str(tmp_path / "clone")
    snapshot_clone(src, dst)
    assert snapshot_read(spark, dst).count() == 995
    assert snapshot_read(spark, dst).filter("id < 5").count() == 0
    # the clone's expire never reaches the source's sidecar
    snapshot_expire(dst, keep_last=1)
    assert len(glob.glob(os.path.join(src, "dv-*"))) == 1


def test_dv_change_feed_exact(spark, tmp_path):
    """snapshot_changes across a DV commit: masked rows surface as
    deletes, DV-path updates as updates — identical to the rewrite
    path because reads apply the mask."""
    t = _table(spark, tmp_path)
    v0 = snapshot_manifest(t)["version"]
    src = spark.createDataFrame(
        [(1, 1, "UP", 2), (5000, 0, "NEW", 1)], ["id", "g", "v", "seq"]
    )
    snapshot_merge(spark, t, src, ["id"], dv_threshold=0.2)
    snapshot_delete(spark, t, [("id", "=", 9)], dv_threshold=0.2)
    ch = {
        r["id"]: r["_change"]
        for r in snapshot_changes(spark, t, ["id"], v_from=v0).collect()
    }
    assert ch == {1: "update", 5000: "insert", 9: "delete"}


def test_dv_ivm_matches_full_recompute(spark, tmp_path):
    """VERDICT #6 done-criterion: ivm_refresh over a DV-path merge
    matches a full rebuild — removed = newly-masked rows, added =
    replacement rows, via (path, dv) file identity."""
    base = _table(spark, tmp_path, "base")
    mv = str(tmp_path / "mv")
    ivm_init(spark, base, mv, ["g"], ["seq"])
    src = spark.createDataFrame(
        # moves id=1 from g=1 to g=7 with seq 5, deletes nothing,
        # inserts one id in g=3
        [(1, 7, "moved", 5), (4242, 3, "new", 2)],
        ["id", "g", "v", "seq"],
    )
    out = snapshot_merge(spark, base, src, ["id"], dv_threshold=0.2)
    assert out["files_masked"] == 1  # the DV path really ran
    res = ivm_refresh(spark, base, mv, ["g"], ["seq"])
    assert res["files_added"] >= 1 and res["files_removed"] >= 1
    got = {
        r["g"]: (r["sum_seq"], r["n_rows"])
        for r in snapshot_read(spark, mv).collect()
    }
    want = {
        r["g"]: (r["sum_seq"], r["n_rows"])
        for r in snapshot_read(spark, base)
        .groupBy("g")
        .agg(F.sum("seq").alias("sum_seq"), F.count(F.lit(1)).alias("n_rows"))
        .collect()
    }
    assert got == want
    # a second refresh with no base change is a no-op
    res2 = ivm_refresh(spark, base, mv, ["g"], ["seq"])
    assert res2["files_added"] == 0 and res2["files_removed"] == 0


def test_dv_bytes_written_proportional_to_match(spark, tmp_path):
    """The economics the feature exists for: the DV path's staged
    bytes track the MATCHED rows, not the touched file's size."""
    a = _table(spark, tmp_path, "rw", n=20000)
    b = _table(spark, tmp_path, "dv", n=20000)

    def staged_bytes(t, version):
        m = snapshot_manifest(t, version)
        parent = {
            e["path"] for e in snapshot_manifest(t, m["parent"])["files"]
        }
        return sum(
            int(e["bytes"]) for e in m["files"] if e["path"] not in parent
        )

    src = spark.createDataFrame(
        [(i, i % 10, "UP", 2) for i in range(0, 10)], ["id", "g", "v", "seq"]
    )
    ra = snapshot_merge(spark, a, src, ["id"])
    rb = snapshot_merge(spark, b, src, ["id"], dv_threshold=0.2)
    rewrite_bytes = staged_bytes(a, ra["version"])
    dv_bytes = staged_bytes(b, rb["version"]) + sum(
        os.path.getsize(os.path.join(root, f))
        for d in glob.glob(os.path.join(b, "dv-*"))
        for root, _, fs in os.walk(d)
        for f in fs
    )
    # 10 matched rows in a 20k-row file: the DV commit (10 replacement
    # rows + a 10-position sidecar) must be far smaller than the
    # rewrite (the whole file re-encoded)
    assert dv_bytes < rewrite_bytes / 3, (dv_bytes, rewrite_bytes)
    assert _rows(spark, a) == _rows(spark, b)


def test_dv_health_reports_and_recommends(spark, tmp_path):
    t = _table(spark, tmp_path)
    snapshot_delete(spark, t, [("id", "<", 300)], dv_threshold=0.5)
    h = table_health(t)
    assert h["dv_files"] == 1 and h["rows_masked"] == 300
    assert any("deletion-vector" in r for r in h["recommendations"])


def test_dv_streaming_upsert_routes_masks(spark, tmp_path):
    """The CDC sink forwards dv_threshold: a micro-batch whose keys
    land in a big file masks instead of rewriting."""
    from group5_spark.streaming.jobs import stream_upsert_snapshot

    t = _table(spark, tmp_path, "sink", n=5000)
    src_dir = str(tmp_path / "in")
    spark.createDataFrame(
        [(2, 2, "UP", 9)], ["id", "g", "v", "seq"]
    ).write.json(src_dir)
    stream = (
        spark.readStream.schema("id long, g long, v string, seq int")
        .json(src_dir)
    )
    stream_upsert_snapshot(
        stream,
        str(tmp_path / "ckpt"),
        t,
        ["id"],
        sequence_col="seq",
        dv_threshold=0.2,
    )
    m = snapshot_manifest(t)
    assert any(e.get("dv") for e in m["files"])
    got = snapshot_read(spark, t)
    assert got.count() == 5000
    assert got.filter("id = 2").collect()[0]["v"] == "UP"


def test_change_feed_scoped_to_manifest_diff(spark, tmp_path):
    """files_scope='changed' (round 6): the CDF reads ONLY the entries
    that differ between the two manifests — an append to a many-file
    table reads one file per side — and returns exactly what the
    whole-table diff returns, including across a compaction that
    moves rows between files without changing them."""
    from group5_spark.medallion.snapshots import snapshot_manifest

    t = _table(spark, tmp_path, n=1000, files=4)
    v0 = snapshot_manifest(t)["version"]
    # append one small file
    extra = spark.createDataFrame(
        [(5000, 0, "new", 1)], ["id", "g", "v", "seq"]
    )
    snapshot_commit(extra, t, mode="append")
    scoped = {
        (r["id"], r["_change"])
        for r in snapshot_changes(spark, t, ["id"], v_from=v0).collect()
    }
    full = {
        (r["id"], r["_change"])
        for r in snapshot_changes(
            spark, t, ["id"], v_from=v0, files_scope="all"
        ).collect()
    }
    assert scoped == full == {(5000, "insert")}
    # compaction moves every row between files but changes none: the
    # scoped diff reads everything (all entries differ) yet emits ZERO
    # changes — no spurious insert/delete from file movement
    v1 = snapshot_manifest(t)["version"]
    compact_snapshot(spark, t, force=True)
    assert snapshot_changes(spark, t, ["id"], v_from=v1).count() == 0
    # and a DV delete after compaction surfaces as deletes either way
    v2 = snapshot_manifest(t)["version"]
    snapshot_delete(spark, t, [("id", "<", 3)], dv_threshold=0.5)
    scoped2 = {
        (r["id"], r["_change"])
        for r in snapshot_changes(spark, t, ["id"], v_from=v2).collect()
    }
    assert scoped2 == {(0, "delete"), (1, "delete"), (2, "delete")}


def test_merge_schema_evolution_appends_columns(spark, tmp_path):
    """schema_evolution=True: new source columns append to the table
    schema; pre-evolution rows surface NULL; a source missing TABLE
    columns is still rejected; off by default."""
    from pyspark.sql import functions as F

    t = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 1)], ["id", "v", "seq"]
    )
    snapshot_merge(spark, t, base, ["id"])
    widened = spark.createDataFrame(
        [(2, "B2", 2, "eu"), (3, "c", 1, "us")],
        ["id", "v", "seq", "region"],
    )
    # default: loud mismatch naming the fix
    with pytest.raises(ValueError, match="schema_evolution=True"):
        snapshot_merge(spark, t, widened, ["id"])
    out = snapshot_merge(
        spark, t, widened, ["id"], schema_evolution=True
    )
    assert out["updated"] == 1 and out["inserted"] == 1
    got = {
        r["id"]: (r["v"], r["seq"], r["region"])
        for r in snapshot_read(spark, t).collect()
    }
    assert got == {
        1: ("a", 1, None),       # pre-evolution row: NULL for the new col
        2: ("B2", 2, "eu"),      # updated row carries the new col
        3: ("c", 1, "us"),       # inserted row carries the new col
    }
    # a later narrow batch (missing the table's region column) is
    # rejected — dropping data is never implicit
    with pytest.raises(ValueError, match="schema mismatch"):
        snapshot_merge(spark, t, base, ["id"], schema_evolution=True)
    # evolution composes with the DV path
    wider2 = spark.createDataFrame(
        [(1, "A3", 3, "ap", 9.5)], ["id", "v", "seq", "region", "score"]
    )
    out2 = snapshot_merge(
        spark, t, wider2, ["id"], schema_evolution=True, dv_threshold=0.9
    )
    assert out2["updated"] == 1
    got2 = {
        r["id"]: (r["v"], r["region"], r["score"])
        for r in snapshot_read(spark, t).collect()
    }
    assert got2[1] == ("A3", "ap", 9.5)
    assert got2[2] == ("B2", "eu", None) and got2[3] == ("c", "us", None)
