"""Snapshot-versioned tables (medallion/snapshots.py): atomic commit
protocol, time travel, manifest-driven file skipping, and history
expiry. The invariants here are the lakehouse contract — readers never
see partial writes, old versions stay byte-stable until expired, and
file pruning never changes results."""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import functions as F

from group5_spark.medallion.snapshots import (
    prune_files,
    snapshot_commit,
    snapshot_expire,
    snapshot_read,
    snapshot_versions,
)


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id"), (F.col("id") % 5).alias("k")
    )


def test_commit_read_roundtrip_and_time_travel(spark, tmp_path):
    t = str(tmp_path / "tbl")
    v1 = snapshot_commit(_df(spark, 0, 100), t, stats_cols=["id"])
    v2 = snapshot_commit(_df(spark, 100, 150), t, stats_cols=["id"])
    assert (v1, v2) == (1, 2)
    # latest = overwrite semantics: only v2's rows
    assert snapshot_read(spark, t).count() == 50
    # time travel: v1 unchanged
    old = snapshot_read(spark, t, version=1)
    assert old.count() == 100
    assert old.agg(F.min("id")).first()[0] == 0
    assert [v["version"] for v in snapshot_versions(t)] == [1, 2]


def test_append_mode_unions_parent_files(spark, tmp_path):
    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 100), t, stats_cols=["id"])
    snapshot_commit(_df(spark, 100, 150), t, mode="append", stats_cols=["id"])
    assert snapshot_read(spark, t).count() == 150
    # append manifest references the parent's files, not copies
    kept, total = prune_files(t, [])
    assert total == len(kept) and total >= 2


def test_file_skipping_prunes_disjoint_ranges(spark, tmp_path):
    t = str(tmp_path / "tbl")
    # 4 files with disjoint id ranges (repartitionByRange → tight stats)
    df = spark.range(0, 1000).repartitionByRange(4, "id")
    snapshot_commit(df, t, stats_cols=["id"])
    kept, total = prune_files(t, [("id", ">=", 900)])
    assert total == 4
    assert len(kept) < total  # skipping actually skipped
    # and results stay exact vs a full-scan filter
    got = snapshot_read(spark, t, predicates=[("id", ">=", 900)])
    assert got.count() == 100
    assert got.agg(F.min("id")).first()[0] == 900


def test_pruned_read_on_string_stats(spark, tmp_path):
    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [("apple", 1), ("banana", 2)], ["w", "n"]
    ).repartitionByRange(2, "w")
    snapshot_commit(df, t, stats_cols=["w"])
    got = snapshot_read(spark, t, predicates=[("w", "=", "banana")])
    assert [r["n"] for r in got.collect()] == [2]


def test_crash_before_pointer_swap_is_invisible(spark, tmp_path):
    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 10), t, stats_cols=["id"])
    root = Path(t)
    # simulate a writer that staged files + manifest but died pre-swap:
    # hand-write manifest v2 without moving the pointer
    m2 = root / "_manifests" / "v00002.json"
    m2.write_text(json.dumps({"version": 2, "parent": 1, "ts": 0, "files": []}))
    assert snapshot_read(spark, t).count() == 10  # still v1
    # the next real commit skips the orphan's claimed slot (exclusive
    # create) and publishes past it — the orphan stays unpublished
    v = snapshot_commit(_df(spark, 0, 5), t)
    assert v == 3 and snapshot_read(spark, t).count() == 5
    assert snapshot_read(spark, t, version=1).count() == 10


def test_expire_drops_history_keeps_current(spark, tmp_path):
    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 100), t, stats_cols=["id"])
    snapshot_commit(_df(spark, 100, 150), t, stats_cols=["id"])
    out = snapshot_expire(t, keep_last=1)
    assert out["versions_dropped"] == 1 and out["files_deleted"] >= 1
    assert snapshot_read(spark, t).count() == 50
    assert [v["version"] for v in snapshot_versions(t)] == [2]


def test_expire_keeps_files_shared_with_retained_append(spark, tmp_path):
    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 100), t, stats_cols=["id"])
    snapshot_commit(_df(spark, 100, 150), t, mode="append", stats_cols=["id"])
    # v1's files are referenced by retained v2 → must NOT be deleted
    out = snapshot_expire(t, keep_last=1)
    assert out["files_deleted"] == 0
    assert snapshot_read(spark, t).count() == 150


def test_expire_anchored_on_pointer_not_filename_order(spark, tmp_path):
    """Regression: an unpublished orphan manifest (version > pointer —
    a crashed pre-swap commit, a state the protocol permits) must not
    count as 'the newest history'. With keep_last=1, retention keeps
    the PUBLISHED version; naive filename-order retention would retain
    only the orphan and delete the published manifest + its data."""
    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 100), t, stats_cols=["id"])  # v1 published
    root = Path(t)
    # crashed writer: manifest v2 exists, pointer still → v1
    orphan = {
        "version": 2, "parent": 1, "ts": 0,  # ts=0 → well past grace
        "schema": json.loads(_df(spark, 0, 1).schema.json()),
        "note": {}, "files": [],
    }
    (root / "_manifests" / "v00002.json").write_text(json.dumps(orphan))
    out = snapshot_expire(t, keep_last=1)
    # the stale orphan is the expendable one; published v1 survives
    assert out["versions_dropped"] == 1
    assert snapshot_read(spark, t).count() == 100
    assert [v["version"] for v in snapshot_versions(t)] == [1]


def test_expire_grace_spares_in_flight_commit(spark, tmp_path):
    """An orphan manifest younger than the grace window is an
    IN-FLIGHT commit (between manifest create and pointer swap), not
    garbage — expire must leave it alone so the racing writer's
    publish still lands."""
    import time as _time

    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 10), t)
    root = Path(t)
    inflight = {
        "version": 2, "parent": 1, "ts": _time.time(),  # fresh
        "schema": json.loads(_df(spark, 0, 1).schema.json()),
        "note": {}, "files": [],
    }
    (root / "_manifests" / "v00002.json").write_text(json.dumps(inflight))
    out = snapshot_expire(t, keep_last=1, orphan_grace_s=300.0)
    assert out["versions_dropped"] == 0
    assert (root / "_manifests" / "v00002.json").exists()


def test_typed_date_predicate_prunes_instead_of_raising(spark, tmp_path):
    """Regression: _file_stats stringifies date stats; a typed
    datetime.date predicate must normalize through the same str()
    conversion (ISO order == chronological) and actually prune —
    previously this raised TypeError at prune time."""
    import datetime

    t = str(tmp_path / "tbl")
    df = spark.sql(
        "SELECT sequence(to_date('2024-01-01'), to_date('2024-12-31')) ds"
    ).selectExpr("explode(ds) AS d", "1 AS one")
    snapshot_commit(df.repartitionByRange(4, "d"), t, stats_cols=["d"])
    cut = datetime.date(2024, 12, 1)
    kept, total = prune_files(t, [("d", ">=", cut)])
    assert total == 4 and len(kept) < total
    got = snapshot_read(spark, t, predicates=[("d", ">=", cut)])
    assert got.count() == 31


def test_incomparable_predicate_type_degrades_to_must_read(spark, tmp_path):
    """A predicate value whose string form is NOT order-preserving
    (Decimal) must fall back to 'read every file' — never raise,
    never wrongly prune."""
    from decimal import Decimal

    t = str(tmp_path / "tbl")
    df = spark.range(0, 100).selectExpr("CAST(id AS DECIMAL(10,2)) AS amt")
    snapshot_commit(df.repartitionByRange(4, "amt"), t, stats_cols=["amt"])
    kept, total = prune_files(t, [("amt", ">=", Decimal("90.00"))])
    assert len(kept) == total  # degraded, not pruned, not raised
    got = snapshot_read(spark, t, predicates=[("amt", ">=", Decimal("90.00"))])
    assert got.count() == 10  # row-level residual filter keeps it exact


def test_change_data_feed_between_versions(spark, tmp_path):
    t = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["id", "v"]
    )
    snapshot_commit(base, t)
    nxt = spark.createDataFrame(
        [(1, "a"), (2, "B2"), (4, "d")], ["id", "v"]
    )
    snapshot_commit(nxt, t)
    from group5_spark.medallion.snapshots import snapshot_changes

    got = {
        r["id"]: r["_change"]
        for r in snapshot_changes(spark, t, ["id"], v_from=1).collect()
    }
    # 1 unchanged → absent; 2 updated; 3 deleted; 4 inserted
    assert got == {2: "update", 3: "delete", 4: "insert"}


def test_schema_evolution_on_append(spark, tmp_path):
    t = str(tmp_path / "tbl")
    snapshot_commit(
        spark.createDataFrame([(1, "a")], ["id", "v"]), t
    )
    evolved = spark.createDataFrame(
        [(2, "b", 9.5)], ["id", "v", "score"]
    )
    snapshot_commit(evolved, t, mode="append")
    cur = snapshot_read(spark, t)
    assert set(cur.columns) == {"id", "v", "score"}
    rows = {r["id"]: r["score"] for r in cur.collect()}
    # pre-evolution file surfaces NULL for the appended column
    assert rows == {1: None, 2: 9.5}
    # time travel to v1 keeps the original 2-column schema
    assert set(snapshot_read(spark, t, version=1).columns) == {"id", "v"}


def test_append_missing_column_never_narrows_schema(spark, tmp_path):
    """Widen-only evolution: a batch that DROPS a column must not
    narrow the head schema — the column's bytes are live in carried
    files, and the batch's own rows surface NULL for it."""
    t = str(tmp_path / "tbl")
    snapshot_commit(
        spark.createDataFrame([(1, "a", 9.5)], ["id", "v", "score"]), t
    )
    snapshot_commit(
        spark.createDataFrame([(2, "b")], ["id", "v"]), t, mode="append"
    )
    cur = snapshot_read(spark, t)
    assert set(cur.columns) == {"id", "v", "score"}
    rows = {r["id"]: r["score"] for r in cur.collect()}
    assert rows == {1: 9.5, 2: None}
    # the union schema must record the truth: the batch's rows surface
    # NULL for the missing column, so the manifest field admits NULL
    # even if the head declared it NOT NULL
    from group5_spark.medallion.snapshots import snapshot_manifest

    fields = {
        f["name"]: f for f in snapshot_manifest(t)["schema"]["fields"]
    }
    assert fields["score"]["nullable"] is True


def test_append_type_change_rejected_and_staging_reclaimed(
    spark, tmp_path
):
    """A same-named column with a different type is an implicit type
    change — rejected, with the already-staged files removed so the
    failed commit leaks nothing."""
    import pytest

    t = str(tmp_path / "tbl")
    snapshot_commit(spark.createDataFrame([(1, "a")], ["id", "v"]), t)
    bad = spark.createDataFrame([(2, 7)], ["id", "v"])  # v: string→long
    with pytest.raises(ValueError, match="widen-only"):
        snapshot_commit(bad, t, mode="append")
    root = Path(t)
    dirs = [d for d in root.glob("data-*") if d.is_dir()]
    assert len(dirs) == 1  # only v1's staging dir remains
    assert snapshot_read(spark, t).count() == 1


def test_constraint_on_column_missing_from_batch_passes_as_null(
    spark, tmp_path
):
    """SQL CHECK semantics: a batch that doesn't carry a constrained
    column validates as NULL (passes) — matching exactly what readers
    will see for those rows — instead of failing analysis."""
    t = str(tmp_path / "tbl")
    snapshot_commit(
        spark.createDataFrame([(1, 5.0)], ["id", "score"]),
        t,
        constraints={"pos_score": "score > 0"},
    )
    snapshot_commit(
        spark.createDataFrame([(2,)], ["id"]), t, mode="append"
    )
    cur = snapshot_read(spark, t)
    assert {r["id"]: r["score"] for r in cur.collect()} == {
        1: 5.0,
        2: None,
    }


def test_concurrent_writers_never_clobber(spark, tmp_path):
    """Optimistic concurrency: a rival claiming the next version slot
    mid-commit forces this commit onto a later slot — both manifests
    survive, the pointer lands on the highest published version, and
    append lineage rebases onto the published parent."""
    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 10), t)  # v1
    root = Path(t)
    # rival writer claims slot v2 directly (exclusive create already
    # done by the time we commit)
    rival = {
        "version": 2, "parent": 1, "ts": 0,
        "schema": json.loads(_df(spark, 0, 1).schema.json()),
        "note": {}, "files": [],
    }
    (root / "_manifests" / "v00002.json").write_text(json.dumps(rival))
    v = snapshot_commit(_df(spark, 100, 105), t, mode="append")
    assert v == 3
    # rival's manifest untouched, ours published on top of v1's files
    assert json.loads((root / "_manifests" / "v00002.json").read_text())["files"] == []
    assert snapshot_read(spark, t).count() == 15  # 10 appended + 5


def test_racing_appenders_lose_nothing(spark, tmp_path):
    """Concurrent-writer stress: 8 writers × 3 appends racing on one
    table. The chain-claim commit point must serialize them into a
    linear history — every commit's rows reach the final snapshot (no
    lost update from two appends sharing a parent), versions are
    distinct, and the parent chain is a single line."""
    import threading

    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 10), t)  # v1 base
    n_writers, n_commits = 8, 3
    versions: list[list[int]] = [[] for _ in range(n_writers)]
    errors: list[Exception] = []

    def writer(i: int) -> None:
        try:
            for c in range(n_commits):
                lo = 1000 * (i * n_commits + c + 1)
                v = snapshot_commit(
                    _df(spark, lo, lo + 5), t, mode="append"
                )
                versions[i].append(v)
        except Exception as exc:  # pragma: no cover - surfaced below
            errors.append(exc)

    threads = [
        threading.Thread(target=writer, args=(i,)) for i in range(n_writers)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors

    all_versions = [v for per in versions for v in per]
    # every commit landed, all on distinct versions
    assert len(all_versions) == n_writers * n_commits
    assert len(set(all_versions)) == len(all_versions)
    # linearizable: published history is one chain, each parent the
    # previous published version
    hist = snapshot_versions(t)
    assert [h["version"] for h in hist] == sorted(h["version"] for h in hist)
    for prev, cur in zip(hist, hist[1:]):
        assert cur["parent"] == prev["version"]
    assert {h["version"] for h in hist} >= set(all_versions)
    # no lost update: the head contains the base + every append's rows
    got = {
        r["id"] for r in snapshot_read(spark, t).select("id").collect()
    }
    want = set(range(0, 10))
    for i in range(n_writers):
        for c in range(n_commits):
            lo = 1000 * (i * n_commits + c + 1)
            want |= set(range(lo, lo + 5))
    assert got == want


def test_overwrite_with_expected_parent_detects_conflict(spark, tmp_path):
    """A read-modify-write overwrite from a stale read must refuse to
    commit once another writer has landed (SnapshotConflict), instead
    of silently discarding the interleaved commit."""
    import pytest as _pytest

    from group5_spark.medallion.snapshots import SnapshotConflict

    t = str(tmp_path / "tbl")
    v1 = snapshot_commit(_df(spark, 0, 10), t)
    # reader plans a rewrite of v1... meanwhile an append lands
    snapshot_commit(_df(spark, 100, 105), t, mode="append")
    with _pytest.raises(SnapshotConflict):
        snapshot_commit(
            _df(spark, 0, 10), t, mode="overwrite", expected_parent=v1
        )
    # the interleaved append is intact
    assert snapshot_read(spark, t).count() == 15


def test_compact_snapshot_time_travel_safe(spark, tmp_path):
    """Compaction routed through the commit protocol: produces a NEW
    version with fewer files, identical rows; pre-compaction versions
    still read their original fragmented files; the note marks the
    version as compaction; expire later reclaims the small files."""
    from group5_spark.medallion.maintenance import compact_snapshot
    from group5_spark.medallion.snapshots import latest_note, snapshot_manifest

    t = str(tmp_path / "tbl")
    # fragment: 2 appends × 8 files of a small table
    snapshot_commit(_df(spark, 0, 100).repartition(8), t)
    snapshot_commit(_df(spark, 100, 200).repartition(8), t, mode="append")
    assert len(snapshot_manifest(t)["files"]) == 16
    out = compact_snapshot(spark, t, target_file_bytes=64 * 1024 * 1024)
    assert out["files_before"] == 16 and out["files_after"] == 1
    assert out["version"] == 3
    # same rows, one file, marked as compaction
    assert snapshot_read(spark, t).count() == 200
    assert len(snapshot_manifest(t)["files"]) == 1
    assert latest_note(t)["compaction"] is True
    # time travel: v2 still reads the fragmented layout
    assert snapshot_read(spark, t, version=2).count() == 200
    assert len(snapshot_manifest(t, version=2)["files"]) == 16
    # healthy table → no-op
    assert compact_snapshot(spark, t, target_file_bytes=64 * 1024 * 1024) == {}
    # expiry reclaims the pre-compaction files
    out = snapshot_expire(t, keep_last=1)
    # 16 distinct small files (v1's 8 are shared into v2's manifest)
    assert out["files_deleted"] == 16
    assert snapshot_read(spark, t).count() == 200


def test_bloom_prunes_where_minmax_cannot(spark, tmp_path):
    """Interleaved keys: evens in one file, odds in the other — both
    files span [0, 99], so min/max skipping keeps both. The per-file
    bloom knows an equality key is definitely absent and prunes."""
    t = str(tmp_path / "tbl")
    evens = spark.createDataFrame(
        [(i, "e") for i in range(0, 100, 2)], ["id", "tag"]
    ).coalesce(1)
    odds = spark.createDataFrame(
        [(i, "o") for i in range(1, 100, 2)], ["id", "tag"]
    ).coalesce(1)
    snapshot_commit(
        evens, t, stats_cols=["id"], bloom_cols=["id"]
    )
    snapshot_commit(
        odds, t, mode="append", stats_cols=["id"], bloom_cols=["id"]
    )
    # ranges overlap → min/max alone keeps both files
    kept_minmax_only, total = prune_files(t, [("id", ">=", 0)])
    assert total == 2 and len(kept_minmax_only) == 2
    # equality on an odd key → bloom drops the evens file
    kept, total = prune_files(t, [("id", "=", 31)])
    assert total == 2 and len(kept) == 1
    got = snapshot_read(spark, t, predicates=[("id", "=", 31)])
    assert [(r["id"], r["tag"]) for r in got.collect()] == [(31, "o")]
    # absent key: bloom may prune everything; result must stay exact
    got_none = snapshot_read(spark, t, predicates=[("id", "=", 100)])
    assert got_none.count() == 0


def test_zorder_snapshot_prunes_on_both_columns(spark, tmp_path):
    """Layout × metadata synergy: a Z-ordered snapshot keeps BOTH key
    columns locally clustered, so manifest min/max stats prune files
    for selective filters on either column — where a lexicographic
    sort only serves the leading column."""
    from group5_spark.medallion.maintenance import zorder_arranged

    df = spark.createDataFrame(
        [(x, y) for x in range(64) for y in range(64)], ["x", "y"]
    )
    zt = str(tmp_path / "ztbl")
    snapshot_commit(
        zorder_arranged(df, ["x", "y"], bits=6, n_files=16),
        zt,
        stats_cols=["x", "y"],
    )
    lt = str(tmp_path / "ltbl")
    snapshot_commit(
        df.repartitionByRange(16, "x", "y").sortWithinPartitions("x", "y"),
        lt,
        stats_cols=["x", "y"],
    )
    kept_zx, total_z = prune_files(zt, [("x", "=", 7)])
    kept_zy, _ = prune_files(zt, [("y", "=", 7)])
    kept_ly, total_l = prune_files(lt, [("y", "=", 7)])
    assert total_z == 16 and total_l == 16
    # z-order prunes well on BOTH columns...
    assert len(kept_zx) <= total_z // 2
    assert len(kept_zy) <= total_z // 2
    # ...the lexicographic layout cannot prune on the trailing column
    assert len(kept_ly) == total_l
    # and pruned reads stay exact
    got = snapshot_read(spark, zt, predicates=[("y", "=", 7)])
    assert got.count() == 64


# ---------------------------------------------------------------------------
# Named refs (tags): reproducibility handles that anchor retention
# ---------------------------------------------------------------------------


def test_tag_pins_version_and_read_by_ref(spark, tmp_path):
    from group5_spark.medallion.snapshots import (
        resolve_ref,
        snapshot_drop_tag,
        snapshot_tag,
        snapshot_tags,
    )
    import pytest

    tbl = str(tmp_path / "tagged")
    snapshot_commit(spark.range(3).toDF("id"), tbl)
    v1 = snapshot_tag(tbl, "training-2026-08")
    snapshot_commit(spark.range(10).toDF("id"), tbl)

    assert snapshot_tags(tbl) == {"training-2026-08": v1}
    assert resolve_ref(tbl, "training-2026-08") == v1
    # ref read returns the frozen corpus, latest read the new one
    assert snapshot_read(spark, tbl, ref="training-2026-08").count() == 3
    assert snapshot_read(spark, tbl).count() == 10
    # retagging is explicit
    with pytest.raises(FileExistsError):
        snapshot_tag(tbl, "training-2026-08")
    snapshot_tag(tbl, "training-2026-08", overwrite=True)
    assert snapshot_read(spark, tbl, ref="training-2026-08").count() == 10
    snapshot_drop_tag(tbl, "training-2026-08")
    with pytest.raises(KeyError):
        resolve_ref(tbl, "training-2026-08")
    with pytest.raises(ValueError):
        snapshot_tag(tbl, "../escape")


def test_expire_retains_tagged_version_and_its_files(spark, tmp_path):
    from group5_spark.medallion.snapshots import (
        snapshot_expire,
        snapshot_tag,
    )

    tbl = str(tmp_path / "tagged_expire")
    snapshot_commit(spark.range(5).toDF("id"), tbl)
    snapshot_tag(tbl, "frozen")
    for n in (7, 9, 11):  # three newer versions, distinct data files
        snapshot_commit(spark.range(n).toDF("id"), tbl)
    # keep_last=1 would normally drop everything but the head...
    report = snapshot_expire(tbl, keep_last=1, orphan_grace_s=0.0)
    assert report["versions_dropped"] == 2  # v2, v3 — NOT the tagged v1
    # ...but the tagged version still reads, exactly
    assert snapshot_read(spark, tbl, ref="frozen").count() == 5
    assert snapshot_read(spark, tbl).count() == 11


def test_expire_keeps_chain_links_for_stale_pointer_walks(spark, tmp_path):
    """A reader holding a pointer hint BELOW the retention window must
    still resolve the true head: expire deletes manifests/data of
    dropped versions but never their chain links (the linearization
    history), so the walk v1 → v2 → … → head survives any expiry."""
    from group5_spark.medallion import snapshots as S

    tbl = str(tmp_path / "chain")
    root = Path(tbl)
    for n in (3, 5, 7, 9):
        snapshot_commit(spark.range(n).toDF("id"), tbl)
    S.snapshot_expire(tbl, keep_last=1, orphan_grace_s=0.0)
    # dropped versions' links survive...
    for v in (1, 2, 3):
        assert (root / "_manifests" / f"c{v:05d}").exists()
    # ...so a walk from a FORCED stale hint still lands on the head
    (root / "_manifests" / "_current").write_text("1")
    assert S._current_version(root) == 4
    assert snapshot_read(spark, tbl).count() == 9


# ---------------------------------------------------------------------------
# Partition-aware commits: Hive layout + dynamic partition overwrite
# ---------------------------------------------------------------------------


def test_partitioned_commit_roundtrip_and_manifest_pruning(spark, tmp_path):
    from group5_spark.medallion.snapshots import prune_files

    tbl = str(tmp_path / "ptbl")
    df = spark.createDataFrame(
        [("2026-01-01", 1, 10.0), ("2026-01-01", 2, 20.0),
         ("2026-01-02", 3, 30.0)],
        ["d", "id", "v"],
    )
    snapshot_commit(df, tbl, partition_by="d")
    got = snapshot_read(spark, tbl)
    assert got.columns == ["d", "id", "v"]  # declared order restored
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, df.collect()))
    # the partition value is an exact manifest stat: equality predicates
    # prune whole partitions without opening a single footer
    kept, total = prune_files(tbl, [("d", "=", "2026-01-02")])
    assert total >= 2 and len(kept) < total
    pruned = snapshot_read(spark, tbl, predicates=[("d", "=", "2026-01-02")])
    assert [tuple(r) for r in pruned.collect()] == [("2026-01-02", 3, 30.0)]


def test_replace_partitions_swaps_only_touched_days(spark, tmp_path):
    tbl = str(tmp_path / "rp")
    snapshot_commit(
        spark.createDataFrame(
            [("d1", 1, 10.0), ("d1", 2, 20.0), ("d2", 3, 30.0)],
            ["d", "id", "v"],
        ),
        tbl,
        partition_by="d",
    )
    # restatement of d1 only; d2 must carry over untouched
    v2 = snapshot_commit(
        spark.createDataFrame([("d1", 9, 99.0)], ["d", "id", "v"]),
        tbl,
        mode="replace_partitions",
        partition_by="d",
    )
    assert v2 == 2
    now = sorted(map(tuple, snapshot_read(spark, tbl).collect()))
    assert now == [("d1", 9, 99.0), ("d2", 3, 30.0)]
    # time travel still sees the pre-restatement table
    before = sorted(map(tuple, snapshot_read(spark, tbl, version=1).collect()))
    assert before == [("d1", 1, 10.0), ("d1", 2, 20.0), ("d2", 3, 30.0)]
    # mode guard
    import pytest

    with pytest.raises(ValueError, match="requires partition_by"):
        snapshot_commit(
            spark.range(1).toDF("id"), tbl, mode="replace_partitions"
        )


def test_replace_partitions_rejects_layout_mismatch(spark, tmp_path):
    """An unpartitioned or differently-partitioned parent would make
    the carry-over filter keep EVERY prior file (None / other-column
    partition values never match the touched set) — stale rows would
    silently survive the 'replace'. Must error, not corrupt."""
    import pytest

    # case 1: parent partitioned by a different column
    tbl = str(tmp_path / "rp_mismatch")
    snapshot_commit(
        spark.createDataFrame([("d1", "r1", 1.0)], ["d", "rgn", "v"]),
        tbl,
        partition_by="d",
    )
    with pytest.raises(ValueError, match="partitioned by 'd'"):
        snapshot_commit(
            spark.createDataFrame([("d1", "r1", 9.0)], ["d", "rgn", "v"]),
            tbl,
            mode="replace_partitions",
            partition_by="rgn",
        )
    # case 2: unpartitioned parent
    tbl2 = str(tmp_path / "rp_unpart")
    snapshot_commit(
        spark.createDataFrame([("d1", 1.0)], ["d", "v"]), tbl2
    )
    with pytest.raises(ValueError, match="partitioned by None"):
        snapshot_commit(
            spark.createDataFrame([("d1", 9.0)], ["d", "v"]),
            tbl2,
            mode="replace_partitions",
            partition_by="d",
        )
    # neither failed commit corrupted the tables
    assert [tuple(r) for r in snapshot_read(spark, tbl).collect()] == [
        ("d1", "r1", 1.0)
    ]
    assert [tuple(r) for r in snapshot_read(spark, tbl2).collect()] == [
        ("d1", 1.0)
    ]


def test_ivm_tracks_replace_partitions_via_file_diff(spark, tmp_path):
    """The manifest file diff makes partition restatements just
    another delta: removed files retract, added files accumulate."""
    from group5_spark.medallion.incremental import ivm_init, ivm_refresh

    base = str(tmp_path / "rp_base")
    mv = str(tmp_path / "rp_mv")
    snapshot_commit(
        spark.createDataFrame(
            [("d1", 10.0), ("d1", 20.0), ("d2", 30.0)], ["d", "amount"]
        ),
        base,
        partition_by="d",
    )
    ivm_init(spark, base, mv, ["d"], ["amount"])
    snapshot_commit(
        spark.createDataFrame([("d1", 5.0)], ["d", "amount"]),
        base,
        mode="replace_partitions",
        partition_by="d",
    )
    report = ivm_refresh(spark, base, mv, ["d"], ["amount"])
    assert report["files_removed"] >= 1 and report["files_added"] >= 1
    got = {
        r["d"]: (r["sum_amount"], r["n_rows"])
        for r in snapshot_read(spark, mv).collect()
    }
    assert got == {"d1": (5.0, 1), "d2": (30.0, 1)}


def test_snapshot_clone_zero_copy_and_independent(spark, tmp_path):
    """A clone reads identically to its source version without
    copying bytes; appends/deletes on the clone never touch the
    source, and expire on the clone never deletes source files."""
    from pyspark.sql import functions as F

    from group5_spark.medallion.maintenance import snapshot_delete
    from group5_spark.medallion.snapshots import (
        snapshot_clone,
        snapshot_expire,
        snapshot_manifest,
    )

    src = str(tmp_path / "clone_src")
    dst = str(tmp_path / "clone_dst")
    snapshot_commit(
        spark.range(100).select(F.col("id")).coalesce(2),
        src, stats_cols=["id"],
    )
    src_files_before = sorted(
        p for p in Path(src).rglob("*.parquet")
    )
    v = snapshot_clone(src, dst)
    assert v == 1
    # zero copy: no parquet landed under the clone's root
    assert not list(Path(dst).rglob("*.parquet"))
    assert snapshot_read(spark, dst).count() == 100
    # clone evolves independently: append + file-pruned delete
    snapshot_commit(
        spark.range(100, 110).select(F.col("id")), dst,
        mode="append", stats_cols=["id"],
    )
    report = snapshot_delete(spark, dst, [("id", "<", 10)])
    assert report["rows_deleted"] == 10
    assert snapshot_read(spark, dst).count() == 100  # 110 - 10
    assert snapshot_read(spark, src).count() == 100  # source untouched
    # provenance travels in the manifest note (checked before expire
    # drops the v1 manifest from the clone's history)
    assert snapshot_manifest(dst, 1)["note"]["cloned_from"] == str(
        Path(src).resolve()
    )
    # expire the clone's whole history: source files must survive
    snapshot_expire(dst, keep_last=1, orphan_grace_s=0.0)
    assert sorted(p for p in Path(src).rglob("*.parquet")) == src_files_before
    assert snapshot_read(spark, src).count() == 100


def test_snapshot_clone_partitioned_reads_partition_column(spark, tmp_path):
    from group5_spark.medallion.snapshots import snapshot_clone

    src = str(tmp_path / "pclone_src")
    dst = str(tmp_path / "pclone_dst")
    snapshot_commit(
        spark.createDataFrame(
            [("d1", 1, 10.0), ("d2", 2, 20.0)], ["d", "id", "v"]
        ),
        src,
        partition_by="d",
    )
    snapshot_clone(src, dst)
    got = sorted(map(tuple, snapshot_read(spark, dst).collect()))
    assert got == [("d1", 1, 10.0), ("d2", 2, 20.0)]
    # predicate pruning still works through the cloned manifest stats
    one = snapshot_read(spark, dst, predicates=[("d", "=", "d2")])
    assert [tuple(r) for r in one.collect()] == [("d2", 2, 20.0)]


def test_change_feed_composes_with_dml(spark, tmp_path):
    """A CDC consumer sees file-pruned DELETE/UPDATE as clean
    key-level delete/update events — rows that merely live in a
    rewritten file but didn't change produce NO event."""
    from pyspark.sql import functions as F

    from group5_spark.medallion.maintenance import (
        snapshot_delete,
        snapshot_update,
    )
    from group5_spark.medallion.snapshots import snapshot_changes

    tbl = str(tmp_path / "cdf_dml")
    snapshot_commit(
        spark.range(20).select(
            F.col("id"), F.lit("active").alias("status")
        ).coalesce(1),
        tbl,
        stats_cols=["id"],
    )
    snapshot_delete(spark, tbl, [("id", ">=", 18)])          # v2
    snapshot_update(                                          # v3
        spark, tbl, [("id", "<", 3)], {"status": F.lit("vip")}
    )
    feed = snapshot_changes(spark, tbl, ["id"], v_from=1, v_to=3)
    got = {(r["id"], r["_change"]) for r in feed.collect()}
    assert got == {
        (18, "delete"), (19, "delete"),
        (0, "update"), (1, "update"), (2, "update"),
    }
    # the updated rows carry their new values in the feed
    vips = {
        r["id"]
        for r in feed.filter(F.col("_change") == "update").collect()
        if r["status"] == "vip"
    }
    assert vips == {0, 1, 2}


# ------------------------- rollback / RESTORE ------------------------


def test_rollback_restores_old_content_as_new_head(spark, tmp_path):
    """RESTORE semantics: the old version's rows become the head under
    a NEW version number, the bad commit stays time-travelable, and
    no data files move (the restored manifest references the old
    bytes verbatim)."""
    from group5_spark.medallion.snapshots import (
        snapshot_manifest,
        snapshot_rollback,
    )

    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 100), t, stats_cols=["id"])
    snapshot_commit(_df(spark, 500, 510), t, stats_cols=["id"])  # "bad"
    v3 = snapshot_rollback(t, version=1)
    assert v3 == 3
    head = snapshot_read(spark, t)
    assert head.count() == 100 and head.agg(F.min("id")).first()[0] == 0
    # history is linear and audited, nothing erased
    assert [v["version"] for v in snapshot_versions(t)] == [1, 2, 3]
    assert snapshot_read(spark, t, version=2).count() == 10
    m3 = snapshot_manifest(t, 3)
    assert m3["note"] == {"op": "rollback", "restored_version": 1}
    assert {e["path"] for e in m3["files"]} == {
        e["path"] for e in snapshot_manifest(t, 1)["files"]
    }


def test_rollback_survives_expiry_of_the_restored_version(spark, tmp_path):
    """Expire after a rollback must keep the head's file closure even
    when the RESTORED version's manifest falls outside the retention
    window — reachability is from retained manifests, not commit
    age."""
    from group5_spark.medallion.snapshots import snapshot_rollback

    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 100), t, stats_cols=["id"])
    snapshot_commit(_df(spark, 500, 510), t, stats_cols=["id"])
    snapshot_rollback(t, version=1)
    out = snapshot_expire(t, keep_last=1)
    assert out["versions_dropped"] == 2
    head = snapshot_read(spark, t)
    assert head.count() == 100 and head.agg(F.min("id")).first()[0] == 0


def test_rollback_guards_and_addressing(spark, tmp_path):
    """Head restore is a no-op; exactly one addressing mode is
    required; expected_parent races raise SnapshotConflict; ref= and
    asof= resolve like snapshot_read."""
    import time as _time

    import pytest

    from group5_spark.medallion.snapshots import (
        SnapshotConflict,
        snapshot_manifest,
        snapshot_rollback,
        snapshot_tag,
    )

    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 10), t)
    between = _time.time()
    snapshot_commit(_df(spark, 10, 30), t)

    assert snapshot_rollback(t, version=2) == 2  # head: no-op
    assert [v["version"] for v in snapshot_versions(t)] == [1, 2]

    with pytest.raises(ValueError, match="exactly one"):
        snapshot_rollback(t)
    with pytest.raises(ValueError, match="exactly one"):
        snapshot_rollback(t, version=1, ref="x")
    with pytest.raises(SnapshotConflict):
        snapshot_rollback(t, version=1, expected_parent=1)

    snapshot_tag(t, "good", version=1)
    v3 = snapshot_rollback(t, ref="good")
    assert snapshot_manifest(t, v3)["note"]["restored_version"] == 1
    # asof resolves to the newest version at/before the instant —
    # between the two original commits, that's v1
    v4 = snapshot_rollback(t, asof=between)
    assert snapshot_manifest(t, v4)["note"]["restored_version"] == 1


def test_rollback_preserves_partition_layout_and_pruning(spark, tmp_path):
    """A restored head of a partitioned table keeps partition_by and
    manifest pruning: predicates still skip files after rollback."""
    from group5_spark.medallion.snapshots import snapshot_rollback

    t = str(tmp_path / "tbl")
    snapshot_commit(
        _df(spark, 0, 100), t, partition_by="k", stats_cols=["id"]
    )
    snapshot_commit(
        _df(spark, 0, 10), t, partition_by="k", stats_cols=["id"]
    )
    snapshot_rollback(t, version=1)
    # partition values are directory strings in the manifest stats
    kept, total = prune_files(t, [("k", "=", "3")])
    assert len(kept) < total
    got = snapshot_read(spark, t, predicates=[("k", "=", "3")])
    assert got.count() == 20 and got.select("k").distinct().first()[0] == 3


# ----------------------- CHECK constraints --------------------------


def test_constraints_enforced_and_inherited(spark, tmp_path):
    """Delta-style table constraints: declared once at commit time,
    persisted in the manifest, enforced on EVERY later commit without
    restating — a violating append raises, becomes invisible, and
    leaves no staged garbage."""
    import pytest

    from group5_spark.medallion.snapshots import (
        ConstraintViolation,
        snapshot_manifest,
    )

    t = str(tmp_path / "tbl")
    snapshot_commit(
        _df(spark, 1, 100), t,
        constraints={"pos_id": "id > 0", "k_range": "k BETWEEN 0 AND 4"},
    )
    assert snapshot_manifest(t)["constraints"] == {
        "pos_id": "id > 0", "k_range": "k BETWEEN 0 AND 4",
    }

    # inherited enforcement: the append does NOT restate the rules
    with pytest.raises(ConstraintViolation, match="pos_id.*3 row"):
        snapshot_commit(_df(spark, -2, 5), t, mode="append")
    assert snapshot_manifest(t)["version"] == 1  # nothing landed
    assert snapshot_read(spark, t).count() == 99
    # staged files of the rejected commit were removed
    leftover = [
        d for d in Path(t).glob("data-*")
        if not any(
            e["path"].startswith(d.name)
            for e in snapshot_manifest(t)["files"]
        )
    ]
    assert leftover == []

    # a clean append lands and re-persists the inherited set
    snapshot_commit(_df(spark, 100, 110), t, mode="append")
    assert snapshot_manifest(t)["constraints"]["pos_id"] == "id > 0"


def test_constraint_null_passes_and_drop_rule(spark, tmp_path):
    """SQL CHECK semantics: NULL predicates pass; and a rule dropped
    with None stops gating commits from then on."""
    from pyspark.sql import functions as F

    from group5_spark.medallion.snapshots import snapshot_manifest

    t = str(tmp_path / "tbl")
    snapshot_commit(
        spark.range(5).select(F.col("id"), F.lit("a").alias("s")),
        t,
        constraints={"s_ok": "length(s) < 10"},
    )
    # NULL s -> predicate NULL -> passes (not a violation)
    nulls = spark.range(2).select(
        F.col("id"), F.lit(None).cast("string").alias("s")
    )
    snapshot_commit(nulls, t, mode="append")

    import pytest

    from group5_spark.medallion.snapshots import ConstraintViolation

    bad = spark.range(1).select(
        F.col("id"), F.lit("x" * 20).alias("s")
    )
    with pytest.raises(ConstraintViolation):
        snapshot_commit(bad, t, mode="append")
    # drop the rule; the same rows now land
    snapshot_commit(bad, t, mode="append", constraints={"s_ok": None})
    assert "constraints" not in snapshot_manifest(t)
    assert snapshot_read(spark, t).count() == 8


def test_constraint_stats_fastpath_skips_staged_read(
    spark, tmp_path, monkeypatch
):
    """Range / NOT NULL CHECK rules over stats-covered columns are
    proven from the staged files' footer min/max/null-count stats —
    commit-time validation runs ZERO Spark read jobs (the reader is
    monkeypatched to explode). Constrained columns get footer stats
    automatically, so the fast-path is self-sustaining from the first
    commit that declares the rule."""
    import pyspark.sql.readwriter as rw

    from group5_spark.medallion.snapshots import snapshot_manifest

    t = str(tmp_path / "tbl")
    snapshot_commit(
        _df(spark, 1, 100), t,
        constraints={"pos_id": "id > 0", "id_nn": "id IS NOT NULL"},
    )
    # the constrained column was auto-added to stats coverage, with
    # the exact footer null count the NOT NULL proof needs
    for e in snapshot_manifest(t)["files"]:
        assert e["stats"]["id"]["nulls"] == 0

    def boom(self, *a, **kw):
        raise AssertionError("constraint validation read staged data")

    monkeypatch.setattr(rw.DataFrameReader, "parquet", boom)
    # both rules proven from metadata — no read, commit lands
    snapshot_commit(_df(spark, 100, 200), t, mode="append")
    assert snapshot_manifest(t)["version"] == 2


def test_constraint_fastpath_fallback_still_detects(spark, tmp_path):
    """The fast-path only ever PROVES a pass: violating data on the
    same provable-fragment rules is unprovable from stats and the
    fallback read reports it; a non-provable rule mixed in is read
    alongside, and only the actually-violated rule is named."""
    import pytest
    from pyspark.sql import functions as F

    from group5_spark.medallion.snapshots import (
        ConstraintViolation,
        snapshot_manifest,
    )

    t = str(tmp_path / "tbl")
    snapshot_commit(
        _df(spark, 1, 100), t,
        constraints={
            "pos_id": "id > 0",  # provable fragment
            "id_nn": "id IS NOT NULL",  # provable fragment
            "k_range": "k BETWEEN 0 AND 4",  # not in the fragment
        },
    )
    # range violation: min stat = -5 can't prove; the fallback read
    # finds ids -5..0 (6 rows) and the negative-remainder k values
    with pytest.raises(
        ConstraintViolation, match=r"k_range.*4 row.*pos_id.*6 row"
    ):
        snapshot_commit(_df(spark, -5, 5), t, mode="append")
    # NOT NULL violation through the null-count stat
    nulls = spark.range(3).select(
        F.when(F.col("id") > 0, F.col("id")).alias("id"),
        (F.col("id") % 5).alias("k"),
    )
    with pytest.raises(ConstraintViolation, match="id_nn"):
        snapshot_commit(nulls, t, mode="append")
    assert snapshot_manifest(t)["version"] == 1  # nothing landed


def test_constraints_survive_rollback_and_clone(spark, tmp_path):
    import pytest

    from group5_spark.medallion.snapshots import (
        ConstraintViolation,
        snapshot_clone,
        snapshot_manifest,
        snapshot_rollback,
    )

    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 1, 50), t, constraints={"pos_id": "id > 0"})
    snapshot_commit(_df(spark, 1, 10), t, mode="append")
    snapshot_rollback(t, version=1)
    assert snapshot_manifest(t)["constraints"] == {"pos_id": "id > 0"}
    with pytest.raises(ConstraintViolation):
        snapshot_commit(_df(spark, -5, 0), t, mode="append")

    c = str(tmp_path / "clone")
    snapshot_clone(t, c)
    # the documented clone contract: pin the cloned version on the
    # SOURCE so its expire never reclaims files the clone references
    from group5_spark.medallion.snapshots import snapshot_tag

    snapshot_tag(t, "clone-pin")
    assert snapshot_manifest(c)["constraints"] == {"pos_id": "id > 0"}
    with pytest.raises(ConstraintViolation):
        snapshot_commit(_df(spark, -5, 0), c, mode="append")


def test_append_and_dml_inherit_stats_coverage(spark, tmp_path):
    """Forgetting stats_cols on an append or a file-pruned rewrite
    must not poison pruning: new files inherit the parent manifest's
    stats columns, so a selective predicate keeps skipping."""
    from group5_spark.medallion.maintenance import snapshot_delete
    from group5_spark.medallion.snapshots import snapshot_manifest

    t = str(tmp_path / "tbl")
    snapshot_commit(
        spark.range(0, 1000).repartitionByRange(4, "id"), t,
        stats_cols=["id"],
    )
    # append WITHOUT stats_cols
    snapshot_commit(
        spark.range(1000, 2000).repartitionByRange(4, "id"), t,
        mode="append",
    )
    files = snapshot_manifest(t)["files"]
    assert all("id" in (e.get("stats") or {}) for e in files)
    kept, total = prune_files(t, [("id", ">=", 1900)])
    assert total == 8 and len(kept) < total

    # file-pruned DML rewrite (overwrite+carry) also inherits
    snapshot_delete(spark, t, [("id", ">=", 1990)])
    files = snapshot_manifest(t)["files"]
    assert files and all("id" in (e.get("stats") or {}) for e in files)
    kept, total = prune_files(t, [("id", "<", 100)])
    assert len(kept) < total


def test_alter_constraint_lifecycle(spark, tmp_path):
    """ADD CONSTRAINT validates existing rows before committing (a
    rule the table already violates is refused); the added rule gates
    future commits; DROP stops enforcement; both are audited
    metadata-only versions."""
    import pytest

    from group5_spark.medallion.snapshots import (
        ConstraintViolation,
        snapshot_add_constraint,
        snapshot_drop_constraint,
        snapshot_manifest,
    )

    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 1, 50), t)

    with pytest.raises(ConstraintViolation, match="id_cap"):
        snapshot_add_constraint(spark, t, "id_cap", "id < 10")

    v2 = snapshot_add_constraint(spark, t, "pos_id", "id > 0")
    assert v2 == 2
    m = snapshot_manifest(t)
    assert m["constraints"] == {"pos_id": "id > 0"}
    assert m["note"] == {"op": "add_constraint", "constraint": "pos_id"}
    # metadata-only: same file set as v1
    assert {e["path"] for e in m["files"]} == {
        e["path"] for e in snapshot_manifest(t, 1)["files"]
    }
    # idempotent re-add is a no-op
    assert snapshot_add_constraint(spark, t, "pos_id", "id > 0") == 2

    with pytest.raises(ConstraintViolation):
        snapshot_commit(_df(spark, -3, 2), t, mode="append")

    v3 = snapshot_drop_constraint(t, "pos_id")
    assert v3 == 3 and "constraints" not in snapshot_manifest(t)
    assert snapshot_drop_constraint(t, "pos_id") == 3  # absent: no-op
    snapshot_commit(_df(spark, -3, 2), t, mode="append")  # now lands
    assert snapshot_read(spark, t).count() == 54


def test_metadata_ops_composed_lifecycle(spark, tmp_path):
    """Kitchen-sink composition: append → ALTER ADD CONSTRAINT →
    rollback → clone → diverge the clone → clustering-compact the
    source → expire — at every step the lakehouse invariants hold
    (linear audited history, constraint enforcement, clone isolation,
    pruning, no data loss)."""
    import math

    import pytest

    from group5_spark.medallion.maintenance import compact_snapshot
    from group5_spark.medallion.snapshots import (
        ConstraintViolation,
        snapshot_add_constraint,
        snapshot_clone,
        snapshot_manifest,
        snapshot_rollback,
        snapshot_versions,
    )

    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 1, 100).repartition(6), t, stats_cols=["id"])
    snapshot_commit(_df(spark, 100, 150), t, mode="append")      # v2
    snapshot_add_constraint(spark, t, "pos_id", "id > 0")        # v3
    snapshot_rollback(t, version=1)                              # v4
    # rollback restored v1's FILES but constraints came from v1's
    # manifest (none) — the v3 rule is gone with the restore, which is
    # the RESTORE contract (table state = the restored version's
    # state); re-add to continue enforcing
    assert "constraints" not in snapshot_manifest(t)
    snapshot_add_constraint(spark, t, "pos_id", "id > 0")        # v5

    c = str(tmp_path / "clone")
    snapshot_clone(t, c)
    # the documented clone contract: pin the cloned version on the
    # SOURCE so its expire never reclaims files the clone references
    from group5_spark.medallion.snapshots import snapshot_tag

    snapshot_tag(t, "clone-pin")
    with pytest.raises(ConstraintViolation):
        snapshot_commit(_df(spark, -1, 3), c, mode="append")
    snapshot_commit(_df(spark, 500, 520), c, mode="append")      # clone v2
    # clone divergence never touches the source
    assert snapshot_read(spark, t).count() == 99
    assert snapshot_read(spark, c).count() == 119

    nbytes = sum(e["bytes"] for e in snapshot_manifest(t)["files"])
    out = compact_snapshot(
        spark, t, sort_cols=["id"], target_file_bytes=math.ceil(nbytes / 3)
    )
    # the clustered rewrite inherits + enforces the constraint set
    assert snapshot_manifest(t)["constraints"] == {"pos_id": "id > 0"}
    with pytest.raises(ConstraintViolation):
        snapshot_commit(_df(spark, -9, -5), t, mode="append")

    snapshot_expire(t, keep_last=1)
    # retained: the head plus the tag-pinned cloned version
    assert {v["version"] for v in snapshot_versions(t)} >= {out["version"]}
    head = snapshot_read(spark, t)
    assert head.count() == 99 and head.agg(F.min("id")).first()[0] == 1
    kept, total = prune_files(t, [("id", ">=", 90)])
    assert 0 < len(kept) < total
    # the clone still reads in full: the tag pinned its file closure
    # through the source's expiry
    assert snapshot_read(spark, c).count() == 119


def test_lost_race_append_rebases_constraints_and_properties(
    spark, tmp_path, monkeypatch
):
    """A blind append that loses the chain-claim race rebases onto the
    NEW parent — and must stamp the head with the RACING commit's
    constraint set and property note, not the stale pre-stage
    snapshot (which would silently erase a rule or property the
    racing commit added)."""
    from group5_spark.medallion import snapshots as snap

    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 1, 10), t)  # v1: no rules, no props
    # the "racing" commit: adds a CHECK rule and a table property
    snapshot_commit(
        _df(spark, 10, 20),
        t,
        mode="append",
        note={"model": {"k": 3}},
        constraints={"pos_id": "id > 0"},
    )
    # make the next commit's pre-stage head read STALE (v1), as if the
    # racing commit landed between its read and its chain claim
    real = snap._current_version
    calls = {"n": 0}

    def stale_then_real(root):
        calls["n"] += 1
        return 1 if calls["n"] == 1 else real(root)

    monkeypatch.setattr(snap, "_current_version", stale_then_real)
    v3 = snapshot_commit(_df(spark, 20, 30), t, mode="append")
    m = snap.snapshot_manifest(t, v3)
    # the racing rule and property survive on the new head
    assert m["constraints"] == {"pos_id": "id > 0"}
    assert m["note"]["model"] == {"k": 3}
    assert snapshot_read(spark, t).count() == 29
    # and the inherited rule keeps enforcing on later commits
    import pytest as _pytest

    from group5_spark.medallion.snapshots import ConstraintViolation

    with _pytest.raises(ConstraintViolation):
        snapshot_commit(_df(spark, -5, 0), t, mode="append")


def test_lost_race_append_revalidates_grown_rule(
    spark, tmp_path, monkeypatch
):
    """When the racing commit GREW the rule set, the rebased commit
    must re-validate its staged rows against the new rules — rows that
    passed the stale (empty) set but violate the racing rule are
    rejected, and the staged files are reclaimed."""
    import pytest as _pytest

    from group5_spark.medallion import snapshots as snap
    from group5_spark.medallion.snapshots import ConstraintViolation

    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 1, 10), t)  # v1: no rules
    snapshot_commit(
        _df(spark, 10, 20), t, mode="append", constraints={"pos_id": "id > 0"}
    )
    real = snap._current_version
    calls = {"n": 0}

    def stale_then_real(root):
        calls["n"] += 1
        return 1 if calls["n"] == 1 else real(root)

    monkeypatch.setattr(snap, "_current_version", stale_then_real)
    n_dirs = len(list(Path(t).glob("data-*")))
    with _pytest.raises(ConstraintViolation):
        snapshot_commit(_df(spark, -5, 0), t, mode="append")
    # head intact, violating staged files reclaimed
    assert snap.snapshot_manifest(t)["version"] == 2
    assert snapshot_read(spark, t).count() == 19
    assert len(list(Path(t).glob("data-*"))) == n_dirs


def test_update_note_set_cols_is_ephemeral(spark, tmp_path):
    """snapshot_update's audit markers (update_where, set_cols) are
    per-commit notes, NOT table properties — a later append must not
    inherit them."""
    from group5_spark.medallion.maintenance import snapshot_update
    from group5_spark.medallion.snapshots import latest_note

    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 10), t, stats_cols=["id"])
    snapshot_update(spark, t, [("id", "=", 3)], {"k": F.lit(99)})
    note = latest_note(t)
    assert note["set_cols"] == ["k"] and "update_where" in note
    snapshot_commit(_df(spark, 100, 105), t, mode="append")
    assert "set_cols" not in latest_note(t)
    assert "update_where" not in latest_note(t)


# ── partition evolution ──────────────────────────────────────────────
# Iceberg-style spec change: the layout evolves FORWARD only — no data
# file moves. At 100 TB, re-partitioning a table by rewrite is exactly
# the job evolution exists to avoid; the contract here is that reads,
# pruning, time travel and DML stay correct over the mixed layout, and
# that the two VALUE-grouped operations (replace_partitions,
# per-partition compaction) are spec-aware instead of silently wrong.


def _evo_df(spark, lo, hi):
    return spark.createDataFrame(
        [(i, i % 3, i % 2, float(i)) for i in range(lo, hi)],
        "id int, p1 int, p2 int, val double",
    )


def test_partition_spec_change_requires_evolve_flag(spark, tmp_path):
    import pytest

    t = str(tmp_path / "tbl")
    snapshot_commit(_evo_df(spark, 0, 30), t, partition_by="p1")
    with pytest.raises(ValueError, match="evolve_partitioning"):
        snapshot_commit(
            _evo_df(spark, 30, 60), t, mode="append", partition_by="p2"
        )
    # un-partitioning is a spec change too
    with pytest.raises(ValueError, match="evolve_partitioning"):
        snapshot_commit(_evo_df(spark, 30, 60), t, mode="append")


def test_unpartitioned_to_partitioned_append_guard(spark, tmp_path):
    """Regression for a pre-evolution hole: appending WITH a
    partition_by to an unpartitioned table used to be silently
    allowed, after which replace_partitions would carry the old
    unpartitioned files wholesale — stale rows surviving in the
    'replaced' partitions. Now it demands the evolve flag, and the
    evolved table refuses the unsound replace."""
    import pytest

    t = str(tmp_path / "tbl")
    snapshot_commit(_evo_df(spark, 0, 30), t)  # unpartitioned
    with pytest.raises(ValueError, match="evolve_partitioning"):
        snapshot_commit(
            _evo_df(spark, 30, 60), t, mode="append", partition_by="p2"
        )
    snapshot_commit(
        _evo_df(spark, 30, 60),
        t,
        mode="append",
        partition_by="p2",
        evolve_partitioning=True,
    )
    # old unpartitioned file spans p2∈{0,1} (no p2 stats recorded) —
    # replacing p2=0 cannot be proven safe, so it must refuse
    with pytest.raises(ValueError, match="previous partition spec"):
        snapshot_commit(
            _evo_df(spark, 100, 101),
            t,
            mode="replace_partitions",
            partition_by="p2",
        )


def test_evolution_reads_prunes_and_time_travels(spark, tmp_path):
    from group5_spark.medallion.snapshots import (
        _entry_old_spec,
        snapshot_manifest,
    )

    t = str(tmp_path / "tbl")
    v1 = snapshot_commit(
        _evo_df(spark, 0, 30), t, partition_by="p1", stats_cols=["id", "p2"]
    )
    snapshot_commit(
        _evo_df(spark, 30, 60),
        t,
        mode="append",
        partition_by="p2",
        evolve_partitioning=True,
    )
    m = snapshot_manifest(t)
    assert m["partition_by"] == "p2"
    assert m["partition_history"] == ["p1"]
    old = [e for e in m["files"] if _entry_old_spec(e, "p2")]
    new = [e for e in m["files"] if not _entry_old_spec(e, "p2")]
    assert old and new
    assert all(e["partition_col"] == "p1" for e in old)
    assert all(e["partition_col"] == "p2" for e in new)
    out = snapshot_read(spark, t)
    # both layouts surface the FULL schema: old files reconstruct p1
    # from dir names, new files reconstruct p2
    assert out.count() == 60
    assert out.select("id").distinct().count() == 60
    assert out.filter(F.col("p2") == 1).count() == 30
    assert out.filter(F.col("p1") == 0).count() == 20
    # pruning on the NEW spec column: OLD-spec files prune via their
    # typed p2 FOOTER stats (0..1 in every p1 dir ⇒ '= 5' skips
    # them); new-spec files carry the dir-name stat as a string, so a
    # typed probe degrades to must-read there — never wrongly pruned
    kept, total = prune_files(t, [("p2", "=", 5)])
    assert len(kept) == len(new)
    assert not any("p1=" in p for p in kept)
    # old-spec entries keep their p1 dir-name stat → p1 pruning works
    kept, total = prune_files(t, [("p1", "=", 9)])
    assert len(kept) < total
    # time travel: the pre-evolution version reads under its own spec
    assert snapshot_read(spark, t, version=v1).count() == 30


def test_replace_partitions_stats_proven_carry_across_specs(spark, tmp_path):
    """An old-spec file whose footer stats PROVE it has no rows in the
    replaced partitions is carried; an overlapping one refuses."""
    import pytest

    t = str(tmp_path / "tbl")
    # day == grp: each old grp-dir holds exactly one day value
    df1 = spark.createDataFrame(
        [(i, i % 3, i % 3, float(i)) for i in range(30)],
        "id int, grp int, day int, val double",
    )
    snapshot_commit(df1, t, partition_by="grp", stats_cols=["id", "day"])
    df2 = spark.createDataFrame(
        [(i, 0, 7, float(i)) for i in range(30, 40)],
        "id int, grp int, day int, val double",
    )
    snapshot_commit(
        df2, t, mode="append", partition_by="day", evolve_partitioning=True
    )
    # replace day=7: every old file's day-range is {0}|{1}|{2} — proven
    # disjoint, so the replace lands and the old rows all survive
    repl = spark.createDataFrame(
        [(100, 0, 7, 1.0)], "id int, grp int, day int, val double"
    )
    snapshot_commit(repl, t, mode="replace_partitions", partition_by="day")
    out = snapshot_read(spark, t)
    assert out.count() == 31  # 30 originals + 1 replacement
    assert out.filter(F.col("day") == 7).count() == 1
    # replace day=1: old grp=1 file provably CONTAINS day=1 → refuse
    repl2 = spark.createDataFrame(
        [(101, 1, 1, 1.0)], "id int, grp int, day int, val double"
    )
    with pytest.raises(ValueError, match="previous partition spec"):
        snapshot_commit(
            repl2, t, mode="replace_partitions", partition_by="day"
        )


def test_compaction_migrates_previous_spec(spark, tmp_path):
    from group5_spark.medallion.maintenance import (
        compact_snapshot_partitions,
    )
    from group5_spark.medallion.snapshots import (
        _entry_old_spec,
        snapshot_manifest,
    )

    t = str(tmp_path / "tbl")
    snapshot_commit(
        _evo_df(spark, 0, 30), t, partition_by="p1", stats_cols=["id", "p2"]
    )
    snapshot_commit(
        _evo_df(spark, 30, 60),
        t,
        mode="append",
        partition_by="p2",
        evolve_partitioning=True,
    )
    before = snapshot_read(spark, t).orderBy("id").collect()
    r = compact_snapshot_partitions(
        spark, t, target_file_bytes=1 << 30, min_files_to_compact=64
    )
    # only the migrate group is unhealthy (64-file threshold): the
    # rewrite is priced at the OLD-SPEC volume, not the table's
    assert r["partitions_compacted"] == 1
    m = snapshot_manifest(t)
    assert "partition_history" not in m  # layout unified → history GC'd
    assert not any(_entry_old_spec(e, "p2") for e in m["files"])
    assert all(
        e["partition_col"] == "p2" for e in m["files"] if "partition" in e
    )
    after = snapshot_read(spark, t).orderBy("id").collect()
    assert after == before
    # value grouping is sound again: replace_partitions now lands
    repl = spark.createDataFrame(
        [(100, 0, 0, 1.0)], "id int, p1 int, p2 int, val double"
    )
    snapshot_commit(repl, t, mode="replace_partitions", partition_by="p2")
    out = snapshot_read(spark, t)
    assert out.filter(F.col("p2") == 0).count() == 1
    assert out.filter(F.col("p2") == 1).count() == 30


def test_merge_on_evolved_table_rewrites_under_current_spec(
    spark, tmp_path
):
    from group5_spark.medallion.maintenance import snapshot_merge
    from group5_spark.medallion.snapshots import snapshot_manifest

    t = str(tmp_path / "tbl")
    snapshot_commit(
        _evo_df(spark, 0, 30), t, partition_by="p1", stats_cols=["id", "p2"]
    )
    snapshot_commit(
        _evo_df(spark, 30, 60),
        t,
        mode="append",
        partition_by="p2",
        evolve_partitioning=True,
    )
    # update one row from each layout generation + insert a new one
    src = spark.createDataFrame(
        [(5, 5 % 3, 5 % 2, 500.0), (40, 40 % 3, 40 % 2, 400.0),
         (99, 0, 1, 999.0)],
        "id int, p1 int, p2 int, val double",
    )
    snapshot_merge(spark, t, src, ["id"])
    out = snapshot_read(spark, t)
    assert out.count() == 61
    got = {
        r["id"]: r["val"]
        for r in out.filter(F.col("id").isin(5, 40, 99)).collect()
    }
    assert got == {5: 500.0, 40: 400.0, 99: 999.0}
    # rewritten + inserted files land under the CURRENT spec; any
    # still-carried old-spec entry keeps its annotation and the
    # manifest keeps the history while one remains
    m = snapshot_manifest(t)
    touched_specs = {
        e.get("partition_col")
        for e in m["files"]
        if "p2=" in e["path"]
    }
    assert touched_specs == {"p2"}


def test_evolution_to_unpartitioned_and_back(spark, tmp_path):
    from group5_spark.medallion.snapshots import snapshot_manifest

    t = str(tmp_path / "tbl")
    snapshot_commit(
        _evo_df(spark, 0, 30), t, partition_by="p1", stats_cols=["id"]
    )
    snapshot_commit(
        _evo_df(spark, 30, 60), t, mode="append", evolve_partitioning=True
    )
    m = snapshot_manifest(t)
    assert "partition_by" not in m and m["partition_history"] == ["p1"]
    out = snapshot_read(spark, t)
    assert out.count() == 60 and out.filter(F.col("p1") == 0).count() == 20
    # evolve back: the original p1 entries become CURRENT-spec again
    # (their value grouping is sound under the restored spec)
    snapshot_commit(
        _evo_df(spark, 60, 90),
        t,
        mode="append",
        partition_by="p1",
        evolve_partitioning=True,
    )
    m2 = snapshot_manifest(t)
    assert m2["partition_by"] == "p1"
    assert snapshot_read(spark, t).count() == 90


def test_may_contain_value_escaped_probe_is_unprovable():
    """Round-6 ADVICE (medium): Hive dir names percent-escape special
    chars, and '%' (0x25) sorts BELOW every digit and ':' (0x3A) — so
    the escaped probe '... 10%3A30%3A00' compares lexicographically
    BELOW a raw footer range that genuinely contains the raw value
    '... 10:30:00'. Comparing raw stats against the escaped form would
    falsely "prove" the file disjoint and silently carry stale rows
    through replace_partitions. Any probe still carrying '%' must be
    unprovable (True)."""
    from group5_spark.medallion.snapshots import _may_contain_value

    stats = {
        "ts": {"min": "2024-01-01 10:00:00", "max": "2024-01-01 10:59:59"}
    }
    raw = "2024-01-01 10:30:00"
    escaped = "2024-01-01 10%3A30%3A00"
    # sanity: the raw value IS inside the range...
    assert _may_contain_value(stats, "ts", [raw]) is True
    # ...and the escaped form sorts below the range's min — the exact
    # shape of the false "proof" the fix closes
    assert escaped < stats["ts"]["min"]
    assert _may_contain_value(stats, "ts", [escaped]) is True
    # plain values keep real pruning power: a genuinely-outside probe
    # without escapes is still provably absent
    assert _may_contain_value(stats, "ts", ["2024-06-01 00:00:00"]) is False


def test_zero_row_staged_files_never_enter_the_manifest(spark, tmp_path):
    """A pure-DV delete (stages an empty frame) and an empty append
    must not litter stub entries: schema lives in the metadata, so a
    rowless part file is pure scan-listing rent. The commit (and its
    note — streaming replay markers!) still lands."""
    from group5_spark.medallion.maintenance import snapshot_delete
    from group5_spark.medallion.snapshots import snapshot_manifest

    t = str(tmp_path / "tbl")
    snapshot_commit(
        spark.range(0, 100)
        .select("id")
        .repartitionByRange(4, "id"),
        t,
        stats_cols=["id"],
    )
    n0 = len(snapshot_manifest(t)["files"])
    snapshot_delete(spark, t, [("id", "<", 3)], dv_threshold=1.0)
    m = snapshot_manifest(t)
    assert len(m["files"]) == n0  # masked in place, no stub appended
    assert all(e["rows"] > 0 for e in m["files"])
    # empty append: note recorded, zero new entries
    empty = spark.createDataFrame([], "id long")
    snapshot_commit(empty, t, mode="append", note={"batch_id": 7})
    m2 = snapshot_manifest(t)
    assert len(m2["files"]) == n0
    assert m2["note"]["batch_id"] == 7
    assert snapshot_read(spark, t).count() == 97


def test_expire_keep_since_retains_the_time_window(spark, tmp_path):
    """Time-based retention: keep_since retains every published
    version committed at/after the instant, beyond keep_last — 'a
    week of time travel' regardless of commit count."""
    import json as _json
    import time

    from group5_spark.medallion.snapshots import _manifest_path

    t = str(tmp_path / "tbl")
    for i in range(4):  # v1..v4, each overwrites
        snapshot_commit(_df(spark, i * 10, i * 10 + 10), t)
    root = Path(t)
    now = time.time()
    # doctor commit times: v1/v2 are ancient, v3/v4 recent
    for v, age in ((1, 9000), (2, 8000), (3, 10), (4, 0)):
        p = _manifest_path(root, v)
        m = _json.loads(p.read_text())
        m["ts"] = now - age
        p.write_text(_json.dumps(m))
    out = snapshot_expire(
        t, keep_last=1, keep_since=now - 3600, orphan_grace_s=0.0
    )
    assert out["versions_dropped"] == 2
    # the window survives; ancient history is gone
    assert snapshot_read(spark, t, version=3).count() == 10
    assert snapshot_read(spark, t, version=4).count() == 10
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        snapshot_read(spark, t, version=1)


def test_last_committed_batch_stops_at_newest_match(
    spark, tmp_path, monkeypatch
):
    """The idempotency check of every streaming micro-batch returns on
    the newest matching note without parsing older history: on a
    20-version table it opens the pointer and the head manifest, not
    the whole lineage."""
    import pathlib

    from group5_spark.medallion import snapshots as snap

    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 10), t, note={"app_id": "a", "batch_id": 0})
    for b in range(1, 20):  # v2..v20: one metadata-only commit per batch
        snap._metadata_commit(
            Path(t),
            lambda parent, v, b=b: {
                **snap.snapshot_manifest(t, parent),
                "version": v,
                "parent": parent,
                "note": {"app_id": "a", "batch_id": b},
            },
        )
    assert snap.snapshot_manifest(t)["version"] == 20
    opened = []
    real_open = pathlib.Path.open

    def counting_open(self, mode="r", *args, **kwargs):
        if "_manifests" in self.parts:
            opened.append(self.name)
        return real_open(self, mode, *args, **kwargs)

    monkeypatch.setattr(pathlib.Path, "open", counting_open)
    assert snap.last_committed_batch(t, "a") == 19
    assert len(opened) <= 3, opened
    monkeypatch.setattr(pathlib.Path, "open", real_open)
    assert snap.last_committed_batch(t, "other") is None
