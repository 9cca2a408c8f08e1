"""Streaming-native path tests: AvailableNow drains, watermarked
windows, checkpoint-based exactly-once re-runs."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from group5_spark.generator import events as gen
from group5_spark.schemas import USER_EVENT_SCHEMA
from group5_spark.sources.landing import write_ndjson_batch
from group5_spark.streaming import jobs


@pytest.fixture(scope="module")
def landing(tmp_path_factory):
    root = tmp_path_factory.mktemp("stream")
    customers = gen.make_customers(20)
    products = gen.make_products(20)
    ue = gen.make_user_events(300, customers, products)
    write_ndjson_batch(ue, "user_events", str(root / "landing"), batch_ts=1)
    return root


def test_available_now_counts_match_batch(spark, landing):
    glob = str(landing / "landing" / "user_events_batch_*.json")
    stream = jobs.stream_landing(spark, glob, USER_EVENT_SCHEMA)
    typed = stream.withColumn(
        "event_ts", F.to_timestamp("timestamp", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'")
    )
    windowed = jobs.windowed_event_counts(typed, window="5 minutes")
    # complete mode: emit all windows incl. ones the watermark has not
    # closed yet (append would drop the tail windows of the batch)
    jobs.run_available_now(
        windowed, str(landing / "ckpt1"), "stream_counts", output_mode="complete"
    )
    stream_total = (
        spark.table("stream_counts").agg(F.sum("n_events")).collect()[0][0]
    )
    batch_total = spark.read.schema(USER_EVENT_SCHEMA).json(glob).count()
    assert stream_total == batch_total


def test_checkpoint_no_reprocess(spark, landing):
    """Second AvailableNow run with the same checkpoint processes
    nothing new (exactly-once over the already-drained files)."""
    glob = str(landing / "landing" / "user_events_batch_*.json")
    stream = jobs.stream_landing(spark, glob, USER_EVENT_SCHEMA)
    typed = stream.withColumn(
        "event_ts", F.to_timestamp("timestamp", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'")
    )
    counts = typed.groupBy("event_type").count()
    jobs.run_available_now(
        counts, str(landing / "ckpt2"), "run_a", output_mode="complete"
    )
    total_a = spark.table("run_a").agg(F.sum("count")).collect()[0][0]

    # new file lands → only it is processed on the next drain
    customers = gen.make_customers(20)
    products = gen.make_products(20)
    extra = gen.make_user_events(50, customers, products, seed=99)
    write_ndjson_batch(extra, "user_events", str(landing / "landing"), batch_ts=2)

    stream2 = jobs.stream_landing(spark, glob, USER_EVENT_SCHEMA)
    typed2 = stream2.withColumn(
        "event_ts", F.to_timestamp("timestamp", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'")
    )
    counts2 = typed2.groupBy("event_type").count()
    jobs.run_available_now(
        counts2, str(landing / "ckpt2"), "run_b", output_mode="complete"
    )
    total_b = spark.table("run_b").agg(F.sum("count")).collect()[0][0]
    assert total_a == 300
    assert total_b == 350  # complete mode: cumulative state, +50 only


def test_rate_limit_max_files_per_trigger(spark, tmp_path):
    """maxFilesPerTrigger=1 bounds each micro-batch to one landing
    file: an AvailableNow drain over 3 files runs 3 micro-batches
    (backpressure knob — at scale this caps per-trigger input so one
    burst of landed files cannot blow out an executor)."""
    root = tmp_path / "landing"
    customers = gen.make_customers(10)
    products = gen.make_products(10)
    for batch_ts in (1, 2, 3):
        ue = gen.make_user_events(40, customers, products, seed=batch_ts)
        write_ndjson_batch(ue, "user_events", str(root), batch_ts=batch_ts)
    glob = str(root / "user_events_batch_*.json")
    stream = jobs.stream_landing(
        spark, glob, USER_EVENT_SCHEMA, max_files_per_trigger=1
    )
    q = jobs.run_available_now(
        stream.groupBy("event_type").count(),
        str(tmp_path / "ckpt_rate"),
        "rate_limited",
        output_mode="complete",
    )
    n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    assert n_batches == 3
    total = spark.table("rate_limited").agg(F.sum("count")).collect()[0][0]
    assert total == 120


def test_watermark_drops_late_state(spark, tmp_path):
    """Rows older than the watermark do not open new windows in the
    final result (append mode emits only closed windows)."""
    base = datetime(2026, 1, 1, 12, 0, 0)
    rows = [("e1", base), ("e2", base + timedelta(minutes=30))]
    src = tmp_path / "wm"
    src.mkdir()
    import json

    with open(src / "events.json", "w") as fh:
        for eid, ts in rows:
            fh.write(json.dumps({
                "event_id": eid, "user_id": "u", "event_type": "view",
                "timestamp": ts.strftime("%Y-%m-%dT%H:%M:%S.%f") + "Z",
            }) + "\n")
    stream = jobs.stream_landing(spark, str(src / "*.json"), USER_EVENT_SCHEMA)
    typed = stream.withColumn(
        "event_ts", F.to_timestamp("timestamp", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'")
    )
    win = jobs.windowed_event_counts(typed, window="5 minutes", watermark="10 minutes")
    jobs.run_available_now(win, str(tmp_path / "ckpt"), "wm_out", "append")
    got = spark.table("wm_out").collect()
    # the first window (12:00) closed once the 12:30 event advanced the
    # watermark past 12:05+10m; the 12:30 window stays open → 1 row
    assert len(got) == 1 and got[0].n_events == 1


def test_stateful_sessionization(spark, tmp_path):
    """applyInPandasWithState sessionization: in-batch gap splits close
    sessions; the trailing open session stays in state (no row)."""
    import json
    from pathlib import Path

    base = datetime(2024, 1, 1, 0, 0, 0)
    iso = lambda m: (base + timedelta(minutes=m)).strftime(
        "%Y-%m-%dT%H:%M:%S.%f"
    ) + "Z"
    # user u1: events at 0,5,10 min (session of 3), then 120,121 (open tail)
    # user u2: single event at 0 (open tail)
    rows = [
        {"user_id": "u1", "timestamp": iso(0)},
        {"user_id": "u1", "timestamp": iso(5)},
        {"user_id": "u1", "timestamp": iso(10)},
        {"user_id": "u1", "timestamp": iso(120)},
        {"user_id": "u1", "timestamp": iso(121)},
        {"user_id": "u2", "timestamp": iso(0)},
    ]
    src = tmp_path / "sess"
    src.mkdir()
    (src / "batch_1.json").write_text("\n".join(json.dumps(r) for r in rows))

    stream = (
        spark.readStream.schema("user_id string, timestamp string")
        .json(str(src / "*.json"))
        .withColumn(
            "event_ts",
            F.to_timestamp("timestamp", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"),
        )
    )
    sessions = jobs.sessionize_stateful(stream, gap="30 minutes")
    jobs.run_available_now(sessions, str(tmp_path / "ckpt"), "sessions_out")
    out = {
        (r.user_id, r.n_events): (r.session_start, r.session_end)
        for r in spark.table("sessions_out").collect()
    }
    # u1's first session closed by the in-batch 110-min gap
    assert ("u1", 3) in out
    start, end = out[("u1", 3)]
    assert (end - start).total_seconds() == 600
    # u2's lone-event session closed by EventTimeTimeout: the final
    # watermark (121 min - 1 h = 61 min) passed its end + 30-min gap
    assert ("u2", 1) in out
    # u1's tail session (120,121 min) stays open in state: its
    # timeout (121 + 30 = 151 min) is beyond the watermark → no row
    assert ("u1", 2) not in out


def test_stream_upsert_foreachbatch_merge(spark, tmp_path):
    import json
    import os

    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType([
        StructField("id", IntegerType()),
        StructField("d", StringType()),
        StructField("v", StringType()),
        StructField("seq", IntegerType()),
    ])
    src_dir = tmp_path / "src"
    src_dir.mkdir()
    target = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")

    def emit(name, rows):
        with open(src_dir / name, "w") as f:
            for r in rows:
                f.write(json.dumps(dict(zip("id d v seq".split(), r))) + "\n")

    # batch 1: initial state (with an in-batch duplicate for id=2 —
    # the higher seq must win)
    emit("b1.json", [
        (1, "2024-01-01", "a", 1),
        (2, "2024-01-01", "b0", 1),
        (2, "2024-01-01", "b1", 2),
    ])
    stream = spark.readStream.schema(schema).json(str(src_dir))
    jobs.stream_upsert(
        stream, ckpt, target, ["id"], partition_col="d", sequence_col="seq"
    )
    got = {
        r["id"]: (r["v"], r["seq"])
        for r in spark.read.parquet(target).collect()
    }
    assert got == {1: ("a", 1), 2: ("b1", 2)}

    # batch 2: update id=1, stale change for id=2 (ignored), insert 3
    emit("b2.json", [
        (1, "2024-01-01", "a2", 5),
        (2, "2024-01-01", "STALE", 1),
        (3, "2024-01-02", "c", 1),
    ])
    stream = spark.readStream.schema(schema).json(str(src_dir))
    jobs.stream_upsert(
        stream, ckpt, target, ["id"], partition_col="d", sequence_col="seq"
    )
    got = {
        r["id"]: (r["v"], r["seq"])
        for r in spark.read.parquet(target).collect()
    }
    assert got == {1: ("a2", 5), 2: ("b1", 2), 3: ("c", 1)}
    # checkpoint prevented re-reading b1.json: id=2 kept seq=2 state
    assert os.path.isdir(ckpt)


def test_stream_snapshot_sink_crash_after_commit_dedupes_on_resume(
    spark, tmp_path, monkeypatch
):
    """Crash injection: the process dies AFTER the snapshot commit is
    durable but BEFORE the checkpoint records the batch. On resume the
    batch replays; the (app_id, batch_id) note in the published
    lineage recognizes it as committed and skips — exactly one copy,
    one version."""
    import json

    import pytest
    from pyspark.sql.types import LongType, StructField, StructType

    from group5_spark.medallion import snapshots as snap_mod
    from group5_spark.medallion.snapshots import snapshot_read, snapshot_versions

    src = tmp_path / "src"
    src.mkdir()
    tbl = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    schema = StructType([StructField("id", LongType())])
    with open(src / "a.json", "w") as f:
        for i in (1, 2, 3):
            f.write(json.dumps({"id": i}) + "\n")

    real_commit = snap_mod.snapshot_commit

    def crash_after_commit(*args, **kwargs):
        version = real_commit(*args, **kwargs)
        raise RuntimeError(f"injected crash after durable commit v{version}")

    monkeypatch.setattr(snap_mod, "snapshot_commit", crash_after_commit)
    stream = spark.readStream.schema(schema).json(str(src))
    q = (
        jobs.stream_snapshot_sink(stream, tbl, ckpt)
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="injected crash"):
        q.awaitTermination()
    # the commit IS durable despite the crash
    assert snapshot_read(spark, tbl).count() == 3

    monkeypatch.setattr(snap_mod, "snapshot_commit", real_commit)
    # resume with the SAME checkpoint: batch 0 replays, is recognized
    # as already committed by this app, and is skipped
    stream = spark.readStream.schema(schema).json(str(src))
    q = (
        jobs.stream_snapshot_sink(stream, tbl, ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert snapshot_read(spark, tbl).count() == 3  # no duplicates
    assert len(snapshot_versions(tbl)) == 1  # no phantom version


def test_stream_snapshot_sink_orphan_commit_is_retried_not_lost(
    spark, tmp_path
):
    """Crash injection the other side of the commit point: the writer
    died after writing its manifest but BEFORE the chain claim — an
    unpublished orphan carrying the (app_id, batch_id) note. The note
    must NOT satisfy the idempotency check (the data never became
    visible); the replayed batch commits for real."""
    import json as _json

    from pyspark.sql.types import LongType, StructField, StructType

    from group5_spark.medallion.snapshots import snapshot_read

    src = tmp_path / "src"
    src.mkdir()
    tbl = str(tmp_path / "tbl")
    root = tmp_path / "tbl" / "_manifests"
    root.mkdir(parents=True)
    # hand-crafted orphan: manifest v1 with the app's batch-0 note,
    # no chain link — exactly the state a crash between manifest
    # write and chain claim leaves behind
    (root / "v00001.json").write_text(
        _json.dumps(
            {
                "version": 1,
                "parent": 0,
                "ts": 0,
                "schema": {"type": "struct", "fields": []},
                "note": {"app_id": "myapp", "batch_id": 0},
                "files": [],
            }
        )
    )
    with open(src / "a.json", "w") as f:
        for i in (1, 2, 3):
            f.write(_json.dumps({"id": i}) + "\n")
    schema = StructType([StructField("id", LongType())])
    stream = spark.readStream.schema(schema).json(str(src))
    q = (
        jobs.stream_snapshot_sink(
            stream, tbl, str(tmp_path / "ckpt"), app_id="myapp"
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # the orphan's note did not swallow the batch: rows are visible
    assert snapshot_read(spark, tbl).count() == 3


def test_stream_upsert_crash_replay_is_idempotent(
    spark, tmp_path, monkeypatch
):
    """Crash injection for the MERGE sink: the batch is fully applied
    to the table, then the process dies before the checkpoint commit.
    The replayed batch re-applies the same MERGE; sequence_col makes
    it idempotent — no duplicate keys, no double-applied updates."""
    import json

    import pytest
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    from group5_spark.medallion import merge as merge_mod

    schema = StructType([
        StructField("id", IntegerType()),
        StructField("d", StringType()),
        StructField("v", StringType()),
        StructField("seq", IntegerType()),
    ])
    src_dir = tmp_path / "src"
    src_dir.mkdir()
    target = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")

    def emit(name, rows):
        with open(src_dir / name, "w") as f:
            for r in rows:
                f.write(json.dumps(dict(zip("id d v seq".split(), r))) + "\n")

    # batch 0 seeds the table (no MERGE on first write)
    emit("b1.json", [(1, "2024-01-01", "a", 1), (2, "2024-01-01", "b", 1)])
    stream = spark.readStream.schema(schema).json(str(src_dir))
    jobs.stream_upsert(
        stream, ckpt, target, ["id"], partition_col="d", sequence_col="seq"
    )

    # batch 1 MERGEs fully, then the process "dies" pre-checkpoint
    real_merge = merge_mod.merge_into
    crashed = {"done": False}

    def crash_after_merge(*args, **kwargs):
        out = real_merge(*args, **kwargs)
        if not crashed["done"]:
            crashed["done"] = True
            raise RuntimeError("injected crash after merge applied")
        return out

    monkeypatch.setattr(merge_mod, "merge_into", crash_after_merge)
    emit("b2.json", [(1, "2024-01-01", "a2", 5), (3, "2024-01-02", "c", 1)])
    stream = spark.readStream.schema(schema).json(str(src_dir))
    with pytest.raises(Exception, match="injected crash"):
        jobs.stream_upsert(
            stream, ckpt, target, ["id"], partition_col="d", sequence_col="seq"
        )
    # the merge itself landed before the crash
    got = {r["id"]: (r["v"], r["seq"]) for r in spark.read.parquet(target).collect()}
    assert got == {1: ("a2", 5), 2: ("b", 1), 3: ("c", 1)}

    # resume: the unacknowledged batch replays; the re-applied MERGE
    # is a no-op thanks to sequence_col — state unchanged, no dupes
    stream = spark.readStream.schema(schema).json(str(src_dir))
    jobs.stream_upsert(
        stream, ckpt, target, ["id"], partition_col="d", sequence_col="seq"
    )
    rows = spark.read.parquet(target).collect()
    assert len(rows) == 3  # one row per key — nothing duplicated
    got = {r["id"]: (r["v"], r["seq"]) for r in rows}
    assert got == {1: ("a2", 5), 2: ("b", 1), 3: ("c", 1)}


def test_stream_stream_interval_join(spark, tmp_path):
    import json

    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    def emit(d, name, rows, ts_name):
        d.mkdir(exist_ok=True)
        with open(d / name, "w") as f:
            for uid, ts, extra in rows:
                f.write(json.dumps({"user": uid, ts_name: ts, "tag": extra}) + "\n")

    clicks_dir = tmp_path / "clicks"
    buys_dir = tmp_path / "buys"
    emit(clicks_dir, "c1.json", [
        (1, "2024-01-01 10:00:00", "c-a"),
        (1, "2024-01-01 12:00:00", "c-b"),
        (2, "2024-01-01 10:00:00", "c-c"),
    ], "cts")
    emit(buys_dir, "b1.json", [
        (1, "2024-01-01 10:30:00", "b-a"),   # joins c-a only (c-b later)
        (2, "2024-01-01 11:30:00", "b-b"),   # 90min after c-c: outside 1h
        (3, "2024-01-01 10:15:00", "b-c"),   # no click
    ], "bts")

    def src(d, ts_name):
        schema = StructType([
            StructField("user", IntegerType()),
            StructField(ts_name, StringType()),
            StructField("tag", StringType()),
        ])
        return (
            spark.readStream.schema(schema).json(str(d))
            .withColumn(ts_name, F.col(ts_name).cast("timestamp"))
        )

    clicks = src(clicks_dir, "cts").withColumnRenamed("tag", "click_tag")
    buys = (
        src(buys_dir, "bts")
        .withColumnRenamed("tag", "buy_tag")
        .withColumnRenamed("user", "buyer")
    )
    joined = jobs.stream_stream_join(
        clicks.withColumnRenamed("user", "u"),
        buys.withColumnRenamed("buyer", "u"),
        "u", "cts", "bts", within="1 hour",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {
        (r["click_tag"], r["buy_tag"])
        for r in spark.sql("SELECT * FROM ssj").collect()
    }
    assert rows == {("c-a", "b-a")}


def test_stream_dedup_within_watermark(spark, tmp_path):
    import json

    from pyspark.sql.types import StringType, StructField, StructType

    src = tmp_path / "src"
    src.mkdir()
    rows = [
        ("e1", "2024-01-01 10:00:00"),
        ("e1", "2024-01-01 10:05:00"),  # redelivery: dropped
        ("e2", "2024-01-01 10:10:00"),
        ("e2", "2024-01-01 10:10:00"),  # exact dup: dropped
        ("e3", "2024-01-01 11:00:00"),
    ]
    with open(src / "b.json", "w") as f:
        for eid, ts in rows:
            f.write(json.dumps({"event_id": eid, "ts": ts}) + "\n")
    schema = StructType([
        StructField("event_id", StringType()),
        StructField("ts", StringType()),
    ])
    stream = (
        spark.readStream.schema(schema).json(str(src))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    deduped = jobs.stream_dedup(stream, ["event_id"], "ts", watermark="2 hours")
    q = (
        deduped.writeStream.format("memory")
        .queryName("sdedup")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(r["event_id"] for r in spark.sql("SELECT * FROM sdedup").collect())
    assert got == ["e1", "e2", "e3"]


def test_stream_static_enrichment_join(spark, tmp_path):
    """Stream-static join: a static dimension broadcasts into each
    micro-batch (no state, no watermark needed) — the streaming twin
    of dim_join enrichment."""
    import json

    from pyspark.sql.types import IntegerType, StructField, StructType

    src = tmp_path / "src"
    src.mkdir()
    with open(src / "b.json", "w") as f:
        for uid in (1, 2, 9):
            f.write(json.dumps({"user": uid}) + "\n")
    dim = spark.createDataFrame(
        [(1, "gold"), (2, "silver")], ["user", "tier"]
    )
    stream = spark.readStream.schema(
        StructType([StructField("user", IntegerType())])
    ).json(str(src))
    enriched = stream.join(F.broadcast(dim), "user", "left")
    q = (
        enriched.writeStream.format("memory")
        .queryName("enrich")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["user"], r["tier"])
        for r in spark.sql("SELECT * FROM enrich").collect()
    }
    assert got == {(1, "gold"), (2, "silver"), (9, None)}


def test_transform_with_state_plan_and_schema(spark, tmp_path):
    """transformWithState plan construction: the operator builds a
    streaming plan with the declared typed output schema regardless of
    runtime deps (the state-server protocol itself needs protobuf —
    exercised in the end-to-end test below when available)."""
    from pyspark.sql.types import (
        DoubleType, LongType, StructField, StructType,
    )

    src = tmp_path / "src_plan"
    src.mkdir()
    (src / "empty.json").write_text("")
    schema = StructType([
        StructField("user_id", LongType()),
        StructField("value", DoubleType()),
    ])
    stream = spark.readStream.schema(schema).json(str(src))
    out = jobs.running_totals_tws(stream)
    assert out.isStreaming
    assert [(f.name, f.dataType.simpleString()) for f in out.schema.fields] == [
        ("user_id", "bigint"), ("n_events", "bigint"), ("total_value", "double"),
    ]


def test_transform_with_state_running_totals(spark, tmp_path):
    """transformWithState (modern typed-state API): per-user running
    totals survive across separate availableNow runs through the
    RocksDB-backed checkpoint — the state contract that matters for a
    long-lived 100 TB stream."""
    pytest.importorskip(
        "google.protobuf",
        reason="transformWithState state server needs protobuf (not in sandbox)",
    )
    import json

    from pyspark.sql.types import (
        DoubleType, LongType, StructField, StructType,
    )

    src = tmp_path / "src"
    src.mkdir()
    schema = StructType([
        StructField("user_id", LongType()),
        StructField("value", DoubleType()),
    ])

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        def run_batch(rows, qname):
            with open(src / f"{qname}.json", "w") as f:
                for uid, v in rows:
                    f.write(json.dumps({"user_id": uid, "value": v}) + "\n")
            stream = spark.readStream.schema(schema).json(str(src))
            q = (
                jobs.running_totals_tws(stream)
                .writeStream.format("memory")
                .queryName(qname)
                .outputMode("update")
                .option("checkpointLocation", str(tmp_path / "ckpt"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            return {
                r["user_id"]: (r["n_events"], r["total_value"])
                for r in spark.sql(f"SELECT * FROM {qname}").collect()
            }

        got1 = run_batch([(1, 10.0), (1, 5.0), (2, 7.5)], "tws1")
        assert got1 == {1: (2, 15.0), 2: (1, 7.5)}
        # second run, same checkpoint: totals continue, not restart
        got2 = run_batch([(1, 1.0), (3, 2.0)], "tws2")
        assert got2[1] == (3, 16.0)
        assert got2[3] == (1, 2.0)
        assert 2 not in got2  # update mode: unchanged keys not re-emitted
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )


def test_stream_snapshot_sink_versions_batches(spark, tmp_path):
    """Each micro-batch commits as one atomic snapshot version; a
    retried batch id is recognized as durable and skipped."""
    import json

    from pyspark.sql.types import LongType, StructField, StructType

    from group5_spark.medallion.snapshots import (
        latest_note, snapshot_read, snapshot_versions,
    )

    src = tmp_path / "src"
    src.mkdir()
    tbl = str(tmp_path / "tbl")
    schema = StructType([StructField("id", LongType())])

    def run(rows, tag):
        with open(src / f"{tag}.json", "w") as f:
            for i in rows:
                f.write(json.dumps({"id": i}) + "\n")
        stream = spark.readStream.schema(schema).json(str(src))
        q = (
            jobs.stream_snapshot_sink(stream, tbl, str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run([1, 2, 3], "a")
    run([4, 5], "b")
    assert snapshot_read(spark, tbl).count() == 5
    versions = snapshot_versions(tbl)
    assert len(versions) == 2
    # time travel to the first batch boundary
    assert snapshot_read(spark, tbl, version=1).count() == 3
    assert int(latest_note(tbl)["batch_id"]) == 1
    # in-query retry semantics: the idempotency key is (app_id,
    # batch_id) — re-running batch 1 under the SAME app id skips
    orig_app = jobs._checkpoint_query_id(str(tmp_path / "ckpt"))
    assert orig_app is not None
    assert latest_note(tbl)["app_id"] == orig_app
    # deliberate identical-data replay through a fresh checkpoint with
    # an explicit stable app_id (Delta txnAppId pattern): every batch
    # id is already recorded for that app, so nothing re-commits
    stream = spark.readStream.schema(schema).json(str(src))
    q = (
        jobs.stream_snapshot_sink(
            stream, tbl, str(tmp_path / "ckpt2"), app_id=orig_app
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert snapshot_read(spark, tbl).count() == 5
    assert len(snapshot_versions(tbl)) == 2


def test_stream_snapshot_sink_checkpoint_loss_never_drops_new_data(
    spark, tmp_path
):
    """Regression: with idempotency keyed on batch_id ALONE, losing
    the checkpoint restarts batch ids at 0 and genuinely NEW data is
    silently skipped until the id catches up — data loss dressed as
    dedup. Keyed on (app_id, batch_id), a fresh checkpoint is a fresh
    app id: the replay degrades to at-least-once and the new rows
    land."""
    import json

    from pyspark.sql.types import LongType, StructField, StructType

    from group5_spark.medallion.snapshots import snapshot_read

    src = tmp_path / "src"
    src.mkdir()
    tbl = str(tmp_path / "tbl")
    schema = StructType([StructField("id", LongType())])

    def run(rows, tag, ckpt):
        with open(src / f"{tag}.json", "w") as f:
            for i in rows:
                f.write(json.dumps({"id": i}) + "\n")
        stream = spark.readStream.schema(schema).json(str(src))
        q = (
            jobs.stream_snapshot_sink(stream, tbl, str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run([1, 2, 3], "a", "ckpt")   # batch 0 under app A
    run([4, 5], "b", "ckpt")      # batch 1 under app A
    # checkpoint lost; NEW file arrives; fresh checkpoint replays
    # everything as batch 0 under app B — old guard would skip it
    # (0 <= recorded 1) and rows 6,7 would never reach the table
    run([6, 7], "c", "ckpt_new")
    ids = {
        r["id"] for r in snapshot_read(spark, tbl).select("id").collect()
    }
    assert {6, 7} <= ids  # the new data is NOT lost
    # replay of old rows under the new app id is at-least-once by
    # design (duplicates possible) — but nothing vanished
    assert {1, 2, 3, 4, 5} <= ids


def test_stream_enrichment_sees_dim_updates_between_batches(spark, tmp_path):
    """The refreshing-dim join must pick up a dimension version
    published between micro-batches — the property a pinned
    stream-static join lacks."""
    import json

    from pyspark.sql.types import LongType, StructField, StructType

    from group5_spark.medallion.snapshots import snapshot_commit

    dim_path = str(tmp_path / "dim")
    snapshot_commit(
        spark.createDataFrame([(1, "bronze")], ["user_id", "tier"]), dim_path
    )
    src = tmp_path / "src"
    src.mkdir()
    schema = StructType([StructField("user_id", LongType())])
    got = {}

    def sink(enriched, batch_id):
        for r in enriched.collect():
            got[(batch_id, r["user_id"])] = r["tier"]

    def run(rows, tag):
        with open(src / f"{tag}.json", "w") as f:
            for i in rows:
                f.write(json.dumps({"user_id": i}) + "\n")
        stream = spark.readStream.schema(schema).json(str(src))
        q = (
            jobs.stream_enrich_refreshing_dim(
                stream, dim_path, ["user_id"], sink
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run([1], "a")
    # dim updated BETWEEN batches — next batch must see gold
    snapshot_commit(
        spark.createDataFrame([(1, "gold")], ["user_id", "tier"]), dim_path
    )
    run([1], "b")
    tiers = [got[k] for k in sorted(got)]
    assert tiers == ["bronze", "gold"]


# ---------------------------------------------------------------------------
# Misra-Gries streaming heavy hitters
# ---------------------------------------------------------------------------


def test_mg_merge_bound_and_survival():
    from group5_spark.streaming.jobs import _mg_merge

    # any item with true frequency > n/(k+1) must survive, counts are
    # lower bounds within n/(k+1)
    import random

    rng = random.Random(7)
    true = {}
    counters = {}
    k = 8
    total_dec = 0
    for _ in range(30):  # 30 simulated batches
        batch = {}
        for _ in range(200):
            item = "hot" if rng.random() < 0.3 else f"u{rng.randrange(100)}"
            batch[item] = batch.get(item, 0) + 1
            true[item] = true.get(item, 0) + 1
        counters, dec = _mg_merge(counters, batch, k)
        total_dec += dec
        assert len(counters) <= k
    n = sum(true.values())
    assert "hot" in counters  # 30% >> 1/(k+1)
    for item, est in counters.items():
        assert est <= true[item]  # never over-counts
        assert true[item] - est <= n / (k + 1) + 1e-9
    assert total_dec <= n / (k + 1) + 1e-9


def test_heavy_hitters_stateful_across_batches(spark, tmp_path):
    import json

    got = {}
    src = tmp_path / "hh_src"
    src.mkdir()
    schema = "event_type string, user_id string"

    def run(rows, tag):
        with open(src / f"{tag}.json", "w") as f:
            for et, uid in rows:
                f.write(json.dumps({"event_type": et, "user_id": uid}) + "\n")
        stream = spark.readStream.schema(schema).json(str(src))
        hh = jobs.heavy_hitters_stateful(stream, k=3)

        def sink(batch_df, _bid):
            for r in batch_df.collect():
                got[(tag, r.group, r.item)] = (r.est_count, r.processed)

        q = (
            hh.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "hh_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # batch 1: 'hot' dominates clicks; purchases has 2 distinct
    run(
        [("click", "hot")] * 6
        + [("click", "a"), ("click", "b")]
        + [("purchase", "x"), ("purchase", "y")],
        "b1",
    )
    assert got[("b1", "click", "hot")][0] == 6  # ≤ k distinct → exact
    assert got[("b1", "purchase", "x")] == (1, 2)
    # batch 2: state carried: hot keeps accumulating across batches
    # while 4 fresh users force the k=3 summary to shed light items
    run(
        [("click", "hot")] * 5
        + [("click", "c"), ("click", "d"), ("click", "e"), ("click", "f")],
        "b2",
    )
    est, processed = got[("b2", "click", "hot")]
    assert processed == 17  # 8 + 9 click rows seen in total
    assert est <= 11  # lower bound never exceeds the true count
    assert est >= 11 - (processed / 4)  # within the n/(k+1) MG bound
    # purchases untouched in batch 2 → update mode re-emits nothing
    assert ("b2", "purchase", "x") not in got


def test_sessionize_keeps_integer_key_type(spark, tmp_path):
    import json

    rows = [
        {"user_id": 7, "ts": "2026-01-01T00:00:00.000000Z"},
        {"user_id": 7, "ts": "2026-01-01T00:05:00.000000Z"},
        {"user_id": 7, "ts": "2026-01-01T04:00:00.000000Z"},
    ]
    src = tmp_path / "sess_long"
    src.mkdir()
    (src / "b.json").write_text("\n".join(json.dumps(r) for r in rows))
    stream = (
        spark.readStream.schema("user_id long, ts string")
        .json(str(src / "*.json"))
        .withColumn(
            "event_ts",
            F.to_timestamp("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"),
        )
    )
    sessions = jobs.sessionize_stateful(stream, gap="30 minutes")
    assert dict(sessions.dtypes)["user_id"] == "bigint"  # not string
    jobs.run_available_now(sessions, str(tmp_path / "ck"), "sess_long_out")
    out = spark.table("sess_long_out").collect()
    assert [(r.user_id, r.n_events) for r in out] == [(7, 2)]


def test_stream_dedup_vs_corpus_drops_known_and_in_stream_dups(spark, tmp_path):
    """A streamed doc already in the corpus (by normalized-content
    fingerprint) never reaches the sink; an in-stream redelivery is
    dropped by the watermark layer; genuinely new docs pass."""
    import json

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    src = tmp_path / "cd_src"
    src.mkdir()
    rows = [
        (1, "already   In  the corpus ", "2024-01-01 10:00:00"),  # known
        (2, "brand new document", "2024-01-01 10:01:00"),
        (2, "brand new document", "2024-01-01 10:02:00"),  # redelivery
        (3, "another fresh one", "2024-01-01 10:03:00"),
    ]
    with open(src / "b.json", "w") as f:
        for did, text, ts in rows:
            f.write(json.dumps({"doc_id": did, "text": text, "ts": ts}) + "\n")
    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("ts", StringType()),
    ])
    stream = (
        spark.readStream.schema(schema).json(str(src))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    # corpus fingerprints use the SAME normalization as the operator
    corpus = spark.createDataFrame(
        [("already in the corpus",)], ["text"]
    ).select(
        F.md5(F.lower(F.trim(F.regexp_replace("text", "\\s+", " ")))).alias(
            "fingerprint"
        )
    )
    fresh = jobs.stream_dedup_vs_corpus(
        stream, corpus, text_col="text", ts_col="ts", watermark="2 hours"
    )
    q = (
        fresh.writeStream.format("memory")
        .queryName("cdedup")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "cd_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        r["doc_id"] for r in spark.sql("SELECT doc_id FROM cdedup").collect()
    )
    assert got == [2, 3]


def test_stream_snapshot_sink_enforces_table_constraints(spark, tmp_path):
    """A constrained table stays constrained under streaming writes:
    the sink's appends inherit the manifest rule set, so a poisoned
    micro-batch fails the query instead of landing — at-least-once
    retry semantics then surface the bad batch to the operator rather
    than silently corrupting the table."""
    import json

    import pytest
    from pyspark.sql.types import LongType, StructField, StructType

    from group5_spark.medallion.snapshots import (
        snapshot_commit,
        snapshot_read,
    )

    tbl = str(tmp_path / "tbl")
    snapshot_commit(
        spark.range(1, 5).toDF("id"), tbl,
        constraints={"pos_id": "id > 0"},
    )
    src = tmp_path / "src"
    src.mkdir()
    with open(src / "a.json", "w") as f:
        for i in (7, -3, 9):
            f.write(json.dumps({"id": i}) + "\n")
    stream = spark.readStream.schema(
        StructType([StructField("id", LongType())])
    ).json(str(src))
    q = (
        jobs.stream_snapshot_sink(stream, tbl, str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="pos_id"):
        q.awaitTermination()
    assert snapshot_read(spark, tbl).count() == 4  # nothing landed


def test_compaction_between_batches_keeps_stream_idempotency(
    spark, tmp_path
):
    """A compaction commit between micro-batches must neither carry
    the stream's (app_id, batch_id) marker (it is ephemeral, not a
    table property) nor disturb the dedup walk: a checkpoint replay
    after compaction still skips the committed batch, and a NEW batch
    still lands."""
    import json

    from pyspark.sql.types import LongType, StructField, StructType

    from group5_spark.medallion.maintenance import compact_snapshot
    from group5_spark.medallion.snapshots import (
        snapshot_manifest,
        snapshot_read,
        snapshot_versions,
    )

    tbl = str(tmp_path / "tbl")
    src = tmp_path / "src"
    src.mkdir()
    with open(src / "a.json", "w") as f:
        for i in (1, 2, 3):
            f.write(json.dumps({"id": i}) + "\n")
    schema = StructType([StructField("id", LongType())])
    ckpt = str(tmp_path / "ckpt")

    def drain():
        stream = spark.readStream.schema(schema).json(str(src))
        q = (
            jobs.stream_snapshot_sink(stream, tbl, ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    assert snapshot_read(spark, tbl).count() == 3

    out = compact_snapshot(spark, tbl, force=True)
    m = snapshot_manifest(tbl)
    assert "app_id" not in m["note"] and "batch_id" not in m["note"]

    # replay the same (drained) checkpoint: no phantom commit
    n_versions = len(snapshot_versions(tbl))
    drain()
    assert len(snapshot_versions(tbl)) == n_versions

    # a genuinely new batch still lands after the compaction
    with open(src / "b.json", "w") as f:
        f.write(json.dumps({"id": 9}) + "\n")
    drain()
    assert snapshot_read(spark, tbl).count() == 4


def _emit_cdc(src_dir, name, rows):
    import json

    with open(src_dir / name, "w") as f:
        for r in rows:
            f.write(json.dumps(dict(zip("id d v seq".split(), r))) + "\n")


def _cdc_schema():
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    return StructType([
        StructField("id", IntegerType()),
        StructField("d", StringType()),
        StructField("v", StringType()),
        StructField("seq", IntegerType()),
    ])


def test_stream_upsert_snapshot_merges_batches_atomically(spark, tmp_path):
    """CDC stream → snapshot table: each micro-batch is ONE merge
    commit (atomic, versioned), in-batch dup keys collapse to the
    highest sequence, stale replays never regress a row, and every
    batch boundary stays time-travelable."""
    from group5_spark.medallion.snapshots import (
        snapshot_read,
        snapshot_versions,
    )

    src_dir = tmp_path / "src"
    src_dir.mkdir()
    tbl = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    _emit_cdc(src_dir, "b1.json", [
        (1, "2024-01-01", "a", 1),
        (2, "2024-01-01", "b0", 1),
        (2, "2024-01-01", "b1", 2),  # in-batch dup: higher seq wins
    ])
    stream = spark.readStream.schema(_cdc_schema()).json(str(src_dir))
    jobs.stream_upsert_snapshot(
        stream, ckpt, tbl, ["id"], sequence_col="seq"
    )
    got = {
        r["id"]: (r["v"], r["seq"])
        for r in snapshot_read(spark, tbl).collect()
    }
    assert got == {1: ("a", 1), 2: ("b1", 2)}
    v_after_b1 = snapshot_versions(tbl)[-1]["version"]

    _emit_cdc(src_dir, "b2.json", [
        (1, "2024-01-01", "a2", 5),
        (2, "2024-01-01", "STALE", 1),  # older seq: must not regress
        (3, "2024-01-02", "c", 1),
    ])
    stream = spark.readStream.schema(_cdc_schema()).json(str(src_dir))
    jobs.stream_upsert_snapshot(
        stream, ckpt, tbl, ["id"], sequence_col="seq"
    )
    got = {
        r["id"]: (r["v"], r["seq"])
        for r in snapshot_read(spark, tbl).collect()
    }
    assert got == {1: ("a2", 5), 2: ("b1", 2), 3: ("c", 1)}
    # time travel to the first batch boundary
    old = {
        r["id"]: (r["v"], r["seq"])
        for r in snapshot_read(spark, tbl, version=v_after_b1).collect()
    }
    assert old == {1: ("a", 1), 2: ("b1", 2)}


def test_stream_upsert_snapshot_crash_replay_dedupes(
    spark, tmp_path, monkeypatch
):
    """Crash injection: the merge commit is durable, the process dies
    before the checkpoint write. On resume the batch replays; the
    (app_id, batch_id) manifest note recognizes it as committed and
    skips — no phantom version, no double-applied merge."""
    import pytest

    from group5_spark.medallion import maintenance as maint_mod
    from group5_spark.medallion.snapshots import (
        snapshot_read,
        snapshot_versions,
    )

    src_dir = tmp_path / "src"
    src_dir.mkdir()
    tbl = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    _emit_cdc(src_dir, "b1.json", [
        (1, "2024-01-01", "a", 1), (2, "2024-01-01", "b", 1),
    ])

    real_merge = maint_mod.snapshot_merge

    def crash_after_merge(*args, **kwargs):
        out = real_merge(*args, **kwargs)
        raise RuntimeError("injected crash after durable merge")

    monkeypatch.setattr(maint_mod, "snapshot_merge", crash_after_merge)
    stream = spark.readStream.schema(_cdc_schema()).json(str(src_dir))
    with pytest.raises(Exception, match="injected crash"):
        jobs.stream_upsert_snapshot(
            stream, ckpt, tbl, ["id"], sequence_col="seq"
        )
    assert snapshot_read(spark, tbl).count() == 2  # merge WAS durable

    monkeypatch.setattr(maint_mod, "snapshot_merge", real_merge)
    n_versions = len(snapshot_versions(tbl))
    stream = spark.readStream.schema(_cdc_schema()).json(str(src_dir))
    jobs.stream_upsert_snapshot(
        stream, ckpt, tbl, ["id"], sequence_col="seq"
    )
    # replayed batch skipped: same rows, no phantom version
    assert snapshot_read(spark, tbl).count() == 2
    assert len(snapshot_versions(tbl)) == n_versions


def test_stream_upsert_snapshot_compaction_between_batches(
    spark, tmp_path
):
    """A compaction between micro-batches must not disturb the sink:
    the replayed (drained) checkpoint produces no phantom commit, a
    genuinely new CDC batch still merges, and the merged rows read
    back atomically from the compacted-then-merged table."""
    from group5_spark.medallion.maintenance import compact_snapshot
    from group5_spark.medallion.snapshots import (
        snapshot_manifest,
        snapshot_read,
        snapshot_versions,
    )

    src_dir = tmp_path / "src"
    src_dir.mkdir()
    tbl = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    _emit_cdc(src_dir, "b1.json", [
        (1, "2024-01-01", "a", 1), (2, "2024-01-01", "b", 1),
    ])

    def drain():
        stream = spark.readStream.schema(_cdc_schema()).json(str(src_dir))
        jobs.stream_upsert_snapshot(
            stream, ckpt, tbl, ["id"], sequence_col="seq"
        )

    drain()
    compact_snapshot(spark, tbl, force=True)
    m = snapshot_manifest(tbl)
    # the compaction note carries no stream marker
    assert "app_id" not in m["note"] and "batch_id" not in m["note"]

    n_versions = len(snapshot_versions(tbl))
    drain()  # drained checkpoint: nothing new → no phantom commit
    assert len(snapshot_versions(tbl)) == n_versions

    _emit_cdc(src_dir, "b2.json", [(2, "2024-01-01", "B2", 9)])
    drain()
    got = {
        r["id"]: (r["v"], r["seq"])
        for r in snapshot_read(spark, tbl).collect()
    }
    assert got == {1: ("a", 1), 2: ("B2", 9)}


def test_stream_upsert_snapshot_eq_mode_zero_read_replay_and_fold(
    spark, tmp_path, monkeypatch
):
    """Round-6 VERDICT #6, the eq-CDC twin: with eq_mode=True the sink
    routes each micro-batch through snapshot_eq_upsert — zero target
    reads (the reader API is booby-trapped for the drain), (app_id,
    batch_id) replay dedup still holds, and a mask fold BETWEEN
    batches neither double-applies nor disturbs the next batch."""
    import pyspark.sql.readwriter as rw
    import pytest

    from group5_spark.medallion.maintenance import (
        compact_snapshot_masks,
        snapshot_eq_upsert,
    )
    from group5_spark.medallion.snapshots import (
        snapshot_commit,
        snapshot_manifest,
        snapshot_read,
        snapshot_versions,
    )

    src_dir = tmp_path / "src"
    src_dir.mkdir()
    tbl = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    base = spark.createDataFrame(
        [(i, "2024-01-01", f"v{i}", 1) for i in range(200)],
        "id int, d string, v string, seq int",
    )
    snapshot_commit(base, tbl, stats_cols=["id"])

    with pytest.raises(ValueError, match="alternative merge-on-read"):
        jobs.stream_upsert_snapshot(
            spark.readStream.schema(_cdc_schema()).json(str(src_dir)),
            ckpt, tbl, ["id"], eq_mode=True, dv_threshold=0.2,
        )

    def drain():
        stream = spark.readStream.schema(_cdc_schema()).json(str(src_dir))
        jobs.stream_upsert_snapshot(
            stream, ckpt, tbl, ["id"], sequence_col="seq", eq_mode=True
        )

    _emit_cdc(src_dir, "b1.json", [
        (3, "2024-01-01", "UP3", 2),
        (7, "2024-01-01", "up7-stale", 2),
        (7, "2024-01-01", "UP7", 3),  # in-batch dup: higher seq wins
        (5000, "2024-01-01", "NEW", 2),
    ])
    # the zero-target-read property holds through the sink: no parquet
    # read while the batch commits (the json SOURCE is not parquet)
    real_parquet = rw.DataFrameReader.parquet

    def boom(self, *a, **kw):
        raise AssertionError(f"eq sink read target files: {a}")

    monkeypatch.setattr(rw.DataFrameReader, "parquet", boom)
    drain()
    monkeypatch.setattr(rw.DataFrameReader, "parquet", real_parquet)

    got = {
        r["id"]: (r["v"], r["seq"])
        for r in snapshot_read(spark, tbl).collect()
    }
    assert len(got) == 201
    assert got[3] == ("UP3", 2) and got[7] == ("UP7", 3)
    assert got[5000] == ("NEW", 2)
    m = snapshot_manifest(tbl)
    assert len(m["eq_deletes"]) == 1  # masked, not rewritten

    # mid-stream fold: sidecar folds away, rows unchanged
    out = compact_snapshot_masks(spark, tbl)
    assert out["eq_sidecars"] == 1
    assert not snapshot_manifest(tbl).get("eq_deletes")

    # replay the drained checkpoint: no phantom commit after the fold
    n_versions = len(snapshot_versions(tbl))
    drain()
    assert len(snapshot_versions(tbl)) == n_versions

    # crash-replay: eq commit durable, checkpoint write lost (the sink
    # imports from the maintenance module at call time — patch there)
    from group5_spark.medallion import maintenance as maint_mod

    _emit_cdc(src_dir, "b2.json", [(3, "2024-01-01", "UP3b", 9)])

    calls = {"n": 0}

    def crash_after_eq(*a, **kw):
        out = snapshot_eq_upsert(*a, **kw)
        calls["n"] += 1
        raise RuntimeError("injected crash after durable eq commit")

    monkeypatch.setattr(maint_mod, "snapshot_eq_upsert", crash_after_eq)
    with pytest.raises(Exception, match="injected crash"):
        jobs.stream_upsert_snapshot(
            spark.readStream.schema(_cdc_schema()).json(str(src_dir)),
            str(tmp_path / "ckpt2"), tbl, ["id"],
            sequence_col="seq", eq_mode=True, app_id="appX",
        )
    assert calls["n"] == 1
    monkeypatch.setattr(maint_mod, "snapshot_eq_upsert", snapshot_eq_upsert)
    n_versions = len(snapshot_versions(tbl))
    # resume under the SAME app id with a fresh checkpoint: the batch
    # replays, the (app_id, batch_id) note recognizes it → skipped
    jobs.stream_upsert_snapshot(
        spark.readStream.schema(_cdc_schema()).json(str(src_dir)),
        str(tmp_path / "ckpt3"), tbl, ["id"],
        sequence_col="seq", eq_mode=True, app_id="appX",
    )
    assert len(snapshot_versions(tbl)) == n_versions
    got = {
        r["id"]: (r["v"], r["seq"])
        for r in snapshot_read(spark, tbl).collect()
    }
    assert got[3] == ("UP3b", 9) and len(got) == 201


# ---------------------------------------------------------------------------
# streaming span-level dedup against the persisted span index
# ---------------------------------------------------------------------------


def _emit_docs(src_dir, name, rows):
    import json

    with open(src_dir / name, "w") as f:
        for doc_id, text in rows:
            f.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")


def _docs_schema():
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    return StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
        ]
    )


def test_stream_span_dedup_cross_batch_and_replay(
    spark, tmp_path, monkeypatch
):
    """Cross-batch span dedup through the persisted index: batch 2's
    re-crawl of batch 1's spans drops them even though the batches
    never meet in one plan; a crash BETWEEN the corpus commit and the
    index commit replays into 'skip corpus, append index' and the
    stream converges to the same two tables."""
    from group5_spark.medallion import snapshots as snap

    src = tmp_path / "src"
    src.mkdir()
    corpus = str(tmp_path / "corpus")
    index = str(tmp_path / "index")
    ck = str(tmp_path / "ck")

    # batch 1: two docs, doc 11 repeats doc 10's first span in-batch,
    # doc 12 has NULL text (not a duplicate — must not disappear)
    _emit_docs(src, "b1.json", [
        (10, "a b c d e f"),
        (11, "a b c x y z"),
        (12, None),
    ])

    def drain(checkpoint):
        jobs.stream_span_dedup(
            spark.readStream.schema(_docs_schema()).json(str(src)),
            checkpoint, corpus, index,
            span_words=3, app_id="crawler",
        )

    drain(ck)
    got = {
        r["doc_id"]: (r["kept_spans"], r["deduped_text"])
        for r in snap.snapshot_read(spark, corpus).collect()
    }
    # doc 10 keeps both spans; doc 11 keeps only its second span;
    # the NULL-text doc survives with zero spans (span-dedup contract)
    assert got[10] == (2, "a b c d e f")
    assert got[11] == (1, "x y z")
    assert got[12] == (0, None)
    n_idx = snap.snapshot_read(spark, index).count()
    assert n_idx == 3  # {a b c, d e f, x y z}

    # batch 2: a re-crawl of doc 10's content plus one new span
    _emit_docs(src, "b2.json", [
        (20, "a b c d e f"),        # fully duplicate → dropped
        (21, "d e f n e w"),        # first span dup, second new
    ])
    drain(str(tmp_path / "ck"))  # same checkpoint dir continues
    got = {
        r["doc_id"]: r["kept_spans"]
        for r in snap.snapshot_read(spark, corpus).collect()
    }
    assert 20 not in got and got[21] == 1 and got[10] == 2
    assert snap.snapshot_read(spark, index).count() == 4
    # the index stayed distinct without ever running DISTINCT on itself
    hashes = [
        r["span_hash"] for r in snap.snapshot_read(spark, index).collect()
    ]
    assert len(hashes) == len(set(hashes))

    # crash between the two commits: batch 3's index append dies after
    # the corpus commit landed...
    _emit_docs(src, "b3.json", [(30, "q r s")])
    real_commit = snap.snapshot_commit
    calls = {"n": 0}

    def bomb(df, path, **kw):
        if path == index:
            calls["n"] += 1
            raise RuntimeError("crash before the index commit")
        return real_commit(df, path, **kw)

    monkeypatch.setattr(snap, "snapshot_commit", bomb)
    import pytest as _pytest

    with _pytest.raises(Exception, match="crash before the index"):
        drain(ck)
    monkeypatch.setattr(snap, "snapshot_commit", real_commit)
    assert calls["n"] == 1
    # ...the restart replays batch 3 (its offsets are in the WAL but
    # the commit log never landed): the replay must skip the corpus
    # (its (app_id, batch_id) note is durable), still append the
    # index, and end consistent
    drain(ck)
    got = {
        r["doc_id"]: r["kept_spans"]
        for r in snap.snapshot_read(spark, corpus).collect()
    }
    assert got[30] == 1 and got[10] == 2  # no double-ingest of doc 30
    assert snap.snapshot_read(spark, corpus).count() == 5
    assert snap.snapshot_read(spark, index).count() == 5

def test_stream_containment_recrawl_first_crawl_wins(spark, tmp_path):
    """Round-10 ADVICE (medium): a re-crawled doc_id used to feed the
    probe overlapping ids (silently corrupting containment values)
    and then append a DUPLICATE corpus key. Now the batch anti-joins
    the corpus id set first — first-crawl-wins, the same ingest-order
    precedence the containment election uses — so the original text
    stays, no duplicate key lands, and the NULL-text case (a survivor
    the INDEX never saw) is covered too."""
    from group5_spark.medallion import snapshots as snap
    from group5_spark.streaming import jobs

    src = tmp_path / "src"
    src.mkdir()
    corpus = str(tmp_path / "corpus")
    index = str(tmp_path / "index")
    ck = str(tmp_path / "ck")

    _emit_docs(src, "b1.json", [
        (40, "alpha beta gamma delta epsilon"),
        (41, None),  # NULL-text survivor: in corpus, never in index
    ])

    def drain():
        jobs.stream_containment_dedup(
            spark.readStream.schema(_docs_schema()).json(str(src)),
            ck, corpus, index, threshold=0.9, app_id="crawler",
        )

    drain()
    # batch 2 re-crawls BOTH (new text for 40, text for the NULL 41)
    # plus one genuinely new doc
    _emit_docs(src, "b2.json", [
        (40, "totally different re-crawl text"),
        (41, "late text for the null page"),
        (42, "a genuinely new page"),
    ])
    drain()
    rows = {
        r["doc_id"]: r["text"]
        for r in snap.snapshot_read(spark, corpus).collect()
    }
    assert rows == {
        40: "alpha beta gamma delta epsilon",  # first crawl won
        41: None,                               # ditto, even w/o index rows
        42: "a genuinely new page",
    }
    assert snap.snapshot_read(spark, corpus).count() == 3  # no dup keys
    idx_ids = {r["id"] for r in snap.snapshot_read(spark, index).collect()}
    assert idx_ids == {40, 42}

    # BATCH-INTERNAL collision: one micro-batch carries the same id
    # from two source files (a double re-crawl) — exactly one row
    # survives, chosen deterministically (smallest text), so posting
    # rows are never double-counted and replays elect identically
    _emit_docs(src, "b3.json", [(43, "zz yy xx ww vv")])
    _emit_docs(src, "b4.json", [(43, "aa bb cc dd ee")])
    drain()
    rows = {
        r["doc_id"]: r["text"]
        for r in snap.snapshot_read(spark, corpus)
        .where("doc_id = 43")
        .collect()
    }
    assert rows == {43: "aa bb cc dd ee"}


def test_note_parent_version_resolves_pre_batch_state(spark, tmp_path):
    """The replay helper behind the re-crawl anti-join: walking the
    published lineage for the commit carrying an (app_id, batch_id)
    idempotency note and returning its PARENT — the corpus version the
    original run elected against. A table-creating commit resolves to
    None (pre-batch state is 'absent'), as does an unknown note."""
    from group5_spark.medallion.snapshots import snapshot_commit
    from group5_spark.streaming.jobs import _note_versions

    path = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a")], ["doc_id", "text"])
    v1 = snapshot_commit(
        df, path, note={"app_id": "app", "batch_id": 0}
    )
    v2 = snapshot_commit(
        df, path, mode="append", note={"app_id": "app", "batch_id": 1}
    )
    snapshot_commit(
        df, path, mode="append", note={"app_id": "app", "batch_id": 2}
    )
    assert _note_versions(path, "app", 0)[1] is None  # created table
    assert _note_versions(path, "app", 1)[1] == v1
    assert _note_versions(path, "app", 2)[1] == v2
    assert _note_versions(path, "app", 99) is None
    assert _note_versions(path, "other", 1) is None


def test_stream_containment_then_offline_compaction_lifecycle(
    spark, tmp_path
):
    """The full crawl lifecycle the round-10 VERDICT asked to close:
    the stream ingests (old page first, then a later crawl that
    ENGULFS it — the old-in-new direction the stream reports but
    never acts on), the scheduled offline
    `containment_compact(since_version=)` retires the engulfed page
    from corpus AND index, and the stream keeps ingesting correctly
    against the compacted multi-generation index afterwards (a quote
    of the RETIRED page no longer matches; a quote of the surviving
    superset page still drops)."""
    from group5_spark.extensions.dedup import containment_compact
    from group5_spark.medallion import snapshots as snap
    from group5_spark.streaming import jobs

    src = tmp_path / "src"
    src.mkdir()
    corpus = str(tmp_path / "corpus")
    index = str(tmp_path / "index")
    ck = str(tmp_path / "ck")

    def drain():
        jobs.stream_containment_dedup(
            spark.readStream.schema(_docs_schema()).json(str(src)),
            ck, corpus, index, threshold=0.9, app_id="crawler",
        )

    _emit_docs(src, "b1.json", [
        (50, "alpha beta gamma delta epsilon"),
        (51, "one two three four five"),
    ])
    drain()
    v_before = snap.snapshot_manifest(corpus)["version"]
    # batch 2: doc 60 engulfs doc 50 (survives — it is not contained
    # in anything), so 50 is now a superseded page
    _emit_docs(src, "b2.json", [
        (60, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    ])
    drain()
    assert {
        r["doc_id"] for r in snap.snapshot_read(spark, corpus).collect()
    } == {50, 51, 60}

    res = containment_compact(
        spark, corpus, index, since_version=v_before
    )
    assert res["doomed"] == 1
    assert {
        r["doc_id"] for r in snap.snapshot_read(spark, corpus).collect()
    } == {51, 60}
    assert snap.snapshot_read(spark, index).where("id = 50").count() == 0

    # batch 3: doc 70 quotes the RETIRED page's exact words — they
    # live on inside doc 60's postings, so it still drops; doc 71
    # quotes nothing and survives
    _emit_docs(src, "b3.json", [
        (70, "alpha beta gamma delta epsilon"),
        (71, "completely unrelated new words"),
    ])
    drain()
    assert {
        r["doc_id"] for r in snap.snapshot_read(spark, corpus).collect()
    } == {51, 60, 71}
    assert {
        r["id"] for r in snap.snapshot_read(spark, index).collect()
    } == {51, 60, 71}


def test_stream_containment_dedup_cross_batch_and_replay(
    spark, tmp_path, monkeypatch
):
    """Streaming containment ingestion: batch 2's quote of a batch-1
    page drops through the persisted prefix+postings index (the
    batches never meet in one plan); a batch-internal engulfing pair
    keeps only the superset side; a NULL-text doc passes through; and
    a crash BETWEEN the corpus commit and the index commit replays
    into 'skip corpus, append index' and converges."""
    from group5_spark.medallion import snapshots as snap
    from group5_spark.streaming import jobs

    src = tmp_path / "src"
    src.mkdir()
    corpus = str(tmp_path / "corpus")
    index = str(tmp_path / "index")
    ck = str(tmp_path / "ck")

    big = "the quick brown fox jumps " + " ".join(f"w{i}" for i in range(15))
    # batch 1: doc 11 is a 5-word block of doc 10 (in-batch engulf —
    # only the superset survives); doc 12 is NULL text (passes through)
    _emit_docs(src, "b1.json", [
        (10, big),
        (11, "the quick brown fox jumps"),
        (12, None),
    ])

    def drain(checkpoint):
        jobs.stream_containment_dedup(
            spark.readStream.schema(_docs_schema()).json(str(src)),
            checkpoint, corpus, index,
            threshold=0.9, app_id="crawler",
        )

    drain(ck)
    got = {r["doc_id"] for r in snap.snapshot_read(spark, corpus).collect()}
    assert got == {10, 12}
    idx_ids = {
        r["id"] for r in snap.snapshot_read(spark, index).collect()
    }
    assert idx_ids == {10}  # survivors' rows only; NULL doc has none

    # batch 2: doc 20 re-quotes doc 10's block (cross-batch drop via
    # the index), doc 21 is genuinely new
    _emit_docs(src, "b2.json", [
        (20, "the quick brown fox jumps"),
        (21, "entirely different content here"),
    ])
    drain(ck)
    got = {r["doc_id"] for r in snap.snapshot_read(spark, corpus).collect()}
    assert got == {10, 12, 21}
    idx_ids = {
        r["id"] for r in snap.snapshot_read(spark, index).collect()
    }
    assert idx_ids == {10, 21}

    # crash between the two commits on batch 3
    _emit_docs(src, "b3.json", [(30, "brand new page content")])
    real_commit = snap.snapshot_commit
    calls = {"n": 0}

    def bomb(df, path, **kw):
        if path == index:
            calls["n"] += 1
            raise RuntimeError("crash before the index commit")
        return real_commit(df, path, **kw)

    monkeypatch.setattr(snap, "snapshot_commit", bomb)
    import pytest as _pytest

    with _pytest.raises(Exception, match="crash before the index"):
        drain(ck)
    monkeypatch.setattr(snap, "snapshot_commit", real_commit)
    assert calls["n"] == 1
    drain(ck)
    got = sorted(
        r["doc_id"] for r in snap.snapshot_read(spark, corpus).collect()
    )
    assert got == [10, 12, 21, 30]  # no double-ingest of doc 30
    idx_ids = {
        r["id"] for r in snap.snapshot_read(spark, index).collect()
    }
    assert idx_ids == {10, 21, 30}


def test_stream_containment_replay_after_compaction(
    spark, tmp_path, monkeypatch
):
    """Round-11 VERDICT #4's adversarial case: a crash lands BETWEEN
    the corpus commit and the index commit, and an offline
    `containment_compact` runs BEFORE the replay (a cron'd compaction
    doesn't know a stream crashed). The replay must not re-run the
    election against the now-mutated head tables — it rebuilds the
    missing index generation from the corpus VERSION-DIFF of the
    batch's own committed note, so the index rows it appends are
    exactly the survivors the corpus already holds, and the final
    corpus/index id sets agree."""
    from group5_spark.extensions.dedup import containment_compact
    from group5_spark.medallion import snapshots as snap
    from group5_spark.streaming import jobs

    src = tmp_path / "src"
    src.mkdir()
    corpus = str(tmp_path / "corpus")
    index = str(tmp_path / "index")
    ck = str(tmp_path / "ck")

    def drain():
        jobs.stream_containment_dedup(
            spark.readStream.schema(_docs_schema()).json(str(src)),
            ck, corpus, index, threshold=0.9, app_id="crawler",
        )

    _emit_docs(src, "b1.json", [
        (50, "alpha beta gamma delta epsilon"),
        (51, "one two three four five"),
    ])
    drain()
    v_seed = snap.snapshot_manifest(corpus)["version"]
    # batch 2: doc 60 ENGULFS doc 50 (old-in-new — the stream reports
    # but never acts; 50 is now a superseded page awaiting compaction)
    _emit_docs(src, "b2.json", [
        (60, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    ])
    drain()

    # batch 3 crashes between the two commits: corpus gets {71} (70
    # is a quote of 50/60 and drops at election), index gets nothing
    _emit_docs(src, "b3.json", [
        (70, "alpha beta gamma delta epsilon"),
        (71, "completely unrelated fresh words"),
    ])
    real_commit = snap.snapshot_commit

    def bomb(df, path, **kw):
        if path == index:
            raise RuntimeError("crash before the index commit")
        return real_commit(df, path, **kw)

    monkeypatch.setattr(snap, "snapshot_commit", bomb)
    with pytest.raises(Exception, match="crash before the index"):
        drain()
    monkeypatch.setattr(snap, "snapshot_commit", real_commit)
    assert {
        r["doc_id"] for r in snap.snapshot_read(spark, corpus).collect()
    } == {50, 51, 60, 71}
    assert {
        r["id"] for r in snap.snapshot_read(spark, index).collect()
    } == {50, 51, 60}  # batch 3's index generation is missing

    # the cron'd compaction runs before anyone notices the crash:
    # doc 60 engulfed doc 50 -> 50 retires from corpus AND index
    res = containment_compact(spark, corpus, index, since_version=v_seed)
    assert res["doomed"] == 1
    assert {
        r["doc_id"] for r in snap.snapshot_read(spark, corpus).collect()
    } == {51, 60, 71}

    # replay: the version-diff rebuild appends exactly batch 3's
    # committed survivors ({71}) to the index — never re-electing
    # against the compacted head — and the tables converge
    drain()
    assert {
        r["doc_id"] for r in snap.snapshot_read(spark, corpus).collect()
    } == {51, 60, 71}
    assert {
        r["id"] for r in snap.snapshot_read(spark, index).collect()
    } == {51, 60, 71}
    # no orphaned index ids (the corruption the diff-replay prevents)
    orphans = (
        snap.snapshot_read(spark, index)
        .select("id")
        .join(
            snap.snapshot_read(spark, corpus).select(
                F.col("doc_id").alias("id")
            ),
            "id",
            "left_anti",
        )
        .count()
    )
    assert orphans == 0


def test_stream_containment_replay_missing_note_raises(
    spark, tmp_path, monkeypatch
):
    """Round-11 ADVICE (low): when the corpus commit for a crashed
    batch is recorded (c_done) but its idempotency note is gone from
    the lineage (expired between crash and replay), the replay used
    to silently skip the re-crawl anti-join — re-elected re-crawls
    would append duplicate index postings whose double-counted rows
    corrupt later containment values. It must fail loudly instead."""
    from group5_spark.medallion import snapshots as snap
    from group5_spark.streaming import jobs

    src = tmp_path / "src"
    src.mkdir()
    corpus = str(tmp_path / "corpus")
    index = str(tmp_path / "index")
    ck = str(tmp_path / "ck")

    def drain():
        jobs.stream_containment_dedup(
            spark.readStream.schema(_docs_schema()).json(str(src)),
            ck, corpus, index, threshold=0.9, app_id="crawler",
        )

    _emit_docs(src, "b1.json", [(10, "alpha beta gamma delta")])
    drain()
    _emit_docs(src, "b2.json", [(11, "one two three four")])
    real_commit = snap.snapshot_commit

    def bomb(df, path, **kw):
        if path == index:
            raise RuntimeError("crash before the index commit")
        return real_commit(df, path, **kw)

    monkeypatch.setattr(snap, "snapshot_commit", bomb)
    with pytest.raises(Exception, match="crash before the index"):
        drain()
    monkeypatch.setattr(snap, "snapshot_commit", real_commit)

    # simulate the note expiring while c_done stays true: strip the
    # crashed batch's note from its manifest, and land a LATER note
    # from the same app (last_committed_batch keys on max batch id,
    # so the replay still sees the corpus commit as done — exactly
    # the divergence the round-11 ADVICE called out)
    import json as _json
    from pathlib import Path as _Path

    root = _Path(corpus)
    head = snap._current_version(root)
    mpath = snap._manifest_path(root, head)
    m = _json.loads(mpath.read_text())
    assert (m.get("note") or {}).get("batch_id") == 1
    del m["note"]
    mpath.write_text(_json.dumps(m))
    snap.snapshot_commit(
        spark.createDataFrame([], _docs_schema()),
        corpus,
        mode="append",
        note={"app_id": "crawler", "batch_id": 7},
    )

    with pytest.raises(Exception, match="idempotency note is no longer"):
        drain()


def test_containment_compaction_scheduled_zero_bookkeeping(
    spark, tmp_path
):
    """Round-11 VERDICT #2: the scheduled compaction keeps its own
    since_version seed as a snapshot TAG on the corpus, so a cron'd
    deployment carries no bookkeeping. Two scheduled runs with a
    stream append between them retire exactly the newly-engulfed
    docs, the seed advances on every run (including nothing-doomed
    ones), and retention can't drop the seed version (tags anchor
    expiry)."""
    from group5_spark.extensions.dedup import (
        DEFAULT_COMPACTION_SEED_TAG,
        containment_compact_scheduled,
    )
    from group5_spark.medallion import snapshots as snap
    from group5_spark.streaming import jobs

    src = tmp_path / "src"
    src.mkdir()
    corpus = str(tmp_path / "corpus")
    index = str(tmp_path / "index")
    ck = str(tmp_path / "ck")

    # cron fires before the stream's first commit: graceful no-op,
    # no tag planted
    no_op = {
        "doomed": 0, "head_version": None, "corpus": None,
        "index": None, "seed": None, "bootstrap": None,
    }
    res = containment_compact_scheduled(spark, corpus, index)
    assert res == no_op
    assert snap.snapshot_tags(corpus) == {}

    # cron fires in the crash window where the corpus landed but the
    # index didn't (corpus-first commit order): also a no-op, no tag
    # planted — the next run after the replay heals bootstraps fully
    snap.snapshot_commit(
        spark.createDataFrame([(1, "a b c")], _docs_schema()), corpus
    )
    assert containment_compact_scheduled(spark, corpus, index) == no_op
    assert snap.snapshot_tags(corpus) == {}
    import shutil as _shutil

    _shutil.rmtree(corpus)

    def drain():
        jobs.stream_containment_dedup(
            spark.readStream.schema(_docs_schema()).json(str(src)),
            ck, corpus, index, threshold=0.9, app_id="crawler",
        )

    _emit_docs(src, "b1.json", [
        (50, "alpha beta gamma delta epsilon"),
        (51, "one two three four five"),
    ])
    drain()
    # run 1: bootstrap (no seed tag yet) — full-corpus election, no
    # engulfed pages yet, tag planted at the pinned head
    res1 = containment_compact_scheduled(spark, corpus, index)
    assert res1["bootstrap"] == "full" and res1["doomed"] == 0
    assert res1["seed"] is None
    tags = snap.snapshot_tags(corpus)
    assert tags[DEFAULT_COMPACTION_SEED_TAG] == res1["head_version"]

    # the stream appends a crawl that ENGULFS doc 50
    _emit_docs(src, "b2.json", [
        (60, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    ])
    drain()
    # run 2: derives the window from the seed tag alone and retires
    # exactly the newly-engulfed doc from corpus AND index
    res2 = containment_compact_scheduled(spark, corpus, index)
    assert res2["bootstrap"] is None
    assert res2["seed"] == res1["head_version"]
    assert res2["doomed"] == 1
    assert {
        r["doc_id"] for r in snap.snapshot_read(spark, corpus).collect()
    } == {51, 60}
    assert snap.snapshot_read(spark, index).where("id = 50").count() == 0
    tags = snap.snapshot_tags(corpus)
    assert tags[DEFAULT_COMPACTION_SEED_TAG] == res2["head_version"]
    assert res2["head_version"] > res1["head_version"]

    # run 3: idle window — dooms nothing but still advances the seed
    # past its own merge commits, so run 4 won't re-scan them
    res3 = containment_compact_scheduled(spark, corpus, index)
    assert res3["doomed"] == 0
    assert res3["seed"] == res2["head_version"]
    assert res3["head_version"] >= res2["head_version"]
    assert (
        snap.snapshot_tags(corpus)[DEFAULT_COMPACTION_SEED_TAG]
        == res3["head_version"]
    )

    # retention keeps the seed version alive: expire to 1 version,
    # then a post-expire scheduled run still resolves its window
    snap.snapshot_expire(corpus, keep_last=1)
    _emit_docs(src, "b3.json", [
        (70, "one two three four five six seven eight nine ten"),
    ])
    drain()
    res4 = containment_compact_scheduled(spark, corpus, index)
    assert res4["seed"] == res3["head_version"]
    assert res4["doomed"] == 1  # doc 51 engulfed by 70
    assert {
        r["doc_id"] for r in snap.snapshot_read(spark, corpus).collect()
    } == {60, 70}


def test_purge_denylist_keeps_takedown_erased(spark, tmp_path):
    """Erasure must survive re-crawls (round 12): once
    snapshot_purge_ids removes a doc, its corpus row no longer blocks
    the stream's first-crawl-wins anti-join — so the purge appends the
    id to a suppression table and the containment stream anti-joins
    it every micro-batch. The re-crawled taken-down page never
    re-enters corpus or index; unrelated new docs still ingest."""
    from group5_spark.medallion import snapshots as snap
    from group5_spark.medallion.maintenance import snapshot_purge_ids
    from group5_spark.streaming import jobs

    src = tmp_path / "src"
    src.mkdir()
    corpus = str(tmp_path / "corpus")
    index = str(tmp_path / "index")
    deny = str(tmp_path / "denylist")
    ck = str(tmp_path / "ck")

    def drain():
        jobs.stream_containment_dedup(
            spark.readStream.schema(_docs_schema()).json(str(src)),
            ck, corpus, index, threshold=0.9, app_id="crawler",
            denylist_path=deny,
        )

    _emit_docs(src, "b1.json", [
        (10, "alpha beta gamma delta epsilon"),
        (11, "one two three four five"),
    ])
    drain()

    out = snapshot_purge_ids(
        spark, [10], [(corpus, "doc_id"), (index, "id")],
        note={"ticket": "TAKEDOWN-1"}, denylist_path=deny,
    )
    assert out["denylisted"] == 1
    assert {
        r["doc_id"] for r in snap.snapshot_read(spark, corpus).collect()
    } == {11}

    # the page is re-crawled verbatim plus a fresh doc
    _emit_docs(src, "b2.json", [
        (10, "alpha beta gamma delta epsilon"),
        (12, "completely new page content"),
    ])
    drain()
    assert {
        r["doc_id"] for r in snap.snapshot_read(spark, corpus).collect()
    } == {11, 12}  # the taken-down page stayed erased
    assert snap.snapshot_read(spark, index).where("id = 10").count() == 0

    # a second purge of the same id appends nothing new to the list
    snap_commit_count = snap.snapshot_manifest(deny)["version"]
    out2 = snapshot_purge_ids(
        spark, [10], [(corpus, "doc_id"), (index, "id")],
        missing_ok=True, denylist_path=deny,
    )
    assert out2["denylisted"] == 0
    assert snap.snapshot_manifest(deny)["version"] == snap_commit_count


def test_purge_denylist_guards_span_stream(spark, tmp_path):
    """Round-12 VERDICT #2: the suppression denylist must guard EVERY
    corpus-writing ingestion surface, not just the containment stream.
    Span-dedup specifics: the span index keeps anonymous shared
    hashes (deliberately excluded from the purge), so a VERBATIM
    re-crawl of a purged doc is already fully-duplicate and drops —
    but an EDITED re-crawl (the usual takedown-evasion shape) carries
    fresh spans and would re-ingest without the denylist. It must
    stay out of corpus AND index while a fresh doc ingests."""
    from group5_spark.extensions.dedup import span_index_build
    from group5_spark.medallion import snapshots as snap
    from group5_spark.medallion.maintenance import snapshot_purge_ids
    from group5_spark.streaming import jobs

    src = tmp_path / "src"
    src.mkdir()
    corpus = str(tmp_path / "corpus")
    index = str(tmp_path / "index")
    deny = str(tmp_path / "deny")
    ck = str(tmp_path / "ck")

    def drain():
        jobs.stream_span_dedup(
            spark.readStream.schema(_docs_schema()).json(str(src)),
            ck, corpus, index, span_words=3, app_id="crawler",
            denylist_path=deny,
        )

    _emit_docs(src, "b1.json", [
        (10, "alpha beta gamma delta epsilon zeta"),
        (11, "one two three four five six"),
    ])
    drain()

    out = snapshot_purge_ids(
        spark, [10], [(corpus, "doc_id")],
        note={"ticket": "TAKEDOWN-2"}, denylist_path=deny,
    )
    assert out["denylisted"] == 1

    # the taken-down page comes back EDITED (fresh spans) + a new doc
    _emit_docs(src, "b2.json", [
        (10, "totally rewritten takedown evasion text here now"),
        (12, "completely new page content words here"),
    ])
    idx_rows_before = snap.snapshot_read(spark, index).count()
    drain()
    assert {
        r["doc_id"] for r in snap.snapshot_read(spark, corpus).collect()
    } == {11, 12}
    # the index gained exactly doc 12's spans — none of doc 10's
    n12 = span_index_build(
        spark.createDataFrame(
            [(12, "completely new page content words here")],
            _docs_schema(),
        ),
        span_words=3,
    ).count()
    assert (
        snap.snapshot_read(spark, index).count() == idx_rows_before + n12
    )


def test_purge_denylist_guards_upsert_stream(spark, tmp_path):
    """Round-12 VERDICT #2, CDC surface: an upsert sink re-INSERTS a
    purged key the moment upstream re-emits it (replay, backfill) —
    with denylist_path the erased key stays erased while fresh keys
    merge; composite-key tables must name the suppressed column."""
    import pytest

    from group5_spark.medallion.maintenance import snapshot_purge_ids
    from group5_spark.medallion.snapshots import snapshot_read
    from group5_spark.streaming import jobs

    src = tmp_path / "src"
    src.mkdir()
    tbl = str(tmp_path / "tbl")
    deny = str(tmp_path / "deny")
    ckpt = str(tmp_path / "ckpt")

    _emit_cdc(src, "b1.json", [
        (1, "2024-01-01", "secret", 1),
        (2, "2024-01-01", "b", 1),
    ])
    stream = spark.readStream.schema(_cdc_schema()).json(str(src))
    jobs.stream_upsert_snapshot(
        stream, ckpt, tbl, ["id"], sequence_col="seq",
        denylist_path=deny,
    )

    out = snapshot_purge_ids(
        spark, [1], [(tbl, "id")], denylist_path=deny
    )
    assert out["rows_deleted"] == 1 and out["denylisted"] == 1

    # upstream re-emits the purged key (higher seq!) plus a fresh one
    _emit_cdc(src, "b2.json", [
        (1, "2024-01-01", "secret-again", 9),
        (3, "2024-01-02", "c", 1),
    ])
    stream = spark.readStream.schema(_cdc_schema()).json(str(src))
    jobs.stream_upsert_snapshot(
        stream, ckpt, tbl, ["id"], sequence_col="seq",
        denylist_path=deny,
    )
    got = {r["id"]: r["v"] for r in snapshot_read(spark, tbl).collect()}
    assert got == {2: "b", 3: "c"}  # purged key stayed erased

    # composite keys need an explicit denylist_key
    with pytest.raises(ValueError, match="denylist_key"):
        jobs.stream_upsert_snapshot(
            stream, ckpt, tbl, ["id", "d"], denylist_path=deny
        )


def test_purge_denylist_guards_dedup_vs_corpus(spark, tmp_path):
    """Round-12 VERDICT #2, fingerprint surface: a purged doc's
    fingerprint left the corpus with its row, so a re-crawl passes
    the content check — the denylist anti-join (resolved at wiring
    time; this surface is a pure transformation) keeps it out."""
    import json

    from group5_spark.medallion.maintenance import snapshot_purge_ids
    from group5_spark.medallion.snapshots import snapshot_commit
    from group5_spark.streaming import jobs

    corpus_tbl = str(tmp_path / "corpus_tbl")
    deny = str(tmp_path / "deny")
    snapshot_commit(
        spark.createDataFrame([(1, "the erased page")], _docs_schema()),
        corpus_tbl,
    )
    snapshot_purge_ids(
        spark, [1], [(corpus_tbl, "doc_id")], denylist_path=deny
    )

    src = tmp_path / "src"
    src.mkdir()
    with open(src / "b.json", "w") as f:
        for did, text in ((1, "the erased page"), (2, "a fresh page")):
            f.write(json.dumps({"doc_id": did, "text": text}) + "\n")
    stream = spark.readStream.schema(_docs_schema()).json(str(src))
    # corpus fingerprints post-purge: empty — nothing blocks doc 1
    # except the denylist
    fresh = jobs.stream_dedup_vs_corpus(
        stream,
        spark.createDataFrame([], "fingerprint string"),
        denylist_path=deny,
    )
    q = (
        fresh.writeStream.format("memory")
        .queryName("denyfp")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        r["doc_id"]
        for r in spark.sql("SELECT doc_id FROM denyfp").collect()
    )
    assert got == [2]


def test_stream_containment_replay_after_purge(
    spark, tmp_path, monkeypatch
):
    """The purge twin of the compaction-replay case: a crash lands
    between the corpus commit and the index commit, and a
    right-to-erasure purge of one of the batch's OWN committed
    survivors runs before the replay (the purge's index delete no-ops
    — the rows never landed). The replay's version-diff rebuild must
    NOT re-append the erased doc's index rows from the pinned
    version: that would orphan content-derived posting rows for a
    document the erasure just removed."""
    from group5_spark.medallion import snapshots as snap
    from group5_spark.medallion.maintenance import snapshot_purge_ids
    from group5_spark.streaming import jobs

    src = tmp_path / "src"
    src.mkdir()
    corpus = str(tmp_path / "corpus")
    index = str(tmp_path / "index")
    deny = str(tmp_path / "deny")
    ck = str(tmp_path / "ck")

    def drain():
        jobs.stream_containment_dedup(
            spark.readStream.schema(_docs_schema()).json(str(src)),
            ck, corpus, index, threshold=0.9, app_id="crawler",
            denylist_path=deny,
        )

    _emit_docs(src, "b1.json", [(10, "alpha beta gamma delta")])
    drain()

    # batch 2 crashes between the two commits; corpus got {20, 21}
    _emit_docs(src, "b2.json", [
        (20, "taken down page words"),
        (21, "innocent bystander document"),
    ])
    real_commit = snap.snapshot_commit

    def bomb(df, path, **kw):
        if path == index:
            raise RuntimeError("crash before the index commit")
        return real_commit(df, path, **kw)

    monkeypatch.setattr(snap, "snapshot_commit", bomb)
    with pytest.raises(Exception, match="crash before the index"):
        drain()
    monkeypatch.setattr(snap, "snapshot_commit", real_commit)

    # the takedown arrives before anyone notices the crash
    out = snapshot_purge_ids(
        spark, [20], [(corpus, "doc_id"), (index, "id")],
        denylist_path=deny,
    )
    assert out["rows_deleted"] == 1  # corpus row; index had none yet

    drain()  # replay
    assert {
        r["doc_id"] for r in snap.snapshot_read(spark, corpus).collect()
    } == {10, 21}
    idx_ids = {r["id"] for r in snap.snapshot_read(spark, index).collect()}
    assert idx_ids == {10, 21}  # no orphaned postings for the erased doc


def test_containment_compaction_scheduled_crash_before_tag_move(
    spark, tmp_path, monkeypatch
):
    """Crash-safety of the seed tag: the tag moves only AFTER both
    merge commits, so a run that dies between the merges and the tag
    move leaves the OLD seed in place — the healing re-run re-scans a
    superset window, finds the already-retired docs gone from the
    index (no posting rows: they can neither re-doom nor doom),
    retires nothing twice, and THEN advances the tag."""
    from group5_spark.extensions import dedup
    from group5_spark.medallion import snapshots as snap
    from group5_spark.streaming import jobs

    src = tmp_path / "src"
    src.mkdir()
    corpus = str(tmp_path / "corpus")
    index = str(tmp_path / "index")
    ck = str(tmp_path / "ck")

    def drain():
        jobs.stream_containment_dedup(
            spark.readStream.schema(_docs_schema()).json(str(src)),
            ck, corpus, index, threshold=0.9, app_id="crawler",
        )

    _emit_docs(src, "b1.json", [
        (50, "alpha beta gamma delta epsilon"),
        (51, "one two three four five"),
    ])
    drain()
    res1 = dedup.containment_compact_scheduled(
        spark, corpus, index, bootstrap="skip"
    )
    _emit_docs(src, "b2.json", [
        (60, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    ])
    drain()

    # run 2 dies between the merge commits and the tag move
    real_tag = snap.snapshot_tag

    def bomb(path, name, **kw):
        if kw.get("version") is not None:
            raise RuntimeError("crash before the tag move")
        return real_tag(path, name, **kw)

    monkeypatch.setattr(
        "group5_spark.medallion.snapshots.snapshot_tag", bomb
    )
    with pytest.raises(RuntimeError, match="crash before the tag"):
        dedup.containment_compact_scheduled(spark, corpus, index)
    monkeypatch.setattr(
        "group5_spark.medallion.snapshots.snapshot_tag", real_tag
    )
    # the compaction itself landed; the seed did not move
    assert {
        r["doc_id"] for r in snap.snapshot_read(spark, corpus).collect()
    } == {51, 60}
    assert (
        snap.snapshot_tags(corpus)[dedup.DEFAULT_COMPACTION_SEED_TAG]
        == res1["head_version"]
    )

    # the healing re-run scans the superset window, dooms nothing new,
    # and finally advances the seed
    res3 = dedup.containment_compact_scheduled(spark, corpus, index)
    assert res3["doomed"] == 0
    assert res3["seed"] == res1["head_version"]
    assert (
        snap.snapshot_tags(corpus)[dedup.DEFAULT_COMPACTION_SEED_TAG]
        == res3["head_version"]
    )
    assert {
        r["doc_id"] for r in snap.snapshot_read(spark, corpus).collect()
    } == {51, 60}


def _sem_stream_setup(spark, sf_dir, tmp_path, n_cells=8):
    """Seed corpus -> persisted IVF index; returns (idx, emb, schema)
    for the semantic-dedup ingestion stream tests."""
    from pyspark.sql.types import (
        ArrayType, DoubleType, LongType, StructField, StructType,
    )

    from group5_spark.catalog import load_table
    from group5_spark.extensions import similarity as S

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    corpus0 = emb.filter(F.col("vec_id") % 5 < 4)
    idx = str(tmp_path / "semidx")
    S.ivf_index_init(corpus0, idx, n_cells=n_cells)
    schema = StructType([
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(DoubleType())),
    ])
    return idx, emb, corpus0, schema


def _sem_rows(df, scale=1.0, offset=0):
    return [
        (int(r.vec_id) + offset, [float(x) * scale for x in r.embedding])
        for r in df.collect()
    ]


def _write_vec_batch(path, rows):
    import json as _json

    with open(path, "w") as f:
        for vid, vec in rows:
            f.write(_json.dumps({"vec_id": vid, "embedding": vec}) + "\n")


def test_stream_semantic_dedup_end_to_end(spark, sf_dir, tmp_path):
    """The semantic ingestion election, streamed: one micro-batch
    carries a RE-FED resident id (first-ingest-wins drops it), an
    x2-scaled copy of a resident under a new id (the τ-neighbor
    RESIDENT dooms it), a negated fresh vector (cos ≤ .51 to
    everything — survives), and an intra-batch duplicate pair
    (x-2 / x-4 scalings of one resident direction: pair cosine 1.0,
    BIT-identical centroid similarity, so the id tie-break keeps
    exactly the smaller id). Survivors land as ONE cell-partitioned
    index append; a drained-checkpoint re-run and an all-duplicate
    batch each add ZERO versions (no empty commits, note-gated
    replay)."""
    from group5_spark.medallion.snapshots import snapshot_read, snapshot_versions

    idx, emb, corpus0, schema = _sem_stream_setup(spark, sf_dir, tmp_path)
    # three DISTINCT resident directions (pairwise natural cosine
    # ≤ .51), so the planted families never cross-doom each other
    r0, r1, r2 = [
        corpus0.orderBy("vec_id").offset(i).limit(1) for i in range(3)
    ]
    refed = _sem_rows(r0)                                     # same id
    copy = _sem_rows(r0, scale=2.0, offset=10000)
    fresh = _sem_rows(r1, scale=-2.0, offset=20000)
    pair = _sem_rows(r2, scale=-2.0, offset=30000) + _sem_rows(
        r2, scale=-4.0, offset=40000
    )
    src = tmp_path / "src"
    src.mkdir()
    _write_vec_batch(src / "b1.json", refed + copy + fresh + pair)

    ckpt = str(tmp_path / "ckpt")
    stream = spark.readStream.schema(schema).json(str(src))
    jobs.stream_semantic_dedup(stream, ckpt, idx)
    assert len(snapshot_versions(idx)) == 2  # init + one append

    ids = {r.cand_id for r in snapshot_read(spark, idx).collect()}
    new_ids = {i for i in ids if i >= 10000}
    # fresh + the smaller pair member land; re-fed, copy, and the
    # larger pair member drop
    assert new_ids == {fresh[0][0], pair[0][0]}

    # drained checkpoint replays nothing
    stream = spark.readStream.schema(schema).json(str(src))
    jobs.stream_semantic_dedup(stream, ckpt, idx)
    assert len(snapshot_versions(idx)) == 2

    # a brand-new stream re-feeding the SAME file: every row is now
    # a resident or a τ-duplicate of one — the all-duplicate batch
    # commits NOTHING (no empty append version)
    stream = spark.readStream.schema(schema).json(str(src))
    jobs.stream_semantic_dedup(stream, str(tmp_path / "ckpt2"), idx)
    assert len(snapshot_versions(idx)) == 2


def test_stream_semantic_dedup_replay_after_commit(spark, sf_dir, tmp_path):
    """Crash-after-commit simulation: the first run commits batch 0
    under an explicit app_id; a second run from a FRESH checkpoint
    but the same app_id (the checkpoint died before recording the
    batch) sees the (app_id, batch_id) note and skips — no duplicate
    index rows, no phantom version."""
    from group5_spark.medallion.snapshots import snapshot_read, snapshot_versions

    idx, emb, corpus0, schema = _sem_stream_setup(spark, sf_dir, tmp_path)
    fresh = _sem_rows(
        corpus0.orderBy("vec_id").limit(1), scale=-2.0, offset=20000
    )
    src = tmp_path / "src"
    src.mkdir()
    _write_vec_batch(src / "b1.json", fresh)

    stream = spark.readStream.schema(schema).json(str(src))
    jobs.stream_semantic_dedup(stream, str(tmp_path / "ck1"), idx, app_id="A")
    assert len(snapshot_versions(idx)) == 2

    stream = spark.readStream.schema(schema).json(str(src))
    jobs.stream_semantic_dedup(stream, str(tmp_path / "ck2"), idx, app_id="A")
    assert len(snapshot_versions(idx)) == 2
    rows = snapshot_read(spark, idx).where(
        F.col("cand_id") == fresh[0][0]
    ).count()
    assert rows == 1


def test_stream_semantic_dedup_denylist(spark, sf_dir, tmp_path):
    """Right-to-erasure on the semantic ingestion surface: a purged
    vector re-fed through stream_semantic_dedup stays erased (its
    index row is gone, so without the denylist the first-ingest-wins
    join could no longer block the re-feed) while a fresh vector in
    the same micro-batch ingests."""
    from group5_spark.medallion.maintenance import snapshot_purge_ids
    from group5_spark.medallion.snapshots import snapshot_read

    idx, emb, corpus0, schema = _sem_stream_setup(spark, sf_dir, tmp_path)
    deny = str(tmp_path / "deny")
    victim_df = corpus0.orderBy("vec_id").limit(1)
    victim = _sem_rows(victim_df)
    snapshot_purge_ids(
        spark, [victim[0][0]], [(idx, "cand_id")],
        missing_ok=True, denylist_path=deny,
    )
    fresh = _sem_rows(victim_df, scale=-2.0, offset=20000)
    src = tmp_path / "src"
    src.mkdir()
    _write_vec_batch(src / "b1.json", victim + fresh)

    stream = spark.readStream.schema(schema).json(str(src))
    jobs.stream_semantic_dedup(
        stream, str(tmp_path / "ckpt"), idx, denylist_path=deny
    )
    ids = {r.cand_id for r in snapshot_read(spark, idx).collect()}
    assert victim[0][0] not in ids and fresh[0][0] in ids


def test_stream_semantic_dedup_requires_index(spark, sf_dir, tmp_path):
    """IVF needs frozen centroids before anything can stream in: a
    missing index fails loudly instead of silently bootstrapping with
    centroids sampled from whatever the first micro-batch happens to
    carry."""
    from pyspark.sql.types import (
        ArrayType, DoubleType, LongType, StructField, StructType,
    )

    schema = StructType([
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(DoubleType())),
    ])
    src = tmp_path / "src"
    src.mkdir()
    _write_vec_batch(src / "b1.json", [(1, [1.0, 0.0])])
    stream = spark.readStream.schema(schema).json(str(src))
    with pytest.raises(ValueError, match="not an IVF index"):
        jobs.stream_semantic_dedup(
            stream, str(tmp_path / "ckpt"), str(tmp_path / "no_index")
        )
