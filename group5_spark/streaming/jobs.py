"""Streaming-native variants of the micro-batch pipeline (SURVEY §7
Phase S — beyond reference parity).

The reference deliberately avoids continuous streaming ("NOT
compatible with Airflow task execution",
``Stream_Analytics_Platform.md:11``) and uses a bounded poll + file
buffer instead. These jobs supersede that compromise with
``readStream`` + ``Trigger.AvailableNow``: each invocation drains
exactly the data available at start, checkpoints offsets, and
terminates — Airflow-compatible AND exactly-once, no NDJSON buffer.

Watermarked event-time windows provide the late-data semantics the
reference never had: counts/revenue per tumbling window keep state
bounded by the watermark delay.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType


def stream_landing(
    spark: SparkSession,
    glob: str,
    schema: StructType,
    max_files_per_trigger: int = 100,
) -> DataFrame:
    """File-source stream over the landing zone: new NDJSON batch
    files are discovered and processed incrementally — the streaming
    equivalent of the reference's 'glob everything each run'."""
    reader = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
    )
    return reader.json(glob)


def windowed_event_counts(
    events: DataFrame,
    ts_col: str = "event_ts",
    window: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked tumbling-window event counts (streaming B39):
    state per (window, event_type) is dropped once the watermark
    passes — bounded memory under unbounded input."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n_events",
        )
    )


def run_available_now(
    df: DataFrame,
    checkpoint_dir: str,
    output_table: str,
    output_mode: str = "append",
) -> StreamingQuery:
    """Execute a streaming DataFrame with Trigger.AvailableNow into an
    in-memory sink table, blocking until the drain completes.

    AvailableNow = process everything available, checkpoint, stop —
    the exactly-once replacement for the reference's bounded poll
    window (A14-A16): re-runs resume from the checkpoint instead of
    re-reading committed offsets.
    """
    query = (
        df.writeStream.format("memory")
        .queryName(output_table)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query


# ---------------------------------------------------------------------------
# Custom stateful operator: event-time sessionization with a gap timeout
# (applyInPandasWithState — SURVEY §2 custom-operator policy (b): the one
# semantics Spark's built-in streaming aggregations can't express).
# ---------------------------------------------------------------------------

def _session_output_schema(events: DataFrame, user_col: str):
    """Output schema with the key column typed as the INPUT types it —
    a long user_id stream yields long session keys (round-3 fix: the
    former hard-coded string key made Arrow reject integer keys)."""
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    return StructType(
        [
            StructField("user_id", events.schema[user_col].dataType),
            StructField("session_start", TimestampType()),
            StructField("session_end", TimestampType()),
            StructField("n_events", LongType()),
        ]
    )


# State kept per user: open session bounds as epoch micros (long — the
# state store holds only fixed-width scalars, no timestamp marshalling).
SESSION_STATE_SCHEMA = "start_us long, end_us long, n long"


def sessionize_stateful(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "event_ts",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stateful sessionization: one output row per *closed* session
    (user, start, end, event count), sessions split on > ``gap`` of
    inactivity.

    This is the operator the batch ``operators.windows.sessionize``
    computes with a lag-window; in streaming it needs true per-key
    state: the open session must survive across micro-batches and
    close either when a later event arrives past the gap or when the
    event-time watermark passes ``end + gap`` (EventTimeTimeout).
    State is three longs per active user — bounded by active users,
    not stream length. Arrow-batched `applyInPandasWithState`, no
    row-at-a-time Python.
    """
    import pandas as pd  # local: only the executors need it

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = int(pd.Timedelta(gap).total_seconds() * 1_000_000)

    def fn(key, pdf_iter, state: GroupState):
        user = key[0]
        if state.hasTimedOut:
            start_us, end_us, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user],
                    "session_start": [pd.Timestamp(start_us, unit="us")],
                    "session_end": [pd.Timestamp(end_us, unit="us")],
                    "n_events": [n],
                }
            )
            return

        ts: list[int] = []
        for pdf in pdf_iter:
            ts.extend(int(t.value // 1000) for t in pdf[ts_col])
        ts.sort()

        cur = state.get if state.exists else None
        closed: list[tuple[int, int, int]] = []
        for t in ts:
            if cur is None:
                cur = (t, t, 1)
            elif t >= cur[0]:
                if t - cur[1] <= gap_us:
                    cur = (cur[0], max(cur[1], t), cur[2] + 1)
                else:
                    closed.append(cur)
                    cur = (t, t, 1)
            elif cur[0] - t <= gap_us:
                # late event (within watermark) older than the open
                # session's start: extend the session backward — the
                # batch twin would have included it
                cur = (t, cur[1], cur[2] + 1)
            else:
                # too old to merge and already past: its own session
                closed.append((t, t, 1))
        if cur is not None:
            state.update(cur)
            # close the open session when event time passes end + gap
            state.setTimeoutTimestamp(cur[1] // 1000 + gap_us // 1000)
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [user] * len(closed),
                    "session_start": [
                        pd.Timestamp(s, unit="us") for s, _, _ in closed
                    ],
                    "session_end": [
                        pd.Timestamp(e, unit="us") for _, e, _ in closed
                    ],
                    "n_events": [n for _, _, n in closed],
                }
            )

    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(user_col)
        .applyInPandasWithState(
            fn,
            _session_output_schema(events, user_col),
            SESSION_STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Streaming upsert sink: foreachBatch + MERGE (Delta-style CDC apply)
# ---------------------------------------------------------------------------


def stream_upsert(
    df: DataFrame,
    checkpoint_dir: str,
    target_path: str,
    keys: list[str],
    *,
    partition_col: str | None = None,
    sequence_col: str | None = None,
) -> StreamingQuery:
    """Continuously upsert a change stream into a Parquet table.

    Each micro-batch is applied with :func:`medallion.merge.merge_into`
    via ``foreachBatch`` — the standard Spark pattern for sinks whose
    semantics (MERGE) exceed the built-in append/complete modes.

    Exactly-once story: ``foreachBatch`` gives at-least-once delivery
    (a batch can be re-applied after a crash before the checkpoint
    commit). MERGE makes the re-apply idempotent — with
    ``sequence_col`` even against out-of-order replays — so the sink
    is effectively-once, matching what Delta's streaming MERGE
    provides. Within a batch, rows are deduplicated per key keeping
    the highest sequence (or an arbitrary-but-deterministic max row
    without one), since a single MERGE must see one row per key.

    Blocks until the AvailableNow drain completes.
    """
    import os

    from pyspark.sql import Window

    from group5_spark.medallion.merge import merge_into

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        order = (
            [F.col(sequence_col).desc()] if sequence_col else []
        ) + [F.struct(*[F.col(c) for c in batch.columns]).desc()]
        w = Window.partitionBy(*keys).orderBy(*order)
        deduped = (
            batch.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        if not os.path.isdir(target_path):
            writer = deduped.write.mode("overwrite")
            if partition_col:
                writer = writer.partitionBy(partition_col)
            writer.parquet(target_path)
            return
        merge_into(
            batch.sparkSession,
            target_path,
            deduped,
            keys,
            partition_col=partition_col,
            sequence_col=sequence_col,
            validate_source_keys=False,  # dedup above guarantees it
        )

    query = (
        df.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query


def stream_upsert_snapshot(
    df: DataFrame,
    checkpoint_dir: str,
    table_path: str,
    keys: list[str],
    *,
    sequence_col: str | None = None,
    partition_by: str | None = None,
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    app_id: str | None = None,
    dv_threshold: float | None = None,
    eq_mode: bool = False,
    schema_evolution: bool = False,
    denylist_path: str | None = None,
    denylist_key: str | None = None,
) -> StreamingQuery:
    """Continuously upsert a change stream into a SNAPSHOT table —
    :func:`stream_upsert` with the lakehouse contract the Hive-layout
    sink cannot give: every micro-batch lands as ONE atomic
    file-pruned ``maintenance.snapshot_merge`` commit, so readers
    never see a half-merged batch, every batch boundary is
    time-travelable, the table's CHECK constraints gate the merged
    rows, and a concurrent compaction/writer serializes through OCC
    instead of racing the sink on files.

    Exactly-once, two layers deep:
    - **Replay dedup**: each merge commit records ``(app_id,
      batch_id)`` in its manifest note (the Delta txnAppId/txnVersion
      pattern, shared with :func:`stream_snapshot_sink`); a batch
      whose id this app already durably committed is skipped, so a
      crash between the commit and the checkpoint write cannot
      double-apply. ``app_id`` defaults to the checkpoint's streaming
      query id — checkpoint loss degrades to at-least-once, never to
      data loss, and the MERGE layer below makes that harmless.
    - **Idempotent apply**: MERGE itself is idempotent per key — with
      ``sequence_col`` even against out-of-order replays — so a
      replayed batch that slips past the note check (new query id)
      converges to the same table.

    Within a batch, rows are deduplicated per key keeping the highest
    sequence (a single MERGE must see one row per key). The
    deduplicated batch is persisted until its commit returns, so the
    batch's source files are scanned ONCE per micro-batch: the
    emptiness test, the MERGE's key probe and its write all read the
    cached rows (a batch the denylist empties commits nothing). The
    dedup's shuffle hashes the keys into one partition per input
    split, not per shuffle partition: a cached plan's partitioning is
    fixed (AQE cannot coalesce it), so a small batch would otherwise
    be cached — and re-read by every job — as hundreds of near-empty
    partitions. The key
    columns get manifest min/max stats on every commit (inside
    ``snapshot_merge``), so each batch prunes its candidate files
    from kilobytes of metadata — the CDC batch is priced by the keys
    it touches, not the table. Blocks until the AvailableNow drain
    completes.

    ``dv_threshold`` forwards to :func:`snapshot_merge`'s
    merge-on-read path: per-batch matched rows below the per-file
    fraction mask positions in a deletion-vector sidecar instead of
    rewriting the file — the steady-state CDC write cost becomes ∝
    batch size even when each batch's keys scatter across large
    files. Schedule ``compact_snapshot`` to fold accumulated DVs.

    ``eq_mode=True`` routes each batch through
    :func:`maintenance.snapshot_eq_upsert` instead (Iceberg-v2
    equality deletes): the sink appends the batch plus a key-tuple
    sidecar and never reads, probes, or rewrites a target file —
    commit cost O(|batch|) and INDEPENDENT of table size, the path
    for key-scattered CDC where even DV probing reads too much. The
    same ``(app_id, batch_id)`` replay dedup applies. Rent moves to
    readers (one broadcast anti-join per sidecar key set) — schedule
    :func:`maintenance.compact_snapshot_masks` (or let
    ``apply_health`` fold on the sidecar-count recommendation);
    a fold between batches is safe, it cannot double-apply.
    Mutually exclusive with ``dv_threshold``.

    ``denylist_path``: the persisted suppression table
    (:func:`medallion.maintenance.snapshot_purge_ids` appends every
    erased id) anti-joined against each micro-batch BEFORE the dedup
    and merge — an upsert sink would otherwise re-INSERT a purged key
    the moment the upstream re-emits it (a CDC replay, a re-crawl, a
    backfill), resurrecting the erased row. ``denylist_key`` names
    which key column the denylist ids match; it defaults to the
    single merge key and must be given explicitly for composite-key
    tables (suppressing on one component of a composite key is a
    policy choice the caller must own).
    """
    from pyspark.sql import Window

    from group5_spark.medallion import snapshots as snap
    from group5_spark.medallion.maintenance import (
        snapshot_eq_upsert,
        snapshot_merge,
    )

    if eq_mode and dv_threshold is not None:
        raise ValueError(
            "eq_mode and dv_threshold are alternative merge-on-read "
            "write paths — pass one"
        )
    if eq_mode and partition_by:
        raise ValueError(
            "eq_mode appends through snapshot_eq_upsert, which follows "
            "the table's existing layout — partition_by is a "
            "table-creation concern, not a per-batch one"
        )
    dl_key = denylist_key
    if denylist_path is not None and dl_key is None:
        if len(keys) != 1:
            raise ValueError(
                "denylist_path on a composite-key table needs an "
                "explicit denylist_key= naming which key column the "
                "suppressed ids match"
            )
        dl_key = keys[0]

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        app = app_id or _checkpoint_query_id(checkpoint_dir)
        head = None
        if app is not None:
            # parsed once: the idempotency check and the merge share it
            try:
                head = snap.snapshot_manifest(table_path)
            except FileNotFoundError:
                head = None  # no table yet: nothing committed
            done = (
                None
                if head is None
                else snap.last_committed_batch(table_path, app, _head=head)
            )
            if done is not None and done >= batch_id:
                return  # this app already durably merged this batch
        # one cached, key-partitioned copy per batch (see docstring)
        splits = batch.rdd.getNumPartitions()
        batch = _apply_denylist(batch, denylist_path, dl_key)
        order = (
            [F.col(sequence_col).desc()] if sequence_col else []
        ) + [F.struct(*[F.col(c) for c in batch.columns]).desc()]
        w = Window.partitionBy(*keys).orderBy(*order)
        deduped = (
            batch.repartition(max(1, splits), *keys)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
            .persist()
        )
        try:
            if deduped.coalesce(1).isEmpty():
                return  # nothing to apply: no commit
            if eq_mode:
                snapshot_eq_upsert(
                    batch.sparkSession,
                    table_path,
                    deduped,
                    keys,
                    # batch already deduped to one row per key above
                    note={"app_id": app, "batch_id": batch_id},
                    schema_evolution=schema_evolution,
                )
                return
            snapshot_merge(
                batch.sparkSession,
                table_path,
                deduped,
                keys,
                sequence_col=sequence_col,
                partition_by=partition_by,
                stats_cols=stats_cols,
                bloom_cols=bloom_cols,
                validate_source_keys=False,  # dedup above guarantees it
                note={"app_id": app, "batch_id": batch_id},
                dv_threshold=dv_threshold,
                schema_evolution=schema_evolution,
                _head=head,
            )
        finally:
            deduped.unpersist()

    query = (
        df.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    within: str = "1 hour",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream interval join: right rows matched to
    left rows with the same key where ``left_ts ≤ right_ts ≤
    left_ts + within`` (e.g. click → purchase attribution).

    Both sides buffer state; the time-interval condition plus the
    watermarks let Spark evict it — a left row can stop waiting once
    the watermark passes ``left_ts + within``, so state is bounded by
    (watermark + within) × arrival rate, never by stream length. An
    unbounded equi-join (no time condition) would grow state forever;
    this wrapper makes the bounded form the only one available.

    ``how`` may be "inner" or "leftOuter" (outer emits nulls only
    after the watermark proves no match can arrive).
    """
    l = left.withWatermark(left_ts, watermark)
    r = right.withWatermark(right_ts, watermark)
    cond = (
        (l[key] == r[key])
        & (r[right_ts] >= l[left_ts])
        & (r[right_ts] <= F.expr(f"{left_ts} + INTERVAL {within}"))
    )
    return l.join(r, cond, how)


def stream_dedup(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exactly-once-per-key dedup with bounded state.

    ``dropDuplicatesWithinWatermark`` keeps a key's fingerprint only
    until the watermark passes its event time — duplicates arriving
    within the watermark window (the realistic at-least-once redelivery
    horizon) are dropped, and state is bounded by watermark × key
    arrival rate instead of growing with the stream like a plain
    ``dropDuplicates`` on a stream would.
    """
    return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def stream_dedup_vs_corpus(
    df: DataFrame,
    corpus_fingerprints: DataFrame,
    text_col: str = "text",
    ts_col: str | None = None,
    watermark: str = "1 hour",
    denylist_path: str | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Streaming twin of the batch incremental corpus dedup
    (extensions/dedup.py:incremental_new_docs): drop any streamed
    document whose normalized-content fingerprint already exists in
    the ingested corpus, then dedup within the stream itself.

    Two-layer state story at scale:
    - the CORPUS side is a static (or snapshot_read) fingerprint
      table — the stream-static left-anti join re-plans it per
      micro-batch, so a corpus refreshed by the batch pipeline is
      picked up without restarting the query (same mechanism as
      :func:`stream_enrich_refreshing_dim`);
    - the WITHIN-STREAM layer is dropDuplicatesWithinWatermark when a
      ``ts_col`` is given — state bounded by the watermark, never by
      stream length.
    Only 32-char fingerprints ever join; document text stays in the
    micro-batch.

    ``denylist_path``: the persisted suppression table
    (:func:`medallion.maintenance.snapshot_purge_ids` appends every
    erased id) anti-joined on ``id_col`` BEFORE the corpus
    fingerprint join — a purged document's fingerprint left the
    corpus with its row, so a re-crawl would otherwise pass the
    content check and re-ingest erased content. NOTE this surface is
    a pure transformation (no ``foreachBatch``), so the suppression
    set — like ``corpus_fingerprints`` itself — resolves when the
    plan is WIRED, not per micro-batch: ids purged while the query
    runs apply from the next (re)start. The foreachBatch surfaces
    (:func:`stream_containment_dedup`, :func:`stream_span_dedup`,
    :func:`stream_upsert_snapshot`, the index-maintenance streams)
    re-read the table every micro-batch.
    """
    df = _apply_denylist(df, denylist_path, id_col)
    normalized = F.lower(
        F.trim(F.regexp_replace(F.col(text_col), "\\s+", " "))
    )
    fp = df.withColumn("fingerprint", F.md5(normalized))
    corpus = corpus_fingerprints.select("fingerprint").distinct()
    fresh = fp.join(corpus, "fingerprint", "left_anti")
    if ts_col is not None:
        fresh = fresh.withWatermark(
            ts_col, watermark
        ).dropDuplicatesWithinWatermark(["fingerprint"])
    return fresh


def stream_span_dedup(
    docs: DataFrame,
    checkpoint_dir: str,
    corpus_path: str,
    index_path: str,
    *,
    span_words: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
    app_id: str | None = None,
    denylist_path: str | None = None,
) -> StreamingQuery:
    """Continuous crawl ingestion with C4-style span-level dedup
    (streaming twin of ``extensions.dedup.span_dedup_incremental``):
    each micro-batch of documents dedups against the PERSISTED span
    index — a span survives only if absent from every previously
    ingested batch AND first within its own batch — then two snapshot
    appends land atomically in sequence: the surviving documents
    (``id, n_spans, kept_spans, deduped_text``) into ``corpus_path``,
    and the batch's NEW span hashes into ``index_path``. All state
    lives in the two snapshot tables; the stream itself is stateless,
    so the watermark/state-store machinery (and its memory) never
    enters the picture.

    Exactly-once across BOTH tables: each commit records ``(app_id,
    batch_id)`` in its manifest note and each table is checked
    independently, so a crash BETWEEN the corpus commit and the index
    commit replays into "skip corpus, append index" — the order
    (corpus first) makes that safe, because the index at replay time
    is still the pre-batch index the survivors were elected against.
    The reverse order would be unsound: an index committed before a
    corpus crash would dedup the replayed batch against itself and
    silently drop it.

    Per-batch cost at 100 TB: the election shuffles the batch's
    8-byte span hashes; the index anti-join carries hashes only
    (~0.3% of corpus text bytes at the 50-word default); the corpus
    is never re-read. Index growth is union-by-append of hashes that
    were PROVEN absent (the anti-join), so the table stays distinct
    without ever running DISTINCT over itself.

    ``denylist_path``: the persisted suppression table
    (:func:`medallion.maintenance.snapshot_purge_ids` appends every
    erased id) anti-joined against each micro-batch BEFORE the
    election — a purged document's corpus row AND its span hashes may
    be gone, so a re-crawl would otherwise re-elect and re-ingest the
    erased content (and re-publish its span hashes). Same guard, same
    per-batch price as :func:`stream_containment_dedup`'s.
    """
    from pathlib import Path as _Path

    from group5_spark.extensions.dedup import (
        span_dedup_incremental,
        span_index_build,
    )
    from group5_spark.medallion import snapshots as snap

    def ingest(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        spark = batch.sparkSession
        app = app_id or _checkpoint_query_id(checkpoint_dir)
        c_done = i_done = False
        if app is not None:
            d = snap.last_committed_batch(corpus_path, app)
            c_done = d is not None and d >= batch_id
            d = snap.last_committed_batch(index_path, app)
            i_done = d is not None and d >= batch_id
        if c_done and i_done:
            return
        # erased ids stay erased across re-crawls — suppress before
        # the election so neither the corpus append nor the span-hash
        # append ever sees the taken-down document
        batch = _apply_denylist(batch, denylist_path, id_col)
        if snap._current_version(_Path(index_path)):
            idx = snap.snapshot_read(spark, index_path)
        else:
            idx = spark.createDataFrame([], "span_hash long")
        batch = batch.persist()
        try:
            if not c_done:
                kept = span_dedup_incremental(
                    batch,
                    idx,
                    text_col=text_col,
                    id_col=id_col,
                    span_words=span_words,
                )
                # fully-duplicate docs (spans seen, none kept) drop;
                # NULL-text docs (n_spans = 0) are NOT duplicates and
                # must not disappear — the span-dedup contract
                survivors = kept.where(
                    (F.col("kept_spans") > 0) | (F.col("n_spans") == 0)
                )
                snap.snapshot_commit(
                    survivors,
                    corpus_path,
                    mode="append",
                    note={"app_id": app, "batch_id": batch_id},
                )
            if not i_done:
                new_hashes = span_index_build(
                    batch,
                    text_col=text_col,
                    id_col=id_col,
                    span_words=span_words,
                ).join(
                    idx.select("span_hash"), "span_hash", "left_anti"
                )
                snap.snapshot_commit(
                    new_hashes,
                    index_path,
                    mode="append",
                    note={"app_id": app, "batch_id": batch_id},
                )
        finally:
            batch.unpersist()

    query = (
        docs.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query


def _apply_denylist(
    batch: DataFrame, denylist_path: str | None, id_col: str
) -> DataFrame:
    """Anti-join the persisted suppression table
    (:func:`medallion.maintenance.snapshot_purge_ids` appends every
    erased id to it via its own ``denylist_path=``) against a
    micro-batch — the shared right-to-erasure guard for EVERY
    corpus/index-writing ingestion surface: a purged id's table row is
    gone, so nothing else blocks a re-crawl of the taken-down content
    from re-ingesting the very rows the erasure removed. One
    column-pruned id scan per micro-batch; an absent table (no purge
    yet) or ``None`` path costs nothing. The denylist stores bare
    ``id`` values; ``id_col`` names the batch column they key."""
    from pathlib import Path

    from group5_spark.medallion import snapshots as snap

    if denylist_path is None or not snap._current_version(
        Path(denylist_path)
    ):
        return batch
    return batch.join(
        snap.snapshot_read(batch.sparkSession, denylist_path).select(
            F.col("id").alias(id_col)
        ),
        on=id_col,
        how="left_anti",
    )


def _note_versions(
    path: str, app_id: str | None, batch_id: int
) -> tuple[int, int | None] | None:
    """The snapshot version the ORIGINAL run of streaming batch
    ``(app_id, batch_id)`` committed, and its parent: walk the
    published lineage newest-first for the commit carrying that
    idempotency note and return ``(version, parent)`` — parent None
    when that commit created the table (the pre-batch state is
    "absent"). None when the note is not found at all (expired
    lineage) — DISTINCT from the created-the-table case, so a caller
    that needs the note (a crash replay reconstructing what that
    commit persisted) can fail loudly instead of silently treating a
    lost note as an empty pre-batch table."""
    from pathlib import Path as _Path

    from group5_spark.medallion import snapshots as snap

    root = _Path(path)
    for v, m in snap._lineage(root, snap._current_version(root)):
        note = m.get("note") or {}
        if note.get("app_id") == app_id and note.get("batch_id") == batch_id:
            parent = int(m.get("parent") or 0)
            return int(v), parent or None  # parent 0 = created the table
    return None


def stream_containment_dedup(
    docs: DataFrame,
    checkpoint_dir: str,
    corpus_path: str,
    index_path: str,
    *,
    threshold: float = 0.9,
    text_col: str = "text",
    id_col: str = "doc_id",
    app_id: str | None = None,
    denylist_path: str | None = None,
) -> StreamingQuery:
    """Continuous crawl ingestion with CONTAINMENT dedup (streaming
    twin of ``extensions.dedup.contained_pairs_incremental``, the
    containment sibling of :func:`stream_span_dedup`): each
    micro-batch first drops RE-CRAWLED ids (an id already in the
    corpus — first-crawl-wins upsert, the same ingest-order
    precedence the containment election uses; this also enforces the
    probe's disjoint-id precondition, since index ids are a subset of
    corpus ids), then probes the PERSISTED prefix+postings index,
    drops every batch document τ-contained in an already-ingested
    corpus document (ingest-order precedence — the old page wins) or
    in a batch-mate with more distinct words (ties toward the smaller
    id — :func:`drop_contained`'s rule, evaluated against the batch
    AS CRAWLED: a doomed batch-mate still dooms its containees, the
    same chain semantics as ``drop_contained`` itself), then two
    snapshot appends land in sequence: the SURVIVING documents into
    ``corpus_path`` and the survivors' index rows into
    ``index_path``. The old-in-new direction is NOT generated in this
    path at all (the election never acts on it, so its candidate and
    verification volume is skipped outright — ``directions=`` on the
    probe): an append stream never deletes corpus rows; run
    ``extensions.dedup.containment_compact`` offline (on a schedule,
    over the recently-appended ids via ``since_version=``) to retire
    corpus pages engulfed by later crawls from BOTH tables,
    file-pruned and OCC-committed.

    All state lives in the two snapshot tables (stateless stream, no
    state store). Exactly-once across BOTH tables via independent
    ``(app_id, batch_id)`` notes with the corpus-first commit order:
    a crash between the commits replays into "skip corpus, append
    index", and the missing index generation is rebuilt from the
    corpus VERSION-DIFF of the batch's own committed note — never by
    re-running the election, because an offline
    ``containment_compact`` (or any other committed action) may have
    mutated the head tables between crash and replay, and a
    re-election against mutated state could persist a different
    survivor set than the corpus already holds. The diff replays the
    committed survivors bit-for-bit; if the note has expired from the
    lineage the replay raises instead of guessing (a silent re-ingest
    would double-count posting rows). Survivors' index rows rank their
    prefixes by batch-internal document frequency; recall stays exact
    because the pigeonhole bound holds for ANY prefix choice of the
    right length, and ``build_tau`` rides every appended row so a
    later mis-dialed probe still fails loudly.

    Per-batch cost at 100 TB: the probe joins the batch's rare-word
    prefixes against the index postings (and the index's prefix rows
    against the batch's postings); verification counts matched
    (pair, word) posting rows — the corpus text is never re-read. The
    re-crawl anti-join adds one column-pruned scan of the corpus ID
    column per micro-batch — roughly |corpus| longs, an order of
    magnitude smaller than the (id, word) posting rows the probe's
    equi-joins already read each batch, so it never changes the cost
    regime.

    ``denylist_path``: a persisted suppression table
    (:func:`medallion.maintenance.snapshot_purge_ids`'s
    ``denylist_path=`` appends to it on every erasure) anti-joined
    against each micro-batch BEFORE anything else — a purged id's
    corpus row is gone, so without this list a re-crawl of the
    taken-down page would sail past the first-crawl-wins anti-join
    and re-ingest the very content the purge erased. One more
    column-pruned id scan per micro-batch, priced like the re-crawl
    join; an absent table (no purge yet) costs nothing.
    """
    from pathlib import Path

    from group5_spark.extensions.dedup import (
        containment_index_build,
        dedup_batch_ids,
        drop_contained_against,
    )
    from group5_spark.medallion import snapshots as snap

    def ingest(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        spark = batch.sparkSession
        app = app_id or _checkpoint_query_id(checkpoint_dir)
        c_done = i_done = False
        if app is not None:
            d = snap.last_committed_batch(corpus_path, app)
            c_done = d is not None and d >= batch_id
            d = snap.last_committed_batch(index_path, app)
            i_done = d is not None and d >= batch_id
        if c_done and i_done:
            return
        if c_done:
            # corpus-first commit order means the only reachable
            # half-state is "corpus landed, index didn't" — and the
            # committed corpus VERSION-DIFF of this batch's own note
            # IS the survivor set. Rebuild the index generation from
            # that diff instead of RE-RUNNING the election: an
            # offline containment_compact (or any other committed
            # action) may have mutated the head corpus/index between
            # crash and replay, and a re-election against mutated
            # state could persist a DIFFERENT survivor set, appending
            # index ids that outlive their corpus rows. The diff
            # replays the original survivors bit-for-bit whatever ran
            # in between. If the note is no longer in the lineage
            # (expired between crash and replay), fail LOUDLY
            # (round-11 ADVICE): silently re-electing would re-ingest
            # re-crawled ids and double-count their posting rows,
            # corrupting later containment values past 1.0.
            found = _note_versions(corpus_path, app, batch_id)
            if found is None:
                raise RuntimeError(
                    f"containment replay: a corpus commit for batch "
                    f"{batch_id} (app {app!r}) is recorded but its "
                    f"idempotency note is no longer in the published "
                    f"lineage (expired between crash and replay?) — "
                    f"cannot reconstruct the committed survivor set. "
                    f"Restore the lineage, or rebuild the missing "
                    f"index generation offline "
                    f"(containment_index_build over the docs the "
                    f"index lacks) and advance the index's "
                    f"(app_id, batch_id) note"
                )
            note_v, parent_v = found
            survivors = snap.snapshot_read(
                spark, corpus_path, version=note_v
            )
            if parent_v is not None:
                survivors = survivors.join(
                    snap.snapshot_read(
                        spark, corpus_path, version=parent_v
                    ).select(id_col),
                    on=id_col,
                    how="left_anti",
                )
            # ... intersected with the ids still present at the HEAD:
            # a committed action between crash and replay
            # (snapshot_purge_ids, containment_compact) may have
            # retired some of this batch's survivors from corpus AND
            # index — re-appending their index rows from the pinned
            # version would orphan posting rows for documents that no
            # longer exist (for a purge, leaking content-derived words
            # the erasure just removed). A doc removed after its
            # commit already had its index rows handled by the
            # remover, so appending only the still-present ones is
            # exact. One id-column scan, same price as the normal
            # path's re-crawl join.
            survivors = survivors.join(
                snap.snapshot_read(spark, corpus_path).select(id_col),
                on=id_col,
                how="left_semi",
            )
            snap.snapshot_commit(
                containment_index_build(
                    survivors, threshold, id_col, text_col
                ),
                index_path,
                mode="append",
                note={"app_id": app, "batch_id": batch_id},
            )
            return
        if snap._current_version(Path(index_path)):
            idx = snap.snapshot_read(spark, index_path)
        else:
            # correctly-typed empty index (id type follows the batch)
            idx = containment_index_build(
                batch.limit(0), threshold, id_col, text_col
            )
        # suppression list first: an ERASED id must stay erased even
        # when the page is re-crawled (its corpus row is gone, so the
        # first-crawl-wins join below can no longer block it)
        batch = _apply_denylist(batch, denylist_path, id_col)
        # first-crawl-wins upsert: a re-crawled id (already ingested —
        # checked against the CORPUS id set, a superset of the index's
        # that also covers NULL-text survivors) drops before probing,
        # so the probe's disjoint-id precondition holds by
        # construction and a duplicate key never lands in the corpus.
        if snap._current_version(Path(corpus_path)):
            batch = batch.join(
                snap.snapshot_read(spark, corpus_path).select(id_col),
                on=id_col,
                how="left_anti",
            )
        # batch-INTERNAL id collisions (two source files re-crawling
        # one page into a micro-batch) resolve via the election's own
        # rule, applied BEFORE the persist so the dedup window
        # shuffles once per micro-batch instead of once per subplan
        # reference above the cache; crash replays elect identically
        batch = dedup_batch_ids(batch, id_col, text_col).persist()
        try:
            # the election itself is `dedup.drop_contained_against` —
            # one source of truth with the batch-pipeline action (and
            # its own oracle-gated driver query). on_overlap="drop":
            # disjointness holds by construction (the corpus anti-join
            # above), so the mode's anti-join re-asserts the invariant
            # LAZILY inside the plan where "error" would pay an eager
            # id-scan action every micro-batch; assume_unique_ids:
            # the dedup already ran above the persist
            survivors = drop_contained_against(
                batch, idx, threshold, id_col, text_col,
                on_overlap="drop", assume_unique_ids=True,
            )
            # c_done is always False here (the replay branch above
            # returned) — this is the normal corpus-first double commit
            snap.snapshot_commit(
                survivors,
                corpus_path,
                mode="append",
                note={"app_id": app, "batch_id": batch_id},
            )
            if not i_done:
                snap.snapshot_commit(
                    containment_index_build(
                        survivors, threshold, id_col, text_col
                    ),
                    index_path,
                    mode="append",
                    note={"app_id": app, "batch_id": batch_id},
                )
        finally:
            batch.unpersist()

    query = (
        docs.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query


def _hh_output_schema(events: DataFrame, group_col: str):
    """Output schema with the group key typed as the input types it
    (same contract as :func:`_session_output_schema` — a hard-coded
    string key would make Arrow reject integer-keyed streams)."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    return StructType(
        [
            StructField("group", events.schema[group_col].dataType),
            StructField("item", StringType()),
            StructField("est_count", LongType()),
            StructField("processed", LongType()),
        ]
    )


HH_STATE_SCHEMA = "items array<string>, counts array<long>, processed long"


def _mg_merge(counters: dict, batch: dict, k: int) -> tuple[dict, int]:
    """Merge batch counts into a Misra-Gries summary of ≤ ``k``
    counters. Returns (summary, decrement applied to all survivors).

    Standard mergeable-summaries rule (Agarwal et al., PODS'12): sum
    counters, and if more than ``k`` remain, subtract the (k+1)-th
    largest count from every counter and drop the non-positive ones.
    Each kept count under-estimates the true count by at most the sum
    of decrements ≤ n/(k+1) — any item with true frequency above
    n/(k+1) is guaranteed to survive.
    """
    for item, c in batch.items():
        counters[item] = counters.get(item, 0) + int(c)
    if len(counters) <= k:
        return counters, 0
    m = sorted(counters.values(), reverse=True)[k]
    return {i: c - m for i, c in counters.items() if c > m}, m


def heavy_hitters_stateful(
    events: DataFrame,
    group_col: str = "event_type",
    item_col: str = "user_id",
    k: int = 8,
) -> DataFrame:
    """Streaming approximate top-k (heavy hitters) per group: which
    items dominate each event type *right now* — the trending-items /
    hot-key detector a 100 TB event stream needs, in ``k`` counters of
    state per group instead of one counter per distinct item (an
    unbounded streaming ``groupBy(item).count()``).

    Misra-Gries summary per group key, merged batch-at-a-time (counts
    are reduced in pandas before touching state, so state-store work
    is O(k), not O(batch)). The summary is MERGEABLE — the same
    property the batch KMV sketches (`extensions/sketches.py`) exploit
    — which is what makes the operator shard-safe: summaries of
    stream partitions combine without rescanning. Emitted counts are
    lower bounds; ``processed`` rides along so consumers can bound the
    error: true count ∈ [est_count, est_count + processed/(k+1)].
    Output mode "update": each micro-batch re-emits the groups it
    touched.
    """
    import pandas as pd  # local: only the executors need it

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdf_iter, state: GroupState):
        group = key[0]
        batch: dict = {}
        n_batch = 0
        for pdf in pdf_iter:
            vc = pdf[item_col].astype(str).value_counts()
            n_batch += int(vc.sum())
            for item, c in vc.items():
                batch[item] = batch.get(item, 0) + int(c)
        if state.exists:
            items, counts, processed = state.get
            counters = dict(zip(items, (int(c) for c in counts)))
        else:
            counters, processed = {}, 0
        counters, _ = _mg_merge(counters, batch, k)
        processed = int(processed) + n_batch
        top = sorted(counters.items(), key=lambda kv: (-kv[1], kv[0]))
        state.update((
            [i for i, _ in top],
            [c for _, c in top],
            processed,
        ))
        yield pd.DataFrame(
            {
                "group": [group] * len(top),
                "item": [i for i, _ in top],
                "est_count": [c for _, c in top],
                "processed": [processed] * len(top),
            }
        )

    return events.groupBy(group_col).applyInPandasWithState(
        fn,
        _hh_output_schema(events, group_col),
        HH_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def running_totals_tws(
    events: DataFrame,
    user_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Per-key running totals on the modern ``transformWithState``
    API (Spark 4.x): one typed ValueState cell (two scalars) per key,
    re-emitted in Update mode whenever the key sees new rows.

    This is the successor API to ``applyInPandasWithState`` (used by
    :func:`sessionize_stateful`): state is schema-typed and composable
    (value/list/map cells + timers) instead of one opaque tuple, and
    the runtime requires the RocksDB state store provider — the
    configuration that actually scales, since state lives off-heap and
    incremental-checkpoints to the cluster store rather than being
    JVM-heap-resident like the default HDFS-backed provider. State
    size: two longs + a double per distinct key, independent of stream
    length. Arrow-batched pandas on the executor; no row-at-a-time
    Python.

    Runtime note: the transformWithState Python state-server protocol
    needs the ``protobuf`` package at execution time (absent in this
    sandbox — the end-to-end test skips without it; plan construction
    and schema are exercised unconditionally).
    """
    import pandas as pd  # local: only the executors need it

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState(
                "totals", "n LONG, total DOUBLE"
            )

        def handleInputRows(self, key, rows, timerValues):
            if self._totals.exists():
                n, total = self._totals.get()
            else:
                n, total = 0, 0.0
            for pdf in rows:
                n += len(pdf)
                total += float(pdf[value_col].sum())
            total = round(total, 2)
            self._totals.update((n, total))
            yield pd.DataFrame(
                {
                    user_col: [key[0]],
                    "n_events": [n],
                    "total_value": [total],
                }
            )

        def close(self) -> None:
            pass

    return events.groupBy(user_col).transformWithStateInPandas(
        RunningTotals(),
        outputStructType=f"{user_col} LONG, n_events LONG, total_value DOUBLE",
        outputMode="Update",
        timeMode="None",
    )


def _checkpoint_query_id(checkpoint: str) -> str | None:
    """The streaming query id Structured Streaming persists at
    ``<checkpoint>/metadata`` when a query first starts. Stable across
    restarts of the same checkpoint; a NEW id is minted if the
    checkpoint is deleted or replaced — exactly the identity an
    idempotent sink should key on."""
    import json
    from pathlib import Path

    p = Path(checkpoint) / "metadata"
    if not p.exists():
        return None
    try:
        return json.loads(p.read_text()).get("id")
    except (OSError, ValueError):
        return None


def stream_snapshot_sink(
    df: DataFrame,
    table_path: str,
    checkpoint: str,
    stats_cols: list[str] | None = None,
    app_id: str | None = None,
):
    """Stream → snapshot-versioned table: every micro-batch lands as
    one atomic append snapshot (medallion.snapshots), so downstream
    readers get the full lakehouse contract over a live stream —
    never a half-written batch, time travel to any batch boundary,
    manifest file-skipping, and a change feed.

    Exactly-once despite foreachBatch's at-least-once retries: each
    commit records ``(app_id, batch_id)`` in the manifest note — the
    Delta txnAppId/txnVersion pattern — and a batch is skipped ONLY
    when the SAME app id has already durably committed that batch id.
    ``app_id`` defaults to the streaming query id persisted in the
    checkpoint, so a retry of batch N within one query dedupes, while
    a replaced/lost checkpoint (batch ids restart at 0 under a NEW
    query id) re-commits rather than silently dropping genuinely new
    data that a bare ``batch_id <= recorded`` check would mistake for
    a replay. Checkpoint loss therefore degrades to at-least-once —
    never to data loss. Callers who deliberately replay identical
    data through a fresh checkpoint can pass an explicit stable
    ``app_id`` to retain cross-checkpoint dedup (accepting the Delta
    caveat: change the app id whenever checkpoint AND source offsets
    are reset together).

    Returns an un-started DataStreamWriter (caller picks the trigger),
    same convention as the other sinks here.
    """
    from group5_spark.medallion import snapshots as snap

    def commit_batch(batch_df, batch_id: int) -> None:
        app = app_id or _checkpoint_query_id(checkpoint)
        if app is not None:
            done = snap.last_committed_batch(table_path, app)
            if done is not None and done >= batch_id:
                return  # this app already durably committed this batch
        snap.snapshot_commit(
            batch_df,
            table_path,
            mode="append",
            stats_cols=stats_cols,
            note={"app_id": app, "batch_id": batch_id},
        )

    return df.writeStream.foreachBatch(commit_batch).option(
        "checkpointLocation", checkpoint
    )


def stream_enrich_refreshing_dim(
    df: DataFrame,
    dim_path: str,
    on: list[str],
    sink,
    how: str = "left",
):
    """Micro-batch enrichment against the CURRENT version of a
    snapshot dimension table: every batch re-resolves the snapshot
    pointer, so a dimension update published mid-stream takes effect
    from the next micro-batch — no query restart.

    A plain stream-static join pins the static side's file listing
    when the query starts; with a dimension that upserts hourly that
    means stale enrichment until restart. Re-reading inside
    foreachBatch costs one manifest resolve per batch (kilobytes) and
    the dim broadcast — the same work the pinned plan does per batch
    anyway. ``sink(enriched_df, batch_id)`` receives each joined
    batch; returns the un-started DataStreamWriter.
    """
    from group5_spark.medallion.snapshots import snapshot_read

    def fn(batch_df, batch_id: int) -> None:
        dim = snapshot_read(batch_df.sparkSession, dim_path)
        sink(batch_df.join(F.broadcast(dim), on, how), batch_id)

    return df.writeStream.foreachBatch(fn)


def _stream_index_maintenance(
    rows: DataFrame,
    index_path: str,
    checkpoint: str,
    append_fn,
    app_id: str | None,
    denylist_path: str | None = None,
    id_col: str | None = None,
):
    """Shared shape for stream-maintained persisted indexes: each
    micro-batch goes through ``append_fn(batch_df, index_path,
    extra_note=...)`` — an O(batch) snapshot append whose parameters
    come from the index's own pinned note — with the same
    (app_id, batch_id) manifest-note dedup as
    :func:`stream_snapshot_sink`, so a retried micro-batch is skipped
    instead of double-indexing. Concurrent probes always see a
    complete index at some batch boundary (snapshot atomicity).
    ``denylist_path`` + ``id_col``: the right-to-erasure suppression
    anti-join (:func:`_apply_denylist`), re-read every micro-batch —
    an erased document/vector re-fed through index maintenance would
    otherwise re-enter the very index the purge's merge-delete just
    cleaned. An empty post-suppression batch is skipped OUTRIGHT (no
    empty append commit): the (app_id, batch_id) note only ever
    gates replays of batches that committed, so skipping is safe."""
    from group5_spark.medallion import snapshots as snap

    def index_batch(batch_df, batch_id: int) -> None:
        if denylist_path is not None:
            batch_df = _apply_denylist(batch_df, denylist_path, id_col)
            if batch_df.isEmpty():
                return
        app = app_id or _checkpoint_query_id(checkpoint)
        if app is not None:
            done = snap.last_committed_batch(index_path, app)
            if done is not None and done >= batch_id:
                return  # already durably indexed by this query
        append_fn(
            batch_df,
            index_path,
            extra_note={"app_id": app, "batch_id": batch_id},
        )

    return rows.writeStream.foreachBatch(index_batch).option(
        "checkpointLocation", checkpoint
    )


def stream_lsh_index_maintenance(
    docs: DataFrame,
    index_path: str,
    checkpoint: str,
    app_id: str | None = None,
    denylist_path: str | None = None,
    id_col: str = "doc_id",
):
    """Keep a persisted MinHash-LSH index (extensions.dedup
    ``lsh_index_init``/``lsh_index_append``) fresh from a live
    document stream — signatures for the new documents only, a
    restarted stream can never drift from the index's pinned
    parameters, and a near-dup probe (``near_dups_against_index``)
    never sees a half-indexed crawl. ``denylist_path``: suppress
    erased doc ids every micro-batch (see
    :func:`_stream_index_maintenance`) — a purged document re-crawled
    into this stream would otherwise re-enter the band buckets
    :func:`medallion.maintenance.snapshot_purge_ids` just
    merge-deleted.

    Returns an un-started DataStreamWriter (caller picks the trigger).
    """
    from group5_spark.extensions.dedup import lsh_index_append

    return _stream_index_maintenance(
        docs, index_path, checkpoint, lsh_index_append, app_id,
        denylist_path=denylist_path, id_col=id_col,
    )


def stream_ivf_index_maintenance(
    embeddings: DataFrame,
    index_path: str,
    checkpoint: str,
    app_id: str | None = None,
    denylist_path: str | None = None,
    id_col: str = "vec_id",
):
    """Keep a persisted IVF ANN index (extensions.similarity
    ``ivf_index_init``/``ivf_index_append``) fresh from a live
    embedding stream: each micro-batch is assigned against the
    index's FROZEN centroids and lands as one atomic cell-partitioned
    append, so ``ivf_index_search`` keeps file-pruning correctly as
    the corpus grows.

    ``denylist_path``: suppress erased vector ids every micro-batch
    (see :func:`_stream_index_maintenance`) — a purged embedding
    re-fed through maintenance would otherwise re-enter the cell
    files the purge just rewrote.

    Returns an un-started DataStreamWriter (caller picks the trigger).
    """
    from group5_spark.extensions.similarity import ivf_index_append

    return _stream_index_maintenance(
        embeddings, index_path, checkpoint, ivf_index_append, app_id,
        denylist_path=denylist_path, id_col=id_col,
    )


def stream_ivf_pq_index_maintenance(
    embeddings: DataFrame,
    index_path: str,
    checkpoint: str,
    app_id: str | None = None,
    denylist_path: str | None = None,
    id_col: str = "vec_id",
):
    """Keep a persisted COMPOSED IVF-PQ index (extensions.similarity
    ``ivf_pq_index_init``/``ivf_pq_index_append``) fresh from a live
    embedding stream: each micro-batch is assigned AND PQ-encoded
    against the index's frozen model (centroids + codebooks pin at
    init, so streamed codes stay ADC-comparable with the resident
    ones) and lands as one atomic cell-partitioned append —
    ``ivf_pq_topk`` keeps file-pruning and code-scanning correctly as
    the corpus grows. When the frozen model dilutes (corpus growth,
    distribution drift — the manifest's ``anisotropy`` note and
    recall monitoring say when), stop the stream, run
    ``ivf_pq_index_retrain``, and restart: the checkpoint's
    (app_id, batch_id) note-dedup carries across the retrain version
    untouched. ``denylist_path``: suppress erased vector ids every
    micro-batch (see :func:`_stream_index_maintenance`).

    Returns an un-started DataStreamWriter (caller picks the trigger).
    """
    from group5_spark.extensions.similarity import ivf_pq_index_append

    return _stream_index_maintenance(
        embeddings, index_path, checkpoint, ivf_pq_index_append, app_id,
        denylist_path=denylist_path, id_col=id_col,
    )


def stream_semantic_dedup(
    vecs: DataFrame,
    checkpoint_dir: str,
    index_path: str,
    *,
    threshold: float = 0.95,
    keep: str = "central",
    app_id: str | None = None,
    denylist_path: str | None = None,
) -> StreamingQuery:
    """Continuous embedding ingestion with SEMANTIC dedup (the
    embedding-space twin of :func:`stream_containment_dedup`, built
    on ``extensions.similarity.semantic_dedup_against``): each
    micro-batch first drops suppressed ids (``denylist_path`` — a
    purged vector re-fed by a re-crawl/re-encode must stay erased),
    then RE-FED ids (already indexed — first-ingest-wins, the same
    ingest-order precedence the election itself uses), then every
    batch vector τ-cosine-near an already-indexed cell-mate (the
    resident copy is the vector of record) or dominated by a
    batch-mate under the ``keep`` rule (ties toward the smaller id,
    evaluated against the batch AS FED — chain semantics), and the
    SURVIVORS land as one atomic cell-partitioned
    ``ivf_index_append``. The persisted IVF index is BOTH the dedup
    state and the ANN serving index — one table, one commit per
    batch, no separate corpus to keep in sync (vs the containment
    stream's two-table corpus+postings dance), so exactly-once needs
    only the single ``(app_id, batch_id)`` manifest note and a crash
    replay either sees the note (skip) or re-runs the whole election
    — there is no half-state to reconstruct.

    Bootstrap: the index must already exist (``ivf_index_init`` over
    a seed corpus — IVF needs frozen centroids before anything can
    stream in; raises ``ValueError`` otherwise, same contract as
    every index-maintenance stream). Residents are never retired by
    this path (an append stream doesn't delete): run
    ``semantic_dedup_ivf`` over the head index offline and purge the
    doomed ids via ``medallion.maintenance.snapshot_purge_ids`` for
    the global re-election — the same offline/online split as
    ``containment_compact`` vs the containment stream.

    Per-batch cost at 100 TB: the election reads only the BATCH's
    cells' index files (``semantic_dedup_against`` collects the
    batch's distinct cell set — bounded by ``n_cells`` — and unions
    per-cell file-pruned reads), the batch-mate election is the
    cell-bounded pair join the semdedup ladder prices, and the
    append re-assigns only the survivors (map-only against broadcast
    centroid literals). The denylist and first-ingest-wins anti-joins
    each cost one column-pruned id scan per micro-batch.
    """
    from group5_spark.extensions.dedup import dedup_batch_ids
    from group5_spark.extensions.similarity import (
        ivf_index_append,
        ivf_index_params,
        semantic_dedup_against,
    )
    from group5_spark.medallion import snapshots as snap

    # fail FAST, at call time: a missing/foreign table means the
    # caller forgot the ivf_index_init bootstrap (IVF centroids must
    # be frozen before anything can stream in) — surfacing that as a
    # mid-stream foreachBatch error would bury the fix behind a
    # checkpoint that now thinks batch 0 failed
    ivf_index_params(index_path)

    def ingest(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        app = app_id or _checkpoint_query_id(checkpoint_dir)
        if app is not None:
            done = snap.last_committed_batch(index_path, app)
            if done is not None and done >= batch_id:
                return  # this batch's survivors are already durable
        params, _ = ivf_index_params(index_path)
        id_col, vec_col = params["id_col"], params["vec_col"]
        batch = _apply_denylist(batch, denylist_path, id_col)
        # batch-internal id collisions (two source files re-feeding
        # one vector into a micro-batch) resolve deterministically
        # BEFORE the persist, so the dedup window shuffles once per
        # micro-batch and crash replays elect identically
        batch = dedup_batch_ids(batch, id_col, vec_col).persist()
        try:
            # the election itself is semantic_dedup_against — one
            # source of truth with the batch-pipeline action (and its
            # own oracle-gated driver query). on_overlap="drop" IS
            # the first-ingest-wins re-feed policy, applied lazily
            # inside the plan; assume_unique_ids: the dedup already
            # ran above the persist
            survivors = semantic_dedup_against(
                batch, index_path, threshold, keep=keep,
                on_overlap="drop", assume_unique_ids=True,
            ).persist()
            try:
                # an all-duplicate batch commits NOTHING (no empty
                # append version): the (app_id, batch_id) note only
                # ever gates replays of batches that committed, and a
                # replayed all-duplicate election is deterministic
                if survivors.isEmpty():
                    return
                ivf_index_append(
                    survivors,
                    index_path,
                    extra_note={"app_id": app, "batch_id": batch_id},
                )
            finally:
                survivors.unpersist()
        finally:
            batch.unpersist()

    query = (
        vecs.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query
