"""Measured scale curves for snapshot-table DML and the corpus
operators that ride on it: a FIXED batch against an Nx table.

The production framing (mirrors fixed_batch_neardup / fixed_batch_ivf
in SCALE_TRAINOPS.json): the table grows with every crawl; the
per-batch warehouse upsert must be priced by the batch and the files
it actually touches, never the table. Timed operations run against a
zero-copy CLONE of the measured table (the ladder table itself is
never mutated, so runs are idempotent). Each ladder updates its own
key of SCALE_TRAINOPS.json in place and leaves every other key as it
is.

The default ladder (`fixed_batch_merge`) times two MERGEs per scale:

- update-heavy merge: 2,000 update keys confined to the 1x key range
  + 500 inserts beyond the key space. The table is written
  range-clustered on the key with file count growing ~2N, so the
  batch's key range intersects a CONSTANT number of files while
  `files_carried` grows with N — the manifest proves the economics
  (rewritten files flat, carried linear, wall time ~flat).
- insert-only merge: every key beyond the table's max, so min/max
  pruning proves NO file can match and the merge degrades to the
  append-shaped fast path (no join, no data read) — the
  append-mostly CDC steady state.

`--dv` runs the WIDE-FILE ladder instead: the same fixed CDC batch
against tables with a FIXED file count whose files are N× wider,
comparing rewrite-mode staged bytes against deletion-vector-mode
staged+sidecar bytes. Rewrite cost grows with file width (a 10-row
match in a wider file re-encodes the whole file); DV cost tracks the
MATCHED ROWS and stays flat — the write-amplification claim,
measured. Writes `fixed_batch_merge_dv`.

`--eq` runs the equality-delete ladder on the SAME wide-file tables:
the fixed batch committed via `snapshot_eq_upsert`, which appends the
batch and a key-tuple sidecar WITHOUT reading, probing, or rewriting
any target file — commit seconds and bytes should be flat in table
size and file width (the DV path must still read+re-encode or mask
matched files; the eq path touches none). The deferred read rent is
measured too: a full masked scan vs the same scan after
`compact_snapshot` folds the masks. Writes `fixed_batch_eq_upsert`.

The other ladders are described on their workers below.

Usage (a ladder flag may be followed by scales, e.g. `--dv 1 4`;
`--one* N` runs one scale in-process — the subprocess worker):
    python tools/merge_curve.py                  # MERGE, scales 1 4 16 64
    python tools/merge_curve.py --one 16
    python tools/merge_curve.py --dv             # wide-file DV ladder
    python tools/merge_curve.py --one-dv 16
    python tools/merge_curve.py --eq             # equality-delete ladder
    python tools/merge_curve.py --one-eq 16
    python tools/merge_curve.py --masks          # mask-scoped fold ladder
    python tools/merge_curve.py --one-masks 16
    python tools/merge_curve.py --stream-eq      # streaming eq-CDC loop
    python tools/merge_curve.py --one-stream-eq 16
    python tools/merge_curve.py --wap            # Write-Audit-Publish cycle
    python tools/merge_curve.py --one-wap 16
    python tools/merge_curve.py --span           # span dedup vs persisted index
    python tools/merge_curve.py --one-span 16
    python tools/merge_curve.py --semdedup       # SemDeDup centroid policies
    python tools/merge_curve.py --one-semdedup 16
    python tools/merge_curve.py --containment    # PPJoin probe, scales to 128
    python tools/merge_curve.py --one-containment 16
"""

from __future__ import annotations

import math
import shutil
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tools.ladder import Ladder, dispatch, stopwatch  # noqa: E402
from tools.scale_curve import BASE_SF, SCALE_ROOT, _spark, materialize  # noqa: E402

N_UPDATES = 2000
N_INSERTS = 500
DV_FILES = 8  # fixed file count: scale widens files, not the manifest


def _orders_table(spark, name: str, n: int, files: int):
    """The Nx orders snapshot table at SCALE_ROOT/<name>_xNNN,
    range-clustered on o_orderkey into `files` files, loaded once
    through the same DML surface (snapshot_merge) and reused after.
    Returns (path, load seconds — None when reused)."""
    from group5_spark.catalog import load_table
    from group5_spark.medallion.maintenance import snapshot_merge

    tbl = SCALE_ROOT / f"{name}_x{n:03d}"
    if (tbl / "_DONE").exists():
        return tbl, None
    shutil.rmtree(tbl, ignore_errors=True)
    orders = load_table(spark, str(SCALE_ROOT / f"x{n:03d}"), "orders")
    with stopwatch() as t:
        snapshot_merge(
            spark,
            str(tbl),
            orders.repartitionByRange(files, "o_orderkey"),
            keys=["o_orderkey"],
            bloom_cols=["o_orderkey"],
            validate_source_keys=False,
        )
    (tbl / "_DONE").touch()
    return tbl, t.s


def _cdc_batch(spark):
    """The fixed CDC batch, identical at every scale: 2k updates spread
    4-way sparse over the 1x key range (they hit ~files/N of the
    range-clustered files = a constant count) + 500 inserts beyond
    every replica's key space. Returns (updates ∪ inserts, inserts,
    the 1x orders table, its max o_orderkey)."""
    from pyspark.sql import functions as F

    from group5_spark.catalog import load_table

    base = load_table(spark, BASE_SF, "orders")
    okey_max = base.agg(F.max("o_orderkey")).first()[0]
    stride = max(1, okey_max // (N_UPDATES * 4))
    updates = (
        base.filter((F.col("o_orderkey") % (4 * stride)) == 0)
        .limit(N_UPDATES)
        .withColumn("o_orderpriority", F.lit("9-CDC-UPDATED"))
    )
    inserts = base.limit(N_INSERTS).withColumn(
        "o_orderkey", F.col("o_orderkey") + F.lit(10**13)
    )
    return updates.unionByName(inserts), inserts, base, okey_max


def _clone(tbl: Path, name: str) -> str:
    """A fresh zero-copy clone of `tbl` at SCALE_ROOT/<name>."""
    from group5_spark.medallion.snapshots import snapshot_clone

    clone = SCALE_ROOT / name
    shutil.rmtree(clone, ignore_errors=True)
    snapshot_clone(str(tbl), str(clone))
    return str(clone)


def _staged_bytes(path: str, version: int, sidecars: bool = False) -> int:
    """Bytes commit `version` staged: data files absent from its parent
    version, plus — with `sidecars` — every deletion-vector and
    equality-delete sidecar directory its manifest references, each
    counted once (one commit's DV sidecar is shared by every file it
    masks)."""
    from group5_spark.medallion.snapshots import snapshot_manifest

    m = snapshot_manifest(path, version)
    parent = {e["path"] for e in snapshot_manifest(path, m["parent"])["files"]}
    staged = sum(int(e["bytes"]) for e in m["files"] if e["path"] not in parent)
    if not sidecars:
        return staged
    dirs = {e["dv"]["sidecar"] for e in m["files"] if e.get("dv")}
    dirs |= {d["sidecar"] for d in m.get("eq_deletes") or []}
    return staged + sum(
        f.stat().st_size
        for d in map(Path(path).joinpath, dirs)
        if d.is_dir()
        for f in d.rglob("*.parquet")
    )


def _table_shape(tbl: Path) -> dict:
    from group5_spark.medallion.snapshots import snapshot_manifest

    files = snapshot_manifest(str(tbl))["files"]
    return {
        "table_files": len(files),
        "table_bytes": sum(int(e["bytes"]) for e in files),
    }


def run_one(n: int) -> dict:
    from group5_spark.medallion.maintenance import snapshot_merge

    materialize(n)
    spark = _spark(f"merge-curve-x{n}")
    tbl, build_s = _orders_table(spark, "_mergetbl", n, max(8, 2 * n))
    batch, inserts, _, _ = _cdc_batch(spark)
    batch = batch.cache()
    batch.count()  # materialize the batch outside the timed region

    def timed_merge(src):
        clone = _clone(tbl, f"_mergetbl_clone_x{n:03d}")
        with stopwatch() as t:
            res = snapshot_merge(
                spark, clone, src, keys=["o_orderkey"],
                validate_source_keys=False,
            )
        shutil.rmtree(clone, ignore_errors=True)
        res.pop("version")
        return {"seconds": t.s, **res}

    upd = timed_merge(batch)
    ins = timed_merge(inserts)
    batch.unpersist()
    spark.stop()
    return {
        "scale": n,
        "table_files": _table_shape(tbl)["table_files"],
        "build_seconds_untimed_ingest": build_s,
        "update_merge": upd,
        "insert_only_merge": ins,
    }


def run_one_dv(n: int) -> dict:
    from group5_spark.medallion.maintenance import snapshot_merge

    materialize(n)
    spark = _spark(f"merge-dv-curve-x{n}")
    # FIXED file count at every scale: each file holds N× the rows,
    # which is exactly the regime where whole-file rewrite
    # amplification hurts
    tbl, _ = _orders_table(spark, "_mergedvtbl", n, DV_FILES)
    batch = _cdc_batch(spark)[0].cache()
    batch.count()

    def timed(dv_threshold):
        clone = _clone(tbl, f"_mergedvtbl_clone_x{n:03d}")
        with stopwatch() as t:
            res = snapshot_merge(
                spark, clone, batch, keys=["o_orderkey"],
                validate_source_keys=False, dv_threshold=dv_threshold,
            )
        out = {
            "seconds": t.s,
            "bytes_written": _staged_bytes(clone, res["version"], True),
            "files_rewritten": res["files_rewritten"],
            "files_masked": res.get("files_masked", 0),
            "updated": res["updated"],
            "inserted": res["inserted"],
        }
        shutil.rmtree(clone, ignore_errors=True)
        return out

    rewrite = timed(None)
    dv = timed(0.2)
    batch.unpersist()
    spark.stop()
    return {
        "scale": n,
        **_table_shape(tbl),
        "rewrite_mode": rewrite,
        "dv_mode": dv,
    }


def run_one_eq(n: int) -> dict:
    from group5_spark.medallion.maintenance import (
        compact_snapshot,
        snapshot_eq_upsert,
    )
    from group5_spark.medallion.snapshots import snapshot_read

    materialize(n)
    spark = _spark(f"merge-eq-curve-x{n}")
    tbl, _ = _orders_table(spark, "_mergedvtbl", n, DV_FILES)  # shared with --dv
    batch = _cdc_batch(spark)[0].cache()
    batch.count()

    clone = _clone(tbl, f"_mergeeqtbl_clone_x{n:03d}")
    with stopwatch() as commit:
        res = snapshot_eq_upsert(spark, clone, batch, keys=["o_orderkey"])
    bytes_written = _staged_bytes(clone, res["version"], True)
    with stopwatch() as masked_read:
        masked_rows = snapshot_read(spark, clone).count()
    with stopwatch() as fold:
        compact_snapshot(spark, clone, target_file_bytes=256 * 1024 * 1024)
    with stopwatch() as folded_read:
        folded_rows = snapshot_read(spark, clone).count()
    if folded_rows != masked_rows:
        raise RuntimeError(
            f"compaction changed row count: {masked_rows} != {folded_rows}"
        )
    shutil.rmtree(clone, ignore_errors=True)
    batch.unpersist()
    spark.stop()
    return {
        "scale": n,
        **_table_shape(tbl),
        "eq_upsert": {
            "seconds": commit.s,
            "bytes_written": bytes_written,
            "rows_appended": res["rows_appended"],
            "delete_keys": res["delete_keys"],
        },
        "masked_read_seconds": masked_read.s,
        "compact_fold_seconds": fold.s,
        "folded_read_seconds": folded_read.s,
        "rows": masked_rows,
    }


def run_one_masks(n: int) -> dict:
    """Fold cost ∝ MASKED data, not table size. A fixed narrow key
    range is DV-masked (sub-threshold, files carry) in the Nx
    range-clustered table — the masks land in a ~constant file set
    while the table grows — then the mask-scoped fold
    (`compact_snapshot_masks`) is timed against the whole-table
    rewrite fold (`compact_snapshot(force=True)`) on identical clones.
    Scoped seconds/bytes should be ~flat; the full rewrite grows with
    the table (the 1.7→43.6 s linear fold this ladder corrects)."""
    from group5_spark.medallion.maintenance import (
        compact_snapshot,
        compact_snapshot_masks,
        snapshot_delete,
        snapshot_eq_upsert,
    )
    from group5_spark.medallion.snapshots import snapshot_read

    materialize(n)
    spark = _spark(f"mask-fold-curve-x{n}")
    # shared with the merge ladder
    tbl, _ = _orders_table(spark, "_mergetbl", n, max(8, 2 * n))
    batch, _, _, okey_max = _cdc_batch(spark)
    # fixed masked slice at every scale: a 1/32-of-1x-range sliver at
    # the start of the key space — always a strict sub-file fraction of
    # the first range-clustered file (whose span is ≥ 1/8 of the 1x
    # range at every scale), so the delete masks instead of rewriting
    cut = max(1, okey_max // 32)

    def prep_clone(tag: str) -> str:
        clone = _clone(tbl, f"_maskfold_{tag}_x{n:03d}")
        out = snapshot_delete(
            spark, clone, [("o_orderkey", "<", cut)], dv_threshold=0.95,
        )
        if not out.get("files_masked"):
            raise RuntimeError(f"mask prep rewrote instead of masking: {out}")
        return clone

    # scoped fold: rewrite only the DV-bearing files
    clone = prep_clone("scoped")
    expect = snapshot_read(spark, clone).count()
    with stopwatch() as t:
        res = compact_snapshot_masks(spark, clone)
    after = snapshot_read(spark, clone).count()
    if after != expect:
        raise RuntimeError(f"scoped fold changed rows: {expect} != {after}")
    scoped = {
        "seconds": t.s,
        "bytes_written": _staged_bytes(clone, res["version"]),
        "files_folded": res["files_folded"],
        "files_carried": res["files_carried"],
    }
    shutil.rmtree(clone, ignore_errors=True)

    # whole-table rewrite fold (the only option before the scoped fold)
    clone = prep_clone("full")
    with stopwatch() as t:
        compact_snapshot(spark, clone, force=True)
    full = {"seconds": t.s}
    shutil.rmtree(clone, ignore_errors=True)

    # eq-region fold: a zero-read upsert whose keys live in the 1x
    # range (the fixed CDC batch), then the PROOF-CARRIED fold —
    # equality coverage is table-wide by sequence, but the stats+bloom
    # probe proves every untouched-region file disjoint from the
    # sidecar keys, so it carries re-stamped and only the touched
    # region rewrites
    clone = _clone(tbl, f"_maskfold_eqr_x{n:03d}")
    snapshot_eq_upsert(spark, clone, batch, keys=["o_orderkey"])
    expect_eq = snapshot_read(spark, clone).count()
    with stopwatch() as t:
        res = compact_snapshot_masks(spark, clone)
    if snapshot_read(spark, clone).count() != expect_eq:
        raise RuntimeError("eq-region fold changed row count")
    eq_region = {
        "seconds": t.s,
        "bytes_written": _staged_bytes(clone, res["version"]),
        "files_folded": res["files_folded"],
        "files_restamped": res["files_restamped"],
    }
    shutil.rmtree(clone, ignore_errors=True)
    spark.stop()
    return {
        "scale": n,
        **_table_shape(tbl),
        "scoped_fold": scoped,
        "full_rewrite_fold": full,
        "eq_region_fold": eq_region,
        "rows": expect,
    }


def run_one_stream_eq(n: int) -> dict:
    """The streaming eq-CDC STEADY STATE, measured. The fixed CDC batch
    is split into 8 micro-batch files and drained through
    `stream_upsert_snapshot(eq_mode=True)` (maxFilesPerTrigger=1 → 8
    real micro-batch commits, each an `snapshot_eq_upsert` that appends
    the slice + a key sidecar and never reads a target file) against a
    zero-copy clone of the Nx wide-file orders table. Commit
    seconds/batch should be FLAT in table size — the 'commit cost
    independent of table size' claim the batch ladder implied, now
    measured on the actual streaming sink loop (planning, checkpoint,
    replay-dedup note, OCC commit). The deferred reader rent (masked
    scan) and its cure (mask-scoped fold) are recorded after the
    drain."""
    import tempfile

    from group5_spark.medallion.maintenance import compact_snapshot_masks
    from group5_spark.medallion.snapshots import (
        snapshot_manifest,
        snapshot_read,
    )
    from group5_spark.streaming.jobs import stream_upsert_snapshot

    materialize(n)
    spark = _spark(f"stream-eq-curve-x{n}")
    # shared with --dv/--eq
    tbl, _ = _orders_table(spark, "_mergedvtbl", n, DV_FILES)
    batch, _, base, _ = _cdc_batch(spark)
    # 8 micro-batch files: the steady-state loop, not one giant batch
    n_batches = 8
    src = SCALE_ROOT / f"_streameq_src_x{n:03d}"
    shutil.rmtree(src, ignore_errors=True)
    batch.repartition(n_batches).write.parquet(str(src))

    clone = _clone(tbl, f"_streameqtbl_clone_x{n:03d}")
    with tempfile.TemporaryDirectory() as ckpt:
        stream = (
            spark.readStream.schema(base.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        with stopwatch() as drain:
            stream_upsert_snapshot(
                stream,
                ckpt,
                clone,
                keys=["o_orderkey"],
                eq_mode=True,
                app_id=f"stream-eq-x{n}",
            )
    commits = len(snapshot_manifest(clone).get("eq_deletes") or [])

    with stopwatch() as masked_read:
        masked_rows = snapshot_read(spark, clone).count()
    with stopwatch() as fold_t:
        fold = compact_snapshot_masks(spark, clone)
    with stopwatch() as folded_read:
        folded_rows = snapshot_read(spark, clone).count()
    if folded_rows != masked_rows:
        raise RuntimeError(
            f"fold changed row count: {masked_rows} != {folded_rows}"
        )
    shutil.rmtree(clone, ignore_errors=True)
    shutil.rmtree(src, ignore_errors=True)
    spark.stop()
    return {
        "scale": n,
        **_table_shape(tbl),
        "micro_batches": n_batches,
        "eq_commits": commits,
        "drain_seconds": drain.s,
        "commit_seconds_per_batch": round(drain.s / n_batches, 3),
        "masked_read_seconds": masked_read.s,
        "fold_seconds": fold_t.s,
        "fold_files_folded": fold["files_folded"],
        "fold_files_carried": fold["files_carried"],
        "folded_read_seconds": folded_read.s,
        "rows": masked_rows,
    }


def run_one_span(n: int) -> dict:
    """Span dedup at scale, two shapes.

    (a) FIXED BATCH: a 1× crawl batch (half its docs' spans already in
    the corpus, half fresh) dedups against the Nx corpus's PERSISTED
    span-hash index (`span_index_build`, built untimed like any other
    table) via `span_dedup_incremental` — per-batch seconds should
    grow only with the 8-byte-hash index shuffle, never the corpus
    text. (b) FULL CORPUS: `span_dedup` over the Nx corpus with
    hash-keyed vs string-keyed election on identical input — the
    hash swap's win grows with corpus size; both modes must agree on
    kept_spans exactly (collision check at ladder scale)."""
    from pyspark.sql import functions as F

    from group5_spark.catalog import load_table
    from group5_spark.extensions.dedup import (
        span_dedup,
        span_dedup_incremental,
        span_index_build,
    )
    from tools.scale_curve import materialize_docs

    SPAN = 10  # ~54-word synthetic docs -> ~6 spans/doc
    materialize_docs(n)
    docs_dir = str(SCALE_ROOT / f"xd{n:03d}")
    spark = _spark(f"span-curve-x{n}")
    docs = load_table(spark, docs_dir, "documents").select("doc_id", "text")

    idx_dir = SCALE_ROOT / f"_spanidx_x{n:03d}"
    if not (idx_dir / "_DONE").exists():
        shutil.rmtree(idx_dir, ignore_errors=True)
        span_index_build(docs, span_words=SPAN).repartition(
            max(4, min(32, 2 * n))
        ).write.parquet(str(idx_dir / "idx.parquet"))
        (idx_dir / "_DONE").touch()
    index = spark.read.parquet(str(idx_dir / "idx.parquet"))
    index_spans = index.count()

    # fixed 1× batch: even doc_ids re-suffix like corpus replica 0
    # (duplicate spans), odd doc_ids get fresh words
    base = load_table(spark, BASE_SF, "documents").select("doc_id", "text")
    suffix = F.when(
        F.col("doc_id") % 2 == 0, F.lit("_0")
    ).otherwise(F.lit("_new"))
    batch = base.withColumn(
        "text",
        F.regexp_replace(
            F.col("text"), r"(\S+)", F.concat(F.lit("$1"), suffix)
        ),
    ).cache()
    batch_docs = batch.count()

    span_dedup_incremental(batch, index, span_words=SPAN).count()  # warm
    with stopwatch() as batch_t:
        batch_kept_docs = span_dedup_incremental(
            batch, index, span_words=SPAN
        ).count()

    def full(hash_keys: bool) -> tuple[int, float]:
        with stopwatch() as t:
            kept = (
                span_dedup(docs, span_words=SPAN, hash_keys=hash_keys)
                .agg(F.sum("kept_spans").alias("k"))
                .first()["k"]
            )
        return int(kept), t.s

    full(True)  # warm
    hash_kept, hash_s = full(True)
    string_kept, string_s = full(False)
    if hash_kept != string_kept:
        raise RuntimeError(
            f"hash-keyed election diverged: {hash_kept} != {string_kept}"
        )
    batch.unpersist()
    spark.stop()
    return {
        "scale": n,
        "corpus_docs": n * batch_docs,
        "index_spans": index_spans,
        "fixed_batch": {
            "batch_docs": batch_docs,
            "kept_docs": batch_kept_docs,
            "seconds": batch_t.s,
        },
        "full_corpus": {
            "kept_spans": hash_kept,
            "hash_keyed_seconds": hash_s,
            "string_keyed_seconds": string_s,
        },
    }


def run_one_containment(n: int, cap: int = 40) -> dict:
    """The containment (PPJoin
    prefix-filter) probe of a FIXED 1× crawl batch against the Nx
    corpus's PERSISTED prefix+postings index
    (`containment_index_build` → `contained_pairs_incremental`),
    timing seconds AND counting candidate volume — the prefix
    filter's one scaling claim previously argued only in prose — with
    the posting-cap variant priced alongside.

    Corpus construction: the raw testdata vocabulary is 31 words
    (every word df ≈ 0.77·corpus — pure boilerplate), which
    degenerates ANY prefix filter, so the ladder re-suffixes every
    word with its replica AND a doc-group tag (`_<r>g<doc_id%50>`):
    vocabulary ×(replicas·50), per-word df ≈ group size — the
    realistic topic-clustered profile where rare-word prefixes
    actually prune. Batch: the 1× docs, ids offset beyond the Nx key
    space, half duplicating replica-0 docs verbatim (their group tags
    preserved, so they MUST pair) and half fresh (`_new` suffix —
    zero candidates). Candidate volume should be ~FLAT in N (probe
    words only exist in replica 0's postings); probe seconds grow
    only with the index-postings equi-join shuffle.

    The capped variant rebuilds the index with
    ``max_posting_size=40``: within a group the 31 suffixed words
    keep the base corpus's Zipf spread (df ≈ 5..78), so the cap
    flags the boilerplate-heavy half while the RAREST words — the
    ones prefixes are made of — stay open: candidates shrink, pairs
    sharing an uncapped prefix word survive."""
    from pyspark.sql import functions as F

    from group5_spark.catalog import load_table
    from group5_spark.extensions.dedup import (
        _containment_candidates,
        containment_index_build,
        contained_pairs_incremental,
    )

    GROUPS = 50
    CAP = cap
    TAU = 0.9
    spark = _spark(f"containment-curve-x{n}")
    base = load_table(spark, BASE_SF, "documents").select("doc_id", "text")
    dkey = base.agg(F.max("doc_id")).first()[0] + 1

    def suffixed(df, rep_col):
        tag = F.concat(
            F.lit("$1_"), rep_col.cast("string"),
            F.lit("g"), (F.col("doc_id") % GROUPS).cast("string"),
        )
        return df.withColumn(
            "text", F.regexp_replace(F.col("text"), r"(\S+)", tag)
        )

    corpus = suffixed(
        base.withColumn(
            "_r", F.explode(F.sequence(F.lit(0), F.lit(n - 1)))
        ),
        F.col("_r"),
    ).withColumn(
        "doc_id", F.col("doc_id") + F.col("_r") * dkey
    ).drop("_r")

    # cap is part of the cached artifact's identity: a rerun with a
    # different cap must rebuild, not silently reuse and mislabel
    idx_dir = SCALE_ROOT / f"_containidx_x{n:03d}_c{CAP}"
    if not (idx_dir / "_DONE").exists():
        shutil.rmtree(idx_dir, ignore_errors=True)
        files = max(4, min(32, 2 * n))
        containment_index_build(corpus, threshold=TAU).repartition(
            files
        ).write.parquet(str(idx_dir / "open.parquet"))
        containment_index_build(
            corpus, threshold=TAU, max_posting_size=CAP
        ).repartition(files).write.parquet(str(idx_dir / "capped.parquet"))
        (idx_dir / "_DONE").touch()
    index = spark.read.parquet(str(idx_dir / "open.parquet"))
    index_capped = spark.read.parquet(str(idx_dir / "capped.parquet"))
    index_rows = index.count()
    capped_words = (
        index_capped.where("capped").select("word").distinct().count()
    )

    # fixed 1× batch: even doc_ids duplicate their replica-0 corpus
    # twin verbatim (group tag from the ORIGINAL id, so it matches);
    # odd doc_ids get a fresh `_new` vocabulary
    batch = suffixed(
        base,
        F.when(F.col("doc_id") % 2 == 0, F.lit("0")).otherwise(
            F.lit("new")
        ),
    ).withColumn("doc_id", F.col("doc_id") + F.lit(n) * dkey).cache()
    batch_docs = batch.count()

    def probe(idx_df) -> tuple[int, int, float]:
        cands = _containment_candidates(
            containment_index_build(batch, TAU), idx_df
        ).count()
        contained_pairs_incremental(batch, idx_df, TAU).count()  # warm
        with stopwatch() as t:
            pairs = contained_pairs_incremental(batch, idx_df, TAU).count()
        return pairs, cands, t.s

    pairs, cands, secs = probe(index)
    c_pairs, c_cands, c_secs = probe(index_capped)
    batch.unpersist()
    spark.stop()
    return {
        "scale": n,
        "corpus_docs": n * batch_docs,
        "index_rows": index_rows,
        "fixed_batch": {
            "batch_docs": batch_docs,
            "pairs": pairs,
            "candidates": cands,
            "seconds": secs,
        },
        "fixed_batch_capped": {
            "cap": CAP,
            "capped_words": capped_words,
            "pairs": c_pairs,
            "candidates": c_cands,
            "seconds": c_secs,
        },
    }


def run_one_semdedup(n: int, k0: int = 64, prop_k0: int = 16) -> dict:
    """The SemDeDup-style semantic dedup
    (`extensions.similarity.semantic_dedup`): price the op's two cost
    terms — the N·k assignment pass and the Σ|cell|² within-cell pair
    join — against corpus scale under three centroid policies: FIXED
    k (assignment stays linear, cells fatten, the join term grows as
    N²/k), the BALANCED k ∝ √N (both terms O(N^1.5) — the policy you
    deploy when the centroids are trained per run), and the PUBLISHED
    k ∝ N operating point (per-cell size
    held constant, pinned here at the 1× corpus's N/prop_k0 ≈ 250
    vectors/cell so the 64× rung stays runnable): the pair join's
    candidate space goes LINEAR (the reason the paper picks it), and
    the measured seconds expose what it costs to get that linearity
    with a per-run assignment — N·k is quadratic in N (an earlier
    k = 64·N probe measured 2.7 s → 12.4 s → 248 s across 1×/4×/16×
    before being re-dialed to prop_k0 = 16). The deployable way to
    hold per-cell size constant at 100 TB is therefore the persisted
    IVF index (`semantic_dedup_ivf`) — the k ∝ N assignment is
    already paid and stored, leaving only the linear pair join this
    rung's pair_volume exponent certifies.

    Corpus: the testdata embeddings (unit-norm, dim 64) replicated
    N× with a deterministic per-(id, replica, dim) jitter of ±0.25 —
    replica cosine vs its base ≈ 0.65, far under τ = 0.95, so
    replicas never pair; the only τ-pairs are 500 PLANTED duplicates
    (replica-0 vectors scaled ×2 — IEEE-exact direction copies), a
    fixed count at every scale, so pair volume measures the JOIN's
    candidate space (Σ c(c−1) over cells), not a growing dup load.
    Centroids: the first k corpus vectors by id — deterministic, no
    training cost in the measurement."""
    import tempfile

    from pyspark.sql import functions as F

    from group5_spark.catalog import load_table
    from group5_spark.extensions.similarity import (
        _semantic_assign,
        ivf_index_init,
        semantic_dedup,
        semantic_dedup_ivf,
    )
    from group5_spark.medallion.snapshots import snapshot_read

    TAU = 0.95
    AMP = 0.25
    spark = _spark(f"semdedup-curve-x{n}")
    base = load_table(spark, BASE_SF, "embeddings")
    vkey = base.agg(F.max("vec_id")).first()[0] + 1
    jitter = lambda x, j: x.cast("double") + (  # noqa: E731
        (
            F.pmod(
                F.xxhash64(F.col("vec_id"), F.col("_r"), j), F.lit(10001)
            ).cast("double")
            / 10000.0
            - 0.5
        )
        * (2 * AMP)
    )
    corpus = (
        base.withColumn(
            "_r", F.explode(F.sequence(F.lit(0), F.lit(n - 1)))
        )
        .select(
            (F.col("vec_id") + F.col("_r") * vkey).alias("vec_id"),
            F.transform("embedding", jitter).alias("embedding"),
            "_r",
        )
    )
    planted = corpus.where(F.col("_r") == 0).select(
        (F.col("vec_id") + F.lit(n) * vkey).alias("vec_id"),
        F.transform(
            "embedding", lambda x: x * F.lit(2.0)
        ).alias("embedding"),
    )
    corpus = corpus.drop("_r").unionByName(planted).cache()
    n_vecs = corpus.count()
    n_planted = n_vecs // (n + 1)  # one x2 copy per replica-0 vector

    out: dict = {"scale": n, "corpus_vecs": n_vecs, "planted": n_planted}
    for label, k in (
        ("fixed_k", k0),
        ("sqrt_k", max(k0, int(k0 * math.sqrt(n)))),
        ("prop_k", prop_k0 * n),
    ):
        cents = (
            corpus.orderBy("vec_id")
            .limit(k)
            .select(F.col("vec_id").alias("cid"), "embedding")
        )
        survivors = semantic_dedup(corpus, cents, TAU).count()  # warm
        # pair volume the within-cell join faces: Σ c(c-1) over cells,
        # from the operator's own map-only assignment
        cell_sizes = (
            _semantic_assign(corpus, cents)
            .groupBy("cell_id")
            .agg(F.count("*").alias("c"))
        )
        pair_volume = int(
            cell_sizes.agg(
                F.sum(F.col("c") * (F.col("c") - 1))
            ).first()[0]
        )
        with stopwatch() as t:
            survivors = semantic_dedup(corpus, cents, TAU).count()
        out[label] = {
            "k": k,
            "survivors": survivors,
            "doomed": n_vecs - survivors,
            "pair_volume": pair_volume,
            "seconds": t.s,
        }
        if out[label]["doomed"] != n_planted:
            raise SystemExit(
                f"semdedup ladder x{n} {label}: expected exactly the "
                f"{n_planted} planted duplicates doomed, got "
                f"{out[label]['doomed']} — the jitter separation or "
                f"the election broke"
            )
    # the RECOMMENDED deployment, measured, not asserted: persist the
    # k ∝ N assignment as a real IVF index (the build is the amortized
    # already-paid cost — recorded separately, never hidden), then
    # time semantic_dedup_ivf electing over the STORED cells — the
    # only per-run work left is the linear within-cell pair join
    scratch = tempfile.mkdtemp(prefix=f"semdedup_ivf_x{n}_")
    try:
        idx = f"{scratch}/ivfidx"
        with stopwatch() as build:
            ivf_index_init(corpus, idx, n_cells=prop_k0 * n)
        survivors = semantic_dedup_ivf(spark, idx, TAU).count()  # warm
        cell_sizes = (
            snapshot_read(spark, idx)
            .groupBy("cell_id")
            .agg(F.count("*").alias("c"))
        )
        pair_volume = int(
            cell_sizes.agg(
                F.sum(F.col("c") * (F.col("c") - 1))
            ).first()[0]
        )
        with stopwatch() as t:
            survivors = semantic_dedup_ivf(spark, idx, TAU).count()
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    out["ivf_reuse"] = {
        "k": prop_k0 * n,
        "survivors": survivors,
        "doomed": n_vecs - survivors,
        "pair_volume": pair_volume,
        "seconds": t.s,
        "index_build_seconds": build.s,
    }
    if out["ivf_reuse"]["doomed"] != n_planted:
        raise SystemExit(
            f"semdedup ladder x{n} ivf_reuse: expected exactly the "
            f"{n_planted} planted duplicates doomed, got "
            f"{out['ivf_reuse']['doomed']} — the stored-cell election "
            f"broke"
        )
    corpus.unpersist()
    spark.stop()
    return out


def run_one_wap(n: int) -> dict:
    """Write-Audit-Publish cycle cost vs main-table size. Per scale:
    wap_begin (tag + zero-copy clone manifest), a fixed 1× audit batch
    appended to the audit table (untimed — it's the same append it
    would be anywhere), an audit-side DV DELETE on an inherited file
    (the sidecar-move publish case), then wap_publish (dir renames +
    ONE metadata commit). begin and publish must stay flat as the
    table grows 64× — the whole point of the pattern is that staging
    and adopting a day's data never touches the table's bytes."""
    from group5_spark.medallion.maintenance import snapshot_delete
    from group5_spark.medallion.snapshots import (
        SnapshotConflict,
        snapshot_commit,
        snapshot_read,
    )
    from group5_spark.medallion.wap import wap_abort, wap_begin, wap_publish

    materialize(n)
    spark = _spark(f"wap-curve-x{n}")
    # shared with the merge ladder
    tbl, _ = _orders_table(spark, "_mergetbl", n, max(8, 2 * n))
    main_tbl = _clone(tbl, f"_waptbl_x{n:03d}")
    _, batch, base, okey_max = _cdc_batch(spark)
    batch = batch.cache()
    batch_rows = batch.count()

    def stage(audit: str) -> dict:
        snapshot_commit(batch, audit, mode="append")  # a plain append
        return snapshot_delete(
            spark, audit, [("o_orderkey", "<", okey_max // 64)],
            dv_threshold=1.0,
        )

    audit = main_tbl + "_audit"
    with stopwatch() as begin:
        wap_begin(main_tbl, audit)
    del_res = stage(audit)  # untimed
    with stopwatch() as publish:
        v = wap_publish(main_tbl, audit)

    published_rows = snapshot_read(spark, main_tbl).count()
    n_files = _table_shape(Path(main_tbl))["table_files"]

    # price the OCC retry. A second WAP session stages the same batch +
    # DV delete, a concurrent writer moves the main head mid-audit,
    # publish LOSES the race — then the timed recovery: abort,
    # re-begin from the new head, REPLAY the audit commits, publish.
    # This is the full cost a writer pays per lost race (abort+begin
    # are metadata; the replay is the batch itself).
    audit2 = main_tbl + "_audit2"
    wap_begin(main_tbl, audit2)
    stage(audit2)
    # the interfering writer (a 100-row append straight to main)
    snapshot_commit(base.limit(100), main_tbl, mode="append")
    try:
        wap_publish(main_tbl, audit2)
        raise RuntimeError("publish should have lost the race")
    except SnapshotConflict:
        pass
    with stopwatch() as retry:
        wap_abort(main_tbl, audit2)
        wap_begin(main_tbl, audit2)
        stage(audit2)
        v_retry = wap_publish(main_tbl, audit2)

    batch.unpersist()
    shutil.rmtree(main_tbl, ignore_errors=True)
    spark.stop()
    return {
        "scale": n,
        "table_files": n_files,
        "batch_rows": batch_rows,
        "audit_dv_files_masked": del_res.get("files_masked", 0),
        "begin_seconds": begin.s,
        "publish_seconds": publish.s,
        "published_version": v,
        "published_rows": published_rows,
        "lost_race_retry_seconds": retry.s,
        "retry_published_version": v_retry,
    }


WORKERS = {
    "--one": run_one,
    "--one-dv": run_one_dv,
    "--one-eq": run_one_eq,
    "--one-masks": run_one_masks,
    "--one-stream-eq": run_one_stream_eq,
    "--one-wap": run_one_wap,
    "--one-span": run_one_span,
    "--one-semdedup": run_one_semdedup,
    "--one-containment": run_one_containment,
}

LADDERS = {
    "": Ladder(
        "--one",
        "fixed_batch_merge",
        "fixed CDC batch (2k range-spread updates + 500 inserts) "
        "merged into an Nx range-clustered snapshot orders table "
        "via a zero-copy clone per run; manifest min/max+bloom "
        "pruning keeps files_rewritten ~constant while "
        "files_carried grows with N; the insert-only batch proves "
        "the no-match append-shaped fast path (no join, no data "
        "read)",
        (
            ("update_merge_exponent", "update_merge.seconds"),
            ("insert_only_exponent", "insert_only_merge.seconds"),
        ),
    ),
    "--dv": Ladder(
        "--one-dv",
        "fixed_batch_merge_dv",
        "same fixed CDC batch (2k updates + 500 inserts) merged "
        "into an Nx orders table held at a FIXED 8-file layout "
        "(files N× wider), via a zero-copy clone per run; "
        "rewrite-mode bytes re-encode every matched file and grow "
        "with file width, dv-mode bytes (staged rows + position "
        "sidecar) track the matched rows and stay ~flat — "
        "bytes_written ∝ matched rows, not matched files",
        (
            ("rewrite_bytes_exponent", "rewrite_mode.bytes_written"),
            ("dv_bytes_exponent", "dv_mode.bytes_written"),
            ("dv_seconds_exponent", "dv_mode.seconds"),
        ),
    ),
    "--eq": Ladder(
        "--one-eq",
        "fixed_batch_eq_upsert",
        "same fixed CDC batch (2k updates + 500 inserts) committed "
        "via snapshot_eq_upsert into the Nx wide-file (8-file) "
        "orders table through a zero-copy clone per run; the "
        "writer appends the batch plus a key-tuple equality-delete "
        "sidecar and never reads, probes, or rewrites a target "
        "file, so commit seconds and bytes_written are flat in "
        "table size AND file width; the deferred rent is the "
        "masked full scan (one broadcast anti-join) until "
        "compact_snapshot folds the masks",
        (
            ("eq_seconds_exponent", "eq_upsert.seconds"),
            ("eq_bytes_exponent", "eq_upsert.bytes_written"),
            ("masked_read_exponent", "masked_read_seconds"),
        ),
    ),
    "--masks": Ladder(
        "--one-masks",
        "mask_scoped_fold",
        "a FIXED key-range sliver of the Nx range-clustered orders "
        "table is DV-masked sub-threshold (masks confined to a "
        "~constant file set as the table grows), then "
        "compact_snapshot_masks (rewrite only mask-bearing files, "
        "carry clean files by reference) is timed against "
        "compact_snapshot(force=True) (the whole-table fold) on "
        "identical clones; scoped fold seconds/bytes are priced at "
        "the masked data, the full rewrite at the table",
        (
            ("scoped_seconds_exponent", "scoped_fold.seconds"),
            ("scoped_bytes_exponent", "scoped_fold.bytes_written"),
            ("full_rewrite_seconds_exponent", "full_rewrite_fold.seconds"),
            ("eq_region_seconds_exponent", "eq_region_fold.seconds"),
        ),
    ),
    "--stream-eq": Ladder(
        "--one-stream-eq",
        "stream_eq_cdc",
        "the fixed CDC batch (2k updates + 500 inserts) split into "
        "8 micro-batch files and drained through "
        "stream_upsert_snapshot(eq_mode=True) with "
        "maxFilesPerTrigger=1 against a zero-copy clone of the Nx "
        "wide-file orders table — 8 real snapshot_eq_upsert "
        "commits through the streaming sink loop (planning, "
        "checkpoint, replay-dedup note, OCC); commit seconds per "
        "micro-batch should be flat in table size; the deferred "
        "reader rent (masked scan) and the mask-scoped fold that "
        "cures it are recorded after the drain",
        (
            ("commit_seconds_exponent", "commit_seconds_per_batch"),
            ("masked_read_exponent", "masked_read_seconds"),
            ("fold_seconds_exponent", "fold_seconds"),
        ),
    ),
    "--wap": Ladder(
        "--one-wap",
        "wap_publish",
        "per scale: wap_begin (tag + zero-copy clone manifest) on "
        "an Nx range-clustered orders snapshot, a fixed 1x batch "
        "appended to the audit (untimed) plus an audit DV delete "
        "on an inherited file (the sidecar-move publish case), "
        "then wap_publish (staging-dir renames + one metadata "
        "commit) timed; both phases must stay flat — no table "
        "bytes move at any scale. lost_race_retry_seconds prices "
        "the OCC retry: a second audit (same batch + DV delete) "
        "loses its publish to a concurrent main append, then the "
        "timed recovery = abort + re-begin + full replay + "
        "publish — the per-lost-race cost is the replayed batch, "
        "never the table",
        (
            ("begin_seconds_exponent", "begin_seconds"),
            ("publish_seconds_exponent", "publish_seconds"),
            ("lost_race_retry_seconds_exponent", "lost_race_retry_seconds"),
        ),
    ),
    "--span": Ladder(
        "--one-span",
        "fixed_batch_span_dedup",
        "a fixed 1x crawl batch (half duplicate spans, half fresh) "
        "span-dedups against the Nx corpus's persisted 8-byte "
        "span-hash index via span_dedup_incremental (batch cost ∝ "
        "batch + index hashes, never corpus text); separately, "
        "full-corpus span_dedup timed with hash-keyed vs "
        "string-keyed election on identical input, kept_spans "
        "asserted equal (collision check)",
        (
            ("fixed_batch_seconds_exponent", "fixed_batch.seconds"),
            ("full_hash_seconds_exponent", "full_corpus.hash_keyed_seconds"),
            (
                "full_string_seconds_exponent",
                "full_corpus.string_keyed_seconds",
            ),
        ),
    ),
    "--semdedup": Ladder(
        "--one-semdedup",
        "fixed_corpus_semdedup",
        "testdata embeddings replicated Nx with deterministic "
        "±0.25/dim jitter (replica cosine ~0.65 — never pairs at "
        "tau 0.95) plus one planted x2-scaled duplicate per base "
        "vector (a fixed count at every scale); semantic_dedup "
        "timed under three centroid policies: fixed k (linear "
        "assignment, N²/k pair join), balanced k ∝ √N (both "
        "terms N^1.5), and the published SemDeDup operating point "
        "k ∝ N (per-cell size constant — pinned at the 1× "
        "corpus's N/16 ≈ 250 vectors/cell — pair join LINEAR, "
        "per-run assignment quadratic in N; semantic_dedup_ivf "
        "reuses the IVF index's stored cells and pays only the "
        "linear join, which is how the k ∝ N point deploys at "
        "100 TB — measured as the ivf_reuse rung: a real "
        "ivf_index_init at n_cells = 16·N persists the assignment "
        "(index_build_seconds, the amortized cost, recorded not "
        "hidden) and semantic_dedup_ivf is timed electing over "
        "the STORED cells). pair_volume = Σ c(c−1) over assigned "
        "cells — "
        "the within-cell join's candidate space; doomed must "
        "equal the planted duplicates exactly at every scale and "
        "policy (raises otherwise)",
        tuple(
            (f"{policy}_{metric}_exponent", f"{policy}.{metric}")
            for policy in ("fixed_k", "sqrt_k", "prop_k", "ivf_reuse")
            for metric in ("seconds", "pair_volume")
        ),
    ),
    # run one doubling past the other batch families' 64x: the postings
    # shuffle is widest here, so 128x is where a super-linear term
    # would show
    "--containment": Ladder(
        "--one-containment",
        "fixed_batch_containment",
        "a fixed 1x crawl batch (half verbatim duplicates of "
        "replica-0 docs, half fresh vocabulary) probes the Nx "
        "corpus's persisted containment prefix+postings index via "
        "contained_pairs_incremental (group-suffixed words — "
        "vocab x(replicas*50) — so per-word df is the realistic "
        "topic-clustered ~group-size, not the 31-word boilerplate "
        "testdata profile); candidate volume and probe seconds "
        "recorded per scale, plus the max_posting_size=40 capped "
        "index where the boilerplate-heavy words leave the "
        "candidate join but their postings still count toward "
        "intersections",
        (
            ("seconds_exponent", "fixed_batch.seconds"),
            ("candidates_exponent", "fixed_batch.candidates"),
            ("capped_seconds_exponent", "fixed_batch_capped.seconds"),
            ("capped_candidates_exponent", "fixed_batch_capped.candidates"),
        ),
        scales=(1, 4, 16, 64, 128),
    ),
}


def main() -> None:
    dispatch(__file__, WORKERS, LADDERS)


if __name__ == "__main__":
    main()
