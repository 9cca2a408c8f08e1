"""Statistics-driven join planning: collect table/key statistics in
one pass, then pick the physical join strategy — broadcast, plain
shuffle (AQE), or static salting — from the numbers instead of
hard-coding `F.broadcast(...)` at every call site.

This is the engine-side version of what a CBO does with ANALYZE
output (SURVEY §4: the reference has no optimizer at all — its one
join is hand-ordered in Snowflake SQL). Spark's own CBO only kicks in
for catalog tables with ANALYZE stats (`maintenance.analyze_tables`);
path-based lakehouse tables get file sizes at best. This module closes
that gap for the path-based medallion/snapshot tables:

- :func:`collect_stats` — one aggregation over the table: row count,
  estimated in-memory bytes, and per-key NDV + heavy-hitter share
  (``approx_count_distinct`` HLL++ and a top-key count — both partial-
  aggregated, so the pass costs one shuffle of key partials).
- :func:`advise_join` — pure decision function (unit-testable, no
  Spark): small side under the broadcast budget → broadcast; hot-key
  share over the skew threshold on a non-broadcastable join →
  salted shuffle sized from the skew ratio; else plain shuffle and
  let AQE's runtime skew split handle residual imbalance.
- :func:`planned_join` — applies the decision: wraps the small side
  in ``F.broadcast``, routes to :func:`operators.skew.salted_join`,
  or emits a plain equi-join.

At 100 TB the stats pass is the cheap part (it reads the key column
only and ships HLL sketches); choosing wrong is the expensive part —
a 100 GB build side silently falling back to a shuffle join, or one
20%-hot key serializing a stage. Stats make the choice inspectable:
``advise_join`` returns the WHY (sizes, shares, thresholds) alongside
the strategy, so a plan review reads decisions, not folklore.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from group5_spark.operators.skew import salted_join


@dataclass(frozen=True)
class TableStats:
    """One table's planning statistics (key-specific fields describe
    the join key passed to :func:`collect_stats`).

    ``key_hashes`` optionally carries the key's stored KMV sketch
    (from a snapshot manifest) — two sketches let the planner
    estimate join OUTPUT size before running anything, see
    :func:`estimate_join_rows`."""

    rows: int
    bytes_est: int
    key_ndv: int
    top_key: object
    top_key_rows: int
    key_hashes: tuple = ()
    #: conservative LOWER bound on materialized bytes, backed only by
    #: exactly-known masking (DV positions are counted per entry;
    #: equality-delete masking is an ESTIMATE). Broadcast eligibility
    #: uses max(bytes_est, bytes_floor): an eq-mask estimate may
    #: shrink the join-size numbers, but it can never talk the
    #: planner into broadcasting a table whose exactly-known bytes
    #: don't fit — the executor-OOM direction (round-8 ADVICE). 0 =
    #: no separate floor (runtime collect_stats measured real rows).
    bytes_floor: int = 0

    @property
    def top_key_share(self) -> float:
        return self.top_key_rows / self.rows if self.rows else 0.0


@dataclass(frozen=True)
class JoinAdvice:
    strategy: str  # 'broadcast_left' | 'broadcast_right' | 'shuffle' | 'salted'
    n_salts: int = 0
    reasons: tuple = field(default_factory=tuple)
    #: which side holds the hot key when strategy == 'salted' — the
    #: SALTED side; the other side gets replicated n_salts times.
    #: Salting the wrong side would replicate the hot rows everywhere.
    skew_side: str = "left"
    #: dynamic-filtering: 'left'/'right' names the side to PRE-FILTER
    #: with a broadcast semi-join on the other side's distinct keys
    #: before the shuffle join — chosen when neither side's ROWS fit
    #: the broadcast budget but the smaller side's KEY SET does, and
    #: the key sketches show most of the big side's keys won't
    #: survive the join anyway. None = no prefilter.
    prefilter_side: str | None = None


def collect_stats(
    df: DataFrame, key: str, row_bytes: int = 0, with_sketch: bool = False
) -> TableStats:
    """One-pass table statistics for planning a join on ``key``.

    Row count, NDV (HLL++, ±5% default rsd), and the heaviest key's
    row count come from a single two-level aggregation: partials
    combine map-side, the shuffle carries one row per distinct key
    (bounded by NDV, not table rows), and the driver receives ONE row.
    ``bytes_est`` is rows × ``row_bytes`` when given, else Spark's
    schema-width default — both deliberately crude: broadcast budgets
    need order-of-magnitude sizes, not perfection.

    ``with_sketch`` additionally collects the key's KMV sketch (one
    WindowGroupLimit pass, ≤256 driver-side ints) so
    :func:`estimate_join_rows` and the dynamic-filter rule work even
    without a snapshot manifest — skip it when the table already
    carries write-time sketches (``stats_from_snapshot`` is free).
    """
    per_key = df.groupBy(key).agg(F.count(F.lit(1)).alias("c"))
    row = (
        per_key.agg(
            F.sum("c").alias("rows"),
            F.count(F.lit(1)).alias("ndv"),
            F.max_by(key, "c").alias("top_key"),
            F.max("c").alias("top_rows"),
        )
        .first()
    )
    width = row_bytes or sum(
        _field_width(f.dataType.simpleString()) for f in df.schema.fields
    )
    rows = row["rows"] or 0
    hashes: tuple = ()
    if with_sketch:
        from group5_spark.extensions.sketches import kmv_sketch

        hashes = tuple(
            sorted(
                int(r["hv"])
                for r in kmv_sketch(df, key, k=256).select("hv").collect()
            )
        )
    return TableStats(
        rows=rows,
        bytes_est=rows * width,
        key_ndv=row["ndv"] or 0,
        top_key=row["top_key"],
        top_key_rows=row["top_rows"] or 0,
        key_hashes=hashes,
    )


def _field_width(type_name: str) -> int:
    base = {
        "tinyint": 1, "smallint": 2, "int": 4, "bigint": 8,
        "float": 4, "double": 8, "date": 4, "timestamp": 8,
        "boolean": 1,
    }
    if type_name in base:
        return base[type_name]
    if type_name.startswith("decimal"):
        return 16
    return 32  # strings/arrays/structs: a deliberate guess


def estimate_join_rows(
    left: TableStats, right: TableStats, k: int = 256
) -> dict | None:
    """Pre-execution join OUTPUT-size estimate from the two sides'
    stored KMV key sketches — pure arithmetic on ≤2k ints, no data
    access, no Spark.

    KMV set algebra gives |keys_L ∩ keys_R| (exact when the sketches
    aren't full); under the uniform-multiplicity assumption every CBO
    makes, expected output rows ≈ |∩| · (rows_L/ndv_L) · (rows_R/ndv_R).
    The estimate catches the two cases table-size heuristics miss:
    two huge tables with near-zero key overlap (output tiny — a
    shuffle join is overkill the moment one side can pre-filter), and
    modest tables whose keys fully overlap with high multiplicity
    (output explodes — the real cost is downstream of the join).
    Returns None when either side lacks a sketch.
    """
    if not left.key_hashes or not right.key_hashes:
        return None
    from group5_spark.extensions.sketches import kmv_set_estimates

    est = kmv_set_estimates(list(left.key_hashes), list(right.key_hashes), k)
    mult_l = left.rows / left.key_ndv if left.key_ndv else 0.0
    mult_r = right.rows / right.key_ndv if right.key_ndv else 0.0
    return {
        "key_overlap": est["intersection"],
        "key_jaccard": est["jaccard"],
        "rows_est": est["intersection"] * mult_l * mult_r,
    }


def advise_join(
    left: TableStats,
    right: TableStats,
    broadcast_bytes: int = 32 << 20,
    skew_share: float = 0.10,
    max_salts: int = 64,
    how: str = "inner",
) -> JoinAdvice:
    """Pick the join strategy from two tables' stats.

    Rules, in order (mirroring what a cluster operator would decide):

    1. Either side under ``broadcast_bytes`` → broadcast it (the
       smaller one when both qualify). Broadcast beats every other
       plan when it fits: zero shuffle of the big side, skew
       irrelevant.
    2. Neither fits and a side's hottest key exceeds ``skew_share`` of
       its rows → salted shuffle. ``n_salts`` sized so the hot key's
       per-task slice drops to roughly the average partition's load
       (``share × ndv``, clamped to [2, max_salts]) — salting wider
       than that replicates the other side for no further balance.
    3. Otherwise plain shuffle; AQE's runtime skew split covers
       moderate imbalance without replicating anything.

    ``how`` matters for rule 2: static salting replicates the other
    side, which is only semantics-preserving for INNER joins (an
    outer join would emit one null-extended row per salt replica).
    A skewed non-inner join therefore degrades to plain shuffle —
    with the reason recorded — and leans on AQE's skew split, which
    IS outer-join-safe.
    """
    reasons = []
    card = estimate_join_rows(left, right)
    if card is not None:
        reasons.append(
            f"sketch cardinality: ~{card['key_overlap']:.0f} shared keys "
            f"(Jaccard {card['key_jaccard']:.0%}) -> "
            f"~{card['rows_est']:.0f} output rows expected"
        )
    # broadcast eligibility consults the floor: the estimate may be
    # shrunk by eq-mask guesses, the floor only by exactly-counted
    # DV masks — a table is broadcastable only when BOTH agree it fits
    l_bc = max(left.bytes_est, left.bytes_floor)
    r_bc = max(right.bytes_est, right.bytes_floor)
    l_fits = l_bc <= broadcast_bytes
    r_fits = r_bc <= broadcast_bytes
    if l_fits or r_fits:
        if l_fits and (not r_fits or l_bc <= r_bc):
            side, bc = "left", l_bc
        else:
            side, bc = "right", r_bc
        reasons.append(
            f"{side} ~{bc >> 20} MiB <= broadcast budget "
            f"{broadcast_bytes >> 20} MiB"
        )
        return JoinAdvice(strategy=f"broadcast_{side}", reasons=tuple(reasons))

    share = max(left.top_key_share, right.top_key_share)
    skewed = left if left.top_key_share >= right.top_key_share else right
    reasons.append(
        f"no side fits broadcast ({left.bytes_est >> 20}/"
        f"{right.bytes_est >> 20} MiB)"
    )

    # Dynamic filtering (Trino's term): rows don't fit the budget, but
    # the smaller side's DISTINCT KEY SET (ndv × 8 bytes) might — and
    # when the sketches say most of the big side's keys have no match,
    # a broadcast semi-join on those keys prunes the big side BEFORE
    # its shuffle. Inner-only (a pre-filter drops exactly the rows an
    # inner join would drop; an outer join must keep them).
    prefilter_side = None
    if how == "inner" and card is not None:
        small, big, big_name = (
            (left, right, "right")
            if left.key_ndv and (left.key_ndv <= (right.key_ndv or 2**63))
            else (right, left, "left")
        )
        keyset_bytes = small.key_ndv * 8
        surviving = card["key_overlap"] / big.key_ndv if big.key_ndv else 1.0
        if (
            small.key_ndv
            and keyset_bytes <= broadcast_bytes
            and surviving <= 0.5
        ):
            prefilter_side = big_name
            reasons.append(
                f"dynamic filter: {big_name} side keeps only "
                f"~{surviving:.0%} of its keys after the join; the other "
                f"side's {small.key_ndv} distinct keys "
                f"(~{keyset_bytes >> 20} MiB) fit the broadcast budget — "
                f"semi-filter {big_name} before its shuffle"
            )
    if share >= skew_share:
        if how != "inner":
            reasons.append(
                f"hot-key share {share:.0%} >= {skew_share:.0%} but "
                f"how={how!r}: salting replicates the other side and is "
                "inner-only — plain shuffle, AQE skew split handles it"
            )
            return JoinAdvice(strategy="shuffle", reasons=tuple(reasons))
        n = max(2, min(max_salts, int(share * max(skewed.key_ndv, 1)) + 1))
        side = "left" if skewed is left else "right"
        reasons.append(
            f"{side} side's hot key {skewed.top_key!r} holds {share:.0%} "
            f"of rows >= skew threshold {skew_share:.0%}; salting {n} ways"
        )
        return JoinAdvice(
            strategy="salted",
            n_salts=n,
            reasons=tuple(reasons),
            skew_side=side,
        )
    reasons.append(
        f"max hot-key share {share:.1%} under {skew_share:.0%}; "
        "plain shuffle + AQE skew split"
    )
    return JoinAdvice(
        strategy="shuffle",
        reasons=tuple(reasons),
        prefilter_side=prefilter_side,
    )


def planned_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    advice: JoinAdvice,
    how: str = "inner",
) -> DataFrame:
    """Apply a :func:`advise_join` decision to an equi-join."""
    if advice.prefilter_side and how == "inner":
        # dynamic filter: broadcast the other side's distinct keys and
        # semi-join the big side before it shuffles — inner-join-
        # preserving by definition of the semi-join
        if advice.prefilter_side == "left":
            keys = F.broadcast(right.select(on).distinct())
            left = left.join(keys, on=on, how="left_semi")
        else:
            keys = F.broadcast(left.select(on).distinct())
            right = right.join(keys, on=on, how="left_semi")
    if advice.strategy == "broadcast_left":
        return F.broadcast(left).join(right, on=on, how=how)
    if advice.strategy == "broadcast_right":
        return left.join(F.broadcast(right), on=on, how=how)
    if advice.strategy == "salted":
        if how != "inner":
            # belt-and-suspenders for advice produced without `how`:
            # salting replicates the non-salted side, which duplicates
            # null-extended rows under outer semantics — degrade to a
            # plain shuffle (AQE skew split is outer-safe) rather than
            # fail at runtime
            return left.join(right, on=on, how=how)
        if advice.skew_side == "left":
            skewed, other = left, right
        else:
            skewed, other = right, left
        return salted_join(skewed, other, on, n_salts=advice.n_salts)
    return left.join(right, on=on, how=how)


def stats_from_snapshot(
    path: str,
    key: str | None = None,
    version: int | None = None,
    bytes_per_disk_byte: float = 3.0,
) -> TableStats:
    """Planning statistics from a snapshot table's MANIFEST — zero
    data I/O, no SparkSession: row counts come from the per-file
    footer counts recorded at commit time, NDV from the mergeable KMV
    sketch stored by ``snapshot_commit(..., ndv_cols=[key])``. This is
    the Iceberg/Puffin pattern: pay statistics at write time, plan
    joins at read time from kilobytes of metadata.

    ``bytes_est`` scales on-disk parquet bytes by
    ``bytes_per_disk_byte`` (~3× is a conservative in-memory
    decompression factor for broadcast budgeting). Hot-key share is
    not derivable from a KMV sketch — it stays 0, meaning
    :func:`advise_join` will choose broadcast or plain shuffle+AQE
    (never static salting) from manifest stats alone; run
    :func:`collect_stats` when a skew decision is on the table.
    """
    from group5_spark.medallion.snapshots import (
        entry_rows,
        kmv_ndv_estimate,
        snapshot_manifest,
    )

    m = snapshot_manifest(path, version)
    # LOGICAL rows: a deletion-vector entry contributes its live count
    # (physical minus masked) — planning from physical rows would
    # overestimate a heavily-masked table and demote broadcasts.
    # DV masking is EXACT (positions are counted per entry).
    rows_dv = sum(entry_rows(e) for e in m["files"])
    rows = rows_dv
    # equality-delete masks subtract too (round-6 VERDICT #7) — but as
    # an ESTIMATE, bounded twice (round-8 ADVICE / round-7 VERDICT
    # #5): per sidecar, (a) a key tuple masks the table's average
    # rows-per-key, estimated from the stored KMV NDV of the key
    # column (a fact table keyed by customer masks MANY rows per
    # key, not one), with the matching-key count capped at the
    # table's NDV; (b) the subtraction is clamped to the live rows of
    # the entries that sidecar actually COVERS by sequence — an
    # insert-heavy sidecar whose keys mostly match nothing can at
    # worst zero out its covered slice, never the whole table.
    # the head manifest's stored sketches: mask/fold/migration commits
    # carry them forward (snapshot_commit carry_kmv), appends and eq
    # upserts merge a batch sketch in — a manifest WITHOUT a sketch
    # means some commit genuinely invalidated it (e.g. an unsketched
    # append), and the estimate degrades rather than trusting it
    kmv_all = m.get("kmv", {})

    def _kmv_lookup(col: str) -> list | None:
        return kmv_all.get(col)

    eq_all = sorted(
        m.get("eq_deletes") or [],
        key=lambda d: (d["seq"], d["sidecar"]),
    )
    if eq_all:

        def _key_ndv(cols: list[str]) -> float | None:
            # tuple NDV >= each column's NDV, so the max per-column
            # estimate lower-bounds it (conservative: higher implied
            # multiplicity is capped by the covered clamp below)
            ests = [
                kmv_ndv_estimate(sk)
                for sk in (_kmv_lookup(c) for c in cols)
                if sk
            ]
            return max(ests) if ests else None

        masked_total = 0.0
        for d in eq_all:
            covered = sum(
                entry_rows(e)
                for e in m["files"]
                if e.get("seq", 0) < d["seq"]
            )
            keys = float(d.get("rows", 0))
            ndv = _key_ndv(d.get("keys") or [])
            if ndv and ndv > 0:
                mult = max(1.0, rows_dv / ndv)
                est = min(keys, ndv) * mult
            else:
                est = keys
            masked_total += min(est, covered)
        # stacked/overlapping sidecars can't mask more rows than the
        # rows ANY of them covers: without this global clamp, N
        # sidecars over the same files sum to N× the covered rows and
        # zero out a mostly-live table's estimate (the row count of
        # post-sidecar entries is a hard floor on live rows)
        max_seq = max(d["seq"] for d in eq_all)
        covered_any = sum(
            entry_rows(e)
            for e in m["files"]
            if e.get("seq", 0) < max_seq
        )
        masked_total = min(masked_total, covered_any)
        rows = max(0, rows_dv - int(round(masked_total)))
    disk = sum(int(e["bytes"]) for e in m["files"])
    # broadcast budgeting sees what a scan MATERIALIZES: masks resolve
    # before the data crosses the wire, so a heavily-masked table's
    # bytes scale by its live fraction — otherwise a 50%-masked dim
    # is wrongly demoted from broadcast until someone folds it. The
    # eq share of that scaling is an estimate, so the FLOOR (what
    # broadcast eligibility checks, see TableStats.bytes_floor)
    # scales only by the exactly-known DV fraction — an eq-mask guess
    # must never promote a huge table to broadcast (executor OOM).
    physical = sum(int(e.get("rows", 0)) for e in m["files"])
    disk_floor = disk
    if physical > 0 and rows_dv < physical:
        disk_floor = int(disk * max(rows_dv, 0) / physical)
    if physical > 0 and rows < physical:
        disk = int(disk * max(rows, 0) / physical)
    ndv = 0
    hashes: tuple = ()
    key_sketch = _kmv_lookup(key) if key is not None else None
    if key_sketch:
        ndv = int(kmv_ndv_estimate(key_sketch))
        # carry the sketch itself: two tables' sketches estimate the
        # JOIN's key overlap and output size (estimate_join_rows)
        hashes = tuple(key_sketch)
    return TableStats(
        rows=rows,
        bytes_est=int(disk * bytes_per_disk_byte),
        key_ndv=ndv,
        top_key=None,
        top_key_rows=0,
        key_hashes=hashes,
        bytes_floor=int(disk_floor * bytes_per_disk_byte),
    )


def snapshot_side_stats(
    root_dir: str, table: str, key: str | None = None
) -> TableStats | None:
    """:func:`stats_from_snapshot` for a table that MAY be snapshot-
    managed: ``{root_dir}/{table}`` with a manifest → its write-time
    stats (zero Spark jobs, kilobytes of metadata); no manifest →
    None, and the caller falls back to a runtime
    :func:`collect_stats` scan. The soft-lookup form the flag-routed
    queries need — statistics availability must never change query
    results, only how the plan was decided.

    When the caller's frame is a FILTERED view of the table, manifest
    stats are an UPPER BOUND — which only errs in the safe direction:
    an oversized estimate can demote broadcast to shuffle (slower,
    never wrong), never promote an oversized side into a broadcast
    OOM. Hot-key share is 0 on this path (not derivable from KMV),
    so static salting is never chosen from manifest stats alone —
    AQE's runtime skew split remains the guard, per
    :func:`stats_from_snapshot`.
    """
    from pathlib import Path

    from group5_spark.medallion import snapshots as snap

    path = Path(root_dir) / table
    if not snap.is_snapshot_table(path):
        return None
    try:
        return stats_from_snapshot(str(path), key)
    except FileNotFoundError:
        return None


def fk_carried_stats(fact: TableStats, key_side: TableStats) -> TableStats:
    """Planning stats for a JOIN INTERMEDIATE about to be re-joined on
    a key it inherited from a dimension — the standard CBO
    foreign-key propagation assumption: an FK equi-join preserves the
    fact side's cardinality (every fact row matches exactly one dim
    row), so the intermediate keeps the fact's rows/bytes while the
    new join key's NDV and KMV sketch come from the table that
    CONTRIBUTED that column. Lets a multi-join query plan every step
    from base-table manifests with zero runtime scans — stats flow
    through the join tree the way Catalyst's own column stats do.
    """
    return TableStats(
        rows=fact.rows,
        bytes_est=fact.bytes_est,
        key_ndv=key_side.key_ndv,
        top_key=None,
        top_key_rows=0,
        key_hashes=key_side.key_hashes,
    )


def stat_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    how: str = "inner",
    broadcast_bytes: int = 32 << 20,
    skew_share: float = 0.10,
    left_stats: TableStats | None = None,
    right_stats: TableStats | None = None,
) -> tuple[DataFrame, JoinAdvice]:
    """Collect stats on both sides, advise, and apply — the one-call
    form. Returns (joined, advice) so callers can log the decision.

    ``left_stats`` / ``right_stats`` override the runtime scan per
    side — pass :func:`snapshot_side_stats` (manifest) or
    :func:`fk_carried_stats` (propagated) results so a fully
    snapshot-backed query plans every join with ZERO extra Spark
    jobs. Any side left None pays one key-partial stats shuffle;
    amortize repeats by caching :func:`collect_stats` results
    (stats drift slowly — Iceberg/Delta refresh them on write, not
    on read).
    """
    ls = left_stats if left_stats is not None else collect_stats(left, on)
    rs = right_stats if right_stats is not None else collect_stats(right, on)
    advice = advise_join(ls, rs, broadcast_bytes, skew_share, how=how)
    return planned_join(left, right, on, advice, how), advice


@dataclass(frozen=True)
class PartitionAdvice:
    """One partition-health finding from :func:`advise_partitions` —
    the same inspectability contract as :class:`JoinAdvice`: the WHAT
    (partition + action) always travels with the WHY (measured
    numbers vs thresholds), so a maintenance review reads decisions,
    not folklore."""

    partition: str | None
    action: str  # 'split_or_salt' | 'compact' | 'fold_masks'
    reasons: tuple = field(default_factory=tuple)


def advise_partitions(
    path: str,
    version: int | None = None,
    *,
    skew_ratio: float = 4.0,
    frag_files: int = 16,
    frag_avg_bytes: int = 32 * 2**20,
    mask_share: float = 0.20,
) -> list[PartitionAdvice]:
    """Partition-health advisor over a snapshot table's MANIFEST —
    zero data I/O, no SparkSession (the :func:`stats_from_snapshot`
    discipline): roll the file entries up per partition and flag the
    three layouts that hurt at scale, each with measured reasons:

    - ``split_or_salt``: a partition holding > ``skew_ratio`` × the
      median partition's rows — the straggler task of every
      partition-grain stage; repartition its key (salt) or split the
      partition value.
    - ``compact``: > ``frag_files`` files averaging under
      ``frag_avg_bytes`` — open-file and footer overhead dominating
      scans; target for ``maintenance.compact``.
    - ``fold_masks``: DV-masked rows exceeding ``mask_share`` of the
      partition — merge-on-read rent concentrated here; target for
      ``maintenance.compact_snapshot_masks`` (the mask-scoped fold).

    The driver holds one (rows, bytes, files, dv) tuple per PARTITION
    (bounded like the advisor's other manifest reads). For tables
    whose manifest exceeds the driver-parse comfort zone (~10⁵ file
    entries), run the same rollup distributed via
    ``medallion.meta.snapshot_partitions_df`` and apply these
    thresholds as filters — the numbers are identical by
    construction.
    """
    from group5_spark.medallion.snapshots import snapshot_manifest

    m = snapshot_manifest(path, version)
    parts: dict[str | None, list[int]] = {}
    for e in m["files"]:
        rows, by = int(e.get("rows", 0)), int(e.get("bytes", 0))
        dv = int((e.get("dv") or {}).get("deleted", 0))
        agg = parts.setdefault(e.get("partition"), [0, 0, 0, 0])
        agg[0] += rows
        agg[1] += by
        agg[2] += 1
        agg[3] += dv
    if not parts:
        return []
    med = sorted(p[0] for p in parts.values())[(len(parts) - 1) // 2]
    # floor the median at 1 row so an all-rows-in-one-partition layout
    # (median 0 — arguably the worst skew) is still flagged (ADVICE r9)
    med_floor = max(med, 1)
    out: list[PartitionAdvice] = []
    for pv, (rows, by, files, dv) in sorted(
        parts.items(), key=lambda kv: (kv[1][0], str(kv[0])), reverse=True
    ):
        if len(parts) > 1 and rows > skew_ratio * med_floor:
            out.append(
                PartitionAdvice(
                    pv,
                    "split_or_salt",
                    (
                        f"rows={rows} > {skew_ratio}x median={med_floor}",
                        f"files={files}",
                    ),
                )
            )
        if files > frag_files and by // max(files, 1) < frag_avg_bytes:
            out.append(
                PartitionAdvice(
                    pv,
                    "compact",
                    (
                        f"files={files} > {frag_files}",
                        f"avg_bytes={by // max(files, 1)}"
                        f" < {frag_avg_bytes}",
                    ),
                )
            )
        if rows and dv / rows > mask_share:
            out.append(
                PartitionAdvice(
                    pv,
                    "fold_masks",
                    (
                        f"dv_deleted={dv} / rows={rows} ="
                        f" {dv / rows:.3f} > {mask_share}",
                    ),
                )
            )
    return out
