"""Snapshot-versioned tables: time travel + manifest-driven file
skipping, the two metadata-layer ideas every modern lakehouse format
(Iceberg / Delta / Hudi) is built on, in a dependency-free form.

Why a metadata layer at 100 TB:

- **Atomic visibility.** A writer stages immutable data files, then
  publishes them with ONE atomic pointer swap (``os.replace`` here;
  the same rename-on-HDFS / put-if-absent-on-S3 contract in
  production). Readers resolve the pointer once and see a complete
  snapshot — never a half-written table, no matter how long the write
  ran. Concurrent readers of older snapshots are undisturbed because
  data files are immutable and never rewritten in place.
- **Time travel.** Every commit is a manifest (JSON: file list +
  per-file column stats + parent version). Reading version N is just
  resolving manifest N — a failed pipeline run rolls back by
  re-pointing, and reproducing last week's training set is
  ``snapshot_read(..., version=k)``.
- **File skipping.** The manifest records per-file min/max column
  stats harvested from parquet footers at commit time. A predicate
  read consults the manifest (kilobytes) instead of listing and
  footer-probing the table (a 100 TB table has ~10⁶ files — listing
  alone is minutes of RPCs): files whose [min, max] range is disjoint
  from the predicate never enter the Spark scan at all. Combined with
  the sorted/Z-ordered layouts from :mod:`maintenance`, which give
  files tight non-overlapping ranges, this is the difference between
  scanning 100 TB and scanning the 2 GB that matter.

Local-filesystem implementation; every operation maps 1:1 onto the
Hadoop FileSystem / object-store API (immutable puts + one atomic
rename). Reference parity: the reference's warehouse tables
(`Assets/Jobs/etl_job.py:68-75` full-overwrite CSV outputs) have no
versioning at all — this is a beyond-reference scale component.
"""

from __future__ import annotations

import json
import re
import shutil
import time
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "snapshot_commit",
    "snapshot_read",
    "snapshot_versions",
    "snapshot_expire",
    "snapshot_changes",
    "snapshot_manifest",
    "prune_files",
    "prune_entries",
    "read_entries",
    "entry_rows",
    "composite_bloom_name",
    "latest_note",
    "last_committed_batch",
    "snapshot_tag",
    "snapshot_clone",
    "snapshot_tags",
    "snapshot_drop_tag",
    "resolve_ref",
    "resolve_asof",
    "kmv_ndv_estimate",
    "SnapshotConflict",
]

_MANIFEST_DIR = "_manifests"
_POINTER = "_current"


def _manifest_path(root: Path, version: int) -> Path:
    return root / _MANIFEST_DIR / f"v{version:05d}.json"


def _read_manifest(root: Path, version: int) -> dict:
    """Parse manifest slot ``version`` — the ONE reader of the manifest
    format. Deliberately uncached: expiry reclaims an orphan slot and
    the next commit claims the same number with different content, so
    a ``(root, version)`` memo could serve the reclaimed orphan. A
    caller that needs the manifest twice passes the parsed dict on.
    Raises OSError for a missing slot, ValueError for a torn one."""
    return json.loads(_manifest_path(root, version).read_text())


def _slots(root: Path) -> list[int]:
    """Every claimed manifest slot, published or orphan, ascending."""
    return sorted(
        int(m.stem[1:]) for m in (root / _MANIFEST_DIR).glob("v*.json")
    )


def _slot_manifests(
    root: Path, known: dict[int, dict] | None = None
) -> dict[int, dict | None]:
    """Every slot → its parsed manifest (None when torn or gone),
    reusing ``known``'s already-parsed slots so no slot parses twice
    (a torn one is tried again: its writer may have finished)."""
    out: dict[int, dict | None] = {}
    for v in _slots(root):
        if known and known.get(v) is not None:
            out[v] = known[v]
            continue
        try:
            out[v] = _read_manifest(root, v)
        except (OSError, ValueError):
            out[v] = None
    return out


def is_snapshot_table(path) -> bool:
    """Does ``path`` hold a snapshot table (a manifest directory)?"""
    return (Path(path) / _MANIFEST_DIR).is_dir()


def _manifest_file(path: str, version: int | None = None) -> tuple[int, Path]:
    """``(version, file)`` of a version's manifest (latest by default),
    for readers that size or scan the raw file (``meta``'s Spark-side
    parse of very large manifests). Raises FileNotFoundError when the
    slot is absent."""
    root = Path(path)
    v = version if version is not None else _current_version(root)
    mp = _manifest_path(root, v)
    if not mp.exists():
        raise FileNotFoundError(f"no snapshot v{v} at {path}")
    return v, mp


def _chain_path(root: Path, parent: int) -> Path:
    return root / _MANIFEST_DIR / f"c{parent:05d}"


def _read_pointer(root: Path) -> int:
    p = root / _MANIFEST_DIR / _POINTER
    if not p.exists():
        return 0
    return int(p.read_text().strip())


def _write_pointer(root: Path, version: int) -> None:
    tmp = root / _MANIFEST_DIR / f"_ptr.{uuid.uuid4().hex[:8]}"
    tmp.write_text(str(version))
    tmp.replace(root / _MANIFEST_DIR / _POINTER)  # atomic swap


def _chain_next(root: Path, version: int) -> int | None:
    p = _chain_path(root, version)
    if not p.exists():
        return None
    try:
        return int(p.read_text().strip())
    except ValueError:
        return None


def _current_version(root: Path) -> int:
    """The published head: follow the commit chain from the pointer
    hint. The pointer file is a CACHE (it may lag under concurrency);
    the chain links — each created with an atomic exclusive create —
    are the source of truth, so a stale hint only costs a few extra
    link reads, never a wrong answer. Tables written before the chain
    protocol have no links; for them the pointer itself is the head."""
    v = _read_pointer(root)
    while (nxt := _chain_next(root, v)) is not None:
        v = nxt
    return v


def _lineage(root: Path, head: int, known: dict | None = None):
    """Published ``(version, manifest)`` pairs, newest first, by
    following each manifest's recorded parent from ``head`` down. This
    — not filename order — is the table's history: a manifest outside
    the lineage is an orphan from a commit that lost its chain-claim
    race or crashed. A generator that parses each manifest once, so a
    caller that stops early (``last_committed_batch``) never reads the
    older history; ``known`` is ``head``'s manifest when the caller
    already parsed it."""
    v = head
    while v > 0:
        try:
            m = known if known is not None and v == head else _read_manifest(root, v)
            parent = int(m.get("parent", 0))
        except (OSError, ValueError):
            return
        yield v, m
        v = parent


def _file_rows(path: Path) -> int:
    """Row count from the parquet footer — one metadata read, no data
    I/O. Recorded on every commit so planners (plans/advisor.py) get
    exact table cardinality from kilobytes of manifest."""
    import pyarrow.parquet as pq

    return int(pq.ParquetFile(str(path)).metadata.num_rows)


def _last_seq(manifest: dict) -> int:
    """The table's monotonic WRITE-SEQUENCE counter (Iceberg's
    data-sequence-number): every commit stamps its staged entries with
    ``last_seq + 1``, and an equality-delete sidecar committed at
    sequence s applies to exactly the entries whose ``seq`` < s —
    never to rows appended in the same or a later commit. Decoupled
    from the version number so clones (which restart versions at 1
    but inherit source entries with source sequences) stay ordered.
    Legacy manifests default to their version; legacy entries default
    to seq 0, which correctly predates every sidecar."""
    return int(manifest.get("last_seq", manifest.get("version", 0) or 0))


def entry_eq_suffix(manifest: dict, e: dict) -> tuple:
    """The equality-delete sidecars that apply to manifest entry
    ``e`` — those committed at a sequence AFTER the entry's rows were
    written — as a sorted tuple of sidecar paths. Part of the entry's
    logical-content identity: the same bytes under a longer suffix are
    a different logical file (used by the change feed and IVM, which
    must treat a grown suffix as removed-rows, exactly like a changed
    deletion vector)."""
    es = e.get("seq", 0)
    return tuple(
        d["sidecar"]
        for d in sorted(
            manifest.get("eq_deletes") or [],
            key=lambda d: (d["seq"], d["sidecar"]),
        )
        if d["seq"] > es
    )


def _commit_kmv(df, ndv_cols: list[str], k: int = 256) -> dict:
    """Per-column KMV sketch of this commit's data: the k smallest
    distinct portable-hash values, JSON-storable and MERGEABLE —
    append commits union parent+new and re-take min-k, which equals
    the sketch of the union exactly (extensions/sketches.py pins the
    property). Costs one distinct+top-k pass per column at COMMIT
    time; readers then answer "how many distinct keys" from the
    manifest alone."""
    from pyspark.sql import functions as F

    from group5_spark.extensions.sketches import kmv_sketch

    out = {}
    for col in ndv_cols:
        rows = kmv_sketch(df, col, k=k).select("hv").collect()
        out[col] = sorted(int(r["hv"]) for r in rows)
    return out


def _merge_kmv(parent: dict, new: dict, k: int = 256) -> dict:
    """Append-commit sketch merge. Only columns sketched by BOTH the
    parent manifest and this commit survive: a column the new batch
    didn't sketch would carry the parent's sketch forward describing a
    table the batch just grew — a silently-stale NDV is worse for the
    join planner than no NDV (stats_from_snapshot degrades to
    size-only advice when the sketch is absent)."""
    merged = {}
    for col in set(parent) & set(new):
        both = sorted(set(parent[col]) | set(new[col]))
        merged[col] = both[:k]
    return merged


def kmv_ndv_estimate(hashes: list[int], k: int = 256) -> float:
    """Distinct-count estimate from a stored KMV hash list: exact when
    the sketch isn't full, else ``(k-1)·2⁵⁶/kth``."""
    if len(hashes) < k:
        return float(len(hashes))
    return (k - 1) * float(1 << 56) / float(hashes[k - 1])


def _file_stats(path: Path, stats_cols: list[str]) -> dict:
    """Per-file column min/max from the parquet footer (row-group
    statistics — written by Spark for primitive columns by default).
    Commit-time cost is one footer read per *new* file, the same
    metadata Iceberg writes into its manifests."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(str(path)).metadata
    idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
    out: dict = {}
    for col in stats_cols:
        if col not in idx:
            continue
        mins, maxs = [], []
        nulls: int | None = 0
        for rg in range(md.num_row_groups):
            # types pyarrow can't extract stats for (e.g. decimal)
            # raise here — degrade to no-stats (= must-read), never
            # fail the commit
            try:
                st = md.row_group(rg).column(idx[col]).statistics
                has = st is not None and st.has_min_max
                lo, hi = (st.min, st.max) if has else (None, None)
                if nulls is not None and st is not None and st.has_null_count:
                    nulls += st.null_count
                else:
                    nulls = None
            except Exception:
                has = False
            if not has:
                mins, maxs = [], []
                break
            mins.append(lo)
            maxs.append(hi)
        if mins:
            lo, hi = min(mins), max(maxs)
            if isinstance(lo, bytes):
                lo, hi = lo.decode("utf-8", "replace"), hi.decode("utf-8", "replace")
            if not isinstance(lo, (int, float, str, bool)):
                lo, hi = str(lo), str(hi)  # dates/decimals → portable JSON
            out[col] = {"min": lo, "max": hi}
            # exact per-file null count (footer metadata) — lets a
            # commit-time NOT NULL CHECK be proven without reading data
            if nulls is not None:
                out[col]["nulls"] = int(nulls)
    return out


# The stats-provable CHECK fragment: a single-column numeric range
# rule or IS NOT NULL. Everything else (disjunctions, multi-column,
# string comparisons — parquet truncates long string stats) falls back
# to reading the staged data.
_SIMPLE_RANGE_RULE = re.compile(
    r"^\s*`?([A-Za-z_]\w*)`?\s*(>=|<=|>|<)\s*(-?\d+(?:\.\d+)?)\s*$"
)
_NOT_NULL_RULE = re.compile(
    r"^\s*`?([A-Za-z_]\w*)`?\s+IS\s+NOT\s+NULL\s*$", re.IGNORECASE
)


def _rule_stats_col(expr: str) -> str | None:
    """Column a CHECK expression constrains, when the expression is in
    the stats-provable fragment; None for anything more complex."""
    m = _SIMPLE_RANGE_RULE.match(expr) or _NOT_NULL_RULE.match(expr)
    return m.group(1) if m else None


def _stats_prove_pass(expr: str, entries: list[dict]) -> bool:
    """True when the file entries' footer stats alone PROVE that no
    row in them fails the CHECK ``expr`` — the metadata fast-path of
    commit-time constraint validation. Conservative by construction:
    any file lacking the needed stat (or with a non-numeric stat for a
    range rule) returns False and the caller reads the staged data
    instead; a True here can never mask a violation because footer
    min/max bound every non-null value and SQL CHECK passes NULLs.
    Empty files (rows == 0) pass vacuously."""
    m = _NOT_NULL_RULE.match(expr)
    if m:
        col = m.group(1)
        return all(
            int(e.get("rows", 0)) == 0
            or (e.get("stats") or {}).get(col, {}).get("nulls") == 0
            for e in entries
        )
    m = _SIMPLE_RANGE_RULE.match(expr)
    if not m:
        return False
    col, op, lit = m.group(1), m.group(2), m.group(3)
    value = float(lit) if ("." in lit or "e" in lit.lower()) else int(lit)
    for e in entries:
        if int(e.get("rows", 0)) == 0:
            continue
        s = (e.get("stats") or {}).get(col)
        if s is None:
            return False
        lo, hi = s["min"], s["max"]
        if isinstance(lo, bool) or not isinstance(lo, (int, float)):
            return False
        # NULL rows pass CHECK and footer min/max exclude nulls, so
        # the non-null range alone decides
        if op == ">":
            ok = lo > value
        elif op == ">=":
            ok = lo >= value
        elif op == "<":
            ok = hi < value
        else:  # <=
            ok = hi <= value
        if not ok:
            return False
    return True


_BLOOM_BITS = 4096
_BLOOM_K = 5


def _bloom_hashes(value) -> list[int]:
    """k bit positions for a value — derived from md5 so any engine
    (or the manifest reader) reproduces them; value is hashed by its
    string form, matching the reader's probe."""
    import hashlib

    digest = hashlib.md5(str(value).encode("utf-8")).digest()
    return [
        int.from_bytes(digest[i * 3 : i * 3 + 3], "big") % _BLOOM_BITS
        for i in range(_BLOOM_K)
    ]


#: composite-bloom tuple separator: the value hashed for a multi-column
#: bloom is "\x1f".join(str(v) for the SORTED column list) — readers
#: (snapshot_merge's tuple probe) must build the probe string the same
#: way. \x1f (ASCII unit separator) never appears in normal key text,
#: so ("ab","c") and ("a","bc") hash differently.
_COMPOSITE_SEP = "\x1f"


def composite_bloom_name(cols: list[str]) -> str:
    """Canonical manifest key for a multi-column bloom: the sorted
    column names comma-joined (``bloom_cols=["k2,k1"]`` and
    ``["k1,k2"]`` address the same bloom)."""
    return ",".join(sorted(cols))


def _file_bloom(path: Path, col: str) -> str | None:
    """Per-file Bloom filter over a column's distinct values (hex
    bitset). Commit-time cost: one single-column read of the new file
    — the same work Parquet's own bloom writer does. Gives point
    (``=``) predicates file-skipping power where min/max can't help:
    interleaved key ranges overlap every file's [min, max], but a key
    absent from a file is definitely-absent in its bloom.

    ``col`` may be a COMPOSITE key ``"k1,k2"``: the bloom then holds
    hashes of the (sorted-column-order) value tuples, so a multi-key
    merge can prune files where per-key ranges all overlap but the
    specific (k1, k2) combinations are absent — interleaved composite
    ranges are exactly where single-column pruning goes blind."""
    import pyarrow.parquet as pq

    cols = sorted(col.split(",")) if "," in col else [col]
    try:
        table = pq.read_table(str(path), columns=cols)
    except Exception:
        return None
    bits = bytearray(_BLOOM_BITS // 8)
    if len(cols) == 1:
        values = table.column(0).unique().to_pylist()
    else:
        seen = set()
        lists = [table.column(i).to_pylist() for i in range(len(cols))]
        values = []
        for tup in zip(*lists):
            if any(v is None for v in tup):
                continue  # NULL never equi-matches; don't bloat the bloom
            s = _COMPOSITE_SEP.join(str(v) for v in tup)
            if s not in seen:
                seen.add(s)
                values.append(s)
    for v in values:
        if v is None:
            continue
        for pos in _bloom_hashes(v):
            bits[pos // 8] |= 1 << (pos % 8)
    return bytes(bits).hex()


def _key_probe(keys: list[str], tuples) -> list[tuple[tuple, list[int]]]:
    """Point probe for key TUPLES over ``keys``: each tuple paired with
    its bloom bit positions, hashed ONCE — callers probing many files
    with the same key set never re-hash per (key, file) pair. A
    composite tuple hashes its values in SORTED-column order joined by
    :data:`_COMPOSITE_SEP`, exactly as :func:`_file_bloom` wrote them."""
    order = [keys.index(k) for k in sorted(keys)]
    return [
        (
            tuple(t),
            _bloom_hashes(
                t[0]
                if len(keys) == 1
                else _COMPOSITE_SEP.join(str(t[i]) for i in order)
            ),
        )
        for t in tuples
    ]


def _may_hold_key(e: dict, keys: list[str], probe) -> bool:
    """Can manifest entry ``e`` hold a row whose ``keys`` tuple equals
    one of ``probe``'s (from :func:`_key_probe`)? A tuple survives when
    every key's footer min/max contains its component and then, when
    the file has a bloom on the key set (single-column or canonical
    composite), the bloom admits it. Missing stats or bloom → may
    (never wrongly prune). Sound under masks too: stats and blooms
    describe a SUPERSET of the live rows, so they can only
    under-prune. The one key test behind predicate pruning, MERGE
    candidate pruning and the mask fold's disjointness proof."""
    st = e.get("stats") or {}
    hex_bits = (e.get("bloom") or {}).get(composite_bloom_name(keys))
    bits = bytes.fromhex(hex_bits) if hex_bits else None
    return any(
        all(_overlaps(st, k, "=", v) for k, v in zip(keys, t))
        and (bits is None or all(bits[p // 8] & (1 << (p % 8)) for p in pos))
        for t, pos in probe
    )


class SnapshotConflict(Exception):
    """Raised when ``expected_parent`` no longer matches the head —
    another commit landed between the caller's read and this commit."""


#: note keys that are PER-COMMIT markers (operation audit, streaming
#: idempotency, clone bookkeeping) — everything else in a note is a
#: TABLE PROPERTY (e.g. a persisted index's pinned parameters and
#: centroids) and must survive same-table rewrites: compaction,
#: rollback, DML, and plain commits all carry property keys forward,
#: with the caller's own note winning on collision. Without this, the
#: first compaction of an LSH/IVF index table would discard its
#: pinned model and brick every subsequent probe/append.
_EPHEMERAL_NOTE_KEYS = frozenset({
    "op", "app_id", "batch_id", "compaction", "files_before",
    "partitions", "delete_where", "update_where", "set_cols",
    "restored_version", "cloned_from", "src_version", "constraint",
    "clustered_by", "merge",
})


def _root_local_dir(root: Path, p: str) -> str | None:
    """The top-level staging dir under ``root`` that a manifest path
    reference occupies — its first component for relative paths, the
    first component below root for absolute paths that resolve inside
    root. The absolute branch is DEFENSIVE: a WAP publish rebases
    every in-root reference to root-relative (see ``wap.py``), so
    current publishes never produce absolute aliases — but pre-rebase
    manifests and foreign clones can still carry them, and the orphan
    sweep must count their dirs as referenced. None for paths outside
    root (a clone's foreign references own no local dir)."""
    pp = Path(p)
    if not pp.is_absolute():
        return pp.parts[0]
    try:
        return pp.resolve().relative_to(root.resolve()).parts[0]
    except ValueError:
        return None


def _map_refs(m: dict, fn) -> dict:
    """The ONE reference walk: ``m`` with every path it names — each
    file entry's data file and deletion-vector sidecar, and each
    equality-delete sidecar — replaced by ``fn(path)``. Clone and WAP
    publish rebase paths with it; :func:`_ref_paths` lists them."""
    files = []
    for e in m.get("files", []):
        ne = dict(e, path=fn(e["path"]))
        if e.get("dv"):
            ne["dv"] = dict(e["dv"], sidecar=fn(e["dv"]["sidecar"]))
        files.append(ne)
    out = {**m, "files": files}
    if m.get("eq_deletes"):
        out["eq_deletes"] = [
            dict(d, sidecar=fn(d["sidecar"])) for d in m["eq_deletes"]
        ]
    return out


def _ref_paths(m: dict) -> list[str]:
    """Every path manifest ``m`` names (data files and sidecars): the
    file closure that expiry keeps live or reclaims."""
    paths: list[str] = []
    _map_refs(m, paths.append)  # the rebuilt copy is discarded
    return paths


def _orphan_staging_dirs(root: Path, manifests) -> list[Path]:
    """Staging dirs (``data-*``/``dv-*``/``eq-*``) under ``root`` that
    none of ``manifests`` (None for a torn slot) reaches — what a
    writer killed before claiming a manifest slot leaves behind.
    Absolute same-root references count (:func:`_root_local_dir`)."""
    referenced = {
        ld
        for m in manifests
        if m
        for p in _ref_paths(m)
        if (ld := _root_local_dir(root, p)) is not None
    }
    return [
        d
        for pattern in ("data-*", "dv-*", "eq-*")
        for d in sorted(root.glob(pattern))
        if d.is_dir() and d.name not in referenced
    ]


def _property_note(note: dict | None) -> dict:
    """The table-property subset of a manifest note (see
    :data:`_EPHEMERAL_NOTE_KEYS`)."""
    return {
        k: v
        for k, v in (note or {}).items()
        if k not in _EPHEMERAL_NOTE_KEYS
    }


#: the table contract a metadata-only republish carries beside the
#: files, schema and property note (:func:`_republish`)
_CONTRACT_KEYS = (
    "partition_by", "partition_history", "kmv", "constraints", "eq_deletes",
)


def _republish(
    m: dict, parent: int, version: int, note: dict, head_seq: int = 0
) -> dict:
    """The manifest that re-publishes ``m``'s content on ``parent`` as
    a metadata-only commit (clone, rollback, WAP publish, constraint
    changes): its files and its whole table contract — schema,
    property note keys (``note`` wins on collision), partition spec and
    history, KMV sketch, CHECK constraints and equality-delete
    sidecars. The write-sequence counter is the larger of ``m``'s and
    ``head_seq`` (the parent's), so later commits never reuse a
    sequence either side already stamped."""
    return {
        "version": version,
        "parent": parent,
        "ts": time.time(),
        "schema": m.get("schema"),
        "note": {**_property_note(m.get("note")), **note},
        "files": m["files"],
        **{k: m[k] for k in _CONTRACT_KEYS if m.get(k)},
        "last_seq": max(_last_seq(m), head_seq),
    }


def _evolved_schema_json(head_schema: dict | None, df_schema) -> dict:
    """The manifest schema a commit that KEEPS prior files must
    publish: the head schema's fields in their declared order, widened
    by any column the staged batch adds (appended at the end — the
    add-column half of Iceberg schema evolution). A batch missing a
    table column does NOT narrow the schema — the column's bytes are
    still live in the carried files, and ``read_entries`` surfaces
    NULL for it from the batch's own files. A same-named column with a
    DIFFERENT type is rejected (implicit type change corrupts silent
    readers); nullability widens (a carried file may lack the column
    entirely, so the union field must admit NULL whenever the two
    sides disagree).
    """
    new_json = json.loads(df_schema.json())
    if not head_schema:
        return new_json
    # Iceberg's legal type promotions: within the integer family and
    # within the float family the union takes the WIDER side (parquet
    # readers up-cast losslessly); anything else is an implicit type
    # change and is rejected.
    _ranks = {"byte": 0, "short": 1, "integer": 2, "long": 3}
    _franks = {"float": 0, "double": 1}

    def _widen(a, b):
        if a == b:
            return a
        for fam in (_ranks, _franks):
            if a in fam and b in fam:
                return a if fam[a] >= fam[b] else b
        return None

    new_fields = {f["name"]: f for f in new_json["fields"]}
    out_fields = []
    for hf in head_schema["fields"]:
        nf = new_fields.pop(hf["name"], None)
        if nf is None:
            # the batch doesn't carry this column — its own rows will
            # surface NULL for it, so the union field must admit NULL
            out_fields.append({**hf, "nullable": True})
            continue
        wide = _widen(hf["type"], nf["type"])
        if wide is None:
            raise ValueError(
                f"append changes the type of column {hf['name']!r} "
                f"({hf['type']!r} → {nf['type']!r}); schema evolution "
                "is widen-only — cast the batch or overwrite the table"
            )
        out_fields.append(
            {
                **hf,
                "type": wide,
                "nullable": hf["nullable"] or nf["nullable"],
            }
        )
    # batch-only columns: every CARRIED file surfaces NULL for them
    out_fields.extend(
        {**nf, "nullable": True}
        for nf in new_json["fields"]
        if nf["name"] in new_fields
    )
    return {**new_json, "fields": out_fields}


class ConstraintViolation(Exception):
    """Raised when a commit's staged rows violate the table's CHECK
    constraints — the commit never becomes visible (staged files are
    removed, no manifest is written). Carries ``violations``:
    ``{constraint_name: violating_row_count}``."""

    def __init__(self, path: str, violations: dict):
        self.violations = violations
        super().__init__(
            f"commit to {path} rejected: "
            + ", ".join(
                f"{name!r} violated by {n} row(s)"
                for name, n in sorted(violations.items())
            )
        )


def snapshot_commit(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    stats_cols: list[str] | None = None,
    note: dict | None = None,
    bloom_cols: list[str] | None = None,
    expected_parent: int | None = None,
    ndv_cols: list[str] | None = None,
    partition_by: str | None = None,
    carry_files: list[dict] | None = None,
    constraints: dict[str, str | None] | None = None,
    eq_add: dict | None = None,
    evolve_partitioning: bool = False,
    carry_kmv: bool = False,
    _parent: dict | None = None,
) -> int:
    """Write ``df`` as the next version of the table at ``path`` and
    return the new version number.

    ``mode='overwrite'``: the new manifest lists only this commit's
    files (logical replace — old files stay on disk for time travel
    until :func:`snapshot_expire`). ``mode='append'``: the new
    manifest is parent's files + this commit's files.

    ``partition_by``: lay the staged files out Hive-style
    (``col=value/`` subdirs) and record each file's partition value in
    its manifest entry — manifest-level partition pruning for free
    (:func:`prune_files` treats the value as an exact min==max stat).
    With ``mode='replace_partitions'`` (requires ``partition_by``) the
    commit is a dynamic partition overwrite: parent files in the
    partitions this ``df`` touches are dropped from the new manifest,
    files in untouched partitions carry over, and the staged files
    join them — the daily-warehouse write pattern (rewrite 3 of 3,000
    days) with snapshot isolation and time travel intact. The old
    partition contents remain readable at older versions until
    expiry.

    ``expected_parent`` is the optimistic-concurrency guard for
    read-modify-write commits (compaction, MERGE rewrites): the commit
    only lands if the head is still that version, else
    :class:`SnapshotConflict` — an overwrite computed from a stale
    read must never silently discard a commit that landed in between.
    Blind appends don't need it; they rebase automatically.

    ``carry_files`` (mode='overwrite' only): parent-manifest file
    entries to carry into the new version UNCHANGED alongside this
    commit's staged files — the file-level rewrite primitive behind
    :func:`maintenance.snapshot_delete` (rewrite only the files a
    predicate may touch, keep the rest by reference). Entries are
    trusted verbatim (they come from a manifest read under
    ``expected_parent``, which this parameter therefore requires);
    any additive NDV sketch is dropped, since carried+staged no longer
    describes a pure append.

    ``constraints``: named CHECK expressions (``{"pos_qty":
    "quantity > 0"}``) enforced on this commit's staged rows and
    PERSISTED in the manifest — every later commit to the table
    enforces the inherited set without restating it (a None value
    drops a rule). A violating commit raises
    :class:`ConstraintViolation` and never becomes visible.

    ``eq_add`` (mode='append' only): register an EQUALITY-DELETE
    sidecar alongside this commit's staged rows —
    ``{"sidecar": <table-relative dir of key-tuple parquet>,
    "keys": [cols], "rows": n}``. The sidecar's key tuples stop being
    visible in every entry written BEFORE this commit (strictly
    smaller write sequence); this commit's own staged rows and all
    later appends are untouched. This is the merge-on-read upsert
    half (Iceberg v2 equality deletes): the writer never reads, probes
    or rewrites a target file — see
    :func:`maintenance.snapshot_eq_upsert`. Readers resolve the masks
    (:func:`read_entries`); compaction folds them; a sidecar that no
    longer applies to any entry is dropped from the manifest
    automatically.

    ``evolve_partitioning`` (mode='append' only): allow this append's
    ``partition_by`` to DIFFER from the table's current spec —
    Iceberg-style partition evolution. The spec changes going forward
    only: no data file moves (at 100 TB, re-laying the table out is
    exactly the rewrite evolution exists to avoid). Existing entries
    keep their layout and are annotated with the spec they were
    written under (``partition_col``); the manifest records the spec
    history (``partition_history``) while any old-spec entry remains
    reachable. Reads are unaffected — pruning is stats-driven and the
    scan already reconstructs each staging dir's layout — but
    VALUE-grouped operations become spec-aware:
    ``replace_partitions`` refuses old-spec files it cannot
    stats-prove disjoint from the replaced partitions, and
    ``compact_snapshot_partitions`` migrates old-spec files into the
    current layout (after which the history annotation drops away).

    ``carry_kmv``: carry the parent's stored NDV sketches into this
    commit's manifest. For the caller to assert ONLY when the commit
    provably does not grow the table's key population — pure mask
    commits (DV/equality deletes), compaction/fold rewrites of the
    same logical rows, layout migrations. Deletion makes a carried
    sketch an upper bound on live NDV, which is the safe direction
    for the join planner; without the flag these commits would drop
    the sketch entirely and every post-DML plan degrades to
    size-only advice. Commits that ADD data (append, merge, eq
    upsert) must instead sketch their batch via ``ndv_cols`` so the
    append-path merge keeps the sketch honest.

    ``_parent``: the parsed manifest of the parent this commit
    extends, when the caller already holds it (the DML core does). A
    published manifest never changes, so it is not read again; if the
    head moved meanwhile, the chain claim still raises
    :class:`SnapshotConflict` under ``expected_parent``.

    The commit protocol is stage → claim manifest slot → claim chain
    link (the atomic commit point); a crash before the chain claim
    leaves the staged files invisible and the previous version intact
    (tested).
    """
    if mode not in ("overwrite", "append", "replace_partitions"):
        raise ValueError(
            f"mode must be overwrite|append|replace_partitions, got {mode!r}"
        )
    if eq_add is not None:
        if mode != "append":
            raise ValueError("eq_add is an append-mode primitive")
        if not eq_add.get("sidecar") or not eq_add.get("keys"):
            raise ValueError("eq_add requires 'sidecar' and 'keys'")
    if mode == "replace_partitions" and not partition_by:
        raise ValueError("replace_partitions requires partition_by=")
    if evolve_partitioning and mode != "append":
        raise ValueError(
            "evolve_partitioning is an append-mode primitive (an "
            "overwrite replaces the layout wholesale; replace_partitions "
            "across specs is unsound)"
        )
    if carry_files is not None and mode != "overwrite":
        raise ValueError("carry_files is an overwrite-mode primitive")
    if carry_files is not None and expected_parent is None:
        raise ValueError(
            "carry_files requires expected_parent= (the entries were read "
            "from a specific parent manifest; a racing commit could have "
            "replaced them)"
        )
    root = Path(path)
    (root / _MANIFEST_DIR).mkdir(parents=True, exist_ok=True)
    # the parent this commit extends: under ``expected_parent`` exactly
    # that version, read directly (build refuses a moved head anyway,
    # and a reclaimed slot means the head moved); else the head
    pv_now = (
        _current_version(root) if expected_parent is None else expected_parent
    )
    try:
        _head_manifest = (
            {}
            if not pv_now
            else _parent
            if _parent is not None and _parent.get("version") == pv_now
            else _read_manifest(root, pv_now)
        )
    except FileNotFoundError:
        if expected_parent is None:
            raise
        raise SnapshotConflict(
            f"expected parent v{expected_parent} is gone at {path}"
        ) from None

    # stage data files once — immutable, so a commit retry never
    # rewrites them (dir name is uuid-unique, not version-bound)
    data_dir = root / f"data-{uuid.uuid4().hex[:8]}"
    writer = df.write.mode("error")
    if partition_by:
        writer = writer.partitionBy(partition_by)
    writer.parquet(str(data_dir))
    stats_cols = stats_cols or []
    # canonicalize composite bloom names ("k2,k1" → "k1,k2") so probe
    # and commit always agree on the manifest key
    bloom_cols = [
        composite_bloom_name(c.split(",")) if "," in c else c
        for c in (bloom_cols or [])
    ]

    def _bloom_covered(name: str, columns: list[str]) -> bool:
        parts = name.split(",") if "," in name else [name]
        return all(p in columns for p in parts)
    # inherit the parent's stats AND bloom coverage on EVERY commit to
    # an existing table (append, DML/compaction rewrites, overwrite):
    # a writer that forgets stats_cols would otherwise add stats-less
    # files that quietly disable manifest pruning table-wide (the
    # prune must keep any file it has no stats for), and a full
    # rewrite — compaction, clustering — would erase the table's
    # pruning coverage wholesale. The caller's explicit columns UNION
    # with the inherited set (a clustering rewrite adds its sort key,
    # it never drops 'ts'). Harvested from the parent manifest's file
    # entries; the partition column's synthetic min==max stat is
    # re-derived from the layout, not inherited.
    if pv_now:
        pfiles = _head_manifest["files"]
        inherited_stats = {
            c for e in pfiles for c in (e.get("stats") or {})
        } - {partition_by}
        inherited_blooms = {
            c for e in pfiles for c in (e.get("bloom") or {})
        }
        stats_cols = sorted(
            set(stats_cols)
            | {c for c in inherited_stats if c in df.columns}
        )
        bloom_cols = sorted(
            set(bloom_cols)
            | {c for c in inherited_blooms if _bloom_covered(c, df.columns)}
        )
    def _derive_rules(head_manifest: dict) -> dict:
        rules = dict(head_manifest.get("constraints", {}))
        for cname, cexpr in (constraints or {}).items():
            if cexpr is None:
                rules.pop(cname, None)
            else:
                rules[cname] = cexpr
        return rules

    # Columns constrained by a stats-provable CHECK rule (inherited or
    # added by this commit) get footer stats unconditionally: the
    # validation below — and every future commit's — can then be
    # proven from file metadata alone, no second pass over the staged
    # bytes. Dropped rules (None) don't force a stat.
    effective_constraints = _derive_rules(_head_manifest)
    stats_cols = sorted(
        set(stats_cols)
        | {
            c
            for ex in effective_constraints.values()
            if (c := _rule_stats_col(ex)) is not None and c in df.columns
        }
    )
    staged = []
    kmv = _commit_kmv(df, ndv_cols) if ndv_cols else {}
    for f in sorted(data_dir.rglob("*.parquet")):
        entry = {
            "path": str(f.relative_to(root)),
            "bytes": f.stat().st_size,
            "rows": _file_rows(f),
            "stats": _file_stats(f, stats_cols),
        }
        if partition_by:
            # Hive layout: .../<col>=<value>/part-*.parquet — record
            # the value AND surface it as an exact min==max stat so
            # manifest pruning on the partition column is free
            pv = f.parent.name.split("=", 1)[1]
            entry["partition"] = pv
            # self-describing spec: after a partition evolution, value
            # groupings must know WHICH column a value belongs to
            entry["partition_col"] = partition_by
            # skip the stat when the dir name is URL-escaped: a raw
            # predicate value would compare against the escaped form
            # and could WRONGLY prune a matching file
            if "%" not in pv:
                entry["stats"][partition_by] = {"min": pv, "max": pv}
        blooms = {
            c: b for c in bloom_cols if (b := _file_bloom(f, c)) is not None
        }
        if blooms:
            entry["bloom"] = blooms
        staged.append(entry)

    # zero-row staged files never enter the manifest: schema travels
    # in the metadata (readers synthesize empties from it), so a
    # rowless part file is pure scan-listing rent — a CDC stream of
    # pure-DV deletes or empty micro-batches would otherwise litter
    # thousands of stub entries every reader must open. The files are
    # unlinked too (a mixed dir stays referenced by its non-empty
    # siblings, so the sweep would never reclaim a lingering stub), and
    # a dir left with no staged file at all (a pure deletion-vector
    # commit) goes with them: no manifest will ever reference it.
    empty_staged = [e for e in staged if not e["rows"]]
    for e in empty_staged:
        (root / e["path"]).unlink(missing_ok=True)
    staged = [e for e in staged if e["rows"]]
    if not staged:
        shutil.rmtree(data_dir, ignore_errors=True)

    # Table CHECK constraints (Delta-style): inherited from the head
    # manifest, updated by this commit's ``constraints`` dict (a None
    # value DROPS a rule), persisted in the new manifest so every
    # future writer enforces them without restating them. Validated
    # against the STAGED rows only — carried/parent files passed their
    # own commit-time check — via one column-pruned read of the staged
    # parquet (the write already happened; re-reading just the
    # constraint columns is cheaper than a second pass over the input
    # plan). SQL CHECK semantics: a NULL predicate passes; only rows
    # where the expression is FALSE violate. A violating commit never
    # becomes visible: staged files are removed, no manifest slot is
    # claimed. If a blind append loses the chain-claim race below, the
    # rule set is RE-DERIVED from the actual parent and any rules that
    # grew are re-validated — a racing ADD CONSTRAINT (or property
    # change) is never silently erased from the head manifest.
    def _validate_staged(rules: dict) -> None:
        """Raise ConstraintViolation (and reclaim staged files) when a
        staged row fails any rule in ``rules``. Rules in the
        stats-provable fragment are proven from the staged entries'
        footer min/max/null-count stats (harvested above — kilobytes
        of metadata, zero Spark jobs); only the unproven remainder
        triggers the column-pruned re-read of the staged parquet.
        Range/NOT NULL rules on stats-covered columns — the common
        case — make constrained commits metadata-priced."""
        if not rules or not staged:
            return
        unproven = {
            cname: e
            for cname, e in rules.items()
            if not _stats_prove_pass(e, staged)
        }
        if not unproven:
            return
        from pyspark.sql import functions as F
        from pyspark.sql.types import StructType

        # read with the evolved (union) schema: a rule referencing a
        # table column the batch doesn't carry sees NULL (SQL CHECK
        # passes), matching how readers will see those rows — not an
        # analysis error
        union_schema = StructType.fromJson(
            _evolved_schema_json(
                _head_manifest.get("schema")
                if pv_now
                and (
                    mode in ("append", "replace_partitions")
                    or carry_files is not None
                )
                else None,
                df.schema,
            )
        )
        staged_df = (
            df.sparkSession.read.schema(union_schema).parquet(str(data_dir))
        )
        counts = staged_df.agg(
            *[
                F.sum(
                    (~F.coalesce(F.expr(e), F.lit(True))).cast("long")
                ).alias(cname)
                for cname, e in sorted(unproven.items())
            ]
        ).first()
        violations = {
            cname: int(counts[cname] or 0)
            for cname in unproven
            if (counts[cname] or 0) > 0
        }
        if violations:
            shutil.rmtree(data_dir, ignore_errors=True)
            raise ConstraintViolation(path, violations)

    _validate_staged(effective_constraints)

    # Optimistic concurrency through the shared publish loop
    # (:func:`_metadata_commit`): the version SLOT is an exclusive
    # manifest create and the COMMIT POINT an exclusive chain-link
    # create ``c{parent} → version``, so concurrent appends serialize
    # into a linear history instead of silently dropping each other's
    # files. A loser rebuilds its manifest on the fresh parent (staged
    # data files are reused — immutable and version-agnostic) and
    # retries. A crash between the two claims leaves a complete but
    # UNPUBLISHED orphan manifest: invisible to readers (they follow
    # the chain), reclaimed by snapshot_expire after its grace window.
    def build(parent: int, version: int) -> dict:
        nonlocal pv_now, _head_manifest, effective_constraints
        if expected_parent is not None and parent != expected_parent:
            # the staged files are referenced by NO manifest, so
            # expire would never reclaim them — the caller below
            # removes them, or every lost compaction race leaks a
            # table-sized directory
            raise SnapshotConflict(
                f"head moved {expected_parent} → {parent} at {path}"
            )
        if parent != pv_now:
            # a racing commit extended the chain after our pre-stage
            # read (blind appends rebase here): re-read the ACTUAL
            # parent and re-derive the constraint set and property
            # note from it — stamping the head from the pre-loop
            # snapshot would silently ERASE a rule or property the
            # racing commit added (e.g. an ADD CONSTRAINT or a
            # retrained index's centroids). Rules beyond what the
            # staged rows were already validated against are
            # re-validated before this commit may publish them.
            pv_now = parent
            _head_manifest = _read_manifest(root, parent) if parent else {}
            rebased_rules = _derive_rules(_head_manifest)
            _validate_staged(
                {
                    k: v
                    for k, v in rebased_rules.items()
                    if effective_constraints.get(k) != v
                }
            )
            effective_constraints = rebased_rules
        # the parent whose files, sequence counter and masks this
        # commit extends: the (rebased) head — a plain overwrite keeps
        # none of its files
        base_m = _head_manifest
        entries = staged
        table_kmv = kmv
        if carry_files is not None:
            entries = list(carry_files) + staged
            # a carried+staged mix is not a pure append: any additive
            # sketch no longer describes the table
            table_kmv = {}
        spec_evolved = False
        evolved_from: str | None = None
        if mode == "append" and parent:
            prior_spec = base_m.get("partition_by")
            if prior_spec != partition_by and not evolve_partitioning:
                raise ValueError(
                    f"table is partitioned by {prior_spec!r}; append "
                    f"must pass the same partition_by (got "
                    f"{partition_by!r}) — pass evolve_partitioning=True "
                    "to change the spec going forward; existing files "
                    "keep their layout"
                )
            prior_files = base_m["files"]
            if prior_spec != partition_by:
                # partition evolution: annotate every carried entry
                # with the spec it was written under (explicit None
                # for unpartitioned files) so value-grouped operations
                # can tell which entries their grouping is sound for
                spec_evolved, evolved_from = True, prior_spec
                prior_files = [
                    e
                    if "partition_col" in e
                    else {**e, "partition_col": prior_spec}
                    for e in prior_files
                ]
            entries = prior_files + staged
            # mergeable sketches: table-level NDV without rescanning —
            # min-k of the union equals the sketch of the union
            table_kmv = _merge_kmv(base_m.get("kmv", {}), kmv)
        elif mode == "replace_partitions" and parent:
            # Same layout guard as append: if the parent is
            # unpartitioned (file entries carry no 'partition' key) or
            # partitioned by a different column, the carry-over filter
            # below would keep EVERY prior file (None / other-column
            # values never match the touched set) — stale rows would
            # silently survive in the "replaced" partitions. Error out
            # instead of corrupting.
            if base_m.get("partition_by") != partition_by:
                raise ValueError(
                    f"table is partitioned by {base_m.get('partition_by')!r}; "
                    f"replace_partitions must pass the same partition_by "
                    f"(got {partition_by!r})"
                )
            touched = {e["partition"] for e in staged}
            cur_files, old_files = [], []
            for e in base_m["files"]:
                (
                    old_files
                    if _entry_old_spec(e, partition_by)
                    else cur_files
                ).append(e)
            # partition evolution: an old-spec file's 'partition' value
            # belongs to ANOTHER column — it can neither be matched
            # against the touched set (a string collision would drop
            # live rows) nor blindly carried (it may physically contain
            # rows of a replaced partition). Carry only what the footer
            # stats PROVE disjoint from every touched value; otherwise
            # refuse — compact_snapshot_partitions migrates the layout.
            for e in old_files:
                if _may_contain_value(
                    e.get("stats") or {}, partition_by, touched
                ):
                    raise ValueError(
                        f"file {e['path']} was written under a previous "
                        f"partition spec ({e.get('partition_col')!r}) "
                        f"and its stats cannot prove it avoids the "
                        f"replaced {partition_by} partitions "
                        f"{sorted(touched)} — run "
                        "compact_snapshot_partitions() to migrate the "
                        "layout, then retry"
                    )
            carried = [
                e for e in cur_files if e.get("partition") not in touched
            ] + old_files
            entries = carried + staged
            # replaced rows invalidate any additive sketch merge
            table_kmv = {}
        # carry_kmv: the caller asserts this commit doesn't grow the
        # key population (mask/fold/migration), so the parent's sketch
        # stays a sound NDV upper bound — see docstring
        if carry_kmv and not table_kmv:
            table_kmv = dict(base_m.get("kmv") or {})
        # Write-sequence bookkeeping (see _last_seq): staged entries
        # are stamped IN the retry loop — a rebase re-reads the parent,
        # so the sequence stays strictly monotonic across races.
        seq = _last_seq(base_m) + 1
        for e in staged:
            e["seq"] = seq
        # Equality-delete carry: masks survive every commit that keeps
        # masked entries reachable (append, replace_partitions, and
        # file-level rewrites via carry_files); a PLAIN overwrite is a
        # logical replace, so nothing old remains for them to mask.
        keeps_prior = bool(parent) and (
            mode != "overwrite" or carry_files is not None
        )
        carried_eq = (
            list(base_m.get("eq_deletes") or []) if keeps_prior else []
        )
        if eq_add is not None:
            carried_eq = carried_eq + [{**eq_add, "seq": seq}]
        # GC: a sidecar every remaining entry postdates masks nothing —
        # a full rewrite (compaction) folds ALL masks this way.
        live_eq = [
            d
            for d in carried_eq
            if any(e.get("seq", 0) < d["seq"] for e in entries)
        ]
        manifest = {
            "version": version,
            "parent": parent,
            "ts": time.time(),
            # schema travels in the metadata (Iceberg-style): readers
            # never infer from data files. Any commit that KEEPS prior
            # files publishes the widen-only UNION of the head schema
            # and the batch — an appended column evolves cleanly (old
            # files surface NULLs), and a batch missing a column can
            # never narrow the table. A plain overwrite is a logical
            # replace: its own schema stands.
            "schema": _evolved_schema_json(
                base_m.get("schema") if keeps_prior else None, df.schema
            ),
            # writer-supplied marker (e.g. streaming batch id) — the
            # hook idempotent sinks use to recognize a durable commit;
            # table-property note keys survive every same-table
            # commit, the caller's note wins on collision
            "note": {
                **_property_note(base_m.get("note")),
                **(note or {}),
            },
            "files": entries,
            "last_seq": seq,
        }
        if live_eq:
            manifest["eq_deletes"] = live_eq
        if table_kmv:
            manifest["kmv"] = table_kmv
        if effective_constraints:
            manifest["constraints"] = effective_constraints
        if partition_by:
            manifest["partition_by"] = partition_by
        # partition-spec history: kept while any reachable entry still
        # lives under a previous spec (readers keep per-staging-dir
        # layout reconstruction on for mixed/legacy layouts); dropped
        # automatically once rewrites/compaction unify the layout.
        hist = (
            list(base_m.get("partition_history") or [])
            if keeps_prior
            else []
        )
        if spec_evolved and (not hist or hist[-1] != evolved_from):
            hist = hist + [evolved_from]
        if hist and any(
            _entry_old_spec(e, partition_by or None) for e in entries
        ):
            manifest["partition_history"] = hist
        return manifest

    try:
        return _metadata_commit(root, build, create=True)
    except (SnapshotConflict, ValueError):
        # raised by build, before any claim: nothing references the
        # staged files (a ConstraintViolation reclaimed them already)
        shutil.rmtree(data_dir, ignore_errors=True)
        raise


def latest_note(path: str) -> dict | None:
    """The ``note`` recorded by the current snapshot, or None if the
    table doesn't exist yet."""
    root = Path(path)
    v = _current_version(root)
    if not v:
        return None
    return _read_manifest(root, v).get("note", {})


def last_committed_batch(
    path: str, app_id: str, *, _head: dict | None = None
) -> int | None:
    """Max streaming ``batch_id`` this ``app_id`` has durably committed
    to the table, scanning the PUBLISHED lineage's notes (Delta
    txnAppId/txnVersion pattern). Keying on the pair — not the latest
    note alone — keeps the idempotency check correct when several
    writers (or a restarted query with a new id) interleave commits on
    one table. Only published manifests count: an orphan from a crash
    between manifest write and chain claim never became visible, so
    its batch must be retried, not skipped.

    The walk is newest-first and RETURNS ON THE FIRST MATCH: within
    one app_id, batch ids are monotone in commit order (a restarted
    query gets a fresh id), so the newest note from this app carries
    its max batch id. Without the early return the check re-parses
    the whole lineage every micro-batch — O(history²) metadata bytes
    over a long-running append stream. ``_head``: the published head
    manifest when the caller already parsed it (the CDC sink hands the
    same manifest on to its merge), so the walk does not read it
    again."""
    root = Path(path)
    head = _head["version"] if _head else _current_version(root)
    for _, m in _lineage(root, head, _head):
        note = m.get("note") or {}
        if note.get("app_id") == app_id and note.get("batch_id") is not None:
            return int(note["batch_id"])
    return None


def snapshot_manifest(path: str, version: int | None = None) -> dict:
    """The raw manifest dict for a version (latest by default) —
    file entries with byte sizes and stats, schema, parent, note."""
    v, _ = _manifest_file(path, version)
    return _read_manifest(Path(path), v)


def snapshot_versions(path: str) -> list[dict]:
    """Retained PUBLISHED versions, oldest first:
    ``[{version, parent, ts, n_files}]``. Orphan manifests (commits
    that never reached their chain claim) are not history and are
    excluded."""
    root = Path(path)
    out = []
    for _, d in sorted(
        _lineage(root, _current_version(root)), key=lambda vm: vm[0]
    ):
        note = d.get("note") or {}
        op = note.get("op") or (
            "compaction" if note.get("compaction") else None
        )
        out.append(
            {
                "version": d["version"],
                "parent": d["parent"],
                "ts": d["ts"],
                "n_files": len(d["files"]),
                # audit-trail hint: which operation produced this
                # version (rollback / compaction / constraint change /
                # index maintenance), None for plain writes
                "op": op,
            }
        )
    return out


def _overlaps(stats: dict, col: str, op: str, value) -> bool:
    """Can a file with these stats contain a row satisfying
    ``col op value``?  Missing stats → must read (never wrong, just
    unpruned).

    Type discipline: ``_file_stats`` stringifies non-JSON-primitive
    stats (dates, decimals), so a typed predicate value is normalized
    through the SAME ``str()`` conversion when that preserves ordering
    (ISO date/datetime strings sort chronologically). Any other
    stat/value type mismatch — e.g. Decimal, whose string form is not
    order-preserving — degrades to must-read instead of raising.
    ``stats_cols`` should therefore be numeric, string, or date
    columns for pruning to bite."""
    import datetime

    s = stats.get(col)
    if s is None:
        return True
    lo, hi = s["min"], s["max"]
    if isinstance(lo, str) and not isinstance(value, str):
        if isinstance(value, (datetime.date, datetime.datetime)):
            value = str(value)  # ISO form: lexicographic == chronological
        else:
            return True  # incomparable stat/value types → never prune
    try:
        return _overlaps_cmp(lo, hi, op, value)
    except TypeError:
        return True


def _overlaps_cmp(lo, hi, op: str, value) -> bool:
    if op == "=":
        return lo <= value <= hi
    if op == "<":
        return lo < value
    if op == "<=":
        return lo <= value
    if op == ">":
        return hi > value
    if op == ">=":
        return hi >= value
    raise ValueError(f"unsupported op {op!r}")


def _entry_old_spec(e: dict, current_spec: str | None) -> bool:
    """True when a manifest file entry was written under a DIFFERENT
    partition spec than ``current_spec`` (partition evolution — see
    ``snapshot_commit(evolve_partitioning=True)``). Entries predating
    any evolution carry no ``partition_col`` annotation and are by
    construction current-spec; the evolution commit annotates every
    carried entry (explicit ``None`` for unpartitioned files), so the
    default here is only ever taken for never-evolved lineages."""
    return "partition_col" in e and e["partition_col"] != current_spec


def _may_contain_value(stats: dict, col: str, values) -> bool:
    """Can a file with these footer stats contain a row whose ``col``
    equals ANY of ``values``? Probe values arrive as Hive dir-name
    strings; numeric stats coerce the probe before comparing.
    Unprovable (missing stats, uncoercible) → True — the caller must
    assume overlap, mirroring ``_overlaps``'s never-wrongly-prune
    discipline.

    Hive dir names percent-escape special chars (':' → '%3A' etc. —
    the staging scan skips its synthetic stat for the same reason),
    so an escaped probe compared lexicographically against RAW footer
    min/max could falsely "prove" a file disjoint and silently carry
    stale rows through replace_partitions. Any probe still carrying a
    '%' after arrival is therefore treated as unprovable (True):
    correctness over pruning."""
    s = stats.get(col)
    for v in values:
        if isinstance(v, str) and "%" in v:
            return True  # escaped dir-name value: never provably absent
        probe = v
        lo = (s or {}).get("min")
        if (
            isinstance(lo, (int, float))
            and not isinstance(lo, bool)
            and isinstance(v, str)
        ):
            try:
                probe = type(lo)(v)
            except (TypeError, ValueError):
                probe = v
        if _overlaps(stats, col, "=", probe):
            return True
    return False


def entry_rows(e: dict) -> int:
    """LOGICAL row count of a manifest file entry: the parquet
    footer's physical count minus the rows masked by the entry's
    deletion vector. Planners and health reports must count logical
    rows — a 1 M-row file with 999 k masked rows contributes 1 k."""
    n = int(e.get("rows", 0))
    dv = e.get("dv")
    if dv:
        n -= int(dv.get("deleted", 0))
    return max(n, 0)


def prune_entries(
    path: str,
    predicates: list[tuple],
    version: int | None = None,
) -> tuple[list[dict], int]:
    """:func:`prune_files` returning the full manifest ENTRIES (the
    form DV-aware readers need — an entry carries its deletion-vector
    reference alongside the path)."""
    files = snapshot_manifest(path, version)["files"]
    return _prune(files, predicates), len(files)


def _prune(files: list[dict], predicates: list[tuple]) -> list[dict]:
    """The manifest entries of ``files`` whose stats can satisfy every
    predicate. An equality also probes the file's bloom: a key
    definitely absent from the file prunes it even when min/max ranges
    overlap (:func:`_may_hold_key`)."""
    probes = [
        _key_probe([c], [(val,)]) if op == "=" else None
        for c, op, val in predicates
    ]
    return [
        e
        for e in files
        if all(
            _overlaps(e.get("stats") or {}, c, op, val)
            if probe is None
            else _may_hold_key(e, [c], probe)
            for (c, op, val), probe in zip(predicates, probes)
        )
    ]


def prune_files(
    path: str,
    predicates: list[tuple],
    version: int | None = None,
) -> tuple[list[str], int]:
    """Resolve a snapshot's file list under conjunctive predicates
    ``[(col, op, value), ...]``. Returns ``(kept_paths, total_files)``
    — the manifest-level decision, exposed separately so tests (and
    operators) can assert exactly what gets skipped without running a
    scan."""
    root = Path(path)
    kept, total = prune_entries(path, predicates, version)
    return [str(root / e["path"]) for e in kept], total


#: normalized form of Spark's ``_metadata.file_path`` URI
#: (``file:/tmp/x`` or ``file:///tmp/x`` → ``/tmp/x``) — the join key
#: between a scan row's physical file and the manifest entry it came
#: from. Scheme-stripping beats URI-parsing here: the reader and the
#: manifest writer run on the same filesystem namespace by contract.
_URI_SCHEME_RE = r"^[a-zA-Z][a-zA-Z0-9+.\-]*:/+"


def _norm_file_uri_col():
    from pyspark.sql import functions as F

    return F.regexp_replace(
        F.col("_metadata.file_path").cast("string"), _URI_SCHEME_RE, "/"
    )


def read_entries(
    spark: SparkSession,
    root: Path,
    manifest: dict,
    entries: list[dict],
    *,
    with_lineage: bool = False,
) -> DataFrame:
    """Read the given manifest ENTRIES of a snapshot version — the one
    scan primitive every snapshot reader (``snapshot_read``, the
    file-pruned DML, IVM's delta reads) shares. Handles:

    - the manifest schema (zero listing cost; appended columns read as
      NULL from pre-evolution files);
    - Hive-partitioned layouts (each staging dir gets its own
      ``basePath`` so Spark reconstructs the partition column);
    - **deletion vectors**: entries carrying ``dv`` are read through a
      positional ANTI-JOIN against their sidecar's (file, pos) list —
      the merge-on-read half of DV DML. The sidecar is kilobytes-to-
      megabytes (it lists masked positions, not rows), broadcast when
      small; files without a DV never pay the join.
    - ``with_lineage=True``: the result additionally carries
      ``_file`` (the entry's manifest-relative path) and ``_pos``
      (the row's PHYSICAL position in its file — stable across DV
      masking, which is what lets a later DV reference it). The DV
      writer path reads with lineage; plain readers don't.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    schema_json = manifest.get("schema")
    schema = (
        StructType.fromJson(schema_json) if schema_json is not None else None
    )
    dv_entries = [e for e in entries if e.get("dv")]
    plain_entries = [e for e in entries if not e.get("dv")]

    def _empty():
        if schema is None:
            raise ValueError(
                "cannot synthesize an empty frame without a manifest schema"
            )
        out = spark.createDataFrame([], schema)
        if with_lineage:
            out = out.withColumn("_file", F.lit(None).cast("string"))
            out = out.withColumn("_pos", F.lit(None).cast("long"))
        return out

    if not entries:
        return _empty()

    # Equality-delete masks (the zero-target-read upsert's read half):
    # bucket entries by WHICH sidecars postdate them — sidecar sets are
    # nested suffixes of the sequence-sorted list, so there are at most
    # (#sidecars + 1) buckets, not one per entry — then anti-join each
    # bucket once per distinct key set against the (small, broadcast)
    # union of its applicable sidecars' key tuples. Entries no sidecar
    # postdates (the common case, and every file after a compaction
    # fold) recurse into the mask-free path below unchanged.
    eq_all = sorted(
        manifest.get("eq_deletes") or [],
        key=lambda d: (d["seq"], d["sidecar"]),
    )
    if eq_all:
        buckets: dict[int, list[dict]] = {}
        for e in entries:
            es = e.get("seq", 0)
            i = 0
            while i < len(eq_all) and eq_all[i]["seq"] <= es:
                i += 1
            buckets.setdefault(i, []).append(e)
        inner = {k: v for k, v in manifest.items() if k != "eq_deletes"}
        parts = []
        for i, subset in sorted(buckets.items()):
            df = read_entries(
                spark, root, inner, subset, with_lineage=with_lineage
            )
            by_keys: dict[tuple, list[dict]] = {}
            for d in eq_all[i:]:
                by_keys.setdefault(tuple(d["keys"]), []).append(d)
            cols_before = df.columns
            for keys, ds in sorted(by_keys.items()):
                dk = spark.read.parquet(
                    *[str(root / d["sidecar"]) for d in ds]
                ).select(*keys)
                if sum(int(d.get("rows", 0)) for d in ds) <= 4_000_000:
                    dk = F.broadcast(dk)
                df = df.join(dk, list(keys), "left_anti")
            parts.append(df.select(*cols_before))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def make_reader():
        r = spark.read
        if schema is not None:
            r = r.schema(schema)
        return r

    def _read_group(subset: list[dict], need_meta: bool):
        """One scan over ``subset``, with the per-staging-dir basePath
        contract for Hive layouts; ``need_meta`` attaches the
        normalized physical-file URI + row position and resolves them
        to the manifest-relative ``_file``/``_pos`` identity."""

        def attach_meta(df):
            if not need_meta:
                return df
            return df.select(
                "*",
                _norm_file_uri_col().alias("_dv_uri"),
                F.col("_metadata.row_index").alias("_pos"),
            )

        paths = [str(root / e["path"]) for e in subset]
        if manifest.get("partition_by") or manifest.get("partition_history"):
            # Hive-partitioned layout: the partition column lives in
            # the directory names, so each staging dir is read with
            # ITS OWN basePath (one basePath across several data-*
            # dirs trips Spark's conflicting-directory check) and the
            # groups union.
            by_base: dict[str, list[str]] = {}
            for f in paths:
                fp = Path(f)
                try:
                    base = str(root / fp.relative_to(root).parts[0])
                except ValueError:
                    # cloned entry: an absolute path into the SOURCE
                    # table — its own staging dir (above the col=value
                    # dir) is the basePath that lets Spark reconstruct
                    # the partition col
                    base = str(
                        fp.parent.parent
                        if "=" in fp.parent.name
                        else fp.parent
                    )
                by_base.setdefault(base, []).append(f)
            parts = [
                attach_meta(make_reader().option("basePath", b).parquet(*fs))
                for b, fs in sorted(by_base.items())
            ]
            df = parts[0]
            for p in parts[1:]:
                df = df.unionByName(p)
            if schema is not None:  # restore declared column order
                extra = ["_dv_uri", "_pos"] if need_meta else []
                df = df.select(*[f.name for f in schema.fields], *extra)
        else:
            df = attach_meta(make_reader().parquet(*paths))

        if need_meta:
            import os as _os

            # manifest-relative identity for every scan row: join the
            # normalized physical URI to the (tiny, broadcast) entry map
            mapping = spark.createDataFrame(
                [
                    (_os.path.abspath(str(root / e["path"])), e["path"])
                    for e in subset
                ],
                "_dv_uri string, _file string",
            )
            df = df.join(F.broadcast(mapping), "_dv_uri").drop("_dv_uri")
        return df

    masked = None
    if dv_entries:
        sidecars = sorted({e["dv"]["sidecar"] for e in dv_entries})
        pos = spark.read.parquet(*[str(root / s) for s in sidecars])

        def _sidecar_keys(e: dict) -> list[str]:
            # a sidecar's rows are keyed by the path form the entry had
            # in the table that WROTE the mask — which path-rewriting
            # metadata ops (clone, WAP publish) cannot rewrite inside
            # the (immutable) sidecar. Every form the entry could have
            # had is a candidate: verbatim; for a cloned pair (both
            # absolute) the path relative to the sidecar's owning root;
            # and for a relative entry its absolute resolution (a WAP
            # publish rebases an entry to relative after an audit-side
            # DV keyed its rows on the clone's absolute path). A
            # sidecar's rows use exactly one form, so candidates never
            # double-match.
            sc = e["dv"]["sidecar"]
            p = e["path"]
            keys = {p}
            if Path(sc).is_absolute() and Path(p).is_absolute():
                try:
                    keys.add(str(Path(p).relative_to(Path(sc).parent)))
                except ValueError:
                    pass
            if not Path(p).is_absolute():
                keys.add(str((root / p).resolve()))
            return sorted(keys)

        # keymap doubles as the stale-row filter: a sidecar may list
        # positions for files a LATER commit rewrote (their entries
        # dropped the dv) — the inner join keeps only current masks
        keymap = spark.createDataFrame(
            [
                (k, e["path"])
                for e in dv_entries
                for k in _sidecar_keys(e)
            ],
            "file string, _file string",
        )
        pos = pos.join(F.broadcast(keymap), "file").select(
            "_file", F.col("pos").alias("_pos")
        )
        total_deleted = sum(int(e["dv"].get("deleted", 0)) for e in dv_entries)
        if total_deleted <= 4_000_000:
            pos = F.broadcast(pos)
        masked = _read_group(dv_entries, need_meta=True).join(
            pos, ["_file", "_pos"], "left_anti"
        )
        if not with_lineage:
            masked = masked.drop("_file", "_pos")

    # files WITHOUT a DV never pay the metadata/mapping/anti-join
    # machinery — the common all-plain read is byte-identical to the
    # pre-DV plan
    plain = (
        _read_group(plain_entries, need_meta=with_lineage)
        if plain_entries
        else None
    )
    if plain is None and masked is None:
        return _empty()
    if masked is None:
        return plain
    if plain is None:
        return masked
    return plain.unionByName(masked)


def snapshot_read(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    predicates: list[tuple] | None = None,
    ref: str | None = None,
    asof: float | None = None,
) -> DataFrame:
    """Read a snapshot (latest by default; ``version=`` time-travels,
    ``ref=`` reads a named tag, ``asof=`` epoch seconds reads the
    newest version committed at or before that instant), scanning
    only the files whose manifest stats can match ``predicates``. The
    predicate is ALSO applied row-level in the plan (manifest pruning
    is file-granular; the residual filter still pushes down to
    parquet row groups), so results are exact even when stats are
    absent. Entries carrying a deletion vector are read merge-on-read
    style (positional anti-join against the DV sidecar — see
    :func:`read_entries`); masked rows never surface."""
    if sum(x is not None for x in (version, ref, asof)) > 1:
        raise ValueError("pass at most one of version= / ref= / asof=")
    root = Path(path)
    if ref is not None:
        version = resolve_ref(path, ref)
    if asof is not None:
        version = resolve_asof(path, asof)
    v = version if version is not None else _current_version(root)
    manifest = snapshot_manifest(path, v)
    kept = _prune(manifest["files"], predicates or [])
    if not kept and manifest.get("schema") is None:
        all_files = [str(root / e["path"]) for e in manifest["files"]]
        return spark.read.parquet(*all_files).limit(0)
    df = read_entries(spark, root, manifest, kept)
    import operator as _op

    ops = {
        "=": _op.eq, "<": _op.lt, "<=": _op.le, ">": _op.gt, ">=": _op.ge,
    }
    from pyspark.sql import functions as F

    for col, op, val in predicates or []:
        # Column expressions, not interpolated SQL strings: values with
        # quotes or SQL metacharacters stay plain values, and the
        # comparison still pushes down to the parquet row groups
        df = df.filter(ops[op](F.col(col), F.lit(val)))
    return df


_REFS_DIR = "_refs"


def _ref_path(root: Path, name: str) -> Path:
    if not name or not all(c.isalnum() or c in "-_." for c in name):
        raise ValueError(f"invalid ref name {name!r}")
    return root / _MANIFEST_DIR / _REFS_DIR / f"{name}.json"


def snapshot_tag(
    path: str, name: str, version: int | None = None, overwrite: bool = False
) -> int:
    """Pin a named ref (Iceberg-style tag) to a snapshot version —
    ``snapshot_tag(tbl, 'training-2026-08')`` freezes today's corpus
    so next month's retraining reads the EXACT same files by name,
    regardless of how many commits or expiries happen in between.

    Tags anchor retention: :func:`snapshot_expire` always keeps a
    tagged manifest and its file closure, so a tag is a durable
    reproducibility handle, not just an alias. Creating over an
    existing name requires ``overwrite=True`` (retagging is an
    explicit act — silent moves would un-freeze someone's dataset).
    """
    v, _ = _manifest_file(path, None if version is None else int(version))
    ref = _ref_path(Path(path), name)
    if ref.exists() and not overwrite:
        raise FileExistsError(f"tag {name!r} exists (overwrite=True to move)")
    ref.parent.mkdir(parents=True, exist_ok=True)
    tmp = ref.parent / f"_tag.{uuid.uuid4().hex[:8]}"
    tmp.write_text(json.dumps({"name": name, "version": v, "ts": time.time()}))
    tmp.replace(ref)  # atomic: readers see old or new, never half
    return v


def snapshot_tags(path: str) -> dict[str, int]:
    """All tags as ``{name: version}``."""
    refs = Path(path) / _MANIFEST_DIR / _REFS_DIR
    out = {}
    for p in sorted(refs.glob("*.json")) if refs.is_dir() else []:
        try:
            d = json.loads(p.read_text())
            out[d["name"]] = int(d["version"])
        except (ValueError, KeyError, json.JSONDecodeError):
            continue
    return out


def snapshot_drop_tag(path: str, name: str) -> None:
    ref = _ref_path(Path(path), name)
    if ref.exists():
        ref.unlink()


def resolve_ref(path: str, ref: str) -> int:
    """Resolve a tag name to its version (raises KeyError if absent)."""
    tags = snapshot_tags(path)
    if ref not in tags:
        raise KeyError(f"unknown ref {ref!r} at {path}; have {sorted(tags)}")
    return tags[ref]


def resolve_asof(path: str, ts: float) -> int:
    """TIMESTAMP AS OF: the newest PUBLISHED version committed at or
    before ``ts`` (epoch seconds) — "the table as the 02:00 batch saw
    it" without anyone having tagged that moment. Walks the published
    lineage (commit timestamps are recorded in each manifest at the
    atomic chain-link claim), so orphaned manifests from crashed
    writers never resolve. Raises ValueError when ``ts`` predates the
    table's first commit."""
    root = Path(path)
    best = None
    for v, m in _lineage(root, _current_version(root)):
        if m.get("ts", 0) <= ts and (best is None or v > best):
            best = v
    if best is None:
        raise ValueError(
            f"no version at or before ts={ts} at {path} (first commit "
            "is newer)"
        )
    return best


def snapshot_clone(
    src_path: str,
    dst_path: str,
    version: int | None = None,
    ref: str | None = None,
) -> int:
    """Zero-copy clone (Delta SHALLOW CLONE / Iceberg snapshot ref):
    create a NEW snapshot table whose v1 manifest references the
    source's data files by absolute path — no bytes move, so cloning
    a 100 TB table costs one manifest write. The clone then lives its
    own life: appends/DML/compaction land in the clone's root (the
    file-pruned DML carries foreign files by reference and rewrites
    locally), its history is independent, and its ``snapshot_expire``
    never reaches the source's files (containment-guarded) — the
    source's own expire remains the single owner of those bytes.

    The operational pattern this enables: branch production data for
    an experiment, mutate freely, drop the clone — all without
    copying or endangering the source. Clones of clones work (paths
    are already absolute). Caveat, documented not hidden: expiring
    the SOURCE below the cloned version deletes files the clone still
    references — pin the cloned version with :func:`snapshot_tag` on
    the source for the clone's lifetime.

    Returns the clone's version (always 1).
    """
    src_root = Path(src_path)
    if ref is not None and version is not None:
        raise ValueError("pass version= or ref=, not both")
    if ref is not None:
        version = resolve_ref(src_path, ref)
    m = snapshot_manifest(src_path, version)
    # every reference absolutized into the source root — data files,
    # DV sidecars (part of a file's identity: the clone must mask the
    # same positions) and eq sidecars (their key tuples need no
    # rebasing). The republish inherits the source's write-sequence
    # counter, so the clone's own future sidecars postdate every
    # inherited entry even though its VERSION numbers restart at 1.
    m = _map_refs(m, lambda p: str((src_root / p).resolve()))
    root = Path(dst_path)
    (root / _MANIFEST_DIR).mkdir(parents=True, exist_ok=True)

    def build(parent: int, new_version: int) -> dict:
        if parent:
            raise ValueError(f"clone target {dst_path} is already a table")
        # ephemeral note keys are dropped: inheriting the source's
        # streaming (app_id, batch_id) marker would make a stream
        # writing to the clone silently skip its first batches
        return _republish(
            m,
            0,
            new_version,
            {
                "cloned_from": str(src_root.resolve()),
                "src_version": m["version"],
            },
        )

    return _metadata_commit(root, build, create=True)


def snapshot_rollback(
    path: str,
    version: int | None = None,
    ref: str | None = None,
    asof: float | None = None,
    expected_parent: int | None = None,
) -> int:
    """Delta RESTORE / Iceberg rollback: make an earlier version's
    content the NEW head by committing a metadata-only snapshot whose
    manifest references that version's files verbatim. No data moves
    — restoring a 100 TB table costs one manifest write — and history
    stays LINEAR: the rolled-back commits remain time-travelable
    until :func:`snapshot_expire`, and readers walking the chain never
    see a fork (a raw pointer reset would re-use claimed chain slots
    and silently fork a paused committer; a restore COMMIT goes
    through the same slot/chain claim as every other write, so it
    serializes cleanly with concurrent appends).

    Address the restore point by ``version=``, ``ref=`` (named tag) or
    ``asof=`` (epoch seconds — the newest version committed at or
    before that instant): "roll back to before the bad backfill" is
    usually a timestamp, not a number. Restoring the current head is a
    no-op (returns the head, commits nothing). ``expected_parent``
    guards operator-driven restores the usual optimistic way: the
    restore lands only if nothing committed since you inspected the
    table, else :class:`SnapshotConflict`.

    The restored manifest carries the target's schema, partition
    layout, and KMV sketches — they describe exactly the bytes being
    re-referenced — and pins ``{"op": "rollback", "restored_version":
    N}`` in the note, so ``snapshot log`` reads as an audit trail.
    Returns the new head version.
    """
    root = Path(path)
    if sum(x is not None for x in (version, ref, asof)) != 1:
        raise ValueError("pass exactly one of version= / ref= / asof=")
    if ref is not None:
        version = resolve_ref(path, ref)
    if asof is not None:
        version = resolve_asof(path, asof)
    target = snapshot_manifest(path, version)  # raises if absent

    def build(parent: int, new_version: int) -> dict | None:
        if expected_parent is not None and parent != expected_parent:
            raise SnapshotConflict(
                f"head moved {expected_parent} → {parent} at {path}"
            )
        if parent == version:
            return None  # restoring the head restores nothing
        # the write-sequence counter stays monotonic from the HEAD so
        # post-restore commits never collide with restored sequences
        return _republish(
            target,
            parent,
            new_version,
            {"op": "rollback", "restored_version": version},
            head_seq=_last_seq(_read_manifest(root, parent)),
        )

    return _metadata_commit(root, build)


def _metadata_commit(
    root: Path, build_manifest, *, create: bool = False
) -> int:
    """The ONE publish loop every commit goes through — data commits
    (:func:`snapshot_commit`), clones, rollbacks, constraint changes
    and WAP publishes. ``build_manifest(parent, new_version)`` returns
    the manifest dict to publish on ``parent``, or None to abort (the
    no-op case returns the current head); it may raise to refuse the
    parent (e.g. :class:`SnapshotConflict`). The loop claims the
    version slot (exclusive manifest create), then the commit point
    (exclusive chain-link create ``c{parent}``); losing either race
    re-resolves the head and calls ``build_manifest`` again. A
    published commit advances the pointer cache. ``create`` allows
    publishing on an absent table (parent 0)."""
    while True:
        parent = _current_version(root)
        if not parent and not create:
            raise ValueError(f"{root} is not a snapshot table")
        new_version = max([parent, *_slots(root)]) + 1
        manifest = build_manifest(parent, new_version)
        if manifest is None:
            return parent
        try:
            with open(_manifest_path(root, new_version), "x") as f:
                f.write(json.dumps(manifest, indent=1))
        except FileExistsError:
            continue
        try:
            with open(_chain_path(root, parent), "x") as f:
                f.write(str(new_version))
            break
        except FileExistsError:
            # another commit extended this parent first — our manifest
            # is now an orphan slot; rebuild on the new head and retry
            continue
    # advance the pointer CACHE (never the source of truth): readers
    # start their chain walk here. The monotonic guard keeps a slow
    # old commit from regressing the hint; a lost update here only
    # means a longer chain walk, not a wrong read.
    if new_version > _read_pointer(root):
        _write_pointer(root, new_version)
    return new_version


def snapshot_add_constraint(
    spark: SparkSession, path: str, name: str, expr: str
) -> int:
    """ALTER TABLE ADD CONSTRAINT: validate the rule against the
    table's CURRENT rows (Delta semantics — a constraint the existing
    data already violates must be rejected, or the table would be
    born non-compliant), then commit a metadata-only version whose
    manifest carries the grown rule set. Every subsequent
    ``snapshot_commit`` enforces it automatically. Returns the new
    version; raises :class:`ConstraintViolation` when existing rows
    fail the rule."""
    from pyspark.sql import functions as F

    root = Path(path)
    head = _current_version(root)
    if not head:
        raise ValueError(f"{path} is not a snapshot table")
    current = snapshot_read(spark, path, version=head)
    bad = int(
        current.agg(
            F.sum(
                (~F.coalesce(F.expr(expr), F.lit(True))).cast("long")
            ).alias("n")
        ).first()["n"]
        or 0
    )
    if bad:
        raise ConstraintViolation(path, {name: bad})

    def build(parent: int, new_version: int) -> dict | None:
        prior = _read_manifest(root, parent)
        rules = dict(prior.get("constraints", {}))
        if rules.get(name) == expr:
            return None  # idempotent re-add
        # validation ran against `head`; if the table moved since, the
        # new rows were NOT checked — refuse rather than certify them
        if parent != head:
            raise SnapshotConflict(
                f"head moved {head} → {parent} at {path} during "
                "constraint validation; re-run snapshot_add_constraint"
            )
        rules[name] = expr
        return _republish(
            {**prior, "constraints": rules},
            parent,
            new_version,
            {"op": "add_constraint", "constraint": name},
        )

    return _metadata_commit(root, build)


def snapshot_drop_constraint(path: str, name: str) -> int:
    """ALTER TABLE DROP CONSTRAINT: metadata-only commit removing the
    rule; future commits stop enforcing it. Dropping an absent rule
    is a no-op (returns the head). No data validation — dropping a
    gate never invalidates stored rows."""
    root = Path(path)

    def build(parent: int, new_version: int) -> dict | None:
        prior = _read_manifest(root, parent)
        rules = dict(prior.get("constraints", {}))
        if name not in rules:
            return None
        rules.pop(name)
        return _republish(
            {**prior, "constraints": rules},
            parent,
            new_version,
            {"op": "drop_constraint", "constraint": name},
        )

    return _metadata_commit(root, build)


def snapshot_expire(
    path: str,
    keep_last: int = 1,
    orphan_grace_s: float = 300.0,
    keep_since: float | None = None,
) -> dict:
    """Garbage-collect history: keep the published pointer's manifest
    plus the newest ``keep_last`` PUBLISHED versions, delete older
    manifests and any data file no retained manifest references.
    Returns ``{versions_dropped, files_deleted}``. Expiry is the only
    operation that deletes data, and it never touches a file the
    retained snapshots can reach — concurrent readers of retained
    versions are safe.

    ``keep_since`` adds TIME-based retention (Delta's retention
    window / Iceberg's ``expire_snapshots(older_than)``): every
    published version committed at or after that epoch instant is
    retained IN ADDITION to the ``keep_last`` newest — "keep a week
    of time travel" is ``keep_since=time.time() - 7*86400``, however
    many commits the week held. Tags still pin regardless of age.

    Retention is anchored on the published LINEAGE (chain head →
    parent walk), never on filename order: a manifest outside the
    lineage is an *unpublished orphan* (a committer crashed — or lost
    its chain-claim race — between manifest create and publish, states
    the commit protocol explicitly permits), not history. Counting an
    orphan toward ``keep_last`` could expire the currently-published
    manifest and delete live data. Orphans are themselves expendable,
    but only once older than ``orphan_grace_s`` — an in-flight commit
    sits in that state for milliseconds, and the grace window keeps
    expire from racing it."""
    root = Path(path)
    head = _current_version(root)
    lineage = dict(_lineage(root, head))  # newest first
    keep_versions = set(list(lineage)[: max(keep_last, 1)])
    # tagged versions are pinned: a tag is a reproducibility promise,
    # so its manifest and file closure survive every expiry window
    keep_versions.update(snapshot_tags(path).values())
    if keep_since is not None:
        keep_versions.update(
            v for v, m in lineage.items() if m.get("ts", 0) >= keep_since
        )
    # each slot parses once: the lineage walk above parsed the
    # published ones, this the orphans
    slots = _slot_manifests(root, lineage)
    now = time.time()
    keep: dict[int, dict | None] = {}
    drop: dict[int, dict | None] = {}
    for version, m in slots.items():
        if version in keep_versions:
            keep[version] = m
        elif version in lineage:
            drop[version] = m  # published history beyond the window
        else:
            # orphan: deleted only after the grace window so expire
            # never races a commit between manifest write and publish
            ts = (
                m.get("ts", 0)
                if m is not None
                else _manifest_path(root, version).stat().st_mtime
            )
            (drop if now - ts > orphan_grace_s else keep)[version] = m
    # the live set holds RESOLVED paths: a WAP publish can reference a
    # file absolutely while a dropped pre-publish manifest references
    # the same bytes relatively — comparing raw path strings would
    # alias them apart and delete a live file. A retained version's
    # deletion-vector AND equality-delete sidecars are part of its
    # file closure: dropping one would silently RESURRECT the masked
    # rows for time-travel readers.
    def _res(p: str) -> str:
        return str((root / p).resolve())

    root_res = root.resolve()
    live = {_res(p) for m in keep.values() if m for p in _ref_paths(m)}
    deleted = 0
    for version, m in drop.items():
        for p in _ref_paths(m or {}):
            rp = _res(p)
            # containment guard: a CLONED table references the SOURCE
            # table's files and sidecars by absolute path — expire on
            # the clone must never reach outside its own root (the
            # source owns those bytes; its own expire reclaims them)
            if rp in live or not Path(rp).is_relative_to(root_res):
                continue
            fp = root / p
            if fp.is_dir():  # a DV / equality-delete sidecar
                deleted += sum(1 for _ in fp.rglob("*.parquet"))
                shutil.rmtree(fp)
            elif fp.exists():
                fp.unlink()
                deleted += 1
        _manifest_path(root, version).unlink()
        # NOTE: the dropped version's outgoing chain link (c<v>) is
        # deliberately KEPT. Links are the linearization history: a
        # reader holding a stale pointer hint below the retention
        # window must still walk c<v> → … → head, and a freed link
        # slot could be re-claimed by a paused committer, silently
        # forking history. Links are ~5-byte files; retaining all of
        # them is the cheap price of a race-free protocol.
    # re-anchor the pointer cache at the head BEFORE returning so new
    # walks start inside the retained window. Done after deletions is
    # fine *because* links survive: a reader that grabbed the old hint
    # mid-expire walks retained links to the head regardless.
    if head:
        _write_pointer(root, head)
    # remove emptied data dirs
    for d in root.glob("data-*"):
        if d.is_dir() and not any(d.iterdir()):
            shutil.rmtree(d)
    # hard-crash orphans: a writer killed between staging a
    # data-*/dv-*/eq-* dir and creating its manifest leaves bytes NO
    # manifest references — neither the kept set (whose closure is
    # `live`) nor a dropped one (reclaimed above). Sweep any staging
    # dir no remaining manifest reaches (slots claimed since the scan
    # above parse now, once), past the same grace window that
    # protects in-flight commits.
    for d in _orphan_staging_dirs(root, _slot_manifests(root, keep).values()):
        n_parquet = sum(1 for _ in d.rglob("*.parquet"))
        # a husk — _SUCCESS present but no data files (its version's
        # files were already expired) — can never be an in-flight
        # write (_SUCCESS lands last): remove immediately. A
        # parquet-less dir WITHOUT _SUCCESS is NOT proof of
        # abandonment: a racing Spark write holds only _temporary/
        # between job setup and its first task opening a part file,
        # and its manifest doesn't exist yet, so it is unreferenced
        # exactly like a crash orphan. Everything non-husk waits out
        # the same grace window that protects in-flight commits.
        is_husk = n_parquet == 0 and (d / "_SUCCESS").exists()
        if is_husk or now - d.stat().st_mtime > orphan_grace_s:
            deleted += n_parquet
            shutil.rmtree(d)
    return {"versions_dropped": len(drop), "files_deleted": deleted}


def snapshot_changes(
    spark: SparkSession,
    path: str,
    keys: list[str],
    v_from: int,
    v_to: int | None = None,
    files_scope: str = "changed",
) -> DataFrame:
    """Change data feed between two snapshots: one row per key whose
    row was inserted, deleted, or updated from ``v_from`` to ``v_to``
    (latest by default), tagged ``_change`` ∈ insert|delete|update.

    Computed as a full-outer key join with a whole-row fingerprint on
    each side — the downstream-sync primitive (feed a search index,
    invalidate caches, drive incremental gold refresh) that a plain
    overwrite table can't provide.

    ``files_scope="changed"`` (default) scopes BOTH sides to the
    manifest diff: only entries absent from the other version — by
    (path, deletion-vector) identity, since a DV commit changes a
    file's logical content without moving a byte — are read. Sound
    because data files are immutable: a key in a file both versions
    share is byte-identical on both sides and can never diff, and a
    row that merely moved files (compaction) appears on both sides of
    the scoped read with an equal fingerprint, so no spurious change
    is emitted. An append of one day's file into a 3-year table reads
    ONE file per side instead of six years of bytes — the difference
    between a CDF priced by the delta and one priced by the table.
    ``files_scope="all"`` reads both snapshots whole (the v1
    behavior, kept for auditing the scoped path).
    """
    from pyspark.sql import functions as F

    if files_scope not in ("changed", "all"):
        raise ValueError(
            f"files_scope must be changed|all, got {files_scope!r}"
        )
    root = Path(path)
    if files_scope == "changed":
        new_m = snapshot_manifest(path, v_to)
        old_m = snapshot_manifest(path, v_from)
        if new_m.get("schema") is None or old_m.get("schema") is None:
            # pre-schema-manifest table: an empty diff side can't be
            # synthesized without a schema — read whole (rare, legacy)
            files_scope = "all"
    if files_scope == "changed":

        def ident(e: dict) -> tuple:
            return (e["path"], (e.get("dv") or {}).get("sidecar"))

        old_by = {ident(e): e for e in old_m["files"]}
        new_by = {ident(e): e for e in new_m["files"]}
        old_full = [e for k, e in sorted(old_by.items()) if k not in new_by]
        new_full = [e for k, e in sorted(new_by.items()) if k not in old_by]
        # Entries both versions share by (path, DV) whose EQUALITY-
        # DELETE suffix grew: an eq-upsert changed their logical
        # content without moving a byte. Reading them whole on both
        # sides would be table-priced; instead the OLD side gains only
        # the rows the new sidecars mask (old-mask read SEMI-joined to
        # the delta key tuples — exactly the rows that stopped being
        # visible), and the new side gains nothing from them. A
        # re-inserted key then meets its old row in the outer join and
        # reports 'update', a purely-deleted key reports 'delete' —
        # the feed stays priced by the delta, not the table.
        eq_targeted: list[dict] = []
        delta_names: set[str] = set()
        for k in sorted(set(old_by) & set(new_by)):
            osfx = entry_eq_suffix(old_m, old_by[k])
            nsfx = entry_eq_suffix(new_m, new_by[k])
            if osfx == nsfx:
                continue
            if set(osfx) <= set(nsfx):
                eq_targeted.append(old_by[k])
                delta_names.update(set(nsfx) - set(osfx))
            else:
                # suffix shrank or diverged (no current producer does
                # this): full re-read of the entry on both sides —
                # identical rows cancel by fingerprint
                old_full.append(old_by[k])
                new_full.append(new_by[k])
        delta_ds = [
            d
            for d in new_m.get("eq_deletes") or []
            if d["sidecar"] in delta_names
        ]
        keysets = {tuple(d["keys"]) for d in delta_ds}
        if eq_targeted and len(keysets) > 1:
            # mixed key sets inside one diff window: fall back to the
            # provably-equivalent full re-read for those entries
            old_full.extend(eq_targeted)
            new_full.extend(new_by[ident(e)] for e in eq_targeted)
            eq_targeted = []
        new = read_entries(spark, root, new_m, new_full)
        old = read_entries(spark, root, old_m, old_full)
        if eq_targeted:
            kcols = list(next(iter(keysets)))
            dk = spark.read.parquet(
                *[str(root / d["sidecar"]) for d in delta_ds]
            ).select(*kcols)
            if sum(int(d.get("rows", 0)) for d in delta_ds) <= 4_000_000:
                dk = F.broadcast(dk)
            newly_masked = read_entries(
                spark, root, old_m, eq_targeted
            ).join(dk, kcols, "left_semi")
            old = old.unionByName(newly_masked)
    else:
        new = snapshot_read(spark, path, version=v_to)
        old = snapshot_read(spark, path, version=v_from)
    cols = [c for c in new.columns]
    fp = F.xxhash64(*[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in cols])
    o = old.select(*keys, fp.alias("_fp_old"))
    n = new.select(*cols, fp.alias("_fp_new"))
    j = o.join(n, keys, "full_outer")
    return (
        j.withColumn(
            "_change",
            F.when(F.col("_fp_old").isNull(), F.lit("insert"))
            .when(F.col("_fp_new").isNull(), F.lit("delete"))
            .when(F.col("_fp_old") != F.col("_fp_new"), F.lit("update"))
            .otherwise(F.lit(None)),
        )
        .filter(F.col("_change").isNotNull())
        .drop("_fp_old", "_fp_new")
    )
