"""Write-Audit-Publish (WAP) — stage writes on an isolated audit
table, validate them there, then publish the audited state to the
main table as ONE atomic, zero-copy metadata commit.

The Iceberg/Netflix WAP pattern re-expressed over this package's
snapshot layer (the reference pipeline has no staging story at all —
its ETL writes straight to the serving path,
``etl_job.py`` writes CSV in place):

- :func:`wap_begin` pins the main table's head with a tag (so its
  ``snapshot_expire`` cannot reclaim files the audit still
  references) and zero-copy clones it to the audit path — one
  manifest write, no data bytes move, 100 TB tables branch in
  milliseconds.
- The writer then runs ANY sequence of normal commits against the
  audit table: appends, MERGE, DV deletes, equality upserts,
  compaction. Table CHECK constraints travel with the clone, so the
  audit enforces production's rules; the auditor can additionally run
  arbitrary queries (row counts vs yesterday, quality gates,
  ``quality.check``) against the audit table — production readers
  never see any of it.
- :func:`wap_publish` atomically adopts the audit head into the main
  table: audit-local staging dirs are RENAMED into the main root
  (same filesystem, metadata-priced — publish cost is O(dirs), not
  O(bytes)), inherited references are rebased back to root-relative,
  and one metadata commit makes the audited state the new head —
  readers switch from the pre-audit version to the audited version
  with nothing in between. Optimistic concurrency: if the main head
  moved since ``wap_begin``, publish raises
  :class:`~.snapshots.SnapshotConflict` and the main table is
  untouched (re-begin from the new head and replay the batch).
- :func:`wap_abort` discards the audit table and releases the pin.

Deletion-vector subtlety: a DV sidecar's rows are keyed by the masked
file's path EXACTLY as the masking table saw it — a DV written in the
AUDIT against an inherited file keyed its rows on the clone's
absolute path, and no metadata op can rewrite the (immutable)
sidecar. Publish still rebases EVERY main-root reference to
root-relative (a published manifest must survive a table relocation,
and an absolute alias for bytes that pre-publish manifests reference
relatively must never exist — expire compares resolved paths, but the
cleanest alias is no alias); the mask keeps masking because
``read_entries`` matches sidecar rows under every path form the
entry could have had (``_sidecar_keys``).

Crash safety: publish renames dirs BEFORE the metadata commit. A
crash in between leaves those dirs unreferenced in the main root —
exactly the hard-crash-orphan shape ``snapshot_expire`` already
sweeps past its grace window — and the audit table intact minus the
moved dirs (re-begin). A commit-time conflict renames the moved dirs
back, so a lost race leaves both tables exactly as they were.
"""

from __future__ import annotations

import errno
import json
import os
import shutil
import time
from pathlib import Path

from .snapshots import (
    SnapshotConflict,
    _current_version,
    _map_refs,
    _metadata_commit,
    _republish,
    snapshot_clone,
    snapshot_drop_tag,
    snapshot_manifest,
    snapshot_tag,
)

__all__ = ["WapCleanupError", "wap_begin", "wap_publish", "wap_abort"]


class WapCleanupError(RuntimeError):
    """Publish SUCCEEDED (the metadata commit is durable at
    :attr:`published_version`) but post-commit cleanup — dropping the
    ``wap-*`` pin tag or removing the audit dir — failed. The main
    table is live and correct; run ``wap_abort`` to finish the
    cleanup (never re-publish)."""

    def __init__(self, published_version: int, cause: BaseException):
        self.published_version = published_version
        super().__init__(
            f"wap_publish committed version {published_version} but "
            f"post-commit cleanup failed ({cause!r}) — the publish is "
            "durable; run wap_abort to drop the lingering pin tag / "
            "audit dir"
        )

#: begin/publish bookkeeping, kept OUTSIDE the manifest chain (clone
#: notes are ephemeral and the audit may compact its own history).
_WAP_FILE = "_wap.json"


def wap_begin(src_path: str, audit_path: str) -> int:
    """Open a WAP session: pin the main head with a ``wap-<audit>``
    tag and zero-copy clone it to ``audit_path``. Returns the audit
    table's version (always 1). One session per audit name at a time
    (the tag create is exclusive)."""
    src_root = Path(src_path)
    audit_root = Path(audit_path)
    v = _current_version(src_root)
    if not v:
        raise ValueError(f"{src_path} is not a snapshot table")
    tag = f"wap-{audit_root.name}"
    snapshot_tag(src_path, tag, version=v)
    try:
        snapshot_clone(src_path, str(audit_root), version=v)
    except BaseException:
        snapshot_drop_tag(src_path, tag)
        raise
    (audit_root / _WAP_FILE).write_text(
        json.dumps(
            {
                "src": str(src_root.resolve()),
                "src_version": v,
                "tag": tag,
                "ts": time.time(),
            }
        )
    )
    return 1


def wap_publish(
    src_path: str, audit_path: str, *, keep_audit: bool = False
) -> int:
    """Atomically publish the audit table's head to the main table.
    Returns the main table's new version. Raises
    :class:`SnapshotConflict` (main untouched, audit intact) if the
    main head moved since :func:`wap_begin`.

    ``keep_audit=True`` preserves the audit directory for forensics,
    but publish CONSUMES the audit's data: its local staging dirs move
    into the main root, so the kept audit is manifest-history-only —
    reading it (or expiring it) after publish walks dangling entries.
    Inspect it with ``snapshot_manifest``/``snapshot_versions``, never
    ``snapshot_read``.

    PRECONDITION: audit and main roots must live on the SAME
    filesystem — publish's zero-copy guarantee is ``os.rename`` of the
    staging dirs, which cannot cross a device boundary. A cross-device
    layout fails fast with a clear error (and a clean rollback: every
    already-moved dir renames back, main untouched) instead of an
    opaque mid-publish OSError; fix the layout by placing the audit
    path on the main table's mount (a WAP audit is metadata + staged
    batches, never a data copy, so co-location costs nothing).

    Post-commit cleanup (pin-tag drop, audit removal) is best-effort:
    the publish is durable once the metadata commit lands, so a
    cleanup failure raises :class:`WapCleanupError` carrying the
    published version — the table is live; finish with ``wap_abort``
    (it re-derives the tag from the audit basename) rather than
    re-publishing."""
    src_root = Path(src_path)
    audit_root = Path(audit_path)
    wap_file = audit_root / _WAP_FILE
    if not wap_file.exists():
        raise ValueError(
            f"{audit_path} is not a WAP audit table (no {_WAP_FILE}; "
            "open one with wap_begin)"
        )
    wap = json.loads(wap_file.read_text())
    src_res = src_root.resolve()
    if Path(wap["src"]) != src_res:
        raise ValueError(
            f"audit table was opened against {wap['src']}, not {src_path}"
        )
    head_now = _current_version(src_root)
    if head_now != wap["src_version"]:
        raise SnapshotConflict(
            f"main head moved {wap['src_version']} → {head_now} at "
            f"{src_path} since wap_begin — re-begin and replay"
        )
    # every main-root reference rebases to root-relative — the
    # published manifest survives a table relocation and never aliases
    # a file against pre-publish (relative) manifests. A DV written in
    # the audit against an inherited file keyed its sidecar rows on the
    # clone's ABSOLUTE path; read_entries' keymap matches masks under
    # every path form the entry could have had (see _sidecar_keys), so
    # the rebase is safe.
    move: set[str] = set()

    def rebase(p: str) -> str:
        """Relative paths are audit-local: their top-level staging dir
        moves into the main root and the path stays valid verbatim.
        Absolute paths inside the main root rebase to root-relative;
        foreign ones (clone-of-clone) pass through."""
        pp = Path(p)
        if not pp.is_absolute():
            move.add(pp.parts[0])
            return p
        try:
            return str(pp.resolve().relative_to(src_res))
        except ValueError:
            return p

    m = _map_refs(snapshot_manifest(str(audit_root)), rebase)

    moved: list[str] = []
    try:
        for dname in sorted(move):
            target = src_root / dname
            if target.exists():
                raise FileExistsError(
                    f"staging dir {dname} already exists under "
                    f"{src_path} (uuid collision?) — publish aborted"
                )
            try:
                os.rename(audit_root / dname, target)
            except OSError as exc:
                if exc.errno == errno.EXDEV:
                    raise OSError(
                        errno.EXDEV,
                        f"wap_publish requires audit and main on the "
                        f"SAME filesystem: renaming staging dir "
                        f"{dname!r} from {audit_path} into {src_path} "
                        f"crossed a device boundary. Publish aborted "
                        f"cleanly (main untouched, audit intact) — "
                        f"re-begin with the audit path on the main "
                        f"table's mount.",
                    ) from exc
                raise
            # rename preserves the audit-era mtime — for any session
            # older than the orphan grace window, the moved dir would
            # look like an EXPIRED-grace crash orphan to a concurrent
            # snapshot_expire during the rename→commit window. Refresh
            # the clock so the grace window actually protects the
            # in-flight publish.
            os.utime(target)
            moved.append(dname)

        def build(parent: int, new_version: int) -> dict:
            if parent != wap["src_version"]:
                raise SnapshotConflict(
                    f"main head moved {wap['src_version']} → {parent} "
                    f"at {src_path} during publish"
                )
            # the audit inherited the main's write-sequence counter at
            # begin and only grew it; the main head is OCC-frozen at
            # the begin version, so the audit's counter is the max
            return _republish(
                m,
                parent,
                new_version,
                {"op": "wap_publish", "audit_version": m["version"]},
            )

        version = _metadata_commit(src_root, build)
    except BaseException:
        for dname in reversed(moved):
            os.rename(src_root / dname, audit_root / dname)
        raise
    # the commit above is the durability point — cleanup failures must
    # report the published version, not mask it (ADVICE r8: drop_tag
    # raising here used to leave the pin + audit lingering with no
    # hint that the publish itself had landed)
    try:
        snapshot_drop_tag(src_path, wap["tag"])
        if not keep_audit:
            shutil.rmtree(audit_root, ignore_errors=True)
    except Exception as exc:
        # Exception, not BaseException: a KeyboardInterrupt/SystemExit
        # during cleanup must propagate as itself, never be rewrapped
        # into an ordinary error an `except Exception` would swallow
        # (ADVICE r9); the published-version context only matters for
        # ordinary failures
        raise WapCleanupError(version, exc) from exc
    return version


def wap_abort(src_path: str, audit_path: str) -> None:
    """Discard the audit table and release the main-table pin. Safe on
    a half-published audit (publish crashed after its dir renames):
    the renamed dirs are unreferenced orphans in the main root and the
    next ``snapshot_expire`` sweeps them."""
    audit_root = Path(audit_path)
    wap_file = audit_root / _WAP_FILE
    # the tag name is derivable from the audit basename, so a corrupt
    # or missing _wap.json (crash mid-begin) never leaks the pin
    tag = f"wap-{audit_root.name}"
    if wap_file.exists():
        try:
            wap = json.loads(wap_file.read_text())
            if Path(wap.get("src", "")) == Path(src_path).resolve():
                tag = wap.get("tag") or tag
        except (ValueError, json.JSONDecodeError):
            pass
    shutil.rmtree(audit_root, ignore_errors=True)
    snapshot_drop_tag(src_path, tag)
