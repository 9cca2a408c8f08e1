"""One owner for the snapshot manifest format (medallion/snapshots.py):
a reused version slot always reads its newest content, every
metadata-only republish carries the whole table contract, and no other
module spells the manifest layout or parses a manifest itself."""

from __future__ import annotations

import ast
import io
import json
import tokenize
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from group5_spark.medallion import snapshots as snap
from group5_spark.medallion.maintenance import (
    snapshot_delete,
    snapshot_eq_delete,
)
from group5_spark.medallion.wap import wap_begin, wap_publish

PKG = Path(__file__).resolve().parents[1] / "group5_spark"
OWNER = PKG / "medallion" / "snapshots.py"


def test_reused_slot_reads_its_new_content(spark, tmp_path):
    """Expiry reclaims an orphan slot and the next commit claims the
    same number with different content: every read of that version
    must see the new content, never the reclaimed orphan's."""
    t = str(tmp_path / "tbl")
    root = Path(t)
    assert snap.snapshot_commit(spark.range(0, 10), t) == 1
    # a crashed writer's v2: claimed slot, no chain link, other content
    orphan = {
        **snap.snapshot_manifest(t, 1),
        "version": 2,
        "parent": 1,
        "ts": 0,
        "note": {"who": "orphan"},
    }
    (root / "_manifests" / "v00002.json").write_text(json.dumps(orphan))
    assert snap.snapshot_manifest(t, 2)["note"] == {"who": "orphan"}
    assert snap.snapshot_expire(t, keep_last=1, orphan_grace_s=0.01) == {
        "versions_dropped": 1,
        "files_deleted": 0,
    }
    v = snap.snapshot_commit(spark.range(100, 103), t, note={"who": "new"})
    assert v == 2
    assert snap.snapshot_manifest(t, 2)["note"] == {"who": "new"}
    assert snap.snapshot_manifest(t)["version"] == 2
    got = snap.snapshot_read(spark, t, version=2).collect()
    assert sorted(r["id"] for r in got) == [100, 101, 102]
    assert snap.snapshot_read(spark, t).count() == 3


def test_expire_parses_each_slot_once(spark, tmp_path, monkeypatch):
    """Expiry's live set, dropped-file sweep and staging-dir sweep share
    one parse per manifest slot (published, dropped or orphan)."""
    import pathlib
    import time

    t = str(tmp_path / "tbl")
    root = Path(t)
    for lo in (0, 10, 20):
        snap.snapshot_commit(spark.range(lo, lo + 5), t, mode="append")
    # an in-flight orphan (inside the grace window): kept, parsed once
    inflight = {**snap.snapshot_manifest(t), "version": 4, "ts": time.time()}
    (root / "_manifests" / "v00004.json").write_text(json.dumps(inflight))
    opened: list[str] = []
    real_open = pathlib.Path.open

    def counting_open(self, mode="r", *args, **kwargs):
        if self.parent.name == "_manifests" and self.name.startswith("v"):
            opened.append(self.name)
        return real_open(self, mode, *args, **kwargs)

    monkeypatch.setattr(pathlib.Path, "open", counting_open)
    out = snap.snapshot_expire(t, keep_last=2, orphan_grace_s=300.0)
    monkeypatch.setattr(pathlib.Path, "open", real_open)
    assert out["versions_dropped"] == 1
    assert sorted(opened) == [f"v{v:05d}.json" for v in (1, 2, 3, 4)]
    assert snap.snapshot_read(spark, t).count() == 15


def _contract_table(spark, t: str) -> int:
    """A ≤50-row table holding every table-contract key: an evolved
    partition spec (``partition_history``), a KMV sketch, a CHECK
    constraint, a property note, a deletion vector and an equality-
    delete sidecar. Returns its head version."""
    rows = spark.range(0, 20).select(
        F.col("id"), (F.col("id") % 2).alias("p")
    )
    snap.snapshot_commit(
        rows.coalesce(1), t, stats_cols=["id"], ndv_cols=["id"],
        constraints={"nonneg": "id >= 0"}, note={"model": "x"},
    )
    snap.snapshot_commit(
        spark.range(20, 30).select(F.col("id"), (F.col("id") % 2).alias("p")),
        t, mode="append", partition_by="p", evolve_partitioning=True,
        ndv_cols=["id"],
    )
    snapshot_delete(spark, t, [("id", "=", 3)], dv_threshold=0.5)
    snapshot_eq_delete(
        spark, t, spark.createDataFrame([(5,), (25,)], "id long")
    )
    return snap.snapshot_manifest(t)["version"]


_CONTRACT = (
    "schema", "partition_by", "partition_history", "kmv", "constraints",
)


def _refs_view(m: dict, fn) -> tuple:
    """The manifest's file entries and eq sidecars with every path
    mapped through ``fn`` (the expected rebase of each republish)."""
    files = sorted(
        (
            fn(e["path"]),
            fn(e["dv"]["sidecar"]) if e.get("dv") else None,
            json.dumps(
                {**e, "path": None, "dv": {**e["dv"], "sidecar": None}}
                if e.get("dv")
                else {**e, "path": None},
                sort_keys=True,
            ),
        )
        for e in m["files"]
    )
    eq = sorted(
        (fn(d["sidecar"]), json.dumps({**d, "sidecar": None}, sort_keys=True))
        for d in m.get("eq_deletes") or []
    )
    return files, eq


@pytest.mark.parametrize("path_kind", ["clone", "rollback", "wap_publish"])
def test_republish_carries_the_whole_table_contract(
    spark, tmp_path, path_kind
):
    t = str(tmp_path / "src")
    v = _contract_table(spark, t)
    src = snap.snapshot_manifest(t, v)
    assert all(src.get(k) for k in _CONTRACT), sorted(src)
    assert src["partition_history"] == [None]
    assert any(e.get("dv") for e in src["files"]) and src["eq_deletes"]
    expected_rows = sorted(
        r["id"] for r in snap.snapshot_read(spark, t).collect()
    )
    assert 3 not in expected_rows and 5 not in expected_rows

    def same(p: str) -> str:
        return p

    if path_kind == "clone":
        out = str(tmp_path / "clone")
        snap.snapshot_clone(t, out)

        def rebase(p: str) -> str:
            return str((Path(t) / p).resolve())

    elif path_kind == "rollback":
        out, rebase = t, same
        # a plain overwrite sheds every key a commit may drop
        snap.snapshot_commit(
            spark.range(0, 5).select(F.col("id"), F.lit(0).alias("p")),
            t, note={"model": "y"},
        )
        snap.snapshot_rollback(t, version=v)
    else:
        out, rebase = t, same
        wap_begin(t, str(tmp_path / "audit"))
        wap_publish(t, str(tmp_path / "audit"))

    got = snap.snapshot_manifest(out)
    for k in _CONTRACT:
        assert got.get(k) == src[k], k
    assert _refs_view(got, same) == _refs_view(src, rebase)
    assert got["note"]["model"] == "x"
    assert got["last_seq"] >= src["last_seq"]
    assert sorted(
        r["id"] for r in snap.snapshot_read(spark, out).collect()
    ) == expected_rows


def _strings_and_names(path: Path):
    """Every string literal value and identifier of a module."""
    for tok in tokenize.generate_tokens(io.StringIO(path.read_text()).readline):
        if tok.type == tokenize.NAME:
            yield tok.string
        elif tok.type == tokenize.STRING:
            try:
                yield str(ast.literal_eval(tok.string))
            except ValueError:  # f-string
                yield tok.string


def _json_loads_callers(path: Path) -> dict[str, str]:
    """``{function name: its source}`` for every innermost function of
    a module that calls ``json.loads``."""
    src = path.read_text()
    tree = ast.parse(src)
    out: dict[str, str] = {}

    def visit(node, fn):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, child)
                continue
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == "loads"
                and isinstance(child.func.value, ast.Name)
                and child.func.value.id in ("json", "_json")
            ):
                name = fn.name if fn is not None else "<module>"
                out[name] = ast.get_source_segment(src, fn or tree)
            visit(child, fn)

    visit(tree, None)
    return out


def test_only_snapshots_owns_the_manifest_format():
    """No module but ``snapshots.py`` spells the manifest directory or
    its slot names, and only ``snapshots._read_manifest`` parses a
    manifest: every other ``json.loads`` reads something else."""
    modules = sorted(PKG.rglob("*.py"))
    assert OWNER in modules
    spelled = [
        (str(m.relative_to(PKG)), s)
        for m in modules
        if m != OWNER
        for s in _strings_and_names(m)
        if s == "_MANIFEST_DIR"
        or "_manifests" in Path(s).parts
        or "v*.json" in s
    ]
    assert spelled == []
    manifest_paths = ("_manifest_path", "_manifest_file", "_slots")
    parsers = [
        (str(m.relative_to(PKG)), name)
        for m in modules
        for name, body in _json_loads_callers(m).items()
        if any(h in body for h in manifest_paths)
    ]
    assert parsers == [("medallion/snapshots.py", "_read_manifest")]
    # the owner's other json.loads calls parse a Spark schema and tags
    assert set(_json_loads_callers(OWNER)) == {
        "_read_manifest", "_evolved_schema_json", "snapshot_tags",
    }


def test_no_module_level_manifest_cache():
    """Slots are reused after expiry, so a parsed-manifest memo could
    serve reclaimed content: the owner holds no cache decorator and no
    module-level mapping."""
    tree = ast.parse(OWNER.read_text())
    for node in ast.walk(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            for d in node.decorator_list:
                name = ast.unparse(d)
                assert "cache" not in name, (node.name, name)
    for node in tree.body:
        if isinstance(node, (ast.Assign, ast.AnnAssign)) and node.value:
            v = node.value
            assert not isinstance(v, (ast.Dict, ast.DictComp)), ast.unparse(node)
            assert not (
                isinstance(v, ast.Call)
                and ast.unparse(v.func) in ("dict", "OrderedDict", "defaultdict")
            ), ast.unparse(node)
