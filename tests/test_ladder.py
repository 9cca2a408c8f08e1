"""The scale-ladder harness (`tools/ladder.py`) end to end, without
Spark: the per-scale subprocess is stubbed to return results shaped
like the recorded runs, with every measured value set to 0.5·N^1.5.

Each ladder must set only its own keys of a copy of the real record
files, keep every other key as it was, fit the exponent 1.5, and leave
the repository's own record files untouched.
"""

from __future__ import annotations

import json
import sys
import types
from pathlib import Path

import pytest

from tools import ladder

REPO = Path(__file__).resolve().parent.parent
RECORDS = ("SCALE_TRAINOPS.json", "SCALE_CURVE.json")


def _shaped(template, n: int):
    """`template` with every number replaced by 0.5·n^1.5 and its
    `scale` set to n."""
    if isinstance(template, dict):
        return {
            k: n if k == "scale" else _shaped(v, n) for k, v in template.items()
        }
    if isinstance(template, (int, float)) and not isinstance(template, bool):
        return 0.5 * n**1.5
    return template


@pytest.fixture
def records(tmp_path, monkeypatch):
    import tools.ivf_probe_curve as ic
    import tools.merge_curve as mc
    import tools.scale_curve as sc

    real = {name: (REPO / name).read_bytes() for name in RECORDS}
    for name, raw in real.items():
        (tmp_path / name).write_bytes(raw)
    monkeypatch.setattr(ladder, "ROOT", tmp_path)

    trainops, curve = (json.loads(real[name]) for name in RECORDS)
    templates = {
        ("scale_curve.py", "run"): curve["per_scale"][0],
        ("scale_curve.py", "skew"): curve["skew"],
        ("scale_curve.py", "trainops"): trainops["per_scale"][0],
    }
    for mod in (mc, ic):
        for lad in mod.LADDERS.values():
            templates[(Path(mod.__file__).name, lad.worker)] = trainops[
                lad.key
            ]["runs"][0]
    calls = []

    def fake_run(cmd, **kwargs):
        script, step, n = Path(cmd[1]).name, cmd[2], int(cmd[3])
        calls.append((script, step, n))
        out = _shaped(templates.get((script, step), "prepared"), n)
        return types.SimpleNamespace(stdout=f"log line\nRESULT {json.dumps(out)}\n")

    monkeypatch.setattr(ladder, "subprocess", types.SimpleNamespace(run=fake_run))
    yield types.SimpleNamespace(
        dir=tmp_path, real=real, calls=calls, sc=sc, mc=mc
    )
    for name, raw in real.items():
        assert (REPO / name).read_bytes() == raw, f"{name} was written"


def _run(monkeypatch, module, *args):
    monkeypatch.setattr(sys, "argv", [module.__file__, *args])
    module.main()


def _load(records, name):
    return json.loads((records.dir / name).read_text())


def _assert_kept(before: dict, after: dict, written: set[str]):
    assert set(before) <= set(after)
    for key in set(before) - written:
        assert after[key] == before[key], key


def test_trainops_curve_updates_only_its_keys(records, monkeypatch):
    before = _load(records, "SCALE_TRAINOPS.json")
    _run(monkeypatch, records.sc, "trainops-curve", "--scales=1,4,16,64")
    after = _load(records, "SCALE_TRAINOPS.json")
    summary = {"base_sf_dir", "scales", "per_scale", "exponents"}
    _assert_kept(before, after, summary)
    assert after["scales"] == [1, 4, 16, 64]
    assert set(after["exponents"]) == set(before["exponents"])
    assert set(after["exponents"].values()) == {1.5}
    # each scale prepares its docs, then runs, in that order
    assert records.calls[:2] == [
        ("scale_curve.py", "materialize-docs", 1),
        ("scale_curve.py", "trainops", 1),
    ]


def test_scale_curve_updates_only_its_keys(records, monkeypatch):
    before = _load(records, "SCALE_CURVE.json")
    _run(monkeypatch, records.sc)
    after = _load(records, "SCALE_CURVE.json")
    _assert_kept(
        before, after, {"base_sf_dir", "scales", "per_scale", "exponents", "skew"}
    )
    assert {"notes", "skew_128", "streaming_drain"} <= set(after)
    assert set(after["exponents"].values()) == {1.5}
    assert after["skew"]["scale"] == 64
    assert records.calls[-1] == ("scale_curve.py", "skew", 64)
    assert _load(records, "SCALE_TRAINOPS.json") == json.loads(
        records.real["SCALE_TRAINOPS.json"]
    )


def test_merge_ladder_updates_only_its_key(records, monkeypatch):
    before = _load(records, "SCALE_TRAINOPS.json")
    _run(monkeypatch, records.mc, "--dv")
    after = _load(records, "SCALE_TRAINOPS.json")
    _assert_kept(before, after, {"fixed_batch_merge_dv"})
    rec = after["fixed_batch_merge_dv"]
    assert rec["method"] == before["fixed_batch_merge_dv"]["method"]
    assert [r["scale"] for r in rec["runs"]] == [1, 4, 16, 64]
    for name in ("rewrite_bytes_exponent", "dv_bytes_exponent", "dv_seconds_exponent"):
        assert rec[name] == 1.5
    assert [c[1] for c in records.calls] == ["--one-dv"] * 4
