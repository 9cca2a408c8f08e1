"""Tests of the benchmark itself: seeded inputs, the smoke run of each
workload on tiny inputs, a planted wrong expectation, and the refusal
to run without the engine.

    python3 -m pytest perfbench -q

The smoke and planted-failure tests start Spark and take minutes.
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import inputs, run, workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _tree_equal(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _tree_equal(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, workload):
    first = inputs.ensure_inputs(str(tmp_path / "a"), workload, 7, "tiny")
    again = inputs.ensure_inputs(str(tmp_path / "b"), workload, 7, "tiny")
    other = inputs.ensure_inputs(str(tmp_path / "c"), workload, 8, "tiny")
    assert _tree_equal(first, again)
    assert not _tree_equal(first, other)


def test_cached_inputs_are_reused(tmp_path):
    path = inputs.ensure_inputs(str(tmp_path), "landing_job", 3, "tiny")
    marker = os.path.join(path, "marker")
    open(marker, "w").close()
    assert inputs.ensure_inputs(str(tmp_path), "landing_job", 3, "tiny") == path
    assert os.path.exists(marker)


def _run(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=600)


# per-layer metrics that must read above 0 where the workload runs
# their layer, so a probe that stops counting fails the smoke test
EXERCISED = {
    "headline_queries": [
        "queries.construct_s", "queries.py4j_calls", "catalog.load_table_calls",
        "spark_sql.plan_gap_s", "spark_sql.stage_run_s", "spark_sql.executor_cpu_s",
    ],
    "landing_job": [
        *[f"{layer}.{m}" for layer in ("etl", "sources.bronze", "medallion.silver",
                                       "medallion.gold")
          for m in ("s", "rows_out", "files_written", "bytes_written")],
        "maintenance.snapshot_merge_s", "maintenance.files_rewritten",
        "maintenance.rows_rewritten_per_change",
        "snapshots.manifest_reads_per_commit", "snapshots.manifest_bytes",
        "snapshots.read_s", "snapshots.files_scanned_ratio",
        "streaming.add_batch_s", "streaming.state_rows", "streaming.state_memory_bytes",
        "streaming.rows_dropped_late", "streaming.overhead_s", "streaming.wal_commit_s",
        "spark_sql.stage_run_s",
    ],
}


@pytest.mark.parametrize("trace", ["0", "1"])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_every_metric_prints_with_its_unit(workload, trace):
    proc = _run("--workload", workload, "--seed", "5", "--seconds", "1",
                "--trace", trace, "--size", "tiny")
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["failed"] == 0, proc.stdout
    assert result["correct"] is True and result["attempted"] >= 1
    spec = SPEC["per_layer" if trace == "1" else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
        if trace == "0" or m["name"] in EXERCISED[workload] + ["session.create_s"]:
            assert got["value"] > 0, m["name"]


def test_planted_wrong_expectation_counts_as_failed(monkeypatch, capsys):
    """An output that disagrees with its expected value is a failed
    operation, so it raises the failure count and clears ``correct``."""
    warmup = workloads.HeadlineQueries.warmup

    def warmup_with_wrong_oracle(self, spark):
        warmup(self, spark)
        self.oracle_rows["pricing_summary"] += 1

    monkeypatch.setattr(workloads.HeadlineQueries, "warmup", warmup_with_wrong_oracle)
    for var in ("SPARK_LOCAL_DIRS", "TMPDIR", "JAVA_TOOL_OPTIONS"):
        monkeypatch.setenv(var, os.environ.get(var, ""))
    assert run.main([
        "--workload", "headline_queries", "--seed", "5", "--seconds", "1",
        "--trace", "0", "--size", "tiny"]) == 0
    result = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    passes = result["attempted"] // len(workloads.HEADLINE) - 1  # minus the oracle pass
    assert passes >= 1
    assert result["failed"] == passes
    assert result["correct"] is False


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, path), tmp_path / path,
                        ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run("--workload", WORKLOADS[0], "--seed", "1", "--seconds", "1",
                "--trace", "0", cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
