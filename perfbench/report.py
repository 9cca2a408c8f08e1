"""Per-layer metrics and the layer report of a traced run.

Every per-layer metric of ``BENCHMARK.json`` is computed for both
workloads; a layer a workload does not exercise reads 0, which is the
prediction for it. Values are per pass (median over the traced passes),
except ``session.create_s`` (once per run) and the tracing overhead
(traced minus untraced end-to-end values of the same process).
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

from perfbench.tracing import EventLog

MEDALLION_LAYERS = ("etl", "sources.bronze", "medallion.silver", "medallion.gold")

# (name, unit) in the order BENCHMARK.json lists them
PER_LAYER = [
    ("session.create_s", "s"),
    ("queries.construct_s", "s"),
    ("queries.py4j_calls", "count"),
    ("catalog.load_table_calls", "count"),
    ("spark_sql.plan_gap_s", "s"),
    ("spark_sql.aqe_replans", "count"),
    ("spark_sql.stage_idle_s", "s"),
    ("spark_sql.stage_run_s", "s"),
    ("spark_sql.executor_cpu_s", "s"),
    ("spark_sql.shuffle_read_bytes", "bytes"),
    ("spark_sql.shuffle_write_bytes", "bytes"),
    ("spark_sql.spill_bytes", "bytes"),
    ("spark_sql.gc_s", "s"),
    ("spark_sql.residual_s", "s"),
    ("spark_sql.residual_share", "ratio"),
    *[(f"{layer}.{m}", unit) for layer in MEDALLION_LAYERS for m, unit in (
        ("s", "s"), ("rows_out", "count"), ("files_written", "count"),
        ("bytes_written", "bytes"))],
    ("maintenance.snapshot_merge_s", "s"),
    ("maintenance.files_rewritten", "count"),
    ("maintenance.files_carried", "count"),
    ("maintenance.rows_rewritten_per_change", "ratio"),
    ("snapshots.manifest_reads_per_commit", "count"),
    ("snapshots.manifest_bytes", "bytes"),
    ("snapshots.read_s", "s"),
    ("snapshots.files_scanned_ratio", "ratio"),
    ("streaming.add_batch_s", "s"),
    ("streaming.state_commit_s", "s"),
    ("streaming.state_rows", "count"),
    ("streaming.state_memory_bytes", "bytes"),
    ("streaming.rows_dropped_late", "count"),
    ("streaming.overhead_s", "s"),
    ("streaming.wal_commit_s", "s"),
    ("trace.overhead_setup_s", "s"),
    ("trace.overhead_driver_memory_mb", "MB"),
    ("trace.overhead_pass_s", "s"),
    ("trace.overhead_op_p50_s", "s"),
]

_SQL_KEYS = {
    "plan_gap_s": "spark_sql.plan_gap_s", "aqe_replans": "spark_sql.aqe_replans",
    "stage_idle_s": "spark_sql.stage_idle_s", "stage_run_s": "spark_sql.stage_run_s",
    "cpu_s": "spark_sql.executor_cpu_s", "gc_s": "spark_sql.gc_s",
    "shuffle_read_bytes": "spark_sql.shuffle_read_bytes",
    "shuffle_write_bytes": "spark_sql.shuffle_write_bytes",
    "spill_bytes": "spark_sql.spill_bytes",
}


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def _tree(tracer, root: dict) -> list[dict]:
    """``root`` and every span below it."""
    ids, out = {root["id"]}, [root]
    for s in tracer.spans[root["id"] + 1:]:
        if s["parent"] in ids:
            ids.add(s["id"])
            out.append(s)
    return out


def _dir_stats(path: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def _query_rows(tracer, log: EventLog, spans: list[dict]) -> dict[str, dict]:
    """Wall-time split of each query span of one pass."""
    rows = {}
    for q in (s for s in spans if s["name"] == "query"):
        kids = {c["name"]: c for c in tracer.children(q)}
        construct = _dur(kids["queries.construct"]) if "queries.construct" in kids else 0.0
        ex = kids.get("spark_sql.execute")
        bd = log.breakdown(ex["start"], ex["end"]) if ex else log.breakdown(0, 0)
        wall = _dur(q)
        spark_s = bd["plan_gap_s"] + bd["stage_run_s"] + bd["stage_idle_s"]
        rows[q["query"]] = {
            "wall_s": wall, "construct_s": construct,
            "plan_gap_s": bd["plan_gap_s"], "stage_run_s": bd["stage_run_s"],
            "stage_idle_s": bd["stage_idle_s"],
            "residual_s": wall - construct - spark_s,
            "py4j_calls": q["counts"]["py4j_calls"],
            "load_table_calls": q["counts"]["load_table_calls"],
            **{k: bd[k] for k in ("aqe_replans", "cpu_s", "gc_s", "shuffle_read_bytes",
                                  "shuffle_write_bytes", "spill_bytes")},
        }
    return rows


def _pass_metrics(tracer, log: EventLog, pass_span: dict) -> tuple[dict, dict]:
    spans = _tree(tracer, pass_span)
    m: dict[str, float] = defaultdict(float)
    queries = _query_rows(tracer, log, spans)
    if queries:
        for q in queries.values():
            m["queries.construct_s"] += q["construct_s"]
            m["queries.py4j_calls"] += q["py4j_calls"]
            m["catalog.load_table_calls"] += q["load_table_calls"]
            m["spark_sql.residual_s"] += q["residual_s"]
            for k, name in _SQL_KEYS.items():
                m[name] += q[k]
    else:
        bd = log.breakdown(pass_span["start"], pass_span["end"])
        for k, name in _SQL_KEYS.items():
            m[name] += bd[k]
        m["spark_sql.residual_s"] = bd["residual_s"]
        m["catalog.load_table_calls"] = pass_span["counts"]["load_table_calls"]
    m["spark_sql.residual_share"] = m["spark_sql.residual_s"] / _dur(pass_span)

    merges = [s for s in spans if s["name"] == "maintenance.snapshot_merge"]
    for s in spans:
        if s["name"] in MEDALLION_LAYERS:
            files, size = _dir_stats(s["out_dir"])
            m[f"{s['name']}.s"] += tracer.self_time(s)
            m[f"{s['name']}.rows_out"] += s.get("rows_out", 0)
            m[f"{s['name']}.files_written"] += files
            m[f"{s['name']}.bytes_written"] += size
        elif s["name"] == "snapshots.read":
            m["snapshots.read_s"] += _dur(s)
            m["snapshots.files_scanned_ratio"] = s.get("files_scanned_ratio", 0.0)
        elif s["name"] == "streaming.cdc_drain":
            for p in s.get("progress", []):
                d = p["durationMs"]
                m["streaming.overhead_s"] += (
                    d.get("triggerExecution", 0) - d.get("addBatch", 0)) / 1000
                m["streaming.wal_commit_s"] += d.get("walCommit", 0) / 1000
            n = max(len(merges), 1)
            m["snapshots.manifest_reads_per_commit"] = s["counts"]["manifest_reads"] / n
            m["snapshots.manifest_bytes"] = s["counts"]["manifest_bytes"] / n
        elif s["name"] == "streaming.dedup_drain":
            progress = s.get("progress", [])
            ops = [op for p in progress for op in p["stateOperators"]]
            m["streaming.add_batch_s"] += sum(
                p["durationMs"].get("addBatch", 0) for p in progress) / 1000
            m["streaming.state_commit_s"] += sum(op["commitTimeMs"] for op in ops) / 1000
            m["streaming.rows_dropped_late"] += sum(
                op["numRowsDroppedByWatermark"] for op in ops)
            if progress and progress[-1]["stateOperators"]:
                m["streaming.state_rows"] += sum(
                    op["numRowsTotal"] for op in progress[-1]["stateOperators"])
            m["streaming.state_memory_bytes"] += max(
                (op["memoryUsedBytes"] for op in ops), default=0)
    if merges:
        res = [s.get("result", {}) for s in merges]
        changed = sum(r.get("inserted", 0) + r.get("updated", 0) for r in res)
        written = changed + sum(r.get("kept", 0) for r in res)
        m["maintenance.snapshot_merge_s"] = sum(_dur(s) for s in merges)
        m["maintenance.files_rewritten"] = sum(r.get("files_rewritten", 0) for r in res)
        m["maintenance.files_carried"] = sum(r.get("files_carried", 0) for r in res)
        m["maintenance.rows_rewritten_per_change"] = written / changed if changed else 0.0
    return m, queries


def build(tracer, log_dir: str, workload: str, untraced: dict, traced: dict,
          pass_detail: list, session_create_s: float,
          out_dir: str) -> tuple[dict, list[str]]:
    """Per-layer metrics (the result line's ``metrics``) and the report
    lines printed before it. ``untraced`` and ``traced`` hold the
    end-to-end metrics of the two halves of the run; their difference is
    the tracing overhead. Spans and the report are also written to
    ``out_dir``."""
    log = EventLog(log_dir)
    passes = [s for s in tracer.spans if s["name"] == "pass"]
    per_pass = [_pass_metrics(tracer, log, p) for p in passes]
    values = {
        name: statistics.median(pm.get(name, 0.0) for pm, _ in per_pass)
        for name, _ in PER_LAYER
    }
    values["session.create_s"] = session_create_s
    for key in untraced:
        if traced[key] is not None and untraced[key] is not None:
            values[f"trace.overhead_{key}"] = traced[key] - untraced[key]
    metrics = {name: {"value": values[name], "unit": unit} for name, unit in PER_LAYER}

    self_s: dict[str, float] = defaultdict(float)
    for p in passes:
        for s in _tree(tracer, p):
            self_s[s["name"]] += tracer.self_time(s) / len(passes)
    report = {
        "workload": workload,
        "traced_passes": len(passes),
        "layer_self_s_per_pass": dict(self_s),
        "tracing_overhead": {
            k: {"untraced": untraced[k], "traced": traced[k],
                "overhead": values[f"trace.overhead_{k}"]}
            for k in untraced
        },
        "pass_detail": pass_detail,
    }
    by_query: dict[str, list[dict]] = defaultdict(list)
    for _, queries in per_pass:
        for name, row in queries.items():
            by_query[name].append(row)
    if by_query:
        split = {
            name: {k: statistics.median(r[k] for r in rows) for k in (
                "wall_s", "construct_s", "plan_gap_s", "stage_run_s",
                "stage_idle_s", "residual_s")}
            for name, rows in sorted(by_query.items())
        }
        for row in split.values():
            row["residual_share"] = row["residual_s"] / row["wall_s"]
        report["query_split"] = split
        total = {k: sum(r[k] for r in split.values()) for k in (
            "wall_s", "construct_s", "plan_gap_s", "stage_run_s", "stage_idle_s",
            "residual_s")}
        total["residual_share"] = total["residual_s"] / total["wall_s"]
        report["query_split_total"] = total

    os.makedirs(out_dir, exist_ok=True)
    tracer.dump(os.path.join(out_dir, "spans.json"))
    with open(os.path.join(out_dir, "report.json"), "w") as fh:
        json.dump(report, fh, indent=1)
    lines = [json.dumps({"trace_report": os.path.relpath(out_dir)})]
    lines += [json.dumps({k: v}) for k, v in report.items() if k != "pass_detail"]
    return metrics, lines
