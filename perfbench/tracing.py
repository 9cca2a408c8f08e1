"""Tracing for the per-layer run.

Three sources, none of them inside the engine:

- spans the benchmark records around its calls into each module
  (name, start, end, parent, run id; kept in memory, written at the end),
  plus counters that wrappers installed by :class:`Probes` add to the
  open spans;
- Spark's uncompressed event log, parsed after the session stops, for
  SQL executions, jobs, stages and task metrics;
- streaming progress (``StreamingQuery.recentProgress``, the payload a
  ``StreamingQueryListener`` receives), collected by the workload.
"""

from __future__ import annotations

import glob
import json
import os
import pathlib
import sys
import time
from collections import Counter
from contextlib import contextmanager, nullcontext


class Tracer:
    """In-memory spans. Times are epoch seconds, the clock the event
    log uses, so Spark events can be placed inside spans."""

    enabled = True

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans), "name": name, "run": self.run_id,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.time(), "end": None, "counts": Counter(), **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def count(self, name: str, n: float = 1) -> None:
        """Add to the counter ``name`` of every open span, so a parent
        span's counts include its children's."""
        for rec in self._stack:
            rec["counts"][name] += n

    def children(self, rec: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == rec["id"]]

    def self_time(self, rec: dict) -> float:
        """Duration minus the part of it that child spans cover."""
        kids = [(c["start"], c["end"]) for c in self.children(rec)]
        return (rec["end"] - rec["start"]) - _length(_union(kids))

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([{**s, "counts": dict(s["counts"])} for s in self.spans], fh)


class NullTracer:
    """Tracing off: spans record nothing and cost one no-op context."""

    enabled = False

    def span(self, name: str, **attrs):
        return nullcontext({})

    def count(self, name: str, n: float = 1) -> None:
        pass


class Probes:
    """Counting wrappers around public entry points, installed for the
    traced run only and removed on exit:

    - every py4j command (``GatewayClient.send_command``) → ``py4j_calls``;
    - every ``catalog.load_table`` call → ``load_table_calls``;
    - every read-open of a file under a snapshot table's ``_manifests/``
      → ``manifest_reads`` and ``manifest_bytes``;
    - every ``maintenance.snapshot_merge`` → a ``maintenance.snapshot_merge``
      span carrying the merge's returned counters.
    """

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self._undo: list = []

    def _patch(self, owner, attr: str, wrapper) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, wrapper)

    def __enter__(self):
        import py4j.java_gateway as jg

        from group5_spark import catalog
        from group5_spark.medallion import maintenance

        tracer = self.tracer
        send = jg.GatewayClient.send_command

        def send_command(client, *args, **kwargs):
            tracer.count("py4j_calls")
            return send(client, *args, **kwargs)

        self._patch(jg.GatewayClient, "send_command", send_command)

        load = catalog.load_table

        def load_table(*args, **kwargs):
            tracer.count("load_table_calls")
            return load(*args, **kwargs)

        # modules that did `from group5_spark.catalog import load_table`
        # hold their own reference: patch each of them too
        for mod in list(sys.modules.values()):
            if getattr(mod, "load_table", None) is load and (
                getattr(mod, "__name__", "").startswith("group5_spark")
            ):
                self._patch(mod, "load_table", load_table)

        path_open = pathlib.Path.open

        def open_(path, mode="r", *args, **kwargs):
            if "_manifests" in path.parts and not any(c in mode for c in "wax+"):
                tracer.count("manifest_reads")
                try:
                    tracer.count("manifest_bytes", os.stat(path).st_size)
                except OSError:
                    pass
            return path_open(path, mode, *args, **kwargs)

        self._patch(pathlib.Path, "open", open_)

        merge = maintenance.snapshot_merge

        def snapshot_merge(*args, **kwargs):
            with tracer.span("maintenance.snapshot_merge") as rec:
                out = merge(*args, **kwargs)
                rec["result"] = {k: v for k, v in out.items() if isinstance(v, (int, float))}
                return out

        self._patch(maintenance, "snapshot_merge", snapshot_merge)
        return self

    def __exit__(self, *exc):
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)
        return False


# -- interval arithmetic ------------------------------------------------------

def _union(intervals) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted((a, b) for a, b in intervals if b > a):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def _length(intervals) -> float:
    return sum(b - a for a, b in intervals)


def _clip(intervals, lo: float, hi: float):
    return [(max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)]


def _overlaps(base, others) -> list[tuple[float, float]]:
    """Pieces of ``base`` covered by ``others``."""
    b_u, o_u = _union(base), _union(others)
    return [(max(a, c), min(b, d)) for a, b in b_u for c, d in o_u if min(b, d) > max(a, c)]


def _minus(a_list, b_list) -> float:
    """Length of the union of ``a_list`` not covered by ``b_list``."""
    return _length(_union(a_list)) - _length(_union(_overlaps(a_list, b_list)))


# -- event log ----------------------------------------------------------------

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"
AQE_UPDATE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"


class EventLog:
    """SQL executions, stages and task metrics of one application, with
    times in epoch seconds. Executions and stages are attributed to spans
    by time, so one interval arithmetic serves queries and pipelines."""

    def __init__(self, log_dir: str):
        paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
        if len(paths) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, found {paths}")
        self.execs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        with open(paths[0], encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == SQL_START:
                    self.execs[ev["executionId"]] = {
                        "start": ev["time"] / 1000, "end": None,
                        "first_job": None, "aqe_updates": 0,
                    }
                elif kind == SQL_END:
                    if ev["executionId"] in self.execs:
                        self.execs[ev["executionId"]]["end"] = ev["time"] / 1000
                elif kind == AQE_UPDATE:
                    if ev["executionId"] in self.execs:
                        self.execs[ev["executionId"]]["aqe_updates"] += 1
                elif kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    eid = props.get("spark.sql.execution.id")
                    x = self.execs.get(int(eid)) if eid is not None else None
                    t = ev["Submission Time"] / 1000
                    if x is not None and (x["first_job"] is None or t < x["first_job"]):
                        x["first_job"] = t
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    if "Submission Time" not in info:
                        continue  # skipped stage: its output was reused
                    st = self._stage(info["Stage ID"])
                    st["start"] = info["Submission Time"] / 1000
                    st["end"] = info.get("Completion Time", info["Submission Time"]) / 1000
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    st = self._stage(ev["Stage ID"])
                    st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    st["gc_s"] += m.get("JVM GC Time", 0) / 1000
                    sr = m.get("Shuffle Read Metrics") or {}
                    st["shuffle_read_bytes"] += (
                        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0))
                    sw = m.get("Shuffle Write Metrics") or {}
                    st["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    st["spill_bytes"] += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0))
        for x in self.execs.values():
            if x["end"] is None:
                x["end"] = x["start"]

    def _stage(self, sid: int) -> dict:
        return self.stages.setdefault(sid, {
            "start": None, "end": None, "cpu_s": 0.0, "gc_s": 0.0,
            "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
        })

    def breakdown(self, lo: float, hi: float) -> dict:
        """Split the wall interval [lo, hi] by what Spark did in it.

        - ``plan_gap_s``: inside a SQL execution, before its first job,
          with no stage running (analysis, optimization, planning);
        - ``stage_run_s``: some stage running;
        - ``stage_idle_s``: inside a SQL execution after its first job
          with no stage running (AQE barriers, scheduling, result
          handling);
        - ``residual_s``: the rest, time outside any SQL execution.

        Counters sum over the executions and stages that start in it.
        """
        execs = [x for x in self.execs.values() if lo <= x["start"] < hi]
        stages = [s for s in self.stages.values()
                  if s["start"] is not None and lo <= s["start"] < hi]
        exec_iv = _clip([(x["start"], x["end"]) for x in execs], lo, hi)
        plan_iv = _clip(
            [(x["start"], x["first_job"] or x["end"]) for x in execs], lo, hi)
        stage_iv = _clip([(s["start"], s["end"]) for s in stages], lo, hi)
        stage_run = _length(_union(stage_iv))
        plan_gap = _minus(plan_iv, stage_iv)
        idle = _length(_union(exec_iv)) - _length(
            _union(_overlaps(exec_iv, plan_iv + stage_iv)))
        out = {
            "plan_gap_s": plan_gap,
            "stage_run_s": stage_run,
            "stage_idle_s": idle,
            "residual_s": (hi - lo) - plan_gap - stage_run - idle,
            "aqe_replans": sum(x["aqe_updates"] for x in execs),
        }
        for key in ("cpu_s", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
            out[key] = sum(s[key] for s in stages)
        return out

