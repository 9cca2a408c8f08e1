"""Shared machinery for the scale ladders in ``tools/``.

A ladder measures one operation at growing data scales (1x, 4x, ...),
each scale in a fresh JVM, and records the per-scale results plus
least-squares scaling exponents into ``SCALE_TRAINOPS.json`` or
``SCALE_CURVE.json``. The ladder scripts (``merge_curve.py``,
``ivf_probe_curve.py``, ``scale_curve.py``) hold only their workers
and their ladders as data; everything else lives here once:

- :func:`dispatch` routes a command line to a worker (``<flag> N``,
  run inside the per-scale subprocess) or to a ladder (``<flag>
  [N ...]``, optional scale override);
- :func:`run_scales` runs a worker once per scale in a fresh
  subprocess and parses its one ``RESULT <json>`` line;
- :func:`fit_exponent` fits the slope of ln(value) on ln(scale);
- :func:`write_record` updates a record file in place, never dropping
  a key it was not asked to set;
- :class:`stopwatch` times a block.

Nothing here reads the environment: the ladder scripts own their
scale roots, which the tool smoke tests reload.
"""

from __future__ import annotations

import json
import math
import subprocess
import sys
import time
from dataclasses import dataclass
from pathlib import Path
from typing import Callable

ROOT = Path(__file__).resolve().parent.parent  # where the records live
RESULT = "RESULT "  # the worker's one stdout line the runner parses


class stopwatch:
    """``with stopwatch() as t: ...`` leaves the block's wall seconds,
    rounded to the millisecond, in ``t.s``."""

    def __enter__(self) -> "stopwatch":
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.s = round(time.perf_counter() - self._t0, 3)


def fit_exponent(points: list[tuple[int, float]]) -> float:
    """Least-squares slope of ln(value) on ln(scale): 1.0 is linear,
    below 1 sub-linear, above 1 super-linear. Values floor at 1e-6."""
    xs = [math.log(n) for n, _ in points]
    ys = [math.log(max(v, 1e-6)) for _, v in points]
    mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
    denom = sum((x - mx) ** 2 for x in xs) or 1.0
    return round(sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / denom, 3)


def run_scales(
    script: str, worker: str, scales: list[int], prep: str | None = None
) -> list[dict]:
    """Run ``script worker N`` for each scale N in a fresh subprocess
    (a fresh JVM per scale), after ``script prep N`` when a prep step
    is given, and return the parsed per-scale results."""
    runs = []
    for n in scales:
        for step in [prep, worker] if prep else [worker]:
            print(f"=== {step} scale x{n} ===", flush=True)
            out = subprocess.run(
                [sys.executable, script, step, str(n)],
                capture_output=True, text=True, check=True,
            )
        line = [
            l for l in out.stdout.splitlines() if l.startswith(RESULT)
        ][-1]
        runs.append(json.loads(line[len(RESULT):]))
        print(runs[-1], flush=True)
    return runs


def write_record(name: str, updates: dict) -> None:
    """Set ``updates``' top-level keys in the record file ``name`` and
    keep every other key it holds."""
    path = ROOT / name
    data = json.loads(path.read_text()) if path.exists() else {}
    data.update(updates)
    path.write_text(json.dumps(data, indent=1))
    print(json.dumps(updates, indent=1))


def _field(run: dict, path: str):
    for part in path.split("."):
        run = run[part]
    return run


@dataclass(frozen=True)
class Ladder:
    """One ladder as data. ``fields`` are ``(record field, dotted path
    into a per-scale result)``: a field named ``*_by_scale`` lists the
    value at each scale, any other field is its fitted exponent.
    ``summary``, when given, builds the record's top-level keys from
    ``(runs, scales)`` instead of the one ``key``."""

    worker: str
    key: str = ""
    method: str = ""
    fields: tuple[tuple[str, str], ...] = ()
    scales: tuple[int, ...] = (1, 4, 16, 64)
    prep: str | None = None
    file: str = "SCALE_TRAINOPS.json"
    summary: Callable[[list[dict], list[int]], dict] | None = None

    def run(self, script: str, scales: list[int]) -> None:
        scales = scales or list(self.scales)
        runs = run_scales(script, self.worker, scales, self.prep)
        if self.summary:
            write_record(self.file, self.summary(runs, scales))
            return
        rec = {"method": self.method, "runs": runs}
        for name, path in self.fields:
            if name.endswith("_by_scale"):
                rec[name] = [_field(r, path) for r in runs]
            else:
                rec[name] = fit_exponent(
                    [(r["scale"], _field(r, path)) for r in runs]
                )
        write_record(self.file, {self.key: rec})


def dispatch(
    script: str,
    workers: dict[str, Callable[[int], object]],
    ladders: dict[str, Ladder],
    args: list[str] | None = None,
) -> None:
    """``<worker flag> N`` runs one worker at scale N and prints its
    ``RESULT`` line; ``[<ladder flag>] [N ...]`` runs that ladder (the
    ``""`` one when no flag is given) at the listed scales, or at the
    ladder's own scales when none are."""
    args = sys.argv[1:] if args is None else args
    if args and args[0] in workers:
        print(RESULT + json.dumps(workers[args[0]](int(args[1]))))
        return
    flag = args[0] if args and args[0] in ladders else ""
    ladders[flag].run(script, [int(a) for a in args[bool(flag):]])
