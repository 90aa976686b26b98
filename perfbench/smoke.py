#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at tiny input sizes.

    python3 perfbench/smoke.py

Checks, for each workload in ``BENCHMARK.json``:

- an untraced run prints every end-to-end metric with its unit, checks
  its outputs and counts no failure;
- a traced run prints every per-layer metric with its unit, and in the
  written trace the self times of each operation's spans sum to its root
  span (within ``SELF_SUM_TOL_S``), the root span matches the measured
  operation wall time (within ``ROOT_WALL_TOL``), and the named layer
  spans cover at least ``MIN_ATTRIBUTED`` of it;

and that a run against deliberately wrong expected outputs counts every
operation as failed, which proves the output checks can fail.
Exits non-zero on the first failed check. Takes a few minutes (every run
starts its own Spark session).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SELF_SUM_TOL_S = 1e-6
ROOT_WALL_TOL = 0.05
MIN_ATTRIBUTED = 0.90

sys.path[:0] = [HERE, ROOT]
from run import END_TO_END, PER_LAYER  # noqa: E402
from spans import sql_metric_value  # noqa: E402


def run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", "2", "--trace", str(trace), "--tiny", *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        sys.exit(f"FAIL {' '.join(cmd)} exited {p.returncode}:\n{p.stderr[-3000:]}")
    out = json.loads(p.stdout.strip().splitlines()[-1])
    expect(set(out) == {"correct", "attempted", "failed", "metrics"}, f"result keys {set(out)}")
    expect(out["attempted"] >= 1, "no operation attempted")
    return out


def expect(cond: bool, what: str) -> None:
    if not cond:
        sys.exit(f"FAIL {what}")


def check_metrics(out: dict, wanted: dict, label: str) -> None:
    got = {k: v["unit"] for k, v in out["metrics"].items()}
    expect(got == wanted, f"{label}: metrics/units {got} != {wanted}")
    for k, v in out["metrics"].items():
        expect(isinstance(v["value"], (int, float)), f"{label}: {k} not a number")


def check_trace(workload: str) -> None:
    with open(os.path.join(HERE, "out", f"trace-{workload}-s3.json")) as f:
        t = json.load(f)
    spans = {s["id"]: s for s in t["spans"]}
    walls = {r["i"]: r["wall"] for r in t["records"] if r["traced"]}
    roots = [s for s in t["spans"] if s["name"] == "op"]
    expect(roots and len(roots) == len(walls), f"{workload}: one root span per traced op")
    for r in roots:
        tree = [s for s in t["spans"] if s["op"] == r["op"] and _root(s, spans) is r]
        dur = r["end"] - r["start"]
        expect(abs(sum(s["self"] for s in tree) - dur) <= SELF_SUM_TOL_S,
               f"{workload}: self times of op {r['op']} do not sum to its root span")
        expect(abs(walls[r["op"]] - dur) <= ROOT_WALL_TOL * walls[r["op"]],
               f"{workload}: root span of op {r['op']} differs from its wall time")
        expect(1 - r["self"] / dur >= MIN_ATTRIBUTED,
               f"{workload}: layer spans cover {1 - r['self'] / dur:.2f} of op {r['op']}")


def _root(s, spans):
    while s["parent"] is not None:
        s = spans[s["parent"]]
    return s


def unit_checks() -> None:
    expect(abs(sql_metric_value("total (min, med, max (stageId: taskId))\n9.7 s (2 s)") - 9.7) < 1e-9,
           "SQL metric with summary")
    expect(sql_metric_value("1.5 KiB") == 1536.0, "SQL metric in KiB")
    expect(sql_metric_value("12 ms") == 0.012, "SQL metric in ms")


def main() -> int:
    unit_checks()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    expect(e2e == END_TO_END, "BENCHMARK.json end_to_end != run.END_TO_END")
    expect(layer == PER_LAYER, "BENCHMARK.json per_layer != run.PER_LAYER")
    for w in (x["name"] for x in bench["workloads"]):
        out = run(w, 0)
        check_metrics(out, e2e, f"{w} untraced")
        expect(out["correct"] and out["failed"] == 0, f"{w}: outputs failed their checks")
        out = run(w, 1)
        check_metrics(out, layer, f"{w} traced")
        expect(out["correct"], f"{w} traced: outputs failed their checks")
        check_trace(w)
        print(f"ok {w}", flush=True)
    for w in (x["name"] for x in bench["workloads"]):
        out = run(w, 0, "--expect-wrong")
        expect(not out["correct"] and out["failed"] == out["attempted"],
               f"{w}: wrong expected outputs not counted as failures: {out}")
    print("ok wrong expectations are counted as failures", flush=True)
    print("smoke test passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
