#!/usr/bin/env python3
"""Rank ops by Spark jobs launched (``build.jobs + sink.jobs``).

    python3 perfbench/report.py [RESULT.json ...]

Reads the result files that traced runs (``run.py --trace 1``) leave in
``perfbench/.work/results`` (all of them when no file is named) and
prints one row per op label: mean jobs, stages and tasks per op inside
``fn()`` (build) and in the sink, and the mean op latency, most jobs
first.
"""

from __future__ import annotations

import glob
import json
import sys
from collections import defaultdict
from pathlib import Path

RESULTS = Path(__file__).resolve().parent / ".work" / "results"
FIELDS = ("build_jobs", "sink_jobs", "build_stages", "sink_stages", "build_tasks", "sink_tasks")


def rank(paths: list[str]) -> list[dict]:
    rows: dict[tuple[str, str], list[dict]] = defaultdict(list)
    for path in paths:
        with open(path, encoding="utf-8") as f:
            detail = json.load(f)
        for op in (detail.get("traced") or {}).get("ops", []):
            if "latency_s" in op:
                rows[(detail["workload"], op["label"])].append(op)
    table = []
    for (workload, label), ops in rows.items():
        row = {"workload": workload, "op": label, "n": len(ops)}
        for k in (*FIELDS, "latency_s"):
            row[k] = sum(o.get(k, 0) for o in ops) / len(ops)
        row["jobs"] = row["build_jobs"] + row["sink_jobs"]
        table.append(row)
    table.sort(key=lambda r: (-r["jobs"], r["op"]))
    return table


def main(argv: list[str]) -> int:
    paths = argv or sorted(glob.glob(str(RESULTS / "*-trace1.json")))
    if not paths:
        print("no traced results; run perfbench/run.py --trace 1 first", file=sys.stderr)
        return 1
    print(
        f"{'op':44s} {'workload':16s} {'n':>3s} {'jobs':>7s} {'build':>7s} {'sink':>7s}"
        f" {'stages':>7s} {'tasks':>8s} {'op_s':>7s}"
    )
    for r in rank(paths):
        print(
            f"{r['op']:44s} {r['workload']:16s} {r['n']:3d} {r['jobs']:7.1f}"
            f" {r['build_jobs']:7.1f} {r['sink_jobs']:7.1f}"
            f" {r['build_stages'] + r['sink_stages']:7.1f}"
            f" {r['build_tasks'] + r['sink_tasks']:8.1f} {r['latency_s']:7.3f}"
        )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
