"""Metric names, units and the statistics the benchmark reports.

``END_TO_END`` and ``PER_LAYER`` are the single source of the metric
set: ``BENCHMARK.json`` must list the same names, units and directions
(the benchmark's tests check this).
"""

from __future__ import annotations

import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

# name -> (unit, better)
END_TO_END: dict[str, tuple[str, str]] = {
    "setup_s": ("s", "lower"),
    "ops_per_s": ("ops/s", "higher"),
    "op_p50_s": ("s", "lower"),
}

# Per-op values are means over the timed ops of the traced window.
PER_LAYER: dict[str, tuple[str, str]] = {
    "registry.load_s": ("s", "lower"),
    "session.start_s": ("s", "lower"),
    "session.first_action_s": ("s", "lower"),
    "catalog.load_tables_s": ("s", "lower"),
    "build.s": ("s", "lower"),
    "build.jobs": ("count", "lower"),
    "build.stages": ("count", "lower"),
    "build.tasks": ("count", "lower"),
    "sink.s": ("s", "lower"),
    "sink.plan_s": ("s", "lower"),
    "sink.jobs": ("count", "lower"),
    "sink.stages": ("count", "lower"),
    "sink.tasks": ("count", "lower"),
    "sink.failed_tasks": ("count", "lower"),
    "exec.task_run_s": ("s", "lower"),
    "exec.busy_ratio": ("ratio", "higher"),
    "exec.shuffle_write_mb": ("MB", "lower"),
    "exec.shuffle_read_mb": ("MB", "lower"),
    "exec.gc_s": ("s", "lower"),
    "exec.spill_mb": ("MB", "lower"),
    "store.cold_op_s": ("s", "lower"),
    "store.warm_op_p50_s": ("s", "lower"),
    "store.cold_build_jobs": ("count", "lower"),
    "store.warm_build_jobs": ("count", "lower"),
    "mapreduce.files": ("count", "higher"),
    "mapreduce.input_mb": ("MB", "higher"),
    "mapreduce.map_stage_tasks": ("count", "higher"),
    "mapreduce.map_only_tasks": ("count", "higher"),
    "mapreduce.map_nonzero_exit": ("count", "lower"),
    "mapreduce.outputs_gathered_ratio": ("ratio", "higher"),
    "trace.ops_per_s": ("ops/s", "higher"),
    "trace.overhead_ops_per_s": ("ops/s", "lower"),
    # From the untraced window of the same run: too few ops per run for
    # a tail, and JVM heap growth for memory, to repeat within a bound.
    "op.tail_s": ("s", "lower"),
    "op.tail_pct": ("%", "higher"),
    "op.samples": ("count", "higher"),
    "mem.peak_rss_mb": ("MB", "lower"),
}


def tail(samples: list[float]) -> tuple[float, float, int]:
    """``(value, percentile, n)`` of the highest percentile that has at
    least ten samples beyond it.

    The value at 1-based rank ``k`` of the sorted samples has ``n - k``
    samples beyond it, so the answer is rank ``n - 10``, the
    ``100 * (n - 10) / n`` percentile. With ten samples or fewer no
    percentile qualifies; the maximum is reported as percentile 100 so
    the metric still exists, and ``n`` tells the reader it is thin."""
    if not samples:
        raise ValueError("no samples")
    ordered = sorted(samples)
    n = len(ordered)
    if n <= 10:
        return ordered[-1], 100.0, n
    k = n - 10
    return ordered[k - 1], 100.0 * k / n, n


def mean(values: list[float]) -> float:
    return statistics.fmean(values) if values else 0.0


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
