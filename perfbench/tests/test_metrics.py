"""Metric names and units, and the op-tail percentile rule."""

import json
from pathlib import Path

import pytest

from metrics import END_TO_END, NAME_RE, PER_LAYER, UNIT_RE, tail
from workloads import WORKLOADS

BENCHMARK = json.loads((Path(__file__).resolve().parents[2] / "BENCHMARK.json").read_text())


def test_names_and_units_follow_the_grammar():
    names = [*END_TO_END, *PER_LAYER, *WORKLOADS]
    assert len(names) == len(set(names))
    for name in names:
        assert NAME_RE.match(name), name
    for unit, better in [*END_TO_END.values(), *PER_LAYER.values()]:
        assert UNIT_RE.match(unit), unit
        assert better in ("higher", "lower")


def test_benchmark_json_lists_the_same_metrics_and_workloads():
    assert {m["name"]: (m["unit"], m["better"]) for m in BENCHMARK["end_to_end"]} == END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in BENCHMARK["per_layer"]} == PER_LAYER
    assert [w["name"] for w in BENCHMARK["workloads"]] == list(WORKLOADS)
    assert all(0 < m["bound"] <= 0.25 for m in BENCHMARK["end_to_end"])
    setup_bound = next(m["bound"] for m in BENCHMARK["end_to_end"] if m["name"] == "setup_s")
    assert setup_bound == max(m["bound"] for m in BENCHMARK["end_to_end"])


@pytest.mark.parametrize("n", [1, 5, 10])
def test_tail_without_ten_samples_beyond_any_rank_is_the_maximum(n):
    assert tail([float(i) for i in range(n, 0, -1)]) == (float(n), 100.0, n)


@pytest.mark.parametrize("n", [11, 12, 50, 100, 1000])
def test_tail_leaves_exactly_ten_samples_beyond(n):
    samples = [float(i) for i in reversed(range(n))]
    value, pct, count = tail(samples)
    assert count == n
    assert sum(s > value for s in samples) == 10
    assert pct == pytest.approx(100.0 * (n - 10) / n)


def test_tail_of_a_hundred_samples_is_p90():
    value, pct, _ = tail([float(i) for i in range(1, 101)])
    assert (value, pct) == (90.0, 90.0)


def test_tail_rejects_no_samples():
    with pytest.raises(ValueError):
        tail([])
