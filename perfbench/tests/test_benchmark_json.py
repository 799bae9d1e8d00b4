"""BENCHMARK.json names exactly the metrics the benchmark reports, and
only workloads it can run."""

from __future__ import annotations

import json
from pathlib import Path

from perfbench import metrics, run

BENCH = json.loads((Path(__file__).resolve().parents[2] / "BENCHMARK.json").read_text())


def test_metric_lists_match():
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} == metrics.PER_LAYER


def test_listed_workloads_exist():
    names = [w["name"] for w in BENCH["workloads"]]
    assert len(names) >= 2 and set(names) <= set(run.WORKLOADS)


def test_setup_bound_is_the_largest():
    bounds = {m["name"]: m["bound"] for m in BENCH["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25
