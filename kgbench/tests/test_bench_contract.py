"""BENCHMARK.json names exactly what kgbench/run.py prints."""

import json
import os

from kgbench import trace as T
from kgbench.run import END_TO_END, WORKLOAD_NAMES
from kgbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_workloads_and_metrics_match_the_code():
    b = _bench()
    assert [w["name"] for w in b["workloads"]] == list(WORKLOAD_NAMES) == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == {n: T.unit_of(n) for n in T.metric_names()}


def test_setup_has_the_largest_bound():
    bounds = {m["name"]: m["bound"] for m in _bench()["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25
