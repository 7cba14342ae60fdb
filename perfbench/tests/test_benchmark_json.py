"""BENCHMARK.json names what the benchmark prints."""

import json
import os

from spans import per_layer_spec
from workloads import WORKLOADS

SPEC = os.path.join(os.path.dirname(__file__), "..", "..", "BENCHMARK.json")


def test_benchmark_json_matches_the_code():
    with open(SPEC) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == per_layer_spec()
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    assert {m["name"] for m in spec["end_to_end"]} == {
        "cycle_cpu_s", "peak_rss_mb", "setup_s"}
