"""BENCHMARK.json and the harness agree on every metric name and unit."""

import json
import os

from perfbench import layers, run, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _manifest():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_and_units_match_the_harness():
    m = _manifest()
    assert {e["name"]: e["unit"] for e in m["end_to_end"]} == run.END_TO_END_UNITS
    assert {e["name"]: e["unit"] for e in m["per_layer"]} == layers.PER_LAYER_UNITS


def test_workloads_match_and_page_fractions_fit():
    m = _manifest()
    assert [w["name"] for w in m["workloads"]] == list(workloads.WORKLOADS)
    for fields in workloads.WORKLOADS.values():
        assert fields["dup_fraction"] + fields["boiler_fraction"] < 1.0


def test_setup_has_the_largest_bound():
    bounds = {e["name"]: e["bound"] for e in _manifest()["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values())
