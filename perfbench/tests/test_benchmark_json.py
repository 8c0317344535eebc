"""BENCHMARK.json names exactly the metrics run.py prints, with the same
units."""

import json
import os

import run as R

with open(os.path.join(R.ROOT, "BENCHMARK.json")) as fh:
    BENCH = json.load(fh)


def test_end_to_end_metrics_match():
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == R.END_TO_END


def test_per_layer_metrics_match():
    assert [(m["name"], m["unit"]) for m in BENCH["per_layer"]] == [
        (n, R.unit(n)) for n in R.PER_LAYER]


def test_listed_workloads_exist():
    import workloads

    assert {w["name"] for w in BENCH["workloads"]} <= set(workloads.WORKLOADS)


def test_setup_has_the_largest_bound():
    bounds = {m["name"]: m["bound"] for m in BENCH["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25
