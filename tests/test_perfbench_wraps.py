"""The library names ``perfbench`` swaps for spanned wrappers on a traced
run (``perfbench/run.py --trace 1``) all exist. The tracer looks each one
up with ``getattr`` on ``db_loganalyzer_spark.<module>``, so a rename or
a deletion would otherwise only show up as a failed traced pass. Pure
Python: no Spark session is started."""

import importlib
import os
import sys

import pytest

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")
)

import workloads as W  # noqa: E402


@pytest.mark.parametrize("workload", sorted(W.WORKLOADS))
def test_perfbench_wrap_names_resolve(workload):
    missing = [
        f"{mod}.{attr}"
        for mod, attr, _ in W.WORKLOADS[workload].wrap
        if not hasattr(importlib.import_module(f"db_loganalyzer_spark.{mod}"), attr)
    ]
    assert not missing
