"""``perfbench``'s ``fleet_triage`` workload (ingest, rollups, baselines,
all 11 detectors, timeline) stays correct: one untraced pass on the
shared session, checked against its DuckDB oracle. The benchmark runs
only the workloads ``BENCHMARK.json`` names, so without this test a
change that broke the in-order rollup or a detector check here would
pass every gate."""

import os
import sys

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")
)

import harness  # noqa: E402
import workloads as W  # noqa: E402


def test_fleet_triage_pass_is_correct(spark, tmp_path):
    wl = W.FleetTriage(1, str(tmp_path))
    got = wl.run_pass(spark, harness.Untraced())
    assert wl.check(got) == []
