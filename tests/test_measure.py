"""scripts/measure.py on the session Spark: the sweep's rows and per-stage
rows, its storage hygiene and --resume, the sweep comparison and the
plan dump."""

import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"))

import measure  # noqa: E402

ENTRIES = ["a06_metric_baselines", "d09_rollback_analysis"]
STAGE_KEYS = {
    "stage", "name", "sec", "task_sec", "tasks", "gc_sec", "fetch_wait_sec",
    "shuffle_read_mb", "shuffle_write_mb", "input_mb", "spill_mb", "peak_exec_mb",
}


def _read(path):
    with open(path) as f:
        return [json.loads(line) for line in f]


def test_sweep_stages_and_resume(spark, sf_dir, tmp_path, persistent_rdds):
    out = str(tmp_path / "sweep.jsonl")
    before = persistent_rdds()
    measure.sweep(spark, sf_dir, out, only=ENTRIES, stages=True)
    rows = _read(out)
    assert sorted(r["query"] for r in rows) == sorted(ENTRIES)
    for r in rows:
        assert set(r) == {"query", "sec", "stages"}, r.get("error")
        assert 1 <= len(r["stages"]) <= measure.MAX_STAGES
        for s in r["stages"]:
            assert set(s) == STAGE_KEYS
            assert s["tasks"] >= 1
        task_secs = [s["task_sec"] for s in r["stages"]]
        assert task_secs == sorted(task_secs, reverse=True)
    # d09 stores intermediates; the sweep releases what the entries took
    # and no other storage (ids may leave the set meanwhile, when Spark's
    # ContextCleaner unpersists what earlier tests dropped)
    assert persistent_rdds() - before == set()
    measure.sweep(spark, sf_dir, out, only=ENTRIES, stages=True, resume=True)
    assert _read(out) == rows


def test_sweep_records_skip_rows(spark, sf_dir, tmp_path):
    out = str(tmp_path / "skip.jsonl")
    measure.sweep(spark, sf_dir, out, only=["m02_ngram_jaccard"])
    assert [set(r) for r in _read(out)] == [{"query", "skipped"}]


def test_compare_flags_superlinear_entry(tmp_path, capsys):
    small, big = tmp_path / "small.jsonl", tmp_path / "big.jsonl"
    small.write_text(
        "".join(json.dumps(r) + "\n" for r in [
            {"query": "linear", "sec": 1.0},
            {"query": "superlinear", "sec": 1.0},
            {"query": "broken", "sec": 1.0, "error": "X"},
        ])
    )
    big.write_text(
        "".join(json.dumps(r) + "\n" for r in [
            {"query": "linear", "sec": 10.0},
            {"query": "superlinear", "sec": 100.0},
            {"query": "broken", "sec": 1.0},
        ])
    )
    measure.compare(str(small), str(big), 10.0, 2.0)
    lines = {ln.split()[0]: ln for ln in capsys.readouterr().out.splitlines() if ln.strip()}
    assert lines["superlinear"].endswith("<-- FLAG")
    assert not lines["linear"].endswith("<-- FLAG")
    assert "broken" not in lines
    assert lines["2"].startswith("2 compared, 1 above 2.0x linear")


def test_plans_combined_and_per_entry(spark, sf_dir, tmp_path):
    combined = tmp_path / "plans.txt"
    measure.plans(spark, sf_dir, str(combined), ["a06_metric_baselines"])
    assert "== Physical Plan ==" in combined.read_text()
    measure.plans(spark, sf_dir, str(tmp_path / "r"), ["a06_metric_baselines"], suffix="after")
    text = (tmp_path / "r" / "a06_metric_baselines_after.txt").read_text()
    assert text.startswith(f"== a06_metric_baselines @ {sf_dir} ==")
    assert "== Physical Plan ==" in text
