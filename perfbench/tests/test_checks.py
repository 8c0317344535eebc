"""Each workload's output check passes a result built from the oracle and
fails it once corrupted. No Spark: results are built in Python."""

import copy
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import oracle as O
import workloads as W


# -- incident_rca ------------------------------------------------------------


@pytest.fixture(scope="module")
def rca(tmp_path_factory):
    return W.IncidentRCA(5, str(tmp_path_factory.mktemp("rca")))


def rca_result(want: dict, k: int) -> dict:
    return {"corpus": k, "hypothesis": want["hypothesis"], "confidence": 0.85,
            "iterations": 2, "tools_used": list(want["tools_used"][0]),
            "inspected_buckets": list(want["inspected_buckets"][0]),
            "prompts": [(50_000, "0123456789abcdef")], "found_line": want["found_line"]}


@pytest.mark.parametrize("k", [0, 1, 2])
def test_rca_check_accepts_the_expected_result(rca, k):
    assert rca.check(rca_result(rca.expected(k), k)) == []


@pytest.mark.parametrize("corrupt", [
    lambda r: r.update(hypothesis="Root cause is the file not found errors"),
    lambda r: r.update(confidence=0.4),
    lambda r: r.update(iterations=3),
    lambda r: r["tools_used"].remove("scanner.rollback_analysis"),
    lambda r: r.update(inspected_buckets=[(s, b + s) for s, b in r["inspected_buckets"]]),
    lambda r: r.update(found_line="Found 0 events:"),
    lambda r: r.update(prompts=[]),
])
def test_rca_check_rejects_a_corrupted_result(rca, corrupt):
    got = rca_result(rca.expected(1), 1)
    corrupt(got)
    assert rca.check(got)


def test_rca_check_rejects_a_prompt_that_changes_between_passes(tmp_path):
    wl = W.IncidentRCA(5, str(tmp_path))
    got = rca_result(wl.expected(0), 0)
    assert wl.check(got) == []
    got["prompts"] = [(50_000, "fedcba9876543210")]
    assert wl.check(got)


def test_rca_check_rejects_a_dropped_file(rca):
    c = copy.copy(rca.corpora[1])
    lost = next(i.machine for i in c.incidents)
    c.events = [e for e in c.events if e.machine != lost]
    got = rca_result(W.expected_investigation(c), 1)
    assert rca.check(got)


# -- warehouse_load ----------------------------------------------------------


def show(header, rows) -> str:
    lines = ["+---+", "|" + "|".join(header) + "|", "+---+"]
    lines += ["|" + "|".join(str(c) for c in r) + "|" for r in rows]
    return "\n".join(lines + ["+---+", ""])


def write_rollup(wl, rows) -> None:
    path = os.path.join(wl.db, "loganalyzer.db", "rollups_60s")
    os.makedirs(path, exist_ok=True)
    names = ["window_start", "role", "metric_name", "n", "avg_value", "max_value", "p95_value"]
    pq.write_table(pa.table({n: [r[i] for r in rows] for i, n in enumerate(names)}),
                   os.path.join(path, "part-0.parquet"))


def warehouse_result(wl, events) -> dict:
    counts = O.table_counts(events)
    duck = O.DuckOracle(events)
    try:
        write_rollup(wl, duck.rollup(60))
        n_rollup = len(duck.rollup(60))
    finally:
        duck.close()
    want = wl.expected()
    stdout = {
        "init": "initialized\n",
        "load": "".join(f"{t}: {counts[t]} rows\n" for t in W.CORE),
        "rollup": f"rollups_60s: {n_rollup} rows\n",
        "stats": f"=== Database Statistics ===\n\nTotal events: {counts['events']}\n",
        "query.roles": show(["role", "n"], want["query.roles"]),
        "query.metrics": show(["metric_name", "n"], want["query.metrics"]),
        "query.process_roles": show(["n"], want["query.process_roles"]),
    }
    return {"stdout": stdout, **{f"rc.{k}": 0 for k in stdout}}


@pytest.fixture
def wh(tmp_path):
    return W.WarehouseLoad(5, str(tmp_path))


def test_warehouse_check_accepts_the_expected_result(wh):
    assert wh.check(warehouse_result(wh, wh.events)) == []


def test_warehouse_check_rejects_a_dropped_file(wh):
    lost = sorted(wh.corpus.paths)[0]
    kept = [e for e in wh.events if e.file != os.path.basename(lost)]
    assert wh.check(warehouse_result(wh, kept))


def test_warehouse_check_rejects_a_shifted_rollup(wh):
    got = warehouse_result(wh, wh.events)
    rows = [(w + 60, *rest) for w, *rest in O.DuckOracle(wh.events).rollup(60)]
    write_rollup(wh, rows)
    assert wh.check(got)


@pytest.mark.parametrize("corrupt", [
    lambda r: r.update({"rc.stats": 1}),
    lambda r: r["stdout"].update(stats="Total events: 0\n"),
    lambda r: r["stdout"].update({"query.roles": show(["role", "n"], [("SS", "1")])}),
])
def test_warehouse_check_rejects_a_corrupted_result(wh, corrupt):
    got = warehouse_result(wh, wh.events)
    corrupt(got)
    assert wh.check(got)
