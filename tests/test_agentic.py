"""Agentic loop deterministic core (L2/L4/L6 + loop skeleton) replaying a
reference-shaped scenario fixture."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from db_loganalyzer_spark.agentic import (
    ADDITIONAL_DATA_MAX_ITEMS,
    InvestigationAgent,
    adjust_confidence,
    cap_items,
    extract_metrics,
    format_events_for_llm,
    truncate_context,
)

T0 = dt.datetime(2024, 1, 15, 12, 0, 0)


@pytest.fixture(scope="module")
def scenario(spark):
    """Storage-pressure scenario: a >1M VersionLag spike, a negative
    latency, a SlowSSLoop, ratekeeper throttling, and filler infos."""
    rows = [
        (1, T0, 10, "StorageMetrics", "SS", {"VersionLag": "2500000"}),
        (2, T0 + dt.timedelta(seconds=1), 10, "StorageMetrics", "SS", {"VersionLag": "150000"}),
        (3, T0 + dt.timedelta(seconds=2), 20, "CommitLatencyMetrics", "CP", {"CommitLatencyMin": "-0.5"}),
        (4, T0 + dt.timedelta(seconds=3), 30, "SlowSSLoopx100", "SS", {"Elapsed": "5"}),
        (5, T0 + dt.timedelta(seconds=4), 10, "RkUpdate", None, {"ThrottleReason": "queue too deep"}),
        (6, T0 + dt.timedelta(seconds=5), 40, "TLogFailed", "TLog", {"LogId": "7"}),
        (7, T0 + dt.timedelta(seconds=6), 10, "Role", "CD", {"As": "Coordinator"}),
    ]
    return spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, severity int, event string, role string,"
        "fields map<string,string>",
    )


def test_extract_metrics(scenario):
    m = extract_metrics(scenario)
    spikes = m["version_lag_spikes"].orderBy("event_id").collect()
    assert [r["event_id"] for r in spikes] == [1, 2]
    assert spikes[0]["version_lag"] == 2500000.0
    assert [r["event_id"] for r in m["high_lag_timestamps"].collect()] == [1]
    negs = m["negative_latencies"].collect()
    assert len(negs) == 1 and negs[0]["metric"] == "CommitLatencyMin"
    assert m["slow_ss_loops"].count() == 1
    throts = m["throttling_reasons"].collect()
    assert len(throts) == 1
    assert throts[0]["reason"] == "ThrottleReason: queue too deep"


def test_format_events_report(scenario):
    text = format_events_for_llm(scenario)
    assert "Found 7 events:" in text
    assert "Severity 40+ (Errors): 1" in text
    assert "VERSIONLAG SPIKES" in text
    assert "1 events with VersionLag > 1M (CRITICAL)" in text
    assert "VersionLag=2500000" in text
    assert "NEGATIVE LATENCIES" in text
    assert "CommitLatencyMin=-0.5" in text
    assert "SLOW SS LOOPS" in text
    assert "THROTTLING DETECTED" in text
    assert "ThrottleReason: queue too deep" in text
    assert "Time range: 2024-01-15T12:00:00 to 2024-01-15T12:00:06 (6.0 seconds)" in text
    # reference's sort key puts sub-40 events first; the lone severity-40
    # event is last and marked
    assert text.index("Event Type: TLogFailed") > text.index("Event Type: Role")
    assert " CRITICAL ERROR" in text


def test_collect_sections_round_trips_every_value(spark):
    """One action returns each section's rows exactly as its own
    ``collect()`` does: timestamps to the microsecond, NULLs as present
    keys, maps, non-finite doubles, empty sections and sorted heads."""
    from db_loganalyzer_spark.agentic.investigation import _collect_sections

    rows = [
        (1, T0.replace(microsecond=123457), None, {"a": "1", "b": None}, float("nan")),
        (2, None, "x", {}, float("inf")),
        (3, T0 + dt.timedelta(seconds=5, microseconds=1), "y", None, float("-inf")),
        (4, T0 - dt.timedelta(days=400, microseconds=999999), "z", {"k": "v"}, -0.1),
        (5, T0, None, {"c": "3"}, 1e308),
        (6, T0 + dt.timedelta(hours=1), "w", {"d": ""}, None),
    ]
    df = spark.createDataFrame(
        rows, "id long, ts timestamp, s string, m map<string,string>, d double"
    ).repartition(3)
    assert df.rdd.getNumPartitions() == 3
    sections = {
        "all": df,
        "empty": df.filter(F.col("id") < 0),
        "head": df.orderBy(F.desc("d"), "id").limit(4),
        "agg": df.agg(F.max("ts").alias("latest"), F.count("s").alias("n_s")),
    }
    got = _collect_sections(sections)
    assert set(got) == set(sections)
    assert got["empty"] == []
    for name, frame in sections.items():
        want = frame.collect()
        if name == "all":  # row order across partitions is not pinned
            want = sorted(want, key=lambda r: r["id"])
            got[name] = sorted(got[name], key=lambda r: r["id"])
        # repr tells 1 from 1.0 and compares NaN, unlike ==
        assert repr(got[name]) == repr(want), name
        assert [list(r.asDict()) for r in got[name]] == [list(r.asDict()) for r in want]
    assert [r["id"] for r in got["head"]] == [1, 2, 5, 4]  # NaN sorts highest
    by_id = {r["id"]: r for r in got["all"]}
    assert by_id[1]["ts"].microsecond == 123457 and by_id[2]["ts"] is None
    assert "s" in by_id[1].asDict() and by_id[1]["s"] is None
    assert by_id[1]["m"] == {"a": "1", "b": None}


def test_format_empty(spark):
    empty = spark.createDataFrame(
        [],
        "event_id long, ts timestamp, severity int, event string, role string,"
        "fields map<string,string>",
    )
    assert format_events_for_llm(empty) == "No events found."


def test_adjust_confidence_paths():
    anomalies = "versionlag spike detected >1m"
    # event-name focus + metric anomalies present -> capped at 0.4
    c, r = adjust_confidence("severity 30 file not found", "x", anomalies, 0.9)
    assert c == 0.4 and r.startswith("[Confidence reduced")
    # event-name focus, no anomalies -> capped at 0.5
    c, r = adjust_confidence("severity 30 noise", "x", "clean", 0.9)
    assert c == 0.5 and r.startswith("[Confidence adjusted")
    # metric focus + anomalies -> +0.1 capped at 1.0
    c, r = adjust_confidence("storage pressure from versionlag", "x", anomalies, 0.85)
    assert c == pytest.approx(0.95) and r.startswith("[Confidence boosted")
    c, _ = adjust_confidence("storage pressure from versionlag", "x", anomalies, 0.95)
    assert c == 1.0
    # neutral -> unchanged
    c, r = adjust_confidence("plain idea", "why", "clean", 0.7)
    assert c == 0.7 and r == "why"


def test_context_budget():
    assert truncate_context("abc", 10) == "abc"
    out = truncate_context("x" * 200, 100)
    assert len(out) == 100 and out.endswith("[truncated to context limit]")
    assert cap_items(list(range(100))) == list(range(ADDITIONAL_DATA_MAX_ITEMS))


def test_investigation_loop_with_stub_llm(scenario):
    calls = []

    def stub_llm(prompt):
        calls.append(prompt)
        if len(calls) == 1:
            return {
                "hypothesis": "severity 30 file not found",
                "confidence": 0.9,
                "reasoning": "names look scary",
                "suggested_tools": ["lag_spikes", "unknown_tool"],
            }
        return {
            "hypothesis": "storage pressure from versionlag spike",
            "confidence": 0.85,
            "reasoning": "metrics dominate",
            "suggested_tools": [],
        }

    agent = InvestigationAgent(
        stub_llm,
        tools={
            "lag_spikes": lambda ev: extract_metrics(ev)["version_lag_spikes"]
        },
        max_iterations=5,
        confidence_threshold=0.8,
    )
    res = agent.investigate(scenario, "why did recovery happen?")
    # iteration 1: event-name hypothesis capped to 0.4 -> continues, runs tool
    # iteration 2: metric hypothesis boosted to 0.95 -> stops
    assert res.iterations == 2
    assert res.confidence == pytest.approx(0.95)
    assert res.tools_used == ["lag_spikes"]
    assert res.hypothesis == "storage pressure from versionlag spike"
    # tool output was appended to the second call's context
    assert "[lag_spikes]" in calls[1]["events_text"]
