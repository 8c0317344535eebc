"""Agentic loop deterministic core (L2/L4/L6) replaying a
reference-shaped scenario fixture."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from db_loganalyzer_spark.agentic import (
    ADDITIONAL_DATA_MAX_ITEMS,
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
    keys, maps, string arrays (NULL elements, empty), non-finite doubles,
    empty sections, sorted heads and grouped aggregates."""
    from db_loganalyzer_spark.agentic.investigation import _collect_sections

    rows = [
        (1, T0.replace(microsecond=123457), None, {"a": "1", "b": None}, float("nan"), ["r", None]),
        (2, None, "x", {}, float("inf"), []),
        (3, T0 + dt.timedelta(seconds=5, microseconds=1), "y", None, float("-inf"), None),
        (4, T0 - dt.timedelta(days=400, microseconds=999999), "z", {"k": "v"}, -0.1, ["a", "b"]),
        (5, T0, None, {"c": "3"}, 1e308, [None]),
        (6, T0 + dt.timedelta(hours=1), "w", {"d": ""}, None, ["x"]),
    ]
    df = spark.createDataFrame(
        rows,
        "id long, ts timestamp, s string, m map<string,string>, d double, a array<string>",
    ).repartition(3)
    assert df.rdd.getNumPartitions() == 3
    sections = {
        "all": df,
        "empty": df.filter(F.col("id") < 0),
        "head": df.orderBy(F.desc("d"), "id").limit(4),
        "agg": df.agg(F.max("ts").alias("latest"), F.count("s").alias("n_s")),
        "grouped": df.groupBy(F.col("id") % 2).agg(
            F.min("ts").alias("earliest"), F.sum("d").alias("d_sum"), F.count("a").alias("n_a")
        ),
    }
    got = _collect_sections(sections)
    assert set(got) == set(sections)
    assert got["empty"] == []
    for name, frame in sections.items():
        want = frame.collect()
        if name in ("all", "grouped"):  # row order across partitions is not pinned
            want = sorted(want, key=lambda r: r[0])
            got[name] = sorted(got[name], key=lambda r: r[0])
        # repr tells 1 from 1.0 and compares NaN, unlike ==
        assert repr(got[name]) == repr(want), name
        assert [list(r.asDict()) for r in got[name]] == [list(r.asDict()) for r in want]
    assert [r["id"] for r in got["head"]] == [1, 2, 5, 4]  # NaN sorts highest
    by_id = {r["id"]: r for r in got["all"]}
    assert by_id[1]["ts"].microsecond == 123457 and by_id[2]["ts"] is None
    assert "s" in by_id[1].asDict() and by_id[1]["s"] is None
    assert by_id[1]["m"] == {"a": "1", "b": None}
    assert by_id[1]["a"] == ["r", None] and by_id[2]["a"] == [] and by_id[3]["a"] is None
    assert len(got["grouped"]) == 2


def test_collect_sections_reserves_pages_for_its_rows(spark):
    """Three grouped aggregates over a small one-partition cached frame
    run in one stage of one action. Each aggregate's hash map takes at
    least one execution page, so the stage's peak execution memory is a
    few of ``get_spark``'s 2 MB pages, not three of Spark's default
    (64 MB for an 8 GB driver on 4 cores: 192 MB)."""
    from db_loganalyzer_spark.agentic.investigation import _collect_sections

    df = spark.range(2000).select(
        (F.col("id") % 7).alias("k"), (F.col("id") % 13).alias("j"), "id"
    ).coalesce(1).cache()
    try:
        df.count()
        sc = spark.sparkContext
        group = "test_agentic.collect_sections_pages"
        sc.setJobGroup(group, group)
        try:
            got = _collect_sections({
                "by_k": df.groupBy("k").count(),
                "by_j": df.groupBy("j").agg(F.max("id").alias("top")),
                "by_kj": df.groupBy("k", "j").agg(F.sum("id").alias("s")),
            })
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
    finally:
        df.unpersist()
    assert [len(got[s]) for s in ("by_k", "by_j", "by_kj")] == [7, 13, 91]
    ssc = sc._jsc.sc()
    ssc.listenerBus().waitUntilEmpty(60_000)
    store = ssc.statusStore()
    peaks = [
        store.lastStageAttempt(sid).peakExecutionMemory()
        for job in sc.statusTracker().getJobIdsForGroup(group)
        for sid in sc.statusTracker().getJobInfo(job).stageIds
    ]
    assert peaks and max(peaks) <= 16 * 1024 * 1024, peaks


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
