"""Scenario-level integration tests against the reference's ground-truth
diagnosis docs (VERDICT r4 item 3).

Each scenario synthesizes a FIXTURES.md-shaped log stream mirroring a
reference problem family and asserts that THIS engine's detectors,
timeline, and phased investigation loop (stub LLM) surface exactly the
evidence the corresponding ground-truth doc names:

- CloggedSideband  (reference rag-corpus/problem-summary/
  problem_CloggedSideband.md — Cluster 7 commit_proxy_pipeline_crash):
  proxy throughput, relocation-cancellation storm, CommitProxyTerminated
  BEFORE MasterTerminated (the doc's key timing pattern), recovery with
  the known-cause CodeCoverage comment attributed.
- ClogWithRollbacks (problem_ClogWithRollbacks.md — Cluster 0
  recovery_restart_cascade): repeated recovery windows that never reach
  fully_recovered, FileOpenError attributed as each window's cause,
  rollback version-drops, and the loop's metrics-over-event-names
  confidence rule pushing the stub LLM off the "file not found" red
  herring the doc warns about.
- Storage-engine pressure (Cluster 6 — the family every CloggedX doc
  names as the post-incident monitoring window; FIXTURES.md "required
  embedded patterns" shape): the VersionLag 0 -> >50k -> >1M ramp with
  case-variant keys, D1 z-score + absolute-threshold detection against
  derived baselines, throttle/SlowSSLoop/negative-latency surfacing in
  extract_metrics, the metrics-over-severity prompt sections, and the
  timeline's 100k -> 1M escalation marks.
- ConfigureTest (problem_ConfigureTest.md — Cluster 9
  configuration_change_recovery): config-DRIVEN recoveries attributed to
  the "Configuration change" known cause (priority tier 1 beating the
  fail-name tier), two incomplete episodes, the doc's QuietDatabase ->
  BuildTeams timing pattern, and the Pattern B guard that the scenario
  does not false-positive as storage pressure.
"""

import datetime as dt
import hashlib
import json
import os
import re
import sys
from collections import Counter

import pytest

from pyspark.sql import functions as F

from db_loganalyzer_spark.agentic import PhasedInvestigationAgent, build_rag_query
from db_loganalyzer_spark.agentic.timeline import build_timeline
from db_loganalyzer_spark.detectors import detectors as D

T0 = dt.datetime(2024, 3, 1, 12, 0, 0)

SCHEMA = (
    "event_id long, ts timestamp, severity int, event string, role string,"
    "machine_id string, fields map<string,string>"
)


def _ev(i, t, sev, event, role, fields, machine="2.0.1.0:1"):
    return (i, T0 + dt.timedelta(seconds=t), sev, event, role, machine, fields)


# ---------------------------------------------------------------------------
# CloggedSideband — Cluster 7 commit_proxy_pipeline_crash
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def clogged_sideband(spark):
    rows, i = [], 0

    def add(t, sev, event, role, fields, machine="2.0.1.0:1"):
        nonlocal i
        i += 1
        rows.append(_ev(i, t, sev, event, role, fields, machine))

    # T+0..2s: healthy commit pipeline — proxies emitting throughput,
    # CommittedVersion advancing (problem_CloggedSideband.md "T+0s")
    v = 5_000_000
    for k in range(4):
        t = 0.5 * k
        v += 1_000_000
        add(t, 10, "ProxyMetrics", "CP", {
            "TxnCommitOut": "52.5",
            "CommitBatchOut": "12.0",
            "CommittedVersion": str(v),
            "LastAssignedCommitVersion": str(v + 500_000),
        }, machine=f"2.0.1.{k % 3}:1")
    # T+2-5s: RelocateShard / FetchKeys cancellation storm (secondary
    # stress, explicitly NOT the root cause per the doc)
    for k in range(12):
        t = 2.0 + 0.25 * k
        ev = "RelocateShard_StartMoveKeys" if k % 2 == 0 else "FetchKeys"
        add(t, 20, ev, "DD" if k % 2 == 0 else "SS",
            {"Error": "operation_cancelled", "ErrorCode": "1101"})
    # T+6-10s: commit batch output decays, versions plateau
    for k in range(4):
        t = 6.0 + 1.0 * k
        add(t, 10, "ProxyMetrics", "CP", {
            "TxnCommitOut": str(12.0 - 4 * k if k < 3 else 0.0),
            "CommitBatchOut": "0.5",
            "CommittedVersion": str(v),  # no longer advancing
            "LastAssignedCommitVersion": str(v + 2_500_000),
        })
    # T+10-11s: the pipeline breaks — proxy first, master as REACTION
    add(10.2, 40, "CommitProxyTerminated", "CP", {"Error": "please_reboot"})
    add(10.5, 40, "ResolverTerminated", "RV", {"Error": "please_reboot"})
    add(11.0, 40, "MasterTerminated", "MS", {"Reason": "commit pipeline failure"})
    add(11.2, 10, "CodeCoverage", None,
        {"Comment": "Terminated due to commit proxy failure", "File": "Proxy.cpp"})
    # T+11.5s on: full recovery walk
    for k, code in enumerate([0, 2, 3, 7, 9, 11, 14]):
        add(11.5 + 0.25 * k, 30, "MasterRecoveryState", "MS",
            {"StatusCode": str(code)})
    return spark.createDataFrame(rows, SCHEMA)


def test_sideband_proxy_terminates_before_master(spark, clogged_sideband):
    # problem_CloggedSideband.md "Key timing patterns": CommitProxyTerminated
    # preceding MasterTerminated identifies proxy pipeline failure as root
    sev40 = (
        clogged_sideband.filter(F.col("severity") >= 40)
        .orderBy("ts", "event_id")
        .select("event")
        .collect()
    )
    assert [r.event for r in sev40][:2] == [
        "CommitProxyTerminated",
        "ResolverTerminated",
    ]
    assert [r.event for r in sev40].index("MasterTerminated") > 0


def test_sideband_recovery_cause_is_proxy_failure(spark, clogged_sideband):
    # D11 must attribute every recovery event in the episode to the
    # known-cause CodeCoverage comment (recovery_detector.py semantics)
    recs = D.detect_recoveries(clogged_sideband)["recoveries"].collect()
    assert len(recs) == 7
    assert [r.state_name for r in recs] == [
        "reading_coordinated_state",
        "recruiting_proxies",
        "reading_transaction_system_state",
        "recruiting_transaction_servers",
        "recovery_transaction",
        "accepting_commits",
        "fully_recovered",
    ]
    assert all(r.cause == "Terminated due to commit proxy failure" for r in recs)


def test_sideband_single_recovery_episode(spark, clogged_sideband):
    eps = D.recovery_episodes(clogged_sideband)["episodes"].collect()
    assert len(eps) == 1
    assert eps[0].n_recoveries == 7


def test_sideband_timeline_story(spark, clogged_sideband):
    tl = build_timeline(clogged_sideband)
    # earliest >=30-severity event is the proxy termination, not the
    # relocation noise (the doc's false-positive guidance)
    assert tl["timeline"][0]["event"] == "CommitProxyTerminated"
    notes = [item["note"] for item in tl["timeline"]]
    assert "Recovery activity begins" in notes


def test_sideband_phased_loop_surfaces_evidence(spark, clogged_sideband):
    prompts, rag_queries = [], []

    def llm(prompt):
        prompts.append(prompt)
        return json.dumps({
            "hypothesis": (
                "CLUSTER 7 commit_proxy_pipeline_crash: commit pipeline "
                "broke first; relocations are downstream symptoms"
            ),
            "confidence": 0.85,
            "reasoning": "proxy terminated before master; recovery follows",
        })

    def rag(query):
        rag_queries.append(query)
        return "problem_CloggedSideband.md: pipeline collapse is root cause"

    agent = PhasedInvestigationAgent(llm, rag=rag, max_iterations=6)
    res = agent.investigate(
        clogged_sideband, "What is the root cause of this incident?"
    )
    assert res.confidence >= 0.8
    assert "commit_proxy_pipeline_crash" in res.hypothesis
    # phase A tools + phase B detector suite all ran
    for tool in (
        "scanner.recovery_episodes",
        "detectors.recovery_loop",
        "detectors.zscore_hotspots",
        "context.context_window",
    ):
        assert tool in res.tools_used, tool
    # the LLM saw the knowledge base AND the recovery evidence
    assert "CLUSTER" in prompts[0]
    assert "recovery_episodes" in prompts[0]
    assert "MasterRecoveryState" in prompts[0] or "Recovery" in prompts[0]
    # the RAG query advertises what the detectors actually found
    assert any("recovery" in q.lower() for q in rag_queries)


# Jobs one investigation runs on a 4-core local session, plus 6 of
# headroom for plan variation. CloggedSideband runs 43 (101 before
# investigate persisted its input, 78 before rollback_analysis shared one
# stitched scan and the phase-A sweep became one aggregate, 60 before the
# formatter, phase A's scanner tail and phase B's detector summaries each
# became one action, 45 before get_uncovered ranked its buckets on the
# driver); ClogWithRollbacks runs 44 (was 82, then 61, then 46) and
# StoragePressure 39 (was 68, then 55, then 41).
SIDEBAND_JOB_BUDGET = 49
ROLLBACKS_JOB_BUDGET = 50
PRESSURE_JOB_BUDGET = 45
# A 4-iteration CloggedSideband investigation with a low-confidence LLM
# runs 52 jobs when the detectors run once (88 when every iteration
# re-ran them, 54 before get_uncovered ranked on the driver).
SIDEBAND_MULTI_JOB_BUDGET = 58
# The same with 6 iterations runs 52 jobs, 2 of headroom under the 56 it
# ran when the two iterations after coverage was complete asked
# get_uncovered and built the timeline again.
SIDEBAND_SIX_JOB_BUDGET = 54


def _sideband_llm(prompt):
    return json.dumps({
        "hypothesis": "CLUSTER 7 commit_proxy_pipeline_crash",
        "confidence": 0.85,
        "reasoning": "proxy terminated before master; recovery follows",
    })


def _persistent_rdds(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def _investigation(spark, events, group, llm=_sideband_llm, max_iterations=6):
    """One investigate over ``events`` under a test-owned job group: its
    result, the status store's name (the call site) of each of its jobs
    and the persistent RDDs it left behind."""
    sc = spark.sparkContext
    before = _persistent_rdds(spark)
    sc.setJobGroup(group, "one investigation")
    try:
        res = PhasedInvestigationAgent(llm, max_iterations=max_iterations).investigate(
            events, "What is the root cause of this incident?"
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    ssc = sc._jsc.sc()
    ssc.listenerBus().waitUntilEmpty(60_000)
    store = ssc.statusStore()
    jobs = [store.job(j).name() for j in sc.statusTracker().getJobIdsForGroup(group)]
    return res, jobs, _persistent_rdds(spark) - before


def _assert_job_budget(jobs, budget):
    """At most ``budget`` jobs; on failure, the job count per call site."""
    sites = "\n".join(f"{n:4d}  {site}" for site, n in Counter(jobs).most_common())
    assert 0 < len(jobs) <= budget, f"{len(jobs)} jobs > {budget}:\n{sites}"


@pytest.fixture(scope="module")
def sideband_investigation(spark, clogged_sideband):
    return _investigation(spark, clogged_sideband, "test_scenarios.sideband_investigation")


def test_sideband_investigation_job_budget(sideband_investigation):
    res, jobs, _ = sideband_investigation
    assert "commit_proxy_pipeline_crash" in res.hypothesis
    assert res.iterations == 2
    _assert_job_budget(jobs, SIDEBAND_JOB_BUDGET)


_PHASE_A = [
    "scanner.top_events", "scanner.severity_counts", "scanner.event_histogram",
    "scanner.time_span", "scanner.bucket_heatmap", "scanner.global_summary",
    "scanner.rollback_analysis", "scanner.metric_baselines",
    "scanner.recovery_episodes",
]
_DETECTORS = [
    "detectors.storage_engine_pressure", "detectors.recovery_loop",
    "detectors.ratekeeper_throttling", "detectors.missing_tlogs",
    "detectors.coordination_loss", "detectors.zscore_hotspots",
    "detectors.baseline_window_anomalies", "detectors.metric_anomalies",
]
_DIVE = ["hotspots.get_uncovered", "context.context_window"]


def _unsure_llm(prompt):
    return json.dumps({
        "hypothesis": "CLUSTER 7 commit_proxy_pipeline_crash",
        "confidence": 0.2,
        "reasoning": "needs more evidence",
    })


def test_sideband_multi_iteration_job_budget(spark, clogged_sideband):
    """A low-confidence LLM keeps the loop running to ``max_iterations``.
    The detectors run on the first phase-B iteration only, so each later
    iteration costs its dive and LLM gate, not the detector suite again."""
    res, jobs, residue = _investigation(
        spark, clogged_sideband, "test_scenarios.sideband_multi_iteration",
        llm=_unsure_llm, max_iterations=4,
    )
    assert res.iterations == 4
    # two eventful 10s buckets are dived, then coverage is complete
    assert res.tools_used == (
        _PHASE_A + 2 * (_DETECTORS + _DIVE) + _DETECTORS + ["hotspots.get_uncovered"]
    )
    t0 = int(T0.timestamp())
    assert res.inspected_buckets == [(300, t0), (10, t0 + 10), (10, t0)]
    _assert_job_budget(jobs, SIDEBAND_MULTI_JOB_BUDGET)
    assert len(residue) == 0


def test_sideband_prompts_carry_each_block_once(spark, clogged_sideband, monkeypatch):
    """Six low-confidence iterations: the LLM context gets the detectors
    block once and a timeline block only when the timeline changed, so
    no prompt repeats evidence. The loop's path is the same as when every
    iteration re-added them (which made every prompt dirty and sent 4
    prompts carrying the detectors block 1, 2, 3 and 4 times).

    After the fourth iteration finds coverage complete, the last two
    reuse its empty whole-input ``get_uncovered`` and the timeline of the
    unchanged evidence: 3 calls of each, where every iteration asking
    again made 5 of each."""
    from db_loganalyzer_spark.agentic import timeline as TL
    from db_loganalyzer_spark.agentic import tools as TOOLS

    calls = Counter()

    def counted(name, fn):
        def call(*args, **kwargs):
            calls[name] += 1
            return fn(*args, **kwargs)
        return call

    monkeypatch.setattr(TOOLS, "get_uncovered", counted("get_uncovered", TOOLS.get_uncovered))
    monkeypatch.setattr(TL, "build_timeline", counted("build_timeline", TL.build_timeline))
    prompts = []

    def llm(prompt):
        prompts.append(prompt)
        return _unsure_llm(prompt)

    res, jobs, residue = _investigation(
        spark, clogged_sideband, "test_scenarios.sideband_six_iterations", llm=llm
    )
    assert res.iterations == 6
    assert res.tools_used == (
        _PHASE_A + 2 * (_DETECTORS + _DIVE) + 3 * (_DETECTORS + ["hotspots.get_uncovered"])
    )
    t0 = int(T0.timestamp())
    assert res.inspected_buckets == [(300, t0), (10, t0 + 10), (10, t0)]
    assert calls == {"get_uncovered": 3, "build_timeline": 3}
    _assert_job_budget(jobs, SIDEBAND_SIX_JOB_BUDGET)
    assert len(residue) == 0
    assert 0 < len(prompts) <= 4
    for p in prompts:
        blocks = re.findall(r"\n\n(\w+):\n", p.partition("Additional Investigation Data:")[2])
        assert blocks.count("detectors") == 1
        assert "timeline_builder" in blocks
        # a later timeline block is there because the timeline changed
        timelines = re.findall(r"\n\ntimeline_builder:\n(.*?)(?=\n\n\w+:\n|$)", p, re.S)
        assert all(a != b for a, b in zip(timelines, timelines[1:]))


def test_sideband_investigation_releases_its_storage(
    spark, clogged_sideband, sideband_investigation
):
    """investigate persists its input (and the baselines it derives) and
    releases both on exit, together with rollback_analysis's stitched
    localCheckpoint (see
    test_detectors.py::test_rollback_analysis_releases_input_persists):
    no new persistent RDD is left."""
    from pyspark import StorageLevel

    _, _, residue = sideband_investigation
    assert len(residue) == 0
    assert clogged_sideband.storageLevel == StorageLevel.NONE


def test_investigation_releases_storage_when_llm_fails(spark, clogged_sideband):
    from pyspark import StorageLevel

    held = []

    def broken_llm(prompt):
        held.append(clogged_sideband.storageLevel)
        raise RuntimeError("connection reset by peer")  # not a quota error

    before = _persistent_rdds(spark)
    with pytest.raises(RuntimeError, match="connection reset"):
        PhasedInvestigationAgent(broken_llm, max_iterations=6).investigate(
            clogged_sideband, "What is the root cause of this incident?"
        )
    # the input was held in storage while the loop ran, and released after
    assert held and held[0] != StorageLevel.NONE
    assert len(_persistent_rdds(spark) - before) == 0
    assert clogged_sideband.storageLevel == StorageLevel.NONE


def test_investigation_leaves_caller_storage_alone(spark, clogged_sideband):
    from pyspark import StorageLevel

    from db_loganalyzer_spark.agentic.investigation import _CACHED_PARTITIONING, _own

    setting = spark.conf.get(_CACHED_PARTITIONING)
    owned = []
    cached = clogged_sideband.persist()
    try:
        assert _own(cached, owned) is cached and owned == []
    finally:
        cached.unpersist()
    fresh = _own(clogged_sideband, owned)
    try:
        assert owned == [fresh]
        assert fresh.storageLevel != StorageLevel.NONE
    finally:
        fresh.unpersist()
    assert clogged_sideband.storageLevel == StorageLevel.NONE
    assert spark.conf.get(_CACHED_PARTITIONING) == setting  # restored

    # A caller's localCheckpointed input keeps its checkpoint: investigate
    # releases only the checkpoint rollback_analysis made (phase A).
    before = _persistent_rdds(spark)
    checkpointed = clogged_sideband.localCheckpoint()
    kept = _persistent_rdds(spark)
    try:
        PhasedInvestigationAgent(_sideband_llm, max_iterations=1).investigate(
            checkpointed, "What is the root cause of this incident?"
        )
        assert _persistent_rdds(spark) == kept
        assert checkpointed.count() == clogged_sideband.count()
    finally:
        rdds = spark.sparkContext._jsc.getPersistentRDDs()
        for rdd_id in kept - before:
            rdds.get(rdd_id).unpersist(False)


# ---------------------------------------------------------------------------
# ClogWithRollbacks — Cluster 0 recovery_restart_cascade
# ---------------------------------------------------------------------------

WINDOW_STARTS = [0.0, 90.0, 180.0]  # >60s apart => separate episodes


@pytest.fixture(scope="module")
def clog_with_rollbacks(spark):
    rows, i = [], 0

    def add(t, sev, event, role, fields, machine="2.0.1.0:1"):
        nonlocal i
        i += 1
        rows.append(_ev(i, t, sev, event, role, fields, machine))

    for w in WINDOW_STARTS:
        # the doc's per-window sequence: recruit failure -> missing
        # logqueue files -> retry -> recovery walk that never completes
        add(w + 0.0, 20, "RecruitStorageNotAvailable", "CC",
            {"Error": "no_more_servers", "ErrorCode": "1008"})
        add(w + 2.0, 40, "FileOpenError", "SS",
            {"Error": "file_not_found",
             "File": "/simfdb/.../logqueue-V_7-5168af5e1e29-1.fdq"})
        add(w + 2.5, 20, "ClusterRecoveryRetrying", "CC",
            {"Error": "no_more_servers"})
        for k, code in enumerate([0, 1, 2, 3, 7]):  # stuck at recruiting
            add(w + 3.0 + 1.0 * k, 30, "MasterRecoveryState", "MS",
                {"StatusCode": str(code)})
        # Cluster 6 monitoring snapshots (secondary, not root cause)
        add(w + 10.0, 30, "SlowSSLoopx100", "SS", {"Elapsed": "7"})
    # rollback workload: committed version drops + one large->small reset
    versions = [8_000_000, 9_000_000, 3_000_000, 4_000_000, 2_000_000,
                5_000_000, 900_000]
    for k, ver in enumerate(versions):
        add(200.0 + k, 10, "ProxyMetrics", "CP",
            {"CommittedVersion": str(ver), "DurableVersion": str(ver - 50_000)})
    return spark.createDataFrame(rows, SCHEMA)


def _rec_times():
    return sorted(
        w + 3.0 + 1.0 * k for w in WINDOW_STARTS for k in range(5)
    )


def test_rollbacks_recovery_loop_detected(spark, clog_with_rollbacks):
    s = D.recovery_loop(clog_with_rollbacks, threshold=3, window_seconds=60)[
        "summary"
    ].collect()[0]
    # brute-force oracle over the synthesized recovery timestamps
    ts = _rec_times()
    expected = sum(1 for j in range(2, len(ts)) if ts[j] - ts[j - 2] <= 60)
    assert s.detected
    assert s.loop_count == expected


def test_rollbacks_three_episodes_never_recovered(spark, clog_with_rollbacks):
    eps = D.recovery_episodes(clog_with_rollbacks)["episodes"].collect()
    assert len(eps) == len(WINDOW_STARTS)
    assert all(e.n_recoveries == 5 for e in eps)
    recs = D.detect_recoveries(clog_with_rollbacks)["recoveries"].collect()
    states = {r.state_name for r in recs}
    # stuck in recruiting_transaction_servers, never fully_recovered —
    # the doc: "recovery state stuck in recruiting_transaction_servers"
    assert "recruiting_transaction_servers" in states
    assert "fully_recovered" not in states


def test_rollbacks_cause_attributed_to_file_open_error(spark, clog_with_rollbacks):
    recs = D.detect_recoveries(clog_with_rollbacks)["recoveries"].collect()
    by_ts = sorted(recs, key=lambda r: r.recovery_ts)
    # first recovery of each window is within 5s of that window's
    # FileOpenError; the fail-name tier must attribute it
    for w_idx in range(len(WINDOW_STARTS)):
        first = by_ts[w_idx * 5]
        assert first.cause == "Detected failure event: FileOpenError", first


def test_rollbacks_version_rollback_detected(spark, clog_with_rollbacks):
    s = D.rollback_analysis(clog_with_rollbacks)["summary"].collect()[0]
    assert s.detected
    assert s.num_drops >= 2  # committed 9M->3M, 4M->2M, 5M->0.9M + durable
    assert s.num_resets >= 1  # 5M -> 0.9M crosses the 1M reset line


def test_rollbacks_loop_rejects_file_not_found_red_herring(
    spark, clog_with_rollbacks
):
    """The doc's interpretation guidance: FileOpenError lines alone are not
    the diagnosis — the loop's L4 rule must cap an event-name hypothesis
    and accept the metrics-grounded recovery-cascade hypothesis."""
    prompts = []
    responses = [
        {
            # red herring: chases the literal "file not found" log line
            "hypothesis": "Root cause is the file not found errors",
            "confidence": 0.9,
            "reasoning": "FileOpenError appears before each recovery",
        },
        {
            "hypothesis": (
                "CLUSTER 0 recovery_restart_cascade: storage recruitment "
                "fails every window, recovery never completes"
            ),
            "confidence": 0.75,  # +0.1 metric-focus boost => 0.85
            "reasoning": (
                "storage pressure metrics and SlowSSLoop degradation recur "
                "across all recovery windows; versions roll back"
            ),
        },
    ]

    def llm(prompt):
        prompts.append(prompt)
        idx = min(len(prompts) - 1, len(responses) - 1)
        return json.dumps(responses[idx])

    agent = PhasedInvestigationAgent(llm, max_iterations=8)
    res = agent.investigate(
        clog_with_rollbacks, "Why does recovery keep restarting?"
    )
    # first answer was capped below the threshold (0.9 -> 0.4), so the
    # loop kept going and accepted the cascade hypothesis with the boost
    assert len(prompts) >= 2
    assert res.confidence == pytest.approx(0.85)
    assert "recovery_restart_cascade" in res.hypothesis
    assert res.reasoning.startswith("[Confidence boosted")
    assert any(kind == 10 for kind, _ in res.inspected_buckets)


def test_rollbacks_rag_query_names_the_evidence(spark, clog_with_rollbacks):
    det = {
        "recovery_loop": D.recovery_loop(clog_with_rollbacks)["summary"]
        .collect()[0]
        .asDict(),
        "rollback_analysis": D.rollback_analysis(clog_with_rollbacks)["summary"]
        .collect()[0]
        .asDict(),
    }
    q = build_rag_query(det)
    assert "recovery_loop" in q
    assert "rollback_analysis" in q


def test_rollbacks_investigation_job_budget(spark, clog_with_rollbacks):
    res, jobs, residue = _investigation(
        spark, clog_with_rollbacks, "test_scenarios.rollbacks_investigation"
    )
    assert res.iterations == 2
    _assert_job_budget(jobs, ROLLBACKS_JOB_BUDGET)
    assert len(residue) == 0


# ---------------------------------------------------------------------------
# Storage-engine pressure — Cluster 6 (the FIXTURES.md "required embedded
# patterns" shape; the family every CloggedX ground-truth doc names as the
# post-incident monitoring window)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def storage_pressure(spark):
    rows, i = [], 0

    def add(t, sev, event, role, fields, machine="2.0.1.0:1"):
        nonlocal i
        i += 1
        rows.append(_ev(i, t, sev, event, role, fields, machine))

    # healthy steady state: lag near zero across storage servers
    for k in range(20):
        add(k * 1.0, 10, "StorageMetrics", "SS",
            {"VersionLag": str(100 + 10 * k)}, machine=f"2.0.1.{k % 3}:1")
    # the ramp the FIXTURES shape requires: 0 -> >50k -> >1M in one window,
    # with a case-variant key on some rows (detectors.py:79 parity)
    ramp = [30_000, 60_000, 150_000, 400_000, 1_200_000, 2_500_000]
    for k, lag in enumerate(ramp):
        key = "versionLag" if k % 2 else "VersionLag"
        add(25.0 + k, 10, "StorageMetrics", "SS", {key: str(lag)})
    # ratekeeper reacts: throttle reasons (D2 + extract_metrics surface)
    add(28.0, 20, "RkUpdate", "RK", {"ThrottleReason": "storage queue too deep"})
    add(29.0, 20, "RatekeeperThrottle", "RK", {"Reason": "ss durability lag"})
    add(29.5, 20, "RatekeeperThrottle", "RK", {"Reason": "batch priority throttled"})
    # slow storage loops + one negative latency (timing-bug signal)
    add(30.0, 30, "SlowSSLoopx100", "SS", {"Elapsed": "9"})
    add(31.0, 20, "CommitLatencyMetrics", "CP", {"CommitLatencyMin": "-0.25"})
    return spark.createDataFrame(rows, SCHEMA)


def test_pressure_d1_detects_with_baseline_zscore(spark, storage_pressure):
    from db_loganalyzer_spark.sources.trace_logs import derive_event_metrics

    em = derive_event_metrics(storage_pressure)
    baselines = D.metric_baselines_table(storage_pressure, em, min_count=5)
    s = D.storage_engine_pressure(storage_pressure, baselines)["summary"].collect()[0]
    assert s.detected
    assert s.max_lag == 2_500_000.0  # case-variant versionLag rows included
    assert s.count_high >= 4  # every ramp point past 50k (or z>=3)
    anomalies = D.storage_engine_pressure(storage_pressure, baselines)[
        "anomalies"
    ].collect()
    assert max(a.value for a in anomalies) == 2_500_000.0


def test_pressure_throttling_detected(spark, storage_pressure):
    s = D.ratekeeper_throttling(storage_pressure)["summary"].collect()[0]
    assert s.detected and s["count"] >= 2


def test_pressure_metric_extraction_surfaces_the_chain(spark, storage_pressure):
    from db_loganalyzer_spark.agentic.investigation import extract_metrics

    m = extract_metrics(storage_pressure)
    spikes = m["version_lag_spikes"].collect()
    assert {int(r.version_lag) for r in spikes} == {150_000, 400_000, 1_200_000, 2_500_000}
    assert m["high_lag_timestamps"].count() == 2  # the two >1M points
    negs = m["negative_latencies"].collect()
    assert len(negs) == 1 and negs[0].metric == "CommitLatencyMin"
    assert m["slow_ss_loops"].count() == 1
    reasons = {r.reason for r in m["throttling_reasons"].collect()}
    assert any("storage queue too deep" in r for r in reasons)


def test_pressure_llm_context_prioritizes_metrics(spark, storage_pressure):
    from db_loganalyzer_spark.agentic.investigation import (
        adjust_confidence,
        format_events_for_llm,
    )

    text = format_events_for_llm(storage_pressure)
    # the metric sections the reference's prompt contract leads with
    assert "VERSIONLAG SPIKES" in text
    assert "2 events with VersionLag > 1M (CRITICAL)" in text
    assert "NEGATIVE LATENCIES" in text
    assert "THROTTLING DETECTED" in text
    # L4: a metrics-grounded Cluster 6 hypothesis gets the boost...
    conf, reason = adjust_confidence(
        "CLUSTER 6 storage_engine_pressure",
        "VersionLag ramps past 1M with throttling",
        text,
        0.7,
    )
    assert conf == pytest.approx(0.8)
    assert reason.startswith("[Confidence boosted")
    # ...while an event-name hypothesis is capped hard
    conf2, _ = adjust_confidence(
        "severity 30 events are the problem", "many warnings", text, 0.9
    )
    assert conf2 == pytest.approx(0.4)


def test_pressure_timeline_marks_lag_escalation(spark, storage_pressure):
    from db_loganalyzer_spark.agentic.timeline import build_timeline

    tl = build_timeline(storage_pressure)
    notes = [item["note"] for item in tl["timeline"]]
    assert "Lag exceeds 100k (storage pressure signal)" in notes
    assert "Lag exceeds 1M (critical storage pressure)" in notes
    # escalation order: 100k mark at or before the 1M mark
    i100 = notes.index("Lag exceeds 100k (storage pressure signal)")
    i1m = notes.index("Lag exceeds 1M (critical storage pressure)")
    assert i100 < i1m


def test_pressure_investigation_job_budget(spark, storage_pressure):
    res, jobs, residue = _investigation(
        spark, storage_pressure, "test_scenarios.pressure_investigation"
    )
    assert res.iterations == 2
    _assert_job_budget(jobs, PRESSURE_JOB_BUDGET)
    assert len(residue) == 0


# sha256 of format_events_for_llm's text on each fixture. The formatter
# has no floating-point aggregate, so the text is exact: it must not
# depend on how the input is partitioned.
FORMATTER_DIGESTS = {
    "clogged_sideband": "d8ea2eca720ea719a72df46ac9134547d7904cd6521db1d6769349c96fe101ca",
    "clog_with_rollbacks": "3a441579f57e417209048532180d5d0c01175ecc52580e1831737896721f072c",
    "storage_pressure": "c738a1c2ebdca73f3c3a50af0fbc7cad1d9ac719dfe40943611d6d4c65c7f0a8",
}


@pytest.mark.parametrize("fixture", sorted(FORMATTER_DIGESTS))
def test_formatter_text_digest_is_pinned(request, fixture):
    from db_loganalyzer_spark.agentic.investigation import format_events_for_llm

    events = request.getfixturevalue(fixture)
    for n in (1, 3, 7):
        text = format_events_for_llm(events.repartition(n))
        assert hashlib.sha256(text.encode()).hexdigest() == FORMATTER_DIGESTS[fixture], n


# ---------------------------------------------------------------------------
# One investigation over parsed trace files. read_trace_events' output is
# cached as ONE partition, so investigate reads it through coalesce(1):
# its aggregates, windows and sorts plan no exchange, and
# rollback_analysis's stitched scan is one plain window (no range sample
# or localCheckpoint). The createDataFrame fixtures above are cached as
# several partitions and keep their plans.
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def rollbacks_trace_files(tmp_path_factory):
    """A small seeded ClogWithRollbacks corpus from perfbench's generator:
    two machines, one XML and one JSONL trace file, an hour."""
    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "perfbench"))
    import corpus as C

    spec = C.Spec("clog_with_rollbacks", n_machines=2, files_per_machine=1,
                  duration_s=3600, metric_period_s=30, incidents=["clog_with_rollbacks"])
    return sorted(C.generate(spec, 7, str(tmp_path_factory.mktemp("rca"))).paths)


# sha256 of every prompt, captured before investigate read a one-partition
# input through coalesce(1): each grouped aggregate still merges one
# buffer per group in the same row order, so not a byte may move. (They
# depend on perfbench's generator: a change to it changes them.)
TRACE_PROMPT_DIGESTS = ["f8ebf95d343c858fce326ebee228a79cbd23aba14acdac2826f3db6ec445d7f6"]
# Jobs the investigation runs (not read_trace_events' own offset jobs) on
# a 4-core local session: 25, plus 4 of headroom. Planning exchanges over
# the one partition, and taking the stitched scan's range path, it ran 45.
TRACE_JOB_BUDGET = 29


def test_trace_file_investigation_one_partition(spark, rollbacks_trace_files):
    from db_loganalyzer_spark.sources.trace_logs import read_trace_events

    prompts = []

    def llm(prompt):
        prompts.append(hashlib.sha256(prompt.encode()).hexdigest())
        return json.dumps({
            "hypothesis": "CLUSTER 0 recovery_restart_cascade",
            "confidence": 0.85,
            "reasoning": "version rollbacks across repeated recovery windows",
        })

    events = read_trace_events(spark, rollbacks_trace_files, per_file_offsets=True)
    res, jobs, residue = _investigation(
        spark, events, "test_scenarios.trace_file_investigation", llm=llm
    )
    assert prompts == TRACE_PROMPT_DIGESTS
    assert res.iterations == 2
    # the z-score hotspot is dived: no whole-input get_uncovered
    assert res.tools_used == _PHASE_A + _DETECTORS + ["context.context_window"]
    t0 = 1709294400
    heat = [2100, 1200, 1800, 3300, 1500, 300, 600, 900, 0, 2400]
    assert res.inspected_buckets == [(300, t0 + d) for d in heat] + [(10, t0 + 2110)]
    _assert_job_budget(jobs, TRACE_JOB_BUDGET)
    assert not any(site.startswith("localCheckpoint") for site in jobs)
    assert len(residue) == 0


def test_trace_file_investigation_without_iterations_runs_no_job(
    spark, rollbacks_trace_files
):
    """With no iteration to run, investigate does not even ask how many
    partitions its stored input holds: no Spark job, nothing left stored."""
    from db_loganalyzer_spark.sources.trace_logs import read_trace_events

    events = read_trace_events(spark, rollbacks_trace_files, per_file_offsets=True)
    res, jobs, residue = _investigation(
        spark, events, "test_scenarios.trace_file_no_iterations", max_iterations=0
    )
    assert res.iterations == 0 and res.tools_used == []
    assert jobs == [] and len(residue) == 0


# ---------------------------------------------------------------------------
# ConfigureTest — Cluster 9 configuration_change_recovery
# (problem_ConfigureTest.md: quiet-database/migration instability; the
# recovery is CONFIG-DRIVEN, not failure-driven — the attribution must say
# so via the "Configuration change" known cause, and the key timing
# pattern is QuietDatabaseStartFail immediately followed by team-build
# failure)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def configure_test(spark):
    rows, i = [], 0

    def add(t, sev, event, role, fields, machine="2.0.1.0:1"):
        nonlocal i
        i += 1
        rows.append(_ev(i, t, sev, event, role, fields, machine))

    for cycle, w in enumerate([0.0, 120.0]):
        # the doc's timeline: quiet-db fail -> team-build fail ->
        # recruit failure -> another configure attempt
        add(w + 3.0, 20, "QuietDatabaseStartFail", "DD",
            {"Reasons": "MaxTLogPoppedVersionLag"})
        add(w + 5.0, 20, "BuildTeamsLastBuildTeamsFailed", "DD", {"Teams": "0"})
        add(w + 10.0, 20, "RecruitStorageNotAvailable", "CC",
            {"Error": "no_more_servers"})
        add(w + 11.0, 20, "GrvProxyRateLeaseExpired", "GP", {})
        # the configure-driven recovery: known-cause comment 2s before
        add(w + 18.0, 10, "CodeCoverage", None,
            {"Comment": "Configuration change requested by operator",
             "File": "Configure.cpp"})
        for k, code in enumerate([0, 3, 7]):
            add(w + 20.0 + 1.0 * k, 30, "MasterRecoveryState", "MS",
                {"StatusCode": str(code)})
    return spark.createDataFrame(rows, SCHEMA)


def test_configure_recovery_attributed_to_config_change(spark, configure_test):
    recs = sorted(
        D.detect_recoveries(configure_test)["recoveries"].collect(),
        key=lambda r: r.recovery_ts,
    )
    # each cycle's first recovery is within 5s of the CodeCoverage known
    # cause; priority tier 1 (known-cause comment) must beat the
    # fail-name tier even though failure-shaped events exist in the log
    assert recs[0].cause == "Configuration change requested by operator"
    assert recs[3].cause == "Configuration change requested by operator"


def test_configure_two_episodes_both_incomplete(spark, configure_test):
    eps = D.recovery_episodes(configure_test)["episodes"].collect()
    assert len(eps) == 2
    states = {
        r.state_name
        for r in D.detect_recoveries(configure_test)["recoveries"].collect()
    }
    assert "fully_recovered" not in states  # configure never stabilizes


def test_configure_timing_pattern(spark, configure_test):
    # the doc's key timing pattern: QuietDatabaseStartFail IMMEDIATELY
    # followed by the team-build failure, before any recruit errors
    seq = [
        r.event
        for r in configure_test.filter(F.col("severity") >= 20)
        .orderBy("ts", "event_id")
        .collect()
    ]
    qi = seq.index("QuietDatabaseStartFail")
    assert seq[qi + 1] == "BuildTeamsLastBuildTeamsFailed"
    assert seq.index("RecruitStorageNotAvailable") > qi + 1


def test_configure_not_confused_with_storage_pressure(spark, configure_test):
    # Pattern B guard: no VersionLag ramp here, so D1 must stay silent -
    # the configure scenario must NOT read as Cluster 6
    s = D.storage_engine_pressure(configure_test)["summary"].collect()[0]
    assert not s.detected


# ---------------------------------------------------------------------------
# SidebandWithStatus — Cluster 7 commit_proxy_pipeline_crash, the
# worker_removed variant with a recovery loop that bounces 0->4->7->0
# (problem_SidebandWithStatus.md: "FDB is designed to recover once, not
# bounce repeatedly"; key pattern "MasterTerminated preceded by
# CommitProxyTerminated or ResolverTerminated -> root cause is always CL7")
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def sideband_with_status(spark):
    rows, i = [], 0

    def add(t, sev, event, role, fields, machine="2.0.1.0:1"):
        nonlocal i
        i += 1
        rows.append(_ev(i, t, sev, event, role, fields, machine))

    # the doc's root-cause chain, each step within ~200ms of the last
    # ("resource exhaustion doesn't kill proxy and resolver in ~200ms
    # intervals" is the doc's discriminator vs CL12)
    add(10.0, 40, "CommitProxyTerminated", "CP", {"Error": "worker_removed"})
    add(10.2, 40, "ResolverTerminated", "RV", {"Error": "worker_removed"})
    add(10.4, 40, "MasterTerminated", "MS", {"Error": "worker_removed"})
    add(10.6, 20, "CommitDummyTransactionError", "CP",
        {"Error": "commit_unknown_result"})
    add(10.8, 20, "CCWDB", "CC", {"Error": "commit_proxy_failed"})
    add(11.0, 20, "ClusterRecoveryRetrying", "CC",
        {"Error": "commit_proxy_failed"})
    # the looping recovery the doc's "Recovery State / Epoch" metric
    # describes: 0 -> 4 -> 7, then back to 0, three bounces, never 14
    for loop, w in enumerate([12.0, 25.0, 40.0]):
        for k, code in enumerate([0, 4, 7]):
            add(w + 1.0 * k, 30, "MasterRecoveryState", "MS",
                {"StatusCode": str(code)})
    # downstream fallout AFTER the pipeline broke (doc: "stress reactions
    # after the pipeline collapses - not causes"); all of it far enough
    # from the first recovery that attribution can't pick it up
    add(50.0, 20, "RecruitStorageNotAvailable", "CC",
        {"Error": "no_more_servers"})
    add(51.0, 30, "DiskNearCapacity", "SS", {"Pct": "0.93"})
    add(52.0, 30, "SlowSSLoopx100", "SS", {"Elapsed": "8"})
    for k in range(8):
        add(53.0 + 0.2 * k, 20, "RelocateShard_StartMoveKeys", "DD",
            {"Error": "operation_cancelled"})
    # the doc's false positives: filesystem/network churn that "never
    # generates the master termination by itself" — placed late so a
    # correct attributor ignores it and a recency-greedy one would not
    add(60.0, 20, "FileOpenError", "SS", {"Error": "file_not_found"})
    add(61.0, 20, "PeerDestroy", "NET", {})
    add(62.0, 20, "IncomingConnectionError", "NET", {"Error": "timeout"})
    return spark.createDataFrame(rows, SCHEMA)


def test_sidebandstatus_chain_is_200ms_proxy_led(spark, sideband_with_status):
    # CL7 signature: proxy -> resolver -> master, each within 200ms, and
    # the master is LAST (reaction, not cause)
    sev40 = (
        sideband_with_status.filter(F.col("severity") >= 40)
        .orderBy("ts", "event_id")
        .collect()
    )
    assert [r.event for r in sev40] == [
        "CommitProxyTerminated", "ResolverTerminated", "MasterTerminated",
    ]
    deltas = [
        (sev40[j + 1].ts - sev40[j].ts).total_seconds() for j in range(2)
    ]
    assert all(d <= 0.2 + 1e-9 for d in deltas)


def test_sidebandstatus_recovery_loops_not_once(spark, sideband_with_status):
    # "looping 0->4->7->0 repeatedly": three episodes would merge at
    # gap>60s, so sessionize at a 10s gap to see the bounces; the loop
    # detector sees 9 recoveries inside 60s
    recs = D.detect_recoveries(sideband_with_status)["recoveries"].collect()
    codes = [r.state_code for r in recs]
    assert codes == [0, 4, 7] * 3  # bounces, never advances
    assert all(r.state_name != "fully_recovered" for r in recs)
    s = D.recovery_loop(
        sideband_with_status, threshold=3, window_seconds=60
    )["summary"].collect()[0]
    assert s.detected and s.loop_count == 7  # every 3-window after the first 2


def test_sidebandstatus_causes_name_the_pipeline(spark, sideband_with_status):
    # every bounce's first recovery must attribute to the commit-pipeline
    # evidence (the doc's diagnostic checklist: "Verify
    # commit_unknown_result"), and NEVER to the doc's false positives
    recs = sorted(
        D.detect_recoveries(sideband_with_status)["recoveries"].collect(),
        key=lambda r: r.recovery_ts,
    )
    causes = [r.cause for r in recs]
    # loop 1 anchors at T+12: nearest tier-2 fail-name inside [7,12) is
    # the commit_unknown_result dummy-transaction error (10.6) — the
    # pipeline chain's tail, not the churn
    assert causes[0] == "Detected failure event: CommitDummyTransactionError"
    for c in causes:
        if c is not None:
            for fp in ("FileOpenError", "PeerDestroy", "IncomingConnectionError",
                       "RelocateShard"):
                assert fp not in c


def test_sidebandstatus_not_storage_pressure(spark, sideband_with_status):
    # doc: "If DiskNearCapacity or SlowSSLoopx100 dominates -> storage
    # pressure (CL6) -> downstream". No VersionLag ramp exists, so D1
    # must stay silent even though disk/slow-loop events are present.
    s = D.storage_engine_pressure(sideband_with_status)["summary"].collect()[0]
    assert not s.detected


def test_sidebandstatus_timeline_leads_with_proxy(spark, sideband_with_status):
    tl = build_timeline(sideband_with_status)
    assert tl["timeline"][0]["event"] == "CommitProxyTerminated"
    notes = [item["note"] for item in tl["timeline"]]
    assert "Recovery activity begins" in notes


def test_sidebandstatus_loop_confirms_cl7_over_cl0(spark, sideband_with_status):
    """The doc's interpretation rule: ClusterRecoveryRetrying without a
    preceding proxy kill would be CL0; WITH the proxy-led chain it is CL7.
    A CL0 hypothesis that ignores the chain gets capped; the CL7 one
    grounded in the recovery/termination evidence is accepted."""
    prompts = []
    responses = [
        {
            # CL0-shaped red herring: counts the severity 30 recovery
            # warnings instead of asking what killed the pipeline first
            "hypothesis": "The repeated severity 30 recovery warnings are the problem",
            "confidence": 0.9,
            "reasoning": "many ClusterRecoveryRetrying lines appear",
        },
        {
            "hypothesis": (
                "CLUSTER 7 commit_proxy_pipeline_crash: CommitProxyTerminated "
                "precedes MasterTerminated by 400ms; the recovery loop is the "
                "consequence, not the cause"
            ),
            "confidence": 0.75,
            "reasoning": (
                "recovery episodes bounce 0->4->7 without completing while "
                "the termination chain is proxy-led; throttling and disk "
                "pressure appear only after the collapse"
            ),
        },
    ]

    def llm(prompt):
        prompts.append(prompt)
        idx = min(len(prompts) - 1, len(responses) - 1)
        return json.dumps(responses[idx])

    agent = PhasedInvestigationAgent(llm, max_iterations=8)
    res = agent.investigate(
        sideband_with_status, "Why does the cluster keep re-recovering?"
    )
    assert len(prompts) >= 2
    assert "commit_proxy_pipeline_crash" in res.hypothesis
    assert res.confidence >= 0.75
    assert "scanner.recovery_episodes" in res.tools_used


# ---------------------------------------------------------------------------
# CloggedCycleTest — the compound failure (problem_CloggedCycleTest.md):
# "missing file(s) + TLog termination + commit-proxy pipeline crash".
# Cluster 7 primary, Cluster 5 (TLog restart) supporting, Cluster 0
# recruit-failure cascade downstream. The doc's RocksDB section is the
# explicit CL6 rule-OUT ("which we do NOT see here").
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def clogged_cycle(spark):
    rows, i = [], 0

    def add(t, sev, event, role, fields, machine="2.0.1.0:1"):
        nonlocal i
        i += 1
        rows.append(_ev(i, t, sev, event, role, fields, machine))

    # early file_not_found bursts — the doc's "underlying trigger", but
    # also its false positive when "not associated with recovery loops";
    # placed >5s before the first recovery so the attributor must not
    # pick them up
    for k in range(6):
        add(0.0 + 0.3 * k, 20, "FileOpenError", "SS",
            {"Error": "file_not_found",
             "File": f"/simfdb/.../storage-{k}.fdq"})
    # TLog + txn subsystem restart (Cluster 5 supporting factor)
    add(5.0, 40, "TLogTerminated", "TL", {"Error": "worker_removed"})
    add(5.5, 20, "RestartingTxnSubsystem", "MS", {})
    # the commit-pipeline failure sequence, verbatim event names from the
    # doc's "Primary indicator(s)" block
    add(6.0, 40, "CommitProxyTerminated", "CP", {"Error": "worker_removed"})
    add(6.2, 40, "ResolverTerminated", "RV", {"Error": "worker_removed"})
    add(6.4, 40, "MasterTerminated", "MS", {"Error": "worker_removed"})
    add(6.5, 20, "CommitDummyTransactionError", "CP",
        {"Error": "commit_unknown_result"})
    add(6.6, 20, "CCWDB", "CC", {"Error": "commit_proxy_failed"})
    add(6.8, 20, "ClusterRecoveryRetrying", "CC",
        {"Error": "commit_proxy_failed"})
    # recovery cascade symptoms (Cluster 0) while the walk proceeds
    add(8.0, 20, "ClusterRecoveryRetrying", "CC", {"Error": "no_more_servers"})
    add(8.5, 20, "RecruitStorageNotAvailable", "CC",
        {"Error": "no_more_servers"})
    # one full recovery cycle — the doc: recovery IS expected here, the
    # compound trigger is what makes it noteworthy
    for k, code in enumerate([0, 2, 3, 7, 9, 11, 14]):
        add(9.0 + 0.5 * k, 30, "MasterRecoveryState", "MS",
            {"StatusCode": str(code)})
    # downstream stress, not root cause
    add(15.0, 30, "SlowSSLoopx100", "SS", {"Elapsed": "7"})
    add(16.0, 30, "DiskNearCapacity", "SS", {"Pct": "0.91"})
    add(17.0, 20, "QuietDatabaseStartFail", "DD",
        {"Reasons": "MaxTLogPoppedVersionLag"})
    return spark.createDataFrame(rows, SCHEMA)


def test_cycle_compound_order_tlog_then_pipeline(spark, clogged_cycle):
    # the doc's unfolding: TLogTerminated and RestartingTxnSubsystem come
    # BEFORE the proxy chain; master is last of the sev-40 chain
    sev40 = (
        clogged_cycle.filter(F.col("severity") >= 40)
        .orderBy("ts", "event_id")
        .collect()
    )
    assert [r.event for r in sev40] == [
        "TLogTerminated", "CommitProxyTerminated", "ResolverTerminated",
        "MasterTerminated",
    ]


def test_cycle_one_full_recovery_attributed_to_commit_errors(
    spark, clogged_cycle
):
    recs = sorted(
        D.detect_recoveries(clogged_cycle)["recoveries"].collect(),
        key=lambda r: r.recovery_ts,
    )
    assert [r.state_name for r in recs][-1] == "fully_recovered"
    eps = D.recovery_episodes(clogged_cycle)["episodes"].collect()
    assert len(eps) == 1 and eps[0].n_recoveries == 7
    # first recovery anchors at T+9: the nearest fail-name inside [4,9)
    # is CommitDummyTransactionError (commit_unknown_result) — the doc's
    # "confirm the failure is specifically in the commit pipeline"
    assert recs[0].cause == "Detected failure event: CommitDummyTransactionError"
    # and the early FileOpenError burst is never an attributed cause
    for r in recs:
        assert r.cause is None or "FileOpenError" not in r.cause


def test_cycle_rocksdb_ruleout_no_storage_pressure(spark, clogged_cycle):
    # the doc's Key-Indicators section exists to RULE OUT Cluster 6:
    # "Persistent write stall ... would indicate storage-engine pressure
    # (Cluster 6), which we do NOT see here"
    s = D.storage_engine_pressure(clogged_cycle)["summary"].collect()[0]
    assert not s.detected


def test_cycle_loop_lands_on_cl7_with_cl5_support(spark, clogged_cycle):
    prompts = []
    responses = [
        {
            # red herring the doc calls out: early file_not_found bursts
            "hypothesis": "The file not found errors at startup caused the outage",
            "confidence": 0.9,
            "reasoning": "FileOpenError bursts repeat at T+0",
        },
        {
            "hypothesis": (
                "CLUSTER 7 commit_proxy_pipeline_crash with CLUSTER 5 "
                "tlog_failure_recovery supporting: TLog restart preceded a "
                "proxy-led master termination and one full recovery"
            ),
            "confidence": 0.75,  # +0.1 metric-focus boost => 0.85
            "reasoning": (
                "recovery episode completes after commit_unknown_result "
                "errors; SlowSSLoop degradation and disk pressure follow "
                "recovery, not precede it"
            ),
        },
    ]

    def llm(prompt):
        prompts.append(prompt)
        idx = min(len(prompts) - 1, len(responses) - 1)
        return json.dumps(responses[idx])

    agent = PhasedInvestigationAgent(llm, max_iterations=8)
    res = agent.investigate(clogged_cycle, "What broke first in this run?")
    assert len(prompts) >= 2
    assert "commit_proxy_pipeline_crash" in res.hypothesis
    assert "tlog_failure_recovery" in res.hypothesis


# ---------------------------------------------------------------------------
# CloggedStorefront — repeated per-window proxy crashes with large
# CommitDummyTransactionError / TLogQueueCommitSlow bursts
# (problem_CloggedStorefront.md: "17 of the 24 windows", "3,347
# CommitDummyTransactionError", "TLogQueueCommitSlow ... LoggingDelay = 1s";
# scaled down to 5 crash windows + 1 quiet storage-metrics window)
# ---------------------------------------------------------------------------

STOREFRONT_CRASH_WINDOWS = [0.0, 90.0, 180.0, 270.0, 360.0]
STOREFRONT_QUIET_WINDOW = 450.0


@pytest.fixture(scope="module")
def clogged_storefront(spark):
    rows, i = [], 0

    def add(t, sev, event, role, fields, machine="2.0.1.0:1"):
        nonlocal i
        i += 1
        rows.append(_ev(i, t, sev, event, role, fields, machine))

    for w in STOREFRONT_CRASH_WINDOWS:
        add(w + 0.0, 40, "CommitProxyTerminated", "CP",
            {"Error": "worker_removed"})
        add(w + 0.3, 20, "CCWDB", "CC", {"Error": "commit_proxy_failed"})
        add(w + 0.5, 20, "ClusterRecoveryRetrying", "CC",
            {"Error": "commit_proxy_failed"})
        # the burst pair: dummy-transaction errors and slow TLog queue
        # commits, interleaved at 10/s (the doc's per-window bursts)
        for k in range(30):
            add(w + 1.0 + 0.1 * k, 20, "CommitDummyTransactionError", "CP",
                {"Error": "commit_unknown_result"})
        for k in range(20):
            add(w + 1.05 + 0.1 * k, 20, "TLogQueueCommitSlow", "TL",
                {"LoggingDelay": "1"})
        # per-window recovery walk (a new proxy set comes up each time)
        for k, code in enumerate([0, 2, 7, 14]):
            add(w + 6.0 + 0.5 * k, 30, "MasterRecoveryState", "MS",
                {"StatusCode": str(code)})
    # the quiet window: "others (Cluster 6) are just post-recovery
    # storage metrics" — mild lag, no crash, no recovery
    for k in range(10):
        add(STOREFRONT_QUIET_WINDOW + k, 10, "StorageMetrics", "SS",
            {"VersionLag": str(500 + 20 * k)})
    return spark.createDataFrame(rows, SCHEMA)


def test_storefront_five_crash_windows_five_episodes(spark, clogged_storefront):
    eps = D.recovery_episodes(clogged_storefront)["episodes"].collect()
    assert len(eps) == len(STOREFRONT_CRASH_WINDOWS)
    assert all(e.n_recoveries == 4 for e in eps)
    # every window's recovery reaches a working proxy set again
    recs = D.detect_recoveries(clogged_storefront)["recoveries"].collect()
    assert sum(1 for r in recs if r.state_name == "fully_recovered") == 5


def test_storefront_burst_detection_matches_bruteforce(
    spark, clogged_storefront
):
    from db_loganalyzer_spark.operators.windows import burst_windows

    dummies = clogged_storefront.filter(
        F.col("event") == "CommitDummyTransactionError"
    )
    flagged = burst_windows(dummies, k=10, window_seconds=1.0).count()
    # brute force over the synthesized times: per window, events at
    # 0.1s spacing, row j (0-based) flags when t[j]-t[j-9] <= 1.0
    times = [1.0 + 0.1 * k for k in range(30)]
    per_window = sum(
        1 for j in range(9, len(times)) if times[j] - times[j - 9] <= 1.0 + 1e-9
    )
    assert flagged == per_window * len(STOREFRONT_CRASH_WINDOWS)


def test_storefront_burst_events_dominate_histogram(spark, clogged_storefront):
    # the doc leads with the burst totals (3,347 / 3,302): the two burst
    # event names must dominate the event histogram
    top = (
        clogged_storefront.groupBy("event")
        .count()
        .orderBy(F.desc("count"), "event")
        .limit(2)
        .collect()
    )
    assert {r.event for r in top} == {
        "CommitDummyTransactionError", "TLogQueueCommitSlow",
    }
    n_dummy = next(r for r in top if r.event == "CommitDummyTransactionError")
    assert n_dummy["count"] == 30 * len(STOREFRONT_CRASH_WINDOWS)


def test_storefront_every_window_attributes_to_proxy_pipeline(
    spark, clogged_storefront
):
    recs = sorted(
        D.detect_recoveries(clogged_storefront)["recoveries"].collect(),
        key=lambda r: r.recovery_ts,
    )
    # each window's first recovery (anchor w+6) looks back to [w+1, w+6):
    # the nearest fail-name is the tail of the dummy-error burst
    for w_idx in range(len(STOREFRONT_CRASH_WINDOWS)):
        first = recs[w_idx * 4]
        assert first.cause == (
            "Detected failure event: CommitDummyTransactionError"
        ), (w_idx, first)


def test_storefront_quiet_window_is_not_pressure(spark, clogged_storefront):
    # mild post-recovery storage metrics must not read as Cluster 6
    s = D.storage_engine_pressure(clogged_storefront)["summary"].collect()[0]
    assert not s.detected
    # and no recovery episode overlaps the quiet window
    eps = D.recovery_episodes(clogged_storefront)["episodes"].collect()
    quiet_start = T0 + dt.timedelta(seconds=STOREFRONT_QUIET_WINDOW)
    assert all(e.end_ts < quiet_start for e in eps)


# ---------------------------------------------------------------------------
# ConfigureStorageMigrationTest — Cluster 9 storage-migration instability
# (problem_ConfigureStorageMigrationTest.md: quiet-db failure -> team-build
# failure -> audit stall loop; "Without quiet-database errors, treat as
# Cluster 6 or 0"; distinguished from ConfigureTest by the audit loop and
# by the migration NEVER reaching a recovery walk at all)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def storage_migration(spark):
    rows, i = [], 0

    def add(t, sev, event, role, fields, machine="2.0.1.0:1"):
        nonlocal i
        i += 1
        rows.append(_ev(i, t, sev, event, role, fields, machine))

    for w in [0.0, 120.0]:
        # the doc's timeline: T+0 migration starts, T+3 quiet-db fails,
        # T+5 team build fails + recruit unavailable, audit retries
        add(w + 3.0, 20, "QuietDatabaseStartFail", "DD",
            {"Reasons": "MaxTLogPoppedVersionLag"})
        add(w + 3.5, 20, "QuietDatabaseConsistencyCheckStartFail", "DD", {})
        add(w + 5.0, 20, "BuildTeamsLastBuildTeamsFailed", "DD", {"Teams": "0"})
        add(w + 5.5, 20, "RecruitStorageNotAvailable", "CC",
            {"Error": "no_more_servers"})
        for k in range(3):  # the audit stall loop, retrying and never done
            add(w + 6.0 + 1.5 * k, 20, "AuditUtilCheckAuditProgressNotFinished",
                "DD", {"Retry": str(k)})
        add(w + 11.0, 20, "GrvProxyRateLeaseExpired", "GP", {})
    return spark.createDataFrame(rows, SCHEMA)


def test_migration_timing_quietdb_teams_audit(spark, storage_migration):
    # "Key timing pattern: Quiet database failure -> team build failure ->
    # audit stall loop", in order, in every cycle
    seq = [
        (r.event, r.ts)
        for r in storage_migration.orderBy("ts", "event_id").collect()
    ]
    names = [e for e, _ in seq]
    for cycle in range(2):
        base = cycle * 8  # 8 events per cycle
        window = names[base:base + 8]
        qi = window.index("QuietDatabaseStartFail")
        ti = window.index("BuildTeamsLastBuildTeamsFailed")
        ai = window.index("AuditUtilCheckAuditProgressNotFinished")
        assert qi < ti < ai


def test_migration_audit_never_finishes(spark, storage_migration):
    # audit retries in BOTH cycles and no completion event exists
    audits = storage_migration.filter(
        F.col("event") == "AuditUtilCheckAuditProgressNotFinished"
    )
    assert audits.count() == 6
    per_cycle = (
        audits.groupBy(F.window("ts", "60 seconds"))
        .count()
        .select("count")
        .collect()
    )
    assert sorted(r["count"] for r in per_cycle) == [3, 3]


def test_migration_never_reaches_recovery(spark, storage_migration):
    # unlike ConfigureTest (config-DRIVEN recoveries), the migration
    # stalls before any recovery walk: zero MasterRecoveryState rows
    assert (
        D.recovery_episodes(storage_migration)["episodes"].count() == 0
    )
    s = D.recovery_loop(storage_migration)["summary"].collect()[0]
    assert not s.detected


def test_migration_false_positive_guards(spark, storage_migration):
    # doc: "Pure storage pressure without quiet-database failures" is the
    # false positive in one direction (no VersionLag ramp here -> D1
    # silent); "TLogTerminated without configure steps (then it's
    # Cluster 5)" in the other (no TLog failure events -> D3 silent)
    s6 = D.storage_engine_pressure(storage_migration)["summary"].collect()[0]
    assert not s6.detected
    s5 = D.missing_tlogs(storage_migration)["summary"].collect()[0]
    assert s5["count"] == 0


# ---------------------------------------------------------------------------
# The last three reference problem families. Their ground-truth docs are
# EMPTY in the reference snapshot (problem_ClogUnclog.md,
# problem_CloggedCycleWithKills.md, problem_CycleRollbackClogged.md are
# all 0 bytes; the raw trace archives are in .MISSING_LARGE_BLOBS), so
# there is no documented expected diagnosis to transcribe. The fixtures
# below are instead derived from the scenario NAMES (standard FDB
# simulation workloads), the cluster taxonomy the non-empty docs share
# (knowledge_base.py CLUSTERS), and the sibling docs' conventions — and
# the assertions pin how THIS engine's detector stack behaves on those
# signatures, explicitly including the cross-family distinctions
# (one-shot vs bouncing recovery, rollback-present vs -absent).
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# ClogUnclog — transient network clog that HEALS (Cluster 8
# network_partition_recovery): coordinator connectivity lost while the
# clog holds, a "Network partition" known-cause marker, then exactly ONE
# complete recovery walk after the unclog. The family's distinguishing
# property vs every Clogged* sibling: the cluster recovers once and
# finishes — no bounce, no rollback, no storage pressure.
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def clog_unclog(spark):
    rows, i = [], 0

    def add(t, sev, event, role, fields, machine="2.0.1.0:1"):
        nonlocal i
        i += 1
        rows.append(_ev(i, t, sev, event, role, fields, machine))

    # the clog window: repeated connection timeouts between zones and
    # coordinator connectivity failures (Cluster 8 indicators
    # "coordinator unreachable", "connection timeout", "quorum lost")
    for k in range(8):
        add(0.0 + 1.0 * k, 10, "ConnectionTimedOut", "NW",
            {"Peer": f"3.0.{k % 2}.0:1"}, machine=f"2.0.{k % 2}.0:1")
    for k in range(3):
        add(1.5 + 2.0 * k, 20, "CoordinatorConnectionFailed", "CD",
            {"Error": "connection_failed", "Attempts": str(k + 1)})
    add(7.0, 20, "QuorumNotReachable", "CC", {"Alive": "1", "Needed": "2"})
    # the tier-1 known-cause marker inside the first recovery's look-back
    add(8.0, 10, "CodeCoverage", "CC",
        {"Comment": "Network partition suspected between zones",
         "File": "Coordination.actor.cpp"})
    # unclog: connectivity restored, then ONE full recovery walk
    add(8.5, 10, "ConnectionEstablished", "NW", {"Peer": "3.0.0.0:1"})
    for k, code in enumerate([0, 2, 3, 7, 9, 11, 14]):
        add(9.0 + 0.5 * k, 30, "MasterRecoveryState", "MS",
            {"StatusCode": str(code)})
    # healthy tail: versions advance monotonically (no rollback signal)
    for k in range(4):
        add(13.0 + 0.5 * k, 10, "ProxyMetrics", "CP",
            {"CommittedVersion": str(5_000_000 + 100_000 * k)})
    return spark.createDataFrame(rows, SCHEMA)


def test_clogunclog_single_complete_episode(spark, clog_unclog):
    eps = D.recovery_episodes(clog_unclog)["episodes"].collect()
    assert len(eps) == 1 and eps[0].n_recoveries == 7
    recs = sorted(
        D.detect_recoveries(clog_unclog)["recoveries"].collect(),
        key=lambda r: r.recovery_ts,
    )
    assert recs[0].state_name == "reading_coordinated_state"
    assert recs[-1].state_name == "fully_recovered"


def test_clogunclog_cause_is_network_partition(spark, clog_unclog):
    # the CodeCoverage "Network partition" comment is a KNOWN_CAUSE:
    # tier 1 beats the CoordinatorConnectionFailed fail-name candidates
    # also inside the first walk's 5s look-back
    recs = sorted(
        D.detect_recoveries(clog_unclog)["recoveries"].collect(),
        key=lambda r: r.recovery_ts,
    )
    assert recs[0].cause == "Network partition suspected between zones"


def test_clogunclog_coordination_loss_during_clog(spark, clog_unclog):
    # D5 fires on the clog window's coordinator failures and nothing else
    res = D.coordination_loss(clog_unclog)
    assert res["summary"].collect()[0]["count"] == 3
    hits = res["events"].collect()
    assert {r.event for r in hits} == {"CoordinatorConnectionFailed"}
    assert all(r.ts < T0 + dt.timedelta(seconds=8.5) for r in hits)


def test_clogunclog_heals_clean_no_other_family_signals(spark, clog_unclog):
    # the one-shot recovery leaves no sibling-family fingerprints:
    # no storage pressure (CloggedStorefront/Cluster 6), no rollback
    # (CycleRollbackClogged), no TLog failure (CloggedCycleTest/CL5)
    assert not D.storage_engine_pressure(clog_unclog)["summary"].collect()[0].detected
    rb = D.rollback_analysis(clog_unclog)["summary"].collect()[0]
    assert not rb.detected
    assert D.missing_tlogs(clog_unclog)["summary"].collect()[0]["count"] == 0


# ---------------------------------------------------------------------------
# CloggedCycleWithKills — the CloggedCycleTest compound under repeated
# process KILLS: three kill waves (TLog + proxy + master torn down with
# worker_removed), each forcing a recovery; the first two walks are
# aborted by the next kill, only the last completes. Cluster 7 primary
# per wave with a Cluster 0 recruit-cascade between waves — the bouncing
# multi-episode shape, vs CloggedCycleTest's single compound episode.
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def clogged_cycle_kills(spark):
    rows, i = [], 0

    def add(t, sev, event, role, fields, machine="2.0.1.0:1"):
        nonlocal i
        i += 1
        rows.append(_ev(i, t, sev, event, role, fields, machine))

    # kill waves at T+0 / T+100 / T+200 (recovery_episodes gap=60s splits
    # them); walks 1-2 are cut short by the next kill, walk 3 completes
    walks = [[0, 2, 3, 7], [0, 2, 3, 7, 9], [0, 2, 3, 7, 9, 11, 14]]
    for w, (t0, codes) in enumerate(zip([0.0, 100.0, 200.0], walks)):
        add(t0 + 0.0, 40, "TLogTerminated", "TL",
            {"Error": "worker_removed"}, machine=f"2.0.{w}.0:1")
        add(t0 + 0.2, 40, "CommitProxyTerminated", "CP",
            {"Error": "worker_removed"}, machine=f"2.0.{w}.0:1")
        add(t0 + 0.4, 40, "MasterTerminated", "MS",
            {"Error": "worker_removed"})
        # Cluster 0 recruit cascade while the dead workers are replaced
        add(t0 + 1.0, 20, "ClusterRecoveryRetrying", "CC",
            {"Error": "no_more_servers"})
        add(t0 + 1.5, 20, "RecruitStorageNotAvailable", "CC",
            {"Error": "no_more_servers"})
        for k, code in enumerate(codes):
            add(t0 + 2.0 + 0.5 * k, 30, "MasterRecoveryState", "MS",
                {"StatusCode": str(code)})
    return spark.createDataFrame(rows, SCHEMA)


def test_kills_three_episodes_only_last_completes(spark, clogged_cycle_kills):
    eps = sorted(
        D.recovery_episodes(clogged_cycle_kills)["episodes"].collect(),
        key=lambda r: r.start_ts,
    )
    assert len(eps) == 3
    assert [e.n_recoveries for e in eps] == [4, 5, 7]
    # every episode's halo contains a sev-40 kill
    assert all(e.max_severity_halo == 40 for e in eps)
    recs = sorted(
        D.detect_recoveries(clogged_cycle_kills)["recoveries"].collect(),
        key=lambda r: r.recovery_ts,
    )
    finals = [r.state_name for r in recs]
    assert finals.count("fully_recovered") == 1 and finals[-1] == "fully_recovered"


def test_kills_every_wave_attributed_to_a_kill(spark, clogged_cycle_kills):
    # each wave's first recovery anchors 2s after the kills: the
    # nearest-last fail-name candidate is MasterTerminated every time
    recs = sorted(
        D.detect_recoveries(clogged_cycle_kills)["recoveries"].collect(),
        key=lambda r: r.recovery_ts,
    )
    first_per_wave = [r for r in recs if r.state_code == 0]
    assert len(first_per_wave) == 3
    assert all(
        r.cause == "Detected failure event: MasterTerminated"
        for r in first_per_wave
    )


def test_kills_bounce_vs_single_compound(spark, clogged_cycle_kills):
    # the distinguishing signal vs CloggedCycleTest: D4 sees dense
    # recovery activity in EVERY wave (16 recovery states across 3
    # bursts), and no wave is storage pressure or rollback
    s = D.recovery_loop(clogged_cycle_kills)["summary"].collect()[0]
    assert s.detected and s.loop_count >= 3
    assert not D.storage_engine_pressure(clogged_cycle_kills)[
        "summary"
    ].collect()[0].detected
    assert not D.rollback_analysis(clogged_cycle_kills)["summary"].collect()[0].detected


def test_kills_tlog_kills_are_terminations_not_d3_failures(
    spark, clogged_cycle_kills
):
    # every wave tears down a TLog on a distinct machine...
    kills = clogged_cycle_kills.filter(F.col("event") == "TLogTerminated")
    assert {r.machine_id for r in kills.collect()} == {
        "2.0.0.0:1", "2.0.1.0:1", "2.0.2.0:1",
    }
    # ...but a KILL is a clean termination, not a TLog I/O failure: D3
    # (TLog + Missing/Failed/Error names) stays silent, which is exactly
    # what separates this family from a Cluster 5 tlog_failure_recovery
    assert D.missing_tlogs(clogged_cycle_kills)["summary"].collect()[0]["count"] == 0


# ---------------------------------------------------------------------------
# CycleRollbackClogged — cycle workload + clog-induced proxy crash whose
# recovery ROLLS BACK committed versions (Cluster 7 trigger + the W4/D9
# rollback fingerprint the other Clogged* families explicitly lack).
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def cycle_rollback_clogged(spark):
    rows, i = [], 0

    def add(t, sev, event, role, fields, machine="2.0.1.0:1"):
        nonlocal i
        i += 1
        rows.append(_ev(i, t, sev, event, role, fields, machine))

    # healthy cycle traffic: versions advance 1.0M -> 5.0M
    for k in range(5):
        add(0.0 + 1.0 * k, 10, "ProxyMetrics", "CP",
            {"CommittedVersion": str(1_000_000 * (k + 1)),
             "DurableVersion": str(1_000_000 * (k + 1) - 200_000)})
    # clog hits the commit pipeline (Cluster 7 order: proxy before master)
    add(5.0, 40, "CommitProxyTerminated", "CP", {"Error": "worker_removed"})
    add(5.2, 40, "MasterTerminated", "MS", {"Error": "worker_removed"})
    # recovery walk; during recovery_transaction the committed version is
    # rolled back 5.0M -> 4.2M (the un-acknowledged tail is discarded)
    for k, code in enumerate([0, 2, 3, 7]):
        add(6.0 + 0.5 * k, 30, "MasterRecoveryState", "MS",
            {"StatusCode": str(code)})
    add(8.2, 30, "MasterRecoveryState", "MS", {"StatusCode": "9"})
    add(8.4, 20, "ProxyMetrics", "CP", {"CommittedVersion": "4200000"})
    for k, code in enumerate([11, 14]):
        add(8.6 + 0.5 * k, 30, "MasterRecoveryState", "MS",
            {"StatusCode": str(code)})
    # post-recovery traffic resumes FROM the rolled-back version
    for k in range(3):
        add(10.0 + 1.0 * k, 10, "ProxyMetrics", "CP",
            {"CommittedVersion": str(4_300_000 + 100_000 * k)})
    return spark.createDataFrame(rows, SCHEMA)


def test_rollback_clogged_d9_detects_the_drop(spark, cycle_rollback_clogged):
    res = D.rollback_analysis(cycle_rollback_clogged)
    s = res["summary"].collect()[0]
    assert s.detected and s.num_drops == 1 and s.max_drop == 800_000.0
    drop = res["drops"].collect()[0]
    assert drop.column == "CommittedVersion"
    assert drop.prev_value == 5_000_000.0 and drop.value == 4_200_000.0
    # the drop is a rollback, not a counter reset to ~zero
    assert res["resets"].count() == 0


def test_rollback_clogged_drop_is_inside_the_episode(
    spark, cycle_rollback_clogged
):
    # the rollback lands between the episode's first and last recovery
    # state — it IS the recovery's work, not workload noise
    ep = D.recovery_episodes(cycle_rollback_clogged)["episodes"].collect()[0]
    drop = D.rollback_analysis(cycle_rollback_clogged)["drops"].collect()[0]
    assert ep.start_ts <= drop.ts <= ep.end_ts


def test_rollback_clogged_proxy_led_cluster7(spark, cycle_rollback_clogged):
    sev40 = (
        cycle_rollback_clogged.filter(F.col("severity") >= 40)
        .orderBy("ts", "event_id")
        .collect()
    )
    assert [r.event for r in sev40] == [
        "CommitProxyTerminated", "MasterTerminated",
    ]
    recs = sorted(
        D.detect_recoveries(cycle_rollback_clogged)["recoveries"].collect(),
        key=lambda r: r.recovery_ts,
    )
    assert recs[0].cause == "Detected failure event: MasterTerminated"
    assert recs[-1].state_name == "fully_recovered"


def test_rollback_clogged_healthy_prefix_is_clean(
    spark, cycle_rollback_clogged
):
    # false-positive guard: the pre-clog half alone (advancing versions)
    # carries NO rollback signal
    prefix = cycle_rollback_clogged.filter(
        F.col("ts") < T0 + dt.timedelta(seconds=5)
    )
    s = D.rollback_analysis(prefix)["summary"].collect()[0]
    assert not s.detected


# ---------------------------------------------------------------------------
# Coverage@10 acceptance eval (reference README.md:400-416): over the 10
# problem-summary docs, queries derived from each scenario fixture's OWN
# evidence must surface the matching doc's chunks in the top-10 retrieved
# chunks — the RAG acceptance bar the reference demo states (>= 0.9).
# ---------------------------------------------------------------------------

REF_CORPUS = "/root/reference/rag-corpus/problem-summary"


def _evidence_query(df) -> str:
    """A deterministic retrieval query from a scenario's raw event
    stream — the evidence the investigation loop would cite: event names
    ordered by (severity, frequency), plus the non-numeric field values
    of high-severity events (error strings, CodeCoverage comments)."""
    names = (
        df.groupBy("event")
        .agg(F.count(F.lit(1)).alias("n"), F.max("severity").alias("sev"))
        .orderBy(F.desc("sev"), F.desc("n"), "event")
        .limit(15)
        .collect()
    )
    terms = [r["event"] for r in names]
    vals = (
        df.filter("severity >= 20")
        .select(F.explode("fields").alias("k", "v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "v")
        .limit(10)
        .collect()
    )
    terms += [
        r["v"] for r in vals
        if r["v"] and not r["v"].replace(".", "").replace("-", "").isdigit()
    ]
    return " ".join(terms)


@pytest.mark.skipif(
    not __import__("os").path.isdir(REF_CORPUS),
    reason="reference corpus not present",
)
def test_coverage_at_10_over_scenario_bank(
    spark,
    clogged_sideband,
    clog_with_rollbacks,
    configure_test,
    sideband_with_status,
    clogged_cycle,
    clogged_storefront,
    storage_migration,
    clog_unclog,
    clogged_cycle_kills,
    cycle_rollback_clogged,
):
    from db_loganalyzer_spark.agentic.retrieval import (
        build_corpus_index,
        load_corpus_dir,
        retrieve,
    )
    from db_loganalyzer_spark.operators.chunking import split_text

    docs = load_corpus_dir(spark, REF_CORPUS).collect()
    chunk_rows = []
    for d in docs:
        for j, chunk in enumerate(split_text(d["text"], chunk_size=600,
                                             chunk_overlap=100)):
            chunk_rows.append((len(chunk_rows), f"{d['name']}#{j}", chunk))
    assert len(chunk_rows) > 30, "corpus must chunk non-trivially"
    index = build_corpus_index(
        spark.createDataFrame(
            chunk_rows, "doc_id long, name string, text string"
        )
    ).cache()

    bank = {
        "problem_CloggedSideband.md": clogged_sideband,
        "problem_ClogWithRollbacks.md": clog_with_rollbacks,
        "problem_ConfigureTest.md": configure_test,
        "problem_SidebandWithStatus.md": sideband_with_status,
        "problem_CloggedCycleTest.md": clogged_cycle,
        "problem_CloggedStorefront.md": clogged_storefront,
        "problem_ConfigureStorageMigrationTest.md": storage_migration,
        "problem_ClogUnclog.md": clog_unclog,
        "problem_CloggedCycleWithKills.md": clogged_cycle_kills,
        "problem_CycleRollbackClogged.md": cycle_rollback_clogged,
    }
    # the snapshot ships three docs as 0-byte files (ClogUnclog,
    # CloggedCycleWithKills, CycleRollbackClogged) — no chunk of them
    # can exist in ANY index, so they cannot count against the
    # retriever (the reference's own corpus would behave identically);
    # the metric runs over every doc that has content
    indexable = {
        name: df for name, df in bank.items()
        if any(r["name"] == name and r["text"].strip() for r in docs)
    }
    assert len(indexable) >= 7
    hits, misses = 0, []
    for name, df in indexable.items():
        q = _evidence_query(df)
        top10 = retrieve(index, q, top_k=10)
        if any(h["name"].split("#")[0] == name for h in top10):
            hits += 1
        else:
            misses.append(name)
    coverage = hits / len(indexable)
    assert coverage >= 0.9, f"Coverage@10={coverage:.2f}, missed {misses}"


# ---------------------------------------------------------------------------
# Loop-level RCA ACCURACY over the whole scenario bank (r11; reference
# log_analysis/evaluate_ai.py:24-91 + README acceptance: >=3 failure
# modes diagnosed with confidence >= 0.7). The LLM slot is filled by a
# deterministic EVIDENCE READER: it sees only the text the loop
# assembled AFTER the question (top events, histograms, detector
# verdicts, timeline) — never the knowledge-base section, never the
# fixture, never the scenario name — and applies the interpretation
# rules the problem-summary docs state (proxy/resolver terminations =
# Cluster 7 regardless of secondary rollback/storage noise;
# QuietDatabase/BuildTeams/audit failures = Cluster 9; quorum loss =
# Cluster 8; throttle+storage metrics = Cluster 6; retrying recruit
# storms without terminations = Cluster 0). If the loop failed to
# surface the discriminating evidence for a scenario, the reader
# mislabels it and accuracy drops — that is what makes this a test of
# the LOOP, not of the stub.
# ---------------------------------------------------------------------------


def _evidence_reader_llm(prompt: str) -> str:
    import re as _re

    evidence = prompt.split("QUESTION:", 1)[1]

    def detector_fired(name):
        return bool(_re.search(
            rf'"{name}":\s*\{{[^{{}}]*"detected":\s*true', evidence
        ))

    if "CommitProxyTerminated" in evidence or "ResolverTerminated" in evidence:
        cid, cname, conf = 7, "commit_proxy_pipeline_crash", 0.8
        why = ("proxy/resolver termination events precede MasterTerminated; "
               "the commit pipeline is broken")
    elif ("QuietDatabaseStartFail" in evidence
          or "BuildTeamsLastBuildTeamsFailed" in evidence
          or "AuditUtilCheckAuditProgressNotFinished" in evidence):
        cid, cname, conf = 9, "configuration_change_recovery", 0.8
        why = ("QuietDatabase/BuildTeams/audit progress failures mark a "
               "configuration or migration in progress")
    elif ("CoordinatorConnectionFailed" in evidence
          or "QuorumNotReachable" in evidence
          or detector_fired("coordination_loss")):
        cid, cname, conf = 8, "network_partition_recovery", 0.8
        why = "coordinator connectivity and quorum lost during the window"
    elif ("RatekeeperThrottle" in evidence
          or detector_fired("storage_engine_pressure")):
        cid, cname, conf = 6, "storage_engine_pressure", 0.75
        why = ("versionlag and throttle metrics show storage pressure; "
               "metric degradation dominates the window")
    elif ("ClusterRecoveryRetrying" in evidence
          or "RecruitStorageNotAvailable" in evidence
          or detector_fired("recovery_loop")):
        cid, cname, conf = 0, "recovery_restart_cascade", 0.75
        why = ("recovery retries and storage recruitment failures repeat "
               "without reaching fully_recovered")
    else:
        cid, cname, conf = 15, "cascading_failure_recovery", 0.4
        why = "no single discriminating signal surfaced"
    return json.dumps({
        "hypothesis": f"CLUSTER {cid}: {cname}",
        "confidence": conf,
        "reasoning": why,
    })


@pytest.mark.slow
def test_rca_accuracy_over_scenario_bank(
    spark,
    clogged_sideband,
    clog_with_rollbacks,
    storage_pressure,
    configure_test,
    sideband_with_status,
    clogged_cycle,
    clogged_storefront,
    storage_migration,
    clog_unclog,
    clogged_cycle_kills,
    cycle_rollback_clogged,
):
    from db_loganalyzer_spark.operators.evaluation import (
        eval_accuracy,
        score_predictions,
    )

    # canonical PRIMARY labels, per the problem-summary docs (and, for
    # the three 0-byte docs, the fixture-header derivations)
    bank = {
        "CloggedSideband": (clogged_sideband, 7, "commit_proxy_pipeline_crash"),
        "ClogWithRollbacks": (clog_with_rollbacks, 0, "recovery_restart_cascade"),
        "StoragePressure": (storage_pressure, 6, "storage_engine_pressure"),
        "ConfigureTest": (configure_test, 9, "configuration_change_recovery"),
        "SidebandWithStatus": (sideband_with_status, 7, "commit_proxy_pipeline_crash"),
        "CloggedCycleTest": (clogged_cycle, 7, "commit_proxy_pipeline_crash"),
        "CloggedStorefront": (clogged_storefront, 7, "commit_proxy_pipeline_crash"),
        "ConfigureStorageMigrationTest": (storage_migration, 9, "configuration_change_recovery"),
        "ClogUnclog": (clog_unclog, 8, "network_partition_recovery"),
        "CloggedCycleWithKills": (clogged_cycle_kills, 7, "commit_proxy_pipeline_crash"),
        "CycleRollbackClogged": (cycle_rollback_clogged, 7, "commit_proxy_pipeline_crash"),
    }
    rows, confident_modes = [], set()
    for name, (events, cid, cname) in bank.items():
        agent = PhasedInvestigationAgent(
            _evidence_reader_llm,
            max_iterations=4,
            max_llm_calls=2,
            confidence_threshold=0.7,
            sleep=lambda _: None,
        )
        res = agent.investigate(events, "what failure is being tested?")
        truth = f"CLUSTER {cid}: {cname}"
        rows.append((name, res.hypothesis, truth, float(res.confidence)))
        if res.confidence >= 0.7 and res.hypothesis == truth:
            confident_modes.add(cid)

    scored = score_predictions(
        spark.createDataFrame(
            rows, "scenario string, pred string, truth string, conf double"
        ),
        pred_col="pred",
        truth_col="truth",
        threshold=0.6,
    )
    acc_row = eval_accuracy(scored).collect()[0]
    wrong = [r.scenario for r in scored.collect() if not r.is_correct]
    # the reference prints accuracy over its bank; its README acceptance
    # bar is >=3 failure modes diagnosed at confidence >= 0.7
    assert acc_row.n == len(bank)
    assert acc_row.accuracy >= 0.8, f"RCA accuracy {acc_row.accuracy:.2f}, missed {wrong}"
    assert len(confident_modes) >= 3, confident_modes
    # pin the actual strength: every scenario lands its EXACT primary
    # label (the >0.6-ratio gate above is the reference's contract; this
    # engine's loop currently clears it with room)
    exact_misses = [(n, p, t) for n, p, t, _ in rows if p != t]
    assert not exact_misses, exact_misses
