"""The benchmark's workloads: corpora, one pass each, and output checks.

A pass takes trace files in and returns the workload's result as plain
Python values. ``check`` compares a result with the oracle module's
expectations for the same corpus and returns the failed checks by name
(empty when the result is correct). Passes call the library only through
its public functions; ``probe`` is a ``harness.Tracer`` (spans on) or a
``harness.Untraced`` (spans off).
"""

from __future__ import annotations

import hashlib
import json
import os
import time

import corpus as C
import oracle as O

DETECTORS = [
    "storage_engine_pressure", "ratekeeper_throttling", "missing_tlogs",
    "coordination_loss", "recovery_loop", "zscore_hotspots",
    "baseline_window_anomalies", "metric_anomalies", "rollback_analysis",
    "recovery_episodes", "detect_recoveries",
]
DERIVED = ["event_metrics", "events_wide", "processes", "process_roles"]
ROLLUP_WINDOWS = (60, 3600)


def _epoch(v):
    return None if v is None else O.epoch(v)


def _num(v):
    return None if v is None else float(v)


class Workload:
    """What ``run.py`` calls on a workload. ``wrap`` lists the library
    functions a traced pass swaps spanned wrappers onto, as (module under
    ``db_loganalyzer_spark``, attribute, span name)."""

    name: str
    wrap: list[tuple[str, str, str]] = []
    events: list[C.Event]  # every corpus event, for the run record
    bytes: int  # every corpus byte

    def run_pass(self, spark, probe) -> dict:
        """One pass; the result carries ``bytes_in``, the trace bytes
        it was given."""
        raise NotImplementedError

    def check(self, got: dict) -> list[str]:
        raise NotImplementedError

    def expected_all(self) -> None:
        """Compute every oracle answer up front, outside timed regions."""

    def measure(self, got: dict) -> dict:
        """Per-layer values read after the pass, outside its timing."""
        return {}

    def duckdb_s(self) -> float:
        """Same-process DuckDB time for the workload's rollup, if any."""
        return 0.0


# ---------------------------------------------------------------------------
# set-up
# ---------------------------------------------------------------------------


def set_up_query(spark) -> list[str]:
    """The set-up's one query, the same in every run, so the SQL session,
    the scheduler and code generation are loaded before the first pass.
    The workload's own queries stay cold, as in a fresh process. Returns
    the failed checks."""
    got = spark.range(1000).selectExpr("sum(id)").collect()[0][0]
    return [] if got == 499500 else [f"set-up query: sum {got} != 499500"]


# ---------------------------------------------------------------------------
# fleet_triage
# ---------------------------------------------------------------------------


class FleetTriage(Workload):
    """Many machines' mixed XML/JSONL traces with injected incidents:
    ingest, rollups and baselines, all 11 detectors with their outputs
    collected, then the timeline."""

    name = "fleet_triage"  # the pass opens its own spans around call + collect
    SPEC = dict(n_machines=16, files_per_machine=1, duration_s=3600,
                metric_period_s=20,
                incidents=["storage_pressure", "clogged_sideband",
                           "clog_with_rollbacks", "tlog_coordination", "burst"])

    def __init__(self, seed: int, root: str):
        self.corpus = C.generate(C.Spec(self.name, **self.SPEC), seed,
                                 os.path.join(root, self.name))
        self.paths = sorted(self.corpus.paths)
        self.events = self.corpus.events
        self.bytes = self.corpus.total_bytes
        self._want = None

    # -- the pass ------------------------------------------------------------

    def run_pass(self, spark, probe) -> dict:
        from db_loganalyzer_spark.agentic import timeline as TL
        from db_loganalyzer_spark.detectors import detectors as D
        from db_loganalyzer_spark.operators import aggregates as A
        from db_loganalyzer_spark.sources import trace_logs as TLG

        out: dict = {}
        with probe.span("trace_logs.read_trace_events") as sp:
            tables = TLG.ingest(spark, self.paths)
            ev, em = tables["events"], tables["event_metrics"]
            out["counts"] = {"events": ev.count()}
            sp.rows_out = out["counts"]["events"]
        with probe.span("trace_logs.derive") as sp:
            for name in DERIVED:
                out["counts"][name] = tables[name].count()
            sp.rows_out = sum(out["counts"][n] for n in DERIVED)
        with probe.span("aggregates.windowed_rollup") as sp:
            joined = ev.join(em, "event_id")
            for w in ROLLUP_WINDOWS:
                df = A.windowed_rollup(joined, w, ["role", "metric_name"], "metric_value")
                rows = df.collect()
                sp.plan_ms += probe.plan_ms(df)
                out[f"rollup_{w}"] = [
                    (r["window_start"], r["role"], r["metric_name"], r["n"],
                     r["avg_value"], r["max_value"], r["p95_value"]) for r in rows]
                sp.rows_out += len(rows)
        with probe.span("detectors.metric_baselines_table") as sp:
            baselines = D.metric_baselines_table(ev, em)
            out["baselines"] = [tuple(r) for r in baselines.collect()]
            sp.rows_out = len(out["baselines"])
        calls = {
            "storage_engine_pressure": lambda: D.storage_engine_pressure(ev, baselines),
            "baseline_window_anomalies": lambda: D.baseline_window_anomalies(ev, em, baselines),
        }
        det = {}
        for name in DETECTORS:
            with probe.span(f"detectors.{name}") as sp:
                res = calls[name]() if name in calls else getattr(D, name)(ev)
                det[name] = {k: [r.asDict() for r in v.collect()] for k, v in res.items()}
                sp.rows_out = sum(len(v) for v in det[name].values())
        out["detectors"] = det
        with probe.span("timeline.build_timeline"):
            summaries = {k: v["summary"][0] for k, v in det.items()
                         if v.get("summary")}
            tl = TL.build_timeline(ev, summaries)
        out["timeline"] = {
            "severe_ts": tl["first_anomaly"]["timestamp"],
            "severe_event": tl["first_anomaly"]["event"],
            "root_cause_signal": tl["root_cause_signal"],
        }
        out["bytes_in"] = self.bytes
        return out

    def expected_all(self) -> None:
        self.expected()

    def duckdb_s(self) -> float:
        return self.expected()["duckdb_rollup_s"]

    # -- checks --------------------------------------------------------------

    def expected(self) -> dict:
        if self._want is None:
            ev = self.events
            duck = O.DuckOracle(ev)
            try:
                t0 = time.perf_counter()
                rollups = {w: duck.rollup(w) for w in ROLLUP_WINDOWS}
                duck_s = time.perf_counter() - t0
                bl = duck.baselines()
            finally:
                duck.close()
            self._want = {
                "counts": O.table_counts(ev),
                "rollups": rollups,
                "duckdb_rollup_s": duck_s,
                "baselines": bl,
                "detectors": {
                    "storage_engine_pressure": O.storage_engine_pressure(ev, bl),
                    "ratekeeper_throttling": O.ratekeeper_throttling(ev),
                    "missing_tlogs": O.missing_tlogs(ev),
                    "coordination_loss": O.coordination_loss(ev),
                    "recovery_loop": O.recovery_loop(ev),
                    "zscore_hotspots": O.zscore_hotspots(ev),
                    "baseline_window_anomalies": O.baseline_window_anomalies(ev, bl),
                    "metric_anomalies": O.metric_anomalies(ev),
                    "rollback_analysis": O.rollback_analysis(ev),
                    "recovery_episodes": O.recovery_episodes(ev),
                    "detect_recoveries": O.detect_recoveries(ev),
                },
                "timeline": O.timeline(ev),
            }
        return self._want

    def check(self, got: dict) -> list[str]:
        want = self.expected()
        bad = []
        for k, v in want["counts"].items():
            if got["counts"].get(k) != v:
                bad.append(f"count.{k}: {got['counts'].get(k)} != {v}")
        for w in ROLLUP_WINDOWS:
            if err := O.compare_rows(got[f"rollup_{w}"], want["rollups"][w], rel=1e-9):
                bad.append(f"rollup_{w}: {err}")
        if err := O.compare_rows(got["baselines"], want["baselines"], rel=1e-6):
            bad.append(f"baselines: {err}")
        for name, diff in detector_diffs(got["detectors"], want["detectors"]).items():
            bad.append(f"detectors.{name}: {diff}")
        for inc in self.corpus.incidents:
            if not fired(inc, got["detectors"]):
                bad.append(f"incident.{inc.kind}: expected detectors did not fire")
        tl, wt = got["timeline"], want["timeline"]
        if (O.iso_epoch(tl["severe_ts"]) != wt["severe_ts"]
                or tl["severe_event"] not in wt["severe_events"]
                or tl["root_cause_signal"] != wt["root_cause_signal"]):
            bad.append(f"timeline: {tl} vs {wt}")
        return bad


def _summary(rows: list[dict]) -> dict:
    return rows[0] if rows else {}


def detector_diffs(got: dict, want: dict) -> dict[str, str]:
    """Each detector's collected output, reduced to what the oracle
    computes, against the oracle; only the detectors that differ."""
    g = {}
    s = _summary(got["storage_engine_pressure"]["summary"])
    g["storage_engine_pressure"] = {
        "detected": s.get("detected"), "count_high": s.get("count_high"),
        "total": s.get("total"), "max_lag": _num(s.get("max_lag"))}
    for name in ("ratekeeper_throttling", "missing_tlogs", "coordination_loss"):
        s = _summary(got[name]["summary"])
        g[name] = {"detected": s.get("detected"), "count": s.get("count")}
    s = _summary(got["recovery_loop"]["summary"])
    g["recovery_loop"] = {"detected": s.get("detected"), "loop_count": s.get("loop_count")}
    g["zscore_hotspots"] = sorted(
        (r["bucket"], r["count"], r["max_severity"]) for r in got["zscore_hotspots"]["hotspots"])
    g["baseline_window_anomalies"] = sorted(
        (r["bucket"], r["role"], r["metric"]) for r in got["baseline_window_anomalies"]["anomalies"])
    g["metric_anomalies"] = sorted(r["event_id"] for r in got["metric_anomalies"]["anomalies"])
    s = _summary(got["rollback_analysis"]["summary"])
    g["rollback_analysis"] = {k: s.get(k) for k in
                              ("num_drops", "num_resets", "num_recovery_resets", "detected")}
    g["recovery_episodes"] = [
        (_epoch(r["start_ts"]), _epoch(r["end_ts"]), r["n_recoveries"], r["max_severity_halo"])
        for r in got["recovery_episodes"]["episodes"]]
    g["detect_recoveries"] = [
        (r["recovery_id"], r["state_name"], r["cause"]) for r in got["detect_recoveries"]["recoveries"]]
    out = {}
    for name, w in want.items():
        if g[name] != w:
            out[name] = f"{str(g[name])[:300]} != {str(w)[:300]}"
    return out


def fired(inc: C.Incident, det: dict) -> bool:
    """The detectors an injected incident template must trip."""
    def flag(name):
        return bool(_summary(det[name].get("summary", [])).get("detected"))

    in_window = [r for r in det["detect_recoveries"]["recoveries"]
                 if inc.start <= O.epoch(r["recovery_ts"]) <= inc.end]
    return {
        "storage_pressure": lambda: flag("storage_engine_pressure") and flag("ratekeeper_throttling"),
        "clogged_sideband": lambda: flag("recovery_loop")
        and any(r["cause"] == C.KNOWN_CAUSE for r in in_window),
        "clog_with_rollbacks": lambda: flag("rollback_analysis")
        and len(det["recovery_episodes"]["episodes"]) >= 3,
        "tlog_coordination": lambda: flag("missing_tlogs") and flag("coordination_loss"),
        "burst": lambda: any(r["bucket"] <= inc.end and inc.start < r["bucket"] + 300
                             for r in det["zscore_hotspots"]["hotspots"]),
    }[inc.kind]()


# ---------------------------------------------------------------------------
# incident_rca
# ---------------------------------------------------------------------------

QUESTION = "What is the root cause of this incident?"
ANSWERS = {
    "clogged_sideband": (
        "CLUSTER 7 commit_proxy_pipeline_crash: commit pipeline broke first; "
        "relocations are downstream symptoms",
        "proxy terminated before master; recovery follows"),
    "clog_with_rollbacks": (
        "CLUSTER 0 recovery_restart_cascade: storage recruitment fails every "
        "window, recovery never completes",
        "storage pressure metrics recur across all recovery windows; versions roll back"),
    "storage_pressure": (
        "CLUSTER 6 storage_engine_pressure: VersionLag climbs past 1M before throttling",
        "lag metrics lead the ratekeeper throttle"),
}
PHASE_A_TOOLS = [
    "scanner.top_events", "scanner.severity_counts", "scanner.event_histogram",
    "scanner.time_span", "scanner.bucket_heatmap", "scanner.global_summary",
    "scanner.rollback_analysis", "scanner.metric_baselines",
    "scanner.recovery_episodes",
]
PHASE_B_DETECTORS = [
    "storage_engine_pressure", "recovery_loop", "ratekeeper_throttling",
    "missing_tlogs", "coordination_loss", "zscore_hotspots",
    "baseline_window_anomalies", "metric_anomalies",
]
TOOLS = ["top_events", "severity_counts", "event_histogram", "time_span",
         "global_summary", "high_severity_buckets", "get_uncovered", "context_window"]
EAGER_TOOLS = TOOLS[1:7]


class StubLLM:
    """A fixed answer per incident kind; keeps each prompt's size and
    digest."""

    def __init__(self, kind: str):
        self.hypothesis, self.reasoning = ANSWERS[kind]
        self.prompts: list[tuple[int, str]] = []

    def __call__(self, prompt: str) -> str:
        self.prompts.append((len(prompt.encode()),
                             hashlib.sha256(prompt.encode()).hexdigest()[:16]))
        self.last = prompt
        return json.dumps({"hypothesis": self.hypothesis, "confidence": 0.85,
                           "reasoning": self.reasoning})


def stub_rag(query: str) -> str:
    return "retrieved: " + hashlib.sha256(query.encode()).hexdigest()[:16]


class IncidentRCA(Workload):
    """Small incident corpora shaped like the scenario bank; a pass
    reads one corpus and runs one phased investigation over it with a
    stub LLM and stub retriever. Passes take the corpora in turn."""

    name = "incident_rca"
    # a one-pass run measures the first
    KINDS = ["clogged_sideband", "clog_with_rollbacks", "storage_pressure"]
    # An hour is 12 heatmap buckets: enough for the incident's bucket to
    # read as a z-score hotspot on every seed, so every pass takes the
    # hotspot-dive path.
    SPEC = dict(n_machines=4, files_per_machine=1, duration_s=3600, metric_period_s=20)
    wrap = (
        [("agentic.tools", t, f"tools.{t}") for t in TOOLS]
        + [("agentic.investigation", "format_events_for_llm",
            "investigation.format_events_for_llm"),
           ("agentic.timeline", "build_timeline", "timeline.build_timeline")]
        + [("detectors.detectors", d, f"detectors.{d}")
           for d in DETECTORS + ["metric_baselines_table"]]
    )

    def __init__(self, seed: int, root: str):
        self.corpora = [
            C.generate(C.Spec(kind, incidents=[kind], **self.SPEC), seed,
                       os.path.join(root, kind))
            for kind in self.KINDS
        ]
        self.events = [e for c in self.corpora for e in c.events]
        self.bytes = sum(c.total_bytes for c in self.corpora)
        self.n = 0  # passes run so far; pass k reads corpus k mod 3
        self._want: dict = {}

    def run_pass(self, spark, probe) -> dict:
        from db_loganalyzer_spark.agentic.investigation import PhasedInvestigationAgent
        from db_loganalyzer_spark.sources import trace_logs as TLG

        k = self.n % len(self.corpora)
        self.n += 1
        c = self.corpora[k]
        llm = StubLLM(c.spec.name)
        with probe.span("trace_logs.read_trace_events"):
            events = TLG.read_trace_events(spark, sorted(c.paths), per_file_offsets=True)
        with probe.span("investigation.investigate") as sp:
            res = PhasedInvestigationAgent(llm, rag=stub_rag, max_iterations=6).investigate(
                events, QUESTION)
            sp.attrs.update(iterations=res.iterations, llm_calls=len(llm.prompts),
                            prompt_bytes=sum(b for b, _ in llm.prompts))
        return {
            "bytes_in": c.total_bytes,
            "corpus": k,
            "hypothesis": res.hypothesis,
            "confidence": res.confidence,
            "iterations": res.iterations,
            "tools_used": list(res.tools_used),
            "inspected_buckets": [tuple(b) for b in res.inspected_buckets],
            "prompts": llm.prompts,
            "found_line": next((ln for ln in llm.last.splitlines()
                                if ln.startswith("Found ")), None) if llm.prompts else None,
        }

    def expected_all(self) -> None:
        for k in range(len(self.corpora)):
            self.expected(k)

    def expected(self, k: int) -> dict:
        if k not in self._want:
            self._want[k] = expected_investigation(self.corpora[k])
        return self._want[k]

    def check(self, got: dict) -> list[str]:
        want = self.expected(got["corpus"])
        bad = []
        if got["hypothesis"] != want["hypothesis"] or got["confidence"] < 0.8:
            bad.append(f"hypothesis: {got['hypothesis']!r} at {got['confidence']}")
        if got["iterations"] != 2 or len(got["prompts"]) != 1:
            bad.append(f"loop: {got['iterations']} iterations, {len(got['prompts'])} prompts")
        if got["tools_used"] not in want["tools_used"]:
            bad.append(f"tools_used: {got['tools_used'][-3:]} not in {[t[-3:] for t in want['tools_used']]}")
        if got["inspected_buckets"] not in want["inspected_buckets"]:
            bad.append(f"inspected_buckets: {got['inspected_buckets']} not in {want['inspected_buckets']}")
        if got["found_line"] != want["found_line"]:
            bad.append(f"prompt: {got['found_line']!r} != {want['found_line']!r}")
        seen = want.setdefault("prompt_digests", set())
        seen.update(d for _, d in got["prompts"])
        if len(seen) > 1:
            bad.append(f"prompt digests differ between passes: {sorted(seen)}")
        return bad


def _heat(events, bucket_s: int, min_sev: int) -> list[tuple[int, int, int]]:
    """bucket_heatmap rows (bucket, max_severity, n), in the tools' order."""
    b: dict[int, list] = {}
    for e in events:
        r = b.setdefault(e.ts // bucket_s * bucket_s, [e.severity, 0])
        r[0] = max(r[0], e.severity)
        r[1] += 1
    rows = [(k, s, n) for k, (s, n) in b.items() if s >= min_sev]
    return sorted(rows, key=lambda r: (-r[1], -r[2], r[0]))


def expected_investigation(c: C.Corpus) -> dict:
    """What one phased investigation over ``c`` with the stub LLM must
    report: with a fixed 0.85 answer the loop stops after the phase-A
    sweep and one phase-B iteration, having dived one 10 s bucket."""
    ev = c.events
    glanced = [(300, b) for b, _, _ in _heat(ev, 300, 0)[:10]]
    hot = O.zscore_hotspots(ev)
    tools = PHASE_A_TOOLS + [f"detectors.{d}" for d in PHASE_B_DETECTORS] + ["rag.retrieve"]
    dives = []
    if hot:
        # ties in z-score leave the hotspot order to the engine
        top = max(n for _, n, _ in hot)
        for b, n, _ in hot:
            if n == top:
                subs = [s for s, _, _ in _heat([e for e in ev if b <= e.ts < b + 300], 10, 0)]
                dives.append((tools + ["context.context_window"], min(subs)))
    else:
        heat = _heat(ev, 10, 10)
        tail = ["hotspots.get_uncovered"] + (["context.context_window"] if heat else [])
        dives.append((tools + tail, heat[0][0] if heat else None))
    n_top = min(500, sum(1 for e in ev if e.severity >= 30))
    return {
        "hypothesis": ANSWERS[c.spec.name][0],
        "tools_used": [t for t, _ in dives],
        "inspected_buckets": [glanced + ([(10, d)] if d is not None else []) for _, d in dives],
        "found_line": f"Found {n_top} events:",
    }


# ---------------------------------------------------------------------------
# warehouse_load
# ---------------------------------------------------------------------------

QUERIES = {
    "roles": "SELECT role, COUNT(*) AS n FROM events WHERE role IS NOT NULL "
             "GROUP BY role ORDER BY n DESC, role",
    "metrics": "SELECT metric_name, COUNT(*) AS n FROM event_metrics "
               "GROUP BY metric_name ORDER BY n DESC, metric_name LIMIT 10",
    "process_roles": "SELECT COUNT(*) AS n FROM process_roles",
}
CORE = ["events", "event_metrics", "events_wide", "processes", "process_roles"]


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def _show_rows(text: str) -> list[tuple[str, ...]]:
    """The data rows of one ``DataFrame.show`` table."""
    rows = [tuple(c.strip() for c in ln.strip("|").split("|"))
            for ln in text.splitlines() if ln.startswith("|")]
    return rows[1:]


class WarehouseLoad(Workload):
    """The CLI in-process on a fleet-shaped corpus and a fresh warehouse:
    init, load the directory, a 60 s rollup, stats and a few queries."""

    name = "warehouse_load"
    SPEC = dict(n_machines=8, files_per_machine=2, duration_s=3600, metric_period_s=20,
                incidents=["storage_pressure", "clogged_sideband", "clog_with_rollbacks"])
    COMMANDS = ["init", "load", "rollup", "stats", "query"]
    wrap = [("cli", f"handle_{c}", f"cli.{c}") for c in COMMANDS]

    def __init__(self, seed: int, root: str):
        self.corpus = C.generate(C.Spec(self.name, **self.SPEC), seed,
                                 os.path.join(root, self.name))
        self.events = self.corpus.events
        self.bytes = self.corpus.total_bytes
        self.db = os.path.join(root, "warehouse")
        self._want = None

    def run_pass(self, spark, probe) -> dict:
        import contextlib
        import io
        import shutil

        from db_loganalyzer_spark import cli

        shutil.rmtree(self.db, ignore_errors=True)
        out: dict = {"stdout": {}}
        argvs = [("init", ["init"]),
                 ("load", ["load", self.corpus.root, "--mode", "overwrite"]),
                 ("rollup", ["rollup", "--window", "60"]),
                 ("stats", ["stats"])]
        argvs += [(f"query.{k}", ["query", q]) for k, q in QUERIES.items()]
        for key, argv in argvs:
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                rc = cli.main(["--db", self.db] + argv)
            out["stdout"][key] = buf.getvalue()
            out[f"rc.{key}"] = rc
        out["bytes_in"] = self.bytes
        return out

    def measure(self, got: dict) -> dict:
        base = os.path.join(self.db, "loganalyzer.db")
        return {
            "cli.load.output_mb": sum(_dir_bytes(os.path.join(base, t)) for t in CORE) / 1e6,
            "cli.stored_bytes_ratio": _dir_bytes(self.db) / self.bytes,
        }

    def expected_all(self) -> None:
        self.expected()

    def duckdb_s(self) -> float:
        return self.expected()["duckdb_rollup_s"]

    def expected(self) -> dict:
        if self._want is None:
            ev = self.events
            duck = O.DuckOracle(ev)
            try:
                t0 = time.perf_counter()
                rollup = duck.rollup(60)
                duck_s = time.perf_counter() - t0
            finally:
                duck.close()
            counts = O.table_counts(ev)
            roles: dict[str, int] = {}
            for e in ev:
                if e.role:
                    roles[e.role] = roles.get(e.role, 0) + 1
            metrics: dict[str, int] = {}
            for _, _, k, _ in O.metric_rows(ev):
                metrics[k] = metrics.get(k, 0) + 1

            def top(d, n=None):
                return [(k, str(v)) for k, v in sorted(d.items(), key=lambda kv: (-kv[1], kv[0]))][:n]

            self._want = {
                "counts": counts, "rollup_60": rollup, "duckdb_rollup_s": duck_s,
                "query.roles": top(roles), "query.metrics": top(metrics, 10),
                "query.process_roles": [(str(counts["process_roles"]),)],
            }
        return self._want

    def check(self, got: dict) -> list[str]:
        want = self.expected()
        bad = [f"{k}: exit {v}" for k, v in got.items() if k.startswith("rc.") and v != 0]
        load = got["stdout"]["load"]
        for t in CORE:
            line = f"{t}: {want['counts'][t]} rows"
            if line not in load.splitlines():
                bad.append(f"load.{t}: expected {line!r}")
        if f"rollups_60s: {len(want['rollup_60'])} rows" not in got["stdout"]["rollup"]:
            bad.append("rollup: row count")
        table = _read_rollup(os.path.join(self.db, "loganalyzer.db", "rollups_60s"))
        if err := O.compare_rows(table, want["rollup_60"], rel=1e-9):
            bad.append(f"rollup_60 table: {err}")
        if f"Total events: {want['counts']['events']}" not in got["stdout"]["stats"]:
            bad.append("stats: total events")
        for k in QUERIES:
            rows = _show_rows(got["stdout"][f"query.{k}"])
            if rows != want[f"query.{k}"]:
                bad.append(f"query.{k}: {rows[:3]} != {want[f'query.{k}'][:3]}")
        return bad


def _read_rollup(path: str) -> list[tuple]:
    """The rollup table's parquet files, read by DuckDB, in the oracle's
    order."""
    import duckdb

    con = duckdb.connect()
    try:
        return con.execute(
            "SELECT window_start, role, metric_name, n, avg_value, max_value, p95_value "
            f"FROM read_parquet('{path}/*.parquet') ORDER BY 1, 2 NULLS FIRST, 3").fetchall()
    finally:
        con.close()


WORKLOADS = {w.name: w for w in (FleetTriage, IncidentRCA, WarehouseLoad)}
