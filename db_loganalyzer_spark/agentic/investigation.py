"""Agentic investigation loop — deterministic core (SURVEY §2.10 L1-L8).

Reference: tools/agentic_loop/investigation_agent.py (1,424 LoC). The
LLM call itself is an external service; everything around it is
deterministic and is what this module re-expresses Spark-first:

- L2 metric extraction + event formatting (:528-741):
  ``extract_metrics`` is five declarative DataFrame derivations (the
  reference loops rows in Python); ``format_events_for_llm`` gathers its
  distributed counts, time range and the bounded heads (top-20 display,
  5-per-metric examples) in one Spark action before string assembly.
- L4 confidence heuristics (:862-903): ``adjust_confidence`` is a pure
  function over (hypothesis, reasoning, events_text, confidence).
- L6 context budget (:239-240): ``LLM_CONTEXT_CHAR_LIMIT`` /
  ``ADDITIONAL_DATA_MAX_ITEMS`` enforced by ``truncate_context`` /
  ``cap_items``.
- L1 loop (:926-1327): ``PhasedInvestigationAgent.investigate`` (phase-A
  sweep, then detectors, timeline, RAG (L5), gated LLM call (L3) and
  hotspot dive); the LLM and the retriever are injectable callables so
  the loop is fully testable offline.
- Storage ownership: ``PhasedInvestigationAgent.investigate`` persists its
  input (and the metric baselines it derives) once on entry and releases
  them on exit, error included, together with the ``localCheckpoint``
  that ``rollback_analysis`` takes over an input of several partitions;
  it leaves no storage behind and never frees the caller's. The tools,
  detectors and formatter it calls are lazy over that one cached frame,
  so the loop's Spark jobs do not each re-read and re-parse the trace
  text.
- One partition, no exchanges: parsed trace text of an investigation's
  size is cached as ONE partition (AQE coalesces it), but Spark plans it
  as hash-partitioned, so every aggregate, whole-frame window and sort
  over it would plan a shuffle, and with AQE every shuffle map stage is
  its own job. The loop reads such an input through ``coalesce(1)``
  (``_read_stored``), which Spark plans as a single partition: those
  operators plan no exchange, and ``rollback_analysis``'s stitched scan
  is one plain window. On ``perfbench``'s ``incident_rca`` pass (seed 1,
  4 cores) an investigation runs 26 jobs, not 43. An input cached as
  several partitions keeps the plans it had.
- One action per step: ``_collect_sections`` takes a ``{section: bounded
  frame}`` map, tags every row as ``to_json(struct(*))`` (timestamps as
  ``unix_micros``, NULL fields kept) with its section and a
  ``monotonically_increasing_id``, unions the tagged rows, collects them
  once and splits them back into sections on the driver, in row order,
  with the values ``collect()`` would give. The formatter, phase A's
  scanner tail (baselines row count, recovery-episode head, and over
  several partitions the rollback summary) and the five one-row detector
  summaries each go through it. Over several partitions every shuffle
  map stage is still its own job, so a union saves actions, not every
  job. The grouped detector aggregates (``zscore_hotspots``,
  ``baseline_window_anomalies``, ``metric_anomalies``) stay out of the
  detector union and keep their own collects: on the ``incident_rca``
  pass, putting them in it raised ``peak_exec_mb`` from 201.6 to 403.0
  MB. The detector summaries stay out of phase A's tail union too (in
  it, the same pass ran one job more).
- The detectors read only the input, its event metrics and the
  baselines, so one investigation runs them once and later iterations
  reuse the results: with a low-confidence LLM, 6 iterations over an
  ``incident_rca`` corpus (seed 7, 4 cores) run 43–45 jobs, counting
  ``read_trace_events``' two (64–68 before the one-partition read,
  122–130 when every iteration re-ran the detectors).

Documented deviations from the reference (kept deliberately):
- the reference's display sort key ``-(sev) if sev>=40 else -1000``
  ascending actually puts sub-40 events FIRST (the -1000 sentinel sorts
  before any -sev); we mirror that observable behavior exactly;
- map-field display order: Python dicts preserve insertion order, Spark
  maps don't guarantee one, so displayed fields are key-sorted;
- ties in the display sort break on event_id (the reference relies on
  stable list order, which a distributed sort does not have).
"""

from __future__ import annotations

import json
import threading
import time as _time
from dataclasses import dataclass, field
from datetime import datetime, timezone
from functools import reduce
from pathlib import Path

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, DoubleType, TimestampType

from ..sources.trace_logs import py_float
from .timeline import version_lag

# reference: investigation_agent.py:239-240
LLM_CONTEXT_CHAR_LIMIT = 120_000
ADDITIONAL_DATA_MAX_ITEMS = 20


# ---------------------------------------------------------------------------
# L2 — metric extraction (declarative)
# ---------------------------------------------------------------------------


def extract_metrics(events: DataFrame) -> dict[str, DataFrame]:
    """Reference :528-605 as five DataFrame derivations. Each output is
    unmaterialized; the formatter takes bounded heads."""
    # Known + MEASURED codegen disposition (r11): when `fields` is a
    # synthetic map expression (the oracle fixtures build one),
    # predicate pushdown substitutes it into the >100k filter ~20 times
    # (py_float references its argument several times, across 5 keys),
    # the generated method passes Janino's 64 KB limit, and the stage
    # falls back to interpreted eval with an ERROR CodeGenerator log
    # line. That fallback is HARMLESS here and faster than the "fix":
    # a higher-order rewrite (transform/filter/get, `fields` referenced
    # once) compiles — and ran 5.5x SLOWER at sf100r (29.3 s vs 5.3 s,
    # bench_data/registry_sf100r_r11.jsonl) because it materializes two
    # arrays per row and evaluates all five parses eagerly, while
    # coalesce short-circuits and the interpreted filter is pushed all
    # the way into the scan. On a real ingest table `fields` is a
    # stored column and the expression is small anyway. Keep coalesce.
    with_lag = events.withColumn("version_lag", version_lag())

    version_lag_spikes = with_lag.filter(F.col("version_lag") > 100_000).select(
        "event_id", "ts", F.col("event").alias("event_type"),
        "version_lag", "role", "severity",
    )
    high_lag_timestamps = with_lag.filter(F.col("version_lag") > 1_000_000).select(
        "event_id", "ts"
    )

    kv = events.select(
        "event_id", "ts", F.col("event").alias("event_type"), "role",
        F.explode(F.map_entries("fields")).alias("e"),
    ).select(
        "event_id", "ts", "event_type", "role",
        F.col("e.key").alias("metric"), py_float(F.col("e.value")).alias("val"),
        F.lower(F.col("e.key")).alias("__kl"), F.col("e.value").alias("__raw"),
    )
    negative_latencies = kv.filter(
        (
            F.col("__kl").contains("latency")
            | F.col("__kl").contains("min")
            | F.col("__kl").contains("max")
        )
        & F.col("val").isNotNull()
        & (F.col("val") < 0)
    ).select("event_id", "ts", "event_type", "metric", F.col("val").alias("value"), "role")

    slow_ss_loops = events.filter(F.col("event").contains("SlowSS")).select(
        "event_id", "ts", F.col("event").alias("event_type"), "severity", "fields"
    )

    throttling_reasons = kv.filter(
        (
            F.col("event_type").contains("RkUpdate")
            | F.col("event_type").contains("Ratekeeper")
        )
        & (F.col("__kl").contains("throttle") | F.col("__kl").contains("reason"))
    ).select(
        "event_id", "ts", "event_type",
        F.concat(F.col("metric"), F.lit(": "), F.col("__raw")).alias("reason"),
    )

    return {
        "version_lag_spikes": version_lag_spikes,
        "negative_latencies": negative_latencies,
        "slow_ss_loops": slow_ss_loops,
        "throttling_reasons": throttling_reasons,
        "high_lag_timestamps": high_lag_timestamps,
    }


# ---------------------------------------------------------------------------
# L2 — event formatting
# ---------------------------------------------------------------------------


def _iso(ts) -> str:
    return ts.isoformat() if ts is not None else "N/A"


def _from_json(v, t: DataType):
    """A top-level column value parsed from ``to_json`` back as
    ``collect()`` returns it."""
    if v is None:
        return None
    if isinstance(t, TimestampType):
        return t.fromInternal(v)  # sent as unix_micros
    if isinstance(t, DoubleType):
        return float(v)  # NaN and the infinities arrive as strings
    return v


def _collect_sections(sections: dict[str, DataFrame]) -> dict[str, list[Row]]:
    """Collect every bounded frame of ``{section: frame}`` in ONE Spark
    action and return each section's rows as its own ``collect()`` would.

    Each row is tagged with its section, a ``monotonically_increasing_id``
    and ``to_json(struct(*))`` of its columns (top-level timestamps as
    ``unix_micros``, NULL fields kept), the tagged frames are unioned and
    collected once, and the driver splits the rows back out in id order,
    so an ``orderBy(...).limit(k)`` head keeps its sort order. A section
    with no rows comes back as ``[]``. Callers pass only bounded frames
    (LIMIT'd heads and aggregates with a bounded number of groups) whose
    columns are strings, integers, booleans, doubles, timestamps or
    ``map<string,string>``."""
    tagged = []
    for name, df in sections.items():
        cols = [
            F.unix_micros(F.col(f.name)).alias(f.name)
            if isinstance(f.dataType, TimestampType) else F.col(f.name)
            for f in df.schema.fields
        ]
        tagged.append(df.select(
            F.lit(name).alias("s"),
            F.monotonically_increasing_id().alias("i"),
            F.to_json(F.struct(*cols), {"ignoreNullFields": "false"}).alias("j"),
        ))
    rows = reduce(DataFrame.union, tagged).collect()
    out: dict[str, list[Row]] = {name: [] for name in sections}
    for r in sorted(rows, key=lambda r: r["i"]):
        fields = sections[r["s"]].schema.fields
        d = json.loads(r["j"])
        out[r["s"]].append(
            Row(**{f.name: _from_json(d[f.name], f.dataType) for f in fields})
        )
    return out


def format_events_for_llm(events: DataFrame, display_limit: int = 20) -> str:
    """Reference :608-741. The counts, time range, section tallies and
    every bounded head (both VersionLag spike heads, the three other
    metric heads and the display head) come from ONE Spark action
    (``_collect_sections``). Returns the exact report text shape the
    reference feeds the LLM."""
    m = extract_metrics(events)
    # Section counts come from one distributed aggregate over the tagged
    # union of the metric frames, so they never saturate at a collect()
    # limit; only the handful of display examples is ever collected.
    spk = m["version_lag_spikes"]
    crit = F.col("version_lag") > 1_000_000
    sev = F.coalesce(F.col("severity"), F.lit(0))
    sort_key = F.when(sev >= 40, -sev).otherwise(F.lit(-1000))
    got = _collect_sections({
        "stats": events.agg(
            F.count(F.lit(1)).alias("total"),
            F.count_if(sev >= 40).alias("n40"),
            F.count_if(sev == 30).alias("n30"),
            F.count_if(sev == 20).alias("n20"),
            F.min("ts").alias("earliest"),
            F.max("ts").alias("latest"),
        ),
        "tally": (
            spk.select(F.when(crit, "crit").otherwise("spike").alias("k"))
            .unionByName(m["negative_latencies"].select(F.lit("neg").alias("k")))
            .unionByName(m["slow_ss_loops"].select(F.lit("slow").alias("k")))
            .unionByName(m["throttling_reasons"].select(F.lit("throt").alias("k")))
            .groupBy("k")
            .count()
        ),
        # the >1M head is shown when there is any, else the >100k head
        "crit": spk.filter(crit).orderBy("ts", "event_id").limit(5),
        "spikes": spk.orderBy("ts", "event_id").limit(5),
        "negs": m["negative_latencies"].orderBy("ts", "event_id", "metric").limit(5),
        "slows": m["slow_ss_loops"].orderBy("ts", "event_id").limit(3),
        "throts": m["throttling_reasons"].orderBy("ts", "event_id", "reason").limit(5),
        "display": (
            events.withColumn("__k", sort_key)
            .orderBy("__k", F.col("ts").asc_nulls_last(), "event_id")
            .limit(display_limit)
        ),
    })
    stats = got["stats"][0]
    if stats["total"] == 0:
        return "No events found."

    n = {r["k"]: r["count"] for r in got["tally"]}
    n_crit = n.get("crit", 0)
    n_spikes = n_crit + n.get("spike", 0)
    n_negs, n_slows, n_throts = n.get("neg", 0), n.get("slow", 0), n.get("throt", 0)
    shown = got["crit"] if n_crit else got["spikes"]
    negs, slows, throts, display = got["negs"], got["slows"], got["throts"], got["display"]

    lines: list[str] = []
    lines.append(f"Found {stats['total']} events:")
    lines.append(f"  - Severity 40+ (Errors): {stats['n40']}")
    lines.append(f"  - Severity 30 (Info): {stats['n30']}")
    lines.append(f"  - Severity 20 (Warnings): {stats['n20']}")
    lines.append("")
    lines.append("=" * 70)
    lines.append("CRITICAL: PRIORITIZE METRICS OVER EVENT SEVERITY")
    lines.append("=" * 70)
    lines.append("")
    lines.append("METRICS ARE MORE IMPORTANT THAN EVENT SEVERITY!")
    lines.append("   - VersionLag spikes (>100k, especially >1M) indicate storage pressure")
    lines.append("   - Negative latencies indicate timing bugs/overflows")
    lines.append("   - Throttling reasons show performance degradation")
    lines.append("   - SlowSSLoop indicates storage server performance issues")
    lines.append("")
    lines.append("Do NOT treat Severity 20/30 events as root cause by themselves")
    lines.append("   Focus on the METRIC anomalies behind them.\n")

    if n_spikes:
        lines.append("VERSIONLAG SPIKES (Storage Engine Pressure):")
        lines.append(f"   Found {n_spikes} events with VersionLag > 100k")
        if n_crit:
            lines.append(f"   {n_crit} events with VersionLag > 1M (CRITICAL)")
        for r in shown[:5]:
            lines.append(
                f"      - {_iso(r['ts'])}: VersionLag={r['version_lag']:.0f} "
                f"(event: {r['event_type']})"
            )
        lines.append("")
    if n_negs:
        lines.append("NEGATIVE LATENCIES (Timing Bug/Overflow):")
        lines.append(f"   Found {n_negs} negative latency values")
        for r in negs:
            lines.append(
                f"      - {_iso(r['ts'])}: {r['metric']}={r['value']} "
                f"(event: {r['event_type']})"
            )
        lines.append("")
    if n_slows:
        lines.append("SLOW SS LOOPS (Storage Server Performance):")
        lines.append(f"   Found {n_slows} SlowSSLoop events")
        for r in slows:
            lines.append(f"      - {_iso(r['ts'])}: {r['event_type']}")
        lines.append("")
    if n_throts:
        lines.append("THROTTLING DETECTED (Performance Degradation):")
        lines.append(f"   Found {n_throts} throttling events")
        for r in throts:
            lines.append(f"      - {_iso(r['ts'])}: {r['reason']}")
        lines.append("")

    lines.append("=" * 70)
    lines.append("EVENT DETAILS (context; metrics above are higher-signal)")
    lines.append("=" * 70)
    lines.append("")
    if stats["earliest"] is not None:
        span = (stats["latest"] - stats["earliest"]).total_seconds()
        lines.append(
            f"Time range: {stats['earliest'].isoformat()} to "
            f"{stats['latest'].isoformat()} ({span:.1f} seconds)\n"
        )
    lines.append(f"Top {len(display)} events:\n")
    for i, ev in enumerate(display, 1):
        s = ev["severity"] or 0
        indicator = " CRITICAL ERROR" if s >= 40 else (" WARNING" if s == 20 else "")
        fields = dict(sorted((ev["fields"] or {}).items()))
        if len(fields) <= 5:
            fields_str = json.dumps(fields, indent=2)
        else:
            top = dict(list(fields.items())[:5])
            fields_str = json.dumps(top, indent=2) + "\n    ... (truncated)"
        level = "ERROR" if s >= 40 else ("WARNING" if s == 20 else "INFO")
        lines.append(
            f"\nEvent {i}{indicator}:\n"
            f"  Timestamp: {_iso(ev['ts'])}\n"
            f"  Event Type: {ev['event']}\n"
            f"  Severity: {ev['severity']} ({level})\n"
            f"  Role: {ev['role'] or 'N/A'}\n"
            f"  Fields:\n{fields_str}\n"
        )
    if stats["total"] > len(display):
        lines.append(f"\n... and {stats['total'] - len(display)} more events")
    return "\n".join(lines)


# ---------------------------------------------------------------------------
# L4 — confidence heuristics (pure)
# ---------------------------------------------------------------------------

_METRIC_FOCUS = [
    "versionlag", "version_lag", "lag", "latency", "throttle", "throttl",
    "slowss", "metric", "storage pressure", "performance", "degradation",
]
_EVENT_NAME_FOCUS = [
    "fkreenablelb", "file not found", "severity 30", "severity 20", "informational",
]
_METRIC_ANOMALY_MARKERS = [
    "versionlag spike", "negative latenc", "slowssloop", "throttling", ">100k", ">1m",
]


def adjust_confidence(
    hypothesis: str, reasoning: str, events_text: str, confidence: float
) -> tuple[float, str]:
    """Reference :862-903 verbatim logic: cap confidence when the
    hypothesis chases event names while metric anomalies exist; boost
    (capped at 1.0) when it correctly focuses on metrics."""
    blob = (hypothesis + reasoning).lower()
    has_metric_focus = any(k in blob for k in _METRIC_FOCUS)
    event_name_focus = any(k in hypothesis.lower() for k in _EVENT_NAME_FOCUS)
    has_metric_anomalies = any(k in events_text.lower() for k in _METRIC_ANOMALY_MARKERS)

    if event_name_focus and not has_metric_focus and has_metric_anomalies:
        return min(confidence, 0.4), (
            "[Confidence reduced: Metrics detected but hypothesis focuses on "
            "event names. Metrics are more important than event severity.] " + reasoning
        )
    if event_name_focus and not has_metric_focus:
        return min(confidence, 0.5), (
            "[Confidence adjusted: Hypothesis focuses on event names rather "
            "than metrics] " + reasoning
        )
    if has_metric_focus and has_metric_anomalies:
        return min(confidence + 0.1, 1.0), (
            "[Confidence boosted: Hypothesis correctly focuses on metrics] " + reasoning
        )
    return confidence, reasoning


# ---------------------------------------------------------------------------
# L6 — context budget (pure)
# ---------------------------------------------------------------------------


def truncate_context(text: str, limit: int = LLM_CONTEXT_CHAR_LIMIT) -> str:
    """Hard character budget on the LLM context (reference :239)."""
    if len(text) <= limit:
        return text
    marker = "\n... [truncated to context limit]"
    return text[: limit - len(marker)] + marker


def cap_items(items: list, limit: int = ADDITIONAL_DATA_MAX_ITEMS) -> list:
    """Additional-data item cap (reference :240)."""
    return items[:limit]


# ---------------------------------------------------------------------------
# L1 — the loop's result
# ---------------------------------------------------------------------------


@dataclass
class InvestigationResult:
    hypothesis: str
    confidence: float
    reasoning: str
    tools_used: list = field(default_factory=list)
    iterations: int = 0
    # (bucket_seconds, bucket_start_epoch) pairs in inspection order: 300s
    # entries are phase-A heatmap glances, 10s entries are hotspot dives.
    # Granularity is part of the coordinate — the same epoch int can appear
    # once per granularity without being a re-inspection.
    inspected_buckets: list = field(default_factory=list)


# ---------------------------------------------------------------------------
# L3 — LLM response contract: fence stripping, parsing, quota retry
# ---------------------------------------------------------------------------

_RESPONSE_DEFAULTS = {
    "hypothesis": "",
    "confidence": 0.0,
    "reasoning": "",
    "suggested_tools": [],
    "next_steps": "",
}

_QUOTA_MARKERS = ["quota", "rate limit", "429", "resource has been exhausted"]


def parse_llm_response(text: str) -> dict:
    """Reference :817-833: strip a ```json / ``` fence if present, parse,
    and normalize to the fixed schema {hypothesis, confidence, reasoning,
    suggested_tools, next_steps}. Raises ValueError on unparseable text
    (the retry wrapper decides what to do with that)."""
    t = text.strip()
    if "```json" in t:
        start = t.find("```json") + 7
        t = t[start : t.find("```", start)].strip()
    elif "```" in t:
        start = t.find("```") + 3
        t = t[start : t.find("```", start)].strip()
    try:
        raw = json.loads(t)
    except json.JSONDecodeError as e:
        raise ValueError(f"unparseable LLM response: {e}") from e
    if not isinstance(raw, dict):
        raise ValueError("LLM response is not a JSON object")
    out = dict(_RESPONSE_DEFAULTS)
    out.update({k: raw[k] for k in _RESPONSE_DEFAULTS if k in raw})
    out["confidence"] = float(out["confidence"])
    return out


def is_quota_error(exc: Exception) -> bool:
    s = str(exc).lower()
    return any(m in s for m in _QUOTA_MARKERS) or (
        "exceeded" in s and "quota" in s
    )


def call_llm_with_retry(
    call,
    *,
    max_retries: int = 3,
    retry_delay: float = 10.0,
    sleep=_time.sleep,
) -> dict:
    """Reference :807-860: up to ``max_retries`` attempts with exponential
    backoff on quota-ish errors; after exhaustion, return the reference's
    fixed quota-exceeded result instead of raising. Non-quota errors
    propagate. ``call() -> str`` returns raw LLM text; ``sleep`` is
    injectable so tests replay the backoff schedule deterministically."""
    last: Exception | None = None
    for attempt in range(max_retries):
        try:
            return parse_llm_response(call())
        except Exception as e:  # noqa: BLE001 — mirror the reference's net
            if not is_quota_error(e):
                raise
            last = e
            if attempt < max_retries - 1:
                sleep(retry_delay * (2**attempt))
    return {
        "hypothesis": (
            "API Quota Exceeded: Unable to complete LLM analysis due to "
            "quota limits."
        ),
        "confidence": 0.0,
        "reasoning": str(last)[:200],
        "suggested_tools": [],
        "next_steps": "Check quota/billing and retry later.",
    }


# ---------------------------------------------------------------------------
# L5 — RAG query formatting (retrieval itself is injectable)
# ---------------------------------------------------------------------------


def build_rag_query(
    detectors: dict | None,
    timeline: dict | None = None,
    timeline_builder: dict | None = None,
) -> str:
    """Reference tools/rag/query_formatter.py:5-27 — deterministic query
    text from detector results + timeline evidence; no LLM involved."""
    lines = ["Detected problems and evidence:"]
    for name, result in (detectors or {}).items():
        if isinstance(result, dict) and result.get("detected"):
            lines.append(f"- {name}: {result}")
    if timeline:
        lines.append("\nTimeline highlights:")
        for key, value in timeline.items():
            lines.append(f"- {key}: {value}")
    if timeline_builder:
        lines.append("\nChronological story (timeline builder):")
        if timeline_builder.get("first_anomaly"):
            lines.append(f"- First anomaly: {timeline_builder['first_anomaly']}")
        for item in timeline_builder.get("timeline", []):
            lines.append(f"- {item}")
        if timeline_builder.get("root_cause_signal"):
            lines.append(
                f"- Root cause signal: {timeline_builder.get('root_cause_signal')}"
            )
    return "\n".join(lines)


# ---------------------------------------------------------------------------
# L8 — LLM I/O persistence
# ---------------------------------------------------------------------------


def _utcnow() -> datetime:
    return datetime.now(timezone.utc)


def write_llm_input(
    prompt_text: str,
    output_dir: str = "data",
    prefix: str = "llm_input",
    now=_utcnow,
) -> str | None:
    """Reference tools/agentic_loop/llm_input_logger.py:7-17 — persist the
    prompt to a timestamped file; ``now`` is injectable for determinism."""
    if not prompt_text:
        return None
    ts = now().strftime("%Y%m%dT%H%M%SZ")
    Path(output_dir).mkdir(parents=True, exist_ok=True)
    path = Path(output_dir) / f"{prefix}_{ts}.txt"
    path.write_text(prompt_text)
    return str(path)


def write_llm_output(
    output_text: str,
    output_dir: str = "data",
    prefix: str = "llm_output",
    now=_utcnow,
) -> str | None:
    """Reference llm_input_logger.py:20-28."""
    return write_llm_input(output_text, output_dir, prefix, now)


# ---------------------------------------------------------------------------
# L1 — phased investigation loop (reference :926-1327)
# ---------------------------------------------------------------------------


_CACHED_PARTITIONING = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
_CACHED_PARTITIONING_LOCK = threading.Lock()


def _own(df: DataFrame, owned: list[DataFrame]) -> DataFrame:
    """Persist ``df`` and record it in ``owned`` for release, unless the
    caller already holds it in storage.

    By default Spark caches a plan without AQE's final-stage partition
    coalescing, so a cached shuffle output (such as the per-file line
    numbering of parsed trace text) keeps every raw shuffle partition,
    most of them empty, and every later job runs a task per partition.
    The plan is cached with that coalescing on instead (the setting is
    read when the cache entry is made), so the cache holds the coalesced
    partitions that the uncached plan's jobs read."""
    if df.storageLevel == StorageLevel.NONE:
        conf = df.sparkSession.conf
        # serialised so that concurrent investigations on one session each
        # restore the value that was set before any of them
        with _CACHED_PARTITIONING_LOCK:
            prev = conf.get(_CACHED_PARTITIONING)
            conf.set(_CACHED_PARTITIONING, "true")
            try:
                df = df.persist()
            finally:
                conf.set(_CACHED_PARTITIONING, prev)
        owned.append(df)
    return df


def _read_stored(df: DataFrame) -> DataFrame:
    """``df``, a stored frame, read through ``coalesce(1)`` when its
    storage holds one partition. Over one partition that is a no-op, but
    Spark then plans the frame as a single partition, so the aggregates,
    whole-frame windows and sorts over it plan no exchange (and no extra
    job for it). A frame stored as several partitions is returned as is.

    Asking for the partition count fills the cache: it runs the jobs the
    frame's first reader would otherwise run, and no more."""
    return df.coalesce(1) if df._jdf.rdd().getNumPartitions() == 1 else df


def _checkpoint_rdds(df: DataFrame) -> dict:
    """The RDDs behind the ``LogicalRDD`` leaves of ``df``'s analyzed
    plan (a ``localCheckpoint`` is one), by RDD id."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    rdds = [
        leaf.rdd()
        for leaf in (leaves.apply(i) for i in range(leaves.size()))
        if leaf.nodeName() == "LogicalRDD"
    ]
    return {rdd.id(): rdd for rdd in rdds}


def _detector_results(
    events: DataFrame, event_metrics: DataFrame, baselines: DataFrame
) -> dict[str, dict]:
    """The eight global detectors' evidence (reference :1100-1151): the
    five one-row summaries in one action, then the three grouped
    detectors' own collects."""
    from ..detectors import detectors as D

    summaries = _collect_sections({
        "storage_engine_pressure": D.storage_engine_pressure(events, baselines)["summary"],
        "recovery_loop": D.recovery_loop(events)["summary"],
        "ratekeeper_throttling": D.ratekeeper_throttling(events)["summary"],
        "missing_tlogs": D.missing_tlogs(events)["summary"],
        "coordination_loss": D.coordination_loss(events)["summary"],
    })
    det_results = {k: rows[0].asDict() for k, rows in summaries.items()}
    hot_rows = D.zscore_hotspots(events)["hotspots"].collect()
    det_results["zscore_hotspots"] = {
        "detected": bool(hot_rows),
        "hotspots": [
            {
                "bucket_start_epoch": r["bucket"],
                "max_severity": r["max_severity"],
                "count": r["count"],
            }
            for r in hot_rows
        ],
    }
    bwa = [
        r.asDict()
        for r in D.baseline_window_anomalies(events, event_metrics, baselines)["anomalies"]
        .limit(20)
        .collect()
    ]
    det_results["baseline_window_anomalies"] = {
        "detected": bool(bwa),
        "count": len(bwa),
        "first_anomaly": bwa[0] if bwa else None,
    }
    ma = D.metric_anomalies(events)["anomalies"].limit(20).collect()
    det_results["metric_anomalies"] = {"detected": bool(ma), "count": len(ma)}
    return det_results


def _add_if_changed(additional: list, name: str, value) -> bool:
    """Append ``(name, value)`` to the LLM's additional data unless the
    last ``name`` entry already holds ``value``; whether it appended."""
    last = next((v for n, v in reversed(additional) if n == name), None)
    if value == last:
        return False
    additional.append((name, value))
    return True


class PhasedInvestigationAgent:
    """The reference's full phased loop, Spark-first and LLM-injectable.

    Phase A (first iteration): global sweep — top events, severity counts,
    event histogram, time span, bucket heatmap, global summary, rollback
    analysis, metric baselines, recovery episodes — all via this engine's
    operators; no LLM call (reference :983-1091 defers it).

    Phase B/C iterations (reference :1100-1315): global detectors →
    timeline build → RAG retrieval → gated LLM analysis (call budget,
    context-dirty skip) → confidence adjustment (L4) → z-score-guided
    hotspot dive via context windows → stop when confidence ≥ threshold
    and a hotspot was inspected (or coverage is complete). The detectors
    run on the first of these iterations only; every later one reuses
    their results (and still reports them in ``tools_used``), since
    nothing they read changes. For the same reason the timeline is built
    again only after a dive added to the evidence, and once the
    whole-input ``get_uncovered`` finds nothing, later iterations reuse
    that empty answer (still reported). The LLM context gets the
    detectors block once, and a timeline or RAG block only when it
    differs from the last one added; only such a block, or events the
    last dive added, makes the context dirty and so worth another LLM
    call.

    ``llm(prompt_text: str) -> str`` returns raw LLM text (parsed by L3);
    ``rag(query: str) -> str | None`` is the optional retriever. Both are
    plain callables so the whole loop is deterministic offline.

    ``investigate`` owns its input's storage: it persists ``events`` (and
    ``baselines`` when it derives them) on entry and, in a ``finally`` on
    exit, unpersists them and releases any ``localCheckpoint`` under
    ``rollback_analysis``'s frames. A frame the caller passes in already
    persisted or checkpointed is neither re-persisted nor released.
    """

    def __init__(
        self,
        llm,
        rag=None,
        max_iterations: int = 10,
        max_llm_calls: int = 4,
        confidence_threshold: float = 0.8,
        io_log_dir: str | None = None,
        now=_utcnow,
        sleep=_time.sleep,
    ):
        self.llm = llm
        self.rag = rag
        self.max_iterations = max_iterations
        self.max_llm_calls = max_llm_calls
        self.confidence_threshold = confidence_threshold
        self.io_log_dir = io_log_dir
        self.now = now
        self.sleep = sleep

    def investigate(
        self, events: DataFrame, question: str, baselines: DataFrame | None = None
    ) -> InvestigationResult:
        """Run the phased loop over ``events``, holding it (and derived
        ``baselines``) in storage for the loop's lifetime, so its Spark jobs
        read the input from the block manager instead of each re-running
        its lineage (for a trace file, the whole parse)."""
        owned: list[DataFrame] = []
        try:
            return self._loop(_own(events, owned), question, baselines, owned)
        finally:
            keep = _checkpoint_rdds(events)  # the caller's own checkpoints
            for df in owned:
                df.unpersist()
                for rdd_id, rdd in _checkpoint_rdds(df).items():
                    if rdd_id not in keep:
                        rdd.unpersist(False)

    def _loop(
        self,
        events: DataFrame,
        question: str,
        baselines: DataFrame | None,
        owned: list[DataFrame],
    ) -> InvestigationResult:
        from ..detectors import detectors as D
        from ..operators.windows import planned_single_partition
        from ..sources.trace_logs import derive_event_metrics
        from . import tools as T
        from .knowledge_base import knowledge_base_text
        from .timeline import build_timeline

        hypothesis, confidence, reasoning = "", 0.0, ""
        if self.max_iterations < 1:
            return InvestigationResult(hypothesis, confidence, reasoning)
        events = _read_stored(events)
        tools_used: list[str] = []
        additional: list[tuple[str, object]] = []
        # Bucket coverage is tracked PER GRANULARITY — a 300s heatmap epoch
        # and a 10s dive epoch are different coordinates even when the ints
        # collide. dived_10: 10s buckets whose events were actually
        # context-windowed. exhausted_300: hotspots whose every eventful 10s
        # sub-bucket has been dived.
        dived_10: set[int] = set()
        exhausted_300: set[int] = set()

        # ---- phase A, iteration 1: the global sweep (reference :983-1091) ----
        acc = T.top_events(events, severity_min=30, limit=500)  # the evidence events
        tools_used.append("scanner.top_events")
        # The scanner's severity counts, event histogram and time span are
        # parts of its global summary: ask Spark once and keep the
        # reference's per-tool evidence and tool trail.
        summary = T.global_summary(events)
        additional.append(("severity_counts", summary["severity_counts"]))
        tools_used.append("scanner.severity_counts")
        additional.append(("event_histogram", summary["event_histogram"]))
        tools_used.append("scanner.event_histogram")
        span = summary["time_span"]
        additional.append(("time_span", span))
        tools_used.append("scanner.time_span")
        buckets = T.high_severity_buckets(
            events, min_severity=0, bucket_seconds=300, limit=100
        )
        additional.append(("bucket_heatmap", buckets))
        tools_used.append("scanner.bucket_heatmap")
        # heatmap rows are distinct buckets: a glance (no events pulled),
        # so it never blocks a dive
        dive_order = [(300, int(b["bucket_start_epoch"])) for b in buckets[:10]]
        additional.append(("global_summary", summary))
        tools_used.append("scanner.global_summary")
        rb = D.rollback_analysis(events)
        owned.append(rb["summary"])  # released with its localCheckpoint
        event_metrics = derive_event_metrics(events)
        if baselines is None:
            # counted below, then read by two detectors
            baselines = _own(
                D.metric_baselines_table(events, event_metrics, min_count=20), owned
            )
        # the scanner's tail is one action; it also fills the baselines'
        # cache for the detectors
        sections = {
            "rollback": rb["summary"],
            "baselines": baselines.agg(F.count(F.lit(1)).alias("rows")),
            "episodes": D.recovery_episodes(events)["episodes"].limit(20),
        }
        tail = {}
        if planned_single_partition(events):
            # Over one partition the rollback summary is one stage and is
            # collected first, on its own: the job that first parses
            # ``fields`` pays a one-time cost, which two concurrent
            # broadcast stages of the union each paid. (Over several, its
            # scan parsed ``fields`` at construction, and apart it is one
            # more job.)
            tail = _collect_sections({"rollback": sections.pop("rollback")})
        tail.update(_collect_sections(sections))
        rollback_info = tail["rollback"][0].asDict()
        additional.append(("rollback_analysis", rollback_info))
        tools_used.append("scanner.rollback_analysis")
        additional.append(("metric_baselines", tail["baselines"][0].asDict()))
        tools_used.append("scanner.metric_baselines")
        ep_rows = [r.asDict() for r in tail["episodes"]]
        additional.append(("recovery_episodes", {"count": len(ep_rows)}))
        tools_used.append("scanner.recovery_episodes")
        timeline_highlights = {
            "time_span": span,
            "top_event_types": list(summary.get("event_histogram", {}).items())[:5],
            "hot_buckets": buckets[:5],
            "rollback_detected": rollback_info.get("detected"),
            "recovery_episodes": ep_rows,
        }
        # the LLM is deferred to the next iteration (reference :1091)

        det_results: dict[str, dict] | None = None
        # the timeline reads acc: it is built again only after a dive
        timeline_summary, acc_changed = None, True
        fresh = None  # the last dive's events not yet in acc (lazy)
        context_dirty = True
        llm_calls = 0
        hotspot_inspected = False
        coverage_complete = False
        iteration = 1
        for iteration in range(2, self.max_iterations + 1):
            # ---- global detectors (reference :1100-1151) ----
            # They read only events, event_metrics and baselines, which no
            # iteration changes: the first iteration computes them and the
            # later ones reuse the results.
            if det_results is None:
                det_results = _detector_results(events, event_metrics, baselines)
                additional.append(("detectors", det_results))
            tools_used.extend(f"detectors.{k}" for k in det_results)

            if acc_changed:
                acc_changed = False
                timeline_summary = build_timeline(acc, det_results, buckets, ep_rows)
                if timeline_summary:
                    context_dirty |= _add_if_changed(
                        additional, "timeline_builder", timeline_summary
                    )

            if self.rag is not None:
                query = build_rag_query(
                    det_results, timeline_highlights, timeline_summary
                )
                retrieved = self.rag(query)
                tools_used.append("rag.retrieve")
                if retrieved:
                    context_dirty |= _add_if_changed(additional, "rag", retrieved)

            # ---- gated LLM analysis (reference :1183-1233) ----
            if llm_calls < self.max_llm_calls and fresh is not None and not context_dirty:
                # the last dive's new evidence, asked only when nothing
                # else has already made the context dirty
                context_dirty = fresh.limit(1).count() > 0
            fresh = None
            if llm_calls < self.max_llm_calls and context_dirty:
                events_text = format_events_for_llm(acc, display_limit=20)
                extra = "\n\nAdditional Investigation Data:\n" + "\n".join(
                    f"\n{name}:\n{json.dumps(data, indent=2, default=str)}"
                    for name, data in cap_items(additional)
                )
                prompt = truncate_context(
                    knowledge_base_text()
                    + "\n\nQUESTION: "
                    + question
                    + "\n\n"
                    + events_text
                    + extra
                )
                if self.io_log_dir:
                    write_llm_input(prompt, self.io_log_dir, now=self.now)
                analysis = call_llm_with_retry(
                    lambda: self.llm(prompt), sleep=self.sleep
                )
                if self.io_log_dir:
                    write_llm_output(
                        json.dumps(analysis, indent=2, default=str),
                        self.io_log_dir,
                        now=self.now,
                    )
                llm_calls += 1
                context_dirty = False
                hypothesis = analysis["hypothesis"]
                confidence, reasoning = adjust_confidence(
                    hypothesis,
                    analysis.get("reasoning", ""),
                    events_text,
                    float(analysis["confidence"]),
                )

            # ---- hotspot dive (reference :1246-1305) ----
            # A z-score hotspot is a 300s bucket; one context window covers
            # ~10s. Dive it 10s sub-bucket at a time (eventful sub-buckets
            # first, via the same uncovered-bucket query scoped to the
            # hotspot's range) so successive iterations walk THROUGH the
            # hotspot instead of marking 300s inspected after one 10s
            # glimpse. A hotspot is skipped only once exhausted — a phase-A
            # heatmap glance at the same epoch never suppresses the dive.
            chosen_epoch = None
            # ONE distributed query per iteration covering ALL live hotspots
            # at once (not one job per hotspot): restrict events to rows
            # whose 300s bucket is a live hotspot, bucket THOSE at 10s, drop
            # dived sub-buckets, then pick by (hotspot rank, epoch)
            # driver-side — the candidate list is tiny (≤ 30 sub-buckets per
            # hotspot).
            live = [
                e
                for h in det_results["zscore_hotspots"]["hotspots"]
                if (e := int(h["bucket_start_epoch"])) not in exhausted_300
            ]
            if live:
                in_live = events.filter(
                    (F.floor(F.col("ts").cast("double") / 300) * 300)
                    .cast("long")
                    .isin(live)
                )
                sub = T.get_uncovered(
                    in_live, sorted(dived_10), min_severity=0, bucket_seconds=10
                )
                rank = {e: i for i, e in enumerate(live)}
                cands = sorted(
                    (rank[s - s % 300], s)
                    for s in (int(r["bucket_start_epoch"]) for r in sub)
                )
                if cands:
                    chosen_epoch = cands[0][1]
                else:
                    # no live hotspot has an uncovered eventful sub-bucket
                    # left — all of them are exhausted
                    exhausted_300.update(live)
            if chosen_epoch is None:
                # Once this finds nothing, no later iteration dives, so
                # dived_10 no longer changes and the answer stays empty.
                uncovered = [] if coverage_complete else T.get_uncovered(
                    events, sorted(dived_10), min_severity=10, bucket_seconds=10
                )
                tools_used.append("hotspots.get_uncovered")
                if uncovered:
                    chosen_epoch = int(uncovered[0]["bucket_start_epoch"])
            if chosen_epoch is not None:
                around = chosen_epoch + 5.0  # mid-bucket for 10s buckets
                win = T.context_window(events, around, 5.0, limit=200)
                tools_used.append("context.context_window")
                # whether the window added evidence is asked at the next
                # LLM gate, and only if that gate would otherwise skip
                fresh = win.join(acc.select("event_id"), "event_id", "left_anti")
                acc = acc.unionByName(win).dropDuplicates(["event_id"])
                dived_10.add(chosen_epoch)
                dive_order.append((10, chosen_epoch))
                hotspot_inspected = acc_changed = True
            else:
                coverage_complete = True

            if confidence >= self.confidence_threshold and (
                hotspot_inspected or coverage_complete
            ):
                break

        return InvestigationResult(
            hypothesis=hypothesis,
            confidence=confidence,
            reasoning=reasoning,
            tools_used=tools_used,
            iterations=iteration,
            inspected_buckets=dive_order,
        )
