"""Investigation tool surface for the agentic loop — thin DataFrame
wrappers over the engine's operators, mirroring the reference's
GlobalScanner / HotspotSelector / ContextAnalyzer methods the loop calls.

References:
- top_events / global_summary: tools/investigation_tools/global_scanner.py:221-230, :44-52
- high_severity_buckets / get_uncovered: hotspot_selector.py:16-76
- context_window: context_analyzer.py:16-28 (already F1 — filters.time_window)

Everything stays declarative; only bounded heads (LIMIT'd lists and 1-row
summaries) are collected, so a tool's Spark job count does not grow with
input scale. It is still more than one job per call: with AQE on, an
aggregate runs its shuffle map stage and its result as separate jobs
(``severity_counts`` and ``time_span`` are two each, ``global_summary``
six). Each call re-runs its input's lineage; none of these tools caches
its input. A caller that runs many of them over one frame (the phased
investigation) persists that frame once itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import aggregates as A
from ..operators.aggregates import bucket_start


def top_events(
    events: DataFrame, severity_min: int = 40, limit: int = 50
) -> DataFrame:
    """Most-severe-first head of the stream (scanner's entry query)."""
    return (
        events.filter(F.col("severity") >= severity_min)
        .orderBy(F.desc("severity"), F.desc("ts"), F.desc("event_id"))
        .limit(limit)
    )


def severity_counts(events: DataFrame) -> dict[int, int]:
    rows = A.severity_histogram(events, ordered=False).collect()
    return {r["severity"]: r["n"] for r in rows}


def event_histogram(events: DataFrame, k: int = 10) -> dict[str, int]:
    rows = A.event_histogram(events, k=k).collect()
    return {r["event"]: r["n"] for r in rows}


def time_span(events: DataFrame) -> dict:
    r = events.agg(
        F.min("ts").alias("earliest"), F.max("ts").alias("latest")
    ).collect()[0]
    dur = (
        (r["latest"] - r["earliest"]).total_seconds()
        if r["earliest"] is not None
        else None
    )
    return {
        "earliest": r["earliest"],
        "latest": r["latest"],
        "duration_seconds": dur,
    }


def global_summary(events: DataFrame) -> dict:
    """Composite sweep summary (scanner.global_summary). ``max_severity``
    is read off the severity histogram's keys rather than asked of Spark
    again: ``max`` skips NULLs and is None when nothing is left, and so
    does this."""
    counts = severity_counts(events)
    return {
        "max_severity": max((s for s in counts if s is not None), default=None),
        "severity_counts": counts,
        "event_histogram": event_histogram(events, 10),
        "time_span": time_span(events),
    }


def high_severity_buckets(
    events: DataFrame,
    min_severity: int = 20,
    bucket_seconds: int = 600,
    limit: int = 20,
) -> list[dict]:
    rows = (
        A.bucket_heatmap(
            events,
            bucket_seconds,
            min_max_severity=min_severity,
            ordered=False,
        )
        .orderBy(F.desc("max_severity"), F.desc("n"), "bucket")
        .limit(limit)
        .collect()
    )
    return [
        {
            "bucket_start_epoch": r["bucket"],
            "max_severity": r["max_severity"],
            "count": r["n"],
        }
        for r in rows
    ]


def get_uncovered(
    events: DataFrame,
    inspected_buckets: list[int],
    min_severity: int = 20,
    bucket_seconds: int = 600,
    limit: int | None = None,
) -> list[dict]:
    """High-severity buckets not yet inspected (hotspot_selector.get_uncovered)."""
    df = A.bucket_heatmap(
        events, bucket_seconds, min_max_severity=min_severity, ordered=False
    )
    if inspected_buckets:
        df = df.filter(~F.col("bucket").isin(inspected_buckets))
    df = df.orderBy(F.desc("max_severity"), F.desc("n"), "bucket")
    if limit is not None:
        df = df.limit(limit)
    return [
        {
            "bucket_start_epoch": r["bucket"],
            "max_severity": r["max_severity"],
            "count": r["n"],
        }
        for r in df.collect()
    ]


def context_window(
    events: DataFrame, around_epoch: float, window_seconds: float, limit: int = 200
) -> DataFrame:
    """Events within ±window_seconds of an epoch anchor, time-ordered
    (context_analyzer.context_window; F1 with an epoch anchor)."""
    anchor = F.timestamp_seconds(F.lit(float(around_epoch)))
    lo = anchor - F.expr(f"INTERVAL {window_seconds} SECONDS")
    hi = anchor + F.expr(f"INTERVAL {window_seconds} SECONDS")
    return (
        events.filter(F.col("ts").between(lo, hi))
        .orderBy("ts", "event_id")
        .limit(limit)
    )


__all__ = [
    "top_events",
    "severity_counts",
    "event_histogram",
    "time_span",
    "global_summary",
    "high_severity_buckets",
    "get_uncovered",
    "context_window",
    "bucket_start",
]
