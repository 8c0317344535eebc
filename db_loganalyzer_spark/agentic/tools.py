"""Investigation tool surface for the agentic loop — thin DataFrame
wrappers over the engine's operators, mirroring the reference's
GlobalScanner / HotspotSelector / ContextAnalyzer methods the loop calls.

References:
- top_events / global_summary: tools/investigation_tools/global_scanner.py:221-230, :44-52
- high_severity_buckets / get_uncovered: hotspot_selector.py:16-76
- context_window: context_analyzer.py:16-28 (already F1 — filters.time_window)

Everything stays declarative; only bounded results are collected:
LIMIT'd heads, 1-row summaries, and the scanner sweep's one row per
``(severity, event)`` pair, which the event-type vocabulary bounds, not
the number of events. So a tool's Spark job count does not grow with
input scale. Over a frame of several partitions it is still more than
one job per call: with AQE on, an aggregate runs its shuffle map stage
and its result as separate jobs. Measured on such a persisted frame in
a 4-core local session, ``severity_counts``, ``event_histogram``,
``time_span`` and ``global_summary`` run two jobs each;
``global_summary`` reduces all three facts from one sweep. Over a frame
Spark plans as one partition (a phased investigation reads a
one-partition cached input through ``coalesce(1)``) an aggregate plans
no exchange, and each of these tools, ``high_severity_buckets`` and
``get_uncovered`` runs one job (on ``perfbench``'s ``incident_rca``
pass, where the investigation has filled the cache before its first
tool runs). ``get_uncovered`` with no limit collects every bucket of
its heatmap unordered and ranks them on the driver: two jobs over
several partitions, where a range-partitioned sort ran four. With a
limit, the buckets are ranked by Spark's top-k. Each call re-runs its
input's lineage; none of these tools caches its input. A caller that
runs many of them over one frame (the phased investigation) persists
that frame once itself.
"""

from __future__ import annotations

from collections import Counter

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


def _sweep(events: DataFrame) -> list:
    """One ``(severity, event)`` aggregate with count, min ts and max ts,
    collected: the rows the scanner's severity counts, event histogram
    and time span are all reduced from on the driver. There is one row
    per severity/event pair, so the collect is bounded by the event-type
    vocabulary, not by the number of events."""
    return (
        events.groupBy("severity", "event")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("ts").alias("earliest"),
            F.max("ts").alias("latest"),
        )
        .collect()
    )


def _totals(rows, key: str) -> Counter:
    out: Counter = Counter()
    for r in rows:
        out[r[key]] += r["n"]
    return out


def _severity_counts(rows) -> dict[int, int]:
    # ascending severity, NULL last, so the key order does not depend on
    # the partition layout the aggregate ran on
    counts = _totals(rows, "severity")
    return {s: counts[s] for s in sorted(counts, key=lambda s: (s is None, s or 0))}


def _event_histogram(rows, k: int) -> dict[str, int]:
    # count descending, then event ascending with NULL first (Spark's
    # ``orderBy(desc("n"), "event")``)
    counts = _totals(rows, "event")
    top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0] is not None, kv[0] or ""))
    return dict(top[:k])


def _time_span(rows) -> dict:
    earliest = min((r["earliest"] for r in rows if r["earliest"] is not None), default=None)
    latest = max((r["latest"] for r in rows if r["latest"] is not None), default=None)
    return {
        "earliest": earliest,
        "latest": latest,
        "duration_seconds": (
            (latest - earliest).total_seconds() if earliest is not None else None
        ),
    }


def severity_counts(events: DataFrame) -> dict[int, int]:
    """Events per severity, keys in ascending severity with NULL last."""
    return _severity_counts(_sweep(events))


def event_histogram(events: DataFrame, k: int = 10) -> dict[str, int]:
    """The ``k`` most frequent event types, most frequent first."""
    return _event_histogram(_sweep(events), k)


def time_span(events: DataFrame) -> dict:
    return _time_span(_sweep(events))


def global_summary(events: DataFrame) -> dict:
    """Composite sweep summary (scanner.global_summary), reduced from one
    aggregate. ``max_severity`` is read off the severity counts' keys:
    ``max`` skips NULLs and is None when nothing is left, and so does
    this."""
    rows = _sweep(events)
    counts = _severity_counts(rows)
    return {
        "max_severity": max((s for s in counts if s is not None), default=None),
        "severity_counts": counts,
        "event_histogram": _event_histogram(rows, 10),
        "time_span": _time_span(rows),
    }


def _ranked_buckets(events, min_severity, bucket_seconds, limit, exclude=()) -> list[dict]:
    """Heatmap buckets whose max severity reaches ``min_severity``, most
    severe and busiest first, without the ``exclude`` bucket starts."""
    df = A.bucket_heatmap(
        events, bucket_seconds, min_max_severity=min_severity, ordered=False
    )
    if exclude:
        df = df.filter(~F.col("bucket").isin(exclude))
    if limit is None:
        # every bucket is collected anyway, so rank them on the driver, in
        # the order below (desc is NULLS LAST, asc NULLS FIRST): the
        # collect is one aggregate, not a range-partitioned sort
        rows = sorted(df.collect(), key=lambda r: (
            r["max_severity"] is None, -(r["max_severity"] or 0), -r["n"],
            r["bucket"] is not None, r["bucket"] or 0,
        ))
    else:
        rows = df.orderBy(F.desc("max_severity"), F.desc("n"), "bucket").limit(limit).collect()
    return [
        {
            "bucket_start_epoch": r["bucket"],
            "max_severity": r["max_severity"],
            "count": r["n"],
        }
        for r in rows
    ]


def high_severity_buckets(
    events: DataFrame,
    min_severity: int = 20,
    bucket_seconds: int = 600,
    limit: int = 20,
) -> list[dict]:
    return _ranked_buckets(events, min_severity, bucket_seconds, limit)


def get_uncovered(
    events: DataFrame,
    inspected_buckets: list[int],
    min_severity: int = 20,
    bucket_seconds: int = 600,
    limit: int | None = None,
) -> list[dict]:
    """High-severity buckets not yet inspected (hotspot_selector.get_uncovered)."""
    return _ranked_buckets(events, min_severity, bucket_seconds, limit, inspected_buckets)


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
