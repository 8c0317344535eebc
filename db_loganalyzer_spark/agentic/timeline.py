"""Timeline builder — chronological story for the LLM context.

Reference: tools/investigation_tools/timeline_builder.py:18-166. The
reference sorts a collected event list in Python; here the four marker
lookups (first severe event, first lag>100k, first lag>1M, first
Recovery event) are ONE declarative aggregation over the events frame —
min-by semantics via ``min_by`` — so the builder costs a single job no
matter how many events accumulated.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources.trace_logs import py_float

_LAG_KEYS = ["VersionLag", "versionLag", "VersionLagValue", "Lag", "lag"]


def version_lag() -> Column:
    """The first of the payload's version-lag keys that parses as a
    float (``fields`` column), else NULL."""
    return F.coalesce(*[py_float(F.element_at("fields", F.lit(k))) for k in _LAG_KEYS])


def _rel(ts, start) -> str:
    if ts is None or start is None:
        return "N/A"
    return f"+{(ts - start).total_seconds():.1f}s"


def build_timeline(
    events: DataFrame,
    detector_outputs: dict | None = None,
    hotspots: list[dict] | None = None,
    recovery_episodes: list[dict] | None = None,
) -> dict:
    """Same output contract as the reference build(): first_anomaly,
    timeline items with relative timestamps, root_cause_signal,
    hot_buckets, detector_signals."""
    sev = F.coalesce(F.col("severity"), F.lit(0))
    marks = (
        events.withColumn("__lag", version_lag())
        .agg(
            F.min("ts").alias("start_ts"),
            F.min(F.when(sev >= 30, F.col("ts"))).alias("severe_ts"),
            F.min_by(F.col("event"), F.when(sev >= 30, F.col("ts"))).alias(
                "severe_event"
            ),
            F.min(F.when(F.col("__lag") > 100_000, F.col("ts"))).alias("lag100k_ts"),
            F.min_by(
                F.col("__lag"), F.when(F.col("__lag") > 100_000, F.col("ts"))
            ).alias("lag100k_val"),
            F.min(F.when(F.col("__lag") > 1_000_000, F.col("ts"))).alias("lag1m_ts"),
            F.min_by(
                F.col("__lag"), F.when(F.col("__lag") > 1_000_000, F.col("ts"))
            ).alias("lag1m_val"),
            F.min(
                F.when(F.col("event").contains("Recovery"), F.col("ts"))
            ).alias("recovery_ts"),
            F.min_by(
                F.col("event"),
                F.when(F.col("event").contains("Recovery"), F.col("ts")),
            ).alias("recovery_event"),
        )
        .collect()
    )
    if not marks or marks[0]["start_ts"] is None:
        return {}
    m = marks[0]
    start = m["start_ts"]
    severe_ts = m["severe_ts"] or start
    severe_event = m["severe_event"]

    items: list[dict] = [
        {
            "t": _rel(severe_ts, start),
            "event": severe_event,
            "note": "Earliest notable/severe event",
        }
    ]
    if m["lag100k_ts"] is not None:
        items.append(
            {
                "t": _rel(m["lag100k_ts"], start),
                "event": f"VersionLag={int(m['lag100k_val'])}",
                "note": "Lag exceeds 100k (storage pressure signal)",
            }
        )
    if m["lag1m_ts"] is not None:
        items.append(
            {
                "t": _rel(m["lag1m_ts"], start),
                "event": f"VersionLag={int(m['lag1m_val'])}",
                "note": "Lag exceeds 1M (critical storage pressure)",
            }
        )
    if m["recovery_ts"] is not None:
        items.append(
            {
                "t": _rel(m["recovery_ts"], start),
                "event": m["recovery_event"],
                "note": "Recovery activity begins",
            }
        )

    # detector marks, from the 1-row summary dicts the loop collected
    detector_outputs = detector_outputs or {}
    for name, result in detector_outputs.items():
        if not isinstance(result, dict):
            continue
        ts = result.get("first_ts") or result.get("timestamp")
        if not ts and isinstance(result.get("first_anomaly"), dict):
            fa = result["first_anomaly"]
            ts = fa.get("bucket_start") or fa.get("bucket_start_epoch")
            if isinstance(ts, (int, float)):
                ts = datetime.utcfromtimestamp(ts)
        if not ts and result.get("first_high_ts"):
            ts = result["first_high_ts"]
        if ts:
            items.append(
                {
                    "t": _rel(ts, start) if hasattr(ts, "isoformat") else ts,
                    "event": name,
                    "note": "Detector triggered",
                }
            )

    hot_buckets = [
        {
            "bucket_start": b.get("bucket_start") or b.get("bucket_start_epoch"),
            "max_severity": b.get("max_severity"),
            "count": b.get("count"),
        }
        for b in (hotspots or [])[:3]
    ]

    root_signal = None
    if (
        m["lag100k_ts"] is not None
        and m["recovery_ts"] is not None
        and m["lag100k_ts"] <= m["recovery_ts"]
    ):
        root_signal = "storage_pressure_precedes_recovery"
    elif m["recovery_ts"] is not None:
        root_signal = "recovery_precedes_storage_pressure"

    for ep in recovery_episodes or []:
        ep_start = ep.get("start")
        if isinstance(ep_start, str):
            try:
                ep_start = datetime.fromisoformat(ep_start)
            except ValueError:
                ep_start = None
        if ep_start:
            items.append(
                {
                    "t": _rel(ep_start, start),
                    "event": "RecoveryEpisode",
                    "note": f"Recovery window ({ep.get('duration_seconds')}s)",
                }
            )

    return {
        "first_anomaly": {
            "timestamp": severe_ts.isoformat() if severe_ts else "N/A",
            "event": severe_event,
            "meaning": "Earliest notable/severe event",
        },
        "timeline": items,
        "root_cause_signal": root_signal,
        "hot_buckets": hot_buckets,
        "detector_signals": detector_outputs,
    }
