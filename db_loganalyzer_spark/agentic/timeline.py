"""Timeline builder — chronological story for the LLM context.

Reference: tools/investigation_tools/timeline_builder.py:18-166. The
reference sorts a collected event list in Python; here the four marker
lookups (first severe event, first lag>100k, first lag>1M, first
Recovery event) are ONE declarative aggregation over the events frame —
min-by semantics via ``min_by`` — so the builder costs a single job no
matter how many events accumulated.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

from ..sources.trace_logs import py_float

_LAG_KEYS = ["VersionLag", "versionLag", "VersionLagValue", "Lag", "lag"]


def version_lag() -> Column:
    """The first of the payload's version-lag keys that parses as a
    float (``fields`` column), else NULL."""
    return F.coalesce(*[py_float(F.element_at("fields", F.lit(k))) for k in _LAG_KEYS])


def build_timeline(
    events: DataFrame,
    detector_outputs: dict | None = None,
    hotspots: list[dict] | None = None,
    recovery_episodes: list[dict] | None = None,
) -> dict:
    """Same output contract as the reference build(): first_anomaly,
    timeline items with relative timestamps in time order (a stable sort,
    so items at one time keep the order markers, detector marks,
    recovery episodes), root_cause_signal, hot_buckets, detector_signals."""
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

    # (seconds after start, item)
    timed: list[tuple[float, dict]] = []

    def add(ts, event, note) -> None:
        if hasattr(ts, "isoformat"):
            at = (ts - start).total_seconds()
            t = f"+{at:.1f}s"
        else:
            # a missing time reads N/A, a detector's time that is not a
            # timestamp is shown as given; both sort after every timed item
            at, t = math.inf, "N/A" if ts is None else ts
        timed.append((at, {"t": t, "event": event, "note": note}))

    add(severe_ts, severe_event, "Earliest notable/severe event")
    if m["lag100k_ts"] is not None:
        add(
            m["lag100k_ts"],
            f"VersionLag={int(m['lag100k_val'])}",
            "Lag exceeds 100k (storage pressure signal)",
        )
    if m["lag1m_ts"] is not None:
        add(
            m["lag1m_ts"],
            f"VersionLag={int(m['lag1m_val'])}",
            "Lag exceeds 1M (critical storage pressure)",
        )
    if m["recovery_ts"] is not None:
        add(m["recovery_ts"], m["recovery_event"], "Recovery activity begins")

    # detector marks, from the 1-row summary dicts the loop collected
    detector_outputs = detector_outputs or {}
    for name, result in detector_outputs.items():
        if not isinstance(result, dict):
            continue
        ts = result.get("first_ts") or result.get("timestamp")
        if not ts and isinstance(result.get("first_anomaly"), dict):
            # an epoch-second bucket, converted as collect() converts a
            # timestamp
            bucket = result["first_anomaly"].get("bucket")
            if bucket is not None:
                ts = TimestampType().fromInternal(bucket * 1_000_000)
        if not ts and result.get("first_high_ts"):
            ts = result["first_high_ts"]
        if ts:
            add(ts, name, "Detector triggered")

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

    # rows of recovery_episodes' ``episodes`` frame
    for ep in recovery_episodes or []:
        add(ep["start_ts"], "RecoveryEpisode", f"Recovery window ({ep['duration_s']}s)")

    return {
        "first_anomaly": {
            "timestamp": severe_ts.isoformat() if severe_ts else "N/A",
            "event": severe_event,
            "meaning": "Earliest notable/severe event",
        },
        "timeline": [item for _, item in sorted(timed, key=lambda p: p[0])],
        "root_cause_signal": root_signal,
        "hot_buckets": hot_buckets,
        "detector_signals": detector_outputs,
    }
