"""Projection / filter / predicate operators (SURVEY §2.2, F1-F11).

All are thin declarative filters — Catalyst pushes them into the parquet
scan (check ``PushedFilters`` in ``.explain``), so they cost nothing extra
at 100 TB; the reference needed hand-built WHERE-string composition
(tools/investigation_tools/helpers.py:83-117) to get the same effect.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def time_window(
    df: DataFrame,
    anchor: datetime | str,
    window_seconds: float,
    ts_col: str = "ts",
    limit: int | None = None,
    tiebreak: str | None = "event_id",
) -> DataFrame:
    """F1 — events within ±window_seconds of an anchor, time-ordered.

    reference: tools/investigation_tools/context_analyzer.py:16-28
    """
    a = F.lit(anchor).cast("timestamp")
    lo = a - F.expr(f"INTERVAL {window_seconds} SECONDS")
    hi = a + F.expr(f"INTERVAL {window_seconds} SECONDS")
    out = df.filter(F.col(ts_col).between(lo, hi))
    order = [F.col(ts_col)] + ([F.col(tiebreak)] if tiebreak else [])
    out = out.orderBy(*order)
    return out.limit(limit) if limit else out


def event_pattern(
    df: DataFrame,
    pattern: str,
    event_col: str = "event",
    ts_col: str = "ts",
    limit: int | None = None,
    tiebreak: str | None = "event_id",
) -> DataFrame:
    """F2 — substring match on event name, newest first.

    reference: context_analyzer.py:30-49
    """
    out = df.filter(F.col(event_col).contains(pattern))
    order = [F.col(ts_col).desc()] + ([F.col(tiebreak).desc()] if tiebreak else [])
    out = out.orderBy(*order)
    return out.limit(limit) if limit else out


def severity_floor(
    df: DataFrame,
    min_severity: float,
    severity_col: str = "severity",
    ts_col: str = "ts",
    limit: int | None = None,
    tiebreak: str | None = "event_id",
) -> DataFrame:
    """F3 — severity >= floor, ordered severity desc then newest.

    reference: global_scanner.py:221-230
    """
    out = df.filter(F.col(severity_col) >= min_severity)
    order = [F.col(severity_col).desc(), F.col(ts_col).desc()] + (
        [F.col(tiebreak).desc()] if tiebreak else []
    )
    out = out.orderBy(*order)
    return out.limit(limit) if limit else out


def dynamic_predicate(
    df: DataFrame,
    start_time=None,
    end_time=None,
    severity_min=None,
    event_type: str | None = None,
    ts_col: str = "ts",
    severity_col: str = "severity",
    event_col: str = "event",
) -> DataFrame:
    """F4 — compose optional predicates; LIKE when the event pattern
    carries a ``%``, equality otherwise.

    reference: tools/investigation_tools/helpers.py:83-117
    """
    if start_time is not None:
        df = df.filter(F.col(ts_col) >= F.lit(start_time).cast("timestamp"))
    if end_time is not None:
        df = df.filter(F.col(ts_col) <= F.lit(end_time).cast("timestamp"))
    if severity_min is not None:
        df = df.filter(F.col(severity_col) >= severity_min)
    if event_type is not None:
        if "%" in event_type:
            df = df.filter(F.col(event_col).like(event_type))
        else:
            df = df.filter(F.col(event_col) == event_type)
    return df


# reference: tools/anomaly_detector.py:23-36
INTERESTING_EVENTS = {
    "MasterRecoveryState",
    "RkUpdate",
    "TLogError",
    "SharedTLogFailed",
    "CoordinatorFailed",
    "RatekeeperThrottle",
    "SlowSSLoopx100",
}


def interesting_events(
    df: DataFrame,
    min_severity: int = 30,
    names=INTERESTING_EVENTS,
    severity_col: str = "severity",
    event_col: str = "event",
) -> DataFrame:
    """F5 — severity >= 30 OR event in the interesting set.

    reference: tools/anomaly_detector.py:262-286
    """
    return df.filter(
        (F.col(severity_col) >= min_severity) | F.col(event_col).isin(*names)
    )


def event_class(df: DataFrame, regex: str, event_col: str = "event") -> DataFrame:
    """F6 — LIKE-disjunction event classes as one rlike.

    reference: detectors.py:126-135, :153-163, :207-216
    """
    return df.filter(F.col(event_col).rlike(regex))


def field_probe(
    df: DataFrame,
    needle: str,
    event_col: str = "event",
    fields_col: str = "fields",
) -> DataFrame:
    """F7 — case-insensitive needle in event name or any payload key/value.

    reference: detectors.py:138-141, :218-223
    """
    n = needle.lower()
    return df.filter(
        F.lower(F.col(event_col)).contains(n)
        | F.exists(F.map_keys(F.col(fields_col)), lambda k: F.lower(k).contains(n))
        | F.exists(F.map_values(F.col(fields_col)), lambda v: F.lower(v).contains(n))
    )


def finite(c: Column) -> Column:
    """F9 — isfinite + magnitude guard (reference: global_scanner.py:74)."""
    return c.isNotNull() & (~F.isnan(c)) & (F.abs(c) < F.lit(1e308))


def exclude_events(df: DataFrame, names, event_col: str = "event") -> DataFrame:
    """F10 — drop named event types (e.g. CodeCoverage in challenge mode).

    reference: tools/recovery_detector.py:106-108
    """
    return df.filter(~F.col(event_col).isin(*names))


def regex_corpus_filter(
    df: DataFrame,
    whitelist: str,
    blacklist: str | None = None,
    min_len: int = 10,
    text_col: str = "text",
) -> DataFrame:
    """F11 — regex whitelist + noise blacklist + length floor over a corpus.

    reference: log_analysis/cluster_code_coverage.py:40-62
    """
    out = df.filter(F.col(text_col).rlike(whitelist))
    if blacklist:
        out = out.filter(~F.col(text_col).rlike(blacklist))
    return out.filter(F.length(F.col(text_col)) >= min_len)
