"""Independent expected outputs for a generated corpus.

Everything here is computed from the generator's ground-truth rows
(``corpus.Event``), never from the library under test: table counts in
Python, rollups and baselines in an in-process DuckDB, and each detector's
decision by a direct Python reading of its specification. ``compare_rows``
checks float columns with a relative tolerance, since the engines sum in
different orders.
"""

from __future__ import annotations

import calendar
import datetime as dt
import math
import re

import duckdb

BASELINE_EXCLUDED = {
    "ThreadID", "ID", "Machine", "Address", "ProcessID", "PID",
    "TraceFile", "TraceFileExtended", "SourceLine",
}
WINDOW_METRICS = ["VersionLag", "DurabilityLag", "BytesInput",
                  "WorstStorageServerQueue", "WorstStorageServerDurabilityLag"]
INTERESTING = {"MasterRecoveryState", "RkUpdate", "TLogError", "SharedTLogFailed",
               "CoordinatorFailed", "RatekeeperThrottle", "SlowSSLoopx100"}
ABS_THRESHOLDS = {"Max": 1.0, "P99": 0.5, "P95": 0.3, "QueryQueue": 100.0}
KNOWN_CAUSES = [
    "Terminated due to tLog failure", "Terminated due to storage server failure",
    "Terminated due to commit proxy failure", "Terminated due to GRV proxy failure",
    "Terminated due to resolver failure", "Terminated due to master failure",
    "Terminated due to coordinator failure", "Configuration change",
    "Manual recovery", "Network partition", "Datacenter failure",
]
RECOVERY_STATES = [
    "reading_coordinated_state", "locking_coordinated_state", "recruiting_proxies",
    "reading_transaction_system_state", "configuration_missing",
    "configuration_never_created", "configuration_invalid",
    "recruiting_transaction_servers", "initializing_transaction_servers",
    "recovery_transaction", "writing_coordinated_state", "accepting_commits",
    "all_logs_recruited", "storage_recovered", "fully_recovered",
]
LAG_KEYS = ["VersionLag", "versionLag", "VersionLagValue", "Lag", "lag"]


def py_float(v):
    """Python ``float`` on the generator's vocabulary (plain decimals and
    words), which is what a SQL try_cast to double gives for it."""
    if v is None:
        return None
    try:
        return float(v.strip())
    except ValueError:
        return None


def epoch(ts) -> int:
    """Seconds since the epoch of a naive UTC datetime as collected."""
    return calendar.timegm(ts.timetuple())


def metric_rows(events):
    return [(e.event_id, e.event, k, x) for e in events
            for k, v in e.fields.items() if (x := py_float(v)) is not None]


def table_counts(events) -> dict:
    return {
        "events": len(events),
        "event_metrics": len(metric_rows(events)),
        "events_wide": len(events),
        "processes": len({e.machine for e in events}),
        "process_roles": len({(e.machine, e.role, e.ts) for e in events if e.role}),
    }


class DuckOracle:
    """Rollups and baselines over the ground-truth rows in DuckDB."""

    def __init__(self, events):
        import pyarrow as pa

        self.con = duckdb.connect()
        self.con.execute("SET threads TO 1")
        metrics = metric_rows(events)
        self.con.register("events_src", pa.table({
            "event_id": pa.array([e.event_id for e in events], pa.int64()),
            "ts": pa.array([e.ts for e in events], pa.int64()),
            "role": pa.array([e.role for e in events], pa.string()),
        }))
        self.con.register("metrics_src", pa.table({
            "event_id": pa.array([m[0] for m in metrics], pa.int64()),
            "metric_name": pa.array([m[2] for m in metrics], pa.string()),
            "metric_value": pa.array([m[3] for m in metrics], pa.float64()),
        }))
        self.con.execute("CREATE TABLE events AS SELECT * FROM events_src")
        self.con.execute("CREATE TABLE metrics AS SELECT * FROM metrics_src")

    def close(self):
        self.con.close()

    def rollup(self, window_s: int) -> list[tuple]:
        return self.con.execute(f"""
            SELECT (e.ts // {window_s}) * {window_s} AS window_start, e.role,
                   m.metric_name, COUNT(*) AS n, AVG(m.metric_value),
                   MAX(m.metric_value), quantile_cont(m.metric_value, 0.95)
            FROM events e JOIN metrics m USING (event_id)
            GROUP BY ALL ORDER BY 1, 2 NULLS FIRST, 3""").fetchall()

    def baselines(self, min_count: int = 20, top_n: int = 500) -> list[tuple]:
        excluded = ", ".join(f"'{f}'" for f in sorted(BASELINE_EXCLUDED))
        stats = ("AVG(metric_value), STDDEV_SAMP(metric_value), "
                 "quantile_cont(metric_value, 0.95), MIN(metric_value), "
                 "MAX(metric_value), COUNT(*) AS c")
        return self.con.execute(f"""
            WITH j AS (
              SELECT m.metric_name, m.metric_value, e.role
              FROM metrics m JOIN events e USING (event_id)
              WHERE m.metric_name NOT IN ({excluded})
                AND isfinite(m.metric_value) AND abs(m.metric_value) < 1e308)
            SELECT * FROM (
              SELECT metric_name, role, {stats} FROM j WHERE role IS NOT NULL
              GROUP BY 1, 2 HAVING COUNT(*) >= {min_count}
              UNION ALL
              SELECT metric_name, 'ALL', {stats} FROM j
              GROUP BY 1 HAVING COUNT(*) >= {min_count})
            ORDER BY c DESC, metric_name, role LIMIT {top_n}""").fetchall()


def compare_rows(got: list[tuple], want: list[tuple], rel: float = 1e-9) -> str | None:
    """None when the row lists agree (floats within ``rel``), else the
    first difference."""
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    for g, w in zip(got, want):
        for a, b in zip(g, w):
            if isinstance(b, float) or isinstance(a, float):
                if a is None or b is None:
                    if a is not b:
                        return f"row {g} != {w}"
                elif not math.isclose(a, b, rel_tol=rel, abs_tol=1e-12):
                    return f"row {g} != {w}"
            elif a != b:
                return f"row {g} != {w}"
    return None


# ---------------------------------------------------------------------------
# detectors, read from their specification
# ---------------------------------------------------------------------------


def _lookup(baselines, metric, role):
    by = {(b[0], b[1]): b for b in baselines}
    b = by.get((metric, role)) or by.get((metric, "ALL"))
    return (b[2], b[3]) if b else (None, None)


def _z(x, mean, std):
    return abs((x - mean) / std) if std is not None and std > 0 else None


def storage_engine_pressure(events, baselines):
    vl = [b for b in baselines if b[0] == "VersionLag"]
    high, total, max_lag = 0, 0, None
    for e in events:
        if e.event != "StorageMetrics":
            continue
        lag = py_float(e.fields.get("VersionLag"))
        if lag is None:
            lag = py_float(e.fields.get("versionLag"))
        if lag is None:
            continue
        total += 1
        max_lag = lag if max_lag is None else max(max_lag, lag)
        z = _z(lag, *_lookup(vl, "VersionLag", e.role or "ALL"))
        high += (z is not None and z >= 3.0) or lag > 50000
    return {"detected": high > 0, "count_high": high, "total": total, "max_lag": max_lag}


def _class_count(hits):
    return {"detected": len(hits) > 0, "count": len(hits)}


def ratekeeper_throttling(events):
    return _class_count([
        e for e in events if re.search("Ratekeeper|Throttle", e.event)
        and ("throttle" in e.event.lower() or any("throttle" in k.lower() for k in e.fields))])


def missing_tlogs(events):
    return _class_count([
        e for e in events if "TLog" in e.event
        and any(w in e.event for w in ("Missing", "Failed", "Error"))])


def coordination_loss(events):
    def hit(e):
        text = " ".join([e.event] + [k + " " + v for k, v in e.fields.items()]).lower()
        return "fail" in text or "lost" in text
    return _class_count([e for e in events if "Coordinator" in e.event and hit(e)])


def _recoveries(events):
    return sorted((e for e in events if e.event == "MasterRecoveryState"),
                  key=lambda e: (e.ts, e.event_id))


def recovery_loop(events, threshold=3, window_s=60):
    ts = [e.ts for e in _recoveries(events)]
    n = sum(1 for j in range(threshold - 1, len(ts)) if ts[j] - ts[j - threshold + 1] <= window_s)
    return {"detected": n > 0, "loop_count": n}


def zscore_hotspots(events, bucket_s=300, min_z=2.0, limit=20):
    buckets: dict[int, list] = {}
    for e in events:
        b = buckets.setdefault(e.ts // bucket_s * bucket_s, [0, e.severity])
        b[0] += 1
        b[1] = max(b[1], e.severity)
    counts = [c for c, _ in buckets.values()]
    if len(counts) < 2:
        return []
    mean = sum(counts) / len(counts)
    std = math.sqrt(sum((c - mean) ** 2 for c in counts) / (len(counts) - 1))
    if std <= 0:
        return []
    hot = [(b, c, s, (c - mean) / std) for b, (c, s) in buckets.items()
           if (c - mean) / std >= min_z]
    hot.sort(key=lambda h: -h[3])
    return sorted((b, c, s) for b, c, s, _ in hot[:limit])


def baseline_window_anomalies(events, baselines, bucket_s=30, z_thr=3.0, min_samples=3):
    by_id = {e.event_id: e for e in events}
    groups: dict[tuple, list] = {}
    for i, _, k, x in metric_rows(events):
        if k not in WINDOW_METRICS or not math.isfinite(x):
            continue
        e = by_id[i]
        groups.setdefault((e.ts // bucket_s * bucket_s, e.role or "ALL", k), []).append(x)
    out = []
    for (b, role, k), xs in groups.items():
        if len(xs) < min_samples:
            continue
        z = _z(sum(xs) / len(xs), *_lookup(baselines, k, role))
        if z is not None and z >= z_thr:
            out.append((b, role, k))
    return sorted(out)


def _parse_numeric(v):
    if " " not in v:
        return py_float(v)
    kept = [t for t in v.strip().split() if t not in ("-1", "inf")]
    parsed = [x for t in kept if (x := py_float(t)) is not None]
    return max(parsed) if parsed and len(parsed) == len(kept) else None


def metric_anomalies(events, limit=500, z_thr=2.5, extreme=3.0):
    recent = sorted(events, key=lambda e: (e.ts, e.event_id), reverse=True)[:limit]
    pool = [e for e in recent if e.event in INTERESTING] or recent
    melted = [(e.event_id, k, x) for e in pool for k, v in e.fields.items()
              if (x := _parse_numeric(v)) is not None and x > 0]
    vals: dict[str, list] = {}
    for _, k, x in melted:
        vals.setdefault(k, []).append(x)
    stats = {}
    for k, xs in vals.items():
        if len(xs) >= 3:
            m = sum(xs) / len(xs)
            stats[k] = (m, math.sqrt(sum((x - m) ** 2 for x in xs) / (len(xs) - 1)))
    flagged = set()
    for i, k, x in melted:
        if k not in stats:
            continue
        m, sd = stats[k]
        z = abs((x - m) / sd) if sd != 0 else None
        if (z is not None and z > z_thr) or (k in ABS_THRESHOLDS and x > ABS_THRESHOLDS[k]):
            flagged.add(i)
    return sorted(flagged)


def rollback_analysis(events):
    order = sorted(events, key=lambda e: (e.ts, e.event_id))

    def series(name, evs):
        return [x for e in evs if (x := py_float(e.fields.get(name))) is not None]

    def drops(xs):
        return sum(1 for a, b in zip(xs, xs[1:]) if b < a)

    committed = series("CommittedVersion", order)
    resets = sum(1 for a, b in zip(committed, committed[1:]) if a > 1e6 and b < 1e6)
    rv = series("RecoveryVersion", [e for e in order if e.event == "RecoveryState"])
    out = {"num_drops": drops(committed) + drops(series("DurableVersion", order)),
           "num_resets": resets, "num_recovery_resets": drops(rv)}
    out["detected"] = any(out.values())
    return out


def recovery_episodes(events, gap_s=60, halo_s=30):
    eps = []
    for e in _recoveries(events):
        if eps and e.ts - eps[-1][1] <= gap_s:
            eps[-1][1] = e.ts
            eps[-1][2] += 1
        else:
            eps.append([e.ts, e.ts, 1])
    out = []
    for start, end, n in eps:
        sev = [e.severity for e in events if start - halo_s <= e.ts <= end + halo_s]
        out.append((start, end, n, max(sev) if sev else None))
    return out


def detect_recoveries(events, look_back=5):
    known = [c.lower() for c in KNOWN_CAUSES]
    cands = []
    for e in events:
        name = e.event.lower()
        fail_name = bool(e.event) and any(w in name for w in ("fail", "error", "terminated"))
        comment = e.fields.get("Comment") or ""
        if e.event == "CodeCoverage" and any(c in comment.lower() for c in known):
            cands.append((1, e.ts, e.event_id, e.fields.get("Comment")))
        elif fail_name:
            cands.append((2, e.ts, e.event_id, f"Detected failure event: {e.event}"))
        elif e.event and e.severity >= 40:
            cands.append((2, e.ts, e.event_id,
                          f"High severity event: {e.event} (severity {e.severity})"))
    out = []
    for r in sorted(_recoveries(events), key=lambda e: e.event_id):
        cause = None
        for tier in (1, 2):
            win = [c for c in cands if c[0] == tier and r.ts - look_back <= c[1] < r.ts]
            if win:
                cause = max(win, key=lambda c: (c[1], c[2]))[3]
                break
        code = py_float(r.fields.get("StatusCode"))
        code = int(code) if code is not None and code == int(code) else None
        state = RECOVERY_STATES[code] if code is not None and 0 <= code < 15 else "unknown"
        out.append((r.event_id, state, cause))
    return out


def timeline(events) -> dict:
    def lag(e):
        for k in LAG_KEYS:
            if (x := py_float(e.fields.get(k))) is not None:
                return x
        return None

    severe = [e.ts for e in events if e.severity >= 30]
    lag100k = [e.ts for e in events if (x := lag(e)) is not None and x > 100_000]
    recovery = [e.ts for e in events if "Recovery" in e.event]
    severe_ts = min(severe) if severe else min(e.ts for e in events)
    signal = None
    if lag100k and recovery and min(lag100k) <= min(recovery):
        signal = "storage_pressure_precedes_recovery"
    elif recovery:
        signal = "recovery_precedes_storage_pressure"
    return {
        "severe_ts": severe_ts,
        "severe_events": sorted({e.event for e in events
                                 if e.ts == severe_ts and e.severity >= 30}),
        "root_cause_signal": signal,
    }


def iso_epoch(text: str) -> int:
    return epoch(dt.datetime.fromisoformat(text))
