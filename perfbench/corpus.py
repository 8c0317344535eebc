"""Seeded FDB-shaped trace corpora with a ground-truth manifest.

A corpus is a directory of trace files as FoundationDB writes them: XML
files open with the ``<?xml``/``<Trace>`` preamble and hold one
``<Event .../>`` element per line; JSONL files hold one JSON object per
line with string values. Each machine rolls its trace across several
files. A small, counted share of lines are blank or are not events.
Incident templates shaped like the scenario bank are injected into the
background traffic at known times.

The generator keeps every event it wrote as a ground-truth row
(``Event``), including the ``event_id`` the library's ingest must assign:
the event's 1-based line number plus the line count of every earlier file
in sorted path order. ``Corpus.manifest()`` summarises the rows; the
oracle module derives every expected output from them.

The same seed gives byte-identical files.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
from dataclasses import dataclass, field

T0 = 1709294400  # 2024-03-01T12:00:00Z
KNOWN_CAUSE = "Terminated due to commit proxy failure"


@dataclass
class Event:
    ts: int  # epoch seconds (the trace DateTime has second resolution)
    severity: int
    event: str
    machine: str
    role: str | None
    fields: dict[str, str]
    frac: int = 0  # sub-second digits of the Time attribute
    event_id: int = 0
    file: str = ""


@dataclass
class Incident:
    kind: str
    start: int  # epoch seconds
    end: int
    machine: str


@dataclass
class Spec:
    name: str
    n_machines: int
    files_per_machine: int
    duration_s: int
    metric_period_s: int
    incidents: list[str]
    start: int = T0


@dataclass
class Corpus:
    spec: Spec
    root: str
    paths: list[str] = field(default_factory=list)
    events: list[Event] = field(default_factory=list)
    incidents: list[Incident] = field(default_factory=list)
    total_bytes: int = 0
    blank_lines: int = 0
    non_event_lines: int = 0

    def manifest(self) -> dict:
        return {
            "name": self.spec.name,
            "files": [os.path.basename(p) for p in self.paths],
            "bytes": self.total_bytes,
            "events": len(self.events),
            "blank_lines": self.blank_lines,
            "non_event_lines": self.non_event_lines,
            "incidents": [
                {"kind": i.kind, "start": i.start, "end": i.end, "machine": i.machine}
                for i in self.incidents
            ],
        }


ROLES = ["SS", "SS", "TL", "CP", "SS", "GRV", "RK", "CD", "SS", "TL", "CP", "MS"]


def _machine(i: int) -> str:
    return f"10.0.{i // 200}.{i % 200 + 1}:4500"


def _uid(rng: random.Random) -> str:
    # letter prefix: an ID never parses as a number
    return "id" + "".join(rng.choice("0123456789abcdef") for _ in range(12))


def _committed(ts: int, start: int) -> int:
    # a function of the second alone, so events that share a second never
    # read as a version drop whatever their order
    return 10_000_000 + 1000 * (ts - start)


def _background(rng: random.Random, spec: Spec, idx: int) -> list[Event]:
    m = _machine(idx)
    role = ROLES[idx % len(ROLES)]
    out: list[Event] = []
    p = spec.metric_period_s
    phase = rng.randrange(p)
    bytes_in = rng.randrange(10_000, 90_000)

    def add(t, sev, ev, r, fields):
        out.append(Event(spec.start + t, sev, ev, m, r, fields, rng.randrange(1000)))

    for t in range(phase, spec.duration_s, p):
        bytes_in += rng.randrange(500, 5000)
        common = {"ID": _uid(rng), "ThreadID": str(rng.randrange(10**6, 10**7))}
        if role == "SS":
            add(t, 10, "StorageMetrics", role, {
                **common,
                "VersionLag": str(rng.randrange(0, 2000)),
                "DurabilityLag": f"{rng.uniform(0.5, 5.0):.2f}",
                "BytesInput": str(bytes_in),
                "KvOps": str(rng.randrange(100, 5000)),
                "StorageVersion": str(_committed(spec.start + t, spec.start) - 700),
                "Tag": f"0:{idx}",
            })
        elif role == "TL":
            add(t, 10, "TLogMetrics", role, {
                **common,
                "BytesInput": str(bytes_in),
                "BytesDurable": str(bytes_in - rng.randrange(0, 400)),
                "QueueCommittedBytes": str(rng.randrange(1000, 90_000)),
                "Generation": "3",
            })
        elif role == "CP":
            v = _committed(spec.start + t, spec.start)
            add(t, 10, "ProxyMetrics", role, {
                **common,
                "TxnCommitIn": f"{rng.uniform(10, 90):.2f}",
                "TxnCommitOut": f"{rng.uniform(10, 90):.2f}",
                "Mutations": str(rng.randrange(100, 9000)),
                "CommitBatchOut": f"{rng.uniform(1, 20):.2f}",
                "CommittedVersion": str(v),
                "DurableVersion": str(v - 500),
            })
        elif role == "GRV":
            add(t, 10, "GrvProxyMetrics", role, {
                **common,
                "Mean": f"{rng.uniform(0.001, 0.01):.4f}",
                "P95": f"{rng.uniform(0.01, 0.05):.4f}",
                "Max": f"{rng.uniform(0.05, 0.4):.4f}",
                "TxnRequestIn": f"{rng.uniform(50, 500):.2f}",
            })
        elif role == "RK":
            add(t, 10, "RkUpdate", role, {
                **common,
                "TPSLimit": f"{rng.uniform(1e5, 1e6):.1f}",
                "ReleasedTPS": f"{rng.uniform(100, 900):.1f}",
                "WorstStorageServerQueue": str(rng.randrange(1000, 90_000)),
                "WorstTLogQueue": str(rng.randrange(1000, 90_000)),
            })
        elif role == "CD":
            add(t, 10, "CoordinatorHeartbeat", role, {
                **common, "Leader": _uid(rng), "Generation": "3",
            })
        else:
            add(t, 10, "MasterMetrics", role, {
                **common,
                "Version": str(_committed(spec.start + t, spec.start)),
                "RecoveryCount": "2",
            })
    for t in range(phase % 30, spec.duration_s, 30):
        add(t, 10, "ProcessMetrics", role, {
            "ID": _uid(rng),
            "CPUSeconds": f"{rng.uniform(0.1, 4.0):.3f}",
            "MainThreadCPUSeconds": f"{rng.uniform(0.1, 2.0):.3f}",
            "Memory": str(rng.randrange(10**6, 10**7)),
            "Elapsed": f"{rng.uniform(4.9, 5.1):.3f}",
            "ConnectionsEstablished": str(rng.randrange(0, 20)),
        })
    for t in range(phase % 60, spec.duration_s, 60):
        # machine-level event: no Roles attribute, so role stays NULL
        add(t, 10, "MachineMetrics", None, {
            "ID": _uid(rng),
            "CPUSeconds": f"{rng.uniform(0.1, 8.0):.3f}",
            "TotalMemoryMB": "16384",
            "ZoneID": "zone" + str(idx % 3),
        })
    # every machine rolls its trace once, so each file holds a severity-30
    # event and a severity filter leaves no file empty
    add(rng.randrange(spec.duration_s), 30, "TraceFileRolled", role,
        {"ID": _uid(rng), "Size": "10485760"})
    for _ in range(max(1, spec.duration_s // 400)):
        t = rng.randrange(spec.duration_s)
        kind = rng.randrange(3)
        if kind == 0:
            add(t, 20, "SlowTask", role, {
                "ID": _uid(rng), "Duration": f"{rng.uniform(0.05, 0.5):.3f}",
                "TaskPriority": str(rng.choice([7000, 8500, 10000])),
            })
        elif kind == 1:
            add(t, 20, "ConnectionClosed", role, {
                "ID": _uid(rng), "PeerAddr": _machine(rng.randrange(64)),
                "Reason": "peer closed",
            })
        else:
            add(t, 30, "TraceFileRolled", role, {"ID": _uid(rng), "Size": "10485760"})
    return out


# ---------------------------------------------------------------------------
# incident templates (the tests/test_scenarios.py bank, on real trace lines)
# ---------------------------------------------------------------------------


def _storage_pressure(rng, start, m):
    ev = []
    ramp = [30_000, 60_000, 150_000, 400_000, 1_200_000, 2_500_000]
    for k, lag in enumerate(ramp):
        key = "versionLag" if k % 2 else "VersionLag"
        ev.append((k, 10, "StorageMetrics", "SS", {"ID": _uid(rng), key: str(lag)}))
    ev.append((3, 20, "RkUpdate", "RK", {"ThrottleReason": "storage_queue_too_deep"}))
    ev.append((4, 20, "RatekeeperThrottle", "RK", {"Reason": "ss durability lag"}))
    ev.append((5, 20, "RatekeeperThrottle", "RK", {"Reason": "batch priority throttled"}))
    ev.append((6, 30, "SlowSSLoopx100", "SS", {"Elapsed": "9"}))
    ev.append((7, 20, "CommitLatencyMetrics", "CP", {"CommitLatencyMin": "-0.25"}))
    return ev, 8


def _clogged_sideband(rng, start, m):
    ev = []
    for k in range(10):
        name = "RelocateShard_StartMoveKeys" if k % 2 == 0 else "FetchKeys"
        ev.append((k // 3, 20, name, "DD", {"Error": "operation_cancelled", "ErrorCode": "1101"}))
    ev.append((5, 40, "CommitProxyTerminated", "CP", {"Error": "please_reboot"}))
    ev.append((5, 40, "ResolverTerminated", "RV", {"Error": "please_reboot"}))
    ev.append((6, 40, "MasterTerminated", "MS", {"Reason": "commit pipeline failure"}))
    ev.append((6, 10, "CodeCoverage", None, {"Comment": KNOWN_CAUSE, "File": "Proxy.cpp"}))
    for k, code in enumerate([0, 2, 3, 7, 9, 11, 14]):
        ev.append((7 + k, 30, "MasterRecoveryState", "MS", {"StatusCode": str(code)}))
    return ev, 14


def _clog_with_rollbacks(rng, start, m):
    ev = []
    for w in (0, 90, 180):
        ev.append((w, 20, "RecruitStorageNotAvailable", "CC",
                   {"Error": "no_more_servers", "ErrorCode": "1008"}))
        ev.append((w + 2, 40, "FileOpenError", "SS",
                   {"Error": "file_not_found", "Filename": "logqueue-V_7-1.fdq"}))
        ev.append((w + 3, 20, "ClusterRecoveryRetrying", "CC", {"Error": "no_more_servers"}))
        for k, code in enumerate([0, 1, 2, 3, 7]):
            ev.append((w + 4 + k, 30, "MasterRecoveryState", "MS", {"StatusCode": str(code)}))
        ev.append((w + 10, 30, "SlowSSLoopx100", "SS", {"Elapsed": "7"}))
    for k, ver in enumerate([8_000_000, 9_000_000, 3_000_000, 4_000_000, 2_000_000,
                             5_000_000, 900_000]):
        ev.append((200 + k, 10, "ProxyMetrics", "CP",
                   {"CommittedVersion": str(ver), "DurableVersion": str(ver - 50_000)}))
    for k, rv in enumerate([700_000, 650_000, 720_000]):
        ev.append((210 + k, 20, "RecoveryState", "MS", {"RecoveryVersion": str(rv)}))
    return ev, 213


def _tlog_coordination(rng, start, m):
    ev = [
        (0, 40, "TLogError", "TL", {"Error": "io_error", "ErrorCode": "1510"}),
        (1, 40, "SharedTLogFailed", "TL", {"Error": "io_error"}),
        (2, 30, "CoordinatorFailed", "CD", {"Reason": "quorum lost"}),
        (3, 20, "CoordinatorHeartbeat", "CD", {"Status": "leader_lost"}),
    ]
    return ev, 4


def _burst(rng, start, m):
    ev = []
    for k in range(240):
        name = "FetchKeys" if k % 2 else "RelocateShard_StartMoveKeys"
        ev.append((k // 4, 20, name, "DD", {"Error": "operation_cancelled",
                                           "Bytes": str(rng.randrange(10**4, 10**6))}))
    return ev, 60


TEMPLATES = {
    "storage_pressure": _storage_pressure,
    "clogged_sideband": _clogged_sideband,
    "clog_with_rollbacks": _clog_with_rollbacks,
    "tlog_coordination": _tlog_coordination,
    "burst": _burst,
}


def _render_xml(e: Event) -> str:
    attrs = [("Severity", str(e.severity)),
             ("Time", f"{e.ts - T0 + 1000}.{e.frac:03d}"),
             ("DateTime", _iso(e.ts)), ("Type", e.event), ("Machine", e.machine)]
    if e.role is not None:
        attrs.append(("Roles", e.role))
    attrs.extend(e.fields.items())
    attrs.append(("LogGroup", "default"))
    return "<Event " + " ".join(f'{k}="{v}"' for k, v in attrs) + " />"


def _render_json(e: Event) -> str:
    d = {"Severity": str(e.severity), "Time": f"{e.ts - T0 + 1000}.{e.frac:03d}",
         "DateTime": _iso(e.ts), "Type": e.event, "Machine": e.machine}
    if e.role is not None:
        d["Roles"] = e.role
    d.update(e.fields)
    d["LogGroup"] = "default"
    return json.dumps(d, separators=(",", ":"))


def _iso(ts: int) -> str:
    import datetime as dt

    return dt.datetime.fromtimestamp(ts, dt.timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")


def generate(spec: Spec, seed: int, root: str) -> Corpus:
    """Write ``spec``'s corpus for ``seed`` under ``root`` (created) and
    return it with its ground-truth rows."""
    rng = random.Random(hashlib.sha256(f"{spec.name}:{seed}".encode()).digest())
    os.makedirs(root, exist_ok=True)
    per_machine = [_background(rng, spec, i) for i in range(spec.n_machines)]
    corpus = Corpus(spec, root)
    n = len(spec.incidents)
    slot = spec.duration_s // (n + 1)
    for k, kind in enumerate(spec.incidents):
        idx = rng.randrange(spec.n_machines)
        start = spec.start + slot * (k + 1) - slot // 4 + rng.randrange(slot // 2)
        rows, span = TEMPLATES[kind](rng, start, _machine(idx))
        for dt_, sev, name, role, fields in rows:
            per_machine[idx].append(
                Event(start + dt_, sev, name, _machine(idx), role, fields, rng.randrange(1000))
            )
        corpus.incidents.append(Incident(kind, start, start + span, _machine(idx)))

    # formats alternate by machine, so every corpus of two or more
    # machines mixes XML and JSONL: an all-XML or all-JSONL corpus reads
    # through a different plan with fewer Spark jobs
    first = rng.randrange(2)
    files = []
    for idx, evs in enumerate(per_machine):
        evs.sort(key=lambda e: (e.ts, e.frac))
        fmt = "xml" if (idx + first) % 2 == 0 else "jsonl"
        k = spec.files_per_machine
        chunk = -(-len(evs) // k)
        host = _machine(idx).replace(":", ".")
        for f in range(k):
            name = f"trace.{host}.{f:02d}.{fmt}"
            files.append((os.path.join(root, name), fmt, evs[f * chunk:(f + 1) * chunk]))
    files.sort(key=lambda x: x[0])

    offset = 0
    for path, fmt, evs in files:
        lines: list[str] = []
        if fmt == "xml":
            lines += ['<?xml version="1.0"?>', "<Trace>"]
            corpus.non_event_lines += 2
        for e in evs:
            if rng.random() < 0.01:
                lines.append("")
                corpus.blank_lines += 1
            if fmt == "xml" and rng.random() < 0.004:
                lines.append("<!-- trace buffer flushed -->")
                corpus.non_event_lines += 1
            lines.append(_render_xml(e) if fmt == "xml" else _render_json(e))
            e.event_id = offset + len(lines)
            e.file = os.path.basename(path)
            corpus.events.append(e)
        if fmt == "xml":
            lines.append("</Trace>")
            corpus.non_event_lines += 1
        text = "\n".join(lines) + "\n"
        with open(path, "w") as fh:
            fh.write(text)
        corpus.total_bytes += len(text.encode())
        corpus.paths.append(path)
        offset += len(lines)
    corpus.events.sort(key=lambda e: e.event_id)
    # beside the trace directory, not in it: a directory load takes *.json
    with open(root.rstrip("/") + ".manifest.json", "w") as fh:
        json.dump(corpus.manifest(), fh, indent=1, sort_keys=True)
    return corpus
