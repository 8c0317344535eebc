"""End-to-end CLI parity: the reference's command surface
(init/load/query/stats/export/rollup/chunk) driven in-process against a
temp warehouse. The load round trip runs on a small mixed XML + JSONL
corpus written by the tests; the other commands use the reference's own
sample trace XML when it is present."""

import glob
import json
import math
import os
import re
from collections import Counter
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from db_loganalyzer_spark import cli
from db_loganalyzer_spark.sources import trace_logs as TL

REF_XML_DIR = "/root/reference/data/log_example/simlogs"


def _require_reference_samples():
    if not os.path.isdir(REF_XML_DIR):
        pytest.skip("reference samples not present")


@pytest.fixture(scope="module")
def warehouse(tmp_path_factory, spark):
    _require_reference_samples()
    wh = str(tmp_path_factory.mktemp("wh"))
    base = ["--db", wh, "--database", "cli_test"]
    assert cli.main(base + ["init"]) == 0
    xml = sorted(glob.glob(f"{REF_XML_DIR}/*.xml"))[0]
    assert cli.main(base + ["load", xml, "--mode", "overwrite"]) == 0
    return base


def test_cli_load_and_query(spark, warehouse, capsys):
    assert (
        cli.main(
            warehouse + ["query", "SELECT COUNT(*) AS n FROM events"]
        )
        == 0
    )
    out = capsys.readouterr().out
    assert "n" in out and any(line.strip("| ").isdigit() for line in out.splitlines())


def test_cli_stats(warehouse, capsys):
    assert cli.main(warehouse + ["stats"]) == 0
    out = capsys.readouterr().out
    assert "Total events:" in out
    assert "Severity distribution:" in out
    assert "Role distribution" in out


def test_cli_rollup(spark, warehouse):
    assert cli.main(warehouse + ["rollup", "--window", "60"]) == 0
    roll = spark.table("cli_test.rollups_60s")
    assert roll.count() > 0
    assert {"window_start", "role", "metric_name", "n", "avg_value"} <= set(
        roll.columns
    )


def test_cli_export(warehouse, tmp_path):
    out = str(tmp_path / "export_csv")
    assert (
        cli.main(
            warehouse
            + [
                "export",
                "SELECT event, COUNT(*) AS n FROM events GROUP BY event",
                "--out",
                out,
                "--format",
                "csv",
                "--single-file",
            ]
        )
        == 0
    )
    files = glob.glob(f"{out}/*.csv")
    assert len(files) == 1
    with open(files[0]) as f:
        header = f.readline().strip()
    assert header == "event,n"


def test_cli_chunk(warehouse, capsys):
    assert cli.main(warehouse + ["chunk"]) == 0
    assert "chunk_id" in capsys.readouterr().out


# ---------------------------------------------------------------------------
# Full round-trip on the reference's own fixtures, checked against a pure-
# Python oracle (no Spark): load sample_log.json, append a simlogs XML
# (ids must continue past the JSON's), rollup, stats, export — row counts,
# severity distribution, and every rollup cell pinned to independently
# recomputed values.
# ---------------------------------------------------------------------------

SAMPLE_JSON = "/root/reference/data/sample_log.json"


def _ref_attrs(path):
    """Parse a reference trace file exactly like the ingest contract:
    JSONL object per line (values as strings), or <Event .../> attribute
    bags for XML; blank / non-Event lines dropped."""
    import json as _json
    import re

    out = []
    with open(path) as f:
        for ln in f:
            t = ln.strip()
            if not t:
                continue
            if t.startswith("<Event"):
                out.append(dict(re.findall(r'(\w+)="([^"]*)"', t)))
            elif t.startswith("{"):
                out.append({k: str(v) for k, v in _json.loads(t).items()})
            elif path.endswith((".json", ".jsonl")):
                # plaintext k=v fallback lines (none in the sample, but
                # keep the oracle honest about the contract)
                out.append(dict(re.findall(r"(\w+)=([^\s]+)", t)))
    return out


def _oracle_rollup(attr_dicts, window=60):
    """(window_start, role, metric_name) -> (n, avg, max) recomputed with
    plain Python floats: the reference's EAV melt (every float-parseable
    non-envelope field) + 60s epoch buckets on the strict DateTime parse."""
    import calendar
    from datetime import datetime

    from db_loganalyzer_spark.model.schemas import MANDATORY_FIELDS

    cells = {}
    for attrs in attr_dicts:
        b = None
        dt = attrs.get("DateTime")
        if dt:
            try:
                ts = datetime.strptime(dt, "%Y-%m-%dT%H:%M:%SZ")
                b = int(calendar.timegm(ts.timetuple())) // window * window
            except ValueError:
                b = None
        role = attrs.get("Roles")
        for k, v in attrs.items():
            if k in MANDATORY_FIELDS:
                continue
            try:
                mv = float(v)
            except (TypeError, ValueError):
                continue
            cells.setdefault((b, role, k), []).append(mv)
    return {
        key: (len(vs), sum(vs) / len(vs), max(vs)) for key, vs in cells.items()
    }


@pytest.fixture(scope="module")
def ref_roundtrip(tmp_path_factory, spark):
    _require_reference_samples()
    wh = str(tmp_path_factory.mktemp("wh_ref"))
    base = ["--db", wh, "--database", "cli_ref"]
    assert cli.main(base + ["init"]) == 0
    assert cli.main(base + ["load", SAMPLE_JSON, "--mode", "overwrite"]) == 0
    xml = sorted(glob.glob(f"{REF_XML_DIR}/*.xml"))[0]
    assert cli.main(base + ["load", xml, "--mode", "append"]) == 0
    return base, _ref_attrs(SAMPLE_JSON), _ref_attrs(xml)


def test_roundtrip_counts_and_id_continuation(spark, ref_roundtrip):
    base, js, xs = ref_roundtrip
    ev = spark.table("cli_ref.events")
    assert ev.count() == len(js) + len(xs)
    # event ids stay unique across the two CLI invocations
    assert ev.select("event_id").distinct().count() == len(js) + len(xs)


def test_roundtrip_severity_distribution(spark, ref_roundtrip):
    base, js, xs = ref_roundtrip
    expected = {}
    for attrs in js + xs:
        try:
            sev = int(attrs.get("Severity"))
        except (TypeError, ValueError):
            sev = None
        expected[sev] = expected.get(sev, 0) + 1
    got = {
        r["severity"]: r["n"]
        for r in spark.sql(
            "SELECT severity, COUNT(*) AS n FROM cli_ref.events GROUP BY 1"
        ).collect()
    }
    assert got == expected


def test_roundtrip_rollup_matches_python_oracle(spark, ref_roundtrip):
    import math

    base, js, xs = ref_roundtrip
    assert cli.main(base + ["rollup", "--window", "60"]) == 0
    want = _oracle_rollup(js + xs, window=60)
    got = {
        (r["window_start"], r["role"], r["metric_name"]): (
            r["n"],
            r["avg_value"],
            r["max_value"],
        )
        for r in spark.table("cli_ref.rollups_60s").collect()
    }
    assert set(got) == set(want)
    for key, (n, avg, mx) in want.items():
        gn, gavg, gmx = got[key]
        assert gn == n, key
        if math.isnan(avg):
            assert math.isnan(gavg), key
        else:
            assert math.isclose(gavg, avg, rel_tol=1e-9, abs_tol=1e-12), key
        assert gmx == mx or (math.isnan(mx) and math.isnan(gmx)), key


def test_roundtrip_export_row_count(spark, ref_roundtrip, tmp_path):
    base, js, xs = ref_roundtrip
    out = str(tmp_path / "ref_export")
    assert (
        cli.main(
            base
            + [
                "export",
                "SELECT event, COUNT(*) AS n FROM events GROUP BY event",
                "--out",
                out,
                "--format",
                "json",
                "--single-file",
            ]
        )
        == 0
    )
    import json as _json

    files = glob.glob(f"{out}/*.json")
    assert len(files) == 1
    with open(files[0]) as f:
        rows = [_json.loads(l) for l in f if l.strip()]
    types = {a.get("Type") for a in js + xs}
    assert {r["event"] for r in rows} == {t for t in types if t is not None}
    assert sum(r["n"] for r in rows if "n" in r) >= len(js) + len(xs) - sum(
        1 for a in js + xs if a.get("Type") is None
    )


# ---------------------------------------------------------------------------
# Load round trip on a corpus the tests write: two XML and two JSONL trace
# files in one directory (plus a file load must skip), then one more JSONL
# file appended by a second load. Every table load writes is compared, as a
# multiset of rows, with what ingest() derives from the same files.
# ---------------------------------------------------------------------------

CORE = ("events", "event_metrics", "events_wide", "processes", "process_roles")

# One overwrite load of the generated corpus runs 10 Spark jobs on a 4-core
# local session: the line-count collect and five writes, each counting its
# rows inside the write job. It ran 22 when the per-file id offsets were a
# broadcast Python-built frame and each table was counted after its write,
# and 30 when every side-table write re-parsed the trace text. The budget
# leaves two jobs of headroom for plan variation.
LOAD_JOB_BUDGET = 12


def _trace_event(i, kind, machine, role=None, **extra):
    e = {
        "Severity": str((10, 20, 30, 40)[i % 4]),
        "Time": f"{i}.5",
        "DateTime": f"2025-11-23T03:{i // 60:02d}:{i % 60:02d}Z",
        "Type": kind,
        "Machine": machine,
    }
    if role:
        e["Roles"] = role
    e.update({k: str(v) for k, v in extra.items()})
    return e


def _xml(events):
    body = "".join(
        "<Event " + " ".join(f'{k}="{v}"' for k, v in e.items()) + " />\n"
        for e in events
    )
    return '<?xml version="1.0"?>\n<Trace>\n' + body + "</Trace>\n"


def _jsonl(events):
    return "".join(json.dumps(e) + "\n" for e in events)


def _write_corpus(root):
    """batch 1: a directory of four trace files and one README; batch 2:
    one JSONL file outside it. Machines recur across files and batches, so
    processes and process_roles get rows for the same keys from each."""
    logs = root / "logs"
    logs.mkdir()
    m1, m2, m3 = "10.0.0.1:4500", "10.0.0.2:4500", "10.0.0.3:4500"
    (logs / "a.xml").write_text(_xml([
        _trace_event(1, "Role", m1, "MS", As="Master", PID=41),
        _trace_event(2, "StorageMetrics", m1, "SS", QueueSize=120, BytesInput=7,
                     DurableLag="0.25", Ops=33),
        _trace_event(3, "GRVLatencyMetrics", m1, "GP", Mean="0.002", P95="0.01"),
    ]))
    (logs / "b.xml").write_text(_xml([
        _trace_event(4, "ProxyMetrics", m2, "CP", TxnCommitIn=55, Mutations=9),
        _trace_event(5, "TLogMetrics", m2, "TL", Version=2000000,
                     DurableVersion=1500000, Address=m2),
    ]))
    (logs / "c.jsonl").write_text(_jsonl([
        _trace_event(6, "StorageMetrics", m3, "SS", QueueSize=80, DiskQueue=4096),
        _trace_event(7, "SlowTask", m3, Duration="2.5"),
    ]) + "\n" + "Severity=20 Type=SlowTask Machine=10.0.0.3:4500 Duration=1.5\n")
    (logs / "d.json").write_text(_jsonl([
        _trace_event(8, "Role", m1, "SS", As="StorageServer"),
        _trace_event(9, "DataDistribution", m2, "DD", InFlightBytes=1024,
                     WorstStorageServerQueue=600),
    ]))
    (logs / "README.md").write_text("not a trace file\n")
    more = root / "more"
    more.mkdir()
    (more / "e.jsonl").write_text(_jsonl([
        _trace_event(70, "StorageMetrics", m1, "SS", QueueSize=140, Ops=40),
        _trace_event(71, "Role", m3, "TL", As="TLog"),
    ]))
    batch1 = sorted(str(logs / f) for f in ("a.xml", "b.xml", "c.jsonl", "d.json"))
    return str(logs), batch1, str(more / "e.jsonl")


def _cell(v):
    if isinstance(v, dict):
        return tuple(sorted(v.items()))
    if isinstance(v, float) and math.isnan(v):
        return "nan"
    return v


def _rows(df, columns):
    return Counter(tuple(_cell(v) for v in r) for r in df.select(*columns).collect())


def _snapshot(spark, db, like):
    return {t: _rows(spark.table(f"{db}.{t}"), like[t].columns) for t in CORE}


@pytest.fixture(scope="module")
def generated_roundtrip(tmp_path_factory, spark, persistent_rdds):
    """init, ``load DIR --mode overwrite`` under a test-owned job group,
    then the default (append) ``load`` of one more file; the tables after
    each load, the overwrite load's job count and the persistent RDDs it
    left behind."""
    root = tmp_path_factory.mktemp("gen")
    logs, batch1, extra = _write_corpus(root)
    db = "cli_gen"
    base = ["--db", str(root / "wh"), "--database", db]
    sc = spark.sparkContext
    group = "test_cli.generated_load"
    try:
        assert cli.main(base + ["init"]) == 0
        before = persistent_rdds()
        sc.setJobGroup(group, "one overwrite load of the generated corpus")
        try:
            assert cli.main(base + ["load", logs, "--mode", "overwrite"]) == 0
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        residue = persistent_rdds() - before
        want1 = TL.ingest(spark, batch1)
        after1 = _snapshot(spark, db, want1)
        max1 = spark.table(f"{db}.events").agg(F.max("event_id")).first()[0]
        assert cli.main(base + ["load", extra]) == 0
        after2 = _snapshot(spark, db, want1)
        # today's rule for an append after a non-empty table: offset max + 1
        want2 = TL.ingest(spark, [extra], id_offset=max1 + 1)
        return SimpleNamespace(
            jobs=jobs, residue=residue, after1=after1, after2=after2,
            want1={t: _rows(df, df.columns) for t, df in want1.items()},
            want2={t: _rows(df, df.columns) for t, df in want2.items()},
        )
    finally:
        spark.catalog.setCurrentDatabase("default")


def test_load_overwrite_tables_equal_ingest(generated_roundtrip):
    rt = generated_roundtrip
    # 9 XML/JSON events + 1 k=v line; README.md and the blank line skipped
    assert sum(rt.after1["events"].values()) == 10
    for t in CORE:
        assert rt.after1[t], t
        assert rt.after1[t] == rt.want1[t], t


def test_load_append_adds_one_batch(generated_roundtrip):
    """The append derives side rows for its own batch only: each table is
    the overwrite's rows plus one ingest() of the appended file."""
    rt = generated_roundtrip
    for t in CORE:
        assert rt.want2[t], t
        assert rt.after2[t] == rt.after1[t] + rt.want2[t], t


def test_load_event_ids_unique_across_loads(generated_roundtrip):
    ids = [row[0] for row in generated_roundtrip.after2["events"].elements()]
    assert len(ids) == len(set(ids)) == 12


def test_load_job_budget(generated_roundtrip):
    jobs = generated_roundtrip.jobs
    assert 0 < jobs <= LOAD_JOB_BUDGET, jobs


def test_load_leaves_no_persistent_rdd(generated_roundtrip):
    assert generated_roundtrip.residue == set()


def test_load_after_init_numbers_like_overwrite(spark, tmp_path):
    """The default (append) load into the empty tables init creates
    numbers events from each file's first line, as an overwrite load
    does, and fills init's extra columns (event_metrics.unit, ...) with
    NULL."""
    path = tmp_path / "one.jsonl"
    path.write_text(_jsonl([
        _trace_event(1, "Role", "10.0.0.1:4500", "MS", As="Master"),
        _trace_event(2, "StorageMetrics", "10.0.0.1:4500", "SS", QueueSize=5),
    ]))
    db = "cli_init_append"
    base = ["--db", str(tmp_path / "wh"), "--database", db]
    try:
        assert cli.main(base + ["init"]) == 0
        assert cli.main(base + ["load", str(path)]) == 0
        want = TL.ingest(spark, [str(path)])
        for t, df in want.items():
            assert _rows(spark.table(f"{db}.{t}"), df.columns) == _rows(df, df.columns), t
        ids = spark.table(f"{db}.events").select("event_id").collect()
        assert sorted(r[0] for r in ids) == [1, 2]
        metrics = spark.table(f"{db}.event_metrics")
        assert {"unit", "is_counter"} <= set(metrics.columns)
        assert metrics.filter(F.col("unit").isNotNull()).count() == 0
    finally:
        spark.catalog.setCurrentDatabase("default")


def _preprocessed(i, kind, machine, role, ts, **fields):
    return {
        "event_id": i, "ts": ts, "severity": 10 + 10 * (i % 3), "event": kind,
        "role": role, "machine_id": machine, "address": machine,
        "fields_json": json.dumps({k: str(v) for k, v in fields.items()}),
    }


def test_load_preprocessed_dir_writes_every_file_and_side_table(spark, tmp_path):
    """``load DIR --preprocessed`` after init reads every JSON-array file
    in the directory and derives the four side tables from what it read:
    each table is load_preprocessed_events(both files) plus DERIVED_TABLES
    applied to it."""
    pre = tmp_path / "pre"
    pre.mkdir()
    m1, m2 = "10.0.0.1:4500", "10.0.0.2:4500"
    (pre / "a.json").write_text(json.dumps([
        _preprocessed(1, "StorageMetrics", m1, "SS", "2025-11-23T03:00:01Z",
                      QueueSize=120, DurableLag="0.25"),
        _preprocessed(2, "Role", m1, "MS", "2025-11-23T03:00:02Z", As="Master"),
    ]))
    (pre / "b.json").write_text(json.dumps([
        _preprocessed(7, "ProxyMetrics", m2, "CP", "2025-11-23T03:00:07Z",
                      TxnCommitIn=55, Mutations=9),
        _preprocessed(8, "GRVLatencyMetrics", m2, "GP", "2025-11-23T03:00:08Z",
                      Mean="0.002", P95="0.01"),
    ]))
    db = "cli_preprocessed"
    base = ["--db", str(tmp_path / "wh"), "--database", db]
    try:
        assert cli.main(base + ["init"]) == 0
        assert cli.main(base + ["load", str(pre), "--preprocessed"]) == 0
        events = TL.load_preprocessed_events(
            spark, [str(pre / "a.json"), str(pre / "b.json")]
        )
        want = {"events": events, **{t: d(events) for t, d in TL.DERIVED_TABLES.items()}}
        for t, df in want.items():
            got = _rows(spark.table(f"{db}.{t}"), df.columns)
            assert got, t
            assert got == _rows(df, df.columns), t
    finally:
        spark.catalog.setCurrentDatabase("default")


def test_printed_counts_equal_table_counts(spark, tmp_path, capsys):
    """Each ``name: N rows`` line that load and rollup print is the
    table's row count after the command: after an overwrite load, after
    each of two appends of trace files, after a preprocessed append and
    after a rollup."""
    logs, batch1, extra = _write_corpus(tmp_path)
    pre = tmp_path / "pre.json"
    pre.write_text(json.dumps([
        _preprocessed(1001, "StorageMetrics", "10.0.0.9:4500", "SS",
                      "2025-11-23T04:00:01Z", QueueSize=9, Ops=2),
        _preprocessed(1002, "Role", "10.0.0.9:4500", "TL", "2025-11-23T04:00:02Z",
                      As="TLog"),
    ]))
    db = "cli_counts"
    base = ["--db", str(tmp_path / "wh"), "--database", db]
    steps = [
        ["load", logs, "--mode", "overwrite"],
        ["load", extra, "--mode", "append"],
        ["load", batch1[2], "--mode", "append"],
        ["load", str(pre), "--mode", "append", "--preprocessed"],
        ["rollup", "--window", "60"],
    ]
    try:
        seen = []
        for argv in steps:
            capsys.readouterr()
            assert cli.main(base + argv) == 0
            out = capsys.readouterr().out
            printed = dict(re.findall(r"^(\w+): (\d+) rows$", out, re.M))
            want = CORE if argv[0] == "load" else ("rollups_60s",)
            assert sorted(printed) == sorted(want), (argv, out)
            for name, n in printed.items():
                assert int(n) == spark.table(f"{db}.{name}").count(), (argv, name)
            seen.append(int(printed.get("events", 0)))
        # the appends grew events: 10, then +2, +3 and +2 rows
        assert seen[:4] == [10, 12, 15, 17], seen
    finally:
        spark.catalog.setCurrentDatabase("default")


def _tree(path):
    return sorted(
        (os.path.join(d, f), os.path.getmtime(os.path.join(d, f)))
        for d, _, files in os.walk(path)
        for f in files
    )


@pytest.mark.parametrize(
    "content, flags",
    [("notes", []), ("notes", ["--preprocessed"]), ("xml_named_dir", [])],
)
def test_load_without_trace_files_fails_closed(spark, tmp_path, capsys, content, flags):
    """A directory that holds no trace file (a directory named ``*.xml``
    is not one) is an error: exit code 2, a message on stderr and the
    warehouse left as it was."""
    bad = tmp_path / "bad"
    bad.mkdir()
    (bad / "notes.md").write_text("not a trace file\n")
    if content == "xml_named_dir":
        (bad / "old.xml").mkdir()
        (bad / "old.xml" / "x.xml").write_text(
            _xml([_trace_event(1, "Role", "10.0.0.1:4500", "MS")])
        )
    wh = tmp_path / "wh"
    base = ["--db", str(wh), "--database", "cli_bad_input"]
    try:
        assert cli.main(base + ["init"]) == 0
        capsys.readouterr()
        before = _tree(wh)
        assert cli.main(base + ["load", str(bad)] + flags) == 2
        assert "error: no .xml/.json/.jsonl/.log/.txt files" in capsys.readouterr().err
        assert _tree(wh) == before
    finally:
        spark.catalog.setCurrentDatabase("default")


@pytest.mark.parametrize("name", ["a-b", "x;DROP", "ünï", "1db", ""])
def test_database_must_be_an_identifier(monkeypatch, capsys, name):
    """``--database`` is spliced into SQL unquoted: anything but
    [A-Za-z_][A-Za-z0-9_]* exits 2 with a message from argparse, before
    any session starts."""
    def no_session(args):
        raise AssertionError("a session started")

    monkeypatch.setattr(cli, "_spark", no_session)
    with pytest.raises(SystemExit) as exit_:
        cli.main(["--database", name, "stats"])
    assert exit_.value.code == 2
    assert "is not a database name" in capsys.readouterr().err


def test_db_path_with_backslash_is_rejected(monkeypatch, capsys, tmp_path):
    """Spark creates a database under a ``--db`` path holding ``\\``, but
    every later command fails ``PATH_NOT_FOUND`` on its table directories:
    such a path exits 2 with a message from argparse, before any session
    starts."""
    def no_session(args):
        raise AssertionError("a session started")

    monkeypatch.setattr(cli, "_spark", no_session)
    with pytest.raises(SystemExit) as exit_:
        cli.main(["--db", str(tmp_path / "a\\b"), "stats"])
    assert exit_.value.code == 2
    assert "holds a backslash" in capsys.readouterr().err


def test_db_path_with_quote_is_escaped(spark, tmp_path, capsys):
    """A ``--db`` path holding ``'`` stays one SQL string literal in every LOCATION: init creates the database there,
    and a later command re-attaches a table directory found under it."""
    wh = tmp_path / "it's wh"
    db = "cli_quoted_path"
    base = ["--db", str(wh), "--database", db]
    try:
        assert cli.main(base + ["init"]) == 0
        loc = wh / f"{db}.db"
        assert loc.is_dir()
        spark.range(3).write.parquet(str(loc / "extra"))
        assert cli.main(base + ["query", "SELECT COUNT(*) AS n FROM extra"]) == 0
        assert "\n|3  |\n" in capsys.readouterr().out
        got = spark.sql(f"DESCRIBE TABLE EXTENDED {db}.extra").collect()
        where = {r[0]: r[1] for r in got}["Location"]
        assert where.endswith(f"{db}.db/extra") and "it's wh" in where
    finally:
        spark.catalog.setCurrentDatabase("default")


# ---------------------------------------------------------------------------
# stats and rollup: one scan each. ``stats`` collects one GROUPING SETS
# aggregate and renders its four sections as DataFrame.show did; ``rollup``
# sorts within each written file instead of range-partitioning.
# ---------------------------------------------------------------------------

# On a 4-core local session ``stats`` runs 2 Spark jobs (the aggregate's
# shuffle map stage and its collect); as a count and four show() calls it
# ran 10. ``rollup`` runs 3; with a global sort before the write it ran 5
# (a range sample and a shuffle more).
STATS_JOB_BUDGET = 2
ROLLUP_JOB_BUDGET = 3

# rows with no severity, no event type and no role, an event type with a
# control character and a role longer than show()'s 20-character cut
_ODD_ROWS = [
    {"Machine": "10.0.0.4:4500", "Time": "1.0"},
    {"Type": "Bad\tType", "Machine": "10.0.0.4:4500", "Roles": "StorageServerWithALongRoleName"},
    {"Type": "Bad\tType", "Machine": "10.0.0.4:4500", "Roles": "StorageServerWithALongRoleName"},
    {"Severity": "40", "Machine": "10.0.0.4:4500", "DateTime": "2025-11-23T05:00:00Z"},
]

# ``stats`` after loading _write_corpus's directory and appending
# _ODD_ROWS plus one k=v line, as printed by the count and four
# ``DataFrame.show`` calls it ran before (``{wh}`` is the warehouse path)
STATS_GOLDEN = """\
=== Database Statistics ===
warehouse: {wh}

Total events: 15

Time range:
+-------------------+-------------------+
|min_time           |max_time           |
+-------------------+-------------------+
|2025-11-23 03:00:01|2025-11-23 05:00:00|
+-------------------+-------------------+

Severity distribution:
+--------+-----+
|severity|count|
+--------+-----+
|    NULL|    4|
|      10|    2|
|      20|    4|
|      30|    2|
|      40|    3|
+--------+-----+

Top 5 event types:
+--------------+-----+
|event         |count|
+--------------+-----+
|NULL          |3    |
|Bad\\tType     |2    |
|Role          |2    |
|SlowTask      |2    |
|StorageMetrics|2    |
+--------------+-----+

Role distribution (top 10):
+--------------------+-----+
|                role|count|
+--------------------+-----+
|                  SS|    3|
|StorageServerWith...|    2|
|                  CP|    1|
|                  DD|    1|
|                  GP|    1|
|                  MS|    1|
|                  TL|    1|
+--------------------+-----+

"""


def _counted(spark, group, argv):
    """``cli.main(argv)`` under a test-owned job group: its stdout and
    the number of Spark jobs it ran."""
    import contextlib
    import io

    sc = spark.sparkContext
    buf = io.StringIO()
    sc.setJobGroup(group, " ".join(argv[-3:]))
    try:
        with contextlib.redirect_stdout(buf):
            assert cli.main(argv) == 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return buf.getvalue(), len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def stats_run(tmp_path_factory, spark):
    """``stats`` on the empty tables ``init`` creates, then ``load`` of
    the generated corpus and of _ODD_ROWS, ``stats`` and ``rollup``: each
    command's stdout and job count."""
    root = tmp_path_factory.mktemp("stats")
    logs, _, _ = _write_corpus(root)
    odd = root / "odd.jsonl"
    odd.write_text(_jsonl(_ODD_ROWS) + "Machine=10.0.0.5:4500 Foo=1\n")
    wh = str(root / "wh")
    base = ["--db", wh, "--database", "cli_stats"]
    try:
        assert cli.main(base + ["init"]) == 0
        empty = _counted(spark, "test_cli.stats_empty", base + ["stats"])
        assert cli.main(base + ["load", logs, "--mode", "overwrite"]) == 0
        assert cli.main(base + ["load", str(odd)]) == 0
        stats = _counted(spark, "test_cli.stats", base + ["stats"])
        rollup = _counted(spark, "test_cli.rollup", base + ["rollup", "--window", "60"])
        rows = spark.table("cli_stats.rollups_60s").select(
            "*", F.input_file_name().alias("_file")
        ).collect()
        return SimpleNamespace(wh=os.path.abspath(wh), empty=empty, stats=stats,
                               rollup=rollup, rollup_rows=rows)
    finally:
        spark.catalog.setCurrentDatabase("default")


def test_stats_output_equals_show_golden(stats_run):
    out, _ = stats_run.stats
    assert out == STATS_GOLDEN.replace("{wh}", stats_run.wh)


def test_stats_empty_events_prints_zero(stats_run):
    out, _ = stats_run.empty
    assert out == (
        f"=== Database Statistics ===\nwarehouse: {stats_run.wh}\n\nTotal events: 0\n"
    )


def test_stats_job_budget(stats_run):
    _, jobs = stats_run.stats
    assert 0 < jobs <= STATS_JOB_BUDGET, jobs


def test_rollup_job_budget(stats_run):
    out, jobs = stats_run.rollup
    assert out == f"rollups_60s: {len(stats_run.rollup_rows)} rows\n"
    assert 0 < jobs <= ROLLUP_JOB_BUDGET, jobs


def test_rollup_rows_sorted_within_each_file(stats_run):
    """Each file the rollup writes holds its rows in (window_start, role,
    metric_name) order. Only the order within a file is promised: an
    aggregate spread over several partitions writes several files."""
    by_file: dict[str, list] = {}
    for r in stats_run.rollup_rows:
        # Spark's ascending order: NULL first
        key = tuple((v is not None, v) for v in (r["window_start"], r["role"], r["metric_name"]))
        by_file.setdefault(r["_file"], []).append(key)
    assert by_file
    for f, keys in by_file.items():
        assert keys == sorted(keys), f


_SHOW_FRAMES = {
    # NULLs, strings over 20 characters, control characters, a column
    # narrower than 3 and more rows than show() prints
    "mixed": (
        "SELECT id AS i, IF(id % 3 = 0, NULL, repeat('x', CAST(id AS INT))) AS s, "
        "IF(id % 5 = 0, concat('a', char(9), 'b'), NULL) AS t, "
        "CAST(id * 1000000007 AS BIGINT) AS long_column_name "
        "FROM range(25)"
    ),
    "one_row": "SELECT CAST(NULL AS STRING) AS a",
    "exactly_20": "SELECT id, repeat('y', 21) AS s FROM range(20)",
    "empty": "SELECT id AS n FROM range(0)",
    # show() widths: a UTF-16 unit each, one more for a character in
    # Spark's full-width ranges (CJK, Hangul, full-width forms) but not
    # for other wide characters such as U+231A; a cut through a surrogate
    # pair prints "?"
    "wide": (
        "SELECT * FROM VALUES ('\u65e5\u672c\u8a9e\u30ed\u30fc\u30eb', 1), "
        "('\uff46\uff55\uff4c\uff4c', 2), ('\ud55c\uad6d\uc5b4', 3), "
        "('\u231a\u231a', 4), ('\U0001d400\U0001d401', 5), "
        "('e\u0301cole', 6), ('" + "x" * 16 + "\U0001f600yyyy', 7), "
        "('" + "\u6f22\u5b57" * 11 + "', 8) AS t(`r\u00f4le\u6f22`, n)"
    ),
}


@pytest.mark.parametrize("name", sorted(_SHOW_FRAMES))
@pytest.mark.parametrize("truncate", [True, False])
def test_show_string_equals_spark_show(spark, name, truncate):
    df = spark.sql(_SHOW_FRAMES[name])
    rows = [tuple(r) for r in df.collect()]
    assert cli._show_string(df.columns, rows, truncate) == df._show_string(20, truncate)
