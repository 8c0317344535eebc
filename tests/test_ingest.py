"""Ingestion tests: XML / JSONL / plaintext parse + derived tables,
checked against the reference's documented semantics (SURVEY §2.1, §3.1)
using the reference's own sample files where available."""

import json
import math
import os
from collections import Counter
from pathlib import Path
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from db_loganalyzer_spark.functions.safe_float import safe_float_py
from db_loganalyzer_spark.model.schemas import MANDATORY_FIELDS
from db_loganalyzer_spark.sources import trace_logs as TL

REF_JSON = "/root/reference/data/sample_log.json"
REF_XML_DIR = "/root/reference/data/log_example/simlogs"


@pytest.fixture(scope="module")
def fixture_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("logs")
    jsonl = d / "mini.json"
    rows = [
        {
            "Severity": "10",
            "Time": "1.5",
            "DateTime": "2025-09-05T21:14:45Z",
            "Type": "StorageMetrics",
            "Machine": "2.0.1.0:1",
            "Roles": "SS",
            "VersionLag": "1200",
            "BytesInput": "12 34 -1",
            "KvstoreBytesUsed": "inf",
        },
        {
            "Severity": "30",
            "DateTime": "2025-09-05T21:14:46Z",
            "Type": "GRVLatencyMetrics",
            "Machine": "2.0.1.0:2",
            "Roles": "GP",
            "Mean": "0.002",
            "P95": "0.01",
        },
        {
            "Severity": "40",
            "DateTime": "not-a-date",
            "Type": "TLogMetrics",
            "Machine": "2.0.1.0:3",
            "Version": "2000000",
            "DurableVersion": "1500000",
            "Address": "2.0.1.0:3",
        },
    ]
    lines = [json.dumps(r) for r in rows]
    lines.append("")  # blank line: skipped
    lines.append("Severity=20 Type=SlowTask Machine=1.2.3.4:1 Duration=2.5")
    lines.append("{ this is not json }")
    jsonl.write_text("\n".join(lines))

    xml = d / "mini.xml"
    xml.write_text(
        '<?xml version="1.0"?>\n<Trace>\n'
        '<Event Severity="10" Time="1.0" DateTime="2025-11-23T03:37:49Z" '
        'Type="Net2Starting" ID="0000" Machine="172.17.0.3:4500" />\n'
        '<Event Severity="20" Time="2.0" DateTime="2025-11-23T03:37:50Z" '
        'Type="Role" As="Master" Roles="MS" Machine="172.17.0.3:4500" PID="42" />\n'
        "</Trace>\n"
    )
    return str(d)


def test_jsonl_envelope_split(spark, fixture_dir):
    ev = TL.read_trace_events(spark, f"{fixture_dir}/mini.json")
    rows = {r.event_id: r for r in ev.collect()}
    # line 1: full envelope
    r1 = rows[1]
    assert r1.severity == 10 and r1.event == "StorageMetrics" and r1.role == "SS"
    assert r1.machine_id == "2.0.1.0:1"
    assert r1.ts is not None and r1.ts.second == 45
    # envelope keys stripped from fields; payload keys kept as strings
    assert "Severity" not in r1.fields and r1.fields["VersionLag"] == "1200"
    # line 3: bad DateTime -> null ts (reference parse_datetime fallback)
    assert rows[3].ts is None and rows[3].severity == 40
    # line 5 (blank line 4 skipped but numbering keeps file order):
    # plaintext fallback
    plain = [r for r in rows.values() if r.event == "SlowTask"]
    assert len(plain) == 1 and plain[0].severity == 20
    assert plain[0].fields["Duration"] == "2.5"
    # malformed JSON line parses via regex fallback (k=v tokens only)
    assert len(rows) == 5  # 3 json + plaintext + malformed(empty attrs)


def test_xml_parse(spark, fixture_dir):
    ev = TL.read_trace_events(spark, f"{fixture_dir}/mini.xml")
    rows = sorted(ev.collect(), key=lambda r: r.event_id)
    assert [r.event for r in rows] == ["Net2Starting", "Role"]
    assert rows[1].pid == 42 and rows[1].role == "MS"
    assert rows[1].fields["As"] == "Master"


def test_mixed_dispatch_and_union(spark, fixture_dir):
    ev = TL.read_trace_events(
        spark, [f"{fixture_dir}/mini.json", f"{fixture_dir}/mini.xml"]
    )
    assert ev.count() == 7


def test_event_metrics_melt(spark, fixture_dir):
    ev = TL.read_trace_events(spark, f"{fixture_dir}/mini.json")
    m = TL.derive_event_metrics(ev)
    got = {(r.event_id, r.metric_name): r.metric_value for r in m.collect()}
    assert got[(1, "VersionLag")] == 1200.0
    # bare float('inf') parses in the reference melt — kept
    assert got[(1, "KvstoreBytesUsed")] == float("inf")
    # 'BytesInput' = '12 34 -1' does NOT parse via bare float() -> absent
    assert (1, "BytesInput") not in got
    assert got[(2, "Mean")] == 0.002


def test_events_wide_precedence(spark, fixture_dir):
    ev = TL.read_trace_events(spark, f"{fixture_dir}/mini.json")
    w = {r.event_id: r for r in TL.derive_events_wide(ev).collect()}
    # Mean+P95 -> grv = Mean*1000 (safe_float truthiness quirk covered)
    assert w[2].grv_latency_ms == pytest.approx(2.0)
    # safe_float token-max with sentinel drop: "12 34 -1" -> 34
    assert w[1].queue_bytes == 34.0
    # Version/DurableVersion -> (v - dv)/1e5
    assert w[3].durability_lag_s == pytest.approx(5.0)


def _wide_py(fields):
    """events_wide's columns by the reference's if/elif chains
    (tools/storage.py:176-268) over ``safe_float_py``."""
    if fields is None:
        return (None,) * 7

    def sf(k):
        # safe_float's documented deviation: an underscore token such as
        # "1_0" is unparseable (Python's float() reads it as 10.0)
        v = fields.get(k)
        return safe_float_py(v.replace("_", "x") if v is not None else v)

    def first(keys):
        return next((sf(k) for k in keys if k in fields), None)

    grv = None
    if "Mean" in fields and "P95" in fields:
        m = sf("Mean")
        grv = m * 1000.0 if m else None  # truthiness: Mean 0 gives NULL
    elif "GRVLatency" in fields:
        grv = sf("GRVLatency")
    elif "grvLatency" in fields:
        grv = sf("grvLatency")
    dur = None
    if any(k in fields for k in TL._DUR_KEYS):
        dur = first(TL._DUR_KEYS)
    elif "DurableVersion" in fields and "Version" in fields:
        v, dv = sf("Version"), sf("DurableVersion")
        dur = None if v is None or dv is None else (v - dv) / 1e5
    return (
        grv, first(TL._TXN_KEYS), first(TL._QUEUE_KEYS), dur,
        sf("InFlightBytes"), sf("DiskQueue"), sf("Ops"),
    )


EDGE_MAPS = [
    {"Mean": "0", "P95": "0.5"},
    {"Mean": "inf -1 3", "P95": "1"},
    {"GRVLatency": "nan", "grvLatency": "7"},
    {"Version": "1e400", "DurableVersion": "100"},
    {"Committed": "n/a", "Mutations": "5", "TxnCommitIn": "6"},
    {"QueueSize": " -1  -1 ", "WorstTLogQueue": "9"},
    {"WorstTLogQueue": "Infinity", "Ops": "-inf", "DiskQueue": "1_0",
     "InFlightBytes": ""},
    {"DurabilityLag": "x", "DurableVersion": "1", "Version": "2"},
    {},
    None,
]


def _edge_wide(spark):
    ev = spark.createDataFrame(
        list(enumerate(EDGE_MAPS)), "event_id long, fields map<string,string>"
    )
    return TL.derive_events_wide(ev)


def test_events_wide_edge_values(spark):
    got = {r[0]: tuple(r[1:]) for r in _edge_wide(spark).collect()}
    for i, fields in enumerate(EDGE_MAPS):
        want = _wide_py(fields)
        for g, w in zip(got[i], want):
            if isinstance(w, float) and math.isnan(w):
                assert g is not None and math.isnan(g), (fields, got[i], want)
            else:
                assert g == w, (fields, got[i], want)


def test_events_wide_parses_each_value_once(spark):
    # the parsed map is one projection: CollapseProject has not inlined
    # a parse into every column
    plan = _edge_wide(spark)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("transform_values(") == 1, plan


def test_processes_and_roles(spark, fixture_dir):
    ev = TL.read_trace_events(spark, f"{fixture_dir}/mini.json")
    procs = {r.process_key: r for r in TL.derive_processes(ev).collect()}
    # address preferred, machine fallback
    assert "2.0.1.0:3" in procs and "2.0.1.0:1" in procs
    roles = {(r.process_key, r.role) for r in TL.derive_process_roles(ev).collect()}
    assert ("2.0.1.0:1", "SS") in roles and ("2.0.1.0:2", "GP") in roles


@pytest.mark.skipif(not os.path.exists(REF_JSON), reason="reference not present")
def test_reference_sample_jsonl(spark):
    ev = TL.read_trace_events(spark, REF_JSON)
    n = ev.count()
    assert n > 100
    # every row has an event type and the envelope split held
    assert ev.filter(F.col("event").isNull()).count() == 0
    assert ev.filter(F.map_contains_key("fields", "Severity")).count() == 0
    # severities are ints, ts parsed for all rows (sample uses DateTime)
    assert ev.filter(F.col("ts").isNull()).count() == 0


@pytest.mark.skipif(not os.path.isdir(REF_XML_DIR), reason="reference not present")
def test_reference_sample_xml(spark):
    import glob

    paths = glob.glob(f"{REF_XML_DIR}/*.xml")
    ev = TL.read_trace_events(spark, paths)
    assert ev.count() > 100
    assert ev.filter(F.col("machine_id").isNull()).count() == 0


def test_full_ingest_pipeline(spark, fixture_dir):
    tables = TL.ingest(spark, [f"{fixture_dir}/mini.json", f"{fixture_dir}/mini.xml"])
    assert set(tables) == {
        "events", "event_metrics", "events_wide", "processes", "process_roles",
    }
    for name, df in tables.items():
        assert df.count() >= 0, name


def test_code_coverage_extraction(spark, tmp_path):
    x = tmp_path / "cov.xml"
    x.write_text(
        '<?xml version="1.0"?>\n<Trace>\n'
        '<Event Severity="10" Time="12.5" Type="CodeCoverage" '
        'File="fdbserver/DiskQueue.actor.cpp" Line="895" '
        'Comment="More than one push between commits" Machine="m:1" />\n'
        # missing Comment/Severity/Line -> defaults / NULLs
        '<Event Time="bad-float" Type="CodeCoverage" File="a.cpp" />\n'
        # not a coverage event -> excluded
        '<Event Severity="20" Time="13.0" Type="Role" As="Master" />\n'
        "</Trace>\n"
    )
    rows = sorted(
        TL.extract_code_coverage(spark, str(x)).collect(),
        key=lambda r: (r.src_file or ""),
    )
    assert len(rows) == 2
    full = rows[1]
    assert full.comment == "More than one push between commits"
    assert full.time == 12.5 and full.severity == 10
    assert full.src_file == "fdbserver/DiskQueue.actor.cpp"
    assert full.src_line == "895"
    assert full.raw.startswith("<Event") and full.raw.endswith("/>")
    bare = rows[0]
    assert bare.comment == "unknown"  # reference default
    assert bare.time is None and bare.severity is None
    assert bare.src_line is None and bare.file == "cov.xml"


@pytest.mark.skipif(not os.path.isdir(REF_XML_DIR), reason="reference not present")
def test_code_coverage_reference_sample(spark):
    import glob

    df = TL.extract_code_coverage(spark, glob.glob(f"{REF_XML_DIR}/*.xml"))
    rows = df.collect()
    assert len(rows) == 5  # grep -c Type="CodeCoverage" over the samples
    assert all(r.severity == 10 for r in rows)
    assert all(r.src_file and r.src_line for r in rows)
    assert any("push between commits" in r.comment for r in rows)


# ---------------------------------------------------------------------------
# Counterparts of the reference-sample tests on an FDB-shaped corpus the
# tests write: three XML trace files (``<?xml``/``<Trace>`` preamble, one
# ``<Event/>`` per line, a few CodeCoverage tags) and one JSONL file.
# ---------------------------------------------------------------------------

_FDB_KINDS = ["Role", "StorageMetrics", "TLogMetrics", "SlowTask", "ProxyMetrics"]


def _fdb_attrs(i, machine, kind):
    a = {
        "Severity": str((10, 10, 20, 30, 40)[i % 5]),
        "Time": f"{1725570885 + i}.{i:06d}",
        "DateTime": f"2024-09-05T21:{i // 60 % 60:02d}:{i % 60:02d}Z",
        "Type": kind,
        "ID": f"{i:016x}",
        "Machine": machine,
        "LogGroup": "default",
        "Roles": ("CP,SS", "TL", "MS")[i % 3],
    }
    if kind == "CodeCoverage":
        a.update(File=f"fdbserver/Actor{i}.actor.cpp", Line=str(100 + i),
                 Comment=f"branch {i} taken")
    else:
        a.update(QueueSize=str(i * 7), Version=str(2_000_000 + i))
    return a


@pytest.fixture(scope="module")
def fdb_corpus(tmp_path_factory):
    d = tmp_path_factory.mktemp("fdb")
    xml, n_xml, n_cov, i = [], 0, 0, 0
    for f in range(3):
        machine = f"2.0.1.{f}:4500"
        lines = []
        for j in range(40):
            i += 1
            kind = "CodeCoverage" if f < 2 and j % 17 == 3 else _FDB_KINDS[i % 5]
            n_cov += kind == "CodeCoverage"
            attrs = " ".join(f'{k}="{v}"' for k, v in _fdb_attrs(i, machine, kind).items())
            lines.append(f"<Event {attrs} />")
        path = d / f"trace.2.0.1.{f}.4500.{1725570885 + f}.xml"
        path.write_text('<?xml version="1.0"?>\n<Trace>\n' + "\n".join(lines) + "\n</Trace>\n")
        xml.append(str(path))
        n_xml += len(lines)
    jsonl = d / "trace.2.0.1.9.4500.json"
    rows = [_fdb_attrs(i, "2.0.1.9:4500", _FDB_KINDS[i % 5]) for i in range(1, 121)]
    jsonl.write_text("".join(json.dumps(r) + "\n" for r in rows))
    return SimpleNamespace(xml=xml, n_xml=n_xml, n_cov=n_cov, jsonl=str(jsonl), n_jsonl=len(rows))


def _assert_envelope_split(ev):
    assert ev.filter(F.col("event").isNull()).count() == 0
    leaked = F.exists(F.map_keys("fields"), lambda k: k.isin(*MANDATORY_FIELDS))
    assert ev.filter(leaked).count() == 0
    assert ev.filter(F.col("ts").isNull() | F.col("machine_id").isNull()).count() == 0


def test_generated_fdb_jsonl(spark, fdb_corpus):
    ev = TL.read_trace_events(spark, fdb_corpus.jsonl)
    assert ev.count() == fdb_corpus.n_jsonl
    _assert_envelope_split(ev)


def test_generated_fdb_xml(spark, fdb_corpus):
    ev = TL.read_trace_events(spark, fdb_corpus.xml)
    assert ev.count() == fdb_corpus.n_xml
    _assert_envelope_split(ev)


def test_code_coverage_generated_fdb_xml(spark, fdb_corpus):
    rows = TL.extract_code_coverage(spark, fdb_corpus.xml).collect()
    assert len(rows) == fdb_corpus.n_cov > 1
    assert all(r.severity in (10, 20, 30, 40) for r in rows)
    assert all(r.src_file and r.src_line for r in rows)
    assert all(r.comment.startswith("branch ") for r in rows)


def test_multi_file_per_file_offsets(spark, fixture_dir, tmp_path):
    """S5: ids must be unique ACROSS files, each file offset past the
    previous files' line span in path order (reference multi-file
    uniqueness, cli_wrapper/main.py:296-301). Blank lines keep their
    numbers, so the offset is the LINE span, collision-proof."""
    a = tmp_path / "a.jsonl"
    b = tmp_path / "b.jsonl"
    a.write_text('{"Type":"E1","Severity":"10"}\n\n{"Type":"E2","Severity":"10"}\n')
    b.write_text('{"Type":"E3","Severity":"10"}\n{"Type":"E4","Severity":"10"}\n')
    ev = TL.read_trace_events(
        spark, [str(a), str(b)], per_file_offsets=True
    )
    got = {r["event_id"]: r["event"] for r in ev.collect()}
    # a: lines 1 and 3 (blank line 2 keeps its number); b: offset by a's
    # 3-line span -> 4 and 5
    assert got == {1: "E1", 3: "E2", 4: "E3", 5: "E4"}
    # without the flag the old single-offset behavior is preserved
    legacy = TL.read_trace_events(spark, [str(a), str(b)], id_offset=100)
    ids = [r["event_id"] for r in legacy.collect()]
    assert sorted(ids) == [101, 101, 102, 103]


def test_glob_and_directory_reads_offset_each_file(spark, tmp_path):
    """A glob or a directory gets the per-file offsets of the explicit
    list of the files it matches, in sorted order; a glob inside a
    longer list offsets its files at its place in the list."""
    d = tmp_path / "traces"
    d.mkdir()
    for name, events in (("a", "E1 E2"), ("b", "E3 E4")):
        (d / f"{name}.jsonl").write_text(
            "".join(f'{{"Type":"{e}","Severity":"10"}}\n' for e in events.split())
        )
    (tmp_path / "c.jsonl").write_text('{"Type":"E5","Severity":"10"}\n')

    def ids(paths):
        ev = TL.read_trace_events(spark, paths, per_file_offsets=True)
        return sorted((r["event_id"], r["event"]) for r in ev.collect())

    listed = ids([str(d / "a.jsonl"), str(d / "b.jsonl")])
    assert listed == [(1, "E1"), (2, "E2"), (3, "E3"), (4, "E4")]
    assert ids(str(d / "*.jsonl")) == listed
    assert ids(str(d)) == listed
    assert ids([str(tmp_path / "c.jsonl"), str(d / "*.jsonl")]) == [
        (1, "E5"), (2, "E1"), (3, "E2"), (4, "E3"), (5, "E4")
    ]


def _row_multiset(df) -> Counter:
    """Every row, all columns, with ts as its UTC text and fields sorted."""
    rows = df.withColumn("ts", F.col("ts").cast("string")).collect()
    return Counter(
        tuple(tuple(sorted(v.items())) if isinstance(v, dict) else v for v in r)
        for r in rows
    )


def test_mixed_glob_parses_each_file_as_its_format(spark, fixture_dir):
    """A glob that matches an XML and a JSONL file gives the same rows as
    naming the two files: each file is parsed by its own format, not by
    the glob's extension."""
    glob_ev = TL.read_trace_events(spark, f"{fixture_dir}/mini.*")
    listed = TL.read_trace_events(
        spark, [f"{fixture_dir}/mini.json", f"{fixture_dir}/mini.xml"]
    )
    assert _row_multiset(glob_ev) == _row_multiset(listed)
    assert glob_ev.filter(F.col("event") == "Net2Starting").count() == 1


def test_per_file_offsets_plan_is_one_jvm_scan(spark, fixture_dir):
    """Ingest of a mixed XML + JSONL file list with per-file offsets is
    one text scan with no Python-built frame, no broadcast and no Python
    UDF, and every row, all 12 columns, is the frozen expectation."""
    paths = [f"{fixture_dir}/mini.json", f"{fixture_dir}/mini.xml"]
    ev = TL.read_trace_events(spark, paths, per_file_offsets=True)
    plan = spark._jvm.PythonSQLUtils.explainString(
        ev._jdf.queryExecution(), "extended"
    )
    for node in ("LogicalRDD", "ExistingRDD", "BroadcastExchange",
                 "BatchEvalPython", "ArrowEvalPython"):
        assert node not in plan, node
    assert plan.count("FileScan text") == 1, plan
    js, xs = (Path(p).as_uri() for p in paths)
    want = [
        (1, "2025-09-05 21:14:45", 10, "StorageMetrics", None, "SS", None,
         "2.0.1.0:1", None, js, None,
         (("BytesInput", "12 34 -1"), ("KvstoreBytesUsed", "inf"),
          ("Roles", "SS"), ("VersionLag", "1200"))),
        (2, "2025-09-05 21:14:46", 30, "GRVLatencyMetrics", None, "GP", None,
         "2.0.1.0:2", None, js, None,
         (("Mean", "0.002"), ("P95", "0.01"), ("Roles", "GP"))),
        (3, None, 40, "TLogMetrics", None, None, None, "2.0.1.0:3",
         "2.0.1.0:3", js, None,
         (("DurableVersion", "1500000"), ("Version", "2000000"))),
        (5, None, 20, "SlowTask", None, None, None, "1.2.3.4:1", None, js,
         None, (("Duration", "2.5"),)),
        (6, None, None, None, None, None, None, None, None, js, None, ()),
        # mini.json spans 6 lines, so mini.xml's lines 3 and 4 are 9 and 10
        (9, "2025-11-23 03:37:49", 10, "Net2Starting", None, None, None,
         "172.17.0.3:4500", None, xs, None, (("ID", "0000"),)),
        (10, "2025-11-23 03:37:50", 20, "Role", None, "MS", 42,
         "172.17.0.3:4500", None, xs, None, (("As", "Master"), ("Roles", "MS"))),
    ]
    assert len(ev.columns) == 12
    assert _row_multiset(ev) == Counter(want)


# ---------------------------------------------------------------------------
# S11: delimited-text (CSV) source with the quarantine lane
# ---------------------------------------------------------------------------


def test_csv_roundtrip_preserves_values(spark, tmp_path):
    from db_loganalyzer_spark.sources import delimited as DL

    src = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00.123456", 7, "click", 1.5,
             '{"k":"v, with comma","q":"has \\"quotes\\""}'),
            (2, "2024-01-02 10:20:30.000001", 8, "error", -0.25, None),
        ],
        "event_id long, ts_s string, user_id long, event_type string, "
        "value double, props string",
    ).select(
        "event_id", F.to_timestamp("ts_s").alias("ts"), "user_id",
        "event_type", "value", "props",
    )
    path = str(tmp_path / "csv_rt")
    DL.write_events_csv(src, path)
    back = DL.read_events_csv(spark, path)
    rows = {r.event_id: r for r in back.collect()}
    assert rows[1].ts.microsecond == 123456          # micros survive
    assert rows[1].value == 1.5 and rows[2].value == -0.25
    assert rows[1].props == '{"k":"v, with comma","q":"has \\"quotes\\""}'
    assert rows[2].props is None
    assert all(r._corrupt_record is None for r in rows.values())


def test_csv_corrupt_lane_requires_referenced_column(spark, tmp_path):
    """The pruning contract from read_events_csv's docstring: the parser
    only attempts referenced columns, so quarantine fires only when the
    query touches the column the malformed token lands in."""
    from db_loganalyzer_spark.sources import delimited as DL

    src = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 7, "click", 1.0, "p")],
        "event_id long, ts_s string, user_id long, event_type string, "
        "value double, props string",
    ).select(
        "event_id", F.to_timestamp("ts_s").alias("ts"), "user_id",
        "event_type", "value", "props",
    )
    path = str(tmp_path / "csv_bad")
    DL.write_events_csv(src, path)
    (tmp_path / "csv_bad" / "zz_bad.csv").write_text("not-a-long\n")
    back = DL.read_events_csv(spark, path)
    # referencing event_id forces its parse -> the bad line is quarantined
    split = back.select(
        F.col("event_id"), F.col("_corrupt_record").isNotNull().alias("bad")
    ).collect()
    assert {(r.event_id, r.bad) for r in split} == {(None, True), (1, False)}


def test_schema_evolution_merge_read(spark, tmp_path):
    """Two writer generations in one landing tree: mergeSchema surfaces
    the missing column as NULL for old-generation rows and keeps every
    row; a plain read of either generation alone would miss the other's
    column or rows."""
    old = spark.createDataFrame([(1, "click")], "event_id long, event_type string")
    new = spark.createDataFrame(
        [(2, "error", "p")], "event_id long, event_type string, props string"
    )
    old.write.parquet(str(tmp_path / "gen=v1"))
    new.write.parquet(str(tmp_path / "gen=v2"))
    merged = (
        spark.read.option("mergeSchema", "true")
        .option("recursiveFileLookup", "true")
        .parquet(str(tmp_path))
    )
    rows = {r.event_id: (r.event_type, r.props) for r in merged.collect()}
    assert rows == {1: ("click", None), 2: ("error", "p")}


def test_xml_multiline_tolerant(spark, tmp_path_factory):
    """S1 tolerant form: a PRETTY-PRINTED trace (attributes across
    lines, the formatting iterparse accepts) parses with ZERO silent
    drops — every <Event opener either yields a parsed event or shows
    up in the quarantine lane; the single-line parser would drop them
    all. Quote-aware closing: '/>' inside an attribute value does not
    end the tag."""
    d = tmp_path_factory.mktemp("pretty")
    xml = d / "pretty.xml"
    xml.write_text(
        '<?xml version="1.0"?>\n<Trace>\n'
        "<Event\n"
        '    Severity="10"\n'
        '    Time="1.0"\n'
        '    DateTime="2025-11-23T03:37:49Z"\n'
        '    Type="Net2Starting"\n'
        '    Machine="172.17.0.3:4500" />\n'
        '<Event Severity="20" Time="2.0"\n'
        '       DateTime="2025-11-23T03:37:50Z" Type="Role"\n'
        '       Comment="weird attr value with /> inside"\n'
        '       As="Master" Roles="MS" Machine="172.17.0.3:4500"\n'
        '       PID="42" />\n'
        '<Event Severity="30" Type="Truncated'  # no closing '/>'
        "\n</Trace>\n"
    )
    spans = TL.read_trace_event_spans(spark, str(xml))
    rows = sorted(spans.collect(), key=lambda r: r.line_no)
    # zero silent drops: 3 openers -> 3 visible records
    assert len(rows) == 3
    assert [r.quarantined for r in rows] == [False, False, True]

    parsed = TL.parse_xml_tolerant(spark, str(xml))
    ev = TL.events_from_attrs(parsed).collect()
    ev = sorted(ev, key=lambda r: r.event_id)
    assert [r.event for r in ev] == ["Net2Starting", "Role"]
    assert ev[0].severity == 10 and ev[1].pid == 42
    # the quoted '/>' did not close the tag early: attrs after it parsed
    assert ev[1].fields["As"] == "Master"
    assert ev[1].fields["Comment"] == "weird attr value with /> inside"

    # the line-level parser sees only each opener LINE: attr bags come
    # out empty or truncated (no Type anywhere here -> every event name
    # null) — the silent corruption the tolerant reader exists for
    strict = TL.events_from_attrs(
        TL.parse_xml(TL.read_trace_lines(spark, str(xml)))
    )
    assert strict.filter(F.col("event").isNotNull()).count() == 0

    # single-line traces parse identically through the tolerant path
    single = d / "single.xml"
    single.write_text(
        '<?xml version="1.0"?>\n<Trace>\n'
        '<Event Severity="10" Time="1.0" Type="A" Machine="m:1" />\n'
        '<Event Severity="20" Time="2.0" Type="B" Machine="m:2" />\n'
        "</Trace>\n"
    )
    tol = TL.events_from_attrs(
        TL.parse_xml_tolerant(spark, str(single))
    ).collect()
    assert sorted(r.event for r in tol) == ["A", "B"]


def test_read_trace_events_tolerant_dispatch(spark, tmp_path_factory):
    """The unified S3 entry routes .xml through the tolerant parser on
    request: a pretty-printed trace that the default path degrades on
    parses fully with tolerant_xml=True, same envelope split."""
    d = tmp_path_factory.mktemp("tol_dispatch")
    xml = d / "pretty2.xml"
    xml.write_text(
        "<Trace>\n"
        '<Event Severity="10"\n  Time="1.0" Type="A" Machine="m:1" />\n'
        '<Event Severity="20"\n  Time="2.0" Type="B" Machine="m:2" />\n'
        "</Trace>\n"
    )
    ev = TL.read_trace_events(spark, str(xml), tolerant_xml=True)
    rows = sorted(ev.collect(), key=lambda r: r.event_id)
    assert [r.event for r in rows] == ["A", "B"]
    assert rows[0].severity == 10 and rows[1].machine_id == "m:2"
    # default path on the same file: no complete tag per line
    degraded = TL.read_trace_events(spark, str(xml))
    assert degraded.filter(F.col("event").isNotNull()).count() == 0
