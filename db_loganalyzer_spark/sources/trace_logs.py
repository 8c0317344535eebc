"""Trace-log ingestion (SURVEY §2.1 S1-S7): XML / JSONL / plaintext
FDB-style TraceEvent files -> normalized ``events`` DataFrame + the four
derived tables (event_metrics, events_wide, processes, process_roles).

Reference behavior (tools/parser.py, tools/storage.py) re-expressed as one
declarative pipeline: read all files in one text scan, parse each line by
its file's format, split the envelope from the open-ended payload (kept
as MAP<STRING,STRING>), and derive the side tables
(:data:`DERIVED_TABLES`) as DataFrames off ``events`` — the reference's
five synchronous per-row inserts (tools/storage.py:72-98) disappear
entirely. The plan is JVM-only: per-file id offsets enter as a literal
map, not as a driver-built frame, so no Python worker starts and no
side job runs to join them.

The derived frames are lazy: each one re-evaluates the whole parse
(text scan + per-file line window) when it is materialized on its own.
A caller that writes or collects several of them should materialize
``events`` first and derive from the stored table, as ``cli load`` does.

Scale notes: text/json/xml sources split by file blocks, so ingestion
parallelism is (files x blocks); all derivations are narrow (no shuffle)
except processes/process_roles (one small groupBy/distinct each).
"""

from __future__ import annotations

from urllib.parse import unquote, urlparse

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.safe_float import safe_float
from ..model.schemas import MANDATORY_FIELDS

# timestamp format the reference accepts — exactly this, else NULL
# (tools/parser.py:22-28)
DATETIME_FMT = "yyyy-MM-dd'T'HH:mm:ss'Z'"

# plaintext fallback KV pattern (tools/parser.py:17-20)
_KV_RE = r"(\w+)=([^\s]+)"


def py_float(c: Column) -> Column:
    """Python ``float(str)`` as a column: try_cast plus the inf/nan
    spellings Python accepts but SQL casts don't. Used where the reference
    calls bare ``float(v)`` (tools/storage.py:130-134)."""
    low = F.lower(F.trim(c))
    return (
        F.when(low.isin("inf", "+inf", "infinity", "+infinity"), F.lit(float("inf")))
        .when(low.isin("-inf", "-infinity"), F.lit(float("-inf")))
        .when(low.isin("nan", "+nan", "-nan"), F.lit(float("nan")))
        .otherwise(F.trim(c).try_cast("double"))
    )


def _attrs_to_map(obj: Column) -> Column:
    """All-attributes map from regex KV pairs over a raw line."""
    pairs = F.regexp_extract_all(obj, F.lit(r'(\w+)="([^"]*)"'), 0)
    keys = F.transform(pairs, lambda p: F.regexp_extract(p, r'(\w+)="', 1))
    vals = F.transform(pairs, lambda p: F.regexp_extract(p, r'="([^"]*)"', 1))
    return F.map_from_arrays(keys, vals)


def read_trace_lines(spark: SparkSession, paths) -> DataFrame:
    """Raw lines + provenance. ``line_no`` is the 1-based line index per
    file (the reference's per-file event_id, tools/parser.py:47) —
    computed from the text source's split/row order, which follows file
    order for uncompressed text.

    The window's partition key leads with "not an ``.xml`` file". That
    is a function of the file, so ``line_no`` is the same as with the
    file alone, but within an output partition the lines of XML files
    come first. Float aggregates downstream (z-scores, baseline standard
    deviations) sum in row order, so this fixed order keeps their last
    digits, and the investigation prompts built from them, the same as
    when each format was read by its own scan and the two unioned."""
    df = (
        spark.read.text(paths)
        .withColumn("trace_file", F.input_file_name())
        .withColumn("__mid", F.monotonically_increasing_id())
    )
    is_xml = F.col("trace_file").endswith(".xml")
    w = Window.partitionBy(~is_xml, "trace_file").orderBy("__mid")
    return df.withColumn("line_no", F.row_number().over(w)).drop("__mid")


class _LineParser:
    """One line-per-event trace format: which trimmed lines hold an event
    (``keep``) and the attribute map of such a line (``attrs``). Called on
    a lines frame it parses every line in this format; the one-scan
    dispatch in :func:`read_trace_events` picks each line's rule by the
    file the line came from."""

    def __init__(self, keep, attrs):
        self.keep, self.attrs = keep, attrs

    def __call__(self, lines: DataFrame, line_col: str = "value") -> DataFrame:
        line = F.trim(F.col(line_col))
        return lines.filter(self.keep(line)).withColumn("attrs", self.attrs(line))


def _json_or_kv(line: Column) -> Column:
    kv_pairs = F.regexp_extract_all(line, F.lit(_KV_RE), 0)
    as_kv = F.map_from_arrays(
        F.transform(kv_pairs, lambda p: F.regexp_extract(p, _KV_RE, 1)),
        F.transform(kv_pairs, lambda p: F.regexp_extract(p, _KV_RE, 2)),
    )
    return F.coalesce(F.from_json(line, "map<string,string>"), as_kv)


# S2 — one JSON object per line; on JSON failure fall back to the
# plaintext ``k=v`` regex parse (tools/parser.py:42-56). Blank lines are
# dropped (but keep their line numbers, matching enumerate-then-skip).
parse_jsonl = _LineParser(keep=lambda line: F.length(line) > 0, attrs=_json_or_kv)

# S1 — ``<Event .../>`` elements. CONTRACT: one complete element per LINE
# (what FDB emits). A pretty-printed / multi-line trace silently degrades
# here — each opener line yields an empty or truncated attr bag — so route
# such files through :func:`parse_xml_tolerant`, whose span assembly
# tolerates arbitrary intra-tag formatting and exposes a quarantine lane
# instead of dropping. Attribute extraction via regexp over the raw text —
# a narrow, codegen'd map build; ``spark.read.format("xml")`` would force
# a schema-inference pass and per-file union schemas for what is an
# open-ended attribute bag.
parse_xml = _LineParser(keep=lambda line: line.startswith("<Event"), attrs=_attrs_to_map)


def read_trace_event_spans(spark: SparkSession, paths) -> DataFrame:
    """S1 (multi-line tolerant form) — ``<Event ... />`` elements that
    may span LINES (pretty-printed / iterparse-tolerant traces; the
    reference's ElementTree.iterparse accepts arbitrary intra-tag
    formatting, tools/parser.py:30-40, where the line-level
    :func:`parse_xml` would silently drop every event).

    Scale-first assembly, no driver pass: the text source splits
    records on the ``<Event`` OPENER itself (custom ``lineSep``), so
    one record = one event's attribute text plus trailing inter-event
    bytes, still a plain splittable text scan. Each record is then cut
    at its closing ``/>`` by a QUOTE-AWARE regex (a ``/>`` inside a
    quoted attribute value does not close the tag), and the attribute
    bag is extracted exactly like the single-line path.

    Zero silent drops BY CONSTRUCTION: every opener yields exactly one
    record, and every record either parses (``quarantined`` false) or
    stays visible with ``quarantined`` true (incomplete tag — e.g.
    truncated final event). The pre-opener preamble (``<?xml``,
    ``<Trace>``) is record 1 and is excluded; ``line_no`` numbers
    events per file in document order (the per-file id the reference
    derives from enumerate, tools/parser.py:47).

    KNOWN LIMITS (documented, not silent):

    - ``line_no`` document order assumes ONE SPLIT PER FILE. It is
      derived from ``monotonically_increasing_id`` ordered within
      ``trace_file``, which tracks byte order only when a file's
      records all come from a single input split; Spark bin-packs
      splits sorted by size descending, so a file larger than
      ``spark.sql.files.maxPartitionBytes`` (or a multi-file glob that
      splits one file) can interleave split order and misnumber
      ``line_no``. Event CONTENT is unaffected — only the synthetic
      per-file ordinal. For files beyond one split, order by the
      event's own ``Time`` attribute instead of ``line_no``.
    - ``lineSep="<Event"`` splits on the literal opener, including one
      embedded inside a quoted attribute value. Such a cut leaves the
      host record with unbalanced quotes, so its span regex fails and
      it lands in the ``quarantined`` lane (visible, not dropped);
      the phantom tail record is likewise visible. Traces that embed
      raw ``<Event`` text inside attributes need the quarantine lane
      reviewed rather than trusted parse output."""
    df = (
        spark.read.option("lineSep", "<Event").text(paths)
        .withColumn("trace_file", F.input_file_name())
        .withColumn("__mid", F.monotonically_increasing_id())
    )
    w = Window.partitionBy("trace_file").orderBy("__mid")
    df = (
        df.withColumn("rec_no", F.row_number().over(w))
        .drop("__mid")
        .filter(F.col("rec_no") > 1)  # record 1 = pre-opener preamble
        .withColumn("line_no", F.col("rec_no") - 1)
        .drop("rec_no")
    )
    # shortest prefix whose quotes are balanced, ending at '/>': quoted
    # values are consumed atomically so an embedded '/>' cannot close
    # the tag; (?s) lets the span cross the newlines this reader exists
    # to tolerate
    span = F.regexp_extract(
        F.col("value"), r'(?s)^((?:[^"/]|"[^"]*"|/(?!>))*?)/>', 1
    )
    return (
        df.withColumn("__span", span)
        .withColumn("quarantined", (F.col("__span") == "") & (F.length(F.trim("value")) > 0))
        .withColumn(
            "attrs",
            F.when(F.col("__span") != "", _attrs_to_map(F.col("__span"))),
        )
        .drop("__span")
    )


def parse_xml_tolerant(spark: SparkSession, paths) -> DataFrame:
    """The parsed lane of :func:`read_trace_event_spans` in the same
    shape :func:`parse_xml` produces (value, trace_file, line_no,
    attrs) — drop-in for pretty-printed traces. Inspect the
    ``quarantined`` lane of the span reader for what didn't parse."""
    spans = read_trace_event_spans(spark, paths)
    return spans.filter(~F.col("quarantined") & F.col("attrs").isNotNull()).select(
        "value", "trace_file", "line_no", "attrs"
    )


def extract_code_coverage(spark: SparkSession, paths) -> DataFrame:
    """M1 — CodeCoverage-specific regex pull from raw trace XML
    (reference log_analysis/extract_code_coverages.py:7-66, duplicated in
    processing_script.py): find each self-closing ``<Event ...
    Type="CodeCoverage" ... />`` tag and extract its attributes with
    independent order-agnostic regexes. Matches the reference record
    shape: ``comment`` defaults to 'unknown', ``time`` is a tolerant
    float (unparseable → NULL), ``severity`` is int(float(v)) or NULL,
    ``src_file``/``src_line`` stay raw strings (NULL when absent —
    relational form of the reference's conditionally-present JSON keys),
    and ``raw`` carries the whole tag. Pure regexp_extract columns —
    whole-stage codegen, scan-bound at any scale."""
    tag = r'(?i)<Event[^>]*\bType="CodeCoverage"[^>]*/>'

    def attr(name: str) -> Column:
        return F.nullif(
            F.regexp_extract(F.col("value"), rf'\b{name}="([^"]+)"', 1),
            F.lit(""),
        )

    lines = read_trace_lines(spark, paths)
    return (
        lines.filter(F.col("value").rlike(tag))
        .select(
            F.element_at(F.split(F.col("trace_file"), "/"), -1).alias("file"),
            F.coalesce(attr("Comment"), F.lit("unknown")).alias("comment"),
            attr("Time").try_cast("double").alias("time"),
            attr("Severity").try_cast("double").try_cast("int").alias(
                "severity"
            ),
            attr("File").alias("src_file"),
            attr("Line").alias("src_line"),
            F.regexp_extract(F.col("value"), r'(<Event[^>]*/>)', 1).alias(
                "raw"
            ),
        )
    )


def events_from_attrs(parsed: DataFrame, id_offset: int = 0) -> DataFrame:
    """Envelope/payload split (data_transfer_object/event_dto.py:10-31,
    tools/parser.py:73-89): MANDATORY_FIELDS keys become typed columns,
    everything else stays in the ``fields`` map.

    event_id = per-file line number + offset, matching the reference's
    multi-file uniqueness scheme (cli_wrapper/main.py:296-301).
    """
    a = F.col("attrs")
    get = lambda k: F.element_at(a, k)  # noqa: E731
    fields = F.map_filter(a, lambda k, _: ~k.isin(*MANDATORY_FIELDS))
    return parsed.select(
        (F.col("line_no") + F.lit(id_offset)).cast("long").alias("event_id"),
        F.try_to_timestamp(get("DateTime"), F.lit(DATETIME_FMT)).alias("ts"),
        get("Severity").try_cast("int").alias("severity"),
        get("Type").alias("event"),
        get("Processes").alias("process"),
        get("Roles").alias("role"),
        get("PID").try_cast("int").alias("pid"),
        F.coalesce(get("Machine"), get("MachineId")).alias("machine_id"),
        get("Address").alias("address"),
        F.coalesce(get("File"), F.col("trace_file")).alias("trace_file"),
        get("Line").try_cast("int").alias("src_line"),
        fields.alias("fields"),
    )


def _uri_key(scheme, authority, path) -> tuple:
    """A file URI as (scheme, authority, decoded path): ``file:/x`` and
    ``file:///x`` compare equal."""
    return scheme or "", authority or "", path


def _named_files(spark: SparkSession, paths: list[str]) -> dict[tuple, int]:
    """Every file the requested paths name, keyed by :func:`_uri_key`, to
    its place: files in the order of ``paths``, the files of one glob or
    directory (recursively) in sorted order, a file named twice at its
    first place. Asked of each path's Hadoop file system (glob, then list
    a directory); runs no job."""
    conf = spark._jsc.hadoopConfiguration()
    places: dict[tuple, int] = {}
    for p in paths:
        jpath = spark._jvm.org.apache.hadoop.fs.Path(p)
        fs = jpath.getFileSystem(conf)
        named = []
        for st in fs.globStatus(jpath) or []:
            if st.isDirectory():
                it = fs.listFiles(st.getPath(), True)
                while it.hasNext():
                    named.append(it.next().getPath())
            else:
                named.append(st.getPath())
        for uri in sorted(
            _uri_key(u.getScheme(), u.getAuthority(), u.getPath())
            for u in (fs.makeQualified(f).toUri() for f in named)
        ):
            places.setdefault(uri, len(places))
    return places


def read_trace_events(
    spark: SparkSession,
    paths,
    id_offset: int = 0,
    per_file_offsets: bool = False,
    tolerant_xml: bool = False,
) -> DataFrame:
    """S3 — unified entry (tools/parser.py:58-71). Accepts a str glob or a
    list of paths, read in one text scan with one per-file line window;
    each line is parsed by the rule of the file it came from: a file
    whose name ends in ``.xml`` by :data:`parse_xml`, any other by
    :data:`parse_jsonl`, so a glob or directory that mixes formats parses
    each file as its own format. ``tolerant_xml`` routes paths ending in
    ``.xml`` through :func:`parse_xml_tolerant` instead (multi-line /
    pretty-printed tags parse instead of silently degrading; ``line_no``
    then numbers EVENTS rather than physical lines, so per_file_offsets
    keeps uniqueness but not line identity) and unions its output with
    the line parse of the other paths.

    ``per_file_offsets`` reproduces the reference's multi-file uniqueness
    scheme (cli_wrapper/main.py:296-301: each file's ids start past the
    previous files' total) without its sequential per-file loop: one tiny
    line-count aggregate (one row per file read) builds cumulative offsets
    driver-side, and they enter the plan as a literal ``file -> offset``
    map looked up on each row's file. Files are offset in the order of
    ``paths``; the files one glob or directory matches, in sorted URI
    order (see :func:`_named_files`). Input naming one file needs no
    offsets and runs no count. Deliberate
    deviation: we offset by per-file LINE counts rather than parsed-event
    counts — line-numbered ids can exceed the event count (blank/non-event
    lines keep their numbers), so count-based offsets could still collide;
    line-count offsets cannot."""
    if isinstance(paths, str):
        paths = [paths]
    if not paths:
        raise ValueError("no input paths")
    if tolerant_xml:
        xml = [p for p in paths if p.endswith(".xml")]
        other = [p for p in paths if not p.endswith(".xml")]
        parts = []
        if xml:
            parts.append(parse_xml_tolerant(spark, xml))
        if other:
            parts.append(parse_jsonl(read_trace_lines(spark, other)))
        parsed = parts[0]
        for p in parts[1:]:
            parsed = parsed.unionByName(p)
    else:
        is_xml = F.col("trace_file").endswith(".xml")
        by_file = _LineParser(
            keep=lambda ln: F.when(is_xml, parse_xml.keep(ln)).otherwise(parse_jsonl.keep(ln)),
            attrs=lambda ln: F.when(is_xml, parse_xml.attrs(ln)).otherwise(parse_jsonl.attrs(ln)),
        )
        parsed = by_file(read_trace_lines(spark, paths))
    if not per_file_offsets:
        return events_from_attrs(parsed, id_offset)
    places = _named_files(spark, paths)
    if len(places) == 1:
        return events_from_attrs(parsed, id_offset)
    counts = {
        r["trace_file"]: r["count"]
        for r in spark.read.text(paths)
        .groupBy(F.input_file_name().alias("trace_file"))
        .count()
        .collect()
    }

    def place(uri: str) -> int:
        # input_file_name() yields a percent-encoded URI (file:///...)
        u = urlparse(uri)
        key = _uri_key(u.scheme, u.netloc, unquote(u.path))
        if key not in places:
            raise ValueError(f"no requested path names loaded file {uri!r}")
        return places[key]

    acc, offsets = id_offset, {}
    for uri in sorted(counts, key=place):
        offsets[uri] = acc
        acc += counts[uri]
    offset = F.element_at(
        F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv]),
        F.col("trace_file"),
    )
    return events_from_attrs(
        parsed.withColumn("line_no", F.col("line_no") + offset.cast("long"))
    )


def load_preprocessed_events(spark: SparkSession, paths) -> DataFrame:
    """S4 — preprocessed JSON-array load (reference tools/parser.py:91-126
    ``load_event_models``): each file (``paths`` is one path or a list)
    one JSON array of EventModel dicts, ISO
    timestamps with an optional trailing Z, ``raw_json``/``fields_json``
    possibly double-encoded as strings.

    ``spark.read.json(multiLine=True)`` handles the array form natively;
    the nested JSON strings decode with ``from_json`` into the fields map
    (kept as MAP<STRING,STRING> like the ingest path)."""
    raw = spark.read.option("multiLine", "true").json(paths)
    cols = set(raw.columns)

    def m(name):
        if name not in cols:
            return F.lit(None).cast("string")
        c = F.col(name)
        # already-a-struct (Spark inferred the object) vs string-encoded
        if dict(raw.dtypes)[name] == "string":
            return c
        return F.to_json(c)

    fields = F.from_json(m("fields_json"), "map<string,string>")
    return raw.select(
        F.col("event_id").cast("long").alias("event_id"),
        F.try_to_timestamp(
            F.regexp_replace(F.col("ts").cast("string"), "Z$", "")
        ).alias("ts"),
        F.col("severity").cast("int").alias("severity"),
        F.col("event").cast("string").alias("event"),
        (F.col("process").cast("string") if "process" in cols else F.lit(None).cast("string")).alias("process"),
        (F.col("role").cast("string") if "role" in cols else F.lit(None).cast("string")).alias("role"),
        (F.col("pid").cast("int") if "pid" in cols else F.lit(None).cast("int")).alias("pid"),
        (F.col("machine_id").cast("string") if "machine_id" in cols else F.lit(None).cast("string")).alias("machine_id"),
        (F.col("address").cast("string") if "address" in cols else F.lit(None).cast("string")).alias("address"),
        (F.col("trace_file").cast("string") if "trace_file" in cols else F.lit(None).cast("string")).alias("trace_file"),
        (F.col("src_line").cast("int") if "src_line" in cols else F.lit(None).cast("int")).alias("src_line"),
        F.coalesce(fields, F.create_map().cast("map<string,string>")).alias("fields"),
    )


# ---------------------------------------------------------------------------
# derived tables (S7) — each an independent DataFrame off `events`
# ---------------------------------------------------------------------------


def derive_event_metrics(events: DataFrame) -> DataFrame:
    """EAV melt: every float-parseable payload entry becomes a metric row
    (tools/storage.py:128-139 — bare float(), so inf/nan spellings DO
    parse and are kept)."""
    kv = events.select(
        "event_id", "event", F.explode(F.map_entries("fields")).alias("e")
    ).select(
        "event_id",
        "event",
        F.col("e.key").alias("metric_name"),
        py_float(F.col("e.value")).alias("metric_value"),
    )
    return kv.filter(F.col("metric_value").isNotNull())


# events_wide precedence chains (tools/storage.py:176-268)
_QUEUE_KEYS = ["BytesInput", "QueueSize", "WorstStorageServerQueue", "WorstTLogQueue"]
_TXN_KEYS = ["Committed", "Mutations", "TxnCommitIn", "TxnRequestIn"]
_DUR_KEYS = ["DurableLag", "DurabilityLag", "WorstStorageServerDurabilityLag"]
# every payload key events_wide reads, for presence or for its value
_WIDE_KEYS = [
    "Mean", "P95", "GRVLatency", "grvLatency", *_DUR_KEYS, "DurableVersion",
    "Version", *_TXN_KEYS, *_QUEUE_KEYS, "InFlightBytes", "DiskQueue", "Ops",
]


def _first_present(parsed: Column, keys: list[str]) -> Column:
    """The parsed value of the FIRST PRESENT key (presence, not null-ness,
    drives the precedence — a present-but-unparseable key stops the
    chain, exactly like the reference's if/elif)."""
    expr = F.lit(None).cast("double")
    for k in reversed(keys):
        expr = F.when(
            F.map_contains_key(parsed, k), F.element_at(parsed, k)
        ).otherwise(expr)
    return expr


def derive_events_wide(events: DataFrame) -> DataFrame:
    """Curated wide pivot (tools/storage.py:141-268). Pure column
    derivation — no join, no shuffle (the reference's J4 FK join is
    subsumed by deriving in the same select).

    Each payload value it reads is parsed once: one ``safe_float`` inside
    ``transform_values`` over the ``fields`` entries whose key it reads,
    in a projection of its own. The columns then read that parsed map;
    a key is present in it exactly when it is present in ``fields``.
    ``CollapseProject`` keeps that projection apart (the map is not a
    cheap expression and the columns read it many times), so the plan
    parses each value once, not once per use.

    Quirk preserved: grv_latency_ms is NULL when Mean parses to 0.0 (the
    reference guards with truthiness, not None-ness).
    """
    parsed = events.select(
        "event_id",
        F.transform_values(
            F.map_filter("fields", lambda k, _: k.isin(_WIDE_KEYS)),
            lambda _, v: safe_float(v),
        ).alias("parsed"),
    )
    p = F.col("parsed")
    get = lambda k: F.element_at(p, k)  # noqa: E731
    has = lambda k: F.map_contains_key(p, k)  # noqa: E731

    grv = (
        F.when(
            has("Mean") & has("P95"),
            F.when(get("Mean").isNotNull() & (get("Mean") != 0), get("Mean") * 1000.0),
        )
        .when(has("GRVLatency"), get("GRVLatency"))
        .when(has("grvLatency"), get("grvLatency"))
    )
    durability = (
        F.when(has("DurableLag"), get("DurableLag"))
        .when(has("DurabilityLag"), get("DurabilityLag"))
        .when(
            has("WorstStorageServerDurabilityLag"),
            get("WorstStorageServerDurabilityLag"),
        )
        .when(
            has("DurableVersion") & has("Version"),
            (get("Version") - get("DurableVersion")) / 1e5,
        )
    )

    return parsed.select(
        "event_id",
        grv.alias("grv_latency_ms"),
        _first_present(p, _TXN_KEYS).alias("txn_volume"),
        _first_present(p, _QUEUE_KEYS).alias("queue_bytes"),
        durability.alias("durability_lag_s"),
        get("InFlightBytes").alias("data_move_in_flight"),
        get("DiskQueue").alias("disk_queue_bytes"),
        get("Ops").alias("kv_ops"),
    )


def _process_key() -> Column:
    """address, else machine_id. The reference falls back to
    fields_json["Machine"] (tools/storage.py:283-285) — which can never
    hit, because Machine is an envelope field stripped from fields_json
    (event_dto.py:10-14); machine_id is that value."""
    return F.coalesce(F.col("address"), F.col("machine_id"))


def derive_processes(events: DataFrame) -> DataFrame:
    """processes table: first/last seen per process key
    (tools/storage.py:271-303 upsert -> min/max aggregate)."""
    return (
        events.withColumn("process_key", _process_key())
        .filter(F.col("process_key").isNotNull())
        .groupBy("process_key")
        .agg(
            F.min("ts").alias("first_seen_ts"),
            F.max("ts").alias("last_seen_ts"),
            F.first("process_key").alias("address"),
        )
    )


def derive_process_roles(events: DataFrame) -> DataFrame:
    """process_roles: one row per distinct (process_key, role, ts) with a
    non-null role — the reference's PK is (process_key, role, start_ts)
    with ON CONFLICT DO NOTHING (tools/storage.py:305-325)."""
    return (
        events.withColumn("process_key", _process_key())
        .filter(F.col("process_key").isNotNull() & F.col("role").isNotNull())
        .select("process_key", "role", F.col("ts").alias("start_ts"))
        .distinct()
    )


# the four S7 side tables, each derived from an ``events`` frame
DERIVED_TABLES = {
    "event_metrics": derive_event_metrics,
    "events_wide": derive_events_wide,
    "processes": derive_processes,
    "process_roles": derive_process_roles,
}


def ingest(
    spark: SparkSession,
    paths,
    id_offset: int = 0,
) -> dict[str, DataFrame]:
    """S7 as one declarative pipeline: events + all derived tables.
    Multi-file loads get per-file id offsets (reference parity: ids stay
    unique across files, cli_wrapper/main.py:296-301).

    With offsets, the one line-count collect runs here; every frame is
    otherwise lazy over the trace text, so each derived frame re-runs the
    parse (one text scan) when it is materialized on its own. To write or
    collect several, materialize ``events`` first and apply
    :data:`DERIVED_TABLES` to the stored table (see ``cli load``)."""
    events = read_trace_events(spark, paths, id_offset, per_file_offsets=True)
    return {
        "events": events,
        **{name: derive(events) for name, derive in DERIVED_TABLES.items()},
    }
