"""CLI parity surface (reference cli_wrapper/main.py:39-226 argparse
dispatch, :711-718 entry): the reference's user-facing commands as a thin
argparse front over this engine's operators. The "database" is a Spark
warehouse directory of managed parquet tables — the catalog plays the
role the reference's single-file DB plays.

Commands
  init                      S10 — create database + five core tables
  load LOG_PATH             S1-S7 — parse trace logs once into events, then
                            derive the four side tables from the stored
                            events; appends by default
  query SQL_OR_FILE         S9  — ad-hoc SQL against the catalog
  stats                     A17 — totals, time range, severity/role/event
                            distributions (cli_wrapper/main.py:434-512),
                            from one GROUPING SETS aggregate collected once
                            and rendered as DataFrame.show would
  export SQL --out PATH     S8  — query result → csv/json/parquet
  rollup --window N         A5  — CTAS rollups_{N}s (tools/storage.py:328);
                            rows sorted by (window_start, role,
                            metric_name) within each written file
  chunk                     M8/A15 — marker chunks + summaries
"""

from __future__ import annotations

import argparse
import os
import re
import sys

from pyspark.sql import SparkSession


_IDENTIFIER = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _identifier(name: str) -> str:
    """argparse type of ``--database``: a Spark unquoted identifier, ASCII
    only (``str.isidentifier`` also accepts non-ASCII letters), checked
    before any session starts."""
    if not _IDENTIFIER.fullmatch(name):
        raise argparse.ArgumentTypeError(
            f"{name!r} is not a database name ([A-Za-z_][A-Za-z0-9_]*)"
        )
    return name


def _warehouse_dir(path: str) -> str:
    """argparse type of ``--db``, checked before any session starts: Spark
    cannot re-attach tables under a path with a backslash (PATH_NOT_FOUND)."""
    if "\\" in path:
        raise argparse.ArgumentTypeError(
            f"{path!r} holds a backslash, which table locations do not resolve"
        )
    return path


def _spark(args) -> SparkSession:
    from .session import get_spark

    warehouse = os.path.abspath(args.db)
    return get_spark(
        "loganalyzer-cli",
        extra_conf={"spark.sql.warehouse.dir": warehouse},
    )


def _db_location(args) -> str:
    # explicit per-database location: the warehouse conf is a static conf
    # and silently keeps its old value if a session already exists
    return os.path.join(os.path.abspath(args.db), f"{args.database}.db")


def _use(spark: SparkSession, args) -> None:
    from .sources.sinks import sql_string

    spark.sql(
        f"CREATE DATABASE IF NOT EXISTS {args.database} "
        f"LOCATION {sql_string(_db_location(args))}"
    )
    spark.sql(f"USE {args.database}")
    # The default catalog is session-scoped: tables written by a previous
    # CLI process exist on disk but not in this process's catalog.
    # Re-attach each table directory found under the database location.
    loc = _db_location(args)
    if os.path.isdir(loc):
        for name in sorted(os.listdir(loc)):
            tdir = os.path.join(loc, name)
            if not os.path.isdir(tdir) or not name.isidentifier():
                continue
            if not spark.catalog.tableExists(f"{args.database}.{name}"):
                spark.sql(
                    f"CREATE TABLE {args.database}.{name} "
                    f"USING parquet LOCATION {sql_string(tdir)}"
                )


def handle_init(args) -> int:
    from .sources.sinks import bootstrap_tables

    spark = _spark(args)
    bootstrap_tables(
        spark,
        args.database,
        drop_existing=args.drop,
        location=_db_location(args),
    )
    print(f"initialized database '{args.database}' in {args.db}")
    return 0


def _save(
    spark: SparkSession, df, name: str, mode: str, existing: int | None = None
) -> int:
    """saveAsTable, returning the table's row count after the write: the
    rows written, counted by an Observation inside the write job, plus,
    for an append into an existing table, the rows it held before
    (``existing``, else one count before the write). An append fills the
    columns the existing table has and ``df`` lacks with NULL (``init``
    creates the reference DDL, e.g. event_metrics.unit, which ingest does
    not produce)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    if mode == "append" and spark.catalog.tableExists(name):
        table = spark.table(name)
        for f in table.schema:
            if f.name not in df.columns:
                df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
        if existing is None:
            existing = table.count()
    else:
        existing = 0
    written = Observation()
    df.observe(written, F.count(F.lit(1)).alias("rows")).write.mode(mode).saveAsTable(name)
    return existing + written.get["rows"]


def handle_load(args) -> int:
    from pyspark.sql import functions as F

    from .sources.trace_logs import (
        DERIVED_TABLES,
        load_preprocessed_events,
        read_trace_events,
    )

    path = args.log_file
    if os.path.isdir(path):  # S5 multi-file load
        paths = sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith((".xml", ".json", ".jsonl", ".log", ".txt"))
            and os.path.isfile(os.path.join(path, f))
        )
        if not paths:
            print(
                f"error: no .xml/.json/.jsonl/.log/.txt files in {path}",
                file=sys.stderr,
            )
            return 2
    else:
        paths = [path]
    spark = _spark(args)
    _use(spark, args)
    prev_max = prev_rows = None
    if args.preprocessed:
        events = load_preprocessed_events(spark, paths)
    else:
        # appending into a populated DB: continue event_ids past the
        # current max so ids stay unique across CLI invocations (the
        # reference tracks the DB's max id the same way,
        # cli_wrapper/main.py:296-301); the same aggregate counts the
        # rows the append adds to
        if args.mode == "append" and spark.catalog.tableExists("events"):
            prev_max, prev_rows = spark.table("events").agg(
                F.max("event_id"), F.count(F.lit(1))
            ).first()
        id_offset = 0 if prev_max is None else prev_max + 1
        events = read_trace_events(spark, paths, id_offset, per_file_offsets=True)
    print(f"events: {_save(spark, events, 'events', args.mode, prev_rows)} rows")
    # the side tables derive from the rows this load added. A trace load
    # takes them from the stored table, not from the lazy parse, which
    # every write would otherwise re-run. Preprocessed files carry their
    # own ids, which need not exceed the table's max, so their rows are
    # the frame the load read.
    stored = spark.table("events")
    if args.preprocessed:
        added = events
    elif prev_max is None:
        added = stored
    else:
        added = stored.filter(F.col("event_id") > prev_max)
    for name, derive in DERIVED_TABLES.items():
        print(f"{name}: {_save(spark, derive(added), name, args.mode)} rows")
    return 0


def _read_sql(sql_or_file: str) -> str:
    if os.path.exists(sql_or_file):
        with open(sql_or_file) as f:
            return f.read()
    return sql_or_file


def handle_query(args) -> int:
    spark = _spark(args)
    _use(spark, args)
    spark.sql(_read_sql(args.sql)).show(args.limit, truncate=False)
    return 0


_SHOW_ESCAPES = str.maketrans({
    "\n": "\\n", "\r": "\\r", "\t": "\\t", "\f": "\\f", "\b": "\\b",
    "\v": "\\v", "\a": "\\a",
})


# Spark's show() measures a cell as its UTF-16 length plus one for each
# character in these full-width ranges (Utils.stringHalfWidth)
_FULL_WIDTH = re.compile(
    "[\u1100-\u115F\u2E80-\uA4CF\uAC00-\uD7A3\uF900-\uFAFF"
    "\uFE10-\uFE19\uFE30-\uFE6F\uFF00-\uFF60\uFFE0-\uFFE6]"
)


def _utf16_len(s: str) -> int:
    return len(s) + sum(ord(c) > 0xFFFF for c in s)


def _show_string(columns, rows, truncate: bool = True) -> str:
    """The table text ``DataFrame.show(20, truncate)`` prints for ``rows``
    (a list of tuples) under ``columns``, less the newline ``print``
    adds: NULL cells, control characters escaped, columns at least 3
    wide and, when rows are left out, a footer line with no newline of
    its own. With ``truncate``, cells over 20 UTF-16 units are cut to 17
    plus ``...`` (a surrogate pair split by the cut prints as ``?``) and
    right-aligned, else left-aligned. Widths count as Spark's do."""

    def cell(v) -> str:
        s = "NULL" if v is None else str(v).translate(_SHOW_ESCAPES)
        if not truncate or _utf16_len(s) <= 20:
            return s
        out, units = [], 0
        for c in s:
            units += 1 + (ord(c) > 0xFFFF)
            if units > 17:
                if units == 18 and ord(c) > 0xFFFF:
                    out.append("?")
                break
            out.append(c)
        return "".join(out) + "..."

    def width(s: str) -> int:
        return _utf16_len(s) + len(_FULL_WIDTH.findall(s))

    table = [[c.translate(_SHOW_ESCAPES) for c in columns]]
    table += [[cell(v) for v in r] for r in rows[:20]]
    widths = [max(3, *(width(r[i]) for r in table)) for i in range(len(columns))]

    def pad(c: str, w: int) -> str:
        fill = " " * (w - width(c))
        return fill + c if truncate else c + fill

    sep = "+" + "+".join("-" * w for w in widths) + "+\n"
    lines = ["|" + "|".join(pad(c, w) for c, w in zip(r, widths)) + "|\n" for r in table]
    out = sep + lines[0] + sep + "".join(lines[1:]) + sep
    if len(rows) > 20:
        out += "only showing top 20 rows"
    return out


# The four stats aggregates as one scan: grouping_id tells the sets apart
# (3 = severity, 5 = event, 6 = role, 7 = the grand total), so a NULL key
# is never mistaken for a rolled-up one. An empty table has no total row.
_STATS_SQL = """
SELECT grouping_id(severity, event, role) AS gid, severity, event, role,
       COUNT(*) AS n,
       CAST(MIN(ts) AS STRING) AS min_time, CAST(MAX(ts) AS STRING) AS max_time
FROM events
GROUP BY GROUPING SETS ((), (severity), (event), (role))
"""


def handle_stats(args) -> int:
    spark = _spark(args)
    _use(spark, args)
    sets: dict[int, list] = {3: [], 5: [], 6: [], 7: []}
    for r in spark.sql(_STATS_SQL).collect():
        sets[r["gid"]].append(r)
    total = sets[7][0] if sets[7] else None
    print("=== Database Statistics ===")
    print(f"warehouse: {os.path.abspath(args.db)}")
    print(f"\nTotal events: {total['n'] if total else 0}")
    if not total:
        return 0

    def counts(key, rows, truncate=True):
        print(_show_string([key, "count"], [(r[key], r["n"]) for r in rows], truncate))

    # sections in Spark's ORDER BY order: ascending keys with NULL first,
    # counts descending
    print("\nTime range:")
    span = [(total["min_time"], total["max_time"])]
    print(_show_string(["min_time", "max_time"], span, truncate=False))
    print("Severity distribution:")
    counts("severity", sorted(
        sets[3], key=lambda r: (r["severity"] is not None, r["severity"] or 0)
    ))
    print("Top 5 event types:")
    counts("event", sorted(
        sets[5], key=lambda r: (-r["n"], r["event"] is not None, r["event"] or "")
    )[:5], truncate=False)
    print("Role distribution (top 10):")
    counts("role", sorted(
        (r for r in sets[6] if r["role"] is not None), key=lambda r: (-r["n"], r["role"])
    )[:10])
    return 0


def handle_export(args) -> int:
    from .sources.sinks import export_result

    spark = _spark(args)
    _use(spark, args)
    df = spark.sql(_read_sql(args.sql))
    export_result(
        df, args.out, format=args.format, single_file=args.single_file
    )
    print(f"exported to {args.out} ({args.format})")
    return 0


def handle_rollup(args) -> int:
    from .operators.aggregates import windowed_rollup

    spark = _spark(args)
    _use(spark, args)
    joined = spark.table("events").join(
        spark.table("event_metrics"), "event_id"
    )
    keys = ["role", "metric_name"]
    # sorted within each written file, not range-partitioned: a global
    # sort costs a sample job and a shuffle. An aggregate that lands in
    # one partition, as a small corpus does, is stored in the global order.
    roll = windowed_rollup(
        joined,
        args.window,
        keys,
        "metric_value",
        exact_percentile=not args.approx,
        ordered=False,
        deterministic_avg=False,  # reference parity: plain double AVG
    ).sortWithinPartitions("window_start", *keys)
    name = f"rollups_{args.window}s"
    print(f"{name}: {_save(spark, roll, name, 'overwrite')} rows")
    return 0


def handle_chunk(args) -> int:
    from pyspark.sql import functions as F

    from .operators.windows import marker_chunks

    spark = _spark(args)
    _use(spark, args)
    chunks = marker_chunks(
        spark.table("events"), F.col("event") == args.marker
    )
    summary = (
        chunks.groupBy("chunk_id")
        .count()
        .orderBy("chunk_id")
    )
    summary.show(args.limit)
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="db-loganalyzer-spark",
        description="Spark-native log analysis tool (reference CLI parity)",
    )
    p.add_argument(
        "--db",
        default="spark-warehouse",
        type=_warehouse_dir,
        help="warehouse directory (default: spark-warehouse)",
    )
    p.add_argument("--database", default="loganalyzer", type=_identifier)
    sub = p.add_subparsers(title="subcommands", dest="command")

    sp = sub.add_parser("init", help="initialize database + core tables")
    sp.add_argument("--no-drop", dest="drop", action="store_false")
    sp.set_defaults(func=handle_init)

    sp = sub.add_parser("load", help="load log file(s); directories glob")
    sp.add_argument("log_file")
    sp.add_argument("--mode", default="append", choices=["append", "overwrite"])
    sp.add_argument(
        "--preprocessed",
        action="store_true",
        help="S4 JSON-array input instead of raw trace logs",
    )
    sp.set_defaults(func=handle_load)

    sp = sub.add_parser("query", help="ad-hoc SQL (string or file)")
    sp.add_argument("sql")
    sp.add_argument("--limit", type=int, default=20)
    sp.set_defaults(func=handle_query)

    sp = sub.add_parser("stats", help="database statistics report")
    sp.set_defaults(func=handle_stats)

    sp = sub.add_parser("export", help="query result -> csv/json/parquet")
    sp.add_argument("sql")
    sp.add_argument("--out", required=True)
    sp.add_argument(
        "--format", default="parquet", choices=["csv", "json", "parquet"]
    )
    sp.add_argument("--single-file", action="store_true")
    sp.set_defaults(func=handle_export)

    sp = sub.add_parser("rollup", help="materialize rollups_{N}s")
    sp.add_argument("--window", type=int, default=60)
    sp.add_argument(
        "--approx",
        action="store_true",
        help="p95 via mergeable sketch (the 100TB path) instead of exact",
    )
    sp.set_defaults(func=handle_rollup)

    sp = sub.add_parser("chunk", help="marker-based chunk summaries")
    sp.add_argument("--marker", default="MasterRecoveryState")
    sp.add_argument("--limit", type=int, default=20)
    sp.set_defaults(func=handle_chunk)

    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    if not getattr(args, "func", None):
        build_parser().print_help()
        return 2
    return args.func(args)


if __name__ == "__main__":
    sys.exit(main())
