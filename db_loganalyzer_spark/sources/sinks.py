"""Egress + DDL surfaces (SURVEY §2.1 S6/S8/S10).

Reference:
- S8 export sink: cli_wrapper/main.py:514-546 (query result -> csv/json/
  parquet file);
- S10 DDL bootstrap: tools/storage.py:29-65 (drop + recreate the five
  core tables).

Spark-first: every writer is ``df.write`` (distributed, partitioned
files); ``single_file=True`` coalesces to one part for the reference's
one-output-file CLI contract — an explicit opt-in because it funnels the
write through one task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

EXPORT_FORMATS = ("csv", "json", "parquet")


def sql_string(s: str) -> str:
    """``s`` as a Spark SQL string literal (backslash and quote escaped),
    so a path holding ``'`` cannot end the literal early."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

# Core tables of the reference schema (data/schema.sql:1-68), in
# creation order; dropped in reverse like storage.py:46-52.
CORE_TABLES = ("processes", "events", "event_metrics", "events_wide", "process_roles")

_DDL = {
    "processes": """
        process_key STRING, first_seen_ts TIMESTAMP, last_seen_ts TIMESTAMP,
        address STRING, pid INT, class STRING, version STRING, command_line STRING
    """,
    "events": """
        event_id BIGINT, ts TIMESTAMP, severity INT, event STRING,
        process STRING, role STRING, pid INT, machine_id STRING,
        address STRING, trace_file STRING, src_line INT,
        fields MAP<STRING, STRING>
    """,
    "event_metrics": """
        event_id BIGINT, event STRING, metric_name STRING,
        metric_value DOUBLE, unit STRING, is_counter BOOLEAN
    """,
    "events_wide": """
        event_id BIGINT, grv_latency_ms DOUBLE, txn_volume DOUBLE,
        queue_bytes DOUBLE, durability_lag_s DOUBLE, data_move_in_flight DOUBLE,
        disk_queue_bytes DOUBLE, kv_ops DOUBLE
    """,
    "process_roles": """
        process_key STRING, role STRING, start_ts TIMESTAMP, end_ts TIMESTAMP
    """,
}


def export_result(
    df: DataFrame,
    path: str,
    format: str = "parquet",
    mode: str = "overwrite",
    single_file: bool = False,
) -> None:
    """S8 — write a query result to csv/json/parquet. CSV carries a
    header like the reference's ``to_csv``; json is JSONL (the
    distributed-native form of ``to_json(orient='records')``)."""
    if format not in EXPORT_FORMATS:
        raise ValueError(f"format must be one of {EXPORT_FORMATS}, got {format!r}")
    out = df.coalesce(1) if single_file else df
    w = out.write.mode(mode)
    if format == "csv":
        w = w.option("header", "true")
    w.format(format).save(path)


def bootstrap_tables(
    spark: SparkSession,
    database: str = "loganalyzer",
    drop_existing: bool = True,
    location: str | None = None,
) -> None:
    """S10 — create the database + empty managed tables for the five-core
    schema. Parquet-backed managed tables; Catalyst sees real schemas, so
    downstream inserts/queries typecheck exactly as the reference DDL
    enforces. ``location`` pins the database directory explicitly (the
    warehouse conf is static and cannot change on a live session)."""
    if drop_existing:
        spark.sql(f"DROP DATABASE IF EXISTS {database} CASCADE")
    loc = f" LOCATION {sql_string(location)}" if location else ""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}{loc}")
    if drop_existing:
        for t in reversed(CORE_TABLES):
            spark.sql(f"DROP TABLE IF EXISTS {database}.{t}")
    for t in CORE_TABLES:
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {database}.{t} ({_DDL[t]}) USING parquet"
        )
