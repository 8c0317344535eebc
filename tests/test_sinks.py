"""Egress + DDL surfaces (S4/S8/S10) smoke tests."""

import json
import os

import pytest

from db_loganalyzer_spark.sources.sinks import (
    CORE_TABLES,
    bootstrap_tables,
    export_result,
)
from db_loganalyzer_spark.sources.trace_logs import load_preprocessed_events


@pytest.fixture()
def small_df(spark):
    return spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5)], "id long, name string, val double"
    )


@pytest.mark.parametrize("fmt", ["csv", "json", "parquet"])
def test_export_roundtrip(spark, small_df, tmp_path, fmt):
    out = str(tmp_path / f"out_{fmt}")
    export_result(small_df, out, format=fmt, single_file=True)
    if fmt == "csv":
        back = spark.read.option("header", "true").csv(out)
    elif fmt == "json":
        back = spark.read.json(out)
    else:
        back = spark.read.parquet(out)
    assert back.count() == 2
    assert set(back.columns) == {"id", "name", "val"}
    # single_file writes exactly one data part
    parts = [f for f in os.listdir(out) if f.startswith("part-")]
    assert len(parts) == 1


def test_export_rejects_unknown_format(small_df, tmp_path):
    with pytest.raises(ValueError):
        export_result(small_df, str(tmp_path / "x"), format="xml")


def test_bootstrap_creates_core_tables(spark):
    bootstrap_tables(spark, database="t_boot")
    tables = {r.tableName for r in spark.sql("SHOW TABLES IN t_boot").collect()}
    assert set(CORE_TABLES) <= tables
    # empty but correctly typed
    ev = spark.table("t_boot.events")
    assert ev.count() == 0
    assert dict(ev.dtypes)["fields"] == "map<string,string>"
    # idempotent re-run (drop + recreate)
    bootstrap_tables(spark, database="t_boot")
    assert spark.table("t_boot.events").count() == 0


def test_load_preprocessed_events_string_and_null_fields(spark, tmp_path):
    rows = [
        {
            "event_id": 1,
            "ts": "2024-02-03T04:05:06Z",
            "severity": 20,
            "event": "Role",
            "fields_json": json.dumps({"A": "1"}),
            "raw_json": json.dumps({"Type": "Role"}),
        },
        {
            "event_id": 2,
            "ts": "2024-02-03T04:05:07",
            "severity": None,
            "event": None,
            "fields_json": None,
            "raw_json": None,
        },
    ]
    p = tmp_path / "pre.json"
    p.write_text(json.dumps(rows))
    ev = load_preprocessed_events(spark, str(p))
    got = {r["event_id"]: r for r in ev.collect()}
    assert got[1]["fields"] == {"A": "1"}
    assert got[1]["ts"].isoformat() == "2024-02-03T04:05:06"
    assert got[2]["fields"] == {}
    assert got[2]["severity"] is None
    assert set(ev.columns) >= {
        "event_id", "ts", "severity", "event", "role", "fields",
    }
