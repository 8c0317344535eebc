"""Local replica of the driver's correctness gate: run each queries()
entry on Spark and its oracle_sql() on DuckDB at the given sf, compare
row count + column names + order-insensitive exact values.

Usage: python scripts/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    try:
        import numpy as np

        if isinstance(v, np.integer):
            return int(v)
        if isinstance(v, np.floating):
            f = float(v)
            return "NaN" if math.isnan(f) else f
        if isinstance(v, np.ndarray):
            return tuple(norm_cell(x) for x in v)
    except ImportError:
        pass
    if isinstance(v, (list, tuple)):
        return tuple(norm_cell(x) for x in v)
    import datetime
    import decimal

    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    return v


def rows_multiset(df):
    cols = sorted(df.columns)
    rows = [tuple(norm_cell(r[c]) for c in cols) for _, r in df.iterrows()]
    return cols, sorted(rows, key=repr)


def driver_hazards(sdf, ddf):
    """Flag outputs the driver's canonicalizer rejects even when values
    match: list/array cells (its sort_values crashes: unhashable type)
    and int-vs-float dtype skew (its value hash is dtype-sensitive)."""
    import numpy as np

    probs = []
    for c in sdf.columns:
        head = sdf[c].dropna().head(5)
        if any(isinstance(v, (list, tuple, np.ndarray, dict)) for v in head):
            probs.append(f"non-scalar col '{c}'")
    for c in sdf.columns:
        if c not in ddf.columns:
            continue
        sk, dk = sdf[c].dtype.kind, ddf[c].dtype.kind
        if {sk, dk} == {"i", "f"} or {sk, dk} == {"u", "f"}:
            probs.append(f"dtype skew '{c}': spark={sdf[c].dtype} duck={ddf[c].dtype}")
    return probs


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    # entry names are positional; tolerate the bench_registry.py-style
    # "--only a,b,c" spelling too, and FAIL LOUDLY on unknown names — a
    # typo'd subset run that matches nothing would otherwise print a
    # vacuous "0 failures"
    only: set[str] = set()
    for a in sys.argv[2:]:
        if a != "--only":
            only.update(s for s in a.split(",") if s)

    import __spark_entry__ as mod
    from db_loganalyzer_spark.session import get_spark

    unknown = only - set(mod.queries())
    if unknown:
        sys.exit(f"unknown entry name(s): {sorted(unknown)}")

    # no console progress bar: its \r-redrawn "[Stage ...]" text would
    # land at the front of the "ok"/"FAIL" lines this script prints
    spark = get_spark(
        "oracle-check",
        shuffle_partitions=8,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs, oracles = mod.queries(), mod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {e}")
            continue
        t_spark = time.time() - t0
        if name not in oracles:
            print(f"ok(rows-only) {name}: {len(sdf)} rows  [{t_spark:.2f}s]")
            continue
        try:
            ddf = con.execute(oracles[name]).df()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {e}")
            continue
        scols, srows = rows_multiset(sdf)
        dcols, drows = rows_multiset(ddf)
        if scols != dcols:
            failures.append(name)
            print(f"FAIL  {name}: columns spark={scols} duck={dcols}")
            continue
        if len(srows) != len(drows):
            failures.append(name)
            print(f"FAIL  {name}: rowcount spark={len(srows)} duck={len(drows)}")
            continue
        bad = [(a, b) for a, b in zip(srows, drows) if a != b]
        if bad:
            failures.append(name)
            print(f"FAIL  {name}: {len(bad)}/{len(srows)} row diffs; first: \n  spark={bad[0][0]}\n  duck ={bad[0][1]}")
            continue
        hazards = driver_hazards(sdf, ddf)
        if hazards:
            failures.append(name)
            print(f"FAIL  {name}: values match but driver-hazard: {'; '.join(hazards)}")
            continue
        print(f"ok    {name}: {len(srows)} rows hash-match  [{t_spark:.2f}s]")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
