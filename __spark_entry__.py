"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query (TPC-H-style pricing summary, the A5/A1
aggregate family's stress shape) on sf0.001.

``queries()`` — one entry per implemented operator from SURVEY.md §2, bound
to the driver's synthetic tables; each callable takes (spark, sf_dir) and
returns a DataFrame.

``oracle_sql()`` — the DuckDB-equivalent ANSI SQL for each query.

Determinism rules used throughout (so the order-insensitive value hash
matches between a multi-threaded Spark run and single-threaded DuckDB):
- timestamps surface as exact epoch microseconds (``*_us`` BIGINT);
- double sums go through DECIMAL (order-independent), surfaced UNROUNDED:
  the exact decimal's nearest double is deterministic in both engines;
- RATIONAL outputs (sums, averages, percentile interpolations, count
  ratios) are NEVER rounded for the hash — Spark's ROUND (HALF_UP on the
  double's decimal string) and C-engine ROUND (multiply-and-rint on the
  binary value) split on half-way ties, which exact-decimal data hits
  routinely (measured: 4/3600 event averages at sf0.1). The raw doubles
  are bitwise cross-engine equal; compare those. Rounding stays ONLY on
  irrational-denominator outputs (stddev, z-scores, cosines), where ties
  are measure-zero and raw values differ in final ulps anyway;
- DuckDB oracle SQL must CAST to DOUBLE explicitly — a ``* 1.0`` literal
  is DECIMAL(2,1) there and routes division through decimal arithmetic,
  which diverges from Spark's IEEE double division in late decimals;
- every LIMIT is preceded by a total order with a unique tiebreak column;
- computed columns are aliased identically on both sides.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from db_loganalyzer_spark.operators.sketches import (  # noqa: E402
    mix32_sql as _mix32_sql,
)
from db_loganalyzer_spark.operators.sketches import (  # noqa: E402
    mix32_sql_select as _mix32_sql_select,
)

from db_loganalyzer_spark.operators import aggregates as A
from db_loganalyzer_spark.operators import filters as FL
from db_loganalyzer_spark.operators import joins as J
from db_loganalyzer_spark.operators import windows as W
from db_loganalyzer_spark.operators.aggregates import davg, dsum
from db_loganalyzer_spark.session import hold, hold_checkpoint
from db_loganalyzer_spark.sources import tables
from db_loganalyzer_spark.sources.tables import load_table
from db_loganalyzer_spark import streaming as ST


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The driver's generic events stream, with log-shaped derivations:
    severity = floor(value), k_val = typed payload field from the props
    JSON (the reference's fields_json probe, SURVEY §1.3).

    When the base table is pinned via ``tables.cache_tables`` the derived
    frame is pinned too — the JSON probe (``get_json_object``) is the
    single most expensive per-call expression here and there is no reason
    to re-parse it for every query in a hot session."""
    key = (sf_dir, "__events_derived")
    hit = tables._cache_get(spark, sf_dir, "__events_derived")
    if hit is not None:
        return hit
    ev = _t(spark, sf_dir, "events")
    ev = ev.withColumn("severity", F.floor("value").cast("int")).withColumn(
        "k_val", F.get_json_object("props", "$.k").cast("int")
    )
    if tables._cache_get(spark, sf_dir, "events") is not None:
        ev = ev.cache()
        tables._CACHE[key] = ev
    return ev


US = lambda c: F.unix_micros(F.col(c))  # noqa: E731


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------


def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: the canonical multi-agg scan (SURVEY §2.4 family).

    Single scan -> partial agg -> 4-group final agg; whole-stage codegen
    end to end, filter pushed to parquet.
    """
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(charge).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


Q01_SQL = """
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(FLOOR((l_quantity) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sum_qty,
  CAST(SUM(CAST(FLOOR((l_extendedprice) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sum_base_price,
  CAST(SUM(CAST(FLOOR((l_extendedprice * (1 - l_discount)) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sum_disc_price,
  CAST(SUM(CAST(FLOOR((l_extendedprice * (1 - l_discount) * (1 + l_tax)) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sum_charge,
  CAST(SUM(CAST(FLOOR((l_quantity) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 / COUNT(l_quantity) AS avg_qty,
  CAST(SUM(CAST(FLOOR((l_extendedprice) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 / COUNT(l_extendedprice) AS avg_price,
  CAST(SUM(CAST(FLOOR((l_discount) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 / COUNT(l_discount) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q01_pricing_summary(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# A-family: aggregations (SURVEY §2.4)
# ---------------------------------------------------------------------------


def a01_severity_histogram(spark, sf_dir):
    return A.severity_histogram(_events(spark, sf_dir))


A01_SQL = """
SELECT CAST(FLOOR(value) AS INT) AS severity, COUNT(*) AS n
FROM events GROUP BY 1
"""


def a02_event_histogram(spark, sf_dir):
    return A.event_histogram(
        _events(spark, sf_dir), k=3, event_col="event_type"
    ).withColumnRenamed("event_type", "event")


A02_SQL = """
SELECT event_type AS event, COUNT(*) AS n
FROM events GROUP BY 1 ORDER BY n DESC, event LIMIT 3
"""


def a03_time_span(spark, sf_dir):
    return A.time_span(_events(spark, sf_dir))


A03_SQL = """
SELECT epoch_us(MIN(ts)) AS min_ts_us, epoch_us(MAX(ts)) AS max_ts_us,
       (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) / 1000000.0 AS span_seconds
FROM events
"""


def a04_global_max(spark, sf_dir):
    return A.global_max(_events(spark, sf_dir), "value")


A04_SQL = "SELECT MAX(value) AS max_value FROM events"


def a05_rollup_3600s(spark, sf_dir):
    return A.windowed_rollup(
        _events(spark, sf_dir), 3600, ["event_type"], "value", ordered=False
    )


A05_SQL = """
SELECT CAST(FLOOR(epoch_us(ts) / 1000000.0 / 3600) * 3600 AS BIGINT) AS window_start,
       event_type, COUNT(*) AS n,
       CAST(SUM(CAST(FLOOR((value) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 / COUNT(value) AS avg_value,
       MAX(value) AS max_value,
       quantile_cont(value, 0.95) AS p95_value
FROM events GROUP BY 1, 2
"""


def a18_multi_rollup(spark, sf_dir):
    """A5 extension — the reference's 60s/600s/3600s rollup family in ONE
    scan + one shuffle (it re-runs CTAS per size); the size dimension is
    exploded inline so the 100 TB scan is paid once."""
    return A.multi_windowed_rollup(
        _events(spark, sf_dir), [60, 600, 3600], ["event_type"], "value"
    )


A18_SQL = """
SELECT ws AS window_seconds,
       CAST(FLOOR(epoch_us(ts) / 1000000.0 / ws) * ws AS BIGINT) AS window_start,
       event_type, COUNT(*) AS n,
       CAST(SUM(CAST(FLOOR((value) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 / COUNT(value) AS avg_value,
       MAX(value) AS max_value,
       quantile_cont(value, 0.95) AS p95_value
FROM events CROSS JOIN (SELECT unnest([60, 600, 3600]) AS ws) s
GROUP BY 1, 2, 3
"""


def a06_metric_baselines(spark, sf_dir):
    return A.metric_baselines(
        _events(spark, sf_dir), ["event_type"], "value", min_count=10
    )


A06_SQL = """
SELECT event_type,
       CAST(SUM(CAST(FLOOR((value) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 / COUNT(value) AS mean,
       ROUND(stddev_samp(value), 4) AS stddev,
       COUNT(value) AS n, MIN(value) AS min_value, MAX(value) AS max_value,
       quantile_cont(value, 0.95) AS p95
FROM events GROUP BY 1 HAVING COUNT(value) >= 10
"""


def a08_bucket_heatmap(spark, sf_dir):
    return A.bucket_heatmap(_events(spark, sf_dir), 300)


A08_SQL = """
SELECT CAST(FLOOR(epoch_us(ts) / 1000000.0 / 300) * 300 AS BIGINT) AS bucket,
       MAX(CAST(FLOOR(value) AS INT)) AS max_severity, COUNT(*) AS n
FROM events GROUP BY 1
"""


def a09_high_severity_buckets(spark, sf_dir):
    return A.bucket_heatmap(
        _events(spark, sf_dir), 600, min_max_severity=49
    )


A09_SQL = """
SELECT * FROM (
  SELECT CAST(FLOOR(epoch_us(ts) / 1000000.0 / 600) * 600 AS BIGINT) AS bucket,
         MAX(CAST(FLOOR(value) AS INT)) AS max_severity, COUNT(*) AS n
  FROM events GROUP BY 1
) WHERE max_severity >= 49
"""


def a10_zscore_hotspots(spark, sf_dir):
    return A.zscore_hotspots(_events(spark, sf_dir), 300, min_z=1.5)


A10_SQL = """
WITH b AS (
  SELECT CAST(FLOOR(epoch_us(ts) / 1000000.0 / 300) * 300 AS BIGINT) AS bucket,
         COUNT(*) AS n
  FROM events GROUP BY 1
), s AS (SELECT AVG(n) AS mean_n, stddev_samp(n) AS std_n FROM b)
SELECT bucket, n,
       ROUND(CASE WHEN s.std_n <> 0 THEN (b.n - s.mean_n) / s.std_n END, 4) AS zscore
FROM b, s
WHERE ROUND(CASE WHEN s.std_n <> 0 THEN (b.n - s.mean_n) / s.std_n END, 4) >= 1.5
"""


def a12_per_group_zscores(spark, sf_dir):
    return A.per_group_zscores(
        _events(spark, sf_dir),
        ["event_type"],
        "value",
        z_threshold=1.6,
        id_cols=["event_id"],
    )


A12_SQL = """
WITH s AS (
  SELECT event_type, AVG(value) AS m, stddev_samp(value) AS sd
  FROM events GROUP BY 1
)
SELECT e.event_id, e.event_type, e.value,
       ROUND(CASE WHEN s.sd <> 0 THEN (e.value - s.m) / s.sd END, 4) AS zscore
FROM events e JOIN s USING (event_type)
WHERE ABS(ROUND(CASE WHEN s.sd <> 0 THEN (e.value - s.m) / s.sd END, 4)) > 1.6
"""


def a14_summary_stats(spark, sf_dir):
    ev = _events(spark, sf_dir).filter(F.col("event_type") == "error")
    return A.summary_stats(ev, "value")


A14_SQL = """
SELECT MAX(value) AS max_value,
       quantile_cont(value, 0.95) AS p95_value,
       CAST(SUM(CAST(FLOOR((value) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 / COUNT(value) AS mean_value,
       COUNT(*) AS n,
       epoch_us(MIN(ts)) AS first_ts_us, epoch_us(MAX(ts)) AS last_ts_us
FROM events WHERE event_type = 'error'
"""


def a16_count(spark, sf_dir):
    return _events(spark, sf_dir).agg(F.count(F.lit(1)).alias("n"))


A16_SQL = "SELECT COUNT(*) AS n FROM events"


def a17_role_distribution(spark, sf_dir):
    ev = _events(spark, sf_dir)
    return (
        ev.withColumn("role", (F.col("user_id") % 7).cast("long"))
        .groupBy("role")
        .agg(F.count(F.lit(1)).alias("n"))
    )


A17_SQL = """
SELECT CAST(user_id % 7 AS BIGINT) AS role, COUNT(*) AS n FROM events GROUP BY 1
"""


# ---------------------------------------------------------------------------
# F-family: filters / predicates (SURVEY §2.2)
# ---------------------------------------------------------------------------

_EV_PROJ = lambda df: df.select(  # noqa: E731
    "event_id", US("ts").alias("ts_us"), "event_type", "value"
)


def f01_time_window(spark, sf_dir):
    # Pushdown path: the raw-nanos range predicate reaches PushedFilters
    # (row-group skipping at scale); time_window re-applies the same bounds
    # on the converted column, which is a no-op after the slice.
    anchor = "2024-01-15 12:00:00"
    base = tables.events_time_slice(
        spark,
        sf_dir,
        "2024-01-15 11:30:00",
        "2024-01-15 12:30:00",
    )
    out = FL.time_window(base, anchor, 1800, limit=200)
    return _EV_PROJ(out)


F01_SQL = """
SELECT event_id, epoch_us(ts) AS ts_us, event_type, value
FROM events
WHERE ts BETWEEN TIMESTAMP '2024-01-15 12:00:00' - INTERVAL 1800 SECOND
             AND TIMESTAMP '2024-01-15 12:00:00' + INTERVAL 1800 SECOND
ORDER BY ts, event_id LIMIT 200
"""


def f02_event_pattern(spark, sf_dir):
    out = FL.event_pattern(
        _events(spark, sf_dir), "ur", event_col="event_type", limit=100
    )
    return _EV_PROJ(out)


F02_SQL = """
SELECT event_id, epoch_us(ts) AS ts_us, event_type, value
FROM events WHERE event_type LIKE '%ur%'
ORDER BY ts DESC, event_id DESC LIMIT 100
"""


def f03_severity_floor(spark, sf_dir):
    out = FL.severity_floor(
        _events(spark, sf_dir), 49.5, severity_col="value", limit=100
    )
    return _EV_PROJ(out)


F03_SQL = """
SELECT event_id, epoch_us(ts) AS ts_us, event_type, value
FROM events WHERE value >= 49.5
ORDER BY value DESC, ts DESC, event_id DESC LIMIT 100
"""


def f04_dynamic_predicate(spark, sf_dir):
    out = FL.dynamic_predicate(
        _events(spark, sf_dir),
        start_time="2024-01-10 00:00:00",
        end_time="2024-01-20 00:00:00",
        severity_min=10,
        event_type="click",
        severity_col="value",
        event_col="event_type",
    )
    return _EV_PROJ(out)


F04_SQL = """
SELECT event_id, epoch_us(ts) AS ts_us, event_type, value
FROM events
WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts <= TIMESTAMP '2024-01-20 00:00:00'
  AND value >= 10 AND event_type = 'click'
"""


def f05_interesting_events(spark, sf_dir):
    out = FL.interesting_events(
        _events(spark, sf_dir),
        min_severity=40,
        names={"error", "signup"},
        severity_col="value",
        event_col="event_type",
    )
    return out.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))


F05_SQL = """
SELECT event_type, COUNT(*) AS n FROM events
WHERE value >= 40 OR event_type IN ('error', 'signup')
GROUP BY 1
"""


def f06_event_class(spark, sf_dir):
    out = FL.event_class(
        _events(spark, sf_dir), "err|sign", event_col="event_type"
    )
    return out.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))


F06_SQL = """
SELECT event_type, COUNT(*) AS n FROM events
WHERE regexp_matches(event_type, 'err|sign') GROUP BY 1
"""


def f08_json_field(spark, sf_dir):
    ev = _events(spark, sf_dir)
    return (
        ev.filter(FL.finite(F.col("k_val").cast("double")) & (F.col("k_val") > 80))
        .select("event_id", "k_val")
    )


F08_SQL = """
SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k_val
FROM events
WHERE CAST(json_extract_string(props, '$.k') AS INT) > 80
"""


def f10_exclusion(spark, sf_dir):
    out = FL.exclude_events(
        _events(spark, sf_dir), ["error"], event_col="event_type"
    )
    return out.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))


F10_SQL = """
SELECT event_type, COUNT(*) AS n FROM events
WHERE event_type NOT IN ('error') GROUP BY 1
"""


def f11_regex_corpus(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return FL.regex_corpus_filter(
        docs, whitelist="spark", blacklist="slow", min_len=200
    ).select("doc_id", "n_chars")


F11_SQL = """
SELECT doc_id, n_chars FROM documents
WHERE regexp_matches(text, 'spark') AND NOT regexp_matches(text, 'slow')
  AND LENGTH(text) >= 200
"""


# ---------------------------------------------------------------------------
# J-family: joins (SURVEY §2.3)
# ---------------------------------------------------------------------------


def j01_equi_join(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return (
        J.equi_join(
            orders,
            cust.select("c_custkey", "c_mktsegment"),
            orders.o_custkey == F.col("c_custkey"),
        )
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"), dsum("o_totalprice").alias("total"))
    )


J01_SQL = """
SELECT c_mktsegment, COUNT(*) AS n,
       CAST(SUM(CAST(FLOOR((o_totalprice) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS total
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY 1
"""


def j02_global_stats_z(spark, sf_dir):
    ev = J.attach_global_stats(_events(spark, sf_dir), "value")
    z = F.round((F.col("value") - F.col("mean_value")) / F.col("std_value"), 4)
    return (
        ev.withColumn("zscore", z)
        .filter(F.abs(F.col("zscore")) > 1.6)
        .select("event_id", "value", "zscore")
    )


J02_SQL = """
WITH s AS (SELECT AVG(value) AS m, stddev_samp(value) AS sd FROM events)
SELECT event_id, value, ROUND((value - s.m) / s.sd, 4) AS zscore
FROM events, s WHERE ABS(ROUND((value - s.m) / s.sd, 4)) > 1.6
"""


def j03_lookback_join(spark, sf_dir):
    ev = _events(spark, sf_dir)
    anchors = (
        ev.filter((F.col("event_type") == "error") & (F.col("value") >= 45))
        .select(
            F.col("event_id").alias("anchor_id"),
            F.col("ts").alias("anchor_ts"),
            F.col("user_id").alias("anchor_user_id"),
        )
    )
    joined = J.lookback_join(
        ev.select("user_id", "ts"), anchors, 600, equi_keys=["user_id"]
    )
    return (
        joined.groupBy("anchor_id")
        .agg(F.count(F.lit(1)).alias("n_prior"))
    )


J03_SQL = """
SELECT a.event_id AS anchor_id, COUNT(*) AS n_prior
FROM events a JOIN events e
  ON e.user_id = a.user_id
 AND e.ts >= a.ts - INTERVAL 600 SECOND AND e.ts < a.ts
WHERE a.event_type = 'error' AND a.value >= 45
GROUP BY 1
"""


def j05_anti_join(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    big = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return J.anti_join(
        cust, big, cust.c_custkey == big.o_custkey
    ).select("c_custkey")


J05_SQL = """
SELECT c_custkey FROM customer
WHERE NOT EXISTS (
  SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000
)
"""


def j06_lookup_fallback(spark, sf_dir):
    ev = _events(spark, sf_dir).withColumn(
        "role", (F.col("user_id") % 3).cast("string")
    )
    per_role = (
        ev.groupBy("event_type", "role")
        .agg(davg("value").alias("baseline_mean"))
        .filter(F.col("role") == "0")
    )
    all_rows = ev.groupBy("event_type").agg(
        davg("value").alias("baseline_mean")
    ).withColumn("role", F.lit("ALL"))
    baselines = per_role.unionByName(all_rows.select("event_type", "role", "baseline_mean"))
    probes = ev.filter(F.col("value") > 49).select("event_id", "event_type", "role")
    out = J.lookup_with_fallback(
        probes, baselines, ["event_type", "role"], "role", "ALL", ["baseline_mean"]
    )
    return out.select("event_id", "event_type", "role", "baseline_mean")


J06_SQL = """
WITH ev AS (
  SELECT *, CAST(user_id % 3 AS VARCHAR) AS role FROM events
), per_role AS (
  SELECT event_type, role,
         CAST(SUM(CAST(FLOOR((value) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 / COUNT(value) AS baseline_mean
  FROM ev GROUP BY 1, 2 HAVING role = '0'
), all_rows AS (
  SELECT event_type, 'ALL' AS role,
         CAST(SUM(CAST(FLOOR((value) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 / COUNT(value) AS baseline_mean
  FROM ev GROUP BY 1
), baselines AS (SELECT * FROM per_role UNION ALL SELECT * FROM all_rows)
SELECT p.event_id, p.event_type, p.role,
       COALESCE(b1.baseline_mean, b2.baseline_mean) AS baseline_mean
FROM ev p
LEFT JOIN baselines b1 ON b1.event_type = p.event_type AND b1.role = p.role
LEFT JOIN baselines b2 ON b2.event_type = p.event_type AND b2.role = 'ALL'
WHERE p.value > 49
"""


# ---------------------------------------------------------------------------
# W-family: window / sequence (SURVEY §2.5)
# ---------------------------------------------------------------------------


def w01_value_drops(spark, sf_dir):
    ev = _events(spark, sf_dir).withColumn(
        "obs", F.when(F.col("event_type") == "view", F.col("k_val"))
    )
    out = W.value_drops(ev, "obs", partition_by=["user_id"])
    return out.select(
        "user_id", "event_id", F.col("obs"), "prev_value", "drop_amount"
    )


W01_SQL = """
WITH ev AS (
  SELECT *, CASE WHEN event_type = 'view'
                 THEN CAST(json_extract_string(props, '$.k') AS INT) END AS obs
  FROM events
), lagged AS (
  SELECT user_id, event_id, obs,
         last_value(obs IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_value
  FROM ev
)
SELECT user_id, event_id, obs, prev_value, prev_value - obs AS drop_amount
FROM lagged WHERE obs IS NOT NULL AND prev_value IS NOT NULL AND obs < prev_value
"""


def w02_value_resets(spark, sf_dir):
    ev = _events(spark, sf_dir).withColumn(
        "obs", F.when(F.col("event_type") == "view", F.col("k_val"))
    )
    out = W.value_resets(ev, "obs", high=80, low=20, partition_by=["user_id"])
    return out.select("user_id", "event_id", "obs", "prev_value")


W02_SQL = """
WITH ev AS (
  SELECT *, CASE WHEN event_type = 'view'
                 THEN CAST(json_extract_string(props, '$.k') AS INT) END AS obs
  FROM events
), lagged AS (
  SELECT user_id, event_id, obs,
         last_value(obs IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_value
  FROM ev
)
SELECT user_id, event_id, obs, prev_value
FROM lagged WHERE prev_value > 80 AND obs < 20
"""


def w03_lag_regressions(spark, sf_dir):
    ev = _events(spark, sf_dir).filter(F.col("event_type") == "error")
    out = W.lag_regressions(ev, "value", partition_by=["user_id"])
    return out.select("user_id", "event_id", "value", "prev_value")


W03_SQL = """
SELECT user_id, event_id, value, prev_value FROM (
  SELECT user_id, event_id, value,
         lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value
  FROM events WHERE event_type = 'error'
) WHERE prev_value IS NOT NULL AND value < prev_value
"""


def w05_sessionization(spark, sf_dir):
    ev = _events(spark, sf_dir)
    sessions = W.sessionize(ev, 3600, partition_by=["user_id"])
    return W.session_summary(sessions, partition_by=["user_id"], ordered=False)


W05_SQL = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch_us(ts) / 1000000.0
                   - (epoch_us(lag(ts) OVER w) / 1000000.0) > 3600
                OR lag(ts) OVER w IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT user_id, ts, event_id,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1
              AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, session_id,
       epoch_us(MIN(ts)) AS start_ts_us, epoch_us(MAX(ts)) AS end_ts_us,
       ROUND(epoch_us(MAX(ts)) / 1000000.0 - epoch_us(MIN(ts)) / 1000000.0, 6) AS duration_s,
       COUNT(*) AS n_events
FROM numbered GROUP BY 1, 2
"""


def w06_burst_windows(spark, sf_dir):
    ev = _events(spark, sf_dir).filter(F.col("event_type") == "signup")
    out = W.burst_windows(ev, k=3, window_seconds=259200, partition_by=["user_id"])
    return out.select("user_id", "event_id", "window_span_s")


W06_SQL = """
SELECT user_id, event_id, ROUND(span, 6) AS window_span_s FROM (
  SELECT user_id, event_id,
         epoch_us(ts) / 1000000.0
           - epoch_us(lag(ts, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id)) / 1000000.0
           AS span
  FROM events WHERE event_type = 'signup'
) WHERE span IS NOT NULL AND span <= 259200
"""


def w08_marker_chunks(spark, sf_dir):
    ev = _events(spark, sf_dir)
    chunked = W.marker_chunks(
        ev, F.col("event_type") == "signup", partition_by=["user_id"]
    )
    return (
        chunked.groupBy("user_id", "chunk_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.unix_micros(F.min("ts")).alias("start_ts_us"),
            F.unix_micros(F.max("ts")).alias("end_ts_us"),
        )
    )


W08_SQL = """
WITH chunked AS (
  SELECT user_id, ts,
         COALESCE(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
  FROM events
)
SELECT user_id, CAST(chunk_id AS BIGINT) AS chunk_id, COUNT(*) AS n,
       epoch_us(MIN(ts)) AS start_ts_us, epoch_us(MAX(ts)) AS end_ts_us
FROM chunked GROUP BY 1, 2
"""


def w09_relative_timeline(spark, sf_dir):
    ev = _events(spark, sf_dir)
    out = W.relative_timeline(ev.filter(F.col("value") >= 49), anchor_df=ev)
    return out.select("event_id", "rel_s")


W09_SQL = """
WITH t0 AS (SELECT MIN(ts) AS t0 FROM events)
SELECT event_id,
       ROUND(epoch_us(ts) / 1000000.0 - epoch_us(t0) / 1000000.0, 6) AS rel_s
FROM events, t0 WHERE value >= 49
"""


# ---------------------------------------------------------------------------
# Sorts / top-k (SURVEY §2.6)
# ---------------------------------------------------------------------------


def t01_topk_per_group(spark, sf_dir):
    from pyspark.sql import Window as SW

    cust = _t(spark, sf_dir, "customer")
    w = SW.partitionBy("c_mktsegment").orderBy(
        F.desc("c_acctbal"), F.col("c_custkey")
    )
    return (
        cust.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("c_mktsegment", "c_custkey", "c_acctbal", "rk")
    )


T01_SQL = """
SELECT c_mktsegment, c_custkey, c_acctbal, CAST(rk AS INT) AS rk FROM (
  SELECT c_mktsegment, c_custkey, c_acctbal,
         row_number() OVER (PARTITION BY c_mktsegment
                            ORDER BY c_acctbal DESC, c_custkey) AS rk
  FROM customer
) WHERE rk <= 3
"""


# ---------------------------------------------------------------------------
# TPC-H-style multi-join analytics
# ---------------------------------------------------------------------------


def _broadcast_threshold(spark) -> int:
    """The session's autoBroadcastJoinThreshold in bytes (unit suffixes
    parsed; malformed values fall back to the 10 MB default)."""
    raw = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    s, mult = raw.strip().lower(), 1
    for suf, m in (("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
                   ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30), ("b", 1)):
        if s.endswith(suf):
            s, mult = s[: -len(suf)], m
            break
    try:
        return int(float(s)) * mult
    except ValueError:
        return 10 << 20


def _under_threshold(spark, sf_dir, name: str) -> bool:
    """True iff the backing parquet footprint of table ``name`` is known
    and below the session broadcast threshold. Unknown size => False
    (never force a broadcast of a frame whose size can't be bounded)."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        if os.path.isfile(path):
            size = os.path.getsize(path)
        elif os.path.isdir(path):
            # A directory-materialized table: sum the data files. Bare
            # getsize() on a directory returns the inode size (~4 KB),
            # which would pass the gate and force a broadcast of a
            # fact-scale frame — the exact OOM this gate prevents.
            size = sum(
                os.path.getsize(os.path.join(root, f))
                for root, _dirs, files in os.walk(path)
                for f in files
                if not f.startswith(("_", "."))
            )
        else:
            return False
    except OSError:
        return False
    return 0 <= size < max(_broadcast_threshold(spark), 0)


def _fact_join_side(spark, sf_dir, name: str, df):
    """Size-gated join strategy for a fact⋈fact edge: below the session's
    broadcast threshold the side is left unhinted (Catalyst broadcasts it
    — the right plan for a small input), above it the side is pinned to
    ``merge`` (sort-merge): the only join build that spills gracefully
    when one grouping key's build side outgrows executor memory. A
    ``shuffle_hash`` pin here failed reproducibly at sf100 ("Can't
    acquire ... bytes memory to build hash relation" — shuffled-hash
    builds cannot spill the relation the way sort-merge sorts can). The
    explicit merge hint is respected by AQE replanning (no broadcast
    conversion) — intentional: past the gate the side is by definition
    too big to broadcast. The gate reads the actual parquet footprint,
    not an estimate."""
    if _under_threshold(spark, sf_dir, name):
        return df
    return df.hint("merge")


def _gated_broadcast(spark, sf_dir, name: str, df):
    """``F.broadcast(df)`` only while the backing table's parquet
    footprint is below the session broadcast threshold; past the gate
    the frame is returned unhinted so Catalyst/AQE pick a shuffle join.
    An unconditional ``F.broadcast`` of a frame whose cardinality grows
    with a fact table (customers, derived geo dims) is the canonical
    100 TB OOM: the hint overrides size statistics, so the build side
    keeps being collected to every task long after it stops fitting
    (observed: q03's segment broadcast dying at sf100 with a
    hash-relation memory error)."""
    if _under_threshold(spark, sf_dir, name):
        return F.broadcast(df)
    return df


def q03_shipping_priority(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cutoff = F.lit("1998-06-01").cast("timestamp")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    seg = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    return (
        li.filter(F.col("l_shipdate") > cutoff)
        # fact ⋈ fact: size-gated — broadcast while orders is genuinely
        # small, sort-merge (the only spill-graceful build; see
        # _fact_join_side) once it grows past the threshold.
        .join(
            _fact_join_side(
                spark, sf_dir, "orders",
                orders.filter(F.col("o_orderdate") < cutoff),
            ),
            li.l_orderkey == orders.o_orderkey,
        )
        # seg's cardinality scales with customer (~3M keys at sf100):
        # broadcast only below the gate, shuffle past it.
        .join(
            _gated_broadcast(spark, sf_dir, "customer", seg),
            orders.o_custkey == seg.c_custkey,
        )
        .groupBy("l_orderkey", "o_orderdate")
        .agg(dsum(revenue).alias("revenue"))
        .select(
            "l_orderkey",
            F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias(
                "o_orderdate_us"
            ),
            "revenue",
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


Q03_SQL = """
SELECT l_orderkey, epoch_us(o_orderdate) AS o_orderdate_us,
       CAST(SUM(CAST(FLOOR((l_extendedprice * (1 - l_discount)) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS revenue
FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
GROUP BY 1, 2
ORDER BY revenue DESC, l_orderkey LIMIT 10
"""


def q05_nation_revenue(spark, sf_dir):
    """Multi-way star join: lineitem⋈orders⋈(customer⋈nation⋈region) with
    the snowflaked geo dims collapsed into ONE materialized dim
    (SURVEY §2.3 J1 generalized; tables.load_customer_geo) — one build
    instead of three. The geo dim's cardinality is the CUSTOMER table's,
    so its broadcast is size-gated on the customer parquet footprint:
    broadcast at bench SF, shuffle join past the gate (at sf100 the dim
    is ~3M rows — forcing the broadcast there is the canonical scale
    OOM). The unfiltered fact⋈fact edge is left to Catalyst: at bench SF
    orders fits the broadcast threshold; at scale its size statistics
    push the join to shuffle automatically."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    geo = tables.load_customer_geo(spark, sf_dir)
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(
            _gated_broadcast(spark, sf_dir, "customer", geo),
            orders.o_custkey == geo.c_custkey,
        )
        .groupBy("r_name", "n_name")
        .agg(dsum(revenue).alias("revenue"), F.count(F.lit(1)).alias("n_items"))
    )


Q05_SQL = """
SELECT r_name, n_name,
       CAST(SUM(CAST(FLOOR((l_extendedprice * (1 - l_discount)) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# S-family: ingestion derivations (SURVEY §2.1 S7)
# ---------------------------------------------------------------------------


def s07_processes(spark, sf_dir):
    """The processes-table derivation shape (first/last seen per process
    key) on the generic events stream (reference: tools/storage.py:271-303)."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy("user_id")
        .agg(
            F.unix_micros(F.min("ts")).alias("first_seen_ts_us"),
            F.unix_micros(F.max("ts")).alias("last_seen_ts_us"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


S07_SQL = """
SELECT user_id, epoch_us(MIN(ts)) AS first_seen_ts_us,
       epoch_us(MAX(ts)) AS last_seen_ts_us, COUNT(*) AS n_events
FROM events GROUP BY 1
"""


# ---------------------------------------------------------------------------
# M-family: dedup (training-pipeline ops)
# ---------------------------------------------------------------------------


def m01_dedup_exact(spark, sf_dir):
    from db_loganalyzer_spark.operators.dedup import exact_dedup_groups

    docs = _t(spark, sf_dir, "documents")
    return exact_dedup_groups(docs)


M01_SQL = r"""
SELECT sha256(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS content_hash,
       MIN(doc_id) AS keeper_id, COUNT(*) AS n_docs
FROM documents GROUP BY 1
"""


def m02_ngram_jaccard(spark, sf_dir):
    from db_loganalyzer_spark.operators.dedup import ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, threshold=0.12, n=2)


# Shared by M02/M02C (pair list) and M08/M08C (components over the pairs).
_M02_SHINGLES = r"""
  SELECT doc_id AS id, unnest(list_distinct(list_transform(
           generate_series(1, greatest(len(words) - 1, 0)),
           i -> array_to_string(words[i:i+1], ' ')))) AS shingle
  FROM (
    SELECT doc_id,
           list_filter(string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
                       x -> x <> '') AS words
    FROM documents
  )"""


def _m02_ctes(cap: int | None = None) -> str:
    """The shingle-index CTE chain, optionally with the stop-shingle
    cap: shingles in more than ``cap`` documents are dropped from the
    index BEFORE set sizes are taken, so the capped form is exact
    Jaccard over the discriminative vocabulary — the same semantics as
    ``ngram_jaccard_pairs(max_doc_freq=cap)``."""
    if cap is None:
        sh = f"sh AS ({_M02_SHINGLES}\n)"
    else:
        sh = (
            f"sh0 AS ({_M02_SHINGLES}\n), hot AS (\n"
            f"  SELECT shingle FROM sh0 GROUP BY 1 HAVING COUNT(*) > {cap}\n"
            "), sh AS (\n"
            "  SELECT id, shingle FROM sh0\n"
            "  WHERE shingle NOT IN (SELECT shingle FROM hot)\n)"
        )
    return sh + r""", sizes AS (
  SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY 1
), inter AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY 1, 2
), pairs AS (
  SELECT id_a, id_b, n_inter, sa.n_sh AS n_a, sb.n_sh AS n_b,
         n_inter / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
  FROM inter
  JOIN sizes sa ON sa.id = id_a
  JOIN sizes sb ON sb.id = id_b
  WHERE n_inter / (sa.n_sh + sb.n_sh - n_inter) >= 0.12
)"""


M02_SQL = f"""
WITH {_m02_ctes()}
SELECT id_a, id_b, n_inter, n_a, n_b, jaccard FROM pairs
"""


def m02c_ngram_jaccard_capped(spark, sf_dir):
    """The shape a 100 TB job should copy: m02's exact shingle-index
    Jaccard with the stop-shingle cap (``max_doc_freq=200``) applied —
    a boilerplate shingle shared by d documents expands to d*(d-1)/2
    join rows on ONE shuffle key, so the uncapped index is quadratic in
    clone count (measured 184 s vs 11.2 s at sf1 clone-stress,
    BASELINE.md). Capped results are exact Jaccard over the
    discriminative vocabulary; the oracle applies the identical HAVING
    cap to its index."""
    from db_loganalyzer_spark.operators.dedup import ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, threshold=0.12, n=2, max_doc_freq=200)


M02C_SQL = f"""
WITH {_m02_ctes(200)}
SELECT id_a, id_b, n_inter, n_a, n_b, jaccard FROM pairs
"""


def m08_dedup_components(spark, sf_dir):
    """Connected components over the m02 near-dup pairs — pairwise
    similarity turned into dedup groups (component label = min doc_id =
    the keeper). Iterative min-label propagation on Spark; the oracle
    restates the fixpoint as a recursive transitive closure."""
    from db_loganalyzer_spark.operators.dedup import (
        dedup_components,
        ngram_jaccard_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.12, n=2)
    return dedup_components(pairs).select("id", "component_id")


_M08_CLOSURE = """,
e AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach AS (
  SELECT a, b FROM e
  UNION
  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a WHERE e.b <> r.a
)
SELECT a AS id, LEAST(a, MIN(b)) AS component_id FROM reach GROUP BY 1
"""

M08_SQL = f"""
WITH RECURSIVE {_m02_ctes()}{_M08_CLOSURE}"""


def m08c_dedup_components_capped(spark, sf_dir):
    """m08's connected components over the CAPPED m02c edge list — the
    registry shape safe to copy into a 100 TB dedup job (uncapped
    components measured 192 s vs 22 s capped at sf1 clone-stress,
    BASELINE.md). Same min-label-propagation fixpoint; only the edge
    generation applies the stop-shingle cap."""
    from db_loganalyzer_spark.operators.dedup import (
        dedup_components,
        ngram_jaccard_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.12, n=2, max_doc_freq=200)
    return dedup_components(pairs).select("id", "component_id")


M08C_SQL = f"""
WITH RECURSIVE {_m02_ctes(200)}{_M08_CLOSURE}"""


def m13_dedup_representatives(spark, sf_dir):
    """M13 — canonical representative selection (dedup.
    dedup_representatives): after near-dup grouping over the CAPPED
    m02c edges, keep the highest-quality doc per group (id tiebreak),
    mark the rest as drops; singletons keep themselves. One row per
    doc, one row_number over the component key the grouping already
    shuffled on."""
    from db_loganalyzer_spark.operators.dedup import (
        dedup_representatives,
        ngram_jaccard_pairs,
    )
    from db_loganalyzer_spark.operators.textstats import quality_score

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.12, n=2, max_doc_freq=200)
    return dedup_representatives(docs, pairs, quality_score("text"))


# components as a CTE (same closure as _M08_CLOSURE, minus its SELECT)
_M08_COMPS_CTE = """,
e AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach AS (
  SELECT a, b FROM e
  UNION
  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a WHERE e.b <> r.a
),
comps AS (
  SELECT a AS id, LEAST(a, MIN(b)) AS component_id FROM reach GROUP BY 1
)"""

_QUALITY_CTE = r""",
q0 AS (
  SELECT doc_id, text,
         list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
                     x -> x <> '') AS toks
  FROM documents
), q1 AS (
  SELECT doc_id, len(toks) AS n_tokens,
         CASE WHEN len(toks) > 0
              THEN CAST(list_sum(list_transform(toks, t -> len(t))) AS DOUBLE) / len(toks) END AS mwl,
         CASE WHEN length(text) > 0
              THEN CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE) / length(text) END AS pr,
         CASE WHEN len(toks) > 0
              THEN CAST(len(list_filter(toks, t -> list_contains(
                     ['the','a','and','of','to','in','is','that','it','for'], t))) AS DOUBLE) / len(toks)
              END AS swr
  FROM q0
), q AS (
  SELECT doc_id,
         ROUND(
           (CASE WHEN n_tokens >= 10 AND n_tokens <= 100000 THEN 0.25 ELSE 0.0 END)
           + (CASE WHEN mwl >= 2.5 AND mwl <= 12 THEN 0.25 ELSE 0.0 END)
           + (CASE WHEN COALESCE(pr, 1.0) <= 0.2 THEN 0.25 ELSE 0.0 END)
           + (CASE WHEN COALESCE(swr, 0.0) >= 0.02 THEN 0.25 ELSE 0.0 END), 2) AS quality
  FROM q1
)"""

M13_SQL = (
    f"WITH RECURSIVE {_m02_ctes(200)}{_M08_COMPS_CTE}{_QUALITY_CTE}"
    + """
, j AS (
  SELECT q.doc_id, COALESCE(c.component_id, q.doc_id) AS component_id,
         q.quality
  FROM q LEFT JOIN comps c ON c.id = q.doc_id
)
SELECT doc_id, component_id, quality,
       CAST(COUNT(*) OVER (PARTITION BY component_id) AS BIGINT) AS group_size,
       ROW_NUMBER() OVER (PARTITION BY component_id
                          ORDER BY quality DESC, doc_id) = 1 AS is_keeper
FROM j
"""
)


def m14_leakage_safe_split(spark, sf_dir):
    """M14 — near-dup-aware train/val/test split (dedup.
    leakage_safe_split): the split hash runs on the COMPONENT id, so a
    train doc's near-clone can never land in val/test — the standard
    eval-contamination failure removed by construction. Same grouping
    the dedup pipeline already runs; the split itself is a pure
    projection."""
    from db_loganalyzer_spark.operators.dedup import (
        leakage_safe_split,
        ngram_jaccard_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.12, n=2, max_doc_freq=200)
    return leakage_safe_split(docs, pairs)


M14_SQL = (
    f"WITH RECURSIVE {_m02_ctes(200)}{_M08_COMPS_CTE}"
    + """
, j AS (
  SELECT d.doc_id, COALESCE(c.component_id, d.doc_id) AS component_id
  FROM (SELECT doc_id FROM documents) d LEFT JOIN comps c ON c.id = d.doc_id
)
SELECT doc_id, component_id,
       CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END
         AS split
FROM (SELECT doc_id, component_id,
             ((component_id * 2654435761) % 4294967296) % 100 AS b
      FROM j)
"""
)


def a32_hll_overlap(spark, sf_dir):
    """A32 — sketch-side set algebra (sketches.hll_overlap): estimated
    |error users|, |purchase users|, their union, and by
    inclusion-exclusion their intersection + Jaccard — no distinct-pair
    shuffle, no self-join; three <= 2^p register tables, two already
    shared. Exact intersection joined in-row so the gate checks the
    estimate against truth."""
    from db_loganalyzer_spark.operators.sketches import hll_overlap

    ev = _t(spark, sf_dir, "events")
    est = hll_overlap(ev, "user_id", "event_type", "error", "purchase")
    both = (
        ev.filter(
            F.col("user_id").isNotNull()
            & F.col("event_type").isin(["error", "purchase"])
        )
        .groupBy("user_id")
        .agg(F.countDistinct("event_type").alias("nt"))
        .filter(F.col("nt") == 2)
    )
    exact = both.agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_intersection")
    )
    return est.crossJoin(F.broadcast(exact))


A32_SQL = f"""
WITH h AS (
  SELECT event_type, h
  FROM {_mix32_sql_select('user_id',
        "(SELECT event_type, user_id FROM events WHERE user_id IS NOT NULL"
        " AND event_type IN ('error', 'purchase'))",
        passthrough=['event_type'])} x
), pr AS (
  SELECT event_type,
         CAST(h % 4096 AS INT) AS bucket,
         CAST((h - h % 4096) / 4096 AS BIGINT) AS v
  FROM h
), regs AS (
  SELECT event_type, bucket,
         MAX(CASE WHEN v = 0 THEN 21 ELSE 20 - length(bin(v)) + 1 END) AS rho
  FROM pr GROUP BY 1, 2
), uregs AS (
  SELECT bucket, MAX(rho) AS rho FROM regs GROUP BY 1
), fin_l AS (
  SELECT event_type,
         ROUND(CASE WHEN (25371803950842.746 / CAST(s AS DOUBLE)) <= 10240.0
                         AND zeros > 0
                    THEN 4096.0 * ln(4096.0 / CAST(zeros AS DOUBLE))
                    ELSE 25371803950842.746 / CAST(s AS DOUBLE) END,
               6) AS estimate
  FROM (
    SELECT event_type,
           CAST(SUM(CAST(1 AS BIGINT) << (21 - rho)) AS BIGINT)
             + (4096 - COUNT(*)) * 2097152 AS s,
           4096 - COUNT(*) AS zeros
    FROM regs GROUP BY 1
  )
), fin_u AS (
  SELECT ROUND(CASE WHEN (25371803950842.746 / CAST(s AS DOUBLE)) <= 10240.0
                         AND zeros > 0
                    THEN 4096.0 * ln(4096.0 / CAST(zeros AS DOUBLE))
                    ELSE 25371803950842.746 / CAST(s AS DOUBLE) END,
               6) AS est_union
  FROM (
    SELECT CAST(SUM(CAST(1 AS BIGINT) << (21 - rho)) AS BIGINT)
             + (4096 - COUNT(*)) * 2097152 AS s,
           4096 - COUNT(*) AS zeros
    FROM uregs
  )
), wide AS (
  SELECT a.estimate AS est_a, b.estimate AS est_b, u.est_union
  FROM (SELECT estimate FROM fin_l WHERE event_type = 'error') a,
       (SELECT estimate FROM fin_l WHERE event_type = 'purchase') b,
       fin_u u
), inter AS (
  SELECT *, GREATEST(ROUND(est_a + est_b - est_union, 6), 0.0)
              AS est_intersection
  FROM wide
)
SELECT 'error' AS label_a, 'purchase' AS label_b,
       est_a, est_b, est_union, est_intersection,
       CASE WHEN est_union > 0
            THEN ROUND(est_intersection / est_union, 6) END AS jaccard_est,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM (
          SELECT user_id FROM events
          WHERE user_id IS NOT NULL AND event_type IN ('error', 'purchase')
          GROUP BY 1 HAVING COUNT(DISTINCT event_type) = 2))
         AS exact_intersection
FROM inter
"""


def d14_cusum_drift(spark, sf_dir):
    """D14 — per-key CUSUM drift scores (detectors.cusum_drift): the
    sequential small-but-sustained shift detector, via the prefix-min
    closed form (two stacked window passes, ONE key shuffle, no
    iteration). Deviations are exact BIGINT micro-units against the
    key's discrete median (an order statistic — engine-identical), so
    every running sum is integer and the score is one exact-integer
    division: hash-matched unrounded."""
    from db_loganalyzer_spark.detectors.detectors import cusum_drift

    ev = _t(spark, sf_dir, "events")
    return cusum_drift(ev, "value", ["user_id"], threshold=1000.0)


_D14_CTES = r"""
WITH base AS (
  SELECT user_id, event_id, ts, value,
         CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT) AS vus
  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
), ranked AS (
  SELECT *, COUNT(*) OVER (PARTITION BY user_id) AS n,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY vus, event_id) AS rn
  FROM base
), med AS (
  SELECT *, MAX(CASE WHEN rn = (n + 1) // 2 THEN vus END)
              OVER (PARTITION BY user_id) AS medus
  FROM ranked
), c AS (
  SELECT *, SUM(vus - medus) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc
  FROM med
), s AS (
  SELECT *, cc - LEAST(0, MIN(cc) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS ss
  FROM c
)
"""

D14_SQL = _D14_CTES + r"""
SELECT user_id, epoch_us(ts) AS ts_us, event_id, value,
       CAST(ss AS DOUBLE) / 1000000.0 AS cusum,
       (CAST(ss AS DOUBLE) / 1000000.0) > 1000.0 AS is_drift
FROM s
"""


def d15_cusum_changepoints(spark, sf_dir):
    """D15 — per-key CUSUM peak localization (detectors.
    cusum_changepoints): WHERE each key's sustained drift concentrates
    — one deterministic argmax row per key (exact BIGINT score rank,
    (ts, event_id) tiebreak) over d14's scored frame, same key shuffle,
    one extra row_number pass."""
    from db_loganalyzer_spark.detectors.detectors import cusum_changepoints

    ev = _t(spark, sf_dir, "events")
    return cusum_changepoints(ev, "value", ["user_id"], threshold=1000.0)


D15_SQL = _D14_CTES + r"""
SELECT user_id, epoch_us(ts) AS peak_ts_us, event_id AS peak_event_id,
       CAST(ss AS DOUBLE) / 1000000.0 AS peak_cusum,
       n AS n_points,
       (CAST(ss AS DOUBLE) / 1000000.0) > 1000.0 AS is_drift
FROM s
QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
                           ORDER BY ss DESC, epoch_us(ts), event_id) = 1
"""


def a31_cumulative_hll(spark, sf_dir):
    """A31 — cumulative distinct-users curve via running HLL register
    merge (sketches.hll_cumulative): one estimate per day-bucket of all
    users seen SO FAR. Exact cumulative distinct re-deduplicates all
    history per bucket; registers merge by pointwise max, so the whole
    curve is one running-max window over a sketch-bounded (buckets x
    4096) grid. Joined against the exact first-seen cumulative count so
    the gate checks the approximation itself (same discipline as
    a22/a29)."""
    from db_loganalyzer_spark.operators.sketches import hll_cumulative

    ev = _t(spark, sf_dir, "events")
    est = hll_cumulative(ev, "user_id", bucket_seconds=86400, p=12)
    bkt = F.floor(F.unix_micros(F.col("ts")) / F.lit(86400.0 * 1e6)).cast(
        "long"
    )
    base = ev.filter(F.col("user_id").isNotNull()).select(
        bkt.alias("bkt"), "user_id"
    )
    fs = base.groupBy("user_id").agg(F.min("bkt").alias("fb"))
    fc = fs.groupBy("fb").agg(F.count(F.lit(1)).cast("long").alias("c"))
    from pyspark.sql import Window as SW

    # bucket-level frame (one row per day) — global-order window is
    # structurally bounded here, same class as the d-family rollups
    run = SW.orderBy("bkt").rowsBetween(
        SW.unboundedPreceding, SW.currentRow
    )
    exact = (
        base.select("bkt")
        .distinct()
        .join(fc, F.col("bkt") == F.col("fb"), "left")
        .select("bkt", F.coalesce("c", F.lit(0).cast("long")).alias("c"))
        .withColumn("exact_cum", F.sum("c").over(run).cast("long"))
        .select("bkt", "exact_cum")
    )
    return est.join(exact, "bkt").select(
        "bkt",
        "m",
        "nonzero_registers",
        "scaled_sum",
        "estimate",
        "exact_cum",
        F.round((F.col("estimate") / F.col("exact_cum") - 1) * 100, 4).alias(
            "rel_err_pct"
        ),
    )


A31_SQL = f"""
WITH h AS (
  SELECT ts, h
  FROM {_mix32_sql_select('user_id',
        '(SELECT ts, user_id FROM events WHERE user_id IS NOT NULL)',
        passthrough=['ts'])} x
), pr AS (
  SELECT CAST(FLOOR(epoch_us(ts) / 86400000000.0) AS BIGINT) AS bkt,
         CAST(h % 4096 AS INT) AS bucket,
         CAST((h - h % 4096) / 4096 AS BIGINT) AS v
  FROM h
), sparse AS (
  SELECT bkt, bucket,
         MAX(CASE WHEN v = 0 THEN 21 ELSE 20 - length(bin(v)) + 1 END) AS rho
  FROM pr GROUP BY 1, 2
), grid AS (
  SELECT b.bkt, r.bucket
  FROM (SELECT DISTINCT bkt FROM sparse) b,
       (SELECT DISTINCT bucket FROM sparse) r
), dense AS (
  SELECT g.bkt, g.bucket,
         MAX(s.rho) OVER (PARTITION BY g.bucket ORDER BY g.bkt
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                         ) AS rho
  FROM grid g LEFT JOIN sparse s ON s.bkt = g.bkt AND s.bucket = g.bucket
), agg AS (
  SELECT bkt,
         CAST(SUM(CAST(1 AS BIGINT) << (21 - rho)) AS BIGINT) AS s_nonzero,
         CAST(COUNT(*) AS BIGINT) AS nz
  FROM dense WHERE rho IS NOT NULL GROUP BY 1
), est AS (
  SELECT bkt, nz,
         s_nonzero + (4096 - nz) * 2097152 AS s,
         4096 - nz AS zeros
  FROM agg
), fin AS (
  SELECT bkt, nz, s,
         ROUND(CASE WHEN (25371803950842.746 / CAST(s AS DOUBLE)) <= 10240.0
                         AND zeros > 0
                    THEN 4096.0 * ln(4096.0 / CAST(zeros AS DOUBLE))
                    ELSE 25371803950842.746 / CAST(s AS DOUBLE) END,
               6) AS estimate
  FROM est
), fs AS (
  SELECT user_id,
         MIN(CAST(FLOOR(epoch_us(ts) / 86400000000.0) AS BIGINT)) AS fb
  FROM events WHERE user_id IS NOT NULL GROUP BY 1
), fc AS (
  SELECT fb, CAST(COUNT(*) AS BIGINT) AS c FROM fs GROUP BY 1
), cum AS (
  SELECT b.bkt,
         CAST(SUM(COALESCE(fc.c, 0)) OVER (ORDER BY b.bkt
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT
             ) AS exact_cum
  FROM (SELECT DISTINCT bkt FROM sparse) b LEFT JOIN fc ON fc.fb = b.bkt
)
SELECT f.bkt,
       CAST(4096 AS BIGINT) AS m,
       f.nz AS nonzero_registers,
       f.s AS scaled_sum,
       f.estimate,
       c.exact_cum,
       ROUND((f.estimate / c.exact_cum - 1) * 100, 4) AS rel_err_pct
FROM fin f JOIN cum c USING (bkt)
"""


def t15_doc_perplexity(spark, sf_dir):
    """T15 — per-document cross-entropy / perplexity under the corpus
    bigram LM (ranking.doc_lm_scores): the model-based quality score
    over t13's counts. Pair NLLs are rounded+scaled to exact BIGINT
    micro-units BEFORE the per-doc sum (order-free), so the entropy and
    the rounded exp() perplexity hash-match."""
    from db_loganalyzer_spark.operators.ranking import doc_lm_scores

    docs = _t(spark, sf_dir, "documents")
    return doc_lm_scores(docs, "doc_id", "text")


T15_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
                     t -> t <> '') AS tk
  FROM documents
), pairs AS (
  SELECT doc_id, tk[g.i] AS w1, tk[g.i + 1] AS w2
  FROM toks, unnest(generate_series(1, len(tk) - 1)) AS g(i)
), counts AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n FROM pairs GROUP BY 1, 2
), lm AS (
  SELECT w1, w2,
         n / CAST(SUM(n) OVER (PARTITION BY w1) AS DOUBLE) AS p_cond
  FROM counts
), scored AS (
  SELECT doc_id,
         CAST(FLOOR(ROUND(-ln(p_cond), 6) * 1000000 + 0.5) AS BIGINT) AS nll
  FROM pairs JOIN lm USING (w1, w2)
), agg AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_pairs, SUM(nll) AS s
  FROM scored GROUP BY 1
)
SELECT d.doc_id,
       COALESCE(a.n_pairs, 0) AS n_pairs,
       (CAST(a.s AS DOUBLE) / 1000000.0) / CAST(a.n_pairs AS DOUBLE)
         AS cross_entropy,
       ROUND(exp((CAST(a.s AS DOUBLE) / 1000000.0)
                 / CAST(a.n_pairs AS DOUBLE)), 6) AS perplexity
FROM (SELECT doc_id FROM documents) d LEFT JOIN agg a USING (doc_id)
"""


def t14_shingle_containment(spark, sf_dir):
    """T14 — directional shingle containment (quote/excerpt detection):
    C(src->dst) = |S(src) ∩ S(dst)| / |S(src)|. The asymmetric signal
    Jaccard misses — a paragraph quoted inside a long doc is ~0 Jaccard
    but ~1.0 containment — and the document-level check snippet
    decontamination needs. Same capped inverted-index plan family as
    m02c (stop-shingle cap 200 on by default: containment amplifies
    boilerplate blowup, a stop-shingle-only doc is 'contained' in
    everything)."""
    from db_loganalyzer_spark.operators.dedup import shingle_containment_pairs

    docs = _t(spark, sf_dir, "documents")
    return shingle_containment_pairs(
        docs, threshold=0.4, n=2, max_doc_freq=200
    )


T14_SQL = f"""
WITH sh0 AS ({_M02_SHINGLES}
), hot AS (
  SELECT shingle FROM sh0 GROUP BY 1 HAVING COUNT(*) > 200
), sh AS (
  SELECT id, shingle FROM sh0
  WHERE shingle NOT IN (SELECT shingle FROM hot)
), sizes AS (
  SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY 1
), inter AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY 1, 2
), pairboth AS (
  SELECT id_a, id_b, n_inter, sa.n_sh AS n_a, sb.n_sh AS n_b
  FROM inter
  JOIN sizes sa ON sa.id = id_a
  JOIN sizes sb ON sb.id = id_b
)
SELECT src_id, dst_id, n_inter, n_src, containment FROM (
  SELECT id_a AS src_id, id_b AS dst_id, n_inter, n_a AS n_src,
         n_inter / n_a AS containment
  FROM pairboth
  UNION ALL
  SELECT id_b, id_a, n_inter, n_b, n_inter / n_b FROM pairboth
) WHERE containment >= 0.4
"""


def a29_grouped_hll(spark, sf_dir):
    """A29 — per-group HLL distinct (sketches.hll_estimate_grouped):
    the scale form of GROUP BY event_type, COUNT(DISTINCT user_id).
    The exact form shuffles every distinct (group, key) pair; this
    shuffles <= 4096 register rows per group per map partition and
    finishes with the same verified-estimate math as a22 — estimate
    AND per-group exact + relative error all hash-matched."""
    from db_loganalyzer_spark.operators.sketches import hll_estimate_grouped

    ev = _t(spark, sf_dir, "events")
    est = hll_estimate_grouped(ev, "user_id", ["event_type"], p=12)
    exact = (
        ev.filter(F.col("user_id").isNotNull())
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").cast("bigint").alias("exact_distinct"))
    )
    return est.join(exact, "event_type").select(
        "event_type",
        "m",
        "nonzero_registers",
        "scaled_sum",
        "estimate",
        "exact_distinct",
        F.round(
            (F.col("estimate") / F.col("exact_distinct") - 1) * 100, 4
        ).alias("rel_err_pct"),
    )


A29_SQL = f"""
WITH h AS (
  SELECT event_type, h
  FROM {_mix32_sql_select('user_id',
        '(SELECT event_type, user_id FROM events WHERE user_id IS NOT NULL)',
        passthrough=['event_type'])} x
), pr AS (
  SELECT event_type,
         CAST(h % 4096 AS INT) AS bucket,
         CAST((h - h % 4096) / 4096 AS BIGINT) AS v
  FROM h
), regs AS (
  SELECT event_type, bucket,
         MAX(CASE WHEN v = 0 THEN 21 ELSE 20 - length(bin(v)) + 1 END) AS rho
  FROM pr GROUP BY 1, 2
), agg AS (
  SELECT event_type,
         CAST(SUM(CAST(1 AS BIGINT) << (21 - rho)) AS BIGINT) AS s_nonzero,
         CAST(COUNT(*) AS BIGINT) AS nz
  FROM regs GROUP BY 1
), est AS (
  SELECT event_type, nz,
         s_nonzero + (4096 - nz) * 2097152 AS s,
         4096 - nz AS zeros
  FROM agg
), fin AS (
  SELECT event_type, nz, s,
         ROUND(CASE WHEN (25371803950842.746 / CAST(s AS DOUBLE)) <= 10240.0
                         AND zeros > 0
                    THEN 4096.0 * ln(4096.0 / CAST(zeros AS DOUBLE))
                    ELSE 25371803950842.746 / CAST(s AS DOUBLE) END,
               6) AS estimate
  FROM est
)
SELECT f.event_type,
       CAST(4096 AS BIGINT) AS m,
       f.nz AS nonzero_registers,
       f.s AS scaled_sum,
       f.estimate,
       x.exact_distinct,
       ROUND((f.estimate / x.exact_distinct - 1) * 100, 4) AS rel_err_pct
FROM fin f
JOIN (SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
      FROM events WHERE user_id IS NOT NULL GROUP BY 1) x USING (event_type)
"""


def a30_countmin_freqs(spark, sf_dir):
    """A30 — count-min sketch point-frequency estimates for every
    event_type, next to the exact counts they over-approximate. The
    sketch is depth=4 x width=1024 counters (one bounded partial-agg
    shuffle — map-side output <= 4096 rows per partition whatever the
    volume), the heavy-hitter screen that replaces a full per-key
    groupBy at 100 TB. The depth hashes are the lowbias32 mixer at
    salts d*10007+1 over a portable polynomial string hash, so every
    counter — and therefore the ESTIMATE itself — hash-matches the
    DuckDB restatement: a verified approximation, like a22/a24."""
    from db_loganalyzer_spark.operators.sketches import countmin_estimates
    from db_loganalyzer_spark.operators.textstats import _token_hash

    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type").isNotNull())
        .select(
            "event_type",
            _token_hash(F.col("event_type"), 1_000_000_007).alias("kh"),
        )
    )
    keys = ev.groupBy("event_type", "kh").agg(
        F.count(F.lit(1)).cast("long").alias("exact_n")
    )
    est = countmin_estimates(ev, keys, "kh", depth=4, width=1024)
    return est.select(
        "event_type",
        "exact_n",
        "est",
        F.round((F.col("est") / F.col("exact_n") - 1) * 100, 4).alias(
            "overestimate_pct"
        ),
    )


_A30_CHARFOLD = (
    "list_reduce(list_prepend(CAST(7 AS BIGINT), "
    "list_transform(string_split(event_type, ''), "
    "ch -> CAST(ascii(ch) AS BIGINT))), "
    "(acc, x) -> (acc * 131 + x) % 1000000007)"
)

_A30_BASE = (
    "(SELECT event_type, "
    + _A30_CHARFOLD
    + " AS kh FROM events WHERE event_type IS NOT NULL)"
)


def _a30_bucket_select(d: int, src: str) -> str:
    """Depth-d bucket assignment via the staged mixer (salt d*10007+1)."""
    return _mix32_sql_select(
        "kh", src, passthrough=["event_type"], salt=d * 10007 + 1
    )


A30_SQL = f"""
WITH sk AS (
  {" UNION ALL ".join(
    f'''SELECT {d} AS d, CAST(h % 1024 AS INT) AS bucket,
        CAST(COUNT(*) AS BIGINT) AS cnt
        FROM {_a30_bucket_select(d, _A30_BASE)} s{d} GROUP BY 1, 2'''
    for d in range(4)
  )}
), probe_base AS (
  SELECT DISTINCT event_type, kh FROM {_A30_BASE} pb
), probe AS (
  {" UNION ALL ".join(
    f'''SELECT event_type, {d} AS d, CAST(h % 1024 AS INT) AS bucket
        FROM {_a30_bucket_select(d, "(SELECT * FROM probe_base)")} p{d}'''
    for d in range(4)
  )}
), est AS (
  SELECT p.event_type, MIN(sk.cnt) AS est
  FROM probe p JOIN sk USING (d, bucket)
  GROUP BY 1
)
SELECT e.event_type, x.exact_n, e.est,
       ROUND((CAST(e.est AS DOUBLE) / x.exact_n - 1) * 100, 4) AS overestimate_pct
FROM est e
JOIN (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS exact_n
      FROM events WHERE event_type IS NOT NULL GROUP BY 1) x USING (event_type)
"""


def t07_quality_gate(spark, sf_dir):
    """Composite keep/drop quality gate (length bounds + Gopher
    repetition rules) with failing rules as a sorted joined string."""
    from db_loganalyzer_spark.operators.textstats import quality_gate

    return quality_gate(_t(spark, sf_dir, "documents"))


T07_SQL = r"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
                     x -> x <> '') AS w
  FROM documents
), s AS (
  SELECT doc_id, len(w) AS n,
         CASE WHEN len(w) > 0 THEN len(list_distinct(w)) / len(w) END AS dr,
         CASE WHEN len(w) > 0 THEN
           list_max(list_transform(list_distinct(w),
                                   u -> len(list_filter(w, x -> x = u)))) / len(w) END AS mwf
  FROM t
), r AS (
  SELECT doc_id,
         list_sort(list_filter([
           CASE WHEN n < 5 THEN 'too_few_tokens' END,
           CASE WHEN n > 100000 THEN 'too_many_tokens' END,
           CASE WHEN COALESCE(mwf, 1.0) > 0.30 THEN 'repetitive_word' END,
           CASE WHEN COALESCE(dr, 0.0) < 0.30 THEN 'low_diversity' END
         ], x -> x IS NOT NULL)) AS reasons
  FROM s
)
SELECT doc_id, len(reasons) = 0 AS keep,
       COALESCE(array_to_string(reasons, ','), '') AS reasons
FROM r
"""


def t08_corpus_report(spark, sf_dir):
    """Per-(source, lang) corpus health rollup: doc counts, quality-gate
    keep rate, token/char volume. Ratios derive from integer aggregates so
    the report is bitwise-deterministic under any reduction order."""
    from db_loganalyzer_spark.operators.textstats import corpus_report

    return corpus_report(_t(spark, sf_dir, "documents"))


T08_SQL = r"""
WITH t AS (
  SELECT source, lang, length(text) AS n_chars,
         list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
                     x -> x <> '') AS w
  FROM documents
), s AS (
  SELECT source, lang, n_chars, len(w) AS n,
         CASE WHEN len(w) > 0 THEN len(list_distinct(w)) / len(w) END AS dr,
         CASE WHEN len(w) > 0 THEN
           list_max(list_transform(list_distinct(w),
                                   u -> len(list_filter(w, x -> x = u)))) / len(w) END AS mwf
  FROM t
), k AS (
  SELECT source, lang, n_chars, n,
         (n >= 5 AND n <= 100000
          AND COALESCE(mwf, 1.0) <= 0.30
          AND COALESCE(dr, 0.0) >= 0.30) AS keep
  FROM s
)
SELECT source, lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS keep_rate,
       CAST(SUM(n) AS BIGINT) AS total_words,
       CAST(SUM(n) AS DOUBLE) / COUNT(*) AS avg_words,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM k
GROUP BY 1, 2
"""


def m03_minhash_lsh_dedup(spark, sf_dir):
    """MinHash+LSH near-dup pairs, portable hash family: signatures are
    the affine family over a polynomial shingle hash, band buckets a
    rolling fold — every stage (signatures, banding, candidate join,
    exact-Jaccard verify) is exact integer/rational arithmetic, so the
    FULL approximate pipeline, recall loss included, is hash-checked
    against the DuckDB oracle below. It is the only family: every
    stage stays restatable in the oracle."""
    from db_loganalyzer_spark.operators.dedup import minhash_lsh_dedup

    docs = _t(spark, sf_dir, "documents")
    return minhash_lsh_dedup(docs, threshold=0.12, num_hashes=16, bands=8, n=2)


# Portable-hash MinHash+LSH restated: H(g) = fold(7, 131·acc + codepoint)
# mod 1e9+7 per shingle; sig[k] = min over shingles of (2k+1)·H + (10007k
# + 12345) mod p; band bucket = fold(0, 31·acc + v) mod p over the band's
# 2 signature values; candidates = same (band, bucket); verify = exact
# Jaccard >= 0.12 over the DISTINCT SHINGLE-HASH sets — the hash family
# is shared between engines, so both see identical sets (equal to
# string-set Jaccard absent a 31-bit collision, where they still agree).
M03_SQL = r"""
WITH base AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
                     x -> x <> '') AS words
  FROM documents
), grams AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, greatest(len(words) - 1, 0)),
                                      i -> array_to_string(words[i:i+1], ' '))) AS gs
  FROM base
), gh AS (
  SELECT doc_id, list_transform(gs, g ->
           list_reduce(
             list_prepend(CAST(7 AS BIGINT),
                          list_transform(string_split(g, ''), ch -> CAST(ascii(ch) AS BIGINT))),
             (acc, x) -> (acc * 131 + x) % 1000000007)) AS hs
  FROM grams WHERE len(gs) > 0
), sig AS (
  SELECT doc_id,
         list_transform(generate_series(0, 15), k ->
           list_min(list_transform(hs, h -> ((2*k + 1) * h + (10007*k + 12345)) % 1000000007))) AS sig
  FROM gh
), bands AS (
  SELECT doc_id, b,
         list_reduce(list_prepend(CAST(0 AS BIGINT), sig[2*b+1:2*b+2]),
                     (acc, v) -> (acc * 31 + v) % 1000000007) AS bucket
  FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS b) bb
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.b = b.b AND a.bucket = b.bucket AND a.doc_id < b.doc_id
), sh AS (
  SELECT doc_id AS id, unnest(list_distinct(hs)) AS shingle FROM gh
), sizes AS (
  SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY 1
), inter AS (
  SELECT cand.id_a, cand.id_b, COUNT(*) AS n_inter
  FROM cand
  JOIN sh sa ON sa.id = cand.id_a
  JOIN sh sb ON sb.id = cand.id_b AND sb.shingle = sa.shingle
  GROUP BY 1, 2
)
SELECT inter.id_a, inter.id_b,
       n_inter / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
FROM inter
JOIN sizes sa ON sa.id = inter.id_a
JOIN sizes sb ON sb.id = inter.id_b
WHERE n_inter / (sa.n_sh + sb.n_sh - n_inter) >= 0.12
"""


def m03e_minhash_lsh_estimate(spark, sf_dir):
    """m03's UNCAPPED-scale verify mode as a first-class oracle-paired
    entry: estimated Jaccard = matching-minhash fraction over the
    banding signatures (verify='estimate', round-9). The verify stage
    never touches a shingle array — per-pair cost O(num_hashes), the
    shape that completes uncapped at sf100 where exact verify is
    single-host-disk-bound. Same portable hash family as m03, so the
    estimator itself (signatures, banding, candidate recall loss,
    component-match fraction) is exact integer arithmetic both engines
    restate — the ESTIMATE is hash-checked, not just the pipeline.
    matches/16 is an exact binary fraction, so the >= threshold
    comparison is float-deterministic in both engines. threshold=0.25
    keeps the estimate filter NON-vacuous (ceil(0.25*16)=4 matching
    components required > the 2 a single band collision guarantees —
    the r9 config's 0.12 degenerated to candidate passthrough, pinned
    by test_minhash_estimate_loose_regime_equals_candidates)."""
    from db_loganalyzer_spark.operators.dedup import minhash_lsh_dedup

    docs = _t(spark, sf_dir, "documents")
    return minhash_lsh_dedup(
        docs, threshold=0.25, num_hashes=16, bands=8, n=2, verify="estimate"
    )


# Same CTE chain as M03_SQL through `cand`, then the verify joins hit
# the 16-component SIGNATURES instead of the shingle sets: estimated
# jaccard = |{k : sig_a[k] = sig_b[k]}| / 16.
M03E_SQL = r"""
WITH base AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
                     x -> x <> '') AS words
  FROM documents
), grams AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, greatest(len(words) - 1, 0)),
                                      i -> array_to_string(words[i:i+1], ' '))) AS gs
  FROM base
), gh AS (
  SELECT doc_id, list_transform(gs, g ->
           list_reduce(
             list_prepend(CAST(7 AS BIGINT),
                          list_transform(string_split(g, ''), ch -> CAST(ascii(ch) AS BIGINT))),
             (acc, x) -> (acc * 131 + x) % 1000000007)) AS hs
  FROM grams WHERE len(gs) > 0
), sig AS (
  SELECT doc_id,
         list_transform(generate_series(0, 15), k ->
           list_min(list_transform(hs, h -> ((2*k + 1) * h + (10007*k + 12345)) % 1000000007))) AS sig
  FROM gh
), bands AS (
  SELECT doc_id, b,
         list_reduce(list_prepend(CAST(0 AS BIGINT), sig[2*b+1:2*b+2]),
                     (acc, v) -> (acc * 31 + v) % 1000000007) AS bucket
  FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS b) bb
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.b = b.b AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)
SELECT cand.id_a, cand.id_b,
       CAST(len(list_filter(generate_series(1, 16), i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / 16 AS jaccard
FROM cand
JOIN sig sa ON sa.doc_id = cand.id_a
JOIN sig sb ON sb.doc_id = cand.id_b
WHERE CAST(len(list_filter(generate_series(1, 16), i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / 16 >= 0.25
"""


def m04_simhash_near_dups(spark, sf_dir):
    """SimHash Hamming near-dups, portable hash family: 62-bit token
    hashes (two 31-bit polynomial halves), per-bit +1/-1 sums, 16-bit
    chunk pigeonhole buckets — all exact integer ops, so fingerprints,
    candidate buckets, and Hamming filter hash-check against the DuckDB
    oracle below."""
    from db_loganalyzer_spark.operators.dedup import simhash_near_dups

    docs = _t(spark, sf_dir, "documents")
    return simhash_near_dups(docs, max_hamming=2)


M04_SQL = r"""
WITH base AS (
  SELECT doc_id,
         list_filter(list_distinct(
           string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')),
           x -> x <> '') AS toks
  FROM documents
), th AS (
  SELECT doc_id,
         (((list_reduce(
              list_prepend(CAST(7 AS BIGINT),
                           list_transform(string_split(tok, ''), ch -> CAST(ascii(ch) AS BIGINT))),
              (acc, x) -> (acc * 131 + x) % 2147483647) * 1103515245 + 12345) % 2147483647) << 31)
         + ((list_reduce(
              list_prepend(CAST(11 AS BIGINT),
                           list_transform(string_split(tok, ''), ch -> CAST(ascii(ch) AS BIGINT))),
              (acc, x) -> (acc * 137 + x) % 2147483647) * 69069 + 1) % 2147483647) AS h
  FROM (SELECT doc_id, unnest(toks) AS tok FROM base)
), bits AS (
  SELECT doc_id, j,
         SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM th CROSS JOIN (SELECT unnest(generate_series(0, 61)) AS j) jj
  GROUP BY 1, 2
), fp AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS simhash
  FROM bits GROUP BY 1
), chunks AS (
  SELECT doc_id, simhash, ci, (simhash >> (ci * 16)) & 65535 AS cv
  FROM fp CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS ci) cc
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM chunks a
JOIN chunks b ON a.ci = b.ci AND a.cv = b.cv AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
"""


# ---------------------------------------------------------------------------
# SIM-family: similarity search over embeddings
# ---------------------------------------------------------------------------


def sim01_bruteforce_topk(spark, sf_dir):
    from db_loganalyzer_spark.operators.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return brute_force_topk(emb, queries, k=10)


SIM01_SQL = """
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id,
         ROUND(
           list_sum(list_transform(range(1, 65), i -> q.v[i] * c.v[i]))
           / (sqrt(list_sum(list_transform(range(1, 65), i -> c.v[i] * c.v[i])))
              * sqrt(list_sum(list_transform(range(1, 65), i -> q.v[i] * q.v[i])))),
           4) AS cosine
  FROM e q JOIN e c ON q.vec_id < 5 AND c.vec_id <> q.vec_id
)
SELECT query_id, vec_id, cosine, CAST(rank AS INT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, vec_id) AS rank
  FROM scored
) WHERE rank <= 10
"""


def sim02_lsh_topk(spark, sf_dir):
    """LSH-bucketed ANN top-k. The hyperplanes are seeded numpy literals,
    so the whole approximate pipeline — sign-pattern buckets, candidate
    join, exact cosine, per-query rank — is deterministic and the oracle
    SQL (same plane constants embedded as a VALUES CTE) reproduces it
    exactly, recall loss included. Recall vs brute force additionally
    asserted in pytest."""
    from db_loganalyzer_spark.operators.similarity import lsh_topk

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return lsh_topk(emb, queries, k=10, n_planes=6)


def _planes_cte(n_planes: int = 6, dim: int = 64, seed: int = 42) -> str:
    """The lsh hyperplanes as a DuckDB VALUES CTE. repr(float) round-trips
    to the identical IEEE double in both engines, so the SQL literal IS
    the Spark literal."""
    from db_loganalyzer_spark.operators.similarity import _hyperplanes

    rows = ",\n  ".join(
        f"({i}, [{', '.join(repr(float(x)) for x in p)}]::DOUBLE[])"
        for i, p in enumerate(_hyperplanes(dim, n_planes, seed))
    )
    return f"planes(pid, p) AS (VALUES\n  {rows})"


_COS_SQL = """ROUND(
           list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i]))
           / (sqrt(list_sum(list_transform(range(1, 65), i -> a.v[i] * a.v[i])))
              * sqrt(list_sum(list_transform(range(1, 65), i -> b.v[i] * b.v[i])))),
           4)"""

_LSH_CTES = """e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
     FROM embeddings),
cb AS (
  SELECT e.vec_id,
         CAST(SUM(CASE WHEN list_sum(list_transform(range(1, 65), i -> e.v[i] * p.p[i])) > 0
                       THEN (CAST(1 AS BIGINT) << p.pid) ELSE 0 END) AS BIGINT) AS bucket
  FROM e CROSS JOIN planes p
  GROUP BY e.vec_id
)"""

SIM02_SQL = f"""
WITH {_planes_cte()},
{_LSH_CTES},
scored AS (
  SELECT a.vec_id AS query_id, b.vec_id, {_COS_SQL} AS cosine
  FROM cb qb
  JOIN cb ob ON ob.bucket = qb.bucket
  JOIN e a ON a.vec_id = qb.vec_id
  JOIN e b ON b.vec_id = ob.vec_id AND b.vec_id <> a.vec_id
  WHERE qb.vec_id < 5
)
SELECT query_id, vec_id, cosine, CAST(rank AS INT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, vec_id) AS rank
  FROM scored
) WHERE rank <= 10
"""


def sim03_embedding_near_dups(spark, sf_dir):
    """Embedding-cosine near-dup pairs via LSH self-join — deterministic
    seeded hyperplanes, so bucket collisions and the exact-cosine filter
    hash-check against the oracle (same plane constants)."""
    from db_loganalyzer_spark.operators.similarity import embedding_near_dups

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    return embedding_near_dups(emb, threshold=0.25, n_planes=6)


SIM03_SQL = f"""
WITH {_planes_cte()},
{_LSH_CTES}
SELECT id_a, id_b, cosine FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_COS_SQL} AS cosine
  FROM cb ca
  JOIN cb ob ON ob.bucket = ca.bucket AND ca.vec_id < ob.vec_id
  JOIN e a ON a.vec_id = ca.vec_id
  JOIN e b ON b.vec_id = ob.vec_id
) WHERE cosine >= 0.25
"""


def sim04_ivf_topk(spark, sf_dir):
    """IVF ANN top-k with a deterministic coarse quantizer for the oracle
    row: cells are assigned on integer-quantized vectors (exact double
    arithmetic — the cl02 pattern) against seed centroids = the 8 lowest
    vec_ids, each query probes its n_probe=2 nearest cells, candidates
    scored by exact cosine on the raw doubles. The Spark ML KMeans
    quantizer (fit_ivf_centroids) is the scale default, pytest-pinned
    (exactness at n_probe == n_cells; recall vs brute force)."""
    from db_loganalyzer_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    quant = _quantized_embeddings(spark, sf_dir)
    centroids = [
        [float(x) for x in r["embedding"]]
        for r in quant.filter(F.col("vec_id") < 8).orderBy("vec_id").collect()
    ]
    # assign/probe on the quantized vectors, score on the raw doubles
    corpus = quant.withColumnRenamed("embedding", "qvec").join(
        emb, "vec_id"
    )
    queries = corpus.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        F.col("qvec").alias("query_qvec"),
    )
    return ivf_topk(
        corpus,
        queries,
        k=10,
        n_cells=8,
        n_probe=2,
        centroids=centroids,
        cell_vec_col="qvec",
        query_cell_vec_col="query_qvec",
    )


SIM04_SQL = f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
q AS (SELECT vec_id, list_transform(embedding, x -> FLOOR(CAST(x AS DOUBLE) * 10000)) AS qv
      FROM embeddings),
seeds AS (SELECT vec_id AS cell, qv AS cv FROM q WHERE vec_id < 8),
dists AS (
  SELECT q.vec_id, s.cell,
         list_sum(list_transform(range(1, 65), i -> (q.qv[i] - s.cv[i]) * (q.qv[i] - s.cv[i]))) AS d2
  FROM q CROSS JOIN seeds s
),
assigned AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
    FROM dists
  ) WHERE rn = 1
),
probes AS (
  SELECT vec_id AS query_id, cell FROM (
    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
    FROM dists WHERE vec_id < 5
  ) WHERE rn <= 2
),
scored AS (
  SELECT p.query_id, c.vec_id, {_COS_SQL} AS cosine
  FROM probes p
  JOIN assigned c ON c.cell = p.cell AND c.vec_id <> p.query_id
  JOIN e a ON a.vec_id = p.query_id
  JOIN e b ON b.vec_id = c.vec_id
)
SELECT query_id, vec_id, cosine, CAST(rank AS INT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, vec_id) AS rank
  FROM scored
) WHERE rank <= 10
"""


# ---------------------------------------------------------------------------
# T-family: text analysis
# ---------------------------------------------------------------------------


def t02_text_stats(spark, sf_dir):
    from db_loganalyzer_spark.operators.textstats import (
        bpe_ish_token_count,
        mean_word_len,
        punct_ratio,
        quality_score,
        stopword_ratio,
        token_count,
    )

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        bpe_ish_token_count("text").alias("n_bpe_tokens"),
        F.length("text").alias("n_chars"),
        mean_word_len("text").alias("mean_word_len"),
        punct_ratio("text").alias("punct_ratio"),
        stopword_ratio("text", "en").alias("stopword_ratio_en"),
        quality_score("text").alias("quality"),
    )


T02_SQL = r"""
WITH base AS (
  SELECT doc_id, text,
         list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
                     x -> x <> '') AS toks
  FROM documents
), stats AS (
  SELECT doc_id, text, len(toks) AS n_tokens,
         CASE WHEN len(toks) > 0
              THEN CAST(list_sum(list_transform(toks, t -> len(t))) AS DOUBLE) / len(toks) END AS mwl,
         CASE WHEN length(text) > 0
              THEN CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE) / length(text) END AS pr,
         CASE WHEN len(toks) > 0
              THEN CAST(len(list_filter(toks, t -> list_contains(
                     ['the','a','and','of','to','in','is','that','it','for'], t))) AS DOUBLE) / len(toks)
              END AS swr,
         len(regexp_extract_all(text, '[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\s]')) AS n_bpe
  FROM base
)
SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens, CAST(n_bpe AS INT) AS n_bpe_tokens,
       CAST(length(text) AS INT) AS n_chars,
       mwl AS mean_word_len, pr AS punct_ratio,
       swr AS stopword_ratio_en,
       ROUND(
         (CASE WHEN n_tokens >= 10 AND n_tokens <= 100000 THEN 0.25 ELSE 0.0 END)
         + (CASE WHEN mwl >= 2.5 AND mwl <= 12 THEN 0.25 ELSE 0.0 END)
         + (CASE WHEN COALESCE(pr, 1.0) <= 0.2 THEN 0.25 ELSE 0.0 END)
         + (CASE WHEN COALESCE(swr, 0.0) >= 0.02 THEN 0.25 ELSE 0.0 END), 2) AS quality
FROM stats
"""


def t03_language_id(spark, sf_dir):
    from db_loganalyzer_spark.operators.textstats import detect_language

    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(detect_language("text").alias("lang_detected"))
        .groupBy("lang_detected")
        .agg(F.count(F.lit(1)).alias("n"))
    )


T03_SQL = r"""
WITH base AS (
  SELECT list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
                     x -> x <> '') AS toks
  FROM documents
), scored AS (
  SELECT CASE WHEN len(toks) = 0 THEN NULL
              ELSE list_max([
    {'score': CAST(len(list_filter(toks, t -> list_contains(['the','a','and','of','to','in','is','that','it','for'], t))) AS DOUBLE) / len(toks), 'lang': 'en'},
    {'score': CAST(len(list_filter(toks, t -> list_contains(['der','die','das','und','ist','nicht','ein','zu','mit','ich'], t))) AS DOUBLE) / len(toks), 'lang': 'de'},
    {'score': CAST(len(list_filter(toks, t -> list_contains(['le','la','les','et','est','un','une','que','pour','dans'], t))) AS DOUBLE) / len(toks), 'lang': 'fr'},
    {'score': CAST(len(list_filter(toks, t -> list_contains(['el','la','los','y','es','un','una','que','por','como'], t))) AS DOUBLE) / len(toks), 'lang': 'es'}
  ]) END AS best
  FROM base
)
SELECT CASE WHEN best IS NULL OR best.score <= 0 THEN 'und' ELSE best.lang END AS lang_detected,
       COUNT(*) AS n
FROM scored GROUP BY 1
"""


def t04_fingerprints(spark, sf_dir):
    """Rolling-hash document fingerprints (pure polynomial arithmetic —
    exactly reproducible in DuckDB, so hash-matched)."""
    from db_loganalyzer_spark.operators.textstats import fingerprint

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint("text").alias("fingerprint"))


T04_SQL = r"""
WITH base AS (
  SELECT doc_id,
         list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
                     x -> x <> '') AS toks
  FROM documents
), th AS (
  SELECT doc_id,
         list_transform(toks, t ->
           list_reduce(
             list_prepend(CAST(7 AS BIGINT),
                          list_transform(string_split(t, ''), ch -> CAST(ascii(ch) AS BIGINT))),
             (acc, x) -> (acc * 131 + x) % 1000000007)) AS hashes
  FROM base
)
SELECT doc_id,
       list_reduce(list_prepend(CAST(0 AS BIGINT), hashes),
                   (acc, h) -> (acc * 31 + h) % 1000000007) AS fingerprint
FROM th
"""


def c01_chunk_summaries(spark, sf_dir):
    """Recursive character splitting 500/100 + per-doc chunk accounting.
    The splitter is deterministic pure Python; C01_SQL restates the greedy
    word-merge + 100-char overlap as a recursive CTE, so this hash-matches."""
    from db_loganalyzer_spark.operators.chunking import (
        chunk_summaries,
        recursive_character_split,
    )

    docs = _t(spark, sf_dir, "documents")
    return chunk_summaries(recursive_character_split(docs))


# Restates split_text (operators/chunking.py) for the realized separator
# path on the documents table (no newlines -> split on ' ', words never
# exceed chunk_size): chunk k covers words [s..e]; e is the largest index
# with chars+joiners <= 500 (but always advances by >= 1 word); the next
# start is the smallest t with suffix cost <= 100 (the overlap carry).
C01_SQL = r"""
WITH RECURSIVE
long_docs AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS words
  FROM documents WHERE length(text) > 500
),
pre AS (
  SELECT doc_id, words, len(words) AS n,
         list_prepend(CAST(0 AS BIGINT),
           list_transform(range(1, len(words) + 1),
             i -> CAST(list_sum(list_transform(words[1:i], w -> length(w))) AS BIGINT))) AS P
  FROM long_docs
),
rec AS (
  SELECT doc_id, words, n, P, 0 AS k, 0 AS s,
         greatest(coalesce(list_max(list_filter(range(0, n),
             e -> (P[e+2] - P[1] + e) <= 500)), 0), 0) AS e
  FROM pre
  UNION ALL
  SELECT doc_id, words, n, P, k + 1 AS k, s2 AS s,
         greatest(coalesce(list_max(list_filter(range(s2, n),
             e2 -> (P[e2+2] - P[s2+1] + (e2 - s2)) <= 500)), e + 1), e + 1) AS e
  FROM (
    SELECT doc_id, words, n, P, k, e,
           coalesce(list_min(list_filter(range(s, e + 1),
               t -> (P[e+2] - P[t+1] + (e - t)) <= 100)), e + 1) AS s2
    FROM rec WHERE e < n - 1
  )
),
all_chunks AS (
  SELECT doc_id, array_to_string(words[s+1:e+1], ' ') AS chunk_text FROM rec
  UNION ALL
  SELECT doc_id, text AS chunk_text
  FROM documents WHERE length(text) <= 500 AND length(text) > 0
)
SELECT doc_id,
       COUNT(*) AS n_chunks,
       CAST(SUM(length(chunk_text)) AS BIGINT) AS total_chars,
       AVG(length(chunk_text)) AS avg_chunk_len,
       CAST(SUM(len(regexp_extract_all(chunk_text, '[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\s]'))) AS BIGINT) AS total_tokens
FROM all_chunks GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# MM-family: multimodal column plumbing
# ---------------------------------------------------------------------------


def mm01_decode_media(spark, sf_dir):
    """MM01 — REAL image decode through the mapInPandas plumbing: the
    media table's payloads are actual byte streams of three real
    formats (ids cycle 24-bit BMP / binary P6 PPM / 8-bit PNG — built
    by multimodal.synth_image_payload in a pandas stage, the
    binaryFile-source shape), and pure_python_decode_backend parses the
    headers AND validates/decodes the pixel arrays — for PNG that means
    a real zlib inflate plus reversal of all five row filters (the
    encoder cycles the filter per row). No codec stub in this path.
    Dimensions and byte lengths are pure functions of the id (PNG uses
    stored-block zlib framing, so even ITS byte length is closed-form),
    and the oracle restates what the decoder must extract from the
    bytes: a wrong header offset, row-padding rule, filter reversal, or
    channel order fails the hash. (fake_decode_backend remains only for
    codecs this container truly cannot decode — JPEG/MP3/MP4.)"""
    from db_loganalyzer_spark.operators.multimodal import (
        decode_media,
        media_table_synthetic_images,
        pure_python_decode_backend,
    )

    docs = _t(spark, sf_dir, "documents")
    media = media_table_synthetic_images(docs)
    return decode_media(media, decode_backend=pure_python_decode_backend)


# byte_len restated from the real encodings: BMP = 54-byte headers +
# 4-aligned BGR rows; PPM = "P6\n{w} {h}\n255\n" + 3wh raw bytes; PNG =
# 8 sig + 25 IHDR + 12 IEND + (12 + idat) IDAT where idat wraps the
# h*(1+3w) filtered scanline bytes in stored zlib blocks (2 hdr + 5
# block hdr + 4 adler; single block — payloads stay far under 64 KiB),
# i.e. 68 + h*(1+3w) total.
MM01_SQL = """
WITH m AS (
  SELECT doc_id AS media_id, 4 + doc_id % 13 AS w, 3 + doc_id % 7 AS h
  FROM documents
)
SELECT media_id, 'image' AS media_type,
       CAST(CASE media_id % 3
                 WHEN 0 THEN 54 + ((3 * w + 3) // 4) * 4 * h
                 WHEN 1 THEN 9 + length(CAST(w AS VARCHAR))
                             + length(CAST(h AS VARCHAR)) + 3 * w * h
                 ELSE 68 + h * (1 + 3 * w)
            END AS BIGINT) AS byte_len,
       CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       1 AS n_frames,
       CASE media_id % 3 WHEN 0 THEN 'bmp' WHEN 1 THEN 'ppm'
            ELSE 'png' END AS format
FROM m
"""


def mm02_resize_plan(spark, sf_dir):
    """MM02 — resize planning over REALLY-decoded dimensions (the mm01
    path: real BMP/PPM/PNG bytes through pure_python_decode_backend), then
    pure JVM column math for the scale plan. max_side=8 sits inside the
    synthetic dimension range (w in 4..16, h in 3..9) so both branches
    of the scale rule are exercised and hash-checked."""
    from db_loganalyzer_spark.operators.multimodal import (
        decode_media,
        media_table_synthetic_images,
        pure_python_decode_backend,
        resize_plan,
    )

    docs = _t(spark, sf_dir, "documents")
    decoded = decode_media(
        media_table_synthetic_images(docs),
        decode_backend=pure_python_decode_backend,
    )
    return resize_plan(decoded, max_side=8)


MM02_SQL = """
WITH d AS (
  SELECT doc_id AS media_id,
         CAST(4 + doc_id % 13 AS INT) AS width,
         CAST(3 + doc_id % 7 AS INT) AS height
  FROM documents
)
SELECT media_id, width, height,
       ROUND(CASE WHEN greatest(width, height) > 8
                  THEN 8.0 / greatest(width, height) ELSE 1.0 END, 4) AS scale,
       CAST(ceil(width * (CASE WHEN greatest(width, height) > 8
                  THEN 8.0 / greatest(width, height) ELSE 1.0 END)) AS INT) AS out_width,
       CAST(ceil(height * (CASE WHEN greatest(width, height) > 8
                  THEN 8.0 / greatest(width, height) ELSE 1.0 END)) AS INT) AS out_height
FROM d
"""


def mm04_pixel_stats(spark, sf_dir):
    """MM04 — pixel statistics THROUGH the real decoder: each payload's
    actual BMP/PPM/PNG pixel array is parsed inside a mapInPandas stage
    (multimodal.decode_pixel_stats) and reduced to exact integer
    channel sums. The synthetic payloads' pixels are a closed-form
    function of the id, so the oracle restates the sums the decoder
    must have read — a wrong BGR order, row padding, bottom-up flip, or
    off-by-one in the pixel walk fails the hash on the VALUES, not just
    the header fields. This is the strongest form of the 'no codec
    stub' claim the multimodal family can make wheel-free."""
    from db_loganalyzer_spark.operators.multimodal import (
        decode_pixel_stats,
        media_table_synthetic_images,
    )

    docs = _t(spark, sf_dir, "documents")
    return decode_pixel_stats(media_table_synthetic_images(docs))


# pixel (r,g,b) at index i of media id m: ((m+3i) % 256, (m+3i+1) % 256,
# (m+3i+2) % 256) over i in [0, w*h) — the sums restated with one
# generate_series per channel offset.
MM04_SQL = """
WITH m AS (
  SELECT doc_id AS media_id,
         CAST(4 + doc_id % 13 AS INT) AS width,
         CAST(3 + doc_id % 7 AS INT) AS height
  FROM documents
)
SELECT media_id,
       CASE media_id % 3 WHEN 0 THEN 'bmp' WHEN 1 THEN 'ppm'
            ELSE 'png' END AS format,
       width, height,
       CAST(width * height AS BIGINT) AS n_pixels,
       CAST(list_sum(list_transform(generate_series(0, width * height - 1),
                                    i -> (media_id + 3 * i) % 256))
            AS BIGINT) AS sum_r,
       CAST(list_sum(list_transform(generate_series(0, width * height - 1),
                                    i -> (media_id + 3 * i + 1) % 256))
            AS BIGINT) AS sum_g,
       CAST(list_sum(list_transform(generate_series(0, width * height - 1),
                                    i -> (media_id + 3 * i + 2) % 256))
            AS BIGINT) AS sum_b
FROM m
"""


def mm10_jpeg_pixel_stats(spark, sf_dir):
    """MM10 — pixel statistics THROUGH the real baseline-JPEG decoder
    (multimodal.decode_jpeg): each payload is an actual ITU T.81
    sequential-DCT byte stream — JFIF/DQT/SOF0/DHT/SOS markers,
    canonical huffman entropy coding, byte stuffing — decoded by the
    full pipeline (huffman -> dequantize -> inverse zigzag -> IDCT ->
    level shift -> crop) inside a mapInPandas stage and reduced to
    exact integer channel sums. The synthetic images are grayscale
    constant 8x8 tiles at EVEN offsets from 128 — the codec's exact
    fixed point (DC = 16k quantizes by the Annex-K luma quantum 16 to
    k losslessly; the DC-only IDCT returns 2k + 128 bit-for-bit) — so
    the oracle restates the decoded VALUES as a closed form of the id
    even though the codec is lossy on general inputs: a wrong huffman
    table, zigzag order, predictor reset, dequant index, or crop
    off-by-one fails the hash. Retires the fake backend for images
    entirely (the reference has no image path at all; brief:
    multimodal columns first-class)."""
    from db_loganalyzer_spark.operators.multimodal import (
        decode_pixel_stats,
        media_table_synthetic_jpeg,
    )

    docs = _t(spark, sf_dir, "documents")
    return decode_pixel_stats(media_table_synthetic_jpeg(docs))


# gray value at pixel (x, y) of media id m: the 8x8 tile constant
# 128 + 2*(((m + 5*(x div 8) + 11*(y div 8)) % 61) - 30); sums restated
# per pixel over i in [0, w*h) with x = i % w, y = i div w
MM10_SQL = """
WITH m AS (
  SELECT doc_id AS media_id,
         CAST(6 + doc_id % 17 AS INT) AS width,
         CAST(5 + doc_id % 11 AS INT) AS height
  FROM documents
), s AS (
  SELECT media_id, width, height,
         CAST(list_sum(list_transform(
             generate_series(0, width * height - 1),
             i -> 128 + 2 * (((media_id + 5 * ((i % width) // 8)
                               + 11 * ((i // width) // 8)) % 61) - 30)
         )) AS BIGINT) AS sum_gray
  FROM m
)
SELECT media_id, 'jpeg' AS format, width, height,
       CAST(width * height AS BIGINT) AS n_pixels,
       sum_gray AS sum_r, sum_gray AS sum_g, sum_gray AS sum_b
FROM s
"""


def mm11_gif_pixel_stats(spark, sf_dir):
    """MM11 — pixel statistics THROUGH the real GIF decoder
    (multimodal.decode_gif): each payload is an actual GIF89a byte
    stream — logical screen descriptor, global color table, and REAL
    LZW entropy coding (variable-width codes, dictionary growth,
    sub-block framing) — decoded inside the same mapInPandas stage as
    the other image codecs and reduced to exact integer channel sums.
    GIF is lossless, so the oracle restates the decoded VALUES directly
    from the synth closed form (palette slot (id + 7i) % 8, channel
    c_j = ((3,5,7)[c]*id + (11,13,17)[c]*j) % 256): a wrong LZW
    code-width transition, dictionary rebuild, palette index, or
    sub-block walk fails the hash. Retires the GIF half of the
    unavailable-codec slot (r12 verdict item #2); the reference has no
    media path at all (brief: multimodal columns first-class)."""
    from db_loganalyzer_spark.operators.multimodal import (
        decode_pixel_stats,
        media_table_synthetic_gif,
    )

    docs = _t(spark, sf_dir, "documents")
    return decode_pixel_stats(media_table_synthetic_gif(docs))


# pixel i of media id m uses palette slot j = (m + 7i) % 8 with
# channels ((3m + 11j) % 256, (5m + 13j) % 256, (7m + 17j) % 256) over
# w = 5 + m % 14, h = 4 + m % 8
MM11_SQL = """
WITH m AS (
  SELECT doc_id AS media_id,
         CAST(5 + doc_id % 14 AS INT) AS width,
         CAST(4 + doc_id % 8 AS INT) AS height
  FROM documents
)
SELECT media_id, 'gif' AS format, width, height,
       CAST(width * height AS BIGINT) AS n_pixels,
       CAST(list_sum(list_transform(generate_series(0, width * height - 1),
                i -> (3 * media_id + 11 * ((media_id + 7 * i) % 8)) % 256))
            AS BIGINT) AS sum_r,
       CAST(list_sum(list_transform(generate_series(0, width * height - 1),
                i -> (5 * media_id + 13 * ((media_id + 7 * i) % 8)) % 256))
            AS BIGINT) AS sum_g,
       CAST(list_sum(list_transform(generate_series(0, width * height - 1),
                i -> (7 * media_id + 17 * ((media_id + 7 * i) % 8)) % 256))
            AS BIGINT) AS sum_b
FROM m
"""


def mm12_adpcm_audio_stats(spark, sf_dir):
    """MM12 — audio statistics THROUGH the real IMA-ADPCM decoder
    (multimodal._decode_ima_adpcm via decode_wav's format-tag
    dispatch): each payload is an actual compressed WAV — fmt 0x11
    with the samplesPerBlock extension, a REQUIRED fact chunk, block
    headers (seed sample + step index) and low-nibble-first 4-bit
    codes — decoded by the exact IMA recurrence inside the shared
    decode_audio_stats mapInPandas stage. The nibble stream is the
    synth closed form (nibble i = (7*id + 3*i) % 16, seed
    ((31*id) % 2001) - 1000, index id % 89), so the oracle restates
    the decoded SAMPLE VALUES as a recursive CTE over the same step
    tables: a wrong step lookup, clamp, sign bit, index adaptation, or
    nibble order fails the hash. First compressed audio through the
    real path — retires the audio half of the unavailable-codec slot
    (r12 verdict item #3)."""
    from db_loganalyzer_spark.operators.multimodal import (
        decode_audio_stats,
        media_table_synthetic_adpcm,
    )

    docs = _t(spark, sf_dir, "documents")
    return decode_audio_stats(media_table_synthetic_adpcm(docs))


# the decoded stream is sample_0 = ((31*id) % 2001) - 1000 followed by
# the IMA recurrence over nibbles (7*id + 3*i) % 16 from step index
# id % 89 — restated as a recursive CTE carrying (pred, idx) plus the
# running aggregates; list literal = the 89-entry IMA step table
_IMA_STEPS_SQL = (
    "[7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,41,45,50,55,60,"
    "66,73,80,88,97,107,118,130,143,157,173,190,209,230,253,279,307,337,"
    "371,408,449,494,544,598,658,724,796,876,963,1060,1166,1282,1411,"
    "1552,1707,1878,2066,2272,2499,2749,3024,3327,3660,4026,4428,4871,"
    "5358,5894,6484,7132,7845,8630,9493,10442,11487,12635,13899,15289,"
    "16818,18500,20350,22385,24623,27086,29794,32767]"
)

MM12_SQL = f"""
WITH RECURSIVE dec AS (
  SELECT doc_id AS media_id,
         CAST(40 + doc_id % 113 AS BIGINT) AS n,
         CAST(1 AS BIGINT) AS i,
         CAST(((31 * doc_id) % 2001) - 1000 AS BIGINT) AS pred,
         CAST(doc_id % 89 AS BIGINT) AS idx,
         CAST(abs(((31 * doc_id) % 2001) - 1000) AS BIGINT) AS sum_abs,
         CAST((((31 * doc_id) % 2001) - 1000)
              * (((31 * doc_id) % 2001) - 1000) AS BIGINT) AS sum_sq,
         CAST(0 AS BIGINT) AS zc
  FROM documents
  UNION ALL
  SELECT media_id, n, i + 1,
         greatest(-32768, least(32767,
             pred + CASE WHEN nib >= 8 THEN -d ELSE d END)),
         greatest(0, least(88, idx + CASE nib % 8
             WHEN 4 THEN 2 WHEN 5 THEN 4 WHEN 6 THEN 6 WHEN 7 THEN 8
             ELSE -1 END)),
         sum_abs + abs(greatest(-32768, least(32767,
             pred + CASE WHEN nib >= 8 THEN -d ELSE d END))),
         sum_sq + greatest(-32768, least(32767,
             pred + CASE WHEN nib >= 8 THEN -d ELSE d END))
                * greatest(-32768, least(32767,
             pred + CASE WHEN nib >= 8 THEN -d ELSE d END)),
         zc + CASE WHEN pred * greatest(-32768, least(32767,
             pred + CASE WHEN nib >= 8 THEN -d ELSE d END)) < 0
              THEN 1 ELSE 0 END
  FROM (
    SELECT *,
           (step // 8)
           + CASE WHEN (nib % 8) >= 4 THEN step ELSE 0 END
           + CASE WHEN (nib % 4) >= 2 THEN step // 2 ELSE 0 END
           + CASE WHEN (nib % 2) = 1 THEN step // 4 ELSE 0 END AS d
    FROM (
      SELECT *,
             (7 * media_id + 3 * (i - 1)) % 16 AS nib,
             list_extract({_IMA_STEPS_SQL}, CAST(idx + 1 AS INT)) AS step
      FROM dec
      WHERE i < n
    ) a
  ) b
)
SELECT media_id, CAST(8000 AS INT) AS sample_rate, n AS n_samples,
       n * 1000000 // 8000 AS duration_us,
       sum_abs, sum_sq, zc AS zero_crossings
FROM dec WHERE i = n
"""


def mm13_mulaw_audio_stats(spark, sf_dir):
    """MM13 — audio statistics THROUGH the real G.711 mu-law decoder
    (multimodal.mulaw_decode_byte via decode_wav's format-tag
    dispatch): each payload is an actual companded WAV (tag 7, 8 bits/
    sample, fact chunk) expanded by the exact segmented closed form
    ((mant<<3)+0x84)<<exp - 0x84 with the complement and sign fold.
    The byte stream is the synth closed form, and because mu-law
    expansion is STATELESS the oracle restates the decoded values as
    pure per-byte column math — no recursion, the deliberate contrast
    with mm12's ADPCM recurrence: two compressed audio codecs, two
    oracle disciplines. Companding is exact (encode(decode(b)) == b
    for all bytes except the G.711 negative zero, pytest-pinned)."""
    from db_loganalyzer_spark.operators.multimodal import (
        decode_audio_stats,
        media_table_synthetic_mulaw,
    )

    docs = _t(spark, sf_dir, "documents")
    return decode_audio_stats(media_table_synthetic_mulaw(docs))


# sample i of media id m: G.711 expansion of byte (13m + 7i) % 256 —
# c = 255 - b, mag = ((c%16)*8 + 132) * 2^((c//16)%8) - 132, negative
# when c >= 128; aggregates over n = 50 + m % 97 samples at 8 kHz
MM13_SQL = """
WITH d AS (
  SELECT media_id, i,
         CASE WHEN c >= 128 THEN -(((c % 16) * 8 + 132)
                  * CAST(POWER(2, (c // 16) % 8) AS BIGINT) - 132)
              ELSE (((c % 16) * 8 + 132)
                  * CAST(POWER(2, (c // 16) % 8) AS BIGINT) - 132)
         END AS v
  FROM (
    SELECT doc_id AS media_id, i,
           255 - ((13 * doc_id + 7 * i) % 256) AS c
    FROM documents, unnest(generate_series(0, 49 + doc_id % 97)) t(i)
  ) raw
)
SELECT media_id, CAST(8000 AS INT) AS sample_rate,
       CAST(COUNT(*) AS BIGINT) AS n_samples,
       CAST(COUNT(*) AS BIGINT) * 1000000 // 8000 AS duration_us,
       CAST(SUM(ABS(v)) AS BIGINT) AS sum_abs,
       CAST(SUM(v * v) AS BIGINT) AS sum_sq,
       CAST(SUM(CASE WHEN prev * v < 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS zero_crossings
FROM (SELECT *, lag(v) OVER (PARTITION BY media_id ORDER BY i) AS prev
      FROM d) w
GROUP BY media_id
"""


def mm14_mjpeg_video_stats(spark, sf_dir):
    """MM14 — channel statistics THROUGH a real Motion-JPEG decode
    path (multimodal.decode_avi MJPG branch): each payload is an
    actual MJPEG AVI — RIFF chunk tree with fourcc/compression 'MJPG'
    and every '00dc' frame a complete baseline-JPEG byte stream —
    decoded frame-by-frame through the FULL JPEG codec (huffman ->
    dequant -> IDCT -> crop) inside the shared decode_video_stats
    mapInPandas stage. Frames are the JPEG fixed point (mm10's
    even-offset constant tiles) with the frame index folded into the
    tile rule, so pixel values across ALL frames stay a closed form of
    (id, frame) and the oracle restates the sums exactly: a wrong
    frame order, chunk walk, or any codec defect fails the hash.
    First COMPRESSED video through the real path — with mm12/mm13
    audio, every media family now has a real compressed codec
    (honest residual shrinks to webp/mp3/mp4)."""
    from db_loganalyzer_spark.operators.multimodal import (
        decode_video_stats,
        media_table_synthetic_mjpeg,
    )

    docs = _t(spark, sf_dir, "documents")
    return decode_video_stats(media_table_synthetic_mjpeg(docs))


# gray value at pixel (x, y) of frame f, media id m: the 8x8 tile
# constant 128 + 2*(((m + 5*(x div 8) + 11*(y div 8) + 7*f) % 61) - 30)
# over w = 6 + m % 9, h = 5 + m % 7, n_frames = 1 + m % 4
MM14_SQL = """
WITH m AS (
  SELECT doc_id AS media_id,
         CAST(6 + doc_id % 9 AS INT) AS width,
         CAST(5 + doc_id % 7 AS INT) AS height,
         CAST(1 + doc_id % 4 AS INT) AS n_frames
  FROM documents
), s AS (
  SELECT media_id, width, height, n_frames,
         CAST(list_sum(list_transform(
             generate_series(0, n_frames * width * height - 1),
             i -> 128 + 2 * (((media_id
                 + 5 * (((i % (width * height)) % width) // 8)
                 + 11 * (((i % (width * height)) // width) // 8)
                 + 7 * (i // (width * height))) % 61) - 30)
         )) AS BIGINT) AS sum_gray
  FROM m
)
SELECT media_id, width, height, n_frames,
       CAST(width * height * n_frames AS BIGINT) AS n_pixels,
       sum_gray AS sum_r, sum_gray AS sum_g, sum_gray AS sum_b
FROM s
"""


def mm05_patch_plan(spark, sf_dir):
    """MM05 — ViT-style patch tiling over REALLY-decoded dimensions
    (multimodal.patch_plan): one row per patch with clipped pixel
    bounds, a pure JVM 1->N sequence explode downstream of the real
    decode (mm01's path). patch=4 sits inside the synthetic dimension
    range so edge clipping is exercised on both axes."""
    from db_loganalyzer_spark.operators.multimodal import (
        decode_media,
        media_table_synthetic_images,
        patch_plan,
        pure_python_decode_backend,
    )

    docs = _t(spark, sf_dir, "documents")
    decoded = decode_media(
        media_table_synthetic_images(docs),
        decode_backend=pure_python_decode_backend,
    )
    return patch_plan(decoded, patch=4)


MM05_SQL = """
WITH d AS (
  SELECT doc_id AS media_id,
         CAST(4 + doc_id % 13 AS INT) AS width,
         CAST(3 + doc_id % 7 AS INT) AS height
  FROM documents
)
SELECT media_id,
       CAST(pr.r AS INT) AS patch_row, CAST(pc.c AS INT) AS patch_col,
       CAST(pc.c * 4 AS INT) AS x0, CAST(pr.r * 4 AS INT) AS y0,
       CAST(least(pc.c * 4 + 4, width) AS INT) AS x1,
       CAST(least(pr.r * 4 + 4, height) AS INT) AS y1
FROM d,
     unnest(generate_series(0, CAST(ceil(height / 4.0) AS INT) - 1)) pr(r),
     unnest(generate_series(0, CAST(ceil(width / 4.0) AS INT) - 1)) pc(c)
"""


def mm06_audio_stats(spark, sf_dir):
    """MM06 — audio statistics THROUGH a real RIFF/WAVE parser: each
    payload is an actual PCM-16 WAV byte stream (multimodal.
    synth_audio_payload — chunk list, fmt validation, int16 sample
    array) decoded inside a mapInPandas stage (decode_audio_stats) and
    reduced to exact integer aggregates: abs-sum, square-sum, strict
    zero crossings, integer-microsecond duration. The samples are a
    closed-form function of the id (s_i = ((id*31+i*17) % 2001) - 1000
    over 40 + id % 113 samples at 8 kHz), so the oracle restates the
    values the parser must have decoded — a wrong chunk walk,
    endianness, or truncation handling fails the hash on the sample
    VALUES. Completes the real-decode story across modalities
    (mm04 pixels, mm06 samples); reference's media handling is absent
    entirely — this family is the §2.14 multimodal extension."""
    from db_loganalyzer_spark.operators.multimodal import (
        decode_audio_stats,
        media_table_synthetic_audio,
    )

    docs = _t(spark, sf_dir, "documents")
    return decode_audio_stats(media_table_synthetic_audio(docs))


# sample i of media id m: ((m*31 + i*17) % 2001) - 1000 over
# i in [0, 40 + m % 113); stats restated with generate_series.
MM06_SQL = """
WITH m AS (
  SELECT doc_id AS media_id,
         CAST(40 + doc_id % 113 AS BIGINT) AS n
  FROM documents
)
SELECT media_id,
       CAST(8000 AS INT) AS sample_rate,
       n AS n_samples,
       n * 125 AS duration_us,
       CAST(list_sum(list_transform(generate_series(0, n - 1),
                i -> abs((media_id * 31 + i * 17) % 2001 - 1000)))
            AS BIGINT) AS sum_abs,
       CAST(list_sum(list_transform(generate_series(0, n - 1),
                i -> ((media_id * 31 + i * 17) % 2001 - 1000)
                     * ((media_id * 31 + i * 17) % 2001 - 1000)))
            AS BIGINT) AS sum_sq,
       CAST(list_sum(list_transform(generate_series(1, n - 1),
                i -> CASE WHEN ((media_id * 31 + (i - 1) * 17) % 2001 - 1000)
                              * ((media_id * 31 + i * 17) % 2001 - 1000) < 0
                          THEN 1 ELSE 0 END))
            AS BIGINT) AS zero_crossings
FROM m
"""


def st16_streaming_media_decode(spark, sf_dir):
    """ST16 — mm06's streaming form: the media decode path is stateless
    per-row (mapInPandas builds real WAV bytes, the RIFF parser decodes
    them, integer stats reduce per clip), so it runs UNCHANGED on a
    file-source stream over the documents landing directory — no
    watermark, no state store, append mode; each micro-batch does its
    own decode work and the availableNow drain equals the batch oracle
    row-for-row. This is the ingest shape a 100 TB media pipeline
    runs: decode at landing time, metadata+features to a table, bytes
    never shuffled (the payload column is born and dies inside one
    narrow stage)."""
    from db_loganalyzer_spark.operators.multimodal import (
        decode_audio_stats,
        media_table_synthetic_audio,
    )

    stream = ST.read_table_stream(spark, sf_dir, "documents")
    out = decode_audio_stats(media_table_synthetic_audio(stream))
    return _drain(out, "st16")


# stateless 1:1 per row, so the availableNow drain equals the batch
# oracle exactly — same SQL as mm06.
ST16_SQL = MM06_SQL


def mm07_video_stats(spark, sf_dir):
    """MM07 — video statistics THROUGH a real RIFF/AVI parser: each
    payload is an actual uncompressed AVI byte stream (multimodal.
    synth_video_payload — hdrl/avih/strl headers, movi LIST, one DIB
    '00db' chunk per frame) whose EVERY frame is pixel-decoded inside
    a mapInPandas stage (decode_video_stats) and reduced to exact
    integer channel sums over the whole clip. Pixels are a closed-form
    function of (id, frame, index), so the oracle restates the values
    the parser must have decoded across all frames — a wrong chunk
    walk, frame order, row padding, or BGR/bottom-up handling fails
    the hash. With mm04 (image pixels) and mm06 (audio samples) this
    makes all three modalities REALLY decoded, wheel-free; the fake
    backend survives only for compressed codecs (JPEG/H.264/MP3)."""
    from db_loganalyzer_spark.operators.multimodal import (
        decode_video_stats,
        media_table_synthetic_videos,
    )

    docs = _t(spark, sf_dir, "documents")
    return decode_video_stats(media_table_synthetic_videos(docs))


# pixel i of frame f of media id m: ((m + 7f + 3i) % 256, +1, +2) over
# w = 4 + m % 9, h = 3 + m % 5, f in [0, 1 + m % 90); flattened to one
# generate_series via k -> (f, i) = (k // wh, k % wh).
MM07_SQL = """
WITH m AS (
  SELECT doc_id AS media_id,
         CAST(4 + doc_id % 9 AS INT) AS width,
         CAST(3 + doc_id % 5 AS INT) AS height,
         CAST(1 + doc_id % 90 AS INT) AS n_frames
  FROM documents
)
SELECT media_id, width, height, n_frames,
       CAST(width * height * n_frames AS BIGINT) AS n_pixels,
       CAST(list_sum(list_transform(
              generate_series(0, width * height * n_frames - 1),
              k -> (media_id + 7 * (k // (width * height))
                    + 3 * (k % (width * height))) % 256))
            AS BIGINT) AS sum_r,
       CAST(list_sum(list_transform(
              generate_series(0, width * height * n_frames - 1),
              k -> (media_id + 7 * (k // (width * height))
                    + 3 * (k % (width * height)) + 1) % 256))
            AS BIGINT) AS sum_g,
       CAST(list_sum(list_transform(
              generate_series(0, width * height * n_frames - 1),
              k -> (media_id + 7 * (k // (width * height))
                    + 3 * (k % (width * height)) + 2) % 256))
            AS BIGINT) AS sum_b
FROM m
"""


def mm03_frame_sample(spark, sf_dir):
    """MM03 — frame-sampling plan: every-30th-frame index per video row
    (operators/multimodal.frame_sample_plan) — the UDTF 1->N shape as a
    pure JVM explode of a sequence, no Python in the fan-out. Since
    round 10 the frame counts come from the REAL AVI parser over real
    uncompressed video bytes (pure_python_decode_backend counting the
    movi '00db' chunks it decoded), not the fake backend: n_frames =
    1 + id % 90 by the synth rule, restated by the oracle."""
    from db_loganalyzer_spark.operators.multimodal import (
        decode_media,
        frame_sample_plan,
        media_table_synthetic_videos,
        pure_python_decode_backend,
    )

    docs = _t(spark, sf_dir, "documents")
    decoded = decode_media(
        media_table_synthetic_videos(docs),
        decode_backend=pure_python_decode_backend,
    )
    return frame_sample_plan(decoded, every_n=30)


MM03_SQL = """
WITH d AS (
  SELECT doc_id AS media_id,
         CAST(1 + doc_id % 90 AS INT) AS n_frames
  FROM documents
)
SELECT media_id, CAST(x.f AS INT) AS frame_index
FROM d, unnest(generate_series(0, n_frames - 1, 30)) x(f)
WHERE n_frames > 1
"""


def m10_group_sample(spark, sf_dir):
    """M10 — deterministic 3-per-source document sample
    (operators/sampling.group_sample): rows ranked by the mix32
    avalanche hash of their id, first k kept — stable across runs,
    engines, partitionings (df.sample() is none of those). The rank
    filter compiles to a partition-local WindowGroupLimit, never a full
    per-group sort."""
    from db_loganalyzer_spark.operators.sampling import group_sample

    docs = _t(spark, sf_dir, "documents")
    out = group_sample(docs, ["source"], 3, id_col="doc_id")
    return out.select("source", "sample_rank", "doc_id", "n_chars")


M10_SQL = f"""
WITH hashed AS (
  SELECT source, doc_id, n_chars, h
  FROM {_mix32_sql_select(
        'doc_id', '(SELECT source, doc_id, n_chars FROM documents)',
        passthrough=['source', 'doc_id', 'n_chars'])} x
), ranked AS (
  SELECT source, doc_id, n_chars,
         row_number() OVER (PARTITION BY source ORDER BY h, doc_id)
           AS sample_rank
  FROM hashed
)
SELECT source, sample_rank, doc_id, n_chars
FROM ranked WHERE sample_rank <= 3
"""


def w16_level_shifts(spark, sf_dir):
    """W16 — change-point scoring: next-2h mean minus prev-2h mean of
    each event type's values at every event (operators/timeseries.
    level_shifts) — a step change scores ~ its height, noise ~ 0. Two
    RANGE frames over ONE per-key sort; means in integer micro-units
    (dsum discipline) so the scores hash-match; rows with < 5 points
    on either side are dropped, not scored on noise. Keyed by
    event_type (dense in time at every SF) so the min-points gate
    passes real rows, not a vacuous empty set."""
    from db_loganalyzer_spark.operators.timeseries import level_shifts

    ev = _t(spark, sf_dir, "events")
    out = level_shifts(ev, "value", 7200, ["event_type"], min_points=5)
    return out.select(
        "event_type", "event_id", "ts_us",
        "n_prev", "n_next", "avg_prev", "avg_next", "shift",
    )


W16_SQL = """
WITH scored AS (
  SELECT event_type, event_id, epoch_us(ts) AS ts_us,
         CAST(COUNT(value) OVER wp AS BIGINT) AS n_prev,
         CAST(COUNT(value) OVER wn AS BIGINT) AS n_next,
         CAST(SUM(CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT)) OVER wp
              AS DOUBLE) / 1000000.0 / COUNT(value) OVER wp AS avg_prev,
         CAST(SUM(CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT)) OVER wn
              AS DOUBLE) / 1000000.0 / COUNT(value) OVER wn AS avg_next
  FROM events
  WINDOW wp AS (PARTITION BY event_type ORDER BY epoch_us(ts)
                RANGE BETWEEN 7200000000 PRECEDING AND 1 PRECEDING),
         wn AS (PARTITION BY event_type ORDER BY epoch_us(ts)
                RANGE BETWEEN CURRENT ROW AND 7199999999 FOLLOWING)
)
SELECT event_type, event_id, ts_us, n_prev, n_next, avg_prev, avg_next,
       avg_next - avg_prev AS shift
FROM scored WHERE n_prev >= 5 AND n_next >= 5
"""


def st08_streaming_topk(spark, sf_dir):
    """ST08 — trending event types per closed hourly window: streaming
    per-(window, key) counts (streaming/streams.
    streaming_windowed_counts, one counter of state per pair, append
    mode at watermark close) ranked top-3 batch-side over the drained
    rows — a window's ranking only becomes final when the window
    closes, so the rank belongs after the emit, not in the stream."""
    from pyspark.sql import Window as SW

    stream = ST.read_events_stream(spark, sf_dir)
    counts = ST.streaming_windowed_counts(stream, 3600, "event_type")
    drained = _drain(counts, "st08")
    w = SW.partitionBy("window_start").orderBy(
        F.col("n").desc(), "event_type"
    )
    return (
        drained.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("window_start", "rnk", "event_type", "n")
    )


ST08_SQL = """
WITH counts AS (
  SELECT CAST(FLOOR(epoch_us(ts) / 1000000.0 / 3600) * 3600 AS BIGINT)
           AS window_start,
         event_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
), closed AS (
  SELECT * FROM counts
  WHERE window_start + 3600 <= (SELECT epoch_us(MAX(ts)) / 1000000.0 FROM events)
), ranked AS (
  SELECT window_start, event_type, n,
         row_number() OVER (PARTITION BY window_start
                            ORDER BY n DESC, event_type) AS rnk
  FROM closed
)
SELECT window_start, rnk, event_type, n FROM ranked WHERE rnk <= 3
"""


# ---------------------------------------------------------------------------
# D-family: detectors D1-D11 (+ F7/W10) over a log-shaped view of events
# ---------------------------------------------------------------------------


def _log_events(spark, sf_dir):
    """Deterministic log-shaped view of the synthetic events table so the
    detectors (which expect the ingest schema: event/role/fields-map) have
    realistic inputs. Every derivation is integer-exact and restated
    verbatim in _LOG_SQL for the DuckDB oracles."""
    ev = _events(spark, sf_dir)
    m = F.col("event_id") % 10
    event = (
        F.when(m == 0, "StorageMetrics")
        .when(m == 1, "MasterRecoveryState")
        .when(m == 2, "RatekeeperThrottle")
        .when(m == 3, "TLogMissingError")
        .when(m == 4, "CoordinatorFailed")
        .when(m == 5, "CodeCoverage")
        .when(m == 6, "RecoveryState")
        .when(m == 7, "SlowSSLoopx100")
        .otherwise(F.col("event_type"))
    )
    u = F.col("user_id") % 4
    role = F.when(u == 0, "SS").when(u == 1, "TLog").when(u == 2, "CD")
    istr = lambda c: F.floor(c).cast("long").cast("string")  # noqa: E731
    k4 = F.col("k_val") % 4
    comment = (
        F.when(k4 == 0, "Terminated due to tLog failure")
        .when(k4 == 1, "Configuration change requested")
        .when(k4 == 2, "Manual recovery triggered")
        .otherwise("routine coverage probe")
    )
    # One 8-branch CASE whose branches are map literals generates a
    # single >64 KB Janino method — codegen FAILS and the whole stage
    # silently falls back to interpreted eval (seen as "Code grows
    # beyond 64 KB" in round-6 sweep logs; this projection feeds every
    # detector entry). map_concat of per-branch maps is semantically
    # identical (exactly one branch is non-empty per row) but each
    # argument is an independent subtree Spark's codegen splits into
    # its own method, so the stage stays compiled.
    empty_map = F.map_from_arrays(
        F.array().cast("array<string>"), F.array().cast("array<string>")
    )
    branch = lambda cond, mp: F.when(cond, mp).otherwise(empty_map)  # noqa: E731
    fields = F.map_concat(
        branch(m == 0, F.create_map(
            F.lit("VersionLag"), istr(F.col("value") * 1000),
            F.lit("BytesInput"), istr(F.col("value") * 100),
            F.lit("CommittedVersion"), ((F.col("event_id") % 100) * 100000).cast("string"),
            F.lit("DurableVersion"), ((F.col("event_id") % 150) * 80000).cast("string"),
        )),
        branch(m == 1, F.create_map(F.lit("StatusCode"), (F.col("k_val") % 15).cast("string"))),
        branch(m == 2, F.create_map(
            F.lit("ReleasedTPS"), istr(F.col("value") * 100),
            F.lit("Reason"), F.lit("queue saturated"),
        )),
        branch(m == 3, F.create_map(F.lit("LogId"), F.col("k_val").cast("string"))),
        branch(m == 4, F.create_map(
            F.lit("Reason"),
            F.when(F.col("k_val") % 2 == 0, "connection lost").otherwise("heartbeat timeout"),
        )),
        branch(m == 5, F.create_map(F.lit("Comment"), comment)),
        branch(m == 6, F.create_map(F.lit("RecoveryVersion"), istr(F.col("value") * 1000000))),
        branch(m == 7, F.create_map(
            F.lit("Max"), (F.col("severity") % 5).cast("string"),
            F.lit("P99"), (F.col("severity") % 3).cast("string"),
            F.lit("QueryQueue"), istr(F.col("value") * 3),
        )),
        branch(m >= 8, F.create_map(F.lit("Elapsed"), istr(F.col("value") * 10))),
    )
    return ev.select(
        "event_id", "ts", "severity", "value", "k_val",
        event.alias("event"), role.alias("role"),
        F.concat(F.lit("m"), (F.col("user_id") % 8).cast("string")).alias("machine_id"),
        fields.alias("fields"),
    )


# DuckDB restatement of _log_events (shared CTE prelude).
_LOG_SQL = """
log_events AS (
  SELECT event_id, ts, value, user_id,
         CAST(FLOOR(value) AS INT) AS severity,
         CAST(json_extract_string(props, '$.k') AS INT) AS k_val,
         CASE CAST(event_id % 10 AS INT)
           WHEN 0 THEN 'StorageMetrics' WHEN 1 THEN 'MasterRecoveryState'
           WHEN 2 THEN 'RatekeeperThrottle' WHEN 3 THEN 'TLogMissingError'
           WHEN 4 THEN 'CoordinatorFailed' WHEN 5 THEN 'CodeCoverage'
           WHEN 6 THEN 'RecoveryState' WHEN 7 THEN 'SlowSSLoopx100'
           ELSE event_type END AS event,
         CASE CAST(user_id % 4 AS INT)
           WHEN 0 THEN 'SS' WHEN 1 THEN 'TLog' WHEN 2 THEN 'CD' END AS role
  FROM events
)
"""


def d01_storage_pressure(spark, sf_dir):
    """D1 — VersionLag pressure summary (absolute-threshold path;
    z-path exercised by d07's baseline join)."""
    from db_loganalyzer_spark.detectors.detectors import storage_engine_pressure

    return storage_engine_pressure(_log_events(spark, sf_dir), lag_threshold=50000)[
        "summary"
    ]


D01_SQL = f"""
WITH {_LOG_SQL.strip()},
sm AS (
  SELECT ts, FLOOR(value * 1000) AS lag FROM log_events WHERE event = 'StorageMetrics'
)
SELECT COUNT(*) FILTER (WHERE lag > 50000) > 0 AS detected,
       MAX(lag) AS max_lag,
       quantile_cont(lag, 0.95) AS p95_lag,
       AVG(lag) AS mean_lag,
       COUNT(*) FILTER (WHERE lag > 50000) AS count_high,
       COUNT(*) AS total,
       CAST(NULL AS DOUBLE) AS max_zscore,
       MIN(ts) FILTER (WHERE lag > 50000) AS first_high_ts,
       MAX(ts) FILTER (WHERE lag > 50000) AS last_high_ts
FROM sm
"""


def d02_ratekeeper(spark, sf_dir):
    from db_loganalyzer_spark.detectors.detectors import ratekeeper_throttling

    return ratekeeper_throttling(_log_events(spark, sf_dir))["summary"]


D02_SQL = f"""
WITH {_LOG_SQL.strip()}
SELECT COUNT(*) > 0 AS detected, COUNT(*) AS count,
       MIN(ts) AS first_ts, MAX(ts) AS last_ts
FROM log_events WHERE event = 'RatekeeperThrottle'
"""


def d03_missing_tlogs(spark, sf_dir):
    from db_loganalyzer_spark.detectors.detectors import missing_tlogs

    return missing_tlogs(_log_events(spark, sf_dir))["summary"]


D03_SQL = f"""
WITH {_LOG_SQL.strip()}
SELECT COUNT(*) > 0 AS detected, COUNT(*) AS count,
       MIN(ts) AS first_ts, MAX(ts) AS last_ts
FROM log_events WHERE event = 'TLogMissingError'
"""


def d04_recovery_loop(spark, sf_dir):
    from db_loganalyzer_spark.detectors.detectors import recovery_loop

    return recovery_loop(_log_events(spark, sf_dir), threshold=3, window_seconds=7200)[
        "summary"
    ]


D04_SQL = f"""
WITH {_LOG_SQL.strip()},
recs AS (
  SELECT ts, event_id,
         epoch_us(ts) / 1000000.0
           - epoch_us(lag(ts, 2) OVER (ORDER BY ts, event_id)) / 1000000.0 AS span
  FROM log_events WHERE event = 'MasterRecoveryState'
)
SELECT COUNT(*) FILTER (WHERE span <= 7200) > 0 AS detected,
       COUNT(*) FILTER (WHERE span <= 7200) AS loop_count,
       MIN(ts) AS first_ts, MAX(ts) AS last_ts,
       epoch_us(MAX(ts)) / 1000000.0 - epoch_us(MIN(ts)) / 1000000.0 AS duration_seconds
FROM recs
"""


def d05_coordination_loss(spark, sf_dir):
    from db_loganalyzer_spark.detectors.detectors import coordination_loss

    return coordination_loss(_log_events(spark, sf_dir))["summary"]


D05_SQL = f"""
WITH {_LOG_SQL.strip()}
SELECT COUNT(*) > 0 AS detected, COUNT(*) AS count,
       MIN(ts) AS first_ts, MAX(ts) AS last_ts
FROM log_events WHERE event = 'CoordinatorFailed'
"""


def d06_zscore_hotspots(spark, sf_dir):
    """D6 — detector variant of a10 (adds per-bucket max severity).
    limit high enough to never truncate, so ordering is irrelevant to the
    order-insensitive oracle compare; z rounded to 4 for cross-engine
    stddev stability."""
    from db_loganalyzer_spark.detectors.detectors import zscore_hotspots

    hot = zscore_hotspots(
        _log_events(spark, sf_dir), bucket_seconds=300, min_z=2.0, limit=1_000_000
    )["hotspots"]
    return hot.select("bucket", "count", "max_severity", F.round("zscore", 4).alias("zscore"))


D06_SQL = f"""
WITH {_LOG_SQL.strip()},
b AS (
  SELECT CAST(FLOOR(epoch_us(ts) / 1000000.0 / 300) * 300 AS BIGINT) AS bucket,
         COUNT(*) AS count, MAX(severity) AS max_severity
  FROM log_events GROUP BY 1
), s AS (SELECT AVG(count) AS mean_cnt, stddev_samp(count) AS std_cnt FROM b)
SELECT bucket, count, max_severity,
       ROUND((count - mean_cnt) / std_cnt, 4) AS zscore
FROM b, s
WHERE std_cnt IS NOT NULL AND std_cnt > 0 AND (count - mean_cnt) / std_cnt >= 2.0
"""


def d07_baseline_window_anomalies(spark, sf_dir):
    """D7/A11 — 30s-bucket means vs metric baselines z-score, exercising
    metric_baselines_table + the role->'ALL' fallback lookup join."""
    from db_loganalyzer_spark.detectors.detectors import (
        baseline_window_anomalies,
        metric_baselines_table,
    )
    from db_loganalyzer_spark.sources.trace_logs import derive_event_metrics

    lev = _log_events(spark, sf_dir)
    em = derive_event_metrics(lev)
    baselines = metric_baselines_table(lev, em, min_count=20)
    # Daily buckets: the synthetic stream is ~1 StorageMetrics event per
    # 43 min, so the reference's 30s default would never reach
    # min_samples and the query would vacuously return 0 rows.
    out = baseline_window_anomalies(
        lev, em, baselines, bucket_seconds=86400, z_score_threshold=0.1
    )["anomalies"]
    return out.select(
        "bucket", "role", "metric", "mean_val", "baseline_mean",
        F.round("baseline_std", 4).alias("baseline_std"),
        F.round("zscore", 4).alias("zscore"), "count",
    )


D07_SQL = f"""
WITH {_LOG_SQL.strip()},
em AS (
  SELECT event_id, ts, role, 'VersionLag' AS metric_name,
         FLOOR(value * 1000) AS metric_value
  FROM log_events WHERE event = 'StorageMetrics'
  UNION ALL
  SELECT event_id, ts, role, 'BytesInput', FLOOR(value * 100)
  FROM log_events WHERE event = 'StorageMetrics'
),
base_role AS (
  SELECT metric_name, role, AVG(metric_value) AS mean, stddev_samp(metric_value) AS stddev,
         COUNT(*) AS n
  FROM em WHERE role IS NOT NULL GROUP BY 1, 2 HAVING COUNT(*) >= 20
),
base_all AS (
  SELECT metric_name, 'ALL' AS role, AVG(metric_value) AS mean, stddev_samp(metric_value) AS stddev,
         COUNT(*) AS n
  FROM em GROUP BY 1 HAVING COUNT(*) >= 20
),
baselines AS (SELECT * FROM base_role UNION ALL SELECT * FROM base_all),
bucketed AS (
  SELECT CAST(FLOOR(epoch_us(ts) / 1000000.0 / 86400) * 86400 AS BIGINT) AS bucket,
         COALESCE(role, 'ALL') AS role, metric_name,
         AVG(metric_value) AS mean_val, COUNT(*) AS count
  FROM em GROUP BY 1, 2, 3 HAVING COUNT(*) >= 3
),
joined AS (
  SELECT b.*, COALESCE(e.mean, a.mean) AS baseline_mean,
         COALESCE(e.stddev, a.stddev) AS baseline_std
  FROM bucketed b
  LEFT JOIN baselines e ON b.metric_name = e.metric_name AND b.role = e.role
  LEFT JOIN base_all a ON b.metric_name = a.metric_name
)
SELECT bucket, role, metric_name AS metric, mean_val, baseline_mean,
       ROUND(baseline_std, 4) AS baseline_std,
       ROUND(ABS((mean_val - baseline_mean) / baseline_std), 4) AS zscore, count
FROM joined
WHERE baseline_std IS NOT NULL AND baseline_std > 0
  AND ABS((mean_val - baseline_mean) / baseline_std) >= 0.1
"""


def d08_metric_anomalies(spark, sf_dir):
    """D8 — per-event metric z-score + absolute-threshold anomalies over
    the most recent 500 events (interesting-event pool)."""
    from db_loganalyzer_spark.detectors.detectors import metric_anomalies

    out = metric_anomalies(_log_events(spark, sf_dir), limit=500)["anomalies"]
    # The driver's canonicalizer can't sort array columns; emit the sorted
    # reason list as a scalar comma-joined string (matching D08_SQL).
    return out.withColumn("reasons", F.array_join("reasons", ","))


D08_SQL = f"""
WITH {_LOG_SQL.strip()},
recent AS (
  SELECT * FROM log_events ORDER BY ts DESC, event_id DESC LIMIT 500
),
pool AS (
  SELECT * FROM recent WHERE event IN
    ('MasterRecoveryState', 'RkUpdate', 'TLogError', 'SharedTLogFailed',
     'CoordinatorFailed', 'RatekeeperThrottle', 'SlowSSLoopx100')
),
melted AS (
  SELECT * FROM (
    SELECT event_id, ts, event, severity, role, 'StatusCode' AS metric,
           CAST(k_val % 15 AS DOUBLE) AS val
    FROM pool WHERE event = 'MasterRecoveryState'
    UNION ALL
    SELECT event_id, ts, event, severity, role, 'ReleasedTPS', FLOOR(value * 100)
    FROM pool WHERE event = 'RatekeeperThrottle'
    UNION ALL
    SELECT event_id, ts, event, severity, role, 'Max', CAST(severity % 5 AS DOUBLE)
    FROM pool WHERE event = 'SlowSSLoopx100'
    UNION ALL
    SELECT event_id, ts, event, severity, role, 'P99', CAST(severity % 3 AS DOUBLE)
    FROM pool WHERE event = 'SlowSSLoopx100'
    UNION ALL
    SELECT event_id, ts, event, severity, role, 'QueryQueue', FLOOR(value * 3)
    FROM pool WHERE event = 'SlowSSLoopx100'
  ) WHERE val IS NOT NULL AND val > 0
),
stats AS (
  SELECT metric, AVG(val) AS m, stddev_samp(val) AS sd, COUNT(*) AS n
  FROM melted GROUP BY 1 HAVING COUNT(*) >= 3
),
flagged AS (
  SELECT e.event_id, e.ts, e.event, e.severity, e.role,
         list_filter([
           CASE WHEN sd IS NOT NULL AND sd <> 0 AND ABS((val - m) / sd) > 2.5
                THEN 'z_score_anomaly_' || e.metric END,
           CASE WHEN sd IS NOT NULL AND sd <> 0 AND ABS((val - m) / sd) > 3.0
                THEN 'extreme_value_' || e.metric END,
           CASE WHEN (e.metric = 'Max' AND val > 1.0) OR (e.metric = 'P99' AND val > 0.5)
                  OR (e.metric = 'P95' AND val > 0.3) OR (e.metric = 'QueryQueue' AND val > 100.0)
                THEN 'threshold_violation_' || e.metric END
         ], x -> x IS NOT NULL) AS reasons
  FROM melted e JOIN stats USING (metric)
)
SELECT event_id, ts, event, severity, role,
       array_to_string(list_sort(flatten(list(reasons))), ',') AS reasons
FROM flagged WHERE len(reasons) > 0
GROUP BY event_id, ts, event, severity, role
"""


def d09_rollback_analysis(spark, sf_dir):
    """D9/W4 — version drops + resets + recovery-version regressions in
    one status row."""
    from db_loganalyzer_spark.detectors.detectors import rollback_analysis

    return rollback_analysis(_log_events(spark, sf_dir))["summary"]


D09_SQL = f"""
WITH {_LOG_SQL.strip()},
cv AS (
  SELECT ts, event_id, CAST((event_id % 100) * 100000 AS DOUBLE) AS committed
  FROM log_events WHERE event = 'StorageMetrics'
),
dv AS (
  SELECT ts, event_id, CAST((event_id % 150) * 80000 AS DOUBLE) AS durable
  FROM log_events WHERE event = 'StorageMetrics'
),
cv_w AS (SELECT *, lag(committed) OVER (ORDER BY ts, event_id) AS prev FROM cv),
dv_w AS (SELECT *, lag(durable) OVER (ORDER BY ts, event_id) AS prev FROM dv),
drops AS (
  SELECT prev - committed AS drop_amount FROM cv_w WHERE prev IS NOT NULL AND committed < prev
  UNION ALL
  SELECT prev - durable FROM dv_w WHERE prev IS NOT NULL AND durable < prev
),
resets AS (
  SELECT 1 FROM cv_w WHERE prev > 1000000 AND committed < 1000000
),
rv AS (
  SELECT ts, event_id, FLOOR(value * 1000000) AS rv FROM log_events WHERE event = 'RecoveryState'
),
rv_w AS (SELECT *, lag(rv) OVER (ORDER BY ts, event_id) AS prev FROM rv),
rv_regr AS (SELECT 1 FROM rv_w WHERE prev IS NOT NULL AND rv < prev)
SELECT (SELECT COUNT(*) FROM drops) AS num_drops,
       (SELECT MAX(drop_amount) FROM drops) AS max_drop,
       (SELECT COUNT(*) FROM resets) AS num_resets,
       (SELECT COUNT(*) FROM rv_regr) AS num_recovery_resets,
       ((SELECT COUNT(*) FROM drops) > 0 OR (SELECT COUNT(*) FROM resets) > 0
        OR (SELECT COUNT(*) FROM rv_regr) > 0) AS detected
"""


def d10_recovery_episodes(spark, sf_dir):
    """D10 — sessionized MasterRecoveryState episodes + max severity in a
    +/-30s halo of surrounding events."""
    from db_loganalyzer_spark.detectors.detectors import recovery_episodes

    return recovery_episodes(_log_events(spark, sf_dir), gap_seconds=3600, halo_seconds=30)[
        "episodes"
    ]


D10_SQL = f"""
WITH {_LOG_SQL.strip()},
recs AS (
  SELECT ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) / 1000000.0 - epoch_us(lag(ts) OVER w) / 1000000.0 > 3600
              THEN 1 ELSE 0 END AS is_new
  FROM log_events WHERE event = 'MasterRecoveryState'
  WINDOW w AS (ORDER BY ts, event_id)
),
sessions AS (
  SELECT ts,
         CAST(SUM(is_new) OVER (ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1
              AS BIGINT) AS episode_id
  FROM recs
),
episodes AS (
  SELECT episode_id, MIN(ts) AS start_ts, MAX(ts) AS end_ts,
         ROUND(epoch_us(MAX(ts)) / 1000000.0 - epoch_us(MIN(ts)) / 1000000.0, 6) AS duration_s,
         COUNT(*) AS n_recoveries
  FROM sessions GROUP BY 1
)
SELECT ep.episode_id, ep.start_ts, ep.end_ts, ep.duration_s, ep.n_recoveries,
       MAX(e.severity) AS max_severity_halo
FROM episodes ep
LEFT JOIN log_events e
  ON e.ts >= ep.start_ts - INTERVAL 30 SECOND AND e.ts <= ep.end_ts + INTERVAL 30 SECOND
GROUP BY 1, 2, 3, 4, 5
"""


def d11_detect_recoveries(spark, sf_dir):
    """D11/W7 — StatusCode decode + look-back cause attribution."""
    from db_loganalyzer_spark.detectors.detectors import detect_recoveries

    return detect_recoveries(_log_events(spark, sf_dir), look_back_seconds=900)[
        "recoveries"
    ]


_STATE_CASE = """CASE state_code
  WHEN 0 THEN 'reading_coordinated_state' WHEN 1 THEN 'locking_coordinated_state'
  WHEN 2 THEN 'recruiting_proxies' WHEN 3 THEN 'reading_transaction_system_state'
  WHEN 4 THEN 'configuration_missing' WHEN 5 THEN 'configuration_never_created'
  WHEN 6 THEN 'configuration_invalid' WHEN 7 THEN 'recruiting_transaction_servers'
  WHEN 8 THEN 'initializing_transaction_servers' WHEN 9 THEN 'recovery_transaction'
  WHEN 10 THEN 'writing_coordinated_state' WHEN 11 THEN 'accepting_commits'
  WHEN 12 THEN 'all_logs_recruited' WHEN 13 THEN 'storage_recovered'
  WHEN 14 THEN 'fully_recovered' ELSE 'unknown' END"""

D11_SQL = f"""
WITH {_LOG_SQL.strip()},
recs AS (
  SELECT event_id AS recovery_id, ts AS recovery_ts,
         CAST(k_val % 15 AS INT) AS state_code
  FROM log_events WHERE event = 'MasterRecoveryState'
),
cands AS (
  SELECT event_id, ts, event, severity,
         CASE
           WHEN event = 'CodeCoverage' AND CAST(k_val % 4 AS INT) IN (0, 1, 2) THEN 1
           WHEN event IS NOT NULL AND event <> ''
                AND (lower(event) LIKE '%fail%' OR lower(event) LIKE '%error%'
                     OR lower(event) LIKE '%terminated%' OR severity >= 40)
           THEN 2
         END AS priority,
         event IS NOT NULL AND event <> ''
           AND (lower(event) LIKE '%fail%' OR lower(event) LIKE '%error%'
                OR lower(event) LIKE '%terminated%') AS is_fail_name,
         CASE CAST(k_val % 4 AS INT)
           WHEN 0 THEN 'Terminated due to tLog failure'
           WHEN 1 THEN 'Configuration change requested'
           WHEN 2 THEN 'Manual recovery triggered'
           ELSE 'routine coverage probe' END AS comment
  FROM log_events
),
joined AS (
  SELECT r.*, c.event, c.severity, c.priority, c.is_fail_name, c.comment,
         ROW_NUMBER() OVER (PARTITION BY r.recovery_id
                            ORDER BY c.priority ASC NULLS LAST, c.ts DESC, c.event_id DESC) AS rn
  FROM recs r
  LEFT JOIN (SELECT * FROM cands WHERE priority IS NOT NULL) c
    ON c.ts >= r.recovery_ts - INTERVAL 900 SECOND AND c.ts < r.recovery_ts
)
SELECT recovery_id, recovery_ts, state_code, {_STATE_CASE} AS state_name,
       CASE WHEN priority = 1 THEN comment
            WHEN priority = 2 AND is_fail_name THEN 'Detected failure event: ' || event
            WHEN priority = 2 THEN 'High severity event: ' || event
                 || ' (severity ' || CAST(severity AS VARCHAR) || ')'
       END AS cause
FROM joined WHERE rn = 1
"""


def f07_field_probe(spark, sf_dir):
    """F7 — case-insensitive needle probe over event name + payload
    keys/values."""
    from db_loganalyzer_spark.operators.filters import field_probe

    return field_probe(_log_events(spark, sf_dir), "queue").select(
        "event_id", "event", "severity"
    )


F07_SQL = f"""
WITH {_LOG_SQL.strip()}
SELECT event_id, event, severity FROM log_events
WHERE event IN ('RatekeeperThrottle', 'SlowSSLoopx100')
"""


def w10_severity_first(spark, sf_dir):
    """W10 — display ordering: severity>=40 first then time, materialized
    as a rank column so the order itself is oracle-checkable."""
    from db_loganalyzer_spark.operators.windows import severity_first_ranking

    lev = _log_events(spark, sf_dir).select("event_id", "ts", "severity")
    return severity_first_ranking(lev)


W10_SQL = """
SELECT event_id, ts, CAST(FLOOR(value) AS INT) AS severity,
       ROW_NUMBER() OVER (ORDER BY CASE WHEN CAST(FLOOR(value) AS INT) >= 40 THEN 0 ELSE 1 END,
                          ts, event_id) AS rank
FROM events
"""


def l02_metric_extraction(spark, sf_dir):
    """L2 — the agentic loop's declarative metric extraction (VersionLag
    spikes feed the LLM context formatter)."""
    from db_loganalyzer_spark.agentic import extract_metrics

    m = extract_metrics(_log_events(spark, sf_dir))
    return m["version_lag_spikes"]


L02_SQL = f"""
WITH {_LOG_SQL.strip()}
SELECT event_id, ts, event AS event_type, FLOOR(value * 1000) AS version_lag,
       role, severity
FROM log_events
WHERE event = 'StorageMetrics' AND FLOOR(value * 1000) > 100000
"""


def s04_preprocessed_load(spark, sf_dir):
    """S4 — preprocessed JSON-array ingestion: a deterministic EventModel
    fixture (independent of sf) is written once and loaded via
    spark.read.json(multiLine) + nested from_json; the oracle restates
    the fixture arithmetic over generate_series."""
    import json
    import os
    import tempfile

    from db_loganalyzer_spark.sources.trace_logs import load_preprocessed_events

    rows = []
    for i in range(50):
        rows.append(
            {
                "event_id": i,
                "ts": f"2024-01-01T00:{i // 60:02d}:{i % 60:02d}Z",
                "severity": 10 + (i % 4) * 10,
                "event": ["StorageMetrics", "Role", "CodeCoverage"][i % 3],
                "role": ["SS", "CD", None][i % 3],
                "fields_json": json.dumps({"K": str(i), "V": str(i * 7)}),
                "raw_json": json.dumps({"Type": "x"}),
            }
        )
    # Per-run unique path: concurrent drivers must not race on one file.
    # local-mode-only assumption — on a real cluster the fixture would be
    # staged through a shared filesystem (HDFS/object store) instead.
    fd, path = tempfile.mkstemp(prefix="s04_fixture_", suffix=".json")
    with os.fdopen(fd, "w") as f:
        json.dump(rows, f)
    try:
        ev = load_preprocessed_events(spark, path)
        ev = hold_checkpoint(ev)  # detach from the temp file
    finally:
        os.unlink(path)
    return ev.select(
        "event_id", "ts", "severity", "event", "role",
        F.element_at("fields", F.lit("V")).cast("int").alias("v"),
    )


S04_SQL = """
SELECT CAST(g AS BIGINT) AS event_id,
       TIMESTAMP '2024-01-01 00:00:00' + g * INTERVAL 1 SECOND AS ts,
       CAST(10 + (g % 4) * 10 AS INT) AS severity,
       CASE CAST(g % 3 AS INT) WHEN 0 THEN 'StorageMetrics' WHEN 1 THEN 'Role'
            ELSE 'CodeCoverage' END AS event,
       CASE CAST(g % 3 AS INT) WHEN 0 THEN 'SS' WHEN 1 THEN 'CD' END AS role,
       CAST(g * 7 AS INT) AS v
FROM generate_series(0, 49) t(g)
"""


S09_QUERY = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def s09_adhoc_sql(spark, sf_dir):
    """S9 — ad-hoc SQL entry (reference cli_wrapper/main.py:344-383,
    tools/storage.py:397-410): register the tables as views and pass the
    user's SQL string through verbatim — the exact string the DuckDB
    oracle runs. The TPC-H-Q4 shape exercises the EXISTS path, which
    Catalyst plans as a left semi join (no dedup-after-inner-join)."""
    tables.register_views(spark, sf_dir, names=("orders", "lineitem"))
    return spark.sql(S09_QUERY)


def m07_similarity_eval(spark, sf_dir):
    """M7 — edit-distance similarity scoring of prediction/truth pairs
    (consecutive documents' prefixes as a deterministic pair source)."""
    from db_loganalyzer_spark.operators.evaluation import score_predictions

    docs = _t(spark, sf_dir, "documents")
    a = docs.select("doc_id", F.substring("text", 1, 80).alias("pred"))
    b = docs.select(
        (F.col("doc_id") - 1).alias("doc_id"), F.substring("text", 1, 80).alias("truth")
    )
    pairs = a.join(b, "doc_id")
    out = score_predictions(pairs)
    return out.select("doc_id", "sim", "is_correct")


M07_SQL = """
WITH a AS (SELECT doc_id, substr(text, 1, 80) AS pred FROM documents),
b AS (SELECT doc_id - 1 AS doc_id, substr(text, 1, 80) AS truth FROM documents),
p AS (
  SELECT a.doc_id,
         1 - CAST(levenshtein(lower(pred), lower(truth)) AS DOUBLE)
             / greatest(length(lower(pred)), length(lower(truth)), 1) AS sim
  FROM a JOIN b USING (doc_id)
)
SELECT doc_id, sim, sim > 0.6 AS is_correct FROM p
"""


# ---------------------------------------------------------------------------
# CL-family: embeddings + clustering (SURVEY §2.9 M3-M6)
# ---------------------------------------------------------------------------


def cl01_embed_docs(spark, sf_dir):
    """M3 — mapInPandas embedding of documents with the deterministic
    hashing-trick encoder + invalid-embedding removal; the encoder's
    arithmetic is integer-exact, so the full vector hash-matches.

    Exploded to scalar (doc_id, dim, val) rows at the registry boundary:
    the driver's canonicalizer can't sort/hash array columns."""
    from db_loganalyzer_spark.operators.clustering import embed_texts, valid_embeddings

    docs = _t(spark, sf_dir, "documents")
    emb = valid_embeddings(embed_texts(docs))
    return emb.select(
        "doc_id", F.posexplode("embedding").alias("dim", "val")
    ).select("doc_id", F.col("dim").cast("long").alias("dim"), "val")


CL01_SQL = r"""
WITH base AS (
  SELECT doc_id,
         list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
                     x -> x <> '') AS toks
  FROM documents
), th AS (
  SELECT doc_id,
         list_transform(toks, t ->
           list_reduce(
             list_prepend(CAST(7 AS BIGINT),
                          list_transform(string_split(t, ''), ch -> CAST(ascii(ch) AS BIGINT))),
             (acc, x) -> (acc * 131 + x) % 1000000007) % 64) AS buckets
  FROM base
), v AS (
  SELECT doc_id,
         list_transform(range(0, 64),
                        j -> CAST(len(list_filter(buckets, b -> b = j)) AS DOUBLE)) AS vec
  FROM th
), n AS (
  SELECT doc_id, vec, sqrt(list_sum(list_transform(vec, x -> x * x))) AS nrm FROM v
)
SELECT doc_id, CAST(s.dim AS BIGINT) AS dim, s.val AS val FROM (
  SELECT doc_id,
         unnest(list_transform(range(0, 64),
                               j -> {'dim': j, 'val': vec[j + 1] / nrm})) AS s
  FROM n WHERE nrm > 1e-6 AND NOT isnan(nrm)
)
"""


def _quantized_embeddings(spark, sf_dir):
    """Embeddings with components quantized to integers
    (floor(x*10000)): every downstream sum/mean/dot is then exact in
    double arithmetic, making assignment + representative selection
    bit-identical across engines."""
    emb = _t(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.floor(x * 10000).cast("double"),
        ).alias("embedding"),
    )


def cl02_cluster_reps(spark, sf_dir):
    """M4 (oracle path) + M5 — nearest-seed-centroid assignment (seeds =
    the 8 lowest vec_ids) then centroid cosine-argmax representatives."""
    from db_loganalyzer_spark.operators.clustering import (
        cluster_representatives,
        seed_centroid_assign,
    )

    emb = _quantized_embeddings(spark, sf_dir)
    seeds = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cluster"), "embedding"
    )
    assigned = seed_centroid_assign(emb, seeds)
    reps = cluster_representatives(assigned)
    return reps.select("cluster", "rep_id", "size", F.round("cosine", 6).alias("cosine"))


_CL_ASSIGN_SQL = """
e AS (
  SELECT vec_id,
         list_transform(embedding, x -> FLOOR(CAST(x AS DOUBLE) * 10000)) AS v
  FROM embeddings
),
seeds AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
assigned AS (
  SELECT vec_id, v, cid AS cluster FROM (
    SELECT e.vec_id, e.v, s.cid,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_sum(list_transform(range(1, 65),
                       i -> (e.v[i] - s.cv[i]) * (e.v[i] - s.cv[i]))), s.cid) AS rn
    FROM e CROSS JOIN seeds s
  ) WHERE rn = 1
),
cents AS (
  SELECT cluster, list(mv ORDER BY pos) AS centroid
  FROM (
    SELECT cluster, i.range AS pos, AVG(v[i.range]) AS mv
    FROM assigned, range(1, 65) i GROUP BY 1, 2
  ) GROUP BY 1
),
sizes AS (SELECT cluster, COUNT(*) AS size FROM assigned GROUP BY 1),
scored AS (
  SELECT a.cluster, a.vec_id, z.size,
         list_sum(list_transform(range(1, 65), i -> a.v[i] * c.centroid[i]))
           / (sqrt(list_sum(list_transform(range(1, 65), i -> a.v[i] * a.v[i])))
              * sqrt(list_sum(list_transform(range(1, 65), i -> c.centroid[i] * c.centroid[i])))) AS cosine
  FROM assigned a
  JOIN cents c USING (cluster)
  JOIN sizes z USING (cluster)
  WHERE z.size >= 3
    AND sqrt(list_sum(list_transform(range(1, 65), i -> c.centroid[i] * c.centroid[i]))) >= 1e-6
)
"""

CL02_SQL = f"""
WITH {_CL_ASSIGN_SQL.strip()}
SELECT cluster, vec_id AS rep_id, size, ROUND(cosine, 6) AS cosine FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY cosine DESC, vec_id) AS rn
  FROM scored
) WHERE rn = 1
"""


def cl03_cluster_summary(spark, sf_dir):
    """M6 — (cluster, size, sample_comment) with the representative's
    document text truncated to 200 chars (vec_id joins doc_id)."""
    from db_loganalyzer_spark.operators.clustering import (
        cluster_summary_table,
        seed_centroid_assign,
    )

    emb = _quantized_embeddings(spark, sf_dir)
    seeds = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cluster"), "embedding"
    )
    assigned = seed_centroid_assign(emb, seeds)
    docs = _t(spark, sf_dir, "documents")
    return cluster_summary_table(assigned, docs)


CL03_SQL = f"""
WITH {_CL_ASSIGN_SQL.strip()},
reps AS (
  SELECT cluster, vec_id AS rep_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY cosine DESC, vec_id) AS rn
    FROM scored
  ) WHERE rn = 1
)
SELECT z.cluster, z.size,
       COALESCE(substr(d.text, 1, 200), '') AS sample_comment
FROM sizes z
LEFT JOIN reps r ON z.cluster = r.cluster
LEFT JOIN documents d ON r.rep_id = d.doc_id
"""


def cl04_kmeans_sizes(spark, sf_dir):
    """M4 cluster-size distribution on the deterministic quantizer path
    (nearest-seed assignment over integer-quantized vectors, seeds = 8
    lowest vec_ids — cl02's oracle pattern), so sizes hash-check against
    the DuckDB restatement. The Spark ML KMeans scale path
    (clustering.kmeans_clusters, k=8 seed 42) remains pytest-pinned —
    its label numbering is implementation-defined, which is exactly what
    makes it unrestatable in ANSI SQL."""
    from db_loganalyzer_spark.operators.clustering import seed_centroid_assign

    emb = _quantized_embeddings(spark, sf_dir)
    seeds = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cluster"), "embedding"
    )
    return (
        seed_centroid_assign(emb, seeds)
        .groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("size"))
    )


CL04_SQL = """
WITH e AS (
  SELECT vec_id,
         list_transform(embedding, x -> FLOOR(CAST(x AS DOUBLE) * 10000)) AS v
  FROM embeddings
), seeds AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
assigned AS (
  SELECT vec_id, cid AS cluster FROM (
    SELECT e.vec_id, s.cid,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_sum(list_transform(range(1, 65),
                       i -> (e.v[i] - s.cv[i]) * (e.v[i] - s.cv[i]))), s.cid) AS rn
    FROM e CROSS JOIN seeds s
  ) WHERE rn = 1
)
SELECT cluster, COUNT(*) AS size FROM assigned GROUP BY 1
"""


# ---------------------------------------------------------------------------
# contract
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# ST-family: Structured Streaming forms (SURVEY §7.1 step 9 — beyond the
# reference, which has no streaming surface at all; §2.12). Each entry
# drains a file-source stream with trigger(availableNow) into a memory
# sink, so the registry sees an ordinary DataFrame whose contents are the
# stream's deterministic final state.
# ---------------------------------------------------------------------------


def _drain(df, prefix: str, output_mode: str = "append"):
    import tempfile
    import uuid

    name = f"{prefix}_{uuid.uuid4().hex[:8]}"
    if output_mode == "append":
        # File sink, not memory sink: the memory sink collects every
        # emitted row to the driver, which breaks the per-row streaming
        # forms (st09/st10/st11 emit one row per input row) past
        # driver.maxResultSize at sf10 — observed in the round-6 sweep.
        # Parquet drain keeps results executor-side; downstream reads
        # the files like any other table (schema pinned for the
        # zero-emission edge case).
        out_dir = tempfile.mkdtemp(prefix=f"st_out_{prefix}_")
        q = (
            df.writeStream.format("parquet")
            .queryName(name)
            .option("path", out_dir)
            .option(
                "checkpointLocation",
                os.path.join(tempfile.mkdtemp(prefix="st_ck_"), name),
            )
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return df.sparkSession.read.schema(df.schema).parquet(out_dir)
    # complete mode (bounded aggregate output) is not supported by the
    # file sink; the memory sink is safe there by construction.
    return ST.run_available_now(
        df, name, tempfile.mkdtemp(prefix="st_ck_"), output_mode=output_mode
    )


def st01_streaming_rollup(spark, sf_dir):
    """A5's streaming form: hourly tumbling windows + watermark, append
    mode. Only CLOSED windows emit (window end <= final watermark = max
    event time at 0s delay); the approx-p95 sketch column is dropped so
    the remaining output is exactly DuckDB-expressible."""
    stream = ST.read_events_stream(spark, sf_dir)
    out = ST.streaming_rollup(
        stream, 3600, ["event_type"], "value", watermark_delay="0 seconds"
    )
    return _drain(out.drop("p95_value"), "st01")


ST01_SQL = """
WITH roll AS (
  SELECT CAST(FLOOR(epoch_us(ts) / 1000000.0 / 3600) * 3600 AS BIGINT) AS window_start,
         event_type, COUNT(*) AS n,
         CAST(SUM(CAST(FLOOR((value) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 / COUNT(value) AS avg_value,
         MAX(value) AS max_value
  FROM events GROUP BY 1, 2
)
SELECT * FROM roll
WHERE window_start + 3600 <= (SELECT epoch_us(MAX(ts)) / 1000000.0 FROM events)
"""


def st02_streaming_sessions(spark, sf_dir):
    """W5's streaming form via session_window (gap 600s). A session is
    emitted once the watermark passes its end (= last event + gap); the
    oracle replays that closure rule, including Spark's ms-truncated
    watermark."""
    stream = ST.read_events_stream(spark, sf_dir)
    out = ST.streaming_sessions(
        stream, 600, ["user_id"], watermark_delay="0 seconds"
    )
    return _drain(out, "st02")


ST02_SQL = """
WITH n AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
), flagged AS (
  SELECT user_id, ts_us, event_id,
         CASE WHEN ts_us - lag(ts_us) OVER w >= 600000000
                OR lag(ts_us) OVER w IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM n WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
), numbered AS (
  SELECT user_id, ts_us,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_id
  FROM flagged
), sess AS (
  SELECT user_id, MIN(ts_us) AS start_ts_us, MAX(ts_us) AS end_ts_us,
         ROUND(MAX(ts_us) / 1000000.0 - MIN(ts_us) / 1000000.0, 6) AS duration_s,
         COUNT(*) AS n_events
  FROM numbered GROUP BY user_id, session_id
)
SELECT user_id, start_ts_us, end_ts_us, duration_s, n_events FROM sess
WHERE end_ts_us + 600000000 <=
      (SELECT (MAX(epoch_us(ts)) // 1000) * 1000 FROM events)
"""


def st03_streaming_value_drops(spark, sf_dir):
    """W1's streaming form as a custom stateful operator
    (applyInPandasWithState; per-key last non-null value in GroupState).
    Append output with no watermark gating — full parity with the batch
    window, so the oracle is the complete drops set."""
    stream = ST.read_events_stream(spark, sf_dir)
    return _drain(ST.streaming_value_drops(stream), "st03")


ST03_SQL = """
WITH lagged AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
         last_value(value IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_value
  FROM events
)
SELECT user_id, event_id, ts_us, value, prev_value,
       prev_value - value AS drop_amount
FROM lagged
WHERE value IS NOT NULL AND prev_value IS NOT NULL AND value < prev_value
"""


def st04_streaming_dedup(spark, sf_dir):
    """m01's streaming form: running exact-dup groups over a document
    feed (ingest-time dedup). State = one row per distinct content hash;
    drained complete for a deterministic final table, so the oracle is
    the batch GROUP BY restatement (same as m01)."""
    stream = ST.read_table_stream(spark, sf_dir, "documents")
    return _drain(
        ST.streaming_exact_dedup(stream), "st04", output_mode="complete"
    )


ST04_SQL = r"""
SELECT sha256(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS content_hash,
       MIN(doc_id) AS keeper_id, COUNT(*) AS n_docs
FROM documents GROUP BY 1
"""


def sim05_embedding_dedup_groups(spark, sf_dir):
    """sim03 -> m08 composition: embedding-cosine near-dup pairs turned
    into dedup GROUPS via distributed connected components (min-label
    propagation; component label = min vec_id = the keeper). The full
    semantic-dedup shape for a training corpus — and the oracle restates
    the LSH bucketing, cosine filter, AND the component fixpoint as a
    recursive transitive closure.

    n_planes is pinned at 12 — the auto_n_planes occupancy dial's
    answer for the corpus scale this entry targets (one plane per
    corpus doubling; measured r10: planes 12 -> sim03 pairs 10.0 s at
    sf10r where the 6-plane form was quadratic-regime). The 6-plane
    contrast lives as a pytest pin (test_plans.
    test_lsh_plane_dial_contrast), not as the certified config."""
    from db_loganalyzer_spark.operators.dedup import dedup_components
    from db_loganalyzer_spark.operators.similarity import embedding_near_dups

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    pairs = embedding_near_dups(emb, threshold=0.25, n_planes=12)
    return dedup_components(pairs).select("id", "component_id")


SIM05_SQL = f"""
WITH RECURSIVE {_planes_cte(12)},
{_LSH_CTES},
pairs AS (
  SELECT id_a, id_b FROM (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_COS_SQL} AS cosine
    FROM cb ca
    JOIN cb ob ON ob.bucket = ca.bucket AND ca.vec_id < ob.vec_id
    JOIN e a ON a.vec_id = ca.vec_id
    JOIN e b ON b.vec_id = ob.vec_id
  ) WHERE cosine >= 0.25
),
edges AS (SELECT id_a AS a, id_b AS b FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
reach AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, g.b FROM reach r JOIN edges g ON r.b = g.a WHERE g.b <> r.a
)
SELECT a AS id, LEAST(a, MIN(b)) AS component_id FROM reach GROUP BY 1
"""


def w11_ewma(spark, sf_dir):
    """W11 — per-key EWMA smoother (alpha=0.3), the analytic the
    reference documents but never built. applyInPandas sequential fold
    per user series; pandas ewm(adjust=False) is bitwise-identical to
    the fold s = (1-a)*s + a*x (verified), so the oracle restates it as
    a per-prefix list_reduce — a genuinely non-SQL-shaped operator still
    hash-checked exactly.

    Two determinism guards: (a) NULL values are filtered BEFORE the
    smoother on both sides — pandas ewm renormalizes over NaN while a
    SQL fold NULL-poisons the rest of the series, so the engines only
    agree on dense series; (b) the raw doubles are compared UNROUNDED —
    they are bit-identical, whereas Spark's and DuckDB's round-to-6
    implementations split on half-way ties (measured: 19/100k rows at
    sf0.1)."""
    ev = _events(spark, sf_dir).filter(F.col("value").isNotNull())
    out = W.ewma(ev, "value", ["user_id"], alpha=0.3)
    return out.select("event_id", "user_id", "ewma")


W11_SQL = """
WITH g AS (
  SELECT user_id,
         list(value ORDER BY ts, event_id) AS vs,
         list(event_id ORDER BY ts, event_id) AS ids
  FROM events WHERE value IS NOT NULL GROUP BY 1
)
SELECT unnest(ids) AS event_id, user_id,
       unnest(list_transform(generate_series(1, len(vs)), i ->
         list_reduce(vs[1:i], (acc, x) -> (1 - 0.3)*acc + 0.3*x))) AS ewma
FROM g
"""


def t05_pii_redaction(spark, sf_dir):
    """PII scrub (training-data hygiene): the synthetic corpus carries no
    PII, so the entry deterministically augments each doc with an email,
    a phone and an IP derived from doc_id (the oracle applies the same
    augmentation), then runs the production scrub — chained
    regexp_replace projection, no shuffle."""
    from db_loganalyzer_spark.operators.textstats import pii_scrub

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), d, F.lit("@mail.example.org call 555-"),
            F.lpad((d % 1000).cast("string"), 3, "0"), F.lit("-"),
            F.lpad((d % 10000).cast("string"), 4, "0"),
            F.lit(" from 10.0."), (d % 256), F.lit("."), (d % 256),
        ).alias("text"),
    )
    return pii_scrub(aug)


T05_SQL = r"""
WITH aug AS (
  SELECT doc_id,
         text || ' contact user' || doc_id || '@mail.example.org call 555-'
              || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              || ' from 10.0.' || (doc_id % 256) || '.' || (doc_id % 256) AS text
  FROM documents
)
SELECT doc_id,
       regexp_replace(
         regexp_replace(
           regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g'),
         '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS redacted,
       CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_email,
       CAST(len(regexp_extract_all(text, '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS INT) AS n_phone,
       CAST(len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INT) AS n_ipv4
FROM aug
"""


def t06_repetition_stats(spark, sf_dir):
    """Gopher-style repetition quality signals per document."""
    from db_loganalyzer_spark.operators.textstats import repetition_stats

    return repetition_stats(_t(spark, sf_dir, "documents"))


T06_SQL = r"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
                     x -> x <> '') AS w
  FROM documents
), b AS (
  SELECT doc_id, w, len(w) AS n,
         CASE WHEN len(w) >= 2
              THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i + 1])
              ELSE [] END AS bg
  FROM t
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_words,
       CASE WHEN n > 0 THEN len(list_distinct(w)) / n END AS distinct_ratio,
       CASE WHEN n > 0 THEN
         list_max(list_transform(list_distinct(w),
                                 u -> len(list_filter(w, x -> x = u)))) / n END
         AS max_word_frac,
       CASE WHEN len(bg) > 0 THEN
         list_max(list_transform(list_distinct(bg),
                                 u -> len(list_filter(bg, x -> x = u)))) / len(bg) END
         AS max_bigram_frac
FROM b
"""


def m09_stratified_sample(spark, sf_dir):
    """Deterministic dataset MIXING: per-source keep rates as a pure
    projection — membership is a stable function of (doc_id, salt), so
    the same documents are selected across runs, engines, and
    re-partitions; exact at 1e-6 rate resolution."""
    from db_loganalyzer_spark.operators.sampling import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    out = stratified_sample(
        docs,
        {"src0": 1.0, "src1": 0.5, "src2": 0.25},
        default_rate=0.1,
    )
    return out.select("doc_id", "source")


M09_SQL = """
SELECT doc_id, source FROM documents
WHERE ((doc_id * 2654435761) % 4294967296) % 1000000 <
      CASE source WHEN 'src0' THEN 1000000
                  WHEN 'src1' THEN 500000
                  WHEN 'src2' THEN 250000
                  ELSE 100000 END
"""


def a19_stats_report_grouping_sets(spark, sf_dir):
    """A17's four-scan stats report as ONE pass: GROUPING SETS
    ((severity), (event_type), ()) share a single scan + shuffle — the
    same shared-scan economics as a18, applied to the reference's
    stats surface (cli_wrapper/main.py:434-512 runs each aggregate as a
    separate query). Spark's cube() is filtered by grouping flags to the
    three sets; GROUPING() flags disambiguate a genuinely-NULL key from
    a rolled-up one."""
    ev = _events(spark, sf_dir)
    g_sev = F.grouping("severity").cast("int")
    g_et = F.grouping("event_type").cast("int")
    return (
        ev.cube("severity", "event_type")
        .agg(
            g_sev.alias("g_sev"),
            g_et.alias("g_et"),
            F.count(F.lit(1)).alias("n"),
        )
        .filter((F.col("g_sev") + F.col("g_et")) >= 1)
    )


A19_SQL = """
WITH ev AS (
  SELECT CAST(FLOOR(value) AS INT) AS severity, event_type FROM events
)
SELECT severity, event_type,
       CAST(GROUPING(severity) AS INT) AS g_sev,
       CAST(GROUPING(event_type) AS INT) AS g_et,
       COUNT(*) AS n
FROM ev
GROUP BY GROUPING SETS ((severity), (event_type), ())
"""


def m05_hash_split(spark, sf_dir):
    """Deterministic train/val/test split audit: Knuth multiplicative
    hash of doc_id -> bucket -> 80/10/10 labels, per-split counts."""
    from db_loganalyzer_spark.operators.sampling import split_sizes

    return split_sizes(_t(spark, sf_dir, "documents"))


M05_SQL = """
SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
       COUNT(*) AS n_docs
FROM (SELECT ((doc_id * 2654435761) % 4294967296) % 100 AS b FROM documents)
GROUP BY 1
"""


def m06_decontaminate(spark, sf_dir):
    """Benchmark decontamination: corpus docs sharing any word 3-gram
    with the held-out benchmark slice (doc_id % 50 = 0). n=3 gives the
    small synthetic vocabulary real overlap signal; production uses the
    operator's n=8 default."""
    from db_loganalyzer_spark.operators.dedup import ngram_contamination

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    return ngram_contamination(corpus, bench, n=3)


M06_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
                     x -> x <> '') AS w
  FROM documents
), sh AS (
  SELECT doc_id, unnest(list_distinct(
           CASE WHEN len(w) >= 3
                THEN list_transform(range(1, len(w) - 1),
                                    i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])
                ELSE [] END)) AS shingle
  FROM toks
)
SELECT c.doc_id AS corpus_id,
       COUNT(DISTINCT c.shingle) AS n_shared_shingles,
       COUNT(DISTINCT b.doc_id) AS n_bench_docs
FROM (SELECT * FROM sh WHERE doc_id % 50 <> 0) c
JOIN (SELECT * FROM sh WHERE doc_id % 50 = 0) b USING (shingle)
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Round-5 additions: stitched global-order window through the driver
# contract, sequence packing, corpus vocabulary stats
# ---------------------------------------------------------------------------


def w12_value_drops_global(spark, sf_dir):
    """W1 over a truly GLOBAL order via the stitched variant: range-
    shuffle on (ts, event_id), per-range-partition window, boundary carry
    from a collected per-partition summary (windows.value_drops_stitched)
    — no single-partition window anywhere. Bit-identical to the global
    window, which is exactly what the oracle below states."""
    ev = _t(spark, sf_dir, "events")
    out = W.value_drops_stitched(ev, "value", ts_col="ts", tiebreak="event_id")
    return out.select("event_id", "prev_value", F.col("value"), "drop_amount")


W12_SQL = """
WITH lagged AS (
  SELECT event_id, value,
         last_value(value IGNORE NULLS) OVER (
           ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_value
  FROM events
)
SELECT event_id, prev_value, value, prev_value - value AS drop_amount
FROM lagged
WHERE value IS NOT NULL AND prev_value IS NOT NULL AND value < prev_value
"""


def pack01_sequence_packing(spark, sf_dir):
    """Contiguous greedy sequence packing into 512-token bins per source
    shard (operators/sampling.pack_sequences): one window cumsum + one
    groupBy, key-parallel at scale, deterministic id-ordered fill."""
    from db_loganalyzer_spark.operators.sampling import pack_sequences

    docs = _t(spark, sf_dir, "documents")
    return pack_sequences(docs, budget_tokens=512, by=["source"])


PACK01_SQL = r"""
WITH base AS (
  SELECT source, doc_id,
         len(list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
                         x -> x <> '')) AS n_toks
  FROM documents
), cum AS (
  SELECT source, doc_id, n_toks,
         SUM(n_toks) OVER (PARTITION BY source ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
  FROM base
)
SELECT source, CAST(FLOOR((c - n_toks) / 512.0) AS BIGINT) AS pack_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_toks) AS BIGINT) AS pack_tokens,
       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
FROM cum
GROUP BY 1, 2
"""


def t09_vocab_stats(spark, sf_dir):
    """Corpus vocabulary head: top-20 tokens by total frequency + doc
    frequency, deterministic (count desc, token asc) tiebreak."""
    from db_loganalyzer_spark.operators.textstats import vocab_stats

    docs = _t(spark, sf_dir, "documents")
    return vocab_stats(docs, k=20)


T09_SQL = r"""
WITH base AS (
  SELECT doc_id,
         list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
                     x -> x <> '') AS toks
  FROM documents
), tok AS (
  SELECT doc_id, unnest(toks) AS token FROM base
)
SELECT token, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM tok
GROUP BY 1
ORDER BY n DESC, token
LIMIT 20
"""


def j07_asof_join(spark, sf_dir):
    """J7 — generic backward as-of join: each view event gets the user's
    latest purchase value at-or-before it. Implemented as ONE key shuffle
    (union + tag + last-non-null window), no range join, unbounded
    look-back; the oracle is DuckDB's native ASOF LEFT JOIN over the
    identically deduplicated right side."""
    from db_loganalyzer_spark.operators.joins import asof_join

    ev = _t(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "view").select(
        "user_id", "event_id", "ts"
    )
    right = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    out = asof_join(left, right, by=["user_id"], value_cols=["value"])
    return out.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "value",
        F.unix_micros("asof_ts").alias("asof_ts_us"),
    )


J07_SQL = """
WITH l AS (
  SELECT user_id, event_id, ts FROM events WHERE event_type = 'view'
), r0 AS (
  SELECT user_id, ts, MAX(value) AS value
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
)
SELECT l.user_id, l.event_id, epoch_us(l.ts) AS ts_us,
       r0.value AS value, epoch_us(r0.ts) AS asof_ts_us
FROM l ASOF LEFT JOIN r0 ON l.user_id = r0.user_id AND l.ts >= r0.ts
"""


def j10_asof_forward(spark, sf_dir):
    """J10 — forward as-of join (joins.asof_join direction='forward'):
    each error event gets the user's NEXT purchase at-or-after it —
    the time-to-next-action join. Same one-key-shuffle union + tag
    machinery as j07 with the frame reversed (first-non-null over the
    following rows); duplicate-timestamp right rows reduce by MIN.
    Oracle: DuckDB's native ASOF LEFT JOIN with l.ts <= r.ts."""
    from db_loganalyzer_spark.operators.joins import asof_join

    ev = _t(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "error").select(
        "user_id", "event_id", "ts"
    )
    right = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    out = asof_join(
        left, right, by=["user_id"], value_cols=["value"],
        direction="forward",
    )
    return out.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "value",
        F.unix_micros("asof_ts").alias("next_ts_us"),
        (
            (F.unix_micros("asof_ts") - F.unix_micros("ts")) / 1000000.0
        ).alias("seconds_to_next"),
    )


J10_SQL = """
WITH l AS (
  SELECT user_id, event_id, ts FROM events WHERE event_type = 'error'
), r0 AS (
  SELECT user_id, ts, MIN(value) AS value
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
)
SELECT l.user_id, l.event_id, epoch_us(l.ts) AS ts_us,
       r0.value AS value, epoch_us(r0.ts) AS next_ts_us,
       (epoch_us(r0.ts) - epoch_us(l.ts)) / 1000000.0 AS seconds_to_next
FROM l ASOF LEFT JOIN r0 ON l.user_id = r0.user_id AND l.ts <= r0.ts
"""


def j11_asof_nearest(spark, sf_dir):
    """J11 — nearest-event join (joins.asof_nearest): each error event
    gets the user's CLOSEST purchase in time, either direction, ties to
    the earlier one. Two one-key-shuffle as-of passes (j07 backward +
    j10 forward machinery) and a pure column pick — no range join, no
    candidate explosion. Oracle: both DuckDB ASOF directions + the same
    tie rule."""
    from db_loganalyzer_spark.operators.joins import asof_nearest

    ev = _t(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "error").select(
        "user_id", "event_id", "ts"
    )
    right = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    out = asof_nearest(left, right, by=["user_id"], value_cols=["value"])
    return out.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "value",
        F.unix_micros("nearest_ts").alias("nearest_ts_us"),
    )


J11_SQL = """
WITH l AS (
  SELECT user_id, event_id, ts FROM events WHERE event_type = 'error'
), rb AS (
  SELECT user_id, ts, MAX(value) AS value
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
), rf AS (
  SELECT user_id, ts, MIN(value) AS value
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
), b AS (
  SELECT l.user_id, l.event_id, l.ts, r.value AS bv, r.ts AS bts
  FROM l ASOF LEFT JOIN rb r ON l.user_id = r.user_id AND l.ts >= r.ts
), f AS (
  SELECT l.event_id, r.value AS fv, r.ts AS fts
  FROM l ASOF LEFT JOIN rf r ON l.user_id = r.user_id AND l.ts <= r.ts
), j AS (
  SELECT b.user_id, b.event_id, b.ts, b.bv, b.bts, f.fv, f.fts,
         (f.fts IS NULL OR (b.bts IS NOT NULL AND
            epoch_us(b.ts) - epoch_us(b.bts)
              <= epoch_us(f.fts) - epoch_us(b.ts))) AS take_back
  FROM b JOIN f USING (event_id)
)
SELECT user_id, event_id, epoch_us(ts) AS ts_us,
       CASE WHEN take_back THEN bv ELSE fv END AS value,
       epoch_us(CASE WHEN take_back THEN bts ELSE fts END) AS nearest_ts_us
FROM j
"""


def a25_transition_matrix(spark, sf_dir):
    """A25 — first-order Markov transitions over per-user event
    sequences (operators/windows.transition_matrix): count + row-
    normalized probability for each consecutive (from, to) event-type
    pair. One key shuffle + one partial agg to an O(|states|^2) frame;
    p = n / row_total is one exact-integer double division (unrounded,
    engine-identical)."""
    ev = _t(spark, sf_dir, "events")
    return W.transition_matrix(ev, "event_type", ["user_id"])


A25_SQL = """
WITH pairs AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS from_state,
         event_type AS to_state
  FROM events
), trans AS (
  SELECT from_state, to_state, CAST(COUNT(*) AS BIGINT) AS n
  FROM pairs WHERE from_state IS NOT NULL GROUP BY 1, 2
)
SELECT from_state, to_state, n,
       n / CAST(SUM(n) OVER (PARTITION BY from_state) AS DOUBLE) AS p
FROM trans
"""


def w15_trailing_window(spark, sf_dir):
    """W15 — trailing 1h RANGE-window n/avg/max per user at EVERY event
    (operators/windows.trailing_window_agg): the "load in the last
    hour" feature column without a self-join or explode. One key
    shuffle; ties on ts are all in-frame (RANGE semantics, unlike
    ROWS). The trailing sum rides integer micro-units (dsum
    discipline) because raw-double window sums are frame-traversal-
    order dependent (DuckDB's segment tree vs Spark's running sum)."""
    ev = _t(spark, sf_dir, "events")
    out = W.trailing_window_agg(ev, "value", 3600, ["user_id"])
    return out.select(
        "user_id", "event_id", "ts_us", "value",
        "n_trailing", "avg_trailing", "max_trailing",
    )


W15_SQL = """
SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
       CAST(COUNT(value) OVER w AS BIGINT) AS n_trailing,
       CAST(SUM(CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT)) OVER w
            AS DOUBLE) / 1000000.0 / COUNT(value) OVER w AS avg_trailing,
       MAX(value) OVER w AS max_trailing
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
"""


def a26_pivot_crosstab(spark, sf_dir):
    """A26 — event_type x day-of-week crosstab via Spark's native
    pivot with EXPLICIT pivot values (no extra distinct-discovery job;
    the plan is one partial-agg shuffle with 7 conditional counters,
    exactly what the manual FILTER restatement compiles to). Day-of-
    week from pure day-number arithmetic ((epoch_day + 4) % 7,
    1970-01-01 = Thursday; 0 = Sunday) — no engine calendar/locale
    dependency. Absent combinations coalesce to 0."""
    ev = _t(spark, sf_dir, "events")
    dow = (
        (F.floor(F.unix_timestamp("ts") / 86400) + 4) % 7
    ).cast("int")
    piv = (
        ev.select("event_type", dow.alias("dow"))
        .groupBy("event_type")
        .pivot("dow", list(range(7)))
        .count()
    )
    return piv.select(
        "event_type",
        *[
            F.coalesce(F.col(str(d)), F.lit(0)).cast("long").alias(f"dow_{d}")
            for d in range(7)
        ],
    )


A26_SQL = """
WITH base AS (
  SELECT event_type,
         (CAST(FLOOR(epoch_us(ts) / 1000000.0 / 86400) AS BIGINT) + 4) % 7 AS dow
  FROM events
)
SELECT event_type,
       CAST(COUNT(*) FILTER (WHERE dow = 0) AS BIGINT) AS dow_0,
       CAST(COUNT(*) FILTER (WHERE dow = 1) AS BIGINT) AS dow_1,
       CAST(COUNT(*) FILTER (WHERE dow = 2) AS BIGINT) AS dow_2,
       CAST(COUNT(*) FILTER (WHERE dow = 3) AS BIGINT) AS dow_3,
       CAST(COUNT(*) FILTER (WHERE dow = 4) AS BIGINT) AS dow_4,
       CAST(COUNT(*) FILTER (WHERE dow = 5) AS BIGINT) AS dow_5,
       CAST(COUNT(*) FILTER (WHERE dow = 6) AS BIGINT) AS dow_6
FROM base GROUP BY 1
"""


def d12_robust_outliers(spark, sf_dir):
    """D12 (extension) — modified-z-score outliers: 0.6745 * (v - med)
    / MAD with |z| > 3.5 (detectors.robust_outliers). Median and MAD
    both ride the a24 histogram sketch — four two-phase agg passes,
    ZERO per-group sorts, stats broadcast back — so the 50%-breakdown
    robust detector runs at the same scale shape as the mean/std one.
    IEEE basic arithmetic throughout: scores hash-match unrounded."""
    from db_loganalyzer_spark.detectors.detectors import robust_outliers

    ev = _t(spark, sf_dir, "events")
    out = robust_outliers(ev, "value", ["event_type"])
    return out.select(
        "event_id", "event_type", "value", "med", "mad", "robust_z"
    )


def _hist_median_cte(src: str, val: str, tag: str) -> str:
    """DuckDB CTE chain restating sketches.histogram_quantiles at
    q=0.5/256 bins over ``src.{val}`` grouped by event_type; the final
    CTE ``{tag}`` has (event_type, {tag}_est). Generated so the d12
    oracle can't drift from the a24 restatement."""
    return f"""{tag}_s AS (
  SELECT event_type, MIN({val}) AS lo, MAX({val}) AS hi,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM {src} GROUP BY 1
), {tag}_b AS (
  SELECT b.event_type,
         CASE WHEN s.hi = s.lo THEN 0
              ELSE LEAST(CAST(FLOOR((b.{val} - s.lo) / (s.hi - s.lo) * 256)
                              AS BIGINT), 255) END AS bin,
         s.lo, s.hi, s.n
  FROM {src} b JOIN {tag}_s s USING (event_type)
), {tag}_c AS (
  SELECT event_type, bin, CAST(COUNT(*) AS BIGINT) AS cnt,
         MIN(lo) AS lo, MIN(hi) AS hi, MIN(n) AS n
  FROM {tag}_b GROUP BY 1, 2
), {tag} AS (
  SELECT event_type,
         CASE WHEN hi = lo THEN lo
              ELSE lo + ((hi - lo) / 256)
                   * (bin + ((target - (c - cnt)) / CAST(cnt AS DOUBLE))) END
           AS {tag}_est
  FROM (SELECT *, CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS c,
               CAST(CEIL(0.5 * n) AS BIGINT) AS target
        FROM {tag}_c) x
  WHERE c >= target AND (c - cnt) < target
)"""


D12_SQL = f"""
WITH base AS (
  SELECT event_id, event_type, value FROM events
  WHERE value IS NOT NULL AND NOT isnan(value)
), {_hist_median_cte('base', 'value', 'med1')},
dev AS (
  SELECT b.event_id, b.event_type, b.value, m.med1_est AS med,
         ABS(b.value - m.med1_est) AS absdev
  FROM base b JOIN med1 m USING (event_type)
), {_hist_median_cte('dev', 'absdev', 'mad1')}
SELECT d.event_id, d.event_type, d.value, d.med, m.mad1_est AS mad,
       0.6745 * (d.value - d.med) / m.mad1_est AS robust_z
FROM dev d JOIN mad1 m USING (event_type)
WHERE m.mad1_est <> 0
  AND ABS(0.6745 * (d.value - d.med) / m.mad1_est) > 3.5
"""


def st05_streaming_ewma(spark, sf_dir):
    """w11's streaming form: per-key EWMA as a custom stateful operator
    (applyInPandasWithState, one double of state per key). The recursive
    fold is float-op-identical to the batch pandas ewm(adjust=False)
    path, so the drained stream reproduces w11's output bit-for-bit and
    shares its oracle: NULL values filtered before the smoother, raw
    doubles compared unrounded (both sides bit-identical)."""
    stream = ST.read_events_stream(spark, sf_dir)
    return _drain(ST.streaming_ewma(stream, alpha=0.3), "st05")


ST05_SQL = """
WITH g AS (
  SELECT user_id,
         list(value ORDER BY ts, event_id) AS vs,
         list(event_id ORDER BY ts, event_id) AS ids
  FROM events WHERE value IS NOT NULL GROUP BY 1
)
SELECT user_id, unnest(ids) AS event_id,
       unnest(list_transform(generate_series(1, len(vs)), i ->
         list_reduce(vs[1:i], (acc, x) -> (1 - 0.3)*acc + 0.3*x))) AS ewma
FROM g
"""


def j08_interval_join(spark, sf_dir):
    """J8 — generic point-in-interval containment join, planned as a
    bucketed EQUI join (operators/joins.interval_join): intervals explode
    to the hour buckets they cover, points carry one bucket, a pair meets
    in exactly one exploded row. Here: per-user daily activity spans
    (>=5 events, non-degenerate) probed by error events — "how many heavy
    user sessions were active when each error fired". The oracle is the
    bare BETWEEN theta join DuckDB plans as an IEJoin."""
    from db_loganalyzer_spark.operators.joins import interval_join

    ev = _t(spark, sf_dir, "events")
    spans = (
        ev.groupBy("user_id", F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.min("ts").alias("start_ts"),
            F.max("ts").alias("end_ts"),
            F.count(F.lit(1)).alias("n"),
        )
        .filter((F.col("end_ts") > F.col("start_ts")) & (F.col("n") >= 5))
        .select(F.col("user_id").alias("span_user"), "start_ts", "end_ts")
    )
    pts = ev.filter(F.col("event_type") == "error").select("event_id", "ts")
    pairs = interval_join(pts, spans, "ts", "start_ts", "end_ts", 3600.0)
    return pairs.groupBy("event_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_active_spans"),
        F.min("span_user").alias("min_user"),
        F.max("span_user").alias("max_user"),
    )


J08_SQL = """
WITH spans AS (
  SELECT user_id AS span_user, date_trunc('day', ts) AS day,
         MIN(ts) AS start_ts, MAX(ts) AS end_ts
  FROM events GROUP BY 1, 2
  HAVING MAX(ts) > MIN(ts) AND COUNT(*) >= 5
), pts AS (
  SELECT event_id, ts FROM events WHERE event_type = 'error'
)
SELECT p.event_id, CAST(COUNT(*) AS BIGINT) AS n_active_spans,
       MIN(s.span_user) AS min_user, MAX(s.span_user) AS max_user
FROM pts p JOIN spans s ON p.ts >= s.start_ts AND p.ts <= s.end_ts
GROUP BY 1
"""


def a21_session_funnel(spark, sf_dir):
    """A21 — per-session view->purchase conversion funnel over w05's
    sessionization (operators/windows.session_funnel): one in-session
    has-seen-view running flag + one partial-agg shuffle, no self-join.
    Tie semantics are the total order (ts, event_id) — a purchase tied
    on ts converts only if the view sorts before it."""
    ev = _events(spark, sf_dir)
    sess = W.sessionize(ev, 3600, partition_by=["user_id"])
    return W.session_funnel(
        sess, "view", "purchase", partition_by=["user_id"]
    )


A21_SQL = """
WITH flagged AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN epoch_us(ts) / 1000000.0
                   - (epoch_us(lag(ts) OVER w) / 1000000.0) > 3600
                OR lag(ts) OVER w IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT user_id, ts, event_id, event_type,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1
              AS BIGINT) AS session_id
  FROM flagged
), seen AS (
  SELECT user_id, session_id, ts, event_type,
         MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id, session_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seen_view
  FROM numbered
)
SELECT user_id, session_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS n_first,
       CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS n_second,
       epoch_us(MIN(CASE WHEN event_type = 'view' THEN ts END)) AS first_step_us,
       epoch_us(MIN(CASE WHEN event_type = 'purchase' AND seen_view = 1 THEN ts END)) AS converted_us,
       MIN(CASE WHEN event_type = 'purchase' AND seen_view = 1 THEN ts END) IS NOT NULL AS converted,
       (epoch_us(MIN(CASE WHEN event_type = 'purchase' AND seen_view = 1 THEN ts END))
        - epoch_us(MIN(CASE WHEN event_type = 'view' THEN ts END))) / 1000000.0 AS seconds_to_convert
FROM seen GROUP BY 1, 2
"""


def a22_hll_distinct(spark, sf_dir):
    """A22 — engine-portable HyperLogLog distinct count
    (operators/sketches.hll_estimate, p=12 -> 4096 registers) next to
    the exact COUNT(DISTINCT) it replaces at scale. The registers use
    the lowbias32 avalanche mixer + bin()-length rank (exact signed-64
    integers; a plain multiplicative hash is bijective mod power-of-two
    buckets and biases the estimate +24% — see operators/sketches.py),
    and the harmonic-mean denominator is the exact BIGINT
    sum(2^(R-rho)), so the ESTIMATE itself — one double division of two
    exact integers, linear-counting branch included — hash-matches the
    oracle; the approximation is verified, not just a row count.
    Scale: COUNT(DISTINCT key) shuffles every distinct key; the sketch
    shuffles <= 4096 small ints per map partition."""
    from db_loganalyzer_spark.operators.sketches import hll_estimate

    ev = _t(spark, sf_dir, "events")
    est = hll_estimate(ev, "user_id", p=12)
    exact = ev.filter(F.col("user_id").isNotNull()).agg(
        F.countDistinct("user_id").cast("bigint").alias("exact_distinct")
    )
    return est.crossJoin(F.broadcast(exact)).select(
        "m",
        "nonzero_registers",
        "scaled_sum",
        "estimate",
        "exact_distinct",
        F.round(
            (F.col("estimate") / F.col("exact_distinct") - 1) * 100, 4
        ).alias("rel_err_pct"),
    )


# p=12: m=4096 registers, width=20 value bits, max rank R=21, scale 2^21;
# 25371803950842.746 = alpha_4096 * 4096^2 * 2^21 exactly as the Python
# double computes it (alpha scaled by a power of two -> no extra rounding).
# The hash restatement is generated by sketches.mix32_sql so the two
# engines' mixers cannot drift (imported near the top of the module,
# before its first f-string use in M10_SQL).

A22_SQL = f"""
WITH h AS (
  SELECT h
  FROM {_mix32_sql_select('user_id',
        '(SELECT user_id FROM events WHERE user_id IS NOT NULL)')} x
), pr AS (
  SELECT CAST(h % 4096 AS INT) AS bucket,
         CAST((h - h % 4096) / 4096 AS BIGINT) AS v
  FROM h
), regs AS (
  SELECT bucket,
         MAX(CASE WHEN v = 0 THEN 21 ELSE 20 - length(bin(v)) + 1 END) AS rho
  FROM pr GROUP BY 1
), agg AS (
  SELECT CAST(SUM(CAST(1 AS BIGINT) << (21 - rho)) AS BIGINT) AS s_nonzero,
         CAST(COUNT(*) AS BIGINT) AS nz
  FROM regs
), est AS (
  SELECT 4096 AS m, nz,
         s_nonzero + (4096 - nz) * 2097152 AS s,
         4096 - nz AS zeros
  FROM agg
), fin AS (
  SELECT m, nz, s,
         ROUND(CASE WHEN (25371803950842.746 / CAST(s AS DOUBLE)) <= 10240.0
                         AND zeros > 0
                    THEN 4096.0 * ln(4096.0 / CAST(zeros AS DOUBLE))
                    ELSE 25371803950842.746 / CAST(s AS DOUBLE) END,
               6) AS estimate
  FROM est
)
SELECT CAST(m AS BIGINT) AS m,
       nz AS nonzero_registers,
       s AS scaled_sum,
       estimate,
       x.exact_distinct,
       ROUND((estimate / x.exact_distinct - 1) * 100, 4) AS rel_err_pct
FROM fin, (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
           FROM events WHERE user_id IS NOT NULL) x
"""


def w13_gap_fill(spark, sf_dir):
    """W13 — resample each user's value stream onto a regular 6h grid
    with last-observation-carried-forward (operators/timeseries.
    gap_fill). The raw-event pass is one two-phase groupBy (map-side
    partial max_by); the grid explode, join and LOCF window all operate
    on bucket-level rows — O(span/bucket) per key regardless of event
    volume. In-bucket "last" is the (ts, event_id) total order."""
    from db_loganalyzer_spark.operators.timeseries import gap_fill

    ev = _t(spark, sf_dir, "events")
    out = gap_fill(ev, 21600, ["user_id"])
    return out.select("user_id", "bucket", "value", "is_gap")


W13_SQL = """
WITH obs AS (
  SELECT user_id,
         CAST(FLOOR(epoch_us(ts) / 1000000.0 / 21600) * 21600 AS BIGINT) AS bucket,
         value,
         row_number() OVER (
           PARTITION BY user_id,
                        CAST(FLOOR(epoch_us(ts) / 1000000.0 / 21600) * 21600 AS BIGINT)
           ORDER BY ts DESC, event_id DESC) AS rn
  FROM events WHERE value IS NOT NULL
), o AS (
  SELECT user_id, bucket, value AS last_value FROM obs WHERE rn = 1
), spans AS (
  SELECT user_id, MIN(bucket) AS b0, MAX(bucket) AS b1 FROM o GROUP BY 1
), grid AS (
  SELECT user_id, unnest(generate_series(b0, b1, 21600)) AS bucket FROM spans
), j AS (
  SELECT g.user_id, g.bucket, o.last_value
  FROM grid g LEFT JOIN o ON g.user_id = o.user_id AND g.bucket = o.bucket
)
SELECT user_id, bucket,
       last_value(last_value IGNORE NULLS)
         OVER (PARTITION BY user_id ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
       last_value IS NULL AS is_gap
FROM j
"""


def w14_scd2_intervals(spark, sf_dir):
    """W14 — SCD-type-2 state history (operators/timeseries.
    scd2_intervals): one row per run of consecutive identical
    event_type values per user, with [valid_from, valid_to) bounds and
    an open current run. ONE key shuffle; both windows share the (key,
    ts, event_id) sort. An as-of join (j07) against this output
    reconstructs any point-in-time state."""
    from db_loganalyzer_spark.operators.timeseries import scd2_intervals

    ev = _t(spark, sf_dir, "events")
    out = scd2_intervals(ev, "event_type", ["user_id"])
    return out.select(
        "user_id",
        "state",
        F.unix_micros("valid_from").alias("valid_from_us"),
        F.unix_micros("valid_to").alias("valid_to_us"),
        "is_current",
    )


W14_SQL = """
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER w AS prev_state,
         row_number() OVER w AS rn
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), changes AS (
  SELECT user_id, event_type AS state, ts, event_id
  FROM ordered
  WHERE rn = 1 OR prev_state IS DISTINCT FROM event_type
)
SELECT user_id, state,
       epoch_us(ts) AS valid_from_us,
       epoch_us(lead(ts) OVER w2) AS valid_to_us,
       lead(ts) OVER w2 IS NULL AS is_current
FROM changes
WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def st07_streaming_hll(spark, sf_dir):
    """a22's streaming form: distinct users per daily tumbling window
    via HyperLogLog registers as the streaming state
    (streaming/streams.streaming_hll_registers). Exact per-window
    distinct counts would hold every key in state; the register table
    holds <= 4096 ints per window whatever the cardinality. Append mode
    emits a window's registers at watermark close; the drained rows
    finish through the SAME sketches.hll_finish math as batch a22, so
    the streaming estimate is bit-identical to the batch one over the
    closed windows — and hash-checked against the oracle's restatement."""
    from db_loganalyzer_spark.operators.sketches import hll_finish

    stream = ST.read_events_stream(spark, sf_dir)
    regs = ST.streaming_hll_registers(stream, 86400, "user_id", p=12)
    drained = _drain(regs, "st07")
    return hll_finish(drained, 12, ["window_start"])


ST07_SQL = f"""
WITH h AS (
  SELECT window_start, h
  FROM {_mix32_sql_select(
        'user_id',
        '(SELECT CAST(FLOOR(epoch_us(ts) / 1000000.0 / 86400) * 86400 '
        'AS BIGINT) AS window_start, user_id FROM events '
        'WHERE user_id IS NOT NULL)',
        passthrough=['window_start'])} x
), pr AS (
  SELECT window_start, CAST(h % 4096 AS INT) AS bucket,
         CAST((h - h % 4096) / 4096 AS BIGINT) AS v
  FROM h
), regs AS (
  SELECT window_start, bucket,
         MAX(CASE WHEN v = 0 THEN 21 ELSE 20 - length(bin(v)) + 1 END) AS rho
  FROM pr GROUP BY 1, 2
), closed AS (
  SELECT * FROM regs
  WHERE window_start + 86400 <= (SELECT epoch_us(MAX(ts)) / 1000000.0 FROM events)
), agg AS (
  SELECT window_start,
         CAST(SUM(CAST(1 AS BIGINT) << (21 - rho)) AS BIGINT) AS s_nonzero,
         CAST(COUNT(*) AS BIGINT) AS nz
  FROM closed GROUP BY 1
), est AS (
  SELECT window_start, nz, s_nonzero + (4096 - nz) * 2097152 AS s,
         4096 - nz AS zeros
  FROM agg
)
SELECT window_start, CAST(4096 AS BIGINT) AS m, nz AS nonzero_registers,
       s AS scaled_sum,
       ROUND(CASE WHEN (25371803950842.746 / CAST(s AS DOUBLE)) <= 10240.0
                       AND zeros > 0
                  THEN 4096.0 * ln(4096.0 / CAST(zeros AS DOUBLE))
                  ELSE 25371803950842.746 / CAST(s AS DOUBLE) END,
             6) AS estimate
FROM est
"""


def st09_streaming_gap_fill(spark, sf_dir):
    """ST09 — w13's streaming form: per-key LOCF resampling as a custom
    stateful operator (streaming/streams.streaming_gap_fill,
    applyInPandasWithState). State is the OPEN (bucket, value) per key
    — two scalars whatever the volume; a bucket's row emits exactly
    once, when a later bucket supersedes it (append mode cannot
    retract), holes going out with the carried value. Drained
    in-order the output equals batch w13 minus each key's final
    still-open bucket — which is exactly what the oracle states
    (the grid stops one bucket short of each key's max). State is
    key-bucketed: packed frontier arrays per state group, segmented
    vectorized fold (the ``_bucketed`` note in streams.py)."""
    stream = ST.read_events_stream(spark, sf_dir)
    out = ST.streaming_gap_fill(stream, 21600, "user_id")
    return _drain(out, "st09")


ST09_SQL = """
WITH obs AS (
  SELECT user_id,
         CAST(FLOOR(epoch_us(ts) / 1000000.0 / 21600) * 21600 AS BIGINT) AS bucket,
         value,
         row_number() OVER (
           PARTITION BY user_id,
                        CAST(FLOOR(epoch_us(ts) / 1000000.0 / 21600) * 21600 AS BIGINT)
           ORDER BY ts DESC, event_id DESC) AS rn
  FROM events WHERE value IS NOT NULL
), o AS (
  SELECT user_id, bucket, value AS last_value FROM obs WHERE rn = 1
), spans AS (
  SELECT user_id, MIN(bucket) AS b0, MAX(bucket) AS b1 FROM o GROUP BY 1
), grid AS (
  -- one bucket short of the key's max: the open frontier bucket has
  -- not been superseded, so the stream has not emitted it yet
  SELECT user_id, unnest(generate_series(b0, b1 - 21600, 21600)) AS bucket
  FROM spans WHERE b1 > b0
), j AS (
  SELECT g.user_id, g.bucket, o.last_value
  FROM grid g LEFT JOIN o ON g.user_id = o.user_id AND g.bucket = o.bucket
)
SELECT user_id, bucket,
       last_value(last_value IGNORE NULLS)
         OVER (PARTITION BY user_id ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
       last_value IS NULL AS is_gap
FROM j
"""


def t11_tfidf_terms(spark, sf_dir):
    """T11 — top-5 characteristic terms per document by TF-IDF
    (operators/ranking.tfidf_top_terms). One token-explode pass feeds a
    (doc, term) two-phase groupBy; document frequency is a second
    partial agg over that frame; N rides along broadcast. Scores round
    to 6 decimals BEFORE the per-doc rank window (term tiebreak), the
    same float discipline as the cosine entries."""
    from db_loganalyzer_spark.operators.ranking import tfidf_top_terms

    docs = _t(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, top_k=5)


T11_SQL = r"""
WITH tf AS (
  SELECT doc_id, x.term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM documents,
       unnest(list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
                          t -> t <> '')) AS x(term)
  GROUP BY 1, 2
), dfreq AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1
), n AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
), scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, d.df,
         ROUND(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / d.df), 6) AS score
  FROM tf JOIN dfreq d USING (term), n
), ranked AS (
  SELECT doc_id, term, tf, df, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, term) AS "rank"
  FROM scored
)
SELECT doc_id, "rank", term, tf, df, score FROM ranked WHERE "rank" <= 5
"""


def t12_bm25_search(spark, sf_dir):
    """T12 — BM25 keyword search for 'hash join spark', top-20 docs
    (operators/ranking.bm25_search, k1=1.2 b=0.75). The postings scan
    filters to the query terms BEFORE any shuffle; corpus constants (N,
    avg length) broadcast. Per-term contributions are summed in FIXED
    sorted-term order (conditional-max columns added left to right) so
    the double additions are order-identical in both engines."""
    from db_loganalyzer_spark.operators.ranking import bm25_search

    docs = _t(spark, sf_dir, "documents")
    return bm25_search(docs, "hash join spark", top_k=20)


T12_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
                     t -> t <> '') AS tk
  FROM documents
), lens AS (
  SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl FROM toks
), stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(dl) AS BIGINT) AS total_len
  FROM lens
), tf AS (
  SELECT doc_id, x.term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks, unnest(tk) AS x(term)
  WHERE x.term IN ('hash', 'join', 'spark')
  GROUP BY 1, 2
), dfreq AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1
), contrib AS (
  SELECT tf.doc_id, tf.term,
         ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
           * (tf.tf * 2.2)
           / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (l.dl / (CAST(s.total_len AS DOUBLE) / s.n_docs)))) AS c
  FROM tf
  JOIN dfreq d USING (term)
  JOIN lens l USING (doc_id), stats s
), agg AS (
  SELECT doc_id,
         MAX(CASE WHEN term = 'hash' THEN c END) AS c0,
         MAX(CASE WHEN term = 'join' THEN c END) AS c1,
         MAX(CASE WHEN term = 'spark' THEN c END) AS c2,
         CAST(COUNT(*) AS BIGINT) AS n_terms_hit
  FROM contrib GROUP BY 1
)
SELECT doc_id,
       ROUND(COALESCE(c0, 0.0) + COALESCE(c1, 0.0) + COALESCE(c2, 0.0), 6) AS score,
       n_terms_hit
FROM agg
ORDER BY score DESC, doc_id
LIMIT 20
"""


def a23_cohort_retention(spark, sf_dir):
    """A23 — cohort retention matrix: users grouped by first-active day,
    counted on each later active day offset, with retention vs day 0.
    Two partial-agg shuffles over (user, day)-level rows — active days
    collapse per user via collect_set (bounded by span/86400 per user,
    NOT event volume), cohort = array_min, then one groupBy over the
    exploded user-day pairs; each pair is unique so COUNT(*) is the
    distinct-user count. retained_pct is ONE double division per row
    (window max over the tiny cohort-level frame)."""
    ev = _t(spark, sf_dir, "events")
    day = F.floor(F.unix_timestamp("ts") / 86400).cast("long")
    per_user = (
        ev.select("user_id", day.alias("day"))
        .groupBy("user_id")
        .agg(F.collect_set("day").alias("days"))
    )
    pairs = per_user.select(
        "user_id",
        F.array_min("days").alias("cohort_day"),
        F.explode("days").alias("day"),
    )
    ret = pairs.groupBy(
        "cohort_day", (F.col("day") - F.col("cohort_day")).alias("day_offset")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    from pyspark.sql import Window

    w = Window.partitionBy("cohort_day")
    n0 = F.max(F.when(F.col("day_offset") == 0, F.col("n_users"))).over(w)
    return ret.select(
        "cohort_day",
        "day_offset",
        "n_users",
        F.round(F.col("n_users") / n0, 6).alias("retained_pct"),
    )


A23_SQL = """
WITH days AS (
  SELECT DISTINCT user_id,
         CAST(FLOOR(epoch_us(ts) / 1000000.0 / 86400) AS BIGINT) AS day
  FROM events
), cohort AS (
  SELECT user_id, MIN(day) AS cohort_day FROM days GROUP BY 1
), pairs AS (
  SELECT d.user_id, c.cohort_day, d.day - c.cohort_day AS day_offset
  FROM days d JOIN cohort c USING (user_id)
), ret AS (
  SELECT cohort_day, day_offset, CAST(COUNT(*) AS BIGINT) AS n_users
  FROM pairs GROUP BY 1, 2
)
SELECT cohort_day, day_offset, n_users,
       ROUND(n_users / CAST(MAX(CASE WHEN day_offset = 0 THEN n_users END)
                              OVER (PARTITION BY cohort_day) AS DOUBLE),
             6) AS retained_pct
FROM ret
"""


def a24_histogram_quantiles(spark, sf_dir):
    """A24 — per-type p50/p95/p99 from a 256-bin histogram
    (operators/sketches.histogram_quantiles): the sort-free percentile
    at scale. Exact percentile sorts every group; this is two two-phase
    aggregations (min/max/count, then bin counts) + interpolation over
    <= 256 bin rows per group, error bounded by one bin width. Every
    step is IEEE +,-,*,/ (correctly rounded, engine-identical), so the
    ESTIMATE hash-matches the oracle with no rounding fudge — unlike
    t-digest/GK sketches, whose merge order changes the answer."""
    from db_loganalyzer_spark.operators.sketches import (
        histogram_quantiles,
    )

    ev = _t(spark, sf_dir, "events")
    return histogram_quantiles(
        ev, "value", ["event_type"], (0.5, 0.95, 0.99), 256
    )


A24_SQL = """
WITH base AS (
  SELECT event_type, value FROM events
  WHERE value IS NOT NULL AND NOT isnan(value)
), stats AS (
  SELECT event_type, MIN(value) AS lo, MAX(value) AS hi,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM base GROUP BY 1
), binned AS (
  SELECT b.event_type,
         CASE WHEN s.hi = s.lo THEN 0
              ELSE LEAST(CAST(FLOOR((b.value - s.lo) / (s.hi - s.lo) * 256)
                              AS BIGINT), 255) END AS bin,
         s.lo, s.hi, s.n
  FROM base b JOIN stats s USING (event_type)
), counts AS (
  SELECT event_type, bin, CAST(COUNT(*) AS BIGINT) AS cnt,
         MIN(lo) AS lo, MIN(hi) AS hi, MIN(n) AS n
  FROM binned GROUP BY 1, 2
), cum AS (
  SELECT event_type, bin, cnt, lo, hi, n,
         CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS c
  FROM counts
), x AS (
  SELECT event_type, bin, cnt, lo, hi, n, c, qq.q,
         CAST(CEIL(qq.q * n) AS BIGINT) AS target
  FROM cum, (SELECT unnest([0.5, 0.95, 0.99]) AS q) qq
)
SELECT event_type, q, n,
       CASE WHEN hi = lo THEN lo
            ELSE lo + ((hi - lo) / 256)
                 * (bin + ((target - (c - cnt)) / CAST(cnt AS DOUBLE))) END
         AS est
FROM x WHERE c >= target AND (c - cnt) < target
"""


def a27_diurnal_baseline(spark, sf_dir):
    """A27 — diurnal (hour-of-day) baseline + residuals: per
    (event_type, hour-of-day) micro-unit mean over the whole history,
    then each event scored against its hour's profile — the seasonal
    normalization that keeps nightly batch-load spikes from tripping
    flat-baseline detectors (complements d07's trailing-window
    baseline, which this is NOT: the profile here is cyclic, not
    recent). One partial-agg shuffle to a 5x24-row profile, broadcast
    back; residuals are a pure projection. Hour from integer epoch
    arithmetic (UTC session), no calendar functions."""
    ev = _t(spark, sf_dir, "events")
    hour = ((F.floor(F.unix_timestamp("ts") / 3600)) % 24).cast("int")
    base = ev.filter(
        F.col("value").isNotNull() & ~F.isnan("value")
    ).select(
        "event_id", "event_type", "value", hour.alias("hod")
    )
    vm = F.floor(F.col("value") * 1000000.0 + F.lit(0.5)).cast("long")
    profile = base.groupBy("event_type", "hod").agg(
        (
            F.sum(vm).cast("double") / 1000000.0 / F.count("value")
        ).alias("hod_mean"),
        F.count(F.lit(1)).cast("long").alias("hod_n"),
    )
    return (
        base.join(F.broadcast(profile), ["event_type", "hod"])
        .select(
            "event_id",
            "event_type",
            "hod",
            "value",
            "hod_mean",
            "hod_n",
            (F.col("value") - F.col("hod_mean")).alias("residual"),
        )
    )


A27_SQL = """
WITH base AS (
  SELECT event_id, event_type, value,
         CAST(CAST(FLOOR(epoch_us(ts) / 1000000.0 / 3600) AS BIGINT) % 24
              AS INT) AS hod
  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
), profile AS (
  SELECT event_type, hod,
         CAST(SUM(CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
           / 1000000.0 / COUNT(value) AS hod_mean,
         CAST(COUNT(*) AS BIGINT) AS hod_n
  FROM base GROUP BY 1, 2
)
SELECT b.event_id, b.event_type, b.hod, b.value, p.hod_mean, p.hod_n,
       b.value - p.hod_mean AS residual
FROM base b JOIN profile p USING (event_type, hod)
"""


def m15_incremental_dedup(spark, sf_dir):
    """M15 — incremental batch-vs-corpus dedup (dedup.
    ngram_jaccard_against): each ingest batch (doc_id % 10 = 0 here)
    probes the standing corpus shingle index instead of re-running the
    corpus self-join per ingest. Stop-shingle cap computed corpus-side
    only, applied to both sides before set sizes — exact Jaccard over
    the corpus's discriminative vocabulary (m02c semantics)."""
    from db_loganalyzer_spark.operators.dedup import ngram_jaccard_against

    docs = _t(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    return ngram_jaccard_against(
        batch, corpus, threshold=0.12, n=2, max_doc_freq=200
    )


def _m15_shingles(where: str) -> str:
    return f"""
  SELECT doc_id AS id, unnest(list_distinct(list_transform(
           generate_series(1, greatest(len(words) - 1, 0)),
           i -> array_to_string(words[i:i+1], ' ')))) AS shingle
  FROM (
    SELECT doc_id,
           list_filter(string_split_regex(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
                       x -> x <> '') AS words
    FROM documents WHERE {where}
  )"""


M15_SQL = f"""
WITH nsh0 AS ({_m15_shingles("doc_id % 10 = 0")}
), csh0 AS ({_m15_shingles("doc_id % 10 <> 0")}
), hot AS (
  SELECT shingle FROM csh0 GROUP BY 1 HAVING COUNT(*) > 200
), nsh AS (
  SELECT id AS new_id, shingle FROM nsh0
  WHERE shingle NOT IN (SELECT shingle FROM hot)
), csh AS (
  SELECT id AS corpus_id, shingle FROM csh0
  WHERE shingle NOT IN (SELECT shingle FROM hot)
), nn AS (
  SELECT new_id, COUNT(*) AS n_new FROM nsh GROUP BY 1
), nc AS (
  SELECT corpus_id, COUNT(*) AS n_corpus FROM csh GROUP BY 1
), inter AS (
  SELECT new_id, corpus_id, COUNT(*) AS n_inter
  FROM nsh JOIN csh USING (shingle) GROUP BY 1, 2
)
SELECT new_id, corpus_id, n_inter, nn.n_new, nc.n_corpus,
       n_inter / (nn.n_new + nc.n_corpus - n_inter) AS jaccard
FROM inter JOIN nn USING (new_id) JOIN nc USING (corpus_id)
WHERE n_inter / (nn.n_new + nc.n_corpus - n_inter) >= 0.12
"""


def t16_zipf_fit(spark, sf_dir):
    """T16 — Zipf power-law fit of the corpus vocabulary
    (textstats.zipf_fit): least-squares slope/intercept/r of log(freq)
    vs log(rank). Natural text ~ -1; far-off slopes flag degenerate
    corpora before training. One token-key shuffle + a bounded top-N
    rank + ONE 1-row regression aggregate; logs rounded+scaled to exact
    BIGINT micro-units before summation, composites in DECIMAL(38,0) /
    HUGEINT — slope and r hash-match unrounded."""
    from db_loganalyzer_spark.operators.textstats import zipf_fit

    return zipf_fit(_t(spark, sf_dir, "documents"), top_n=10_000)


T16_SQL = r"""
WITH tok AS (
  SELECT unnest(list_filter(
           string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
           x -> x <> '')) AS token
  FROM documents
), counts AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS n
  FROM tok GROUP BY 1 ORDER BY n DESC, token LIMIT 10000
), ranked AS (
  SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, token) AS rank FROM counts
), pts AS (
  SELECT CAST(FLOOR(ROUND(ln(CAST(rank AS DOUBLE)), 6) * 1000000 + 0.5)
              AS BIGINT) AS x,
         CAST(FLOOR(ROUND(ln(CAST(n AS DOUBLE)), 6) * 1000000 + 0.5)
              AS BIGINT) AS y
  FROM ranked
), s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         SUM(CAST(x AS HUGEINT) * y) AS sxy,
         SUM(CAST(x AS HUGEINT) * x) AS sxx,
         SUM(CAST(y AS HUGEINT) * y) AS syy
  FROM pts
)
SELECT k AS n_terms,
       CAST(k * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
         / CAST(k * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE) AS slope,
       (CAST(sy AS DOUBLE) / 1000000.0 / k)
         - (CAST(k * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
            / CAST(k * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE))
           * (CAST(sx AS DOUBLE) / 1000000.0 / k) AS intercept,
       CASE WHEN CAST(k * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE) > 0
                 AND CAST(k * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE) > 0
            THEN (CAST(k * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                  / sqrt(CAST(k * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)))
                 / sqrt(CAST(k * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE))
       END AS r
FROM s
"""


def d16_seasonal_anomalies(spark, sf_dir):
    """D16 — anomalies against the CYCLIC hour-of-day profile
    (detectors.seasonal_anomalies): values z-scored per (type, hod)
    mean/std over history, so daily peaks are baseline, not alarms —
    the seasonal completion of d06/d07. One partial-agg shuffle to a
    types x 24 profile broadcast back; sum-of-squares accumulates in
    DECIMAL(38,0) (mirrors DuckDB HUGEINT — the d13 overflow class);
    z hash-matches unrounded (exact-integer variance, IEEE sqrt)."""
    from db_loganalyzer_spark.detectors.detectors import seasonal_anomalies

    ev = _t(spark, sf_dir, "events")
    return seasonal_anomalies(ev, "value", z_threshold=3.0, min_samples=30)


D16_SQL = """
WITH base AS (
  SELECT event_id, event_type, value,
         CAST(CAST(FLOOR(epoch_us(ts) / 1000000.0 / 3600) AS BIGINT) % 24
              AS INT) AS hod,
         CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS vm
  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
), prof AS (
  SELECT event_type, hod,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(vm) AS BIGINT) AS s,
         SUM(CAST(vm AS HUGEINT) * vm) AS q
  FROM base GROUP BY 1, 2
), p2 AS (
  SELECT event_type, hod, n,
         CAST(s AS DOUBLE) / 1000000.0 / n AS hod_mean,
         sqrt(CAST(n * q - CAST(s AS HUGEINT) * s AS DOUBLE)
              / CAST(n * (n - 1) AS DOUBLE)) / 1000000.0 AS hod_std
  FROM prof
)
SELECT b.event_id, b.event_type, b.hod, b.value, p.hod_mean, p.hod_std,
       (b.value - p.hod_mean) / p.hod_std AS z
FROM base b JOIN p2 p USING (event_type, hod)
WHERE p.n >= 30 AND p.hod_std IS NOT NULL AND p.hod_std > 0
  AND ABS((b.value - p.hod_mean) / p.hod_std) >= 3.0
"""


def w17_counter_rates(spark, sf_dir):
    """W17 — per-sample counter rate (operators/timeseries.
    counter_rates): the Prometheus rate() primitive — (v - prev) /
    elapsed seconds between consecutive samples per user, resets
    (v < prev) counted as increase-from-zero, NULL on first sample or
    zero elapsed time. One key shuffle + one lag window; the rate is a
    single IEEE division of exact integer micro-deltas, deterministic
    unrounded."""
    from db_loganalyzer_spark.operators.timeseries import counter_rates

    ev = _t(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & ~F.isnan("value")
    )
    out = counter_rates(ev, "value", ["user_id"])
    return out.select(
        "user_id", "event_id", "ts_us", "value",
        "prev_value", "is_reset", "rate_per_s",
    )


W17_SQL = """
WITH base AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us, value
  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
), l AS (
  SELECT user_id, event_id, ts_us, value,
         lag(value) OVER w AS prev_value,
         lag(ts_us) OVER w AS prev_t
  FROM base
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
)
SELECT user_id, event_id, ts_us, value, prev_value,
       COALESCE(value < prev_value, FALSE) AS is_reset,
       CASE WHEN prev_value IS NOT NULL AND ts_us - prev_t > 0
            THEN (CASE WHEN value >= prev_value THEN value - prev_value
                       ELSE value END)
                 / ((ts_us - prev_t) / 1000000.0)
       END AS rate_per_s
FROM l
"""


def a28_funnel_steps(spark, sf_dir):
    """A28 — three-step ordered funnel view -> click -> purchase per
    session (operators/windows.funnel_steps over w05's sessionization):
    m_i = earliest step_i STRICTLY after m_{i-1}. One key shuffle; each
    step is a windowed conditional min over the same partitioning — no
    per-step self-join (the usual quadratic funnel query)."""
    ev = _events(spark, sf_dir)
    sess = W.sessionize(ev, 3600, partition_by=["user_id"])
    return W.funnel_steps(
        sess, ["view", "click", "purchase"], ["user_id", "session_id"]
    )


A28_SQL = """
WITH flagged AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN epoch_us(ts) / 1000000.0
                   - (epoch_us(lag(ts) OVER w) / 1000000.0) > 3600
                OR lag(ts) OVER w IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT user_id, ts, event_id, event_type,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1
              AS BIGINT) AS session_id
  FROM flagged
), f1 AS (
  SELECT *, MIN(CASE WHEN event_type = 'view' THEN ts END)
              OVER (PARTITION BY user_id, session_id) AS m1
  FROM numbered
), f2 AS (
  SELECT *, MIN(CASE WHEN event_type = 'click' AND ts > m1 THEN ts END)
              OVER (PARTITION BY user_id, session_id) AS m2
  FROM f1
), f3 AS (
  SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts > m2 THEN ts END)
              OVER (PARTITION BY user_id, session_id) AS m3
  FROM f2
)
SELECT user_id, session_id,
       epoch_us(MIN(m1)) AS step1_us,
       epoch_us(MIN(m2)) AS step2_us,
       epoch_us(MIN(m3)) AS step3_us,
       CAST((MIN(m1) IS NOT NULL)::int + (MIN(m2) IS NOT NULL)::int
            + (MIN(m3) IS NOT NULL)::int AS BIGINT) AS steps_completed,
       MIN(m3) IS NOT NULL AS completed
FROM f3 GROUP BY 1, 2
"""


def m12_budget_select(spark, sf_dir):
    """M12 — token-budget corpus selection (operators/sampling.
    budget_select): per source, keep the best quality-per-token
    documents until an 800-token budget is spent — the greedy knapsack
    of every data-mixing recipe, made deterministic (value ratio with
    id tiebreak; spend as an exact integer window sum). One scan + one
    partition-local window."""
    from db_loganalyzer_spark.operators.sampling import budget_select

    docs = _t(spark, sf_dir, "documents")
    return budget_select(docs, 800, by=["source"])


M12_SQL = r"""
WITH base AS (
  SELECT source, doc_id, text,
         list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
                     x -> x <> '') AS toks
  FROM documents
), stats AS (
  SELECT source, doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         CASE WHEN len(toks) > 0
              THEN CAST(list_sum(list_transform(toks, t -> len(t))) AS DOUBLE) / len(toks) END AS mwl,
         CASE WHEN length(text) > 0
              THEN CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE) / length(text) END AS pr,
         CASE WHEN len(toks) > 0
              THEN CAST(len(list_filter(toks, t -> list_contains(
                     ['the','a','and','of','to','in','is','that','it','for'], t))) AS DOUBLE) / len(toks)
              END AS swr
  FROM base
), q AS (
  SELECT source, doc_id, n_tokens,
         ROUND(
           (CASE WHEN n_tokens >= 10 AND n_tokens <= 100000 THEN 0.25 ELSE 0.0 END)
           + (CASE WHEN mwl >= 2.5 AND mwl <= 12 THEN 0.25 ELSE 0.0 END)
           + (CASE WHEN COALESCE(pr, 1.0) <= 0.2 THEN 0.25 ELSE 0.0 END)
           + (CASE WHEN COALESCE(swr, 0.0) >= 0.02 THEN 0.25 ELSE 0.0 END), 2) AS quality
  FROM stats
), rt AS (
  SELECT source, doc_id, n_tokens, quality,
         CASE WHEN n_tokens > 0 THEN quality / n_tokens ELSE 0.0 END AS value_per_token
  FROM q
), c AS (
  SELECT source, doc_id, n_tokens, quality, value_per_token,
         CAST(SUM(n_tokens) OVER (PARTITION BY source
                                  ORDER BY value_per_token DESC, doc_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum_tokens
  FROM rt
)
SELECT source, doc_id, n_tokens, quality, value_per_token, cum_tokens
FROM c WHERE cum_tokens <= 800
"""


def d13_lag_correlation(spark, sf_dir):
    """D13 — which signal leads which: Pearson r between the 'error'
    and 'purchase' bucket-count series at every lag in +-12 hours
    (detectors.lag_correlation, 3600s buckets). Events collapse to
    per-type bucket counts; the zero-filled grid, lag explode and all
    six correlation sums run on bucket-level rows and are exact
    BIGINTs, so r — one sqrt + one division over exact inputs — is
    deterministic unrounded."""
    from db_loganalyzer_spark.detectors.detectors import lag_correlation

    ev = _t(spark, sf_dir, "events")
    return lag_correlation(ev, "error", "purchase", 3600, 12)


D13_SQL = """
WITH base AS (
  SELECT CAST(FLOOR(epoch_us(ts) / 1000000.0 / 3600) * 3600 AS BIGINT) AS bucket,
         event_type
  FROM events WHERE event_type IN ('error', 'purchase')
), counts AS (
  SELECT bucket, event_type AS t, CAST(COUNT(*) AS BIGINT) AS n
  FROM base GROUP BY 1, 2
), span AS (
  SELECT MIN(bucket) AS b0, MAX(bucket) AS b1 FROM base
), grid AS (
  SELECT unnest(generate_series(b0, b1, 3600)) AS bucket FROM span
), ga AS (
  SELECT g.bucket, CAST(COALESCE(c.n, 0) AS BIGINT) AS na
  FROM grid g LEFT JOIN counts c ON c.bucket = g.bucket AND c.t = 'error'
), gb AS (
  SELECT g.bucket AS bucket_b, CAST(COALESCE(c.n, 0) AS BIGINT) AS nb
  FROM grid g LEFT JOIN counts c ON c.bucket = g.bucket AND c.t = 'purchase'
), paired AS (
  SELECT l.lag, a.na, b.nb
  FROM ga a, (SELECT unnest(generate_series(-12, 12)) AS lag) l
  JOIN gb b ON b.bucket_b = a.bucket + l.lag * 3600
), s AS (
  SELECT lag, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(na) AS BIGINT) AS sx, CAST(SUM(nb) AS BIGINT) AS sy,
         CAST(SUM(na * nb) AS BIGINT) AS sxy,
         CAST(SUM(na * na) AS BIGINT) AS sxx,
         CAST(SUM(nb * nb) AS BIGINT) AS syy
  FROM paired GROUP BY 1
)
SELECT CAST(lag * 3600 AS BIGINT) AS lag_seconds, n AS n_pairs,
       CASE WHEN sqrt(CAST((n * sxx - sx * sx) * (n * syy - sy * sy) AS DOUBLE)) > 0
            THEN CAST(n * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST((n * sxx - sx * sx) * (n * syy - sy * sy) AS DOUBLE))
       END AS r
FROM s
"""


def st10_streaming_counter_rates(spark, sf_dir):
    """ST10 — w17's streaming form (streams.streaming_counter_rates,
    applyInPandasWithState): state is the previous (t, v) sample per
    key — two scalars whatever the volume — and every sample emits
    exactly once, its rate depending only on its predecessor, so the
    drained stream equals batch w17 row-for-row. Oracle: the identical
    SQL as w17 (no closed-window subtlety). State groups are
    pmod(hash(key), 32), each holding a packed array of per-key
    scalars, so the applyInPandasWithState per-group Python/Arrow
    constant amortizes over ~keys/32 keys per micro-batch."""
    stream = ST.read_events_stream(spark, sf_dir)
    out = ST.streaming_counter_rates(stream)
    return _drain(out, "st10")


def st11_streaming_cusum(spark, sf_dir):
    """ST11 — d14's streaming form (streams.streaming_cusum,
    applyInPandasWithState): per-key CUSUM drift maintained live with
    exactly TWO BIGINT scalars of state (running deviation sum + its
    prefix min), numpy-vectorized fold, every sample emitting once.
    Fixed reference (35.0 ~ the global value median) stands in for the
    batch form's per-key median — the realistic monitoring deployment
    seeds it from a batch baseline. Oracle: the batch closed form with
    the same fixed ref. State is key-bucketed: packed (C, Cmin) arrays
    per state group, segmented vectorized fold."""
    stream = ST.read_events_stream(spark, sf_dir)
    out = ST.streaming_cusum(stream, ref=35.0, threshold=1000.0)
    return _drain(out, "st11")


ST11_SQL = r"""
WITH base AS (
  SELECT user_id, event_id, ts, value,
         CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT) AS vus
  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
), c AS (
  SELECT *, SUM(vus - 35000000) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc
  FROM base
), s AS (
  SELECT *, cc - LEAST(0, MIN(cc) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS ss
  FROM c
)
SELECT user_id, epoch_us(ts) AS ts_us, event_id, value,
       CAST(ss AS DOUBLE) / 1000000.0 AS cusum,
       (CAST(ss AS DOUBLE) / 1000000.0) > 1000.0 AS is_drift
FROM s
"""


def st12_streaming_static_enrich(spark, sf_dir):
    """ST12 — the stream-STATIC dimension join (streams.streaming_
    enrich): live events enriched with per-event_type batch baselines
    (mean/std -> z-score), a12's per-group z-scores made live. The dim
    is one row per event type, computed from the batch table and
    BROADCAST per micro-batch: the stream side never shuffles and the
    join holds ZERO state (Spark re-plans the static side each
    trigger, so a refreshed baseline table is picked up for free). At
    100 TB this is the shape of every enrichment pass: fact stream x
    bounded dim = broadcast, no state store."""
    ev = _events(spark, sf_dir)
    dim = ev.groupBy("event_type").agg(
        F.avg("value").alias("m"), F.stddev_samp("value").alias("sd")
    )
    stream = ST.read_events_stream(spark, sf_dir)
    j = ST.streaming_enrich(stream, dim, on=["event_type"])
    z = F.round(
        F.when(F.col("sd") != 0, (F.col("value") - F.col("m")) / F.col("sd")),
        4,
    )
    out = (
        j.withColumn("zscore", z)
        .filter(F.abs(F.col("zscore")) > 1.3)
        .select("event_id", "event_type", "value", "zscore")
    )
    return _drain(out, "st12")


ST12_SQL = """
WITH s AS (
  SELECT event_type, AVG(value) AS m, stddev_samp(value) AS sd
  FROM events GROUP BY 1
)
SELECT e.event_id, e.event_type, e.value,
       ROUND(CASE WHEN s.sd <> 0 THEN (e.value - s.m) / s.sd END, 4) AS zscore
FROM events e JOIN s USING (event_type)
WHERE ABS(ROUND(CASE WHEN s.sd <> 0 THEN (e.value - s.m) / s.sd END, 4)) > 1.3
"""


def st13_streaming_interval_join(spark, sf_dir):
    """ST13 — the stream-STREAM interval join (streams.streaming_
    interval_join): clicks within 3600 s after each error by the same
    user, matched live as both feeds arrive — j08's interval-join
    family made incremental. Both sides carry watermarks and the range
    condition bounds buffering, so state per user is O(rate x window),
    GC'd as the watermark advances; the join shuffles both streams to
    the same user_id tasks (equi-shuffle, no broadcast, no cross
    product). availableNow over a finite landing dir = the exact batch
    interval join, which is what the oracle states."""
    errs = (
        ST.read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("err_id"),
            F.col("user_id").alias("err_user"),
            F.col("ts").alias("err_ts"),
        )
    )
    clicks = (
        ST.read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("clk_id"),
            F.col("user_id").alias("clk_user"),
            F.col("ts").alias("clk_ts"),
        )
    )
    out = ST.streaming_interval_join(
        errs,
        clicks,
        [("err_user", "clk_user")],
        3600,
        left_ts="err_ts",
        right_ts="clk_ts",
    )
    return _drain(
        out.select(
            "err_id", "clk_id", F.col("err_user").alias("user_id")
        ),
        "st13",
    )


ST13_SQL = """
SELECT a.event_id AS err_id, b.event_id AS clk_id, a.user_id
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND a.event_type = 'error' AND b.event_type = 'click'
 AND epoch_us(b.ts) >= epoch_us(a.ts)
 AND epoch_us(b.ts) <= epoch_us(a.ts) + 3600000000
"""


def st14_streaming_neardup_probe(spark, sf_dir):
    """ST14 — ingest-time NEAR-dup detection (streams.streaming_
    neardup_probe, round-9): arriving documents (doc_id % 10 = 0 here)
    probe a STANDING MinHash-LSH index of the already-ingested corpus
    (% 10 != 0; dedup.minhash_lsh_index) via a STATELESS stream-static
    equi-join on (band, bucket) — signatures are pure column
    expressions, pair uniqueness comes from the minimal-matching-band
    filter over the carried signatures instead of a stateful distinct,
    and verification is the m03e signature estimate. Zero state-store
    rows regardless of corpus size: the index lives in table storage.
    The streaming twin of m15's batch-vs-corpus probe; threshold 0.2
    at k=16 (need >= 4 matching components) sits above the 2-row band
    size, the regime check documented on minhash_lsh_dedup."""
    from db_loganalyzer_spark.operators.dedup import (
        minhash_lsh_index,
        minhash_signatures,
    )
    from db_loganalyzer_spark.streaming import streaming_neardup_probe

    corpus = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 != 0)
    index = minhash_lsh_index(
        minhash_signatures(corpus, 16, 2), bands=8
    )
    stream = ST.read_table_stream(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 == 0
    )
    return _drain(
        streaming_neardup_probe(
            stream, index, threshold=0.2, num_hashes=16, bands=8, n=2
        ),
        "st14",
    )


# Batch restatement: M03E's signature/banding CTEs computed over BOTH
# split sides; candidates = DISTINCT (new, corpus) pairs sharing any
# (band, bucket); estimate = matching-component fraction >= 0.2. The
# minimal-matching-band trick is exactly DISTINCT here.
ST14_SQL = r"""
WITH base AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
                     x -> x <> '') AS words
  FROM documents
), gh AS (
  SELECT doc_id, list_transform(
           list_distinct(list_transform(generate_series(1, greatest(len(words) - 1, 0)),
                                        i -> array_to_string(words[i:i+1], ' '))), g ->
           list_reduce(
             list_prepend(CAST(7 AS BIGINT),
                          list_transform(string_split(g, ''), ch -> CAST(ascii(ch) AS BIGINT))),
             (acc, x) -> (acc * 131 + x) % 1000000007)) AS hs
  FROM base WHERE len(words) >= 2
), sig AS (
  SELECT doc_id,
         list_transform(generate_series(0, 15), k ->
           list_min(list_transform(hs, h -> ((2*k + 1) * h + (10007*k + 12345)) % 1000000007))) AS sig
  FROM gh WHERE len(hs) > 0
), bands AS (
  SELECT doc_id, b,
         list_reduce(list_prepend(CAST(0 AS BIGINT), sig[2*b+1:2*b+2]),
                     (acc, v) -> (acc * 31 + v) % 1000000007) AS bucket
  FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS b) bb
), cand AS (
  SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id
  FROM bands n JOIN bands c ON n.b = c.b AND n.bucket = c.bucket
  WHERE n.doc_id % 10 = 0 AND c.doc_id % 10 <> 0
)
SELECT cand.new_id, cand.corpus_id,
       CAST(len(list_filter(generate_series(1, 16), i -> sn.sig[i] = sc.sig[i])) AS DOUBLE) / 16 AS jaccard
FROM cand
JOIN sig sn ON sn.doc_id = cand.new_id
JOIN sig sc ON sc.doc_id = cand.corpus_id
WHERE CAST(len(list_filter(generate_series(1, 16), i -> sn.sig[i] = sc.sig[i])) AS DOUBLE) / 16 >= 0.2
"""


def st15_streaming_interval_coalesce(spark, sf_dir):
    """ST15 — w21's streaming form (streams.streaming_interval_coalesce,
    applyInPandasWithState): each user's [ts, ts + value seconds]
    activity intervals merge into maximal covered windows incrementally.
    State per key is FOUR BIGINT scalars (open island start/end/count +
    next island id); an island emits exactly once, when a later disjoint
    interval closes it. Drained in-order the output equals batch w21
    minus each key's final still-open island — exactly what the oracle
    states (drop each user's last island). NULL/NaN values filtered on
    both sides (integer interval bounds are the operator's contract)."""
    iv = _event_intervals(ST.read_events_stream(spark, sf_dir))
    out = ST.streaming_interval_coalesce(iv, "user_id")
    return _drain(out, "st15")


ST15_SQL = """
WITH iv AS (
  SELECT user_id,
         epoch_us(ts) AS start_us,
         epoch_us(ts) + CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS end_us
  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
), marked AS (
  SELECT user_id, start_us, end_us,
         CASE WHEN max(end_us) OVER w IS NULL
                OR start_us > max(end_us) OVER w
              THEN 1 ELSE 0 END AS is_new
  FROM iv
  WINDOW w AS (
    PARTITION BY user_id ORDER BY start_us, end_us
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
  )
), grp AS (
  SELECT user_id, start_us, end_us,
         SUM(is_new) OVER (
           PARTITION BY user_id ORDER BY start_us, end_us
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) - 1 AS island_id
  FROM marked
), islands AS (
  SELECT user_id, CAST(island_id AS BIGINT) AS island_id,
         MIN(start_us) AS window_start, MAX(end_us) AS window_end,
         CAST(count(*) AS BIGINT) AS n_intervals
  FROM grp GROUP BY 1, 2
)
SELECT user_id, island_id, window_start, window_end, n_intervals
FROM islands
QUALIFY island_id < MAX(island_id) OVER (PARTITION BY user_id)
"""


def t13_bigram_lm(spark, sf_dir):
    """T13 — corpus bigram LM counts + conditional P(w2|w1)
    (operators/ranking.bigram_lm_counts): the n-gram statistics behind
    boilerplate audits (stuck phrases show near-1.0 conditionals) and
    classical LM baselines. Pairs zip each token array with its own
    tail — pure JVM array ops, one explode, no self-join; one
    partial-agg shuffle to (w1, w2); conditionals divide by the w1 row
    total over the pair-level frame (exact-integer division,
    unrounded)."""
    from db_loganalyzer_spark.operators.ranking import bigram_lm_counts

    docs = _t(spark, sf_dir, "documents")
    return bigram_lm_counts(docs)


T13_SQL = r"""
WITH toks AS (
  SELECT list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
                     t -> t <> '') AS tk
  FROM documents
), pairs AS (
  SELECT tk[g.i] AS w1, tk[g.i + 1] AS w2
  FROM toks, unnest(generate_series(1, len(tk) - 1)) AS g(i)
), counts AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n FROM pairs GROUP BY 1, 2
)
SELECT w1, w2, n,
       n / CAST(SUM(n) OVER (PARTITION BY w1) AS DOUBLE) AS p_cond
FROM counts
"""


def st06_streaming_sliding_rollup(spark, sf_dir):
    """a20's streaming form: the SAME F.window(slideDuration) expression
    under a watermark (streaming/streams.streaming_sliding_rollup),
    append mode — only windows whose END the final watermark passed emit,
    which the oracle states as a closed-window filter over the
    generate_series explode."""
    stream = ST.read_events_stream(spark, sf_dir)
    out = ST.streaming_sliding_rollup(
        stream, 3600, 900, ["event_type"], "value", watermark_delay="0 seconds"
    )
    return _drain(out, "st06")


ST06_SQL = """
WITH ev AS (
  SELECT event_type, value, epoch_us(ts) AS us FROM events
), x AS (
  SELECT event_type, value,
         (CAST(FLOOR(us / 900000000.0) AS BIGINT) - k.k) * 900000000 AS w_us
  FROM ev, (SELECT unnest(generate_series(0, 3)) AS k) k
), roll AS (
  SELECT CAST(w_us // 1000000 AS BIGINT) AS window_start, event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(FLOOR((value) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
           / 1000000.0 / COUNT(value) AS avg_value,
         MAX(value) AS max_value
  FROM x GROUP BY 1, 2
)
SELECT * FROM roll
WHERE window_start + 3600 <= (SELECT epoch_us(MAX(ts)) / 1000000.0 FROM events)
"""


def a20_sliding_rollup(spark, sf_dir):
    """A20 — sliding (hopping) window rollup: 1h windows every 15min via
    Spark's native F.window(slideDuration) (operators/aggregates.
    sliding_windowed_rollup). Catalyst explodes each row into its 4
    overlapping windows JVM-side, then one partial-agg shuffle; the
    oracle restates the explode as a generate_series(0,3) cross join.
    Determinism: micro-unit integer avg, count/max exact."""
    from db_loganalyzer_spark.operators.aggregates import (
        sliding_windowed_rollup,
    )

    ev = _t(spark, sf_dir, "events")
    return sliding_windowed_rollup(ev, 3600, 900, ["event_type"], "value")


A20_SQL = """
WITH ev AS (
  SELECT event_type, value, epoch_us(ts) AS us
  FROM events WHERE value IS NOT NULL
), x AS (
  SELECT event_type, value,
         (CAST(FLOOR(us / 900000000.0) AS BIGINT) - k.k) * 900000000 AS w_start_us
  FROM ev, (SELECT unnest(generate_series(0, 3)) AS k) k
)
SELECT w_start_us, event_type, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(FLOOR((value) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
         / 1000000.0 / COUNT(value) AS avg_value,
       MAX(value) AS max_value
FROM x GROUP BY 1, 2
"""


def j09_interval_concurrency(spark, sf_dir):
    """J9 — active-interval count per point via the sweep-line
    (operators/joins.interval_concurrency): +1/-1 deltas + a stitched
    global running sum, NO join node anywhere in the plan. Same question
    as j08 but over the UNRESTRICTED span set whose pair count explodes
    quadratically under overlap (9M pairs at sf0.1) — the sweep touches
    each row once and emits exactly one row per point, zeros included.
    The oracle pays the pair set (DuckDB IEJoin + COUNT); Spark does not."""
    from db_loganalyzer_spark.operators.joins import interval_concurrency

    ev = _t(spark, sf_dir, "events")
    spans = (
        ev.groupBy("user_id", F.date_trunc("day", "ts").alias("day"))
        .agg(F.min("ts").alias("start_ts"), F.max("ts").alias("end_ts"))
        .filter(F.col("end_ts") > F.col("start_ts"))
        .select("start_ts", "end_ts")
    )
    pts = ev.filter(F.col("event_type") == "error").select("event_id", "ts")
    out = interval_concurrency(pts, spans)
    return out.select("event_id", F.col("n_active").cast("bigint").alias("n_active"))


J09_SQL = """
WITH spans AS (
  SELECT MIN(ts) AS a, MAX(ts) AS b
  FROM events GROUP BY user_id, date_trunc('day', ts)
  HAVING MAX(ts) > MIN(ts)
), pts AS (
  SELECT event_id, ts FROM events WHERE event_type = 'error'
)
SELECT p.event_id, CAST(COUNT(s.a) AS BIGINT) AS n_active
FROM pts p LEFT JOIN spans s ON p.ts >= s.a AND p.ts <= s.b
GROUP BY 1
"""


def t10_length_histogram(spark, sf_dir):
    """Sequence-length distribution in power-of-2 buckets per source
    (operators/textstats.length_histogram) — the pass that sizes packing
    and truncation budgets. Bucket = number of binary digits of the token
    count (length(bin(n)) in both engines — exact integer semantics, no
    float log2)."""
    from db_loganalyzer_spark.operators.textstats import length_histogram

    docs = _t(spark, sf_dir, "documents")
    return length_histogram(docs, by=["source"])


T10_SQL = r"""
WITH base AS (
  SELECT source,
         CAST(len(list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
                              x -> x <> '')) AS BIGINT) AS n
  FROM documents
)
SELECT source,
       CASE WHEN n <= 0 THEN 0 ELSE CAST(length(bin(n)) AS BIGINT) END AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n) AS BIGINT) AS total_tokens,
       MIN(n) AS min_tokens,
       MAX(n) AS max_tokens
FROM base
GROUP BY 1, 2
"""


def pipe01_training_corpus(spark, sf_dir):
    """The end-to-end training-corpus assembly pipeline, composed from
    the engine's own stages in ONE DataFrame flow: quality gate (t07) ->
    exact dedup keepers (m01) -> benchmark decontamination (m06, eval
    slice = doc_id % 50 == 0 of the RAW corpus) -> deterministic
    train/val/test split (m05) -> per-(split, source) token accounting.
    Each stage's semantics are individually oracle-checked elsewhere;
    this entry pins the COMPOSITION (stage order, join keys, anti-join
    semantics) against a chained-CTE restatement."""
    from db_loganalyzer_spark.operators.dedup import (
        exact_dedup_groups,
        ngram_contamination,
    )
    from db_loganalyzer_spark.operators.sampling import assign_split
    from db_loganalyzer_spark.operators.textstats import (
        quality_gate,
        token_count,
    )

    docs = _t(spark, sf_dir, "documents")
    kept = docs.join(
        quality_gate(docs).filter(F.col("keep")).select("doc_id"), "doc_id"
    )
    keepers = exact_dedup_groups(kept).select(
        F.col("keeper_id").alias("doc_id")
    )
    deduped = kept.join(keepers, "doc_id")
    corpus = deduped.filter(F.col("doc_id") % 50 != 0)
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    contaminated = ngram_contamination(corpus, bench, n=3).select(
        F.col("corpus_id").alias("doc_id")
    )
    clean = corpus.join(contaminated, "doc_id", "left_anti")
    return (
        clean.withColumn("split", assign_split("doc_id"))
        .groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(token_count("text")).cast("long").alias("total_tokens"),
        )
    )


PIPE01_SQL = r"""
WITH t AS (
  SELECT doc_id, source, text,
         list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
                     x -> x <> '') AS w
  FROM documents
), s AS (
  SELECT doc_id, len(w) AS n,
         CASE WHEN len(w) > 0 THEN len(list_distinct(w)) / len(w) END AS dr,
         CASE WHEN len(w) > 0 THEN
           list_max(list_transform(list_distinct(w),
                                   u -> len(list_filter(w, x -> x = u)))) / len(w) END AS mwf
  FROM t
), gate AS (
  SELECT doc_id FROM s
  WHERE n >= 5 AND n <= 100000
    AND COALESCE(mwf, 1.0) <= 0.30 AND COALESCE(dr, 0.0) >= 0.30
), kept AS (
  SELECT t.* FROM t JOIN gate USING (doc_id)
), keepers AS (
  SELECT MIN(doc_id) AS doc_id
  FROM kept
  GROUP BY sha256(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
), corpus AS (
  SELECT k.* FROM kept k JOIN keepers USING (doc_id)
  WHERE doc_id % 50 <> 0
), shc AS (
  SELECT doc_id, unnest(list_distinct(
           CASE WHEN len(w) >= 3
                THEN list_transform(range(1, len(w) - 1),
                                    i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])
                ELSE [] END)) AS shingle
  FROM corpus
), shb AS (
  SELECT doc_id, unnest(list_distinct(
           CASE WHEN len(w) >= 3
                THEN list_transform(range(1, len(w) - 1),
                                    i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])
                ELSE [] END)) AS shingle
  FROM t WHERE doc_id % 50 = 0
), contaminated AS (
  SELECT DISTINCT shc.doc_id FROM shc JOIN shb USING (shingle)
), clean AS (
  SELECT * FROM corpus
  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
)
SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
       source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(len(w)) AS BIGINT) AS total_tokens
FROM (SELECT *, ((doc_id * 2654435761) % 4294967296) % 100 AS b FROM clean)
GROUP BY 1, 2
"""


def pipe02_neardup_corpus(spark, sf_dir):
    """The end-to-end NEAR-dup training-corpus assembly — the pipeline a
    production 100 TB corpus actually runs, composed from the engine's
    own stages in ONE DataFrame flow: quality gate (t07) -> MinHash+LSH
    near-dup pairs in verify='hybrid' mode (m03e's scale path: estimate
    filter on the banding signatures, exact Jaccard only for estimated
    positives) -> connected components (m08c) computed ONCE and shared
    -> best-quality representative per duplicate group (m13) ->
    leakage-safe split hashed on the COMPONENT id so no near-clone of a
    train doc can land in val/test (m14) -> benchmark decontamination
    (m06, eval slice = doc_id % 50 == 0 of the RAW corpus) ->
    per-(split, source) token accounting. pipe01 pins the same
    composition with EXACT dedup; this pins the near-dup form — stage
    order, shared components, hybrid verify cutoffs — against a
    chained-CTE restatement.

    Scale shape: the hybrid estimate cutoff is threshold - margin = 0.5
    - 11/32 = 5/32 exactly (estimates are multiples of 1/32 at k=32, so
    the comparison is engine-exact and NON-vacuous: 5 matching
    components > the 4 a single band collision guarantees). Shingle
    arrays shuffle only for estimated positives; components iterate
    over the verified pair list only; the split and accounting are pure
    projections. Reference anchor: the dedup + clustering intent of
    log_analysis/cluster_code_coverage.py:33-47, restated as a corpus
    pipeline."""
    from db_loganalyzer_spark.operators.dedup import (
        dedup_components,
        dedup_representatives,
        leakage_safe_split,
        minhash_lsh_dedup,
        ngram_contamination,
    )
    from db_loganalyzer_spark.operators.textstats import (
        quality_gate,
        quality_score,
        token_count,
    )

    docs = _t(spark, sf_dir, "documents")
    kept = docs.join(
        quality_gate(docs).filter(F.col("keep")).select("doc_id"), "doc_id"
    )
    pairs = hold(minhash_lsh_dedup(
        kept,
        threshold=0.5,
        num_hashes=32,
        bands=8,
        n=2,
        verify="hybrid",
        estimate_margin=11 / 32,
    ))
    comps = dedup_components(pairs)
    reps = dedup_representatives(
        kept, pairs, quality_score("text"), components=comps
    )
    splits = leakage_safe_split(kept, pairs, components=comps)
    corpus = (
        kept.join(reps.filter(F.col("is_keeper")).select("doc_id"), "doc_id")
        .join(splits.select("doc_id", "split"), "doc_id")
        .filter(F.col("doc_id") % 50 != 0)
    )
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    contaminated = ngram_contamination(corpus, bench, n=3).select(
        F.col("corpus_id").alias("doc_id")
    )
    clean = corpus.join(contaminated, "doc_id", "left_anti")
    return clean.groupBy("split", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count("text")).cast("long").alias("total_tokens"),
    )


PIPE02_SQL = r"""
WITH RECURSIVE t AS (
  SELECT doc_id, source, text,
         list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
                     x -> x <> '') AS w
  FROM documents
), s AS (
  SELECT doc_id, len(w) AS n,
         CASE WHEN len(w) > 0 THEN len(list_distinct(w)) / len(w) END AS dr,
         CASE WHEN len(w) > 0 THEN
           list_max(list_transform(list_distinct(w),
                                   u -> len(list_filter(w, x -> x = u)))) / len(w) END AS mwf
  FROM t
), gate AS (
  SELECT doc_id FROM s
  WHERE n >= 5 AND n <= 100000
    AND COALESCE(mwf, 1.0) <= 0.30 AND COALESCE(dr, 0.0) >= 0.30
), kept AS (
  SELECT t.* FROM t JOIN gate USING (doc_id)
), grams AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, greatest(len(w) - 1, 0)),
                                      i -> array_to_string(w[i:i+1], ' '))) AS gs
  FROM kept
), gh AS (
  SELECT doc_id, list_transform(gs, g ->
           list_reduce(
             list_prepend(CAST(7 AS BIGINT),
                          list_transform(string_split(g, ''), ch -> CAST(ascii(ch) AS BIGINT))),
             (acc, x) -> (acc * 131 + x) % 1000000007)) AS hs
  FROM grams WHERE len(gs) > 0
), sig AS (
  SELECT doc_id,
         list_transform(generate_series(0, 31), k ->
           list_min(list_transform(hs, h -> ((2*k + 1) * h + (10007*k + 12345)) % 1000000007))) AS sig
  FROM gh
), bands AS (
  SELECT doc_id, b,
         list_reduce(list_prepend(CAST(0 AS BIGINT), sig[4*b+1:4*b+4]),
                     (acc, v) -> (acc * 31 + v) % 1000000007) AS bucket
  FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS b) bb
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.b = b.b AND a.bucket = b.bucket AND a.doc_id < b.doc_id
), est AS (
  SELECT cand.id_a, cand.id_b
  FROM cand
  JOIN sig sa ON sa.doc_id = cand.id_a
  JOIN sig sb ON sb.doc_id = cand.id_b
  WHERE CAST(len(list_filter(generate_series(1, 32), i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / 32 >= 0.15625
), sh AS (
  SELECT doc_id AS id, unnest(list_distinct(hs)) AS shingle FROM gh
), sizes AS (
  SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY 1
), inter AS (
  SELECT est.id_a, est.id_b, COUNT(*) AS n_inter
  FROM est
  JOIN sh sa ON sa.id = est.id_a
  JOIN sh sb ON sb.id = est.id_b AND sb.shingle = sa.shingle
  GROUP BY 1, 2
), pairs AS (
  SELECT inter.id_a, inter.id_b
  FROM inter
  JOIN sizes sa ON sa.id = inter.id_a
  JOIN sizes sb ON sb.id = inter.id_b
  WHERE n_inter / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
), e AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION SELECT id_b, id_a FROM pairs
), reach AS (
  SELECT a, b FROM e
  UNION
  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a WHERE e.b <> r.a
), comps AS (
  SELECT a AS id, LEAST(a, MIN(b)) AS component_id FROM reach GROUP BY 1
), q1 AS (
  SELECT doc_id, len(w) AS n_tokens,
         CASE WHEN len(w) > 0
              THEN CAST(list_sum(list_transform(w, t -> len(t))) AS DOUBLE) / len(w) END AS mwl,
         CASE WHEN length(text) > 0
              THEN CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE) / length(text) END AS pr,
         CASE WHEN len(w) > 0
              THEN CAST(len(list_filter(w, t -> list_contains(
                     ['the','a','and','of','to','in','is','that','it','for'], t))) AS DOUBLE) / len(w)
              END AS swr
  FROM kept
), q AS (
  SELECT doc_id,
         ROUND(
           (CASE WHEN n_tokens >= 10 AND n_tokens <= 100000 THEN 0.25 ELSE 0.0 END)
           + (CASE WHEN mwl >= 2.5 AND mwl <= 12 THEN 0.25 ELSE 0.0 END)
           + (CASE WHEN COALESCE(pr, 1.0) <= 0.2 THEN 0.25 ELSE 0.0 END)
           + (CASE WHEN COALESCE(swr, 0.0) >= 0.02 THEN 0.25 ELSE 0.0 END), 2) AS quality
  FROM q1
), jq AS (
  SELECT q.doc_id, COALESCE(c.component_id, q.doc_id) AS component_id,
         q.quality
  FROM q LEFT JOIN comps c ON c.id = q.doc_id
), reps AS (
  SELECT doc_id, component_id,
         ROW_NUMBER() OVER (PARTITION BY component_id
                            ORDER BY quality DESC, doc_id) = 1 AS is_keeper
  FROM jq
), corpus AS (
  SELECT k.doc_id, k.source, k.w,
         CASE WHEN bkt < 80 THEN 'train' WHEN bkt < 90 THEN 'val'
              ELSE 'test' END AS split
  FROM kept k
  JOIN (SELECT doc_id,
               ((component_id * 2654435761) % 4294967296) % 100 AS bkt
        FROM jq) sp ON sp.doc_id = k.doc_id
  JOIN reps r ON r.doc_id = k.doc_id AND r.is_keeper
  WHERE k.doc_id % 50 <> 0
), shc AS (
  SELECT doc_id, unnest(list_distinct(
           CASE WHEN len(w) >= 3
                THEN list_transform(range(1, len(w) - 1),
                                    i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])
                ELSE [] END)) AS shingle
  FROM corpus
), shb AS (
  SELECT doc_id, unnest(list_distinct(
           CASE WHEN len(w) >= 3
                THEN list_transform(range(1, len(w) - 1),
                                    i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])
                ELSE [] END)) AS shingle
  FROM t WHERE doc_id % 50 = 0
), contaminated AS (
  SELECT DISTINCT shc.doc_id FROM shc JOIN shb USING (shingle)
), clean AS (
  SELECT * FROM corpus
  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
)
SELECT split, source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(len(w)) AS BIGINT) AS total_tokens
FROM clean
GROUP BY 1, 2
"""


def j12_bloom_prefilter(spark, sf_dir):
    """J12 — bloom-filter semi-join pruning (joins.bloom_build /
    bloom_prefilter): the filter over "customers in ASIA" is built as a
    <= 128-row (word, bits) DataFrame with k=3 engine-portable mix32
    hashes, broadcast onto the orders scan, and every order is flagged
    possible-member BEFORE any wide join. Output is the evidence row the
    100 TB story needs: false_negatives is structurally 0 (no member is
    ever pruned) while bloom_pass tracks exact_match within the measured
    false-positive margin — the fraction of the fact-table shuffle the
    prefilter saves. The oracle recomputes the identical filter bit-for-
    bit in DuckDB (same mix32, same words, same masks)."""
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region")
    build = (
        cust.join(nat, cust.c_nationkey == nat.n_nationkey)
        .join(reg, nat.n_regionkey == reg.r_regionkey)
        .filter(F.col("r_name") == "ASIA")
        .select("c_custkey")
    )
    bloom = J.bloom_build(build, "c_custkey", n_bits=4096, k=3)
    orders = _t(spark, sf_dir, "orders")
    probed = J.bloom_prefilter(orders, bloom, "o_custkey", n_bits=4096, k=3)
    member = build.select(F.col("c_custkey").alias("o_custkey")).withColumn(
        "__m", F.lit(1)
    )
    flagged = probed.join(F.broadcast(member), "o_custkey", "left")
    return flagged.agg(
        F.count(F.lit(1)).cast("bigint").alias("orders_total"),
        F.sum(F.when(F.col("bloom_pass"), 1).otherwise(0))
        .cast("bigint")
        .alias("bloom_pass"),
        F.sum(F.when(F.col("__m").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("exact_match"),
        F.sum(
            F.when(F.col("bloom_pass") & F.col("__m").isNull(), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("false_positives"),
        F.sum(
            F.when(~F.col("bloom_pass") & F.col("__m").isNotNull(), 1).otherwise(
                0
            )
        )
        .cast("bigint")
        .alias("false_negatives"),
    )


_J12_PROBE = _mix32_sql_select(
    "o_custkey",
    "(SELECT o_orderkey, o_custkey FROM orders)",
    passthrough=["o_orderkey", "o_custkey"],
    alias="ha",
    salt=1,
)
_J12_PROBE = _mix32_sql_select(
    "o_custkey",
    _J12_PROBE,
    passthrough=["o_orderkey", "o_custkey", "ha"],
    alias="hb",
    salt=2,
)
_J12_PROBE = _mix32_sql_select(
    "o_custkey",
    _J12_PROBE,
    passthrough=["o_orderkey", "o_custkey", "ha", "hb"],
    alias="hc",
    salt=3,
)

J12_SQL = f"""
WITH bk AS (
  SELECT c_custkey FROM customer
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'ASIA'
), pos AS (
  SELECT h % 4096 AS pos
  FROM {_mix32_sql_select('c_custkey', '(SELECT c_custkey FROM bk)', salt=1)} x1
  UNION ALL
  SELECT h % 4096
  FROM {_mix32_sql_select('c_custkey', '(SELECT c_custkey FROM bk)', salt=2)} x2
  UNION ALL
  SELECT h % 4096
  FROM {_mix32_sql_select('c_custkey', '(SELECT c_custkey FROM bk)', salt=3)} x3
), words AS (
  SELECT pos >> 5 AS word,
         bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS bits
  FROM pos GROUP BY 1
), flags AS (
  SELECT p.o_orderkey,
         (wa.bits IS NOT NULL
          AND (wa.bits & (CAST(1 AS BIGINT) << CAST((p.ha % 4096) % 32 AS INT))) <> 0
          AND wb.bits IS NOT NULL
          AND (wb.bits & (CAST(1 AS BIGINT) << CAST((p.hb % 4096) % 32 AS INT))) <> 0
          AND wc.bits IS NOT NULL
          AND (wc.bits & (CAST(1 AS BIGINT) << CAST((p.hc % 4096) % 32 AS INT))) <> 0
         ) AS hit,
         (m.c_custkey IS NOT NULL) AS member
  FROM {_J12_PROBE} p
  LEFT JOIN words wa ON wa.word = (p.ha % 4096) >> 5
  LEFT JOIN words wb ON wb.word = (p.hb % 4096) >> 5
  LEFT JOIN words wc ON wc.word = (p.hc % 4096) >> 5
  LEFT JOIN (SELECT DISTINCT c_custkey FROM bk) m ON m.c_custkey = p.o_custkey
)
SELECT CAST(count(*) AS BIGINT) AS orders_total,
       CAST(count_if(hit) AS BIGINT) AS bloom_pass,
       CAST(count_if(member) AS BIGINT) AS exact_match,
       CAST(count_if(hit AND NOT member) AS BIGINT) AS false_positives,
       CAST(count_if(member AND NOT hit) AS BIGINT) AS false_negatives
FROM flags
"""


def j13_salted_skew_join(spark, sf_dir):
    """J13 — salted repartition join (joins.salted_join): the skew lever
    the brief names for joins, as a first-class operator. The fact side
    (orders) carries salt = pmod(xxhash64(o_orderkey), 16) — derived
    from the row id, NOT the join key, so a hot custkey's rows spread
    over 16 (key, salt) shuffle groups; customer is replicated 16× by
    one explode and the join runs on (custkey, salt). Row-for-row equal
    to the plain join by construction, so the oracle is the unsalted
    SQL. Complements AQE skew handling: works under streaming (AQE
    off), hash joins, and many-medium-hot-keys below AQE's skewed-
    partition threshold. a33 is the aggregation face of this layout;
    this is the join face."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    j = J.salted_join(
        orders, cust, "o_custkey", "c_custkey", salt_from=["o_orderkey"],
        salt_parts=16,
    )
    return j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.countDistinct("c_custkey").cast("bigint").alias("n_custs"),
        dsum("o_totalprice").alias("total"),
    )


J13_SQL = """
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_custs,
       CAST(SUM(CAST(FLOOR((o_totalprice) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS total
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY 1
"""


def j15_auto_salted_join(spark, sf_dir):
    """J15 — the a37 -> j13 loop CLOSED (joins.decide_salt_parts, then
    joins.salted_join): the salt factor S is chosen from the skew
    report by a deterministic rule — no salt within 4x-of-mean skew
    (AQE's skewedPartitionFactor shape) or when the hottest key fits
    one task, else ceil(max_rows / target) rounded up to a power of
    two and clamped — instead of the hand-picked 16 j13 ships. The
    fact key here is CONSTRUCTED skewed (60% of events collapse onto
    key 0, the rest spread over 40 keys) so the rule demonstrably
    engages, and the CHOSEN S is a result column: the oracle restates
    the decision rule itself in SQL (profile CTE + the same
    double-compared threshold, ceil, pow2, clamp) along with the
    row-equality contract of the salted join (= the unsalted SQL).
    This is the decision automation a 100 TB job needs — the right S
    drifts with the data, so it must be computed, not tuned.
    r12 verdict item #4."""
    ev = _t(spark, sf_dir, "events").select("event_id", "value")
    fact = ev.withColumn(
        "skew_key",
        F.when(
            F.pmod(F.col("event_id"), F.lit(100)) < 60, F.lit(0)
        ).otherwise(F.pmod(F.col("event_id"), F.lit(100))).cast("long"),
    )
    dim = spark.range(100).select(
        F.col("id").cast("long").alias("dim_key"),
        F.pmod(F.col("id"), F.lit(7)).cast("long").alias("dim_bucket"),
    )
    s = J.decide_salt_parts(
        fact, "skew_key", target_rows_per_task=50, max_parts=64
    )
    if s > 1:
        j = J.salted_join(
            fact, dim, "skew_key", "dim_key", salt_from=["event_id"],
            salt_parts=s,
        )
    else:  # the rule's no-salt branch: plain join, no dim replication
        j = fact.join(dim, fact["skew_key"] == dim["dim_key"])
    return (
        j.groupBy("dim_bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.countDistinct("skew_key").cast("bigint").alias("n_keys_seen"),
            dsum("value").alias("total_value"),
        )
        .withColumn("salt_parts", F.lit(s).cast("bigint"))
    )


J15_SQL = """
WITH fact AS (
  SELECT CASE WHEN event_id % 100 < 60 THEN 0
              ELSE event_id % 100 END AS skew_key,
         event_id, value
  FROM events
), dim AS (
  SELECT range AS dim_key, range % 7 AS dim_bucket FROM range(100)
), prof AS (
  SELECT MAX(n) AS max_rows, SUM(n) AS total_rows, COUNT(*) AS n_keys
  FROM (SELECT skew_key, COUNT(*) AS n FROM fact GROUP BY 1) c
), s AS (
  SELECT CASE
    WHEN CAST(max_rows AS DOUBLE) * n_keys <= 4.0 * total_rows THEN 1
    WHEN CAST(CEIL(max_rows / 50.0) AS BIGINT) <= 1 THEN 1
    ELSE least(64, CAST(POWER(2, CEIL(LOG2(CAST(CEIL(max_rows / 50.0)
                                               AS BIGINT)))) AS BIGINT))
  END AS salt_parts FROM prof
)
SELECT dim_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT skew_key) AS BIGINT) AS n_keys_seen,
       CAST(SUM(CAST(FLOOR((value) * 1000000.0 + 0.5) AS BIGINT))
            AS DOUBLE) / 1000000.0 AS total_value,
       (SELECT salt_parts FROM s) AS salt_parts
FROM fact JOIN dim ON skew_key = dim_key
GROUP BY 1
"""


def m16_domain_mixture(spark, sf_dir):
    """M16 — data-driven temperature mixture (sampling.
    temperature_mixture_rates / temperature_resample): flatten the
    per-source document distribution toward sqrt(p_d) — the standard
    multi-domain training-mix move — with acceptance thresholds computed
    FROM the corpus (two tiny aggregates + a broadcast join) and
    membership the same pure hash projection as m09. sqrt because it is
    IEEE correctly-rounded (identical in every engine); pow(p, alpha)
    drifts in the last ulp across libm implementations. Output: one row
    per source with before/after counts and the micro-threshold."""
    from db_loganalyzer_spark.operators.sampling import (
        temperature_mixture_rates,
        temperature_resample,
    )

    docs = _t(spark, sf_dir, "documents")
    rates = temperature_mixture_rates(docs, "source")
    sel = (
        temperature_resample(docs, "source", "doc_id", salt=7)
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_selected"))
    )
    return rates.join(sel, "source", "left").select(
        "source",
        "n_docs",
        "threshold",
        F.coalesce("n_selected", F.lit(0)).cast("bigint").alias("n_selected"),
    )


M16_SQL = """
WITH c AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1
), m AS (
  SELECT min(n_docs) AS n_min FROM c
), r AS (
  SELECT source, n_docs,
         CAST(FLOOR(sqrt(CAST(n_min AS DOUBLE) / n_docs) * 1000000.0 + 0.5)
              AS BIGINT) AS threshold
  FROM c, m
), s AS (
  SELECT d.source, count(*) AS n_sel
  FROM documents d JOIN r ON d.source = r.source
  WHERE ((d.doc_id * 2654435761 + 7) % 4294967296) % 1000000 < r.threshold
  GROUP BY 1
)
SELECT r.source, r.n_docs, r.threshold,
       CAST(COALESCE(s.n_sel, 0) AS BIGINT) AS n_selected
FROM r LEFT JOIN s ON r.source = s.source
"""


def m17_block_dedup(spark, sf_dir):
    """M17 — sub-document (paragraph-level) dedup with reassembly
    (dedup.block_dedup): corpus-wide first-occurrence filter over
    20-token blocks, then each document is rebuilt from its surviving
    blocks in order — the CCNet/RefinedWeb-style boilerplate-removal
    pass that runs BEFORE doc-level dedup. One explode, one hash shuffle
    on block text, one reassembly groupBy; no self-join."""
    from db_loganalyzer_spark.operators.dedup import block_dedup

    docs = _t(spark, sf_dir, "documents")
    return block_dedup(docs, block_tokens=20)


M17_SQL = r"""
WITH t AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')
           AS toks
  FROM documents
), b AS (
  SELECT doc_id, g.i AS block_idx,
         array_to_string(toks[(g.i * 20 + 1):(g.i * 20 + 20)], ' ')
           AS block_text
  FROM t,
       unnest(generate_series(0, CAST(ceil(len(toks) / 20.0) AS BIGINT) - 1))
         AS g(i)
), k AS (
  SELECT doc_id, block_idx, block_text,
         row_number() OVER (
           PARTITION BY block_text ORDER BY doc_id, block_idx
         ) = 1 AS first_seen
  FROM b
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_blocks,
       CAST(count_if(first_seen) AS BIGINT) AS n_kept,
       COALESCE(string_agg(CASE WHEN first_seen THEN block_text END, ' '
                           ORDER BY block_idx), '') AS dedup_text
FROM k GROUP BY doc_id
"""


def a33_salted_skew_agg(spark, sf_dir):
    """A33 — skew-defeating two-stage aggregation (aggregates.
    salted_agg): events grouped by event_type (~10 heavy keys over the
    whole table — exactly the shape where one reducer serializes a
    single-stage agg at scale) through a (key, salt)-partial then
    key-merge pipeline. The oracle is the UNSALTED GROUP BY: equality of
    the hashes IS the associativity proof, and the micro-unit integer
    sums make it exact under any partitioning."""
    ev = _t(spark, sf_dir, "events")
    return A.salted_agg(ev, ["event_type"], "value", n_salts=16)


A33_SQL = """
SELECT event_type,
       CAST(SUM(q) AS DOUBLE) / 1000000.0 AS sum_value,
       CAST(count(*) AS BIGINT) AS n,
       CAST(MIN(q) AS DOUBLE) / 1000000.0 AS min_value,
       CAST(MAX(q) AS DOUBLE) / 1000000.0 AS max_value,
       CAST(SUM(q) AS DOUBLE) / 1000000.0 / count(*) AS avg_value
FROM (SELECT event_type,
             CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS q
      FROM events)
GROUP BY event_type
"""


def w18_event_sequences(spark, sf_dir):
    """W18 — sequential pattern mining (windows.event_sequences):
    corpus-wide counts of every event-type trigram occurring as a
    consecutive run inside a user's ordered stream, with distinct-user
    support. One key shuffle (three leads share one window spec, single
    pass), one partial-agg shuffle to O(|types|^3) pattern rows;
    count(DISTINCT user) plans as a two-level aggregate."""
    ev = _events(spark, sf_dir)
    return W.event_sequences(ev, n=3, partition_by=["user_id"])


W18_SQL = """
WITH s AS (
  SELECT user_id, event_type AS step_1,
         lead(event_type, 1) OVER w AS step_2,
         lead(event_type, 2) OVER w AS step_3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT step_1, step_2, step_3,
       CAST(count(*) AS BIGINT) AS n_occurrences,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_keys
FROM s WHERE step_3 IS NOT NULL
GROUP BY 1, 2, 3
"""


def w19_interarrival_stats(spark, sf_dir):
    """W19 — inter-arrival gap distribution (windows.interarrival_stats):
    per event_type, n/mean/max/p50/p95 of the gap between consecutive
    events of that type within each user's stream. Lag window on one key
    shuffle, then one partial-agg shuffle; integer-micro gaps keep the
    mean order-independent and the exact percentiles engine-identical
    (percentile_approx is the documented 100 TB flip)."""
    ev = _events(spark, sf_dir)
    return W.interarrival_stats(
        ev, partition_by=["user_id", "event_type"], group_by=["event_type"]
    )


W19_SQL = """
WITH g AS (
  SELECT event_type,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (
           PARTITION BY user_id, event_type ORDER BY ts, event_id
         ) AS gap_us
  FROM events
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_gaps,
       CAST(SUM(gap_us) AS DOUBLE) / 1000000.0 / count(*) AS avg_gap_s,
       MAX(gap_us / 1000000.0) AS max_gap_s,
       quantile_cont(gap_us / 1000000.0, 0.5) AS p50_gap_s,
       quantile_cont(gap_us / 1000000.0, 0.95) AS p95_gap_s
FROM g WHERE gap_us IS NOT NULL
GROUP BY 1
"""


def a34_retention_cohorts(spark, sf_dir):
    """A34 — cohort retention matrix (aggregates.retention_cohorts):
    users cohorted by first-seen epoch-day; each (cohort_day, day_offset)
    cell counts the cohort's users active that many days later, plus the
    retained fraction. Three strictly-shrinking shuffles (distinct
    user-days -> per-user min + user-key join -> O(days^2) matrix); the
    fraction is a window over the tiny matrix, not the events."""
    ev = _events(spark, sf_dir)
    return A.retention_cohorts(ev)


A34_SQL = """
WITH active AS (
  SELECT DISTINCT user_id,
         CAST(FLOOR(epoch_us(ts) / 86400000000) AS BIGINT) AS day_idx
  FROM events
), firstd AS (
  SELECT user_id, MIN(day_idx) AS cohort_day FROM active GROUP BY 1
), cells AS (
  SELECT f.cohort_day, a.day_idx - f.cohort_day AS day_offset,
         CAST(count(*) AS BIGINT) AS n_users
  FROM active a JOIN firstd f USING (user_id)
  GROUP BY 1, 2
)
SELECT cohort_day, CAST(day_offset AS BIGINT) AS day_offset, n_users,
       CAST(first_value(n_users) OVER w AS BIGINT) AS cohort_size,
       CAST(n_users AS DOUBLE) / first_value(n_users) OVER w AS retention
FROM cells
WINDOW w AS (PARTITION BY cohort_day ORDER BY day_offset)
"""


def m18_weighted_sample(spark, sf_dir):
    """M18 — deterministic weight-proportional top-k sample (sampling.
    weighted_priority_sample, priority sampling a la Duffield-Lund-
    Thorup): priority = n_chars / hash-uniform(doc_id), keep the top
    200. Selection is orderBy+limit -> TakeOrderedAndProject (per-
    partition heaps, no global sort); membership is a pure function of
    (id, salt) — reproducible across engines and re-partitions."""
    from db_loganalyzer_spark.operators.sampling import (
        weighted_priority_sample,
    )

    docs = _t(spark, sf_dir, "documents")
    return weighted_priority_sample(
        docs, k=200, weight_col="n_chars", id_col="doc_id", salt=0
    )


M18_SQL = """
SELECT doc_id, text, lang, source, n_chars,
       CAST(n_chars AS DOUBLE) /
         (((((doc_id * 2654435761) + 0) % 4294967296) + 1) / 4294967296.0)
         AS priority
FROM documents
ORDER BY priority DESC, doc_id
LIMIT 200
"""


def a35_rolling_active_users(spark, sf_dir):
    """A35 — DAU + trailing-7-day rolling distinct actives (aggregates.
    rolling_active_users): dedup to user-days, spread each over the 7
    observation days it is visible in (x7 explode of the tiny user-day
    frame, never the events), one two-level distinct aggregate. The HLL
    register-merge form is the documented month-window flip."""
    ev = _events(spark, sf_dir)
    return A.rolling_active_users(ev, window_days=7)


A35_SQL = """
WITH ud AS (
  SELECT DISTINCT user_id,
         CAST(FLOOR(epoch_us(ts) / 86400000000) AS BIGINT) AS day_idx
  FROM events
), sp AS (
  SELECT user_id, day_idx, day_idx + g.i AS obs_day
  FROM ud, unnest(generate_series(0, 6)) AS g(i)
)
SELECT obs_day,
       CAST(count(DISTINCT CASE WHEN day_idx = obs_day THEN user_id END)
            AS BIGINT) AS dau,
       CAST(count(DISTINCT user_id) AS BIGINT) AS rolling_users
FROM sp GROUP BY 1
"""


def a36_equidepth_bins(spark, sf_dir):
    """A36 — equi-depth decile binning of event values per type
    (aggregates.equidepth_bins): ntile(10) over one per-group sort with
    (value, event_id) total order, reduced to per-bucket count and
    [min, max] span. The approx-percentile boundary + range-lookup form
    is the documented flip for groups that outgrow a task's sort."""
    ev = _events(spark, sf_dir)
    return A.equidepth_bins(ev, "value", ["event_type"], n_bins=10)


A36_SQL = """
WITH b AS (
  SELECT event_type, value,
         ntile(10) OVER (
           PARTITION BY event_type ORDER BY value, event_id
         ) AS bin
  FROM events
)
SELECT event_type, CAST(bin AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT) AS n,
       MIN(value) AS min_value, MAX(value) AS max_value
FROM b GROUP BY 1, 2
"""


def a38_incremental_rollup(spark, sf_dir):
    """A38 — incremental materialized-view maintenance (aggregates.
    rollup_partials + merge_rollup_partials): the standing hourly
    rollup (events with event_id % 10 != 0 as "history") absorbs a
    delta batch (% 10 == 0) by MERGING PARTIALS — counts and micro-unit
    sums add, max takes max, avg derives at read time — instead of
    rescanning history. The oracle is the FULL recompute over all
    events, so the hash proves merge == recompute (associativity made
    checkable). This is the shape the reference's per-refresh CTAS
    rollups (tools/storage.py:328-352) need at 100 TB, where the
    history rescan IS the cost; the work here is O(delta + touched
    buckets)."""
    from db_loganalyzer_spark.operators.aggregates import (
        merge_rollup_partials,
        rollup_partials,
    )

    ev = _events(spark, sf_dir)
    base = rollup_partials(
        ev.filter(F.col("event_id") % 10 != 0), 3600, ["event_type"], "value"
    )
    delta = rollup_partials(
        ev.filter(F.col("event_id") % 10 == 0), 3600, ["event_type"], "value"
    )
    return merge_rollup_partials(base, delta, ["event_type"])


A38_SQL = """
SELECT CAST(FLOOR(epoch_us(ts) / 1000000.0 / 3600) * 3600 AS BIGINT)
         AS window_start,
       event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(SUM(CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
         / 1000000.0 / count(*) AS avg_value,
       MAX(value) AS max_value
FROM events
GROUP BY 1, 2
"""


def opt03_compaction_plan(spark, sf_dir):
    """OPT03 — small-files compaction planning (layout.compaction_plan):
    the OPTIMIZE decision step over a synthetic manifest derived from
    documents (8 partition dirs by doc_id % 8, file size = text
    length): sorted fill per partition dir — new output group whenever
    the running total crosses the 4 KiB target, assignment =
    cum_bytes_before div target, exact int64. The manifest is one row
    per FILE and the only window is the per-partition-dir cumulative
    sum, so nothing here is data-sized and no global order exists —
    with opt01/opt02 (clustering) this completes the layout-maintenance
    trio a 100 TB table runs continuously."""
    from db_loganalyzer_spark.operators.layout import compaction_plan

    docs = _t(spark, sf_dir, "documents")
    manifest = docs.select(
        (F.col("doc_id") % 8).alias("part_key"),
        F.col("doc_id").alias("file_id"),
        F.length("text").cast("long").alias("bytes"),
    )
    return compaction_plan(manifest, 4096, ["part_key"])


OPT03_SQL = """
WITH m AS (
  SELECT doc_id % 8 AS part_key, doc_id AS file_id,
         CAST(length(text) AS BIGINT) AS bytes
  FROM documents
)
SELECT part_key, file_id, bytes,
       CAST(COALESCE(SUM(bytes) OVER (PARTITION BY part_key ORDER BY file_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         AS cum_bytes_before,
       CAST(COALESCE(SUM(bytes) OVER (PARTITION BY part_key ORDER BY file_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 4096
            AS BIGINT) AS out_group
FROM m
"""


def opt04_compaction_apply(spark, sf_dir):
    """OPT04 — compaction EXECUTED, not just planned (layout.
    compaction_apply + compaction_verify): events are first written as
    a real small-files partition tree (4 partition dirs x 16 parquet
    files, the anti-pattern a streaming ingest leaves behind), a
    manifest is read off that tree, opt03's sorted-fill plan is
    computed over it (target 600 rows/file), and the tree is REWRITTEN
    so each planned output group lands as exactly one parquet file with
    rows sorted on the opt01/opt02 Morton z-key (user_id x time, 8-bit
    grid) inside it. The returned frame is the per-partition
    equivalence proof read back FROM THE REWRITTEN FILES: row count, an
    order-independent mix32 content hash over every column, the planned
    group count, and the REAL output file count via input_file_name().
    The DuckDB oracle predicts all four from the SOURCE table alone —
    hash-match means the rewrite lost nothing, duplicated nothing, and
    produced exactly plan-many files. This is the execution half of the
    OPTIMIZE loop the reference approximates with B-tree indexes
    (tools/database.py:22-24); at 100 TB it is the same plan Delta's
    OPTIMIZE runs: broadcast-joined plan, ONE shuffle keyed by
    (partition, group), local sort, no driver-sized state."""
    import shutil
    import tempfile

    from db_loganalyzer_spark.operators.layout import (
        compaction_apply,
        compaction_plan,
        compaction_verify,
        zorder_key,
    )
    from db_loganalyzer_spark.operators.sketches import mix32

    P = 2147483647
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    tagged = ev.select(
        F.pmod(F.col("user_id"), F.lit(4)).cast("long").alias("part_key"),
        F.pmod(F.col("event_id"), F.lit(16)).cast("long").alias("file_id"),
        "event_id",
        "ts",
        "user_id",
        "event_type",
        "value",
    )
    scratch = tempfile.mkdtemp(prefix="opt04_small_")
    out_dir = tempfile.mkdtemp(prefix="opt04_compacted_")
    try:
        (
            tagged.repartition(F.col("part_key"), F.col("file_id"))
            .write.mode("overwrite")
            .partitionBy("part_key", "file_id")
            .parquet(scratch)
        )
        small = spark.read.parquet(scratch).select(
            F.col("part_key").cast("long").alias("part_key"),
            F.col("file_id").cast("long").alias("file_id"),
            "event_id",
            "ts",
            "user_id",
            "event_type",
            "value",
        )
        # the manifest comes from the REAL tree (sized in rows so the
        # oracle can restate the plan without seeing the files)
        manifest = small.groupBy("part_key", "file_id").agg(
            F.count(F.lit(1)).cast("long").alias("n_rows_f")
        )
        plan = compaction_plan(
            manifest, 600, ["part_key"], bytes_col="n_rows_f"
        )
        # 8-bit z-key over (user_id, event time): bounds are one 4-long
        # collect; the materialized __zkey column rides into the files
        # as the persisted cluster key the sort realized
        b = small.agg(
            F.min("user_id").alias("ul"),
            F.max("user_id").alias("uh"),
            F.min(F.unix_micros("ts")).alias("tl"),
            F.max(F.unix_micros("ts")).alias("th"),
        ).first()
        uspan = max(int(b["uh"]) - int(b["ul"]), 1)
        tspan = max(int(b["th"]) - int(b["tl"]), 1)
        gx = F.expr(f"(user_id - {int(b['ul'])}) * 255 div {uspan}")
        gy = F.expr(
            f"(unix_micros(ts) - {int(b['tl'])}) * 255 div {tspan}"
        )
        clustered = small.withColumn(
            "__zkey", zorder_key(gx.cast("long"), gy.cast("long"), bits=8)
        )
        compaction_apply(
            clustered,
            plan,
            ["part_key"],
            out_dir,
            sort_cols=["__zkey"],
        )
        micro = F.floor(F.col("value") * 1000000.0 + 0.5).cast("long")
        lin = (
            F.pmod(F.col("event_id"), F.lit(P)) * 1000003
            + F.pmod(F.col("user_id"), F.lit(P)) * 999983
            + F.pmod(F.unix_micros("ts"), F.lit(P)) * 1000033
            + F.pmod(micro, F.lit(P)) * 999979
            + F.length("event_type").cast("long") * 31
        )
        summary = compaction_verify(
            spark, out_dir, ["part_key"], mix32(lin, salt=7)
        ).orderBy("part_key")
        # materialize (<= 4 rows) so the scratch trees can be removed
        # before the driver consumes the frame
        rows = summary.collect()
        return spark.createDataFrame(rows, summary.schema)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        shutil.rmtree(out_dir, ignore_errors=True)


_OPT04_LIN = (
    "((event_id % 2147483647) + 2147483647) % 2147483647 * 1000003"
    " + ((user_id % 2147483647) + 2147483647) % 2147483647 * 999983"
    " + ((epoch_us(ts) % 2147483647) + 2147483647) % 2147483647 * 1000033"
    " + ((CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) % 2147483647)"
    "    + 2147483647) % 2147483647 * 999979"
    " + CAST(length(event_type) AS BIGINT) * 31"
)

OPT04_SQL = f"""
WITH tagged AS (
  SELECT ((user_id % 4) + 4) % 4 AS part_key,
         ((event_id % 16) + 16) % 16 AS file_id,
         event_id, ts, user_id, event_type, value
  FROM events
), manifest AS (
  SELECT part_key, file_id, CAST(count(*) AS BIGINT) AS n_rows_f
  FROM tagged GROUP BY 1, 2
), plan AS (
  SELECT part_key,
         CAST(COALESCE(SUM(n_rows_f) OVER (PARTITION BY part_key
                ORDER BY file_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 600
              AS BIGINT) AS out_group
  FROM manifest
), groups AS (
  SELECT part_key, CAST(count(DISTINCT out_group) AS BIGINT) AS n_groups
  FROM plan GROUP BY 1
), h AS (
  SELECT part_key, h
  FROM {_mix32_sql_select(
      _OPT04_LIN,
      "(SELECT part_key, event_id, ts, user_id, event_type, value"
      " FROM tagged)",
      passthrough=["part_key"],
      salt=7,
  )} x
), agg AS (
  SELECT part_key, CAST(count(*) AS BIGINT) AS n_rows,
         CAST(SUM(h) AS BIGINT) AS content_hash
  FROM h GROUP BY 1
)
SELECT CAST(a.part_key AS BIGINT) AS part_key, n_rows, content_hash,
       n_groups, n_groups AS n_files_out
FROM agg a JOIN groups g ON g.part_key = a.part_key
"""


def opt05_zorder_apply(spark, sf_dir):
    """OPT05 — the z-order rewrite EXECUTED (layout.zorder_apply):
    events land one parquet file per occupied Morton bucket of
    (user_id x event time) — the exact layout opt01 audits and opt02
    prices (bits=16, bucket_bits=8), with rows z-sorted inside each
    file. Buckets are integer column math (z >> 24), NOT sampled range
    boundaries, so the layout is deterministic and the oracle can
    restate all four returned facts from the SOURCE table alone: row
    count, order-independent mix32 content hash over every column,
    occupied-bucket count, and (== it) the real file count read back
    via input_file_name(). Completes the maintenance loop: a37
    profiles, opt01/opt02 decide, opt03 plans, opt04 compacts, opt05
    re-clusters — each step a query with an equivalence proof. The
    skipping this buys was measured against real parquet footers in
    scripts/bench_zorder.py (64/64 -> 14/64 files on the user
    predicate); reference anchor: the B-tree indexes the reference
    leans on instead (tools/database.py:22-24)."""
    import shutil
    import tempfile

    from db_loganalyzer_spark.operators.layout import zorder_apply
    from db_loganalyzer_spark.operators.sketches import mix32

    P = 2147483647
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "ts",
        "user_id",
        "event_type",
        "value",
        F.unix_micros("ts").alias("ts_us"),
    )
    out_dir = tempfile.mkdtemp(prefix="opt05_zordered_")
    try:
        zorder_apply(ev, "user_id", "ts_us", out_dir, bits=16, bucket_bits=8)
        back = spark.read.parquet(out_dir)
        micro = F.floor(F.col("value") * 1000000.0 + 0.5).cast("long")
        lin = (
            F.pmod(F.col("event_id"), F.lit(P)) * 1000003
            + F.pmod(F.col("user_id"), F.lit(P)) * 999983
            + F.pmod(F.unix_micros("ts"), F.lit(P)) * 1000033
            + F.pmod(micro, F.lit(P)) * 999979
            + F.length("event_type").cast("long") * 31
        )
        summary = back.withColumn("__file", F.input_file_name()).agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(mix32(lin, salt=7)).cast("long").alias("content_hash"),
            F.countDistinct("zbucket").cast("long").alias("n_buckets_out"),
            F.countDistinct("__file").cast("long").alias("n_files_out"),
        )
        rows = summary.collect()
        return spark.createDataFrame(rows, summary.schema)
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


OPT05_SQL = f"""
WITH b AS (
  SELECT CAST(MIN(user_id) AS BIGINT) AS xmin,
         CAST(MAX(user_id) AS BIGINT) AS xmax,
         MIN(epoch_us(ts)) AS ymin, MAX(epoch_us(ts)) AS ymax
  FROM events
), g AS (
  SELECT ((user_id - xmin) * 65535) // greatest(xmax - xmin, 1) AS gx,
         ((epoch_us(ts) - ymin) * 65535) // greatest(ymax - ymin, 1) AS gy
  FROM events, b
), z AS (
  SELECT list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(generate_series(0, 15), k ->
             (((gx >> k) & 1) << (2 * k + 1)) + (((gy >> k) & 1) << (2 * k)))),
           (a, x) -> a + x) AS zk
  FROM g
), nb AS (
  SELECT CAST(COUNT(DISTINCT zk >> 24) AS BIGINT) AS n_buckets_out FROM z
), h AS (
  SELECT h FROM {_mix32_sql_select(
      _OPT04_LIN,
      "(SELECT event_id, ts, user_id, event_type, value FROM events)",
      salt=7,
  )} x
), agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         CAST(SUM(h) AS BIGINT) AS content_hash
  FROM h
)
SELECT n_rows, content_hash, n_buckets_out, n_buckets_out AS n_files_out
FROM agg, nb
"""


def a37_skew_report(spark, sf_dir):
    """A37 — shuffle-key skew profile (aggregates.skew_report over
    events.user_id): the decision input for j13/a33 salting and AQE's
    skew thresholds AS A QUERY — top-10 hottest keys, each row carrying
    the global summary (distinct keys, total rows, max-per-key,
    skew_ratio = max x n_keys / total, and the count of keys hotter
    than 2x the mean via the cross-multiplied integer comparison). One
    map-side-combined groupBy + a 1-row broadcast-back + a
    TakeOrdered top-k; the only floats are two single divisions of
    exact longs. At 100 TB you run THIS before committing a join
    strategy, not the shuffle that dies."""
    from db_loganalyzer_spark.operators.aggregates import skew_report

    return skew_report(_events(spark, sf_dir), ["user_id"], top_k=10)


A37_SQL = """
WITH cnt AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1
), s AS (
  SELECT CAST(count(*) AS BIGINT) AS n_keys,
         CAST(SUM(n) AS BIGINT) AS total_rows,
         CAST(MAX(n) AS BIGINT) AS max_rows
  FROM cnt
), hot AS (
  SELECT CAST(count_if(CAST(cnt.n AS DOUBLE) * s.n_keys
                        > 2.0 * s.total_rows) AS BIGINT)
           AS n_hot_keys
  FROM cnt, s
)
SELECT CAST(row_number() OVER (ORDER BY n DESC, user_id) AS INT) AS rank,
       user_id, n AS n_rows, n_keys, total_rows, max_rows,
       CAST(total_rows AS DOUBLE) / n_keys AS mean_rows,
       CAST(max_rows AS DOUBLE) * n_keys / total_rows AS skew_ratio,
       n_hot_keys
FROM cnt, s, hot
ORDER BY n DESC, user_id LIMIT 10
"""


def w20_trending_topk(spark, sf_dir):
    """W20 — per-day trending leaderboard (windows.trending_topk): top-3
    event types by trailing-3-day count. Events reduce to the
    O(days x types) daily frame in one partial-agg shuffle; the trailing
    RANGE sum and per-day row_number both run on that bucket-level frame
    with the type name as the deterministic tiebreak."""
    ev = _events(spark, sf_dir)
    return W.trending_topk(ev, k=3, trailing_days=3)


W20_SQL = """
WITH daily AS (
  SELECT CAST(FLOOR(epoch_us(ts) / 86400000000) AS BIGINT) AS day_idx,
         event_type, CAST(count(*) AS BIGINT) AS n_day
  FROM events GROUP BY 1, 2
), trail AS (
  SELECT day_idx, event_type, n_day,
         CAST(SUM(n_day) OVER (
           PARTITION BY event_type ORDER BY day_idx
           RANGE BETWEEN 2 PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS n_trail
  FROM daily
), ranked AS (
  SELECT day_idx, event_type, n_day, n_trail,
         row_number() OVER (
           PARTITION BY day_idx ORDER BY n_trail DESC, event_type
         ) AS rnk
  FROM trail
)
SELECT day_idx, CAST(rnk AS BIGINT) AS rnk, event_type, n_day, n_trail
FROM ranked WHERE rnk <= 3
"""


def _event_intervals(ev, drop_null_values: bool = True):
    """(user_id, start_us, end_us) intervals from an events frame:
    [ts, ts + value seconds] with the end micro-rounded EXACTLY as the
    W21/ST15 oracles state (FLOOR(value*1e6 + 0.5)). One definition so
    the batch entry, the streaming entry, and the streaming bench
    cannot desync on the rounding convention. NULL and NaN values are
    filtered unconditionally (the repo-wide value-column convention —
    w11/st05/st09 do the same): a NaN would crash the DuckDB oracle's
    BIGINT cast while Spark silently casts it to 0, and a NULL end_us
    sorts differently between engines (Spark nulls-first asc, DuckDB
    nulls-last), either of which could split islands differently.
    drop_null_values stays as an accepted no-op arg for older
    callers."""
    del drop_null_values
    ev = ev.filter(F.col("value").isNotNull() & ~F.isnan("value"))
    return ev.select(
        "user_id",
        F.unix_micros("ts").alias("start_us"),
        (
            F.unix_micros("ts")
            + F.floor(F.col("value") * 1000000.0 + 0.5).cast("bigint")
        ).alias("end_us"),
    )


def w21_interval_coalesce(spark, sf_dir):
    """W21 — interval coalescing (windows.coalesce_intervals): merge
    each user's overlapping-or-touching [ts, ts + value seconds]
    activity intervals into maximal covered windows — the variable-
    length-interval generalization of w05's fixed-gap sessionization
    (an 11-hour window and a 2-second probe reach differently, which
    no single gap constant expresses). Interval ends are exact integer
    micros (epoch_us + micro-rounded value) so the running-max island
    logic is engine-identical; one key shuffle, two window passes over
    the same sort, one groupBy."""
    iv = _event_intervals(_events(spark, sf_dir))
    return W.coalesce_intervals(iv, ["user_id"], "start_us", "end_us")


W21_SQL = """
WITH iv AS (
  SELECT user_id,
         epoch_us(ts) AS start_us,
         epoch_us(ts) + CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS end_us
  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
), marked AS (
  SELECT user_id, start_us, end_us,
         CASE WHEN max(end_us) OVER w IS NULL
                OR start_us > max(end_us) OVER w
              THEN 1 ELSE 0 END AS is_new
  FROM iv
  WINDOW w AS (
    PARTITION BY user_id ORDER BY start_us, end_us
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
  )
), grp AS (
  SELECT user_id, start_us, end_us,
         SUM(is_new) OVER (
           PARTITION BY user_id ORDER BY start_us, end_us
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) - 1 AS island_id
  FROM marked
)
SELECT user_id, CAST(island_id AS BIGINT) AS island_id,
       MIN(start_us) AS window_start, MAX(end_us) AS window_end,
       CAST(count(*) AS BIGINT) AS n_intervals
FROM grp GROUP BY 1, 2
"""


def m19_title_edit_distance(spark, sf_dir):
    """M19 — title near-dup pairs by exact edit distance
    (dedup.title_edit_distance_pairs): prefix-blocked candidates,
    JVM-side levenshtein verify — the dedup modality token-set
    similarity is blind to (one-character drift). Titles are
    printable-ASCII-folded on BOTH sides because Spark's levenshtein
    counts characters while DuckDB's counts bytes; over single-byte
    text the metric is engine-exact and the pairs hash-check."""
    from db_loganalyzer_spark.operators.dedup import (
        title_edit_distance_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    return title_edit_distance_pairs(
        docs, max_distance=5, title_chars=40, prefix_chars=8
    )


# shared by M19 (uncapped, exact) and M19C (bucket-capped scale shape)
_M19_BASE = r"""t AS (
  SELECT doc_id AS id,
         substring(regexp_replace(
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
             '[^ -~]', '', 'g'), 1, 40) AS title
  FROM documents
), b AS (
  SELECT id, title, substring(title, 1, 8) AS bucket
  FROM t WHERE length(title) >= 8
)"""

_M19_SELECT = """
SELECT a.id AS id_a, c.id AS id_b,
       CAST(levenshtein(a.title, c.title) AS INT) AS edit_distance
FROM {src} a JOIN {src} c ON a.bucket = c.bucket AND a.id < c.id
WHERE levenshtein(a.title, c.title) <= 5
"""

M19_SQL = f"WITH {_M19_BASE}{_M19_SELECT.format(src='b')}"


def m19c_title_edit_distance_capped(spark, sf_dir):
    """M19C — m19 with the boilerplate-bucket cap the docstring
    documents (``max_bucket_size=20``): a shared LONG first word hides
    the corpus-growth suffix beyond the 8-char prefix, so one
    boilerplate bucket grows linearly with the corpus and its in-bucket
    pair join quadratically — measured at sf10r, the single 'customer'
    prefix bucket held 16,500 docs = 136M of the 236M candidate pairs.
    Dropping oversized buckets is the m02c stop-key convention applied
    to prefix blocking; the cap binds at every SF (sf0.01's 'customer'
    bucket holds 23 > 20) so the gate exercises it, and the oracle
    applies the identical HAVING."""
    from db_loganalyzer_spark.operators.dedup import (
        title_edit_distance_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    return title_edit_distance_pairs(
        docs, max_distance=5, title_chars=40, prefix_chars=8,
        max_bucket_size=20,
    )


M19C_SQL = f"""
WITH {_M19_BASE}, ok AS (
  SELECT bucket FROM b GROUP BY 1 HAVING COUNT(*) <= 20
), b2 AS (
  SELECT b.* FROM b JOIN ok USING (bucket)
){_M19_SELECT.format(src='b2')}"""


def m20_winnowing_fingerprints(spark, sf_dir):
    """M20 — MOSS-style winnowing fingerprints (dedup.
    winnowing_fingerprints): per window of w=4 consecutive positional
    bigram-shingle hashes keep the minimum, distinct per document. Any
    shared run of >= n+w-1 = 5 tokens is guaranteed a shared
    fingerprint while the index stores ~2/(w+1) of the shingles — the
    partial-overlap detection primitive between t04's whole-doc hash
    and m02's full inverted index. Hashing is the engine-portable
    polynomial family shared with m03, so the oracle restates hashes,
    window minima, and the distinct set exactly."""
    from db_loganalyzer_spark.operators.dedup import winnowing_fingerprints

    docs = _t(spark, sf_dir, "documents")
    return winnowing_fingerprints(docs, n=2, w=4)


# winnowing fingerprint CTE chain, shared by M20 (the fingerprint set)
# and M21 (overlap pairs over it): positional bigram hashes (same
# polynomial family as m03), w=4 window minima, distinct per doc.
_M20_FP_CTES = r"""base AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
                     x -> x <> '') AS words
  FROM documents
), grams AS (
  SELECT doc_id,
         list_transform(generate_series(1, greatest(len(words) - 1, 0)),
                        i -> array_to_string(words[i:i+1], ' ')) AS gs
  FROM base
), gh AS (
  SELECT doc_id, list_transform(gs, g ->
           list_reduce(
             list_prepend(CAST(7 AS BIGINT),
                          list_transform(string_split(g, ''), ch -> CAST(ascii(ch) AS BIGINT))),
             (acc, x) -> (acc * 131 + x) % 1000000007)) AS hs
  FROM grams
), fp AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, len(hs) - 3),
                                      j -> list_min(hs[j:j+3]))) AS fps
  FROM gh WHERE len(hs) >= 4
), fpx AS (
  SELECT doc_id, unnest(fps) AS fingerprint FROM fp
)"""

M20_SQL = f"""
WITH {_M20_FP_CTES}
SELECT doc_id, fingerprint FROM fpx
"""


def m21_winnowing_overlap(spark, sf_dir):
    """M21 — partial-overlap pairs over the winnowed index (dedup.
    winnowing_overlap_pairs): docs sharing >= 3 winnowing fingerprints,
    with the shared count. The consumer that justifies m20 at scale:
    the inverted index this self-joins holds ~2/(w+1) of m02's shingle
    index for the same guaranteed detection of >= 5-token shared runs,
    and the join key is a BIGINT (text never shuffles). Boilerplate
    fingerprints above doc-freq 200 are dropped before the join (the
    m02c stop-key convention; the oracle applies the identical HAVING
    cap)."""
    from db_loganalyzer_spark.operators.dedup import winnowing_overlap_pairs

    docs = _t(spark, sf_dir, "documents")
    return winnowing_overlap_pairs(
        docs, n=2, w=4, min_shared=3, max_doc_freq=200
    )


M21_SQL = f"""
WITH {_M20_FP_CTES}, hot AS (
  SELECT fingerprint FROM fpx GROUP BY 1 HAVING COUNT(*) > 200
), idx AS (
  SELECT doc_id, fingerprint FROM fpx
  WHERE fingerprint NOT IN (SELECT fingerprint FROM hot)
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
FROM idx a JOIN idx b
  ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING COUNT(*) >= 3
"""


def st17_streaming_winnowing_probe(spark, sf_dir):
    """ST17 — ingest-time PARTIAL-overlap detection (streams.
    streaming_winnowing_probe): arriving documents (doc_id % 10 = 0)
    probe a STANDING winnowing-fingerprint index of the already-
    ingested corpus (% 10 != 0; dedup.winnowing_index) via a stateless
    stream-static equi-join on the BIGINT fingerprint. Both sides
    carry their fingerprint arrays, so the shared-set threshold
    (>= 3) and the emit-once rule (join fingerprint == min of the
    shared set) are per-row column math — zero state-store rows, no
    watermark. The overlap complement of st14: MinHash estimates
    whole-doc similarity, winnowing guarantees detection of any
    shared >= 5-token run. m20/m21's streaming consumer."""
    from db_loganalyzer_spark.operators.dedup import winnowing_index
    from db_loganalyzer_spark.streaming import streaming_winnowing_probe

    corpus = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 != 0)
    index = winnowing_index(corpus, n=2, w=4)
    stream = ST.read_table_stream(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 == 0
    )
    return _drain(
        streaming_winnowing_probe(stream, index, min_shared=3, n=2, w=4),
        "st17",
    )


ST17_SQL = f"""
WITH {_M20_FP_CTES}, s AS (
  SELECT doc_id, fingerprint FROM fpx WHERE doc_id % 10 = 0
), c AS (
  SELECT doc_id, fingerprint FROM fpx WHERE doc_id % 10 != 0
)
SELECT s.doc_id AS stream_id, c.doc_id AS corpus_id,
       COUNT(*) AS n_shared
FROM s JOIN c ON s.fingerprint = c.fingerprint
GROUP BY 1, 2
HAVING COUNT(*) >= 3
"""


def w22_interval_coalesce_half_open(spark, sf_dir):
    """W22 — w21 under the [start, end) convention (half_open=True):
    adjacent intervals do NOT merge, only true overlaps. The same
    running-max islands with the break at start >= max(prev ends); the
    property test pins equivalence to the subtract-1 rewrite, and this
    entry hash-checks the convention end-to-end against its own
    oracle."""
    iv = _event_intervals(_events(spark, sf_dir))
    return W.coalesce_intervals(
        iv, ["user_id"], "start_us", "end_us", half_open=True
    )


W22_SQL = """
WITH iv AS (
  SELECT user_id,
         epoch_us(ts) AS start_us,
         epoch_us(ts) + CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS end_us
  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
), marked AS (
  SELECT user_id, start_us, end_us,
         CASE WHEN max(end_us) OVER w IS NULL
                OR start_us >= max(end_us) OVER w
              THEN 1 ELSE 0 END AS is_new
  FROM iv
  WINDOW w AS (
    PARTITION BY user_id ORDER BY start_us, end_us
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
  )
), grp AS (
  SELECT user_id, start_us, end_us,
         SUM(is_new) OVER (
           PARTITION BY user_id ORDER BY start_us, end_us
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) - 1 AS island_id
  FROM marked
)
SELECT user_id, CAST(island_id AS BIGINT) AS island_id,
       MIN(start_us) AS window_start, MAX(end_us) AS window_end,
       CAST(count(*) AS BIGINT) AS n_intervals
FROM grp GROUP BY 1, 2
"""


def t17_shingle_novelty(spark, sf_dir):
    """T17 — corpus-order novelty scoring (dedup.shingle_novelty): per
    document, the fraction of its distinct word bigrams first seen (by
    smallest doc_id) in this document. Linear inverted-index lineage —
    explode, min-id reduce, hash join back, per-doc reduce — the
    derivation/contamination signal WITHOUT m02's pair self-join."""
    from db_loganalyzer_spark.operators.dedup import shingle_novelty

    docs = _t(spark, sf_dir, "documents")
    return shingle_novelty(docs, n=2)


T17_SQL = r"""
WITH base AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
                     x -> x <> '') AS words
  FROM documents
), grams AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, greatest(len(words) - 1, 0)),
                                      i -> array_to_string(words[i:i+1], ' '))) AS gs
  FROM base
), gh AS (
  SELECT doc_id, list_transform(gs, g ->
           list_reduce(
             list_prepend(CAST(7 AS BIGINT),
                          list_transform(string_split(g, ''), ch -> CAST(ascii(ch) AS BIGINT))),
             (acc, x) -> (acc * 131 + x) % 1000000007)) AS hs
  FROM grams WHERE len(gs) > 0
), sh AS (
  SELECT doc_id AS id, unnest(list_distinct(hs)) AS shingle FROM gh
), f AS (
  SELECT shingle, MIN(id) AS first_id FROM sh GROUP BY 1
)
SELECT id AS doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(count_if(first_id = id) AS BIGINT) AS n_novel,
       CAST(count_if(first_id = id) AS DOUBLE) / count(*) AS novelty
FROM sh JOIN f USING (shingle)
GROUP BY 1
"""


def m22_duplicated_spans(spark, sf_dir):
    """M22 — exact-substring duplication profile (dedup.
    duplicated_span_stats, the ExactSubstr measurement of Lee et al.
    2021): per document, the fraction of token positions covered by a
    word 8-gram occurring >= 2 times corpus-wide. Linear lineage —
    positional shingle hashes, ONE window count over the shingle
    partitioning, then a per-document interval union via
    coalesce_intervals — the shuffle-native form of the paper's
    suffix-array criterion. The oracle restates coverage as COUNT
    (DISTINCT position) over the expanded spans, so a wrong island
    merge or off-by-one span end fails the hash."""
    from db_loganalyzer_spark.operators.dedup import duplicated_span_stats

    docs = _t(spark, sf_dir, "documents")
    return duplicated_span_stats(docs, n=8, min_count=2)


M22_SQL = r"""
WITH base AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
                     x -> x <> '') AS words
  FROM documents
), pos AS (
  SELECT doc_id, words, unnest(generate_series(1, len(words) - 7)) AS i
  FROM base WHERE len(words) >= 8
), ph AS (
  SELECT doc_id, i,
         list_reduce(
           list_prepend(CAST(7 AS BIGINT),
             list_transform(string_split(array_to_string(words[i:i+7], ' '), ''),
                            ch -> CAST(ascii(ch) AS BIGINT))),
           (acc, x) -> (acc * 131 + x) % 1000000007) AS h
  FROM pos
), freq AS (
  SELECT h, COUNT(*) AS c FROM ph GROUP BY 1
), covered AS (
  SELECT doc_id, COUNT(DISTINCT p) AS covered_toks
  FROM (
    SELECT ph.doc_id, unnest(generate_series(ph.i, ph.i + 7)) AS p
    FROM ph JOIN freq USING (h) WHERE freq.c >= 2
  ) GROUP BY 1
)
SELECT b.doc_id,
       CAST(len(b.words) AS BIGINT) AS n_toks,
       CAST(COALESCE(c.covered_toks, 0) AS BIGINT) AS covered_toks,
       CASE WHEN len(b.words) > 0
            THEN ROUND(COALESCE(c.covered_toks, 0) * 1.0 / len(b.words), 6)
            ELSE 0.0 END AS dup_fraction
FROM base b LEFT JOIN covered c USING (doc_id)
"""


def t18_classifier_gate(spark, sf_dir):
    """T18 — learned-classifier quality filtering, inference shape
    (textstats.classifier_gate): vocabulary weight table broadcast-
    joined onto exploded tokens, exact integer milli-weight sum per
    document, keep where the mean weight is positive. The weight table
    here is the deterministic hash projection (training out of scope);
    the plan — broadcast vocab, shuffle only the per-doc groupBy — is
    the one a real fasttext/CCNet filter runs at 100 TB."""
    from db_loganalyzer_spark.operators.textstats import (
        classifier_gate,
        hashed_weight_table,
    )

    docs = _t(spark, sf_dir, "documents")
    return classifier_gate(docs, hashed_weight_table(docs))


T18_SQL = r"""
WITH base AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
                     x -> x <> '') AS words
  FROM documents
), tok AS (
  SELECT doc_id, unnest(words) AS term FROM base
), scored AS (
  SELECT doc_id, COUNT(*) AS n_toks,
         SUM((list_reduce(list_prepend(CAST(7 AS BIGINT),
               list_transform(string_split(term, ''), ch -> CAST(ascii(ch) AS BIGINT))),
               (acc, x) -> (acc * 131 + x) % 1000000007) % 2001) - 1000) AS score_sum_milli
  FROM tok GROUP BY 1
)
SELECT b.doc_id,
       CAST(COALESCE(s.n_toks, 0) AS BIGINT) AS n_toks,
       CAST(COALESCE(s.score_sum_milli, 0) AS BIGINT) AS score_sum_milli,
       CASE WHEN COALESCE(s.n_toks, 0) > 0
            THEN s.score_sum_milli / (s.n_toks * 1000)
            ELSE 0.0 END AS mean_weight,
       COALESCE(s.score_sum_milli, 0) > 0 AS keep
FROM base b LEFT JOIN scored s USING (doc_id)
"""


def pipe03_vlm_manifest(spark, sf_dir):
    """PIPE03 — vision-language training-manifest assembly, end to end:
    REAL image decode (mm01's pure_python_decode_backend over actual
    BMP/PPM byte streams, mapInPandas) -> ViT patch accounting (ceil
    tiling, pure column math) -> caption token counts joined on the
    document table -> quality gate (caption length + pixel floor) ->
    per-(format, source) compute-budget selection (id-ordered exact
    integer cumulative cost, patches + caption tokens <= 200). The
    multimodal twin of pipe01/pipe02: those assemble a text corpus;
    this pins the image-text pair pipeline every VLM run fronts.

    Scale shape: decode is narrow (partition-preserving); the only
    shuffles are the id join and the (format, source)-keyed window —
    budget groups are bounded by |formats| x |sources|, and a corpus
    with giant single domains splits budgets by shard exactly like
    pack01. The oracle restates decode dims closed-form, so a wrong
    header parse upstream of the manifest fails the hash."""
    from pyspark.sql import Window

    from db_loganalyzer_spark.operators.multimodal import (
        decode_media,
        media_table_synthetic_images,
        pure_python_decode_backend,
    )
    from db_loganalyzer_spark.operators.textstats import token_count

    docs = _t(spark, sf_dir, "documents")
    decoded = decode_media(
        media_table_synthetic_images(docs),
        decode_backend=pure_python_decode_backend,
    )
    n_patches = (
        F.ceil(F.col("width") / 4) * F.ceil(F.col("height") / 4)
    ).cast("long")
    caps = docs.select(
        F.col("doc_id").alias("media_id"),
        F.col("source"),
        token_count("text").cast("long").alias("caption_toks"),
    )
    m = (
        decoded.select(
            "media_id", "format", "width", "height",
            n_patches.alias("n_patches"),
        )
        .join(caps, "media_id")
        .filter(
            (F.col("caption_toks") >= 8)
            & (F.col("width") * F.col("height") >= 30)
        )
    )
    w = (
        Window.partitionBy("format", "source")
        .orderBy("media_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        m.withColumn(
            "cum_cost",
            F.sum(F.col("n_patches") + F.col("caption_toks"))
            .over(w)
            .cast("long"),
        )
        .filter(F.col("cum_cost") <= 200)
        .select(
            "media_id", "format", "source", "width", "height",
            "n_patches", "caption_toks", "cum_cost",
        )
    )


PIPE03_SQL = r"""
WITH d AS (
  SELECT doc_id AS media_id,
         CASE doc_id % 3 WHEN 0 THEN 'bmp' WHEN 1 THEN 'ppm'
              ELSE 'png' END AS format,
         source,
         CAST(4 + doc_id % 13 AS INT) AS width,
         CAST(3 + doc_id % 7 AS INT) AS height,
         len(list_filter(string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
                         x -> x <> '')) AS caption_toks
  FROM documents
), g AS (
  SELECT media_id, format, source, width, height,
         CAST(ceil(width / 4.0) * ceil(height / 4.0) AS BIGINT) AS n_patches,
         CAST(caption_toks AS BIGINT) AS caption_toks
  FROM d WHERE caption_toks >= 8 AND width * height >= 30
)
SELECT media_id, format, source, width, height, n_patches, caption_toks,
       cum_cost
FROM (
  SELECT *, CAST(SUM(n_patches + caption_toks) OVER (
           PARTITION BY format, source ORDER BY media_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cost
  FROM g
) WHERE cum_cost <= 200
"""


def s11_csv_roundtrip(spark, sf_dir):
    """S11 — delimited-text trace ingest with a quarantine lane
    (sources/delimited.py), proven by a full round trip: export events
    as headerless CSV (distributed write; microsecond timestamp
    strings, default quoting around the JSON props column), drop three
    deliberately malformed lines into the glob, then re-ingest with the
    explicit schema + PERMISSIVE corrupt-record column and aggregate.
    The oracle aggregates the same events straight from parquet plus a
    constant 3-row corrupt lane — so a timestamp pattern drift, a
    quoting/escape asymmetry, a double that doesn't round-trip, or a
    real row leaking into (or out of) quarantine each fails the hash.
    The third format slot of the reference's trace dispatch
    (fdb_log_parser.py xml|json), with S2's nothing-silently-dropped
    fallback contract."""
    import os as _os

    from db_loganalyzer_spark.sources.delimited import (
        read_events_csv,
        write_events_csv,
    )

    base = _os.path.join(_os.path.dirname(_os.path.abspath(__file__)), ".scratch")
    path = _os.path.join(
        base, "s11_csv_" + _os.path.basename(_os.path.normpath(sf_dir))
    )
    write_events_csv(_t(spark, sf_dir, "events"), path)
    with open(_os.path.join(path, "zz_malformed.csv"), "w") as fh:
        for _ in range(3):
            fh.write("### corrupt trace line ###\n")
    df = read_events_csv(spark, path)
    # One tagged pass: corrupt rows become their own group with masked
    # fields (also sidesteps Spark's corrupt-column-only plan rule —
    # a plan projecting nothing but _corrupt_record is disallowed).
    # n_parsed_ids references event_id on purpose: the malformed token
    # sits in that position, and the parser only attempts columns a
    # query references (see read_events_csv's pruning contract) — drop
    # it and the bad lines silently stop tripping quarantine.
    ok = F.col("_corrupt_record").isNull()
    tagged = df.select(
        F.when(ok, F.col("event_type")).otherwise("_corrupt").alias(
            "event_type"
        ),
        F.when(ok, F.col("event_id")).alias("event_id"),
        F.when(ok, F.col("ts")).alias("ts"),
        F.when(ok, F.col("value")).alias("value"),
        F.when(ok, F.col("props")).alias("props"),
    )
    return tagged.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count("event_id").cast("long").alias("n_parsed_ids"),
        F.unix_micros(F.min("ts")).alias("min_us"),
        F.unix_micros(F.max("ts")).alias("max_us"),
        F.sum(F.floor(F.col("value") * 1000000.0 + 0.5).cast("long"))
        .cast("long")
        .alias("sum_value_micro"),
        F.sum(F.length("props")).cast("long").alias("sum_props_len"),
    )


S11_SQL = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(event_id) AS BIGINT) AS n_parsed_ids,
       epoch_us(MIN(ts)) AS min_us, epoch_us(MAX(ts)) AS max_us,
       CAST(SUM(CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
         AS sum_value_micro,
       CAST(SUM(length(props)) AS BIGINT) AS sum_props_len
FROM events GROUP BY 1
UNION ALL
SELECT '_corrupt', CAST(3 AS BIGINT), CAST(0 AS BIGINT),
       NULL, NULL, NULL, NULL
"""


def st18_streaming_decontaminate(spark, sf_dir):
    """ST18 — ingest-time benchmark decontamination: arriving documents
    anti-join a STANDING eval-set fingerprint table (doc_id % 50 == 0,
    the same eval slice pipe01/pipe02 decontaminate against) on the
    exact rolling-hash document fingerprint (t04) — a STATELESS
    stream-static left_anti join, so a training document that matches
    any eval fingerprint is dropped before it ever lands in the corpus.
    Zero state-store rows at any corpus size (the eval table lives in
    storage; Spark re-broadcasts it per micro-batch); the streaming
    twin of m06's batch decontamination, as st14 is of m15's near-dup
    probe. Eval docs themselves drop out by self-match, so output =
    corpus minus exact eval clones."""
    from db_loganalyzer_spark.operators.textstats import (
        fingerprint,
        token_count,
    )

    docs = _t(spark, sf_dir, "documents")
    eval_fps = (
        docs.filter(F.col("doc_id") % 50 == 0)
        .select(fingerprint("text").alias("fp"))
        .distinct()
    )
    stream = ST.read_table_stream(spark, sf_dir, "documents")
    out = (
        stream.select(
            "doc_id",
            "source",
            fingerprint("text").alias("fp"),
            token_count("text").cast("long").alias("n_toks"),
        )
        .join(eval_fps, "fp", "left_anti")
        .select("doc_id", "source", "n_toks")
    )
    return _drain(out, "st18")


ST18_SQL = r"""
WITH base AS (
  SELECT doc_id, source,
         list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
                     x -> x <> '') AS toks
  FROM documents
), f AS (
  SELECT doc_id, source, CAST(len(toks) AS BIGINT) AS n_toks,
         list_reduce(
           list_prepend(CAST(0 AS BIGINT),
             list_transform(toks, t ->
               list_reduce(
                 list_prepend(CAST(7 AS BIGINT),
                              list_transform(string_split(t, ''), ch -> CAST(ascii(ch) AS BIGINT))),
                 (acc, x) -> (acc * 131 + x) % 1000000007))),
           (acc, h) -> (acc * 31 + h) % 1000000007) AS fp
  FROM base
)
SELECT doc_id, source, n_toks
FROM f WHERE fp NOT IN (SELECT fp FROM f WHERE doc_id % 50 = 0)
"""


def st19_streaming_csv_ingest(spark, sf_dir):
    """ST19 — streaming delimited-text ingest (s11's streaming form,
    sources/delimited.read_events_csv_stream): the landing-directory
    model for a fleet that exports CSV shards — the file-source stream
    picks them up, the PERMISSIVE quarantine lane rides along per
    micro-batch, and the stateless tagged projection (corrupt rows
    become their own group with masked fields) is drained append-mode;
    the aggregation happens batch-side over the drain, so the stream
    itself holds zero state. Same oracle as s11: the parquet-direct
    aggregate plus the constant 3-row quarantine lane — a timestamp,
    quoting, or quarantine drift in the STREAMING scan fails the same
    hash the batch scan must pass. n_parsed_ids references event_id on
    purpose (the pruning contract on read_events_csv)."""
    import os as _os

    from db_loganalyzer_spark.sources.delimited import (
        read_events_csv_stream,
        write_events_csv,
    )

    base = _os.path.join(_os.path.dirname(_os.path.abspath(__file__)), ".scratch")
    path = _os.path.join(
        base, "st19_csv_" + _os.path.basename(_os.path.normpath(sf_dir))
    )
    write_events_csv(_t(spark, sf_dir, "events"), path)
    with open(_os.path.join(path, "zz_malformed.csv"), "w") as fh:
        for _ in range(3):
            fh.write("### corrupt trace line ###\n")
    df = read_events_csv_stream(spark, path)
    ok = F.col("_corrupt_record").isNull()
    tagged = df.select(
        F.when(ok, F.col("event_type")).otherwise("_corrupt").alias(
            "event_type"
        ),
        F.when(ok, F.col("event_id")).alias("event_id"),
        F.when(ok, F.col("ts")).alias("ts"),
        F.when(ok, F.col("value")).alias("value"),
        F.when(ok, F.col("props")).alias("props"),
    )
    return _drain(tagged, "st19").groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count("event_id").cast("long").alias("n_parsed_ids"),
        F.unix_micros(F.min("ts")).alias("min_us"),
        F.unix_micros(F.max("ts")).alias("max_us"),
        F.sum(F.floor(F.col("value") * 1000000.0 + 0.5).cast("long"))
        .cast("long")
        .alias("sum_value_micro"),
        F.sum(F.length("props")).cast("long").alias("sum_props_len"),
    )


ST19_SQL = S11_SQL



def pack02_padded_batches(spark, sf_dir):
    """PACK02 — padded-batch accounting (sampling.padded_batches): the
    fine-tuning/inference packing regime, where every sequence in a
    batch pads to the batch max — so LENGTH-SORTED batching (order by
    tokens desc before slicing into batches of 8) is the waste
    mitigation, and pad_toks = max*n - sum is the metric. Exact
    integers end to end; one key shuffle per group like pack01, whose
    concat-packing covers the pretraining regime."""
    from db_loganalyzer_spark.operators.sampling import padded_batches

    docs = _t(spark, sf_dir, "documents")
    return padded_batches(docs, batch_size=8, by=["source"])


PACK02_SQL = r"""
WITH base AS (
  SELECT source, doc_id,
         CAST(len(list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
                              x -> x <> '')) AS BIGINT) AS n_toks
  FROM documents
), rn AS (
  SELECT source, n_toks,
         row_number() OVER (PARTITION BY source ORDER BY n_toks DESC, doc_id) AS rn
  FROM base
)
SELECT source, CAST((rn - 1) // 8 AS BIGINT) AS batch_id,
       CAST(COUNT(*) AS BIGINT) AS n_seqs,
       MAX(n_toks) AS max_toks,
       CAST(SUM(n_toks) AS BIGINT) AS sum_toks,
       CAST(MAX(n_toks) * COUNT(*) - SUM(n_toks) AS BIGINT) AS pad_toks
FROM rn GROUP BY 1, 2
"""


def opt01_zorder_layout(spark, sf_dir):
    """OPT01 — Z-order layout audit (layout.zorder_layout_audit) over
    events keyed by (user_id, event time): the decision input for a
    Delta/Iceberg-style OPTIMIZE ZORDER rewrite — per key-range bucket,
    the row count and the bounding box in BOTH dimensions on the 16-bit
    grid. The whole key path is exact int64 (the epoch-us numerator
    passes 2^53, so float normalization would silently mis-bucket —
    grid_terms documents the trap); the Morton interleave is an
    unrolled codegen projection, and output is bounded by 2^8 buckets.
    The oracle restates normalization + interleave with BIGINT // and a
    list_reduce over the 16 bit positions."""
    from db_loganalyzer_spark.operators.layout import zorder_layout_audit

    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.unix_micros(F.col("ts")).alias("ts_us")
    )
    return zorder_layout_audit(ev, "user_id", "ts_us")


OPT01_SQL = r"""
WITH b AS (
  SELECT CAST(MIN(user_id) AS BIGINT) AS xmin, CAST(MAX(user_id) AS BIGINT) AS xmax,
         MIN(epoch_us(ts)) AS ymin, MAX(epoch_us(ts)) AS ymax
  FROM events
), g AS (
  SELECT ((user_id - xmin) * 65535) // greatest(xmax - xmin, 1) AS gx,
         ((epoch_us(ts) - ymin) * 65535) // greatest(ymax - ymin, 1) AS gy
  FROM events, b
), z AS (
  SELECT gx, gy,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(generate_series(0, 15), k ->
             (((gx >> k) & 1) << (2 * k + 1)) + (((gy >> k) & 1) << (2 * k)))),
           (a, x) -> a + x) AS zk
  FROM g
)
SELECT CAST(zk >> 24 AS BIGINT) AS bucket, CAST(COUNT(*) AS BIGINT) AS n,
       MIN(gx) AS x_lo, MAX(gx) AS x_hi, MIN(gy) AS y_lo, MAX(gy) AS y_hi
FROM z GROUP BY 1
"""


def opt02_zorder_skip_estimate(spark, sf_dir):
    """OPT02 — the layout decision as ONE queryable row (layout.
    zorder_skip_estimate over opt01's audit): for the middle-1/32
    predicate slice on each grid dimension, how many z-key buckets
    (files of the rewrite) a min/max-stats reader scans under the
    x-only / y-only / 2-D predicates, and the rows inside the 2-D scan
    set. Bounded aggregate over <= 256 audit rows; the overlap rule is
    exactly parquet's row-group rule, validated against REAL footers in
    scripts/bench_zorder.py (z-order: user-slice scans 14/64 files
    where the linear ts-sort scanned 64/64)."""
    from db_loganalyzer_spark.operators.layout import (
        zorder_layout_audit,
        zorder_skip_estimate,
    )

    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.unix_micros(F.col("ts")).alias("ts_us")
    )
    audit = zorder_layout_audit(ev, "user_id", "ts_us")
    return zorder_skip_estimate(audit, (32768, 34815), (32768, 34815))


OPT02_SQL = r"""
WITH b AS (
  SELECT CAST(MIN(user_id) AS BIGINT) AS xmin, CAST(MAX(user_id) AS BIGINT) AS xmax,
         MIN(epoch_us(ts)) AS ymin, MAX(epoch_us(ts)) AS ymax
  FROM events
), g AS (
  SELECT ((user_id - xmin) * 65535) // greatest(xmax - xmin, 1) AS gx,
         ((epoch_us(ts) - ymin) * 65535) // greatest(ymax - ymin, 1) AS gy
  FROM events, b
), z AS (
  SELECT gx, gy,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(generate_series(0, 15), k ->
             (((gx >> k) & 1) << (2 * k + 1)) + (((gy >> k) & 1) << (2 * k)))),
           (a, x) -> a + x) AS zk
  FROM g
), a AS (
  SELECT zk >> 24 AS bucket, COUNT(*) AS n,
         MIN(gx) AS x_lo, MAX(gx) AS x_hi, MIN(gy) AS y_lo, MAX(gy) AS y_hi
  FROM z GROUP BY 1
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(SUM(n) AS BIGINT) AS total_rows,
       CAST(count_if(x_hi >= 32768 AND x_lo <= 34815) AS BIGINT) AS scan_x,
       CAST(count_if(y_hi >= 32768 AND y_lo <= 34815) AS BIGINT) AS scan_y,
       CAST(count_if(x_hi >= 32768 AND x_lo <= 34815
                 AND y_hi >= 32768 AND y_lo <= 34815) AS BIGINT) AS scan_xy,
       CAST(COALESCE(SUM(CASE WHEN x_hi >= 32768 AND x_lo <= 34815
                           AND y_hi >= 32768 AND y_lo <= 34815
                          THEN n ELSE 0 END), 0) AS BIGINT) AS rows_xy
FROM a
"""



def sim06_quantized_gemm_topk(spark, sf_dir):
    """SIM06 — exact rerank top-k via blocked integer GEMM (similarity.
    quantized_gemm_topk): vectors quantized to int16-style milli-units
    on BOTH sides, so the numpy batch-GEMM inside mapInPandas computes
    exact int64 dot products — addition order stops mattering and the
    unrounded cosine hash-matches the oracle's sequential list_sum.
    Each partition emits only its local top-k per query (shuffle is
    k x partitions x queries, never the corpus). Same query set and
    rank contract as sim01; the pytest additionally pins sim06 == the
    quantized SQL restatement while running ~one BLAS call per batch
    instead of one JVM fold per (query,row)."""
    from db_loganalyzer_spark.operators.similarity import quantized_gemm_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    return quantized_gemm_topk(emb, queries, k=10)


SIM06_SQL = """
WITH e AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS v
  FROM embeddings
), scored AS (
  SELECT q.vec_id AS query_id, c.vec_id,
         CAST(list_sum(list_transform(range(1, 65), i -> q.v[i] * c.v[i])) AS DOUBLE)
         / (sqrt(CAST(list_sum(list_transform(range(1, 65), i -> c.v[i] * c.v[i])) AS DOUBLE))
            * sqrt(CAST(list_sum(list_transform(range(1, 65), i -> q.v[i] * q.v[i])) AS DOUBLE)))
           AS cosine
  FROM e q JOIN e c ON q.vec_id < 5 AND c.vec_id <> q.vec_id
)
SELECT query_id, vec_id, cosine, CAST(rank AS INT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, vec_id) AS rank
  FROM scored
) WHERE rank <= 10
"""



def t22_encoding_anomalies(spark, sf_dir):
    """T22 — encoding-damage scoring (textstats.encoding_anomalies):
    per-document exact counts of U+FFFD replacement characters, C0
    control characters (minus tab/newline/CR), and the two classic
    UTF-8-as-Latin-1 mojibake families (\u00c3+continuation digraphs
    and \u00e2\u20ac+punctuation trigraphs — each family converted
    from its own length difference, 2 vs 3 chars per match), plus
    bad_ratio and the is_clean gate at 1%. The damage axis the
    length/stopword quality gates are blind to: mojibake is VALID
    Unicode, so nothing upstream flags it. Pure regexp length-diff
    column math — one scan, whole-stage codegen, no UDF/explode; the
    oracle restates every count with RE2 in global-replace mode."""
    from db_loganalyzer_spark.operators.textstats import (
        encoding_anomalies,
    )

    docs = _t(spark, sf_dir, "documents")
    return encoding_anomalies(docs)


T22_SQL = r"""
WITH s AS (
  SELECT doc_id,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(length(text) - length(regexp_replace(text,
              '[\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g')) AS BIGINT)
           AS n_control,
         CAST(length(text) - length(replace(text, chr(65533), ''))
              AS BIGINT) AS n_replacement,
         CAST((length(text) - length(regexp_replace(text,
              '\x{00C3}[\x{0080}-\x{00BF}]', '', 'g'))) // 2
            + (length(text) - length(regexp_replace(text,
              '\x{00E2}\x{20AC}.', '', 'g'))) // 3 AS BIGINT)
           AS n_mojibake
  FROM documents
)
SELECT doc_id, n_chars, n_control, n_replacement, n_mojibake,
       CASE WHEN n_chars > 0
            THEN CAST(n_control + n_replacement + n_mojibake AS DOUBLE)
                 / n_chars
            ELSE 0.0 END AS bad_ratio,
       CASE WHEN n_chars > 0
            THEN CAST(n_control + n_replacement + n_mojibake AS DOUBLE)
                 / n_chars
            ELSE 0.0 END <= 0.01 AS is_clean
FROM s
"""


def t19_char_entropy(spark, sf_dir):
    """T19 — character uni/bigram Shannon entropy per document
    (textstats.char_entropy): the information-density quality signal
    (gibberish and boilerplate sit at the extremes — the closed-form
    stand-in for RefinedWeb-style compression-ratio filters). Follows
    t16's float discipline: each count's log2 is rounded to 6 decimals
    and scaled to exact integer micro-units BEFORE summing, so only
    one correctly-rounded division and one subtraction of
    deterministic doubles remain — no accumulation-order hazard."""
    from db_loganalyzer_spark.operators.textstats import char_entropy

    return char_entropy(_t(spark, sf_dir, "documents"))


T19_SQL = r"""
WITH nrm AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS s
  FROM documents
), uc AS (
  SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT doc_id, unnest(string_split(s, '')) AS g FROM nrm)
  GROUP BY 1, 2
), up AS (
  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n,
         CAST(SUM(cnt * CAST(FLOOR(ROUND(log2(CAST(cnt AS DOUBLE)), 6) * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS sm
  FROM uc GROUP BY 1
), bc AS (
  SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, length(s) - 1),
                                 i -> s[i:i+1])) AS g
    FROM nrm WHERE length(s) >= 2
  ) GROUP BY 1, 2
), bp AS (
  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n,
         CAST(SUM(cnt * CAST(FLOOR(ROUND(log2(CAST(cnt AS DOUBLE)), 6) * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS sm
  FROM bc GROUP BY 1
)
SELECT up.doc_id,
       up.n AS n_chars,
       ROUND(log2(CAST(up.n AS DOUBLE)), 6) - up.sm / (up.n * 1000000.0) AS h_char,
       bp.n AS n_bigrams,
       ROUND(log2(CAST(bp.n AS DOUBLE)), 6) - bp.sm / (bp.n * 1000000.0) AS h_bigram
FROM up LEFT JOIN bp USING (doc_id)
"""



def mm08_phash_dedup(spark, sf_dir):
    """MM08 — near-dup IMAGE detection via perceptual hash over the
    REAL decode path (multimodal.decode_perceptual_hash): block-pooled
    average-hash bits computed from actually-decoded BMP/PPM/PNG pixel
    arrays (exact integer pooling — the cross-multiplied mean
    comparison never divides), then dedup grouping by identical hash:
    group size and keeper (min id) via one window over the 12-bit key.
    The multimodal twin of m01's text dedup; the oracle restates the
    closed-form pixels through the same pooling, so a wrong block
    assignment, channel order, or threshold tie-break fails the hash
    on the VALUES."""
    from db_loganalyzer_spark.operators.multimodal import (
        decode_perceptual_hash,
        media_table_synthetic_images,
    )
    from pyspark.sql import Window as SW

    docs = _t(spark, sf_dir, "documents")
    ph = decode_perceptual_hash(media_table_synthetic_images(docs))
    w = SW.partitionBy("phash")
    return ph.select(
        "media_id",
        "format",
        "phash",
        F.count(F.lit(1)).over(w).cast("long").alias("n_same"),
        F.min("media_id").over(w).cast("long").alias("keeper_id"),
    )


MM08_SQL = r"""
WITH m AS (
  SELECT doc_id AS media_id,
         CAST(4 + doc_id % 13 AS INT) AS w,
         CAST(3 + doc_id % 7 AS INT) AS h
  FROM documents
), px AS (
  SELECT media_id, w, h, xs.x AS x, ys.y AS y,
         ((media_id + 3 * (ys.y * w + xs.x)) % 256)
       + ((media_id + 3 * (ys.y * w + xs.x) + 1) % 256)
       + ((media_id + 3 * (ys.y * w + xs.x) + 2) % 256) AS gray
  FROM m,
       unnest(generate_series(0, w - 1)) xs(x),
       unnest(generate_series(0, h - 1)) ys(y)
), blocks AS (
  SELECT media_id, ((3 * y) // h) * 4 + (4 * x) // w AS b,
         CAST(SUM(gray) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS n
  FROM px GROUP BY 1, 2
), tot AS (
  SELECT media_id, SUM(s) AS total, SUM(n) AS npix FROM blocks GROUP BY 1
), hashed AS (
  SELECT b.media_id,
         CAST(SUM(CASE WHEN b.s * t.npix > t.total * b.n
                       THEN 1 << b.b ELSE 0 END) AS BIGINT) AS phash
  FROM blocks b JOIN tot t USING (media_id)
  GROUP BY 1
)
SELECT media_id,
       CASE media_id % 3 WHEN 0 THEN 'bmp' WHEN 1 THEN 'ppm'
            ELSE 'png' END AS format,
       phash,
       CAST(COUNT(*) OVER (PARTITION BY phash) AS BIGINT) AS n_same,
       CAST(MIN(media_id) OVER (PARTITION BY phash) AS BIGINT) AS keeper_id
FROM hashed
"""



def j14_pit_lookup(spark, sf_dir):
    """J14 — point-in-time feature lookup (joins.pit_lookup over w14's
    SCD2 intervals): for every event, the state its user was in ONE
    HOUR EARLIER — the feature-store enrichment that keeps training
    features serving-skew-free (the model sees what was true THEN).
    Equi join on user_id + half-open containment against the versioned
    dimension; versions per key are bounded by state-change counts, so
    the band fan-in stays small. Probes before a user's first version
    keep NULL state."""
    from db_loganalyzer_spark.operators.joins import pit_lookup
    from db_loganalyzer_spark.operators.timeseries import scd2_intervals

    ev = _t(spark, sf_dir, "events")
    scd = scd2_intervals(ev, "event_type", ["user_id"]).select(
        "user_id",
        "state",
        F.unix_micros("valid_from").alias("valid_from_us"),
        F.unix_micros("valid_to").alias("valid_to_us"),
    )
    facts = ev.select(
        "event_id",
        "user_id",
        (F.unix_micros("ts") - 3600 * 1000000).alias("probe_us"),
    )
    out = pit_lookup(facts, scd, "user_id")
    return out.select(
        "event_id", "user_id", "probe_us",
        F.col("state").alias("state_1h_ago"),
    )


J14_SQL = """
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER w AS prev_state,
         row_number() OVER w AS rn
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), changes AS (
  SELECT user_id, event_type AS state, ts, event_id
  FROM ordered
  WHERE rn = 1 OR prev_state IS DISTINCT FROM event_type
), scd AS (
  SELECT user_id, state,
         epoch_us(ts) AS vf,
         epoch_us(lead(ts) OVER w2) AS vt
  FROM changes
  WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
), facts AS (
  SELECT event_id, user_id, epoch_us(ts) - CAST(3600 AS BIGINT) * 1000000 AS probe_us
  FROM events
)
SELECT f.event_id, f.user_id, f.probe_us, s.state AS state_1h_ago
FROM facts f
LEFT JOIN scd s
  ON f.user_id = s.user_id AND f.probe_us >= s.vf
     AND (s.vt IS NULL OR f.probe_us < s.vt)
"""



def pipe06_streaming_compaction(spark, sf_dir):
    """PIPE06 — the self-healing ingest loop, end to end: STREAMING
    ingest is what CREATES the small-files problem, so the fix runs in
    the same pipeline. Events stream in three micro-batches
    (maxFilesPerTrigger=1 over three landing splits); foreachBatch
    lands each batch as REAL per-(partition, file) parquet leaves
    (4 partition dirs x 4 files x 3 batches = 48 small files); then
    the manifest read off the landed tree drives opt03's sorted-fill
    plan and opt04's rewrite — one file per planned group, rows
    z-sorted inside. The returned frame is opt04's per-partition
    equivalence proof read from the COMPACTED tree plus the landed
    file count, ALL restatable by the oracle from the source table
    alone: batch slicing (event_id % 3), file tagging (event_id % 4),
    partition keying (user_id % 4), the plan's cumulative fill, and
    the mix32 content hash are each deterministic column math. At
    100 TB this is the maintenance loop a streaming lakehouse runs
    continuously (Delta's OPTIMIZE after autoIngest; the reference's
    nearest analogue is re-CTAS + B-tree indexes,
    tools/database.py:22-24) — here it is ONE query with a
    table-equality proof."""
    import glob as _glob
    import shutil
    import tempfile

    from db_loganalyzer_spark.operators.layout import (
        compaction_apply,
        compaction_plan,
        compaction_verify,
        zorder_key,
    )
    from db_loganalyzer_spark.operators.sketches import mix32

    P = 2147483647
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    src = tempfile.mkdtemp(prefix="pipe06_src_")
    landing = tempfile.mkdtemp(prefix="pipe06_landing_")
    out_dir = tempfile.mkdtemp(prefix="pipe06_compacted_")
    ck = tempfile.mkdtemp(prefix="pipe06_ck_")
    try:
        # three source splits -> three micro-batches (st22's slicing)
        for i in range(3):
            tmp = tempfile.mkdtemp(prefix=f"pipe06_split{i}_")
            (
                ev.filter(F.pmod("event_id", F.lit(3)) == i)
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(tmp)
            )
            part = _glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
            dst = os.path.join(src, f"batch{i}.parquet")
            shutil.move(part, dst)
            os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
            shutil.rmtree(tmp, ignore_errors=True)
        raw = spark.read.parquet(src)
        stream = (
            spark.readStream.schema(raw.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

        def _land(batch_df, batch_id):
            # file_id = batch*4 + (event_id % 4): every leaf dir holds
            # exactly one real file, and the id is restatable SQL.
            # Each batch OVERWRITES its own batch_id=<id> subtree, so a
            # foreachBatch replay after recovery rewrites the same dir
            # instead of appending a duplicate copy (replay-idempotent;
            # the ids are disjoint across batches by construction).
            tagged = batch_df.select(
                F.pmod("user_id", F.lit(4)).cast("long").alias("part_key"),
                (
                    F.lit(int(batch_id) * 4)
                    + F.pmod("event_id", F.lit(4))
                ).cast("long").alias("file_id"),
                "event_id", "ts", "user_id", "event_type", "value",
            )
            (
                tagged.repartition(F.col("part_key"), F.col("file_id"))
                .write.mode("overwrite")
                .partitionBy("part_key", "file_id")
                .parquet(os.path.join(landing, f"batch_id={int(batch_id)}"))
            )

        q = (
            stream.writeStream.foreachBatch(_land)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

        small = spark.read.parquet(landing).select(
            F.col("part_key").cast("long").alias("part_key"),
            F.col("file_id").cast("long").alias("file_id"),
            "event_id", "ts", "user_id", "event_type", "value",
        )
        n_files_landed = len(
            _glob.glob(os.path.join(
                landing, "batch_id=*/part_key=*/file_id=*/*.parquet"
            ))
        )
        manifest = small.groupBy("part_key", "file_id").agg(
            F.count(F.lit(1)).cast("long").alias("n_rows_f")
        )
        plan = compaction_plan(
            manifest, 600, ["part_key"], bytes_col="n_rows_f"
        )
        b = small.agg(
            F.min("user_id").alias("ul"), F.max("user_id").alias("uh"),
            F.min(F.unix_micros("ts")).alias("tl"),
            F.max(F.unix_micros("ts")).alias("th"),
        ).first()
        uspan = max(int(b["uh"]) - int(b["ul"]), 1)
        tspan = max(int(b["th"]) - int(b["tl"]), 1)
        gx = F.expr(f"(user_id - {int(b['ul'])}) * 255 div {uspan}")
        gy = F.expr(f"(unix_micros(ts) - {int(b['tl'])}) * 255 div {tspan}")
        clustered = small.withColumn(
            "__zkey", zorder_key(gx.cast("long"), gy.cast("long"), bits=8)
        )
        compaction_apply(
            clustered, plan, ["part_key"], out_dir, sort_cols=["__zkey"]
        )
        micro = F.floor(F.col("value") * 1000000.0 + 0.5).cast("long")
        lin = (
            F.pmod(F.col("event_id"), F.lit(P)) * 1000003
            + F.pmod(F.col("user_id"), F.lit(P)) * 999983
            + F.pmod(F.unix_micros("ts"), F.lit(P)) * 1000033
            + F.pmod(micro, F.lit(P)) * 999979
            + F.length("event_type").cast("long") * 31
        )
        summary = (
            compaction_verify(spark, out_dir, ["part_key"], mix32(lin, salt=7))
            .withColumn("n_files_landed", F.lit(n_files_landed).cast("long"))
            .orderBy("part_key")
        )
        rows = summary.collect()
        return spark.createDataFrame(rows, summary.schema)
    finally:
        for d in (src, landing, out_dir, ck):
            shutil.rmtree(d, ignore_errors=True)


_PIPE06_MANIFEST = """
  SELECT ((user_id % 4) + 4) % 4 AS part_key,
         CAST(((event_id % 3) + 3) % 3 AS BIGINT) * 4
           + ((event_id % 4) + 4) % 4 AS file_id,
         event_id, ts, user_id, event_type, value
  FROM events
"""

PIPE06_SQL = f"""
WITH tagged AS ({_PIPE06_MANIFEST}), manifest AS (
  SELECT part_key, file_id, CAST(count(*) AS BIGINT) AS n_rows_f
  FROM tagged GROUP BY 1, 2
), plan AS (
  SELECT part_key,
         CAST(COALESCE(SUM(n_rows_f) OVER (PARTITION BY part_key
                ORDER BY file_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 600
              AS BIGINT) AS out_group
  FROM manifest
), groups AS (
  SELECT part_key, CAST(count(DISTINCT out_group) AS BIGINT) AS n_groups
  FROM plan GROUP BY 1
), landed AS (
  SELECT CAST(count(*) AS BIGINT) AS n_files_landed
  FROM (SELECT DISTINCT part_key, file_id FROM manifest)
), h AS (
  SELECT part_key, h
  FROM {_mix32_sql_select(
      _OPT04_LIN,
      "(SELECT part_key, event_id, ts, user_id, event_type, value"
      " FROM tagged)",
      passthrough=["part_key"],
      salt=7,
  )} x
), agg AS (
  SELECT part_key, CAST(count(*) AS BIGINT) AS n_rows,
         CAST(SUM(h) AS BIGINT) AS content_hash
  FROM h GROUP BY 1
)
SELECT CAST(a.part_key AS BIGINT) AS part_key, n_rows, content_hash,
       n_groups, n_groups AS n_files_out, n_files_landed
FROM agg a JOIN groups g ON g.part_key = a.part_key, landed
"""


def pipe04_streaming_corpus(spark, sf_dir):
    """PIPE04 — the STREAMING corpus-ingest pipeline, end to end in one
    flow: documents arrive on the landing-directory stream, pass a
    stateless quality gate (quality_score is pure column math), drop
    exact eval-set clones via the st18 stream-static anti-join, then
    exact-dedup into content groups with ONE streaming aggregation
    (keeper = min (doc_id, source) struct — deterministic regardless of
    arrival order, unlike dropDuplicates' first-arrival winner); the
    drained groups reduce to per-source corpus accounting batch-side.
    pipe01 is this pipeline's batch form; every stage here is a
    streaming-legal composition (two stream-static joins cost zero
    state; the dedup groupBy is the only state store, one row per
    distinct content hash)."""
    from db_loganalyzer_spark.operators.textstats import (
        fingerprint,
        quality_score,
        token_count,
    )

    docs = _t(spark, sf_dir, "documents")
    eval_fps = (
        docs.filter(F.col("doc_id") % 50 == 0)
        .select(fingerprint("text").alias("fp"))
        .distinct()
    )
    stream = ST.read_table_stream(spark, sf_dir, "documents")
    cleaned = (
        stream.select(
            "doc_id",
            "source",
            fingerprint("text").alias("fp"),
            token_count("text").cast("long").alias("n_toks"),
            quality_score("text").alias("q"),
        )
        .filter(F.col("q") >= 0.5)
        .join(eval_fps, "fp", "left_anti")
    )
    groups = cleaned.groupBy("fp").agg(
        F.min(F.struct("doc_id", "source")).alias("keeper"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_toks").cast("long").alias("sum_toks"),
    )
    drained = _drain(groups, "pipe04", output_mode="complete")
    return (
        drained.select(
            F.col("keeper.source").alias("source"), "n_docs", "sum_toks"
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.sum("n_docs").cast("long").alias("n_docs"),
            (F.sum("n_docs") - F.count(F.lit(1)))
            .cast("long")
            .alias("n_dupes_removed"),
            F.sum("sum_toks").cast("long").alias("sum_toks"),
        )
    )


PIPE04_SQL = (
    "WITH x0 AS (SELECT 1)" + _QUALITY_CTE + r"""
, f AS (
  SELECT doc_id, text,
         list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
                     x -> x <> '') AS toks,
         source
  FROM documents
), fps AS (
  SELECT doc_id, source, CAST(len(toks) AS BIGINT) AS n_toks,
         list_reduce(
           list_prepend(CAST(0 AS BIGINT),
             list_transform(toks, t ->
               list_reduce(
                 list_prepend(CAST(7 AS BIGINT),
                              list_transform(string_split(t, ''), ch -> CAST(ascii(ch) AS BIGINT))),
                 (acc, x) -> (acc * 131 + x) % 1000000007))),
           (acc, h) -> (acc * 31 + h) % 1000000007) AS fp
  FROM f
), kept AS (
  SELECT fps.* FROM fps JOIN q USING (doc_id)
  WHERE q.quality >= 0.5
    AND fp NOT IN (SELECT fp FROM fps WHERE doc_id % 50 = 0)
), g AS (
  SELECT fp, arg_min(source, doc_id) AS keeper_source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_toks) AS BIGINT) AS sum_toks
  FROM kept GROUP BY 1
)
SELECT keeper_source AS source,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(n_docs) AS BIGINT) AS n_docs,
       CAST(SUM(n_docs) - COUNT(*) AS BIGINT) AS n_dupes_removed,
       CAST(SUM(sum_toks) AS BIGINT) AS sum_toks
FROM g GROUP BY 1
"""
)



def mm09_energy_segments(spark, sf_dir):
    """MM09 — VAD-style audio segmentation through the REAL decode path:
    frames of 16 PCM samples reduce to exact integer energies inside
    the RIFF decode stage (multimodal.decode_active_frames), a frame is
    active when its energy beats the clip average (cross-multiplied, no
    division), and maximal active runs become segments via the SAME
    interval-coalescing operator the event family uses (w21 on
    [f, f+1] closed — touching merges, so consecutive frames chain).
    Output: one row per segment with frame bounds and length. The
    speech-corpus segmentation move, with the samples closed-form in
    the id so the oracle hash-checks the energies the decoder must
    have read."""
    from db_loganalyzer_spark.operators.multimodal import (
        decode_active_frames,
        media_table_synthetic_audio,
    )

    docs = _t(spark, sf_dir, "documents")
    act = decode_active_frames(media_table_synthetic_audio(docs))
    iv = act.select(
        "media_id",
        F.col("frame_idx").alias("__s"),
        (F.col("frame_idx") + 1).alias("__e"),
    )
    seg = W.coalesce_intervals(iv, ["media_id"], "__s", "__e")
    return seg.select(
        "media_id",
        F.col("island_id").alias("segment_id"),
        F.col("window_start").alias("start_frame"),
        (F.col("window_end") - 1).alias("end_frame"),
        F.col("n_intervals").alias("n_frames"),
    )


MM09_SQL = """
WITH m AS (
  SELECT doc_id AS media_id, CAST(40 + doc_id % 113 AS BIGINT) AS n
  FROM documents
), fr AS (
  SELECT media_id, fs.f AS frame_idx, n,
         CAST(list_sum(list_transform(
                generate_series(fs.f * 16, least(fs.f * 16 + 15, n - 1)),
                i -> ((media_id * 31 + i * 17) % 2001 - 1000)
                     * ((media_id * 31 + i * 17) % 2001 - 1000)))
              AS BIGINT) AS e
  FROM m, unnest(generate_series(0, (n + 15) // 16 - 1)) fs(f)
), tot AS (
  SELECT media_id, SUM(e) AS total, CAST(COUNT(*) AS BIGINT) AS nf
  FROM fr GROUP BY 1
), act AS (
  SELECT fr.media_id, frame_idx
  FROM fr JOIN tot USING (media_id)
  WHERE e * nf > total
), marked AS (
  SELECT media_id, frame_idx,
         CASE WHEN lag(frame_idx) OVER w IS NULL
                OR frame_idx > lag(frame_idx) OVER w + 1
              THEN 1 ELSE 0 END AS is_new
  FROM act
  WINDOW w AS (PARTITION BY media_id ORDER BY frame_idx)
), grp AS (
  SELECT media_id, frame_idx,
         SUM(is_new) OVER (PARTITION BY media_id ORDER BY frame_idx
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - 1 AS seg
  FROM marked
)
SELECT media_id, CAST(seg AS BIGINT) AS segment_id,
       MIN(frame_idx) AS start_frame, MAX(frame_idx) AS end_frame,
       CAST(COUNT(*) AS BIGINT) AS n_frames
FROM grp GROUP BY 1, 2
"""



def d17_slo_burn(spark, sf_dir):
    """D17 — multi-window multi-burn SLO alerting (detectors.
    slo_burn_alerts): bad = event_type = 'error' against an SLO budget
    of 0.25; an alert needs burn > 1.2 in a 5-minute window AND burn >
    1.05 in its enclosing hour (fast AND sustained — the SRE-workbook
    policy that kills both paging lag and blip alerts). One scan, two
    bucket-level aggregates, one bucket-arithmetic equi join; every
    ratio is a single division of exact integer counts."""
    from db_loganalyzer_spark.detectors.detectors import slo_burn_alerts

    ev = _t(spark, sf_dir, "events")
    return slo_burn_alerts(ev, F.col("event_type") == "error")


D17_SQL = """
WITH tagged AS (
  SELECT CAST(FLOOR(epoch_us(ts) / 300000000.0) AS BIGINT) AS short_bucket,
         CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS bad
  FROM events
), s AS (
  SELECT short_bucket, CAST(COUNT(*) AS BIGINT) AS n_short,
         CAST(SUM(bad) AS BIGINT) AS bad_short
  FROM tagged GROUP BY 1
), l AS (
  SELECT CAST(FLOOR(short_bucket / 12.0) AS BIGINT) AS long_bucket,
         CAST(COUNT(*) AS BIGINT) AS n_long,
         CAST(SUM(bad) AS BIGINT) AS bad_long
  FROM tagged GROUP BY 1
)
SELECT short_bucket,
       CAST(FLOOR(short_bucket / 12.0) AS BIGINT) AS long_bucket,
       n_short, bad_short,
       bad_short / n_short / 0.25 AS burn_short,
       n_long, bad_long,
       bad_long / n_long / 0.25 AS burn_long
FROM s JOIN l ON l.long_bucket = CAST(FLOOR(short_bucket / 12.0) AS BIGINT)
WHERE bad_short / n_short / 0.25 > 1.2
  AND bad_long / n_long / 0.25 > 1.05
"""



def s12_schema_evolution(spark, sf_dir):
    """S12 — schema-evolution-tolerant parquet ingest: a landing
    directory holding TWO exporter generations (the old one predates
    the ``props`` payload column; the new one carries it) reads back as
    ONE table via ``mergeSchema`` — missing columns surface as NULL,
    nothing is dropped, nothing fails. The lakehouse reality every
    long-lived trace pipeline hits: the writer fleet upgrades
    gradually, the reader must take both generations in one scan. The
    entry splits events by id parity, writes each half under its
    generation's schema, merge-reads, and aggregates; the oracle
    aggregates straight from parquet with the parity rule restated, so
    a dropped row, a mis-defaulted column, or a failed merge breaks
    the hash."""
    import os as _os

    base = _os.path.join(_os.path.dirname(_os.path.abspath(__file__)), ".scratch")
    root = _os.path.join(
        base, "s12_evo_" + _os.path.basename(_os.path.normpath(sf_dir))
    )
    ev = _t(spark, sf_dir, "events")
    ev.filter(F.col("event_id") % 2 == 0).drop("props").write.mode(
        "overwrite"
    ).parquet(_os.path.join(root, "gen=v1"))
    ev.filter(F.col("event_id") % 2 == 1).write.mode("overwrite").parquet(
        _os.path.join(root, "gen=v2")
    )
    merged = (
        spark.read.option("mergeSchema", "true")
        .option("recursiveFileLookup", "true")
        .parquet(root)
    )
    return merged.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count("props").cast("long").alias("n_props"),
        F.unix_micros(F.min("ts")).alias("min_us"),
        F.unix_micros(F.max("ts")).alias("max_us"),
        F.sum(F.floor(F.col("value") * 1000000.0 + 0.5).cast("long"))
        .cast("long")
        .alias("sum_value_micro"),
    )


S12_SQL = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(CASE WHEN event_id % 2 = 1 THEN props END) AS BIGINT)
         AS n_props,
       epoch_us(MIN(ts)) AS min_us, epoch_us(MAX(ts)) AS max_us,
       CAST(SUM(CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
         AS sum_value_micro
FROM events GROUP BY 1
"""



def st20_streaming_pit_enrich(spark, sf_dir):
    """ST20 — streaming point-in-time enrichment (j14's streaming twin):
    arriving events join the STANDING SCD2 dimension (w14's intervals,
    built batch-side from history) for the state their user was in an
    hour earlier — a stream-static equi join with the half-open
    containment as a band condition, stateless like st12/st18 (the
    dimension lives in storage; no state store rows). The
    training-feature lookup at INGEST time: the same versioned
    dimension serves the batch backfill (j14) and the live stream,
    which is exactly how a feature store keeps online/offline skew at
    zero. Same oracle as j14."""
    from db_loganalyzer_spark.operators.joins import pit_lookup
    from db_loganalyzer_spark.operators.timeseries import scd2_intervals

    ev = _t(spark, sf_dir, "events")
    scd = scd2_intervals(ev, "event_type", ["user_id"]).select(
        "user_id",
        "state",
        F.unix_micros("valid_from").alias("valid_from_us"),
        F.unix_micros("valid_to").alias("valid_to_us"),
    )
    stream = ST.read_events_stream(spark, sf_dir)
    facts = stream.select(
        "event_id",
        "user_id",
        (F.unix_micros("ts") - 3600 * 1000000).alias("probe_us"),
    )
    out = pit_lookup(facts, scd, "user_id").select(
        "event_id", "user_id", "probe_us",
        F.col("state").alias("state_1h_ago"),
    )
    return _drain(out, "st20")


ST20_SQL = J14_SQL



def cl05_silhouette(spark, sf_dir):
    """CL05 — per-cluster simplified silhouette (clustering.
    simplified_silhouette) over the deterministic quantizer path (cl04's
    seeds and integer-quantized vectors): a = distance to the assigned
    centroid, b = to the nearest other, s = (b-a)/max(a,b) — the
    clustering-quality score Spark ML's ClusteringEvaluator computes,
    here with t16's micro-unit rounding so the per-cluster mean is
    engine-exact. Completes the clustering family: assign (cl04),
    representatives (cl02), summaries (cl03), and now quality."""
    from db_loganalyzer_spark.operators.clustering import (
        simplified_silhouette,
    )

    emb = _quantized_embeddings(spark, sf_dir)
    seeds = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cluster"), "embedding"
    )
    return simplified_silhouette(emb, seeds)


CL05_SQL = """
WITH e AS (
  SELECT vec_id,
         list_transform(embedding, x -> FLOOR(CAST(x AS DOUBLE) * 10000)) AS v
  FROM embeddings
), seeds AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
ranked AS (
  SELECT e.vec_id, s.cid,
         sqrt(list_sum(list_transform(range(1, 65),
              i -> (e.v[i] - s.cv[i]) * (e.v[i] - s.cv[i])))) AS d,
         ROW_NUMBER() OVER (
           PARTITION BY e.vec_id
           ORDER BY list_sum(list_transform(range(1, 65),
                     i -> (e.v[i] - s.cv[i]) * (e.v[i] - s.cv[i]))), s.cid) AS rn
  FROM e CROSS JOIN seeds s
), pp AS (
  SELECT vec_id,
         MIN(CASE WHEN rn = 1 THEN cid END) AS cluster,
         MIN(CASE WHEN rn = 1 THEN d END) AS a,
         MIN(CASE WHEN rn = 2 THEN d END) AS b
  FROM ranked WHERE rn <= 2 GROUP BY 1
), sm AS (
  SELECT cluster,
         CAST(FLOOR(ROUND(
           CASE WHEN greatest(a, b) > 0 THEN (b - a) / greatest(a, b)
                ELSE 0.0 END, 6) * 1000000 + 0.5) AS BIGINT) AS s_micro
  FROM pp
)
SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(s_micro) AS BIGINT) AS sum_sil_micro,
       CAST(SUM(s_micro) AS DOUBLE) / (COUNT(*) * 1000000.0)
         AS mean_silhouette
FROM sm GROUP BY 1
"""



def f12_json_schema_profile(spark, sf_dir):
    """F12 — semi-structured payload schema discovery, the profiling
    twin of f08's single-field probe: per JSON key across a
    heterogeneous payload corpus, how often it appears, how often its
    value parses numeric, and its distinct-value count — the first
    query anyone runs against a dynamic-payload log table before
    writing extraction rules (the reference's fields_json column IS
    this shape, SURVEY §1.3). The heterogeneous payloads are derived
    deterministically per event type (click/view carry k+value, error
    adds code+msg, purchase adds amount, signup only k) and the probe
    runs the full semi-structured plumbing — map build, to_json,
    from_json(map<string,string>), explode — so a quoting, casting, or
    key-pruning bug anywhere in that round trip breaks the hash. The
    oracle restates the expected profile from the derivation rules
    directly, never trusting the round trip."""
    ev = _t(spark, sf_dir, "events")
    et = F.col("event_type")
    full = F.create_map(
        F.lit("k"), F.get_json_object("props", "$.k"),
        F.lit("value"), F.col("value").cast("string"),
        F.lit("code"), F.floor("value").cast("long").cast("string"),
        F.lit("msg"), F.lit("e"),
        F.lit("amount"), F.col("value").cast("string"),
    )
    keep = F.map_filter(
        full,
        lambda k, v: (k == "k")
        | ((k == "value") & et.isin("click", "view"))
        | ((k == "code") & (et == "error"))
        | ((k == "msg") & (et == "error"))
        | ((k == "amount") & (et == "purchase")),
    )
    js = F.to_json(keep)
    parsed = F.from_json(js, "map<string,string>")
    kv = ev.select(F.explode(parsed).alias("key", "val"))
    return kv.groupBy("key").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count(F.expr("try_cast(val AS double)")).cast("long").alias("n_numeric"),
        F.countDistinct("val").cast("long").alias("n_distinct"),
    )


F12_SQL = """
WITH base AS (
  SELECT event_type, value,
         json_extract_string(props::JSON, '$.k') AS k
  FROM events
)
SELECT 'k' AS key, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(TRY_CAST(k AS DOUBLE)) AS BIGINT) AS n_numeric,
       CAST(COUNT(DISTINCT k) AS BIGINT) AS n_distinct
FROM base
UNION ALL
SELECT 'value', CAST(COUNT(*) AS BIGINT), CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(DISTINCT value) AS BIGINT)
FROM base WHERE event_type IN ('click', 'view')
UNION ALL
SELECT 'code', CAST(COUNT(*) AS BIGINT), CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(DISTINCT CAST(FLOOR(value) AS BIGINT)) AS BIGINT)
FROM base WHERE event_type = 'error'
UNION ALL
SELECT 'msg', CAST(COUNT(*) AS BIGINT), CAST(0 AS BIGINT), CAST(1 AS BIGINT)
FROM base WHERE event_type = 'error'
UNION ALL
SELECT 'amount', CAST(COUNT(*) AS BIGINT), CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(DISTINCT value) AS BIGINT)
FROM base WHERE event_type = 'purchase'
"""



def pipe05_rag_ingest(spark, sf_dir):
    """PIPE05 — RAG ingestion + retrieval end to end, text in /
    neighbors out: documents embed through the deterministic
    hashing-trick encoder (cl01's mapInPandas path, integer-exact
    arithmetic), the corpus becomes a standing LSH bucket index (sim02's
    seeded hyperplanes), and every evaluation document (doc_id % 100 =
    0) probes its bucket for exact-cosine top-5 neighbors. The
    retrieval stack the agentic layer's L5 uses, composed as ONE
    oracle-paired flow — encoder arithmetic, plane signs, bucket
    candidate generation, and ranking all hash-checked together, recall
    loss included (a real encoder swaps in as the same pandas stage;
    sim02's pytest separately pins recall vs brute force).

    n_planes pinned at 12, the occupancy-dial value (see sim05): with
    queries = 1% of the corpus, a FIXED small plane count makes bucket
    occupancy — and with it candidate traffic — grow quadratically
    across scale decades. The certified config is now the dialed one;
    the 6-plane form survives only as the pytest contrast."""
    from db_loganalyzer_spark.operators.clustering import (
        embed_texts,
        valid_embeddings,
    )
    from db_loganalyzer_spark.operators.similarity import lsh_topk

    docs = _t(spark, sf_dir, "documents")
    emb = valid_embeddings(embed_texts(docs)).select(
        F.col("doc_id").alias("vec_id"), "embedding"
    )
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    return lsh_topk(emb, queries, k=5, n_planes=12)


PIPE05_SQL = f"""
WITH {_planes_cte(12)},
base AS (
  SELECT doc_id,
         list_filter(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
                     x -> x <> '') AS toks
  FROM documents
), th AS (
  SELECT doc_id,
         list_transform(toks, t ->
           list_reduce(
             list_prepend(CAST(7 AS BIGINT),
                          list_transform(string_split(t, ''), ch -> CAST(ascii(ch) AS BIGINT))),
             (acc, x) -> (acc * 131 + x) % 1000000007) % 64) AS buckets
  FROM base
), v AS (
  SELECT doc_id,
         list_transform(range(0, 64),
                        j -> CAST(len(list_filter(buckets, b -> b = j)) AS DOUBLE)) AS vec
  FROM th
), nn AS (
  SELECT doc_id, vec, sqrt(list_sum(list_transform(vec, x -> x * x))) AS nrm FROM v
), e AS (
  SELECT doc_id AS vec_id,
         list_transform(range(0, 64), j -> vec[j + 1] / nrm) AS v
  FROM nn WHERE nrm > 1e-6 AND NOT isnan(nrm)
), cb AS (
  SELECT e.vec_id,
         CAST(SUM(CASE WHEN list_sum(list_transform(range(1, 65), i -> e.v[i] * p.p[i])) > 0
                       THEN (CAST(1 AS BIGINT) << p.pid) ELSE 0 END) AS BIGINT) AS bucket
  FROM e CROSS JOIN planes p
  GROUP BY e.vec_id
), scored AS (
  SELECT a.vec_id AS query_id, b.vec_id, {_COS_SQL} AS cosine
  FROM cb qb
  JOIN cb ob ON ob.bucket = qb.bucket
  JOIN e a ON a.vec_id = qb.vec_id
  JOIN e b ON b.vec_id = ob.vec_id AND b.vec_id <> a.vec_id
  WHERE qb.vec_id % 100 = 0
)
SELECT query_id, vec_id, cosine, CAST(rank AS INT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, vec_id) AS rank
  FROM scored
) WHERE rank <= 5
"""



def t21_heaps_fit(spark, sf_dir):
    """T21 — Heaps'-law vocabulary-growth fit (textstats.heaps_fit):
    log-log regression of cumulative distinct terms vs cumulative
    tokens over id-bucketed corpus prefixes (100 docs per bucket) — the
    corpus-scaling companion to t16's Zipf slope: beta near 0 =
    saturated/duplicated vocabulary, near 1 = token soup, 0.4-0.6 =
    natural text; and the curve that predicts the vocabulary the next
    10x of corpus brings. t16's float discipline throughout."""
    from db_loganalyzer_spark.operators.textstats import heaps_fit

    return heaps_fit(_t(spark, sf_dir, "documents"))


T21_SQL = r"""
WITH base AS (
  SELECT doc_id,
         list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
                     x -> x <> '') AS toks
  FROM documents
), pb AS (
  SELECT CAST(FLOOR(doc_id / 100.0) AS BIGINT) AS bucket,
         CAST(SUM(len(toks)) AS BIGINT) AS toks
  FROM base GROUP BY 1
), fb AS (
  SELECT CAST(FLOOR(MIN(doc_id) / 100.0) AS BIGINT) AS bucket
  FROM (SELECT doc_id, unnest(toks) AS token FROM base)
  GROUP BY token
), nv AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS new_vocab FROM fb GROUP BY 1
), cum AS (
  SELECT CAST(SUM(pb.toks) OVER w AS BIGINT) AS cum_toks,
         CAST(SUM(COALESCE(nv.new_vocab, 0)) OVER w AS BIGINT) AS cum_vocab
  FROM pb LEFT JOIN nv USING (bucket)
  WINDOW w AS (ORDER BY pb.bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), pts AS (
  SELECT CAST(FLOOR(ROUND(ln(CAST(cum_toks AS DOUBLE)), 6) * 1000000 + 0.5) AS BIGINT) AS x,
         CAST(FLOOR(ROUND(ln(CAST(cum_vocab AS DOUBLE)), 6) * 1000000 + 0.5) AS BIGINT) AS y
  FROM cum WHERE cum_toks > 0 AND cum_vocab > 0
), s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         SUM(CAST(x AS HUGEINT) * y) AS sxy,
         SUM(CAST(x AS HUGEINT) * x) AS sxx,
         SUM(CAST(y AS HUGEINT) * y) AS syy
  FROM pts
)
SELECT k AS n_points,
       CASE WHEN (k * sxx - CAST(sx AS HUGEINT) * sx) > 0
            THEN CAST(k * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                 / CAST(k * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE) END AS beta,
       (CAST(sy AS DOUBLE) / 1000000.0 / k)
         - (CASE WHEN (k * sxx - CAST(sx AS HUGEINT) * sx) > 0
                 THEN CAST(k * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                      / CAST(k * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE) END)
           * (CAST(sx AS DOUBLE) / 1000000.0 / k) AS log_k,
       CASE WHEN (k * sxx - CAST(sx AS HUGEINT) * sx) > 0
              AND (k * syy - CAST(sy AS HUGEINT) * sy) > 0
            THEN (CAST(k * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                  / sqrt(CAST(k * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)))
                 / sqrt(CAST(k * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE)) END AS r
FROM s
"""



def st21_streaming_energy_segments(spark, sf_dir):
    """ST21 — mm09's streaming form: clips arrive WHOLE on the landing
    stream, so active-frame detection AND maximal-run coalescing happen
    inside one stateless pandas stage (multimodal.
    decode_energy_segments) — segments land per micro-batch with no
    watermark and no state store, unlike event-interval coalescing
    (st15) where the islands span micro-batches and need carried state.
    The contrast IS the lesson: per-ROW payloads keep streaming
    segmentation free; per-STREAM timelines pay for state. Same oracle
    as mm09, pinning the single-stage form equal to the batch
    two-stage (decode + coalesce_intervals) one."""
    from db_loganalyzer_spark.operators.multimodal import (
        decode_energy_segments,
        media_table_synthetic_audio,
    )

    stream = ST.read_table_stream(spark, sf_dir, "documents")
    out = decode_energy_segments(media_table_synthetic_audio(stream))
    return _drain(out, "st21")


ST21_SQL = MM09_SQL


def st22_streaming_rollup_maintenance(spark, sf_dir):
    """ST22 — a38's LIVE form (streams.streaming_rollup_maintenance):
    the hourly rollup is maintained as a STANDING TABLE refreshed
    O(delta) per micro-batch — each batch reduces to mergeable partials
    (count / micro-unit sum / max per bucket) which foreachBatch folds
    into a versioned on-disk partials table; history is never
    rescanned. The events table is split into THREE landing files each
    spanning the full time range, streamed with maxFilesPerTrigger=1,
    so every batch after the first delivers rows OLDER than the max
    event time already absorbed — late data by construction, absorbed
    without watermarks because the partials monoid is commutative
    (late rows just re-touch their closed bucket). The oracle is the
    FULL recompute over all events, so the hash proves
    drain-of-3-merges == recompute. This is the production complement
    of the reference's per-refresh CTAS rollups
    (tools/storage.py:338-352): at 100 TB the history rescan IS the
    refresh cost, and this shape deletes it."""
    import glob as _glob
    import shutil
    import tempfile

    landing = tempfile.mkdtemp(prefix="st22_landing_")
    standing = tempfile.mkdtemp(prefix="st22_standing_")
    ck = tempfile.mkdtemp(prefix="st22_ck_")
    try:
        ev = _t(spark, sf_dir, "events").select(
            "event_id", "ts", "event_type", "value"
        )
        for i in range(3):
            tmp = tempfile.mkdtemp(prefix=f"st22_split{i}_")
            (
                ev.filter(F.pmod("event_id", F.lit(3)) == i)
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(tmp)
            )
            part = _glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
            dst = os.path.join(landing, f"batch{i}.parquet")
            shutil.move(part, dst)
            # pinned mtimes order the file-source pickup (determinism
            # of the RESULT doesn't need it — merging commutes — but
            # deterministic batch slicing keeps reruns bit-identical)
            os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
            shutil.rmtree(tmp, ignore_errors=True)
        raw = spark.read.parquet(landing)
        stream = (
            spark.readStream.schema(raw.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(landing)
        )
        versions = ST.streaming_rollup_maintenance(
            stream, 3600, ["event_type"], "value", standing, ck
        )
        if len(versions) < 3:
            raise AssertionError(
                f"expected >= 3 micro-batch merges, got {versions}"
            )
        out = ST.read_standing_rollup(spark, standing, ["event_type"])
        # bucket-level (hours x types — fixed time range, SF-invariant):
        # materialize so the scratch dirs can be removed
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(landing, ignore_errors=True)
        shutil.rmtree(standing, ignore_errors=True)
        shutil.rmtree(ck, ignore_errors=True)


ST22_SQL = A38_SQL


def st23_streaming_encoding_gate(spark, sf_dir):
    """ST23 — t22's streaming form: the encoding-damage gate runs at
    INGEST, where a corrupt-batch problem is cheapest to catch — the
    scoring is pure per-row regexp column math (no window, no state,
    no watermark), so the batch operator runs UNCHANGED on the landing
    stream and the quarantine decision (is_clean) lands with each
    micro-batch. Pair with s11's CSV quarantine lane: that one catches
    rows that don't PARSE, this one catches rows that parse fine but
    carry mojibake/control damage a parser never flags. Same oracle as
    t22 (full recompute over documents)."""
    from db_loganalyzer_spark.operators.textstats import (
        encoding_anomalies,
    )

    stream = ST.read_table_stream(spark, sf_dir, "documents")
    return _drain(encoding_anomalies(stream), "st23")


ST23_SQL = None  # assigned after T22_SQL is defined (module order)


ST23_SQL = T22_SQL


_REGISTRY: dict[str, tuple[Callable, str | None]] = {
    # DRIVER WINDOW = the FIRST 50 entries (recount list(queries())[:50]
    # after every edit). Policy since r5: entries whose implementation
    # or oracle changed this round first-priority, then the stalest
    # driver rows, oldest first.
    #
    # Round-13 window (verified: exactly 50 above the line):
    #   1-5   mm11 GIF (full LZW) + mm12 IMA-ADPCM + mm13 mu-law +
    #         mm14 Motion-JPEG (every media family now has a real
    #         compressed codec) + j15 auto-salted join (a37->j13 loop
    #         closed), new this round
    #   6-15  impl changed this round (re-certify): st22 (replay-
    #         idempotent merge base), pipe06 (batch_id-keyed idempotent
    #         landing), mm10 (restart-truncation guard + PNG CRC), and
    #         the decode_wav chunk-walk / image-dispatch dependents
    #         mm01 mm04 mm06 mm08 mm09 st16 st21
    #  16-34  ALL 19 remaining r8-latest-row entries (the r12 verdict's
    #         top item: pipe01 st04-st07 st09-st13 t01-t04 t08 w01 w05
    #         w08 w10)
    #  35-50  the 16 oldest r9-latest-row entries (a01-a17 family, a35,
    #         a36, d01-d04)
    # Still on r9 rows after this window, queued first for r14 (30):
    #   d05 d06 d07 d09 f02-f05 m03 q03 q05 st08 st14 t05 t06 t07
    #   t09-t13 t17 w11-w17 w20

    # ---- new in r13 ----
    "mm11_gif_pixel_stats": (mm11_gif_pixel_stats, MM11_SQL),
    "mm12_adpcm_audio_stats": (mm12_adpcm_audio_stats, MM12_SQL),
    "j15_auto_salted_join": (j15_auto_salted_join, J15_SQL),
    "mm13_mulaw_audio_stats": (mm13_mulaw_audio_stats, MM13_SQL),
    "mm14_mjpeg_video_stats": (mm14_mjpeg_video_stats, MM14_SQL),
    # ---- impl changed in r13 (re-certify) ----
    "st22_streaming_rollup_maintenance": (
        st22_streaming_rollup_maintenance, ST22_SQL,
    ),
    "pipe06_streaming_compaction": (
        pipe06_streaming_compaction, PIPE06_SQL,
    ),
    "mm10_jpeg_pixel_stats": (mm10_jpeg_pixel_stats, MM10_SQL),
    "mm01_decode_media": (mm01_decode_media, MM01_SQL),
    "mm04_pixel_stats": (mm04_pixel_stats, MM04_SQL),
    "mm06_audio_stats": (mm06_audio_stats, MM06_SQL),
    "mm08_phash_dedup": (mm08_phash_dedup, MM08_SQL),
    "mm09_energy_segments": (mm09_energy_segments, MM09_SQL),
    "st16_streaming_media_decode": (st16_streaming_media_decode, ST16_SQL),
    "st21_streaming_energy_segments": (st21_streaming_energy_segments, ST21_SQL),
    # ---- latest driver row: r8 — the stale queue, all 19 ----
    "pipe01_training_corpus": (pipe01_training_corpus, PIPE01_SQL),
    "st04_streaming_dedup": (st04_streaming_dedup, ST04_SQL),
    "st05_streaming_ewma": (st05_streaming_ewma, ST05_SQL),
    "st06_streaming_sliding_rollup": (
        st06_streaming_sliding_rollup, ST06_SQL,
    ),
    "st07_streaming_hll": (st07_streaming_hll, ST07_SQL),
    "st09_streaming_gap_fill": (st09_streaming_gap_fill, ST09_SQL),
    "st10_streaming_counter_rates": (st10_streaming_counter_rates, W17_SQL),
    "st11_streaming_cusum": (st11_streaming_cusum, ST11_SQL),
    "st12_streaming_static_enrich": (st12_streaming_static_enrich, ST12_SQL),
    "st13_streaming_interval_join": (st13_streaming_interval_join, ST13_SQL),
    "t01_topk_per_group": (t01_topk_per_group, T01_SQL),
    "t02_text_stats": (t02_text_stats, T02_SQL),
    "t03_language_id": (t03_language_id, T03_SQL),
    "t04_fingerprints": (t04_fingerprints, T04_SQL),
    "t08_corpus_report": (t08_corpus_report, T08_SQL),
    "w01_value_drops": (w01_value_drops, W01_SQL),
    "w05_sessionization": (w05_sessionization, W05_SQL),
    "w08_marker_chunks": (w08_marker_chunks, W08_SQL),
    "w10_severity_first": (w10_severity_first, W10_SQL),
    # ---- latest driver row: r9 (18 oldest of 46) ----
    "a01_severity_histogram": (a01_severity_histogram, A01_SQL),
    "a02_event_histogram": (a02_event_histogram, A02_SQL),
    "a03_time_span": (a03_time_span, A03_SQL),
    "a04_global_max": (a04_global_max, A04_SQL),
    "a08_bucket_heatmap": (a08_bucket_heatmap, A08_SQL),
    "a09_high_severity_buckets": (a09_high_severity_buckets, A09_SQL),
    "a12_per_group_zscores": (a12_per_group_zscores, A12_SQL),
    "a14_summary_stats": (a14_summary_stats, A14_SQL),
    "a16_count": (a16_count, A16_SQL),
    "a17_role_distribution": (a17_role_distribution, A17_SQL),
    "a35_rolling_active_users": (a35_rolling_active_users, A35_SQL),
    "a36_equidepth_bins": (a36_equidepth_bins, A36_SQL),
    "d01_storage_pressure": (d01_storage_pressure, D01_SQL),
    "d02_ratekeeper": (d02_ratekeeper, D02_SQL),
    "d03_missing_tlogs": (d03_missing_tlogs, D03_SQL),
    "d04_recovery_loop": (d04_recovery_loop, D04_SQL),
    # ================= below this line: OUTSIDE the 50-row window =====
    # ---- latest driver row: r9 (remaining 30) — the r14 queue ----
    "d05_coordination_loss": (d05_coordination_loss, D05_SQL),
    "d06_zscore_hotspots": (d06_zscore_hotspots, D06_SQL),
    "d07_baseline_window_anomalies": (d07_baseline_window_anomalies, D07_SQL),
    "d09_rollback_analysis": (d09_rollback_analysis, D09_SQL),
    "f02_event_pattern": (f02_event_pattern, F02_SQL),
    "f03_severity_floor": (f03_severity_floor, F03_SQL),
    "f04_dynamic_predicate": (f04_dynamic_predicate, F04_SQL),
    "f05_interesting_events": (f05_interesting_events, F05_SQL),
    "m03_minhash_lsh_dedup": (m03_minhash_lsh_dedup, M03_SQL),
    "q03_shipping_priority": (q03_shipping_priority, Q03_SQL),
    "q05_nation_revenue": (q05_nation_revenue, Q05_SQL),
    "st08_streaming_topk": (st08_streaming_topk, ST08_SQL),
    "st14_streaming_neardup_probe": (st14_streaming_neardup_probe, ST14_SQL),
    "t05_pii_redaction": (t05_pii_redaction, T05_SQL),
    "t06_repetition_stats": (t06_repetition_stats, T06_SQL),
    "t07_quality_gate": (t07_quality_gate, T07_SQL),
    "t09_vocab_stats": (t09_vocab_stats, T09_SQL),
    "t10_length_histogram": (t10_length_histogram, T10_SQL),
    "t11_tfidf_terms": (t11_tfidf_terms, T11_SQL),
    "t12_bm25_search": (t12_bm25_search, T12_SQL),
    "t13_bigram_lm": (t13_bigram_lm, T13_SQL),
    "t17_shingle_novelty": (t17_shingle_novelty, T17_SQL),
    "w11_ewma": (w11_ewma, W11_SQL),
    "w12_value_drops_global": (w12_value_drops_global, W12_SQL),
    "w13_gap_fill": (w13_gap_fill, W13_SQL),
    "w14_scd2_intervals": (w14_scd2_intervals, W14_SQL),
    "w15_trailing_window": (w15_trailing_window, W15_SQL),
    "w16_level_shifts": (w16_level_shifts, W16_SQL),
    "w17_counter_rates": (w17_counter_rates, W17_SQL),
    "w20_trending_topk": (w20_trending_topk, W20_SQL),
    # ---- latest driver row: r10 ----
    "a29_grouped_hll": (a29_grouped_hll, A29_SQL),
    "a30_countmin_freqs": (a30_countmin_freqs, A30_SQL),
    "a31_cumulative_hll": (a31_cumulative_hll, A31_SQL),
    "a32_hll_overlap": (a32_hll_overlap, A32_SQL),
    "a33_salted_skew_agg": (a33_salted_skew_agg, A33_SQL),
    "a34_retention_cohorts": (a34_retention_cohorts, A34_SQL),
    "d14_cusum_drift": (d14_cusum_drift, D14_SQL),
    "d15_cusum_changepoints": (d15_cusum_changepoints, D15_SQL),
    "d16_seasonal_anomalies": (d16_seasonal_anomalies, D16_SQL),
    "j12_bloom_prefilter": (j12_bloom_prefilter, J12_SQL),
    "j13_salted_skew_join": (j13_salted_skew_join, J13_SQL),
    "m02c_ngram_jaccard_capped": (m02c_ngram_jaccard_capped, M02C_SQL),
    "m03e_minhash_lsh_estimate": (m03e_minhash_lsh_estimate, M03E_SQL),
    "m08c_dedup_components_capped": (m08c_dedup_components_capped, M08C_SQL),
    "m13_dedup_representatives": (m13_dedup_representatives, M13_SQL),
    "m14_leakage_safe_split": (m14_leakage_safe_split, M14_SQL),
    "m15_incremental_dedup": (m15_incremental_dedup, M15_SQL),
    "m16_domain_mixture": (m16_domain_mixture, M16_SQL),
    "m17_block_dedup": (m17_block_dedup, M17_SQL),
    "m18_weighted_sample": (m18_weighted_sample, M18_SQL),
    "m19_title_edit_distance": (m19_title_edit_distance, M19_SQL),
    "m19c_title_edit_distance_capped": (
        m19c_title_edit_distance_capped, M19C_SQL,
    ),
    "m20_winnowing_fingerprints": (m20_winnowing_fingerprints, M20_SQL),
    "m21_winnowing_overlap": (m21_winnowing_overlap, M21_SQL),
    "mm03_frame_sample": (mm03_frame_sample, MM03_SQL),
    "mm07_video_stats": (mm07_video_stats, MM07_SQL),
    "opt01_zorder_layout": (opt01_zorder_layout, OPT01_SQL),
    "pack02_padded_batches": (pack02_padded_batches, PACK02_SQL),
    "pipe02_neardup_corpus": (pipe02_neardup_corpus, PIPE02_SQL),
    "s11_csv_roundtrip": (s11_csv_roundtrip, S11_SQL),
    "st15_streaming_interval_coalesce": (
        st15_streaming_interval_coalesce, ST15_SQL,
    ),
    "st17_streaming_winnowing_probe": (
        st17_streaming_winnowing_probe, ST17_SQL,
    ),
    "st18_streaming_decontaminate": (st18_streaming_decontaminate, ST18_SQL),
    "st19_streaming_csv_ingest": (st19_streaming_csv_ingest, ST19_SQL),
    "t14_shingle_containment": (t14_shingle_containment, T14_SQL),
    "t15_doc_perplexity": (t15_doc_perplexity, T15_SQL),
    "t16_zipf_fit": (t16_zipf_fit, T16_SQL),
    "t18_classifier_gate": (t18_classifier_gate, T18_SQL),
    "w18_event_sequences": (w18_event_sequences, W18_SQL),
    "w19_interarrival_stats": (w19_interarrival_stats, W19_SQL),
    "w21_interval_coalesce": (w21_interval_coalesce, W21_SQL),
    "w22_interval_coalesce_half_open": (
        w22_interval_coalesce_half_open, W22_SQL,
    ),
    # ---- latest driver row: r11 ----
    "a05_rollup_3600s": (a05_rollup_3600s, A05_SQL),
    "a06_metric_baselines": (a06_metric_baselines, A06_SQL),
    "a10_zscore_hotspots": (a10_zscore_hotspots, A10_SQL),
    "a38_incremental_rollup": (a38_incremental_rollup, A38_SQL),
    "c01_chunk_summaries": (c01_chunk_summaries, C01_SQL),
    "cl01_embed_docs": (cl01_embed_docs, CL01_SQL),
    "cl02_cluster_reps": (cl02_cluster_reps, CL02_SQL),
    "cl03_cluster_summary": (cl03_cluster_summary, CL03_SQL),
    "cl04_kmeans_sizes": (cl04_kmeans_sizes, CL04_SQL),
    "cl05_silhouette": (cl05_silhouette, CL05_SQL),
    "d08_metric_anomalies": (d08_metric_anomalies, D08_SQL),
    "d10_recovery_episodes": (d10_recovery_episodes, D10_SQL),
    "d11_detect_recoveries": (d11_detect_recoveries, D11_SQL),
    "d17_slo_burn": (d17_slo_burn, D17_SQL),
    "f01_time_window": (f01_time_window, F01_SQL),
    "f06_event_class": (f06_event_class, F06_SQL),
    "f07_field_probe": (f07_field_probe, F07_SQL),
    "f08_json_field": (f08_json_field, F08_SQL),
    "f10_exclusion": (f10_exclusion, F10_SQL),
    "f11_regex_corpus": (f11_regex_corpus, F11_SQL),
    "f12_json_schema_profile": (f12_json_schema_profile, F12_SQL),
    "j01_equi_join": (j01_equi_join, J01_SQL),
    "j02_global_stats_z": (j02_global_stats_z, J02_SQL),
    "j05_anti_join": (j05_anti_join, J05_SQL),
    "j14_pit_lookup": (j14_pit_lookup, J14_SQL),
    "m22_duplicated_spans": (m22_duplicated_spans, M22_SQL),
    "mm02_resize_plan": (mm02_resize_plan, MM02_SQL),
    "mm05_patch_plan": (mm05_patch_plan, MM05_SQL),
    "opt02_zorder_skip_estimate": (opt02_zorder_skip_estimate, OPT02_SQL),
    "opt03_compaction_plan": (opt03_compaction_plan, OPT03_SQL),
    "pipe03_vlm_manifest": (pipe03_vlm_manifest, PIPE03_SQL),
    "pipe04_streaming_corpus": (pipe04_streaming_corpus, PIPE04_SQL),
    "pipe05_rag_ingest": (pipe05_rag_ingest, PIPE05_SQL),
    "s07_processes": (s07_processes, S07_SQL),
    "s12_schema_evolution": (s12_schema_evolution, S12_SQL),
    "sim05_embedding_dedup_groups": (sim05_embedding_dedup_groups, SIM05_SQL),
    "sim06_quantized_gemm_topk": (sim06_quantized_gemm_topk, SIM06_SQL),
    "st20_streaming_pit_enrich": (st20_streaming_pit_enrich, ST20_SQL),
    "t19_char_entropy": (t19_char_entropy, T19_SQL),
    "t21_heaps_fit": (t21_heaps_fit, T21_SQL),
    "w02_value_resets": (w02_value_resets, W02_SQL),
    "w03_lag_regressions": (w03_lag_regressions, W03_SQL),
    "w06_burst_windows": (w06_burst_windows, W06_SQL),
    "w09_relative_timeline": (w09_relative_timeline, W09_SQL),
    # ---- latest driver row: r12 ----
    "opt04_compaction_apply": (opt04_compaction_apply, OPT04_SQL),
    "opt05_zorder_apply": (opt05_zorder_apply, OPT05_SQL),
    "t22_encoding_anomalies": (t22_encoding_anomalies, T22_SQL),
    "st23_streaming_encoding_gate": (
        st23_streaming_encoding_gate, ST23_SQL,
    ),
    "a37_skew_report": (a37_skew_report, A37_SQL),
    "j03_lookback_join": (j03_lookback_join, J03_SQL),
    "j06_lookup_fallback": (j06_lookup_fallback, J06_SQL),
    "l02_metric_extraction": (l02_metric_extraction, L02_SQL),
    "m01_dedup_exact": (m01_dedup_exact, M01_SQL),
    "m04_simhash_near_dups": (m04_simhash_near_dups, M04_SQL),
    "m07_similarity_eval": (m07_similarity_eval, M07_SQL),
    "q01_pricing_summary": (q01_pricing_summary, Q01_SQL),
    "s04_preprocessed_load": (s04_preprocessed_load, S04_SQL),
    "s09_adhoc_sql": (s09_adhoc_sql, S09_QUERY),
    "sim01_bruteforce_topk": (sim01_bruteforce_topk, SIM01_SQL),
    "sim02_lsh_topk": (sim02_lsh_topk, SIM02_SQL),
    "sim03_embedding_near_dups": (sim03_embedding_near_dups, SIM03_SQL),
    "sim04_ivf_topk": (sim04_ivf_topk, SIM04_SQL),
    "st01_streaming_rollup": (st01_streaming_rollup, ST01_SQL),
    "st02_streaming_sessions": (st02_streaming_sessions, ST02_SQL),
    "st03_streaming_value_drops": (st03_streaming_value_drops, ST03_SQL),
    "a18_multi_rollup": (a18_multi_rollup, A18_SQL),
    "a19_stats_report_grouping_sets": (
        a19_stats_report_grouping_sets, A19_SQL,
    ),
    "a20_sliding_rollup": (a20_sliding_rollup, A20_SQL),
    "a21_session_funnel": (a21_session_funnel, A21_SQL),
    "a22_hll_distinct": (a22_hll_distinct, A22_SQL),
    "a23_cohort_retention": (a23_cohort_retention, A23_SQL),
    "a24_histogram_quantiles": (a24_histogram_quantiles, A24_SQL),
    "a25_transition_matrix": (a25_transition_matrix, A25_SQL),
    "a26_pivot_crosstab": (a26_pivot_crosstab, A26_SQL),
    "a27_diurnal_baseline": (a27_diurnal_baseline, A27_SQL),
    "a28_funnel_steps": (a28_funnel_steps, A28_SQL),
    "d12_robust_outliers": (d12_robust_outliers, D12_SQL),
    "d13_lag_correlation": (d13_lag_correlation, D13_SQL),
    "j07_asof_join": (j07_asof_join, J07_SQL),
    "j08_interval_join": (j08_interval_join, J08_SQL),
    "j09_interval_concurrency": (j09_interval_concurrency, J09_SQL),
    "j10_asof_forward": (j10_asof_forward, J10_SQL),
    "j11_asof_nearest": (j11_asof_nearest, J11_SQL),
    "m02_ngram_jaccard": (m02_ngram_jaccard, M02_SQL),
    "m05_hash_split": (m05_hash_split, M05_SQL),
    "m06_decontaminate": (m06_decontaminate, M06_SQL),
    "m08_dedup_components": (m08_dedup_components, M08_SQL),
    "m09_stratified_sample": (m09_stratified_sample, M09_SQL),
    "m10_group_sample": (m10_group_sample, M10_SQL),
    "m12_budget_select": (m12_budget_select, M12_SQL),
    "pack01_sequence_packing": (pack01_sequence_packing, PACK01_SQL),
}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: fn for name, (fn, _) in _REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for each query (omitted => rows-only check)."""
    return {name: sql for name, (_, sql) in _REGISTRY.items() if sql is not None}
