"""Parquet table loaders for the driver's synthetic testdata.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings — one parquet file per table under
``/root/testdata/sf{0.001,0.01,0.1}/``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..model.schemas import TESTDATA_TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Hot-table cache: (sf_dir, name) -> pinned DataFrame. Populated only by an
# explicit cache_tables() call (bench.py's warmup) and held for the life of
# the process; plain one-shot callers never pay for it. At cluster scale this is the standard
# "pin the hot set in storage memory" pattern — the cost model is one scan +
# one shuffle at warmup, amortized over every subsequent query.
_CACHE: dict[tuple[str, str], DataFrame] = {}


def _cache_get(spark: SparkSession, sf_dir: str, name: str) -> DataFrame | None:
    """Cache hit only when the pinned DataFrame belongs to the CALLER's
    session. A DataFrame is bound to the SparkSession that created it;
    handing one to a different (or stopped) session yields opaque JVM
    errors or silently runs on the wrong session's confs."""
    hit = _CACHE.get((sf_dir, name))
    if hit is not None and hit.sparkSession is spark:
        return hit
    return None


def _set_read_confs(spark: SparkSession) -> None:
    """Runtime-settable SQL confs that must hold for ANY caller-provided
    session (the verify driver passes a plain SparkSession that did not go
    through our session.py builder). nanosAsLong: TIMESTAMP(NANOS) parquet
    otherwise fails at read time with PARQUET_TYPE_ILLEGAL. NTZ inference
    off: naive TIMESTAMP(MICROS) parquet otherwise reads as TIMESTAMP_NTZ,
    which breaks epoch arithmetic and diverges from the oracle's naive
    (session-tz/UTC) interpretation."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")


def cache_tables(
    spark: SparkSession,
    sf_dir: str,
    names=TESTDATA_TABLES,
    partitions: int | None = None,
) -> None:
    """Pin tables in executor memory and re-balance them across the full
    core count. The raw parquet scan often yields few splits (one ~40 MB
    file -> 3 partitions), which would leave most cores idle in every
    downstream agg; ``repartition(partitions)`` fixes the parallelism once,
    at warmup, instead of per query."""
    for name in names:
        df = load_table(spark, sf_dir, name)
        if partitions:
            df = df.repartition(partitions)
        df = df.cache()
        df.count()  # materialize now so queries never pay the fill cost
        _CACHE[(sf_dir, name)] = df
    if all(n in names for n in ("customer", "nation", "region")):
        geo = load_customer_geo(spark, sf_dir).cache()
        geo.count()
        _CACHE[(sf_dir, "__customer_geo")] = geo


def load_customer_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized denormalized dimension: customer ⋈ nation ⋈ region →
    (c_custkey, n_name, r_name). Standard star-schema practice — the
    snowflaked geo dims are collapsed once so every downstream star join
    builds ONE small broadcast relation instead of three. ``cache_tables``
    pins it with the hot set; one-shot callers compute it inline (two
    broadcast joins over tiny dims — still cheap)."""
    hit = _cache_get(spark, sf_dir, "__customer_geo")
    if hit is not None:
        return hit
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        cust.join(
            F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
        )
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("c_custkey", "n_name", "r_name")
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table. Parquet scan => columnar pruning +
    predicate pushdown for free; never infer/convert on the driver.

    ``events.ts`` has been stored as parquet TIMESTAMP(NANOS) (surfaces as
    a long under ``nanosAsLong``; converted via integer div — no double
    rounding) or naive TIMESTAMP(MICROS) (read as a session-tz timestamp
    with NTZ inference off — UTC session matches the DuckDB oracle's naive
    reading).
    """
    hit = _cache_get(spark, sf_dir, name)
    if hit is not None:
        return hit
    _set_read_confs(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def events_time_slice(spark: SparkSession, sf_dir: str, lo, hi) -> DataFrame:
    """Events scan with the time-range predicate pushed to the parquet
    row-group level (F1's 100 TB path).

    ``load_table`` converts the raw TIMESTAMP(NANOS) long to a microsecond
    timestamp FIRST, so a later ``ts BETWEEN lo AND hi`` is a predicate on
    an *expression* of the scan column and never reaches ``PushedFilters``
    — the scan reads every row group. The conversion is strictly monotonic,
    so the exact same slice can be taken on the raw long with the nanos
    image of the bounds; parquet min/max stats then skip every row group
    outside the window before decoding a single page. ``ts div 1000``
    floors, hence lo maps to ``lo_us*1000`` and hi to ``hi_us*1000 + 999``.

    Falls back to a plain (in-memory) filter when the hot-table cache is
    pinned — a cached scan has no row groups to skip.
    """
    lo_t = F.lit(lo).cast("timestamp")
    hi_t = F.lit(hi).cast("timestamp")
    hit = _cache_get(spark, sf_dir, name := "events")
    if hit is not None:
        return hit.filter(F.col("ts").between(lo_t, hi_t))
    _set_read_confs(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if dict(df.dtypes).get("ts") == "bigint":
        # unix_micros(lit) is foldable: ConstantFolding reduces both bounds
        # to long literals, so the BETWEEN lands in PushedFilters.
        df = df.filter(
            F.col("ts").between(
                F.unix_micros(lo_t) * 1000, F.unix_micros(hi_t) * 1000 + 999
            )
        ).withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        df = df.filter(F.col("ts").between(lo_t, hi_t))
    return df


def load_tables(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, names=TESTDATA_TABLES
) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_views(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, names=TESTDATA_TABLES
) -> dict[str, DataFrame]:
    """Register each table as a temp view for the spark.sql entry point
    (reference's ad-hoc SQL surface, SURVEY §2.1 S9)."""
    dfs = load_tables(spark, sf_dir, names)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
