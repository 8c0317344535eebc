"""SparkSession builder tuned for this engine.

Local testing runs ``local[N]`` in one JVM; the configs below are chosen so
the same code scales to a real cluster: AQE for runtime re-planning and skew
joins, UTC session timezone (matches the DuckDB oracle and the reference's
UTC trace timestamps), Arrow for the few pandas-UDF paths.

Two defaults remove costs that a fresh session pays and that no result
depends on (measured on a 4-core host, one cold pass of ``perfbench``'s
``incident_rca`` and ``warehouse_load`` at seed 1):

- ``spark.sql.icu.caseMappings.enabled=false``: ``lower``/``upper`` use
  the JVM's case mapping, as Spark <= 3.5 always did. With ICU, the
  first ``lower`` in a process builds ICU's case tables
  (``CollationAwareUTF8String.<clinit>``) inside a single task: that
  job's task time falls from 2.06 to 0.28 s (``incident_rca``'s
  rollback summary) and from 2.39 to 0.37 s (``warehouse_load``'s
  ``event_metrics`` write). Trade-off: over every non-surrogate code
  point the two settings differ on 134, all case pairs that came with
  Unicode 14-16 (e.g. U+A7C0, U+10570-U+105BC), which now case-map by
  the JVM's Unicode tables; and a non-ASCII string is case-mapped in the
  JVM's default locale (ASCII strings take a locale-free path).
- ``spark.python.sql.dataFrameDebugging.enabled=false``: PySpark stops
  capturing the Python stack on every ``Column``/``functions`` call
  (four py4j round trips and a failed ``import ipykernel`` each; the
  first one also imports IPython). ``incident_rca``'s pass made 17,218
  py4j round trips with it and 6,998 without. Trade-off: a DataFrame
  error's query context loses the Python call site; the Python
  traceback is unchanged.

``spark.buffer.pageSize=2m`` sizes execution memory to the data. Every
hash aggregate, sort or window buffer in a task takes at least one page,
however few rows it holds, and Spark's default page for an 8 GB driver
on 4 cores is 64 MB: ``incident_rca``'s largest stage reserved 202.91 MB
to aggregate ~1,500 events, and ``warehouse_load``'s 67.37 MB was one
page. At 2 MB they reserve 16.86 and 2.36 MB, with each RCA phase one
action (9.52 MB at 1 MB pages, 31.54 at 4 MB). Trade-off: a task's page
table holds 8,192 pages, so at 2 MB one task can hold at most 16 GiB of
execution memory; past that Spark raises an error, it does not spill.
Spark's floor is 1 MB. The setting holds no row data of its own.

Cached storage has one rule: code that stores a frame for reuse takes
the storage through :func:`hold` (``persist``) or :func:`hold_checkpoint`
(``localCheckpoint``), and the innermost open :func:`held` scope of the
calling context, the frame's reader, releases it on exit. With no scope
open it stays until Spark's LRU evicts it. ``tables.cache_tables`` pins
tables for the process's lifetime outside this rule.
"""

from __future__ import annotations

import contextvars
import os
from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(
    app_name: str = "db_loganalyzer_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    ``shuffle_partitions`` defaults to the local core count — at cluster
    scale this should be ~2-3x the total executor cores instead; AQE's
    partition coalescing makes the initial value mostly a ceiling.
    """
    master = master or f"local[{DEFAULT_CPUS}]"
    n_shuffle = shuffle_partitions or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # larger cached-columnar batches amortize per-batch dispatch in
        # whole-stage codegen over cached tables (default 10k is conservative)
        .config("spark.sql.inMemoryColumnarStorage.batchSize", "65536")
        # the driver's events.parquet has stored ts as TIMESTAMP(NANOS)
        # (no native Spark type; read as long + convert in load_table) or
        # as naive TIMESTAMP(MICROS). For the latter, NTZ inference is
        # disabled so naive micros read as session-tz (UTC) timestamps —
        # same interpretation as the DuckDB oracle's naive timestamps.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.ui.enabled", "false")
        # see the module docstring for these three
        .config("spark.sql.icu.caseMappings.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.buffer.pageSize", "2m")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# the release callbacks of the innermost open held() scope of each context
_SCOPE: contextvars.ContextVar[list | None] = contextvars.ContextVar("held", default=None)


def _register(df: DataFrame, release) -> DataFrame:
    scope = _SCOPE.get()
    if scope is not None:
        scope.append(release)
    return df


def hold(df: DataFrame) -> DataFrame:
    """``df`` persisted until the enclosing :func:`held` scope exits;
    returned as is when it is streaming or already stored (the caller's)."""
    if df.isStreaming or df.storageLevel != StorageLevel.NONE:
        return df
    return _register(df.persist(), df.unpersist)


def hold_checkpoint(df: DataFrame) -> DataFrame:
    """``df.localCheckpoint(eager=True)``; :func:`held` frees its RDD, the
    returned frame's one ``LogicalRDD``."""
    df = df.localCheckpoint(eager=True)
    return _register(df, lambda: df._jdf.queryExecution().analyzed().rdd().unpersist(False))


@contextmanager
def held():
    """On exit, error included, release newest first what :func:`hold`
    and :func:`hold_checkpoint` took in this scope, not in a nested one."""
    scope: list = []
    token = _SCOPE.set(scope)
    try:
        yield
    finally:
        _SCOPE.reset(token)
        for release in reversed(scope):
            release()
