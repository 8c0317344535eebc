"""Structured Streaming forms of the engine's windowed operators.

The reference has NO streaming surface (SURVEY §2.12: rollups are one-shot
CTAS, reference tools/storage.py:338-352, re-run per window size). This
module is the §7.1 step-9 extension: the SAME aggregate expressions the
batch operators use (A5 windowed rollup, W5 sessionization, W1 value
drops), re-expressed incrementally so a live log feed maintains
the tables continuously instead of re-scanning history.

Design notes for scale:
- File-source streams require an explicit schema (no inference race); we
  take it from one batch footer read of the same parquet.
- Watermarks bound state: a window/session closes once the watermark
  passes its end, so state size is O(open windows), not O(history).
- The rollup's p95 uses ``percentile_approx`` — a mergeable sketch that
  composes under incremental aggregation; exact percentile would need the
  whole group resident (the batch operator offers both, oracle uses exact).
- The custom stateful operator (W1 streaming form) uses
  ``applyInPandasWithState``: per-key state is one scalar (last non-null
  value), Arrow-batched, so state volume is O(distinct keys).
"""

from __future__ import annotations

import os
from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.aggregates import davg


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over ``events.parquet`` in ``sf_dir``.

    A production deployment points this at a landing directory that
    ingest appends parquet files into.
    """
    return read_table_stream(spark, sf_dir, "events")


def read_table_stream(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """File-source stream over any testdata table's parquet — the
    landing-directory model: ingest appends files, the stream picks them
    up. Schema comes from one batch footer read (no inference race);
    under nanosAsLong a TIMESTAMP(NANOS) ``ts`` arrives as bigint, so
    the stream declares that raw type and applies the same conversion
    load_table does."""
    from ..sources.tables import _set_read_confs

    _set_read_confs(spark)
    raw = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    df = (
        spark.readStream.schema(raw.schema)
        .option("pathGlobFilter", f"{name}.parquet")
        .parquet(sf_dir)
    )
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def streaming_exact_dedup(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """m01's streaming form: running exact-duplicate groups over a
    document feed — the ingest-time dedup a training pipeline runs so
    downstream stages never see a copy twice.

    State is one row per DISTINCT content (32-byte hash key, min id,
    counter), not per document seen — the shuffle and the state store
    carry hashes, never text. Use ``outputMode("update")`` into an
    upsert sink in production (only changed groups re-emit per trigger);
    the test harness drains with ``complete`` for a deterministic final
    table."""
    from ..operators.dedup import normalize_text

    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.sha2(normalize_text(text_col), 256).alias("content_hash"),
        )
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


def streaming_rollup(
    events: DataFrame,
    window_seconds: int,
    keys: list[str],
    value_col: str,
    ts_col: str = "ts",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """A5's streaming form: tumbling window + watermark.

    Same aggregate list as ``aggregates.windowed_rollup`` with the p95
    switched to the mergeable sketch (see module docstring). Emit with
    ``outputMode("append")``: a row is final once the watermark passes
    its window end — the incremental equivalent of the reference's
    re-CTAS, without rescanning history.
    """
    return (
        events.withWatermark(ts_col, watermark_delay)
        .groupBy(
            F.window(F.col(ts_col), f"{window_seconds} seconds"), *keys
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            davg(value_col).alias("avg_value"),
            F.max(value_col).alias("max_value"),
            F.round(F.percentile_approx(value_col, 0.95), 4).alias(
                "p95_value"
            ),
        )
        .select(
            F.unix_timestamp(F.col("window.start")).alias("window_start"),
            *keys,
            "n",
            "avg_value",
            "max_value",
            "p95_value",
        )
    )


def streaming_sliding_rollup(
    events: DataFrame,
    window_seconds: int,
    slide_seconds: int,
    keys: list[str],
    value_col: str,
    ts_col: str = "ts",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """A20's streaming form — the SAME F.window(slideDuration) expression
    as aggregates.sliding_windowed_rollup, plus a watermark. Each row
    joins its window/slide overlapping windows; in append mode a sliding
    window [w, w+window) is final once the watermark passes w+window, so
    the rollup refreshes every ``slide_seconds`` without rescanning
    history (the incremental form of the reference's re-CTAS)."""
    return (
        events.withWatermark(ts_col, watermark_delay)
        .groupBy(
            F.window(
                F.col(ts_col),
                f"{window_seconds} seconds",
                f"{slide_seconds} seconds",
            ),
            *keys,
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            davg(value_col).alias("avg_value"),
            F.max(value_col).alias("max_value"),
        )
        .select(
            F.unix_timestamp(F.col("window.start")).alias("window_start"),
            *keys,
            "n",
            "avg_value",
            "max_value",
        )
    )


def streaming_sessions(
    events: DataFrame,
    gap_seconds: int,
    keys: list[str],
    ts_col: str = "ts",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """W5's streaming form: ``session_window`` merges events whose gap is
    < ``gap_seconds``; the watermark closes a session once no event can
    extend it. Matches ``windows.sessionize`` + ``session_summary``
    output columns (session identity is (start,end) bounds, not the
    batch 0-based ordinal, which is meaningless on an endless stream).
    """
    return (
        events.withWatermark(ts_col, watermark_delay)
        .groupBy(
            F.session_window(F.col(ts_col), f"{gap_seconds} seconds"), *keys
        )
        .agg(
            F.unix_micros(F.min(ts_col)).alias("start_ts_us"),
            F.unix_micros(F.max(ts_col)).alias("end_ts_us"),
            F.round(
                F.max(F.col(ts_col)).cast("double")
                - F.min(F.col(ts_col)).cast("double"),
                6,
            ).alias("duration_s"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(*keys, "start_ts_us", "end_ts_us", "duration_s", "n_events")
    )


# ---------------------------------------------------------------------------
# W1 streaming form — custom stateful operator via applyInPandasWithState
# ---------------------------------------------------------------------------

_DROPS_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("ts_us", T.LongType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("prev_value", T.DoubleType()),
        T.StructField("drop_amount", T.DoubleType()),
    ]
)

_DROPS_STATE_SCHEMA = T.StructType(
    [T.StructField("last_value", T.DoubleType())]
)


def _drops_fn(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
):
    """Carry the last non-null value per key across micro-batches; emit
    rows whose value is below it (W1 semantics, reference
    global_scanner.py:273-323). Rows are ordered (ts, event_id) within
    the batch — correct as long as ingest delivers a key's events to the
    stream in order (partition-local ordering, the same contract the
    batch operator's ``partition_by`` path relies on)."""
    last = state.get[0] if state.exists else None
    pdf = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
    out_rows = []
    for _, row in pdf.iterrows():
        v = row["value"]
        if pd.isna(v):
            continue
        v = float(v)
        if last is not None and v < last:
            out_rows.append(
                (
                    int(row["user_id"]),
                    int(row["event_id"]),
                    int(row["ts"].value // 1000),
                    v,
                    last,
                    last - v,
                )
            )
        last = v
    if last is not None:
        state.update((last,))
    yield pd.DataFrame(out_rows, columns=[f.name for f in _DROPS_SCHEMA])


def streaming_value_drops(
    events: DataFrame, key: str = "user_id"
) -> DataFrame:
    """W1's streaming form as a custom stateful operator: per-key last
    non-null value survives across micro-batches in GroupState, so a drop
    spanning two batches is still caught. State is one double per key —
    O(distinct keys), the minimum possible for this semantics."""
    return (
        events.select("user_id", "event_id", "ts", "value")
        .groupBy(key)
        .applyInPandasWithState(
            _drops_fn,
            outputStructType=_DROPS_SCHEMA,
            stateStructType=_DROPS_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# W11 streaming form — per-key EWMA via applyInPandasWithState
# ---------------------------------------------------------------------------

_EWMA_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("ewma", T.DoubleType()),
    ]
)

_EWMA_STATE_SCHEMA = T.StructType([T.StructField("s", T.DoubleType())])


def _ewma_fn_factory(alpha: float):
    def fn(key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState):
        """Recursive smoother s = (1-a)*s + a*x carried across
        micro-batches; the fold is float-op-identical to pandas
        ``ewm(alpha, adjust=False)`` (the batch w11 path), so a stream
        drained in order reproduces the batch output bit-for-bit. State
        is ONE double per key — the minimum for this semantics."""
        s = state.get[0] if state.exists else None
        pdf = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        out = []
        for _, row in pdf.iterrows():
            v = row["value"]
            if pd.isna(v):
                continue
            v = float(v)
            s = v if s is None else (1.0 - alpha) * s + alpha * v
            out.append((int(row["user_id"]), int(row["event_id"]), s))
        if s is not None:
            state.update((s,))
        yield pd.DataFrame(out, columns=[f.name for f in _EWMA_SCHEMA])

    return fn


def streaming_ewma(
    events: DataFrame, alpha: float = 0.3, key: str = "user_id"
) -> DataFrame:
    """W11's streaming form: per-key exponentially weighted moving
    average as a custom stateful operator. The smoothed value survives
    micro-batch boundaries in GroupState, so the recursive fold continues
    seamlessly across batches — the per-key scalar-state shape
    (`streaming_value_drops`) applied to an analytic the reference only
    documents."""
    return (
        events.select("user_id", "event_id", "ts", "value")
        .groupBy(key)
        .applyInPandasWithState(
            _ewma_fn_factory(alpha),
            outputStructType=_EWMA_SCHEMA,
            stateStructType=_EWMA_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_hll_registers(
    events: DataFrame,
    window_seconds: int,
    key_col: str,
    p: int = 12,
    ts_col: str = "ts",
    watermark_delay: str = "0 seconds",
    salt: int = 0,
) -> DataFrame:
    """a22's streaming form: per-tumbling-window HyperLogLog registers.

    Distinct-count-per-window is the query streaming can't do exactly
    without keeping every key in state; the HLL register IS the
    mergeable state — at most ``2^p`` (bucket -> max rho) integers per
    window, whatever the key cardinality. One stateful aggregation
    (max per (window, bucket)); append mode emits a window's registers
    once the watermark closes it. Finish the drained rows with
    ``sketches.hll_finish(regs, p, ["window_start"])`` — plain batch
    math, identical to the batch operator's, so the streaming estimate
    is bit-identical to running a22 over the same closed windows.
    """
    from db_loganalyzer_spark.operators.sketches import hll_rank

    pair = hll_rank(key_col, p, salt)
    return (
        events.withWatermark(ts_col, watermark_delay)
        .filter(F.col(key_col).isNotNull())
        .select(
            F.col(ts_col),
            pair.getField("bucket").alias("bucket"),
            pair.getField("rho").alias("rho"),
        )
        .groupBy(
            F.window(F.col(ts_col), f"{window_seconds} seconds"), "bucket"
        )
        .agg(F.max("rho").alias("rho"))
        .select(
            F.unix_timestamp(F.col("window.start")).alias("window_start"),
            "bucket",
            "rho",
        )
    )


def streaming_windowed_counts(
    events: DataFrame,
    window_seconds: int,
    key_col: str,
    ts_col: str = "ts",
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Per-tumbling-window key counts, append mode — the streaming half
    of windowed top-k (trending keys per hour): the rank itself is not
    streamable in append mode (a window's ranking is only final at
    close), so rank the DRAINED closed-window rows batch-side.
    State is one counter per (window, key)."""
    return (
        events.withWatermark(ts_col, watermark_delay)
        .groupBy(
            F.window(F.col(ts_col), f"{window_seconds} seconds"),
            F.col(key_col),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(
            F.unix_timestamp(F.col("window.start")).alias("window_start"),
            key_col,
            "n",
        )
    )


# ---------------------------------------------------------------------------
# Sinks
# ---------------------------------------------------------------------------


def run_available_now(
    df: DataFrame,
    name: str,
    checkpoint_dir: str,
    output_mode: str = "append",
) -> DataFrame:
    """Drain everything currently available through the streaming plan
    (micro-batched), block until done, and return the result as a
    DataFrame (memory sink). This is the test/backfill harness; live
    deployments start a checkpointed ``writeStream`` sink instead."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", os.path.join(checkpoint_dir, name))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return df.sparkSession.table(name)


_GAPFILL_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("bucket", T.LongType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("is_gap", T.BooleanType()),
    ]
)

_GAPFILL_EMPTY = pd.DataFrame(
    {f.name: [] for f in _GAPFILL_SCHEMA}
)

# ---------------------------------------------------------------------------
# _bucketed: key-bucketed state for the per-row stateful forms (st09-st11).
#
# applyInPandasWithState pays a PER-GROUP constant every micro-batch (one
# Arrow round-trip + one Python function call + one state get/update), so
# grouping by the raw key makes that constant the whole cost: the key-per-
# group folds sustained ~10k rows/s on 1M rows while their numpy folds
# took milliseconds (bench_data/stream_r8.jsonl). These operators group by
# pmod(hash(key), _STATE_GROUPS) instead: each state group holds one
# PACKED set of arrays (keys sorted ascending + one array per carried
# scalar), and the fold is one vectorized pass SEGMENTED by key — numpy
# boundary masks and pandas groupby cummin, no per-row Python.
#
# Per-key semantics hold exactly: rows are sorted (key, ts, event_id)
# inside the group, and every per-key recurrence reads only that key's
# carried scalars (np.searchsorted lookup into the sorted state keys), so
# a drained stream equals the batch operator (pinned in
# tests/test_streaming.py and the oracle gate).
#
# _STATE_GROUPS is a module constant, not a parameter and not derived
# from the session: the key -> state-group map is part of the checkpointed
# state, and a restarted query must find each key's carried scalars in
# the group that wrote them. 32 bounds the groups (and the constants paid
# per micro-batch) at a few times a small cluster's cores; it does not
# grow with key count, and state per group is O(keys/32) scalars.
# ---------------------------------------------------------------------------

_STATE_GROUPS = 32


def _require_int_key(df: DataFrame, key: str, fn_name: str) -> None:
    """The stateful operators pack keys as int64 numpy arrays (and the
    key-bucketed ones as ArrayType(LongType) state), so a non-integral
    key column would only fail deep inside an executor with an opaque
    Arrow cast error. Validate on the driver instead, where the schema
    is known. Null keys are likewise unsupported (they would NaN-poison
    the packed arrays) — a data contract documented per-function, not
    checkable from the schema alone."""
    field = df.schema[key]
    if not isinstance(
        field.dataType, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    ):
        raise TypeError(
            f"{fn_name}: key column {key!r} must be an integral type "
            f"(state is packed as int64), got {field.dataType.simpleString()}"
        )


def _bucketed_state(
    events: DataFrame, key: str, fn_name: str, fn, out_schema, state_schema
) -> DataFrame:
    """Run the fold ``fn`` over ``events``' (key, event_id, ts, value)
    rows grouped into ``_STATE_GROUPS`` key buckets."""
    cols = events.select(key, "event_id", "ts", "value")
    _require_int_key(cols, key, fn_name)
    return (
        cols.withColumn("__kb", F.pmod(F.hash(F.col(key)), F.lit(_STATE_GROUPS)))
        .groupBy("__kb")
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


_GAPFILL_STATE_SCHEMA = T.StructType(
    [
        T.StructField("keys", T.ArrayType(T.LongType())),
        T.StructField("last_buckets", T.ArrayType(T.LongType())),
        T.StructField("last_values", T.ArrayType(T.DoubleType())),
    ]
)


def _sorted_lookup(sk, probe, *vals, defaults):
    """Carried-state lookup: for each key in ``probe``, the matching
    entry of each array in ``vals`` (state keys ``sk`` sorted asc), or
    the corresponding default where absent. Returns (found_mask, *out)."""
    import numpy as np

    if len(sk) == 0:
        has = np.zeros(len(probe), dtype=bool)
        return (has,) + tuple(
            np.full(len(probe), d, dtype=v.dtype) for v, d in zip(vals, defaults)
        )
    pos = np.clip(np.searchsorted(sk, probe), 0, len(sk) - 1)
    has = sk[pos] == probe
    return (has,) + tuple(
        np.where(has, v[pos], d) for v, d in zip(vals, defaults)
    )


def _merge_state(sk, old_vals, nk, new_vals):
    """Merge per-key scalars: batch keys ``nk`` (sorted, unique)
    overwrite, carried keys absent from the batch persist. Returns
    (all_keys, *merged) with all_keys sorted — the packed-state
    invariant ``_sorted_lookup`` depends on."""
    import numpy as np

    allk = np.union1d(sk, nk)
    out = []
    for ov, nv in zip(old_vals, new_vals):
        m = np.zeros(len(allk), dtype=nv.dtype)
        if len(sk):
            m[np.searchsorted(allk, sk)] = ov
        m[np.searchsorted(allk, nk)] = nv
        out.append(m)
    return (allk,) + tuple(out)


def _packed_state(state: GroupState, *dtypes):
    """A key bucket's carried state: its sorted int64 keys, then one
    array per carried scalar (``dtypes``); empty before its first batch."""
    import numpy as np

    got = state.get if state.exists else [[]] * (len(dtypes) + 1)
    return tuple(
        np.asarray(a, dtype=d) for a, d in zip(got, (np.int64,) + dtypes)
    )


def _valued_rows(pdfs: Iterable[pd.DataFrame], key_col: str) -> pd.DataFrame:
    """A key bucket's micro-batch rows, NULL/NaN values dropped, sorted
    (key, ts, event_id). One chunk is the common case: skip the concat."""
    chunks = list(pdfs)
    pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks)
    pdf = pdf[pdf["value"].notna()]
    return pdf.sort_values([key_col, "ts", "event_id"], kind="mergesort")


def _make_gapfill_bucket_fn(bucket_seconds: int, key_col: str):
    def fn(key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState):
        """st09's fold over a key bucket: the per-key recurrence
        (open-bucket LOCF, late rows below the frontier dropped), run
        segmented over every key in the bucket in one vectorized pass.
        The carried frontier row of each present key is injected as a
        synthetic row sorted before its batch rows. Within a key, the
        (ts, event_id) sort makes bucket ids non-decreasing, the LAST
        row of each bucket run wins, and every consecutive unique-bucket
        pair (u_i, u_{i+1}) emits (u_{i+1}-u_i)/bs rows: the real u_i
        row plus its holes."""
        import numpy as np

        bs = bucket_seconds
        sk, sb, sv = _packed_state(state, np.int64, np.float64)
        pdf = _valued_rows(pdfs, key_col)
        if len(pdf) == 0:
            yield _GAPFILL_EMPTY
            return
        uid = pdf[key_col].to_numpy(dtype=np.int64)
        # normalize to us first — Arrow may deliver ns- OR us-resolution
        # pandas timestamps depending on pyarrow/pandas versions, and a
        # raw int64 view of a us series would shift buckets by 1000x
        ts_us = pdf["ts"].to_numpy().astype("datetime64[us]").astype("int64")
        b = (ts_us // (bs * 1_000_000)) * bs
        v = pdf["value"].astype("float64").to_numpy()
        # late filter against each row's carried frontier (sentinel MIN
        # = no frontier, keeps everything)
        _, carry_b = _sorted_lookup(
            sk, uid, sb, defaults=[np.iinfo(np.int64).min]
        )
        keep = b >= carry_b
        uid, b, v = uid[keep], b[keep], v[keep]
        if len(uid) == 0:
            yield _GAPFILL_EMPTY
            return
        # inject each present key's carried (bucket, value) frontier row
        pres = np.unique(uid)
        hasp, cb, cv = _sorted_lookup(sk, pres, sb, sv, defaults=[0, 0.0])
        ck, cb, cv = pres[hasp], cb[hasp], cv[hasp]
        seq = np.concatenate(
            [np.full(len(ck), -1, np.int64), np.arange(len(uid), dtype=np.int64)]
        )
        uid = np.concatenate([ck, uid])
        b = np.concatenate([cb, b])
        v = np.concatenate([cv, v])
        order = np.lexsort((seq, uid))
        uid, b, v = uid[order], b[order], v[order]
        # per-(key, bucket) winner = last row of each run
        run_last = np.empty(len(uid), dtype=bool)
        run_last[-1] = True
        run_last[:-1] = (uid[1:] != uid[:-1]) | (b[1:] != b[:-1])
        ku, u, w = uid[run_last], b[run_last], v[run_last]
        # new frontier per batch key = its last unique bucket
        key_last = np.empty(len(ku), dtype=bool)
        key_last[-1] = True
        key_last[:-1] = ku[1:] != ku[:-1]
        allk, mb, mv = _merge_state(
            sk, (sb, sv), ku[key_last], (u[key_last], w[key_last])
        )
        state.update((allk.tolist(), mb.tolist(), mv.tolist()))
        # every consecutive same-key unique-bucket pair (u_i, u_{i+1})
        # closes bucket u_i: emit it plus its holes
        same = ku[1:] == ku[:-1]
        if not same.any():
            yield _GAPFILL_EMPTY
            return
        du = ((u[1:] - u[:-1]) // bs)[same]
        tot = int(du.sum())
        within = np.arange(tot) - np.repeat(np.cumsum(du) - du, du)
        yield pd.DataFrame(
            {
                "user_id": np.repeat(ku[:-1][same], du),
                "bucket": np.repeat(u[:-1][same], du) + within * bs,
                "value": np.repeat(w[:-1][same], du),
                "is_gap": within > 0,
            }
        )

    return fn


def streaming_gap_fill(
    events: DataFrame, bucket_seconds: int, key: str = "user_id"
) -> DataFrame:
    """w13's streaming form: per-key LOCF resampling as a custom
    stateful operator (applyInPandasWithState over key buckets, see the
    ``_bucketed`` note) — emits one row per bucket as soon as a later
    bucket is observed, holes filled with the carried value. State is
    the open (bucket, value) per key, two scalars whatever the volume:
    append mode cannot retract, so a bucket is emitted only once a later
    one arrives. Drained in-order, the output equals batch w13 minus
    each key's final (still-open) bucket row — exact equivalence pinned
    in tests and the oracle gate.

    Late-data policy (explicit, tested): a row whose bucket is below the
    key's open bucket is DROPPED — its row is already final, the same
    contract as the watermarked append-mode operators. In-order arrival
    per key (Kafka per-key partitions; time-ordered file landing) is the
    deployment assumption, as for st05's EWMA.
    """
    return _bucketed_state(
        events, key, "streaming_gap_fill",
        _make_gapfill_bucket_fn(bucket_seconds, key),
        _GAPFILL_SCHEMA, _GAPFILL_STATE_SCHEMA,
    )


_RATE_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("ts_us", T.LongType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("prev_value", T.DoubleType()),
        T.StructField("is_reset", T.BooleanType()),
        T.StructField("rate_per_s", T.DoubleType()),
    ]
)

_RATE_STATE_SCHEMA = T.StructType(
    [
        T.StructField("keys", T.ArrayType(T.LongType())),
        T.StructField("prev_ts", T.ArrayType(T.LongType())),
        T.StructField("prev_vs", T.ArrayType(T.DoubleType())),
    ]
)


def _make_rate_bucket_fn(key_col: str):
    def fn(key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState):
        """st10's fold over a key bucket, fully vectorized (a shift
        within each key segment, no row loop): each row's
        predecessor is the previous row of its key segment, seeded at
        segment starts from the carried (t, v); NaN prev marks
        'no predecessor' (values are NaN-filtered so a real prev is
        never NaN)."""
        import numpy as np

        sk, st_t, st_v = _packed_state(state, np.int64, np.float64)
        pdf = _valued_rows(pdfs, key_col)
        if len(pdf) == 0:
            return
        uid = pdf[key_col].to_numpy(dtype=np.int64)
        t = pdf["ts"].to_numpy().astype("datetime64[us]").astype("int64")
        v = pdf["value"].astype("float64").to_numpy()
        eid = pdf["event_id"].to_numpy(dtype=np.int64)
        n = len(uid)
        new_seg = np.empty(n, dtype=bool)
        new_seg[0] = True
        new_seg[1:] = uid[1:] != uid[:-1]
        seg_starts = np.flatnonzero(new_seg)
        seg_keys = uid[seg_starts]
        _, c_t, c_v = _sorted_lookup(
            sk, seg_keys, st_t, st_v, defaults=[0, np.nan]
        )
        prev_t = np.empty(n, dtype=np.int64)
        prev_v = np.empty(n, dtype=np.float64)
        prev_t[1:] = t[:-1]
        prev_v[1:] = v[:-1]
        prev_t[seg_starts] = c_t
        prev_v[seg_starts] = c_v
        has_prev = ~np.isnan(prev_v)
        reset = has_prev & (v < prev_v)
        inc = np.where(v >= prev_v, v - prev_v, v)
        dt_us = t - prev_t
        with np.errstate(invalid="ignore", divide="ignore"):
            rate = np.where(
                has_prev & (dt_us > 0), inc / (dt_us / 1_000_000.0), np.nan
            )
        seg_ends = np.append(seg_starts[1:] - 1, n - 1)
        allk, mt, mv = _merge_state(
            sk, (st_t, st_v), seg_keys, (t[seg_ends], v[seg_ends])
        )
        state.update((allk.tolist(), mt.tolist(), mv.tolist()))
        yield pd.DataFrame(
            {
                "user_id": uid,
                "event_id": eid,
                "ts_us": t,
                "value": v,
                "prev_value": prev_v,
                "is_reset": reset,
                "rate_per_s": rate,
            }
        )

    return fn


def streaming_counter_rates(events: DataFrame, key: str = "user_id") -> DataFrame:
    """w17's streaming form (timeseries.counter_rates): per-sample
    counter rate as a custom stateful operator over key buckets (see the
    ``_bucketed`` note) — state is the previous (t, v) per key, two
    scalars whatever the volume; each sample emits exactly once, and its
    rate depends only on its predecessor, so drained in-order the output
    equals the batch operator row-for-row (oracle-checked). Same reset /
    zero-dt / NaN rules as the batch path."""
    return _bucketed_state(
        events, key, "streaming_counter_rates",
        _make_rate_bucket_fn(key), _RATE_SCHEMA, _RATE_STATE_SCHEMA,
    )


_CUSUM_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("ts_us", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("cusum", T.DoubleType()),
        T.StructField("is_drift", T.BooleanType()),
    ]
)

_CUSUM_STATE_SCHEMA = T.StructType(
    [
        T.StructField("keys", T.ArrayType(T.LongType())),
        T.StructField("cs", T.ArrayType(T.LongType())),
        T.StructField("cmins", T.ArrayType(T.LongType())),
    ]
)


def _make_cusum_bucket_fn(ref_us: int, k_us: int, threshold: float, key_col: str):
    def fn(key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState):
        """st11's fold over a key bucket: the integer prefix-min closed
        form ``s_t = C_t - min(0, min_{j<=t} C_j)`` (C the running
        deviation sum), segmented by key — one global cumsum re-based at
        segment starts plus a per-segment running min (pandas groupby
        cummin, C-vectorized), seeded from the packed carried (C, Cmin)
        scalars."""
        import numpy as np

        sk, sc, sm = _packed_state(state, np.int64, np.int64)
        pdf = _valued_rows(pdfs, key_col)
        if len(pdf) == 0:
            return
        uid = pdf[key_col].to_numpy(dtype=np.int64)
        n = len(uid)
        vus = np.floor(pdf["value"].to_numpy() * 1e6 + 0.5).astype(np.int64)
        dev = vus - ref_us - k_us
        new_seg = np.empty(n, dtype=bool)
        new_seg[0] = True
        new_seg[1:] = uid[1:] != uid[:-1]
        seg_id = np.cumsum(new_seg) - 1
        seg_starts = np.flatnonzero(new_seg)
        seg_keys = uid[seg_starts]
        _, c0, m0 = _sorted_lookup(sk, seg_keys, sc, sm, defaults=[0, 0])
        gcs = np.cumsum(dev)
        base = (gcs - dev)[seg_starts]  # prefix sum BEFORE each segment
        c_arr = gcs - base[seg_id] + c0[seg_id]
        cmin_arr = np.minimum(
            pd.Series(c_arr).groupby(seg_id).cummin().to_numpy(), m0[seg_id]
        )
        s_arr = c_arr - np.minimum(0, cmin_arr)
        seg_ends = np.append(seg_starts[1:] - 1, n - 1)
        allk, mc, mm = _merge_state(
            sk, (sc, sm), seg_keys, (c_arr[seg_ends], cmin_arr[seg_ends])
        )
        state.update((allk.tolist(), mc.tolist(), mm.tolist()))
        cus = s_arr.astype(np.float64) / 1e6
        yield pd.DataFrame(
            {
                "user_id": uid,
                "ts_us": pdf["ts"]
                .to_numpy()
                .astype("datetime64[us]")
                .astype(np.int64),
                "event_id": pdf["event_id"].to_numpy(dtype=np.int64),
                "value": pdf["value"].to_numpy(dtype=np.float64),
                "cusum": cus,
                "is_drift": cus > threshold,
            }
        )

    return fn


def streaming_cusum(
    events: DataFrame,
    ref: float,
    threshold: float,
    key: str = "user_id",
    k: float = 0.0,
) -> DataFrame:
    """d14's streaming form (detectors.cusum_drift with ``ref=``): the
    sequential drift score maintained live per key with O(1) state —
    two BIGINT scalars however many samples have streamed, vs the
    batch form's full-history window. A monitoring deployment seeds
    ``ref`` from a batch baseline (a06/a27) and gets the same exact
    integer arithmetic the batch/oracle pair pins. State lives in key
    buckets (see the ``_bucketed`` note); every row emits exactly once,
    so the drained stream equals the batch operator row-for-row."""
    ref_us = int(round(ref * 1_000_000))
    kk_us = int(round(k * 1_000_000))
    return _bucketed_state(
        events, key, "streaming_cusum",
        _make_cusum_bucket_fn(ref_us, kk_us, threshold, key),
        _CUSUM_SCHEMA, _CUSUM_STATE_SCHEMA,
    )


def streaming_enrich(stream: DataFrame, dim: DataFrame, on: list[str]) -> DataFrame:
    """Stream-static dimension enrichment — the stateless inner join
    every monitoring/ingest pipeline runs (attach baselines, lookup
    tables, model thresholds to a live feed).

    Spark's stream-static join keeps NO state: each micro-batch of the
    stream is joined against the batch ``dim`` plan, which is
    re-evaluated per trigger (a file-backed dim picks up updates
    between triggers for free). The dim is pinned to a broadcast so the
    STREAM side never shuffles — the right plan whenever the dim is a
    genuine dimension (bounded: baselines, type stats, config).
    """
    return stream.join(F.broadcast(dim), on=on)


def streaming_interval_join(
    left: DataFrame,
    right: DataFrame,
    equi_keys: list[tuple[str, str]],
    window_seconds: int,
    left_ts: str = "l_ts",
    right_ts: str = "r_ts",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Stream-STREAM inner join: right rows within ``window_seconds``
    AFTER each left row, equi-keyed — the live form of j08's interval
    join (error -> follow-up correlation as events arrive, not in a
    nightly batch).

    Both sides carry a watermark and the join condition bounds the
    time skew, which is what lets Spark garbage-collect buffered rows:
    state per key is O(input rate x (window + watermark delay)), not
    O(history). The join itself is an equi-shuffle on ``equi_keys``
    (both streams hash-partition to the same tasks; no broadcast, no
    cross product) with the range predicate applied post-match — the
    same shape the batch operator pins, made incremental. Matches emit
    as soon as both sides have arrived. PRECONDITION for exact batch
    equality under an availableNow drain: the drain must be a SINGLE
    micro-batch, or the landing files must arrive time-ordered within
    ``watermark_delay`` — across multiple micro-batches, rows older
    than the already-advanced watermark are dropped by design, so an
    out-of-order multi-file drain undercounts vs the batch join. (The
    registry entry reads one file = one batch; the bench lands
    time-ordered slices — both satisfy the precondition.)

    Column names must be DISTINCT across the two sides (alias before
    calling — the entry-level convention for every self-join in the
    repo); ``equi_keys`` is a list of (left_col, right_col) pairs and
    must be non-empty: with no equi key the join would shuffle every
    row of both streams to ONE comparison space (a time-range-only
    theta join), which is the unbounded-state shape this operator
    exists to avoid.
    """
    if not equi_keys:
        raise ValueError(
            "streaming_interval_join: equi_keys must be non-empty — a "
            "range-only join buffers both streams against every row"
        )
    lw = left.withWatermark(left_ts, watermark_delay)
    rw = right.withWatermark(right_ts, watermark_delay)
    on = None
    for lk, rk in equi_keys:
        c = F.col(lk) == F.col(rk)
        on = c if on is None else (on & c)
    rng = (F.col(right_ts) >= F.col(left_ts)) & (
        F.col(right_ts)
        <= F.col(left_ts) + F.expr(f"INTERVAL {int(window_seconds)} SECONDS")
    )
    on = rng if on is None else (on & rng)
    return lw.join(rw, on, "inner")


def streaming_neardup_probe(
    docs: DataFrame,
    index: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ST14 — ingest-time NEAR-dup detection: each arriving document is
    probed against a STANDING MinHash-LSH index of the already-ingested
    corpus (``operators.dedup.minhash_lsh_index``), emitting
    (new_id, corpus_id, jaccard) for estimated Jaccard >= threshold.
    The streaming twin of m15's batch-vs-corpus probe, minhashed — and
    the near-dup complement of st04's exact streaming dedup.

    COMPLETELY STATELESS by construction, which is what makes it a
    plain stream-static join Spark already knows how to run: the
    stream side computes signatures (pure column expressions), explodes
    its bands, and equi-joins the static index on (band, bucket); pair
    uniqueness — a pair colliding in several bands would otherwise emit
    once per band — is restored by the MINIMAL-MATCHING-BAND filter, a
    pure expression over the two carried signatures (keep the join row
    only where its band is the first band whose slices agree), instead
    of a stateful distinct. Verification is the signature-estimate
    (matching-minhash fraction, the m03e estimator): O(num_hashes) per
    collision, no shingle arrays, no state store.

    Scale notes (100 TB): the static index is corpus-sized — persist it
    (or store it bucketed by (band, bucket)) so each micro-batch pays
    only the batch-side shuffle; the join itself is hash-partitioned on
    (band, bucket), never a cross product. Measured dial (sf1, 20
    micro-batches): ``hold(index.repartition(N, "band", "bucket"))``
    removes the static side's per-trigger Exchange — 86.7 s -> 60.1 s
    for the same drain (1.44x); a bucketed table write is the durable
    form of the same layout. State is ZERO regardless of
    corpus size (the index lives in table storage, not the state
    store) — the unbounded-state concern st04 carries does not exist
    here. Mind the estimate-mode regime check documented on
    ``minhash_lsh_dedup``: pick threshold*num_hashes comfortably above
    num_hashes/bands, or re-verify emitted pairs exactly downstream.

    ``index`` must carry (id, signature, band, bucket) as built by
    ``minhash_lsh_index`` with the SAME (num_hashes, bands, n).
    """
    from ..operators.dedup import (
        _band_bucket_expr,
        _band_slice,
        minhash_signatures,
    )

    sigs = minhash_signatures(docs, num_hashes, n, id_col, text_col)
    probe = sigs.select(
        F.col("id").alias("new_id"),
        F.col("signature").alias("new_sig"),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    _band_bucket_expr(
                        _band_slice(F.col("signature"), b, bands)
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select(
        "new_id", "new_sig",
        F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"),
    )
    idx = index.select(
        F.col("id").alias("corpus_id"),
        F.col("signature").alias("corpus_sig"),
        "band", "bucket",
    )
    joined = probe.join(idx, ["band", "bucket"])
    # minimal-matching-band filter: this row survives only if its band
    # is the FIRST band where the two signatures' slices agree — every
    # colliding pair emits exactly once, with zero streaming state.
    # (Each join row's own band agrees, so the filtered array is never
    # empty.)
    first_match = F.array_min(
        F.filter(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda b: _band_bucket_expr(_band_slice(F.col("new_sig"), b, bands))
            == _band_bucket_expr(_band_slice(F.col("corpus_sig"), b, bands)),
        )
    )
    matches = F.size(
        F.filter(
            F.zip_with("new_sig", "corpus_sig", lambda x, y: x == y),
            lambda m: m,
        )
    )
    return (
        joined.filter(F.col("band") == first_match)
        .withColumn("jaccard", matches / F.size("new_sig"))
        .filter(F.col("jaccard") >= threshold)
        .select("new_id", "corpus_id", "jaccard")
    )


# W21 streaming form — stateful interval coalescing via
# applyInPandasWithState: state is the OPEN island per key.

_COALESCE_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("island_id", T.LongType()),
        T.StructField("window_start", T.LongType()),
        T.StructField("window_end", T.LongType()),
        T.StructField("n_intervals", T.LongType()),
    ]
)

_COALESCE_STATE_SCHEMA = T.StructType(
    [
        T.StructField("island_start", T.LongType()),
        T.StructField("island_end", T.LongType()),
        T.StructField("n_intervals", T.LongType()),
        T.StructField("next_island_id", T.LongType()),
    ]
)


def _make_coalesce_fn(half_open: bool = False):
    """Build w21's streaming fold for one merge convention: carry the
    open island (start, max end, count) + the next island id per key;
    an arriving interval either extends the open island (start <=
    island end closed / start < island end half-open — the batch
    operator's conventions) or CLOSES it, emitting exactly one row.
    Vectorized: one numpy cummax finds the island boundaries of the
    sorted batch; the python loop runs per ISLAND, not per row."""

    def _coalesce_fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ):
        import numpy as np

        uid = int(key[0])
        if state.exists:
            s0, e0, n0, nxt = state.get
        else:
            s0 = e0 = n0 = None
            nxt = 0
        pdf = pd.concat(list(pdfs)).sort_values(["start_us", "end_us"])
        if pdf.empty:
            # timeout/eviction tick with no data: nothing to fold, and
            # state.update(None fields) would corrupt the open island —
            # leave state exactly as it was
            return
        starts = pdf["start_us"].to_numpy(dtype="int64")
        ends = pdf["end_us"].to_numpy(dtype="int64")
        counts = np.ones(len(starts), dtype="int64")
        if s0 is not None:
            # the carried open island participates as a pseudo-interval
            # so an out-of-order-but-overlapping arrival still merges by
            # min(start); re-sort with it included
            starts = np.concatenate([[s0], starts])
            ends = np.concatenate([[e0], ends])
            counts = np.concatenate([[n0], counts])
            order = np.lexsort((ends, starts))
            starts, ends, counts = starts[order], ends[order], counts[order]
        cm = np.maximum.accumulate(ends)
        if half_open:
            breaks = np.flatnonzero(starts[1:] >= cm[:-1]) + 1
        else:
            breaks = np.flatnonzero(starts[1:] > cm[:-1]) + 1  # island starts
        bounds = np.concatenate([[0], breaks, [len(starts)]])
        rows = []
        for i in range(len(bounds) - 1):
            lo, hi = bounds[i], bounds[i + 1]
            # the island's OWN max end, not cm[hi-1]: the running max
            # can carry a PREVIOUS island's larger end across the break
            # when a degenerate interval has end < start (batch w21
            # emits the per-island MAX(end) — match it exactly)
            island = (
                uid,
                nxt,
                int(starts[lo]),
                int(ends[lo:hi].max()),
                int(counts[lo:hi].sum()),
            )
            if i < len(bounds) - 2:
                rows.append(island)  # closed: a later island superseded it
                nxt += 1
            else:
                s0, e0, n0 = island[2], island[3], island[4]  # stays open
        state.update((int(s0), int(e0), int(n0), int(nxt)))
        if rows:
            yield pd.DataFrame(
                rows,
                columns=[
                    "user_id", "island_id", "window_start", "window_end",
                    "n_intervals",
                ],
            )

    return _coalesce_fn


def streaming_interval_coalesce(
    intervals: DataFrame,
    key: str = "user_id",
    half_open: bool = False,
) -> DataFrame:
    """ST15 — w21's streaming form: merge each key's overlapping-or-
    touching [start_us, end_us] intervals into maximal covered windows,
    incrementally. State per key is FOUR BIGINT scalars — the open
    island's (start, max end, count) and the next island id — whatever
    the volume; an island emits exactly once, when a later disjoint
    interval closes it (append mode cannot retract). Drained in-order,
    the output equals batch ``windows.coalesce_intervals`` minus each
    key's final still-open island — the same open-frontier contract as
    st09, stated by the oracle (drop each key's last island).

    PRECONDITION for exact batch equality under a multi-batch drain:
    intervals must land start-ordered ACROSS micro-batches (within a
    batch they are sorted here) — an interval arriving entirely before
    the open island belongs to an island that already emitted and
    cannot merge into it (it is folded into the open island by
    min(start) only if it overlaps). The registry entry reads one file
    = one batch, satisfying it trivially.

    ``intervals`` must carry (key, start_us, end_us) with integer
    bounds; NULL-valued rows must be filtered upstream. Scale: the
    applyInPandasWithState per-GROUP Arrow constant dominates at many
    keys — the key-bucketed state of the ``_bucketed`` note applies
    unchanged if needed.

    ``half_open=True`` uses the [start, end) convention — adjacent
    intervals do not merge — matching batch
    ``coalesce_intervals(half_open=True)`` (property-test-pinned).
    """
    cols = intervals.select(key, "start_us", "end_us")
    _require_int_key(cols, key, "streaming_interval_coalesce")
    return cols.groupBy(key).applyInPandasWithState(
        _make_coalesce_fn(half_open),
        outputStructType=_COALESCE_SCHEMA,
        stateStructType=_COALESCE_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_winnowing_probe(
    docs: DataFrame,
    index: DataFrame,
    min_shared: int = 3,
    n: int = 2,
    w: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ST17 — ingest-time PARTIAL-overlap detection: each arriving
    document's winnowing fingerprints probe a STANDING corpus index
    (``operators.dedup.winnowing_index``), emitting
    (stream_id, corpus_id, n_shared) for pairs sharing at least
    ``min_shared`` fingerprints — quotation/boilerplate/plagiarism
    overlap st14's whole-document MinHash estimate is blind to (a
    short shared run barely moves Jaccard; winnowing GUARANTEES a
    shared fingerprint for any >= n+w-1-token run).

    COMPLETELY STATELESS, same construction as st14: the stream side
    computes its fingerprint array (pure column expressions,
    ``winnowing_fingerprint_arrays``), explodes it, and equi-joins the
    static index on the BIGINT fingerprint. Both sides carry their
    full fingerprint arrays, so the pair's shared set is per-row
    column math (``array_intersect``) — the threshold test AND the
    emit-once rule (keep only the row whose join fingerprint is the
    MINIMUM of the shared set; exactly one joined row satisfies it)
    need no state store and no watermark.

    Scale notes (100 TB): persist the index pre-partitioned by
    fingerprint (the st14 dial — bucketed table storage is the durable
    form) so each micro-batch pays only the batch-side shuffle. Hot
    boilerplate fingerprints quadratically inflate the join like any
    inverted index; the index is uncapped (m21's stop-fingerprint cap
    is a batch option of ``winnowing_overlap_pairs``), which keeps the
    oracle-paired entry exactly restatable.
    """
    from ..operators.dedup import winnowing_fingerprint_arrays

    carried = F.transform(
        "fps",
        lambda x: F.struct(x.alias("fingerprint"), F.col("fps").alias("fps")),
    )
    probe = (
        winnowing_fingerprint_arrays(docs, id_col, text_col, n, w)
        # carry the array INSIDE the generator output — the naive
        # select(fps, explode(fps)) re-inlines the hash chain (see
        # operators.dedup.winnowing_index for the measurement)
        .select(F.col(id_col).alias("stream_id"), F.explode(carried).alias("e"))
        .select("stream_id", "e.fingerprint", F.col("e.fps").alias("fps"))
    )
    j = probe.join(index, "fingerprint")
    shared = F.array_intersect(F.col("fps"), F.col("corpus_fps"))
    return (
        j.withColumn("shared", shared)
        .filter(
            (F.size("shared") >= min_shared)
            & (F.col("fingerprint") == F.array_min("shared"))
        )
        .select(
            "stream_id",
            "corpus_id",
            F.size("shared").cast("long").alias("n_shared"),
        )
    )


def streaming_rollup_maintenance(
    stream: DataFrame,
    window_seconds: int,
    keys: list[str],
    value_col: str,
    standing_dir: str,
    checkpoint_dir: str,
) -> list[str]:
    """ST22 — a38's LIVE form: incremental materialized-view
    maintenance as a stream. Each micro-batch reduces to its rollup
    partials (count / micro-unit sum / max per bucket — O(|batch|)),
    which MERGE into a standing partials table on disk; history is
    never rescanned. Because the partials monoid is associative and
    commutative (operators.aggregates.combine_rollup_partials), the
    drained standing table equals the full recompute no matter how the
    batches sliced the data — LATE rows need no watermark, they simply
    re-touch their (closed) bucket, which is the semantics a
    materialized view wants and an append-mode windowed aggregate
    cannot give. The reference re-ran CTAS over the whole table per
    refresh (tools/storage.py:328-352); at 100 TB this is the shape
    that deletes the rescan: per refresh the work is
    O(|delta| + standing buckets), and the standing table is
    bucket-level (days x keys), orders of magnitude smaller than the
    event stream.

    The standing table is VERSIONED (one subdirectory per micro-batch,
    parquet): each merge reads the newest COMPLETE version STRICTLY
    OLDER than its own batch id and writes v[batch_id]. Both halves of
    that sentence are load-bearing for replay idempotency: on
    foreachBatch replay after a crash, the current batch's own
    (possibly complete, possibly partial) v-dir is the newest on disk,
    and merging on top of it would double-count the delta — so the
    base filter is ``< v{batch_id}``, never "latest". "Complete" is
    the parquet job commit marker (_SUCCESS): a crashed write leaves
    no marker and is invisible to both the merge and the read path.
    Returns the version list; read the rollup with
    ``read_standing_rollup``.
    """
    spark = stream.sparkSession

    def _merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        merge_rollup_batch(
            spark, batch_df, batch_id, window_seconds, keys, value_col,
            standing_dir,
        )

    q = (
        stream.writeStream.foreachBatch(_merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return _complete_versions(standing_dir)


def _complete_versions(
    standing_dir: str, before_batch_id: int | None = None
) -> list[str]:
    """Committed (_SUCCESS-marked) standing-rollup versions, sorted;
    optionally only those strictly older than ``before_batch_id`` —
    the replay-safe merge base set."""
    if not os.path.isdir(standing_dir):
        return []
    out = []
    for d in sorted(os.listdir(standing_dir)):
        if not d.startswith("v"):
            continue
        if before_batch_id is not None and d >= f"v{before_batch_id:09d}":
            continue
        if os.path.isfile(os.path.join(standing_dir, d, "_SUCCESS")):
            out.append(d)
    return out


def merge_rollup_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    window_seconds: int,
    keys: list[str],
    value_col: str,
    standing_dir: str,
) -> None:
    """One ST22 merge step, callable outside the stream so replay can
    be exercised directly in tests: reduce the batch to partials and
    merge onto the newest complete version OLDER than this batch.
    Re-running the same (batch_df, batch_id) overwrites v{batch_id}
    with the identical merge — idempotent by construction."""
    from ..operators.aggregates import (
        combine_rollup_partials,
        rollup_partials,
    )

    cols = ["window_start", *keys, "n", "sum_micros", "max_value"]
    delta = rollup_partials(batch_df, window_seconds, keys, value_col)
    vs = _complete_versions(standing_dir, before_batch_id=batch_id)
    if vs:
        base = spark.read.parquet(os.path.join(standing_dir, vs[-1]))
        merged = combine_rollup_partials(
            base.select(cols).unionByName(delta.select(cols)), keys
        )
    else:
        merged = delta.select(cols)
    merged.write.mode("overwrite").parquet(
        os.path.join(standing_dir, f"v{batch_id:09d}")
    )


def read_standing_rollup(
    spark: SparkSession, standing_dir: str, keys: list[str]
) -> DataFrame:
    """Read-time projection over the latest COMPLETE standing-rollup
    version (same _SUCCESS filter as the merge base — a crashed
    partial write is invisible here too): derived avg comes out only
    here (aggregates.derive_rollup), the stored state stays mergeable
    partials."""
    from ..operators.aggregates import derive_rollup

    versions = _complete_versions(standing_dir)
    if not versions:
        raise ValueError(f"no standing rollup versions in {standing_dir}")
    return derive_rollup(
        spark.read.parquet(os.path.join(standing_dir, versions[-1])), keys
    )
