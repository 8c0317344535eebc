"""Window / sequence operators (SURVEY §2.5, W1-W10).

The reference walks Python lists ordered by ts; here each becomes a Spark
window function. Every operator takes ``partition_by`` — at test scale a
global order (no partitions) reproduces the reference exactly; at 100 TB
you partition by a natural stream key (machine/trace_file/user) so no
single task holds the whole ordering. When a truly global order is
unavoidable, use the ``*_stitched`` variants below: they range-shuffle on
the total order, run the window inside each range partition, and stitch
the partition boundaries with per-partition carry values (last non-null
value / running-sum prefix) collected driver-side — one tiny row per
partition, the same machinery as ``severity_first_ranking``'s rank. Output is bit-identical to the single-partition window.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import hold_checkpoint


class GlobalOrderWarning(UserWarning):
    """An operator was asked for a whole-frame (no partition key) window:
    Spark moves every row to ONE task for that window — fine for test-
    scale or already-bucket-level frames, a scale-killer on raw event
    volume. Pass ``partition_by`` with a natural stream key, or use the
    ``*_stitched`` variant for a distributed bit-identical global order.
    """


def _w(
    partition_by: list[str],
    ts_col: str,
    tiebreak: str | None,
    allow_global: bool = False,
):
    order = [F.col(ts_col)] + ([F.col(tiebreak)] if tiebreak else [])
    if not partition_by and allow_global:
        return Window.orderBy(*order)
    if not partition_by:
        # Loud by design (VERDICT r5 item 5): the silent empty default
        # was the one remaining way to build a single-partition sort
        # with this library. The warning names the escape hatches; it
        # does NOT fire for bucketed calls or the stitched forms.
        warnings.warn(
            "window over the whole frame (no partition_by): all rows "
            "will be sorted in a single task. Use partition_by=[...] "
            "with a stream key, or the *_stitched variant for a "
            "distributed global order.",
            GlobalOrderWarning,
            stacklevel=3,
        )
        return Window.orderBy(*order)
    return Window.orderBy(*order).partitionBy(*partition_by)


def value_drops(
    df: DataFrame,
    value_col: str,
    partition_by: list[str] | None = None,
    ts_col: str = "ts",
    tiebreak: str | None = "event_id",
    allow_global_order: bool = False,
) -> DataFrame:
    """W1 — compare each non-null value with the LAST NON-NULL previous
    value (not plain lag — nulls are skipped, matching the reference's
    per-column prev tracking); emit rows where the value dropped.

    reference: global_scanner.py:273-323
    """
    w = _w(partition_by or [], ts_col, tiebreak, allow_global_order).rowsBetween(
        Window.unboundedPreceding, -1
    )
    prev = F.last(F.col(value_col), ignorenulls=True).over(w)
    return (
        df.withColumn("prev_value", prev)
        .filter(
            F.col(value_col).isNotNull()
            & F.col("prev_value").isNotNull()
            & (F.col(value_col) < F.col("prev_value"))
        )
        .withColumn("drop_amount", F.col("prev_value") - F.col(value_col))
    )


def value_resets(
    df: DataFrame,
    value_col: str,
    high: float,
    low: float,
    partition_by: list[str] | None = None,
    ts_col: str = "ts",
    tiebreak: str | None = "event_id",
    allow_global_order: bool = False,
) -> DataFrame:
    """W2 — flag transitions prev > high AND current < low (version reset).

    reference: global_scanner.py:325-354
    """
    w = _w(partition_by or [], ts_col, tiebreak, allow_global_order).rowsBetween(
        Window.unboundedPreceding, -1
    )
    prev = F.last(F.col(value_col), ignorenulls=True).over(w)
    return (
        df.withColumn("prev_value", prev)
        .filter((F.col("prev_value") > high) & (F.col(value_col) < low))
    )


def lag_regressions(
    df: DataFrame,
    value_col: str,
    partition_by: list[str] | None = None,
    ts_col: str = "ts",
    tiebreak: str | None = "event_id",
    allow_global_order: bool = False,
) -> DataFrame:
    """W3 — plain-lag regression: current < immediately previous value.

    reference: global_scanner.py:356-385 (RecoveryVersion regressions)
    """
    w = _w(partition_by or [], ts_col, tiebreak, allow_global_order)
    prev = F.lag(F.col(value_col)).over(w)
    return (
        df.withColumn("prev_value", prev)
        .filter(F.col("prev_value").isNotNull() & (F.col(value_col) < F.col("prev_value")))
        .withColumn("drop_amount", F.col("prev_value") - F.col(value_col))
    )


def sessionize(
    df: DataFrame,
    gap_seconds: float,
    partition_by: list[str] | None = None,
    ts_col: str = "ts",
    tiebreak: str | None = "event_id",
    allow_global_order: bool = False,
) -> DataFrame:
    """W5 — gaps-and-islands sessionization: new session where the gap to
    the previous event exceeds ``gap_seconds``; adds ``session_id``
    (0-based per partition).

    reference: global_scanner.py:177-219 (recovery episodes, 60s gap).
    Streaming form: ``session_window(ts, gap)`` — see streaming module.
    """
    w = _w(partition_by or [], ts_col, tiebreak, allow_global_order)
    gap = F.col(ts_col).cast("double") - F.lag(F.col(ts_col)).over(w).cast("double")
    is_new = F.when(gap.isNull() | (gap > gap_seconds), 1).otherwise(0)
    return df.withColumn(
        "session_id",
        F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0)) - 1,
    )


def session_summary(
    sessions: DataFrame,
    partition_by: list[str] | None = None,
    ts_col: str = "ts",
    ordered: bool = True,
) -> DataFrame:
    """Per-session rollup: bounds, duration, event count."""
    keys = (partition_by or []) + ["session_id"]
    out = (
        sessions.groupBy(*keys)
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
    )
    return out.orderBy(*keys) if ordered else out


def session_funnel(
    sessions: DataFrame,
    first_step: str,
    second_step: str,
    type_col: str = "event_type",
    partition_by: list[str] | None = None,
    ts_col: str = "ts",
    tiebreak: str | None = "event_id",
) -> DataFrame:
    """Per-session two-step conversion funnel: did a ``second_step``
    event happen AFTER (or tied-at, by total order) a ``first_step``
    event inside the same session? One in-session running has-seen flag
    (window bounded to the session partition — never global) + one
    partial-agg shuffle. Input is ``sessionize`` output (``session_id``
    present). Emits per (keys, session_id): event/step counts, first-step
    time, conversion time, and seconds-to-convert.

    The classic product-analytics ask (view -> purchase), and the same
    shape as the reference's cause-then-recovery sequencing; no
    self-join of the event table with itself.
    """
    keys = list(partition_by or []) + ["session_id"]
    order = [F.col(ts_col)] + ([F.col(tiebreak)] if tiebreak else [])
    w = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    seen_first = F.max(
        F.when(F.col(type_col) == first_step, 1).otherwise(0)
    ).over(w)
    flagged = sessions.withColumn("__seen_first", seen_first)
    is_first = F.col(type_col) == first_step
    is_second = F.col(type_col) == second_step
    conv_ts = F.min(F.when(is_second & (F.col("__seen_first") == 1), F.col(ts_col)))
    first_ts = F.min(F.when(is_first, F.col(ts_col)))
    return flagged.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_if(is_first).alias("n_first"),
        F.count_if(is_second).alias("n_second"),
        F.unix_micros(first_ts).alias("first_step_us"),
        F.unix_micros(conv_ts).alias("converted_us"),
        conv_ts.isNotNull().alias("converted"),
        (
            (F.unix_micros(conv_ts) - F.unix_micros(first_ts)) / 1_000_000.0
        ).alias("seconds_to_convert"),
    )


def burst_windows(
    df: DataFrame,
    k: int,
    window_seconds: float,
    partition_by: list[str] | None = None,
    ts_col: str = "ts",
    tiebreak: str | None = "event_id",
) -> DataFrame:
    """W6 — rows i where t[i] - t[i-k+1] <= window (k events within the
    window, sliding over the sorted stream) — the recovery-loop shape.

    reference: detectors.py:176-203
    """
    w = _w(partition_by or [], ts_col, tiebreak)
    t_prev = F.lag(F.col(ts_col), k - 1).over(w)
    span = F.col(ts_col).cast("double") - F.col("__t_prev").cast("double")
    return (
        df.withColumn("__t_prev", t_prev)
        .withColumn("window_span_s", F.round(span, 6))
        .filter(F.col("__t_prev").isNotNull() & (span <= window_seconds))
        .drop("__t_prev")
    )


def marker_chunks(
    df: DataFrame,
    marker_predicate,
    partition_by: list[str] | None = None,
    ts_col: str = "ts",
    tiebreak: str | None = "event_id",
) -> DataFrame:
    """W8 — split the ordered stream into chunks that END at each marker
    row (marker belongs to the chunk it closes); adds ``chunk_id``.

    reference: tools/chunker.py:18-44
    """
    w = _w(partition_by or [], ts_col, tiebreak).rowsBetween(
        Window.unboundedPreceding, -1
    )
    marker = F.when(marker_predicate, 1).otherwise(0)
    return df.withColumn(
        "chunk_id", F.coalesce(F.sum(marker).over(w), F.lit(0))
    )


def relative_timeline(
    df: DataFrame,
    ts_col: str = "ts",
    anchor_df: DataFrame | None = None,
) -> DataFrame:
    """W9 — rel_s = ts - min(ts): attach the global start via a broadcast
    1-row cross join (not a whole-frame window — no single-partition sort).

    reference: tools/investigation_tools/timeline_builder.py:42-49
    """
    base = anchor_df if anchor_df is not None else df
    t0 = base.agg(F.min(ts_col).alias("__t0"))
    return (
        df.crossJoin(F.broadcast(t0))
        .withColumn(
            "rel_s",
            F.round(
                F.col(ts_col).cast("double") - F.col("__t0").cast("double"), 6
            ),
        )
        .drop("__t0")
    )


def severity_first_ranking(
    df: DataFrame,
    severity_col: str = "severity",
    ts_col: str = "ts",
    high: int = 40,
    tiebreak: str | None = "event_id",
) -> DataFrame:
    """W10 — display ordering: severity>=high first, then by time,
    materialized as a ``rank`` column (row_number over that total
    order), which makes the ordering itself checkable by an
    order-insensitive oracle.

    The rank is global WITHOUT a single-partition sort: range-shuffle on
    the total order, rank within each range partition, then shift by the
    (tiny, collected) per-partition row counts. Every stage is parallel;
    the only driver-side data is one row count per partition.

    reference: investigation_agent.py:612-631
    """
    key = F.when(F.col(severity_col) >= high, 0).otherwise(1)
    order = [key, F.col(ts_col)] + ([F.col(tiebreak)] if tiebreak else [])
    part = _range_sorted(df, order, None)
    (offsets,) = _prefix_carries(part, [F.count(F.lit(1))], lambda acc, n: acc + n, 0)
    w = Window.partitionBy("__pid").orderBy(*order)
    return part.withColumn(
        "rank", (F.row_number().over(w) + _pid_map(offsets, "long")).cast("long")
    ).drop("__pid")


# ---------------------------------------------------------------------------
# Stitched global-order variants (W1 and a running sum, no partition key).
#
# Shared recipe (also severity_first_ranking's rank): _range_sorted, then a
# per-range-partition window plus a boundary carry computed from a
# collected per-partition summary (one row per partition, _prefix_carries).
# Every stage is parallel; the driver only ever sees #partitions rows.
# stitched_prev skips the recipe when its input is planned as ONE partition
# (a scan over one partition is already the global window): one plain
# window, no range sample, shuffle, checkpoint or carry collect.
# ---------------------------------------------------------------------------


def planned_single_partition(df: DataFrame) -> bool:
    """Whether Spark plans ``df``'s output as exactly one partition (for
    example a ``coalesce(1)`` read), so a whole-frame window or sort over
    it needs no exchange. Reads the physical plan only: runs no job."""
    return df._jdf.queryExecution().sparkPlan().outputPartitioning().numPartitions() == 1


def _range_sorted(df: DataFrame, order: list, num_partitions: int | None) -> DataFrame:
    """``df`` range-partitioned and sorted on ``order``, with its range
    partition id as ``__pid``.

    The eager checkpoint pins ONE physical partitioning: the
    RangePartitioner samples with a seed derived from the per-execution
    RDD id, so without materialization the carry collect and every later
    execution of the returned DataFrame would each re-sample — different
    boundaries, misaligned carries, silently wrong results. Checkpointing
    makes the summarized partitioning the same one all consumers read."""
    part = (
        df.repartitionByRange(num_partitions, *order)
        if num_partitions
        else df.repartitionByRange(*order)
    )
    part = hold_checkpoint(part.sortWithinPartitions(*order))
    return part.withColumn("__pid", F.spark_partition_id())


def _prefix_carries(part: DataFrame, aggs: list, step, init) -> list[dict]:
    """Per aggregate in ``aggs`` (one value per range partition of a
    :func:`_range_sorted` frame), pid -> the fold by ``step`` from
    ``init`` over the values of all EARLIER partitions, in pid order. A
    pid whose fold is still None gets no entry. One collect of one row
    per partition serves every aggregate; a partition with no rows has
    nothing to carry into, so only the collected pids are folded."""
    rows = sorted(
        part.groupBy("__pid").agg(*[a.alias(f"__a{i}") for i, a in enumerate(aggs)]).collect(),
        key=lambda r: r["__pid"],
    )
    carries = []
    for i in range(len(aggs)):
        carry, acc = {}, init
        for r in rows:
            if acc is not None:
                carry[r["__pid"]] = acc
            acc = step(acc, r[f"__a{i}"])
        carries.append(carry)
    return carries


def _pid_map(pairs: dict[int, object], value_type: str):
    """A literal pid -> value lookup column (NULL for absent pids)."""
    if not pairs:
        return F.lit(None).cast(value_type)
    entries = [x for pid, v in pairs.items() for x in (F.lit(pid), F.lit(v).cast(value_type))]
    return F.element_at(F.create_map(*entries), F.col("__pid"))


def stitched_prev(
    df: DataFrame,
    value_cols: list[str],
    ts_col: str = "ts",
    tiebreak: str | None = "event_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """df + a global ``prev_<col>`` for each of ``value_cols`` (the last
    non-null value before each row). Over an input planned as one
    partition it is one plain window; otherwise it runs no
    single-partition window: one range sort and checkpoint, one carry
    collect and one window for all columns."""
    order = [F.col(ts_col)] + ([F.col(tiebreak)] if tiebreak else [])
    if planned_single_partition(df):
        w = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, -1)
        return df.withColumns(
            {f"prev_{c}": F.last(F.col(c), ignorenulls=True).over(w) for c in value_cols}
        )
    part = _range_sorted(df, order, num_partitions)
    types = dict(df.dtypes)

    def last(c):
        # the partition's last (by total order) non-null value
        return F.max(F.when(F.col(c).isNotNull(), F.struct(*order, F.col(c).alias("__v"))))

    carries = _prefix_carries(
        part,
        [last(c) for c in value_cols],
        lambda acc, s: acc if s is None else s["__v"],
        None,
    )
    local = Window.partitionBy("__pid").orderBy(*order).rowsBetween(
        Window.unboundedPreceding, -1
    )

    def prev(c, carry):
        local_prev = F.last(F.col(c), ignorenulls=True).over(local)
        return F.coalesce(local_prev, _pid_map(carry, types[c]))

    return part.withColumns(
        {f"prev_{c}": prev(c, carry) for c, carry in zip(value_cols, carries)}
    ).drop("__pid")


def value_drops_stitched(
    df: DataFrame,
    value_col: str,
    ts_col: str = "ts",
    tiebreak: str | None = "event_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """W1 over a truly global order, no single-partition window."""
    out = stitched_prev(df, [value_col], ts_col, tiebreak, num_partitions)
    out = out.withColumnRenamed(f"prev_{value_col}", "prev_value")
    return out.filter(
        F.col(value_col).isNotNull()
        & F.col("prev_value").isNotNull()
        & (F.col(value_col) < F.col("prev_value"))
    ).withColumn("drop_amount", F.col("prev_value") - F.col(value_col))


def running_sum_stitched(df: DataFrame, value_col: str, order_by: list[str]) -> DataFrame:
    """Global prefix sum over an arbitrary total order with NO
    single-partition window: range-shuffle on the order, per-partition
    cumsum, plus a carry equal to the summed totals of all earlier
    partitions (collected as one row per partition, prefix-folded on the
    driver, broadcast back as a literal pid map). Integer semantics —
    ``value_col`` is cast to long.

    The building block for sweep-line algorithms (interval concurrency,
    inventory levels, gauge reconstruction from deltas) where a join
    would materialize the quadratic pair set the sweep avoids.
    """
    order = [F.col(c) for c in order_by]
    part = _range_sorted(df, order, None)
    value = F.col(value_col).cast("long")
    (prefix,) = _prefix_carries(part, [F.sum(value)], lambda acc, t: acc + (t or 0), 0)
    w = (
        Window.partitionBy("__pid")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return part.withColumn(
        "running_sum",
        F.sum(value).over(w) + F.coalesce(_pid_map(prefix, "long"), F.lit(0)),
    ).drop("__pid")


def ewma(
    df: DataFrame,
    value_col: str,
    partition_by: list[str],
    alpha: float = 0.3,
    ts_col: str = "ts",
    tiebreak: str | None = "event_id",
    out_col: str = "ewma",
) -> DataFrame:
    """W11 — exponentially weighted moving average per key, the smoother
    the reference documents but never implemented (README.md:249,305 —
    only z-score exists in code; SURVEY §2.5 flags the gap).

    Recursive definition (pandas ``ewm(alpha, adjust=False)``):
    ``s_0 = x_0; s_t = (1-alpha)*s_{t-1} + alpha*x_t``.

    A recursive scan is not expressible with built-in window frames
    without O(n^2) work, so this is the documented Arrow-batched
    ``applyInPandas`` path: each key's series is one group, sorted
    in-group, smoothed sequentially. Scales by key-parallelism — at
    100 TB partition on (metric, machine) style keys so every group fits
    an executor; the sequential fold is inherently per-series.
    """
    import pandas as pd

    sort_cols = [ts_col] + ([tiebreak] if tiebreak else [])
    out_fields = df.schema.fields + [T.StructField(out_col, T.DoubleType())]
    schema = T.StructType(out_fields)

    def smooth(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(sort_cols, kind="mergesort")
        pdf[out_col] = pdf[value_col].ewm(alpha=alpha, adjust=False).mean()
        return pdf

    return df.groupBy(*partition_by).applyInPandas(smooth, schema)


def transition_matrix(
    df: DataFrame,
    state_col: str,
    partition_by: list[str],
    ts_col: str = "ts",
    tiebreak: str | None = "event_id",
) -> DataFrame:
    """First-order Markov transition matrix over per-key event
    sequences: for each observed (from_state, to_state) pair of
    CONSECUTIVE events within a key, the count and the row-normalized
    probability. The sequence-analytics summary behind "what usually
    happens after an error?" dashboards and synthetic-trace generators.

    One key shuffle for the lag window (event-level), one partial-agg
    shuffle to (state, state) pairs — output is O(|states|^2) rows
    however large the input; the normalizing window runs on that tiny
    frame. p = n / row_total is one exact-integer double division, so
    the probabilities hash-match across engines unrounded.
    """
    w = _w(partition_by, ts_col, tiebreak)
    prev = F.lag(F.col(state_col)).over(w)
    pairs = df.select(
        prev.alias("from_state"), F.col(state_col).alias("to_state")
    ).filter(F.col("from_state").isNotNull())
    trans = pairs.groupBy("from_state", "to_state").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    wt = Window.partitionBy("from_state")
    return trans.select(
        "from_state",
        "to_state",
        "n",
        (F.col("n") / F.sum("n").over(wt)).alias("p"),
    )


def trailing_window_agg(
    df: DataFrame,
    value_col: str,
    lookback_seconds: int,
    partition_by: list[str],
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Trailing RANGE-window aggregate: for EVERY event, n/avg/max of
    the key's values in the preceding ``lookback_seconds`` (inclusive
    of the current row; rows tied on ts are all in-frame, which is what
    makes RANGE — unlike ROWS — deterministic under ties). The
    "load in the last hour at each event" feature column.

    One key shuffle; the frame is evaluated per key in event order with
    Spark's sliding-frame machinery — no self-join, no explode. The
    trailing sum quantizes to integer micro-units first (the dsum
    discipline): window sums of raw doubles are frame-traversal-order
    dependent (DuckDB segment tree vs Spark running sum), integer sums
    are associative in any engine.
    """
    micros = F.unix_micros(F.col(ts_col))
    w = (
        Window.partitionBy(*partition_by)
        .orderBy(micros)
        .rangeBetween(-int(lookback_seconds) * 1_000_000, 0)
    )
    v = F.col(value_col)
    vmicros = F.floor(v * F.lit(1000000.0) + F.lit(0.5)).cast("long")
    n = F.count(v).over(w)
    avg = F.sum(vmicros).over(w).cast("double") / F.lit(1000000.0) / n
    return df.select(
        *partition_by,
        F.col(id_col),
        micros.alias("ts_us"),
        v.alias(value_col),
        n.cast("long").alias("n_trailing"),
        avg.alias("avg_trailing"),
        F.max(v).over(w).alias("max_trailing"),
    )


def funnel_steps(
    df: DataFrame,
    steps: list[str],
    partition_by: list[str],
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Generalized N-step ordered funnel (a21's two-step form extended):
    per group (typically a session), the earliest time each step
    completes given every previous step already has — ``m_i = min ts of
    step_i with ts STRICTLY after m_{i-1}``. Emits one row per group
    with each step's completion time, how many steps completed, and
    whether the full chain did.

    One key shuffle; each step adds a windowed conditional-min stage
    over the SAME partitioning (no further Exchange), so the cost is
    O(steps) window passes over session-level partitions — never a
    self-join per step, which is the usual quadratic funnel query.
    Strict ``>`` ordering means a later step sharing a timestamp with
    its predecessor does NOT count (document-level tie policy; a21
    uses the finer (ts, event_id) order for its two-step form).
    """
    if not steps:
        raise ValueError("need at least one funnel step")
    w = Window.partitionBy(*partition_by)
    cur = df
    for i, s in enumerate(steps):
        cond = F.col(type_col) == s
        if i > 0:
            cond = cond & (F.col(ts_col) > F.col(f"__m{i - 1}"))
        cur = cur.withColumn(
            f"__m{i}", F.min(F.when(cond, F.col(ts_col))).over(w)
        )
    step_cols = [
        F.unix_micros(F.first(f"__m{i}")).alias(f"step{i + 1}_us")
        for i in range(len(steps))
    ]
    out = cur.groupBy(*partition_by).agg(*step_cols)
    completed_n = None
    for i in range(len(steps)):
        x = F.when(F.col(f"step{i + 1}_us").isNotNull(), 1).otherwise(0)
        completed_n = x if completed_n is None else completed_n + x
    return out.select(
        *partition_by,
        *[f"step{i + 1}_us" for i in range(len(steps))],
        completed_n.cast("long").alias("steps_completed"),
        F.col(f"step{len(steps)}_us").isNotNull().alias("completed"),
    )


def event_sequences(
    df: DataFrame,
    n: int = 3,
    partition_by: list[str] = ("user_id",),
    type_col: str = "event_type",
    ts_col: str = "ts",
    tiebreak: str | None = "event_id",
) -> DataFrame:
    """W18 — sequential pattern mining: corpus-wide counts of every
    length-``n`` run of CONSECUTIVE event types within a key's ordered
    stream (the n-gram generalization of ``transition_matrix``), with
    the number of distinct keys exhibiting each pattern as its support.
    The "what sequence of events precedes a crash?" query.

    One key shuffle orders each stream for the ``lead`` windows (all n-1
    leads share ONE window spec, so Catalyst evaluates them in a single
    pass); one partial-agg shuffle reduces to O(|types|^n) pattern rows.
    ``n_keys`` uses count(DISTINCT key), which Spark plans as a two-level
    aggregate (partial distinct per map task) — no row explosion. At
    100 TB both shuffles carry only (key, type) pairs — project before
    calling if the frame is wide.
    """
    keys = list(partition_by)
    w = _w(keys, ts_col, tiebreak, False)
    steps = [F.col(type_col).alias("step_1")] + [
        F.lead(type_col, i).over(w).alias(f"step_{i + 1}")
        for i in range(1, n)
    ]
    runs = df.select(*keys, *steps).filter(F.col(f"step_{n}").isNotNull())
    support_key = F.concat_ws("", *[F.col(k) for k in keys])
    return runs.groupBy(*[f"step_{i + 1}" for i in range(n)]).agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences"),
        F.countDistinct(support_key).cast("long").alias("n_keys"),
    )


def interarrival_stats(
    df: DataFrame,
    partition_by: list[str] = ("user_id", "event_type"),
    group_by: list[str] = ("event_type",),
    ts_col: str = "ts",
    tiebreak: str | None = "event_id",
) -> DataFrame:
    """W19 — inter-arrival gap distribution: per ``group_by``, the
    count / mean / max / p50 / p95 of the time gap between CONSECUTIVE
    events inside each ``partition_by`` stream. The latency-profile
    query behind "how bursty is this event type per user?".

    One key shuffle for the lag window, one partial-agg shuffle to the
    group level. Gaps are computed on integer microseconds and divided
    by 1e6 (one exact IEEE division per row); the mean goes through the
    integer-micro sum (order-independent), and the exact interpolated
    percentiles match DuckDB ``quantile_cont`` — flip to
    ``percentile_approx`` at 100 TB for a single-pass mergeable sketch
    (same trade documented at ``aggregates.windowed_rollup``).
    """
    w = _w(list(partition_by), ts_col, tiebreak, False)
    us = F.unix_micros(F.col(ts_col))
    gap_us = (us - F.lag(us).over(w)).alias("gap_us")
    gaps = df.select(*group_by, gap_us).filter(F.col("gap_us").isNotNull())
    gap_s = F.col("gap_us") / F.lit(1000000.0)
    return gaps.groupBy(*group_by).agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        (
            F.sum("gap_us").cast("double")
            / F.lit(1000000.0)
            / F.count(F.lit(1))
        ).alias("avg_gap_s"),
        F.max(gap_s).alias("max_gap_s"),
        F.percentile(gap_s, 0.5).alias("p50_gap_s"),
        F.percentile(gap_s, 0.95).alias("p95_gap_s"),
    )


def trending_topk(
    df: DataFrame,
    k: int = 3,
    trailing_days: int = 3,
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """W20 — trending items: for every day, the top-``k`` event types by
    count over the trailing ``trailing_days``-day window, with their
    daily and trailing counts and rank. The "what's hot right now"
    leaderboard.

    Aggregate FIRST, window SECOND: one partial-agg shuffle reduces
    events to the O(days x types) daily frame, and both windows (the
    trailing RANGE sum per type, the per-day row_number) run on that
    bucket-level frame — the event volume never reaches a window sort.
    row_number with the type name as tiebreak keeps the cut at rank k
    bit-stable cross-engine.

    The daily frame is SPARSE: a type with no events on the observation
    day has no row there and is not ranked that day, even if its
    trailing count is non-zero — "must be active today to trend today".
    For the dense variant, cross the day spine with the type list and
    coalesce n_day to 0 before the windows (still bucket-level cost).
    """
    day = F.floor(
        F.unix_micros(F.col(ts_col)) / F.lit(86_400_000_000)
    ).cast("long")
    daily = df.groupBy(day.alias("day_idx"), F.col(type_col)).agg(
        F.count(F.lit(1)).cast("long").alias("n_day")
    )
    wt = (
        Window.partitionBy(type_col)
        .orderBy("day_idx")
        .rangeBetween(-(trailing_days - 1), 0)
    )
    trail = daily.withColumn(
        "n_trail", F.sum("n_day").over(wt).cast("long")
    )
    wr = Window.partitionBy("day_idx").orderBy(
        F.desc("n_trail"), F.col(type_col)
    )
    return (
        trail.withColumn("rnk", F.row_number().over(wr).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("day_idx", "rnk", type_col, "n_day", "n_trail")
    )


def coalesce_intervals(
    df: DataFrame,
    partition_by: list[str],
    start_col: str = "start_us",
    end_col: str = "end_us",
    half_open: bool = False,
) -> DataFrame:
    """W21 — interval coalescing (gaps-and-islands over INTERVALS):
    merge overlapping-or-touching ``[start, end]`` intervals per key
    into maximal covered windows. The interval generalization of W5:
    sessionize merges POINTS by a fixed gap; this merges variable-
    length intervals, which a gap rule cannot express (an 11-hour
    maintenance window and a 2-second probe obey different reach).

    One pass, one key shuffle: a running ``max(end)`` over rows sorted
    by (start, end) marks a new island where ``start > max(prev ends)``
    (touching intervals MERGE: start == prev end joins), a running sum
    of the marks numbers the islands, one groupBy emits per-island
    bounds + row count. Same two-window-pass cost profile as W5 at any
    scale; the only sort is per-key.

    ``half_open=True`` treats intervals as ``[start, end)``: a new
    island starts where ``start >= max(prev ends)`` — adjacent
    intervals (start == prev end) do NOT merge, only true overlaps do.
    Equivalent to the subtract-1 rewrite on integer bounds (coalesce
    ``[s, e-1]`` closed, then add 1 back to window_end) — pinned by a
    property test — but without mutating the caller's columns.

    Output: partition keys + island_id (0-based per key), start/end of
    the merged window, n_intervals.

    reference: the reference's recovery-episode stitching
    (global_scanner.py:177-219) is the fixed-gap special case; this is
    the general interval form a downtime/maintenance-window rollup
    needs.
    """
    w = Window.partitionBy(*partition_by).orderBy(F.col(start_col), F.col(end_col))
    prev_max_end = F.max(F.col(end_col)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    breaks_away = (
        (F.col(start_col) >= prev_max_end)
        if half_open
        else (F.col(start_col) > prev_max_end)
    )
    is_new = F.when(prev_max_end.isNull() | breaks_away, 1).otherwise(0)
    grp = (
        F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0)) - 1
    ).cast("long")
    return (
        df.withColumn("island_id", grp)
        .groupBy(*(partition_by + ["island_id"]))
        .agg(
            F.min(start_col).alias("window_start"),
            F.max(end_col).alias("window_end"),
            F.count(F.lit(1)).cast("long").alias("n_intervals"),
        )
    )
