"""Aggregation operators (SURVEY §2.4, A1-A17).

Each is a declarative groupBy/agg — Catalyst plans partial (map-side)
aggregation before the shuffle automatically, which is what makes these
scale: the shuffle moves one row per (group, partition), not per event.

Numeric determinism: ``dsum``/``davg`` quantize each row to integer
micro-units (``FLOOR(v * 1e6 + 0.5)`` as BIGINT) and sum exact integers,
so the result is bit-identical regardless of partitioning/summation
order — this is what lets a distributed Spark run hash-match a
single-threaded DuckDB oracle (and makes results reproducible
run-to-run at 100 TB). The integer path aggregates at native long
speed; the earlier DECIMAL(18,6) route computed identical sums ~4x
slower (measured at sf1: 0.743 s vs 0.178 s for a 4-sum groupBy).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.scalars import bucket_start


def dsum(c: Column | str) -> Column:
    """Order-independent sum: per-row quantize to integer micro-units
    (``FLOOR(v * 1e6 + 0.5)`` -> BIGINT), exact integer sum, back to
    double — UNROUNDED. Every step is the same IEEE-754
    operation in any engine (the double product ``v * 1e6`` is computed
    identically, FLOOR of a double is exact, and long addition is
    associative), so the result is bit-identical across engines and
    partitionings, whereas a final ROUND splits on half-way ties
    (Spark rounds the decimal string of the double HALF_UP, C-engines
    multiply-and-rint the binary value — measured divergence on
    6-decimal sums and averages).

    The long-typed aggregation runs at native speed inside whole-stage
    codegen (~4x faster than a DECIMAL(18,6) accumulator, measured).
    Bounds: per-row |v| < 2^53/1e6 ≈ 9e9 keeps the micro quantization
    mathematically exact (beyond that the double product loses low bits
    — still deterministically and identically in every engine); the
    long accumulator overflows past ~9.2e18 micros total, which ANSI
    mode (Spark 4 default) turns into a loud ARITHMETIC_OVERFLOW, never
    a wrong answer.

    Oracle mirror (DuckDB):
    ``CAST(SUM(CAST(FLOOR(v * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
    / 1000000.0`` (DuckDB's BIGINT sum widens to HUGEINT, whose
    double conversion agrees with Spark's long->double for any total
    that didn't already overflow Spark's guard)."""
    col = F.col(c) if isinstance(c, str) else c
    micros = F.floor(col * F.lit(1000000.0) + F.lit(0.5)).cast("long")
    return F.sum(micros).cast("double") / F.lit(1000000.0)


def davg(c: Column | str) -> Column:
    """Order-independent mean built from the exact micro-unit sum /
    exact count, UNROUNDED (see dsum — the raw double is
    bitwise reproducible across engines: exact integer sum → nearest
    double → two IEEE divisions in a fixed order; rounding splits on
    half-way ties, measured at 4/3600 groups on sf0.1 event averages).
    Oracle mirror: ``CAST(SUM(CAST(FLOOR(v *
    1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 / COUNT(v)``
    (division is left-associative in both engines)."""
    col = F.col(c) if isinstance(c, str) else c
    micros = F.floor(col * F.lit(1000000.0) + F.lit(0.5)).cast("long")
    return F.sum(micros).cast("double") / F.lit(1000000.0) / F.count(col)


def severity_histogram(df: DataFrame, severity_col: str = "severity") -> DataFrame:
    """A1 — count per severity (reference: global_scanner.py:16-19),
    unsorted: at scale a sort nobody observes is a wasted range-shuffle,
    and order-insensitive consumers (the oracle hash, downstream joins)
    never need it."""
    return df.groupBy(severity_col).agg(F.count(F.lit(1)).alias("n"))


def event_histogram(df: DataFrame, k: int = 10, event_col: str = "event") -> DataFrame:
    """A2 — top-k event types by count (reference: global_scanner.py:21-29).

    Compiles to partial-agg + TakeOrderedAndProject: a true distributed
    top-k, no full sort.
    """
    return (
        df.groupBy(event_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), event_col)
        .limit(k)
    )


def time_span(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """A3 — min/max ts + span seconds (reference: global_scanner.py:31-42).

    Timestamps surface as exact epoch microseconds (BIGINT) so oracle
    comparison is format/timezone-proof.
    """
    return df.agg(
        F.unix_micros(F.min(ts_col)).alias("min_ts_us"),
        F.unix_micros(F.max(ts_col)).alias("max_ts_us"),
        (
            (F.unix_micros(F.max(ts_col)) - F.unix_micros(F.min(ts_col))) / 1_000_000.0
        ).alias("span_seconds"),
    )


def global_max(df: DataFrame, col: str) -> DataFrame:
    """A4 — single global max (reference: global_scanner.py:45)."""
    return df.agg(F.max(col).alias(f"max_{col}"))


def windowed_rollup(
    df: DataFrame,
    window_seconds: int,
    keys: list[str],
    value_col: str,
    ts_col: str = "ts",
    exact_percentile: bool = True,
    ordered: bool = True,
    deterministic_avg: bool = True,
) -> DataFrame:
    """A5 — tumbling-window rollup: n, avg, max, p95 per (window, keys).

    reference: tools/storage.py:328-352 (CTAS ``rollups_{N}s``).

    The reference re-runs CTAS per window size; here one shuffle produces
    the rollup, and the same expression works under Structured Streaming
    (see streaming/rollups_stream.py). ``exact_percentile`` uses exact
    ``percentile`` (matches DuckDB ``quantile_cont``); at 100 TB flip to
    ``percentile_approx`` — sketch-mergeable, single pass, no sort.
    """
    pctl = (
        F.percentile(value_col, 0.95)
        if exact_percentile
        else F.percentile_approx(value_col, 0.95)
    )
    # decimal-routed avg is order-independent (oracle hash-matching) but
    # overflows Decimal(38,6) on sentinel values like -DBL_MAX that real
    # trace metrics contain; the reference's own rollup is a plain double
    # AVG, so the parity path opts out.
    mean = davg(value_col) if deterministic_avg else F.avg(value_col)
    # avg and p95 stay UNROUNDED: both are rational combinations of
    # exact-decimal inputs, where a final ROUND is the one operation the
    # engines disagree on (half-way ties); the raw doubles are bitwise
    # cross-engine reproducible.
    out = df.groupBy(
        bucket_start(ts_col, window_seconds).alias("window_start"), *keys
    ).agg(
        F.count(F.lit(1)).alias("n"),
        mean.alias("avg_value"),
        F.max(value_col).alias("max_value"),
        pctl.alias("p95_value"),
    )
    return out.orderBy("window_start", *keys) if ordered else out


def sliding_windowed_rollup(
    df: DataFrame,
    window_seconds: int,
    slide_seconds: int,
    keys: list[str],
    value_col: str,
    ts_col: str = "ts",
) -> DataFrame:
    """A20 — sliding (hopping) window rollup via Spark's native
    ``F.window(..., slideDuration)``: each row lands in
    ``window/slide`` overlapping windows (Catalyst explodes them
    JVM-side), then one partial-agg shuffle on (window, keys). The
    smoothness/lag dial tumbling rollups (A5) don't have: a 1h window
    sliding every 15min refreshes the rollup 4x as often without
    re-scanning. Same expression runs under Structured Streaming.

    Determinism mirrors windowed_rollup: micro-unit integer sum for the
    avg (order-independent), count/max exact.
    """
    assert window_seconds % slide_seconds == 0, "slide must divide window"
    w = F.window(
        F.col(ts_col), f"{window_seconds} seconds", f"{slide_seconds} seconds"
    )
    return (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(w.alias("w"), *keys)
        .agg(
            F.count(F.lit(1)).alias("n"),
            davg(value_col).alias("avg_value"),
            F.max(value_col).alias("max_value"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("w_start_us"),
            *keys,
            "n",
            "avg_value",
            "max_value",
        )
    )


def multi_windowed_rollup(
    df: DataFrame,
    window_sizes: list[int],
    keys: list[str],
    value_col: str,
    ts_col: str = "ts",
) -> DataFrame:
    """A5 extension — EVERY rollup granularity in one scan + one shuffle.

    The reference re-runs its CTAS once per window size (1s/10s/60s,
    README.md:297; tools/storage.py:338-352 takes one size per call). At
    100 TB the scan dominates, so re-reading the events table per
    granularity multiplies the most expensive stage; exploding the size
    dimension inline amortizes the single scan across all granularities
    (output rows grow by len(window_sizes), the shuffle stays keyed by
    (size, window, keys) — no hot key)."""
    ws = F.col("window_seconds")
    exploded = df.select(
        ts_col,
        *keys,
        value_col,
        F.explode(
            F.array(*[F.lit(s).cast("long") for s in window_sizes])
        ).alias("window_seconds"),
    )
    win = (F.floor(F.col(ts_col).cast("double") / ws) * ws).cast("long")
    return exploded.groupBy(
        "window_seconds", win.alias("window_start"), *keys
    ).agg(
        F.count(F.lit(1)).alias("n"),
        davg(value_col).alias("avg_value"),
        F.max(value_col).alias("max_value"),
        F.percentile(value_col, 0.95).alias("p95_value"),
    )


def metric_baselines(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    min_count: int = 10,
) -> DataFrame:
    """A6/A7 — per-key baseline stats: mean/stddev/count/min/max/p95,
    HAVING count >= min_count, unsorted.

    reference: global_scanner.py:57-172 (upsert path) — here the result is
    just a DataFrame; persist with ``.write`` where the reference upserted.
    """
    # mean/p95 unrounded (rational — ROUND tie risk, see dsum); stddev
    # KEEPS its ROUND: sqrt output is irrational, ties are measure-zero,
    # and the raw value differs across engines' merge orders anyway.
    return (
        df.groupBy(*keys)
        .agg(
            davg(value_col).alias("mean"),
            F.round(F.stddev_samp(value_col), 4).alias("stddev"),
            F.count(value_col).alias("n"),
            F.min(value_col).alias("min_value"),
            F.max(value_col).alias("max_value"),
            F.percentile(value_col, 0.95).alias("p95"),
        )
        .filter(F.col("n") >= min_count)
    )


def bucket_heatmap(
    df: DataFrame,
    bucket_seconds: int = 300,
    ts_col: str = "ts",
    severity_col: str = "severity",
    min_max_severity: float | None = None,
) -> DataFrame:
    """A8/A9 — epoch-bucket heatmap: max severity + count per bucket,
    unsorted; optional HAVING max >= floor (hotspot selector).

    reference: global_scanner.py:232-252; hotspot_selector.py:15-36
    """
    out = df.groupBy(
        bucket_start(ts_col, bucket_seconds).alias("bucket")
    ).agg(
        F.max(severity_col).alias("max_severity"),
        F.count(F.lit(1)).alias("n"),
    )
    if min_max_severity is not None:
        out = out.filter(F.col("max_severity") >= min_max_severity)
    return out


def zscore_hotspots(
    df: DataFrame,
    bucket_seconds: int = 300,
    min_z: float = 2.0,
    ts_col: str = "ts",
) -> DataFrame:
    """A10 — z-score of per-bucket event counts vs the global bucket-count
    distribution (reference: detectors.py:234-285), unsorted.

    The global stats attach via a whole-frame window over the BUCKET
    table, not the events: one plan, no separate broadcast-build job.
    The single window partition holds only timespan/bucket_seconds rows
    (~100k for a year of 300s buckets) regardless of event volume, so
    this is scale-safe — the heavy lifting (events -> bucket counts) is
    a partial-agg shuffle keyed by bucket.
    """
    buckets = df.groupBy(
        bucket_start(ts_col, bucket_seconds).alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy()
    z = F.when(
        F.col("std_n") != 0, (F.col("n") - F.col("mean_n")) / F.col("std_n")
    )
    return (
        buckets.withColumn("mean_n", F.avg("n").over(w))
        .withColumn("std_n", F.stddev_samp("n").over(w))
        .select("bucket", "n", F.round(z, 4).alias("zscore"))
        .filter(F.col("zscore") >= min_z)
    )


def per_group_zscores(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    z_threshold: float = 3.0,
    id_cols: list[str] | None = None,
) -> DataFrame:
    """A12 — per-key mean/std over all rows, join back, flag |z| > thr.

    reference: tools/anomaly_detector.py:92-167. The reference held a dict
    of per-metric stats in memory; here the stats DataFrame broadcasts to
    the join (small — one row per metric key).
    """
    stats = df.groupBy(*keys).agg(
        F.avg(value_col).alias("__mean"),
        F.stddev_samp(value_col).alias("__std"),
    )
    z = F.when(
        F.col("__std") != 0, (F.col(value_col) - F.col("__mean")) / F.col("__std")
    )
    out = (
        df.join(F.broadcast(stats), keys)
        .withColumn("zscore", F.round(z, 4))
        .filter(F.abs(F.col("zscore")) > z_threshold)
        .drop("__mean", "__std")
    )
    cols = (id_cols or []) + keys + [value_col, "zscore"]
    return out.select(*cols)


def summary_stats(
    df: DataFrame, value_col: str, ts_col: str = "ts"
) -> DataFrame:
    """A14 — detector summary: max/p95/mean/count + first/last ts.

    reference: detectors.py:104-122
    """
    return df.agg(
        F.max(value_col).alias("max_value"),
        F.percentile(value_col, 0.95).alias("p95_value"),
        davg(value_col).alias("mean_value"),
        F.count(F.lit(1)).alias("n"),
        F.unix_micros(F.min(ts_col)).alias("first_ts_us"),
        F.unix_micros(F.max(ts_col)).alias("last_ts_us"),
    )


def salted_agg(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    n_salts: int = 16,
    salt_src: str | Column = "event_id",
) -> DataFrame:
    """A33 — skew-defeating two-stage aggregation: stage 1 groups by
    (keys, salt) so a heavy key's rows land on ``n_salts`` reducers
    instead of one; stage 2 merges the per-salt partials on the real
    keys — a shuffle of at most ``n_groups * n_salts`` tiny rows.

    sum/count/min/max are associative, so the result is IDENTICAL to the
    direct groupBy (the oracle is the unsalted SQL — the equality is the
    proof), and the micro-unit integer sums make it bit-identical under
    any partitioning. Use when one key holds >~ a partition's worth of
    rows (the local-mode analogue: one straggling reducer); AQE's skew
    handling covers sort-merge JOINS, not hash aggregations, so the
    salt is still the aggregation-side lever.

    Trade-off: two exchanges instead of one, both tiny after map-side
    partial aggregation — the win is parallelizing the REDUCE of the
    heavy key, which a single-stage agg serializes on one task.
    """
    salt = (
        F.pmod(F.col(salt_src) if isinstance(salt_src, str) else salt_src,
               F.lit(n_salts))
        .alias("__salt")
    )
    q = F.floor(F.col(value_col) * F.lit(1000000.0) + F.lit(0.5)).cast("long")
    partial = (
        df.select(*keys, salt, q.alias("__q"))
        .groupBy(*keys, "__salt")
        .agg(
            F.sum("__q").alias("__psum"),
            F.count(F.lit(1)).alias("__pn"),
            F.min("__q").alias("__pmin"),
            F.max("__q").alias("__pmax"),
        )
    )
    return (
        partial.groupBy(*keys)
        .agg(
            (F.sum("__psum").cast("double") / 1e6).alias("sum_value"),
            F.sum("__pn").cast("bigint").alias("n"),
            (F.min("__pmin").cast("double") / 1e6).alias("min_value"),
            (F.max("__pmax").cast("double") / 1e6).alias("max_value"),
        )
        .withColumn(
            "avg_value", F.col("sum_value") / F.col("n")
        )
    )


def _epoch_day(ts_col: str) -> Column:
    """Integer epoch-day index: FLOOR of the microsecond timestamp over
    a day — double division then floor, the identical IEEE path DuckDB
    takes for ``FLOOR(epoch_us(ts) / 86400000000)``, so day bucketing
    never crosses an engine-specific date/timezone semantic."""
    return (
        F.floor(F.unix_micros(F.col(ts_col)) / F.lit(86_400_000_000))
        .cast("long")
    )


def retention_cohorts(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """A34 — cohort retention matrix: users are cohorted by the day of
    their FIRST event; for every (cohort_day, day_offset) cell, how many
    of that cohort's users were active ``day_offset`` days later, and
    what fraction of the cohort that is. The canonical product-analytics
    query over billions of events.

    Three key shuffles, each strictly smaller than the last: (1) distinct
    (user, day) — partial distinct per map task, so the exchange carries
    at most users x days rows; (2) min(day) per user + the user-key join
    back (both sides hash on ``user_col``, and the join output reuses
    that partitioning); (3) partial-agg to the O(days^2) cohort matrix.
    Because (user, day) is already distinct, the cell count is a plain
    COUNT — no second count-distinct pass. The retention fraction is a
    window over the matrix itself (bucket-level rows, not event rows).
    Day index is an integer epoch-day — no date-type or timezone
    semantics cross the engine boundary.
    """
    day = _epoch_day(ts_col)
    active = df.select(
        F.col(user_col).alias("__user"), day.alias("day_idx")
    ).distinct()
    first = active.groupBy("__user").agg(F.min("day_idx").alias("cohort_day"))
    joined = active.join(first, "__user")
    cells = joined.groupBy(
        "cohort_day",
        (F.col("day_idx") - F.col("cohort_day")).cast("long").alias(
            "day_offset"
        ),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    wc = (
        Window.partitionBy("cohort_day")
        .orderBy("day_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cohort_size = F.first("n_users").over(wc)
    return cells.select(
        "cohort_day",
        "day_offset",
        "n_users",
        cohort_size.cast("long").alias("cohort_size"),
        (F.col("n_users").cast("double") / cohort_size).alias("retention"),
    )


def rolling_active_users(
    df: DataFrame,
    window_days: int = 7,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """A35 — rolling distinct actives (DAU + trailing-N "WAU"): for each
    observation day, how many distinct users were active that day and in
    the trailing ``window_days``-day window ending on it. Exact sliding
    count-distinct is not window-aggregable, so this uses the standard
    spread trick: dedup to (user, day) FIRST (the only event-volume
    shuffle), then each user-day sponsors the ``window_days`` observation
    days it is visible in — a bounded x7 explode of the already-tiny
    user-day frame, finished by one two-level distinct aggregate.

    At 100 TB the x7 fan-out applies to |users| x |days| rows, not
    events; for month+ windows flip the distinct to the HLL-register
    form (``sketches.hll_estimate_grouped``) and merge registers across
    the window instead of spreading rows. Observation days with no
    sponsor (gaps in the data) are absent rather than zero-filled, and
    the last ``window_days - 1`` days extend past the data's max day —
    both engines agree on both edges.
    """
    day = _epoch_day(ts_col)
    ud = df.select(
        F.col(user_col).alias("__user"), day.alias("day_idx")
    ).distinct()
    spread = ud.select(
        "__user",
        "day_idx",
        F.explode(
            F.sequence(
                F.col("day_idx"), F.col("day_idx") + (window_days - 1)
            )
        ).alias("obs_day"),
    )
    return spread.groupBy("obs_day").agg(
        F.countDistinct(
            F.when(F.col("day_idx") == F.col("obs_day"), F.col("__user"))
        )
        .cast("long")
        .alias("dau"),
        F.countDistinct("__user").cast("long").alias("rolling_users"),
    )


def equidepth_bins(
    df: DataFrame,
    value_col: str,
    group_by: list[str],
    n_bins: int = 10,
    tiebreak: str = "event_id",
) -> DataFrame:
    """A36 — equi-depth (equal-count) binning per group: each group's
    values are split into ``n_bins`` rank buckets via ``ntile``, and
    each bucket reports its count and [min, max] span — the
    feature-engineering discretization that survives skew where
    fixed-width histograms collapse into one hot bucket.

    The ntile window sorts each group ONCE on (value, tiebreak) —
    deterministic under duplicate values, so bucket membership is
    bit-stable cross-engine. Scale: one key shuffle + the per-group
    sort; a single pathological group that outgrows a task's sort
    budget moves to the documented approximate path — compute bin
    BOUNDARIES with ``percentile_approx(value, [i/n])`` and assign by
    range lookup, which keeps equi-depth semantics within sketch error
    at a scan-plus-broadcast cost.
    """
    w = Window.partitionBy(*group_by).orderBy(
        F.col(value_col), F.col(tiebreak)
    )
    binned = df.select(
        *group_by,
        F.col(value_col),
        F.ntile(n_bins).over(w).cast("long").alias("bin"),
    )
    return binned.groupBy(*group_by, "bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min(value_col).alias("min_value"),
        F.max(value_col).alias("max_value"),
    )


def skew_report(
    df: DataFrame, keys: list[str], top_k: int = 10, hot_factor: int = 2
) -> DataFrame:
    """A37 — the shuffle-planning diagnostic the salting tools (j13
    salted join, a33 salted agg) and AQE's skew thresholds consume:
    the per-key volume profile of a prospective shuffle key. One row
    per top-``top_k`` hottest key, each carrying the global summary —
    total rows, distinct keys, max-per-key, skew_ratio (hottest key's
    rows over the mean, the quantity AQE's skewed-join factor tests),
    and how many keys run hotter than ``hot_factor``x the mean (the
    cross-multiplied integer comparison, so no float threshold).

    Scale shape: per-key counts are ONE map-side-combined groupBy
    (shuffle moves distinct keys, not rows); the summary is a 1-row
    reduce of those counts broadcast back (the j02 pattern); top-k is
    TakeOrdered-shaped. The only floats are two single divisions of
    exact longs. The point of making it a QUERY: at 100 TB you profile
    the key BEFORE committing the join strategy, with one cheap pass —
    not by watching the real shuffle die.
    """
    cnt = df.groupBy(*keys).agg(F.count(F.lit(1)).cast("long").alias("n"))
    # the hot-key count needs n_keys/total first: second pass over the
    # (distinct-key-sized) counts frame with the 1-row summary attached
    summary = cnt.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("n").cast("long").alias("total_rows"),
        F.max("n").cast("long").alias("max_rows"),
    )
    enriched = cnt.crossJoin(F.broadcast(summary))
    # compared in DOUBLE: n * n_keys as int64 overflows (silently, ANSI
    # off) once total_rows ~ 1e12 and n_keys ~ 1e9 — exactly the 100 TB
    # domain this profiler exists for. The double form loses only exact
    # ties at >2^53, where "is this key hot" is unambiguous anyway.
    hot = enriched.agg(
        F.sum(
            F.when(
                F.col("n").cast("double") * F.col("n_keys")
                > F.lit(float(hot_factor)) * F.col("total_rows"),
                F.lit(1).cast("long"),
            ).otherwise(F.lit(0).cast("long"))
        ).alias("n_hot_keys")
    )
    # top-k first via orderBy+limit (TakeOrderedAndProject — no global
    # shuffle); the rank window then runs over a <= top_k row frame
    w = Window.orderBy(F.desc("n"), *keys)
    top = (
        enriched.orderBy(F.desc("n"), *keys)
        .limit(top_k)
        .withColumn("rank", F.row_number().over(w).cast("int"))
    )
    return top.crossJoin(F.broadcast(hot)).select(
        "rank",
        *keys,
        F.col("n").alias("n_rows"),
        "n_keys",
        "total_rows",
        "max_rows",
        (F.col("total_rows") / F.col("n_keys")).alias("mean_rows"),
        # max_rows cast to double BEFORE the multiply, mirroring the
        # oracle's CAST(max_rows AS DOUBLE) * n_keys — the int64 product
        # overflow window is gone and both engines evaluate identically
        (
            F.col("max_rows").cast("double")
            * F.col("n_keys")
            / F.col("total_rows")
        ).alias("skew_ratio"),
        "n_hot_keys",
    )


def rollup_partials(
    df: DataFrame,
    window_seconds: int,
    keys: list[str],
    value_col: str,
    ts_col: str = "ts",
) -> DataFrame:
    """The MERGEABLE per-bucket state of a rollup: exact integer count,
    the dsum micro-unit integer sum (order-independent, exact), and
    max. Everything here combines associatively, which is what makes
    :func:`merge_rollup_partials` correct — derived stats (avg) come
    out only at read time. (p95 is deliberately absent: an exact
    percentile does not merge; at scale the sketch family
    (a24/percentile_approx) is the mergeable stand-in.)"""
    micros = F.floor(F.col(value_col) * F.lit(1000000.0) + F.lit(0.5)).cast(
        "long"
    )
    return df.groupBy(
        bucket_start(ts_col, window_seconds).alias("window_start"), *keys
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(micros).cast("long").alias("sum_micros"),
        F.max(value_col).alias("max_value"),
    )


def merge_rollup_partials(
    base: DataFrame, delta: DataFrame, keys: list[str]
) -> DataFrame:
    """A38 — incremental materialized-view maintenance: fold a delta's
    rollup partials into the standing rollup WITHOUT rescanning
    history — union the two partial tables and combine per bucket
    (counts and sums add, max takes max), then derive avg with one
    exact division. By associativity this equals the full recompute
    over (base events UNION delta events) — the oracle states exactly
    that — while the work done is O(|delta| + touched buckets), not
    O(history): the reference re-ran CTAS over the whole table per
    refresh (tools/storage.py:328-352); at 100 TB the re-scan IS the
    cost, and this is the shape that deletes it.

    Scale shape: one groupBy over two bucket-level tables (partial
    aggregation collapses the union map-side); nothing here touches
    event-level rows.
    """
    cols = ["window_start", *keys, "n", "sum_micros", "max_value"]
    merged = combine_rollup_partials(
        base.select(cols).unionByName(delta.select(cols)), keys
    )
    return derive_rollup(merged, keys)


def combine_rollup_partials(partials: DataFrame, keys: list[str]) -> DataFrame:
    """Fold a (possibly unioned) partials table back to one row per
    bucket: counts and micro-unit sums add, max takes max. Associative
    and commutative — any merge ORDER (batch arrival order included)
    yields the same standing table, which is what lets the streaming
    maintenance form (streams.streaming_rollup_maintenance) absorb late
    data without watermarks: a late row just re-touches its bucket."""
    return partials.groupBy("window_start", *keys).agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("sum_micros").cast("long").alias("sum_micros"),
        F.max("max_value").alias("max_value"),
    )


def derive_rollup(partials: DataFrame, keys: list[str]) -> DataFrame:
    """The read-time projection over a partials table: davg's exact
    read-out — integer micros -> double -> two IEEE divisions in a
    fixed order (bitwise cross-engine reproducible)."""
    return partials.select(
        "window_start",
        *keys,
        "n",
        (
            F.col("sum_micros").cast("double")
            / F.lit(1000000.0)
            / F.col("n")
        ).alias("avg_value"),
        "max_value",
    )
