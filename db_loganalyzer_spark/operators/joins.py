"""Join operators (SURVEY §2.3, J1-J6).

The reference's joins are DuckDB SQL; the shapes that matter at scale:
broadcast the small side (baselines, dims), keep the as-of/range join
bounded by an equi key + time band so Spark plans a range join instead of
a cartesian product.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def equi_join(
    left: DataFrame, right: DataFrame, on, how: str = "inner"
) -> DataFrame:
    """J1 — plain equi join with a broadcast hint on the dimension-sized
    right side.

    reference: tools/storage.py:349 (events JOIN event_metrics USING(event_id))
    """
    return left.join(F.broadcast(right), on, how)


def attach_global_stats(df: DataFrame, value_col: str) -> DataFrame:
    """J2 — attach whole-table mean/std via broadcast cross join with the
    1-row stats aggregate (reference: detectors.py:248-260 ``FROM b, s``)."""
    stats = df.agg(
        F.avg(value_col).alias("mean_value"),
        F.stddev_samp(value_col).alias("std_value"),
    )
    return df.crossJoin(F.broadcast(stats))


def lookback_join(
    events: DataFrame,
    anchors: DataFrame,
    lookback_seconds: float,
    equi_keys: list[str] | None = None,
    ts_col: str = "ts",
    anchor_ts_col: str = "anchor_ts",
) -> DataFrame:
    """J3 — as-of-style look-back join: for each anchor row, all events in
    ``[anchor_ts - lookback, anchor_ts)``.

    reference: tools/recovery_detector.py:155-207 (scan 5s before each
    MasterRecoveryState for the cause).

    ``equi_keys`` bounds the join (machine/user/trace_file): with them the
    plan is a shuffled equi join + band filter; without them Spark must
    use a broadcast-nested-loop/range join — fine when ``anchors`` is
    small (it is: anchors are rare events), disastrous if both sides are
    big. AQE's skew handling covers hot keys.
    """
    cond = (F.col(ts_col) >= F.col(anchor_ts_col) - F.expr(f"INTERVAL {lookback_seconds} SECONDS")) & (
        F.col(ts_col) < F.col(anchor_ts_col)
    )
    if equi_keys:
        for k in equi_keys:
            cond = cond & (events[k] == anchors[f"anchor_{k}"])
    return events.join(anchors, cond)


def anti_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    """J5 — rows of left with no match in right (NOT IN / NOT EXISTS).

    reference: hotspot_selector.py:38-55 (uninspected buckets)
    """
    return left.join(right, on, "left_anti")


def lookup_with_fallback(
    df: DataFrame,
    lookup: DataFrame,
    keys: list[str],
    fallback_key: str,
    fallback_value: str = "ALL",
    value_cols: list[str] | None = None,
) -> DataFrame:
    """J6 — left join on full key; where missing, fall back to the row with
    ``fallback_key = fallback_value`` (role='ALL' baselines), coalescing
    each looked-up column. Both lookups broadcast (baselines are small).

    reference: detectors.py:20-57
    """
    value_cols = value_cols or [
        c for c in lookup.columns if c not in keys
    ]
    exact = lookup.select(
        *[F.col(k).alias(f"__e_{k}") for k in keys],
        *[F.col(c).alias(f"__e_{c}") for c in value_cols],
    )
    fb_keys = [k for k in keys if k != fallback_key]
    fallback = (
        lookup.filter(F.col(fallback_key) == fallback_value)
        .select(
            *[F.col(k).alias(f"__f_{k}") for k in fb_keys],
            *[F.col(c).alias(f"__f_{c}") for c in value_cols],
        )
    )
    out = df.join(
        F.broadcast(exact),
        [df[k] == F.col(f"__e_{k}") for k in keys],
        "left",
    ).join(
        F.broadcast(fallback),
        [df[k] == F.col(f"__f_{k}") for k in fb_keys],
        "left",
    )
    for c in value_cols:
        out = out.withColumn(c, F.coalesce(F.col(f"__e_{c}"), F.col(f"__f_{c}")))
    drop = (
        [f"__e_{k}" for k in keys]
        + [f"__f_{k}" for k in fb_keys]
        + [f"__e_{c}" for c in value_cols]
        + [f"__f_{c}" for c in value_cols]
    )
    return out.drop(*drop)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    by: list[str],
    value_cols: list[str],
    ts_col: str = "ts",
    right_ts_alias: str = "asof_ts",
    direction: str = "backward",
) -> DataFrame:
    """J7/J10 — generic as-of join. ``backward`` (default): for every
    left row, attach the latest right row with ``right.ts <= left.ts``
    within the same ``by`` key; ``forward``: the earliest right row with
    ``right.ts >= left.ts`` (the "next reading after this event" join —
    time-to-next-heartbeat, next scheduled maintenance). Both inclusive
    at equal timestamps. The "state at event time" join every log
    pipeline needs and Spark has no native operator for (DuckDB spells
    both as ASOF JOIN with the matching inequality — the oracle uses
    exactly that).

    Spark-first shape: rather than a range join (quadratic without
    banding) or a per-row subquery, UNION the two sides with a tag,
    shuffle ONCE on the key, and carry the right side's values across
    with a non-null-skipping window ordered (ts, tag) — the tag makes
    right rows sort on the inclusive side of left rows at equal ts.
    Backward carries last-non-null over the preceding frame; forward
    takes first-non-null over the following frame. One shuffle, no band
    tuning, unbounded look-back/ahead for free; per-key ordering means
    skew only where one key dominates.

    The right side is first reduced to one row per (key, ts) — ASOF
    semantics are single-match, and a per-column MAX (backward) / MIN
    (forward) pins which duplicate-timestamp row wins identically in
    both engines. Unmatched left rows keep NULLs (left-join semantics).
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward: {direction}")
    fwd = direction == "forward"
    # per-column MAX/MIN per (key, ts): a deterministic, engine-portable
    # rule for which duplicate-timestamp right row wins (mirrored in the
    # oracle)
    tie = F.min if fwd else F.max
    r_dedup = right.groupBy(*by, ts_col).agg(
        *[tie(c).alias(c) for c in value_cols]
    )
    l_tag = left.withColumn("__tag", F.lit(0 if fwd else 1))
    for c in value_cols:
        l_tag = l_tag.withColumn(f"__r_{c}", F.lit(None).cast(dict(r_dedup.dtypes)[c]))
    l_tag = l_tag.withColumn("__r_ts", F.lit(None).cast(dict(right.dtypes)[ts_col]))
    r_tag = r_dedup.select(
        *by,
        F.col(ts_col),
        F.lit(1 if fwd else 0).alias("__tag"),
        *[F.col(c).alias(f"__r_{c}") for c in value_cols],
        F.col(ts_col).alias("__r_ts"),
    )
    for c in left.columns:
        if c not in r_tag.columns:
            r_tag = r_tag.withColumn(c, F.lit(None).cast(dict(left.dtypes)[c]))
    merged = l_tag.unionByName(r_tag.select(l_tag.columns))
    w = Window.partitionBy(*by).orderBy(ts_col, "__tag")
    if fwd:
        w = w.rowsBetween(0, Window.unboundedFollowing)
        pick = lambda c: F.first(c, ignorenulls=True)  # noqa: E731
    else:
        w = w.rowsBetween(Window.unboundedPreceding, 0)
        pick = lambda c: F.last(c, ignorenulls=True)  # noqa: E731
    out = merged
    for c in value_cols:
        out = out.withColumn(
            c if c not in left.columns else f"asof_{c}",
            pick(f"__r_{c}").over(w),
        )
    out = out.withColumn(right_ts_alias, pick("__r_ts").over(w))
    return out.filter(F.col("__tag") == (0 if fwd else 1)).drop(
        "__tag", "__r_ts", *[f"__r_{c}" for c in value_cols]
    )


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    point_ts: str = "ts",
    start_col: str = "start_ts",
    end_col: str = "end_ts",
    bucket_seconds: float = 3600.0,
    how: str = "inner",
) -> DataFrame:
    """J8 — point-in-interval containment join (``start <= t <= end``),
    planned as an EQUI join: each interval row explodes to every
    ``bucket_seconds`` time bucket it covers, each point lives in exactly
    one bucket, so a qualifying pair meets in exactly one exploded row —
    no dedup pass and no nested-loop theta join (a bare BETWEEN condition
    plans as BroadcastNestedLoopJoin, unbounded at scale).

    ``bucket_seconds`` is the scale dial: explode factor is
    ``duration / bucket_seconds + 1`` per interval, per-bucket fan-in
    shrinks as buckets narrow. Size it near the typical interval length.
    Column names must be disjoint across the two inputs (alias first).

    The same shape as J3's bucketed look-back and D10's episode halo; the
    reference has no generic containment operator — its nearest use is the
    per-recovery cause scan (tools/recovery_detector.py:155-207).
    """
    bs_us = int(round(bucket_seconds * 1_000_000))
    iv = intervals.withColumn(
        "__iv_b",
        F.explode(
            F.sequence(
                F.expr(f"unix_micros({start_col}) div {bs_us}L"),
                F.expr(f"unix_micros({end_col}) div {bs_us}L"),
            )
        ),
    )
    pts = points.withColumn("__pt_b", F.expr(f"unix_micros({point_ts}) div {bs_us}L"))
    cond = (
        (pts["__pt_b"] == iv["__iv_b"])
        & (pts[point_ts] >= iv[start_col])
        & (pts[point_ts] <= iv[end_col])
    )
    return pts.join(iv, cond, how).drop("__pt_b", "__iv_b")


def interval_concurrency(
    points: DataFrame,
    intervals: DataFrame,
    point_id: str = "event_id",
    point_ts: str = "ts",
    start_col: str = "start_ts",
    end_col: str = "end_ts",
) -> DataFrame:
    """J9 — for every point, the COUNT of intervals containing it
    (``start <= t <= end``), computed as a sweep-line instead of a join:
    interval starts emit +1, interval ends emit -1, and a stitched global
    running sum (windows.running_sum_stitched — range shuffle + boundary
    carry, no single-partition window) reads the active count at each
    point row. Ties resolve start(0) < point(1) < end(2), so intervals
    that open or close exactly at the point's timestamp still contain it.

    This is the shape that survives when interval_join cannot: the join
    materializes every (point, interval) pair — quadratic under heavy
    overlap — while the sweep is O((points + intervals) log) with output
    exactly one row per point, zero-count points included. The trade: it
    returns only the count (aggregate), not the matched interval columns.
    """
    starts = intervals.select(
        F.col(start_col).alias("__t"), F.lit(0).alias("__k"),
        F.lit(1).alias("__d"), F.lit(None).cast("long").alias("__pid_id"),
    )
    ends = intervals.select(
        F.col(end_col).alias("__t"), F.lit(2).alias("__k"),
        F.lit(-1).alias("__d"), F.lit(None).cast("long").alias("__pid_id"),
    )
    pts = points.select(
        F.col(point_ts).alias("__t"), F.lit(1).alias("__k"),
        F.lit(0).alias("__d"), F.col(point_id).cast("long").alias("__pid_id"),
    )
    from .windows import running_sum_stitched

    swept = running_sum_stitched(
        starts.unionByName(ends).unionByName(pts),
        "__d",
        ["__t", "__k", "__pid_id"],
    )
    return swept.filter(F.col("__k") == 1).select(
        F.col("__pid_id").alias(point_id),
        F.col("__t").alias(point_ts),
        F.col("running_sum").alias("n_active"),
    )


def asof_nearest(
    left: DataFrame,
    right: DataFrame,
    by: list[str],
    value_cols: list[str],
    ts_col: str = "ts",
) -> DataFrame:
    """J11 — nearest-event join: for every left row, the right row with
    the smallest |t_left - t_right| within the key (ties to the EARLIER
    right row, matching "closest reading" semantics where a stale
    reading beats a future one at equal distance). Composed from the
    backward and forward as-of passes — two one-key-shuffle window
    joins, no range join, no candidate explosion — then a pure column
    pick of the closer side.

    Unmatched on both sides keeps NULLs; matched on one side takes it
    regardless of distance.
    """
    back = asof_join(
        left, right, by=by, value_cols=value_cols, ts_col=ts_col,
        right_ts_alias="__back_ts",
    )
    for c in value_cols:
        back = back.withColumnRenamed(
            c if c not in left.columns else f"asof_{c}", f"__b_{c}"
        )
    both = asof_join(
        back, right, by=by, value_cols=value_cols, ts_col=ts_col,
        right_ts_alias="__fwd_ts", direction="forward",
    )
    for c in value_cols:
        both = both.withColumnRenamed(
            c if c not in back.columns else f"asof_{c}", f"__f_{c}"
        )
    d_back = F.unix_micros(F.col(ts_col)) - F.unix_micros("__back_ts")
    d_fwd = F.unix_micros("__fwd_ts") - F.unix_micros(F.col(ts_col))
    take_back = F.col("__fwd_ts").isNull() | (
        F.col("__back_ts").isNotNull() & (d_back <= d_fwd)
    )
    out = both.withColumn(
        "nearest_ts",
        F.when(take_back, F.col("__back_ts")).otherwise(F.col("__fwd_ts")),
    )
    for c in value_cols:
        out = out.withColumn(
            c if c not in left.columns else f"nearest_{c}",
            F.when(take_back, F.col(f"__b_{c}")).otherwise(
                F.col(f"__f_{c}")
            ),
        )
    return out.drop(
        "__back_ts", "__fwd_ts",
        *[f"__b_{c}" for c in value_cols],
        *[f"__f_{c}" for c in value_cols],
    )


# ---------------------------------------------------------------------------
# J12 — bloom-filter semi-join pruning
# ---------------------------------------------------------------------------

_BLOOM_POW2 = None  # lazy: array<long> of 1<<0 .. 1<<31 for the bit masks


def _pow2_array():
    global _BLOOM_POW2
    if _BLOOM_POW2 is None:
        _BLOOM_POW2 = F.array(*[F.lit(1 << i).cast("long") for i in range(32)])
    return _BLOOM_POW2


def bloom_build(
    build: DataFrame, key_col: str, n_bits: int = 4096, k: int = 3
) -> DataFrame:
    """Build side of the bloom prefilter: ``k`` engine-portable mix32
    hashes per key -> bit positions in an ``n_bits``-wide filter, folded
    into <= n_bits/32 ``(word, bits)`` rows via ``bit_or``. The filter is
    a tiny DataFrame, not driver state — broadcast it to probe.

    At 100 TB this is THE pre-shuffle pruning move: a fact scan keeps
    only rows whose key *might* be in the dim subset (no false
    negatives), cutting the join shuffle by the true selectivity before
    any wide exchange. Spark's own runtime row-group bloom pruning
    covers simple cases; this form makes the filter an explicit,
    composable DataFrame with engine-exact hashes.
    """
    from db_loganalyzer_spark.operators.sketches import mix32

    if n_bits & (n_bits - 1):
        raise ValueError("n_bits must be a power of two")
    pos = build.select(
        F.explode(
            F.array(
                *[
                    (mix32(F.col(key_col), salt=s + 1) % n_bits).alias("p")
                    for s in range(k)
                ]
            )
        ).alias("pos")
    )
    return (
        pos.select(
            F.shiftright("pos", 5).alias("word"),
            F.element_at(_pow2_array(), (F.col("pos") % 32 + 1).cast("int")).alias(
                "mask"
            ),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )


def bloom_prefilter(
    probe: DataFrame,
    bloom: DataFrame,
    key_col: str,
    n_bits: int = 4096,
    k: int = 3,
    flag_col: str = "bloom_pass",
) -> DataFrame:
    """Probe side: annotate each row with whether ALL ``k`` hash bits are
    set (possible member — no false negatives by construction). ``k``
    broadcast joins of the <= n_bits/32-row filter; everything stays
    JVM-side (mix32 is column arithmetic).

    Filter with ``.filter(F.col(flag_col))`` before the real join; keep
    the exact join afterward to drop the false positives."""
    from db_loganalyzer_spark.operators.sketches import mix32

    out = probe
    hits = []
    for s in range(k):
        pos = mix32(F.col(key_col), salt=s + 1) % n_bits
        w = bloom.select(
            F.col("word").alias(f"__w{s}"), F.col("bits").alias(f"__b{s}")
        )
        out = out.withColumn(f"__p{s}", pos).join(
            F.broadcast(w),
            F.shiftright(f"__p{s}", 5) == F.col(f"__w{s}"),
            "left",
        )
        hits.append(
            F.col(f"__b{s}").isNotNull()
            & (
                F.col(f"__b{s}").bitwiseAND(
                    F.element_at(
                        _pow2_array(), (F.col(f"__p{s}") % 32 + 1).cast("int")
                    )
                )
                != 0
            )
        )
    cond = hits[0]
    for h in hits[1:]:
        cond = cond & h
    out = out.withColumn(flag_col, cond)
    return out.drop(
        *[c for s in range(k) for c in (f"__p{s}", f"__w{s}", f"__b{s}")]
    )


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    salt_from: list[str],
    salt_parts: int = 16,
) -> DataFrame:
    """J13 — manually salted repartition inner join for skewed fact keys.

    A plain shuffle join hashes both sides on the key, so one hot key
    (a customer with 10^8 orders at 100 TB) lands its entire fact slice
    in ONE shuffle partition — the task that never finishes. Salting
    bounds it: the fact side gets ``salt = pmod(xxhash64(salt_from),
    salt_parts)`` from a column set that VARIES WITHIN a key (a row id,
    never the key itself), the dim side is replicated ``salt_parts``
    times via one explode, and the join key becomes (key, salt). Every
    (key, salt) group holds ~1/salt_parts of the hot key's rows; each
    fact row still meets exactly one replica of its dim row, so the
    result is ROW-FOR-ROW the plain inner join — which is also why the
    oracle is simply the unsalted SQL.

    The trade, stated: the dim side shuffles salt_parts× its size, so
    this pays off when fact >> dim but dim is past broadcast range.
    Pick salt_parts ≈ (hottest key's rows) / (rows a task should own).
    Complements AQE skew-join (OptimizeSkewedJoin) rather than
    duplicating it: AQE only splits sort-merge/shuffle-hash partitions
    past skewedPartitionThresholdInBytes on BATCH plans — salting also
    covers streaming micro-batches (AQE is disabled under streaming),
    many-medium-hot-keys below AQE's threshold, and aggregations piggy-
    backed on the salted layout (the a33 pattern).

    Reference anchor: the reference joins are single-process DuckDB
    (log_analysis/log_loader.py-style SQL) where skew is invisible;
    this is the distributed restatement of the same equi-join contract.
    """
    salt = F.pmod(
        F.xxhash64(*[F.col(c) for c in salt_from]), F.lit(salt_parts)
    ).cast("int")
    f = fact.withColumn("__fsalt", salt)
    d = dim.withColumn(
        "__dsalt", F.explode(F.sequence(F.lit(0), F.lit(salt_parts - 1)))
    )
    joined = f.join(
        d,
        (f[fact_key] == d[dim_key]) & (f["__fsalt"] == d["__dsalt"]),
    )
    if fact_key == dim_key:
        # the condition-form join keeps BOTH same-named key columns;
        # drop the dim side's so a post-join select of the key is not
        # ambiguous (the keys are equal on every inner-join row)
        joined = joined.drop(d[dim_key])
    return joined.drop("__fsalt", "__dsalt")


def choose_salt_parts(
    max_rows: int,
    total_rows: int,
    n_keys: int,
    *,
    skew_threshold: float = 4.0,
    target_rows_per_task: int = 5_000_000,
    max_parts: int = 256,
) -> int:
    """J15's decision rule — the deterministic bridge from a37's skew
    report to j13's ``salt_parts`` dial. Inputs are the report's global
    summary columns; output is the salt factor S (1 = don't salt).

    The rule, stated once so every job applies the same policy:

    1. No skew, no salt: if ``max_rows * n_keys <= skew_threshold *
       total_rows`` (i.e. the hottest key is within ``skew_threshold``x
       the mean — the same ratio AQE's skewedPartitionFactor tests,
       default 5.0; 4.0 here errs toward salting), return 1. Salting
       uniform data only multiplies the dim shuffle for nothing.
    2. Hot key fits one task, no salt: S_need = ceil(max_rows /
       target_rows_per_task); if <= 1, return 1.
    3. Else round S_need UP to a power of two (hash-partition groups
       split evenly only at pow2 factors) and clamp to ``max_parts``
       (dim replication cost is S x |dim| — past a point, prefer
       rethinking the join).

    The comparison in (1) runs in double — the a37 lesson: int64
    ``max_rows * n_keys`` overflows silently in the exact domain this
    rule exists for (10^12 rows x 10^9 keys)."""
    if n_keys <= 0 or total_rows <= 0:
        return 1
    if float(max_rows) * float(n_keys) <= skew_threshold * float(total_rows):
        return 1
    need = -(-max_rows // target_rows_per_task)  # ceil div, exact ints
    if need <= 1:
        return 1
    return min(1 << (need - 1).bit_length(), max_parts)


def decide_salt_parts(
    fact: DataFrame,
    fact_key: str,
    *,
    skew_threshold: float = 4.0,
    target_rows_per_task: int = 5_000_000,
    max_parts: int = 256,
) -> int:
    """Profile ``fact_key`` with a37's skew_report and apply
    :func:`choose_salt_parts`. One map-side-combined count-per-key pass
    plus a bounded (top-1 row) collect — at 100 TB this is the cheap
    probe you run BEFORE committing the join strategy, not a per-query
    tax: profile once per key per ingest epoch and reuse the decision."""
    from .aggregates import skew_report

    row = (
        skew_report(fact, [fact_key], top_k=1)
        .select("max_rows", "total_rows", "n_keys")
        .first()
    )
    if row is None:
        return 1
    return choose_salt_parts(
        int(row["max_rows"]), int(row["total_rows"]), int(row["n_keys"]),
        skew_threshold=skew_threshold,
        target_rows_per_task=target_rows_per_task,
        max_parts=max_parts,
    )


def pit_lookup(
    facts: DataFrame,
    dim: DataFrame,
    key: str,
    probe_us: str = "probe_us",
    valid_from_us: str = "valid_from_us",
    valid_to_us: str = "valid_to_us",
) -> DataFrame:
    """J14 — point-in-time (feature-store) lookup: each fact row joins
    the ``state`` of the dimension VERSION that was active at its probe
    time — equi join
    on the key plus half-open containment ``valid_from <= probe <
    valid_to`` (open current version: NULL valid_to). The enrichment
    move that keeps training features free of serving skew: the model
    sees what was true THEN, never a later version. SCD2 intervals
    partition each key's timeline, so at most one version matches;
    probes before a key's first version keep NULL state (left join).

    Plan shape: a shuffled EQUI join on the key with the containment as
    a post-join band filter — versions per key are bounded (state-change
    counts, not event counts), so the fan-in is small; AQE's skew join
    covers hot keys. Same scale argument as j03's equi-key-bounded
    band join.

    reference: the reference reconstructs point-in-time recovery state
    by scanning backward per anchor (tools/recovery_detector.py:155-
    207); this is the set-based form over a versioned dimension.
    """
    d = dim.select(
        F.col(key).alias("__k"),
        F.col(valid_from_us).alias("__vf"),
        F.col(valid_to_us).alias("__vt"),
        "state",
    )
    cond = (
        (facts[key] == d["__k"])
        & (facts[probe_us] >= d["__vf"])
        & (d["__vt"].isNull() | (facts[probe_us] < d["__vt"]))
    )
    return facts.join(d, cond, "left").drop("__k", "__vf", "__vt")
