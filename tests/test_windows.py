"""Unit tests for the window/sequence family on hand-built frames with
known answers (the reference's semantics from SURVEY §2.5)."""

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from db_loganalyzer_spark.operators import windows as W


def _df(spark, rows):
    return spark.createDataFrame(
        [(i, datetime(2024, 1, 1, 0, 0, s), v) for i, (s, v) in enumerate(rows)],
        "event_id long, ts timestamp, value double",
    )


def test_global_order_warning_guard(spark):
    # VERDICT r5 item 5: the empty-partition default must be LOUD. The
    # warning fires for W1 with partition_by=None, and does NOT fire for
    # a bucketed call, the stitched form, or an explicit opt-in.
    import warnings

    df = _df(spark, [(0, 10.0), (1, 5.0)]).withColumn(
        "machine", F.lit("m1")
    )
    with pytest.warns(W.GlobalOrderWarning):
        W.value_drops(df, "value")
    with warnings.catch_warnings():
        warnings.simplefilter("error", W.GlobalOrderWarning)
        W.value_drops(df, "value", partition_by=["machine"])
        W.value_drops_stitched(df, "value")
        W.value_drops(df, "value", allow_global_order=True)


def test_value_drops_skips_nulls(spark):
    # last NON-NULL previous, not plain lag (global_scanner.py:294-321)
    df = _df(spark, [(0, 10.0), (1, None), (2, 5.0), (3, None), (4, 7.0)])
    out = W.value_drops(df, "value").select("event_id", "prev_value", "drop_amount")
    rows = {r.event_id: (r.prev_value, r.drop_amount) for r in out.collect()}
    assert rows == {2: (10.0, 5.0)}  # 7.0 > 5.0 (prev non-null) is not a drop


def test_value_resets(spark):
    # prev is the last non-null value: after row 1 (5.0) prev=5.0, so row 2
    # (100.0) is NOT a reset even though row 0 was > high
    df = _df(spark, [(0, 2e6), (1, 5.0), (2, 100.0), (3, 2e6), (4, 3e6)])
    out = W.value_resets(df, "value", high=1e6, low=1e6)
    assert [r.event_id for r in out.collect()] == [1]


def test_sessionize_and_summary(spark):
    df = _df(spark, [(0, 1.0), (1, 1.0), (30, 1.0), (31, 1.0), (59, 1.0)])
    sessions = W.sessionize(df, gap_seconds=10)
    got = {r.event_id: r.session_id for r in sessions.collect()}
    assert got == {0: 0, 1: 0, 2: 1, 3: 1, 4: 2}
    summary = W.session_summary(sessions).collect()
    assert [r.n_events for r in summary] == [2, 2, 1]


def test_burst_windows(spark):
    # 3 events within 5s => row i flagged when t[i]-t[i-2] <= 5
    df = _df(spark, [(0, 1.0), (2, 1.0), (4, 1.0), (30, 1.0)])
    out = W.burst_windows(df, k=3, window_seconds=5)
    assert [r.event_id for r in out.collect()] == [2]


def test_marker_chunks_marker_closes_chunk(spark):
    df = _df(spark, [(0, 1.0), (1, 1.0), (2, 1.0), (3, 1.0)])
    marked = df.withColumn("m", F.col("event_id") == 1)
    out = W.marker_chunks(marked, F.col("m"))
    got = {r.event_id: r.chunk_id for r in out.collect()}
    assert got == {0: 0, 1: 0, 2: 1, 3: 1}  # marker row 1 ends chunk 0


# ---------------------------------------------------------------------------
# Stitched global-order variants: must be bit-identical to the single-
# partition global window at >= 2 range partitions, including null runs,
# ts ties, and partitions whose carry must skip over all-null predecessors.
# ---------------------------------------------------------------------------


def _wide_df(spark, n=120, seed=7):
    import random

    rng = random.Random(seed)
    rows = []
    for i in range(n):
        # ts ties every ~4 rows; ~1/3 null values; long null runs at 40-60
        s = (i // 4) * 3
        v = None if (40 <= i < 60 or rng.random() < 0.33) else float(rng.randint(0, 50))
        rows.append((i, datetime(2024, 1, 1, 0, 0, 0), v, s))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, value double, off long"
    ).withColumn("ts", F.timestamp_add("SECOND", F.col("off"), F.col("ts"))).drop("off")
    return df


def _sorted_rows(df):
    cols = sorted(df.columns)
    return sorted(
        tuple(r[c] for c in cols) for r in df.collect()
    )


def test_value_drops_stitched_matches_global(spark):
    df = _wide_df(spark)
    glob = W.value_drops(df, "value")
    st = W.value_drops_stitched(df, "value", num_partitions=5)
    # the window really runs across multiple range partitions
    part = W._range_sorted(df, ["ts", "event_id"], 5)
    assert part.rdd.getNumPartitions() >= 2
    assert _sorted_rows(st) == _sorted_rows(glob)


@pytest.mark.slow
def test_stitched_equivalence_property(spark):
    """Randomized equivalence: for arbitrary (ts-tied, null-ridden)
    series and partition counts, the stitched value drops must equal the
    single-partition global form. Hypothesis shrinks failures to minimal
    series; examples are capped so the suite stays fast."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    values = st.lists(
        st.one_of(st.none(), st.integers(min_value=0, max_value=9).map(float)),
        min_size=2,
        max_size=24,
    )

    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(vals=values, nparts=st.integers(min_value=2, max_value=5),
           gap=st.integers(min_value=1, max_value=4))
    def check(vals, nparts, gap):
        rows = [
            # ts ties every 2 rows; event_id breaks them
            (i, datetime(2024, 1, 1, 0, 0, 0) + __import__("datetime").timedelta(
                seconds=(i // 2) * gap), v)
            for i, v in enumerate(vals)
        ]
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, value double"
        )
        assert _sorted_rows(
            W.value_drops_stitched(df, "value", num_partitions=nparts)
        ) == _sorted_rows(W.value_drops(df, "value"))

    check()


def test_stitched_prev_columns_match_single_partition_windows(spark):
    """The multi-column stitched helper, column by column, equals the
    single-partition W1/W2 windows (last non-null previous value) over
    series with tied timestamps and columns that are null on different
    rows. Small enough for the default gate; the slow sweep above covers
    the one-column wrapper."""
    import functools
    from datetime import timedelta

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
    from pyspark.sql import DataFrame

    cell = st.one_of(st.none(), st.integers(min_value=0, max_value=9).map(float))

    @settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
    @given(vals=st.lists(st.tuples(cell, cell), min_size=2, max_size=24),
           nparts=st.integers(min_value=2, max_value=5))
    def check(vals, nparts):
        t0 = datetime(2024, 1, 1)
        df = spark.createDataFrame(
            # ts ties every 2 rows; event_id breaks them
            [(i, t0 + timedelta(seconds=i // 2), a, b) for i, (a, b) in enumerate(vals)],
            "event_id long, ts timestamp, a double, b double",
        )
        refs = {
            "drop": lambda c: W.value_drops(df, c, allow_global_order=True),
            "reset": lambda c: W.value_resets(
                df, c, high=5.0, low=5.0, allow_global_order=True),
        }
        want = functools.reduce(DataFrame.union, [
            ref(c).select(F.lit(kind), F.lit(c), "event_id", "prev_value")
            for c in ("a", "b") for kind, ref in refs.items()
        ])
        got = set()
        out = W.stitched_prev(df, ["a", "b"], num_partitions=nparts)
        for r in out.collect():
            for c in ("a", "b"):
                v, prev = r[c], r[f"prev_{c}"]
                if v is None or prev is None:
                    continue
                if v < prev:
                    got.add(("drop", c, r.event_id, prev))
                if prev > 5.0 and v < 5.0:
                    got.add(("reset", c, r.event_id, prev))
        assert got == {tuple(r) for r in want.collect()}

    check()


def test_stitched_prev_one_partition_is_one_plain_window(spark, persistent_rdds):
    """Over an input planned as one partition (a ``coalesce(1)`` read)
    stitched_prev is one plain window: the same rows and ``prev_<col>``
    values as its range path on the same rows (ts ties, null runs), and
    no localCheckpoint or any other persistent RDD left behind."""
    df = _wide_df(spark).withColumn(
        "b", F.when(F.col("event_id") % 5 != 0, F.col("event_id") % 7).cast("double")
    )
    one = df.coalesce(1)
    assert W.planned_single_partition(one) and not W.planned_single_partition(df)
    before = persistent_rdds()
    got = W.stitched_prev(one, ["value", "b"])
    rows = got.collect()
    assert persistent_rdds() == before
    assert got.columns == df.columns + ["prev_value", "prev_b"]
    assert rows == sorted(rows, key=lambda r: (r.ts, r.event_id))  # in scan order
    assert any(r.prev_value is not None and r.prev_b is not None for r in rows)
    for nparts in (2, 3, 4, 5):
        ranged = W.stitched_prev(df, ["value", "b"], num_partitions=nparts).collect()
        assert sorted(ranged, key=lambda r: r.event_id) == sorted(
            rows, key=lambda r: r.event_id
        ), nparts


def test_session_funnel_tie_and_session_semantics(spark):
    import datetime as dtm

    from db_loganalyzer_spark.operators.windows import (
        session_funnel,
        sessionize,
    )

    t0 = dtm.datetime(2024, 1, 1)

    def t(s):
        return t0 + dtm.timedelta(seconds=s)

    rows = [
        # user 1, session 0: view -> purchase (converts, 5s)
        (1, 1, t(0), "view"), (2, 1, t(5), "purchase"),
        # user 1, session 1 (gap > 60): purchase BEFORE view (no conversion)
        (3, 1, t(100), "purchase"), (4, 1, t(105), "view"),
        # user 2: purchase tied on ts with the view; view has the SMALLER
        # event_id so it sorts first in the total order -> converts at 0s
        (5, 2, t(0), "view"), (6, 2, t(0), "purchase"),
        # user 3: tied ts but view has the LARGER id -> no conversion
        (8, 3, t(0), "view"), (7, 3, t(0), "purchase"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string"
    )
    sess = sessionize(df, 60, partition_by=["user_id"])
    out = {
        (r.user_id, r.session_id): (r.converted, r.seconds_to_convert)
        for r in session_funnel(
            sess, "view", "purchase", partition_by=["user_id"]
        ).collect()
    }
    assert out[(1, 0)] == (True, 5.0)
    assert out[(1, 1)] == (False, None)
    assert out[(2, 0)] == (True, 0.0)
    assert out[(3, 0)] == (False, None)


def test_trailing_window_agg(spark):
    import datetime as dtm

    from db_loganalyzer_spark.operators.windows import trailing_window_agg

    t0 = dtm.datetime(2024, 1, 1)
    rows = [
        (1, 1, t0, 10.0),
        (1, 2, t0 + dtm.timedelta(seconds=1800), 20.0),
        (1, 3, t0 + dtm.timedelta(seconds=4000), 40.0),  # 1st drops out
        (1, 4, t0 + dtm.timedelta(seconds=4000), 60.0),  # tied ts: both in-frame
        (2, 5, t0, None),  # null value: counted in neither n nor sum
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, value double"
    )
    out = {
        r["event_id"]: (r["n_trailing"], r["avg_trailing"], r["max_trailing"])
        for r in trailing_window_agg(df, "value", 3600, ["user_id"]).collect()
    }
    assert out[1] == (1, 10.0, 10.0)
    assert out[2] == (2, 15.0, 20.0)
    # at t=4000 the frame is [400, 4000]: events 2,3,4 — and the tied
    # rows see each other (RANGE frame)
    assert out[3] == (3, 40.0, 60.0)
    assert out[4] == (3, 40.0, 60.0)
    assert out[5] == (0, None, None)


def test_funnel_steps_ordering(spark):
    import datetime as dtm

    from db_loganalyzer_spark.operators.windows import funnel_steps

    def t(s):
        return dtm.datetime(2024, 1, 1, 0, 0, s)

    rows = [
        # session 1: click BEFORE view must not count; the later click does
        (1, t(1), 1, "click"),
        (1, t(2), 2, "view"),
        (1, t(3), 3, "click"),
        (1, t(4), 4, "purchase"),
        # session 2: completes steps 1-2 only
        (2, t(1), 5, "view"),
        (2, t(2), 6, "click"),
        # session 3: purchase tied with click: strict > excludes it
        (3, t(1), 7, "view"),
        (3, t(2), 8, "click"),
        (3, t(2), 9, "purchase"),
    ]
    df = spark.createDataFrame(
        rows, "sess long, ts timestamp, event_id long, event_type string"
    )
    out = {
        r["sess"]: (r["steps_completed"], r["completed"],
                    r["step2_us"], r["step3_us"])
        for r in funnel_steps(
            df, ["view", "click", "purchase"], ["sess"]
        ).collect()
    }
    us = lambda s: int(t(s).timestamp() * 1_000_000)  # noqa: E731
    assert out[1] == (3, True, us(3), us(4))  # pre-view click skipped
    assert out[2] == (2, False, us(2), None)
    assert out[3] == (2, False, us(2), None)  # tie excluded by strict >


def test_coalesce_intervals_semantics(spark):
    """W21: overlap merges, touching merges (closed-interval convention),
    nested absorbs, disjoint splits; islands number 0-based per key."""
    iv = spark.createDataFrame(
        [
            # key "a": [0,10] overlaps [5,20]; [20,25] touches -> one island
            ("a", 0, 10), ("a", 5, 20), ("a", 20, 25),
            # gap, then [30,40] with nested [32,35] -> second island
            ("a", 30, 40), ("a", 32, 35),
            # key "b": two disjoint islands, input order scrambled
            ("b", 50, 55), ("b", 10, 12),
        ],
        "k string, start_us long, end_us long",
    )
    out = {
        (r["k"], r["island_id"]): (
            r["window_start"], r["window_end"], r["n_intervals"]
        )
        for r in W.coalesce_intervals(iv, ["k"]).collect()
    }
    assert out == {
        ("a", 0): (0, 25, 3),
        ("a", 1): (30, 40, 2),
        ("b", 0): (10, 12, 1),
        ("b", 1): (50, 55, 1),
    }


def test_coalesce_intervals_vs_bruteforce_property(spark):
    """Randomized: islands equal a python sweep over sorted intervals."""
    import random

    rng = random.Random(77)
    rows = [
        (f"k{rng.randrange(3)}", s, s + rng.randrange(0, 15))
        for _ in range(200)
        for s in [rng.randrange(0, 100)]
    ]
    iv = spark.createDataFrame(rows, "k string, start_us long, end_us long")
    got = sorted(
        (r["k"], r["window_start"], r["window_end"], r["n_intervals"])
        for r in W.coalesce_intervals(iv, ["k"]).collect()
    )
    want = []
    by_key = {}
    for k, s, e in rows:
        by_key.setdefault(k, []).append((s, e))
    for k, ivs in by_key.items():
        ivs.sort()
        cur_s, cur_e, n = ivs[0][0], ivs[0][1], 1
        for s, e in ivs[1:]:
            if s > cur_e:
                want.append((k, cur_s, cur_e, n))
                cur_s, cur_e, n = s, e, 1
            else:
                cur_e = max(cur_e, e)
                n += 1
        want.append((k, cur_s, cur_e, n))
    assert got == sorted(want)


def test_coalesce_intervals_half_open_semantics(spark):
    """half_open=True: [start, end) — adjacent intervals (start == prev
    end) do NOT merge; true overlaps still do."""
    iv = spark.createDataFrame(
        [("a", 0, 10), ("a", 10, 20), ("a", 15, 30), ("a", 30, 35)],
        "k string, start_us long, end_us long",
    )
    out = {
        (r["k"], r["island_id"]): (
            r["window_start"], r["window_end"], r["n_intervals"]
        )
        for r in W.coalesce_intervals(iv, ["k"], half_open=True).collect()
    }
    # [0,10) | [10,20)∪[15,30) | [30,35): adjacency splits, overlap merges
    assert out == {
        ("a", 0): (0, 10, 1),
        ("a", 1): (10, 30, 2),
        ("a", 2): (30, 35, 1),
    }


def test_coalesce_intervals_half_open_equals_subtract1_rewrite(spark):
    """Pin the convention: half_open=True on integer bounds equals the
    documented caller-side rewrite — coalesce [s, e-1] closed, then add
    1 back to window_end. Randomized over dense small ranges so both
    adjacency and overlap cases occur."""
    import random

    rng = random.Random(78)
    rows = [
        (f"k{rng.randrange(3)}", s, s + rng.randrange(1, 12))
        for _ in range(300)
        for s in [rng.randrange(0, 80)]
    ]
    iv = spark.createDataFrame(rows, "k string, start_us long, end_us long")
    got = sorted(
        (r["k"], r["island_id"], r["window_start"], r["window_end"],
         r["n_intervals"])
        for r in W.coalesce_intervals(iv, ["k"], half_open=True).collect()
    )
    shifted = iv.withColumn("end_us", F.col("end_us") - 1)
    want = sorted(
        (r["k"], r["island_id"], r["window_start"], r["window_end"] + 1,
         r["n_intervals"])
        for r in W.coalesce_intervals(shifted, ["k"]).collect()
    )
    assert got == want
