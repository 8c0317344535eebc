"""Structured Streaming forms vs their batch operators: a file-source
stream drained with availableNow must produce exactly what the batch
operator computes over the same parquet — the streaming plan is the same
logical aggregation, only incremental."""

import pytest

from pyspark.sql import functions as F

from db_loganalyzer_spark.operators import aggregates as A
from db_loganalyzer_spark.operators import windows as W
from db_loganalyzer_spark.sources.tables import load_table
from db_loganalyzer_spark.streaming import (
    read_events_stream,
    run_available_now,
    streaming_rollup,
    streaming_sessions,
    streaming_value_drops,
)


@pytest.fixture(scope="module")
def events_stream(spark, sf_dir):
    return read_events_stream(spark, sf_dir)


@pytest.fixture(scope="module")
def events_batch(spark, sf_dir):
    return load_table(spark, sf_dir, "events")


def test_streaming_rollup_matches_batch(
    spark, sf_dir, events_stream, events_batch, tmp_path_factory
):
    """Append mode emits a window only once the watermark passes its end,
    so the stream yields exactly the CLOSED windows; the only absentees
    must be the still-open tail near the stream's max event time."""
    ck = str(tmp_path_factory.mktemp("ck_rollup"))
    got = run_available_now(
        streaming_rollup(
            events_stream,
            3600,
            ["event_type"],
            "value",
            watermark_delay="0 seconds",
        ),
        "rollup_stream",
        ck,
    )
    want = A.windowed_rollup(
        events_batch, 3600, ["event_type"], "value", exact_percentile=False
    )
    max_ts = events_batch.agg(
        F.unix_timestamp(F.max("ts")).alias("m")
    ).collect()[0]["m"]
    key = ["window_start", "event_type"]
    got_rows = {tuple(r[k] for k in key): r for r in got.collect()}
    want_rows = {tuple(r[k] for k in key): r for r in want.collect()}
    assert set(got_rows) <= set(want_rows) and len(got_rows) > 0
    for k in set(want_rows) - set(got_rows):  # only the open tail missing
        assert k[0] + 3600 >= max_ts
    for k, gr in got_rows.items():
        wr = want_rows[k]
        assert gr["n"] == wr["n"]
        # batch rounds its avg to 4 decimals; the stream emits it unrounded
        assert abs(gr["avg_value"] - wr["avg_value"]) < 6e-5
        assert abs(gr["max_value"] - wr["max_value"]) < 1e-9
        assert abs(gr["p95_value"] - wr["p95_value"]) < 1e-9


def test_streaming_sessions_match_batch(
    spark, sf_dir, events_stream, events_batch, tmp_path_factory
):
    ck = str(tmp_path_factory.mktemp("ck_sessions"))
    got = run_available_now(
        streaming_sessions(
            events_stream, 600, ["user_id"], watermark_delay="0 seconds"
        ),
        "sessions_stream",
        ck,
    )
    want = W.session_summary(
        W.sessionize(events_batch, 600, partition_by=["user_id"]),
        partition_by=["user_id"],
    ).drop("session_id")
    max_ts_us = events_batch.agg(
        F.unix_micros(F.max("ts")).alias("m")
    ).collect()[0]["m"]
    key = ["user_id", "start_ts_us"]
    got_rows = {tuple(r[k] for k in key): r for r in got.collect()}
    want_rows = {tuple(r[k] for k in key): r for r in want.collect()}
    assert set(got_rows) <= set(want_rows) and len(got_rows) > 0
    for k in set(want_rows) - set(got_rows):
        # only sessions the watermark couldn't close (gap still open at
        # stream end) may be absent
        assert want_rows[k]["end_ts_us"] + 600 * 1_000_000 >= max_ts_us
    for k, gr in got_rows.items():
        wr = want_rows[k]
        assert gr["end_ts_us"] == wr["end_ts_us"]
        assert gr["n_events"] == wr["n_events"]
        assert abs(gr["duration_s"] - wr["duration_s"]) < 1e-6


def test_streaming_value_drops_match_batch(
    spark, events_stream, events_batch, tmp_path_factory
):
    ck = str(tmp_path_factory.mktemp("ck_drops"))
    got = run_available_now(
        streaming_value_drops(events_stream), "drops_stream", ck
    )
    want = W.value_drops(events_batch, "value", partition_by=["user_id"])
    got_rows = {
        r["event_id"]: (r["value"], r["prev_value"], r["drop_amount"])
        for r in got.collect()
    }
    want_rows = {
        r["event_id"]: (r["value"], r["prev_value"], r["drop_amount"])
        for r in want.collect()
    }
    assert set(got_rows) == set(want_rows) and len(want_rows) > 0
    for eid, wv in want_rows.items():
        gv = got_rows[eid]
        assert all(abs(a - b) < 1e-9 for a, b in zip(gv, wv))


def test_streaming_rollup_discards_late_data(
    spark, tmp_path, tmp_path_factory
):
    """Late-data semantics, as Spark actually guarantees them: a late row
    whose window state is STILL LIVE merges into the aggregate (the
    watermark is a state-eviction bound, not an input filter), and in
    append mode a window is emitted+evicted at the end of the first batch
    whose watermark passed its end — one batch after the advancing event.
    Only a row arriving AFTER eviction is dropped. So: batch1 fills the
    10:00 window and advances event time past it; batch2 runs with the
    advanced watermark, emitting and evicting the window; batch3's late
    10:45 row then finds no state and must be discarded, never
    re-emitting or reopening the closed window."""
    schema = "event_id long, ts string, event_type string, value double"

    def mk(rows):
        return spark.createDataFrame(rows, schema).withColumn(
            "ts", F.col("ts").cast("timestamp")
        )

    land = tmp_path / "landing_late"
    mk(
        [
            (1, "2024-01-01 10:00:10", "e", 1.0),
            (2, "2024-01-01 10:30:00", "e", 3.0),
            (3, "2024-01-01 12:00:01", "e", 5.0),  # watermark -> 12:00:01
        ]
    ).coalesce(1).write.parquet(str(land / "batch1"))
    mk([(4, "2024-01-01 12:10:00", "e", 7.0)]).coalesce(1).write.parquet(
        str(land / "batch2")  # 10:00 window emitted + evicted here
    )
    mk(
        [
            (5, "2024-01-01 10:45:00", "e", 100.0),  # late: state is gone
            (6, "2024-01-01 12:30:00", "e", 9.0),
        ]
    ).coalesce(1).write.parquet(str(land / "batch3"))
    stream = (
        spark.readStream.schema(mk([]).schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(str(land))
    )
    ck = str(tmp_path_factory.mktemp("ck_late"))
    got = run_available_now(
        streaming_rollup(
            stream, 3600, ["event_type"], "value",
            watermark_delay="0 seconds",
        ),
        "late_stream",
        ck,
    )
    ten = int(
        spark.sql("SELECT unix_timestamp('2024-01-01 10:00:00')").collect()[0][0]
    )
    ten_rows = got.filter(F.col("window_start") == ten).collect()
    assert len(ten_rows) == 1  # emitted exactly once, never reopened
    # the late event (value=100.0) is absent from the closed window
    assert ten_rows[0]["n"] == 2
    assert abs(ten_rows[0]["max_value"] - 3.0) < 1e-9


def test_streaming_value_drops_state_spans_batches(
    spark, sf_dir, tmp_path_factory, tmp_path
):
    """Split the events into two parquet files ingested as two micro-batches
    (maxFilesPerTrigger=1): a drop whose 'previous value' arrived in batch 1
    and whose low value arrives in batch 2 must still be emitted — that is
    the GroupState carrying last_value across batches."""
    ev = load_table(spark, sf_dir, "events")
    mid_us = ev.agg(
        F.percentile(F.unix_micros("ts"), 0.5).alias("m")
    ).collect()[0]["m"]
    mid = F.timestamp_micros(F.lit(int(mid_us)))
    land = tmp_path / "landing"
    ev.filter(F.col("ts") <= mid).coalesce(1).write.parquet(
        str(land / "batch1")
    )
    ev.filter(F.col("ts") > mid).coalesce(1).write.parquet(
        str(land / "batch2")
    )
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(str(land))
    )
    ck = str(tmp_path_factory.mktemp("ck_drops2"))
    got = run_available_now(
        streaming_value_drops(stream), "drops_stream2", ck
    )
    want = W.value_drops(ev, "value", partition_by=["user_id"])
    # batch-boundary pairs are only equal if per-key order survives the
    # split; splitting on a global ts cut preserves it.
    assert sorted(r["event_id"] for r in got.collect()) == sorted(
        r["event_id"] for r in want.collect()
    )


def test_streaming_ewma_matches_batch(
    spark, events_stream, events_batch, tmp_path_factory
):
    from db_loganalyzer_spark.streaming import streaming_ewma

    ck = str(tmp_path_factory.mktemp("ck_ewma"))
    got = run_available_now(streaming_ewma(events_stream), "ewma_stream", ck)
    want = W.ewma(
        events_batch.filter(F.col("value").isNotNull()),
        "value",
        partition_by=["user_id"],
    )
    got_rows = {r["event_id"]: r["ewma"] for r in got.collect()}
    want_rows = {r["event_id"]: r["ewma"] for r in want.collect()}
    assert set(got_rows) == set(want_rows) and len(want_rows) > 0
    # the recursive fold is float-op-identical to pandas ewm(adjust=False)
    assert all(got_rows[k] == want_rows[k] for k in want_rows)


def test_streaming_ewma_state_crosses_batches(spark, tmp_path, tmp_path_factory):
    """The per-key smoothed value must survive micro-batch boundaries:
    feed two files as separate micro-batches and check the second
    batch's first smoothed value continues from the first batch's last
    state, not from a fresh series."""
    import datetime as dt
    import os

    from db_loganalyzer_spark.streaming import streaming_ewma

    schema = "event_id long, ts timestamp, user_id long, value double"
    src = str(tmp_path / "src")
    os.makedirs(src)
    b1 = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 0, 0, 0), 7, 10.0),
         (2, dt.datetime(2024, 1, 1, 0, 0, 1), 7, 20.0)],
        schema,
    )
    b1.coalesce(1).write.parquet(f"{src}/b1")
    b2 = spark.createDataFrame(
        [(3, dt.datetime(2024, 1, 1, 0, 0, 2), 7, 30.0)], schema
    )
    b2.coalesce(1).write.parquet(f"{src}/b2")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    ck = str(tmp_path_factory.mktemp("ck_ewma2"))
    out = run_available_now(streaming_ewma(stream), "ewma_two_batches", ck)
    rows = {r["event_id"]: r["ewma"] for r in out.collect()}
    # s1=10; s2=0.7*10+0.3*20=13; s3 must CONTINUE: 0.7*13+0.3*30=18.1
    assert rows[1] == 10.0
    assert abs(rows[2] - 13.0) < 1e-12
    assert abs(rows[3] - 18.1) < 1e-12


def test_streaming_hll_matches_batch(
    spark, sf_dir, events_stream, events_batch, tmp_path_factory
):
    """The streaming register table finished through hll_finish must be
    bit-identical to the batch sketch over the same closed windows —
    registers are mergeable state, so micro-batch order cannot matter."""
    from db_loganalyzer_spark.operators.sketches import (
        hll_finish,
        hll_rank,
        hll_registers,
    )
    from db_loganalyzer_spark.streaming import streaming_hll_registers

    ck = str(tmp_path_factory.mktemp("ck_hll"))
    got = hll_finish(
        run_available_now(
            streaming_hll_registers(events_stream, 86400, "user_id", p=10),
            "hll_stream",
            ck,
        ),
        10,
        ["window_start"],
    )
    # batch reference: same registers per day, same finisher
    day = (F.floor(F.unix_timestamp("ts") / 86400) * 86400).cast("long")
    pair = hll_rank("user_id", 10)
    batch_regs = (
        events_batch.filter(F.col("user_id").isNotNull())
        .select(
            day.alias("window_start"),
            pair.getField("bucket").alias("bucket"),
            pair.getField("rho").alias("rho"),
        )
        .groupBy("window_start", "bucket")
        .agg(F.max("rho").alias("rho"))
    )
    want = hll_finish(batch_regs, 10, ["window_start"])
    max_ts = events_batch.agg(
        F.unix_timestamp(F.max("ts")).alias("m")
    ).collect()[0]["m"]
    got_rows = {r["window_start"]: r for r in got.collect()}
    want_rows = {r["window_start"]: r for r in want.collect()}
    assert set(got_rows) <= set(want_rows) and len(got_rows) > 0
    for k in set(want_rows) - set(got_rows):
        assert k + 86400 >= max_ts  # only the open tail missing
    for k, gr in got_rows.items():
        wr = want_rows[k]
        assert gr["scaled_sum"] == wr["scaled_sum"]
        assert gr["estimate"] == wr["estimate"]  # bit-identical


def test_streaming_gap_fill_multi_batch_and_late_data(
    spark, tmp_path, tmp_path_factory
):
    """Cross-batch LOCF continuation: the open bucket carries across
    micro-batches and emits exactly once; a late row below the frontier
    is dropped (its row is already final)."""
    import datetime as dtm
    import os

    from db_loganalyzer_spark.streaming import (
        run_available_now,
        streaming_gap_fill,
    )

    schema = "event_id long, ts timestamp, user_id long, value double"
    src = str(tmp_path / "src")
    os.makedirs(src)

    def t(s):
        return dtm.datetime(2024, 1, 1, 0, 0, 0) + dtm.timedelta(seconds=s)

    # batch 1: buckets 0 (v=1) and 20 (v=2) -> bucket 0 emits, hole 10
    # emits, bucket 20 stays open in state
    spark.createDataFrame(
        [(1, t(5), 7, 1.0), (2, t(25), 7, 2.0)], schema
    ).coalesce(1).write.parquet(f"{src}/b1")
    # batch 2: bucket 40 (v=4) supersedes 20; a LATE row in bucket 0
    # (v=99) must be dropped, not emitted or applied
    spark.createDataFrame(
        [(3, t(45), 7, 4.0), (4, t(8), 7, 99.0)], schema
    ).coalesce(1).write.parquet(f"{src}/b2")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    ck = str(tmp_path_factory.mktemp("ck_gapfill"))
    out = run_available_now(
        streaming_gap_fill(stream, 10), "gapfill_stream", ck
    )
    base = int(dtm.datetime(2024, 1, 1).timestamp())
    rows = sorted(
        (r["bucket"] - base, r["value"], r["is_gap"]) for r in out.collect()
    )
    assert rows == [
        (0, 1.0, False),   # emitted once, late v=99 never applied
        (10, 1.0, True),   # hole carried
        (20, 2.0, False),  # open bucket from batch 1, closed by batch 2
        (30, 2.0, True),   # hole between 20 and 40
    ]  # bucket 40 still open -> not emitted


def test_streaming_cusum_state_crosses_batches(spark, tmp_path, tmp_path_factory):
    """The two-scalar CUSUM state (running sum C + its prefix min) must
    carry across micro-batches: the second batch's scores continue the
    first batch's accumulation exactly, matching the batch closed form
    with the same fixed reference."""
    import datetime as dt
    import os

    from db_loganalyzer_spark.detectors.detectors import cusum_drift
    from db_loganalyzer_spark.streaming import (
        run_available_now,
        streaming_cusum,
    )

    schema = "event_id long, ts timestamp, user_id long, value double"
    src = str(tmp_path / "src")
    os.makedirs(src)
    vals = [8.0, 14.0, 9.0, 15.0, 16.0, 7.0]
    rows = [
        (i, dt.datetime(2024, 1, 1, 0, 0, i), 7, v)
        for i, v in enumerate(vals)
    ]
    spark.createDataFrame(rows[:3], schema).coalesce(1).write.parquet(
        f"{src}/b1"
    )
    spark.createDataFrame(rows[3:], schema).coalesce(1).write.parquet(
        f"{src}/b2"
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    ck = str(tmp_path_factory.mktemp("ck_cusum"))
    got = {
        r["event_id"]: (r["cusum"], r["is_drift"])
        for r in run_available_now(
            streaming_cusum(stream, ref=10.0, threshold=6.0),
            "cusum_two_batches",
            ck,
        ).collect()
    }
    batch = spark.createDataFrame(rows, schema)
    want = {
        r["event_id"]: (r["cusum"], r["is_drift"])
        for r in cusum_drift(
            batch, "value", ["user_id"], threshold=6.0, ref=10.0
        ).collect()
    }
    assert got == want and len(want) == 6
    # hand check: dev = -2,4,-1,5,6,-3 -> s = 0,4,3,8,14,11
    assert [got[i][0] for i in range(6)] == [0.0, 4.0, 3.0, 8.0, 14.0, 11.0]
    assert [got[i][1] for i in range(6)] == [
        False, False, False, True, True, True,
    ]


# ---------------------------------------------------------------------------
# Key-bucketed state: st09/st10/st11 drained across micro-batch
# boundaries must equal their batch operators, which are the independent
# reference. The source holds MORE keys than streams._STATE_GROUPS, so at
# least one state group packs several keys, exercising the packed arrays,
# the segmented folds, and the carried-state merge.
# ---------------------------------------------------------------------------

_LATE_KEY, _LATE_EID = 3, 9100


@pytest.fixture(scope="module")
def bucketed_src(spark, tmp_path_factory):
    """Two landed files (= two micro-batches), 40 keys, with the nasty
    rows on purpose: NULL and NaN values, counter resets, equal-ts ties,
    same-bucket duplicates, a key missing from each batch, and a LATE
    row below a key's frontier."""
    import datetime as dtm
    import os

    from db_loganalyzer_spark.streaming.streams import _STATE_GROUPS

    schema = "event_id long, ts timestamp, user_id long, value double"
    src = str(tmp_path_factory.mktemp("bucketed_src") / "src")
    os.makedirs(src)

    def t(s):
        return dtm.datetime(2024, 1, 1, 0, 0, 0) + dtm.timedelta(seconds=s)

    n_keys = _STATE_GROUPS + 8
    b1, b2, eid = [], [], 0
    for u in range(n_keys - 1):
        for s, v in [(2, 10.0), (14, 12.0 + u), (14, None), (20, float("nan")),
                     (27, 9.0)]:
            eid += 1
            b1.append((eid, t(s + u), u, v))
    # key 2: same-bucket duplicate + equal-ts tie in batch 1
    b1 += [(9001, t(3 + 2), 2, 11.0), (9002, t(2 + 2), 2, 10.5)]
    # the next-to-last key is absent from batch 2, the last from batch 1
    for u in [*range(n_keys - 2), n_keys - 1]:
        for s, v in [(41, 30.0), (55, 3.0), (55 + 1, 3.0)]:
            eid += 1
            b2.append((eid, t(s + u), u, v))
    b2.append((_LATE_EID, t(1), _LATE_KEY, 99.0))  # below key 3's frontier
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(f"{src}/b1")
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(f"{src}/b2")
    batch = spark.read.schema(schema).option(
        "recursiveFileLookup", "true"
    ).parquet(src)
    per_group = (
        batch.select("user_id").distinct()
        .groupBy(F.pmod(F.hash("user_id"), F.lit(_STATE_GROUPS)))
        .count()
    )
    assert per_group.agg(F.max("count")).first()[0] >= 2
    return src, schema, batch


def _mk_stream(spark, src, schema):
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )


def _drained_rows(spark, df, name, tmp_path_factory):
    from db_loganalyzer_spark.streaming import run_available_now

    ck = str(tmp_path_factory.mktemp(f"ck_{name}"))
    out = run_available_now(df, name, ck)
    return sorted(tuple(r) for r in out.collect())


def _valued(batch):
    """The stateful stream folds drop NULL and NaN values."""
    return batch.filter(F.col("value").isNotNull() & ~F.isnan("value"))


def test_bucketed_gap_fill_equals_per_key(spark, bucketed_src, tmp_path_factory):
    """Per key, the drained stream equals batch gap_fill less the key's
    final (still-open) bucket. The late row is dropped by the stream's
    documented policy, so the reference input drops it too and every
    key, the late one included, is compared."""
    from db_loganalyzer_spark.operators.timeseries import gap_fill
    from db_loganalyzer_spark.streaming import streaming_gap_fill

    src, schema, batch = bucketed_src
    got = _drained_rows(
        spark,
        streaming_gap_fill(_mk_stream(spark, src, schema), 10),
        "gf_bucketed",
        tmp_path_factory,
    )
    ref = gap_fill(
        _valued(batch).filter(F.col("event_id") != _LATE_EID), 10, ["user_id"]
    )
    last = ref.groupBy("user_id").agg(F.max("bucket").alias("last"))
    want = sorted(
        tuple(r)
        for r in ref.join(last, "user_id")
        .filter(F.col("bucket") < F.col("last"))
        .select("user_id", "bucket", "value", "is_gap")
        .collect()
    )
    assert got == want and len(want) > 200


def test_bucketed_cusum_equals_per_key_and_batch(
    spark, bucketed_src, tmp_path_factory
):
    """The drained stream equals the batch closed form with the same
    fixed ref for every key whose rows arrived in ts order (the late
    key is excluded: the stream folds in ARRIVAL order — the documented
    in-order deployment assumption — while batch sorts globally by ts)."""
    from db_loganalyzer_spark.detectors.detectors import cusum_drift
    from db_loganalyzer_spark.streaming import streaming_cusum

    src, schema, batch = bucketed_src
    got = _drained_rows(
        spark,
        streaming_cusum(_mk_stream(spark, src, schema), ref=10.0, threshold=6.0),
        "cu_bucketed",
        tmp_path_factory,
    )
    want = sorted(
        tuple(r)
        for r in cusum_drift(batch, "value", ["user_id"], threshold=6.0, ref=10.0)
        .select("user_id", "ts_us", "event_id", "value", "cusum", "is_drift")
        .collect()
    )
    drop_late = [r for r in got if r[0] != _LATE_KEY]
    assert drop_late == [r for r in want if r[0] != _LATE_KEY]
    assert len(drop_late) > 200


def test_bucketed_counter_rates_equals_per_key(
    spark, bucketed_src, tmp_path_factory
):
    """The drained stream equals batch counter_rates over the valued
    rows, row for row, for every key but the late one (arrival order,
    as for cusum)."""
    import math

    from db_loganalyzer_spark.operators.timeseries import counter_rates
    from db_loganalyzer_spark.streaming import streaming_counter_rates

    src, schema, batch = bucketed_src
    got = _drained_rows(
        spark,
        streaming_counter_rates(_mk_stream(spark, src, schema)),
        "cr_bucketed",
        tmp_path_factory,
    )
    # The fold emits NaN for "no predecessor / no rate"; equality with
    # the batch operator's NULLs relies on the sink masking float NaN to
    # SQL NULL. Pin that masking itself so a future Arrow/sink change
    # that starts preserving NaN fails here.
    assert not any(
        isinstance(v, float) and math.isnan(v) for r in got for v in r
    ), "sink leaked a float NaN — NULL-masking contract broken"
    want = sorted(
        tuple(r)
        for r in counter_rates(_valued(batch), "value", ["user_id"]).collect()
    )
    drop_late = [r for r in got if r[0] != _LATE_KEY]
    assert drop_late == [r for r in want if r[0] != _LATE_KEY]
    assert len(drop_late) > 200
    assert any(r[5] for r in drop_late)  # resets seen
    assert any(r[6] is None and r[4] is not None for r in drop_late)  # zero dt


def test_streaming_enrich_matches_batch(
    spark, sf_dir, events_stream, events_batch, tmp_path_factory
):
    """Stream-static join: the drained stream enriched with a batch dim
    must equal the batch join — the join is stateless, so availableNow
    over the full file is exactly the batch plan."""
    from db_loganalyzer_spark.streaming import streaming_enrich

    dim = events_batch.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("type_n")
    )
    ck = str(tmp_path_factory.mktemp("ck_enrich"))
    got = run_available_now(
        streaming_enrich(events_stream, dim, on=["event_type"]).select(
            "event_id", "event_type", "type_n"
        ),
        "st_enrich_t",
        ck,
    )
    want = events_batch.join(dim, "event_type").select(
        "event_id", "event_type", "type_n"
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    assert got.count() == events_batch.count()  # inner join, dim covers all


def test_streaming_interval_join_rejects_empty_keys(spark, events_stream):
    from db_loganalyzer_spark.streaming import streaming_interval_join

    with pytest.raises(ValueError, match="equi_keys"):
        streaming_interval_join(
            events_stream, events_stream, [], 600,
            left_ts="ts", right_ts="ts",
        )


def test_streaming_interval_join_matches_batch(
    spark, sf_dir, events_batch, tmp_path_factory
):
    """Stream-stream interval join drained with availableNow must equal
    the batch interval join with the same equi+range condition."""
    from db_loganalyzer_spark.streaming import (
        read_events_stream,
        streaming_interval_join,
    )

    def sides(df):
        a = df.filter(F.col("event_type") == "error").select(
            F.col("event_id").alias("err_id"),
            F.col("user_id").alias("err_user"),
            F.col("ts").alias("err_ts"),
        )
        b = df.filter(F.col("event_type") == "click").select(
            F.col("event_id").alias("clk_id"),
            F.col("user_id").alias("clk_user"),
            F.col("ts").alias("clk_ts"),
        )
        return a, b

    sa, sb = sides(read_events_stream(spark, sf_dir))
    ck = str(tmp_path_factory.mktemp("ck_sij"))
    got = run_available_now(
        streaming_interval_join(
            sa, sb, [("err_user", "clk_user")], 3600,
            left_ts="err_ts", right_ts="clk_ts",
        ).select("err_id", "clk_id"),
        "st_sij_t",
        ck,
    )
    ba, bb = sides(events_batch)
    want = ba.join(
        bb,
        (F.col("err_user") == F.col("clk_user"))
        & (F.col("clk_ts") >= F.col("err_ts"))
        & (F.col("clk_ts") <= F.col("err_ts") + F.expr("INTERVAL 3600 SECONDS")),
    ).select("err_id", "clk_id")
    g = sorted(map(tuple, got.collect()))
    w = sorted(map(tuple, want.collect()))
    assert g == w and len(w) > 0


def test_st04_rocksdb_state_store_provider(spark, tmp_path_factory):
    """The production state-store config from BASELINE.md's round-9
    note, proven runnable in THIS Spark build: streaming_exact_dedup
    drained under RocksDBStateStoreProvider (state off-heap/on-disk,
    changelog checkpointing) must produce exactly the default-provider
    result. This is the config the 100 TB deployment sets so dedup
    state (one row per distinct content hash) stops living on-heap."""
    from db_loganalyzer_spark.streaming import run_available_now
    from db_loganalyzer_spark.streaming.streams import streaming_exact_dedup

    src = str(tmp_path_factory.mktemp("st04_docs") / "landing")
    rows = [
        (i, text)
        for i, text in enumerate(
            ["alpha beta gamma", "alpha  BETA gamma", "delta epsilon",
             "zeta", "alpha beta gamma", "eta theta iota kappa"] * 5
        )
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.coalesce(2).write.parquet(src)

    def drain(name):
        stream = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        ck = str(tmp_path_factory.mktemp(f"ck_{name}"))
        out = run_available_now(
            streaming_exact_dedup(stream), name, ck, output_mode="complete"
        )
        return sorted(map(tuple, out.collect()))

    base = drain("st04_default_provider")
    prov = "spark.sql.streaming.stateStore.providerClass"
    chg = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    old = spark.conf.get(prov, None)
    try:
        spark.conf.set(
            prov,
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        spark.conf.set(chg, "true")
        rocks = drain("st04_rocksdb_provider")
    finally:
        spark.conf.unset(chg)
        if old is None:
            spark.conf.unset(prov)
        else:
            spark.conf.set(prov, old)
    # 4 distinct contents: the two "alpha beta gamma" variants collapse
    # under normalize_text with the verbatim repeat
    assert rocks == base and len(base) == 4


def test_st14_streaming_neardup_probe(spark, sf_dir, tmp_path_factory):
    """ST14 equivalence vs an independent code path: the batch
    self-join estimate pipeline (minhash_lsh_dedup verify='estimate')
    restricted to pairs crossing the new/corpus split must equal the
    streaming probe's drained output — same banding, same estimator,
    but self-join vs standing-index probe. Also pins pair UNIQUENESS:
    exact dups collide in all 8 bands, and the minimal-matching-band
    filter must still emit each pair exactly once, with zero state."""
    import db_loganalyzer_spark.operators.dedup as DD
    from db_loganalyzer_spark.streaming import (
        run_available_now,
        streaming_neardup_probe,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    kw = dict(threshold=0.2, num_hashes=16, bands=8, n=2)
    new = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    index = DD.minhash_lsh_index(
        DD.minhash_signatures(corpus, kw["num_hashes"], kw["n"]),
        bands=kw["bands"],
    ).persist()

    land = str(tmp_path_factory.mktemp("st14") / "landing")
    new.repartitionByRange(3, "doc_id").write.parquet(land)
    stream = (
        spark.readStream.schema(new.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(land)
    )
    ck = str(tmp_path_factory.mktemp("ck_st14"))
    got = run_available_now(
        streaming_neardup_probe(stream, index, **kw), "st14_t", ck
    ).collect()

    pairs = [(r.new_id, r.corpus_id) for r in got]
    assert len(pairs) == len(set(pairs))  # exactly-once per pair
    got_n = {(min(a, b), max(a, b)): round(j, 9)
             for (a, b), j in (((r.new_id, r.corpus_id), r.jaccard)
                               for r in got)}
    want = {
        (r.id_a, r.id_b): round(r.jaccard, 9)
        for r in DD.minhash_lsh_dedup(docs, verify="estimate", **kw).collect()
        if (r.id_a % 10 == 0) != (r.id_b % 10 == 0)
    }
    assert got_n == want and len(want) > 0


def test_streaming_interval_coalesce_state_crosses_batches(
    spark, tmp_path, tmp_path_factory
):
    """ST15's open-island state must carry across micro-batches: a
    touching arrival extends it, an out-of-order-but-overlapping
    arrival merges into it (min-start), and only a later DISJOINT
    interval closes and emits it; the final open island never emits."""
    import os

    from db_loganalyzer_spark.streaming import (
        run_available_now,
        streaming_interval_coalesce,
    )

    schema = "user_id long, start_us long, end_us long"
    src = str(tmp_path / "src")
    os.makedirs(src)
    # batch 1: [0,10] + [5,20] -> one open island (0,20,2), nothing emits
    spark.createDataFrame(
        [(7, 0, 10), (7, 5, 20)], schema
    ).coalesce(1).write.parquet(f"{src}/b1")
    # batch 2: [18,22] overlaps the carried island, [20,25] touches,
    # [40,50] is disjoint -> island (0,25,4) emits, (40,50,1) stays open
    spark.createDataFrame(
        [(7, 40, 50), (7, 18, 22), (7, 20, 25)], schema
    ).coalesce(1).write.parquet(f"{src}/b2")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    ck = str(tmp_path_factory.mktemp("ck_st15"))
    got = run_available_now(
        streaming_interval_coalesce(stream, "user_id"), "st15_t", ck
    ).collect()
    rows = [
        (r.user_id, r.island_id, r.window_start, r.window_end,
         r.n_intervals)
        for r in got
    ]
    assert rows == [(7, 0, 0, 25, 4)]


def test_st15_equals_batch_w21_minus_open_islands(spark, sf_dir):
    """ST15 drained in one batch equals batch coalesce_intervals on the
    same (null-filtered) intervals minus each key's final island — the
    open-frontier contract, checked on real corpus data through the
    registry entry itself."""
    import __spark_entry__ as entry_mod
    from db_loganalyzer_spark.operators.windows import coalesce_intervals

    got = {
        (r.user_id, r.island_id): (
            r.window_start, r.window_end, r.n_intervals
        )
        for r in entry_mod.st15_streaming_interval_coalesce(
            spark, sf_dir
        ).collect()
    }
    ev = load_table(spark, sf_dir, "events").filter(
        "value is not null and not isnan(value)"
    )
    iv = ev.select(
        "user_id",
        F.unix_micros("ts").alias("start_us"),
        (
            F.unix_micros("ts")
            + F.floor(F.col("value") * 1000000.0 + 0.5).cast("bigint")
        ).alias("end_us"),
    )
    batch = coalesce_intervals(iv, ["user_id"], "start_us", "end_us")
    rows = batch.collect()
    last = {}
    for r in rows:
        last[r.user_id] = max(last.get(r.user_id, -1), r.island_id)
    want = {
        (r.user_id, r.island_id): (
            r.window_start, r.window_end, r.n_intervals
        )
        for r in rows
        if r.island_id < last[r.user_id]
    }
    assert got == want and len(want) > 0


def test_streaming_interval_coalesce_degenerate_end_before_start(
    spark, tmp_path, tmp_path_factory
):
    """An interval with end < start (legal under the integer-bounds
    contract, e.g. a signed-delta end) must emit ITS island's own max
    end, not the batch running max, which can carry a previous island's
    larger end across the break — pinned against batch w21."""
    import os

    from db_loganalyzer_spark.operators.windows import coalesce_intervals
    from db_loganalyzer_spark.streaming import (
        run_available_now,
        streaming_interval_coalesce,
    )

    schema = "user_id long, start_us long, end_us long"
    rows = [(7, 0, 100), (7, 150, 50), (7, 500, 600)]
    src = str(tmp_path / "src")
    os.makedirs(src)
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
        f"{src}/b1"
    )
    stream = (
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    ck = str(tmp_path_factory.mktemp("ck_st15d"))
    got = sorted(
        (r.island_id, r.window_start, r.window_end, r.n_intervals)
        for r in run_available_now(
            streaming_interval_coalesce(stream, "user_id"), "st15_d", ck
        ).collect()
    )
    batch = coalesce_intervals(
        spark.createDataFrame(rows, schema), ["user_id"]
    ).collect()
    last = max(r.island_id for r in batch)
    want = sorted(
        (r.island_id, r.window_start, r.window_end, r.n_intervals)
        for r in batch
        if r.island_id < last
    )
    assert got == want == [(0, 0, 100, 1), (1, 150, 50, 1)]


def test_streaming_interval_coalesce_half_open(
    spark, tmp_path, tmp_path_factory
):
    """half_open=True streaming form: adjacent intervals split islands,
    matching batch coalesce_intervals(half_open=True) minus the open
    frontier — the same convention pin as the batch property test."""
    import os

    from db_loganalyzer_spark.operators.windows import coalesce_intervals
    from db_loganalyzer_spark.streaming import (
        run_available_now,
        streaming_interval_coalesce,
    )

    schema = "user_id long, start_us long, end_us long"
    rows = [(7, 0, 10), (7, 10, 20), (7, 15, 30), (7, 30, 35), (7, 90, 99)]
    src = str(tmp_path / "src")
    os.makedirs(src)
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
        f"{src}/b1"
    )
    stream = (
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    ck = str(tmp_path_factory.mktemp("ck_st15h"))
    got = sorted(
        (r.island_id, r.window_start, r.window_end, r.n_intervals)
        for r in run_available_now(
            streaming_interval_coalesce(stream, "user_id", half_open=True),
            "st15_h",
            ck,
        ).collect()
    )
    batch = coalesce_intervals(
        spark.createDataFrame(rows, schema), ["user_id"], half_open=True
    ).collect()
    last = max(r.island_id for r in batch)
    want = sorted(
        (r.island_id, r.window_start, r.window_end, r.n_intervals)
        for r in batch
        if r.island_id < last
    )
    assert got == want == [(0, 0, 10, 1), (1, 10, 30, 2), (2, 30, 35, 1)]


def test_coalesce_fn_empty_group_leaves_state_untouched():
    """_make_coalesce_fn's fold on an EMPTY input group (a future
    timeout/eviction tick) must yield nothing and not touch state —
    regression for the IndexError + state.update(None) path."""
    import pandas as pd

    from db_loganalyzer_spark.streaming.streams import _make_coalesce_fn

    class FakeState:
        def __init__(self, value=None):
            self._v = value
            self.updated = False

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v
            self.updated = True

    fn = _make_coalesce_fn()
    empty = pd.DataFrame({"start_us": [], "end_us": []})
    # no prior state: nothing to emit, no state write
    st = FakeState()
    assert list(fn((7,), iter([empty]), st)) == []
    assert not st.updated and not st.exists
    # existing open island: preserved verbatim, still no write
    st2 = FakeState((0, 20, 2, 1))
    assert list(fn((7,), iter([empty]), st2)) == []
    assert not st2.updated and st2.get == (0, 20, 2, 1)


def test_st17_streaming_winnowing_probe(spark, sf_dir, tmp_path_factory):
    """ST17 equivalence vs an independent code path: the exploded
    batch fingerprint join restricted to pairs crossing the
    stream/corpus split must equal the drained streaming probe —
    and each qualifying pair must emit exactly once (the
    min-shared-fingerprint rule), with zero state."""
    import db_loganalyzer_spark.operators.dedup as DD
    from db_loganalyzer_spark.streaming import (
        run_available_now,
        streaming_winnowing_probe,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    new = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    index = DD.winnowing_index(corpus, n=2, w=4).persist()

    land = str(tmp_path_factory.mktemp("st17") / "landing")
    new.repartitionByRange(3, "doc_id").write.parquet(land)
    stream = (
        spark.readStream.schema(new.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(land)
    )
    ck = str(tmp_path_factory.mktemp("ck_st17"))
    got = run_available_now(
        streaming_winnowing_probe(stream, index, min_shared=3, n=2, w=4),
        "st17_t",
        ck,
    ).collect()

    pairs = [(r.stream_id, r.corpus_id) for r in got]
    assert len(pairs) == len(set(pairs))  # exactly-once per pair
    got_n = {(r.stream_id, r.corpus_id): r.n_shared for r in got}

    fa = DD.winnowing_fingerprints(new, n=2, w=4)
    fb = DD.winnowing_fingerprints(corpus, n=2, w=4)
    want = {
        (r.sid, r.cid): r.n
        for r in fa.alias("a")
        .join(fb.alias("b"), F.col("a.fingerprint") == F.col("b.fingerprint"))
        .groupBy(
            F.col("a.doc_id").alias("sid"), F.col("b.doc_id").alias("cid")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 3)
        .collect()
    }
    assert got_n == want and len(want) > 0


def test_st18_streaming_decontaminate_drops_eval_clones(
    spark, tmp_path_factory
):
    """An exact clone of an eval-slice document (doc_id % 50 == 0) must
    be dropped at ingest, clean documents must pass, and the eval docs
    themselves drop by self-match."""
    import __spark_entry__ as entry_mod

    d = tmp_path_factory.mktemp("st18")
    rows = [
        (0, "held out benchmark prompt", "eval", "en", 24),   # eval slice
        (1, "an ordinary training document", "web", "en", 29),
        (2, "Held  OUT   benchmark prompt", "web", "en", 28),  # clone of 0
        (3, "another clean training text", "web", "en", 27),
    ]
    import glob
    import shutil

    spark.createDataFrame(
        rows, "doc_id long, text string, source string, lang string, n_chars long"
    ).coalesce(1).write.parquet(str(d / "_tmp"))
    # the landing-dir layout is one file per table, like the testdata
    shutil.move(
        glob.glob(str(d / "_tmp" / "part-*.parquet"))[0],
        str(d / "documents.parquet"),
    )
    shutil.rmtree(str(d / "_tmp"))
    got = {
        r.doc_id
        for r in entry_mod.st18_streaming_decontaminate(
            spark, str(d)
        ).collect()
    }
    assert got == {1, 3}


def test_st19_csv_stream_quarantines_in_flight(spark, tmp_path):
    """The CSV stream's quarantine lane works per micro-batch: malformed
    shard lines surface via _corrupt_record, parsed rows keep values."""
    from db_loganalyzer_spark.sources import delimited as DL

    src = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00.000007", 7, "click", 2.0, "p")],
        "event_id long, ts_s string, user_id long, event_type string, "
        "value double, props string",
    ).select(
        "event_id", F.to_timestamp("ts_s").alias("ts"), "user_id",
        "event_type", "value", "props",
    )
    path = str(tmp_path / "csv_stream")
    DL.write_events_csv(src, path)
    (tmp_path / "csv_stream" / "zz_bad.csv").write_text("bad-line\n")
    stream = DL.read_events_csv_stream(spark, path)
    assert stream.isStreaming
    import __spark_entry__ as entry_mod

    got = entry_mod._drain(
        stream.select("event_id", "ts", "_corrupt_record"), "st19t"
    ).collect()
    by_bad = {r._corrupt_record is not None: r for r in got}
    assert by_bad[False].event_id == 1
    assert by_bad[False].ts.microsecond == 7
    assert by_bad[True].event_id is None


def test_pipe04_streaming_corpus_accounting(spark, tmp_path_factory):
    """Planted fixtures: a low-quality doc is gated, an eval clone is
    decontaminated, an exact duplicate collapses into its group with
    the min-id keeper's source taking the credit."""
    import glob
    import shutil

    import __spark_entry__ as entry_mod

    d = tmp_path_factory.mktemp("pipe04")
    good = (
        "the quick brown fox jumps over the lazy dog and then it runs "
        "off to the forest for a while"
    )
    rows = [
        (0, "held out benchmark prompt text that is long enough to pass "
            "the gate and it has the required stopwords", "eval", "en", 1),
        (1, good, "web", "en", 1),
        (2, good + " ", "mirror", "en", 1),        # exact dup of 1 after norm
        (3, "zz", "web", "en", 1),                  # too short: gated out
        (4, "held  out benchmark prompt text that is long enough to pass "
            "the gate and it has the required stopwords", "web", "en", 1),  # eval clone
        (5, "a completely different clean document about spark and the "
            "many joins that it is running for us today", "web", "en", 1),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, source string, lang string, n_chars long"
    ).coalesce(1).write.parquet(str(d / "_tmp"))
    shutil.move(
        glob.glob(str(d / "_tmp" / "part-*.parquet"))[0],
        str(d / "documents.parquet"),
    )
    shutil.rmtree(str(d / "_tmp"))
    got = {
        r.source: (r.n_groups, r.n_docs, r.n_dupes_removed, r.sum_toks)
        for r in entry_mod.pipe04_streaming_corpus(spark, str(d)).collect()
    }
    # doc 0 and 4 (eval + clone) decontaminated; doc 3 gated; docs 1+2
    # collapse to one 'web' group (keeper id 1); doc 5 stands alone
    n_good = len(good.split())
    assert got == {"web": (2, 3, 1, 2 * n_good + 18)}


# ---------------------------------------------------------------------------
# Out-of-order landing contracts (r11): what a DISORDERED file sequence
# does to (a) a watermarked window aggregate and (b) the watermark-less
# interval-coalesce state machine. Pins the drop-vs-carry line exactly;
# BASELINE.md records the contract in prose.
# ---------------------------------------------------------------------------


def test_streaming_rollup_out_of_order_watermark_drop_vs_carry(
    spark, tmp_path, tmp_path_factory
):
    """st01's late-data line, pinned with a deliberately shuffled
    landing order (measured on this engine, not assumed): the
    watermark that filters batch N's input is the one computed from
    data through batch N-2 — a ONE-BATCH PROPAGATION LAG, so a late
    row landing in the batch immediately after the watermark-advancing
    data still merges, while a row arriving one batch later is DROPPED
    (its window was already emitted without it, and append mode never
    re-emits a window — a duplicate window_start row in the sink would
    betray a leak). Late rows whose window is still open are CARRIED;
    the open frontier never emits."""
    import datetime as dt
    import os

    base = dt.datetime(2024, 3, 1, 12, 0, 0)

    def ev(i, secs, val):
        return (i, base + dt.timedelta(seconds=secs), float(val))

    schema = "event_id long, ts timestamp, value double"
    src = str(tmp_path / "src")
    os.makedirs(src)
    # batch 0: w0=[0,60) gets one row; 150s sets watermark 140 (takes
    # effect as batch 2's input filter — the measured one-batch lag)
    spark.createDataFrame(
        [ev(1, 5, 1.0), ev(2, 150, 2.0)], schema
    ).coalesce(1).write.parquet(f"{src}/b1")
    # batch 1: spacer inside the open w2=[120,180) window (carried
    # late-ish row: 160s < previous max 150+10s delay is fine)
    spark.createDataFrame([ev(3, 160, 2.5)], schema).coalesce(
        1
    ).write.parquet(f"{src}/b2")
    # batch 2: the 10s row is TWO batches behind the 150s row that
    # closed its window -> dropped by the (now effective) watermark;
    # 300s advances the watermark further
    spark.createDataFrame(
        [ev(4, 10, 100.0), ev(5, 300, 4.0)], schema
    ).coalesce(1).write.parquet(f"{src}/b3")
    # batch 3: far-future row flushes closed windows; its own window
    # [600,660) stays open and never emits
    spark.createDataFrame([ev(6, 600, 5.0)], schema).coalesce(1).write.parquet(
        f"{src}/b4"
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    ck = str(tmp_path_factory.mktemp("ck_ooo_rollup"))
    base_epoch = int(base.timestamp())
    rows = sorted(
        (r.window_start - base_epoch, r.n, r.max_value)
        for r in run_available_now(
            streaming_rollup(
                stream, 60, [], "value", watermark_delay="10 seconds"
            ),
            "st01_ooo",
            ck,
        ).collect()
    )
    # w0 WITHOUT the dropped 100.0 row (n=1, and emitted exactly once);
    # w2 WITH the carried 160s row; [300,360) closed by the 600s row;
    # [600,660) is the open frontier and never emits
    assert rows == [(0, 1, 1.0), (120, 2, 2.5), (300, 1, 4.0)]


def test_streaming_interval_coalesce_disordered_landing_contract(
    spark, tmp_path, tmp_path_factory
):
    """st15's documented ordered-landing PRECONDITION, violated on
    purpose: an interval landing after its island already emitted
    cannot retract the emitted row (append mode), so it emits as its
    own SPLIT island — over-segmentation, never data loss (every input
    interval is counted exactly once across emitted + open islands).
    An out-of-order arrival that overlaps the OPEN island still merges
    exactly (min-start fold)."""
    import os

    from db_loganalyzer_spark.streaming import streaming_interval_coalesce

    schema = "user_id long, start_us long, end_us long"
    src = str(tmp_path / "src")
    os.makedirs(src)
    # batch 1: [100,200] emits as island 0 when disjoint [300,400] opens
    spark.createDataFrame(
        [(1, 100, 200), (1, 300, 400)], schema
    ).coalesce(1).write.parquet(f"{src}/b1")
    # batch 2: [150,180] is LATE — inside already-emitted island 0 and
    # disjoint from the open [300,400] -> emits as split island 1;
    # [350,500] overlaps the open island -> folds into it
    spark.createDataFrame(
        [(1, 150, 180), (1, 350, 500)], schema
    ).coalesce(1).write.parquet(f"{src}/b2")
    # batch 3: [250,320] is out-of-order-but-OVERLAPPING the open
    # island -> merges by min(start): open becomes [250,500] n=3
    spark.createDataFrame([(1, 250, 320)], schema).coalesce(1).write.parquet(
        f"{src}/b3"
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    ck = str(tmp_path_factory.mktemp("ck_ooo_st15"))
    rows = sorted(
        (r.island_id, r.window_start, r.window_end, r.n_intervals)
        for r in run_available_now(
            streaming_interval_coalesce(stream, "user_id"),
            "st15_ooo",
            ck,
        ).collect()
    )
    # island 0 emitted before the late row arrived; the late row became
    # split island 1; batch coalesce would have produced [100,200] n=2.
    assert rows == [(0, 100, 200, 1), (1, 150, 180, 1)]
    # no loss: emitted counts (1+1) + the open island's 3 = 5 inputs


def test_st22_rollup_maintenance_merges_late_batches(
    spark, tmp_path_factory
):
    """ST22: one standing-table version per micro-batch; the drained
    table equals the batch recompute even when a later batch delivers
    rows for buckets that earlier batches already closed (late data);
    replaying a version id (crash recovery) is idempotent."""
    import datetime as dt

    from db_loganalyzer_spark.operators.aggregates import (
        derive_rollup,
        rollup_partials,
    )
    from db_loganalyzer_spark.streaming.streams import (
        read_standing_rollup,
        streaming_rollup_maintenance,
    )

    schema = "ts timestamp, event_type string, value double"
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def row(hours, typ, v):
        return (t0 + dt.timedelta(hours=hours), typ, v)

    src = str(tmp_path_factory.mktemp("st22_src"))
    # batch 1 fills hours 0 and 1; batch 2 is entirely LATE (hour 0
    # again, after hour 1 was seen); batch 3 mixes new hour 2 + late 0
    batches = [
        [row(0, "a", 1.0), row(0, "a", 3.0), row(1, "b", 10.0)],
        [row(0, "a", 5.0), row(0, "b", 2.0)],
        [row(2, "a", 7.0), row(0, "a", 11.0)],
    ]
    all_rows = []
    for i, b in enumerate(batches):
        all_rows += b
        spark.createDataFrame(b, schema).coalesce(1).write.parquet(
            f"{src}/b{i}"
        )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    standing = str(tmp_path_factory.mktemp("st22_standing"))
    ck = str(tmp_path_factory.mktemp("st22_ck"))
    versions = streaming_rollup_maintenance(
        stream, 3600, ["event_type"], "value", standing, ck
    )
    assert len(versions) == 3

    got = sorted(
        (r.window_start, r.event_type, r.n, r.avg_value, r.max_value)
        for r in read_standing_rollup(
            spark, standing, ["event_type"]
        ).collect()
    )
    want = sorted(
        (r.window_start, r.event_type, r.n, r.avg_value, r.max_value)
        for r in derive_rollup(
            rollup_partials(
                spark.createDataFrame(all_rows, schema),
                3600,
                ["event_type"],
                "value",
            ),
            ["event_type"],
        ).collect()
    )
    assert got == want
    # hour 0 (the bucket every batch touched) absorbed late rows from
    # all three: type 'a' saw values 1,3 (batch 1), 5 (batch 2, late),
    # 11 (batch 3, late) -> n=4
    hour0 = min(w[0] for w in want)
    h0a = [w for w in want if w[1] == "a" and w[0] == hour0]
    assert h0a and h0a[0][2] == 4


def test_st22_rollup_maintenance_replay_is_idempotent(
    spark, tmp_path_factory
):
    """ST22 crash recovery: foreachBatch REPLAYS the last batch after a
    crash. The merge must base itself on versions strictly OLDER than
    the replayed batch id (never 'latest', which on replay is the
    batch's own prior output) — otherwise the delta double-counts, or
    the merge reads the torn dir it is about to overwrite."""
    import datetime as dt
    import os
    import shutil

    from db_loganalyzer_spark.streaming.streams import (
        merge_rollup_batch,
        read_standing_rollup,
    )

    schema = "ts timestamp, event_type string, value double"
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def df(rows):
        return spark.createDataFrame(
            [(t0 + dt.timedelta(hours=h), t, v) for h, t, v in rows],
            schema,
        )

    standing = str(tmp_path_factory.mktemp("st22_replay_standing"))
    b0 = df([(0, "a", 1.0), (0, "a", 3.0), (1, "b", 10.0)])
    b1 = df([(0, "a", 5.0), (0, "b", 2.0)])
    b2 = df([(2, "a", 7.0), (0, "a", 11.0)])
    for i, b in enumerate((b0, b1, b2)):
        merge_rollup_batch(
            spark, b, i, 3600, ["event_type"], "value", standing
        )

    def snap():
        return sorted(
            (r.window_start, r.event_type, r.n, r.avg_value, r.max_value)
            for r in read_standing_rollup(
                spark, standing, ["event_type"]
            ).collect()
        )

    want = snap()
    hour0 = min(w[0] for w in want)
    assert [w[2] for w in want if w[1] == "a" and w[0] == hour0] == [4]

    # replay case 1: the previous v2 write COMPLETED before the crash.
    # Re-merging batch 2 on top of its own output would double-count
    # the delta (hour-0 'a' n would become 6); based on v1 it is a
    # byte-identical rewrite.
    merge_rollup_batch(
        spark, b2, 2, 3600, ["event_type"], "value", standing
    )
    assert snap() == want

    # replay case 2: the v2 write CRASHED mid-flight (no _SUCCESS).
    # The torn dir must be invisible to reads AND to the merge base.
    v2 = os.path.join(standing, "v000000002")
    os.remove(os.path.join(v2, "_SUCCESS"))
    pre_replay = snap()  # falls back to v1 = batches 0+1 only
    assert [w[2] for w in pre_replay if w[1] == "a" and w[0] == hour0] == [3]
    merge_rollup_batch(
        spark, b2, 2, 3600, ["event_type"], "value", standing
    )
    assert snap() == want
    # and a later torn dir never shadows the good version either
    torn = os.path.join(standing, "v000000003")
    os.makedirs(torn)
    with open(os.path.join(torn, "part-garbage.parquet"), "wb") as fh:
        fh.write(b"\x00not parquet")
    try:
        assert snap() == want
    finally:
        shutil.rmtree(torn)
