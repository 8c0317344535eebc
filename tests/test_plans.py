"""Physical-plan audits — assert the plan shapes the 100 TB design relies on.

Correctness tests prove the numbers; these prove the *scaling properties*:
filters reach the parquet scan (row-group skipping), small dims broadcast
(no shuffle of the fact table), range joins stay equi-keyed (no cartesian
product), top-k compiles to TakeOrderedAndProject (no global sort), and
declared windows never collapse to a single partition.

All scans run with a COLD table cache — pushdown evidence only exists on a
real parquet scan, and the shared session may have pinned tables elsewhere.
"""

import re

import pytest

import __spark_entry__ as entry_mod
from db_loganalyzer_spark.session import held
from db_loganalyzer_spark.sources import tables


def plan_str(spark, df, mode: str = "formatted") -> str:
    return spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


@pytest.fixture()
def cold_cache():
    """No pinned tables, and the storage an entry's build takes is
    released after the test (a plan-only build never fills it)."""
    saved = dict(tables._CACHE)
    tables._CACHE.clear()
    with held():
        yield
    tables._CACHE.clear()
    tables._CACHE.update(saved)


@pytest.fixture(scope="module")
def qs():
    return entry_mod.queries()


def test_f01_ts_range_reaches_pushed_filters(spark, sf_dir, qs, cold_cache):
    # the raw-nanos rewrite in events_time_slice must land BOTH bounds in
    # PushedFilters — this is what row-group min/max skipping keys off
    p = plan_str(spark, qs["f01_time_window"](spark, sf_dir))
    assert "PushedFilters: [" in p
    pushed = [ln for ln in p.splitlines() if "PushedFilters" in ln]
    assert any(
        "GreaterThanOrEqual(ts" in ln and "LessThanOrEqual(ts" in ln
        for ln in pushed
    ), pushed


def test_q01_filter_pushed_and_columns_pruned(spark, sf_dir, qs, cold_cache):
    p = plan_str(spark, qs["q01_pricing_summary"](spark, sf_dir))
    assert "LessThanOrEqual(l_shipdate" in p
    # 7-column projection out of the 16-column lineitem table: the scan
    # schema must not contain columns the query never touches
    assert "l_comment" not in p and "l_orderkey" not in p


def test_q05_dims_broadcast_no_cartesian(spark, sf_dir, qs, cold_cache):
    p = plan_str(spark, qs["q05_nation_revenue"](spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_j03_range_join_stays_equi_keyed(spark, sf_dir, qs, cold_cache):
    # look-back join bounded by the user_id equi key: shuffled hash/merge
    # join + band filter, never a product
    p = plan_str(spark, qs["j03_lookback_join"](spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_t01_per_group_topk_stays_partitioned(spark, sf_dir, qs, cold_cache):
    # per-group top-k = row_number over Window.partitionBy: the sort must
    # stay partition-local, never a global single-partition sort
    p = plan_str(spark, qs["t01_topk_per_group"](spark, sf_dir), "simple")
    assert "Window" in p or "WindowGroupLimit" in p
    assert "SinglePartition" not in p


def test_f03_global_topk_compiles_to_take_ordered(spark, sf_dir, qs, cold_cache):
    # orderBy().limit() must become a distributed top-k, not a global sort
    p = plan_str(spark, qs["f03_severity_floor"](spark, sf_dir), "simple")
    assert "TakeOrderedAndProject" in p


@pytest.mark.parametrize(
    "name", ["w01_value_drops", "w05_sessionization", "w10_severity_first"]
)
def test_declared_windows_never_single_partition(
    spark, sf_dir, qs, cold_cache, name
):
    # every declared window op partitions by user_id (w10: by range
    # partition id with broadcast offsets); a plan regression to Exchange
    # SinglePartition would serialize the whole table at scale
    p = plan_str(spark, qs[name](spark, sf_dir), "simple")
    assert "SinglePartition" not in p


def test_q03_fact_join_gate_small_broadcasts(spark, sf_dir, qs, cold_cache):
    # below the broadcast threshold the orders side is unhinted and
    # Catalyst broadcasts it — the right plan for a genuinely small input
    p = plan_str(spark, qs["q03_shipping_priority"](spark, sf_dir), "simple")
    assert "BroadcastHashJoin" in p


def test_q03_fact_join_gate_large_pins_sort_merge(spark, sf_dir, qs, cold_cache):
    # with the threshold below the file size (the 100 TB regime in
    # miniature) the gate must degrade every edge to a SPILLABLE join:
    # sort-merge on the fact edge (a shuffle_hash pin died at sf100 —
    # hash relations can't spill), and no broadcast of any side whose
    # footprint is past the gate
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1024")
    try:
        p = plan_str(spark, qs["q03_shipping_priority"](spark, sf_dir), "simple")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    assert "SortMergeJoin" in p
    assert "BroadcastHashJoin" not in p


def test_under_threshold_directory_table(spark, sf_dir, tmp_path):
    """The r8-advice hole: a table materialized as a parquet DIRECTORY
    must be sized by summing its data files — bare getsize() returns
    the inode size (~4 KB), which would pass the gate and force a
    broadcast of a fact-scale frame. Also pins: missing table => False
    (unknown size never broadcasts)."""
    import __spark_entry__ as entry

    d = tmp_path / "big.parquet"
    spark.range(0, 200_000).selectExpr(
        "id", "sha2(string(id), 256) AS pad"  # incompressible payload
    ).write.parquet(str(d))
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(1 << 20))
    try:
        # the directory's data files sum to >> 1 MB: must NOT pass
        assert entry._under_threshold(spark, str(tmp_path), "big") is False
        # a small directory table passes via the file-sum path
        s = tmp_path / "small.parquet"
        spark.range(0, 10).write.parquet(str(s))
        assert entry._under_threshold(spark, str(tmp_path), "small") is True
        # missing table: unknown size => never broadcast
        assert entry._under_threshold(spark, str(tmp_path), "absent") is False
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)


def test_m03_lsh_band_join_is_equi(spark, sf_dir, qs, cold_cache):
    # the MinHash-LSH candidate join must be an equi join on (band, bucket)
    p = plan_str(spark, qs["m03_minhash_lsh_dedup"](spark, sf_dir), "simple")
    assert "CartesianProduct" not in p


@pytest.mark.parametrize(
    "name", ["m03_minhash_lsh_dedup", "m04_simhash_near_dups"]
)
def test_portable_hash_family_stays_jvm_side(
    spark, sf_dir, qs, cold_cache, name
):
    # the portable polynomial hashes are HOF column expressions — the
    # plan must contain no Python evaluation node (that would turn a
    # scan-bound 100 TB dedup pass into an Arrow round-trip per batch)
    p = plan_str(spark, qs[name](spark, sf_dir), "simple")
    assert "BatchEvalPython" not in p
    assert "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p


def test_sim03_lsh_self_join_is_equi(spark, sf_dir, qs, cold_cache):
    # embedding near-dups: the self-join must be equi on bucket — an
    # all-pairs product over the corpus is the thing LSH exists to avoid
    p = plan_str(spark, qs["sim03_embedding_near_dups"](spark, sf_dir), "simple")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_portable_hash_pinned_values(spark):
    # the portable family is a cross-engine CONTRACT: these constants are
    # mirrored character-for-character in the DuckDB oracle SQL, so any
    # drift here silently breaks every m03/m04 oracle. h("abc") =
    # fold(7, h*131 + cp) mod 1e9+7 = ((7*131+97)*131+98)*131+99 mod p
    from pyspark.sql import functions as F

    from db_loganalyzer_spark.operators.dedup import portable_hash

    row = (
        spark.range(1)
        .select(
            portable_hash(F.lit("abc")).alias("h1"),
            portable_hash(F.lit("")).alias("h_empty"),
            portable_hash(F.lit("abc"), base=137, init=11, mod=2147483647).alias("h2"),
        )
        .collect()[0]
    )
    assert row["h1"] == ((7 * 131 + 97) * 131 + 98) * 131 + 99
    # Spark split("", "") is [""] (one empty element), so "" folds ONCE
    # with ascii("") = 0 -> 7*131. Engines differ on empty-string
    # splitting, which is why every call site filters '' out BEFORE
    # hashing (shingles join non-empty words; simhash filters tok != '').
    assert row["h_empty"] == 7 * 131
    assert row["h2"] == ((11 * 137 + 97) * 137 + 98) * 137 + 99


def test_q01_wholestage_codegen(spark, sf_dir, qs, cold_cache):
    # AQE finalizes the physical plan only at execution: run to the noop
    # sink, then audit the executed plan for fused codegen stages
    df = qs["q01_pricing_summary"](spark, sf_dir)
    df.collect()  # a noop-sink write would finalize a *copy* of the plan
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in p
    # "*(n)" is WholeStageCodegen stage n in the compact plan string; the
    # scan->filter->partial-agg pipeline must be inside a fused stage
    assert re.search(r"\*\(\d+\) HashAggregate", p), p[:500]


def test_f01_slice_matches_unsliced_filter(spark, sf_dir, qs, cold_cache):
    # the nanos-domain rewrite is exact: same rows as filtering the
    # converted timestamp column directly (floor-division boundary cases)
    from pyspark.sql import functions as F

    sliced = tables.events_time_slice(
        spark, sf_dir, "2024-01-15 11:30:00", "2024-01-15 12:30:00"
    )
    plain = tables.load_table(spark, sf_dir, "events").filter(
        F.col("ts").between(
            F.lit("2024-01-15 11:30:00").cast("timestamp"),
            F.lit("2024-01-15 12:30:00").cast("timestamp"),
        )
    )
    assert sliced.count() == plain.count()
    assert sliced.exceptAll(plain).count() == 0


def test_t09_vocab_topk_is_take_ordered(spark, sf_dir, qs, cold_cache):
    # the corpus vocabulary head must be per-partition top-k + merge,
    # never a global sort of the whole token histogram
    df = qs["t09_vocab_stats"](spark, sf_dir)
    p = plan_str(spark, df)
    assert "TakeOrderedAndProject" in p, p[:800]
    assert "Sort [" not in p.split("TakeOrderedAndProject")[0]


def test_pack01_single_shuffle(spark, sf_dir, qs, cold_cache):
    # packing = window cumsum + groupBy sharing the (source) key: the agg
    # must reuse the window's partitioning, ONE exchange total
    df = qs["pack01_sequence_packing"](spark, sf_dir)
    p = plan_str(spark, df)
    assert len(re.findall(r"\(\d+\) Exchange\b", p)) == 1, p[:1200]


def test_w12_stitched_no_single_partition_window(spark, sf_dir, qs, cold_cache):
    # the stitched global-order drops never run a single-partition window:
    # every window spec is keyed by the range-partition id (the range
    # shuffle itself is inside the localCheckpoint, so it does not appear
    # in this downstream plan - the carry/offset machinery depends on it
    # being pinned there, see windows._range_sorted)
    df = qs["w12_value_drops_global"](spark, sf_dir)
    p = plan_str(spark, df)
    frags = re.findall(r"windowspecdefinition\(([^)]*)\)", p.lower())
    assert frags, p[:800]
    for frag in frags:
        assert "__pid" in frag, frag


def test_j08_interval_join_is_equi(spark, sf_dir, qs, cold_cache):
    # the containment join must plan as a shuffled/broadcast HASH join on
    # the exploded bucket key — a bare BETWEEN would be a nested-loop
    # product of points x intervals
    p = plan_str(spark, qs["j08_interval_join"](spark, sf_dir), "simple")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_t10_length_histogram_stays_jvm_side(spark, sf_dir, qs, cold_cache):
    # bucket = length(bin(n)) is pure column arithmetic: one partial-agg
    # shuffle, no Python eval node, codegen throughout
    p = plan_str(spark, qs["t10_length_histogram"](spark, sf_dir), "simple")
    assert "BatchEvalPython" not in p
    assert "ArrowEvalPython" not in p
    assert "Exchange" in p  # exactly the one agg shuffle


def test_j09_sweep_has_no_join(spark, sf_dir, qs, cold_cache):
    # the whole point of the sweep: the active-count query whose join
    # form materializes a quadratic pair set compiles to union + range
    # shuffle + window — NO join node of any kind in the plan
    p = plan_str(spark, qs["j09_interval_concurrency"](spark, sf_dir), "simple")
    assert "Join" not in p
    assert "CartesianProduct" not in p


def test_w13_gap_fill_no_cartesian_no_global_window(spark, sf_dir, qs, cold_cache):
    # grid join stays keyed on (user_id, bucket); the LOCF window stays
    # per-key — a single-partition window over the grid would serialize
    # every key's buckets through one task
    p = plan_str(spark, qs["w13_gap_fill"](spark, sf_dir), "simple")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "SinglePartition" not in p


def test_w15_trailing_window_partitioned(spark, sf_dir, qs, cold_cache):
    p = plan_str(spark, qs["w15_trailing_window"](spark, sf_dir), "simple")
    assert "SinglePartition" not in p
    assert "CartesianProduct" not in p


def test_t11_tfidf_rank_window_per_doc(spark, sf_dir, qs, cold_cache):
    # the per-doc rank window partitions by doc_id (the one allowed
    # SinglePartition is the global 1-row COUNT(*) N frame); the text
    # scan must appear in exactly ONE lineage — df-per-term is a count
    # window over the tf frame, not a groupBy+join that re-runs the
    # token explode
    p = plan_str(spark, qs["t11_tfidf_terms"](spark, sf_dir), "simple")
    assert "windowspecdefinition(doc_id" in p
    assert "CartesianProduct" not in p
    assert p.count("Generate explode") == 1


def test_d12_stats_broadcast_back(spark, sf_dir, qs, cold_cache):
    # median/MAD frames are group-level (5 rows) — they must come back
    # as broadcast joins, not shuffles of the event table
    p = plan_str(spark, qs["d12_robust_outliers"](spark, sf_dir), "simple")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_a22_hll_two_phase_aggregate(spark, sf_dir, qs, cold_cache):
    # the register build must be a two-phase HashAggregate (map-side
    # partial max) so shuffle volume is O(m) per partition, and the
    # exact-distinct side must not leak into the sketch side's shuffle
    p = plan_str(spark, qs["a22_hll_distinct"](spark, sf_dir), "simple")
    assert p.count("HashAggregate") >= 2
    assert "CartesianProduct" not in p  # 1-row exact side broadcasts


def test_w17_a27_scale_shapes(spark, sf_dir, qs, cold_cache):
    # w17: per-key lag window stays partitioned; a27: the 5x24 profile
    # comes back as a broadcast join, never a shuffle of the event table
    p17 = plan_str(spark, qs["w17_counter_rates"](spark, sf_dir), "simple")
    assert "SinglePartition" not in p17
    p27 = plan_str(spark, qs["a27_diurnal_baseline"](spark, sf_dir), "simple")
    assert "BroadcastHashJoin" in p27
    assert "CartesianProduct" not in p27


def test_d11_cause_attribution_has_no_range_join(spark, sf_dir, qs, cold_cache):
    # the round-6 rewrite: look-back cause attribution is union +
    # per-tier carry-forward window over L-second buckets — the
    # anchors x candidates pair join (quadratic in log density,
    # measured 424 s at the densified sf10) must never come back.
    # The only join left is the final nothing-matched left join
    # removal — there is none: assert no join node at all before
    # the output sort.
    p = plan_str(spark, qs["d11_detect_recoveries"](spark, sf_dir), "simple")
    assert "CartesianProduct" not in p and "NestedLoop" not in p
    assert "Join" not in p


def test_d13_variance_terms_stay_decimal(spark, sf_dir, qs, cold_cache):
    # the composite Pearson terms overflow signed-64 at scale; the fix
    # routes them through DECIMAL(38,0). Pin the cast so a refactor
    # back to bigint multiplication (silent until sf10) fails loudly.
    p = plan_str(spark, qs["d13_lag_correlation"](spark, sf_dir), "formatted")
    assert "decimal(38,0)" in p


def test_m13_ranking_reuses_component_shuffle(spark, sf_dir, qs, cold_cache):
    # representative selection must not add a second exchange beyond
    # the component key: the row_number + group_size windows both hang
    # off hashpartitioning(component_id)
    p = plan_str(spark, qs["m13_dedup_representatives"](spark, sf_dir), "formatted")
    assert len(re.findall(r"hashpartitioning\(component_id", p)) >= 1
    # and the quality expression stays JVM-side (no python UDF)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_j13_salted_join_plan_shape(spark, sf_dir, qs, cold_cache):
    # the salted join must actually join on (key, salt) — both salt
    # columns appear as join keys — and replicate the dim side through
    # one explode (Generate), never a cartesian product
    p = plan_str(spark, qs["j13_salted_skew_join"](spark, sf_dir), "extended")
    assert "__fsalt" in p and "__dsalt" in p, p[:800]
    assert re.search(r"Generate explode", p), p[:800]
    assert "CartesianProduct" not in p
