"""Registry-wide physical-plan lint (round 6).

`test_plans.py` pins hand-picked plan properties; this audit sweeps EVERY
registry entry's physical plan at sf0.001 and enforces the engine-wide
invariants, so a new entry (or a refactor of shared code) cannot silently
reintroduce a scale anti-pattern:

1. **No row-at-a-time Python UDFs** (`BatchEvalPython`) anywhere — the
   only Python stages allowed are Arrow-batched (`ArrowEvalPython` /
   `MapInPandas` / `FlatMapGroupsInPandas[WithState]`).
2. **No CartesianProduct** anywhere.
3. **BroadcastNestedLoopJoin only where a bounded side is attached** —
   the 1-row/stat-frame cross joins (explicit allowlist below). Anything
   else is an accidental theta join.
4. **Global-order windows (SinglePartition Window) only on entries that
   declare a structurally-bounded frame** (bucket-level rollups, global
   oracle variants — explicit allowlist with the bounding argument).

Streaming entries are excluded: building their DataFrame executes the
drain (they are covered by st-specific pins + the state-shape tests).
"""

from __future__ import annotations

import re

import pytest

import __spark_entry__ as entry_mod
from db_loganalyzer_spark.sources import tables

SF_DIR = "/root/testdata/sf0.001"

# entries whose BroadcastNestedLoopJoin is a bounded-side attach:
# 1-row stats frames, <=k-row centroid/threshold frames, tiny grids
BNLJ_OK = {
    # 1-row global stat/threshold frames broadcast onto a big side
    "j02_global_stats_z",
    "w09_relative_timeline",  # 1-row t0
    "t11_tfidf_terms",  # 1-row corpus-N
    "t12_bm25_search",  # 1-row avgdl
    "a22_hll_distinct",  # 1-row estimate vs exact attach
    "a32_hll_overlap",  # three 1-row estimate frames
    "m16_domain_mixture",  # 1-row n_min attach onto the per-source counts
    "opt01_zorder_layout",  # 1-row min/max bounds frame (four longs)
    "opt02_zorder_skip_estimate",  # same 1-row bounds attach as opt01
    "a37_skew_report",  # 1-row summary + 1-row hot-count attaches
    "a31_cumulative_hll",  # day-buckets x distinct-registers grid (sketch-bounded)
    # <=k-row centroid / query frames
    "cl02_cluster_reps",
    "cl03_cluster_summary",
    "cl04_kmeans_sizes",
    "cl05_silhouette",  # k-row centroid frame (rank 1+2 distances)
    "sim01_bruteforce_topk",
}

# entries whose SinglePartition window runs over a structurally-bounded
# frame: one row per time bucket / per doc-score / episode — NOT per event
GLOBAL_WINDOW_OK = {
    "a10_zscore_hotspots",  # z over bucket-level counts
    "d06_zscore_hotspots",
    "a31_cumulative_hll",  # one row per day bucket
    "d04_recovery_loop",  # bucket+halo form (detectors.py docstring)
    # d09's version scans run on the STITCHED (range-partitioned)
    # operators since the r13 optimization round. (Over an input Spark
    # plans as ONE partition, such as an investigation's coalesce(1)
    # read, the scan is one plain window instead; the registry's file
    # scan is never planned that way.) It stays listed only
    # because this lint's heuristic is a coarse conjunction
    # (SinglePartition anywhere + Window anywhere) and d09's plan still
    # carries 1-row aggregate-merge exchanges beside its __pid windows.
    # The windows themselves are range-partitioned — see
    # plans/r13/d09_rollback_analysis_after.txt.
    "d09_rollback_analysis",
    "d10_recovery_episodes",  # episode-level
    "t11_tfidf_terms",  # per-term rank over vocab-bounded frame
    "t12_bm25_search",  # top-k over per-doc score frame
    "t21_heaps_fit",  # cumulative window over one row per id-bucket
    "a37_skew_report",  # rank window over the LIMIT top_k (<=10-row) frame
}

def plan_str(spark, df, mode: str = "simple") -> str:
    return spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


@pytest.fixture(scope="module")
def audit(spark):
    saved = dict(tables._CACHE)
    tables._CACHE.clear()
    plans = {}
    for name, fn in entry_mod.queries().items():
        if name.startswith("st"):
            continue  # building the frame executes the drain
        plans[name] = plan_str(spark, fn(spark, SF_DIR))
    tables._CACHE.clear()
    tables._CACHE.update(saved)
    return plans


def test_no_row_at_a_time_python_udfs(audit):
    bad = [n for n, p in audit.items() if "BatchEvalPython" in p]
    assert not bad, bad


def test_no_cartesian_products(audit):
    bad = [n for n, p in audit.items() if "CartesianProduct" in p]
    assert not bad, bad


def test_nested_loop_joins_only_on_bounded_attaches(audit):
    bad = [
        n
        for n, p in audit.items()
        if "BroadcastNestedLoopJoin" in p and n not in BNLJ_OK
    ]
    assert not bad, f"unexpected theta/nested-loop join in: {bad}"


def test_global_windows_only_where_declared_bounded(audit):
    pat = re.compile(r"Window .*SinglePartition|SinglePartition.*Window")
    bad = []
    for n, p in audit.items():
        if n in GLOBAL_WINDOW_OK:
            continue
        # formatted/simple plans show the exchange feeding the window;
        # a SinglePartition exchange anywhere in a non-allowlisted
        # entry's plan is worth a look — windows are the usual cause
        if "SinglePartition" in p and "Window" in p:
            bad.append(n)
        elif pat.search(p):
            bad.append(n)
    assert not bad, f"undeclared global-order window in: {bad}"


# ---------------------------------------------------------------------------
# Broadcast-hint lint (round 8, VERDICT r7 item 5).
#
# An unconditional F.broadcast() whose argument's cardinality grows with a
# fact table is the canonical 100 TB OOM: the hint OVERRIDES Catalyst's size
# statistics, so the build side keeps being hash-built on every task long
# after it stops fitting (observed twice at sf100: q03's segment broadcast
# and the pre-fix q05 geo broadcast, both "Can't acquire ... memory to build
# hash relation"). Plans can't tell a bounded dim from an unbounded one, so
# this lint works at the SOURCE level: every `*.broadcast(...)` call site in
# the package + entry module must appear in the allowlist below, keyed by
# (file, enclosing function) with the boundedness argument and the expected
# call-site count. A NEW broadcast call site fails until a human writes down
# why its build side is bounded (or routes it through a size gate like
# `_gated_broadcast`); a REMOVED one fails the staleness check so the list
# can't rot.
# ---------------------------------------------------------------------------

BROADCAST_OK = {
    # (file, enclosing function): (expected call sites, boundedness argument)
    ("__spark_entry__.py", "_gated_broadcast"): (
        1, "IS the size gate: broadcasts only below the parquet-footprint threshold"),
    ("__spark_entry__.py", "a32_hll_overlap"): (
        1, "1-row HLL estimate frames"),
    ("__spark_entry__.py", "a22_hll_distinct"): (
        1, "1-row estimate-vs-exact attach"),
    ("__spark_entry__.py", "a27_diurnal_baseline"): (
        1, "profile frame: one row per (event_type, hour-of-day) <= |types|*24"),
    ("__spark_entry__.py", "j12_bloom_prefilter"): (
        1, "membership dim pre-bounded by the bloom prefilter's eval-set size"),
    ("db_loganalyzer_spark/agentic/retrieval.py", "retrieve"): (
        1, "single broadcast query vector"),
    ("db_loganalyzer_spark/operators/sampling.py", "temperature_mixture_rates"): (
        1, "1-row n_min attach"),
    ("db_loganalyzer_spark/operators/sampling.py", "temperature_resample"): (
        1, "per-stratum rate frame, bounded by |domains|"),
    ("db_loganalyzer_spark/operators/windows.py", "relative_timeline"): (
        1, "1-row t0 frame"),
    ("db_loganalyzer_spark/operators/aggregates.py", "per_group_zscores"): (
        1, "stats frame: one row per metric-name group (bounded vocabulary)"),
    ("db_loganalyzer_spark/operators/aggregates.py", "skew_report"): (
        2, "1-row summary frame + 1-row hot-key-count frame"),
    ("db_loganalyzer_spark/operators/dedup.py", "ngram_jaccard_pairs"): (
        1, "hot-shingle stop list: <= shingle_instances/cap rows by definition"),
    ("db_loganalyzer_spark/operators/dedup.py", "winnowing_overlap_pairs"): (
        1, "hot-fingerprint stop list (same bound as the shingle stop lists)"),
    ("db_loganalyzer_spark/operators/dedup.py", "winnowing_index"): (
        1, "hot-fingerprint stop list: <= fingerprint_instances/cap rows"),
    ("db_loganalyzer_spark/operators/layout.py", "compaction_apply"): (
        1, "the compaction plan: one row per FILE (manifest-sized), never rows"),
    ("db_loganalyzer_spark/operators/layout.py", "zorder_apply"): (
        1, "1-row min/max bounds frame (four longs)"),
    ("db_loganalyzer_spark/operators/dedup.py", "shingle_containment_pairs"): (
        1, "hot-shingle stop list (same bound)"),
    ("db_loganalyzer_spark/operators/dedup.py", "ngram_jaccard_against"): (
        2, "hot-shingle stop lists on both sides (same bound)"),
    ("db_loganalyzer_spark/operators/clustering.py", "seed_centroid_assign"): (
        1, "k-row centroid frame"),
    ("db_loganalyzer_spark/operators/clustering.py", "simplified_silhouette"): (
        1, "k-row centroid frame (same bound as seed_centroid_assign)"),
    ("db_loganalyzer_spark/operators/clustering.py", "cluster_representatives"): (
        2, "k-row centroid + k-row size frames"),
    ("db_loganalyzer_spark/operators/joins.py", "equi_join"): (
        1, "explicit caller opt-in flag (broadcast_right), documented contract"),
    ("db_loganalyzer_spark/streaming/streams.py", "streaming_enrich"): (
        1, "explicit caller opt-in flag (broadcast_dim, the dimension-table "
           "contract); pass False for a fact-scale static side"),
    ("db_loganalyzer_spark/operators/joins.py", "attach_global_stats"): (
        1, "1-row global stats frame"),
    ("db_loganalyzer_spark/operators/textstats.py", "classifier_gate"): (
        1, "vocabulary-sized weight table (the linear classifier's model, "
           "100k-1M rows, grows sublinearly in the corpus)"),
    ("db_loganalyzer_spark/operators/layout.py", "zorder_layout_audit"): (
        1, "1-row min/max bounds frame (four longs)"),
    ("db_loganalyzer_spark/operators/joins.py", "lookup_with_fallback"): (
        2, "baseline lookup frames, bounded by metric vocabulary"),
    ("db_loganalyzer_spark/operators/joins.py", "bloom_prefilter"): (
        1, "aggregated bloom bitmap, <= m bits regardless of build rows"),
    ("db_loganalyzer_spark/operators/ranking.py", "tfidf_top_terms"): (
        1, "1-row corpus-N frame"),
    ("db_loganalyzer_spark/operators/ranking.py", "bm25_search"): (
        1, "1-row avgdl frame"),
    ("db_loganalyzer_spark/operators/similarity.py", "brute_force_topk"): (
        1, "query-set frame (|Q| << corpus by contract)"),
    ("db_loganalyzer_spark/operators/similarity.py", "lsh_topk"): (
        1, "bucketed query-set frame"),
    ("db_loganalyzer_spark/operators/similarity.py", "ivf_topk"): (
        1, "cell-probed query-set frame"),
    ("db_loganalyzer_spark/operators/sketches.py", "hll_cumulative"): (
        1, "register grid, <= 2^p rows per day bucket"),
    ("db_loganalyzer_spark/operators/sketches.py", "countmin_estimates"): (
        1, "count-min sketch, <= d*w counters"),
    ("db_loganalyzer_spark/operators/sketches.py", "histogram_quantiles"): (
        1, "per-group stat frame over bounded group keys"),
    ("db_loganalyzer_spark/detectors/detectors.py", "_with_baseline"): (
        2, "baseline + ALL-fallback frames, bounded by metric vocabulary"),
    ("db_loganalyzer_spark/detectors/detectors.py", "metric_anomalies"): (
        1, "per-metric stats frame (bounded vocabulary)"),
    ("db_loganalyzer_spark/detectors/detectors.py", "robust_outliers"): (
        2, "per-group median + MAD frames over bounded group keys"),
    ("db_loganalyzer_spark/detectors/detectors.py", "seasonal_anomalies"): (
        1, "per-(metric, season-slot) profile frame, bounded grid"),
    ("db_loganalyzer_spark/sources/tables.py", "load_customer_geo"): (
        2, "nation (25 rows) and region (5 rows) — genuinely fixed dims"),
}


def _broadcast_sites_in_source(src: str, rel: str, sites: dict) -> None:
    """Collect broadcast call sites in one module's source into `sites`.

    Catches `<anything>.broadcast(...)` (attribute form), bare
    `broadcast(...)`, AND bare-name calls through an import alias
    (`from pyspark.sql.functions import broadcast as bc; bc(df)`) —
    the aliasing hole the r8 verdict named. Alias resolution is a
    module-level pre-pass: any name bound by `from ... import
    broadcast [as X]` counts as the function."""
    import ast

    tree = ast.parse(src, rel)
    aliases = {"broadcast"}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            for a in node.names:
                if a.name == "broadcast":
                    aliases.add(a.asname or a.name)
    stack: list[str] = []

    class V(ast.NodeVisitor):
        def visit_FunctionDef(self, node):
            stack.append(node.name)
            self.generic_visit(node)
            stack.pop()

        visit_AsyncFunctionDef = visit_FunctionDef

        def visit_Call(self, node):
            fn = node.func
            hit = (
                isinstance(fn, ast.Attribute) and fn.attr == "broadcast"
            ) or (isinstance(fn, ast.Name) and fn.id in aliases)
            if hit:
                key = (rel, stack[-1] if stack else "<module>")
                sites[key] = sites.get(key, 0) + 1
            self.generic_visit(node)

    V().visit(tree)


def _broadcast_callsites():
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    files = [os.path.join(repo, "__spark_entry__.py")]
    for dirpath, _, fnames in os.walk(
        os.path.join(repo, "db_loganalyzer_spark")
    ):
        for fn in sorted(fnames):
            if fn.endswith(".py"):
                files.append(os.path.join(dirpath, fn))
    sites: dict[tuple[str, str], int] = {}
    for path in files:
        with open(path) as f:
            src = f.read()
        _broadcast_sites_in_source(src, os.path.relpath(path, repo), sites)
    return sites


def test_broadcast_lint_catches_import_alias():
    """Fixture proof for the aliasing hole: a bare-name call through
    `from pyspark.sql.functions import broadcast as bc` must be counted
    as a broadcast call site (it compiles to ast.Name('bc'), which the
    pre-r9 lint ignored)."""
    fixture = (
        "from pyspark.sql.functions import broadcast as bc\n"
        "from pyspark.sql.functions import broadcast\n"
        "def sneaky(df):\n"
        "    return bc(df)\n"
        "def obvious(df):\n"
        "    return broadcast(df)\n"
    )
    sites: dict = {}
    _broadcast_sites_in_source(fixture, "fixture.py", sites)
    assert sites == {
        ("fixture.py", "sneaky"): 1,
        ("fixture.py", "obvious"): 1,
    }, sites


def test_broadcast_callsites_all_justified():
    sites = _broadcast_callsites()
    new = {
        k: n for k, n in sites.items()
        if k not in BROADCAST_OK or BROADCAST_OK[k][0] != n
    }
    assert not new, (
        "broadcast call sites not on (or drifted from) the boundedness "
        f"allowlist — add a justification or size-gate them: {new}"
    )


def test_broadcast_allowlist_not_stale():
    sites = _broadcast_callsites()
    gone = [k for k in BROADCAST_OK if k not in sites]
    assert not gone, f"allowlisted broadcast call sites no longer exist: {gone}"


def test_allowlists_not_stale(audit):
    # every allowlisted entry must still exhibit the pattern it excuses —
    # otherwise the allowlist rots and stops meaning anything
    gone = [
        n
        for n in BNLJ_OK
        if n in audit and "BroadcastNestedLoopJoin" not in audit[n]
    ]
    gone += [
        n
        for n in GLOBAL_WINDOW_OK
        if n in audit and "SinglePartition" not in audit[n]
    ]
    assert not gone, f"allowlisted pattern no longer present: {gone}"


def test_no_reinlined_hash_chains(audit):
    """Regression lint for the generator-pushdown blowup fixed on m22
    (round 10): when CollapseProject or predicate pushdown re-inlines a
    materialized token-hash projection, the plan text repeats the
    `aggregate(split(` chain once per element_at reference — dozens to
    hundreds of copies — and the operator re-evaluates the whole chain
    per element (measured 77x on m22 at sf0.1). A healthy plan carries
    the chain a handful of times (one per materialized projection plus
    the always-true guard reference)."""
    bad = {}
    for n, p in audit.items():
        if "InMemoryRelation" in p:
            # CacheManager substitution (an entry persist()ed and a prior
            # test materialized it): the cached child plan is SERIALIZED
            # into the explain text once per use site, inflating the
            # count without any re-evaluation — the cached data is
            # reused, which is the opposite of this lint's target.
            # Observed full-suite-only on m03/m03e (12 -> 42+ copies).
            continue
        hits = p.count("aggregate(split(")
        if hits > 12:
            bad[n] = hits
    assert not bad, f"re-inlined hash chains (copies per plan): {bad}"
