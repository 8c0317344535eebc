"""The cached-storage rule of ``session.py``: ``hold``/``hold_checkpoint``
register storage with the innermost open ``held()`` scope of the calling
context, which releases it on exit and never touches storage taken
outside it; and the registry entries that reach a storage site leave
nothing stored once their scope closes."""

import threading

import pytest
from pyspark import StorageLevel

import __spark_entry__ as entry_mod
from db_loganalyzer_spark.operators.dedup import shingle_containment_pairs
from db_loganalyzer_spark.session import held, hold, hold_checkpoint

# every registry entry whose build or run reaches hold or hold_checkpoint
STORAGE_ENTRIES = [
    "m02_ngram_jaccard", "m02c_ngram_jaccard_capped", "m08_dedup_components",
    "m08c_dedup_components_capped", "m13_dedup_representatives",
    "m14_leakage_safe_split", "t14_shingle_containment", "m03_minhash_lsh_dedup",
    "m03e_minhash_lsh_estimate", "d09_rollback_analysis", "w10_severity_first",
    "w12_value_drops_global", "j09_interval_concurrency", "s04_preprocessed_load",
    "sim05_embedding_dedup_groups", "pipe02_neardup_corpus",
]


def _frame(spark, n):
    return spark.range(n).selectExpr("id", "id * 2 AS x")


def _stored(df):
    return df.storageLevel != StorageLevel.NONE


def _rdd_id(checkpointed):
    return checkpointed._jdf.queryExecution().analyzed().rdd().id()


def test_nested_scope_releases_only_its_own(spark):
    with held():
        outer = hold(_frame(spark, 10))
        with held():
            inner = hold(_frame(spark, 11))
            assert _stored(outer) and _stored(inner)
        assert _stored(outer) and not _stored(inner)
    assert not _stored(outer)


def test_release_on_error(spark):
    with pytest.raises(RuntimeError, match="boom"):
        with held():
            df = hold(_frame(spark, 12))
            df.count()
            raise RuntimeError("boom")
    assert not _stored(df)


def test_caller_persisted_frame_is_kept(spark):
    mine = _frame(spark, 13).persist()
    try:
        with held():
            assert hold(mine) is mine
        assert _stored(mine)
    finally:
        mine.unpersist()


def test_caller_local_checkpoint_is_kept(spark, persistent_rdds):
    mine = _frame(spark, 14).localCheckpoint()
    rdd_id = _rdd_id(mine)
    try:
        with held():
            assert hold(mine).count() == 14
            hold_checkpoint(mine.filter("id > 3")).count()
        assert rdd_id in persistent_rdds()
        assert mine.count() == 14
    finally:
        spark.sparkContext._jsc.getPersistentRDDs().get(rdd_id).unpersist(False)


def test_streaming_frame_passes_through(spark):
    stream = spark.readStream.format("rate").load()
    with held():
        assert hold(stream) is stream


def test_checkpoint_rdd_is_freed(spark, persistent_rdds):
    before = persistent_rdds()
    with held():
        df = hold_checkpoint(_frame(spark, 15))
        assert _rdd_id(df) in persistent_rdds() - before
    assert persistent_rdds() - before == set()


def test_no_scope_releases_nothing(spark, persistent_rdds):
    df = hold(_frame(spark, 16))
    cp = hold_checkpoint(_frame(spark, 17))
    try:
        with held():
            pass
        assert _stored(df) and _rdd_id(cp) in persistent_rdds()
    finally:
        df.unpersist()
        spark.sparkContext._jsc.getPersistentRDDs().get(_rdd_id(cp)).unpersist(False)


def test_thread_scopes_are_independent(spark):
    entered, release = threading.Event(), threading.Event()
    got = {}

    def other():
        with held():
            got["df"] = hold(_frame(spark, 18))
            entered.set()
            release.wait(60)

    t = threading.Thread(target=other)
    t.start()
    try:
        assert entered.wait(60)
        with held():
            mine = hold(_frame(spark, 19))
        # this thread's exit released its own frame, not the other's
        assert not _stored(mine) and _stored(got["df"])
    finally:
        release.set()
        t.join(60)
    assert not _stored(got["df"])


def test_streaming_input_through_a_storage_site(spark):
    """An operator that holds an intermediate (here the shingle index)
    builds its plan over a stream: the streaming frame is not persisted
    (Spark would refuse to plan it) and nothing is stored."""
    docs = spark.readStream.format("rate").load().selectExpr(
        "value AS doc_id", "concat('a b c d ', CAST(value AS STRING)) AS text"
    )
    with held():
        pairs = shingle_containment_pairs(docs, n=2)
    assert pairs.isStreaming


def test_storage_entries_leave_nothing_stored(spark, sf_dir, persistent_rdds):
    """Each entry that reaches a storage site, built and collected in its
    own held() scope, leaves no new persistent RDD, and the caller's own
    storage (a persisted frame and a localCheckpoint) stays. Ids stored
    before may leave the set meanwhile, when Spark's ContextCleaner
    unpersists what earlier tests dropped."""
    mine = _frame(spark, 20).persist()
    mine_cp = _frame(spark, 21).localCheckpoint()
    before = persistent_rdds()
    qs = entry_mod.queries()
    try:
        for name in STORAGE_ENTRIES:
            with held():
                qs[name](spark, sf_dir).collect()
            assert persistent_rdds() - before == set(), name
        assert _stored(mine) and _rdd_id(mine_cp) in persistent_rdds()
    finally:
        mine.unpersist()
        spark.sparkContext._jsc.getPersistentRDDs().get(_rdd_id(mine_cp)).unpersist(False)
