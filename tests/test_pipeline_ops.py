"""Tests for the training-pipeline operators: dedup, similarity, text
stats, chunking, multimodal plumbing."""

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from db_loganalyzer_spark.operators import dedup as DD
from db_loganalyzer_spark.operators import similarity as SIM
from db_loganalyzer_spark.operators import textstats as TS
from db_loganalyzer_spark.operators.chunking import (
    chunk_summaries,
    recursive_character_split,
    split_text,
)
from db_loganalyzer_spark.operators.multimodal import (
    decode_media,
    fake_decode_backend,
    frame_sample_plan,
    resize_plan,
    unavailable_decode_backend,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "The quick brown fox jumps over the lazy dog"),
        (1, "the quick  brown fox JUMPS over the lazy dog"),  # exact dup after norm
        (2, "The quick brown fox jumps over the lazy cat"),   # near dup
        (3, "a completely different document about spark and joins"),
        (4, "short"),
        (5, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark, docs):
    groups = DD.exact_dedup_groups(docs).collect()
    n_groups = len(groups)
    assert n_groups == 5  # 0 and 1 collapse
    assert {r.keeper_id for r in groups} == {0, 2, 3, 4, 5}  # keeper is min id


def test_ngram_jaccard(spark, docs):
    pairs = {(r.id_a, r.id_b): r.jaccard for r in
             DD.ngram_jaccard_pairs(docs, threshold=0.3, n=2).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and 0.5 < pairs[(0, 2)] < 1.0


def test_ngram_jaccard_doc_freq_cap(spark, docs):
    # cap=6 (> corpus size) filters nothing: identical to the exact path
    uncapped = {(r.id_a, r.id_b): r.jaccard for r in
                DD.ngram_jaccard_pairs(docs, threshold=0.3, n=2).collect()}
    loose = {(r.id_a, r.id_b): r.jaccard for r in
             DD.ngram_jaccard_pairs(
                 docs, threshold=0.3, n=2, max_doc_freq=6
             ).collect()}
    assert loose == uncapped
    # cap=1 drops every shared shingle -> no co-occurrence, no pairs
    none = DD.ngram_jaccard_pairs(
        docs, threshold=0.0, n=2, max_doc_freq=1
    ).collect()
    assert none == []
    # cap=2: shingles shared by docs 0,1,2 (freq 3) leave the index; the
    # exact-dup pair (0,1) survives on its remaining shared shingles
    capped = {(r.id_a, r.id_b): r.jaccard for r in
              DD.ngram_jaccard_pairs(
                  docs, threshold=0.3, n=2, max_doc_freq=2
              ).collect()}
    assert (0, 1) in capped and capped[(0, 1)] == 1.0


def test_clone_quadratic_warning(spark, docs, monkeypatch):
    # Clone-heavy corpus: 8 copies of one sentence -> every shingle has
    # doc_freq 8 > the (lowered) threshold; the uncapped path must warn.
    import warnings as _w

    monkeypatch.setattr(DD, "_CLONE_WARN_DOC_FREQ", 5)
    clones = spark.createDataFrame(
        [(i, "the same boilerplate sentence repeated everywhere") for i in range(8)],
        "doc_id long, text string",
    )
    with pytest.warns(DD.CloneQuadraticWarning, match="max_doc_freq"):
        DD.ngram_jaccard_pairs(clones, threshold=0.3, n=2).collect()
    # Varied corpus (the module fixture: max shingle doc_freq is 3) must
    # NOT warn, and capped calls never run the guard at all.
    with _w.catch_warnings():
        _w.simplefilter("error", DD.CloneQuadraticWarning)
        DD.ngram_jaccard_pairs(docs, threshold=0.3, n=2).collect()
        DD.ngram_jaccard_pairs(clones, threshold=0.3, n=2, max_doc_freq=200).collect()
    # Output is unchanged by the guard: all 28 clone pairs at jaccard 1.
    pairs = DD.ngram_jaccard_pairs(clones, threshold=0.9, n=2).collect()
    assert len(pairs) == 28 and all(r.jaccard == 1.0 for r in pairs)


def _poly_ref(s: str, base: int = 131, init: int = 7, mod: int = 1_000_000_007) -> int:
    h = init
    for ch in s:
        h = (h * base + ord(ch)) % mod
    return h


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=33, max_codepoint=126),
            min_size=1,
            max_size=30,
        ),
        min_size=1,
        max_size=10,
        unique=True,
    )
)
def test_portable_hash_triple_engine_contract(spark, strings):
    """portable_hash is a CROSS-ENGINE contract: the Spark HOF fold, the
    DuckDB list_reduce restatement used by every m03/m04 oracle, and a
    pure-Python reference must agree on arbitrary printable-ASCII input,
    not just the corpus the gate happens to exercise."""
    import duckdb

    df = spark.createDataFrame([(s,) for s in strings], "s string")
    got = {
        r["s"]: r["h"]
        for r in df.select("s", DD.portable_hash("s").alias("h")).collect()
    }
    con = duckdb.connect()
    sql = (
        "SELECT list_reduce(list_prepend(CAST(7 AS BIGINT), "
        "list_transform(string_split(?, ''), ch -> CAST(ascii(ch) AS BIGINT))), "
        "(acc, x) -> (acc * 131 + x) % 1000000007)"
    )
    for s in strings:
        want = _poly_ref(s)
        duck = con.execute(sql, [s]).fetchone()[0]
        assert got[s] == want == duck, (s, got[s], want, duck)


@pytest.mark.parametrize("family", ["portable"])
def test_minhash_lsh_finds_near_dups(spark, docs, family):
    got = {(r.id_a, r.id_b) for r in
           DD.minhash_lsh_dedup(docs, threshold=0.3, num_hashes=16, bands=8,
                                n=2).collect()}
    # exact duplicates are always caught (identical signatures)
    assert (0, 1) in got
    # verified jaccard means no false positives vs exact
    exact = {(r.id_a, r.id_b) for r in
             DD.ngram_jaccard_pairs(docs, threshold=0.3, n=2).collect()}
    assert got <= exact


@pytest.mark.parametrize("family", ["portable"])
def test_minhash_estimate_verify_invariants(spark, docs, family):
    """verify='estimate' replaces the exact-Jaccard verify join with the
    MinHash component-match estimator (never shuffles shingle arrays —
    the 100 TB mode). Invariants: exact dups (identical signatures)
    estimate 1.0; estimate pairs are a subset of the LSH candidates
    (same banding); the whole pipeline is deterministic (no RNG)."""
    est = {(r.id_a, r.id_b): r.jaccard for r in
           DD.minhash_lsh_dedup(docs, threshold=0.3, num_hashes=16,
                                bands=8, n=2, verify="estimate").collect()}
    assert est[(0, 1)] == 1.0
    cands = {(r.id_a, r.id_b) for r in DD.minhash_lsh_candidates(
        DD.minhash_signatures(docs, 16, 2), bands=8).collect()}
    assert set(est) <= cands
    again = {(r.id_a, r.id_b): r.jaccard for r in
             DD.minhash_lsh_dedup(docs, threshold=0.3, num_hashes=16,
                                  bands=8, n=2, verify="estimate").collect()}
    assert est == again


def test_minhash_estimate_error_bound(spark, sf_dir):
    """Estimator quality on the real sf0.001 documents corpus, pinned:
    with threshold=0 both verify modes return every LSH candidate pair,
    so joining them gives per-pair (exact, estimate). For genuinely
    similar pairs (exact J >= 0.3) the k=32 estimator is tight
    (measured mean |err| 0.018, max 0.116 — inside the sqrt(J(1-J)/k)
    std err). For dissimilar pairs the CONDITIONED-ON-COLLISION bias
    inflates the estimate (they are candidates because a band matched;
    measured up to ~0.55 on J~0.01 pairs) — pinned as an upward-only
    effect: the estimate never undershoots exact J by more than ~4
    sigma. Threshold classification at 0.5 vs exact ground truth:
    recall pinned high (misses need a 4-sigma undershoot), precision
    bounded by the collision bias."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    kw = dict(num_hashes=32, bands=8, n=3)
    exact = {(r.id_a, r.id_b): r.jaccard for r in
             DD.minhash_lsh_dedup(docs, threshold=0.0, **kw).collect()}
    est = {(r.id_a, r.id_b): r.jaccard for r in
           DD.minhash_lsh_dedup(docs, threshold=0.0, verify="estimate",
                                **kw).collect()}
    assert set(exact) == set(est)  # same candidates, threshold 0
    assert len(exact) > 0
    hi = [p for p, j in exact.items() if j >= 0.3]
    hi_errs = [abs(est[p] - exact[p]) for p in hi]
    assert hi and sum(hi_errs) / len(hi_errs) < 0.05, hi_errs
    assert max(hi_errs) < 0.2, max(hi_errs)
    # bias is upward-only: no pair's estimate undershoots by > 4 sigma
    assert all(est[p] >= exact[p] - 0.2 for p in exact)
    truth = {p for p, j in exact.items() if j >= 0.5}
    got = {p for p, j in est.items() if j >= 0.5}
    assert truth and len(truth & got) / len(truth) >= 0.9
    assert got and len(truth & got) / len(got) >= 0.8


def test_minhash_estimate_loose_regime_equals_candidates(spark, sf_dir):
    """The regime check documented on minhash_lsh_dedup: when
    ceil(threshold*k) <= per-band rows, one band collision already
    clears the threshold, so verify='estimate' accepts EVERY candidate
    — the filter is vacuous and the caller should use 'hybrid'. Pinned
    at the loose registry config (threshold=0.12, k=16, 2-row bands:
    need >=2 matches, a band collision supplies exactly 2)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    est = {(r.id_a, r.id_b) for r in DD.minhash_lsh_dedup(
        docs, threshold=0.12, num_hashes=16, bands=8, n=2,
        verify="estimate").collect()}
    cands = {(r.id_a, r.id_b) for r in DD.minhash_lsh_candidates(
        DD.minhash_signatures(docs, 16, 2), bands=8).collect()}
    assert est == cands and len(cands) > 0


def test_minhash_hybrid_verify(spark, sf_dir):
    """verify='hybrid' = estimate-filter then exact-verify the survivors
    only. Every returned jaccard is TRUE Jaccard (precision exact), and
    on this corpus the default 4-sigma margin loses no pairs: hybrid ==
    exact, while the arrays-shuffling verify join only ever saw the
    estimated-positive pairs."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    kw = dict(threshold=0.5, num_hashes=32, bands=8, n=3)
    exact = {(r.id_a, r.id_b): r.jaccard for r in
             DD.minhash_lsh_dedup(docs, **kw).collect()}
    hyb = {(r.id_a, r.id_b): r.jaccard for r in
           DD.minhash_lsh_dedup(docs, verify="hybrid", **kw).collect()}
    assert hyb == exact
    for p, j in hyb.items():
        assert abs(j - exact[p]) < 1e-12  # true Jaccard, not an estimate


@pytest.mark.parametrize("family", ["portable"])
def test_simhash_invariants(spark, docs, family):
    fps = {r.id: r.simhash for r in
           DD.simhash(docs).collect()}
    assert fps[0] == fps[1]  # identical normalized token sets
    ham02 = bin(fps[0] ^ fps[2]).count("1")
    ham03 = bin(fps[0] ^ fps[3]).count("1")
    assert ham02 < ham03  # near dup closer than unrelated doc
    pairs = {(r.id_a, r.id_b) for r in
             DD.simhash_near_dups(docs, max_hamming=0).collect()}
    assert (0, 1) in pairs


@pytest.fixture(scope="module")
def vectors(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.standard_normal((20, 8))
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
    # vec 20 = near-copy of vec 0
    rows.append((20, [float(x) for x in base[0] + 0.01 * rng.standard_normal(8)]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_bruteforce_topk(spark, vectors):
    q = vectors.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    top = SIM.brute_force_topk(vectors, q, k=3, vec_col="embedding").collect()
    assert top[0].vec_id == 20 and top[0].rank == 1  # the near-copy wins
    assert top[0].cosine > 0.99


def test_lsh_topk_recall(spark, vectors):
    q = vectors.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = SIM.brute_force_topk(vectors, q, k=3)
    approx = SIM.lsh_topk(vectors, q, k=3, n_planes=2, dim=8)
    e = {(r.query_id, r.vec_id) for r in exact.collect()}
    a = {(r.query_id, r.vec_id) for r in approx.collect()}
    # approximate: results are a subset of the bucket, every returned
    # pair must also score identically to the exact path
    assert a  # finds something with 2 planes (4 buckets over 21 vecs)
    recall = len(a & e) / len(e)
    assert recall > 0.2


def test_embedding_near_dups(spark, vectors):
    pairs = {(r.id_a, r.id_b): r.cosine for r in
             SIM.embedding_near_dups(vectors, threshold=0.95, n_planes=2, dim=8).collect()}
    assert (0, 20) in pairs


def test_lsh_multi_probe_recall_dominates_single(spark, vectors):
    q = vectors.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = {(r.query_id, r.vec_id) for r in
             SIM.brute_force_topk(vectors, q, k=3).collect()}
    single = {(r.query_id, r.vec_id) for r in
              SIM.lsh_topk(vectors, q, k=3, n_planes=3, dim=8).collect()}
    multi = {(r.query_id, r.vec_id) for r in
             SIM.lsh_topk(
                 vectors, q, k=3, n_planes=3, dim=8, n_probe=3
             ).collect()}
    # probing flip buckets can only widen the candidate pool
    r_single = len(single & exact) / len(exact)
    r_multi = len(multi & exact) / len(exact)
    assert r_multi >= r_single
    # 1 plane = 2 buckets; home + its flip covers the whole corpus, so
    # multi-probe degenerates to brute force (probes are Hamming-1 flips,
    # hence full coverage is only reachable when n_planes == 1)
    full = {(r.query_id, r.vec_id) for r in
            SIM.lsh_topk(
                vectors, q, k=3, n_planes=1, dim=8, n_probe=2
            ).collect()}
    assert full == exact


def test_ivf_topk_exact_when_probing_all_cells(spark, vectors):
    q = vectors.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = SIM.brute_force_topk(vectors, q, k=3)
    full = SIM.ivf_topk(vectors, q, k=3, n_cells=4, n_probe=4)
    e = {(r.query_id, r.vec_id, r.rank) for r in exact.collect()}
    f = {(r.query_id, r.vec_id, r.rank) for r in full.collect()}
    assert f == e  # probing every cell degenerates to brute force


def test_ivf_topk_recall_and_candidate_discipline(spark, vectors):
    q = vectors.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = SIM.brute_force_topk(vectors, q, k=3)
    approx = SIM.ivf_topk(vectors, q, k=3, n_cells=4, n_probe=2)
    e = {(r.query_id, r.vec_id): r.cosine for r in exact.collect()}
    a = {(r.query_id, r.vec_id): r.cosine for r in approx.collect()}
    assert a
    hits = set(a) & set(e)
    assert len(hits) / len(e) > 0.3  # half the cells probed
    for pair in hits:  # candidates score identically to the exact path
        assert a[pair] == e[pair]


def test_ivf_self_query_finds_near_copy(spark, vectors):
    # vec 20 is a near-copy of vec 0: any sane quantizer cells them
    # together, so even n_probe=1 must surface it at rank 1
    q = vectors.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    top = SIM.ivf_topk(vectors, q, k=3, n_cells=4, n_probe=1).collect()
    assert top[0].vec_id == 20 and top[0].cosine > 0.99


def test_text_stats(spark, docs):
    out = {r.doc_id: r for r in docs.select(
        "doc_id",
        TS.token_count("text").alias("n_tokens"),
        TS.quality_score("text").alias("quality"),
        TS.detect_language("text").alias("lang_detected"),
        TS.fingerprint("text").alias("fingerprint"),
    ).collect()}
    assert out[0].n_tokens == 9
    assert out[0].lang_detected == "en"
    assert out[5].n_tokens == 0
    assert out[0].fingerprint == out[1].fingerprint  # normalization-stable
    assert out[0].fingerprint != out[2].fingerprint  # order/content-sensitive
    assert 0 <= out[3].quality <= 1


def test_split_text_contract():
    text = " ".join(f"w{i:03d}" for i in range(200))  # 1199 chars, spaces only
    chunks = split_text(text, chunk_size=500, chunk_overlap=100)
    assert all(len(c) <= 500 for c in chunks)
    assert len(chunks) >= 3
    # overlap: consecutive chunks share a suffix/prefix region
    tail = chunks[0].split()[-5:]
    assert " ".join(tail) in chunks[1]
    # all content preserved in order (modulo overlap duplication)
    joined = " ".join(chunks)
    for i in range(200):
        assert f"w{i:03d}" in joined
    # short text: single chunk; empty: none
    assert split_text("abc", 500, 100) == ["abc"]
    assert split_text("", 500, 100) == []


def test_split_text_newline_hierarchy():
    text = "para one line\n" * 60 + "\n\n" + "para two line\n" * 60
    chunks = split_text(text, chunk_size=500, chunk_overlap=0)
    assert all(len(c) <= 500 for c in chunks)


def test_recursive_split_dataframe(spark, docs):
    long_doc = spark.createDataFrame(
        [(99, " ".join(f"tok{i}" for i in range(300)))], "doc_id long, text string"
    )
    out = recursive_character_split(long_doc)
    rows = out.orderBy("chunk_index").collect()
    assert len(rows) > 1
    assert [r.chunk_index for r in rows] == list(range(len(rows)))
    summ = chunk_summaries(out).collect()[0]
    assert summ.n_chunks == len(rows)


@pytest.fixture(scope="module")
def fake_encoder():
    # defined locally so cloudpickle ships it by VALUE to executors (a
    # module-level class in tests/ is not importable on the worker side)
    class FakeEncoder:
        """Deterministic tiktoken stand-in: one token per whitespace
        word plus one per punctuation char (shape-compatible .encode)."""

        def encode(self, text):
            import re

            return re.findall(r"\S+|[^\w\s]", text)

    return FakeEncoder


def test_token_count_pudf_injectable_backend(spark, docs, fake_encoder):
    counted = docs.withColumn(
        "n", TS.token_count_pudf(encoder_factory=fake_encoder)(F.col("text"))
    )
    got = {r.doc_id: r.n for r in counted.collect()}
    assert got[0] == 9  # "The quick brown fox jumps over the lazy dog"
    assert got[5] == 0  # empty text
    assert got[4] == 1  # "short"


def test_token_count_pudf_missing_tiktoken_fails_on_driver():
    # no tiktoken in this container: the import gate must raise at
    # construction time (driver), not inside an executor task
    with pytest.raises(ImportError, match="tiktoken"):
        TS.token_count_pudf()


def test_chunk_summaries_accepts_real_tokenizer(spark, fake_encoder):
    long_doc = spark.createDataFrame(
        [(7, " ".join(f"tok{i}" for i in range(300)))], "doc_id long, text string"
    )
    out = recursive_character_split(long_doc)
    summ = chunk_summaries(
        out, tokenizer=TS.token_count_pudf(encoder_factory=fake_encoder)
    ).collect()[0]
    # every chunk token is a whitespace word under the fake encoder; the
    # split overlaps chunks, so total >= the document's 300 words
    assert summ.total_tokens >= 300


def test_multimodal_plumbing(spark, docs):
    media = docs.filter(F.length("text") > 0).select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "utf-8").alias("payload"),
        F.lit("image").alias("media_type"),
        F.create_map(F.lit("source"), F.lit("synthetic")).alias("meta"),
    )
    decoded = decode_media(media, decode_backend=fake_decode_backend)
    rows = {r.media_id: r for r in decoded.collect()}
    assert rows[0].byte_len == len("The quick brown fox jumps over the lazy dog")
    # the fake backend's image label moved to webp when JPEG graduated
    # to the real decoder (r12)
    assert rows[0].format == "webp" and rows[0].width >= 16
    plan = resize_plan(decoded, max_side=32).collect()
    assert all(max(r.out_width, r.out_height) <= 32 + 1 for r in plan)
    # the honest stub raises until a real codec is provided
    with pytest.raises(Exception):
        decode_media(media, decode_backend=unavailable_decode_backend).collect()


def test_bmp_codec_roundtrip_and_golden_bytes():
    """The pure-Python BMP codec decodes REAL image bytes: golden-pin a
    hand-assembled 2x2 24-bit BMP (known header offsets, bottom-up BGR
    rows, 4-byte padding), then round-trip arbitrary pixels."""
    import struct

    from db_loganalyzer_spark.operators.multimodal import (
        decode_bmp,
        encode_bmp,
    )

    pix = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (10, 20, 30)]
    payload = encode_bmp(2, 2, pix)
    # golden header fields, independently of the decoder: 54-byte
    # headers + two 8-byte rows (3*2=6 padded to 8)
    assert payload[:2] == b"BM"
    assert struct.unpack_from("<I", payload, 2)[0] == len(payload) == 54 + 16
    assert struct.unpack_from("<I", payload, 10)[0] == 54
    assert struct.unpack_from("<ii", payload, 18) == (2, 2)
    assert struct.unpack_from("<HH", payload, 26) == (1, 24)
    # bottom-up storage: first stored row is the BOTTOM pixel row, in
    # BGR byte order: (0,0,255)->(255,0,0), (10,20,30)->(30,20,10)
    assert payload[54:60] == bytes((255, 0, 0, 30, 20, 10))
    assert payload[60:62] == b"\x00\x00"  # row padding
    w, h, got = decode_bmp(payload)
    assert (w, h, got) == (2, 2, pix)
    # top-down variant (negative height, rows stored first-row-first)
    # decodes to the same pixels
    neg = bytearray(payload[:54] + payload[62:70] + payload[54:62])
    struct.pack_into("<i", neg, 22, -2)
    assert decode_bmp(bytes(neg))[2] == pix
    with pytest.raises(ValueError):
        decode_bmp(payload[:-3])  # truncated pixel array
    with pytest.raises(ValueError):
        decode_bmp(b"PK" + payload[2:])  # wrong magic


def test_ppm_codec_roundtrip_comments_and_pgm():
    from db_loganalyzer_spark.operators.multimodal import (
        decode_ppm,
        encode_ppm,
    )

    pix = [(1, 2, 3), (4, 5, 6), (7, 8, 9), (250, 251, 252)]
    payload = encode_ppm(4, 1, pix)
    assert payload.startswith(b"P6\n4 1\n255\n")
    assert decode_ppm(payload) == (4, 1, pix)
    # header comments and arbitrary whitespace are legal PNM
    commented = b"P6 # a comment\n# another\n 4\t1 \n255\n" + payload[11:]
    assert decode_ppm(commented) == (4, 1, pix)
    # PGM (P5): gray replicated to three channels
    pgm = b"P5\n3 1\n255\n" + bytes((0, 128, 255))
    assert decode_ppm(pgm) == (3, 1, [(0, 0, 0), (128, 128, 128),
                                      (255, 255, 255)])
    with pytest.raises(ValueError):
        decode_ppm(payload[:-1])


def test_png_codec_roundtrip_filters_golden_and_errors():
    """The stdlib-zlib PNG codec: golden-pin the container layout
    (signature, IHDR fields, stored-block IDAT framing and its
    closed-form byte length), verify every one of the five row filters
    reverses correctly (the encoder cycles them per row), and decode a
    REAL level-9 deflate stream — the path actual corpus PNGs take."""
    import struct
    import zlib

    from db_loganalyzer_spark.operators.multimodal import (
        _PNG_SIG,
        decode_png,
        encode_png,
    )

    # 3x6: six rows exercise filters 0,1,2,3,4,0
    w, h = 3, 6
    pix = [((7 + 3 * i) % 256, (11 + 5 * i) % 256, (13 + 7 * i) % 256)
           for i in range(w * h)]
    payload = encode_png(w, h, pix)
    assert payload[:8] == _PNG_SIG
    # IHDR: width, height, depth 8, color type 2 (truecolor RGB)
    assert payload[12:16] == b"IHDR"
    assert struct.unpack_from(">IIBBBBB", payload, 16) == (w, h, 8, 2, 0, 0, 0)
    # closed-form byte length: 68 + h*(1+3w) (stored-block zlib framing)
    assert len(payload) == 68 + h * (1 + 3 * w)
    # the IDAT stream is valid zlib and carries the filtered scanlines
    (idat_len,) = struct.unpack_from(">I", payload, 33)
    assert payload[37:41] == b"IDAT"
    raw = zlib.decompress(payload[41: 41 + idat_len])
    assert len(raw) == h * (1 + 3 * w)
    assert [raw[y * (1 + 3 * w)] for y in range(h)] == [0, 1, 2, 3, 4, 0]
    assert decode_png(payload) == (w, h, pix)
    # REAL compression: a level-9 stream inflates through the same path
    packed = encode_png(w, h, pix, compress_level=9)
    assert decode_png(packed) == (w, h, pix)
    # grayscale (color type 0): hand-assemble and expect replication
    gray_raw = b"\x00" + bytes((0, 128, 255))

    def chunk(ctype, data):
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))

    gray = (_PNG_SIG
            + chunk(b"IHDR", struct.pack(">IIBBBBB", 3, 1, 8, 0, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(gray_raw))
            + chunk(b"IEND", b""))
    assert decode_png(gray) == (3, 1, [(0, 0, 0), (128, 128, 128),
                                       (255, 255, 255)])
    with pytest.raises(ValueError):
        decode_png(payload[:-20])  # truncated chunk
    with pytest.raises(ValueError):
        decode_png(b"\x89PNX" + payload[4:])  # bad signature
    bad_depth = (_PNG_SIG
                 + chunk(b"IHDR", struct.pack(">IIBBBBB", 3, 1, 16, 2, 0, 0, 0))
                 + chunk(b"IDAT", zlib.compress(gray_raw))
                 + chunk(b"IEND", b""))
    with pytest.raises(ValueError):
        decode_png(bad_depth)  # 16-bit: route to a codec library
    short = (_PNG_SIG
             + chunk(b"IHDR", struct.pack(">IIBBBBB", 3, 2, 8, 0, 0, 0, 0))
             + chunk(b"IDAT", zlib.compress(gray_raw))  # one row, two claimed
             + chunk(b"IEND", b""))
    with pytest.raises(ValueError):
        decode_png(short)
    # a payload cut INSIDE a chunk's trailing 4 CRC bytes must fail
    # closed, not decode with the CRC check silently skipped: cut the
    # final IEND CRC at every partial length (data intact, CRC absent)
    for missing in range(1, 5):
        with pytest.raises(ValueError):
            decode_png(payload[:-missing])
    # same cut inside the IDAT chunk's CRC (an interior chunk)
    idat_crc_end = 41 + idat_len + 4
    for cut in range(idat_crc_end - 4 + 1, idat_crc_end):
        with pytest.raises(ValueError):
            decode_png(payload[:cut])


def test_pure_python_backend_decodes_synth_payloads(spark):
    """mm01's real path end-to-end off-Spark: synth payloads are valid
    BMP/PPM byte streams whose decoded metadata AND pixels match the
    generating rule."""
    from db_loganalyzer_spark.operators.multimodal import (
        decode_image_pixels,
        pure_python_decode_backend,
        synth_image_payload,
    )

    for mid in (0, 1, 2, 7, 12, 25, 90, 92):
        payload = synth_image_payload(mid)
        meta = pure_python_decode_backend(payload, "image")
        assert meta["width"] == 4 + mid % 13
        assert meta["height"] == 3 + mid % 7
        assert meta["format"] == ("bmp", "ppm", "png")[mid % 3]
        w, h, pix = decode_image_pixels(payload)
        want = [
            ((mid + 3 * i) % 256, (mid + 3 * i + 1) % 256,
             (mid + 3 * i + 2) % 256)
            for i in range(w * h)
        ]
        assert pix == want
    with pytest.raises(ValueError):
        pure_python_decode_backend(b"\xff\xd8\xff\xe0JFIF", "image")  # JPEG


def test_mm01_real_decode_through_spark(spark, docs):
    """The registry path itself: real bytes built in one pandas stage,
    really decoded in the next — no fake backend anywhere."""
    from db_loganalyzer_spark.operators.multimodal import (
        decode_media,
        media_table_synthetic_images,
        pure_python_decode_backend,
    )

    media = media_table_synthetic_images(docs)
    out = {
        r.media_id: r
        for r in decode_media(
            media, decode_backend=pure_python_decode_backend
        ).collect()
    }
    for mid, r in out.items():
        assert r.width == 4 + mid % 13 and r.height == 3 + mid % 7
        assert r.format == ("bmp", "ppm", "png")[mid % 3]
        assert r.n_frames == 1


def test_decode_pixel_stats_matches_closed_form(spark, docs):
    """mm04's stage: channel sums computed from the DECODED pixel
    arrays equal the closed-form generating rule, for both formats."""
    from db_loganalyzer_spark.operators.multimodal import (
        decode_pixel_stats,
        media_table_synthetic_images,
    )

    out = {
        r.media_id: r
        for r in decode_pixel_stats(
            media_table_synthetic_images(docs)
        ).collect()
    }
    for mid, r in out.items():
        n = r.width * r.height
        assert r.n_pixels == n
        assert r.sum_r == sum((mid + 3 * i) % 256 for i in range(n))
        assert r.sum_g == sum((mid + 3 * i + 1) % 256 for i in range(n))
        assert r.sum_b == sum((mid + 3 * i + 2) % 256 for i in range(n))
        assert r.format == ("bmp", "ppm", "png")[mid % 3]


def test_patch_plan_tiles_and_clips(spark):
    from db_loganalyzer_spark.operators.multimodal import patch_plan

    decoded = spark.createDataFrame(
        [(1, "image", 100, 10, 7, 1, "bmp")],
        "media_id long, media_type string, byte_len long, width int, "
        "height int, n_frames int, format string",
    )
    tiles = {
        (r.patch_row, r.patch_col): (r.x0, r.y0, r.x1, r.y1)
        for r in patch_plan(decoded, patch=4).collect()
    }
    # 10x7 at patch 4 => 2 rows x 3 cols, right/bottom edges clipped
    assert len(tiles) == 6
    assert tiles[(0, 0)] == (0, 0, 4, 4)
    assert tiles[(0, 2)] == (8, 0, 10, 4)  # right edge clipped to width
    assert tiles[(1, 1)] == (4, 4, 8, 7)  # bottom edge clipped to height
    # union of patches covers every pixel exactly once
    covered = sum(
        (x1 - x0) * (y1 - y0) for x0, y0, x1, y1 in tiles.values()
    )
    assert covered == 10 * 7


def test_frame_sample_plan(spark):
    decoded = spark.createDataFrame(
        [(1, "video", 100, 64, 48, 90, "mp4")],
        "media_id long, media_type string, byte_len long, width int, height int, n_frames int, format string",
    )
    frames = frame_sample_plan(decoded, every_n=30).collect()
    assert [r.frame_index for r in frames] == [0, 30, 60]


# ---------------------------------------------------------------------------
# PII scrub
# ---------------------------------------------------------------------------


def test_pii_scrub_redacts_and_counts(spark):
    rows = [
        (0, "mail me at jane.doe+x@sub.example.co.uk or call 555-123-4567"),
        (1, "server at 192.168.1.254 responded; backup 10.0.0.1"),
        (2, "no pii here, just words and 12345 numbers"),
        (3, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in TS.pii_scrub(df).collect()}
    assert out[0]["redacted"] == "mail me at <EMAIL> or call <PHONE>"
    assert (out[0]["n_email"], out[0]["n_phone"], out[0]["n_ipv4"]) == (1, 1, 0)
    assert out[1]["redacted"] == "server at <IP> responded; backup <IP>"
    assert out[1]["n_ipv4"] == 2
    assert out[2]["redacted"] == rows[2][1]  # untouched
    assert out[3]["redacted"] is None


def test_pii_email_redacted_before_ip_can_misfire(spark):
    # an email with digit-bearing host segments is consumed whole by the
    # email pass (first in PII_PATTERNS), so the later IP pass never sees
    # its dotted host; an all-numeric host is NOT an email (no alpha TLD)
    # and falls through to the IP rule
    df = spark.createDataFrame(
        [(0, "x a@44.55.e2.com y"), (1, "x 1a@2.3.44.55 y")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["redacted"] for r in TS.pii_scrub(df).collect()}
    assert out[0] == "x <EMAIL> y"
    assert out[1] == "x 1a@<IP> y"


# ---------------------------------------------------------------------------
# Repetition stats (Gopher-style)
# ---------------------------------------------------------------------------


def test_repetition_stats_known_values(spark):
    rows = [
        (0, "a a a a"),          # one word repeated: max_word_frac 1.0
        (1, "a b c d"),          # all distinct
        (2, "a b a b a b"),      # bigram 'a b' 3x of 5 bigrams
        (3, ""),                 # empty -> nulls
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in TS.repetition_stats(df).collect()}
    assert out[0]["max_word_frac"] == 1.0 and out[0]["distinct_ratio"] == 0.25
    assert out[1]["distinct_ratio"] == 1.0 and out[1]["max_word_frac"] == 0.25
    assert out[2]["max_bigram_frac"] == pytest.approx(0.6)
    assert out[3]["n_words"] == 0 and out[3]["distinct_ratio"] is None


# ---------------------------------------------------------------------------
# Hash split
# ---------------------------------------------------------------------------


def test_hash_split_deterministic_and_complete(spark):
    from db_loganalyzer_spark.operators import sampling as S

    df = spark.createDataFrame([(i,) for i in range(1000)], "doc_id long")
    a = {r["doc_id"]: r["split"] for r in S.hash_split(df).collect()}
    b = {r["doc_id"]: r["split"] for r in S.hash_split(df.repartition(7)).collect()}
    assert a == b  # pure function of the id, not of partitioning
    sizes = {r["split"]: r["n_docs"] for r in S.split_sizes(df).collect()}
    assert sum(sizes.values()) == 1000
    # multiplicative hashing spreads near-uniformly: train close to 80%
    assert 700 < sizes["train"] < 900


def test_hash_split_salt_changes_assignment(spark):
    from db_loganalyzer_spark.operators import sampling as S

    df = spark.createDataFrame([(i,) for i in range(500)], "doc_id long")
    a = {r["doc_id"]: r["split"] for r in S.hash_split(df, salt=0).collect()}
    b = {r["doc_id"]: r["split"] for r in S.hash_split(df, salt=97).collect()}
    assert a != b


def test_hash_split_rejects_bad_percents(spark):
    from db_loganalyzer_spark.operators import sampling as S

    df = spark.createDataFrame([(1,)], "doc_id long")
    with pytest.raises(ValueError, match="sum to 100"):
        S.hash_split(df, splits=[("train", 50), ("val", 10)])


# ---------------------------------------------------------------------------
# Decontamination
# ---------------------------------------------------------------------------


def test_ngram_contamination_flags_overlap(spark):
    corpus = spark.createDataFrame(
        [
            (10, "alpha beta gamma delta epsilon"),   # contains bench 3-gram
            (11, "zeta eta theta iota kappa"),        # clean
            (12, "x alpha beta gamma y"),             # same bench 3-gram
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(0, "alpha beta gamma")], "doc_id long, text string"
    )
    out = {r["corpus_id"]: r for r in DD.ngram_contamination(corpus, bench, n=3).collect()}
    assert set(out) == {10, 12}
    assert out[10]["n_shared_shingles"] == 1
    assert out[10]["n_bench_docs"] == 1


def test_ngram_contamination_default_n8_needs_long_overlap(spark):
    corpus = spark.createDataFrame(
        [(1, "one two three four five six seven eight nine")],
        "doc_id long, text string",
    )
    bench_short = spark.createDataFrame(
        [(0, "one two three four five six seven")], "doc_id long, text string"
    )
    assert DD.ngram_contamination(corpus, bench_short).count() == 0  # only 7 words
    bench_long = spark.createDataFrame(
        [(0, "one two three four five six seven eight")], "doc_id long, text string"
    )
    assert DD.ngram_contamination(corpus, bench_long).count() == 1


# ---------------------------------------------------------------------------
# Connected components over near-dup pairs
# ---------------------------------------------------------------------------


def test_dedup_components_chain_and_islands(spark):
    # chain 1-2-3-4 (diameter 3, needs >1 propagation round) + island 7-8
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (7, 8)], "id_a long, id_b long"
    )
    labels = {r.id: r.component_id for r in DD.dedup_components(pairs).collect()}
    assert labels == {1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 8: 7}


def test_dedup_components_idempotent_on_singleton_edges(spark):
    pairs = spark.createDataFrame([(5, 6)], "id_a long, id_b long")
    labels = {r.id: r.component_id for r in DD.dedup_components(pairs).collect()}
    assert labels == {5: 5, 6: 5}


# ---------------------------------------------------------------------------
# Quality gate
# ---------------------------------------------------------------------------


def test_quality_gate_rules(spark):
    rows = [
        (0, "the quick brown fox jumps over a lazy dog today"),  # keep
        (1, "spam " * 50),            # repetitive_word + low_diversity
        (2, "hi"),                    # too_few_tokens
        (3, ""),                      # too_few_tokens (n=0)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in TS.quality_gate(df).collect()}
    assert out[0].keep and out[0].reasons == ""
    assert not out[1].keep
    assert "repetitive_word" in out[1].reasons
    assert "low_diversity" in out[1].reasons
    # reasons string is sorted
    assert out[1].reasons == ",".join(sorted(out[1].reasons.split(",")))
    # single-word doc: max_word_frac=1.0 also trips the repetition rule
    assert out[2].reasons == "repetitive_word,too_few_tokens"
    # empty doc: missing stats coalesce to the failing side (conservative)
    assert out[3].reasons == "low_diversity,repetitive_word,too_few_tokens"
    assert not out[3].keep


def test_corpus_report_rollup(spark):
    rows = [
        (0, "the quick brown fox jumps over a lazy dog today", "web", "en"),
        (1, "hi", "web", "en"),                 # fails gate
        (2, "one two three four five six seven", "books", "en"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string, lang string")
    out = {(r.source, r.lang): r for r in TS.corpus_report(df).collect()}
    web = out[("web", "en")]
    assert web.n_docs == 2 and web.n_kept == 1 and web.keep_rate == 0.5
    assert web.total_words == 11  # 10 + 1
    assert web.avg_words == 5.5
    assert web.total_chars == len(rows[0][1]) + len(rows[1][1])
    books = out[("books", "en")]
    assert books.n_docs == 1 and books.n_kept == 1 and books.keep_rate == 1.0


def test_shingle_hashes_compose_to_portable_hash(spark):
    """The compositional per-token path (shingle_hashes_from_tp over a
    materialized _token_hash_pows column, as every MinHash/winnowing
    caller builds it) must produce exactly the hash values of
    portable_hash over the materialized n-gram strings (up to
    multiplicity — MinHash only consumes the value set via array_min)."""
    from pyspark.sql import functions as F

    rows = [
        ("a",),
        ("one two three four five",),
        ("  Mixed   CASE  and\tspacing  ",),
        ("repeat repeat repeat repeat",),
        ("unicode café naïve 中文 token",),
        ("",),
        ("short",),
    ]
    df = spark.createDataFrame(rows, "text string")
    tp = df.select(
        "text",
        DD._token_hash_pows(F.split(DD.normalize_text("text"), " ")).alias("tp"),
    )
    for n in (1, 2, 3):
        got = tp.select(
            F.sort_array(
                F.array_distinct(DD.shingle_hashes_from_tp(F.col("tp"), n))
            ).alias("h")
        ).collect()
        want = df.select(
            F.sort_array(
                F.array_distinct(
                    F.transform(
                        DD.word_shingles("text", n), lambda g: DD.portable_hash(g)
                    )
                )
            ).alias("h")
        ).collect()
        assert [r.h for r in got] == [r.h for r in want], f"n={n}"


def test_pack_sequences_semantics(spark):
    from db_loganalyzer_spark.operators.sampling import pack_sequences

    # token counts: 3, 4, 2, 5, 1 in doc_id order; budget 6 =>
    # cum:  3, 7, 9, 14, 15 ; prev_cum: 0, 3, 7, 9, 14
    # pack: 0, 0, 1, 1, 2  (overflow-tolerant greedy fill)
    rows = [
        (1, "a b c"),
        (2, "d e f g"),
        (3, "h i"),
        (4, "j k l m n"),
        (5, "o"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string").withColumn(
        "source", F.lit("s1")
    )
    out = {
        r["pack_id"]: (r["n_docs"], r["pack_tokens"], r["first_doc"], r["last_doc"])
        for r in pack_sequences(df, budget_tokens=6).collect()
    }
    assert out == {0: (2, 7, 1, 2), 1: (2, 7, 3, 4), 2: (1, 1, 5, 5)}


def test_vocab_stats_tiebreak(spark):
    from db_loganalyzer_spark.operators.textstats import vocab_stats

    df = spark.createDataFrame(
        [(1, "b a a"), (2, "b c c")], "doc_id long, text string"
    )
    out = vocab_stats(df, k=2).collect()
    # a, b, c all appear twice; tiebreak is token asc => a then b
    assert [(r["token"], r["n"], r["n_docs"]) for r in out] == [
        ("a", 2, 1),
        ("b", 2, 2),
    ]


def test_asof_join_semantics(spark):
    import datetime as dtm

    from db_loganalyzer_spark.operators.joins import asof_join

    L = spark.createDataFrame(
        [(1, dtm.datetime(2024, 1, 1, 0, 0, 10), "a"),
         (1, dtm.datetime(2024, 1, 1, 0, 0, 20), "b"),
         (2, dtm.datetime(2024, 1, 1, 0, 0, 5), "c"),
         (3, dtm.datetime(2024, 1, 1, 0, 0, 9), "d")],
        "user_id long, ts timestamp, tag string",
    )
    R = spark.createDataFrame(
        [(1, dtm.datetime(2024, 1, 1, 0, 0, 10), 100.0),
         (1, dtm.datetime(2024, 1, 1, 0, 0, 15), 150.0),
         (1, dtm.datetime(2024, 1, 1, 0, 0, 15), 160.0),
         (2, dtm.datetime(2024, 1, 1, 0, 0, 6), 60.0)],
        "user_id long, ts timestamp, val double",
    )
    out = {
        r["tag"]: (r["val"], r["asof_ts"])
        for r in asof_join(L, R, by=["user_id"], value_cols=["val"]).collect()
    }
    # inclusive at equal ts; duplicate-ts right rows resolve by MAX value;
    # left rows with no prior right row keep NULLs (left-join semantics)
    assert out["a"] == (100.0, dtm.datetime(2024, 1, 1, 0, 0, 10))
    assert out["b"] == (160.0, dtm.datetime(2024, 1, 1, 0, 0, 15))
    assert out["c"] == (None, None)
    assert out["d"] == (None, None)


def test_asof_join_property_vs_python_oracle(spark):
    """Randomized as-of join semantics vs a brute-force reference:
    arbitrary key/ts/dup patterns, inclusive ties, MAX-value duplicate
    resolution, left-join NULLs."""
    import datetime as dtm

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from db_loganalyzer_spark.operators.joins import asof_join

    t0 = dtm.datetime(2024, 1, 1)
    row = st.tuples(
        st.integers(min_value=0, max_value=2),   # key
        st.integers(min_value=0, max_value=12),  # ts offset
        st.integers(min_value=0, max_value=9),   # value
    )

    @settings(max_examples=10, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    @given(
        lrows=st.lists(row, min_size=1, max_size=12),
        rrows=st.lists(row, min_size=0, max_size=12),
    )
    def check(lrows, rrows):
        L = spark.createDataFrame(
            [(i, k, t0 + dtm.timedelta(seconds=s)) for i, (k, s, _) in enumerate(lrows)],
            "lid long, user_id long, ts timestamp",
        )
        R = spark.createDataFrame(
            [(k, t0 + dtm.timedelta(seconds=s), float(v)) for k, s, v in rrows],
            "user_id long, ts timestamp, val double",
        ) if rrows else spark.createDataFrame([], "user_id long, ts timestamp, val double")
        got = {
            r["lid"]: r["val"]
            for r in asof_join(L, R, by=["user_id"], value_cols=["val"]).collect()
        }
        for i, (k, s, _) in enumerate(lrows):
            eligible = [(rs, float(rv)) for rk, rs, rv in rrows if rk == k and rs <= s]
            if not eligible:
                want = None
            else:
                best_ts = max(rs for rs, _ in eligible)
                want = max(v for rs, v in eligible if rs == best_ts)
            assert got[i] == want, (i, k, s, want, got[i])

    check()


def test_interval_join_semantics(spark):
    import datetime as dtm

    from db_loganalyzer_spark.operators.joins import interval_join

    t0 = dtm.datetime(2024, 1, 1)

    def t(s):
        return t0 + dtm.timedelta(seconds=s)

    pts = spark.createDataFrame(
        [(1, t(0)), (2, t(5)), (3, t(7200)), (4, t(10_000))],
        "pid long, ts timestamp",
    )
    ivs = spark.createDataFrame(
        # one short, one bucket-spanning (0..2h), one disjoint
        [(10, t(0), t(10)), (11, t(3), t(7200)), (12, t(20_000), t(21_000))],
        "iid long, start_ts timestamp, end_ts timestamp",
    )
    got = {
        (r.pid, r.iid)
        for r in interval_join(pts, ivs, "ts", "start_ts", "end_ts", 3600.0)
        .select("pid", "iid")
        .collect()
    }
    # inclusive both ends; bucket-spanning intervals meet each point once
    assert got == {(1, 10), (2, 10), (2, 11), (3, 11)}
    # left-outer keeps points that fall in no interval
    left = interval_join(pts, ivs, "ts", "start_ts", "end_ts", 3600.0,
                         how="left_outer")
    assert left.count() == 4 + 1  # 4 pairs + the unmatched point 4
    assert left.filter("iid IS NULL").select("pid").collect()[0].pid == 4


def test_interval_join_property_vs_bruteforce(spark):
    """Randomized containment-join semantics vs brute force: arbitrary
    point/interval layouts, bucket-boundary ties, duplicate timestamps,
    intervals shorter/longer than the bucket."""
    import datetime as dtm

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from db_loganalyzer_spark.operators.joins import interval_join

    t0 = dtm.datetime(2024, 1, 1)
    pt = st.integers(min_value=0, max_value=40)
    iv = st.tuples(pt, st.integers(min_value=0, max_value=25))

    @settings(max_examples=10, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    @given(
        ps=st.lists(pt, min_size=1, max_size=10),
        vs=st.lists(iv, min_size=0, max_size=8),
        bucket=st.sampled_from([7.0, 10.0, 40.0]),
    )
    def check(ps, vs, bucket):
        P = spark.createDataFrame(
            [(i, t0 + dtm.timedelta(seconds=s)) for i, s in enumerate(ps)],
            "pid long, ts timestamp",
        )
        V = spark.createDataFrame(
            [(j, t0 + dtm.timedelta(seconds=a), t0 + dtm.timedelta(seconds=a + d))
             for j, (a, d) in enumerate(vs)],
            "iid long, start_ts timestamp, end_ts timestamp",
        ) if vs else spark.createDataFrame(
            [], "iid long, start_ts timestamp, end_ts timestamp"
        )
        got = {
            (r.pid, r.iid)
            for r in interval_join(P, V, "ts", "start_ts", "end_ts", bucket)
            .select("pid", "iid")
            .collect()
        }
        want = {
            (i, j)
            for i, s in enumerate(ps)
            for j, (a, d) in enumerate(vs)
            if a <= s <= a + d
        }
        assert got == want, (ps, vs, bucket)

    check()


def test_length_histogram_buckets(spark):
    from db_loganalyzer_spark.operators.textstats import length_histogram

    docs = spark.createDataFrame(
        [
            (1, "web", ""),                      # 0 tokens  -> bucket 0
            (2, "web", "one"),                   # 1 token   -> bucket 1
            (3, "web", "a b c"),                 # 3 tokens  -> bucket 2
            (4, "web", " ".join(["t"] * 8)),     # 8 tokens  -> bucket 4
            (5, "lab", " ".join(["t"] * 15)),    # 15 tokens -> bucket 4
            (6, "lab", " ".join(["t"] * 16)),    # 16 tokens -> bucket 5
        ],
        "doc_id long, source string, text string",
    )
    out = {
        (r.source, r.bucket): (r.n_docs, r.total_tokens, r.min_tokens, r.max_tokens)
        for r in length_histogram(docs, by=["source"]).collect()
    }
    assert out == {
        ("web", 0): (1, 0, 0, 0),
        ("web", 1): (1, 1, 1, 1),
        ("web", 2): (1, 3, 3, 3),
        ("web", 4): (1, 8, 8, 8),
        ("lab", 4): (1, 15, 15, 15),
        ("lab", 5): (1, 16, 16, 16),
    }


def test_interval_concurrency_property_vs_bruteforce(spark):
    """Sweep-line active-interval counts vs brute force: zero-count
    points included, boundary inclusivity at both ends, duplicate
    timestamps, overlapping interval stacks."""
    import datetime as dtm

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from db_loganalyzer_spark.operators.joins import interval_concurrency

    t0 = dtm.datetime(2024, 1, 1)
    pt = st.integers(min_value=0, max_value=30)
    iv = st.tuples(pt, st.integers(min_value=0, max_value=20))

    @settings(max_examples=10, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    @given(
        ps=st.lists(pt, min_size=1, max_size=10),
        vs=st.lists(iv, min_size=0, max_size=8),
    )
    def check(ps, vs):
        P = spark.createDataFrame(
            [(i, t0 + dtm.timedelta(seconds=s)) for i, s in enumerate(ps)],
            "event_id long, ts timestamp",
        )
        V = spark.createDataFrame(
            [(t0 + dtm.timedelta(seconds=a), t0 + dtm.timedelta(seconds=a + d))
             for a, d in vs],
            "start_ts timestamp, end_ts timestamp",
        ) if vs else spark.createDataFrame(
            [], "start_ts timestamp, end_ts timestamp"
        )
        got = {
            r.event_id: r.n_active
            for r in interval_concurrency(P, V).collect()
        }
        for i, s in enumerate(ps):
            want = sum(1 for a, d in vs if a <= s <= a + d)
            assert got[i] == want, (ps, vs, i)
        assert len(got) == len(ps)  # every point present, zeros included

    check()


def test_sliding_rollup_semantics(spark):
    import datetime as dtm

    from db_loganalyzer_spark.operators.aggregates import (
        sliding_windowed_rollup,
    )

    t0 = dtm.datetime(2024, 1, 1)  # midnight: aligned to every slide
    rows = [
        (1, t0 + dtm.timedelta(seconds=0), "a", 10.0),
        (2, t0 + dtm.timedelta(seconds=950), "a", 30.0),   # second slide
        (3, t0 + dtm.timedelta(seconds=4000), "a", 100.0),  # past window 0
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, k string, value double")
    out = {
        r.w_start_us: (r.n, r.avg_value, r.max_value)
        for r in sliding_windowed_rollup(df, 3600, 900, ["k"], "value").collect()
    }
    us = lambda s: (int(t0.timestamp()) + s) * 1_000_000
    # row 1 belongs to windows starting at -2700, -1800, -900, 0;
    # row 2 (t=950) to -1800..900; row 3 (t=4000) to 900..3600.
    # Spot-check overlapping and disjoint windows:
    assert out[us(0)] == (2, 20.0, 30.0)      # rows 1+2 overlap here
    assert out[us(900)] == (2, 65.0, 100.0)   # rows 2+3 overlap here
    assert out[us(-2700)] == (1, 10.0, 10.0)  # row 1 only
    assert out[us(3600)] == (1, 100.0, 100.0)  # row 3 only
    # every row appears in exactly window/slide = 4 windows
    assert sum(n for n, _, _ in out.values()) == 3 * 4


def test_asof_forward_semantics(spark):
    import datetime as dtm

    from db_loganalyzer_spark.operators.joins import asof_join

    L = spark.createDataFrame(
        [(1, dtm.datetime(2024, 1, 1, 0, 0, 10), "a"),
         (1, dtm.datetime(2024, 1, 1, 0, 0, 16), "b"),
         (2, dtm.datetime(2024, 1, 1, 0, 0, 7), "c")],
        "user_id long, ts timestamp, tag string",
    )
    R = spark.createDataFrame(
        [(1, dtm.datetime(2024, 1, 1, 0, 0, 10), 100.0),
         (1, dtm.datetime(2024, 1, 1, 0, 0, 15), 150.0),
         (1, dtm.datetime(2024, 1, 1, 0, 0, 15), 160.0),
         (2, dtm.datetime(2024, 1, 1, 0, 0, 6), 60.0)],
        "user_id long, ts timestamp, val double",
    )
    out = {
        r["tag"]: (r["val"], r["asof_ts"])
        for r in asof_join(
            L, R, by=["user_id"], value_cols=["val"], direction="forward"
        ).collect()
    }
    # inclusive at equal ts; duplicate-ts right rows resolve by MIN in
    # the forward direction; no later right row -> NULLs
    assert out["a"] == (100.0, dtm.datetime(2024, 1, 1, 0, 0, 10))
    assert out["b"] == (None, None)
    assert out["c"] == (None, None)


def test_asof_forward_property_vs_python_oracle(spark):
    import datetime as dtm

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from db_loganalyzer_spark.operators.joins import asof_join

    t0 = dtm.datetime(2024, 1, 1)
    row = st.tuples(
        st.integers(min_value=0, max_value=2),
        st.integers(min_value=0, max_value=12),
        st.integers(min_value=0, max_value=9),
    )

    @settings(max_examples=10, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    @given(
        lrows=st.lists(row, min_size=1, max_size=12),
        rrows=st.lists(row, min_size=0, max_size=12),
    )
    def check(lrows, rrows):
        L = spark.createDataFrame(
            [(i, k, t0 + dtm.timedelta(seconds=s)) for i, (k, s, _) in enumerate(lrows)],
            "lid long, user_id long, ts timestamp",
        )
        R = spark.createDataFrame(
            [(k, t0 + dtm.timedelta(seconds=s), float(v)) for k, s, v in rrows],
            "user_id long, ts timestamp, val double",
        ) if rrows else spark.createDataFrame([], "user_id long, ts timestamp, val double")
        got = {
            r["lid"]: r["val"]
            for r in asof_join(
                L, R, by=["user_id"], value_cols=["val"], direction="forward"
            ).collect()
        }
        for i, (k, s, _) in enumerate(lrows):
            eligible = [(rs, float(rv)) for rk, rs, rv in rrows if rk == k and rs >= s]
            if not eligible:
                want = None
            else:
                best_ts = min(rs for rs, _ in eligible)
                want = min(v for rs, v in eligible if rs == best_ts)
            assert got[i] == want, (i, k, s, want, got[i])

    check()


def test_transition_matrix(spark):
    import datetime as dtm

    from db_loganalyzer_spark.operators.windows import transition_matrix

    t0 = dtm.datetime(2024, 1, 1)
    rows = [
        # user 1: a -> b -> a ; user 2: a -> b   (cross-user pairs merge)
        (1, t0 + dtm.timedelta(seconds=1), 1, "a"),
        (1, t0 + dtm.timedelta(seconds=2), 2, "b"),
        (1, t0 + dtm.timedelta(seconds=3), 3, "a"),
        (2, t0 + dtm.timedelta(seconds=1), 4, "a"),
        (2, t0 + dtm.timedelta(seconds=2), 5, "b"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string"
    )
    out = {
        (r["from_state"], r["to_state"]): (r["n"], r["p"])
        for r in transition_matrix(df, "event_type", ["user_id"]).collect()
    }
    assert out[("a", "b")] == (2, 1.0)  # a always goes to b
    assert out[("b", "a")] == (1, 1.0)
    assert ("a", "a") not in out  # no cross-user pair (user2.a after user1.a)


def test_group_sample_deterministic_and_plan(spark):
    from pyspark.sql import functions as F

    from db_loganalyzer_spark.operators.sampling import group_sample

    df = spark.range(1000).select(
        (F.col("id") % 4).cast("string").alias("g"), F.col("id").alias("doc_id")
    )
    a = {(r["g"], r["doc_id"]) for r in group_sample(df, ["g"], 5, "doc_id").collect()}
    b = {(r["g"], r["doc_id"]) for r in
         group_sample(df.repartition(13), ["g"], 5, "doc_id").collect()}
    assert a == b and len(a) == 20  # partitioning-independent, k per group
    # different salt -> different (deterministic) sample
    c = {(r["g"], r["doc_id"]) for r in
         group_sample(df, ["g"], 5, "doc_id", salt=1).collect()}
    assert c != a
    plan = group_sample(df, ["g"], 5, "doc_id")._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan  # rank filter pushed to per-partition top-k


def test_asof_nearest_semantics(spark):
    import datetime as dtm

    from db_loganalyzer_spark.operators.joins import asof_nearest

    def t(s):
        return dtm.datetime(2024, 1, 1, 0, 0, s)

    L = spark.createDataFrame(
        [(1, t(10), "mid"),    # back@8 (d=2) vs fwd@13 (d=3) -> back
         (1, t(3), "before"),  # only fwd exists -> fwd
         (1, t(50), "after"),  # only back exists -> back
         (1, t(11), "tie"),    # back@8 d=3, fwd@14? no... back@8 d=3 vs fwd@13 d=2 -> fwd
         (2, t(5), "none")],   # no right rows at all -> NULLs
        "user_id long, ts timestamp, tag string",
    )
    R = spark.createDataFrame(
        [(1, t(8), 80.0), (1, t(13), 130.0)],
        "user_id long, ts timestamp, val double",
    )
    out = {
        r["tag"]: (r["val"], r["nearest_ts"])
        for r in asof_nearest(L, R, by=["user_id"], value_cols=["val"]).collect()
    }
    assert out["mid"] == (80.0, t(8))
    assert out["before"] == (80.0, t(8))
    assert out["after"] == (130.0, t(13))
    assert out["tie"] == (130.0, t(13))
    assert out["none"] == (None, None)


def test_asof_nearest_equal_distance_prefers_earlier(spark):
    import datetime as dtm

    from db_loganalyzer_spark.operators.joins import asof_nearest

    t0 = dtm.datetime(2024, 1, 1)
    L = spark.createDataFrame(
        [(1, t0 + dtm.timedelta(seconds=10), "x")],
        "user_id long, ts timestamp, tag string",
    )
    R = spark.createDataFrame(
        [(1, t0 + dtm.timedelta(seconds=7), 7.0),
         (1, t0 + dtm.timedelta(seconds=13), 13.0)],
        "user_id long, ts timestamp, val double",
    )
    r = asof_nearest(L, R, by=["user_id"], value_cols=["val"]).collect()[0]
    assert r["val"] == 7.0  # d=3 both ways: earlier wins


def test_budget_select_greedy_and_deterministic(spark):
    from pyspark.sql import functions as F

    from db_loganalyzer_spark.operators.sampling import budget_select

    # quality is driven by token count here: the >= 10-token docs score
    # higher than the tiny one, and the budget forces a choice
    good = "the data model is that it runs for a test " * 2  # ~20 tokens
    rows = [(i, "s", good) for i in range(5)] + [(9, "s", "tiny doc here")]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = budget_select(df, 45, by=["source"])
    kept = sorted(r["doc_id"] for r in out.collect())
    rows_by_id = {r["doc_id"]: r for r in out.collect()}
    # the small doc has the best quality/token ratio -> picked first;
    # then 20-token docs fill until the 45-token budget is exhausted
    assert 9 in kept and len(kept) == 3
    assert max(r["cum_tokens"] for r in rows_by_id.values()) <= 45
    # partitioning-independent
    kept2 = sorted(
        r["doc_id"]
        for r in budget_select(df.repartition(7), 45, by=["source"]).collect()
    )
    assert kept2 == kept


def test_dedup_representatives_keeps_best_per_group(spark):
    # group {1,2,3} via edges, singleton 9; quality ranks 2 best in the
    # group; tie between 1 and 3 resolved by lower id at rank 2
    docs = spark.createDataFrame(
        [(1, 0.5), (2, 0.75), (3, 0.5), (9, 0.25)], "doc_id long, q double"
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    out = {
        r.doc_id: (r.component_id, r.group_size, r.is_keeper)
        for r in DD.dedup_representatives(docs, pairs, F.col("q")).collect()
    }
    assert out == {
        1: (1, 3, False),
        2: (1, 3, True),
        3: (1, 3, False),
        9: (9, 1, True),
    }


def test_auto_n_planes_tracks_corpus_growth(spark):
    # one plane per corpus doubling, floored for tiny corpora
    small = spark.range(1000).select(F.col("id").alias("vec_id"))
    big = spark.range(32000).select(F.col("id").alias("vec_id"))
    assert SIM.auto_n_planes(small, target_bucket_size=500) == 4  # floor
    assert SIM.auto_n_planes(big, target_bucket_size=500) == 6
    assert (
        SIM.auto_n_planes(big, target_bucket_size=500)
        == SIM.auto_n_planes(big.union(big), target_bucket_size=500) - 1
    )


def test_lsh_plane_dial_contrast(spark):
    """The demoted 6-plane form, pinned as the quadratic-regime
    contrast (r11): with a FIXED plane count, same-bucket candidate
    pairs grow ~quadratically across a 4x corpus growth, while the
    occupancy dial (+1 plane per doubling) keeps growth ~linear. The
    certified sim05/pipe05 configs are the dialed 12-plane ones; this
    test is where the old fixed-plane behavior lives on as a
    measurement, not a shipped config."""
    import numpy as np

    def corpus(n, dim=8, seed=7):
        rng = np.random.default_rng(seed)
        m = rng.standard_normal((n, dim))
        return spark.createDataFrame(
            [(i, [float(x) for x in row]) for i, row in enumerate(m)],
            "vec_id long, embedding array<double>",
        )

    def candidate_pairs(df, n_planes, dim=8):
        planes = SIM._hyperplanes(dim, n_planes)
        occ = (
            df.select(SIM.lsh_bucket(F.col("embedding"), planes).alias("b"))
            .groupBy("b")
            .count()
        )
        return occ.select(
            F.sum(F.col("count") * (F.col("count") - 1) / 2).cast("long")
        ).first()[0]

    small, big = corpus(300), corpus(1200)
    fixed_small = candidate_pairs(small, 6)
    fixed_big = candidate_pairs(big, 6)
    # fixed planes: 4x the corpus -> ~16x the pairs (quadratic regime)
    assert fixed_big / fixed_small > 10
    # dialed planes (+2 for the 4x growth): pair growth stays near-linear
    dialed_big = candidate_pairs(big, 8)
    assert dialed_big / fixed_small < 8


def test_sim05_pipe05_certified_at_dialed_planes():
    """The oracle-CHECKED configs (the ones the driver certifies) must
    be the scale-safe dialed plane count, not the quadratic fixed-6
    form (r11 re-pin). Counts the plane rows embedded in the SQL."""
    import __spark_entry__ as entry_mod

    import re

    for sql in (entry_mod.SIM05_SQL, entry_mod.PIPE05_SQL):
        n_rows = len(re.findall(r"\(\d+, \[", sql))
        assert n_rows == 12, f"expected 12 plane rows, found {n_rows}"


def test_lsh_defaults_are_auto_dialed(spark, vectors):
    # n_planes=None (the default) must resolve via auto_n_planes so the
    # default call is scale-safe; pinned calls stay deterministic.
    q = vectors.limit(1).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    auto = SIM.lsh_topk(vectors, q, k=3, dim=8)
    pinned = SIM.lsh_topk(vectors, q, k=3, n_planes=4, dim=8)
    # tiny corpus -> auto floors at 4 planes, so both produce identical output
    assert sorted(map(tuple, auto.collect())) == sorted(map(tuple, pinned.collect()))
    dup_auto = SIM.embedding_near_dups(vectors, threshold=0.95, dim=8)
    dup_pin = SIM.embedding_near_dups(vectors, threshold=0.95, n_planes=4, dim=8)
    assert sorted(map(tuple, dup_auto.collect())) == sorted(
        map(tuple, dup_pin.collect())
    )


def test_leakage_safe_split_keeps_groups_together(spark):
    docs = spark.createDataFrame(
        [(i,) for i in range(200)], "doc_id long"
    )
    # chain 0-1-2, pair (50, 150), rest singletons
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (50, 150)], "id_a long, id_b long"
    )
    out = DD.leakage_safe_split(docs, pairs).collect()
    assert len(out) == 200
    by_comp = {}
    for r in out:
        by_comp.setdefault(r.component_id, set()).add(r.split)
    # every component maps to exactly one split — the leakage property
    assert all(len(s) == 1 for s in by_comp.values())
    assert by_comp[0] == by_comp.get(0)  # chain 0-1-2 shares component 0
    comp_of = {r.doc_id: r.component_id for r in out}
    assert comp_of[0] == comp_of[1] == comp_of[2] == 0
    assert comp_of[50] == comp_of[150] == 50
    # and all three splits actually occur over 200 singleton-ish docs
    assert {r.split for r in out} == {"train", "val", "test"}


def test_title_edit_distance_pairs_semantics(spark):
    """M19: one-character title drift pairs at distance 1; different
    prefixes never become candidates (the documented blocking trade);
    non-ASCII folds away BEFORE the distance so the char-vs-byte
    engine divergence cannot arise; oversized buckets droppable."""
    from db_loganalyzer_spark.operators.dedup import (
        title_edit_distance_pairs,
    )

    docs = spark.createDataFrame(
        [
            (1, "Release notes version 1.0 for the storage engine"),
            (2, "Release notes version 2.0 for the storage engine"),
            (3, "Relaase notes version 1.0 for the storage engine"),  # typo
            (4, "Completely different header about recovery loops"),
            (5, "Release notes vérsion 1.0 for the storage engine"),
        ],
        "doc_id long, text string",
    )
    out = {
        (r.id_a, r.id_b): r.edit_distance
        for r in title_edit_distance_pairs(docs, max_distance=5).collect()
    }
    assert out[(1, 2)] == 1  # version digit drift
    assert (1, 5) in out  # accents folded away -> tiny distance
    # doc 3's typo is inside the 8-char prefix -> blocked by contract
    assert not any(3 in p for p in out)
    assert not any(4 in p for p in out)
    # bucket cap drops the whole boilerplate bucket: docs 1/2/5 share
    # the "release " prefix (3 > 2), docs 3/4 are singletons -> no pairs
    assert title_edit_distance_pairs(docs, max_bucket_size=2).count() == 0


def test_pipe02_neardup_corpus_stage_coherence(spark, sf_dir):
    """pipe02's composition invariants on real corpus data: every
    near-dup pair shares a split (leakage safety end-to-end), exactly
    one keeper survives per duplicate group, and the shared-components
    path equals per-stage recomputation."""
    import __spark_entry__ as entry_mod
    from db_loganalyzer_spark.operators.dedup import (
        dedup_components,
        dedup_representatives,
        leakage_safe_split,
        minhash_lsh_dedup,
    )
    from db_loganalyzer_spark.operators.textstats import (
        quality_gate,
        quality_score,
    )

    docs = entry_mod._t(spark, sf_dir, "documents")
    kept = docs.join(
        quality_gate(docs).filter(F.col("keep")).select("doc_id"), "doc_id"
    )
    pairs = minhash_lsh_dedup(
        kept, threshold=0.5, num_hashes=32, bands=8, n=2,
        verify="hybrid", estimate_margin=11 / 32,
    ).persist()
    assert pairs.count() > 0, "fixture lost its near-dup pairs"
    comps = dedup_components(pairs)
    splits = leakage_safe_split(kept, pairs, components=comps)
    split_of = {r.doc_id: r.split for r in splits.collect()}
    for r in pairs.collect():
        assert split_of[r.id_a] == split_of[r.id_b], (r.id_a, r.id_b)
    reps = dedup_representatives(
        kept, pairs, quality_score("text"), components=comps
    )
    keepers_per_comp = {}
    for r in reps.collect():
        if r.is_keeper:
            keepers_per_comp[r.component_id] = (
                keepers_per_comp.get(r.component_id, 0) + 1
            )
    assert all(v == 1 for v in keepers_per_comp.values())
    # shared components == per-stage recomputation
    alone = {
        (r.doc_id, r.component_id, r.split)
        for r in leakage_safe_split(kept, pairs).collect()
    }
    shared = {(r.doc_id, r.component_id, r.split) for r in splits.collect()}
    assert alone == shared
    # and the registry entry itself returns a sane accounting frame
    out = entry_mod.pipe02_neardup_corpus(spark, sf_dir)
    rows = out.collect()
    assert set(out.columns) == {"split", "source", "n_docs", "total_tokens"}
    assert sum(r.n_docs for r in rows) > 0


def test_hll_overlap_inclusion_exclusion(spark):
    from db_loganalyzer_spark.operators.sketches import hll_overlap

    # A = 0..3999, B = 2000..7999 -> |A n B| = 2000, |A u B| = 8000
    rows = [(int(k), "a") for k in range(4000)] + [
        (int(k), "b") for k in range(2000, 8000)
    ]
    df = spark.createDataFrame(rows, "user_id long, lab string")
    r = hll_overlap(df, "user_id", "lab", "a", "b", p=12).collect()[0]
    assert abs(r["est_a"] - 4000) / 4000 < 0.1
    assert abs(r["est_b"] - 6000) / 6000 < 0.1
    assert abs(r["est_union"] - 8000) / 8000 < 0.1
    # inclusion-exclusion compounds the three errors — loose bound
    assert abs(r["est_intersection"] - 2000) / 2000 < 0.35
    assert 0.1 < r["jaccard_est"] < 0.45  # truth 0.25


def test_zipf_fit_recovers_planted_power_law(spark):
    # corpus where term i appears ~C/i times: slope must come out ~ -1
    # and r strongly negative; a flat (uniform) corpus must not
    rows = []
    for i in range(1, 201):
        word = f"w{i}"
        rows.extend((j, word) for j in range(max(1, 2000 // i)))
    zipf = spark.createDataFrame(
        [(i, " ".join(w for _, w in grp)) for i, grp in
         ((k, [r for r in rows if r[0] % 50 == k]) for k in range(50))],
        "doc_id long, text string",
    )
    out = TS.zipf_fit(zipf, top_n=200).collect()[0]
    assert out["n_terms"] == 200
    assert -1.15 < out["slope"] < -0.85, out["slope"]
    assert out["r"] < -0.97
    uniform = spark.createDataFrame(
        [(i, " ".join(f"u{j}" for j in range(100))) for i in range(20)],
        "doc_id long, text string",
    )
    flat = TS.zipf_fit(uniform, top_n=100).collect()[0]
    # all frequencies equal -> zero variance in y -> r is NULL, slope 0
    assert flat["slope"] == 0.0 and flat["r"] is None


def test_ngram_jaccard_against_matches_batch_probe(spark):
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "one two three four"),
         (3, "alpha beta gamma epsilon")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        # 10: near-clone of corpus doc 1; 11: novel
        [(10, "alpha beta gamma delta extra"), (11, "wholly new words here")],
        "doc_id long, text string",
    )
    out = {
        (r.new_id, r.corpus_id): round(r.jaccard, 4)
        for r in DD.ngram_jaccard_against(
            batch, corpus, threshold=0.3, n=2
        ).collect()
    }
    # bigrams of 10: ab, bg, gd, de(x) -> inter with doc1 {ab,bg,gd}=3,
    # n_new=4, n_corpus=3 -> j = 3/4; with doc3 {ab,bg}=2 -> 2/5
    assert out[(10, 1)] == 0.75
    assert out[(10, 3)] == 0.4
    assert not any(k[0] == 11 for k in out)


# ---------------------------------------------------------------------------
# J12 bloom prefilter / M16 temperature mixture / M17 block dedup /
# A33 salted aggregation
# ---------------------------------------------------------------------------


def test_bloom_prefilter_no_false_negatives(spark):
    from db_loganalyzer_spark.operators.joins import bloom_build, bloom_prefilter

    build = spark.range(0, 50).select(F.col("id").alias("k"))
    probe = spark.range(0, 1000).select(F.col("id").alias("k"))
    bloom = bloom_build(build, "k", n_bits=512, k=3)
    out = bloom_prefilter(probe, bloom, "k", n_bits=512, k=3)
    rows = {r["k"]: r["bloom_pass"] for r in out.collect()}
    # every true member passes (structural: its bits were all set)
    assert all(rows[i] for i in range(50))
    # the filter actually prunes: most non-members are rejected
    rejected = sum(1 for i in range(50, 1000) if not rows[i])
    assert rejected > 800


def test_bloom_build_is_compact(spark):
    from db_loganalyzer_spark.operators.joins import bloom_build

    build = spark.range(0, 100).select(F.col("id").alias("k"))
    words = bloom_build(build, "k", n_bits=512, k=3).collect()
    assert len(words) <= 512 // 32
    assert all(0 <= r["word"] < 512 // 32 for r in words)


def test_temperature_resample_flattens(spark):
    from db_loganalyzer_spark.operators.sampling import (
        temperature_mixture_rates,
        temperature_resample,
    )

    rows = [(i, "big" if i < 6400 else "small") for i in range(6500)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    rates = {
        r["source"]: r for r in temperature_mixture_rates(df, "source").collect()
    }
    # smallest domain keeps everything; 64x domain keeps ~1/8 (sqrt flattening)
    assert rates["small"]["threshold"] == 1_000_000
    assert rates["big"]["threshold"] == 125_000
    sel = temperature_resample(df, "source", "doc_id").groupBy("source").count()
    got = {r["source"]: r["count"] for r in sel.collect()}
    assert got["small"] == 100
    # hash-threshold acceptance is approximate per-domain (exact per doc)
    assert 0.10 < got["big"] / 6400 < 0.15


def test_block_dedup_keeps_first_occurrence(spark):
    from db_loganalyzer_spark.operators.dedup import block_dedup

    blk = " ".join(f"w{i}" for i in range(4))  # one 4-token block
    other = " ".join(f"x{i}" for i in range(4))
    rows = [
        (0, blk + " " + other),  # both blocks first seen here
        (1, blk + " " + blk),    # block repeated inside the doc AND across docs
        (2, other),              # fully duplicate doc -> nothing kept
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: (r["n_blocks"], r["n_kept"], r["dedup_text"])
        for r in block_dedup(df, block_tokens=4).collect()
    }
    assert out[0] == (2, 2, blk + " " + other)
    assert out[1] == (2, 0, "")
    assert out[2] == (1, 0, "")


def test_salted_agg_matches_direct(spark):
    from db_loganalyzer_spark.operators.aggregates import salted_agg

    df = spark.createDataFrame(
        [(i, "hot" if i % 10 else "cold", float(i) / 7.0) for i in range(2000)],
        "event_id long, event_type string, value double",
    )
    got = {
        r["event_type"]: r
        for r in salted_agg(df, ["event_type"], "value", n_salts=8).collect()
    }
    exp = {
        r["event_type"]: r
        for r in df.groupBy("event_type")
        .agg(
            (
                F.sum(F.floor(F.col("value") * 1e6 + 0.5).cast("long")).cast(
                    "double"
                )
                / 1e6
            ).alias("sum_value"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    for k in ("hot", "cold"):
        assert got[k]["sum_value"] == exp[k]["sum_value"]
        assert got[k]["n"] == exp[k]["n"]
        assert got[k]["avg_value"] == exp[k]["sum_value"] / exp[k]["n"]


def test_salted_agg_plan_has_two_stages(spark):
    from db_loganalyzer_spark.operators.aggregates import salted_agg

    df = spark.createDataFrame(
        [(1, "a", 1.0)], "event_id long, event_type string, value double"
    )
    plan = salted_agg(df, ["event_type"], "value")._jdf.queryExecution().executedPlan().toString()
    # stage 1 shuffles on (event_type, salt), stage 2 on event_type alone
    assert plan.count("Exchange hashpartitioning") == 2
    assert "__salt" in plan


def _ev(spark, rows):
    import datetime

    base = datetime.datetime(2024, 1, 1)
    return spark.createDataFrame(
        [
            (i, base + datetime.timedelta(seconds=s), u, t, 0.0)
            for i, (u, t, s) in enumerate(rows)
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )


def test_event_sequences_counts_consecutive_runs(spark):
    from db_loganalyzer_spark.operators.windows import event_sequences

    df = _ev(
        spark,
        [
            (1, "a", 0), (1, "b", 1), (1, "c", 2), (1, "b", 3), (1, "c", 4),
            (2, "a", 0), (2, "b", 1), (2, "c", 2),
        ],
    )
    got = {
        (r["step_1"], r["step_2"], r["step_3"]): (r["n_occurrences"], r["n_keys"])
        for r in event_sequences(df, n=3, partition_by=["user_id"]).collect()
    }
    # a,b,c occurs once in each user's stream; b,c,b and c,b,c only in user 1
    assert got[("a", "b", "c")] == (2, 2)
    assert got[("b", "c", "b")] == (1, 1)
    assert got[("c", "b", "c")] == (1, 1)
    assert len(got) == 3  # no cross-user phantom runs


def test_retention_cohorts_matrix(spark):
    from db_loganalyzer_spark.operators.aggregates import retention_cohorts

    day = 86_400
    df = _ev(
        spark,
        [
            (1, "x", 0), (1, "x", day), (1, "x", 5 * day),
            (2, "x", 10), (2, "x", day + 10),
            (3, "x", 5 * day + 3),
        ],
    )
    base_day = next(
        r["cohort_day"]
        for r in retention_cohorts(df).collect()
        if r["day_offset"] == 0 and r["n_users"] == 2
    )
    got = {
        (r["cohort_day"] - base_day, r["day_offset"]): (
            r["n_users"],
            r["cohort_size"],
            r["retention"],
        )
        for r in retention_cohorts(df).collect()
    }
    assert got[(0, 0)] == (2, 2, 1.0)   # users 1+2 on day 0
    assert got[(0, 1)] == (2, 2, 1.0)   # both back on day 1
    assert got[(0, 5)] == (1, 2, 0.5)   # only user 1 on day 5
    assert got[(5, 0)] == (1, 1, 1.0)   # user 3's own cohort
    assert len(got) == 4


def test_interarrival_stats_exact_gaps(spark):
    from db_loganalyzer_spark.operators.windows import interarrival_stats

    df = _ev(spark, [(1, "x", 0), (1, "x", 10), (1, "x", 30), (2, "y", 0)])
    rows = {
        r["event_type"]: r
        for r in interarrival_stats(
            df, partition_by=["user_id", "event_type"], group_by=["event_type"]
        ).collect()
    }
    x = rows["x"]
    assert x["n_gaps"] == 2
    assert x["avg_gap_s"] == 15.0
    assert x["max_gap_s"] == 20.0
    assert x["p50_gap_s"] == 15.0
    assert x["p95_gap_s"] == pytest.approx(19.5)
    assert "y" not in rows  # a single event has no gap


def test_rolling_active_users_window_edges(spark):
    from db_loganalyzer_spark.operators.aggregates import (
        rolling_active_users,
    )

    day = 86_400
    df = _ev(
        spark,
        [(1, "x", 0), (2, "x", 5), (1, "x", 2 * day), (3, "x", 3 * day)],
    )
    got = {
        r["obs_day"]: (r["dau"], r["rolling_users"])
        for r in rolling_active_users(df, window_days=3).collect()
    }
    base = min(got)
    rel = {k - base: v for k, v in got.items()}
    assert rel[0] == (2, 2)   # users 1+2 on day 0
    assert rel[1] == (0, 2)   # nobody active, both still in 3-day window
    assert rel[2] == (1, 2)   # user 1 returns; day-0 pair still in window
    assert rel[3] == (1, 2)   # users 1 (day 2) and 3 (day 3) in window
    assert rel[4] == (0, 2)   # trailing visibility of days 2-3 actives
    assert rel[5] == (0, 1)
    assert len(rel) == 6


def test_incremental_rollup_merge_equals_recompute(spark):
    """A38: merging delta partials into the base equals the full
    recompute — on an arbitrary split, including buckets present only
    in base, only in delta, and in both."""
    import datetime as dtm

    from db_loganalyzer_spark.operators.aggregates import (
        merge_rollup_partials,
        rollup_partials,
    )

    t0 = dtm.datetime(2024, 3, 1, 12, 0, 0)
    rows = [
        (i, t0 + dtm.timedelta(seconds=900 * i), "a" if i % 3 else "b",
         float(i) + 0.5)
        for i in range(24)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    base_ev = df.filter(F.col("event_id") % 5 != 0)
    delta_ev = df.filter(F.col("event_id") % 5 == 0)
    merged = {
        (r.window_start, r.event_type): (r.n, r.avg_value, r.max_value)
        for r in merge_rollup_partials(
            rollup_partials(base_ev, 3600, ["event_type"], "value"),
            rollup_partials(delta_ev, 3600, ["event_type"], "value"),
            ["event_type"],
        ).collect()
    }
    full = {
        (r.window_start, r.event_type): (r.n, r.avg_value, r.max_value)
        for r in merge_rollup_partials(
            rollup_partials(df, 3600, ["event_type"], "value"),
            rollup_partials(df.filter(F.lit(False)), 3600,
                            ["event_type"], "value"),
            ["event_type"],
        ).collect()
    }
    assert merged == full and len(full) > 4


def test_compaction_plan_sorted_fill(spark):
    """OPT03: groups fill to the target in file order, cut exactly when
    the running total crosses it; an oversized file gets its own group;
    partition dirs plan independently."""
    from db_loganalyzer_spark.operators.layout import compaction_plan

    rows = [
        ("a", 1, 3000), ("a", 2, 2000), ("a", 3, 500), ("a", 4, 9000),
        ("a", 5, 100), ("b", 1, 4096), ("b", 2, 1),
    ]
    m = spark.createDataFrame(rows, "part_key string, file_id long, bytes long")
    out = {
        (r.part_key, r.file_id): (r.cum_bytes_before, r.out_group)
        for r in compaction_plan(m, 4096, ["part_key"]).collect()
    }
    assert out[("a", 1)] == (0, 0)
    assert out[("a", 2)] == (3000, 0)      # 3000 < 4096: still group 0
    assert out[("a", 3)] == (5000, 1)      # crossed the target
    assert out[("a", 4)] == (5500, 1)      # 9000-byte file joins then owns
    assert out[("a", 5)] == (14500, 3)     # oversize file skipped group 2
    assert out[("b", 1)] == (0, 0)         # partition dirs independent
    assert out[("b", 2)] == (4096, 1)      # exactly-at-target boundary


def test_skew_report_values(spark):
    """A37 on a hand-skewed frame: exact counts, ratios, hot-key flags,
    and the (count desc, key) tiebreak."""
    from db_loganalyzer_spark.operators.aggregates import skew_report

    rows = [(1,)] * 12 + [(2,)] * 4 + [(3,)] * 2 + [(4,)] * 1 + [(5,)] * 1
    df = spark.createDataFrame(rows, "k long")
    out = skew_report(df, ["k"], top_k=3, hot_factor=2).orderBy("rank").collect()
    assert [(r.rank, r.k, r.n_rows) for r in out] == [(1, 1, 12), (2, 2, 4), (3, 3, 2)]
    top = out[0]
    assert (top.n_keys, top.total_rows, top.max_rows) == (5, 20, 12)
    assert top.mean_rows == 4.0 and top.skew_ratio == 3.0
    # hot keys (> 2x mean = > 8 rows): only key 1
    assert top.n_hot_keys == 1
    # equal counts tiebreak by key: keys 4 and 5 both have 1 row
    full = skew_report(df, ["k"], top_k=5).orderBy("rank").collect()
    assert [r.k for r in full] == [1, 2, 3, 4, 5]


def test_equidepth_bins_balanced_counts(spark):
    from db_loganalyzer_spark.operators.aggregates import equidepth_bins

    df = spark.createDataFrame(
        [(i, "t", float(i % 7)) for i in range(40)],
        "event_id long, event_type string, value double",
    )
    rows = equidepth_bins(df, "value", ["event_type"], n_bins=4).collect()
    assert sorted(r["bin"] for r in rows) == [1, 2, 3, 4]
    assert all(r["n"] == 10 for r in rows)  # 40 rows / 4 bins exactly
    by_bin = {r["bin"]: r for r in rows}
    # equi-depth: bucket spans are rank-contiguous and non-decreasing
    for b in range(1, 4):
        assert by_bin[b]["max_value"] <= by_bin[b + 1]["min_value"]


def test_trending_topk_rank_and_trailing_sum(spark):
    from db_loganalyzer_spark.operators.windows import trending_topk

    day = 86_400
    rows = []
    # day 0: 3xa 1xb; day 1: 3xb; day 2: 1xc
    rows += [(1, "a", 0)] * 3 + [(1, "b", 1)]
    rows += [(1, "b", day)] * 3
    rows += [(1, "c", 2 * day)]
    df = _ev(spark, rows)
    out = trending_topk(df, k=2, trailing_days=2).collect()
    min_day = min(r["day_idx"] for r in out)
    got = {
        (r["day_idx"] - min_day, r["rnk"]): (r["event_type"], r["n_trail"])
        for r in out
    }
    assert got[(0, 1)] == ("a", 3)
    assert got[(0, 2)] == ("b", 1)
    assert got[(1, 1)] == ("b", 4)   # 1 + 3 in the 2-day window
    # sparse semantics: "a" has no day-1 events, so it is not ranked on
    # day 1 despite a non-zero trailing count; same for "b" on day 2
    assert (1, 2) not in got
    assert got[(2, 1)] == ("c", 1)
    assert (2, 2) not in got


def test_shingle_novelty_first_occurrence(spark):
    from db_loganalyzer_spark.operators.dedup import shingle_novelty

    df = spark.createDataFrame(
        [
            (0, "alpha beta gamma"),
            (1, "alpha beta delta"),   # shares "alpha beta" with doc 0
            (2, "alpha beta gamma"),   # full copy of doc 0
            (3, "x"),                  # < n words: no shingles
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_shingles"], r["n_novel"], r["novelty"])
        for r in shingle_novelty(df, n=2).collect()
    }
    assert got[0] == (2, 2, 1.0)       # everything first-seen
    assert got[1] == (2, 1, 0.5)       # "beta delta" is new
    assert got[2] == (2, 0, 0.0)       # pure copy
    assert 3 not in got


def test_weighted_priority_sample_deterministic_and_biased(spark):
    from db_loganalyzer_spark.operators.sampling import (
        weighted_priority_sample,
    )

    df = spark.createDataFrame(
        [(i, 1 if i < 50 else 1000) for i in range(100)],
        "doc_id long, n_chars long",
    )
    a = weighted_priority_sample(df, k=20, salt=3).collect()
    b = weighted_priority_sample(df, k=20, salt=3).collect()
    assert [r["doc_id"] for r in a] == [r["doc_id"] for r in b]
    heavy = sum(1 for r in a if r["n_chars"] == 1000)
    assert heavy >= 18  # 1000x weights dominate the top-k
    # scale shape: top-k heaps, never a global sort
    plan = (
        weighted_priority_sample(df, k=20)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan


def test_salted_join_equals_plain_join(spark):
    """J13 equivalence contract: salted (key, salt) join is row-for-row
    the plain inner join — dim-less fact keys drop — and the hot key's
    fact rows genuinely spread across salts."""
    from db_loganalyzer_spark.operators.joins import salted_join

    fact = spark.createDataFrame(
        [(i, 1 if i < 40 else (2 + i % 3), float(i)) for i in range(60)]
        + [(100, 99, 1.0)],  # key 99 absent from dim
        "row_id long, k long, v double",
    )
    dim = spark.createDataFrame(
        [(1, "hot"), (2, "a"), (3, "b"), (4, "c")], "k long, tag string"
    )
    got = salted_join(fact, dim, "k", "k", salt_from=["row_id"], salt_parts=4)
    got_rows = sorted(
        (r["row_id"], r["v"], r["tag"])
        for r in got.select("row_id", "v", "tag").collect()
    )
    want_rows = sorted(
        (r["row_id"], r["v"], r["tag"])
        for r in fact.join(dim, "k").select("row_id", "v", "tag").collect()
    )
    assert got_rows == want_rows
    # the hot key (40 fact rows) must occupy more than one salt bucket
    n_salts = (
        fact.filter("k = 1")
        .select(F.pmod(F.xxhash64("row_id"), F.lit(4)).alias("s"))
        .distinct()
        .count()
    )
    assert n_salts > 1


def test_choose_salt_parts_rule_pins():
    """J15's decision rule on constructed profiles: uniform data and
    one-task-sized hot keys stay unsalted; genuinely skewed keys get
    ceil(max/target) rounded up to a power of two, clamped; the
    threshold compare runs in double (no int64 overflow at the
    10^12-row x 10^9-key scale the rule exists for)."""
    from db_loganalyzer_spark.operators.joins import choose_salt_parts

    # uniform: max == mean -> ratio 1 <= 4 -> no salt even if huge
    assert choose_salt_parts(10**7, 10**9, 100) == 1
    # skewed but the hot key fits one task -> no salt
    assert choose_salt_parts(4_000, 10_000, 100,
                             target_rows_per_task=5_000) == 1
    # skewed and big: 10k-row hot key, 1k-per-task -> ceil=10 -> pow2 16
    assert choose_salt_parts(10_000, 20_000, 100,
                             target_rows_per_task=1_000) == 16
    # exact power stays (ceil=8 -> 8, not 16)
    assert choose_salt_parts(8_000, 20_000, 100,
                             target_rows_per_task=1_000) == 8
    # clamp at max_parts
    assert choose_salt_parts(10**9, 2 * 10**9, 1000,
                             target_rows_per_task=1_000,
                             max_parts=256) == 256
    # empty / degenerate profiles
    assert choose_salt_parts(0, 0, 0) == 1
    # overflow regression: int64 max_rows * n_keys would wrap; the
    # double compare must still see the skew (ratio = 5 * 10^8)
    assert choose_salt_parts(10**12, 2 * 10**12, 10**9,
                             target_rows_per_task=10**9,
                             max_parts=1 << 20) == 1024


def test_auto_salted_join_decides_and_matches_plain(spark):
    """decide_salt_parts engages on constructed skew (pinned S) and
    stays out on uniform keys; the salted join at the decided S (j15's
    path) has the plain join's rows."""
    from db_loganalyzer_spark.operators.joins import (
        decide_salt_parts,
        salted_join,
    )

    # 60 rows on key 1, 1 row each on keys 2..21
    fact = spark.createDataFrame(
        [(i, 1 if i < 60 else i - 58, float(i)) for i in range(80)],
        "row_id long, k long, v double",
    )
    dim = spark.createDataFrame(
        [(i, f"t{i}") for i in range(1, 25)], "k long, tag string"
    )
    # profile: max=60, total=80, n_keys=21 -> ratio 15.75 > 4;
    # ceil(60/10)=6 -> pow2 8
    s = decide_salt_parts(fact, "k", target_rows_per_task=10)
    assert s == 8
    got = sorted(
        (r["row_id"], r["v"], r["tag"])
        for r in salted_join(
            fact, dim, "k", "k", salt_from=["row_id"], salt_parts=s,
        ).select("row_id", "v", "tag").collect()
    )
    want = sorted(
        (r["row_id"], r["v"], r["tag"])
        for r in fact.join(dim, "k").select("row_id", "v", "tag").collect()
    )
    assert got == want
    # uniform fact: the rule says 1 (j15 then runs the plain join)
    uni = spark.createDataFrame(
        [(i, i % 20, float(i)) for i in range(80)],
        "row_id long, k long, v double",
    )
    assert decide_salt_parts(uni, "k", target_rows_per_task=10) == 1


def test_salted_join_same_key_name_selectable(spark):
    """fact_key == dim_key must leave ONE key column (the fact side's)
    so a post-join select of the key does not raise AMBIGUOUS_REFERENCE
    — regression for the condition-form join keeping both sides."""
    from db_loganalyzer_spark.operators.joins import salted_join

    fact = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 2), (4, 7)], "row_id long, k long"
    )
    dim = spark.createDataFrame([(1, "a"), (2, "b")], "k long, tag string")
    out = salted_join(fact, dim, "k", "k", salt_from=["row_id"], salt_parts=3)
    assert out.columns.count("k") == 1
    got = sorted((r["k"], r["row_id"], r["tag"]) for r in out.collect())
    assert got == [(1, 1, "a"), (1, 2, "a"), (2, 3, "b")]


def test_wav_codec_roundtrip_golden_and_errors():
    """mm06's codec off-Spark: golden header bytes, sample round-trip,
    chunk skipping, truncation and non-PCM rejection."""
    import struct

    from db_loganalyzer_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
        pure_python_decode_backend,
    )

    samples = [0, 1000, -1000, 32767, -32768, 3]
    wav = encode_wav(8000, samples)
    # golden layout: RIFF size covers WAVE + fmt(16) + data chunks
    assert wav[:4] == b"RIFF" and wav[8:12] == b"WAVE"
    assert wav[12:16] == b"fmt " and struct.unpack_from("<I", wav, 16)[0] == 16
    assert struct.unpack_from("<HHIIHH", wav, 20) == (
        1, 1, 8000, 16000, 2, 16,
    )
    assert wav[36:40] == b"data"
    rate, ch, got = decode_wav(wav)
    assert (rate, ch, got) == (8000, 1, samples)

    # a real parser must skip unknown chunks: splice a LIST chunk in
    junk = struct.pack("<4sI", b"LIST", 6) + b"junk!\x00"
    spliced = wav[:36] + junk + wav[36:]
    spliced = (
        spliced[:4]
        + struct.pack("<I", len(spliced) - 8)
        + spliced[8:]
    )
    assert decode_wav(spliced)[2] == samples

    with pytest.raises(ValueError):
        decode_wav(wav[:-1])  # truncated data chunk
    with pytest.raises(ValueError):
        decode_wav(b"RIFF\x00\x00\x00\x00AVI ")  # not WAVE
    bad_fmt = bytearray(wav)
    struct.pack_into("<H", bad_fmt, 20, 7)  # mu-law, not PCM
    with pytest.raises(ValueError):
        decode_wav(bytes(bad_fmt))
    with pytest.raises(ValueError):
        encode_wav(8000, [40000])  # not int16

    meta = pure_python_decode_backend(wav, "audio")
    assert meta == {
        "width": 0, "height": 0, "n_frames": len(samples), "format": "wav",
    }


def test_decode_audio_stats_matches_closed_form(spark, docs):
    """mm06's registry path: stats computed from the DECODED sample
    arrays equal the closed-form generating rule."""
    from db_loganalyzer_spark.operators.multimodal import (
        decode_audio_stats,
        media_table_synthetic_audio,
    )

    out = {
        r.media_id: r
        for r in decode_audio_stats(
            media_table_synthetic_audio(docs)
        ).collect()
    }
    assert out
    for mid, r in out.items():
        n = 40 + mid % 113
        want = [((mid * 31 + i * 17) % 2001) - 1000 for i in range(n)]
        assert r.sample_rate == 8000 and r.n_samples == n
        assert r.duration_us == n * 125
        assert r.sum_abs == sum(abs(s) for s in want)
        assert r.sum_sq == sum(s * s for s in want)
        assert r.zero_crossings == sum(
            1 for i in range(1, n) if want[i - 1] * want[i] < 0
        )


def test_winnowing_guarantee_and_compression(spark):
    """m20's primitive: any shared token run of length >= n+w-1 yields
    a shared fingerprint (the winnowing guarantee), unrelated docs
    share none, and the fingerprint set is smaller than the full
    shingle set."""
    from db_loganalyzer_spark.operators.dedup import (
        winnowing_fingerprints,
        word_shingles,
    )

    shared = "the quick brown fox jumps over the lazy dog tonight"
    rows = [
        (1, "alpha beta " + shared + " gamma delta epsilon"),
        (2, "one two three four " + shared + " five six seven"),
        (3, "completely different words nothing in common here at "
            "all zebra xylophone quasar"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fps = winnowing_fingerprints(docs, n=2, w=4)
    by_doc = {
        i: {r.fingerprint for r in g}
        for i, g in __import__("itertools").groupby(
            sorted(fps.collect(), key=lambda r: r.doc_id),
            key=lambda r: r.doc_id,
        )
    }
    # guarantee: docs 1 and 2 share an 10-token run >> n+w-1 = 5
    assert by_doc[1] & by_doc[2]
    # discrimination: doc 3 shares nothing with either
    assert not (by_doc[3] & (by_doc[1] | by_doc[2]))
    # compression: fewer fingerprints than distinct shingles
    n_shingles = {
        r.doc_id: r.n
        for r in docs.select(
            "doc_id", F.size(word_shingles("text", 2)).alias("n")
        ).collect()
    }
    for i, f in by_doc.items():
        assert len(f) < n_shingles[i]

    # m21's consumer: the overlapping pair surfaces with its shared
    # count, the unrelated doc pairs with nothing
    from db_loganalyzer_spark.operators.dedup import winnowing_overlap_pairs

    pairs = {
        (r.id_a, r.id_b): r.n_shared
        for r in winnowing_overlap_pairs(
            docs, n=2, w=4, min_shared=1, max_doc_freq=None
        ).collect()
    }
    assert set(pairs) == {(1, 2)}
    assert pairs[(1, 2)] == len(by_doc[1] & by_doc[2])


def test_avi_codec_roundtrip_and_errors():
    """mm07's codec off-Spark: chunk-tree round-trip, frame pixel
    values, truncation/mismatch/compression rejection, backend sniff."""
    import struct

    from db_loganalyzer_spark.operators.multimodal import (
        decode_avi,
        encode_avi,
        pure_python_decode_backend,
        synth_video_payload,
    )

    frames = [
        [(f * 10 + i, f * 10 + i + 1, f * 10 + i + 2) for i in range(6)]
        for f in range(3)
    ]
    avi = encode_avi(3, 2, frames)
    assert avi[:4] == b"RIFF" and avi[8:12] == b"AVI "
    w, h, got = decode_avi(avi)
    assert (w, h) == (3, 2) and got == frames

    meta = pure_python_decode_backend(avi, "video")
    assert meta == {"width": 3, "height": 2, "n_frames": 3, "format": "avi"}

    with pytest.raises(ValueError):
        decode_avi(avi[:-4])  # truncated last frame
    with pytest.raises(ValueError):
        decode_avi(b"RIFF\x04\x00\x00\x00WAVE")  # not AVI
    # compressed stream rejected: flip biCompression in strf
    strf_off = avi.index(b"strf") + 8
    bad = bytearray(avi)
    struct.pack_into("<I", bad, strf_off + 16, 1)  # BI_RLE8
    with pytest.raises(ValueError):
        decode_avi(bytes(bad))

    # synth payloads decode to the closed-form rule
    for mid in (0, 13, 89, 90):
        w, h, frs = decode_avi(synth_video_payload(mid))
        assert (w, h, len(frs)) == (
            4 + mid % 9, 3 + mid % 5, 1 + mid % 90,
        )
        for f, fr in enumerate(frs):
            for i, px in enumerate(fr):
                assert px == (
                    (mid + 7 * f + 3 * i) % 256,
                    (mid + 7 * f + 3 * i + 1) % 256,
                    (mid + 7 * f + 3 * i + 2) % 256,
                )


def test_decode_video_stats_matches_closed_form(spark, docs):
    """mm07's registry path: channel sums computed from EVERY decoded
    frame equal the closed-form generating rule."""
    from db_loganalyzer_spark.operators.multimodal import (
        decode_video_stats,
        media_table_synthetic_videos,
    )

    out = {
        r.media_id: r
        for r in decode_video_stats(
            media_table_synthetic_videos(docs)
        ).collect()
    }
    assert out
    for mid, r in out.items():
        w, h, n = 4 + mid % 9, 3 + mid % 5, 1 + mid % 90
        assert (r.width, r.height, r.n_frames) == (w, h, n)
        assert r.n_pixels == w * h * n
        want_r = sum(
            (mid + 7 * f + 3 * i) % 256
            for f in range(n)
            for i in range(w * h)
        )
        assert r.sum_r == want_r


def test_duplicated_span_stats(spark):
    rows = [
        (0, "a b c d e f g h"),        # shares 'a b c'/'b c d' with doc 1
        (1, "x a b c d y z w"),
        (2, "p q r s t u"),            # nothing duplicated
        (3, "m n o m n o m n o"),      # within-doc repeats count (Lee et al.)
        (4, "k k"),                    # shorter than n: still emits a row
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: (r.n_toks, r.covered_toks, r.dup_fraction)
        for r in DD.duplicated_span_stats(docs, n=3, min_count=2).collect()
    }
    assert out[0] == (8, 4, 0.5)       # [0,2] u [1,3] -> 4 positions
    assert out[1] == (8, 4, 0.5)       # [1,3] u [2,4]
    assert out[2] == (6, 0, 0.0)
    assert out[3] == (9, 9, 1.0)       # overlapping repeats tile the doc
    assert out[4] == (2, 0, 0.0)


def test_duplicated_span_stats_empty_doc(spark):
    # split('') -> [''] (size 1); the oracle filters empty tokens and
    # counts 0 — the Spark side must agree (r11 ADVICE fix).
    rows = [(0, ""), (1, "   "), (2, "a b c a b c")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: (r.n_toks, r.covered_toks, r.dup_fraction)
        for r in DD.duplicated_span_stats(docs, n=3, min_count=2).collect()
    }
    assert out[0] == (0, 0, 0.0)
    assert out[1] == (0, 0, 0.0)
    assert out[2] == (6, 6, 1.0)


def test_classifier_gate(spark, docs):
    weights = spark.createDataFrame(
        [("quick", 500), ("lazy", -2000), ("spark", 1000)],
        "term string, weight_milli long",
    )
    out = {
        r.doc_id: (r.n_toks, r.score_sum_milli, r.keep)
        for r in TS.classifier_gate(docs, weights).collect()
    }
    # doc 0: quick(500) + lazy(-2000), 9 tokens -> sum -1500, rejected
    assert out[0] == (9, -1500, False)
    # doc 3 mentions spark: +1000 over 8 tokens -> kept
    assert out[3] == (8, 1000, True)
    # OOV-only doc scores 0 and is rejected (threshold is strict)
    assert out[4] == (1, 0, False)
    # empty doc still emits a row
    assert out[5] == (0, 0, False)


def test_hashed_weight_table_matches_token_hash(spark):
    df = spark.createDataFrame([(0, "alpha beta alpha")], "doc_id long, text string")
    wt = {r.term: r.weight_milli for r in TS.hashed_weight_table(df).collect()}
    assert set(wt) == {"alpha", "beta"}
    assert all(-1000 <= w <= 1000 for w in wt.values())

    def py_hash(t):
        acc = 7
        for ch in t:
            acc = (acc * 131 + ord(ch)) % 1_000_000_007
        return acc % 2001 - 1000

    assert wt["alpha"] == py_hash("alpha")
    assert wt["beta"] == py_hash("beta")


def test_zorder_key_known_values(spark):
    from db_loganalyzer_spark.operators.layout import zorder_key

    df = spark.createDataFrame(
        [(0, 0), (1, 0), (0, 1), (3, 5), (65535, 65535)], "x long, y long"
    )
    got = {
        (r.x, r.y): r.z
        for r in df.select("x", "y", zorder_key(F.col("x"), F.col("y")).alias("z")).collect()
    }

    def morton(x, y):
        z = 0
        for k in range(16):
            z |= ((x >> k) & 1) << (2 * k + 1) | ((y >> k) & 1) << (2 * k)
        return z

    for (x, y), z in got.items():
        assert z == morton(x, y)
    assert got[(0, 0)] == 0
    assert got[(1, 0)] == 2 and got[(0, 1)] == 1   # x bits land higher
    assert got[(65535, 65535)] == (1 << 32) - 1


def test_zorder_layout_audit_clusters_both_dims(spark):
    """Points on a diagonal: every z-range bucket must be a small box in
    BOTH dimensions (that is the whole point of the interleave)."""
    from db_loganalyzer_spark.operators.layout import zorder_layout_audit

    n = 4096
    df = spark.range(n).select(
        F.col("id").alias("x"), F.col("id").alias("y")
    )
    out = zorder_layout_audit(df, "x", "y", bits=16, bucket_bits=4).collect()
    assert sum(r.n for r in out) == n
    for r in out:
        # 4 bucket bits = 2 bits per dimension: every box spans at most
        # a quarter of the 16-bit grid in EACH dimension (a linear sort
        # would give full-width boxes in the secondary one)
        assert (r.x_hi - r.x_lo) < 65536 / 4
        assert (r.y_hi - r.y_lo) < 65536 / 4


def test_zorder_skip_estimate_matches_overlap_rule(spark):
    """OPT02 on the diagonal fixture: the scan sets follow the parquet
    overlap rule exactly, and on a diagonal BOTH single-dimension
    predicates prune to the same small bucket set (the symmetry a
    linear sort cannot have)."""
    from db_loganalyzer_spark.operators.layout import (
        zorder_layout_audit,
        zorder_skip_estimate,
    )

    n = 4096
    df = spark.range(n).select(
        F.col("id").alias("x"), F.col("id").alias("y")
    )
    audit = zorder_layout_audit(df, "x", "y", bits=16, bucket_bits=4)
    boxes = audit.collect()
    box = (20000, 30000)
    want_x = sum(1 for r in boxes if r.x_hi >= box[0] and r.x_lo <= box[1])
    want_y = sum(1 for r in boxes if r.y_hi >= box[0] and r.y_lo <= box[1])
    want_xy = sum(
        1 for r in boxes
        if r.x_hi >= box[0] and r.x_lo <= box[1]
        and r.y_hi >= box[0] and r.y_lo <= box[1]
    )
    got = zorder_skip_estimate(audit, box, box).first()
    assert got.n_buckets == len(boxes) and got.total_rows == n
    assert (got.scan_x, got.scan_y, got.scan_xy) == (want_x, want_y, want_xy)
    # the predicate is a ~15% slice; a diagonal z-layout must prune
    # most buckets on EITHER dimension alone
    assert got.scan_x < len(boxes) / 2 and got.scan_y < len(boxes) / 2
    assert got.rows_xy == sum(
        r.n for r in boxes
        if r.x_hi >= box[0] and r.x_lo <= box[1]
        and r.y_hi >= box[0] and r.y_lo <= box[1]
    )


def test_padded_batches_accounting(spark):
    from db_loganalyzer_spark.operators.sampling import padded_batches

    rows = [
        (0, "a " * 10, "s"), (1, "b " * 2, "s"),
        (2, "c " * 10, "s"), (3, "d " * 2, "s"),
    ]
    docs = spark.createDataFrame(
        [(i, t.strip(), s) for i, t, s in rows],
        "doc_id long, text string, source string",
    )
    sorted_out = {
        r.batch_id: (r.n_seqs, r.max_toks, r.sum_toks, r.pad_toks)
        for r in padded_batches(docs, batch_size=2, by=["source"]).collect()
    }
    # length-sorted: (10,10) batch then (2,2) batch -> zero padding
    assert sorted_out == {0: (2, 10, 20, 0), 1: (2, 2, 4, 0)}
    naive = {
        r.batch_id: r.pad_toks
        for r in padded_batches(
            docs, batch_size=2, by=["source"], length_sorted=False
        ).collect()
    }
    # id order pairs each (10, 2): 8 padding tokens per batch
    assert naive == {0: 8, 1: 8}


def test_quantized_gemm_topk_matches_reference_computation(spark):
    import math

    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [0.5004, 0.5, 0.0]),   # quantization rounds to (500, 500, 0)
        (4, [-1.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = [
        (r.vec_id, r.cosine, r.rank)
        for r in SIM.quantized_gemm_topk(emb, queries, k=3)
        .orderBy("rank")
        .collect()
    ]

    def qcos(a, b):
        qa = [math.floor(x * 1000 + 0.5) for x in a]
        qb = [math.floor(x * 1000 + 0.5) for x in b]
        dot = sum(x * y for x, y in zip(qa, qb))
        return dot / (
            math.sqrt(sum(x * x for x in qa)) * math.sqrt(sum(x * x for x in qb))
        )

    want = sorted(
        ((vid, qcos(rows[0][1], v)) for vid, v in rows if vid != 0),
        key=lambda t: (-t[1], t[0]),
    )[:3]
    assert [(v, c) for v, c, _ in got] == want   # EXACT doubles, no tolerance
    assert [r[2] for r in got] == [1, 2, 3]
    # doc 3's cosine reflects the quantized (500,500) vector, not the raw one
    assert got[1][0] == 3 and abs(got[1][1] - 500 / math.sqrt(500**2 + 500**2) * 1) < 1e-12


def test_quantized_gemm_topk_empty_queries(spark):
    # an empty rerank batch must return an empty frame with the output
    # schema, not raise from a 1-D np.array (r11 ADVICE fix)
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    queries = emb.filter(F.lit(False)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = SIM.quantized_gemm_topk(emb, queries, k=3)
    assert out.columns == ["query_id", "vec_id", "cosine", "rank"]
    assert out.count() == 0


def test_char_entropy_known_values(spark):
    import math

    docs = spark.createDataFrame(
        [
            (0, "abababab"),        # uniform over {a,b}: H = 1 bit
            (1, "aaaaaaaa"),        # single symbol: H = 0
            (2, "abcd"),            # uniform over 4: H = 2 bits
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in TS.char_entropy(docs).collect()}
    assert abs(out[0].h_char - 1.0) < 1e-5 and out[0].n_chars == 8
    assert abs(out[1].h_char - 0.0) < 1e-5
    assert abs(out[2].h_char - 2.0) < 1e-5
    # bigrams of 'abababab': ab x4, ba x3 -> H2 = H({4/7, 3/7})
    p = [4 / 7, 3 / 7]
    want = -sum(x * math.log2(x) for x in p)
    assert abs(out[0].h_bigram - want) < 1e-5 and out[0].n_bigrams == 7


def test_perceptual_hash_groups_identical_images(spark):
    """Two media with byte-identical payloads must share a phash and
    group; a structurally different image must not (and the bits must
    match a direct python computation over the decoded pixels)."""
    from db_loganalyzer_spark.operators.multimodal import (
        decode_image_pixels,
        decode_perceptual_hash,
        encode_bmp,
    )

    px_a = [(255, 0, 0) if i % 2 else (0, 0, 255) for i in range(8 * 6)]
    px_b = [(0, 255, 0)] * 24 + [(10, 10, 10)] * 24
    pay_a = encode_bmp(8, 6, px_a)
    pay_b = encode_bmp(8, 6, px_b)
    media = spark.createDataFrame(
        [(0, bytearray(pay_a)), (1, bytearray(pay_a)), (2, bytearray(pay_b))],
        "media_id long, payload binary",
    ).select(
        "media_id", "payload", F.lit("image").alias("media_type"),
        F.create_map().alias("meta"),
    )
    got = {r.media_id: r.phash for r in decode_perceptual_hash(media).collect()}
    assert got[0] == got[1] != got[2]

    def py_phash(payload, gw=4, gh=3):
        w, h, pixels = decode_image_pixels(payload)
        gray = [r + g + b for r, g, b in pixels]
        total, npix, bits = sum(gray), w * h, 0
        bsum = [[0, 0] for _ in range(gw * gh)]
        for y in range(h):
            for x in range(w):
                b = (gh * y // h) * gw + gw * x // w
                bsum[b][0] += gray[y * w + x]
                bsum[b][1] += 1
        for b, (s, n) in enumerate(bsum):
            if s * npix > total * n:
                bits |= 1 << b
        return bits

    assert got[0] == py_phash(pay_a) and got[2] == py_phash(pay_b)


def test_pit_lookup_half_open_semantics(spark):
    from db_loganalyzer_spark.operators.joins import pit_lookup

    dim = spark.createDataFrame(
        [
            (1, "A", 100, 200),
            (1, "B", 200, None),     # open current version
            (2, "X", 500, 600),
        ],
        "user_id long, state string, valid_from_us long, valid_to_us long",
    )
    facts = spark.createDataFrame(
        [
            (10, 1, 150),   # inside A
            (11, 1, 200),   # boundary: belongs to B (half-open)
            (12, 1, 99),    # before first version -> NULL
            (13, 1, 10_000),  # open version still matches
            (14, 2, 600),   # vt exclusive, no open version -> NULL
        ],
        "event_id long, user_id long, probe_us long",
    )
    got = {
        r.event_id: r.state
        for r in pit_lookup(facts, dim, "user_id").collect()
    }
    assert got == {10: "A", 11: "B", 12: None, 13: "B", 14: None}


def test_energy_segments_known_runs(spark):
    """Hand-built WAV: 64 samples where frames 1,2 and 4 are loud —
    expect two segments, [1,2] and [4,4]."""
    from db_loganalyzer_spark.operators.multimodal import (
        decode_active_frames,
        encode_wav,
    )
    from db_loganalyzer_spark.operators.windows import coalesce_intervals

    quiet, loud = [1] * 16, [900] * 16
    samples = quiet + loud + loud + quiet + loud  # frames: q L L q L
    media = spark.createDataFrame(
        [(7, bytearray(encode_wav(8000, samples)))],
        "media_id long, payload binary",
    ).select(
        "media_id", "payload", F.lit("audio").alias("media_type"),
        F.create_map().alias("meta"),
    )
    act = decode_active_frames(media)
    iv = act.select(
        "media_id", F.col("frame_idx").alias("s"),
        (F.col("frame_idx") + 1).alias("e"),
    )
    segs = {
        (r.window_start, r.window_end - 1): r.n_intervals
        for r in coalesce_intervals(iv, ["media_id"], "s", "e").collect()
    }
    assert segs == {(1, 2): 2, (4, 4): 1}


def test_json_schema_profile_roundtrip(spark):
    """The profiler must survive the full map -> to_json -> from_json
    round trip with values that stress quoting and numeric parsing."""
    import __spark_entry__ as entry_mod
    import duckdb

    con = duckdb.connect()
    con.sql(
        "CREATE VIEW events AS SELECT * FROM "
        "'/root/testdata/sf0.001/events.parquet'"
    )
    want = {
        r[0]: (r[1], r[2], r[3])
        for r in con.sql(entry_mod.F12_SQL).fetchall()
    }
    got = {
        r.key: (r.n, r.n_numeric, r.n_distinct)
        for r in entry_mod.f12_json_schema_profile(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert got == want and set(got) == {"k", "value", "code", "msg", "amount"}


def test_heaps_fit_extremes(spark):
    """All-new vocabulary per doc -> beta ~ 1; identical docs -> beta ~ 0."""
    fresh = spark.createDataFrame(
        [(i, " ".join(f"w{i}_{j}" for j in range(20))) for i in range(400)],
        "doc_id long, text string",
    )
    b_fresh = TS.heaps_fit(fresh).collect()[0]
    assert b_fresh.n_points == 4 and abs(b_fresh.beta - 1.0) < 0.01

    dup = spark.createDataFrame(
        [(i, "the same twenty words repeated " * 4) for i in range(400)],
        "doc_id long, text string",
    )
    b_dup = TS.heaps_fit(dup).collect()[0]
    assert abs(b_dup.beta) < 0.01


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from("abcdef"), min_size=1, max_size=12).map(" ".join),
        min_size=1,
        max_size=8,
    ),
    st.integers(min_value=2, max_value=4),
)
def test_duplicated_span_stats_matches_bruteforce(texts, n):
    """m22 vs a pure-Python reference on tiny random corpora: the
    covered-position union must match exactly."""
    spark = test_duplicated_span_stats_matches_bruteforce._spark
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_toks, r.covered_toks)
        for r in DD.duplicated_span_stats(docs, n=n, min_count=2).collect()
    }

    grams = {}
    for i, t in enumerate(texts):
        toks = t.split()
        for p in range(len(toks) - n + 1):
            grams.setdefault(tuple(toks[p: p + n]), []).append((i, p))
    want = {}
    for i, t in enumerate(texts):
        toks = t.split()
        covered = set()
        for p in range(len(toks) - n + 1):
            if len(grams[tuple(toks[p: p + n])]) >= 2:
                covered.update(range(p, p + n))
        want[i] = (len(toks), len(covered))
    assert got == want


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=4, max_value=10),   # width
            st.integers(min_value=1, max_value=9),    # height
        ),
        min_size=1, max_size=4,
    ),
    st.sampled_from([None, 1, 9]),                    # zlib level
)
def test_png_roundtrip_property(dims, level):
    """PNG codec round-trips arbitrary small images under stored-block
    AND real-deflate framing; the per-row filter cycle means any image
    taller than 4 rows exercises every filter type."""
    from db_loganalyzer_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    for seed, (w, h) in enumerate(dims):
        pix = [((seed + 7 * i) % 256, (3 * i) % 256, (251 * i + seed) % 256)
               for i in range(w * h)]
        payload = encode_png(w, h, pix, compress_level=level)
        assert decode_png(payload) == (w, h, pix)
        if level is None:
            assert len(payload) == 68 + h * (1 + 3 * w)


@settings(max_examples=15, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=20), min_size=1, max_size=30),
    st.integers(min_value=1, max_value=8),
)
def test_compaction_plan_property(sizes, target):
    """OPT03 vs the sequential fill it claims to be: identical group
    assignment for every input, and no group except oversize-file
    groups STARTS beyond the target boundary it belongs to."""
    spark = test_compaction_plan_property._spark
    from db_loganalyzer_spark.operators.layout import compaction_plan

    m = spark.createDataFrame(
        [("p", i, s) for i, s in enumerate(sizes)],
        "part_key string, file_id long, bytes long",
    )
    got = {
        r.file_id: (r.cum_bytes_before, r.out_group)
        for r in compaction_plan(m, target, ["part_key"]).collect()
    }
    cum = 0
    for i, s in enumerate(sizes):
        assert got[i] == (cum, cum // target)
        cum += s


def test_sorted_batching_ragged_tail_counterexample(spark):
    """The documented limit of the sorted mitigation: [1,1,2] at batch
    size 2 — sorted-desc chunks ([2,1],[1]) pad 1 token, arrival order
    ([1,1],[2]) pads 0. Pinned so the padded_batches docstring's
    'near-equal lengths' framing can't drift back into an optimality
    claim for ragged batch counts."""
    from db_loganalyzer_spark.operators.sampling import padded_batches

    docs = spark.createDataFrame(
        [(0, "w", "s"), (1, "w", "s"), (2, "w w", "s")],
        "doc_id long, text string, source string",
    )
    pad_sorted = sum(
        r.pad_toks
        for r in padded_batches(docs, batch_size=2, by=["source"]).collect()
    )
    pad_naive = sum(
        r.pad_toks
        for r in padded_batches(
            docs, batch_size=2, by=["source"], length_sorted=False
        ).collect()
    )
    assert (pad_sorted, pad_naive) == (1, 0)


@pytest.fixture(autouse=True)
def _bind_spark_for_hypothesis(spark):
    # hypothesis forbids function-scoped fixtures inside @given bodies;
    # stash the module-scoped session on the test functions instead
    test_duplicated_span_stats_matches_bruteforce._spark = spark
    test_sorted_batching_never_pads_more._spark = spark
    test_compaction_plan_property._spark = spark
    yield


@settings(max_examples=15, deadline=None)
@given(
    st.lists(st.integers(min_value=1, max_value=50), min_size=1, max_size=24),
    st.integers(min_value=2, max_value=5),
)
def test_sorted_batching_never_pads_more(lengths, bsz):
    """Classic result, stated PRECISELY (hypothesis falsified the r10
    over-claim with [1,1,2] @ bsz=2): among partitions into FULL
    batches, sorted-consecutive grouping minimizes the sum of batch
    maxima — so with a full-batch count, sorted padding <= arrival
    order on every input. With a RAGGED tail the guarantee genuinely
    fails (padding = sum(n_i * max_i) - total, and which batch gets the
    small n_i matters: sorted puts the small batch on the SHORT
    sequences, which can lose — see the counterexample test below), so
    the property restricts to full batches."""
    lengths = lengths[: (len(lengths) // bsz) * bsz]
    if not lengths:
        return
    spark = test_sorted_batching_never_pads_more._spark
    from db_loganalyzer_spark.operators.sampling import padded_batches

    docs = spark.createDataFrame(
        [(i, "w " * ln, "s") for i, ln in enumerate(lengths)],
        "doc_id long, text string, source string",
    )
    pad_sorted = sum(
        r.pad_toks
        for r in padded_batches(docs, batch_size=bsz, by=["source"]).collect()
    )
    pad_naive = sum(
        r.pad_toks
        for r in padded_batches(
            docs, batch_size=bsz, by=["source"], length_sorted=False
        ).collect()
    )
    assert 0 <= pad_sorted <= pad_naive


def test_zorder_key_bijective_on_grid(spark):
    from db_loganalyzer_spark.operators.layout import zorder_key

    df = spark.range(4096).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("long").alias("y")
    )
    out = df.select(zorder_key(F.col("x"), F.col("y"), bits=6).alias("z"))
    assert out.distinct().count() == 4096
    mm = out.agg(F.min("z").alias("lo"), F.max("z").alias("hi")).collect()[0]
    assert mm.lo == 0 and mm.hi == 4095


def test_compaction_apply_one_file_per_group_and_sorted(spark, tmp_path):
    """OPT04: the executed rewrite produces exactly one parquet file per
    planned output group, loses/duplicates no rows, and preserves the
    caller's cluster-key order inside each file (the partitioned write
    would otherwise inject its own partition-column sort and silently
    discard it)."""
    import glob as _glob

    from db_loganalyzer_spark.operators.layout import (
        compaction_apply,
        compaction_plan,
    )

    n = 2000
    data = spark.range(n).select(
        (F.col("id") % 2).alias("part_key"),
        (F.col("id") % 10).alias("file_id"),
        F.col("id").alias("row_id"),
        # a cluster key deliberately uncorrelated with file_id order
        ((F.col("id") * 7919) % 1000).alias("ckey"),
    )
    manifest = data.groupBy("part_key", "file_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows_f")
    )
    plan = compaction_plan(manifest, 300, ["part_key"], bytes_col="n_rows_f")
    out_dir = str(tmp_path / "compacted")
    compaction_apply(data, plan, ["part_key"], out_dir, sort_cols=["ckey"])

    n_groups = plan.select("part_key", "out_group").distinct().count()
    files = _glob.glob(out_dir + "/part_key=*/out_group=*/*.parquet")
    assert len(files) == n_groups

    back = spark.read.parquet(out_dir)
    assert back.count() == n
    assert back.select("row_id").distinct().count() == n

    # within every output file, ckey must be non-decreasing
    import pyarrow.parquet as pq

    for fp in files:
        ckeys = pq.read_table(fp, columns=["ckey"])["ckey"].to_pylist()
        assert ckeys == sorted(ckeys), fp


def test_jpeg_codec_exact_tiles_golden_lossy_and_errors():
    """The wheel-free baseline-JPEG codec (ITU T.81 sequential DCT):
    golden-pin the bitstream and the decode, verify the even-tile
    EXACT path the mm10 oracle relies on, bound the loss on general
    content, check restart markers and byte stuffing, and reject the
    shapes the decoder honestly routes to a codec library."""
    import hashlib
    import struct

    import pytest

    from db_loganalyzer_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg,
        synth_jpeg_payload,
    )

    # --- exact-tile path: decode equals the closed form bit-for-bit
    p3 = synth_jpeg_payload(3)
    assert hashlib.sha256(p3).hexdigest() == (
        "c695e968c49bf53022c3cb5f9dd8eeea03b2398e82efb440de485703ae59e546"
    )
    assert len(p3) == 333
    w, h, px = decode_jpeg(p3)
    assert (w, h) == (9, 8)
    for y in range(h):
        for x in range(w):
            v = 128 + 2 * (((3 + 5 * (x // 8) + 11 * (y // 8)) % 61) - 30)
            assert px[y * w + x] == (v, v, v)
    # container structure: SOI, JFIF APP0, DQT, SOF0, 2 DHTs, SOS, EOI
    assert p3[:2] == b"\xFF\xD8" and p3[-2:] == b"\xFF\xD9"
    assert p3[2:4] == b"\xFF\xE0" and p3[6:10] == b"JFIF"
    # SOF0 carries precision 8 and the true dims
    sof = p3.index(b"\xFF\xC0")
    assert struct.unpack_from(">BHHB", p3, sof + 4) == (8, 8, 9, 1)

    # --- general (lossy) content: golden-pinned bitstream + decode,
    # bounded reconstruction error
    img = [((x * 13 + y * 29) % 256,) * 3 for y in range(6) for x in range(10)]
    pay = encode_jpeg(10, 6, img, quality=75, grayscale=True)
    assert hashlib.sha256(pay).hexdigest() == (
        "4e4ebcbf75a9822560fea80b4a4fabaf18789f53a9a0e03912afd935e5911fa7"
    )
    dw, dh, dp = decode_jpeg(pay)
    assert (dw, dh) == (10, 6)
    assert [dp[i][0] for i in range(10)] == [2, 12, 27, 40, 52, 65, 79, 90,
                                             98, 116]
    assert sum(q[0] for q in dp) == 7595
    # the mod-256 wrap is a sharp edge; q75 ringing reaches ~31 there —
    # bound it rather than pretend lossy isn't lossy
    assert max(abs(dp[i][0] - img[i][0]) for i in range(60)) <= 48
    assert sum(abs(dp[i][0] - img[i][0]) for i in range(60)) / 60 <= 8

    # --- 3-component 4:4:4 color through YCbCr both ways
    imgc = [((x * 20) % 256, (y * 40) % 256, 128)
            for y in range(6) for x in range(10)]
    payc = encode_jpeg(10, 6, imgc, quality=80)
    assert hashlib.sha256(payc).hexdigest() == (
        "5e8531a42dc7ebc7ed5565d507c87d356a551f8755ef9cb7c80b0d486f9ea455"
    )
    dw, dh, dpc = decode_jpeg(payc)
    assert (sum(q[0] for q in dpc), sum(q[1] for q in dpc),
            sum(q[2] for q in dpc)) == (5402, 5995, 7686)
    errs = [abs(dpc[i][c] - imgc[i][c]) for i in range(60) for c in range(3)]
    assert max(errs) <= 24

    # --- restart markers: DRI/RSTn resync decodes identically
    import random

    rng = random.Random(3)
    big = [(rng.randrange(256), rng.randrange(256), rng.randrange(256))
           for _ in range(40 * 25)]
    plain = decode_jpeg(encode_jpeg(40, 25, big, quality=85))
    with_rst = decode_jpeg(
        encode_jpeg(40, 25, big, quality=85, restart_interval=4)
    )
    assert plain == with_rst

    # --- byte stuffing: entropy data containing 0xFF must round-trip
    # (white noise at high quality reliably produces stuffed bytes)
    stuffed = encode_jpeg(16, 16, [(255, 255, 255)] * 128
                          + [(0, 0, 0)] * 128, quality=99, grayscale=True)
    decode_jpeg(stuffed)  # must not desync

    # --- honest rejections
    with pytest.raises(ValueError):
        decode_jpeg(b"\xFF\xD8garbage")
    with pytest.raises(ValueError):
        decode_jpeg(p3[:-30])  # truncated entropy segment / missing EOI
    prog = bytearray(pay)
    sof_at = bytes(prog).index(b"\xFF\xC0")
    prog[sof_at + 1] = 0xC2  # claim progressive
    with pytest.raises(ValueError):
        decode_jpeg(bytes(prog))

    # --- truncation AT a restart boundary must fail closed (ValueError,
    # never IndexError): cut the restart-interval payload at and just
    # after every RSTn marker position in the entropy stream
    rst_pay = encode_jpeg(40, 25, big, quality=85, restart_interval=4)
    sos_at = rst_pay.index(b"\xFF\xDA")
    rst_offsets = [
        i for i in range(sos_at, len(rst_pay) - 1)
        if rst_pay[i] == 0xFF and 0xD0 <= rst_pay[i + 1] <= 0xD7
    ]
    assert rst_offsets, "restart-interval payload must contain RSTn markers"
    for off in rst_offsets:
        for cut in (off, off + 1):
            with pytest.raises(ValueError):
                decode_jpeg(rst_pay[:cut])


def test_gif_codec_lzw_roundtrip_golden_and_errors():
    """The wheel-free GIF codec (GIF89a + full LZW): golden-pin the
    container bytes and the synth closed form, round-trip an image big
    enough to force 12-bit codes AND the 4096 dictionary clear/reset,
    exercise deep dictionary chains on runs, verify extension skipping
    and GIF87a acceptance, and pin the fail-closed contract at every
    truncation length plus the honest rejections (interlace, local
    palette, sub-frame geometry, missing trailer, undefined codes)."""
    import hashlib
    import random
    import struct

    import pytest

    from db_loganalyzer_spark.operators.multimodal import (
        _gif_lzw_decode,
        _gif_lzw_encode,
        decode_gif,
        encode_gif,
        synth_gif_payload,
    )

    # --- golden pin: container layout + closed-form decode
    p3 = synth_gif_payload(3)
    assert hashlib.sha256(p3).hexdigest() == (
        "d10406f2ba6ba029468aa29ced250057cc7258f7b8ddde90cae17963d29fc4e8"
    )
    assert len(p3) == 68
    assert p3[:6] == b"GIF89a" and p3[-1] == 0x3B
    w, h, px = decode_gif(p3)
    assert (w, h) == (8, 7)
    for i, rgb in enumerate(px):
        j = (3 + 7 * i) % 8
        assert rgb == ((9 + 11 * j) % 256, (15 + 13 * j) % 256,
                       (21 + 17 * j) % 256)

    # --- large random image: code size grows to 12 bits and the
    # dictionary fills to 4096, forcing a mid-stream CLEAR reset
    rng = random.Random(42)
    pal = [(i, (i * 3) % 256, (i * 7) % 256) for i in range(256)]
    big = [pal[rng.randrange(256)] for _ in range(300 * 120)]
    assert decode_gif(encode_gif(300, 120, big, pal))[2] == big
    # long runs build deep dictionary chains (the KwKwK special case)
    runs = [pal[(i // 997) % 256] for i in range(300 * 120)]
    assert decode_gif(encode_gif(300, 120, runs, pal))[2] == runs
    assert _gif_lzw_decode(_gif_lzw_encode([1] * 6, 2), 2, 6) == [1] * 6

    # --- GIF87a magic and an interposed extension block both parse
    body = bytearray(p3)
    body[:6] = b"GIF87a"
    assert decode_gif(bytes(body))[2] == px
    gct_end = 13 + 3 * 8
    ext = bytes([0x21, 0xFE, 3]) + b"abc" + bytes([0])  # comment ext
    assert decode_gif(p3[:gct_end] + ext + p3[gct_end:])[2] == px

    # --- fail-closed: EVERY truncation length raises ValueError
    for cut in range(len(p3)):
        with pytest.raises(ValueError):
            decode_gif(p3[:cut])
    # random bit flips never escape as non-ValueError exceptions
    for _ in range(500):
        b = bytearray(p3)
        b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
        try:
            decode_gif(bytes(b))
        except ValueError:
            pass

    # --- honest rejections: interlace / local palette / sub-frame
    desc_at = gct_end  # image descriptor offset in the synth layout
    assert p3[desc_at] == 0x2C
    for flag in (0x40, 0x80):
        b = bytearray(p3)
        b[desc_at + 9] |= flag
        with pytest.raises(ValueError):
            decode_gif(bytes(b))
    b = bytearray(p3)
    struct.pack_into("<H", b, desc_at + 1, 1)  # left=1: sub-frame
    with pytest.raises(ValueError):
        decode_gif(bytes(b))
    with pytest.raises(ValueError):
        decode_gif(p3[:-1])  # missing trailer
    with pytest.raises(ValueError):
        decode_gif(b"NOTGIF" + p3[6:])
    with pytest.raises(ValueError):
        encode_gif(2, 1, [(1, 2, 3), (9, 9, 9)], [(1, 2, 3)])  # not in pal


def test_adpcm_codec_recurrence_roundtrip_golden_and_errors():
    """The wheel-free IMA-ADPCM codec (WAV format tag 0x11 — the first
    COMPRESSED audio through the real RIFF path): pin the synth
    payload bytes and verify its decode against the exact IMA
    recurrence in pure Python, bound the real encoder's loss on a sine
    (SNR > 20 dB) across multiple blocks, and pin the fail-closed
    contract: every truncation length, corrupt block headers,
    fact-count mismatches, and odd block framing all raise ValueError."""
    import hashlib
    import math
    import struct

    import pytest

    from db_loganalyzer_spark.operators.multimodal import (
        _ima_step,
        decode_wav,
        encode_adpcm_wav,
        encode_wav,
        synth_adpcm_payload,
    )

    # --- golden pin + closed-recurrence decode (the mm12 oracle's rule)
    p3 = synth_adpcm_payload(3)
    assert hashlib.sha256(p3).hexdigest() == (
        "e9e0e733a2c6b1ae5241fd05409325e3cfa5e1a704058be230d71c65cb7e8792"
    )
    assert len(p3) == 86
    rate, ch, samples = decode_wav(p3)
    n = 40 + 3 % 113
    assert (rate, ch, len(samples)) == (8000, 1, n)
    pred, idx = ((31 * 3) % 2001) - 1000, 3 % 89
    assert samples[0] == pred
    for i in range(n - 1):
        pred, idx = _ima_step(pred, idx, (7 * 3 + 3 * i) % 16)
        assert samples[i + 1] == pred

    # --- real encoder: multi-block roundtrip with bounded loss
    sig = [int(12000 * math.sin(i / 15)) for i in range(3000)]
    enc = encode_adpcm_wav(8000, sig)
    # 3000 samples -> 6 blocks of 505 -> ~4x smaller than PCM16
    assert len(enc) < len(encode_wav(8000, sig)) / 3.5
    rate, ch, dec = decode_wav(enc)
    assert (rate, ch, len(dec)) == (8000, 1, 3000)
    err = sum((a - b) ** 2 for a, b in zip(sig, dec)) / sum(
        a * a for a in sig
    )
    assert -10 * math.log10(err) > 20  # SNR dB

    # --- fail-closed: every truncation length raises ValueError
    for cut in range(len(p3)):
        with pytest.raises(ValueError):
            decode_wav(p3[:cut])
    data_at = p3.index(b"data") + 8
    b = bytearray(p3)
    b[data_at + 3] = 1  # reserved header byte must be zero
    with pytest.raises(ValueError):
        decode_wav(bytes(b))
    b = bytearray(p3)
    b[data_at + 2] = 89  # step index beyond the table
    with pytest.raises(ValueError):
        decode_wav(bytes(b))
    fact_at = p3.index(b"fact") + 8
    b = bytearray(p3)
    struct.pack_into("<I", b, fact_at, 10_000)  # fact > block capacity
    with pytest.raises(ValueError):
        decode_wav(bytes(b))
    b = bytearray(p3)
    fmt_at = p3.index(b"fmt ") + 8
    struct.pack_into("<H", b, fmt_at + 18, 9)  # samplesPerBlock mismatch
    with pytest.raises(ValueError):
        decode_wav(bytes(b))
    with pytest.raises(ValueError):
        encode_adpcm_wav(8000, [])
    with pytest.raises(ValueError):
        encode_adpcm_wav(8000, [40000])


def test_mulaw_codec_closed_form_roundtrip_and_errors():
    """The G.711 mu-law codec (WAV tag 7): the expansion is a STATELESS
    exact closed form per byte — pinned against the SQL-style integer
    restatement for all 256 codes — companding re-encodes every byte
    exactly (except the negative zero, which folds to +0 -> 0xFF, the
    G.711 quirk), a sine round-trips at >30 dB SNR at half PCM16 size,
    and the synth payload is golden-pinned with the full fail-closed
    truncation sweep."""
    import hashlib
    import math

    import pytest

    from db_loganalyzer_spark.operators.multimodal import (
        decode_wav,
        encode_mulaw_wav,
        encode_wav,
        mulaw_decode_byte,
        mulaw_encode_sample,
        synth_mulaw_payload,
    )

    # closed form == the oracle's SQL restatement, all 256 codes
    for b in range(256):
        c = 255 - b
        mag = ((c % 16) * 8 + 132) * (2 ** ((c // 16) % 8)) - 132
        assert mulaw_decode_byte(b) == (-mag if c >= 128 else mag)
    # companding identity (negative zero documented)
    for b in range(256):
        if b != 127:
            assert mulaw_encode_sample(mulaw_decode_byte(b)) == b
    assert mulaw_decode_byte(127) == 0 and mulaw_encode_sample(0) == 255

    sig = [int(12000 * math.sin(i / 15)) for i in range(3000)]
    enc = encode_mulaw_wav(8000, sig)
    assert len(enc) < len(encode_wav(8000, sig)) / 1.9  # ~2x smaller
    rate, ch, dec = decode_wav(enc)
    assert (rate, ch, len(dec)) == (8000, 1, 3000)
    err = sum((a - b) ** 2 for a, b in zip(sig, dec)) / sum(
        a * a for a in sig
    )
    assert -10 * math.log10(err) > 30  # SNR dB

    p3 = synth_mulaw_payload(3)
    assert hashlib.sha256(p3).hexdigest() == (
        "d6d65e71649a38c934838cd2847b62e71a78e215a74caea21728f6159314d8db"
    )
    assert len(p3) == 111
    rate, ch, samples = decode_wav(p3)
    n = 50 + 3 % 97
    assert (rate, ch, len(samples)) == (8000, 1, n)
    assert all(
        samples[i] == mulaw_decode_byte((13 * 3 + 7 * i) % 256)
        for i in range(n)
    )
    for cut in range(len(p3)):
        with pytest.raises(ValueError):
            decode_wav(p3[:cut])
    with pytest.raises(ValueError):
        encode_mulaw_wav(8000, [40000])


def test_mjpeg_avi_codec_closed_form_and_errors():
    """Motion-JPEG AVI — the first COMPRESSED video: every '00dc'
    frame is a complete baseline-JPEG stream decoded through the full
    codec, with the frame index folded into the fixed-point tile rule
    so all frames' pixels stay a closed form of (id, frame). Pins the
    synth bytes, the per-frame closed form, the fail-closed truncation
    sweep (which also hardened the shared AVI chunk walk), dim
    mismatch, and that the uncompressed DIB path is untouched."""
    import hashlib

    import pytest

    from db_loganalyzer_spark.operators.multimodal import (
        decode_avi,
        encode_avi,
        encode_avi_mjpeg,
        synth_mjpeg_payload,
        synth_video_payload,
    )

    p3 = synth_mjpeg_payload(3)
    assert hashlib.sha256(p3).hexdigest() == (
        "f888d5fa54a97e7382e7866b9d7c80cafdd2a18533f4eeac797da8dafbadb6e0"
    )
    w, h, frames = decode_avi(p3)
    assert (w, h, len(frames)) == (6 + 3 % 9, 5 + 3 % 7, 1 + 3 % 4)
    for f, fr in enumerate(frames):
        for i, rgb in enumerate(fr):
            x, y = i % w, i // w
            v = 128 + 2 * (((3 + 5 * (x // 8) + 11 * (y // 8) + 7 * f)
                            % 61) - 30)
            assert rgb == (v, v, v), (f, i)

    # uncompressed DIB path untouched
    dw, dh, dfr = decode_avi(encode_avi(4, 3, [[(9, 8, 7)] * 12] * 2))
    assert (dw, dh, len(dfr)) == (4, 3, 2) and dfr[0][0] == (9, 8, 7)

    # fail-closed: every truncation length raises ValueError (pins the
    # chunk-walk hardening for BOTH the MJPEG and DIB payloads)
    for payload in (p3, synth_video_payload(9)):
        for cut in range(len(payload)):
            with pytest.raises(ValueError):
                decode_avi(payload[:cut])

    # a frame whose decoded dims disagree with the container header
    img = [(128, 128, 128)] * 20
    good = encode_avi_mjpeg(5, 4, [img])
    bad = encode_avi_mjpeg(5, 4, [img])
    # graft the 5x4 frame into a container claiming 6x4
    wrong = encode_avi_mjpeg(6, 4, [[(128, 128, 128)] * 24])
    frame_at = good.index(b"00dc")
    wrong_hdr = wrong[: wrong.index(b"00dc")]
    graft = wrong_hdr + good[frame_at:]
    with pytest.raises(ValueError):
        decode_avi(graft)
    assert decode_avi(bad)[0] == 5  # sanity: unmodified decodes


@settings(max_examples=15, deadline=None)
@given(
    st.integers(min_value=1, max_value=24),   # width
    st.integers(min_value=1, max_value=20),   # height
    st.integers(min_value=0, max_value=10**6),  # tile seed ("media id")
)
def test_jpeg_exact_tile_property(w, h, seed):
    """Any grayscale image tiled from constant 8x8 blocks at EVEN
    offsets from 128 survives the quality-50 baseline JPEG round trip
    bit-for-bit (the fixed point the mm10 oracle is built on), at any
    dimensions including non-multiples of 8."""
    from db_loganalyzer_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg,
    )

    def tile(x, y):
        return 128 + 2 * (((seed + 5 * (x // 8) + 11 * (y // 8)) % 61) - 30)

    pix = [(tile(x, y),) * 3 for y in range(h) for x in range(w)]
    got = decode_jpeg(encode_jpeg(w, h, pix, quality=50, grayscale=True))
    assert got == (w, h, pix)


@settings(max_examples=10, deadline=None)
@given(
    st.integers(min_value=2, max_value=20),
    st.integers(min_value=2, max_value=16),
    st.integers(min_value=0, max_value=1000),
    st.sampled_from([85, 95]),
)
def test_jpeg_lossy_roundtrip_bounded_property(w, h, seed, quality):
    """General content through the lossy path: decode(encode(img))
    reconstructs within a quality-dependent bound — smooth ramps stay
    tight; the codec never desyncs or mis-sizes."""
    from db_loganalyzer_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg,
    )

    pix = [(((seed + 3 * x + 5 * y) % 200 + 28),) * 3
           for y in range(h) for x in range(w)]
    dw, dh, dp = decode_jpeg(
        encode_jpeg(w, h, pix, quality=quality, grayscale=True)
    )
    assert (dw, dh) == (w, h)
    worst = max(abs(dp[i][0] - pix[i][0]) for i in range(w * h))
    assert worst <= (40 if quality == 85 else 24)


def test_zorder_apply_one_file_per_bucket_and_sorted(spark, tmp_path):
    """OPT05: the executed z-order rewrite emits exactly one parquet
    file per OCCUPIED Morton bucket, loses nothing, and each file's
    rows are z-sorted (so row-group stats are tight in both grid
    dimensions)."""
    import glob as _glob

    from db_loganalyzer_spark.operators.layout import (
        zorder_apply,
        zorder_key,
    )

    n = 4096
    data = spark.range(n).select(
        F.col("id").alias("row_id"),
        (F.col("id") % 64).alias("x"),
        ((F.col("id") * 37) % 64).alias("y"),
    )
    out = str(tmp_path / "zordered")
    zorder_apply(data, "x", "y", out, bits=6, bucket_bits=4)

    files = _glob.glob(out + "/zbucket=*/*.parquet")
    back = spark.read.parquet(out)
    occupied = back.select("zbucket").distinct().count()
    assert len(files) == occupied == 16  # dense grid fills all buckets
    assert back.count() == n
    assert back.select("row_id").distinct().count() == n

    # inside each bucket the rows are z-ordered: recompute the key and
    # confirm it's non-decreasing in file order
    import pyarrow.parquet as pq

    for fp in files:
        t = pq.read_table(fp, columns=["x", "y"])
        xs, ys = t["x"].to_pylist(), t["y"].to_pylist()
        # grid bounds are 0..63 with bits=6 -> gx = x, gy = y exactly
        def zk(x, y):
            z = 0
            for k in range(6):
                z += ((x >> k) & 1) << (2 * k + 1)
                z += ((y >> k) & 1) << (2 * k)
            return z

        keys = [zk(x, y) for x, y in zip(xs, ys)]
        assert keys == sorted(keys), fp


def test_jpeg_420_subsampling_roundtrip_and_golden():
    """The 4:2:0 path — what most real-world JPEGs use: interleaved
    16x16 MCUs (four Y blocks + one Cb + one Cr), encoder-side 2x2
    chroma averaging, decoder-side nearest-neighbor upsampling.
    Golden-pinned bitstream + decoded channel sums; bounded error on
    smooth content; restart resync identical; sampling factors beyond
    2x2 are honestly rejected."""
    import hashlib
    import struct

    import pytest

    from db_loganalyzer_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg,
    )

    w, h = 34, 22  # non-multiples of the 16x16 MCU
    img = [((x * 6) % 256, (y * 9) % 256, ((x + y) * 4) % 256)
           for y in range(h) for x in range(w)]
    pay = encode_jpeg(w, h, img, quality=90, subsampling="420")
    assert hashlib.sha256(pay).hexdigest() == (
        "16ea864f512eb4b660e8118d97e0e224064c0f3a6341da860b123e9341897444"
    )
    assert len(pay) == 852
    # 4:2:0 beats 4:4:4 on size for the same content
    assert len(pay) < len(encode_jpeg(w, h, img, quality=90))
    # SOF carries Y at 2x2, chroma at 1x1
    sof = pay.index(b"\xFF\xC0")
    assert pay[sof + 11] == 0x22 and pay[sof + 14] == 0x11
    dw, dh, dp = decode_jpeg(pay)
    assert (dw, dh) == (w, h)
    assert (sum(q[0] for q in dp), sum(q[1] for q in dp),
            sum(q[2] for q in dp)) == (74385, 70551, 80927)
    errs = [abs(dp[i][c] - img[i][c]) for i in range(w * h) for c in range(3)]
    assert max(errs) <= 16 and sum(errs) / len(errs) <= 4

    imgr = [((x * 17 + y * 3) % 256, (x * 5) % 256, (y * 7) % 256)
            for y in range(h) for x in range(w)]
    plain = decode_jpeg(encode_jpeg(w, h, imgr, quality=85,
                                    subsampling="420"))
    rst = decode_jpeg(encode_jpeg(w, h, imgr, quality=85,
                                  subsampling="420", restart_interval=2))
    assert plain == rst

    # a 4x1-sampled stream is rejected, not mis-decoded
    bad = bytearray(pay)
    bad[sof + 11] = 0x41
    with pytest.raises(ValueError):
        decode_jpeg(bytes(bad))
    with pytest.raises(ValueError):
        encode_jpeg(w, h, img, subsampling="422")


def test_encoding_anomalies_cross_engine_on_damaged_text(spark):
    """T22 on text that actually contains damage: the Spark counts and
    the oracle's DuckDB restatement agree on constructed control /
    replacement / mojibake rows (the sf documents are clean, so the
    driver gate alone never exercises the damage branches)."""
    import duckdb

    from db_loganalyzer_spark.operators.textstats import (
        encoding_anomalies,
    )

    rows = [
        (1, "perfectly clean ascii text"),
        (2, "bad bytes \x01\x02 here \ufffd and \ufffd"),
        (3, "moji \u00c3\u00a9 and \u00c3\u00a8 plus"
            " \u00e2\u20ac\u0153quoted\u00e2\u20ac text"),
        (4, ""),
        (5, "tab\tand\nnewline\rare fine"),
        (6, "overlap \u00e2\u20ac\u00c3\u00a9 counted by family"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_chars, r.n_control, r.n_replacement, r.n_mojibake,
                   r.is_clean)
        for r in encoding_anomalies(df).collect()
    }
    assert got[2] == (25, 2, 2, 0, False)
    assert got[3] == (36, 0, 0, 4, False)
    assert got[5][4] is True  # tab/newline/CR are not damage

    import __spark_entry__ as mod

    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = {
        r[0]: (r[1], r[2], r[3], r[4], r[6])
        for r in con.execute(mod.T22_SQL).fetchall()
    }
    assert got == want


@settings(max_examples=40, deadline=None)
@given(
    st.integers(min_value=0, max_value=10**6),   # payload seed
    st.integers(min_value=2, max_value=4000),    # corruption position
    st.integers(min_value=1, max_value=255),     # xor mask
)
def test_jpeg_decoder_never_hangs_on_corruption(seed, pos, mask):
    """Ingest-path contract: a corrupted JPEG either still decodes to
    SOME image or raises ValueError — never an unhandled exception
    class, never a hang. Single-byte XOR corruption over real payloads
    (headers, tables, and entropy data all get hit across examples)."""
    import pytest

    from db_loganalyzer_spark.operators.multimodal import (
        decode_jpeg,
        synth_jpeg_payload,
    )

    payload = bytearray(synth_jpeg_payload(seed))
    payload[pos % len(payload)] ^= mask
    try:
        w, h, px = decode_jpeg(bytes(payload))
        assert len(px) == w * h  # if it decodes, the shape is coherent
    except ValueError:
        pass  # the honest rejection path


@settings(max_examples=25, deadline=None)
@given(
    st.sampled_from(["png", "bmp", "ppm", "wav", "avi"]),
    st.integers(min_value=0, max_value=39),     # payload seed
    st.integers(min_value=0, max_value=10**6),  # corruption position
    st.integers(min_value=1, max_value=255),    # xor mask
)
def test_all_codecs_fail_closed_on_corruption(fmt, seed, pos, mask):
    """Same ingest contract as the JPEG fuzz, for every codec: a
    corrupted payload either still decodes or raises ValueError —
    never an unhandled exception class (the PNG per-chunk CRC check
    and the RIFF/DIB length validation are what make this hold)."""
    from db_loganalyzer_spark.operators import multimodal as M

    w, h = 4 + seed % 9, 3 + seed % 7
    rgb = [((seed + i) % 256, (seed + i + 1) % 256, (seed + i + 2) % 256)
           for i in range(w * h)]
    synths = {
        "png": lambda: M.encode_png(w, h, rgb),
        "bmp": lambda: M.encode_bmp(w, h, rgb),
        "ppm": lambda: M.encode_ppm(w, h, rgb),
        "wav": lambda: M.synth_audio_payload(seed),
        "avi": lambda: M.synth_video_payload(seed),
    }
    decoders = {
        "png": M.decode_png, "bmp": M.decode_bmp, "ppm": M.decode_ppm,
        "wav": M.decode_wav, "avi": M.decode_avi,
    }
    payload = bytearray(synths[fmt]())
    payload[pos % len(payload)] ^= mask
    try:
        decoders[fmt](bytes(payload))
    except ValueError:
        pass
