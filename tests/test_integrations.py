"""Real-backend integration tests for the pluggable slots.

Every model-shaped dependency in this engine is a slot with a
deterministic default (tiktoken -> bpe_ish regex, SentenceTransformer ->
hashing-trick encoder, LLM/RAG -> injectable callables). These tests run
the REAL backend through the same Spark plumbing whenever the library is
importable, and skip cleanly when it is not — so a deployment with the
real deps gets end-to-end coverage for free, and this sandbox still
proves the contract (fail-fast ImportError, batch shapes, schemas).

Without the tokenizer/model wheels the two ``realbackend`` tests skip;
the injected-encoder and schema tests below still run the same Arrow
paths everywhere.

reference: cli_wrapper/main.py:417-424 (tiktoken token accounting),
embed_code_coverage.py (SentenceTransformer batch encode).
"""

import importlib.util

import pytest
from pyspark.sql import functions as F

HAS_TIKTOKEN = importlib.util.find_spec("tiktoken") is not None
HAS_ST = importlib.util.find_spec("sentence_transformers") is not None


SAMPLES = [
    "The quick brown fox jumps over the lazy dog.",
    "fdbserver role=storage  VersionLag=1500000",
    "",
    "unicode: éèê 你好 tokens123",
]


# ---------------------------------------------------------------------------
# tiktoken slot (A15)
# ---------------------------------------------------------------------------


@pytest.mark.realbackend
@pytest.mark.skipif(not HAS_TIKTOKEN, reason="tiktoken not installed")
def test_token_count_pudf_matches_tiktoken(spark):
    """The default backend must agree with driver-side tiktoken exactly —
    proving the Arrow batch path does not mangle text."""
    import tiktoken

    from db_loganalyzer_spark.operators.textstats import token_count_pudf

    enc = tiktoken.get_encoding("cl100k_base")
    expect = {t: len(enc.encode(t)) for t in SAMPLES}

    df = spark.createDataFrame([(t,) for t in SAMPLES], "text string")
    got = {
        r["text"]: r["n"]
        for r in df.select(
            "text", token_count_pudf()(F.col("text")).alias("n")
        ).collect()
    }
    assert got == expect


@pytest.mark.skipif(HAS_TIKTOKEN, reason="tiktoken IS installed")
def test_token_count_pudf_fails_fast_without_tiktoken():
    """Import gate fires on the DRIVER with an actionable message, not
    inside an executor task."""
    from db_loganalyzer_spark.operators.textstats import token_count_pudf

    with pytest.raises(ImportError, match="tiktoken"):
        token_count_pudf()


def test_token_count_pudf_injected_encoder_runs_batched(spark):
    """The slot's contract, runnable everywhere: encoder built per Arrow
    batch, .encode called once per row, null-safe."""
    calls = {"factories": 0}

    class Enc:
        def encode(self, t):
            return t.split()

    def factory():
        calls["factories"] += 1
        return Enc()

    from db_loganalyzer_spark.operators.textstats import token_count_pudf

    df = spark.createDataFrame(
        [("a b c",), (None,), ("one",)], "text string"
    ).repartition(1)
    out = df.select(token_count_pudf(encoder_factory=factory)("text").alias("n"))
    assert sorted(r["n"] for r in out.collect()) == [0, 1, 3]


# ---------------------------------------------------------------------------
# SentenceTransformer slot (M3)
# ---------------------------------------------------------------------------


@pytest.mark.realbackend
@pytest.mark.skipif(not HAS_ST, reason="sentence_transformers not installed")
def test_embed_texts_with_real_sentence_transformer(spark):
    """A real model drops into embed_texts unchanged: same mapInPandas
    plumbing, normalized float vectors, one row per input doc."""
    from sentence_transformers import SentenceTransformer

    from db_loganalyzer_spark.operators.clustering import embed_texts

    model = SentenceTransformer("all-MiniLM-L6-v2")

    def encoder(texts):
        return [list(map(float, v)) for v in model.encode(texts)]

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(SAMPLES)], "doc_id long, text string"
    )
    out = embed_texts(df, encoder=encoder).collect()
    assert len(out) == len(SAMPLES)
    dims = {len(r["embedding"]) for r in out}
    assert dims == {384}  # MiniLM-L6 output width


# ---------------------------------------------------------------------------
# Interface-drift guards, runnable WITHOUT the wheels: the fake-default
# path and an injected real-shaped backend must produce IDENTICAL output
# schemas, so swapping in the real library cannot change the contract.
# ---------------------------------------------------------------------------


def test_embed_texts_schema_identical_across_backends(spark):
    from db_loganalyzer_spark.operators.clustering import embed_texts

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(SAMPLES)], "doc_id long, text string"
    )
    fake_default = embed_texts(df)  # hashing-trick fake encoder

    def real_shaped(texts):  # what a SentenceTransformer wrapper returns
        return [[float(len(t)), 0.5] for t in texts]

    injected = embed_texts(df, encoder=real_shaped)
    assert injected.schema == fake_default.schema
    assert [len(r["embedding"]) for r in injected.collect()] == [2] * len(SAMPLES)


def test_decode_media_schema_identical_across_backends(spark):
    from db_loganalyzer_spark.operators.multimodal import (
        decode_media,
        fake_decode_backend,
    )

    df = spark.createDataFrame(
        [(1, bytearray(b"\x89PNG123"), "image/png")],
        "media_id long, payload binary, media_type string",
    )
    via_fake = decode_media(df, decode_backend=fake_decode_backend)

    def real_shaped(payload, media_type):  # PIL/av adapter contract
        return {"width": 640, "height": 480, "n_frames": 1, "format": "png"}

    via_injected = decode_media(df, decode_backend=real_shaped)
    assert via_injected.schema == via_fake.schema
    row = via_injected.collect()[0]
    assert (row["width"], row["height"], row["format"]) == (640, 480, "png")


def test_token_count_types_identical_across_backends(spark):
    from db_loganalyzer_spark.operators.textstats import (
        bpe_ish_token_count,
        token_count_pudf,
    )

    class Enc:
        def encode(self, t):
            return t.split()

    df = spark.createDataFrame([(t,) for t in SAMPLES], "text string")
    regex_path = df.select(bpe_ish_token_count("text").alias("n"))
    pudf_path = df.select(token_count_pudf(encoder_factory=Enc)("text").alias("n"))
    assert regex_path.schema["n"].dataType == pudf_path.schema["n"].dataType
