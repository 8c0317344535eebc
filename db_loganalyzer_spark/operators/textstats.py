"""Text analysis operators for training-data pipelines: language ID,
quality scoring, token counting, document fingerprinting.

All pure column expressions (regex + array HOFs) — whole-stage codegen,
no Python, so a quality-filter pass over 100 TB is scan-bound."""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import normalize_text

# minimal per-language stopword profiles for the n-gram/stopword heuristic
STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "ich"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "que", "pour", "dans"],
    "es": ["el", "la", "los", "y", "es", "un", "una", "que", "por", "como"],
}


def tokens(c: Column | str) -> Column:
    col = F.col(c) if isinstance(c, str) else c
    t = F.split(normalize_text(col), " ")
    return F.filter(t, lambda x: x != "")


def token_count(c: Column | str) -> Column:
    """Whitespace token count."""
    return F.size(tokens(c))


def bpe_ish_token_count(c: Column | str) -> Column:
    """BPE-ish token estimate: count word pieces + digits + punctuation
    via one regex pass (a deterministic stand-in for tiktoken — the
    reference counts tokens with tiktoken at cli_wrapper/main.py:417-424;
    a real tokenizer drops in as a pandas UDF)."""
    col = F.col(c) if isinstance(c, str) else c
    pieces = F.regexp_extract_all(
        col, F.lit(r"[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\s]"), 0
    )
    return F.size(pieces)


def token_count_pudf(encoder_factory=None, encoding: str = "cl100k_base"):
    """Real-tokenizer token counts as an Arrow-batched pandas UDF — the
    A15 tiktoken slot (reference cli_wrapper/main.py:417-424).

    ``encoder_factory`` is a zero-arg callable returning an object with
    ``.encode(str) -> list``; it is constructed per Arrow batch on the
    executor (tiktoken caches encodings process-wide, so this is a dict
    hit after the first batch). Default backend is tiktoken, import-gated
    on the DRIVER so a missing library fails fast with a clear error
    instead of inside a task; tests inject a deterministic fake, same
    pattern as multimodal.decode_media's pluggable decode backend.
    """
    from pyspark.sql.functions import pandas_udf

    if encoder_factory is None:
        try:
            import tiktoken
        except ImportError as e:  # pragma: no cover - env-dependent
            raise ImportError(
                "token_count_pudf needs tiktoken (not installed here); "
                "pass encoder_factory= or use bpe_ish_token_count"
            ) from e

        def encoder_factory():
            return tiktoken.get_encoding(encoding)

    @pandas_udf("int")
    def _count(texts: pd.Series) -> pd.Series:
        enc = encoder_factory()
        return texts.fillna("").map(lambda t: len(enc.encode(t)))

    return _count


def stopword_ratio(c: Column | str, lang: str = "en") -> Column:
    toks = tokens(c)
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return F.when(F.size(toks) > 0, hits / F.size(toks))


def punct_ratio(c: Column | str) -> Column:
    col = F.col(c) if isinstance(c, str) else c
    n_punct = F.length(F.regexp_replace(col, r"[^\p{Punct}]", ""))
    return F.when(F.length(col) > 0, n_punct / F.length(col))


def mean_word_len(c: Column | str) -> Column:
    toks = tokens(c)
    total = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    return F.when(F.size(toks) > 0, total / F.size(toks))


def quality_score(c: Column | str, lang: str = "en") -> Column:
    """Composite [0,1] quality heuristic: enough tokens, sane mean word
    length, low punctuation, some stopwords (fluency proxy). The shape of
    a Gopher/C4-style quality rule, fully declarative."""
    n = token_count(c)
    mwl = mean_word_len(c)
    comp = [
        F.when((n >= 10) & (n <= 100000), 0.25).otherwise(0.0),
        F.when((mwl >= 2.5) & (mwl <= 12), 0.25).otherwise(0.0),
        F.when(F.coalesce(punct_ratio(c), F.lit(1.0)) <= 0.2, 0.25).otherwise(0.0),
        F.when(F.coalesce(stopword_ratio(c, lang), F.lit(0.0)) >= 0.02, 0.25).otherwise(0.0),
    ]
    out = None
    for x in comp:
        out = x if out is None else out + x
    return F.round(out, 2)


def lang_scores(c: Column | str) -> dict[str, Column]:
    return {lang: stopword_ratio(c, lang) for lang in STOPWORDS}


def detect_language(c: Column | str) -> Column:
    """Stopword-profile language ID: argmax hit ratio across language
    profiles; 'und' (undetermined) when nothing hits."""
    scores = lang_scores(c)
    pairs = F.array(
        *[
            F.struct(
                F.coalesce(s, F.lit(0.0)).alias("score"), F.lit(lang).alias("lang")
            )
            for lang, s in scores.items()
        ]
    )
    best = F.array_max(pairs)
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))


def _token_hash(t: Column, mod: int) -> Column:
    """Polynomial hash of one token over its code points:
    h = fold(7, h*131 + codepoint) mod p. Pure integer arithmetic —
    reproducible on any SQL engine (no engine-specific hash function)."""
    return F.aggregate(
        F.split(t, ""),
        F.lit(7).cast("long"),
        lambda acc, ch: (acc * 131 + F.ascii(ch)) % mod,
    )


def fingerprint(c: Column | str, mod: int = 1_000_000_007) -> Column:
    """Order-sensitive rolling document fingerprint: polynomial hash over
    tokens, h = (h*31 + tokenhash) mod p — stable under reformatting
    (normalization first), cheap to compare across corpora. Exact integer
    arithmetic (no float), reproducible on any SQL engine."""
    toks = tokens(c)
    return F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: (acc * 31 + _token_hash(t, mod)) % mod,
    )


# ---------------------------------------------------------------------------
# PII redaction (training-data hygiene: scrub before training)
# ---------------------------------------------------------------------------

# Patterns chosen for Java-regex/RE2 compatibility so the oracle can
# restate them verbatim. Order matters: emails first (their dotted hosts
# would otherwise partially match the ipv4 pattern's digit runs).
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
]


def pii_count(c: Column | str, kind: str) -> Column:
    """Match count for one PII pattern (pre-redaction)."""
    col = F.col(c) if isinstance(c, str) else c
    pat = {k: p for k, p, _ in PII_PATTERNS}[kind]
    return F.size(F.regexp_extract_all(col, F.lit(pat), 0))


def redact_pii(c: Column | str) -> Column:
    """Replace every PII match with its typed placeholder. Chained
    regexp_replace — single projection, whole-stage codegen, no UDF."""
    col = F.col(c) if isinstance(c, str) else c
    for _, pat, repl in PII_PATTERNS:
        col = F.regexp_replace(col, pat, repl)
    return col


def pii_scrub(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document scrub sheet: redacted text + per-kind match counts.
    A 100 TB scrub pass is a pure projection — scan-bound, no shuffle."""
    counts = [
        pii_count(text_col, kind).alias(f"n_{kind}") for kind, _, _ in PII_PATTERNS
    ]
    return df.select(
        id_col, redact_pii(text_col).alias("redacted"), *counts
    )


# ---------------------------------------------------------------------------
# Repetition stats (Gopher-style repetition quality signals)
# ---------------------------------------------------------------------------


def repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_cols: tuple = (),
) -> DataFrame:
    """Per-document repetition signals (Rae et al. 2021 'Gopher' §A1.1
    repetition filters, restated declaratively):

    - ``distinct_ratio``   : |distinct words| / |words|
    - ``max_word_frac``    : occurrences of the most frequent word / |words|
    - ``max_bigram_frac``  : occurrences of the most frequent bigram / |bigrams|

    All array HOFs over the tokenized text — zero shuffle, codegen-
    friendly, per-doc O(n log n): the max-frequency count is the longest
    run in the SORTED token array, found with one fold, instead of one
    filter scan per distinct token (O(n^2) — measured ~2x slower on the
    sf0.1 corpus). Docs failing thresholds (e.g. max_word_frac > 0.2)
    are dropped upstream of training."""

    def max_run(arr):
        # longest run of equal adjacent elements in a sorted array:
        # fold state (prev, run, best); empty array -> 0
        state = F.aggregate(
            F.array_sort(arr),
            F.struct(
                F.lit(None).cast("string").alias("prev"),
                F.lit(0).alias("run"),
                F.lit(0).alias("best"),
            ),
            lambda acc, x: F.struct(
                x.alias("prev"),
                F.when(acc["prev"].isNotNull() & (x == acc["prev"]), acc["run"] + 1)
                .otherwise(F.lit(1))
                .alias("run"),
                F.greatest(
                    acc["best"],
                    F.when(
                        acc["prev"].isNotNull() & (x == acc["prev"]), acc["run"] + 1
                    ).otherwise(F.lit(1)),
                ).alias("best"),
            ),
        )
        return state["best"]

    toks = tokens(text_col)
    n = F.size(toks)
    uniq = F.array_distinct(toks)
    max_word = max_run(toks)
    bigrams = F.zip_with(
        F.slice(toks, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    nb = F.size(bigrams)
    max_bigram = max_run(bigrams)
    return df.select(
        id_col,
        *keep_cols,
        n.alias("n_words"),
        F.when(n > 0, F.size(uniq) / n).alias("distinct_ratio"),
        F.when(n > 0, max_word / n).alias("max_word_frac"),
        F.when(nb > 0, max_bigram / nb).alias("max_bigram_frac"),
    )


# ---------------------------------------------------------------------------
# Quality gate (composite keep/drop decision)
# ---------------------------------------------------------------------------

GATE_MIN_TOKENS = 5
GATE_MAX_TOKENS = 100_000
GATE_MAX_WORD_FRAC = 0.30
GATE_MIN_DISTINCT_RATIO = 0.30


def quality_gate(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_cols: tuple = (),
    include_stats: bool = False,
) -> DataFrame:
    """The pipeline's keep/drop decision per document: length bounds plus
    Gopher-style repetition rules, with the failing rules materialized as
    a sorted comma-joined string (scalar, engine-portable). One pass,
    no shuffle; at 100 TB this is the filter stage ahead of every
    training-data writer.

    ``keep_cols`` are passed through untouched (group keys for downstream
    rollups); ``include_stats`` additionally carries the repetition-stat
    columns so callers can aggregate them without a second text pass."""
    stats = repetition_stats(df, id_col, text_col, keep_cols=keep_cols)
    rules = [
        ("too_few_tokens", F.col("n_words") < GATE_MIN_TOKENS),
        ("too_many_tokens", F.col("n_words") > GATE_MAX_TOKENS),
        ("repetitive_word",
         F.coalesce(F.col("max_word_frac"), F.lit(1.0)) > GATE_MAX_WORD_FRAC),
        ("low_diversity",
         F.coalesce(F.col("distinct_ratio"), F.lit(0.0)) < GATE_MIN_DISTINCT_RATIO),
    ]
    reasons = F.array_compact(
        F.array(*[F.when(cond, F.lit(name)) for name, cond in rules])
    )
    extra = (
        ["n_words", "distinct_ratio", "max_word_frac", "max_bigram_frac"]
        if include_stats
        else []
    )
    return stats.select(
        id_col,
        *keep_cols,
        *extra,
        (F.size(reasons) == 0).alias("keep"),
        F.array_join(F.array_sort(reasons), ",").alias("reasons"),
    )


# ---------------------------------------------------------------------------
# Corpus report (per-source/lang pipeline health rollup)
# ---------------------------------------------------------------------------


def corpus_report(
    df: DataFrame,
    by: tuple = ("source", "lang"),
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-slice corpus health sheet — the rollup every training-data
    pipeline publishes after a filter pass: document counts, quality-gate
    keep rate, and token/char volume per (source, lang) slice.

    One text pass (the quality gate's projection) feeding one partial
    aggregation: group keys are low-cardinality, so the shuffle moves only
    |slices| x |partitions| pre-aggregated rows regardless of corpus size.
    Ratios are derived from the integer aggregates (not averaged per-row
    floats), so the result is bitwise-deterministic under any partition
    or reduction order — at 100 TB the report is reproducible run-to-run.
    """
    per_doc = quality_gate(
        df.withColumn("_n_chars", F.length(text_col)),
        id_col,
        text_col,
        keep_cols=(*by, "_n_chars"),
        include_stats=True,
    )
    n_docs = F.count("*")
    n_kept = F.sum(F.col("keep").cast("bigint"))
    total_words = F.sum("n_words")
    return per_doc.groupBy(*by).agg(
        n_docs.alias("n_docs"),
        n_kept.alias("n_kept"),
        (n_kept / n_docs).alias("keep_rate"),
        total_words.alias("total_words"),
        (total_words / n_docs).alias("avg_words"),
        F.sum("_n_chars").alias("total_chars"),
    )


def vocab_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
) -> DataFrame:
    """Corpus vocabulary head: top-k tokens by total frequency with
    document frequency — the standard pre-training corpus inspection pass
    (vocabulary coverage, boilerplate detection). One explode + one
    shuffled groupBy keyed on the token, then a bounded top-k
    (TakeOrderedAndProject, no global sort); deterministic tiebreak
    (count desc, token asc) so the LIMIT boundary is engine-stable."""
    tok = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("token")
    )
    return (
        tok.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("id").alias("n_docs"),
        )
        .orderBy(F.desc("n"), "token")
        .limit(k)
    )


def length_histogram(
    df: DataFrame,
    text_col: str = "text",
    by: list[str] | None = None,
) -> DataFrame:
    """Power-of-2 token-length histogram per group — the sequence-length
    distribution pass a training pipeline runs before choosing packing /
    truncation budgets. Bucket ``b`` holds documents whose token count has
    ``b`` binary digits (``2^(b-1) <= n < 2^b``); empty documents land in
    bucket 0. The bucket is computed as ``length(bin(n))`` — pure integer
    string arithmetic, exact in every engine, unlike ``floor(log2(n))``
    whose float rounding flips at exact powers of two.

    Pure column expressions + one partial-agg shuffle on (group, bucket);
    no window, no UDF. Scale: output is O(groups x 64) rows regardless of
    corpus size.
    """
    by = list(by or ["source"])
    n = token_count(F.col(text_col)).cast("bigint")
    bucket = F.when(n <= 0, F.lit(1).cast("bigint") - 1).otherwise(
        F.length(F.bin(n)).cast("bigint")
    )
    return (
        df.select(*by, n.alias("__n"), bucket.alias("bucket"))
        .groupBy(*by, "bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("__n").cast("bigint").alias("total_tokens"),
            F.min("__n").cast("bigint").alias("min_tokens"),
            F.max("__n").cast("bigint").alias("max_tokens"),
        )
    )


def zipf_fit(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_n: int = 10_000,
) -> DataFrame:
    """T16 — Zipf power-law fit of the vocabulary: least-squares slope of
    log(freq) vs log(rank) over the top-``top_n`` terms. Natural text
    sits near slope -1; a slope far off (or a tiny r^2) flags degenerate
    corpora — template floods, synthetic token soup, OCR noise — before
    any model sees them.

    Plan: one explode + one token-key partial-agg shuffle (the same
    lineage as vocab_stats), a bounded top-N rank (single window over
    <= top_n rows after TakeOrdered), then ONE 1-row aggregate of the
    regression sums. Determinism: log(freq) and log(rank) are rounded
    to 6 decimals and scaled to exact BIGINT micro-units BEFORE any
    sum; the normal-equation composites run in DECIMAL(38,0) (they
    exceed signed-64 — the d13/d16 overflow class); slope/intercept/r^2
    are divisions of exact integers cast to double, hash-exact.
    """
    counts = (
        df.select(F.explode(tokens(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "token")
        .limit(top_n)
    )
    w = Window.orderBy(F.desc("n"), "token")
    ranked = counts.withColumn("rank", F.row_number().over(w))
    x = F.floor(F.round(F.log(F.col("rank").cast("double")), 6) * 1_000_000 + F.lit(0.5)).cast("long")
    y = F.floor(F.round(F.log(F.col("n").cast("double")), 6) * 1_000_000 + F.lit(0.5)).cast("long")
    pts = ranked.select(
        x.alias("x"),
        y.alias("y"),
    )
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    xd = F.col("x").cast("decimal(38,0)")
    yd = F.col("y").cast("decimal(38,0)")
    s = pts.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(xd * yd).alias("sxy"),
        F.sum(xd * xd).alias("sxx"),
        F.sum(yd * yd).alias("syy"),
    )
    num = (d("k") * F.col("sxy") - d("sx") * F.col("sy")).cast("double")
    denx = (d("k") * F.col("sxx") - d("sx") * F.col("sx")).cast("double")
    deny = (d("k") * F.col("syy") - d("sy") * F.col("sy")).cast("double")
    slope = num / denx
    mean_x = F.col("sx").cast("double") / 1_000_000.0 / F.col("k")
    mean_y = F.col("sy").cast("double") / 1_000_000.0 / F.col("k")
    return s.select(
        F.col("k").alias("n_terms"),
        slope.alias("slope"),
        (mean_y - slope * mean_x).alias("intercept"),
        F.when(
            (denx > 0) & (deny > 0), (num / F.sqrt(denx)) / F.sqrt(deny)
        ).alias("r"),
    )


# ---------------------------------------------------------------------------
# Learned-classifier quality gate (inference shape)
# ---------------------------------------------------------------------------


def hashed_weight_table(
    df: DataFrame,
    text_col: str = "text",
    mod: int = 1_000_000_007,
    scale: int = 1000,
) -> DataFrame:
    """A linear text classifier's weight vector as a DataFrame — one
    (term, integer milli-weight) row per vocabulary term. The weights
    here are a deterministic hash projection into [-scale, scale]
    (training is out of scope; a fasttext/CCNet-style learned vector
    drops in as the same two-column table), which keeps the INFERENCE
    path — the part that runs at 100 TB — fully oracle-checkable."""
    vocab = df.select(F.explode(tokens(text_col)).alias("term")).distinct()
    wt = (_token_hash(F.col("term"), mod) % (2 * scale + 1)) - scale
    return vocab.select("term", wt.cast("long").alias("weight_milli"))


def classifier_gate(
    df: DataFrame,
    weights: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold_milli: int = 0,
) -> DataFrame:
    """T18 — linear-classifier quality filtering, the CCNet/GPT-3 corpus
    move (a learned LM-vs-crawl classifier scores every document; only
    high scorers train): explode tokens, broadcast-join the weight
    table, one exact integer sum per document, keep where the mean
    weight exceeds ``threshold_milli``/1000.

    Scale shape: the weight table is vocabulary-sized (100k–1M rows ≪
    the corpus), so the join is an explicit ``broadcast`` — no shuffle
    of the exploded fact side; the only exchange is the per-document
    groupBy, which map-side combines. Scores are integer milli-weight
    sums (order-independent — no float accumulation nondeterminism);
    the single float op is the final division. OOV terms weigh 0.

    ``quality_gate`` is the rule-based sibling; this is the learned-
    model slot of the same pipeline stage.
    """
    tok = df.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("term")
    )
    agg = (
        tok.join(F.broadcast(weights), "term", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_toks"),
            F.sum(F.coalesce("weight_milli", F.lit(0).cast("long")))
            .cast("long")
            .alias("score_sum_milli"),
        )
    )
    out = df.select(id_col).join(agg, id_col, "left")
    n = F.coalesce(F.col("n_toks"), F.lit(0).cast("long"))
    s = F.coalesce(F.col("score_sum_milli"), F.lit(0).cast("long"))
    # UNROUNDED mean on purpose: both operands are exact integers, so
    # the IEEE division is correctly rounded and bit-identical on any
    # engine — a ROUND(x, 6) here would reintroduce engine-specific
    # tie-breaking exactly at the .0000005 boundaries integer
    # milli-sums love to land on (4 of 5000 docs at sf0.1 did).
    return out.select(
        F.col(id_col),
        n.alias("n_toks"),
        s.alias("score_sum_milli"),
        F.when(n > 0, s / (n * 1000))
        .otherwise(F.lit(0.0))
        .alias("mean_weight"),
        (s > F.lit(threshold_milli) * n).alias("keep"),
    )


def char_entropy(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """T19 — character-level Shannon entropy per document (unigram and
    bigram), the cheap information-density quality signal: gibberish
    and boilerplate sit at the entropy extremes, natural text in a
    narrow band (the compression-ratio filter of RefinedWeb/CCNet-type
    pipelines, in closed form instead of a codec).

    Determinism follows t16's discipline: each count's log2 is rounded
    to 6 decimals and scaled to an exact integer micro-unit BEFORE the
    per-document sum, so float accumulation order never matters; the
    only remaining float ops are one correctly-rounded division and one
    subtraction of deterministic doubles. H = log2(n) - sum(c*log2(c))/n
    over the per-(doc, gram) counts — two keyed shuffles (gram counts,
    doc reduce), scan-bound at any corpus size.
    """
    s = normalize_text(F.col(text_col))
    chars = F.split(s, "")

    def _h(gram_df, n_col_alias, h_alias):
        cnt = gram_df.groupBy(id_col, "g").agg(
            F.count(F.lit(1)).cast("long").alias("cnt")
        )
        log2micro = F.floor(
            F.round(F.log2("cnt"), 6) * 1000000 + 0.5
        ).cast("long")
        per = cnt.groupBy(id_col).agg(
            F.sum("cnt").cast("long").alias("n"),
            F.sum(F.col("cnt") * log2micro).cast("long").alias("s"),
        )
        h = F.round(F.log2("n"), 6) - F.col("s") / (F.col("n") * 1000000.0)
        return per.select(
            F.col(id_col),
            F.col("n").alias(n_col_alias),
            h.alias(h_alias),
        )

    # the char array is materialized in its OWN projection and the
    # bigram transform guarded with a second reference — an inline
    # `chars` expression would be re-split by every element_at (two per
    # position -> O(len^2) per document; measured 704 s at sf10r vs
    # seconds for this shape — the m22 generator-pushdown lesson again)
    #
    # The two-explode form is KEPT DELIBERATELY (r11): fusing the uni/
    # bigram scans was hypothesized to halve the dominant explode cost,
    # and two fused shapes were measured against it at sf100r —
    # struct-tagged single explode 223.9 s, 2-char-window explode with
    # derived unigram counts 163.4 s, this form 129.5 s (sf10r: 29.0 /
    # 21.5 / 18.3). The explode is NOT the bottleneck; per-element
    # struct/concat materialization costs more than the second scan
    # saves, and map-side partial aggregation already collapses the
    # (id, g) shuffle to distinct grams per doc. bench_data/
    # registry_sf100r_r11.jsonl records the losing variants.
    ch_df = df.select(F.col(id_col), chars.alias("__ch"))
    uni = ch_df.select(F.col(id_col), F.explode("__ch").alias("g"))
    bi_arr = F.transform(
        F.sequence(F.lit(1), F.size("__ch") - 1),
        lambda i: F.concat(
            F.element_at(F.col("__ch"), i),
            F.element_at(F.col("__ch"), i + 1),
        ),
    )
    guarded = F.when(F.size("__ch") >= 2, bi_arr).otherwise(
        F.array().cast("array<string>")
    )
    bi = ch_df.select(F.col(id_col), F.explode(guarded).alias("g"))
    h1 = _h(uni, "n_chars", "h_char")
    h2 = _h(bi, "n_bigrams", "h_bigram")
    return h1.join(h2, id_col, "left").select(
        id_col, "n_chars", "h_char", "n_bigrams", "h_bigram"
    )


def heaps_fit(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bucket_width: int = 100,
) -> DataFrame:
    """T21 — Heaps'-law fit of vocabulary growth: least-squares slope of
    log(distinct terms) vs log(total tokens) over id-ordered corpus
    prefixes. Natural text grows as V ~ K * n^beta with beta in
    ~0.4-0.6; beta near 0 means the vocabulary has saturated (template
    floods, heavy duplication) and beta near 1 means near-random token
    soup — the corpus-scaling companion to t16's Zipf slope, and the
    curve that predicts how much NEW vocabulary the next 10x of corpus
    will bring.

    Scale shape: prefixes are id-BUCKETS (``bucket_width`` docs each),
    never per-document — per-bucket token sums and per-token first
    buckets are two partial-agg shuffles, and the only ordered window
    runs over the bounded bucket frame (one row per bucket), the a31
    pattern. Float discipline is t16's verbatim: logs rounded to
    micro-units before exact integer sums, normal equations in
    DECIMAL(38,0), one final division per statistic.
    """
    bucket = F.floor(F.col(id_col) / bucket_width).cast("long")
    per_bucket = (
        df.select(bucket.alias("bucket"), token_count(text_col).alias("nt"))
        .groupBy("bucket")
        .agg(F.sum("nt").cast("long").alias("toks"))
    )
    firsts = (
        df.select(F.col(id_col), F.explode(tokens(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.min(id_col).alias("first_id"))
        .select(
            F.floor(F.col("first_id") / bucket_width)
            .cast("long")
            .alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("new_vocab"))
    )
    joined = per_bucket.join(firsts, "bucket", "left").select(
        "bucket",
        "toks",
        F.coalesce("new_vocab", F.lit(0).cast("long")).alias("new_vocab"),
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum = joined.select(
        F.sum("toks").over(w).cast("long").alias("cum_toks"),
        F.sum("new_vocab").over(w).cast("long").alias("cum_vocab"),
    )
    x = F.floor(
        F.round(F.log(F.col("cum_toks").cast("double")), 6) * 1_000_000
        + F.lit(0.5)
    ).cast("long")
    y = F.floor(
        F.round(F.log(F.col("cum_vocab").cast("double")), 6) * 1_000_000
        + F.lit(0.5)
    ).cast("long")
    pts = cum.filter(
        (F.col("cum_toks") > 0) & (F.col("cum_vocab") > 0)
    ).select(x.alias("x"), y.alias("y"))
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    xd = F.col("x").cast("decimal(38,0)")
    yd = F.col("y").cast("decimal(38,0)")
    s = pts.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(xd * yd).alias("sxy"),
        F.sum(xd * xd).alias("sxx"),
        F.sum(yd * yd).alias("syy"),
    )
    num = (d("k") * F.col("sxy") - d("sx") * F.col("sy")).cast("double")
    denx = (d("k") * F.col("sxx") - d("sx") * F.col("sx")).cast("double")
    deny = (d("k") * F.col("syy") - d("sy") * F.col("sy")).cast("double")
    beta = F.when(denx > 0, num / denx)
    mean_x = F.col("sx").cast("double") / 1_000_000.0 / F.col("k")
    mean_y = F.col("sy").cast("double") / 1_000_000.0 / F.col("k")
    return s.select(
        F.col("k").alias("n_points"),
        beta.alias("beta"),
        (mean_y - beta * mean_x).alias("log_k"),
        F.when(
            (denx > 0) & (deny > 0), (num / F.sqrt(denx)) / F.sqrt(deny)
        ).alias("r"),
    )


def encoding_anomalies(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bad_ratio: float = 0.01,
) -> DataFrame:
    """T22 — encoding-damage scoring: the text-quality axis the
    length/stopword gates are blind to. Real crawled corpora carry
    three machine-detectable kinds of byte-level damage, each counted
    here as exact per-document integers (pure regexp column math,
    whole-stage codegen, one scan):

    - ``n_replacement``: U+FFFD replacement characters — a lossy
      decode already happened upstream;
    - ``n_control``: C0 control characters other than tab/newline/CR —
      binary spill or wrong charset;
    - ``n_mojibake``: the classic UTF-8-read-as-Latin-1 digraphs
      (``\u00c3`` followed by a Latin-1-supplement continuation, and
      the ``\u00e2\u20ac``-prefixed punctuation family) —
      double-encoding damage that is VALID Unicode, so
      replacement-char counting never sees it.

    ``bad_ratio`` = (control + replacement + mojibake) / chars as one
    double division of exact longs; ``is_clean`` applies
    ``max_bad_ratio``. Counting is length-difference over targeted
    regexp_replace — no UDF, no explode; at 100 TB this is scan-bound
    like every other t-family gate and composes into quality_gate as
    another AND term."""
    col = F.col(text_col)
    n_chars = F.length(col).cast("long")

    def n_matches(pattern: str) -> Column:
        return (
            F.length(col) - F.length(F.regexp_replace(col, pattern, ""))
        ).cast("long")

    n_replacement = n_matches("\uFFFD")
    n_control = n_matches("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]")
    # the two mojibake families have different match lengths (2 and 3
    # chars), so each converts its own length difference to a count
    n_moji_a = n_matches("\u00c3[\u0080-\u00bf]") / F.lit(2)
    n_moji_b = n_matches("\u00e2\u20ac.") / F.lit(3)
    n_mojibake = (n_moji_a + n_moji_b).cast("long")
    out = df.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_control.alias("n_control"),
        n_replacement.alias("n_replacement"),
        n_mojibake.alias("n_mojibake"),
    ).withColumn(
        "bad_ratio",
        F.when(
            F.col("n_chars") > 0,
            (
                F.col("n_control")
                + F.col("n_replacement")
                + F.col("n_mojibake")
            ).cast("double")
            / F.col("n_chars"),
        ).otherwise(F.lit(0.0)),
    )
    return out.withColumn(
        "is_clean", F.col("bad_ratio") <= F.lit(float(max_bad_ratio))
    )
