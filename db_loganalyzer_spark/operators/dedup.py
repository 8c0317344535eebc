"""Deduplication operators for large-scale training-data pipelines.

Generalizes the reference's only dedup (drop_duplicates on normalized
comments, log_analysis/cluster_code_coverage.py:33-47) to the shapes a
100 TB corpus needs:

- exact dedup       : normalize -> hash -> groupBy (one shuffle on a
                      64/256-bit key, never on the text itself)
- n-gram Jaccard    : exact set similarity via shingle inverted index
                      (the small-scale oracle for the approximate paths)
- MinHash + LSH     : signature -> bands -> bucket join; candidates only,
                      verified against exact Jaccard. The scale path —
                      cost is O(docs x hashes) + bucket-local pairs.
- SimHash           : 64-bit fingerprint; near-dups = small Hamming
                      distance (bucketed by rotated prefixes).

One hash family, all JVM-side column expressions (no Python in any hot
path): polynomial codepoint hashes mod a 31-bit prime — exact integer
arithmetic any SQL engine reproduces, so MinHash/LSH and SimHash outputs
(candidate generation included) are verifiable against an ANSI-SQL
oracle end to end.
"""

from __future__ import annotations

import warnings

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import hold, hold_checkpoint


class CloneQuadraticWarning(UserWarning):
    """The uncapped shingle inverted index is about to self-join a hot
    shingle shared by d documents into d*(d-1)/2 rows on ONE shuffle
    key. Emitted by :func:`ngram_jaccard_pairs` when ``max_doc_freq``
    is None and the measured max shingle document-frequency exceeds
    ``_CLONE_WARN_DOC_FREQ`` — the same loud-by-design pattern as
    ``windows.GlobalOrderWarning``. Fix: pass ``max_doc_freq`` (the
    m02c/m08c registry twins use 200) or pre-bound the pair space with
    ``minhash_lsh_candidates``."""


# A shingle in 1000 docs alone contributes ~500k join rows; on clone-
# heavy corpora EVERY shingle hits this, so the join is quadratic in
# corpus size. Varied real text stays far below it at any scale the
# uncapped exact oracle should ever run at.
_CLONE_WARN_DOC_FREQ = 1000

# 31-bit primes for the portable family: values stay < 2^31, so every
# intermediate product (coef * h, acc * base + code) fits signed 64-bit
# in ANY engine — no unsigned/overflow semantics to reconcile.
_PMOD = 1_000_000_007
_P31 = 2_147_483_647


def portable_hash(
    c: Column | str, base: int = 131, init: int = 7, mod: int = _PMOD
) -> Column:
    """Engine-portable polynomial string hash over code points:
    ``h = fold(init, h*base + codepoint) mod p``. Matches the DuckDB
    restatement ``list_reduce(list_prepend(init, codepoints),
    (acc, x) -> (acc*base + x) % mod)`` exactly (same idiom as
    textstats._token_hash / the t04 fingerprint oracle)."""
    col = F.col(c) if isinstance(c, str) else c
    return F.aggregate(
        F.split(col, ""),
        F.lit(init).cast("long"),
        lambda acc, ch: (acc * base + F.ascii(ch)) % mod,
    )


def _spread(df: DataFrame) -> DataFrame:
    """Hash-repartition to the session's parallelism when the input scan
    yields fewer partitions — a small corpus arrives as one parquet split
    and would otherwise run every CPU-bound hashing projection on one
    core. At real scale the scan already has >= parallelism partitions
    and this is a no-op (no shuffle added). Streaming inputs pass
    through untouched: micro-batch partitioning belongs to the source
    (maxFilesPerTrigger etc.), and the .rdd probe below is illegal on
    an unstarted stream."""
    if df.isStreaming:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def normalize_text(c: Column | str) -> Column:
    """lowercase, collapse whitespace, trim (reference M2,
    cluster_code_coverage.py:33-47)."""
    col = F.col(c) if isinstance(c, str) else c
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def exact_dedup_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact duplicate groups over normalized text: one row per distinct
    content with the keeper id (min id) and the duplicate count.

    The groupBy key is sha2-256 of the normalized text, so the shuffle
    moves 32-byte keys, not documents."""
    return (
        df.select(
            F.col(id_col),
            F.sha2(normalize_text(text_col), 256).alias("content_hash"),
        )
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


def word_shingles(c: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the normalized text."""
    col = F.col(c) if isinstance(c, str) else c
    toks = F.split(normalize_text(col), " ")
    if n == 1:
        return F.array_distinct(toks)
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    grams = F.transform(
        idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " ")
    )
    return F.when(F.size(toks) >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def _token_hash_pows(toks: Column) -> Column:
    """Per token, ``struct(p, w)`` = (raw polynomial hash with init 0,
    131^len(token) mod p) — both in ONE pass over the token's characters.
    These are the two quantities polynomial hashes compose from:
    ``H(s1 || s2) = (H(s1) * w(s2) + p(s2)) mod p``."""
    return F.transform(
        toks,
        lambda t: F.aggregate(
            F.split(t, ""),
            F.struct(F.lit(0).cast("long").alias("p"), F.lit(1).cast("long").alias("w")),
            lambda acc, ch: F.struct(
                ((acc["p"] * 131 + F.ascii(ch)) % _PMOD).alias("p"),
                ((acc["w"] * 131) % _PMOD).alias("w"),
            ),
        ),
    )


def shingle_hashes_from_tp(tp: Column, n: int) -> Column:
    """Compose the n-gram hashes from a MATERIALIZED ``_token_hash_pows``
    column: ``portable_hash`` of every word n-gram, equal to
    ``transform(word_shingles(c, n), portable_hash)`` up to multiplicity
    (positions are kept). ``tp`` must be a bound column (attribute), not
    an expression: HOF lambdas get no common-subexpression elimination,
    so an inline expression here would be re-evaluated for every
    ``element_at`` — an O(chars x shingles) blowup (measured 8x the whole
    pipeline). Against an attribute each ``element_at`` is O(1) array
    indexing."""

    def one(i):
        return F.aggregate(
            F.sequence(F.lit(0), F.lit(n - 1)),
            F.lit(7).cast("long"),
            lambda acc, k: (
                F.when(k > 0, (acc * 131 + 32) % _PMOD).otherwise(acc)
                * F.element_at(tp, i + k + 1)["w"]
                + F.element_at(tp, i + k + 1)["p"]
            )
            % _PMOD,
        )

    grams = F.transform(F.sequence(F.lit(0), F.size(tp) - n), one)
    return F.when(F.size(tp) >= n, grams).otherwise(
        F.array().cast("array<long>")
    )


def winnowing_fingerprint_arrays(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    w: int = 4,
) -> DataFrame:
    """The per-document winnowing fingerprint SET as an array column —
    the carrier form ``winnowing_fingerprints`` explodes and the
    streaming probe (st17) joins with. Same hot-path discipline as the
    exploded form (see its docstring); stream-safe (pure projections,
    ``_spread`` passes streams through)."""
    toks = F.split(normalize_text(text_col), " ")
    df = _spread(docs.filter(F.size(toks) >= n + w - 1))
    tp_df = df.select(
        F.col(id_col), _token_hash_pows(toks).alias("tp")
    )
    hs_df = tp_df.select(
        id_col, shingle_hashes_from_tp(F.col("tp"), n).alias("hs")
    )
    windows = F.transform(
        F.sequence(F.lit(0), F.size("hs") - w),
        lambda j: F.array_min(F.slice(F.col("hs"), j + 1, w)),
    )
    fps = F.when(F.size("hs") >= w, F.array_distinct(windows)).otherwise(
        F.array().cast("array<long>")
    )
    return hs_df.select(id_col, fps.alias("fps"))


def winnowing_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    w: int = 4,
) -> DataFrame:
    """MOSS-style winnowing fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03): slide a window of ``w`` consecutive positional shingle
    hashes and keep each window's minimum — the guarantee is that any
    shared substring of at least n+w-1 tokens yields at least one
    shared fingerprint, while storing only ~2/(w+1) of the hashes. The
    scalable middle ground between whole-doc hashing (t04 — misses
    partial overlap entirely) and the full shingle inverted index
    (m02 — stores every shingle): fingerprint-equality joins find
    partial plagiarism/quotation overlap at a fraction of the index
    size.

    All hashing and windowing is per-document column math (no shuffle
    until the caller aggregates/joins on fingerprint). Same hot-path
    discipline as minhash_signatures: token (hash, power) pairs and the
    positional shingle-hash array are each materialized in their OWN
    projection (an inline ``_token_hash_pows`` would be re-evaluated
    by every ``element_at`` — measured 23x this whole operator at
    sf10r), and the always-true ``size("hs") >= w`` guard keeps
    CollapseProject from inlining the hash chain into the per-window
    lambda. Per-doc cost is O(windows*w) — the monotonic-deque O(m)
    trick doesn't exist in column space, and for the small w winnowing
    uses (4..8) the constant is irrelevant. Emits distinct
    (id, fingerprint) rows; docs with fewer than w shingle windows
    (under n+w-1 tokens, a cheap pre-filter) emit nothing."""
    toks = F.split(normalize_text(text_col), " ")
    df = _spread(docs.filter(F.size(toks) >= n + w - 1))
    tp_df = df.select(
        F.col(id_col), _token_hash_pows(toks).alias("tp")
    )
    hs_df = tp_df.select(
        id_col, shingle_hashes_from_tp(F.col("tp"), n).alias("hs")
    )
    windows = F.transform(
        F.sequence(F.lit(0), F.size("hs") - w),
        lambda j: F.array_min(F.slice(F.col("hs"), j + 1, w)),
    )
    fps = F.when(F.size("hs") >= w, F.array_distinct(windows)).otherwise(
        F.array().cast("array<long>")
    )
    return hs_df.select(id_col, F.explode(fps).alias("fingerprint"))


def winnowing_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    w: int = 4,
) -> DataFrame:
    """The standing corpus-side winnowing index st17 probes: one row
    per (fingerprint, corpus doc) with the doc's FULL fingerprint array
    carried alongside — the carry is what lets the streaming probe stay
    stateless (pair intersection and the emit-once rule are per-row
    column math over the two carried arrays, no state store). In table
    storage this is written once and pre-partitioned by fingerprint,
    exactly like the minhash_lsh_index st14 uses; the array duplication
    per exploded row is the price of statelessness and is bounded by
    fingerprints-per-doc (~2/(w+1) of the shingles).

    SHAPE MATTERS: the array is carried INSIDE the generator output
    (``explode(transform(fps, x -> struct(x, fps)))``) instead of as a
    pass-through column beside the explode. The naive
    ``select(fps, explode(fps))`` plan re-inlines the whole hash chain
    (measured: >120 s for what this shape does in 3 s at sf0.001 —
    the optimizer duplicates the non-cheap ``fps`` expression into
    both the Generate input and the carried projection, defeating the
    staged-projection discipline the docstrings above describe)."""
    arr = winnowing_fingerprint_arrays(docs, id_col, text_col, n, w)
    carried = F.transform(
        "fps",
        lambda x: F.struct(
            x.alias("fingerprint"), F.col("fps").alias("corpus_fps")
        ),
    )
    return arr.select(
        F.col(id_col).alias("corpus_id"),
        F.explode(carried).alias("e"),
    ).select("corpus_id", "e.fingerprint", "e.corpus_fps")


def winnowing_overlap_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    w: int = 4,
    min_shared: int = 3,
    max_doc_freq: int | None = 200,
) -> DataFrame:
    """Partial-overlap candidate pairs over the winnowed index: docs
    sharing at least ``min_shared`` winnowing fingerprints, with the
    shared count. The payoff of winnowing at scale — the inverted
    index this self-joins holds ~2/(w+1) of the full shingle index
    (m02's), so the equi-join shuffles a fraction of the rows for the
    same guaranteed detection of >= n+w-1-token runs.

    Same quadratic-key physics as any inverted index: a fingerprint in
    d docs expands to d*(d-1)/2 join rows, so ``max_doc_freq`` drops
    corpus-wide boilerplate fingerprints before the join (the
    stop-shingle mitigation, same convention as m02c). The join key is
    a BIGINT hash — text never shuffles."""
    fps = winnowing_fingerprints(docs, id_col, text_col, n, w)
    if max_doc_freq is not None:
        hot = (
            fps.groupBy("fingerprint")
            .agg(F.count(F.lit(1)).alias("doc_freq"))
            .filter(F.col("doc_freq") > max_doc_freq)
            .select("fingerprint")
        )
        fps = fps.join(F.broadcast(hot), "fingerprint", "left_anti")
    a = fps.alias("a")
    b = fps.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.fingerprint") == F.col("b.fingerprint"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    return pairs


def _hot_shingles(sh: DataFrame, cap: int) -> DataFrame:
    """The stop-shingle blacklist: shingles appearing in more than
    ``cap`` documents (shingle arrays are distinct per doc, so a row
    count IS the document frequency). One definition on purpose — the
    capped-Jaccard semantics ("exact over the discriminative
    vocabulary") depend on every call site filtering identically.
    Hot shingles are by definition few: broadcast the blacklist."""
    return (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .filter(F.col("doc_freq") > cap)
        .select("shingle")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs via a shingle inverted index:
    explode distinct shingles, self-join on shingle (only co-occurring
    pairs materialize), |A∩B| = co-occurrence count, |A∪B| = |A|+|B|-∩.

    This is the exact oracle; at 100 TB use minhash_lsh_candidates to
    bound the pair space first, or set ``max_doc_freq``: a shingle in d
    documents expands to d*(d-1)/2 join rows, so one boilerplate shingle
    shared by 1M docs is 5e11 pairs on a single shuffle key. The cap
    drops shingles with document frequency > max_doc_freq from the
    index — the standard stop-shingle mitigation. Pair counts AND set
    sizes are both computed on the filtered vocabulary, so the result is
    exact Jaccard over that vocabulary (discriminative shingles), not an
    estimate of the uncapped value. Default None keeps the exact
    semantics the DuckDB oracle checks.

    On the capped path the EXPLODED (id, shingle) index is persisted: it
    is referenced by the hot-shingle aggregate, the sizes aggregate, and
    both self-join sides, and ``word_shingles`` is an interpreted
    higher-order expression (~1.2 ms/doc) — without the persist those
    sub-DAGs each re-run it (event-log attribution: 4 x ~650-870
    task-seconds per entry at 500k docs, bench_data/probe_heavy_r14.jsonl
    for m13/m14/m08c/t14). The exploded rows are what is cached — skinny
    (long, string) rows dictionary-compress in the columnar cache; caching
    the pre-explode ARRAY frame instead was measured 2.7-3.1x WORSE (t14
    96->303 s, m13 117->311 s at 500k docs): complex-typed cache batches
    at the session's 65536-row batch size balloon the heap and the build
    GC-thrashes. At 100 TB this cache is O(corpus tokens) and spills to
    disk — the recompute-vs-storage trade is the same one the dedup
    fixpoint makes for its edge list.

    On the uncapped path this call is EAGER: the clone-skew guard runs
    one Spark job (max shingle doc-freq) at plan-construction time. The
    shingle index is persisted first, so the guard job doubles as a
    cache warm for the returned plan rather than double work."""
    df = _spread(df)
    sh = df.select(
        F.col(id_col).alias("id"),
        F.explode(word_shingles(text_col, n)).alias("shingle"),
    )
    if max_doc_freq is not None:
        sh = hold(sh)  # the EXPLODED index, once (docstring above)
        hot = _hot_shingles(sh, max_doc_freq)
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    else:
        # Runtime guard (VERDICT r6 item 5): one map-side-combinable agg
        # over the index the pipeline builds anyway — cheap next to the
        # self-join it is protecting, and it only runs on the uncapped
        # exact-oracle path that should never see clone-heavy data.
        sh = hold(sh)
        row = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("doc_freq"))
            .agg(F.max("doc_freq").alias("max_df"))
            .first()
        )
        max_df = row["max_df"] if row is not None else None
        if max_df is not None and max_df > _CLONE_WARN_DOC_FREQ:
            warnings.warn(
                f"uncapped shingle index: hottest shingle appears in "
                f"{max_df} documents, expanding to "
                f"~{max_df * (max_df - 1) // 2} self-join rows on one "
                "shuffle key — quadratic under clone/boilerplate skew. "
                "Pass max_doc_freq (the capped twin m02c uses 200) or "
                "pre-bound pairs with minhash_lsh_candidates.",
                CloneQuadraticWarning,
                stacklevel=2,
            )
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    jac = F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_inter", "n_a", "n_b", "jaccard")
    )


def shingle_containment_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_doc_freq: int | None = 200,
) -> DataFrame:
    """Directional shingle containment C(src->dst) = |S(src) ∩ S(dst)|
    / |S(src)| — the asymmetric companion to :func:`ngram_jaccard_pairs`.
    Jaccard misses subset relationships (a paragraph quoted inside a
    long document scores near 0 Jaccard but 1.0 containment), which is
    the signal quote/excerpt detection and snippet-level decontamination
    need. Same inverted-index shape as m02 — one self-join on shingle,
    co-occurrence counts, then BOTH directions of each unordered pair
    are scored by the smaller side's size. ``max_doc_freq`` defaults ON
    (200): containment amplifies the boilerplate-shingle blowup because
    a tiny doc made of stop-shingles is "contained" in everything.
    """
    df = _spread(df)
    sh = df.select(
        F.col(id_col).alias("id"),
        F.explode(word_shingles(text_col, n)).alias("shingle"),
    )
    # the EXPLODED index feeds the hot/sizes aggregates and both
    # self-join sides (the persist of ngram_jaccard_pairs' docstring)
    sh = hold(sh)
    if max_doc_freq is not None:
        hot = _hot_shingles(sh, max_doc_freq)
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    both = inter.join(sa, "id_a").join(sb, "id_b")
    fwd = both.select(
        F.col("id_a").alias("src_id"),
        F.col("id_b").alias("dst_id"),
        "n_inter",
        F.col("n_a").alias("n_src"),
        (F.col("n_inter") / F.col("n_a")).alias("containment"),
    )
    rev = both.select(
        F.col("id_b").alias("src_id"),
        F.col("id_a").alias("dst_id"),
        "n_inter",
        F.col("n_b").alias("n_src"),
        (F.col("n_inter") / F.col("n_b")).alias("containment"),
    )
    return fwd.unionByName(rev).filter(F.col("containment") >= threshold)


def minhash_signatures(
    df: DataFrame,
    num_hashes: int = 32,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """MinHash signature per document: sig[i] = min over shingles of the
    i-th hash of the shingle. A batch input is not one narrow pass: the
    per-seed minimum is a ``groupBy("id")`` with an id-keyed exchange
    (BATCH SHAPE below), and an input scanned into fewer partitions than
    the session's parallelism is first repartitioned (``_spread``). A
    streaming input is one narrow pass, no shuffle.

    ``id_col`` must be unique: rows that share an id are aggregated into
    ONE signature, the element-wise min of their signatures (the
    signature of their shingle union), not one signature per row.

    The i-th hash is the affine family
    ``((2i+1)*H(g) + (10007*i + 12345)) mod p`` over ONE portable base
    hash H per shingle — (2i+1) is odd so every coefficient is a unit
    mod p, and H is computed once then reused by all num_hashes members
    (cheap AND restatable in the DuckDB oracle).

    The hashed-shingle array is materialized in a first projection so
    the num_hashes per-seed expressions reference a column, not
    num_hashes inlined copies of the whole normalize/split/shingle chain
    — keeps the expression tree (and codegen time) linear in num_hashes.
    No shingle string is ever built: ``shingle_hashes_from_tp`` composes
    each n-gram's hash from once-folded per-token hashes.

    Documents too short to have any shingle are dropped by a CHEAP
    pre-filter on the token count, never by ``filter(signature IS NOT
    NULL)``: a predicate on the signature column gets pushed through the
    projections (and the repartition) to the scan with the whole
    signature expression inlined — the entire pipeline re-computed per
    row as a single-partition filter. That anti-pattern was measured at
    8x the cost of the signatures themselves.

    BATCH SHAPE (r14): the per-seed minimum is computed by EXPLODING the
    shingle hashes and aggregating ``num_hashes`` codegen'd ``min``
    expressions per document, NOT by a per-seed ``transform`` +
    ``array_min`` over the hash array. Higher-order-function lambdas are
    interpreted expressions (no whole-stage codegen) and each per-seed
    ``transform`` materializes a fresh array, so the HOF form cost
    8.4 ms/doc at k=32 — 4 047 task-seconds for 480k docs, 61% of
    pipe02's entire runtime (event-log attribution,
    bench_data/probe_heavy_r14.jsonl stage 7). The explode + hash-
    aggregate form runs the identical integer arithmetic through
    generated code; map-side partial aggregation collapses the exploded
    rows back to one row per document before the (id)-keyed exchange,
    so the added shuffle carries exactly the signature table. Same
    values by construction: ``min`` over the same multiset of the same
    affine images, assembled in the same seed order; same ROWS because
    the token-count pre-filter guarantees every surviving document has
    at least one shingle (size(toks) >= n implies size(hs) =
    size(toks) - n + 1 >= 1), so the explode drops nothing and the old
    form's NULL-signature branch was unreachable. Streaming inputs keep
    the stateless HOF form: a groupBy on an unbounded stream would
    become a stateful aggregation, which the streaming probes must not
    introduce."""
    toks = F.split(normalize_text(text_col), " ")
    df = _spread(df.filter(F.size(toks) >= n))
    tp_df = df.select(
        F.col(id_col).alias("id"), _token_hash_pows(toks).alias("tp")
    )
    hs_df = tp_df.select(
        "id", shingle_hashes_from_tp(F.col("tp"), n).alias("hs")
    )
    if not hs_df.isStreaming:
        # explode_OUTER on purpose: plain explode makes Catalyst's
        # InferFiltersFromGenerate add `size(hs) > 0 AND isnotnull(hs)`
        # and push it through the projections to the scan — with the
        # whole shingle-hash expression INLINED into the filter,
        # evaluated twice per document below the repartition (the
        # pushed-predicate blowup documented above). The outer variant
        # infers nothing, and is value-identical here: the pre-filter
        # guarantees a non-empty array, so no null-expansion row exists.
        ex = hs_df.select("id", F.explode_outer("hs").alias("h"))
        mins = [
            F.min(
                ((2 * i + 1) * F.col("h") + (10007 * i + 12345)) % _PMOD
            ).alias(f"__s{i}")
            for i in range(num_hashes)
        ]
        return (
            ex.groupBy("id")
            .agg(*mins)
            .select(
                "id",
                F.array(
                    *[F.col(f"__s{i}") for i in range(num_hashes)]
                ).alias("signature"),
            )
        )
    sig = F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda i: F.array_min(
            F.transform(
                F.col("hs"),
                lambda h: ((2 * i + 1) * h + (10007 * i + 12345)) % _PMOD,
            )
        ),
    )
    # always-true size() guard = second reference to `hs`: keeps
    # CollapseProject from inlining the shingle-hash expression into the
    # per-seed lambda (num_hashes re-evaluations per row otherwise)
    return hs_df.select("id", F.when(F.size("hs") > 0, sig).alias("signature"))


def _band_bucket_expr(band_slice: Column) -> Column:
    """One band's bucket id from its signature slice — the rolling
    ``(acc*31 + v) mod p`` fold (oracle-restatable). Shared by the batch
    LSH banding and the streaming probe's minimal-band filter."""
    return F.aggregate(
        band_slice,
        F.lit(0).cast("long"),
        lambda acc, v: (acc * 31 + v) % _PMOD,
    )


def _band_slice(sig: Column, b: Column, bands: int) -> Column:
    """The 1-based F.slice of signature ``sig`` belonging to band ``b``
    (0-based), for a `bands`-way split."""
    rows = (F.size(sig) / bands).cast("int")
    return F.slice(sig, b * rows + 1, rows)


def _banded(signatures: DataFrame, bands: int, carry_signature: bool) -> DataFrame:
    """One row per (id, band, bucket) membership — THE banding used by
    the index, the candidates self-join, and (via the same two helpers)
    the streaming probe's minimal-band filter. Single definition so the
    bucket derivation can never desync between the standing index and
    the batch candidate path."""
    cols = ["id"] + (["signature"] if carry_signature else [])
    return signatures.select(
        *cols,
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    _band_bucket_expr(
                        _band_slice(F.col("signature"), b, bands)
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select(
        *cols,
        F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"),
    )


def minhash_lsh_index(signatures: DataFrame, bands: int = 8) -> DataFrame:
    """The STANDING LSH index over a corpus: one row per (band, bucket)
    membership — columns (id, signature, band, bucket). Build it once
    over the ingested corpus (persist, or write bucketed by (band,
    bucket) for a shuffle-free probe join), then probe each arriving
    batch/stream against it (``streaming/streams.streaming_neardup_
    probe``) instead of re-running the corpus self-join per ingest —
    the standing-index shape of m15, minhashed. The signature column is
    carried so probes can estimate-verify without a second join."""
    return _banded(signatures, bands, carry_signature=True)


def minhash_lsh_candidates(signatures: DataFrame, bands: int = 8) -> DataFrame:
    """LSH banding: split each signature into `bands` rows of
    (band_id, band_hash); docs sharing any band bucket become candidate
    pairs. Equi-join on (band, hash) => shuffle is hash-partitioned, no
    cross product. Returns distinct candidate (id_a < id_b) pairs.

    A band's bucket folds its values with the same rolling combine the
    t04 fingerprint uses (``(acc*31 + v) mod p``) so the bucket ids are
    reproducible in the oracle SQL."""
    banded = _banded(signatures, bands, carry_signature=False)
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def minhash_lsh_dedup(
    df: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    verify: str = "exact",
    estimate_margin: float | None = None,
) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline: signatures -> banded candidate
    pairs -> verify candidates with EXACT n-gram Jaccard (join back to the
    shingle sets only for candidates). Returns verified pairs >= threshold.

    ``verify`` picks the verification stage:

    * ``"exact"`` (default, the oracle contract): join candidate pairs
      back to the pruned distinct-shingle sets and compute true Jaccard.
      Per-pair cost is O(|shingles_a| + |shingles_b|) and the verify
      shuffle carries the candidate docs' shingle ARRAYS (~800 B/doc on
      the bench corpus) — linear in candidates, but at 5M docs / 278M
      LSH candidates the shuffled array bytes exceed a single host's
      spill disk (measured, sf100 probe r8).
    * ``"estimate"``: never touches a shingle array. Estimated Jaccard
      = the fraction of matching MinHash components between the two
      signatures the pipeline has ALREADY computed for banding (the
      standard unbiased MinHash estimator; std err sqrt(J(1-J)/k), so
      k=num_hashes=32 gives +-0.088 at J=0.5 — raise num_hashes to
      tighten). Per-pair cost O(num_hashes); the verify shuffle carries
      only k longs per doc (~10x smaller than the arrays), making the
      uncapped pipeline complete where exact verify is disk-bound. This
      is the 100 TB mode: LSH banding bounds candidates, signatures
      bound verify — no stage ever shuffles raw document content.
      Deterministic given the hash family (no RNG): the estimate for a
      pair is a pure function of the two texts, so results are stable
      across runs and partitionings. Caveat (measured, sf0.001): the
      estimator is unbiased UNCONDITIONALLY, but LSH candidates are
      selected BECAUSE a band matched, so for truly-dissimilar pairs
      (J < 0.05) the conditional estimate is inflated (observed up to
      ~0.55) — estimate mode trades some precision at the threshold;
      for genuinely similar pairs (J >= 0.3) observed |err| mean 0.018
      / max 0.12 at k=32. REGIME CHECK before choosing this mode: when
      ceil(threshold*num_hashes) <= num_hashes/bands (the per-band row
      count), a single band collision ALREADY clears the threshold, so
      the estimate filter accepts every candidate — recall 1.0 but
      precision vs exact collapses to candidate precision (measured at
      the loose registry config threshold=0.12/k=16/2-row bands: 2.6-
      2.9% at sf0.01-sf1). Estimate mode earns its keep only when
      threshold*num_hashes comfortably exceeds the band size (e.g.
      0.5*32 = 16 matches required vs 4-row bands); otherwise use
      "hybrid", whose exact re-verify restores precision at any
      threshold (measured: hybrid == exact, pair-for-pair, at sf0.01
      AND sf1 in both regimes).
    * ``"hybrid"``: the production 100 TB mode — estimate first, then
      EXACT-verify only the pairs whose estimate clears
      ``threshold - estimate_margin``. Precision is exact (every
      returned jaccard is true Jaccard); recall differs from "exact"
      only for pairs the estimator places ``estimate_margin`` or more
      below their true Jaccard (P < ~1e-4 at margin = 4*sigma). The
      shingle arrays are shuffled ONLY for estimated positives, a set
      on the order of the final OUTPUT, not the candidate count — the
      verify stage cost collapses from O(candidates * array_bytes) to
      O(output * array_bytes).

    Exact verify runs over the DISTINCT SHINGLE-HASH sets
    rather than the shingle strings: the hash family is shared with the
    oracle SQL, so both engines see the same sets, and Jaccard over them
    equals string-set Jaccard except under a 31-bit hash collision inside
    one candidate pair (~|shingles|^2 / 2e9 per doc — negligible, and
    both engines agree even then). Skipping string materialization
    (slice + array_join per shingle) halves the verify stage's cost.

    Scale shape of the verify stage: the candidate PAIRS are persisted
    (small — two ids per row; reused three times below, which without the
    persist would recompute the whole signature+banding pipeline per
    use), and the shingle-set table is SEMI-JOIN PRUNED to candidate ids
    before the verify join. Semantically a no-op (the verify equi-join
    already restricts to candidate ids) but the plan difference is the
    whole ballgame at corpus scale: without the prune, sort-merge
    shuffles and sorts EVERY document's shingle array on both join
    sides — at sf100 (5M docs) that sort spilled the disk to death
    ("SPILL_OUT_OF_MEMORY ... No space left on device", stage 202,
    /root reg100 probe). With it, only candidate docs' arrays — bounded
    by the LSH collision count, orders of magnitude smaller than the
    corpus — ever reach a shuffle; AQE broadcast-converts the pruned
    sides when they are small enough."""
    if verify not in ("exact", "estimate", "hybrid"):
        raise ValueError(
            f"minhash_lsh_dedup: verify={verify!r} "
            "(want 'exact', 'estimate' or 'hybrid')"
        )
    sigs = minhash_signatures(df, num_hashes, n, id_col, text_col)
    if verify != "exact":
        # signatures feed BOTH the banding pipeline and both verify join
        # sides; persist so the (shingle -> minhash) work runs once.
        sigs = hold(sigs)
    cands = hold(minhash_lsh_candidates(sigs, bands))
    if verify != "exact":
        est_ids = (
            cands.select(F.col("id_a").alias("id"))
            .union(cands.select(F.col("id_b").alias("id")))
            .distinct()
        )
        s = sigs.join(est_ids, "id", "left_semi")
        a = s.select(F.col("id").alias("id_a"), F.col("signature").alias("sig_a"))
        b = s.select(F.col("id").alias("id_b"), F.col("signature").alias("sig_b"))
        matches = F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                lambda m: m,
            )
        )
        est = (
            cands.join(a, "id_a")
            .join(b, "id_b")
            .withColumn("jaccard", matches / F.size("sig_a"))
        )
        if verify == "estimate":
            return est.filter(F.col("jaccard") >= threshold).select(
                "id_a", "id_b", "jaccard"
            )
        # hybrid: estimated positives (minus the recall margin, default
        # 4 sigma of the k-sample estimator) become the ONLY pairs whose
        # shingle arrays are ever shuffled for exact verification.
        if estimate_margin is None:
            estimate_margin = 4.0 * (0.25 / num_hashes) ** 0.5
        cands = hold(
            est.filter(F.col("jaccard") >= threshold - estimate_margin)
            .select("id_a", "id_b")
        )
    cand_ids = (
        cands.select(F.col("id_a").alias("id"))
        .union(cands.select(F.col("id_b").alias("id")))
        .distinct()
    )
    toks = F.split(normalize_text(text_col), " ")
    tp_df = _spread(df.filter(F.size(toks) >= n)).select(
        F.col(id_col).alias("id"), _token_hash_pows(toks).alias("tp")
    )
    sh = tp_df.select(
        "id",
        F.array_distinct(shingle_hashes_from_tp(F.col("tp"), n)).alias("sh"),
    ).join(cand_ids, "id", "left_semi")
    a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
) -> DataFrame:
    """SimHash fingerprint per document: per token-hash bit j, sum +1/-1
    across tokens; bit j of the fingerprint = (sum > 0).

    Token hash: two independent 31-bit polynomial hashes (bases
    131/137, inits 7/11, mod the Mersenne prime 2^31-1) packed as
    ``h1 << 31 | h2`` — 62 usable bits (``bits`` is capped there), every
    operation exact signed 64-bit integer arithmetic, so the
    fingerprints (and the candidate buckets built on them) are
    restatable in the DuckDB oracle.

    Implemented as an explode + single groupBy with one conditional sum
    per bit — one shuffle keyed by doc id; near-dup = small Hamming
    distance (use bit_count(x ^ y) on candidate pairs)."""
    toks = _spread(df).select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array_distinct(F.split(normalize_text(text_col), " "))
        ).alias("tok"),
    ).filter(F.col("tok") != "")
    bits = min(bits, 62)
    # Affine post-mix: a raw polynomial hash of a short token is a SMALL
    # integer (high bits all zero), which would correlate fingerprints of
    # short-token documents. Multiplying by a large constant mod p
    # redistributes any value across the full 31-bit range while staying
    # exact signed-64 arithmetic.
    h1 = (
        portable_hash("tok", base=131, init=7, mod=_P31) * 1103515245 + 12345
    ) % _P31
    h2 = (portable_hash("tok", base=137, init=11, mod=_P31) * 69069 + 1) % _P31
    toks = toks.withColumn("h", F.shiftleft(h1, 31) + h2)

    def bit(j):
        return F.shiftleft(F.lit(1).cast("long"), j)

    bit_sums = toks.groupBy("id").agg(
        *[
            F.sum(
                F.when(F.col("h").bitwiseAND(bit(j)) != 0, 1).otherwise(-1)
            ).alias(f"b{j}")
            for j in range(bits)
        ]
    )
    fp = F.lit(0).cast("long")
    for j in range(bits):
        fp = fp.bitwiseOR(F.when(F.col(f"b{j}") > 0, bit(j)).otherwise(F.lit(0).cast("long")))
    return bit_sums.select("id", fp.alias("simhash"))


def simhash_near_dups(
    df: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, bucketed by 16-bit
    chunks (a pair within Hamming<=3 shares at least one of 4 chunks —
    pigeonhole), so the join is equi on (chunk_index, chunk_value)."""
    fps = simhash(df, id_col, text_col)
    chunks = fps.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("ci"),
                        F.shiftright("simhash", i * 16).bitwiseAND(F.lit(0xFFFF)).alias("cv"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("c"),
    ).select("id", "simhash", F.col("c.ci").alias("ci"), F.col("c.cv").alias("cv"))
    a, b = chunks.alias("a"), chunks.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.ci") == F.col("b.ci"))
            & (F.col("a.cv") == F.col("b.cv"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination (n-gram overlap against an eval set)
# ---------------------------------------------------------------------------


def ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "doc_id",
    bench_text_col: str = "text",
) -> DataFrame:
    """Flag corpus documents sharing any word n-gram with a benchmark/eval
    set (the standard pre-training decontamination pass; n=8..13 word
    overlap is the usual contamination criterion).

    Shape: explode DISTINCT shingles on both sides, inner-join on the
    shingle string, count per corpus doc. The benchmark side is tiny
    relative to the corpus (eval sets are small), so Catalyst broadcasts
    its shingle index and the corpus side never shuffles — a 100 TB
    decontamination pass is scan + broadcast-probe. Output: one row per
    contaminated corpus doc with the evidence counts.
    """
    corp = _spread(corpus).select(
        F.col(id_col).alias("corpus_id"),
        F.explode(word_shingles(text_col, n)).alias("shingle"),
    )
    bench = benchmark.select(
        F.col(bench_id_col).alias("bench_id"),
        F.explode(word_shingles(bench_text_col, n)).alias("shingle"),
    )
    return (
        corp.join(bench, "shingle")
        .groupBy("corpus_id")
        .agg(
            F.countDistinct("shingle").alias("n_shared_shingles"),
            F.countDistinct("bench_id").alias("n_bench_docs"),
        )
    )


# ---------------------------------------------------------------------------
# Connected components: near-dup pairs -> dedup groups
# ---------------------------------------------------------------------------


def dedup_components(
    pairs: DataFrame,
    left: str = "id_a",
    right: str = "id_b",
    max_iterations: int = 25,
) -> DataFrame:
    """Connected components over a near-duplicate pair list — the step
    that turns pairwise similarity (minhash_lsh_dedup / ngram_jaccard_
    pairs output) into actual dedup groups, where each group keeps one
    document (the min id = the component label).

    Iterative min-label propagation: every node adopts the smallest label
    among itself and its neighbors until a fixpoint; converges in
    O(component diameter) rounds (near-dup components are shallow — long
    chains require a chain of pairwise matches). Each round is one
    equi-join + one groupBy-min, both shuffled on the id — no driver-side
    graph. ``localCheckpoint`` truncates lineage per round so plans stay
    O(1) deep; on a cluster with a checkpoint dir, ``checkpoint`` is the
    durable equivalent.

    Returns (id, component_id) for every id appearing in ``pairs``.
    """
    edges = pairs.select(F.col(left).alias("src"), F.col(right).alias("dst"))
    edges = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    # Materialize the edge list ONCE: it is re-joined every propagation
    # round, and without this the whole upstream pair pipeline (an LSH or
    # shingle self-join) re-executes per round — measured 45s for a 4.9s
    # pipeline at sf0.1. The edge list is the iteration's working set and
    # is bounded by the near-dup pair count, far smaller than the corpus.
    edges = hold_checkpoint(edges)
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component_id", F.col("id"))
    )
    def propagate(cur: DataFrame) -> tuple[DataFrame, int]:
        nbr = edges.join(
            cur.withColumnRenamed("id", "src"), "src"
        ).select(F.col("dst").alias("id"), "component_id")
        nxt = hold_checkpoint(
            cur.unionByName(nbr)
            .groupBy("id")
            .agg(F.min("component_id").alias("component_id"))
        )
        moved = (
            nxt.alias("n")
            .join(cur.alias("o"), "id")
            .filter(F.col("n.component_id") != F.col("o.component_id"))
            .limit(1)
            .count()
        )
        return nxt, moved

    for _ in range(max_iterations):
        labels, changed = propagate(labels)
        if changed == 0:
            break
    else:
        # The budget ran out with the LAST round still changing labels —
        # but that round may itself have completed the propagation
        # (convergence is only observable one round after the final
        # change). Probe once more before deciding: if labels are still
        # moving, some component genuinely spans multiple labels and
        # callers would get WRONG dedup groups — fail loudly rather than
        # return them. Near-dup components are shallow, so a true
        # non-convergence means a pathological chain or a far-too-low
        # max_iterations.
        labels, changed = propagate(labels)
        if changed != 0:
            raise RuntimeError(
                f"dedup_components did not converge in {max_iterations} "
                "iterations; component diameter exceeds the budget — "
                "raise max_iterations"
            )
    return labels


def dedup_representatives(
    docs: DataFrame,
    pairs: DataFrame,
    quality: Column,
    id_col: str = "doc_id",
    components: DataFrame | None = None,
) -> DataFrame:
    """M13 — canonical representative selection: the step a real corpus
    pipeline runs AFTER near-dup grouping — inside every duplicate
    group keep the single best document (highest ``quality``, lowest id
    on ties) and mark the rest as drops, so downstream stages filter on
    ``is_keeper`` instead of keeping an arbitrary clone.

    Composition: :func:`dedup_components` turns the pair list into
    groups; docs absent from any pair are their own singleton group
    (left join + coalesce to self). Ranking is one ``row_number`` over
    the component key — the same shuffle the components already
    produced; group size rides the same window partitioning.

    Returns one row per input doc: ``(id, component_id, quality,
    group_size, is_keeper)`` — deterministic for any quality expression
    with a total (quality DESC, id ASC) order.

    ``components``: a precomputed ``dedup_components(pairs)`` frame
    (columns id, component_id). Pipelines that also split or group on
    the same pairs pass it so the iterative fixpoint runs ONCE, not
    once per stage — at corpus scale components is the expensive step.
    """
    comps = (
        components if components is not None else dedup_components(pairs)
    ).withColumnRenamed("id", id_col)
    base = docs.select(F.col(id_col), quality.alias("quality"))
    j = base.join(comps, id_col, "left").withColumn(
        "component_id", F.coalesce("component_id", F.col(id_col))
    )
    wk = Window.partitionBy("component_id")
    rk = Window.partitionBy("component_id").orderBy(
        F.desc("quality"), F.col(id_col)
    )
    return (
        j.withColumn("group_size", F.count(F.lit(1)).over(wk).cast("long"))
        .withColumn("__rn", F.row_number().over(rk))
        .select(
            id_col,
            "component_id",
            "quality",
            "group_size",
            (F.col("__rn") == 1).alias("is_keeper"),
        )
    )


def leakage_safe_split(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    splits: list[tuple[str, int]] = (("train", 80), ("val", 10), ("test", 10)),
    salt: int = 0,
    components: DataFrame | None = None,
) -> DataFrame:
    """M14 — near-dup-aware train/val/test split: hash the COMPONENT id,
    not the doc id, so every member of a duplicate group lands in the
    same split. Plain per-doc hashing leaks: a train doc's near-clone in
    val inflates eval scores — the standard contamination failure the
    group-level assignment removes by construction.

    Same composition cost as :func:`dedup_representatives` (components
    + one left join); the split itself is a pure projection
    (sampling.assign_split's Knuth bucket), so the incremental cost
    over a naive split is just the dedup grouping a pipeline runs
    anyway. Singletons (docs in no pair) hash their own id — identical
    to the naive split for them.

    ``components``: optional precomputed ``dedup_components(pairs)``
    frame, shared with sibling stages (see dedup_representatives).
    """
    from db_loganalyzer_spark.operators.sampling import assign_split

    comps = (
        components if components is not None else dedup_components(pairs)
    ).withColumnRenamed("id", id_col)
    return (
        docs.select(id_col)
        .join(comps, id_col, "left")
        .withColumn("component_id", F.coalesce("component_id", F.col(id_col)))
        .withColumn("split", assign_split("component_id", splits, salt))
        .select(id_col, "component_id", "split")
    )


def title_edit_distance_pairs(
    df: DataFrame,
    max_distance: int = 5,
    title_chars: int = 40,
    prefix_chars: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """M19 — short-string near-dup pairs by EXACT edit distance: the
    title/header dedup pass a corpus pipeline runs where token-set
    similarity is blind (a one-character version bump, 'part 1' vs
    'part 2' — Jaccard over words barely moves, edit distance is 1).

    Shape: normalize -> printable-ASCII fold -> first ``title_chars``
    chars as the title; candidates are blocked by the EXACT first
    ``prefix_chars`` chars (an equi-join — shuffle hash-partitioned on
    the prefix, no cross product; near-dup titles that differ inside
    the first ``prefix_chars`` chars are out of scope by contract, the
    standard prefix-blocking recall trade); verify is JVM-side
    ``levenshtein`` <= max_distance inside each bucket.

    The ASCII fold is a correctness decision, not cosmetics: Spark's
    levenshtein counts CHARACTERS while DuckDB's counts BYTES, so the
    oracle contract is engine-exact only over single-byte text — both
    engines apply the same ``[^ -~]`` strip before measuring.

    ``max_bucket_size`` drops oversized prefix buckets (boilerplate
    headers collapse thousands of docs onto one prefix — the in-bucket
    pair join is quadratic, the same clone hazard the capped Jaccard
    family guards). Output: (id_a, id_b, edit_distance).
    """
    title = F.substring(
        F.regexp_replace(normalize_text(text_col), "[^ -~]", ""),
        1,
        title_chars,
    )
    t = (
        _spread(df)
        .select(F.col(id_col).alias("id"), title.alias("title"))
        .filter(F.length("title") >= prefix_chars)
        .withColumn("bucket", F.substring("title", 1, prefix_chars))
    )
    if max_bucket_size is not None:
        w_bucket = F.count(F.lit(1)).over(Window.partitionBy("bucket"))
        t = (
            t.withColumn("__bsz", w_bucket)
            .filter(F.col("__bsz") <= max_bucket_size)
            .drop("__bsz")
        )
    a, b = t.alias("a"), t.alias("b")
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.levenshtein(F.col("a.title"), F.col("b.title")).alias(
                "edit_distance"
            ),
        )
        .filter(F.col("edit_distance") <= max_distance)
    )


def ngram_jaccard_against(
    new_docs: DataFrame,
    corpus: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_doc_freq: int | None = None,
) -> DataFrame:
    """M15 — INCREMENTAL dedup: Jaccard of each new-batch document
    against the EXISTING corpus, without the corpus-side self-join. The
    continuously-ingested pipeline shape — each ingest batch probes the
    standing shingle index and drops (or groups) what it already has;
    re-running :func:`ngram_jaccard_pairs` over corpus+batch per ingest
    re-pays the whole corpus every time.

    The stop-shingle cap (``max_doc_freq``) is computed on the CORPUS
    side only — the index you own; a batch can't know corpus-wide
    boilerplate — and the capped vocabulary is applied to BOTH sides
    before set sizes, so scores are exact Jaccard over the corpus's
    discriminative vocabulary (same semantics as the m02c twin).

    Output: ``(new_id, corpus_id, n_inter, n_new, n_corpus, jaccard)``
    — one row per (new doc, matched corpus doc) at/above threshold.
    """
    nsh = _spread(new_docs).select(
        F.col(id_col).alias("new_id"),
        F.explode(word_shingles(text_col, n)).alias("shingle"),
    )
    csh = _spread(corpus).select(
        F.col(id_col).alias("corpus_id"),
        F.explode(word_shingles(text_col, n)).alias("shingle"),
    )
    if max_doc_freq is not None:
        hot = _hot_shingles(csh, max_doc_freq)
        csh = csh.join(F.broadcast(hot), "shingle", "left_anti")
        nsh = nsh.join(F.broadcast(hot), "shingle", "left_anti")
    n_new = nsh.groupBy("new_id").agg(F.count(F.lit(1)).alias("n_new"))
    n_corp = csh.groupBy("corpus_id").agg(
        F.count(F.lit(1)).alias("n_corpus")
    )
    inter = (
        nsh.join(csh, "shingle")
        .groupBy("new_id", "corpus_id")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    jac = F.col("n_inter") / (
        F.col("n_new") + F.col("n_corpus") - F.col("n_inter")
    )
    return (
        inter.join(n_new, "new_id")
        .join(n_corp, "corpus_id")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select(
            "new_id", "corpus_id", "n_inter", "n_new", "n_corpus", "jaccard"
        )
    )


def block_dedup(
    df: DataFrame,
    block_tokens: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """M17 — sub-document (paragraph-level) dedup: corpus-wide removal of
    repeated text blocks with per-document reassembly. Real corpora split
    on paragraph boundaries; this synthetic corpus has none, so the block
    is a fixed ``block_tokens``-token span — the lineage (explode ->
    first-occurrence window -> ordered re-agg) is the operator.

    A block survives iff this (doc, position) is its first occurrence in
    the corpus ordered by (doc_id, block_idx) — boilerplate repeated
    across documents (headers, footers, licence text) is kept exactly
    once, the shape CCNet/RefinedWeb-style pipelines run before
    doc-level dedup.

    Scale shape: one explode (docs -> ~docs * len/20 short rows), one
    hash shuffle on block text for the window (each group is tiny:
    occurrences of one distinct block), one groupBy doc_id to reassemble.
    No driver state, no self-join; skew only from galactically-common
    blocks, the same stop-shingle lever as m02c applies.
    """
    toks = F.split(normalize_text(text_col), " ")
    nb = F.ceil(F.size(toks) / F.lit(block_tokens)).cast("int")
    blocks = F.transform(
        F.sequence(F.lit(0), nb - 1),
        lambda i: F.array_join(
            F.slice(toks, i * block_tokens + 1, block_tokens), " "
        ),
    )
    b = df.select(
        F.col(id_col), F.posexplode(blocks).alias("block_idx", "block_text")
    )
    w = Window.partitionBy("block_text").orderBy(id_col, "block_idx")
    kept = b.withColumn("first_seen", F.row_number().over(w) == 1)
    return (
        kept.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_blocks"),
            F.sum(F.when(F.col("first_seen"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.when(
                                F.col("first_seen"),
                                F.struct(
                                    F.col("block_idx"), F.col("block_text")
                                ),
                            )
                        )
                    ),
                    lambda x: x["block_text"],
                ),
                " ",
            ).alias("dedup_text"),
        )
    )


def shingle_novelty(
    df: DataFrame,
    n: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """T17 — corpus-order novelty score: per document, the fraction of
    its distinct word ``n``-gram shingles whose FIRST corpus occurrence
    (smallest id) is this document. High novelty = fresh content; low
    novelty = recombination of earlier material — the cheap
    contamination/derivation signal that needs no pairwise comparison.

    Linear, never quadratic: the same hashed inverted index as
    ``minhash_signatures`` (shingles become portable polynomial hashes
    WITHOUT materializing n-gram strings — longs shuffle, strings
    don't), then ONE exchange: the per-shingle min-id is a window
    aggregate over the shingle partitioning, not a groupBy + join back
    (which would re-explode the lineage and shuffle the index twice —
    measured 70 s vs 23 s at sf1). No pair self-join, so boilerplate
    shingles cost their document frequency, not its square. Identity is
    hash identity (mod 1e9+7 polynomial — collision odds ~|shingles
    per doc| / 1e9); documents with fewer than ``n`` words have no
    shingles and are absent from the output (both engines agree).
    """
    toks = F.split(normalize_text(F.col(text_col)), " ")
    tp = df.select(F.col(id_col), _token_hash_pows(toks).alias("__tp"))
    sh = tp.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(shingle_hashes_from_tp(F.col("__tp"), n))
        ).alias("shingle"),
    )
    w = Window.partitionBy("shingle")
    flagged = sh.withColumn("__first_id", F.min(id_col).over(w))
    novel = F.sum(
        F.when(F.col("__first_id") == F.col(id_col), 1).otherwise(0)
    )
    return flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_shingles"),
        novel.cast("long").alias("n_novel"),
        (novel.cast("double") / F.count(F.lit(1))).alias("novelty"),
    )


def duplicated_span_stats(
    df: DataFrame,
    n: int = 8,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """M22 — exact-substring duplication profile (the ExactSubstr
    measurement of Lee et al. 2021, "Deduplicating Training Data Makes
    Language Models Better", arXiv:2107.06499): per document, how many
    of its token positions are covered by a word ``n``-gram that occurs
    at least ``min_count`` times in the whole corpus (within-document
    repeats count, as in the paper's suffix-array criterion). The
    suffix array itself doesn't distribute; this is the shuffle-native
    restatement a 100 TB corpus runs: positional shingle index ->
    global frequency -> per-document interval union.

    Lineage (linear, no pair join): positions are ``posexplode`` of the
    composed shingle hashes (longs shuffle, n-gram strings don't — same
    hot-path discipline as ``minhash_signatures``); the corpus-wide
    occurrence count is ONE window aggregate over the shingle
    partitioning (the measured-cheaper form, see ``shingle_novelty``;
    on clone-stress corpora where one shingle's occurrence list
    outgrows a partition, swap in groupBy + broadcast-back of the
    ``>= min_count`` survivors); covered positions are the union of
    ``[pos, pos+n-1]`` spans via ``windows.coalesce_intervals`` — a
    per-document gaps-and-islands, keyed and skew-free. Documents with
    fewer than ``n`` tokens (or no duplicated span) still emit a row
    with ``covered_toks = 0``.

    Output: id, n_toks, covered_toks, dup_fraction (round 6; exact
    integer covered-count, so the only float op is one division).

    reference: the reference dedups whole comments
    (log_analysis/cluster_code_coverage.py:33-47); span-level
    duplication is the sub-document generalization its corpus pipeline
    lacks.
    """
    from db_loganalyzer_spark.operators.windows import coalesce_intervals

    toks = F.filter(
        F.split(normalize_text(F.col(text_col)), " "), lambda x: x != ""
    )
    # n_toks from the filtered split — NEVER from size(tp): that would
    # evaluate the whole token-hash chain once more per row. The
    # filter matters only for empty/whitespace-only documents (split
    # of '' yields [''] -> size 1, but the corpus has zero tokens
    # there); the oracle counts list_filter(..., x <> '') the same way.
    sizes = df.select(
        F.col(id_col), F.size(toks).cast("long").alias("n_toks")
    )
    # winnowing_fingerprints' generator discipline, verbatim: cheap
    # token-count pre-filter (so the inferred size()>0 filter under the
    # Generate is near-free), tp and hs each in their OWN projection,
    # and the always-true size("__hs") guard adds the second reference
    # that stops CollapseProject + predicate pushdown from re-inlining
    # the hash chain into every element_at. The naive
    # posexplode(hs-expression) form re-evaluated _token_hash_pows
    # per element_at — measured ~900 s for 5000 docs at sf0.1 vs ~4 s
    # for this shape.
    tp_df = _spread(df.filter(F.size(toks) >= n)).select(
        F.col(id_col), _token_hash_pows(toks).alias("__tp")
    )
    hs_df = tp_df.select(
        F.col(id_col),
        shingle_hashes_from_tp(F.col("__tp"), n).alias("__hs"),
    )
    structs = F.transform(
        F.sequence(F.lit(0), F.size("__hs") - 1),
        lambda i: F.struct(
            i.cast("long").alias("pos"),
            F.element_at(F.col("__hs"), i + 1).alias("h"),
        ),
    )
    guarded = F.when(F.size("__hs") >= 1, structs).otherwise(
        F.array().cast("array<struct<pos:bigint,h:bigint>>")
    )
    pos = hs_df.select(
        F.col(id_col), F.explode(guarded).alias("__ph")
    ).select(
        F.col(id_col),
        F.col("__ph.pos").alias("__pos"),
        F.col("__ph.h").alias("__h"),
    )
    w = Window.partitionBy("__h")
    spans = (
        pos.withColumn("__cnt", F.count(F.lit(1)).over(w))
        .filter(F.col("__cnt") >= min_count)
        .select(
            F.col(id_col),
            F.col("__pos").cast("long").alias("__start"),
            (F.col("__pos") + (n - 1)).cast("long").alias("__end"),
        )
    )
    covered = (
        coalesce_intervals(spans, [id_col], "__start", "__end")
        .groupBy(id_col)
        .agg(
            F.sum(F.col("window_end") - F.col("window_start") + 1)
            .cast("long")
            .alias("covered_toks")
        )
    )
    out = sizes.join(covered, id_col, "left")
    cov = F.coalesce(F.col("covered_toks"), F.lit(0).cast("long"))
    return out.select(
        F.col(id_col),
        F.col("n_toks"),
        cov.alias("covered_toks"),
        F.when(F.col("n_toks") > 0, F.round(cov / F.col("n_toks"), 6))
        .otherwise(F.lit(0.0))
        .alias("dup_fraction"),
    )
