"""Embedding + clustering operators (SURVEY §2.9 M3-M6).

Reference: log_analysis/cluster_code_coverage.py —
  M3 sentence embeddings (:64-66, SentenceTransformer all-MiniLM-L6-v2),
  invalid-embedding removal (:70-76),
  M4 clustering (:78-100, HDBSCAN with MiniBatchKMeans fallback),
  M5 centroid cosine-argmax representatives (:133-155),
  M6 cluster summary table (:157-177).

Spark-first shapes:
- the encoder is a pluggable ``mapInPandas`` batch function (the real
  model is not in this container; the deterministic fake keeps the Arrow
  batching, schema and normalization real);
- clustering's scale path is Spark ML KMeans (JVM, distributed); the
  oracle path is a declarative nearest-seed-centroid assignment that any
  SQL engine can restate;
- representatives/summary are pure DataFrame ops: element-wise centroid
  means via posexplode + avg (shuffle moves (cluster, pos, val) triples,
  never whole vectors), cosine argmax via one window.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (same fold order as the DuckDB
    ``list_sum(list_transform(...))`` restatement)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


# ---------------------------------------------------------------------------
# M3 — embedding slot
# ---------------------------------------------------------------------------


def fake_encoder_batch(texts, dim: int = 64):
    """Deterministic stand-in for SentenceTransformer.encode: the hashing
    trick — each lowercased whitespace token is polynomial-hashed (same
    7/131 mod-p family as textstats.fingerprint) into one of ``dim``
    buckets, then the count vector is L2-normalized. Pure Python on a
    list[str] batch -> list[list[float]]; exactly restatable in SQL."""
    out = []
    for t in texts:
        v = [0.0] * dim
        for tok in (t or "").lower().split():
            h = 7
            for ch in tok:
                h = (h * 131 + ord(ch)) % 1_000_000_007
            v[h % dim] += 1.0
        n = math.sqrt(sum(x * x for x in v))
        out.append([x / n for x in v] if n > 1e-6 else v)
    return out


def embed_texts(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    encoder=None,
    dim: int = 64,
) -> DataFrame:
    """M3 — batch-encode text into an ``array<double>`` embedding column
    via ``mapInPandas`` (one Arrow batch per call, never per-row Python).
    ``encoder(texts: list[str]) -> list[list[float]]`` is injectable; a
    real SentenceTransformer drops in unchanged."""
    enc = encoder or (lambda ts: fake_encoder_batch(ts, dim))
    fields = df.select(id_col, text_col).schema

    def run(batches):
        import pandas as pd

        for pdf in batches:
            vecs = enc(pdf[text_col].fillna("").tolist())
            yield pd.DataFrame({id_col: pdf[id_col], "embedding": vecs})

    schema = f"{fields[0].name} {fields[0].dataType.simpleString()}, embedding array<double>"
    return df.select(id_col, text_col).mapInPandas(run, schema=schema)


def valid_embeddings(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Invalid-embedding removal (reference :70-76): keep rows whose norm
    is finite and > 1e-6."""
    n = _norm(F.col(vec_col))
    return df.filter(n.isNotNull() & (~F.isnan(n)) & (n > 1e-6))


# ---------------------------------------------------------------------------
# M4 — clustering
# ---------------------------------------------------------------------------


def kmeans_clusters(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 8,
    seed: int = 42,
    max_iter: int = 20,
) -> DataFrame:
    """M4 scale path — Spark ML KMeans (distributed Lloyd's, JVM-side).
    Mirrors the reference's MiniBatchKMeans fallback (:96-99, seed 42);
    HDBSCAN has no JVM equivalent and the reference itself falls back."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array  # noqa: F401

    feat = df.withColumn("__features", array_to_vector(F.col(vec_col)))
    model = KMeans(k=k, seed=seed, maxIter=max_iter, featuresCol="__features",
                   predictionCol="cluster").fit(feat)
    return model.transform(feat).drop("__features")


def seed_centroid_assign(
    df: DataFrame,
    seeds: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed_id_col: str = "cluster",
) -> DataFrame:
    """M4 oracle path — assign each vector to the nearest of a small
    pinned centroid set (squared euclidean; ties -> lowest centroid id).
    ``seeds`` is (seed_id_col, vec_col), tiny and broadcast; one narrow
    crossJoin + window, no iterative state. Equivalent to a single Lloyd
    assignment step from deterministic seeds, which is what makes the
    result restatable in ANSI SQL."""
    s = seeds.select(
        F.col(seed_id_col).alias("__cid"), F.col(vec_col).alias("__cvec")
    )
    d2 = F.aggregate(
        F.zip_with(F.col(vec_col), F.col("__cvec"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy(id_col).orderBy("__d2", "__cid")
    return (
        df.crossJoin(F.broadcast(s))
        .withColumn("__d2", d2)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .withColumn(seed_id_col, F.col("__cid"))
        .drop("__cid", "__cvec", "__d2", "__rn")
    )


# ---------------------------------------------------------------------------
# M5 — representatives
# ---------------------------------------------------------------------------


def cluster_centroids(
    assigned: DataFrame,
    vec_col: str = "embedding",
    cluster_col: str = "cluster",
) -> DataFrame:
    """Element-wise mean vector per cluster. posexplode -> avg -> rebuild:
    the shuffle carries (cluster, pos, val) triples, so centroid
    computation scales with data volume, not vector arity x cluster
    count held on any single node."""
    pos = assigned.select(
        cluster_col, F.posexplode(F.col(vec_col)).alias("pos", "val")
    )
    means = pos.groupBy(cluster_col, "pos").agg(F.avg("val").alias("mv"))
    return (
        means.groupBy(cluster_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "mv"))),
                lambda s: s["mv"],
            ).alias("centroid")
        )
    )


def cluster_representatives(
    assigned: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cluster_col: str = "cluster",
    min_cluster_size: int = 3,
) -> DataFrame:
    """M5 — the member with max cosine similarity to its cluster's mean
    centroid (reference :133-155: skip clusters smaller than
    min_cluster_size or with ~zero centroids; np.argmax takes the FIRST
    max, i.e. ties break to the lowest id)."""
    sizes = assigned.groupBy(cluster_col).agg(F.count(F.lit(1)).alias("size"))
    cents = cluster_centroids(assigned, vec_col, cluster_col)
    joined = (
        assigned.join(F.broadcast(cents), cluster_col)
        .join(F.broadcast(sizes), cluster_col)
        .filter(F.col("size") >= min_cluster_size)
        .withColumn("__cnorm", _norm(F.col("centroid")))
        .filter(F.col("__cnorm") >= 1e-6)
        .withColumn(
            "cosine",
            _dot(F.col(vec_col), F.col("centroid"))
            / (_norm(F.col(vec_col)) * F.col("__cnorm")),
        )
    )
    w = Window.partitionBy(cluster_col).orderBy(F.desc("cosine"), F.col(id_col))
    return (
        joined.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(cluster_col, F.col(id_col).alias("rep_id"), "size", "cosine")
    )


# ---------------------------------------------------------------------------
# M6 — summary
# ---------------------------------------------------------------------------


def cluster_summary_table(
    assigned: DataFrame,
    texts: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cluster_col: str = "cluster",
    text_id_col: str = "doc_id",
    text_col: str = "text",
    sample_len: int = 200,
) -> DataFrame:
    """M6 — (cluster, size, sample_comment): representative's text
    truncated to ``sample_len`` (reference :157-177). Clusters below the
    representative threshold keep size with an empty sample, matching the
    reference's ``rep_comment = '' if rep is None``."""
    sizes = assigned.groupBy(cluster_col).agg(F.count(F.lit(1)).alias("size"))
    reps = cluster_representatives(assigned, vec_col, id_col, cluster_col)
    rep_txt = reps.join(
        texts.select(
            F.col(text_id_col).alias("rep_id"),
            F.substring(F.col(text_col), 1, sample_len).alias("sample_comment"),
        ),
        "rep_id",
        "left",
    ).select(cluster_col, "sample_comment")
    return (
        sizes.join(rep_txt, cluster_col, "left")
        .withColumn("sample_comment", F.coalesce("sample_comment", F.lit("")))
        .orderBy(cluster_col)
    )


def simplified_silhouette(
    df: DataFrame,
    seeds: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed_id_col: str = "cluster",
) -> DataFrame:
    """CL05 — simplified silhouette per cluster (the centroid form:
    a = distance to the assigned centroid, b = distance to the nearest
    OTHER centroid, s = (b - a) / max(a, b) in [-1, 1]) — the standard
    clustering-quality score at the O(n*k) cost the full O(n^2)
    silhouette can't offer at corpus scale; it is what Spark ML's own
    ClusteringEvaluator computes, restated engine-portably.

    Same plan as ``seed_centroid_assign`` (tiny broadcast seed frame,
    one narrow crossJoin, one per-point window) but keeping rank 1 AND
    2 distances. Float discipline: each point's s is rounded to 6
    decimals and scaled to an exact integer micro-unit BEFORE the
    per-cluster sum (t16's rule), so the mean is one correctly-rounded
    division — no accumulation-order hazard.
    """
    s = seeds.select(
        F.col(seed_id_col).alias("__cid"), F.col(vec_col).alias("__cvec")
    )
    d2 = F.aggregate(
        F.zip_with(
            F.col(vec_col), F.col("__cvec"), lambda a, b: (a - b) * (a - b)
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy(id_col).orderBy("__d2", "__cid")
    ranked = (
        df.crossJoin(F.broadcast(s))
        .withColumn("__d2", d2)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 2)
    )
    per_point = ranked.groupBy(id_col).agg(
        F.min(F.when(F.col("__rn") == 1, F.col("__cid"))).alias("cluster"),
        F.min(F.when(F.col("__rn") == 1, F.sqrt("__d2"))).alias("__a"),
        F.min(F.when(F.col("__rn") == 2, F.sqrt("__d2"))).alias("__b"),
    )
    sil = F.when(
        F.greatest("__a", "__b") > 0,
        (F.col("__b") - F.col("__a")) / F.greatest("__a", "__b"),
    ).otherwise(F.lit(0.0))
    s_micro = F.floor(F.round(sil, 6) * 1000000 + 0.5).cast("long")
    return per_point.select("cluster", s_micro.alias("__sm")).groupBy(
        "cluster"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("__sm").cast("long").alias("sum_sil_micro"),
        (F.sum("__sm") / (F.count(F.lit(1)) * 1000000.0)).alias(
            "mean_silhouette"
        ),
    )
