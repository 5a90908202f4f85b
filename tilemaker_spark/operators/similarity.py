"""Similarity search over embedding columns (array<float>).

Graft additions for training-data pipelines (not in the reference):

* brute-force cosine top-k — the exact baseline, dot products computed
  JVM-side with higher-order functions (zip_with + aggregate), window
  top-k.  Right answer, O(Q*N) — fine when one side broadcasts.
* IVF-Flat ANN — a deterministic k-means coarse quantizer (trained on a
  bounded driver-side sample, centroids shipped in the UDF closure),
  candidates partitioned by nearest-centroid list id, queries probing
  their n_probes nearest lists, exact re-rank.  The scale path: its
  lists adapt to the data distribution, so clustered real-world
  embeddings get balanced lists instead of mega-buckets.
* embedding near-duplicate pairs on an exact integer-quantized dot.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dot_expr(a, b):
    """JVM-side dot product of two array<float/double> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_expr(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_expr(a, b):
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


def cosine_topk_bruteforce(
    queries: DataFrame, candidates: DataFrame, k: int,
    query_id: str = "query_id", cand_id: str = "cand_id",
    q_vec: str = "embedding", c_vec: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k; broadcasts the query side.
    Output: (query_id, rank, cand_id) ordered by (sim desc, cand_id)."""
    q = queries.select(F.col(query_id).alias("query_id"),
                       F.col(q_vec).alias("_qv"))
    c = candidates.select(F.col(cand_id).alias("cand_id"),
                          F.col(c_vec).alias("_cv"))
    joined = c.crossJoin(F.broadcast(q)).filter(
        F.col("query_id") != F.col("cand_id"))
    sim = cosine_expr(F.col("_qv").cast("array<double>"),
                      F.col("_cv").cast("array<double>")).alias("sim")
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(),
                                               F.col("cand_id").asc())
    return (
        joined.select("query_id", "cand_id", sim)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "cand_id", "sim")
    )


def label_recall_at_k(embeddings: DataFrame, k: int = 5,
                      n_queries: int = 50, id_col: str = "vec_id",
                      vec_col: str = "embedding",
                      label_col: str = "label") -> DataFrame:
    """Embedding-quality retrieval eval (the recall@k every embedding
    model card reports): for each of the first ``n_queries`` vectors,
    run EXACT cosine top-k over the corpus (self excluded) and report
    the best rank at which a candidate sharing the query's label
    appears — ``hit_rank`` is null when no same-label neighbor is in
    the top-k, so ``avg(hit_rank is not null)`` is recall@k and the
    per-query rows (not just the scalar) gate the oracle hash.

    Scale shape: the query side is the bounded small dim (broadcast by
    :func:`cosine_topk_bruteforce`); the corpus streams once; the two
    label lookups join the tiny top-k result (n_queries·k rows,
    broadcast) against the corpus projection.  At 100 TB the eval set
    stays thousands of queries — the corpus-side scan dominates and
    shuffles nothing."""
    q = embeddings.filter(F.col(id_col) < n_queries)
    topk = cosine_topk_bruteforce(
        q.select(F.col(id_col).alias("query_id"), vec_col),
        embeddings.select(F.col(id_col).alias("cand_id"), vec_col),
        k=k)
    c_labels = embeddings.select(F.col(id_col).alias("cand_id"),
                                 F.col(label_col).alias("c_label"))
    q_labels = q.select(F.col(id_col).alias("query_id"),
                        F.col(label_col).alias("q_label"))
    hits = (F.broadcast(topk).join(c_labels, "cand_id")
            .join(F.broadcast(q_labels), "query_id"))
    return (hits.groupBy("query_id", "q_label")
            .agg(F.min(F.when(F.col("c_label") == F.col("q_label"),
                              F.col("rank"))).alias("hit_rank"))
            .select("query_id", F.col("q_label").alias("label"),
                    F.col("hit_rank").cast("int").alias("hit_rank")))


def _cap_buckets(df: DataFrame, bucket_col: str,
                 max_bucket_size: int) -> DataFrame:
    """Drop rows in buckets larger than ``max_bucket_size`` (same
    mega-bucket guard as dedup.minhash_lsh_pairs): one window count over
    the bucket key — the same shuffle the downstream equi-join needs, so
    the cap is ~free."""
    w = Window.partitionBy(bucket_col)
    return (df.withColumn("_bn", F.count(F.lit(1)).over(w))
            .filter(F.col("_bn") <= max_bucket_size)
            .drop("_bn"))


def train_ivf_centroids(df: DataFrame, vec_col: str = "embedding",
                        nlist: int = 64, sample_size: int = 20000,
                        iters: int = 10, seed: int = 42) -> np.ndarray:
    """Deterministic k-means coarse quantizer for IVF (Lloyd iterations,
    numpy, unit-normalized so assignment is max-dot = max-cosine).

    Trains on a bounded driver-side sample (``limit(sample_size)`` — at
    64-dim floats 20k rows is ~5 MB; IVF quantizers are always trained
    on a sample, the index build itself stays distributed).  Same seed +
    same input order -> identical centroids, so a re-run reuses the same
    partitioning (resume-friendly).
    """
    rows = df.select(vec_col).limit(sample_size).collect()
    x = np.array([r[0] for r in rows], dtype=np.float64)
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    nlist = min(nlist, len(x))
    rng = np.random.Generator(np.random.PCG64(seed))
    cent = x[rng.choice(len(x), nlist, replace=False)]
    for _ in range(iters):
        assign = np.argmax(x @ cent.T, axis=1)          # spherical k-means
        for j in range(nlist):
            members = x[assign == j]
            if len(members):
                cent[j] = members.mean(axis=0)
        cent /= np.maximum(np.linalg.norm(cent, axis=1, keepdims=True),
                           1e-12)
    return cent.astype(np.float32)


def ivf_assign_udf(centroids: np.ndarray, n_probes: int = 1):
    """array<long> of the ``n_probes`` nearest-centroid list ids per
    vector (cosine = dot on the unit-normalized centroids), nearest
    first.  Candidates use n_probes=1; queries probe several lists."""
    cent = np.asarray(centroids, dtype=np.float32)
    n_probes = max(1, min(n_probes, len(cent)))

    @F.pandas_udf("array<long>")
    def assign(vecs: pd.Series) -> pd.Series:
        mat = np.vstack(vecs.to_numpy()).astype(np.float32)
        mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True),
                          1e-12)
        dots = mat @ cent.T                              # (B, nlist)
        if n_probes == 1:
            top = np.argmax(dots, axis=1)[:, None]
        else:
            part = np.argpartition(-dots, n_probes - 1,
                                   axis=1)[:, :n_probes]
            order = np.argsort(
                -np.take_along_axis(dots, part, axis=1), axis=1)
            top = np.take_along_axis(part, order, axis=1)
        return pd.Series(list(top.astype(np.int64)))

    return assign


def ann_ivf_topk(
    queries: DataFrame, candidates: DataFrame, k: int,
    centroids: np.ndarray, n_probes: int = 4,
    query_id: str = "query_id", cand_id: str = "cand_id",
    q_vec: str = "embedding", c_vec: str = "embedding",
    max_list_size: int | None = None,
) -> DataFrame:
    """IVF-Flat approximate top-k: nearest-centroid list equi-join +
    exact cosine re-rank.  Train ``centroids`` once with
    :func:`train_ivf_centroids` and reuse across calls.

    Scale shape: one shuffle on the compact list id; each candidate
    lands in exactly one list (total join input = |C| * n_probes-ish,
    vs LSH's |C| * buckets-per-sig).  k-means lists track the real
    distribution, so the clustered embeddings that break hyperplane LSH
    (one dense cluster -> one bucket) spread over many lists here.
    ``max_list_size`` optionally applies the same drop-guard as the LSH
    path for adversarially degenerate inputs (all-identical vectors).
    """
    c_assign = ivf_assign_udf(centroids, 1)
    # coalesce makes _list provably non-null so the join's inferred
    # isnotnull(_list) folds away — otherwise Catalyst pushes that
    # filter below the projection and evaluates the assign UDF TWICE
    # over the full candidate set (the dominant index-build cost)
    c = candidates.select(
        F.col(cand_id).alias("cand_id"), F.col(c_vec).alias("_cv"),
        F.coalesce(F.element_at(c_assign(F.col(c_vec)), 1),
                   F.lit(-1).cast("long")).alias("_list"))
    if max_list_size is not None:
        c = _cap_buckets(c, "_list", max_list_size)
    q_assign = ivf_assign_udf(centroids, n_probes)
    q = queries.select(F.col(query_id).alias("query_id"),
                       F.col(q_vec).alias("_qv"),
                       F.explode(q_assign(F.col(q_vec))).alias("_list"))
    joined = q.join(c, on="_list", how="inner").filter(
        F.col("query_id") != F.col("cand_id"))
    sim = cosine_expr(F.col("_qv").cast("array<double>"),
                      F.col("_cv").cast("array<double>")).alias("sim")
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(),
                                               F.col("cand_id").asc())
    return (
        joined.select("query_id", "cand_id", sim)
        .dropDuplicates(["query_id", "cand_id"])
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "cand_id", "sim")
    )


def quantized_dot(a, b, scale: int = 64):
    """Exact-integer dot product of two float vectors after symmetric
    fixed-scale int quantization: q(x) = floor(x*scale + 0.5).  Both
    the quantization (one double multiply-add + floor, bit-identical
    across engines) and the int64 dot are EXACT, so crossmodal gates
    built on it are oracle-checkable — unlike a raw float cosine,
    where the summation order alone flips near-threshold rows.
    Pure Catalyst (transform/zip_with/aggregate), zero Python."""
    qa = F.transform(a, lambda x: F.floor(x.cast("double") * scale
                                          + F.lit(0.5)))
    qb = F.transform(b, lambda x: F.floor(x.cast("double") * scale
                                          + F.lit(0.5)))
    return F.aggregate(
        F.zip_with(qa, qb, lambda x, y: x * y),
        F.lit(0).cast("long"), lambda acc, v: acc + v)


def crossmodal_gate(pairs: DataFrame, a_col: str = "img_emb",
                    b_col: str = "txt_emb", scale: int = 64,
                    threshold: int = 0) -> DataFrame:
    """CLIP-style image<->caption alignment gate: keep a pair when the
    quantized embedding dot clears the threshold — the filtering stage
    LAION ran on 5B crawled pairs (Schuhmann et al. 2022 §2.2, CLIP
    similarity >= 0.28) re-expressed exactly.  int8-style fixed-scale
    quantization is standard retrieval practice AND makes the gate
    deterministic: the accept bit is a pure integer function of the
    inputs, identical on any engine, any partitioning, any SIMD width
    — a float gate flips near-threshold rows between runs, which at
    10^9 pairs means a non-reproducible training set.  Map-only, zero
    shuffles, zero Python."""
    dot = quantized_dot(F.col(a_col), F.col(b_col), scale)
    return pairs.withColumn("dot_q", dot).withColumn(
        "accept", (F.col("dot_q") >= threshold).cast("int")).drop(
        a_col, b_col)


def embedding_near_dups_exact(vecs: DataFrame, id_col: str = "vec_id",
                              emb_col: str = "embedding",
                              scale: int = 64, threshold: int = 1000,
                              dim: int | None = None) -> DataFrame:
    """Embedding near-dup pairs on the EXACT quantized dot: every pair whose fixed-scale integer
    dot (:func:`quantized_dot`) clears ``threshold``.  Declared
    broadcast-bounded O(n²) baseline (same contract as
    :func:`cosine_topk_bruteforce`): one side broadcasts, so it is the
    ground-truth generator for recall audits and small candidate sets,
    not the planet-scale path — that is the bucketed variant.
    Integer-exact end to end, so any engine recomputes it
    bit-identically.  Output: (id_a, id_b, dot_q).

    Execution shape: each row is quantized ONCE (per-row transform,
    not per-pair), then the vector is widened into ``dim`` scalar
    columns so the per-pair dot is a flat 64-term multiply-add inside
    whole-stage codegen — Catalyst's higher-order functions
    (zip_with/aggregate) are interpreted per ELEMENT, which at n²/2
    pairs × dim elements is the difference between seconds and
    minutes.  ``dim`` is read from the first row when not given
    (tiny driver lookup, standard for a fixed-dim embedding table)."""
    if dim is None:
        dim = len(vecs.select(emb_col).first()[0])
    quant = F.transform(
        F.col(emb_col),
        lambda x: F.floor(x.cast("double") * scale + F.lit(0.5)))

    def widened(tag: str) -> DataFrame:
        q = vecs.select(F.col(id_col).alias(f"id_{tag}"),
                        quant.alias("_q"))
        return q.select(
            f"id_{tag}",
            *[F.element_at("_q", i + 1).alias(f"_{tag}{i}")
              for i in range(dim)])

    a, b = widened("a"), widened("b")
    dot = None
    for i in range(dim):
        t = F.col(f"_a{i}") * F.col(f"_b{i}")
        dot = t if dot is None else dot + t
    return (F.broadcast(a).join(b, F.col("id_a") < F.col("id_b"))
            .withColumn("dot_q", dot)
            .filter(F.col("dot_q") >= threshold)
            .select("id_a", "id_b", "dot_q"))
