"""Product quantization (PQ) — the third ANN scale path beside
hyperplane-LSH (similarity.py) and IVF (ivf.py).

At 10^10 vectors the working set is the problem: 64-dim float32 is
256 B/vector (~2.5 TB); PQ with 8 subvectors × 256 centroids stores
8 B/vector (~80 GB — broadcastable per-executor pages). Search uses
asymmetric distance computation (ADC): the query stays full-precision,
each subvector code looks up a precomputed query×centroid partial-dot
table, so scoring a candidate is 8 table lookups instead of a 64-dim
dot product.

Train: deterministic per-subspace k-means on a hash-ordered
distributed sample (same sampling rule as ivf.train_centroids).
Encode: one Arrow batch pass, argmax over centroids per subspace —
a single matmul per (batch × subspace).
Search: broadcast the (tiny) per-query lookup tables, sum 8 gathers
per row inside a pandas UDF, exact re-rank of the PQ top-R with true
cosine (the standard two-stage recipe).

Everything is numpy float64 with fixed seeds — deterministic across
partitionings; recall vs exact brute force asserted in
tests/test_pq.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, DoubleType, IntegerType

from omni_crawler_spark.operators.similarity import cosine_pair_udf


def _sample_matrix(
    embeddings: DataFrame, sample: int, id_col: str, vec_col: str
) -> np.ndarray:
    rows = (
        embeddings.select(F.col(vec_col), F.xxhash64(F.col(id_col)).alias("_h"))
        .orderBy("_h")
        .limit(sample)
        .select(vec_col)
        .collect()
    )
    return np.asarray([np.asarray(r[0], dtype=np.float64) for r in rows])


def train_codebooks(
    embeddings: DataFrame,
    dim: int = 64,
    n_sub: int = 8,
    n_centroids: int = 16,
    sample: int = 2048,
    iters: int = 10,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """(n_sub, n_centroids, dim/n_sub) codebooks via per-subspace
    k-means (fixed seed/iters). Vectors are L2-normalized first so PQ
    distances align with cosine."""
    if dim % n_sub:
        raise ValueError(f"dim {dim} is not a multiple of n_sub {n_sub}")
    d_sub = dim // n_sub
    x = _sample_matrix(embeddings, sample, id_col, vec_col)
    x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    books = np.zeros((n_sub, n_centroids, d_sub))
    for s in range(n_sub):
        xs = x[:, s * d_sub : (s + 1) * d_sub]
        cent = xs[rng.choice(len(xs), size=min(n_centroids, len(xs)),
                             replace=False)]
        for _ in range(iters):
            d2 = ((xs[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(len(cent)):
                members = xs[assign == c]
                if len(members):
                    cent[c] = members.mean(axis=0)
        books[s, : len(cent)] = cent
    return books


def pq_encode(
    embeddings: DataFrame,
    codebooks: np.ndarray,
    vec_col: str = "embedding",
) -> DataFrame:
    """Adds ``pq_codes`` (array<int>, one code per subspace): the
    8-byte compressed representation. One matmul per Arrow batch per
    subspace."""
    n_sub, _, d_sub = codebooks.shape

    @pandas_udf(ArrayType(IntegerType()))
    def encode(vecs: pd.Series) -> pd.Series:
        m = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        if m.size == 0:
            return pd.Series([])
        m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        codes = np.zeros((len(m), n_sub), dtype=np.int32)
        for s in range(n_sub):
            xs = m[:, s * d_sub : (s + 1) * d_sub]
            # ||x - c||² = ||x||² - 2x·c + ||c||²; argmin over c
            dots = xs @ codebooks[s].T
            norms = (codebooks[s] ** 2).sum(axis=1)
            codes[:, s] = (norms[None, :] - 2 * dots).argmin(axis=1)
        return pd.Series(codes.tolist())

    return embeddings.withColumn("pq_codes", encode(F.col(vec_col)))


def pq_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    codebooks: np.ndarray,
    k: int = 5,
    rerank: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage ADC search: PQ-approximate scores over the whole
    corpus (8 table lookups/row), take top-``rerank`` per query, exact
    cosine re-rank of those, return top-k. The corpus pass reads only
    the 8-int codes — at scale the codes table is the index."""
    n_sub, n_cent, d_sub = codebooks.shape
    q_rows = (
        embeddings.filter(F.col(id_col).isin(query_ids))
        .select(id_col, vec_col)
        .collect()
    )
    # per-query ADC lookup tables: table[q][s][c] = q_s · c
    tables = {}
    for r in q_rows:
        qv = np.asarray(r[1], dtype=np.float64)
        qv = qv / max(np.linalg.norm(qv), 1e-12)
        tables[int(r[0])] = np.stack(
            [
                codebooks[s] @ qv[s * d_sub : (s + 1) * d_sub]
                for s in range(n_sub)
            ]
        )  # (n_sub, n_cent)

    coded = pq_encode(embeddings, codebooks, vec_col)
    qid_list = sorted(tables)
    tab = np.stack([tables[q] for q in qid_list])  # (Q, n_sub, n_cent)

    @pandas_udf(ArrayType(DoubleType()))
    def adc_scores(codes: pd.Series) -> pd.Series:
        c = np.asarray(codes.tolist(), dtype=np.int64)  # (rows, n_sub)
        if c.size == 0:
            return pd.Series([])
        # gather: out[r, q] = Σ_s tab[q, s, c[r, s]]
        out = np.zeros((len(c), len(qid_list)))
        for s in range(n_sub):
            out += tab[:, s, c[:, s]].T  # (rows, Q)
        return pd.Series(out.tolist())

    scored = (
        coded.withColumn("_scores", adc_scores(F.col("pq_codes")))
        .select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("ne"),
            F.posexplode("_scores").alias("_qi", "pq_score"),
        )
        .withColumn(
            "query_id",
            F.element_at(
                F.array(*[F.lit(q) for q in qid_list]), F.col("_qi") + 1
            ),
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("pq_score"), "neighbor_id"
    )
    shortlist = (
        scored.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= rerank)
        .drop("_r", "pq_score", "_qi")
    )
    q = embeddings.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qe")
    )
    reranked = shortlist.join(F.broadcast(q), "query_id").withColumn(
        "sim", F.round(cosine_pair_udf()(F.col("qe"), F.col("ne")), 4)
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("sim"), "neighbor_id")
    return (
        reranked.withColumn("rnk", F.row_number().over(w2))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", F.col("rnk").alias("rank"), "sim")
    )
