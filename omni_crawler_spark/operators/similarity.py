"""Similarity search over an embedding column (array<float>).

Baseline: brute-force cosine top-k — broadcast the (small) query set
against the full corpus; the dot product is a columnar fold
(zip_with + aggregate) in double precision, left-to-right, so scores
are bit-reproducible across engines/partitionings.

Scale path: random-hyperplane LSH bucketing — at 10^10 vectors the
broadcast-queries pattern still works (queries are small), but
all-pairs near-dup needs bucketing so pair expansion is bounded by
collisions, not n² (``operators/dedup.py::bucket_pairs``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, DoubleType, LongType

from omni_crawler_spark.operators.dedup import bucket_pairs
from omni_crawler_spark.session import spread


def dot(a: Column, b: Column) -> Column:
    """Σ a_i·b_i in double, sequential fold (deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine(a: Column, b: Column) -> Column:
    """HOF-fold cosine — bit-identical to the DuckDB oracle's
    sequential ``list_dot_product``, so it stays on the oracle-paired
    exact queries (sim_topk_cosine, dedup_embedding_cosine). Spark
    interprets HOF lambdas (no codegen) — use ``cosine_pair_udf`` on
    every scale/hot path instead."""
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def cosine_pair_udf():
    """Vectorized cosine over an (a, b) vector-pair column: Arrow
    batch → two stacked float64 matrices → one rowwise einsum. Returns
    the RAW double; callers apply ``F.round`` JVM-side so rounding
    semantics match the HOF/oracle version.

    The UDF is marked non-deterministic (see below), so use its result
    only in a Project (``select``/``withColumn``) or a Filter: Spark's
    analyzer rejects a non-deterministic expression in a join
    condition, an aggregate or a window spec. Project the score into a
    column first and join, group or rank on that column."""

    @pandas_udf(DoubleType())
    def cos(a: pd.Series, b: pd.Series) -> pd.Series:
        if len(a) == 0:
            return pd.Series(np.zeros(0, dtype=np.float64))
        ma = np.asarray([np.asarray(v, dtype=np.float64) for v in a])
        mb = np.asarray([np.asarray(v, dtype=np.float64) for v in b])
        num = np.einsum("ij,ij->i", ma, mb)
        den = np.sqrt(np.einsum("ij,ij->i", ma, ma)) * np.sqrt(
            np.einsum("ij,ij->i", mb, mb)
        )
        return pd.Series(num / den)

    # non-deterministic marking (guide §4.4): stops the optimizer
    # pushing a caller's `sim >= t` filter below the projection and
    # running the kernel twice (two ArrowEvalPython nodes per plan);
    # the function itself is pure.
    return cos.asNondeterministic()


def cosine_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force exact top-k cosine neighbors for the given query ids.

    Physical plan: broadcast-nested-loop of |queries| × corpus (the
    query side is tiny → broadcast), then per-query top-k via
    row_number window partitioned by query — no global sort.
    """
    q = embeddings.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qe")
    )
    # spread the corpus side: the interpreted HOF-fold cosine below is
    # the CPU cost
    c = embeddings.transform(spread, F.col(id_col)).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("ne")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("sim", F.round(cosine(F.col("qe"), F.col("ne")), 4))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), "neighbor_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", F.col("rnk").alias("rank"), "sim")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).astype(np.float64)


def lsh_bucket_udf(dim: int, n_planes: int = 16, seed: int = 42):
    """Vectorized random-hyperplane LSH signature: one int bucket per
    vector. Arrow batches → one numpy matmul per batch (no per-row
    Python)."""
    planes = _hyperplanes(dim, n_planes, seed)

    @pandas_udf(LongType())
    def bucket(vecs: pd.Series) -> pd.Series:
        m = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        if m.size == 0:
            return pd.Series(np.zeros(0, dtype=np.int64))
        bits = (m @ planes.T) > 0
        weights = (1 << np.arange(n_planes, dtype=np.int64))
        return pd.Series((bits @ weights).astype(np.int64))

    return bucket


def ann_lsh_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    dim: int = 64,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: only score candidates sharing the query's
    LSH bucket. With n_planes=8 → 256 buckets, each query scores
    ~corpus/256 candidates instead of the full corpus. Recall is
    tunable via n_planes (fewer planes → bigger buckets → higher
    recall, more work)."""
    bucket = lsh_bucket_udf(dim, n_planes)
    tagged = embeddings.withColumn("bucket", bucket(F.col(vec_col)))
    q = tagged.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qe"), "bucket"
    )
    c = tagged.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("ne"), "bucket"
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "sim", F.round(cosine_pair_udf()(F.col("qe"), F.col("ne")), 4)
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), "neighbor_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", F.col("rnk").alias("rank"), "sim")
    )


def lsh_table_buckets_udf(dim: int, n_planes: int, n_tables: int, seed: int = 42):
    """One bucket id per hash table (banding for hyperplane LSH): table
    ``t`` projects onto its own ``n_planes`` hyperplanes (seed+t). A
    pair is a candidate if it collides in ANY table — recall for pairs
    at cosine s is ``1-(1-p^n_planes)^n_tables`` with
    ``p = 1-acos(s)/π``, tunable without touching the join shape.
    Arrow batch → one (rows × tables·planes) matmul."""
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_tables * n_planes, dim)).astype(np.float64)
    weights = 1 << np.arange(n_planes, dtype=np.int64)

    @pandas_udf(ArrayType(LongType()))
    def buckets(vecs: pd.Series) -> pd.Series:
        m = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        if m.size == 0:
            return pd.Series([])
        bits = (m @ planes.T) > 0  # rows × (tables·planes)
        per_table = bits.reshape(len(m), n_tables, n_planes) @ weights
        return pd.Series(per_table.astype(np.int64).tolist())

    return buckets


def embedding_near_dups(
    embeddings: DataFrame,
    threshold: float = 0.95,
    dim: int = 64,
    n_planes: int = 16,
    n_tables: int = 48,
    max_bucket_size: int = 200,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All pairs with cosine >= threshold — the SCALE PATH for
    embedding dedup (the exact O(n²) twin is the oracle query only).

    Plan shape: one Arrow pass tags every vector with ``n_tables``
    LSH bucket ids → posexplode → ``bucket_pairs`` on (table, bucket)
    → distinct pairs → vectorized cosine verify. Two guarantees at
    scale: pair expansion is bounded by bucket collisions (never n²),
    and ``max_bucket_size`` skips degenerate buckets (e.g. the
    all-zeros signature of boilerplate embeddings) whose pairwise
    expansion is quadratic — the same blocking primitive as every
    generator in operators/dedup.py.

    Banding is tuned to the verify threshold exactly like the r5
    MinHash (bands,rows) retune: for pairs at cosine s the per-plane
    collision rate is p = 1-acos(s)/π, table recall p^n_planes,
    overall 1-(1-p^n_planes)^n_tables. The old (8 planes, 8 tables)
    gave 0.935 recall at s=0.9 while admitting random pairs (p≈0.5)
    at 8·2^-8 ≈ 3.1% — n²-proportional verify flood (7.3M candidate
    pairs for 20k vectors at sf1.0, to confirm 25 true dups).
    (16 planes, 48 tables) RAISES recall at s=0.9 to 0.985 and cuts
    the random admission rate 43x to 48·2^-16 ≈ 0.07% (~150k
    candidates). Identical blocking shape; the tagging matmul grows to
    768 planes — still one Arrow batch op."""
    tagger = lsh_table_buckets_udf(dim, n_planes, n_tables)
    # spread before the Arrow tagger: its matmul pass is the CPU cost
    tagged = (
        embeddings.select(F.col(id_col), F.col(vec_col))
        .transform(spread, F.col(id_col))
        .select(
            F.col(id_col), tagger(F.col(vec_col)).alias("_bks")
        )
        .select(
            id_col, F.posexplode("_bks").alias("table", "bucket")
        )
    )
    pairs = (
        bucket_pairs(tagged, id_col, ["table", "bucket"], max_bucket_size)
        .distinct()
        # eager: the (collision-bounded) candidate pairs are
        # materialized here, so the vector-attach joins below start
        # from them, not the tagging pass
        .localCheckpoint()
    )
    va = embeddings.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va")
    )
    vb = embeddings.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb")
    )
    # spread between the vector-attach joins and the cosine kernel,
    # the CPU-bound verify
    return (
        pairs.join(va, "id_a")
        .join(vb, "id_b")
        .transform(spread, "id_a", "id_b")
        .withColumn(
            "sim", F.round(cosine_pair_udf()(F.col("va"), F.col("vb")), 4)
        )
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )
