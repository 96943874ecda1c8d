"""IVF (inverted-file) approximate nearest neighbor — the second
scale path for similarity search (prompt: "an IVF or LSH-bucketed
variant"), complementing the random-hyperplane LSH in similarity.py.

Train: deterministic numpy k-means (seeded init, fixed iterations) on
a driver-side sample — the centroid table is tiny and broadcast.
Index: one pandas-UDF pass assigns every vector to its nearest
centroid (one matmul per Arrow batch).
Search: queries probe their ``nprobe`` nearest centroid cells only —
at 10^10 vectors with 4096 cells and nprobe=8, each query scores
~0.2% of the corpus instead of all of it, and the cell id is the
natural partition key for the index table.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

from omni_crawler_spark.operators.similarity import cosine_pair_udf
from omni_crawler_spark.session import local_rows


def train_centroids(
    embeddings: DataFrame,
    n_cells: int = 16,
    dim: int = 64,
    sample: int = 2048,
    iters: int = 10,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> np.ndarray:
    """Deterministic k-means (fixed seed/iters) on a bounded sample.
    The sample is tiny relative to the corpus — training cost is O(1)
    in corpus size; only assignment is distributed.

    Sampling: the ``sample`` rows with the smallest ``xxhash64(id)`` —
    a deterministic hash-shuffled draw executed as a distributed
    TakeOrderedAndProject (per-partition top-k, then merge). A plain
    ``limit(sample)`` would read a partition PREFIX — on a partitioned
    100 TB table that is a biased sample (whatever was ingested first)
    and degrades cell balance."""
    rows = (
        embeddings.select(F.col(vec_col), F.xxhash64(F.col(id_col)).alias("_h"))
        .orderBy("_h")
        .limit(sample)
        .select(vec_col)
        .collect()
    )
    x = np.asarray([np.asarray(r[0], dtype=np.float64) for r in rows])
    x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    cent = x[rng.choice(len(x), size=min(n_cells, len(x)), replace=False)]
    for _ in range(iters):
        sims = x @ cent.T
        assign = sims.argmax(axis=1)
        for c in range(len(cent)):
            members = x[assign == c]
            if len(members):
                v = members.mean(axis=0)
                cent[c] = v / max(np.linalg.norm(v), 1e-12)
    return cent


def _assign_udf(centroids: np.ndarray):
    @pandas_udf(LongType())
    def assign(vecs: pd.Series) -> pd.Series:
        m = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        if m.size == 0:
            return pd.Series(np.zeros(0, dtype=np.int64))
        m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        return pd.Series((m @ centroids.T).argmax(axis=1).astype(np.int64))

    return assign


def ivf_index(
    embeddings: DataFrame, centroids: np.ndarray, vec_col: str = "embedding"
) -> DataFrame:
    """Adds the ``cell`` column — at scale this is the partition /
    cluster key of the index table."""
    return embeddings.withColumn("cell", _assign_udf(centroids)(F.col(vec_col)))


def ivf_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    centroids: np.ndarray,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    indexed: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k: score only vectors in each query's nprobe
    nearest cells. The candidate join is an equi-join on cell —
    shuffle bounded by probed cells, never the whole corpus.

    Pass ``indexed`` (rows already carrying ``cell``, e.g. from a
    persisted :class:`IVFIndex`) to skip the assignment pass — the
    production path, where assignment was paid at ingest."""
    if indexed is None:
        indexed = ivf_index(embeddings, centroids, vec_col)
    q_rows = indexed.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qe")
    ).collect()
    probes = []
    for r in q_rows:
        qv = np.asarray(r.qe, dtype=np.float64)
        qv /= max(np.linalg.norm(qv), 1e-12)
        order = np.argsort(-(centroids @ qv))[:nprobe]
        probes += [(int(r.query_id), int(c)) for c in order]
    probe_df = F.broadcast(
        local_rows(indexed.sparkSession, probes, "query_id long, cell long")
    )
    q = indexed.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qe")
    )
    cand = (
        indexed.join(probe_df, "cell")
        .filter(F.col(id_col) != F.col("query_id"))
        .select("query_id", F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("ne"))
        .join(F.broadcast(q), "query_id")
    )
    scored = cand.withColumn(
        "sim", F.round(cosine_pair_udf()(F.col("qe"), F.col("ne")), 4)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), "neighbor_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", F.col("rnk").alias("rank"), "sim")
    )


class IVFIndex:
    """Persisted IVF index: centroids trained once, assignments
    appended in O(batch) — the similarity-search twin of the
    incremental dedup index (operators/dedup_incremental.py).

    Layout under ``root``: ``centroids.npy`` (tiny, written once,
    atomic rename) + a SnapshotTable of (id, embedding, cell) rows.
    New batches are assigned with the FROZEN centroids (one broadcast
    matmul per Arrow batch, no corpus re-read); searches probe the
    persisted assignments, so query cost is independent of how many
    batches built the index. Centroid drift at 10^10-vector horizons
    is handled the way production IVF systems do: retrain offline
    into a NEW root, cut over, never mutate in place.

    Re-crawl semantics: like the other two persisted indexes
    (SearchIndex, MinHashIndex), a changed page's embedding is
    replaced via :meth:`reindex` / dropped via :meth:`delete` through
    the SHARED deletion-vector machinery
    (lakehouse/deletion_vectors.py) — the analog of the reference's
    replace-by-article-id stores (PG ``ON CONFLICT DO UPDATE``
    omni_storage.py:137-205, SQLite ``INSERT OR REPLACE`` :410-464,
    ES doc_id :275-296). Searches anti-filter stale assignments with
    a broadcast tombstone-floor join (O(#reindexed-since-compaction),
    index side streams); ``compact`` folds the vectors physically.
    """

    def __init__(
        self,
        root: str,
        n_cells: int = 16,
        dim: int = 64,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ):
        import os

        from omni_crawler_spark.lakehouse.deletion_vectors import (
            DeletionVectors,
        )
        from omni_crawler_spark.lakehouse.table import SnapshotTable

        self.root = root
        self.table = SnapshotTable(root, name="ivf_assignments")
        self.dv = DeletionVectors(self.table, root, id_col)
        self.n_cells = n_cells
        self.dim = dim
        self.id_col = id_col
        self.vec_col = vec_col
        self._cent_path = os.path.join(root, "centroids.npy")
        self._centroids: np.ndarray | None = None

    def _load_centroids(self) -> np.ndarray:
        if self._centroids is None:
            self._centroids = np.load(self._cent_path)
        return self._centroids

    def bootstrap(
        self, spark, corpus: DataFrame, op_id: str | None = None
    ) -> None:
        """Train centroids (once — an existing centroid file wins, so
        replays and later sessions reuse the frozen ones) and index
        the corpus."""
        import os
        import uuid

        if not os.path.isfile(self._cent_path):
            cent = train_centroids(
                corpus,
                n_cells=self.n_cells,
                dim=self.dim,
                vec_col=self.vec_col,
                id_col=self.id_col,
            )
            tmp = f"{self._cent_path}.tmp-{uuid.uuid4().hex}.npy"
            np.save(tmp, cent)
            os.replace(tmp, self._cent_path)
        self.add_batch(spark, corpus, op_id=op_id)

    def add_batch(
        self, spark, batch: DataFrame, op_id: str | None = None
    ) -> None:
        """Assign with the frozen centroids and append — O(batch)."""
        self.dv.append(self._assigned(batch), op_id=op_id)

    def _assigned(self, batch: DataFrame) -> DataFrame:
        return ivf_index(batch, self._load_centroids(), self.vec_col).select(
            self.id_col, self.vec_col, "cell"
        )

    def reindex(
        self, spark, batch: DataFrame, op_id: str | None = None
    ) -> None:
        """Replace the stored embedding+assignment of ``batch``'s ids
        (re-crawled, changed pages whose embeddings moved): one
        O(batch) frozen-centroid assignment appended at a fresh
        generation + one tombstone row per id marking older
        generations dead — subsequent searches score ONLY the new
        vector. Crash anywhere replays to the same state (the floor
        is recovered from the committed assignment leg,
        lakehouse/deletion_vectors.py)."""
        self.dv.reindex(
            spark,
            self._assigned(batch),
            batch.select(self.id_col),
            op_id=op_id,
        )

    def delete(
        self, spark, ids: DataFrame, op_id: str | None = None
    ) -> None:
        """Drop vectors from the index (pages gone on re-crawl): one
        tombstone row per id; rows are reclaimed at ``compact`` and a
        later :meth:`reindex` resurrects the id. ``ids`` must carry
        the index's id column."""
        self.dv.delete(ids.select(self.id_col), op_id=op_id)

    def search(
        self, spark, query_ids: list[int], k: int = 5, nprobe: int = 4
    ) -> DataFrame:
        indexed = self.dv.live(spark)
        return ivf_topk(
            indexed,
            query_ids,
            self._load_centroids(),
            k=k,
            nprobe=nprobe,
            id_col=self.id_col,
            vec_col=self.vec_col,
            indexed=indexed,
        )

    def compact(self, spark, op_id: str | None = None) -> int:
        """Fold append-per-batch dirs into one snapshot with the
        deletion vectors APPLIED (stale assignments of re-indexed ids
        physically dropped, tombstones cleared) — read-amp bound,
        same cadence policy as the dedup index."""
        return self.dv.compact(spark, op_id=op_id)
