"""IVF ANN: determinism + recall vs exact brute force."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from omni_crawler_spark.operators import ivf as I
from omni_crawler_spark.operators import similarity as S


@pytest.fixture(scope="module")
def embeddings(spark):
    rng = np.random.default_rng(11)
    # 4 well-separated clusters + noise → IVF cells align with clusters
    centers = rng.standard_normal((4, 16)) * 5
    rows = []
    for i in range(400):
        c = centers[i % 4]
        v = c + rng.standard_normal(16)
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).cache()


def test_centroids_deterministic(embeddings):
    c1 = I.train_centroids(embeddings, n_cells=8)
    c2 = I.train_centroids(embeddings, n_cells=8)
    assert np.array_equal(c1, c2)


def test_index_covers_all(embeddings):
    cent = I.train_centroids(embeddings, n_cells=8)
    idx = I.ivf_index(embeddings, cent)
    assert idx.filter(F.col("cell").isNull()).count() == 0
    assert idx.select("cell").distinct().count() <= 8


def test_ivf_recall_vs_exact(embeddings):
    cent = I.train_centroids(embeddings, n_cells=8)
    qids = [0, 1, 2, 3]
    exact = {
        (r.query_id, r.neighbor_id)
        for r in S.cosine_topk(embeddings, qids, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in I.ivf_topk(embeddings, qids, cent, k=5, nprobe=2).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, recall  # clustered data → high recall at nprobe=2


def test_persisted_index_incremental_equals_oneshot(spark, embeddings):
    """Split ingestion over a persisted index returns the same
    results as one-shot ivf_topk with the same centroids: frozen
    centroids make assignment batch-invariant."""
    import tempfile

    root = tempfile.mkdtemp(prefix="ivfidx_")
    ix = I.IVFIndex(root, n_cells=8)
    first = embeddings.filter(F.col("vec_id") < 200)
    rest = embeddings.filter(F.col("vec_id") >= 200)
    ix.bootstrap(spark, first, op_id="boot")
    v = ix.table.current_version()
    ix.bootstrap(spark, first, op_id="boot")  # replay no-ops
    assert ix.table.current_version() == v
    ix.bootstrap(spark, rest, op_id="b1")

    qids = [0, 1, 2, 3]
    got = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in ix.search(spark, qids, k=5, nprobe=2).collect()
    }
    cent = ix._load_centroids()
    want = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in I.ivf_topk(
            embeddings, qids, cent, k=5, nprobe=2
        ).collect()
    }
    assert got == want

    # compaction folds dirs and preserves search results
    ix.compact(spark, op_id="c1")
    assert len(ix.table.history()[-1]["data_dirs"]) == 1
    after = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in ix.search(spark, qids, k=5, nprobe=2).collect()
    }
    assert after == got


def test_ivf_index_rejects_mismatched_params(tmp_path):
    """A root's centroids and assignments hold under ONE (n_cells,
    id_col, vec_col) config: reopening it with other params fails
    loudly instead of silently reusing the old centroids."""
    root = str(tmp_path / "ivf")
    I.IVFIndex(root, n_cells=2)
    with pytest.raises(ValueError, match="built with"):
        I.IVFIndex(root, n_cells=8)
    I.IVFIndex(root, n_cells=2)  # matching params reopen fine
