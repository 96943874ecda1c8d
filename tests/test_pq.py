"""Product-quantization ANN: determinism, code shape, recall vs exact."""

from __future__ import annotations

import numpy as np
import pytest

from omni_crawler_spark.operators import pq as PQ
from omni_crawler_spark.operators import similarity as S


@pytest.fixture(scope="module")
def embeddings(spark):
    rng = np.random.default_rng(5)
    # clustered corpus: PQ recall is meaningful when structure exists
    centers = rng.standard_normal((8, 32)) * 3
    rows = []
    for i in range(400):
        c = centers[i % 8]
        rows.append((i, [float(x) for x in c + rng.standard_normal(32)]))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).cache()


@pytest.fixture(scope="module")
def codebooks(embeddings):
    return PQ.train_codebooks(embeddings, dim=32, n_sub=4, n_centroids=16,
                              sample=400)


def test_encode_shape_and_determinism(embeddings, codebooks):
    coded = PQ.pq_encode(embeddings, codebooks)
    a = {r.vec_id: tuple(r.pq_codes) for r in coded.collect()}
    b = {r.vec_id: tuple(r.pq_codes) for r in
         PQ.pq_encode(embeddings, codebooks).collect()}
    assert a == b
    assert all(len(v) == 4 for v in a.values())
    assert all(0 <= c < 16 for v in a.values() for c in v)
    with pytest.raises(ValueError, match="n_sub"):
        PQ.train_codebooks(embeddings, dim=30, n_sub=4)


def test_pq_recall_vs_exact(embeddings, codebooks):
    qids = [0, 1, 2, 3, 4]
    exact = {
        (r.query_id, r.neighbor_id)
        for r in S.cosine_topk(embeddings, query_ids=qids, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in PQ.pq_topk(
            embeddings, qids, codebooks, k=5, rerank=48
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, recall
