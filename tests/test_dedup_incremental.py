"""Incremental MinHash index (operators/dedup_incremental.py):
planted-copy recall, idempotent replay, index growth across batches,
and the broadcast probe plan shape.

The sf0.001 documents table plants near-dup cliques ({0,50,82},
{8,12}, {89,114} measured at >=0.93 jaccard for every shingle length)
— the assertions below are aware of them rather than pretending the
corpus is clean."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from omni_crawler_spark.analytics import REGISTRY
from omni_crawler_spark.operators.dedup_incremental import MinHashIndex

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )


def test_planted_copies_drop_known_cliques_resolve(spark):
    rows = REGISTRY["dedup_incremental_batch"].build(spark, SF).collect()
    by_id = {r.doc_id: r for r in rows}
    assert len(by_id) == len(rows)  # each batch doc exactly once

    # every injected copy (id+200000 of a corpus doc) must drop, and
    # its dup_of must be an earlier doc (corpus or batch)
    planted = [r for r in rows if r.doc_id >= 200000]
    assert planted
    for r in planted:
        assert r.status == "dropped"
        assert r.dup_of is not None and r.dup_of < r.doc_id

    # known clique behavior: fresh doc 0 near-dups corpus docs 50/82
    # -> dropped vs corpus with the min match; fresh 8 and 12 are only
    # near-dups of each other -> 8 kept, 12 dropped intra with dup_of 8
    assert by_id[0].status == "dropped" and by_id[0].dup_of == 50
    assert by_id[8].status == "kept"
    assert by_id[12].status == "dropped" and by_id[12].dup_of == 8

    # the overwhelming majority of fresh word-soup docs are unique and
    # must survive (k=14 shingles: organic jaccard ~0 outside cliques)
    fresh = [r for r in rows if r.doc_id < 200000]
    kept_frac = sum(r.status == "kept" for r in fresh) / len(fresh)
    assert kept_frac > 0.9


def test_replay_is_idempotent_and_index_grows_across_batches(spark):
    d = _docs(spark)
    corpus = d.filter(F.col("doc_id") < 100)
    b1 = d.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 150))
    ix = MinHashIndex(
        tempfile.mkdtemp(prefix="mhidx_t_"), shingle_k=14, threshold=0.9
    )
    ix.bootstrap(spark, corpus, op_id="boot")
    kept1, _ = ix.dedup_batch(spark, b1, op_id="b1")
    n_b1 = b1.count()
    assert kept1.count() >= n_b1 - 2  # 114 may drop vs corpus dup 89
    v_after = ix.table.current_version()

    # replaying the same op_id must not double-append
    ix.dedup_batch(spark, b1, op_id="b1")
    assert ix.table.current_version() == v_after

    # a later batch that copies batch-1 docs must drop ENTIRELY
    # against the grown index (proof the index, not just the
    # bootstrap corpus, participates in the probe)
    b2 = b1.select((F.col("doc_id") + 500000).alias("doc_id"), "text")
    kept2, dropped2 = ix.dedup_batch(spark, b2, op_id="b2")
    assert kept2.count() == 0
    drops = {r.new_id: r.dup_of for r in dropped2.collect()}
    assert set(drops) == {500000 + i for i in range(100, 150)}
    assert all(old < 500000 for old in drops.values())


def test_cross_probe_is_broadcast_no_index_shuffle(spark):
    """The index side must stream through a BroadcastHashJoin — no
    hashpartitioning exchange on the banded keys (at 10^10 docs that
    exchange would move the whole index per batch)."""
    d = _docs(spark)
    ix = MinHashIndex(
        tempfile.mkdtemp(prefix="mhidx_p_"), shingle_k=14, threshold=0.9
    )
    ix.bootstrap(spark, d.filter(F.col("doc_id") < 200), op_id="b")
    probe = ix._cross_probe(
        spark, ix.rows(d.filter(F.col("doc_id") >= 200).limit(20))
    )
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "hashpartitioning(band" not in plan


def test_index_rejects_mismatched_signature_params(spark):
    import pytest

    root = tempfile.mkdtemp(prefix="mhidx_m_")
    MinHashIndex(root, shingle_k=14)
    with pytest.raises(ValueError, match="built with"):
        MinHashIndex(root, shingle_k=5)
    MinHashIndex(root, shingle_k=14)  # matching params reopen fine
    with pytest.raises(ValueError, match="bands"):
        MinHashIndex(tempfile.mkdtemp(prefix="mhidx_b_"), bands=10)


def test_compaction_bounds_dirs_and_preserves_probe(spark):
    """Append-per-batch dirs fold into one snapshot; probe verdicts
    before/after compaction are identical."""
    d = _docs(spark)
    ix = MinHashIndex(
        tempfile.mkdtemp(prefix="mhidx_c_"), shingle_k=14, threshold=0.9
    )
    for i in range(4):
        lo, hi = i * 50, i * 50 + 50
        ix.dedup_batch(
            spark,
            d.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)),
            op_id=f"b{i}",
        )
    manifest = ix.table.history()[-1]
    assert len(manifest["data_dirs"]) == 4
    probe = d.filter(F.col("doc_id") < 200).select(
        (F.col("doc_id") + 700000).alias("doc_id"), "text"
    )
    before = {
        (r.new_id, r.dup_of)
        for r in ix._cross_probe(spark, ix.rows(probe)).collect()
    }
    ix.compact(spark, op_id="compact-1")
    assert len(ix.table.history()[-1]["data_dirs"]) == 1
    ix.compact(spark, op_id="compact-1")  # replay no-ops
    assert len(ix.table.history()[-1]["data_dirs"]) == 1
    after = {
        (r.new_id, r.dup_of)
        for r in ix._cross_probe(spark, ix.rows(probe)).collect()
    }
    assert before == after and len(before) > 0
