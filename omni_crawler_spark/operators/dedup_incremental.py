"""Incremental MinHash dedup: new-batch-vs-corpus in O(batch).

The full-corpus near-dup operators (operators/dedup.py) recompute
every signature per run — right for a one-shot backfill, wrong for a
crawler that lands a new batch every cycle against a 10^10-doc
corpus. This module keeps the corpus's banded MinHash signatures in a
persisted :class:`SnapshotTable` index and dedups each incoming batch
with work proportional to the BATCH:

- signatures are computed for the new batch only (the corpus's were
  paid when their docs arrived);
- the batch's banded keys are BROADCAST against the index — the index
  side streams through a BroadcastHashJoin with no shuffle and no
  signature recompute (at 10^10 docs the index is additionally
  bucketed by (band, band_hash) so the scan prunes to the probed
  buckets; see PLANS.md);
- verification is signature-agreement (the MinHash estimator
  ``|{i: sig_a[i]=sig_b[i]}| / num_perm`` of the Jaccard), so no
  document text is ever fetched for old docs;
- surviving signatures are appended under an idempotent ``op_id`` —
  replaying a crashed cycle cannot double-index (same contract as
  every other crawl commit, lakehouse/table.py);
- the index is a
  :class:`~omni_crawler_spark.lakehouse.deletion_vectors.DeletionVectors`
  table whose rows are the banded signatures, so ``reindex`` /
  ``delete`` replace or drop a doc's signature when a re-crawl
  changes or removes the page (the reference's every store is
  replace-by-article-id: PG ``ON CONFLICT DO UPDATE``
  omni_storage.py:137-205, SQLite ``INSERT OR REPLACE`` :410-464):
  probes anti-filter stale signatures through a tiny broadcast
  tombstone table and ``compact`` folds them away. O(batch) per
  re-crawl, never a corpus-sized rewrite.

Reference parity: the reference dedups only by exact content hash at
insert time (src/storage/omni_storage.py INSERT ... ON CONFLICT);
incremental NEAR-dup against the whole corpus is what that design
cannot do and a training-data pipeline needs every cycle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from omni_crawler_spark.lakehouse.deletion_vectors import DeletionVectors
from omni_crawler_spark.lakehouse.table import ensure_params_marker
from omni_crawler_spark.operators.dedup import (
    bucket_pairs,
    drop_oversized,
    lsh_band_keys,
    minhash_signature_udf,
)
from omni_crawler_spark.session import local_rows, spread


class MinHashIndex(DeletionVectors):
    """Persisted banded-signature index for incremental near-dedup.

    One row per (doc_id, band): ``(doc_id, band, band_hash, sig)``,
    signed from the ``text`` column. Carrying ``sig`` on every band
    row costs bands× duplication — the sandbox-simple layout; at
    10^10 docs the index splits into a (doc_id, sig) table and a
    (band, band_hash, doc_id) posting table bucketed by band_hash,
    joined only for the candidate doc_ids.
    """

    def __init__(
        self,
        root: str,
        num_perm: int = 64,
        shingle_k: int = 5,
        bands: int = 16,
        threshold: float = 0.9,
        max_bucket_size: int = 200,
    ):
        if num_perm % bands:
            raise ValueError(
                f"num_perm {num_perm} is not a multiple of bands {bands}"
            )
        super().__init__(root, "minhash_index", "doc_id")
        # signature-parameter marker: an index holds signatures under
        # ONE (num_perm, shingle_k, bands) config; opening an existing
        # root with different params would silently mix incomparable
        # signatures, so fail loudly instead (atomic create-or-check:
        # concurrent bootstraps cannot observe a half-written marker)
        params = {
            "num_perm": num_perm,
            "shingle_k": shingle_k,
            "bands": bands,
        }
        ensure_params_marker(
            os.path.join(root, "signature_params.json"), params, "index"
        )
        self.num_perm = num_perm
        self.shingle_k = shingle_k
        self.bands = bands
        self.rows_per_band = num_perm // bands
        self.threshold = threshold
        self.max_bucket_size = max_bucket_size

    def rows(self, batch: DataFrame) -> DataFrame:
        """(doc_id, band, band_hash, sig) rows for ``batch`` — one
        vectorized signature pass, then a codegen'd band explode."""
        sig_udf = minhash_signature_udf(self.num_perm, self.shingle_k)
        # spread: the Arrow signature kernel is the CPU cost
        sig = (
            batch.select("doc_id", "text")
            .transform(spread, "doc_id")
            .select("doc_id", sig_udf(F.col("text")).alias("sig"))
        )
        return sig.select(
            "doc_id",
            "sig",
            F.explode(
                lsh_band_keys(F.col("sig"), self.bands, self.rows_per_band)
            ).alias("bk"),
        ).select("doc_id", F.col("bk.band").alias("band"),
                 F.col("bk.band_hash").alias("band_hash"), "sig")

    @staticmethod
    def _est_jaccard(sig_a, sig_b) -> F.Column:
        """MinHash Jaccard estimator: fraction of agreeing minima.
        Interpreted HOF, but only ever evaluated on the
        collision-bounded candidate set — never per corpus row."""
        agree = F.size(
            F.filter(
                F.zip_with(sig_a, sig_b, lambda a, b: a == b),
                lambda x: x,
            )
        )
        return agree / F.size(sig_a)

    def _cross_probe(
        self, spark: SparkSession, b_probe: DataFrame
    ) -> DataFrame:
        """(new_id, dup_of, est_jaccard) for batch docs near-dup of an
        INDEXED doc. The batch side is broadcast, so the index scan
        streams through a BroadcastHashJoin with no shuffle. Stale
        signatures of re-indexed docs are anti-filtered first
        (deletion vectors) so a changed page is only ever matched
        against its NEWEST signature."""
        idx = self.live(spark)
        return (
            idx.withColumnRenamed("doc_id", "old_id")
            .withColumnRenamed("sig", "old_sig")
            .join(
                F.broadcast(
                    b_probe.withColumnRenamed("doc_id", "new_id")
                    .withColumnRenamed("sig", "new_sig")
                ),
                ["band", "band_hash"],
            )
            # a doc is never a dup of itself — also makes replaying a
            # batch whose survivors were already indexed return the
            # same verdicts (their index rows match only themselves)
            .filter(F.col("old_id") != F.col("new_id"))
            .select(
                "new_id",
                "old_id",
                self._est_jaccard(F.col("new_sig"), F.col("old_sig")).alias(
                    "est"
                ),
            )
            .filter(F.col("est") >= self.threshold)
            .groupBy(F.col("new_id"))
            .agg(
                F.min("old_id").alias("dup_of"),
                F.max("est").alias("est_jaccard"),
            )
        )

    def dedup_batch(
        self,
        spark: SparkSession,
        batch: DataFrame,
        op_id: str | None = None,
    ) -> tuple[DataFrame, DataFrame]:
        """Dedup ``batch`` against the index AND itself; index the
        survivors. Returns ``(kept_rows, dropped_pairs)`` where
        ``dropped_pairs`` is (new_id, dup_of, est_jaccard).

        Cost shape: one signature pass over the batch; the
        corpus-side probe is a BroadcastHashJoin (batch keys
        broadcast, index streamed — ZERO shuffle of index bytes,
        pinned by tests/test_dedup_incremental.py); intra-batch pairs
        use the same capped ``bucket_pairs`` blocking as the one-shot
        operators. The batch's banded rows are persisted once and
        reused by the probe, the intra pass, and the final append (the
        signature UDF runs exactly once per batch doc), then
        unpersisted before returning — no cached blocks outlive the
        call (``dropped`` is eagerly localCheckpointed first and is
        collision-bounded small; ``kept`` depends only on ``batch`` +
        ``dropped``).
        """
        b = self.rows(batch).persist()

        # drop degenerate (boilerplate) buckets within the batch
        b_probe = drop_oversized(
            b, ["band", "band_hash"], self.max_bucket_size
        )

        # cross probe: index streamed, batch broadcast (skipped when
        # the index is empty — first-ever batch bootstraps it)
        if self.table.current_version() == 0:
            cross = local_rows(
                spark, [], "new_id long, dup_of long, est_jaccard double"
            )
        else:
            cross = self._cross_probe(spark, b_probe)

        # intra-batch (b_probe is already capped): keep the min doc_id
        # of every near-dup pair
        intra = (
            bucket_pairs(
                b_probe, "doc_id", ["band", "band_hash"], None, carry=("sig",)
            )
            .select(
                F.col("id_b").alias("new_id"),
                F.col("id_a").alias("dup_of_intra"),
                self._est_jaccard(F.col("sig_a"), F.col("sig_b")).alias(
                    "est"
                ),
            )
            .filter(F.col("est") >= self.threshold)
            .groupBy("new_id")
            .agg(
                F.min("dup_of_intra").alias("dup_of"),
                F.max("est").alias("est_jaccard"),
            )
        )

        dropped = (
            cross.unionByName(intra)
            .groupBy("new_id")
            .agg(
                F.min("dup_of").alias("dup_of"),
                F.max("est_jaccard").alias("est_jaccard"),
            )
            .localCheckpoint()
        )
        # intra-batch keep-min is order-dependent through chains
        # (a~b~c keeps a, drops b and c — standard LSH-dedup greedy);
        # exact chain resolution is the CC operator's job downstream.
        kept = batch.join(
            dropped.select(F.col("new_id").alias("doc_id")),
            "doc_id",
            "left_anti",
        )
        kept_banded = b.join(
            dropped.select(F.col("new_id").alias("doc_id")),
            "doc_id",
            "left_anti",
        )
        self._append(kept_banded, op_id)
        b.unpersist()
        return kept, dropped
