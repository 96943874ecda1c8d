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
- ``reindex``/``delete`` replace or drop a doc's signature when a
  re-crawl changes or removes the page (the reference's every store
  is replace-by-article-id: PG ``ON CONFLICT DO UPDATE``
  omni_storage.py:137-205, SQLite ``INSERT OR REPLACE`` :410-464) —
  the SHARED deletion-vector machinery
  (lakehouse/deletion_vectors.py, one implementation for this index
  and SearchIndex): index rows carry a generation, a tiny broadcast
  tombstone table records each re-indexed doc's live floor
  (latest-wins, so delete-then-reindex resurrects), probes
  anti-filter stale signatures, and ``compact`` folds the vectors
  away. O(batch) per re-crawl, never a corpus-sized rewrite;
  crash-replay converges (floors recovered from the committed leg).

Reference parity: the reference dedups only by exact content hash at
insert time (src/storage/omni_storage.py INSERT ... ON CONFLICT);
incremental NEAR-dup against the whole corpus is what that design
cannot do and a training-data pipeline needs every cycle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from omni_crawler_spark.lakehouse.deletion_vectors import DeletionVectors
from omni_crawler_spark.lakehouse.table import SnapshotTable
from omni_crawler_spark.operators.dedup import (
    bucket_pairs,
    drop_oversized,
    lsh_band_keys,
    minhash_signature_udf,
)


class MinHashIndex:
    """Persisted banded-signature index for incremental near-dedup.

    One row per (doc_id, band): ``(doc_id, band, band_hash, sig)``.
    Carrying ``sig`` on every band row costs bands× duplication — the
    sandbox-simple layout; at 10^10 docs the index splits into a
    (doc_id, sig) table and a (band, band_hash, doc_id) posting table
    bucketed by band_hash, joined only for the candidate doc_ids.
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
        assert num_perm % bands == 0
        self.table = SnapshotTable(root, name="minhash_index")
        self.dv = DeletionVectors(self.table, root, "doc_id")
        # signature-parameter marker: an index holds signatures under
        # ONE (num_perm, shingle_k, bands) config; opening an existing
        # root with different params would silently mix incomparable
        # signatures, so fail loudly instead (atomic create-or-check:
        # concurrent bootstraps cannot observe a half-written marker)
        import os

        from omni_crawler_spark.lakehouse.table import ensure_params_marker

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

    # -- signature plumbing --------------------------------------------------

    def banded(self, df: DataFrame, id_col: str, text_col: str) -> DataFrame:
        """(doc_id, band, band_hash, sig) rows for ``df`` — one
        vectorized signature pass, then a codegen'd band explode."""
        sig_udf = minhash_signature_udf(self.num_perm, self.shingle_k)
        # hash-repartition off the (often single-task) scan so the
        # CPU-bound Arrow signature kernel spreads across the
        # cluster's cores (guide §2.5; same fix as
        # operators/dedup.py::minhash_lsh_candidates)
        par = df.sparkSession.sparkContext.defaultParallelism
        sig = (
            df.select(F.col(id_col).alias("doc_id"), F.col(text_col))
            .repartition(par, "doc_id")
            .select(
                "doc_id",
                sig_udf(F.col(text_col)).alias("sig"),
            )
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

    @property
    def tomb(self) -> SnapshotTable:
        return self.dv.tomb

    def _live(self, spark: SparkSession, keep_gen: bool = False) -> DataFrame:
        """Index rows minus deletion-vector casualties (shared
        machinery, lakehouse/deletion_vectors.py): the tombstone
        floors are broadcast (O(#reindexed-since-compaction), tiny);
        the index side streams with no shuffle."""
        return self.dv.live(spark, keep_gen=keep_gen)

    def _cross_probe(
        self, spark: SparkSession, b_probe: DataFrame
    ) -> DataFrame:
        """(new_id, dup_of, est_jaccard) for batch docs near-dup of an
        INDEXED doc. The batch side is broadcast, so the index scan
        streams through a BroadcastHashJoin with no shuffle. Stale
        signatures of re-indexed docs are anti-filtered first
        (deletion vectors) so a changed page is only ever matched
        against its NEWEST signature."""
        idx = self._live(spark)
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

    # -- index lifecycle -----------------------------------------------------

    def compact(self, spark: SparkSession, op_id: str | None = None) -> int:
        """Fold the append-per-batch data dirs into one snapshot with
        the deletion vectors APPLIED (stale signatures of re-indexed
        docs physically dropped, tombstones cleared) — an index
        appended to every cycle accumulates O(cycles) directories that
        every probe must list and open, the same read-amplification
        bound as the frontier log's periodic compaction
        (frontier/crawl.py). Replaying a completed compaction no-ops;
        a crash between the two commits is safe (re-applying
        tombstones to resolved rows is a no-op)."""
        return self.dv.compact(spark, op_id=op_id)

    def bootstrap(
        self,
        spark: SparkSession,
        corpus: DataFrame,
        id_col: str,
        text_col: str,
        op_id: str | None = None,
    ) -> None:
        """Index an existing corpus (one-time backfill)."""
        self.dv.append(self.banded(corpus, id_col, text_col), op_id=op_id)

    def reindex(
        self,
        spark: SparkSession,
        docs: DataFrame,
        id_col: str,
        text_col: str,
        op_id: str | None = None,
    ) -> None:
        """Replace the stored signatures of ``docs`` (re-crawled,
        changed pages): one O(batch) signature pass appended at a
        fresh generation + one tombstone row per doc marking older
        generations dead — subsequent probes use ONLY the new
        signature. Crash anywhere replays to the same state (the
        tombstone floor is recovered from the committed signature
        leg, lakehouse/deletion_vectors.py)."""
        self.dv.reindex(
            spark,
            self.banded(docs, id_col, text_col),
            docs.select(F.col(id_col).alias("doc_id")),
            op_id=op_id,
        )

    def delete(
        self, spark: SparkSession, ids: DataFrame, op_id: str | None = None
    ) -> None:
        """Drop docs from the index (pages gone on re-crawl): one
        tombstone row per id; signatures are reclaimed at ``compact``
        and a later :meth:`reindex` resurrects the doc. ``ids`` must
        carry a ``doc_id`` column."""
        self.dv.delete(ids.select("doc_id"), op_id=op_id)

    def dedup_batch(
        self,
        spark: SparkSession,
        batch: DataFrame,
        id_col: str,
        text_col: str,
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
        b = self.banded(batch, id_col, text_col).persist()

        # drop degenerate (boilerplate) buckets within the batch
        b_probe = drop_oversized(
            b, ["band", "band_hash"], self.max_bucket_size
        )

        # cross probe: index streamed, batch broadcast (skipped when
        # the index is empty — first-ever batch bootstraps it)
        if self.table.current_version() == 0:
            empty = spark.createDataFrame(
                [],
                "new_id long, dup_of long, est_jaccard double",
            )
            cross = empty
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
            dropped.select(F.col("new_id").alias(id_col)),
            id_col,
            "left_anti",
        )
        kept_banded = b.join(
            dropped.select(F.col("new_id").alias("doc_id")),
            "doc_id",
            "left_anti",
        )
        self.dv.append(kept_banded, op_id=op_id)
        b.unpersist()
        return kept, dropped
