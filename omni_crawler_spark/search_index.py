"""Persisted, incrementally-maintained inverted search index.

The reference never rebuilds its search index per query: Elasticsearch
maintains it continuously — every stored article is indexed at save
time (src/storage/omni_storage.py:88-135 defines the mapping; each
save indexes the doc) and src/search/advanced_search.py:15-39 only
ever PROBES it. ``search.multi_match`` built the token index inline
per invocation, which is correct but pays the full corpus
explode+distinct on every query — the amortization that justifies an
inverted index never happened (measured: the indexed plan was +24%
vs the scan it replaced at sf0.1).

:class:`SearchIndex` is the missing persistence layer, the same shape
as the MinHash/IVF incremental indexes (operators/dedup_incremental.py,
operators/ivf.py):

- ``bootstrap`` commits the postings ``(tok, fld, boost10, doc_id,
  gen)`` of NEW docs to a :class:`SnapshotTable` under an idempotent
  ``op_id`` — replays and concurrent sessions resolve to one copy. It
  serves the one-time corpus tokenization and, O(batch), each crawl
  cycle's or micro-batch's new docs (the ES save-time indexing
  analog);
- ``reindex`` / ``delete`` give the index the reference's
  replace-by-id semantics (every reference sink replaces: ES doc_id =
  article_id omni_storage.py:275-296, PG ``ON CONFLICT DO UPDATE``
  :137-205, SQLite ``INSERT OR REPLACE`` :410-464) via the shared
  deletion-vector machinery
  (:mod:`omni_crawler_spark.lakehouse.deletion_vectors`): O(batch)
  per re-crawl, a broadcast anti-filter at probe time, never a
  corpus-sized rewrite; crash-replay converges and a delete followed
  by a later reindex resurrects the doc (latest-wins tombstones);
- ``query`` probes the persisted postings: fuzzy-expands the terms
  against the distinct-token vocabulary (Heaps'-law small), one
  broadcast equi-join back into the postings — the corpus-sized side
  never sees an edit distance, and the corpus text is never re-read;
- ``compact`` folds the append-per-cycle dirs into one snapshot with
  tombstones applied (read-amplification bound, same as every other
  index here).

100 TB shape: the postings table is bucketed by ``tok`` so a probe
prunes to the touched buckets; the vocabulary is the distinct ``tok``
of a dictionary-encoded parquet column — a metadata-cheap scan that
never touches document text; tombstones stay broadcast-sized between
compactions because re-crawled-and-changed docs per maintenance
window are a sliver of the corpus.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from omni_crawler_spark.lakehouse.deletion_vectors import DeletionVectors
from omni_crawler_spark.lakehouse.table import (
    SnapshotTable,
    ensure_params_marker,
)
from omni_crawler_spark.search import (
    DEFAULT_FIELDS,
    _parse_terms,
    build_inverted_index,
    multi_match_indexed,
)


class SearchIndex:
    """Persisted postings ``(tok, fld, boost10, <id_col>, gen)`` with
    incremental maintenance and replace-by-id re-indexing. ``fields``
    ({column: boost×10}) is fixed per index root — postings indexed
    under one boost config are not comparable to another, so opening
    an existing root with different params fails loudly (the
    MinHashIndex signature-marker contract).
    """

    def __init__(
        self,
        root: str,
        fields: dict[str, int] | None = None,
        id_col: str = "doc_id",
    ):
        self.table = SnapshotTable(root, name="inverted_index")
        self.dv = DeletionVectors(self.table, root, id_col)
        self.fields = fields or dict(DEFAULT_FIELDS)
        self.id_col = id_col
        params = {"fields": self.fields, "id_col": id_col}
        ensure_params_marker(
            os.path.join(root, "index_params.json"), params, "search index"
        )

    @property
    def tomb(self) -> SnapshotTable:
        return self.dv.tomb

    def _postings_for(self, docs: DataFrame) -> DataFrame:
        return build_inverted_index(docs, self.fields, self.id_col)

    def bootstrap(
        self, spark: SparkSession, docs: DataFrame, op_id: str | None = None
    ) -> None:
        """Append postings for docs NEW to the index: the one-time
        corpus backfill, or one crawl cycle's or micro-batch's new
        docs — O(batch), never a corpus re-tokenize. Idempotent under
        ``op_id`` WITHIN the snapshot-retention window (see
        SnapshotTable.expire_snapshots). Caller guarantees the ids are
        new (the crawl pipeline's seen-filter already does); for a
        CHANGED known doc use :meth:`reindex`, which tombstones the
        stale postings instead of letting them match forever."""
        self.dv.append(self._postings_for(docs), op_id=op_id)

    def reindex(
        self, spark: SparkSession, docs: DataFrame, op_id: str | None = None
    ) -> None:
        """Replace the indexed postings of ``docs`` (re-crawled,
        changed pages) — the PG ``ON CONFLICT DO UPDATE`` analog.
        O(batch); crash anywhere replays to the same state (the
        tombstone floor is recovered from the committed postings leg,
        so a replay can never tombstone the doc's own new rows)."""
        self.dv.reindex(
            spark,
            self._postings_for(docs),
            docs.select(self.id_col),
            op_id=op_id,
        )

    def delete(
        self, spark: SparkSession, ids: DataFrame, op_id: str | None = None
    ) -> None:
        """Drop docs from the index (pages gone on re-crawl — the
        SQLite/ES delete-by-id analog). A later :meth:`reindex` of
        the same id resurrects it (latest-wins tombstones)."""
        self.dv.delete(ids.select(self.id_col), op_id=op_id)

    def compact(self, spark: SparkSession, op_id: str | None = None) -> int:
        """Fold append-per-cycle data dirs into one snapshot with the
        deletion vectors APPLIED (stale/deleted postings physically
        dropped, tombstones cleared); replaying a completed
        compaction no-ops."""
        return self.dv.compact(spark, op_id=op_id)

    def postings(self, spark: SparkSession) -> DataFrame:
        """The LIVE posting rows (deletion vectors applied)."""
        return self.dv.live(spark)

    def query(
        self,
        spark: SparkSession,
        query: str,
        fuzziness: str | None = "AUTO",
        size: int = 20,
    ) -> DataFrame:
        """Probe the persisted index — identical results to
        ``search.multi_match`` over the same corpus (pytest-pinned),
        without ever re-reading or re-tokenizing document text."""
        term_df = _parse_terms(spark, query, fuzziness)
        return multi_match_indexed(
            self.postings(spark), term_df, id_col=self.id_col, size=size
        )
