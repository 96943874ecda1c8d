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

:class:`SearchIndex` is the missing persistence layer: a
:class:`~omni_crawler_spark.lakehouse.deletion_vectors.DeletionVectors`
index, like the MinHash and IVF indexes (operators/dedup_incremental.py,
operators/ivf.py), whose rows are the postings ``(tok, fld, boost10,
doc_id)`` of ``search.build_inverted_index``:

- the inherited ``bootstrap`` appends the postings of NEW docs under
  an idempotent ``op_id`` — the one-time corpus tokenization and,
  O(batch), each crawl cycle's or micro-batch's new docs (the ES
  save-time indexing analog); ``reindex`` / ``delete`` give the
  reference's replace-by-id semantics (ES doc_id = article_id
  omni_storage.py:275-296, PG ``ON CONFLICT DO UPDATE`` :137-205,
  SQLite ``INSERT OR REPLACE`` :410-464) through tombstones, and
  ``compact`` folds them away;
- ``query`` probes the live postings: fuzzy-expands the terms
  against the distinct-token vocabulary (Heaps'-law small), one
  broadcast equi-join back into the postings — the corpus-sized side
  never sees an edit distance, and the corpus text is never re-read.

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
from omni_crawler_spark.lakehouse.table import ensure_params_marker
from omni_crawler_spark.search import (
    DEFAULT_FIELDS,
    _parse_terms,
    build_inverted_index,
    multi_match_indexed,
)


class SearchIndex(DeletionVectors):
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
        super().__init__(root, "inverted_index", id_col)
        self.fields = fields or dict(DEFAULT_FIELDS)
        params = {"fields": self.fields, "id_col": id_col}
        ensure_params_marker(
            os.path.join(root, "index_params.json"), params, "search index"
        )

    def rows(self, batch: DataFrame) -> DataFrame:
        return build_inverted_index(batch, self.fields, self.id_col)

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
            self.live(spark), term_df, id_col=self.id_col, size=size
        )
