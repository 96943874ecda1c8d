"""Shared deletion-vector machinery for persisted indexes.

One implementation of the merge-on-read update/delete pattern used by
both :class:`~omni_crawler_spark.search_index.SearchIndex` (inverted
postings) and
:class:`~omni_crawler_spark.operators.dedup_incremental.MinHashIndex`
(banded signatures) — the Iceberg/Delta deletion-vector analog of the
reference's replace-by-article-id stores (PG ``ON CONFLICT DO
UPDATE`` omni_storage.py:137-205, SQLite ``INSERT OR REPLACE``
:410-464, ES doc_id :275-296):

- index rows carry ``gen:int`` (generation); pre-existing roots
  without the column read as generation 0;
- the tombstone table records ``(id, min_gen, seq)``: rows of that id
  with ``gen < min_gen`` are dead. Resolution is LATEST-WINS on
  ``seq`` (the tombstone's commit order), NOT max(min_gen) — so a
  ``delete`` (min_gen = 2^31−1) followed by a later ``reindex``
  RESURRECTS the doc: the newer tombstone's floor equals the fresh
  generation and the new rows pass it;
- ``reindex`` commits the new rows first, the tombstone second, each
  under an op_id derived from the caller's. The tombstone's floor is
  recovered FROM THE COMMITTED ROWS (read_delta of the postings
  leg's version), never recomputed from the current table version —
  a crash between the legs replays with the table at a later
  version, and a recomputed floor would exceed the committed rows'
  generation and permanently kill the doc's own new rows;
- ``compact`` folds the vectors physically; its tombstone-clearing
  leg shares the op_id suffix scheme so any replay no-ops leg by
  leg, and the fast path (no live tombstone ROWS — checked from
  parquet footers, not manifest count, since a cleared tombstone
  table keeps a nonzero version) skips both the floors join and the
  two-leg dance. Both legs are pinned commits (``SnapshotTable``'s
  one write path): the index leg applies the tombstones of one
  version ``t`` to whatever index snapshot it commits on top of, so an
  index append that lands meanwhile is kept, and the tombstone leg
  clears only what version ``t`` held, so a tombstone that lands
  meanwhile is kept.

100 TB shape: the floors side is O(#ids-reindexed-since-compaction)
and is broadcast; the index side streams with no shuffle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from omni_crawler_spark.lakehouse.table import SnapshotTable

#: tombstone floor for a plain delete: no live generation remains
#: (until a later reindex writes a newer tombstone)
DELETED = 2**31 - 1


class DeletionVectors:
    """Deletion-vector state and operations for one index table.

    ``table`` holds the index rows (plus the managed ``gen`` column);
    the tombstone :class:`SnapshotTable` lives under
    ``<root>/tombstones``. ``id_col`` names the document-identity
    column in both."""

    def __init__(self, table: SnapshotTable, root: str, id_col: str):
        self.table = table
        self.id_col = id_col
        self.tomb = SnapshotTable(
            os.path.join(root, "tombstones"), name=f"{table.name}_tomb"
        )

    # -- generations ---------------------------------------------------------

    def next_gen(self) -> int:
        return self.table.current_version() + 1

    def append(self, rows: DataFrame, op_id: str | None = None) -> None:
        """Append new-id rows at a fresh generation (bootstrap /
        per-cycle batch indexing)."""
        self.table.append(
            rows.withColumn("gen", F.lit(self.next_gen())), op_id=op_id
        )

    # -- tombstones ----------------------------------------------------------

    def _tomb_rows(self) -> int:
        """Live tombstone ROW count from parquet footer metadata
        (driver-side, no Spark job). A cleared tombstone table has a
        nonzero version but zero rows — manifest emptiness is the
        wrong test."""
        return self.tomb.footer_row_count()

    def _tombstone(
        self, ids: DataFrame, min_gen: int, op_id: str | None
    ) -> None:
        seq = self.tomb.current_version() + 1
        self.tomb.append(
            ids.select(self.id_col)
            .distinct()
            .withColumns(
                {"min_gen": F.lit(min_gen), "seq": F.lit(seq)}
            ),
            op_id=op_id,
        )

    # -- the update/delete API ----------------------------------------------

    def reindex(
        self,
        spark: SparkSession,
        rows: DataFrame,
        ids: DataFrame,
        op_id: str | None = None,
    ) -> None:
        """Replace the indexed rows of ``ids`` with ``rows`` (the new
        rows for exactly those ids, WITHOUT a gen column). O(batch);
        crash-replay converges (see module docstring)."""
        gen = self.next_gen()
        op_p = None if op_id is None else f"{op_id}-post"
        self.table.append(rows.withColumn("gen", F.lit(gen)), op_id=op_p)
        if op_id is not None:
            # recover the COMMITTED generation: on replay the table
            # has moved on and next_gen() would overshoot the rows we
            # actually wrote, tombstoning them
            v = self.table.version_of(op_p)
            g = (
                self.table.read_delta(spark, v)
                .agg(F.min("gen").alias("g"))
                .first()
                .g
            )
            gen = int(g) if g is not None else v
        self._tombstone(
            ids, gen, None if op_id is None else f"{op_id}-tomb"
        )

    def delete(self, ids: DataFrame, op_id: str | None = None) -> None:
        """Drop ids from the index (rows reclaimed at compact)."""
        self._tombstone(ids, DELETED, op_id)

    # -- reads ---------------------------------------------------------------

    def floors(
        self, spark: SparkSession, version: int | None = None
    ) -> DataFrame | None:
        """(id, _floor) per tombstoned id — the NEWEST tombstone's
        min_gen (latest-wins by commit order), or None when no live
        tombstones exist. ``version`` reads the tombstones as of that
        version (default latest)."""
        if self._tomb_rows() == 0:
            return None
        t = self.tomb.read(spark, version=version)
        if "seq" not in t.columns:  # rounds-earlier tombstones
            t = t.withColumn("seq", F.lit(0))
        return t.groupBy(self.id_col).agg(
            F.max_by(
                "min_gen",
                F.struct(
                    F.coalesce(F.col("seq"), F.lit(0)).alias("s"),
                    F.col("min_gen").alias("m"),
                ),
            ).alias("_floor")
        )

    def live(
        self, spark: SparkSession, keep_gen: bool = False
    ) -> DataFrame:
        """Index rows minus deletion-vector casualties. The floors
        side is broadcast (tiny by construction); the index side
        streams — no shuffle."""
        return self._apply(self.table.read(spark), self.floors(spark), keep_gen)

    def _apply(
        self, df: DataFrame, fl: DataFrame | None, keep_gen: bool
    ) -> DataFrame:
        if "gen" not in df.columns:  # pre-deletion-vector root
            df = df.withColumn("gen", F.lit(0))
        gen = F.coalesce(F.col("gen"), F.lit(0))
        if fl is not None:
            df = (
                df.join(F.broadcast(fl), self.id_col, "left")
                .filter(F.col("_floor").isNull() | (gen >= F.col("_floor")))
                .drop("_floor")
            )
        return df if keep_gen else df.drop("gen")

    # -- maintenance ---------------------------------------------------------

    def compact(self, spark: SparkSession, op_id: str | None = None) -> int:
        """Fold the append-per-cycle dirs into one snapshot with the
        vectors APPLIED; clear the tombstones. Both legs share the
        caller-op-derived suffix scheme, so replaying a completed
        compaction no-ops instead of re-running a full rewrite, and a
        crash between the legs is safe (re-applying tombstones to
        resolved rows is a no-op: every surviving row's gen >= its
        floor).

        The index leg applies the tombstones of version ``t`` (read
        once) to the index snapshot it commits on top of, re-read when
        its pinned commit loses a race; the tombstone leg then keeps
        every tombstone committed after ``t``. A replay that finds the
        index leg committed does not know which ``t`` it applied, so it
        keeps every tombstone; the next compaction clears them."""
        op_p = None if op_id is None else f"{op_id}-post"
        op_t = None if op_id is None else f"{op_id}-tomb"
        if self._tomb_rows() == 0:
            return self.table.rewrite(spark, op_id=op_p)
        t = self.tomb.current_version()
        replay = op_p is not None and self.table.version_of(op_p) is not None
        fl = self.floors(spark, version=t)
        v = self.table._write(
            "compact", op_p,
            lambda b: self._apply(
                self.table.read(spark, version=b), fl, keep_gen=True
            ),
            keep_prior=False,
        )
        applied = 0 if replay else t
        self.tomb._write(
            "compact", op_t,
            lambda b: self.tomb.read_since(spark, applied, b),
            keep_prior=False,
        )
        return v
