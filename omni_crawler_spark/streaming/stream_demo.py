"""Structured Streaming realization of the reference's polling loop
(SURVEY §2.9 T1/T4/T5).

The reference re-runs its cycle every 300 s (omni_orchestrator.py:
209-245) and computes trailing-window metrics with SQL-over-PG.
Streaming mapping:

- source: file stream over an events directory (new parquet files =
  new micro-batch; ``availableNow`` drains everything for tests, a
  processingTime trigger gives the 300 s cadence in production);
- event-time tumbling window + watermark for late data;
- ``dropDuplicatesWithinWatermark`` = the alert cooldown /
  dedup-within-horizon primitive (T3);
- sink: memory (tests) or a lakehouse table (production).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery


def windowed_event_counts(
    spark: SparkSession,
    events_dir: str,
    schema: str = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    ),
    window_len: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """readStream → watermark → tumbling window counts per type."""
    stream = (
        spark.readStream.schema(schema).parquet(events_dir)
    )
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_len).alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type", "cnt", "total_value",
        )
    )


def run_available_now(
    df: DataFrame, query_name: str, checkpoint_dir: str
) -> StreamingQuery:
    """Drain all available input as micro-batches into a memory sink
    (test harness for the streaming pipeline; the checkpoint dir gives
    exactly-once restart semantics like the batch engine's op_ids)."""
    return (
        df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("complete")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def dedup_within_watermark(
    spark: SparkSession,
    events_dir: str,
    keys: list[str],
    watermark: str = "2 hours",
    schema: str = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    ),
) -> DataFrame:
    """T3 cooldown primitive: drop duplicate keys arriving within the
    watermark horizon (dropDuplicatesWithinWatermark)."""
    stream = spark.readStream.schema(schema).parquet(events_dir)
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys
    )


def _index_stream(
    spark: SparkSession,
    docs_dir: str,
    schema: str,
    checkpoint_dir: str,
    index,
    on_batch,
    compact_every: int,
) -> StreamingQuery:
    """Drain ``docs_dir`` one file per micro-batch through
    ``on_batch(batch_df, batch_id)``, the per-batch call into the
    persisted ``index``. Every ``compact_every`` batches the index's
    O(batches) append dirs fold into one snapshot, bounding probe-side
    read amplification; the compaction's op_id is idempotent, so a
    replayed compaction batch no-ops."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        on_batch(batch_df, batch_id)
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            index.compact(
                batch_df.sparkSession, op_id=f"compact-{batch_id}"
            )

    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(docs_dir)
    return (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def streaming_incremental_dedup(
    spark: SparkSession,
    docs_dir: str,
    index_root: str,
    checkpoint_dir: str,
    kept_dir: str,
    schema: str = "doc_id long, text string",
    shingle_k: int = 14,
    threshold: float = 0.9,
    compact_every: int = 16,
) -> StreamingQuery:
    """Streaming near-dedup: every micro-batch of arriving documents
    is deduped against the persisted corpus MinHash index
    (operators/dedup_incremental.py) and the survivors land in
    ``kept_dir`` — the continuous form of the crawler's per-cycle
    dedup stage.

    Exactly-once composition: Structured Streaming's checkpoint
    guarantees each file is assigned to one ``batch_id``, and the
    index append is tagged ``op_id=f"stream-{batch_id}"`` — a
    replayed micro-batch (post-crash restart) recomputes identical
    verdicts (deterministic signatures + the index's self-match
    filter) and its re-append no-ops on the committed op_id. Same
    contract as the batch engine's cycle commits (frontier/crawl.py).

    The survivors sink is idempotent per batch for the same reason:
    overwrite into a per-batch subdirectory keyed by batch_id.
    """
    from omni_crawler_spark.operators.dedup_incremental import MinHashIndex

    index = MinHashIndex(
        index_root, shingle_k=shingle_k, threshold=threshold
    )

    def _dedup(batch_df: DataFrame, batch_id: int) -> None:
        kept, _dropped = index.dedup_batch(
            batch_df.sparkSession, batch_df, op_id=f"stream-{batch_id}"
        )
        kept.write.mode("overwrite").parquet(
            f"{kept_dir}/batch_id={batch_id}"
        )

    return _index_stream(
        spark, docs_dir, schema, checkpoint_dir, index, _dedup, compact_every
    )


def streaming_search_index(
    spark: SparkSession,
    docs_dir: str,
    index_root: str,
    checkpoint_dir: str,
    schema: str = (
        "doc_id long, title string, content string, key_phrases string, "
        "authors string, domain string"
    ),
    compact_every: int = 16,
) -> StreamingQuery:
    """Continuous inverted-index maintenance: every micro-batch of
    arriving documents appends its postings to the persisted
    :class:`~omni_crawler_spark.search_index.SearchIndex` — the
    streaming form of ES's save-time indexing (the reference's storage
    layer indexes each article as it is stored,
    src/storage/omni_storage.py:88-135) and the continuous twin of the
    CrawlEngine's per-cycle index commit.

    Exactly-once: same contract as streaming_incremental_dedup —
    the checkpoint pins files to batch_ids, the append is tagged
    ``op_id=f"stream-{batch_id}"``, so a replayed micro-batch no-ops
    and a query between restarts never sees duplicated postings.
    """
    from omni_crawler_spark.search_index import SearchIndex

    index = SearchIndex(index_root)

    def _append(batch_df: DataFrame, batch_id: int) -> None:
        index.bootstrap(
            batch_df.sparkSession, batch_df, op_id=f"stream-{batch_id}"
        )

    return _index_stream(
        spark, docs_dir, schema, checkpoint_dir, index, _append, compact_every
    )


def streaming_search_upsert(
    spark: SparkSession,
    docs_dir: str,
    index_root: str,
    checkpoint_dir: str,
    schema: str = (
        "doc_id long, title string, content string, key_phrases string, "
        "authors string, domain string"
    ),
    compact_every: int = 16,
) -> StreamingQuery:
    """Continuous UPSERT maintenance of the inverted index: every
    micro-batch routes through :meth:`SearchIndex.reindex`, so a
    re-crawled, CHANGED page replaces its postings in place — the
    streaming form of the reference's replace-by-article-id stores
    (PG ``ON CONFLICT DO UPDATE`` omni_storage.py:137-205, ES doc_id
    :275-296). A batch of brand-new docs degenerates to
    ``bootstrap`` semantics (the tombstone each doc gets only kills
    generations older than its own postings, of which a new doc has
    none), so one code path serves both arrivals and re-crawls.

    Exactly-once: the checkpoint pins files to batch_ids and both
    reindex legs (postings + tombstones) commit under op_ids derived
    from ``stream-{batch_id}`` — a replayed micro-batch no-ops leg by
    leg, and a crash between the legs converges on replay.
    """
    from omni_crawler_spark.search_index import SearchIndex

    index = SearchIndex(index_root)

    def _upsert(batch_df: DataFrame, batch_id: int) -> None:
        index.reindex(
            batch_df.sparkSession, batch_df, op_id=f"stream-{batch_id}"
        )

    return _index_stream(
        spark, docs_dir, schema, checkpoint_dir, index, _upsert, compact_every
    )
