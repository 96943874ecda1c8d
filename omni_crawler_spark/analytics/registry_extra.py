"""Coverage batch 3: window frames, cube/rollup, set ops, range and
as-of joins, excerpt/truncation scalars (SURVEY §2.5-2.7 extensions —
operators the reference lacks but Spark provides 'for free' per
SURVEY §2.3; each oracle-paired)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from omni_crawler_spark.analytics.registry import _ORACLE_AVG_INT, _t, register
from omni_crawler_spark.session import local_rows


@register(
    "window_moving_avg",
    """
    SELECT day, cnt,
           ROUND(AVG(cnt) OVER (ORDER BY day
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS ma7
    FROM (SELECT strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS cnt
          FROM events GROUP BY day)
    ORDER BY day
    """,
    doc="frame-spec window (rowsBetween) — 7-day moving average of the "
    "daily counts; the reference has no frame windows (SURVEY §2.5)",
)
def window_moving_avg(spark, sf_dir):
    daily = (
        _t(spark, sf_dir, "events")
        .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.orderBy("day").rowsBetween(-6, 0)
    return daily.withColumn("ma7", F.round(F.avg("cnt").over(w), 4)).orderBy(
        "day"
    )


@register(
    "agg_cube",
    "SELECT COALESCE(lang, 'ALL') AS lang_g, "
    "COALESCE(source, 'ALL') AS source_g, COUNT(*) AS cnt "
    "FROM documents GROUP BY CUBE(lang, source) "
    "ORDER BY lang_g, source_g",
    doc="grouping sets — cube() as the cheap superset of the unioned "
    "facet queries (SURVEY §2.4 note)",
)
def agg_cube(spark, sf_dir):
    return (
        _t(spark, sf_dir, "documents")
        .cube("lang", "source")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.coalesce("lang", F.lit("ALL")).alias("lang_g"),
            F.coalesce("source", F.lit("ALL")).alias("source_g"),
            "cnt",
        )
        .orderBy("lang_g", "source_g")
    )


@register(
    "set_intersect_except",
    """
    SELECT 'intersect' AS op, doc_id FROM (
      SELECT doc_id FROM documents WHERE doc_id < 100
      INTERSECT SELECT doc_id FROM documents WHERE doc_id BETWEEN 50 AND 150)
    UNION ALL
    SELECT 'except' AS op, doc_id FROM (
      SELECT doc_id FROM documents WHERE doc_id < 100
      EXCEPT SELECT doc_id FROM documents WHERE doc_id BETWEEN 50 AND 150)
    ORDER BY op, doc_id
    """,
    doc="intersect/except set ops (available-if-needed per SURVEY §2.6)",
)
def set_intersect_except(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    a = d.filter(F.col("doc_id") < 100).select("doc_id")
    b = d.filter(F.col("doc_id").between(50, 150)).select("doc_id")
    i = a.intersect(b).select(F.lit("intersect").alias("op"), "doc_id")
    e = a.exceptAll(b).distinct().select(F.lit("except").alias("op"), "doc_id")
    return i.unionByName(e).orderBy("op", "doc_id")


@register(
    "join_range_bucket",
    """
    WITH buckets(bucket_name, lo, hi) AS (VALUES
      ('low', 0.0, 25.0), ('mid', 25.0, 75.0), ('high', 75.0, 1e9))
    SELECT bucket_name, COUNT(*) AS cnt,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE)
                 /COUNT(*), 4) AS avg_value
    FROM events e JOIN buckets b ON e.value >= b.lo AND e.value < b.hi
    GROUP BY bucket_name ORDER BY bucket_name
    """,
    doc="range (theta) join — fact joined to interval dimension on "
    "value BETWEEN lo AND hi (broadcast nested loop; SURVEY §2.3: "
    "'Spark gives us these for free')",
)
def join_range_bucket(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    buckets = local_rows(
        spark,
        [("low", 0.0, 25.0), ("mid", 25.0, 75.0), ("high", 75.0, 1e9)],
        "bucket_name string, lo double, hi double",
    )
    return (
        e.join(
            F.broadcast(buckets),
            (e.value >= buckets.lo) & (e.value < buckets.hi),
        )
        .groupBy("bucket_name")
        .agg(
            F.count("*").alias("cnt"),
            F.round(
                F.sum(F.col("value").cast("decimal(27,6)")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("avg_value"),
        )
        .orderBy("bucket_name")
    )


@register(
    "join_asof_last_error",
    """
    SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
           strftime(last_error_ts, '%Y-%m-%d %H:%M:%S') AS last_error_ts_s
    FROM (
      SELECT event_id, ts, event_type,
             LAST_VALUE(CASE WHEN event_type = 'error' THEN ts END
                        IGNORE NULLS)
               OVER (ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS last_error_ts
      FROM events
    ) WHERE event_type = 'click' AND last_error_ts IS NOT NULL
    ORDER BY event_id
    """,
    doc="as-of join — each click matched to the latest preceding error "
    "(window + last(ignoreNulls); the checkpoint-replay pattern of "
    "SURVEY §2.3)",
)
def join_asof_last_error(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    w = (
        Window.orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    last_err = F.last(
        F.when(F.col("event_type") == "error", F.col("ts")), ignorenulls=True
    ).over(w)
    return (
        e.withColumn("last_error_ts", last_err)
        .filter((F.col("event_type") == "click") & F.col("last_error_ts").isNotNull())
        .select(
            "event_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
            F.date_format("last_error_ts", "yyyy-MM-dd HH:mm:ss").alias(
                "last_error_ts_s"
            ),
        )
        .orderBy("event_id")
    )


@register(
    "scalar_excerpt",
    """
    SELECT doc_id,
           CASE WHEN len(text) <= 120 THEN text
                ELSE regexp_replace(substr(text, 1, 120), '\\s+\\S*$', '')
                     || '...' END AS excerpt,
           array_to_string(list_sort(list_distinct(
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9'']+'),
                         w -> w <> '')))[1:10], ';') AS top_tokens
    FROM documents ORDER BY doc_id
    """,
    doc="F11/F12 — word-safe excerpt truncation "
    "(content_enricher.py:78-96,300-304) + D1 list dedup/slice "
    "(simple_crawler.py:163)",
)
def scalar_excerpt(spark, sf_dir):
    from omni_crawler_spark.functions import text as T

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        T.excerpt(F.col("text"), 120).alias("excerpt"),
        F.array_join(
            F.slice(
                F.array_sort(F.array_distinct(T.words(F.col("text")))), 1, 10
            ),
            ";",
        ).alias("top_tokens"),
    ).orderBy("doc_id")
