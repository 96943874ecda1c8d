"""Named query registry: Spark DataFrame builders + DuckDB oracle SQL.

Each entry re-expresses one operator from SURVEY.md §2 (reference
citations in the docstrings) over the driver-generated test tables
(``region nation customer supplier part orders lineitem events
documents embeddings``). The Spark builder and the oracle SQL must
produce identical (row-count, schema, order-insensitive value-hash)
results — the driver enforces this at sf=0.01.

Cross-engine determinism rules used throughout:
- every computed column is aliased identically on both sides;
- double aggregates go through ``DECIMAL(27,6)`` sums (exact, order-
  independent) and explicit ``ROUND(sum/count, 4)`` averages;
- timestamps are formatted to ``yyyy-MM-dd HH:mm:ss`` strings;
- every LIMIT/top-k has a total-order tie-break.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from omni_crawler_spark.analytics.tables import load_table
from omni_crawler_spark.functions import enrich as E
from omni_crawler_spark.functions import text as T
from omni_crawler_spark.functions import urls as U
from omni_crawler_spark.session import spread

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

# words() split regex — must match functions/text.py::WORD_SPLIT_RE
_SPLIT_SQL = "[^a-z0-9'']+"  # SQL-escaped single quote

STOP_SQL = ", ".join(f"'{w}'" for w in E.STOPWORDS)


@dataclass
class Query:
    name: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = field(default="")


REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None, doc: str = ""):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        # A silent dict overwrite would let import order pick which
        # implementation serves a CORRECTNESS key — fail loudly
        # (an explicit raise, not assert: python -O must not restore
        # the silent-overwrite behavior).
        if name in REGISTRY:
            raise ValueError(f"duplicate query registration: {name}")
        REGISTRY[name] = Query(name=name, build=fn, oracle=oracle, doc=doc)
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def cache_tag(sf_dir: str) -> str:
    """Cache-root tag for persisted derived state (bucketed layouts,
    MinHash/IVF/inverted-search indexes): the sanitized source path
    PLUS a content fingerprint of the source parquet (relpath, size,
    mtime_ns of every file — a driver-side stat walk, no data read).
    Regenerating the data at ``sf_dir`` changes the tag, so a stale
    persisted index can never be silently served against new source
    bytes. Two sessions over identical bytes share a root; their
    bootstrap race resolves via idempotent op_ids + optimistic commit
    retry (lakehouse/table.py). Use :func:`cache_root` (not raw
    string concatenation) to place state under a tag — it prunes the
    superseded fingerprints of the same source so repeated data
    regeneration cannot accumulate unbounded orphaned roots."""
    import hashlib
    import os

    h = hashlib.md5()
    for root, _dirs, files in sorted(os.walk(sf_dir)):
        for fname in sorted(files):
            p = os.path.join(root, fname)
            st = os.stat(p)
            h.update(
                f"{os.path.relpath(p, sf_dir)}:"
                f"{st.st_size}:{st.st_mtime_ns};".encode()
            )
    base = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    return f"{base}_{h.hexdigest()[:12]}"


def cache_root(parent: str, sf_dir: str) -> str:
    """``<parent>/<cache_tag(sf_dir)>``, with garbage collection of
    SUPERSEDED siblings: any ``<parent>/<same-base>_<other-fp>`` dir
    belongs to a prior generation of the same source data (the
    fingerprint changed because the parquet was regenerated) and is
    deleted before returning — the stale index can never be read
    again (its tag no longer resolves) and would otherwise accumulate
    one full derived-index copy per regeneration.

    Siblings are matched by EXACT base equality after splitting the
    trailing ``_<12-hex-fp>`` suffix — a prefix match would collide
    distinct sources whose sanitized names nest (the sanitizer maps
    both '/' and '.' to '_', so '/data/sf0.1' is a prefix of
    '/data/sf0.1.v2''s base and a startswith GC would delete the
    OTHER source's live root)."""
    import os
    import shutil

    tag = cache_tag(sf_dir)
    base = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    hexdigits = set("0123456789abcdef")
    if os.path.isdir(parent):
        for d in os.listdir(parent):
            if d == tag:
                continue
            d_base, sep, fp = d.rpartition("_")
            if (
                sep
                and d_base == base
                and len(fp) == 12
                and set(fp) <= hexdigits
            ):
                shutil.rmtree(os.path.join(parent, d), ignore_errors=True)
    return os.path.join(parent, tag)


def ordered_small(df: DataFrame, *cols: str) -> DataFrame:
    """Total order for a SMALL result of an EXPENSIVE lineage.

    A global ``orderBy`` plans a range exchange whose RangePartitioner
    runs a separate sampling job over the child — the entire upstream
    pipeline executes twice. When the result is known-small (verified
    near-dup pairs, top-k), one single-partition shuffle of the final
    rows + a partition-local sort gives the same total order with one
    execution. Never use on large results."""
    return df.repartition(1).sortWithinPartitions(*cols)


def exclusive_prefix_sum(
    df: DataFrame,
    id_col: str,
    value_col: str,
    bucket_w: int = 64,
    out_col: str = "cum_before",
) -> DataFrame:
    """Distributed exclusive prefix sum of ``value_col`` in ``id_col``
    order, appended as ``out_col`` — the classic TWO-LEVEL scan: a
    global window cumsum would serialize the corpus onto one
    partition, so level 1 aggregates per-``bucket_w``-id-range partial
    sums and windows over the #buckets-row table, then broadcasts the
    exclusive bucket bases back for a within-bucket window cumsum that
    parallelizes across buckets. Level 2 tasks are bounded by
    ``bucket_w`` rows; level 1's single-partition window holds
    rows/``bucket_w`` rows, so at real scale ``bucket_w`` must GROW
    with the corpus (~sqrt(rows) balances the two levels; at 1e10
    rows, bucket_w=1e5 keeps both under 1e5 rows/task) — the fixed
    sandbox default of 64 only exercises the shape. Preconditions:
    ``id_col`` values must be UNIQUE (the within-bucket orderBy has no
    tie-break, so duplicate ids make the exclusive sum
    order-dependent), and the input must not already contain columns
    named ``_psum_bucket``/``_bt``/``_base``. Shared by
    corpus_pack_sequences (token-stream offsets) and
    multimodal_wds_shards (shard byte offsets)."""
    from pyspark.sql import Window

    withb = df.withColumn(
        "_psum_bucket", (F.col(id_col) / bucket_w).cast("long")
    )
    bases = (
        withb.groupBy("_psum_bucket")
        .agg(F.sum(value_col).alias("_bt"))
        .withColumn(
            "_base",
            F.coalesce(
                F.sum("_bt").over(
                    Window.orderBy("_psum_bucket").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("_psum_bucket", "_base")
    )
    within = F.coalesce(
        F.sum(value_col).over(
            Window.partitionBy("_psum_bucket")
            .orderBy(id_col)
            .rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    return (
        withb.join(F.broadcast(bases), "_psum_bucket")
        .withColumn(out_col, F.col("_base") + within)
        .drop("_psum_bucket", "_base")
    )


def davg_int(col, n=4):
    """Exact cross-engine average of an integral column."""
    return F.round(F.sum(col).cast("double") / F.count(F.lit(1)), n)


def dsum(col):
    """Order-independent (decimal) sum of a double column, as double."""
    return F.sum(col.cast("decimal(27,6)")).cast("double")


def davg_double(col, n=4):
    return F.round(dsum(col) / F.count(F.lit(1)), n)


_ORACLE_AVG_INT = "ROUND(CAST(SUM({c}) AS DOUBLE)/COUNT(*), {n})"
_ORACLE_SUM_DBL = "CAST(SUM(CAST({c} AS DECIMAL(27,6))) AS DOUBLE)"
_ORACLE_AVG_DBL = (
    "ROUND(CAST(SUM(CAST({c} AS DECIMAL(27,6))) AS DOUBLE)/COUNT(*), {n})"
)


# ---------------------------------------------------------------------------
# §2.4 Aggregations
# ---------------------------------------------------------------------------


@register(
    "agg_global_count",
    "SELECT COUNT(*) AS n_articles FROM documents",
    doc="A1 — SELECT COUNT(*) (dashboard.py:597, omni_storage.py:298-306)",
)
def agg_global_count(spark, sf_dir):
    return _t(spark, sf_dir, "documents").agg(F.count("*").alias("n_articles"))


@register(
    "agg_count_distinct",
    "SELECT COUNT(DISTINCT source) AS n_domains, "
    "COUNT(DISTINCT lang) AS n_categories FROM documents",
    doc="A2 — COUNT(DISTINCT domain) (dashboard.py:601-602; data_exporter.py:421-427)",
)
def agg_count_distinct(spark, sf_dir):
    return _t(spark, sf_dir, "documents").agg(
        F.countDistinct("source").alias("n_domains"),
        F.countDistinct("lang").alias("n_categories"),
    )


@register(
    "agg_multi_stat",
    "SELECT "
    + _ORACLE_AVG_INT.format(c="n_chars", n=4)
    + " AS avg_len, MIN(n_chars) AS min_len, MAX(n_chars) AS max_len, "
    "COUNT(CASE WHEN n_chars >= 300 THEN 1 END) AS n_long FROM documents",
    doc="A3 — AVG/MIN/MAX + conditional COUNT in one pass (dashboard.py:604-618)",
)
def agg_multi_stat(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.agg(
        davg_int(F.col("n_chars")).alias("avg_len"),
        F.min("n_chars").alias("min_len"),
        F.max("n_chars").alias("max_len"),
        F.count(F.when(F.col("n_chars") >= 300, 1)).alias("n_long"),
    )


@register(
    "agg_by_category",
    "SELECT lang AS category, COUNT(*) AS cnt, "
    + _ORACLE_AVG_INT.format(c="n_chars", n=4)
    + " AS avg_len FROM documents GROUP BY lang "
    "ORDER BY cnt DESC, category",
    doc="A4 — GROUP BY category ORDER BY count DESC (dashboard.py:626-632,761-766)",
)
def agg_by_category(spark, sf_dir):
    return (
        _t(spark, sf_dir, "documents")
        .groupBy(F.col("lang").alias("category"))
        .agg(F.count("*").alias("cnt"), davg_int(F.col("n_chars")).alias("avg_len"))
        .orderBy(F.desc("cnt"), "category")
    )


@register(
    "agg_domain_topn",
    "SELECT source AS domain, COUNT(*) AS cnt, "
    + _ORACLE_AVG_INT.format(c="n_chars", n=4)
    + " AS avg_len, "
    "COUNT(CASE WHEN n_chars >= 300 THEN 1 END) AS n_long "
    "FROM documents GROUP BY source HAVING COUNT(*) >= 1 "
    "ORDER BY cnt DESC, domain LIMIT 15",
    doc="A5 — per-domain stats top-15 (dashboard.py:931-943; data_exporter.py:456-463)",
)
def agg_domain_topn(spark, sf_dir):
    return (
        _t(spark, sf_dir, "documents")
        .groupBy(F.col("source").alias("domain"))
        .agg(
            F.count("*").alias("cnt"),
            davg_int(F.col("n_chars")).alias("avg_len"),
            F.count(F.when(F.col("n_chars") >= 300, 1)).alias("n_long"),
        )
        .filter(F.col("cnt") >= 1)
        .orderBy(F.desc("cnt"), "domain")
        .limit(15)
    )


@register(
    "agg_daily_counts",
    "SELECT strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS cnt, "
    + _ORACLE_AVG_DBL.format(c="value", n=4)
    + " AS avg_value FROM events GROUP BY day ORDER BY day",
    doc="A6 — GROUP BY DATE(processing_timestamp) (data_exporter.py:473-479)",
)
def agg_daily_counts(spark, sf_dir):
    return (
        _t(spark, sf_dir, "events")
        .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(F.count("*").alias("cnt"), davg_double(F.col("value")).alias("avg_value"))
        .orderBy("day")
    )


@register(
    "agg_pivot_daily_type",
    "SELECT strftime(ts, '%Y-%m-%d') AS day, "
    + ", ".join(
        f"COUNT(CASE WHEN event_type = '{t}' THEN 1 END) AS {t}"
        for t in EVENT_TYPES
    )
    + " FROM events GROUP BY day ORDER BY day",
    doc="A7 — pivoted time×label series with zero-fill (dashboard.py:839-873)",
)
def agg_pivot_daily_type(spark, sf_dir):
    return (
        _t(spark, sf_dir, "events")
        .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .pivot("event_type", EVENT_TYPES)
        .count()
        .na.fill(0)
        .orderBy("day")
    )


@register(
    "agg_word_topk",
    f"""
    SELECT word, COUNT(*) AS cnt FROM (
      SELECT unnest(regexp_split_to_array(lower(text), '{_SPLIT_SQL}')) AS word
      FROM documents
    ) WHERE word <> '' AND word NOT IN ({STOP_SQL})
    GROUP BY word ORDER BY cnt DESC, word LIMIT 15
    """,
    doc="A8 — tokenize, stopword-filter, top-15 (content_enricher.py:164-178)",
)
def agg_word_topk(spark, sf_dir):
    # spread so the tokenize + explode + partial aggregation run in
    # parallel; the post-shuffle word groupBy is tiny either way
    d = _t(spark, sf_dir, "documents").transform(spread, "doc_id")
    stop = F.array(*[F.lit(w) for w in E.STOPWORDS])
    return (
        d.select(F.explode(T.words(F.col("text"))).alias("word"))
        .filter(~F.array_contains(stop, F.col("word")))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "word")
        .limit(15)
    )


@register(
    "agg_quality_buckets",
    "SELECT CASE WHEN n_chars < 150 THEN 'short' WHEN n_chars < 300 THEN 'medium' "
    "WHEN n_chars < 450 THEN 'long' ELSE 'very_long' END AS bucket, "
    "COUNT(*) AS cnt FROM documents GROUP BY bucket ORDER BY cnt DESC, bucket",
    doc="A9 — ES range-bucket facets (<50,50-70,70-85,85+) (advanced_search.py:151-181)",
)
def agg_quality_buckets(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    bucket = (
        F.when(F.col("n_chars") < 150, "short")
        .when(F.col("n_chars") < 300, "medium")
        .when(F.col("n_chars") < 450, "long")
        .otherwise("very_long")
    )
    return (
        d.groupBy(bucket.alias("bucket"))
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "bucket")
    )


@register(
    "agg_success_rate",
    "SELECT strftime(ts, '%Y-%m-%d') AS day, "
    "ROUND(CAST(COUNT(CASE WHEN event_type <> 'error' THEN 1 END) AS DOUBLE)"
    "/COUNT(*), 4) AS success_rate FROM events GROUP BY day ORDER BY day",
    doc="A10 — success-rate over recent records (system_monitor.py:127-141)",
)
def agg_success_rate(spark, sf_dir):
    return (
        _t(spark, sf_dir, "events")
        .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(
            F.round(
                F.count(F.when(F.col("event_type") != "error", 1)).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("success_rate")
        )
        .orderBy("day")
    )


@register(
    "agg_search_analytics",
    "SELECT event_type AS query, COUNT(*) AS n_searches, "
    + _ORACLE_SUM_DBL.format(c="value")
    + " AS total_results, "
    "strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS last_searched "
    "FROM events GROUP BY event_type ORDER BY query",
    doc="A11 — per-query count/total/last-seen (advanced_search.py:250-276)",
)
def agg_search_analytics(spark, sf_dir):
    return (
        _t(spark, sf_dir, "events")
        .groupBy(F.col("event_type").alias("query"))
        .agg(
            F.count("*").alias("n_searches"),
            dsum(F.col("value")).alias("total_results"),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("last_searched"),
        )
        .orderBy("query")
    )


# ---------------------------------------------------------------------------
# §2.5 Window / ranking / top-k
# ---------------------------------------------------------------------------


@register(
    "window_recent_100",
    "SELECT event_id, event_type, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s "
    "FROM events ORDER BY ts DESC, event_id DESC LIMIT 100",
    doc="W1 — recent-100 ring buffer (omni_storage.py:264-266)",
)
def window_recent_100(spark, sf_dir):
    return (
        _t(spark, sf_dir, "events")
        .select(
            "event_id",
            "event_type",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        )
        .orderBy(F.desc("ts"), F.desc("event_id"))
        .limit(100)
        .drop("ts")
    )


@register(
    "window_topk",
    "SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
    "ORDER BY o_totalprice DESC, o_orderkey LIMIT 10",
    doc="W2 — ORDER BY quality DESC LIMIT 10 (data_exporter.py:489-495)",
)
def window_topk(spark, sf_dir):
    return (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(10)
    )


@register(
    "window_pagination",
    "SELECT doc_id, source, n_chars FROM documents "
    "ORDER BY doc_id LIMIT 20 OFFSET 40",
    doc="W3 — LIMIT/OFFSET pagination (dashboard.py:661-676)",
)
def window_pagination(spark, sf_dir):
    """Keyset pagination: the page-40 cursor is the max key of the
    first 40 rows (a distributed TakeOrderedAndProject, not a global
    single-partition row_number), broadcast as a scalar predicate;
    the page itself is another top-k past the cursor. No Exchange
    funnels the whole table through one partition — survives 100x."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    cursor = (
        d.select("doc_id")
        .orderBy("doc_id")
        .limit(40)
        .agg(F.max("doc_id").alias("last_seen"))
    )
    return (
        d.join(F.broadcast(cursor), F.col("doc_id") > F.col("last_seen"))
        .drop("last_seen")
        .orderBy("doc_id")
        .limit(20)
    )


@register(
    "window_per_group_topk",
    "SELECT o_orderpriority, o_orderkey, o_totalprice FROM ("
    "  SELECT o_orderpriority, o_orderkey, o_totalprice, "
    "  ROW_NUMBER() OVER (PARTITION BY o_orderpriority "
    "  ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders"
    ") WHERE rn <= 3",
    doc="W4 — per-host priority queue analog: top-3 per group "
    "(url_discovery_engine.py:102-103)",
)
def window_per_group_topk(spark, sf_dir):
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), "o_orderkey"
    )
    return (
        _t(spark, sf_dir, "orders")
        .select("o_orderpriority", "o_orderkey", "o_totalprice")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .drop("rn")
    )


# ---------------------------------------------------------------------------
# §2.3 Joins
# ---------------------------------------------------------------------------


@register(
    "join_fact_dim",
    "SELECT r.r_name AS region, COUNT(*) AS n_orders, "
    + _ORACLE_SUM_DBL.format(c="o.o_totalprice")
    + " AS revenue FROM orders o "
    "JOIN customer c ON o.o_custkey = c.c_custkey "
    "JOIN nation n ON c.c_nationkey = n.n_nationkey "
    "JOIN region r ON n.n_regionkey = r.r_regionkey "
    "GROUP BY r.r_name ORDER BY region",
    doc="J1 — fact⋈dim star join with broadcast dims (data_exporter.py:391-396)",
)
def join_fact_dim(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = F.broadcast(_t(spark, sf_dir, "customer"))
    n = F.broadcast(_t(spark, sf_dir, "nation"))
    r = F.broadcast(_t(spark, sf_dir, "region"))
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"))
        .agg(F.count("*").alias("n_orders"), dsum(F.col("o_totalprice")).alias("revenue"))
        .orderBy("region")
    )


@register(
    "join_lineitem_part",
    "SELECT p.p_brand AS brand, COUNT(*) AS n_items, "
    + _ORACLE_SUM_DBL.format(c="l.l_quantity")
    + " AS total_qty, "
    + _ORACLE_AVG_DBL.format(c="l.l_extendedprice", n=4)
    + " AS avg_price FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey "
    "GROUP BY p.p_brand ORDER BY brand",
    doc="J1b — big-fact ⋈ mid-dim (broadcast) with multi-agg",
)
def join_lineitem_part(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    p = F.broadcast(_t(spark, sf_dir, "part"))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count("*").alias("n_items"),
            dsum(F.col("l_quantity")).alias("total_qty"),
            davg_double(F.col("l_extendedprice")).alias("avg_price"),
        )
        .orderBy("brand")
    )


# ---------------------------------------------------------------------------
# §2.6 Set ops / dedup
# ---------------------------------------------------------------------------


@register(
    "dedup_exact_hash",
    "SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id, "
    "COUNT(*) AS n_copies FROM documents GROUP BY md5(text)",
    doc="D2 — content-hash dedup (enhanced_article.py:84-87; "
    "content_enricher.py:254-259)",
)
def dedup_exact_hash(spark, sf_dir):
    return (
        _t(spark, sf_dir, "documents")
        .groupBy(F.md5(F.col("text").cast("binary")).alias("content_hash"))
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
    )


@register(
    "set_union",
    "SELECT doc_id FROM documents WHERE doc_id < 100 "
    "UNION SELECT doc_id FROM documents WHERE doc_id BETWEEN 50 AND 150",
    doc="D3 — frontier union across discovery sources "
    "(url_discovery_engine.py:94-105)",
)
def set_union(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    a = d.filter(F.col("doc_id") < 100).select("doc_id")
    b = d.filter(F.col("doc_id").between(50, 150)).select("doc_id")
    return a.unionByName(b).distinct()


# ---------------------------------------------------------------------------
# Bench headline: TPC-H Q1/Q5-style analytics over the sales tables
# ---------------------------------------------------------------------------


@register(
    "tpch_q5_local_supplier",
    """
    SELECT n_name,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)))
                AS DOUBLE) / 10000.0 AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
                 AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
    doc="TPC-H Q5 shape — local-supplier revenue by nation: the classic "
    "mixed join (two big-fact shuffle joins lineitem⋈orders⋈customer + "
    "three broadcast dims supplier/nation/region, with the "
    "c_nationkey=s_nationkey locality condition), date-range filter "
    "pushed to the orders scan, Q1's exact int64 fixed-point revenue "
    "sum. At 100 TB the fact⋈fact joins shuffle on the natural "
    "bucketing keys (orderkey/custkey); everything else broadcasts.",
)
def tpch_q5_local_supplier(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    customer = _t(spark, sf_dir, "customer")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    rev_i = F.round(F.col("l_extendedprice") * 100).cast("long") * (
        100 - F.round(F.col("l_discount") * 100).cast("long")
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(supplier),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg((F.sum(rev_i).cast("double") / 10000.0).alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


@register(
    "tpch_q1_pricing",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(qty_i) AS DOUBLE) AS sum_qty,
           CAST(SUM(price_i) AS DOUBLE) / 100.0 AS sum_base_price,
           CAST(SUM(price_i * (100 - disc_i)) AS DOUBLE) / 10000.0
             AS sum_disc_price,
           ROUND(CAST(SUM(qty_i) AS DOUBLE) / COUNT(*), 4) AS avg_qty,
           ROUND((CAST(SUM(price_i) AS DOUBLE) / 100.0) / COUNT(*), 4)
             AS avg_price,
           COUNT(*) AS count_order
    FROM (
      SELECT l_returnflag, l_linestatus,
             CAST(ROUND(l_quantity) AS BIGINT) AS qty_i,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS price_i,
             CAST(ROUND(l_discount * 100) AS BIGINT) AS disc_i
      FROM lineitem
    )
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    doc="bench headline — scan-heavy multi-agg (maps A3/A5 at scale). "
    "Money columns are 2-dp fixed-point by construction, so sums run "
    "as exact int64 arithmetic (order-independent, cross-engine "
    "deterministic) instead of decimal(27,6) — ~1.7x faster with "
    "identical semantics; disc_price = price_i*(100-disc_i) is exact "
    "integer math, no double product in the hot loop. int64 headroom: "
    "~1e9/row → safe past 1e9 rows/group; beyond that, re-widen to "
    "decimal or two-level sums (Spark 4 ANSI mode throws on overflow "
    "rather than wrapping).",
)
def tpch_q1_pricing(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    qty_i = F.round(F.col("l_quantity")).cast("long")
    price_i = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_i = F.round(F.col("l_discount") * 100).cast("long")
    return (
        li.select("l_returnflag", "l_linestatus",
                  qty_i.alias("qty_i"), price_i.alias("price_i"),
                  disc_i.alias("disc_i"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("qty_i").cast("double").alias("sum_qty"),
            (F.sum("price_i").cast("double") / 100.0).alias("sum_base_price"),
            (
                F.sum(F.col("price_i") * (100 - F.col("disc_i"))).cast("double")
                / 10000.0
            ).alias("sum_disc_price"),
            F.round(
                F.sum("qty_i").cast("double") / F.count(F.lit(1)), 4
            ).alias("avg_qty"),
            F.round(
                (F.sum("price_i").cast("double") / 100.0) / F.count(F.lit(1)),
                4,
            ).alias("avg_price"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )
