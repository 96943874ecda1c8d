"""Crawl-primitive queries with oracles (SURVEY §2.2-2.3, §2.7 F1-F4).

The frontier inputs are derived *deterministically from doc_id* so the
DuckDB oracle can re-derive the expected outputs independently — the
oracle constructs the expected canonical URL from components rather
than re-running our regex pipeline, which makes it a true semantic
check of canonicalization, the seen anti-join, and the per-host
priority queue.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from omni_crawler_spark.analytics.registry import _t, ordered_small, register
from omni_crawler_spark.frontier import politeness as P
from omni_crawler_spark.functions import text as T
from omni_crawler_spark.functions import urls as U
from omni_crawler_spark.session import local_rows, spread

# messy raw URL built from doc_id: exercises uppercase scheme, www.
# prefix, default port, trailing slash, unsorted query, fragment
_RAW_URL_SQL = """
  (CASE WHEN doc_id % 3 = 1 THEN 'HTTPS' ELSE 'https' END) || '://'
  || (CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE '' END)
  || 'host' || (doc_id % 20) || '.example.com'
  || (CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END)
  || '/sec' || (doc_id % 7) || '/article-' || doc_id
  || (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END)
  || (CASE WHEN doc_id % 3 = 0 THEN '?b=2&a=1' ELSE '' END)
  || (CASE WHEN doc_id % 2 = 1 THEN '#frag' ELSE '' END)
"""

# what canonicalization must produce for that raw URL
_CANON_URL_SQL = """
  'https://host' || (doc_id % 20) || '.example.com'
  || '/sec' || (doc_id % 7) || '/article-' || doc_id
  || (CASE WHEN doc_id % 3 = 0 THEN '?a=1&b=2' ELSE '' END)
"""


def _raw_url(doc_id):
    return F.concat(
        F.when(doc_id % 3 == 1, F.lit("HTTPS")).otherwise(F.lit("https")),
        F.lit("://"),
        F.when(doc_id % 2 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.lit("host"), (doc_id % 20).cast("string"), F.lit(".example.com"),
        F.when(doc_id % 4 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/sec"), (doc_id % 7).cast("string"),
        F.lit("/article-"), doc_id.cast("string"),
        F.when(doc_id % 5 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(doc_id % 3 == 0, F.lit("?b=2&a=1")).otherwise(F.lit("")),
        F.when(doc_id % 2 == 1, F.lit("#frag")).otherwise(F.lit("")),
    )


def synthetic_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic frontier derived from `documents`: raw URL variants,
    host, priority (rss=10/sitemap=5, url_discovery_engine.py:47,81)."""
    d = _t(spark, sf_dir, "documents")
    doc_id = F.col("doc_id")
    return d.select(
        "doc_id",
        _raw_url(doc_id).alias("url"),
        F.when(doc_id % 2 == 0, 10).otherwise(5).alias("priority"),
        F.when(doc_id % 2 == 0, "rss").otherwise("sitemap").alias("source"),
    )


@register(
    "url_canonicalize",
    f"""
    SELECT doc_id, {_RAW_URL_SQL} AS url_raw, {_CANON_URL_SQL} AS url_canonical
    FROM documents ORDER BY doc_id
    """,
    doc="F1 — full URL canonicalization (scheme/host lower, www. strip, "
    "default-port strip, fragment drop, query sort, trailing-slash strip); "
    "reference only lowercases host (simple_crawler.py:122-132). The oracle "
    "constructs the expected canonical form independently.",
)
def url_canonicalize(spark, sf_dir):
    f = synthetic_frontier(spark, sf_dir)
    return f.select(
        "doc_id",
        F.col("url").alias("url_raw"),
        U.canonicalize_url(F.col("url")).alias("url_canonical"),
    ).orderBy("doc_id")


@register(
    "frontier_seen_antijoin",
    f"""
    WITH frontier AS (
      SELECT doc_id, {_CANON_URL_SQL} AS url FROM documents
    ), seen AS (
      SELECT md5({_CANON_URL_SQL}) AS url_md5 FROM documents WHERE doc_id % 7 = 0
    )
    SELECT f.doc_id, f.url FROM frontier f
    WHERE NOT EXISTS (SELECT 1 FROM seen s WHERE s.url_md5 = md5(f.url))
    ORDER BY f.doc_id
    """,
    doc="P1/J2 — seen-set anti-join: the reference's Redis SISMEMBER on "
    "md5(url) (url_discovery_engine.py:108-115) as a left_anti join — "
    "the same plain exact anti-join the crawl engine's seen filter runs "
    "(frontier/crawl.py); a bloom pre-screen saved no lookup there",
)
def frontier_seen_antijoin(spark, sf_dir):
    f = synthetic_frontier(spark, sf_dir).select(
        "doc_id", U.canonicalize_url(F.col("url")).alias("url")
    )
    seen = (
        f.filter(F.col("doc_id") % 7 == 0)
        .select(U.url_seen_md5(F.col("url")).alias("url_md5"))
    )
    return (
        f.withColumn("url_md5", U.url_seen_md5(F.col("url")))
        .join(seen, "url_md5", "left_anti")
        .select("doc_id", "url")
        .orderBy("doc_id")
    )


@register(
    "frontier_priority_order",
    f"""
    SELECT host, doc_id, priority, crawl_seq FROM (
      SELECT host, doc_id, priority,
             ROW_NUMBER() OVER (PARTITION BY host
                                ORDER BY priority DESC, doc_id) AS crawl_seq
      FROM (SELECT doc_id, 'host' || (doc_id % 20) || '.example.com' AS host,
                   CASE WHEN doc_id % 2 = 0 THEN 10 ELSE 5 END AS priority
            FROM documents)
    ) ORDER BY host, crawl_seq
    """,
    doc="W4 — the per-host politeness priority queue: frontier sorted by "
    "priority desc within host (url_discovery_engine.py:102-103), total "
    "order via (priority desc, doc_id) → crawl_seq",
)
def frontier_priority_order(spark, sf_dir):
    f = synthetic_frontier(spark, sf_dir).withColumn(
        "host", U.url_host(F.col("url"))
    )
    w = Window.partitionBy("host").orderBy(F.desc("priority"), "doc_id")
    return (
        f.select("host", "doc_id", "priority")
        .withColumn("crawl_seq", F.row_number().over(w))
        .orderBy("host", "crawl_seq")
    )


@register(
    "filter_content_quality",
    """
    SELECT doc_id, n_chars, n_words FROM (
      SELECT doc_id, n_chars,
             len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9'']+'),
                 w -> w <> '')) AS n_words,
             lower(text) AS lt
      FROM documents
    ) WHERE n_chars >= 200 AND n_words >= 50
      AND NOT (lt LIKE '%page not found%' OR lt LIKE '%404 error%'
               OR lt LIKE '%access denied%' OR lt LIKE '%forbidden%'
               OR lt LIKE '%server error%' OR lt LIKE '%service unavailable%')
    ORDER BY doc_id
    """,
    doc="P3/P9 — content-quality gate: >=200 chars, >=50 words "
    "(simple_crawler.py:187-213) + error-page indicator drop "
    "(content_cleaner.py:246-258)",
)
def filter_content_quality(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    n_words = T.word_count(F.col("text"))
    return (
        d.select("doc_id", "n_chars", n_words.alias("n_words"), "text")
        .filter(
            (F.col("n_chars") >= 200)
            & (F.col("n_words") >= 50)
            & ~T.is_error_page(F.col("text"))
        )
        .drop("text")
        .orderBy("doc_id")
    )


@register(
    "scalar_hash_ids",
    """
    SELECT doc_id,
           'article_' || substr(md5('https://h.example.com/a-' || doc_id), 1, 8)
             || '_' || substr(md5(text), 1, 8) AS article_id,
           sha256('t' || text || 'https://h.example.com/a-' || doc_id)
             AS content_hash
    FROM documents ORDER BY doc_id
    """,
    doc="F2/D2 — article_{md5(url)[:8]}_{md5(content)[:8]} id "
    "(simple_crawler.py:134-143) + sha256 content hash "
    "(enhanced_article.py:84-87)",
)
def scalar_hash_ids(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    url = F.concat(F.lit("https://h.example.com/a-"), F.col("doc_id").cast("string"))
    return d.select(
        "doc_id",
        T.article_id(url.cast("binary"), F.col("text").cast("binary")).alias(
            "article_id"
        ),
        T.content_hash(F.lit("t"), F.col("text"), url).alias("content_hash"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Web-graph anchor-text aggregation + URL blocklist filter (round-5
# widening: the two crawl-side signals a web-scale pipeline derives
# before a page is ever fetched — inbound anchor text for ranking /
# doc expansion, and domain/path blocklists for scope control).
# ---------------------------------------------------------------------------

# deterministic 3-outlink graph derived from documents: src doc_id
# links to host (doc_id + j*7) % 20 with the j-th word of the source
# text as the anchor — both engines construct the identical edges.
_ANCHOR_LINKS_SQL = """
  SELECT doc_id AS src_doc,
         'host' || CAST((doc_id + j * 7) % 20 AS VARCHAR)
           || '.example.com' AS dst_host,
         string_split(text, ' ')[j] AS anchor
  FROM documents, (SELECT unnest([1, 2, 3]) AS j)
"""


@register(
    "graph_anchor_text",
    f"""
    WITH links AS ({_ANCHOR_LINKS_SQL}),
    tc AS (
      SELECT dst_host, anchor, COUNT(*) AS c
      FROM links GROUP BY dst_host, anchor
    ), ranked AS (
      SELECT dst_host, anchor,
             row_number() OVER (
               PARTITION BY dst_host ORDER BY c DESC, anchor) AS rn
      FROM tc
    ), hosts AS (
      SELECT dst_host, COUNT(*) AS n_inlinks,
             COUNT(DISTINCT src_doc) AS n_src_docs
      FROM links GROUP BY dst_host
    )
    SELECT h.dst_host, h.n_inlinks, h.n_src_docs,
           (SELECT string_agg(anchor, ',' ORDER BY rn)
            FROM ranked r
            WHERE r.dst_host = h.dst_host AND rn <= 3)
             AS top_anchor_terms
    FROM hosts h ORDER BY dst_host
    """,
    doc="inbound anchor-text aggregation — the classic web-graph doc-"
    "expansion signal (what other pages' link text says a target is "
    "about; the reference's entity/article link join is the tiny "
    "analog). A deterministic 3-outlink graph is derived from "
    "documents (dst host (doc_id+j*7)%20, anchor = j-th source word) "
    "so the oracle re-derives identical edges; per target host: "
    "inlink count, distinct linking docs, top-3 anchor terms by "
    "(count desc, term) rank. 100 TB shape: one partial-aggregated "
    "groupBy(dst, anchor) shuffling (host, term) pairs — never the "
    "raw link list — then a per-host top-k window over the already-"
    "aggregated counts and one tiny join; anchor-text skew (everyone "
    "links google.com) is the documented salting candidate, same as "
    "window_topk_salted",
)
def graph_anchor_text(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    links = (
        d.select(
            "doc_id", "text",
            F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("j"),
        )
        .select(
            F.col("doc_id").alias("src_doc"),
            F.concat(
                F.lit("host"),
                ((F.col("doc_id") + F.col("j") * 7) % 20).cast("string"),
                F.lit(".example.com"),
            ).alias("dst_host"),
            F.element_at(F.split("text", " "), F.col("j")).alias("anchor"),
        )
    )
    tc = links.groupBy("dst_host", "anchor").agg(F.count(F.lit(1)).alias("c"))
    rn = F.row_number().over(
        Window.partitionBy("dst_host").orderBy(F.desc("c"), F.asc("anchor"))
    )
    tops = (
        tc.withColumn("rn", rn)
        .filter(F.col("rn") <= 3)
        .groupBy("dst_host")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("rn", "anchor"))),
                    lambda s: s["anchor"],
                ),
            ).alias("top_anchor_terms")
        )
    )
    hosts = links.groupBy("dst_host").agg(
        F.count(F.lit(1)).alias("n_inlinks"),
        F.countDistinct("src_doc").alias("n_src_docs"),
    )
    return ordered_small(
        hosts.join(tops, "dst_host")
        .select("dst_host", "n_inlinks", "n_src_docs", "top_anchor_terms"),
        "dst_host",
    )


_BLOCKLIST = ["host3.example.com", "host7.example.com",
              "host11.example.com", "badsite.org"]


@register(
    "filter_url_blocklist",
    f"""
    WITH f AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0
                  THEN regexp_replace(u, '^https://', 'https://cdn.')
                  ELSE u END AS url
      FROM (SELECT doc_id, {_CANON_URL_SQL} AS u FROM documents) t
    ), parts AS (
      SELECT doc_id, url,
             regexp_extract(url, '^https://([^/]+)', 1) AS host,
             regexp_extract(url, '^https://[^/]+(/[^?]*)', 1) AS path
      FROM f
    ), bl(domain) AS (
      VALUES {", ".join(f"('{d}')" for d in _BLOCKLIST)}
    ), cand AS (
      SELECT doc_id,
             unnest([host, regexp_replace(host, '^[^.]+[.]', '')]) AS key
      FROM parts
    ), hits AS (
      SELECT DISTINCT doc_id FROM cand JOIN bl ON cand.key = bl.domain
    )
    SELECT p.doc_id, p.url, p.host,
           CASE WHEN h.doc_id IS NOT NULL THEN 'blocked_domain'
                WHEN p.path LIKE '/sec5/%' THEN 'blocked_path'
                ELSE 'ok' END AS verdict
    FROM parts p LEFT JOIN hits h USING (doc_id) ORDER BY p.doc_id
    """,
    doc="URL scope control — domain blocklist with wildcard-subdomain "
    "semantics (host matches an entry exactly OR after stripping one "
    "subdomain label) plus a path-prefix block, evaluated on the "
    "canonicalized URL before any fetch. Every third doc carries a "
    "planted cdn. subdomain (which canonicalization keeps — only "
    "www. is stripped), so cdn.host3/7/11 URLs match ONLY via the "
    "stripped parent key: both match branches are exercised by the "
    "oracle, not just the exact-host one. The oracle re-derives host/"
    "path with the same regexes and the same CASE precedence "
    "(domain block wins over path block). 100 TB shape: the "
    "blocklist is a broadcast dim (even real blocklists are ~10^6 "
    "rows); candidate keys (host + parent suffix) explode to 2 rows "
    "per URL and equi-join broadcast — never a regex-per-blocklist-"
    "entry scan, never a nested-loop join; verdict is a map-side "
    "CASE so the filter pushes into the scan stage of any consumer",
)
def filter_url_blocklist(spark, sf_dir):
    # spread: canonicalize_url and the host/path regex extracts are
    # the CPU cost here
    f = synthetic_frontier(spark, sf_dir).transform(spread, "doc_id")
    parts = f.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.regexp_replace(
                U.canonicalize_url(F.col("url")),
                "^https://", "https://cdn.",
            ),
        )
        .otherwise(U.canonicalize_url(F.col("url")))
        .alias("url"),
    ).select(
        "doc_id", "url",
        F.regexp_extract("url", "^https://([^/]+)", 1).alias("host"),
        F.regexp_extract("url", "^https://[^/]+(/[^?]*)", 1).alias("path"),
    )
    bl = local_rows(spark, [(d,) for d in _BLOCKLIST], "domain string")
    cand = parts.select(
        "doc_id",
        F.explode(
            F.array(
                F.col("host"),
                F.regexp_replace("host", "^[^.]+[.]", ""),
            )
        ).alias("key"),
    )
    hits = (
        cand.join(F.broadcast(bl), cand["key"] == bl["domain"])
        .select("doc_id")
        .distinct()
        .withColumn("hit", F.lit(True))
    )
    verdict = (
        F.when(F.col("hit"), F.lit("blocked_domain"))
        .when(F.col("path").startswith("/sec5/"), F.lit("blocked_path"))
        .otherwise(F.lit("ok"))
    )
    return (
        parts.join(F.broadcast(hits), "doc_id", "left")
        .select("doc_id", "url", "host", verdict.alias("verdict"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Crawl-scheduler queries: global fetch-budget allocation (exact integer
# max-min fairness / water-filling) and hash-sharded crawler assignment
# with skew stats. The reference's analog is a single global semaphore
# (`max_concurrent_crawls`, omni_orchestrator.py:122-127) — one box, one
# knob; at cluster scale the same policy becomes "split a global fetch
# budget fairly across hosts" and "assign hosts to crawler shards".
# ---------------------------------------------------------------------------

# per-host pending counts derived identically by both engines; the
# n_chars floor makes the counts non-uniform so the water level binds
_PENDING_SQL = """
  SELECT 'host' || CAST(doc_id % 20 AS VARCHAR) || '.example.com' AS host,
         CAST(COUNT(*) AS BIGINT) AS pending
  FROM documents WHERE n_chars >= 150 GROUP BY 1
"""


@register(
    "crawl_budget_allocate",
    f"""
    WITH pend AS ({_PENDING_SQL}),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST((CAST(SUM(pending) AS BIGINT) * 6) // 10 AS BIGINT) AS b
      FROM pend
    ),
    ranked AS (
      SELECT host, pending,
             CAST(row_number() OVER (ORDER BY pending, host) AS BIGINT)
               AS rn,
             CAST(SUM(pending) OVER (ORDER BY pending, host
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      FROM pend
    ),
    kk AS (
      SELECT CAST(COALESCE(MAX(rn), 0) AS BIGINT) AS k
      FROM ranked, tot WHERE cum + (n - rn) * pending <= b
    ),
    kc AS (
      SELECT CAST(COALESCE(MAX(CASE WHEN r.rn = kk.k THEN r.cum END), 0)
               AS BIGINT) AS cum_k
      FROM ranked r, kk
    )
    SELECT r.host, r.pending,
           CAST(CASE WHEN r.rn <= kk.k THEN r.pending
                ELSE ((tot.b - kc.cum_k) // (tot.n - kk.k))
                     + (CASE WHEN r.rn - kk.k
                               <= (tot.b - kc.cum_k) % (tot.n - kk.k)
                        THEN 1 ELSE 0 END)
           END AS BIGINT) AS quota,
           CASE WHEN r.rn <= kk.k THEN 'full' ELSE 'throttled' END AS status
    FROM ranked r, kk, kc, tot
    ORDER BY r.host
    """,
    doc="per-host fetch-budget allocation under exact integer max-min "
    "fairness (water-filling): a global budget b = 60% of total "
    "pending is split so every host gets min(pending, level); hosts "
    "below the water level are served in full ('full'), the rest are "
    "throttled to an integer base share with the remainder handed out "
    "deterministically in (pending asc, host) order. The closed form "
    "— largest k with cum_k + (n-k)*pending_k <= b — replaces the "
    "iterative fill, so both engines compute it with two window "
    "passes and integer arithmetic only (no float drift). Distributed "
    "generalization of the reference's single global semaphore "
    "(max_concurrent_crawls, omni_orchestrator.py:122-127). 100 TB "
    "shape: one shuffle to the per-host counts; everything after runs "
    "on the hosts dim (<=10^7 rows — a single ordered window over a "
    "broadcast-size table, same class as the alert-rules eval), and "
    "the resulting quota table broadcasts back against the frontier",
)
def crawl_budget_allocate(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    pend = (
        d.filter(F.col("n_chars") >= 150)
        .groupBy(
            F.concat(
                F.lit("host"),
                (F.col("doc_id") % 20).cast("string"),
                F.lit(".example.com"),
            ).alias("host")
        )
        .agg(F.count(F.lit(1)).alias("pending"))
    )
    w = Window.orderBy("pending", "host")
    # n / b / k / cum_k are "global" scalars over the hosts dim, but
    # computing them as agg + broadcast crossJoin dims spawns a Spark
    # job per scalar (measured 4.6 s warm for 20 rows). As
    # unpartitioned-window projections they ride the SAME
    # single-partition WindowExec as the ranking — the whole
    # allocation is one job after the groupBy shuffle.
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = pend.select(
        "host",
        "pending",
        F.row_number().over(w).cast("long").alias("rn"),
        F.sum("pending")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum"),
    )
    full = (
        ranked.select(
            "*",
            F.count(F.lit(1)).over(wall).cast("long").alias("n"),
            F.expr("sum(pending) over () * 6 div 10").alias("b"),
        )
        .withColumn(
            "k",
            F.coalesce(
                F.max(
                    F.when(
                        F.col("cum")
                        + (F.col("n") - F.col("rn")) * F.col("pending")
                        <= F.col("b"),
                        F.col("rn"),
                    )
                ).over(wall),
                F.lit(0),
            ).cast("long"),
        )
        .withColumn(
            "cum_k",
            F.coalesce(
                F.max(F.when(F.col("rn") == F.col("k"), F.col("cum"))).over(
                    wall
                ),
                F.lit(0),
            ).cast("long"),
        )
    )
    base = F.expr("(b - cum_k) div (n - k)")
    extra = F.when(
        F.col("rn") - F.col("k") <= (F.col("b") - F.col("cum_k")) % (F.col("n") - F.col("k")),
        F.lit(1),
    ).otherwise(F.lit(0))
    quota = (
        F.when(F.col("rn") <= F.col("k"), F.col("pending"))
        .otherwise(base + extra)
        .cast("long")
    )
    status = F.when(F.col("rn") <= F.col("k"), F.lit("full")).otherwise(
        F.lit("throttled")
    )
    return ordered_small(
        full.select(
            "host", "pending", quota.alias("quota"), status.alias("status")
        ),
        "host",
    )


@register(
    "crawl_shard_assign",
    f"""
    WITH hc AS (
      SELECT 'host' || CAST(doc_id % 20 AS VARCHAR) || '.example.com'
               AS host,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM documents GROUP BY 1
    ), sh AS (
      SELECT host, n,
             CAST(strpos('0123456789abcdef', substr(md5(host), 1, 1)) - 1
               AS BIGINT) AS shard_id
      FROM hc
    )
    SELECT shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_hosts,
           CAST(SUM(n) AS BIGINT) AS n_urls,
           CAST(MAX(n) AS BIGINT) AS max_host_urls
    FROM sh GROUP BY shard_id ORDER BY shard_id
    """,
    doc="crawler shard assignment — hosts hash to one of 16 shards via "
    "the first md5 hex digit (the whole-host hash keeps politeness "
    "state shard-local: one shard owns every URL of a host, the "
    "distributed version of the reference's per-process semaphore "
    "lanes, omni_orchestrator.py:122-127); per shard: host count, URL "
    "count, and max single-host URL count (the skew signal a "
    "scheduler watches for hot shards). Cross-engine hash: md5 hex is "
    "byte-identical in Spark and DuckDB; Spark maps the digit with "
    "conv(hex,16,10), DuckDB with strpos on the hex alphabet. 100 TB "
    "shape: one groupBy(host) shuffle (map-side combined), then a "
    "16-row rollup — the shard map itself never materializes the URL "
    "list, and at real scale the same hash is the partitioner key so "
    "frontier partitions ARE the shards (no second shuffle)",
)
def crawl_shard_assign(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    hc = d.groupBy(
        F.concat(
            F.lit("host"),
            (F.col("doc_id") % 20).cast("string"),
            F.lit(".example.com"),
        ).alias("host")
    ).agg(F.count(F.lit(1)).alias("n"))
    sh = hc.select(
        "n",
        F.conv(F.substring(F.md5("host"), 1, 1), 16, 10)
        .cast("long")
        .alias("shard_id"),
    )
    return (
        sh.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_hosts"),
            F.sum("n").alias("n_urls"),
            F.max("n").alias("max_host_urls"),
        )
        .orderBy("shard_id")
    )


@register(
    "crawl_revisit_schedule",
    """
    WITH agg AS (
      SELECT user_id AS page_id,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(COUNT(*) FILTER (event_type IN ('click', 'purchase'))
               AS BIGINT) AS n_changes,
             CAST(floor(epoch(MAX(ts))) AS BIGINT) AS max_s,
             CAST(floor(epoch(MIN(ts))) AS BIGINT) AS min_s
      FROM events GROUP BY user_id
    ), sched AS (
      SELECT *, CASE
          WHEN n_changes > 0
               AND n_changes * 86400 >= 2 * (max_s - min_s) THEN 3600
          WHEN n_changes > 0
               AND n_changes * 86400 * 2 >= (max_s - min_s) THEN 86400
          WHEN n_changes > 0 THEN 604800
          ELSE 2592000
        END AS interval_s
      FROM agg
    )
    SELECT page_id, n_events, n_changes,
           CASE interval_s WHEN 3600 THEN 'hourly' WHEN 86400 THEN 'daily'
                WHEN 604800 THEN 'weekly' ELSE 'monthly'
           END AS revisit_bucket,
           CAST(interval_s AS BIGINT) AS interval_s,
           CAST(max_s + interval_s AS BIGINT) AS next_fetch_s
    FROM sched ORDER BY page_id
    """,
    doc="adaptive revisit scheduling — the change-rate policy every "
    "production crawler runs (pages that change often are re-fetched "
    "often; the reference re-crawls on a fixed orchestrator cadence, "
    "omni_orchestrator.py:122-127, with replace-by-id sinks absorbing "
    "the updates). Per page: change events ('click'/'purchase' stand "
    "in for content-changed observations) per observed span map to "
    "hourly/daily/weekly/monthly revisit buckets; next_fetch_s = last "
    "observation + interval. Rate thresholds are integer cross-"
    "multiplications (changes*86400 vs span_s multiples) — zero "
    "division, zero float drift, and span_s=0 single-observation "
    "pages fall through safely. Epochs via floor(epoch()) ↔ "
    "unix_timestamp (DuckDB epoch CAST rounds; floor matches Spark's "
    "truncation). 100 TB shape: one map-side-combined groupBy(page) "
    "over the observation log — the schedule derives in a single "
    "shuffle and joins back to the frontier broadcast-side (pages dim "
    "<< observation log)",
)
def crawl_revisit_schedule(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    is_change = F.col("event_type").isin("click", "purchase")
    agg = ev.groupBy(F.col("user_id").alias("page_id")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(is_change, 1).otherwise(0)).cast("long").alias("n_changes"),
        F.unix_timestamp(F.max("ts")).alias("max_s"),
        F.unix_timestamp(F.min("ts")).alias("min_s"),
    )
    span = F.col("max_s") - F.col("min_s")
    ch = F.col("n_changes")
    interval_s = (
        F.when((ch * 86400 >= 2 * span) & (ch > 0), F.lit(3600))
        .when((ch * 86400 * 2 >= span) & (ch > 0), F.lit(86400))
        .when(ch > 0, F.lit(604800))
        .otherwise(F.lit(2592000))
        .cast("long")
    )
    bucket = (
        F.when((ch * 86400 >= 2 * span) & (ch > 0), F.lit("hourly"))
        .when((ch * 86400 * 2 >= span) & (ch > 0), F.lit("daily"))
        .when(ch > 0, F.lit("weekly"))
        .otherwise(F.lit("monthly"))
    )
    return agg.select(
        "page_id",
        "n_events",
        "n_changes",
        bucket.alias("revisit_bucket"),
        interval_s.alias("interval_s"),
        (F.col("max_s") + interval_s).cast("long").alias("next_fetch_s"),
    ).orderBy("page_id")


# ---------------------------------------------------------------------------
# Crawl-trap detection and redirect-chain resolution — the two URL-
# graph hygiene passes a frontier runs before admitting discovered
# links (the reference has neither: its BFS depth cap,
# url_discovery_engine.py:28, is the only trap defense).
# ---------------------------------------------------------------------------

# trap-y URL construction shared by both engines: deterministic
# planted suffixes on the canonical URL scheme. Overlapping plants
# (a doc_id divisible by several moduli) simply carry several trap
# features; the DETECTOR's precedence decides the verdict — detection
# runs on the URL string alone, never on the construction flags.
_TRAP_URL_SQL = """
  SELECT doc_id,
         'https://host' || (doc_id % 20) || '.example.com'
         || '/sec' || (doc_id % 7) || '/article-' || doc_id
         || CASE WHEN doc_id % 23 = 0
                 THEN '/a/b/c/d/e/f/g/h/i/j/k' ELSE '' END
         || CASE WHEN doc_id % 31 = 0
                 THEN '/page/page/page/page' ELSE '' END
         || CASE WHEN doc_id % 19 = 0
                 THEN '/20' || (20 + doc_id % 5) || '/'
                      || lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0')
                      || '/'
                      || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
                 ELSE '' END
         || CASE WHEN doc_id % 37 = 0
                 THEN '?p1=1&p2=2&p3=3&p4=4&p5=5&p6=6&p7=7&p8=8&p9=9'
                 WHEN doc_id % 3 = 0 THEN '?a=1&b=2' ELSE '' END
         AS url
  FROM documents
"""


@register(
    "crawl_trap_detect",
    f"""
    WITH f AS ({_TRAP_URL_SQL}),
    parts AS (
      SELECT doc_id, url,
             list_filter(string_split(
               regexp_extract(url, '^https://[^/?]+([^?]*)', 1), '/'),
               x -> x <> '') AS segs,
             CAST(len(list_filter(string_split(
               regexp_extract(url, '\\?(.*)$', 1), '&'), x -> x <> ''))
               AS BIGINT) AS n_params
      FROM f
    ),
    feat AS (
      SELECT doc_id, url, n_params,
             CAST(len(segs) AS BIGINT) AS path_depth,
             CAST(COALESCE(list_max(list_transform(segs,
               x -> len(list_filter(segs, y -> y = x)))), 0)
               AS BIGINT) AS max_seg_count,
             regexp_matches(url, '/20[0-9][0-9]/[0-9][0-9]/[0-9][0-9]')
               AS has_calendar
      FROM parts
    )
    SELECT doc_id, url, path_depth, max_seg_count, n_params,
           CASE WHEN path_depth >= 8 THEN 'trap_deep'
                WHEN max_seg_count >= 3 THEN 'trap_repeat'
                WHEN has_calendar THEN 'trap_calendar'
                WHEN n_params >= 8 THEN 'trap_params'
                ELSE 'ok' END AS verdict
    FROM feat ORDER BY doc_id
    """,
    doc="crawl-trap detection over discovered URLs — the admission "
    "filter that keeps infinite URL spaces (calendar pages, cyclic "
    "path repeats, deep auto-generated trees, parameter explosions) "
    "from flooding a 10^10 frontier. Four signals computed from the "
    "URL STRING alone: path depth >= 8, any path segment occurring "
    ">= 3 times (segment multiplicity via array higher-order "
    "functions — RE2 has no backreferences, so the oracle cannot "
    "regex this; both engines count per-segment occurrences with "
    "transform/filter lambdas over the split array), a "
    "/YYYY/MM/DD calendar tail, and >= 8 query parameters; fixed "
    "verdict precedence deep > repeat > calendar > params. 100 TB "
    "shape: every signal is a map-side array/regex expression over "
    "the URL column — zero shuffles, zero joins; the O(k^2) segment "
    "count is over k<=16 segments per URL, constant work per row",
)
def crawl_trap_detect(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    doc_id = F.col("doc_id")
    url = F.concat(
        F.lit("https://host"), (doc_id % 20).cast("string"),
        F.lit(".example.com"),
        F.lit("/sec"), (doc_id % 7).cast("string"),
        F.lit("/article-"), doc_id.cast("string"),
        F.when(doc_id % 23 == 0, F.lit("/a/b/c/d/e/f/g/h/i/j/k"))
        .otherwise(F.lit("")),
        F.when(doc_id % 31 == 0, F.lit("/page/page/page/page"))
        .otherwise(F.lit("")),
        F.when(
            doc_id % 19 == 0,
            F.concat(
                F.lit("/20"), (20 + doc_id % 5).cast("string"), F.lit("/"),
                F.lpad((doc_id % 12 + 1).cast("string"), 2, "0"),
                F.lit("/"),
                F.lpad((doc_id % 28 + 1).cast("string"), 2, "0"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            doc_id % 37 == 0,
            F.lit("?p1=1&p2=2&p3=3&p4=4&p5=5&p6=6&p7=7&p8=8&p9=9"),
        )
        .when(doc_id % 3 == 0, F.lit("?a=1&b=2"))
        .otherwise(F.lit("")),
    )
    sig = U.trap_signals(F.col("url"))
    return ordered_small(
        d.select("doc_id", url.alias("url"))
        .select(
            "doc_id", "url",
            sig["path_depth"].alias("path_depth"),
            sig["max_seg_count"].alias("max_seg_count"),
            sig["n_params"].alias("n_params"),
            sig["verdict"].alias("verdict"),
        ),
        "doc_id",
    )


@register(
    "crawl_redirect_resolve",
    """
    WITH RECURSIVE e AS (
      SELECT doc_id AS src,
             CASE WHEN doc_id % 7 = 0 THEN NULL
                  ELSE doc_id - 1 END AS dst
      FROM documents
    ), walk(id, cur, hops) AS (
      SELECT src, src, 0 FROM e
      UNION ALL
      SELECT w.id, e2.dst, w.hops + 1
      FROM walk w JOIN e e2 ON w.cur = e2.src
      WHERE e2.dst IS NOT NULL
    )
    SELECT id AS doc_id, cur AS terminal_id, CAST(hops AS BIGINT) AS hops,
           CASE WHEN hops = 0 THEN 'terminal'
                ELSE 'redirected' END AS status
    FROM walk
    QUALIFY ROW_NUMBER() OVER (PARTITION BY id ORDER BY hops DESC) = 1
    ORDER BY doc_id
    """,
    doc="transitive redirect-chain resolution: every URL resolves to "
    "its terminal target with the hop count — the canonicalization a "
    "frontier applies before seen-filtering so chained 301s "
    "(a->b->c) collapse to one frontier entry. Synthetic chains: "
    "doc n redirects to n-1 unless n is a multiple of 7 (terminal), "
    "so chain length <= 6. The Spark side resolves by POINTER "
    "JUMPING with hop accumulation (anc' = anc(anc), hops' = hops + "
    "hops(anc)) — ceil(log2(7)) = 3 self-join rounds, each one hash "
    "shuffle, localCheckpoint per round keeping plan depth O(1) — "
    "the O(log chain) distributed shape, vs the oracle's sequential "
    "recursive-CTE ground truth (the same exhaustive-vs-logarithmic "
    "pairing dedup_cluster_cc uses). 100 TB shape: real redirect "
    "chains are short (median 1-2, p99 ~5), so 3-4 rounds resolve "
    "the whole web graph; never a per-hop frontier walk",
)
def crawl_redirect_resolve(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    doc_id = F.col("doc_id")
    terminal = doc_id % 7 == 0
    cur = d.select(
        doc_id.alias("id"),
        F.when(terminal, doc_id).otherwise(doc_id - 1).alias("anc"),
        F.when(terminal, 0).otherwise(1).cast("long").alias("hops"),
    ).localCheckpoint()
    for _ in range(3):  # 2^3 = 8 > max chain length 6
        a, b = cur.alias("a"), cur.alias("b")
        cur = (
            a.join(b, F.col("a.anc") == F.col("b.id"))
            .select(
                F.col("a.id").alias("id"),
                F.col("b.anc").alias("anc"),
                (F.col("a.hops") + F.col("b.hops")).alias("hops"),
            )
            .localCheckpoint()
        )
    return ordered_small(
        cur.select(
            F.col("id").alias("doc_id"),
            F.col("anc").alias("terminal_id"),
            "hops",
            F.when(F.col("hops") == 0, F.lit("terminal"))
            .otherwise(F.lit("redirected"))
            .alias("status"),
        ),
        "doc_id",
    )


# ---------------------------------------------------------------------------
# REP longest-match evaluation as oracle-paired evidence: the query
# writes a robots.txt per synthetic host and runs the crawl's own
# parser and matcher over it (frontier/politeness.py ``parse_policy``
# + ``robots_match``), so the DuckDB gate value-checks the code the
# fetch path runs — most-specific (longest) rule wins, Allow wins
# ties, no-match means allowed (RFC 9309 §2.2.2).
# ---------------------------------------------------------------------------

# five rules per host, planted so every RFC 9309 matching feature
# provably FIRES on reachable doc_ids (sections: K = host%7 holds all
# ids < 20 of that host; K2 = (host+1)%7 holds the 20-id slices where
# 20k ≡ 1 mod 7, i.e. ids 120-139, 260-279, ...):
#   r1 Disallow /secK/              literal section block
#   r2 Allow    /secK/article-1     longer literal carve-out
#   r3 Disallow /secK2/article-1*3  wildcard block (123 → blocked)
#   r4 Allow    /secK2/article-13*  wildcard carve-out that TIES r3's
#                                   length on ids 130-139 → Allow
#                                   wins the tie
#   r5 Disallow /secK/article-19$   anchored rule, LONGER than r2 →
#                                   doc 19 blocked despite the
#                                   article-1 carve-out
# The oracle SQL below differs from the engine on two conventions the
# planted rules cannot tell apart: it leaves '$' out of a rule's
# length (the engine counts its octets), and it does not escape regex
# characters in rule paths (the engine does). No planted path holds a
# regex character besides '*' and '$', and r5, the one anchored rule,
# only competes with r1 and r2 of its own section, which it outlengths
# either way.
_ROBOTS_RULES_SQL = """
  SELECT 'host' || i || '.example.com' AS host,
         '/sec' || (i % 7) || '/' AS rule_path,
         0 AS is_allow
  FROM range(20) t(i)
  UNION ALL
  SELECT 'host' || i || '.example.com' AS host,
         '/sec' || (i % 7) || '/article-1' AS rule_path,
         1 AS is_allow
  FROM range(20) t(i)
  UNION ALL
  SELECT 'host' || i || '.example.com' AS host,
         '/sec' || ((i + 1) % 7) || '/article-1*3' AS rule_path,
         0 AS is_allow
  FROM range(20) t(i)
  UNION ALL
  SELECT 'host' || i || '.example.com' AS host,
         '/sec' || ((i + 1) % 7) || '/article-13*' AS rule_path,
         1 AS is_allow
  FROM range(20) t(i)
  UNION ALL
  SELECT 'host' || i || '.example.com' AS host,
         '/sec' || (i % 7) || '/article-19$' AS rule_path,
         0 AS is_allow
  FROM range(20) t(i)
"""


@register(
    "crawl_robots_eval",
    f"""
    WITH f AS (
      SELECT doc_id, {_CANON_URL_SQL} AS url FROM documents
    ), parts AS (
      SELECT doc_id,
             regexp_extract(url, '^https://([^/]+)', 1) AS host,
             regexp_extract(url, '^https://[^/]+(/[^?]*)', 1) AS path
      FROM f
    ), rules0 AS ({_ROBOTS_RULES_SQL}),
    rules AS (
      SELECT host, rule_path, is_allow,
             '^' || replace(rule_path, '*', '.*') AS rule_re,
             len(replace(rule_path, '$', '')) AS rule_len
      FROM rules0
    ),
    matched AS (
      SELECT p.doc_id, p.host, p.path, r.rule_path, r.is_allow,
             ROW_NUMBER() OVER (
               PARTITION BY p.doc_id
               ORDER BY r.rule_len DESC, r.is_allow DESC,
                        r.rule_path DESC
             ) AS rn
      FROM parts p JOIN rules r
        ON p.host = r.host AND regexp_matches(p.path, r.rule_re)
    )
    SELECT p.doc_id, p.host, p.path,
           COALESCE(m.rule_path, '') AS matched_rule,
           CASE WHEN m.doc_id IS NULL THEN 'allowed'
                WHEN m.is_allow = 1 THEN 'allowed'
                ELSE 'disallowed' END AS verdict
    FROM parts p
    LEFT JOIN (SELECT * FROM matched WHERE rn = 1) m USING (doc_id)
    ORDER BY p.doc_id
    """,
    doc="RFC 9309 rule evaluation, oracle-paired and covering the "
    "FULL matching grammar: prefix rules, '*' wildcards (any "
    "octets), '$' end anchors, MOST-SPECIFIC-wins (longest rule), "
    "Allow beats Disallow on ties, and unmatched-means-allowed "
    "(§2.2.2). The synthetic set plants each interplay on REACHABLE "
    "doc_ids: a section-wide Disallow /secK/ with a longer literal "
    "Allow /secK/article-1 carve-out; in the next section a wildcard "
    "Disallow /secK'/article-1*3 (blocks 123) whose wildcard Allow "
    "/secK'/article-13* carve-out TIES its length on ids 130-139 — "
    "so the Allow-wins-ties rule is value-checked; and an anchored "
    "Disallow /secK/article-19$ that out-lengths the article-1 "
    "carve-out, blocking exactly doc 19 — '$' and "
    "longest-overrides-Allow checked together. The Spark side is "
    "the crawl's own matcher: each host's rules are written as a "
    "robots.txt, parsed on the driver by politeness.parse_policy, "
    "and matched by politeness.robots_match over one broadcast join "
    "of the 20-row policy dim — no shuffle, no aggregate. The oracle "
    "leaves '$' out of a rule's length and does not escape regex "
    "characters; the planted rules give the same answer under both "
    "conventions",
)
def crawl_robots_eval(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    doc_id = F.col("doc_id")
    parts = d.select(
        "doc_id",
        F.concat(
            F.lit("host"), (doc_id % 20).cast("string"),
            F.lit(".example.com"),
        ).alias("host"),
        F.concat(
            F.lit("/sec"), (doc_id % 7).cast("string"),
            F.lit("/article-"), doc_id.cast("string"),
        ).alias("path"),
    )
    policy = local_rows(
        spark,
        [
            (
                f"host{i}.example.com",
                P.parse_policy(
                    "User-agent: *\n"
                    f"Disallow: /sec{i % 7}/\n"
                    f"Allow: /sec{i % 7}/article-1\n"
                    f"Disallow: /sec{(i + 1) % 7}/article-1*3\n"
                    f"Allow: /sec{(i + 1) % 7}/article-13*\n"
                    f"Disallow: /sec{i % 7}/article-19$\n"
                )[0],
            )
            for i in range(20)
        ],
        f"host string, robots_rules {P.RULES_TYPE}",
    )
    m = F.col("m")
    return ordered_small(
        parts.join(F.broadcast(policy), "host", "left")
        .withColumn("m", P.robots_match(F.col("path"), F.col("robots_rules")))
        .select(
            "doc_id", "host", "path",
            F.coalesce(m["path"], F.lit("")).alias("matched_rule"),
            F.when(m["allow"], F.lit("allowed"))
            .otherwise(F.lit("disallowed"))
            .alias("verdict"),
        ),
        "doc_id",
    )
