"""Batched fetch + clean + extract + validate — ONE Arrow stage.

The north rule's words, taken literally: "a batched fetch+clean+
validate stage expressed entirely as DataFrame ops and vectorized
pandas/Arrow UDFs — no per-row Python [dispatch]". One ``mapInPandas``
takes an Arrow batch of scheduled URLs and emits finished article
records: fetch, HTML clean, title/caption/image extraction, token
counts, validity gates, article id, quality score, category.

Why not JVM column expressions for the clean/validate part? Measured
in round 1 (PLANS.md): downstream of a Python eval node Spark runs
expressions *interpreted* (no whole-stage codegen, no subexpression
elimination), so the regex cascade + higher-order-function token
filters cost ~2-7 ms/row and inflated with thread count (GC-bound in
one local-mode heap) — the fetch stage pinned 32 cores at 93% for
~73 s on 331k rows. The same logic inside the already-running Python
batch costs ~0.08 ms/row and scales with worker processes, which is
also the production shape (independent executor heaps). The JVM-
column twins of these functions live in functions/text.py + enrich.py
and serve the (codegen'd, oracle-verified) analytics registry.

Reference parity (regexes identical to tests/reference_sim.py):
title F5 (simple_crawler.py:103-120), HTML clean F8
(content_cleaner.py:221-244,276-288), meta-description caption
(multi_engine_crawler.py:201-212), gates P2-P4/P9
(simple_crawler.py:187-213; content_cleaner.py:246-274), id F2
(simple_crawler.py:134-143), quality N7
(content_enhancement.py:155-200), category N8 (:202-219).
"""

from __future__ import annotations

import hashlib
import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from omni_crawler_spark.frontier.synthetic import (
    synth_page_html,
    synth_sitemap_xml,
)
from omni_crawler_spark.functions.enrich import CATEGORY_KEYWORDS
from omni_crawler_spark.functions.text import (
    ERROR_PAGE_PATTERNS,
    WORD_SPLIT_RE,
)

_RE_HEAD = re.compile(r"(?is)<head[^>]*>.*?</head>")
_RE_BLOCKS = re.compile(r"(?is)<(script|style|noscript|template)[^>]*>.*?</\1>")
_RE_COMMENTS = re.compile(r"(?s)<!--.*?-->")
_RE_TAGS = re.compile(r"(?s)<[^>]+>")
_RE_WS = re.compile(r"\s+")
_RE_TITLE = re.compile(r"(?is)<title[^>]*>(.*?)</title>")
_RE_META_DESC = re.compile(r'(?i)<meta name="description" content="([^"]*)"')
_RE_IMG = re.compile(r'(?i)<img src="/([^"]+)\.png"')
_RE_LINK = re.compile(r'(?i)<a href="(/[^"]*)"')
_RE_WORDS = re.compile(WORD_SPLIT_RE)
_RE_SENTS = re.compile(r"(?<=[.!?])\s+")
_ENTITIES = [
    ("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"),
    ("&quot;", '"'), ("&#39;", "'"), ("&apos;", "'"), ("&nbsp;", " "),
]


def clean_html_py(html: str) -> str:
    """Python twin of functions/text.py::clean_html (same regexes) —
    the _basic_clean fallback (content_cleaner.py:276-288)."""
    s = _RE_BLOCKS.sub(" ", html)
    s = _RE_COMMENTS.sub(" ", s)
    s = _RE_TAGS.sub(" ", s)
    for ent, ch in _ENTITIES:
        s = s.replace(ent, ch)
    return _RE_WS.sub(" ", s).strip()


# --- main-content / boilerplate extraction (content_cleaner.py:100-244) ----
#
# The reference runs a BeautifulSoup cascade; this is the same cascade
# as deterministic regexes over the (non-nested) synthetic pages: a
# production deployment would swap a readability/bs4 call into this
# same Arrow batch — the Spark-side shape (one Python stage, columns
# out) does not change.

# unwanted paired tags, removed with their bodies (:102-106)
_RE_UNWANTED_BLOCKS = re.compile(
    r"(?is)<(script|style|noscript|template|nav|header|footer|aside|form"
    r"|iframe|svg|button)[^>]*>.*?</\1>"
)
# void/self-closing unwanted tags (:102-106)
_RE_VOID_TAGS = re.compile(r"(?i)<(?:meta|link|img|source|audio|video)\b[^>]*>")
# ad-indicator class/id fragments (:113-117)
AD_INDICATORS = [
    "advertisement", "ad-container", "banner-ad", "popup",
    "newsletter", "subscribe", "social-share", "comments",
    "share", "related", "recommended", "popular", "trending",
]
_RE_AD_ELEMENT = re.compile(
    r'(?is)<(\w+)[^>]*\b(?:class|id)="[^"]*(?:'
    + "|".join(AD_INDICATORS)
    + r')[^"]*"[^>]*>.*?</\1>'
)
# domain → content class selectors (:31-61); npr's .storytext kept as
# the reference-cited entry, synthetic Zipf-head hosts exercise it
DOMAIN_SELECTORS: dict[str, list[str]] = {
    "npr.org": ["storytext", "storycontent"],
    **{f"host{i}.example.com": ["storytext"] for i in range(5)},
}
_RE_P = re.compile(r"(?is)<p[^>]*>(.*?)</p>")
# text-level unwanted patterns (:14-28, the non-tag subset)
_UNWANTED_TEXT = [
    re.compile(p, re.IGNORECASE | re.DOTALL)
    for p in [
        r"ADVERTISEMENT",
        r"Sign up for.*?newsletter",
        r"Follow us on",
        r"Download Embed",
        r"Listen · \d+:\d+",
        r"Transcript",
    ]
]


def _element_text(inner_html: str) -> str:
    """get_text + whitespace collapse (content_cleaner.py:197-207).
    ``' '.join(s.split())`` ≡ ``\\s+``-collapse + strip (both use the
    Unicode whitespace class); the tag pass is skipped when no '<'
    exists — equivalence to the plain-regex form is pinned by the
    per-page parity test against tests/reference_sim.py."""
    if "<" in inner_html:
        inner_html = _RE_TAGS.sub(" ", inner_html)
    return " ".join(inner_html.split())


def extract_main_content_py(html: str, domain: str) -> str | None:
    """Main-article extraction cascade (content_cleaner.py:127-195):
    domain-specific selectors → generic 'article p' / 'main p' →
    all-<p> last resort. Returns None when nothing qualifies (caller
    falls back to _basic_clean)."""
    s = _RE_UNWANTED_BLOCKS.sub(" ", html)
    s = _RE_AD_ELEMENT.sub(" ", s)
    s = _RE_VOID_TAGS.sub(" ", s)
    dom = re.sub(r"^www\.", "", (domain or "").lower())
    for cls in DOMAIN_SELECTORS.get(dom, []):
        parts = [
            t
            for m in re.finditer(
                rf'(?is)<(\w+)[^>]*class="[^"]*{cls}[^"]*"[^>]*>(.*?)</\1>', s
            )
            if (t := _element_text(m.group(2))) and len(t) > 50
        ]
        if parts and len(combined := " ".join(parts)) > 200:
            return combined
    for container in ("article", "main"):
        parts = [
            t
            for m in re.finditer(
                rf"(?is)<{container}[^>]*>(.*?)</{container}>", s
            )
            for pm in _RE_P.finditer(m.group(1))
            if (t := _element_text(pm.group(1))) and len(t) > 20
        ]
        if parts and len(combined := " ".join(parts)) > 200:
            return combined
    parts = [
        t
        for pm in _RE_P.finditer(s)
        if (t := _element_text(pm.group(1))) and 50 < len(t) < 1000
    ]
    return " ".join(parts) if parts else None


# one alternation of the same 6 patterns: if it finds nothing, none of
# the individual subs can match
_RE_UNWANTED_SCAN = re.compile(
    "|".join(p.pattern for p in _UNWANTED_TEXT), re.IGNORECASE | re.DOTALL
)


def clean_text_py(text: str) -> str:
    """Post-extraction normalization (content_cleaner.py:221-244):
    entity unescape, unwanted text patterns, whitespace collapse.
    Guarded fast paths (no '&' → skip unescape; combined-alternation
    miss → skip the 6 subs) — byte-equivalent to the plain cascade,
    pinned by the reference_sim parity test."""
    if "&" in text:
        for ent, ch in _ENTITIES:
            text = text.replace(ent, ch)
    if _RE_UNWANTED_SCAN.search(text):
        for pat in _UNWANTED_TEXT:
            text = pat.sub("", text)
    return " ".join(text.split())


def extract_title_py(html: str, domain: str) -> str:
    m = _RE_TITLE.search(html)
    t = _RE_WS.sub(" ", m.group(1)).strip()[:500] if m else ""
    return t if t else f"Article from {domain}"


# --- multi-engine fallback chain (multi_engine_crawler.py:29-53) -----------
#
# The reference tries requests → enhanced-requests → selenium per URL,
# stopping at the first engine that returns an article. The synthetic
# stand-in makes per-(url, engine) availability a pure hash function:
# 'requests' is down for ~15% of URLs, 'enhanced' for ~30% of those,
# 'selenium' always answers — so the chain recovers every transient
# failure and the drain's fetched/validated counts are engine-
# independent, exactly like the reference (same page whichever engine
# wins). The winning engine + attempt count are recorded as columns.

ENGINE_CHAIN = ["requests", "enhanced", "selenium"]
_ENGINE_FAIL_PCT = {"requests": 15, "enhanced": 30, "selenium": 0}


def _engine_roll(url_hash: int, salt: int) -> int:
    x = (url_hash * 0x9E3779B97F4A7C15 + salt * 0xC2B2AE3D27D4EB4F) & (
        2**64 - 1
    )
    x ^= x >> 29
    return x % 100


def engine_for(url_hash: int) -> tuple[str, int]:
    """(winning engine, attempts) for a URL — deterministic."""
    for i, eng in enumerate(ENGINE_CHAIN):
        if _engine_roll(url_hash, i + 1) >= _ENGINE_FAIL_PCT[eng]:
            return eng, i + 1
    return ENGINE_CHAIN[-1], len(ENGINE_CHAIN)


_RE_LOC = re.compile(r"(?i)<loc>([^<]*)</loc>")


def process_page(
    url: str, host: str, url_hash: int, crawl_seq: int
) -> dict:
    """Fetch one page (synthetic server) and produce the article
    record — the per-row codec invoked from the Arrow batch loop.

    A ``/sitemap.xml`` URL (discovered via a robots ``Sitemap:``
    directive, frontier/politeness.py::parse_robots_sitemaps) fetches
    the host's sitemap instead of an article: its ``<loc>`` entries
    become the record's ``links`` — they flow through the SAME
    discovery path as page links into the next cycle's frontier
    (reference: url_discovery_engine.py:58-89 sitemap parse). The
    record is valid=False (a sitemap is not an article; it still
    lands in the fetched log with lineage, and its URL joins the
    seen set like any attempt)."""
    crawler_engine, n_engine_attempts = engine_for(int(url_hash))
    if url.endswith("/sitemap.xml"):
        xml = synth_sitemap_xml(host, int(url_hash))
        return {
            "status": 200,
            "links": _RE_LOC.findall(xml),
            "title": "Sitemap",
            "content": "",
            "caption": "",
            "image_id": None,
            "word_count": 0,
            "content_length": 0,
            "valid": False,
            "article_id": (
                "sitemap_" + hashlib.md5(url.encode()).hexdigest()[:8]
            ),
            "quality_score": 0,
            "category": "sitemap",
            "crawler_engine": crawler_engine,
            "n_engine_attempts": n_engine_attempts,
        }
    status, html = synth_page_html(int(url_hash), int(crawl_seq))
    body_html = _RE_HEAD.sub(" ", html)
    # main-content extraction first (content_cleaner.py:78-82: use the
    # cascade result when substantial, else the basic regex clean)
    main = extract_main_content_py(body_html, host)
    if main is not None and len(main.strip()) >= 100:
        content = clean_text_py(main)
    else:
        content = clean_html_py(body_html)
    lower = content.lower()
    title = extract_title_py(html, host)
    m = _RE_META_DESC.search(html)
    mi = _RE_IMG.search(html)
    image_id = mi.group(1) if mi else None
    # S-discovery: outgoing same-host links (relative hrefs -> absolute)
    links = [f"https://{host}{p}" for p in _RE_LINK.findall(html)]
    words = [w for w in _RE_WORDS.split(lower) if w]
    n_words = len(words)
    n_chars = len(content)
    sents = [s for s in _RE_SENTS.split(content) if s.strip()]
    n_sents = len(sents)
    avg_words = n_words / n_sents if n_sents else 0.0
    valid = (
        status == 200
        and n_chars >= 200
        and n_words >= 50
        and not any(p in lower for p in ERROR_PAGE_PATTERNS)
        and n_sents >= 2
        and 3 < avg_words < 50
        and len(title) >= 10
    )
    # F2: article_{md5(url)[:8]}_{md5(content)[:8]}
    article_id = (
        "article_"
        + hashlib.md5(url.encode()).hexdigest()[:8]
        + "_"
        + hashlib.md5(content.encode()).hexdigest()[:8]
    )
    # N7 quality rubric
    n_entities = min(12, n_words // 30)
    q = 0
    q += 30 if n_chars >= 2000 else 20 if n_chars >= 1000 else \
         15 if n_chars >= 500 else 10 if n_chars >= 200 else 0
    tl = len(title)
    q += 20 if 10 <= tl <= 100 else 10 if tl > 0 else 0
    q += 30 if n_entities >= 10 else 20 if n_entities >= 5 else \
         10 if n_entities >= 1 else 0
    q += 10  # authors (synthetic pages always carry one)
    q += 10 if image_id is not None else 0
    q = min(100, q)
    # N8 category: first keyword-list hit wins
    category = "general"
    for cat, kws in CATEGORY_KEYWORDS:
        if any(kw in lower for kw in kws):
            category = cat
            break
    return {
        "status": status,
        "links": links,
        "title": title,
        "content": content,
        "caption": m.group(1) if m else "",
        "image_id": image_id,
        "word_count": n_words,
        "content_length": n_chars,
        "valid": valid,
        "article_id": article_id,
        "quality_score": q,
        "category": category,
        "crawler_engine": crawler_engine,
        "n_engine_attempts": n_engine_attempts,
    }


ARTICLE_FIELDS = [
    StructField("status", IntegerType()),
    StructField("links", ArrayType(StringType())),
    StructField("title", StringType()),
    StructField("content", StringType()),
    StructField("caption", StringType()),
    StructField("image_id", StringType()),
    StructField("word_count", IntegerType()),
    StructField("content_length", IntegerType()),
    StructField("valid", BooleanType()),
    StructField("article_id", StringType()),
    StructField("quality_score", IntegerType()),
    StructField("category", StringType()),
    StructField("crawler_engine", StringType()),
    StructField("n_engine_attempts", IntegerType()),
]


def fetch_extract_validate(scheduled: DataFrame) -> DataFrame:
    """scheduled rows → finished article records (one Arrow stage).
    The raw html never crosses back to the JVM — only extracted
    columns do (at 100 TB: shuffle articles, not pages)."""
    out_schema = StructType(scheduled.schema.fields + ARTICLE_FIELDS)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = [
                process_page(u, h, uh, cs)
                for u, h, uh, cs in zip(
                    pdf["url_canonical"], pdf["host"],
                    pdf["url_hash"], pdf["crawl_seq"],
                )
            ]
            cols = pd.DataFrame(recs, index=pdf.index)
            yield pd.concat([pdf, cols], axis=1)

    return scheduled.mapInPandas(run, out_schema)
