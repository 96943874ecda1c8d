"""Text/HTML scalar functions as pure column expressions.

Each function mirrors a behavior of the reference (citations are
file:line into /root/reference/) but is expressed with built-in
``pyspark.sql.functions`` so it runs JVM-side under whole-stage
codegen. The heavyweight BeautifulSoup cleaning pipeline
(src/utils/content_cleaner.py:10-295) is re-expressed as a regex
cascade — see ``clean_html`` — with per-row equality tests against a
pure-Python reimplementation in tests/test_text.py.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

WORD_SPLIT_RE = r"[^a-z0-9']+"
# complement of the split pattern: a "word" is a maximal run of the
# token characters, so extracting these runs yields exactly the
# split-and-drop-empties token array without any HOF lambda
WORD_TOKEN_RE = r"[a-z0-9']+"

# ten common English words — language heuristic of the reference
# (src/processing/content_enricher.py:180-193): >=6 present → 'en'
COMMON_EN_WORDS = [
    "the", "and", "is", "in", "to", "of", "a", "that", "it", "for",
]

# error-page indicators (src/utils/content_cleaner.py:246-258)
ERROR_PAGE_PATTERNS = [
    "page not found",
    "404 error",
    "access denied",
    "forbidden",
    "server error",
    "service unavailable",
]


def words(text: Column) -> Column:
    """Lowercased word array with empties removed.

    Implemented as ``regexp_extract_all`` of the token-run pattern
    rather than ``filter(split(...), w -> w != '')``: the two are
    value-identical (maximal [a-z0-9'] runs ≡ non-empty split
    fields), but Spark interprets HOF lambdas row-by-row while the
    regex extraction stays inside whole-stage codegen — measured
    ~2-4x on tokenization-bound scans (guide §4.1: prefer built-ins).
    """
    return F.regexp_extract_all(
        F.lower(text), F.lit(WORD_TOKEN_RE), F.lit(0)
    )


def word_count(text: Column) -> Column:
    """len(content.split()) analog (src/crawler/simple_crawler.py:81)."""
    return F.size(words(text))


def excerpt(text: Column, max_len: int = 200) -> Column:
    """First ``max_len`` chars cut back to a word boundary + '...'
    (src/processing/content_enricher.py:78-96, 300-304)."""
    cut = F.substring(text, 1, max_len)
    word_safe = F.when(
        F.length(text) <= max_len, text
    ).otherwise(F.concat(F.regexp_replace(cut, r"\s+\S*$", ""), F.lit("...")))
    return word_safe


def detect_language(text: Column) -> Column:
    """'en' if >=6 of 10 common English words appear, else 'unknown'
    (src/processing/content_enricher.py:180-193)."""
    hits = F.size(
        F.array_intersect(
            F.array_distinct(words(text)),
            F.array(*[F.lit(w) for w in COMMON_EN_WORDS]),
        )
    )
    return F.when(hits >= 6, F.lit("en")).otherwise(F.lit("unknown"))


def is_error_page(text: Column) -> Column:
    """True if the content matches an error-page indicator
    (src/utils/content_cleaner.py:246-258)."""
    lowered = F.lower(text)
    cond = F.lit(False)
    for pat in ERROR_PAGE_PATTERNS:
        cond = cond | lowered.contains(pat)
    return cond


def clean_html(html: Column) -> Column:
    """Regex HTML→text cascade mirroring the reference's fallback
    cleaner (src/utils/content_cleaner.py:276-288) plus its
    normalization pass (:221-244):

    1. drop <script>/<style>/<noscript>/<template> blocks with bodies;
    2. strip all remaining tags;
    3. unescape the common HTML entities;
    4. collapse whitespace.
    """
    no_blocks = F.regexp_replace(
        html, r"(?is)<(script|style|noscript|template)[^>]*>.*?</\1>", " "
    )
    no_comments = F.regexp_replace(no_blocks, r"(?s)<!--.*?-->", " ")
    no_tags = F.regexp_replace(no_comments, r"(?s)<[^>]+>", " ")
    unescaped = no_tags
    for ent, ch in [
        ("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"),
        ("&quot;", '"'), ("&#39;", "'"), ("&apos;", "'"), ("&nbsp;", " "),
    ]:
        unescaped = F.replace(unescaped, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(unescaped, r"\s+", " "))


def content_hash(title: Column, content: Column, url: Column) -> Column:
    """sha256(title+content+url) duplicate-detection key
    (src/models/enhanced_article.py:84-87)."""
    return F.sha2(F.concat_ws("", title, content, url), 256)


def article_id(url: Column, content: Column) -> Column:
    """``article_{md5(url)[:8]}_{md5(content)[:8]}``
    (src/crawler/simple_crawler.py:134-143)."""
    return F.concat(
        F.lit("article_"),
        F.substring(F.md5(url), 1, 8),
        F.lit("_"),
        F.substring(F.md5(content), 1, 8),
    )
