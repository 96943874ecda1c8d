"""Enrichment scoring functions as deterministic column expressions.

These mirror the reference's pure-Python enrichment rubrics (citations
into /root/reference/). The spaCy/TextBlob paths (N1/N3/N5 in SURVEY
§2.8) are nondeterministic model inference; per SURVEY §5 we implement
the reference's own deterministic fallbacks (regex entities, lexicon
sentiment) as the correctness surface.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from omni_crawler_spark.functions.text import word_count, words

# 7-word lexicons of the reference's fallback sentiment
# (src/processing/content_enricher.py:205-229)
POSITIVE_WORDS = ["good", "great", "excellent", "positive", "success", "win", "growth"]
NEGATIVE_WORDS = ["bad", "terrible", "negative", "failure", "loss", "decline", "crisis"]

# category keyword lists, dict order = precedence
# (src/processing/content_enhancement.py:202-219)
CATEGORY_KEYWORDS: list[tuple[str, list[str]]] = [
    ("politics", ["election", "government", "president", "congress", "policy"]),
    ("sports", ["game", "team", "player", "championship", "league"]),
    ("technology", ["tech", "software", "ai", "computer", "startup"]),
    ("business", ["market", "economy", "company", "stock", "trade"]),
    ("health", ["health", "medical", "disease", "treatment", "hospital"]),
    ("entertainment", ["movie", "music", "celebrity", "film", "show"]),
]

STOPWORDS = [
    "a", "an", "the", "and", "or", "but", "of", "to", "in", "on", "for",
    "with", "is", "are", "was", "were", "be", "been", "it", "that", "this",
]


def _lexicon_hits(text: Column, lexicon: list[str]) -> Column:
    """Count of word occurrences (with multiplicity) from ``lexicon``."""
    lex = F.array(*[F.lit(w) for w in lexicon])
    return F.size(F.filter(words(text), lambda w: F.array_contains(lex, w)))


def sentiment_lexicon(text: Column) -> tuple[Column, Column, Column]:
    """(polarity, pos_count, neg_count) per the reference's lexicon
    sentiment (src/processing/content_enricher.py:205-229):
    polarity = (pos - neg) / (pos + neg), 0.0 when no hits."""
    pos = _lexicon_hits(text, POSITIVE_WORDS)
    neg = _lexicon_hits(text, NEGATIVE_WORDS)
    total = pos + neg
    polarity = F.when(total == 0, F.lit(0.0)).otherwise(
        F.round((pos - neg).cast("double") / total, 4)
    )
    return polarity, pos, neg


def sentiment_label(polarity: Column) -> Column:
    """pos if >0.1, neg if <-0.1 else neutral
    (src/processing/content_enhancement.py:99-130)."""
    return (
        F.when(polarity > 0.1, F.lit("positive"))
        .when(polarity < -0.1, F.lit("negative"))
        .otherwise(F.lit("neutral"))
    )


def categorize(text: Column) -> Column:
    """First keyword-list hit wins, else 'general'
    (src/processing/content_enhancement.py:202-219)."""
    lowered = F.lower(text)
    expr = F.lit("general")
    for cat, kws in reversed(CATEGORY_KEYWORDS):
        hit = F.lit(False)
        for kw in kws:
            hit = hit | lowered.contains(kw)
        expr = F.when(hit, F.lit(cat)).otherwise(expr)
    return expr


def quality_score(
    content: Column,
    title: Column,
    n_entities: Column,
    n_authors: Column,
    has_image: Column,
) -> Column:
    """Additive 0-100 rubric (src/processing/content_enhancement.py:155-200):
    content length (<=30) + title (<=20) + entity richness (<=30) +
    authors (10) + images (10), capped at 100."""
    n = F.length(content)
    content_pts = (
        F.when(n >= 2000, 30)
        .when(n >= 1000, 20)
        .when(n >= 500, 15)
        .when(n >= 200, 10)
        .otherwise(0)
    )
    t = F.length(F.coalesce(title, F.lit("")))
    title_pts = F.when((t >= 10) & (t <= 100), 20).when(t > 0, 10).otherwise(0)
    entity_pts = (
        F.when(n_entities >= 10, 30)
        .when(n_entities >= 5, 20)
        .when(n_entities >= 1, 10)
        .otherwise(0)
    )
    author_pts = F.when(n_authors > 0, 10).otherwise(0)
    image_pts = F.when(has_image, 10).otherwise(0)
    return F.least(
        F.lit(100), content_pts + title_pts + entity_pts + author_pts + image_pts
    )


def confidence_score(content: Column, n_entities: Column, n_keywords: Column) -> Column:
    """Mean of 3 bucketed factors, rounded to 2dp
    (src/processing/content_enricher.py:261-298)."""
    n = F.length(content)
    f_content = (
        F.when(n >= 1000, 1.0).when(n >= 500, 0.8).when(n >= 200, 0.6).otherwise(0.3)
    )
    f_entities = (
        F.when(n_entities >= 10, 1.0)
        .when(n_entities >= 5, 0.8)
        .when(n_entities >= 1, 0.6)
        .otherwise(0.2)
    )
    f_keywords = (
        F.when(n_keywords >= 10, 1.0)
        .when(n_keywords >= 5, 0.8)
        .when(n_keywords >= 1, 0.6)
        .otherwise(0.2)
    )
    return F.round((f_content + f_entities + f_keywords) / 3, 2)
