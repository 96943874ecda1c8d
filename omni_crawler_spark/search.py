"""Full-text search API (reference entry point 3, SURVEY §3.3).

``multi_match`` re-expresses the reference's ES bool query
(src/search/advanced_search.py:41-132): tokenized multi-field scoring
with per-field boosts and a ``fuzziness: AUTO`` analog; ``highlight``
produces the <mark>-tagged fragments + content preview
(:118-128, 222-233); ``apply_filters`` covers the filter conditions
(:66-105, P7); faceting is the A9 aggregation family in the registry.

The registry queries search_fulltext / search_highlight are
oracle-paired instances of these functions over derived columns.

Scale shape: ``multi_match`` probes an inverted index — tokenization
is a codegen'd split+explode into distinct (token, doc, field)
postings, query terms are fuzzy-expanded by Levenshtein against the
DISTINCT-TOKEN VOCABULARY only (≪ corpus token occurrences, Heaps'
law), and the expanded term set equi-joins back into the postings.
The reference analog is ES's Lucene inverted index, which is what
made advanced_search.py:46-63 cheap. At 100 TB, materialize
``build_inverted_index`` once (bucketed by ``tok``) and pass it to
``multi_match_indexed`` per query; the per-query cost is then one
vocab-side fuzzy expansion + one bucket-pruned equi-join, never an
edit-distance pass over corpus tokens (``multi_match_scan`` — the
previous plan — is kept as the parity twin and measures exactly
that anti-pattern).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from omni_crawler_spark.functions.text import WORD_SPLIT_RE
from omni_crawler_spark.session import local_rows

# ES multi_match boosts ×10 (advanced_search.py:52-58) — integer-exact sums
DEFAULT_FIELDS: dict[str, int] = {
    "title": 30,
    "content": 20,
    "key_phrases": 20,
    "authors": 15,
    "domain": 12,
}


def auto_max_edits(term: str) -> int:
    """ES ``fuzziness: AUTO``: 0 edits for length 1-2, 1 for 3-5,
    2 for 6+."""
    n = len(term)
    return 0 if n < 3 else 1 if n < 6 else 2


def _parse_terms(spark, query: str, fuzziness: str | None):
    terms = [
        (t, auto_max_edits(t) if fuzziness == "AUTO" else 0)
        for t in query.lower().split()
        if t
    ]
    if not terms:
        raise ValueError("empty query")
    return local_rows(spark, terms, "term string, maxed int")


def _resolve_fields(docs: DataFrame, fields: dict[str, int] | None):
    return fields or {
        k: v for k, v in DEFAULT_FIELDS.items() if k in docs.columns
    }


def build_inverted_index(
    docs: DataFrame,
    fields: dict[str, int] | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Posting rows (tok, fld, boost10, <id_col>), distinct — the
    token→doc inverted index. One codegen'd explode pass over the
    corpus; no Python, no edit distance. At scale this is a persisted
    table bucketed by ``tok`` (probes become bucket-pruned joins) and
    maintained incrementally per crawl cycle."""
    fields = _resolve_fields(docs, fields)
    long = docs.select(
        F.col(id_col),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(fld).alias("fld"),
                    F.lit(b10).alias("boost10"),
                    F.col(fld).cast("string").alias("val"),
                )
                for fld, b10 in fields.items()
            ])
        ).alias("f"),
    ).select(id_col, "f.fld", "f.boost10", "f.val")
    return (
        long.select(
            id_col, "fld", "boost10",
            F.explode(
                F.array_distinct(F.split(F.lower("val"), WORD_SPLIT_RE))
            ).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .distinct()
    )


def expand_terms(index: DataFrame, term_df: DataFrame) -> DataFrame:
    """(tok, term) pairs where an index token matches a query term
    within its edit budget. The Levenshtein runs ONLY against the
    distinct-token vocabulary — the one place the non-equi condition
    survives; its cost is |vocab| × |terms|, independent of corpus
    size. Exact terms (maxed=0) could skip it entirely via an
    equi-probe, but AUTO gives every term of length >= 3 a nonzero
    budget, so the split is not worth a second join."""
    vocab = index.select("tok").distinct()
    return vocab.join(
        F.broadcast(term_df),
        F.levenshtein(F.col("tok"), F.col("term")) <= F.col("maxed"),
    ).select("tok", "term")


def multi_match_indexed(
    index: DataFrame,
    term_df: DataFrame,
    id_col: str = "doc_id",
    size: int = 20,
) -> DataFrame:
    """Probe a prebuilt inverted index: fuzzy-expand the query terms
    against the vocabulary, then one broadcast equi-join on ``tok``
    into the postings — the corpus-sized side never sees an edit
    distance."""
    expansion = expand_terms(index, term_df)
    matched = (
        index.join(F.broadcast(expansion), "tok")
        .select(id_col, "fld", "boost10", "term")
        .distinct()
    )
    return (
        matched.groupBy(id_col)
        .agg(F.round(F.sum("boost10").cast("double") / 10.0, 4).alias("score"))
        .filter(F.col("score") > 0)
        .orderBy(F.desc("score"), id_col)
        .limit(size)
    )


def multi_match(
    docs: DataFrame,
    query: str,
    fields: dict[str, int] | None = None,
    id_col: str = "doc_id",
    fuzziness: str | None = "AUTO",
    size: int = 20,
) -> DataFrame:
    """(id, score) for documents matching ``query`` over the boosted
    ``fields`` ({column: boost×10}), operator-OR semantics: a field
    scores its boost once per query term it (fuzzy-)matches.
    Builds the inverted index inline and probes it; results are
    identical to ``multi_match_scan`` (pytest-pinned) with the
    Levenshtein bounded to the vocabulary."""
    index = build_inverted_index(docs, fields, id_col)
    term_df = _parse_terms(docs.sparkSession, query, fuzziness)
    return multi_match_indexed(index, term_df, id_col=id_col, size=size)


def multi_match_scan(
    docs: DataFrame,
    query: str,
    fields: dict[str, int] | None = None,
    id_col: str = "doc_id",
    fuzziness: str | None = "AUTO",
    size: int = 20,
) -> DataFrame:
    """The pre-index plan: Levenshtein against EVERY distinct
    (doc, field, token) row — linear in corpus tokens with the edit
    distance as the dominant constant. Kept as the parity twin for
    tests (multi_match must return exactly these rows) and as the
    measured anti-pattern the inverted index removes."""
    fields = _resolve_fields(docs, fields)
    term_df = _parse_terms(docs.sparkSession, query, fuzziness)
    long = docs.select(
        F.col(id_col),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(fld).alias("fld"),
                    F.lit(b10).alias("boost10"),
                    F.col(fld).cast("string").alias("val"),
                )
                for fld, b10 in fields.items()
            ])
        ).alias("f"),
    ).select(id_col, "f.fld", "f.boost10", "f.val")
    toks = long.select(
        id_col, "fld", "boost10",
        F.explode(
            F.array_distinct(F.split(F.lower("val"), WORD_SPLIT_RE))
        ).alias("tok"),
    ).filter(F.col("tok") != "")
    matched = (
        toks.join(
            F.broadcast(term_df),
            F.levenshtein(F.col("tok"), F.col("term")) <= F.col("maxed"),
        )
        .select(id_col, "fld", "boost10", "term")
        .distinct()
    )
    return (
        matched.groupBy(id_col)
        .agg(F.round(F.sum("boost10").cast("double") / 10.0, 4).alias("score"))
        .filter(F.col("score") > 0)
        .orderBy(F.desc("score"), id_col)
        .limit(size)
    )


def _fragment(text_col, term: str, fragment_size: int = 150):
    """One fragment centred on the first occurrence of ``term``
    (advanced_search.py:122-123: fragment_size 150), every occurrence
    <mark>-tagged; NULL when the term is absent."""
    lt = F.lower(text_col)
    pos = F.instr(lt, term)
    half = fragment_size // 2 - 15
    frag = F.substring(
        lt, F.greatest(F.lit(1), pos - half).cast("int"), fragment_size
    )
    return F.when(
        pos > 0, F.replace(frag, F.lit(term), F.lit(f"<mark>{term}</mark>"))
    )


def highlight(
    docs: DataFrame,
    terms: list[str],
    content_col: str = "content",
    title_col: str | None = "title",
    preview_len: int = 300,
) -> DataFrame:
    """Adds ``title_hl`` (whole-field highlight, number_of_fragments 0)
    and ``content_preview`` ('...'.join(fragments)[:N] + '...',
    advanced_search.py:222-233) for docs containing any exact term."""
    terms = [t.lower() for t in terms]
    lt = F.lower(F.col(content_col))
    hit = F.lit(False)
    for t in terms:
        hit = hit | (F.instr(lt, t) > 0)
    out = docs.filter(hit)
    if title_col is not None:
        title_hl = F.lower(F.col(title_col))
        for t in terms:
            title_hl = F.replace(
                title_hl, F.lit(t), F.lit(f"<mark>{t}</mark>")
            )
        out = out.withColumn("title_hl", title_hl)
    preview = F.concat(
        F.substring(
            F.concat_ws(
                "...", *[_fragment(F.col(content_col), t) for t in terms]
            ),
            1,
            preview_len,
        ),
        F.lit("..."),
    )
    return out.withColumn("content_preview", preview)


# W6 sort-config dispatch (advanced_search.py:134-149): search-result
# sort key → column. 'relevance' is ES _score (the multi_match score
# column); the rest mirror the reference's sort_config dict.
SORT_KEYS: dict[str, str] = {
    "relevance": "score",
    "quality": "quality_score",
    "date": "processing_ts",
    "length": "content_length",
}


def sort_results(
    docs: DataFrame,
    by: str = "relevance",
    ascending: bool = False,
    id_col: str = "doc_id",
    size: int | None = None,
) -> DataFrame:
    """Parameterized W6 sort dispatch — one entry point for the
    relevance/quality/date/length × asc/desc sort configs of
    advanced_search.py:134-149 (reference default: desc). The id
    tie-break makes every order total, so paginated/limited results
    are deterministic. With ``size`` the plan is a top-k
    (TakeOrderedAndProject), not a global sort."""
    try:
        col = SORT_KEYS[by]
    except KeyError:
        raise ValueError(
            f"unknown sort key {by!r}; expected one of {sorted(SORT_KEYS)}"
        ) from None
    key = F.asc(col) if ascending else F.desc(col)
    out = docs.orderBy(key, F.asc(id_col))
    return out.limit(size) if size is not None else out


def apply_filters(
    docs: DataFrame,
    domains: list[str] | None = None,
    categories: list[str] | None = None,
    date_from=None,
    date_to=None,
    min_quality: float | None = None,
    sentiment: str | None = None,
    min_length: int | None = None,
    ts_col: str = "processing_ts",
) -> DataFrame:
    """The bool-query filter conditions (advanced_search.py:66-105):
    terms / range / term filters as chained Catalyst predicates."""
    if domains:
        docs = docs.filter(F.col("domain").isin(domains))
    if categories:
        docs = docs.filter(F.col("category").isin(categories))
    if date_from is not None:
        docs = docs.filter(F.col(ts_col) >= F.lit(date_from))
    if date_to is not None:
        docs = docs.filter(F.col(ts_col) <= F.lit(date_to))
    if min_quality is not None:
        docs = docs.filter(F.col("quality_score") >= min_quality)
    if sentiment is not None:
        docs = docs.filter(F.col("sentiment_label") == sentiment)
    if min_length is not None:
        docs = docs.filter(F.col("content_length") >= min_length)
    return docs
