"""Full-text search API (omni_crawler_spark/search.py): multi_match
boost/fuzziness semantics, highlight shaping, filter conditions."""

from __future__ import annotations

import pytest

from omni_crawler_spark import search as SE


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        # (doc_id, title, content, key_phrases, authors, domain)
        (1, "Market report", "the market is up", "market watch", "Ann Lee", "news.com"),
        (2, "Daily notes", "nothing relevant here", "misc", "Bo Chan", "blog.net"),
        (3, "About markets", "a marekt typo inside", "trade", "Cy Day", "news.com"),
        (4, "Plain title", "market market market", "x", "Di Eve", "market.org"),
    ]
    return spark.createDataFrame(
        rows,
        "doc_id long, title string, content string, key_phrases string, "
        "authors string, domain string",
    ).cache()


def test_auto_fuzziness_budgets():
    assert SE.auto_max_edits("ab") == 0
    assert SE.auto_max_edits("abc") == 1
    assert SE.auto_max_edits("query") == 1
    assert SE.auto_max_edits("stream") == 2


def test_multi_match_boosts_and_fuzzy(docs):
    res = {r.doc_id: r.score for r in SE.multi_match(docs, "market").collect()}
    # doc1: title(3) + content(2) + key_phrases(2) = 7.0
    assert res[1] == 7.0
    # doc3: title 'markets' fuzzy-1 (3) + content 'marekt' fuzzy... len-6
    # term 'market' has budget 2; levenshtein(marekt, market)=2 -> content
    # matches too (2), total 5.0
    assert res[3] == 5.0
    # doc4: content(2) + domain 'market.org' tokenizes to 'market','org' (1.2)
    assert res[4] == pytest.approx(3.2)
    assert 2 not in res  # no term match anywhere
    # term frequency does NOT inflate the score (doc4 has 'market' x3)
    assert res[4] < res[1]


def test_multi_match_or_semantics_multiterm(docs):
    res = {
        r.doc_id: r.score
        for r in SE.multi_match(docs, "market relevant").collect()
    }
    # doc2 matches only 'relevant' in content -> 2.0
    assert res[2] == 2.0


def test_highlight_preview(docs):
    out = {
        r.doc_id: r
        for r in SE.highlight(docs, ["market"]).collect()
    }
    assert set(out) == {1, 4}  # exact-term docs only (doc3 is a typo)
    assert "<mark>market</mark>" in out[1].title_hl
    assert out[1].content_preview.startswith("the <mark>market</mark> is up")
    assert out[1].content_preview.endswith("...")


def test_indexed_probe_matches_scan_plan(docs):
    """multi_match (inverted-index probe) must return exactly the
    rows of the pre-index scan plan it replaced — same docs, same
    scores, for exact, fuzzy, and multi-term queries."""
    for q in ("market", "marekt", "market relevant", "xy market"):
        fast = sorted(
            (r.doc_id, r.score) for r in SE.multi_match(docs, q).collect()
        )
        slow = sorted(
            (r.doc_id, r.score) for r in SE.multi_match_scan(docs, q).collect()
        )
        assert fast == slow, q


def test_inverted_index_shape(docs):
    idx = SE.build_inverted_index(docs)
    assert set(idx.columns) == {"doc_id", "fld", "boost10", "tok"}
    # postings are distinct: doc4's triple 'market' content is one row
    n = idx.filter(
        (idx.doc_id == 4) & (idx.fld == "content") & (idx.tok == "market")
    ).count()
    assert n == 1
    # the fuzzy expansion runs over the vocabulary only
    term_df = SE._parse_terms(docs.sparkSession, "marekt", "AUTO")
    exp = {(r.tok, r.term) for r in SE.expand_terms(idx, term_df).collect()}
    assert ("market", "marekt") in exp
    assert all(t == "marekt" for _, t in exp)


def test_sort_results_dispatch(spark):
    rows = [
        (1, 50, "2025-01-02 00:00:00", 100),
        (2, 80, "2025-01-01 00:00:00", 300),
        (3, 80, "2025-01-03 00:00:00", 200),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, quality_score long, processing_ts string, "
        "content_length long"
    )
    by_q = [r.doc_id for r in SE.sort_results(df, by="quality").collect()]
    assert by_q == [2, 3, 1]  # desc, id tie-break between 2 and 3
    by_d = [
        r.doc_id
        for r in SE.sort_results(df, by="date", ascending=True).collect()
    ]
    assert by_d == [2, 1, 3]
    by_l = [r.doc_id for r in SE.sort_results(df, by="length", size=2).collect()]
    assert by_l == [2, 3]
    with pytest.raises(ValueError, match="unknown sort key"):
        SE.sort_results(df, by="nope")


def test_apply_filters(docs):
    d = docs.withColumnsRenamed({})
    f = SE.apply_filters(d, domains=["news.com"])
    assert {r.doc_id for r in f.collect()} == {1, 3}
    f2 = SE.apply_filters(d, domains=["news.com"], min_length=None)
    assert f2.count() == 2


# -- persisted index (search_index.SearchIndex) -----------------------------


def test_search_index_matches_inline(docs, tmp_path):
    """Probing the persisted index returns exactly multi_match's rows
    for exact, fuzzy, and multi-term queries."""
    from omni_crawler_spark.search_index import SearchIndex

    spark = docs.sparkSession
    ix = SearchIndex(str(tmp_path / "ix"))
    ix.bootstrap(spark, docs, op_id="boot")
    for q in ("market", "marekt", "market relevant"):
        idx = sorted(
            (r.doc_id, r.score) for r in ix.query(spark, q).collect()
        )
        inline = sorted(
            (r.doc_id, r.score) for r in SE.multi_match(docs, q).collect()
        )
        assert idx == inline, q


def test_search_index_no_rebuild_on_query(docs, tmp_path, monkeypatch):
    """A second query must NOT re-tokenize the corpus: the postings
    come from the persisted table, so build_inverted_index is never
    called on the query path (the round-3 regression was exactly this
    inline rebuild per invocation)."""
    import omni_crawler_spark.search_index as SI

    spark = docs.sparkSession
    ix = SI.SearchIndex(str(tmp_path / "ix"))
    ix.bootstrap(spark, docs, op_id="boot")
    v = ix.table.current_version()

    def boom(*a, **k):
        raise AssertionError("query path re-tokenized the corpus")

    monkeypatch.setattr(SI, "build_inverted_index", boom)
    got = {r.doc_id for r in ix.query(spark, "market").collect()}
    assert got == {1, 3, 4}
    assert ix.table.current_version() == v  # no new snapshot either
    # bootstrap replay is an op_id no-op, not a second tokenization pass
    monkeypatch.undo()
    ix.bootstrap(spark, docs, op_id="boot")
    assert ix.table.current_version() == v


def test_search_index_incremental_batch(docs, tmp_path):
    """bootstrap appends postings for new docs only; afterwards the
    probe sees the union corpus — identical to one-shot indexing."""
    from omni_crawler_spark.search_index import SearchIndex

    spark = docs.sparkSession
    old = docs.filter("doc_id <= 2")
    new = docs.filter("doc_id > 2")
    ix = SearchIndex(str(tmp_path / "ix"))
    ix.bootstrap(spark, old, op_id="boot")
    assert {r.doc_id for r in ix.query(spark, "market").collect()} == {1}
    ix.bootstrap(spark, new, op_id="cycle-1")
    full = sorted(
        (r.doc_id, r.score) for r in ix.query(spark, "market").collect()
    )
    oneshot = sorted(
        (r.doc_id, r.score) for r in SE.multi_match(docs, "market").collect()
    )
    assert full == oneshot
    # compaction folds the two append dirs; results unchanged
    ix.compact(spark, op_id="maint-1")
    assert sorted(
        (r.doc_id, r.score) for r in ix.query(spark, "market").collect()
    ) == oneshot


def test_search_index_params_marker(docs, tmp_path):
    from omni_crawler_spark.search_index import SearchIndex

    SearchIndex(str(tmp_path / "ix"))
    with pytest.raises(ValueError, match="built with"):
        SearchIndex(str(tmp_path / "ix"), fields={"title": 10})


def test_search_index_concurrent_bootstrap(docs, tmp_path):
    """Two sessions racing the same idempotent bootstrap commit
    exactly ONE snapshot: the commit-race loser retries, sees the
    winner's op_id, and no-ops (optimistic concurrency end-to-end —
    the bench-vs-pytest concurrent-bootstrap scenario)."""
    from concurrent.futures import ThreadPoolExecutor

    from omni_crawler_spark.search_index import SearchIndex

    spark = docs.sparkSession
    root = str(tmp_path / "ix")

    def boot(_):
        ix = SearchIndex(root)
        ix.bootstrap(spark, docs, op_id="boot")
        return ix.table.current_version()

    with ThreadPoolExecutor(2) as ex:
        versions = list(ex.map(boot, range(2)))
    assert versions == [1, 1]
    ix = SearchIndex(root)
    assert ix.table.current_version() == 1
    assert {r.doc_id for r in ix.query(spark, "market").collect()} == {1, 3, 4}
