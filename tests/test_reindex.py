"""Re-crawl / update semantics for the persisted indexes: the
reference's every store replaces by article_id (PG ON CONFLICT DO
UPDATE omni_storage.py:137-205, SQLite INSERT OR REPLACE :410-464,
ES doc_id :275-296) — these tests pin the engine's deletion-vector
analog: reindex a changed doc, query/probe sees ONLY the new state;
replay no-ops; compact folds the vectors away."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from omni_crawler_spark import search as SE
from omni_crawler_spark.operators.dedup_incremental import MinHashIndex
from omni_crawler_spark.search_index import SearchIndex


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "Market report", "the market is up"),
        (2, "Daily notes", "nothing relevant here"),
        (3, "Plain title", "tulip gardens bloom"),
    ]
    return spark.createDataFrame(
        rows, "doc_id long, title string, content string"
    ).cache()


def _hits(ix, spark, q):
    return {r.doc_id for r in ix.query(spark, q, fuzziness=None).collect()}


def test_search_index_reindex_replaces_postings(docs, tmp_path):
    spark = docs.sparkSession
    ix = SearchIndex(str(tmp_path / "ix"), fields={"title": 30, "content": 20})
    ix.bootstrap(spark, docs, op_id="boot")
    assert _hits(ix, spark, "market") == {1}

    changed = spark.createDataFrame(
        [(1, "Garden report", "tulip prices fell")],
        "doc_id long, title string, content string",
    )
    ix.reindex(spark, changed, op_id="re-1")
    # stale tokens stop matching; new tokens match; others untouched
    assert _hits(ix, spark, "market") == set()
    assert _hits(ix, spark, "tulip") == {1, 3}
    assert _hits(ix, spark, "relevant") == {2}
    # the re-probe equals an inline scan over the CURRENT corpus
    current = docs.filter(F.col("doc_id") != 1).unionByName(changed)
    for q in ("tulip", "report", "market"):
        idx = sorted(
            (r.doc_id, r.score)
            for r in ix.query(spark, q, fuzziness=None).collect()
        )
        inline = sorted(
            (r.doc_id, r.score)
            for r in SE.multi_match(current, q, fuzziness=None).collect()
        )
        assert idx == inline, q


def test_search_index_reindex_replay_noop_and_compact(docs, tmp_path):
    spark = docs.sparkSession
    ix = SearchIndex(str(tmp_path / "ix"), fields={"title": 30, "content": 20})
    ix.bootstrap(spark, docs, op_id="boot")
    changed = spark.createDataFrame(
        [(1, "Garden report", "tulip prices fell")],
        "doc_id long, title string, content string",
    )
    ix.reindex(spark, changed, op_id="re-1")
    v_post, v_tomb = ix.table.current_version(), ix.tomb.current_version()
    ix.reindex(spark, changed, op_id="re-1")  # replay: both legs no-op
    assert ix.table.current_version() == v_post
    assert ix.tomb.current_version() == v_tomb

    before = sorted(
        tuple(r) for r in ix.live(spark).orderBy("tok", "fld").collect()
    )
    ix.compact(spark, op_id="cmp-1")
    after = sorted(
        tuple(r) for r in ix.live(spark).orderBy("tok", "fld").collect()
    )
    assert before == after  # compaction preserves the live view
    assert ix.tomb.read(spark).count() == 0  # vectors folded away
    # stale postings physically gone: raw rows == live rows
    assert ix.table.read(spark).count() == len(after)
    assert _hits(ix, spark, "market") == set()
    assert _hits(ix, spark, "tulip") == {1, 3}


def test_search_index_delete(docs, tmp_path):
    spark = docs.sparkSession
    ix = SearchIndex(str(tmp_path / "ix"), fields={"title": 30, "content": 20})
    ix.bootstrap(spark, docs, op_id="boot")
    ix.delete(
        spark,
        spark.createDataFrame([(2,)], "doc_id long"),
        op_id="del-2",
    )
    assert _hits(ix, spark, "relevant") == set()
    assert _hits(ix, spark, "market") == {1}
    ix.compact(spark, op_id="cmp")
    assert _hits(ix, spark, "relevant") == set()
    assert ix.table.read(spark).filter(F.col("doc_id") == 2).count() == 0


def _mh_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


_T1 = (
    "quantum harbor lighthouse repeated maritime beacon navigation "
    "chart compass voyage rudder anchor"
)
_T2 = (
    "volcanic obsidian geothermal magma basalt crater fissure "
    "eruption lava pumice tephra vent"
)


def test_minhash_index_reindex_uses_only_new_signature(spark, tmp_path):
    ix = MinHashIndex(str(tmp_path / "mh"), shingle_k=5, threshold=0.85)
    ix.bootstrap(
        spark, _mh_docs(spark, [(1, _T1), (2, "unrelated corpus filler "
                                             "completely different words")]),
        op_id="boot",
    )
    # a near-copy of T1 is caught against doc 1's stored signature
    kept, dropped = ix.dedup_batch(
        spark, _mh_docs(spark, [(100, _T1 + " tail")]),
        op_id="b1",
    )
    assert {r.new_id: r.dup_of for r in dropped.collect()} == {100: 1}

    # doc 1's page changed on re-crawl: its signature is REPLACED
    ix.reindex(
        spark, _mh_docs(spark, [(1, _T2)]), op_id="re-1"
    )
    # old-text near-copies no longer match doc 1 (stale sig is dead)
    kept2, dropped2 = ix.dedup_batch(
        spark, _mh_docs(spark, [(101, _T1 + " other tail")]),
        op_id="b2",
    )
    assert 101 not in {r.new_id for r in dropped2.collect()}
    # new-text near-copies DO match doc 1's fresh signature
    kept3, dropped3 = ix.dedup_batch(
        spark, _mh_docs(spark, [(102, _T2 + " tail")]),
        op_id="b3",
    )
    assert {r.new_id: r.dup_of for r in dropped3.collect()} == {102: 1}


def test_minhash_index_reindex_replay_delete_compact(spark, tmp_path):
    ix = MinHashIndex(str(tmp_path / "mh"), shingle_k=5, threshold=0.85)
    ix.bootstrap(
        spark, _mh_docs(spark, [(1, _T1), (2, _T2)]),
        op_id="boot",
    )
    ix.reindex(
        spark, _mh_docs(spark, [(1, _T2 + " variant")]),
        op_id="re-1",
    )
    v_post, v_tomb = ix.table.current_version(), ix.tomb.current_version()
    ix.reindex(
        spark, _mh_docs(spark, [(1, _T2 + " variant")]),
        op_id="re-1",
    )
    assert ix.table.current_version() == v_post
    assert ix.tomb.current_version() == v_tomb

    ix.delete(
        spark, spark.createDataFrame([(2,)], "doc_id long"), op_id="del-2"
    )
    live_before = sorted(
        (r.doc_id, r.band, r.band_hash)
        for r in ix.live(spark).collect()
    )
    assert {d for d, _, _ in live_before} == {1}
    ix.compact(spark, op_id="cmp")
    live_after = sorted(
        (r.doc_id, r.band, r.band_hash)
        for r in ix.live(spark).collect()
    )
    assert live_before == live_after
    assert ix.tomb.read(spark).count() == 0
    raw = ix.table.read(spark)
    assert raw.filter(F.col("doc_id") == 2).count() == 0


def test_crawl_engine_recrawl_roundtrip(spark, tmp_path):
    """recrawl(): the URL is refetched next cycle, the keyed articles
    store stays one-row-per-url (last writer wins), the inverted
    index serves the newest cycle's postings, and replaying the
    recrawl + cycle is a no-op."""
    from omni_crawler_spark.frontier.crawl import CrawlEngine
    from omni_crawler_spark.frontier.synthetic import (
        generate_hosts,
        generate_seeds,
    )

    eng = CrawlEngine(
        str(tmp_path / "wh"),
        cycle_budget_ms=10**9,
        maintain_articles=True,
        maintain_index=True,
    )
    eng.bootstrap(generate_seeds(spark, 120, partitions=4),
                  generate_hosts(spark))
    eng.run_cycle(spark, 1)
    target = (
        eng.fetched.read(spark)
        .filter(F.col("valid"))
        .select("url_canonical", "url_hash")
        .first()
    )

    eng.recrawl(
        spark,
        spark.createDataFrame([(target.url_canonical,)], "url string"),
        op_id="rc-1",
    )
    assert (
        eng.seen.read(spark)
        .filter(F.col("url_hash") == target.url_hash)
        .count()
        == 0
    )
    eng.run_cycle(spark, 2)
    fetched = eng.fetched.read(spark).filter(
        F.col("url_hash") == target.url_hash
    )
    assert sorted(r.cycle_id for r in fetched.collect()) == [1, 2]
    # keyed store: exactly one live row, from the newest crawl
    art = eng.articles.read(spark).filter(
        F.col("url_hash") == target.url_hash
    )
    assert art.count() == 1
    # index: the deletion-vector live view serves exactly the newest
    # fetch's postings for this doc (stale cycle-1 rows tombstoned by
    # the recrawl marker's reindex path)
    from omni_crawler_spark import search as SE

    newest_art = (
        eng.fetched.read(spark)
        .filter(F.col("valid") & (F.col("url_hash") == target.url_hash))
        .filter(F.col("cycle_id") == 2)
    )
    want = {
        tuple(r)
        for r in SE.build_inverted_index(
            newest_art,
            fields={"title": 30, "content": 20, "caption": 15},
            id_col="url_hash",
        )
        .select("url_hash", "fld", "boost10", "tok")
        .collect()
    }
    got = {
        tuple(r)
        for r in eng.index.live(spark)
        .filter(F.col("url_hash") == target.url_hash)
        .select("url_hash", "fld", "boost10", "tok")
        .collect()
    }
    assert got == want
    # replay: recrawl + cycle with the same op ids are no-ops
    v_seen = eng.seen.current_version()
    v_frontier = eng.frontier.current_version()
    eng.recrawl(
        spark,
        spark.createDataFrame([(target.url_canonical,)], "url string"),
        op_id="rc-1",
    )
    assert eng.seen.current_version() == v_seen
    assert eng.frontier.current_version() == v_frontier


def test_search_index_reindex_crash_between_legs_replays_safely(
    docs, tmp_path
):
    """Crash after the postings leg but before the tombstone leg: by
    replay time the table has moved to a later version, so a floor
    recomputed from next_gen() would exceed the committed postings'
    generation and kill the doc's own NEW rows. The floor must be
    recovered from the committed leg instead."""
    spark = docs.sparkSession
    ix = SearchIndex(str(tmp_path / "ix"), fields={"title": 30, "content": 20})
    ix.bootstrap(spark, docs, op_id="boot")
    changed = spark.createDataFrame(
        [(1, "Garden report", "tulip prices fell")],
        "doc_id long, title string, content string",
    )
    # simulate the crash: run ONLY the postings leg (same op id and
    # gen the real reindex would use), no tombstone
    ix.table.append(
        ix.rows(changed).withColumn("gen", F.lit(ix.next_gen())),
        op_id="re-1-post",
    )
    # the table moves on before the replay (another batch lands)
    more = spark.createDataFrame(
        [(9, "Other page", "totally unrelated words")],
        "doc_id long, title string, content string",
    )
    ix.bootstrap(spark, more, op_id="b9")
    # replay the full reindex — postings leg no-ops, tombstone leg
    # must adopt the COMMITTED generation
    ix.reindex(spark, changed, op_id="re-1")
    assert _hits(ix, spark, "tulip") == {1, 3}   # new tokens live
    assert _hits(ix, spark, "market") == set()   # stale tokens dead
    assert _hits(ix, spark, "unrelated") == {9}
    ix.compact(spark, op_id="cmp")
    assert _hits(ix, spark, "tulip") == {1, 3}   # survives compaction


def test_search_index_delete_then_reindex_resurrects(docs, tmp_path):
    """A page that 404s (delete) and later reappears (reindex) must
    come back: tombstone resolution is latest-wins by commit order,
    not max(min_gen) — a max would let the delete's 2^31-1 floor
    outrank every future generation forever."""
    spark = docs.sparkSession
    ix = SearchIndex(str(tmp_path / "ix"), fields={"title": 30, "content": 20})
    ix.bootstrap(spark, docs, op_id="boot")
    ids = spark.createDataFrame([(1,)], "doc_id long")
    ix.delete(spark, ids, op_id="del-1")
    assert _hits(ix, spark, "market") == set()
    back = spark.createDataFrame(
        [(1, "Market revival", "the market returned")],
        "doc_id long, title string, content string",
    )
    ix.reindex(spark, back, op_id="re-back")
    assert _hits(ix, spark, "market") == {1}
    assert _hits(ix, spark, "revival") == {1}
    ix.compact(spark, op_id="cmp")
    assert _hits(ix, spark, "market") == {1}
    # and the reverse order: reindex then delete stays deleted
    ix.delete(spark, ids, op_id="del-2")
    assert _hits(ix, spark, "market") == set()


def test_compact_replay_noops_and_empty_tomb_fast_path(docs, tmp_path):
    """Replaying a completed compaction must not rewrite anything
    (both legs no-op on their committed op_ids), and a compaction on
    a cleared-but-nonzero-version tombstone table must take the fast
    path (footer-row emptiness, not manifest emptiness)."""
    spark = docs.sparkSession
    ix = SearchIndex(str(tmp_path / "ix"), fields={"title": 30, "content": 20})
    ix.bootstrap(spark, docs, op_id="boot")
    changed = spark.createDataFrame(
        [(1, "Garden report", "tulip prices fell")],
        "doc_id long, title string, content string",
    )
    ix.reindex(spark, changed, op_id="re-1")
    ix.compact(spark, op_id="cmp-1")
    v_post, v_tomb = ix.table.current_version(), ix.tomb.current_version()
    ix.compact(spark, op_id="cmp-1")  # replay: no-op on both legs
    assert ix.table.current_version() == v_post
    assert ix.tomb.current_version() == v_tomb
    # fresh compaction after the clear: tombstone table has rows==0
    # (though version>0) → single rewrite leg, no floors join
    assert ix._tomb_rows() == 0
    ix.compact(spark, op_id="cmp-2")
    assert ix.tomb.current_version() == v_tomb  # tomb untouched
    assert _hits(ix, spark, "tulip") == {1, 3}


def test_minhash_delete_then_reindex_resurrects(spark, tmp_path):
    ix = MinHashIndex(str(tmp_path / "mh"), shingle_k=5, threshold=0.85)
    ix.bootstrap(
        spark, _mh_docs(spark, [(1, _T1), (2, _T2)]),
        op_id="boot",
    )
    ix.delete(spark, spark.createDataFrame([(1,)], "doc_id long"),
              op_id="del-1")
    kept, dropped = ix.dedup_batch(
        spark, _mh_docs(spark, [(100, _T1 + " x")]),
        op_id="b1",
    )
    assert 100 not in {r.new_id for r in dropped.collect()}  # 1 gone
    ix.reindex(spark, _mh_docs(spark, [(1, _T1)]), op_id="re-back")
    kept2, dropped2 = ix.dedup_batch(
        spark, _mh_docs(spark, [(101, _T1 + " y")]),
        op_id="b2",
    )
    assert {r.new_id: r.dup_of for r in dropped2.collect()} == {101: 1}


def test_deletion_vectors_random_ops_match_model(spark, tmp_path):
    """Model-based check of the shared deletion-vector machinery:
    a seeded random sequence of bootstrap / reindex / delete /
    compact ops must leave the live view equal to a trivial Python
    dict model (doc -> its newest tokens, absent if deleted) after
    EVERY step — including compactions interleaved mid-sequence."""
    import random

    rng = random.Random(20260817)
    words = ["alpha", "bravo", "cedar", "delta", "ember", "fjord",
             "grove", "heron", "islet", "jumbo"]

    def text_for(doc, rev):
        r = random.Random(doc * 1000 + rev)
        return " ".join(r.sample(words, 4))

    ix = SearchIndex(str(tmp_path / "ix"), fields={"content": 10})
    model: dict[int, set[str]] = {}
    rev = {d: 0 for d in range(8)}
    next_new = 0
    for step in range(14):
        op = rng.choice(["new", "reindex", "delete", "compact"])
        if op == "new" and next_new < 8:
            d = next_new
            next_new += 1
            t = text_for(d, rev[d])
            ix.bootstrap(
                spark,
                spark.createDataFrame([(d, t)], "doc_id long, content string"),
                op_id=f"s{step}",
            )
            model[d] = set(t.split())
        elif op == "reindex" and next_new:
            d = rng.randrange(next_new)
            rev[d] += 1
            t = text_for(d, rev[d])
            ix.reindex(
                spark,
                spark.createDataFrame([(d, t)], "doc_id long, content string"),
                op_id=f"s{step}",
            )
            model[d] = set(t.split())
        elif op == "delete" and model:
            d = rng.choice(sorted(model))
            ix.delete(
                spark,
                spark.createDataFrame([(d,)], "doc_id long"),
                op_id=f"s{step}",
            )
            del model[d]
        elif op == "compact" and not ix.table.is_empty():
            ix.compact(spark, op_id=f"s{step}")
        else:
            continue
        if ix.table.is_empty():
            continue
        live = {}
        for r in ix.live(spark).collect():
            live.setdefault(r.doc_id, set()).add(r.tok)
        assert live == model, (step, op)


# -- IVFIndex (the third persisted index) --------------------------------------


def _two_cluster_embeddings(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    rows = []
    for i in range(10):  # cluster A: +x axis
        v = np.concatenate(([5.0], np.zeros(15))) + rng.standard_normal(16) * 0.1
        rows.append((i, [float(x) for x in v]))
    for i in range(10, 20):  # cluster B: -x axis
        v = np.concatenate(([-5.0], np.zeros(15))) + rng.standard_normal(16) * 0.1
        rows.append((i, [float(x) for x in v]))
    return rng, spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )


def test_ivf_index_reindex_moves_vector_between_cells(spark, tmp_path):
    """Re-crawled page, changed embedding: reindex replaces the stored
    assignment so searches score ONLY the new vector — parity with a
    one-shot index over the current corpus."""
    import numpy as np

    from omni_crawler_spark.operators import ivf as I

    rng, emb = _two_cluster_embeddings(spark)
    ix = I.IVFIndex(str(tmp_path / "ivf"), n_cells=2)
    ix.bootstrap(spark, emb, op_id="boot")

    def neighbors(q, k=12):
        return {
            r.neighbor_id
            for r in ix.search(spark, [q], k=k, nprobe=1).collect()
        }

    assert neighbors(1) == {0, 2, 3, 4, 5, 6, 7, 8, 9}

    # vec 0's page changed: its embedding moved to cluster B
    moved = np.concatenate(([-5.0], np.zeros(15))) + rng.standard_normal(16) * 0.1
    changed = spark.createDataFrame(
        [(0, [float(x) for x in moved])], "vec_id long, embedding array<float>"
    )
    ix.reindex(spark, changed, op_id="re-0")
    assert neighbors(1) == {2, 3, 4, 5, 6, 7, 8, 9}
    assert 0 in neighbors(10)

    # index search == one-shot ivf_topk over the CURRENT corpus
    current = emb.filter(F.col("vec_id") != 0).unionByName(changed)
    got = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in ix.search(spark, [1, 10], k=5, nprobe=1).collect()
    }
    want = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in I.ivf_topk(
            current, [1, 10], ix._load_centroids(), k=5, nprobe=1
        ).collect()
    }
    assert got == want


def test_ivf_index_reindex_replay_delete_compact(spark, tmp_path):
    import numpy as np

    from omni_crawler_spark.operators import ivf as I

    rng, emb = _two_cluster_embeddings(spark)
    ix = I.IVFIndex(str(tmp_path / "ivf"), n_cells=2)
    ix.bootstrap(spark, emb, op_id="boot")
    moved = np.concatenate(([-5.0], np.zeros(15)))
    changed = spark.createDataFrame(
        [(0, [float(x) for x in moved])], "vec_id long, embedding array<float>"
    )
    ix.reindex(spark, changed, op_id="re-0")
    v_post, v_tomb = ix.table.current_version(), ix.tomb.current_version()
    ix.reindex(spark, changed, op_id="re-0")  # replay no-ops
    assert ix.table.current_version() == v_post
    assert ix.tomb.current_version() == v_tomb

    # delete: vec 19's page is gone on re-crawl
    ix.delete(
        spark, spark.createDataFrame([(19,)], "vec_id long"), op_id="del-19"
    )
    before = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in ix.search(spark, [1, 10], k=12, nprobe=1).collect()
    }
    assert 19 not in {n for _, n, _ in before}
    assert 0 in {n for _, n, _ in before}  # reindexed, not deleted

    # compact folds the vectors away: same results, one data dir,
    # tombstones cleared, stale/deleted rows physically gone
    ix.compact(spark, op_id="cmp")
    after = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in ix.search(spark, [1, 10], k=12, nprobe=1).collect()
    }
    assert after == before
    assert len(ix.table.history()[-1]["data_dirs"]) == 1
    assert ix.tomb.footer_row_count() == 0
    raw = ix.table.read(spark)
    assert raw.filter(F.col("vec_id") == 19).count() == 0
    assert raw.filter(F.col("vec_id") == 0).count() == 1

    # a later reindex resurrects the deleted id
    back = spark.createDataFrame(
        [(19, [float(x) for x in np.concatenate(([-5.0], np.zeros(15)))])],
        "vec_id long, embedding array<float>",
    )
    ix.reindex(spark, back, op_id="re-19")
    assert 19 in {
        r.neighbor_id
        for r in ix.search(spark, [10], k=12, nprobe=1).collect()
    }


def test_crawl_engine_unchanged_recrawl_skips_index_churn(spark, tmp_path):
    """The HTTP-304 analog: a re-fetch whose indexed surface
    (title/content/caption) is byte-identical must NOT tombstone or
    re-post — zero deletion-vector churn — while search keeps serving
    the same live postings. The frontier is drained to empty first so
    a recrawl cycle schedules exactly one URL (crawl_seq, which the
    synthetic title embeds, is then deterministic across recrawls)."""
    from omni_crawler_spark.frontier.crawl import CrawlEngine
    from omni_crawler_spark.frontier.synthetic import (
        generate_hosts,
        generate_seeds,
    )

    eng = CrawlEngine(
        str(tmp_path / "wh"),
        cycle_budget_ms=10**9,
        maintain_articles=True,
        maintain_index=True,
    )
    eng.bootstrap(generate_seeds(spark, 40, partitions=4),
                  generate_hosts(spark))
    cycle = 0
    while True:
        cycle += 1
        stats = eng.run_cycle(spark, cycle)
        if stats["n_scheduled"] == 0:
            break
        assert cycle < 12, "frontier did not drain"
    target = (
        eng.fetched.read(spark)
        .filter(F.col("valid"))
        .select("url_canonical", "url_hash")
        .first()
    )
    one = spark.createDataFrame([(target.url_canonical,)], "url string")

    # first recrawl: schedules exactly {target}; its crawl_seq (and so
    # its title) may differ from the original crawl → changed path OK
    eng.recrawl(spark, one, op_id="rc-a")
    cycle += 1
    stats = eng.run_cycle(spark, cycle)
    assert stats["n_scheduled"] == 1
    tomb_rows = eng.index.tomb.footer_row_count()
    index_rows = eng.index.table.footer_row_count()
    live_before = {
        tuple(r)
        for r in eng.index.live(spark)
        .filter(F.col("url_hash") == target.url_hash)
        .select("url_hash", "fld", "boost10", "tok")
        .collect()
    }
    assert live_before, "target doc must be indexed"

    # second recrawl: same single-URL schedule → same crawl_seq → the
    # re-fetched page is byte-identical → the 304 short-circuit
    eng.recrawl(spark, one, op_id="rc-b")
    cycle += 1
    stats = eng.run_cycle(spark, cycle)
    assert stats["n_scheduled"] == 1
    assert eng.index.tomb.footer_row_count() == tomb_rows, \
        "unchanged re-fetch must add no tombstones"
    assert eng.index.table.footer_row_count() == index_rows, \
        "unchanged re-fetch must append no postings"
    live_after = {
        tuple(r)
        for r in eng.index.live(spark)
        .filter(F.col("url_hash") == target.url_hash)
        .select("url_hash", "fld", "boost10", "tok")
        .collect()
    }
    assert live_after == live_before
    # the fetch itself DID happen (three log entries) and the keyed
    # articles store still resolves to one live row
    assert (
        eng.fetched.read(spark)
        .filter(F.col("url_hash") == target.url_hash)
        .count()
        >= 3
    )
    assert (
        eng.articles.read(spark)
        .filter(F.col("url_hash") == target.url_hash)
        .count()
        == 1
    )

    # crash-replay of the unchanged-recrawl cycle: version_of pins the
    # comparison to the PRE-cycle articles state, so the replay stays
    # a no-op (without the pin it would see the cycle's own upsert)
    v_tomb = eng.index.tomb.current_version()
    v_index = eng.index.table.current_version()
    eng.recrawl(spark, one, op_id="rc-b")
    eng.run_cycle(spark, cycle)
    assert eng.index.tomb.current_version() == v_tomb
    assert eng.index.table.current_version() == v_index
    assert {
        tuple(r)
        for r in eng.index.live(spark)
        .filter(F.col("url_hash") == target.url_hash)
        .select("url_hash", "fld", "boost10", "tok")
        .collect()
    } == live_before


def test_crawl_engine_adaptive_revisit_scheduling(spark, tmp_path):
    """The change-rate revisit loop end to end: a page OBSERVED to
    change gets a short revisit interval and is re-enqueued when due;
    never-changed pages keep the long (64-cycle) interval and are NOT
    enqueued. The recrawl seeding is idempotent under its op_id."""
    from omni_crawler_spark.frontier.crawl import CrawlEngine
    from omni_crawler_spark.frontier.synthetic import (
        generate_hosts,
        generate_seeds,
    )

    eng = CrawlEngine(
        str(tmp_path / "wh"),
        cycle_budget_ms=10**9,
        maintain_articles=True,
        maintain_index=True,
    )
    eng.bootstrap(generate_seeds(spark, 40, partitions=4),
                  generate_hosts(spark))
    cycle = 0
    while True:
        cycle += 1
        stats = eng.run_cycle(spark, cycle)
        if stats["n_scheduled"] == 0:
            break
        assert cycle < 12, "frontier did not drain"
    # a page originally fetched at crawl_seq > 1: the single-URL
    # recrawl cycle assigns row_number 1, so the synthetic title
    # (which embeds the seq) differs → one observed CHANGE
    target = (
        eng.fetched.read(spark)
        .filter(F.col("valid") & (F.col("crawl_seq") > 1))
        .select("url_canonical", "url_hash")
        .first()
    )
    one = spark.createDataFrame([(target.url_canonical,)], "url string")
    eng.recrawl(spark, one, op_id="rv-seed")
    cycle += 1
    assert eng.run_cycle(spark, cycle)[
        "n_scheduled"] == 1

    sched = {r.url_hash: r for r in eng.revisit_schedule(spark).collect()}
    tgt = sched[target.url_hash]
    assert tgt.n_obs >= 2 and tgt.n_changes >= 1
    # a changed page lands on one of the short ladder rungs (which one
    # depends on the cycle span between its two fetches), always
    # strictly shorter than the never-changed 64-cycle default
    assert tgt.interval_cycles in (1, 4, 16)
    assert tgt.next_fetch_cycle == tgt.last_cycle + tgt.interval_cycles
    others = [r for h, r in sched.items() if h != target.url_hash]
    assert others and all(
        r.n_changes == 0 and r.interval_cycles == 64 for r in others
    )
    assert all(r.next_fetch_cycle == r.last_cycle + 64 for r in others)

    # as_of just past the target's next_fetch but far before the
    # others' → exactly one page due
    n = eng.schedule_revisits(
        spark, as_of_cycle=tgt.next_fetch_cycle, op_id="rv-due-1"
    )
    assert n == 1
    # idempotent replay of the same scheduling decision: the recrawl
    # commits no-op under their op_ids (frontier row count unchanged)
    rows_before = eng.frontier.footer_row_count()
    eng.schedule_revisits(
        spark, as_of_cycle=tgt.next_fetch_cycle, op_id="rv-due-1"
    )
    assert eng.frontier.footer_row_count() == rows_before

    cycle += 1
    stats = eng.run_cycle(spark, cycle)
    assert stats["n_scheduled"] == 1  # only the due page refetched
    assert (
        eng.articles.read(spark)
        .filter(F.col("url_hash") == target.url_hash)
        .count()
        == 1
    )
