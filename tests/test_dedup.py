"""Planted-duplicate tests for the approximate dedup family — the
correctness evidence for the rows-only registry entries
(dedup_minhash_lsh, dedup_simhash)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from omni_crawler_spark.operators import dedup as D
from omni_crawler_spark.operators import similarity as S

BASE = (
    "the quick brown fox jumps over the lazy dog while the market economy "
    "shows strong growth and the technology sector reports record results "
    "for the quarter with companies announcing new products and services"
)


@pytest.fixture(scope="module")
def corpus(spark):
    import random

    rng = random.Random(42)
    vocab = [f"word{k}" for k in range(400)]
    rows = []
    for i in range(40):
        # genuinely distinct docs: disjoint-ish random vocabulary draws
        words = rng.sample(vocab, 60)
        rows.append((i, " ".join(words)))
    # planted near-dups: 100/101 differ by one word; 102 exact copy of 100
    rows.append((100, BASE + " tail one two three four five"))
    rows.append((101, BASE + " tail one two three four six"))
    rows.append((102, BASE + " tail one two three four five"))
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


@pytest.mark.parametrize("num_perm,bands", [(32, 8), (30, 5)])
def test_minhash_lsh_finds_planted_pairs(corpus, num_perm, bands):
    # (30, 5) is the registry/bench banding (S-curve centered ≈0.77,
    # just under the 0.8 verify threshold); (32, 8) the legacy config
    cand = D.minhash_lsh_candidates(
        corpus, "doc_id", "text", num_perm=num_perm, bands=bands
    )
    verified = D.jaccard_verify(corpus, cand, "doc_id", "text", threshold=0.8)
    pairs = {(r.id_a, r.id_b) for r in verified.collect()}
    assert (100, 101) in pairs
    assert (100, 102) in pairs


def test_minhash_dedup_keeps_min_id(corpus):
    kept = D.minhash_dedup(corpus, "doc_id", "text", threshold=0.8,
                           num_perm=32, bands=8)
    ids = {r.doc_id for r in kept.select("doc_id").collect()}
    assert 100 in ids and 101 not in ids and 102 not in ids


def test_exact_dedup(corpus):
    kept = D.exact_dedup(corpus, "text", "doc_id")
    ids = {r.doc_id for r in kept.select("doc_id").collect()}
    assert 100 in ids and 102 not in ids and 101 in ids  # 101 differs


def test_simhash_finds_planted_pairs(corpus):
    pairs = {
        (r.id_a, r.id_b)
        for r in D.simhash_candidates(corpus, "doc_id", "text", max_hamming=3).collect()
    }
    assert (100, 102) in pairs  # exact copy → hamming 0
    assert (100, 101) in pairs  # one word changed → tiny hamming


def test_jaccard_kernel_matches_hof_twin(corpus):
    """The vectorized pandas Jaccard kernel must produce exactly the
    values of the interpreted array_intersect/array_union HOF plan it
    replaced (same shingle semantics, same rounding)."""
    a, b = corpus.alias("a"), corpus.alias("b")
    pairs = a.join(b, F.col("a.doc_id") < F.col("b.doc_id")).select(
        F.col("a.doc_id").alias("id_a"),
        F.col("b.doc_id").alias("id_b"),
        F.col("a.text").alias("ta"),
        F.col("b.text").alias("tb"),
    )
    kernel = pairs.withColumn(
        "j", F.round(D.jaccard_pair_udf(5)("ta", "tb"), 4)
    )
    hof = pairs.withColumn(
        "j",
        F.round(
            F.size(
                F.array_intersect(
                    D.char_shingles(F.col("ta"), 5),
                    D.char_shingles(F.col("tb"), 5),
                )
            ).cast("double")
            / F.size(
                F.array_union(
                    D.char_shingles(F.col("ta"), 5),
                    D.char_shingles(F.col("tb"), 5),
                )
            ),
            4,
        ),
    )
    k = {(r.id_a, r.id_b): r.j for r in kernel.collect()}
    h = {(r.id_a, r.id_b): r.j for r in hof.collect()}
    assert k == h


def test_simhash_deterministic(corpus):
    a = {r.doc_id: r.sig for r in corpus.select(
        "doc_id", D.simhash64(F.col("text")).alias("sig")).collect()}
    b = {r.doc_id: r.sig for r in corpus.select(
        "doc_id", D.simhash64(F.col("text")).alias("sig")).collect()}
    assert a == b


def test_hamming_recall_beyond_three_bits(spark):
    """8 flipped bits spread one-per-byte touch ALL four 16-bit
    quarters — the old fixed 4-band blocking missed such pairs at
    max_hamming=8. The default n_bands = max_hamming+1 = 9 guarantees
    one clean band by pigeonhole, so the pair must be found."""
    base = 0x0123456789ABCDEF
    other = base
    for bit in (0, 8, 16, 24, 32, 40, 48, 56):
        other ^= 1 << bit
    sig = spark.createDataFrame(
        [(1, base), (2, other)], "doc_id long, sig long"
    )
    pairs = D.hamming_near_dups(sig, "doc_id", max_hamming=8).collect()
    assert [(r.id_a, r.id_b, r.hamming) for r in pairs] == [(1, 2, 8)]


def test_hamming_band_count_validation():
    # validation fires before any DataFrame work
    with pytest.raises(ValueError, match="pigeonhole"):
        D.hamming_near_dups(None, "doc_id", max_hamming=8, n_bands=4)


def test_hamming_degenerate_bucket_capped(spark):
    """1k identical signatures = one hot bucket per band → n² pairs
    without the cap. With max_bucket_size the hot buckets are dropped
    before the self-join: bounded cost, zero pairs (exact-hash dedup
    owns identical content)."""
    rows = [(i, 0) for i in range(1000)] + [(2000, 7), (2001, 7)]
    sig = spark.createDataFrame(rows, "doc_id long, sig long")
    pairs = D.hamming_near_dups(
        sig, "doc_id", max_hamming=3, max_bucket_size=100
    )
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    # the degenerate sig=0 clique is skipped; the small sig=7 bucket
    # still pairs up (hamming 0 <= 3)
    assert got == {(2000, 2001)}


def _bucket_frame(spark, rows):
    return spark.createDataFrame(rows, "id long, k1 long, k2 long")


@pytest.mark.parametrize("cap,n_pairs", [(2, 5), (3, 35)])
def test_bucket_pairs_is_one_shuffle(spark, cap, n_pairs):
    """Keys (i % 3, i % 5) over 40 rows: ten buckets of 3 and five of
    2. A bucket of exactly ``cap`` rows keeps all its pairs and one of
    ``cap + 1`` yields none (cap 2: 5 pairs; cap 3: 10·3 + 5 pairs).
    The cap and the bucket groupBy share ONE hash exchange: no
    broadcast pre-pass, no cached input."""
    df = _bucket_frame(spark, [(i, i % 3, i % 5) for i in range(40)])
    pairs = D.bucket_pairs(df, "id", ["k1", "k2"], cap)
    assert len(pairs.collect()) == n_pairs
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange hashpartitioning") == 1, plan
    assert "BroadcastExchange" not in plan
    assert "InMemoryRelation" not in plan


@pytest.mark.parametrize("n_null,n_pairs", [(4, 6 + 1), (5, 1)])
def test_bucket_pairs_caps_null_key(spark, n_null, n_pairs):
    """A NULL key forms a bucket, capped like any other: at cap 4 a
    4-row NULL bucket keeps its 6 pairs, a 5-row one yields none."""
    rows = [(i, None, 1) for i in range(n_null)] + [(10, 2, 2), (11, 2, 2)]
    got = D.bucket_pairs(_bucket_frame(spark, rows), "id", ["k1", "k2"], 4)
    assert got.count() == n_pairs


def test_jaccard_kernel_null_semantics(spark):
    """NULL text on either side → NULL jaccard (dropped by the
    threshold filter), matching the replaced column-expression plan —
    two NULL docs must NOT score 1.0."""
    df = spark.createDataFrame(
        [(1, None, None), (2, "abcdefgh", None), (3, "abcdefgh", "abcdefgh")],
        "pair_id long, ta string, tb string",
    )
    got = {
        r.pair_id: r.j
        for r in df.select(
            "pair_id", D.jaccard_pair_udf(5)("ta", "tb").alias("j")
        ).collect()
    }
    assert got[1] is None and got[2] is None and got[3] == 1.0


def test_minhash_degenerate_corpus_bounded(spark):
    """1k identical texts collapse into one bucket per band; the
    windowed bucket count drops the oversized buckets before
    collect_list, so no aggregation buffer holds the full id array and
    the expansion yields nothing."""
    rows = [(i, BASE) for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cand = D.minhash_lsh_candidates(
        df, "doc_id", "text", num_perm=32, bands=8, max_bucket_size=100
    )
    assert cand.count() == 0


def test_duplicate_clusters_min_label(spark):
    # two cliques sharing a bridge + an isolated pair + a 6-chain
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1),          # triangle {1,2,3}
         (3, 10), (10, 11),               # bridge -> {1,2,3,10,11}
         (20, 21),                        # pair {20,21}
         (30, 31), (31, 32), (32, 33), (33, 34), (34, 35)],  # chain
        "id_a long, id_b long",
    )
    got = {r.node: r.cluster_id
           for r in D.duplicate_clusters(pairs).collect()}
    assert got == {
        1: 1, 2: 1, 3: 1, 10: 1, 11: 1,
        20: 20, 21: 20,
        30: 30, 31: 30, 32: 30, 33: 30, 34: 30, 35: 30,
    }


def _union_find_labels(edges):
    """node -> min node id of its component, by plain union-find."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_duplicate_clusters_matches_union_find(spark):
    """Label propagation runs until no label changes, so it gives the
    union-find labels on cliques, bridges, long chains (one round per
    hop), a seeded random graph, a 21-edge chain (one hop more than
    a 20-round cap reaches) and a node whose only pair is a self
    pair."""
    import random

    rng = random.Random(7)
    graphs = {
        "cliques+bridge": [(1, 2), (2, 3), (3, 1), (3, 10), (10, 11),
                           (20, 21)],
        "long_chain": [(i, i + 1) for i in range(100, 164)],
        "star_in": [(50, k) for k in range(51, 70)],
        "random": [
            (rng.randrange(0, 120), rng.randrange(0, 120)) for _ in range(150)
        ],
        "two_rings": [(i, (i + 1) % 10) for i in range(10)]
        + [(100 + i, 100 + (i + 1) % 7) for i in range(7)],
        "chain_21": [(i, i + 1) for i in range(21)],
        "self_pair": [(5, 5), (7, 8)],
    }
    for name, edges in graphs.items():
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {r.node: r.cluster_id
               for r in D.duplicate_clusters(pairs).collect()}
        assert got == _union_find_labels(edges), name


def test_duplicate_clusters_with_minhash_pipeline(corpus):
    cand = D.minhash_lsh_candidates(corpus, "doc_id", "text", num_perm=32, bands=8)
    dups = D.jaccard_verify(corpus, cand, "doc_id", "text", threshold=0.8)
    clusters = {r.node: r.cluster_id
                for r in D.duplicate_clusters(dups).collect()}
    # the planted trio 100/101/102 forms one cluster rooted at 100
    assert clusters.get(100) == 100
    assert clusters.get(101) == 100
    assert clusters.get(102) == 100


def test_corpus_texts_fit_the_realistic_salting(sf_dir):
    """dedup_minhash_realistic salts words with one regexp_replace of
    the single spaces, which equals the per-word form only when every
    ``documents.text`` is non-NULL and made of single-space-separated
    non-empty tokens. Checked on every corpus the tests, the oracle
    and the benchmark read."""
    import pathlib

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    repo = pathlib.Path(__file__).resolve().parent.parent
    files = sorted(
        [*pathlib.Path(sf_dir).parent.glob("sf*/documents.parquet"),
         *(repo / "perfbench" / "data").glob("sf*/documents.parquet")]
    )
    assert len(files) >= 2
    for f in files:
        text = pq.read_table(f, columns=["text"]).column("text")
        assert text.null_count == 0, f
        tokens = pc.match_substring_regex(text, r"^[^ ]+( [^ ]+)*$")
        assert pc.all(tokens).as_py(), f


def test_minhash_realistic_corpus_recovers_only_planted(spark):
    """The realistic-collision twin of dedup_minhash_lsh: doc-salted
    words kill organic shingle overlap, so the confirmed pairs are
    exactly the 25 planted near-copies — the production collision
    profile the bench's headline number should reflect."""
    from omni_crawler_spark.analytics import REGISTRY

    rows = REGISTRY["dedup_minhash_realistic"].build(
        spark, "/root/testdata/sf0.001"
    ).collect()
    pairs = {(r.id_a, r.id_b) for r in rows}
    planted = {(i, i + 100000) for i in range(25)}
    assert planted <= pairs
    # organic confirmed pairs ~0 on a salted corpus
    assert len(pairs - planted) <= 2
    for r in rows:
        if (r.id_a, r.id_b) in planted:
            assert r.jaccard >= 0.8


def _repeated_id_corpus(spark):
    """Doc 1 sits on two identical rows, doc 3 copies doc 1 (one sig
    bit and a tiny embedding shift apart), doc 2 is unrelated."""
    import random

    rng = random.Random(3)
    vocab = [f"word{k}" for k in range(400)]
    other = " ".join(rng.sample(vocab, 60))
    e1 = [rng.uniform(-1, 1) for _ in range(64)]
    e2 = [rng.uniform(-1, 1) for _ in range(64)]
    e3 = [x + 0.001 for x in e1]
    s1 = 0x0123456789ABCDEF
    rows = [
        (1, BASE, s1, e1),
        (1, BASE, s1, e1),
        (2, other, ~s1, e2),
        (3, BASE, s1 ^ 1, e3),
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, sig long, emb array<double>"
    )


PAIR_GENERATORS = {
    "minhash_lsh": lambda df: D.minhash_lsh_candidates(
        df, "doc_id", "text", num_perm=32, bands=8
    ),
    "hamming_banded": lambda df: D.hamming_near_dups(
        df.select("doc_id", "sig"), "doc_id", max_hamming=3
    ),
    "hamming_probed": lambda df: D.hamming_near_dups(
        df.select("doc_id", "sig"), "doc_id", max_hamming=3, probe_parts=3
    ),
    "passage": lambda df: D.passage_dup_pairs(df),
    "embedding": lambda df: S.embedding_near_dups(
        df, threshold=0.9, id_col="doc_id", vec_col="emb"
    ),
}


@pytest.mark.parametrize("gen", sorted(PAIR_GENERATORS))
def test_generators_never_pair_an_id_with_itself(spark, gen):
    """A repeated id must not pair with itself: every generator emits
    strictly id_a < id_b, and still finds the planted 1~3 pair."""
    got = [(r.id_a, r.id_b) for r in PAIR_GENERATORS[gen](
        _repeated_id_corpus(spark)).collect()]
    assert all(a < b for a, b in got), got
    assert (1, 3) in got


def test_minhash_dedup_keeps_repeated_id(spark):
    kept = D.minhash_dedup(
        _repeated_id_corpus(spark).select("doc_id", "text"),
        "doc_id", "text", threshold=0.8, num_perm=32, bands=8,
    )
    assert sorted(r.doc_id for r in kept.collect()) == [1, 1, 2]


@pytest.mark.parametrize("gen", sorted(PAIR_GENERATORS))
def test_generators_release_their_cache(spark, gen):
    """No cached blocks outlive a generator call: repeated calls in one
    session would otherwise accumulate them."""
    spark.catalog.clearCache()
    PAIR_GENERATORS[gen](_repeated_id_corpus(spark)).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
