"""Corpus-level training-data-pipeline queries (beyond the reference).

Five operators a 100 TB LLM-data pipeline runs between "crawled" and
"training-ready", each oracle-paired against DuckDB:

- passage-level exact dedup (chunk-hash substring dedup, the CCNet /
  Lee-et-al.-style scale path to substring dedup);
- BM25 ranking (the lexical scoring behind the reference's ES
  relevance sort, advanced_search.py:46-63, expressed exactly);
- deterministic stratified sampling (train/eval splits that are
  reproducible across runs, engines, and partitionings);
- fixed-iteration PageRank over a link graph (the crawl-priority
  signal a tier crawler feeds back into its frontier ordering);
- exact per-language length quantiles (corpus QA dashboards).

Cross-engine determinism: every double goes through the decimal-sum /
fixed-order-expression / ROUND(...,k) discipline documented in
registry.py; every top-k has a total-order tie-break.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from omni_crawler_spark.analytics.registry import (
    _t,
    cache_root,
    ordered_small,
    register,
)
from omni_crawler_spark.session import spread

# ---------------------------------------------------------------------------
# Passage-level exact dedup
# ---------------------------------------------------------------------------

_PASSAGE_W = 20  # words per passage (stride = width: disjoint chunks)
_PASSAGE_CAP = 1000  # hot-bucket cap, ENCODED IN THE ORACLE TOO

# The oracle models the SAME capped function the engine computes: the
# QUALIFY drops passages occurring more than _PASSAGE_CAP times, so a
# future corpus with >cap boilerplate repeats cannot silently diverge
# the two sides (Spark would anti-join those pairs away while an
# uncapped oracle counted them).
_PASSAGES_SQL = f"""
  WITH both_docs AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id < 10
  ), w AS (
    SELECT doc_id, string_split(text, ' ') AS words FROM both_docs
  ), p0 AS (
    SELECT doc_id, unnest(list_transform(
             generate_series(0, len(words) // {_PASSAGE_W} - 1),
             i -> array_to_string(
                    words[i * {_PASSAGE_W} + 1 : i * {_PASSAGE_W} + {_PASSAGE_W}],
                    ' '))) AS passage
    FROM w WHERE len(words) >= {_PASSAGE_W}
  ), p AS (
    SELECT doc_id, passage FROM p0
    QUALIFY COUNT(*) OVER (PARTITION BY passage) <= {_PASSAGE_CAP}
  )
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         COUNT(*) AS n_shared_passages
  FROM p a JOIN p b ON a.passage = b.passage AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
  ORDER BY id_a, id_b
"""


@register(
    "dedup_passage",
    _PASSAGES_SQL,
    doc="passage-level exact dedup (CCNet-style chunk dedup; the "
    "distributed approximation of Lee et al. suffix-array substring "
    "dedup): disjoint 20-word chunks per doc, cross-doc repeated "
    "chunks -> duplicated-passage doc pairs. 10 planted full copies "
    "(doc_id+100000) keep the oracle non-vacuous on word-soup text. "
    "100 TB shape (operators/dedup.py::passage_dup_pairs): ONE "
    "shuffle, keyed on xxhash64(passage) (8 bytes shuffled per chunk "
    "vs ~120), hot passages removed by a windowed count over that "
    "same shuffle BEFORE bucket_pairs expands pairs — a boilerplate "
    "passage repeated across 10^5 docs can never expand to 10^10 "
    "pair rows (blowup bound pytest-pinned on a degenerate corpus). "
    "Output feeds the same connected-components keeper as minhash "
    "(registry_sim.py::dedup_cluster_cc). Word-level chunking means "
    "a single-word edit disturbs only its own chunk, unlike "
    "byte-offset blocks",
)
def dedup_passage(spark, sf_dir):
    from omni_crawler_spark.operators.dedup import passage_dup_pairs

    d = _t(spark, sf_dir, "documents")
    both = d.select("doc_id", "text").unionByName(
        d.filter(F.col("doc_id") < 10).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text"
        )
    )
    return ordered_small(
        passage_dup_pairs(
            both, "doc_id", "text",
            passage_w=_PASSAGE_W, max_bucket_size=_PASSAGE_CAP,
        ),
        "id_a", "id_b",
    )


# ---------------------------------------------------------------------------
# BM25 ranking
# ---------------------------------------------------------------------------

_BM25_TERMS = ["spark", "join", "window", "stream"]
_BM25_K1, _BM25_B = 1.2, 0.75


def _bm25_oracle() -> str:
    tf_cols = ",\n             ".join(
        f"len(list_filter(string_split(text, ' '), x -> x = '{t}')) AS tf_{t}"
        for t in _BM25_TERMS
    )
    # fixed-order score expression — term order is the list order, so
    # the floating-point sum associates identically on both engines
    parts = []
    for t in _BM25_TERMS:
        idf = f"LN(1.0 + (s.n_docs - s.df_{t} + 0.5) / (s.df_{t} + 0.5))"
        tf = f"CAST(d.tf_{t} AS DOUBLE)"
        parts.append(
            f"({idf} * ({tf} * {_BM25_K1 + 1.0}) / ({tf} + {_BM25_K1} * "
            f"(1.0 - {_BM25_B} + {_BM25_B} * d.dl / s.avgdl)))"
        )
    score = " + ".join(parts)
    df_cols = ", ".join(
        f"SUM(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS df_{t}"
        for t in _BM25_TERMS
    )
    return f"""
    WITH d AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl,
             {tf_cols}
      FROM documents
    ), s AS (
      SELECT COUNT(*) AS n_docs,
             CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
             {df_cols}
      FROM d
    )
    SELECT d.doc_id, ROUND({score}, 4) AS bm25
    FROM d, s
    ORDER BY bm25 DESC, d.doc_id LIMIT 15
    """


@register(
    "search_bm25",
    _bm25_oracle(),
    doc="BM25 top-15 for a fixed 4-term query — the exact lexical "
    "scoring function behind the reference's ES relevance sort "
    "(advanced_search.py:46-63; multi_match covers the fuzzy/boost "
    "side, this covers the probabilistic tf-idf side). k1=1.2 b=0.75. "
    "100 TB shape: per-doc tf/dl are embarrassingly parallel scan "
    "expressions (codegen'd, no UDF); corpus stats (N, df, avgdl) are "
    "one tiny all-to-one aggregate broadcast back; top-15 is "
    "TakeOrderedAndProject (no global sort). The deterministic-sum "
    "rule: per-term score components are added in fixed list order, "
    "never via a shuffled SUM, so the IEEE result is cross-engine "
    "identical before ROUND",
)
def search_bm25(spark, sf_dir):
    # spread (the per-term HOF tf filters are the CPU cost), and
    # materialize the narrow per-doc stats once — BOTH the
    # corpus-stats aggregate and the scoring join consume per_doc,
    # which would otherwise re-run the tokenize/tf pass per consumer
    d = _t(spark, sf_dir, "documents").transform(spread, "doc_id")
    words = F.split("text", " ")

    def _tf(term):
        return F.size(F.filter(words, lambda x: x == F.lit(term)))

    per_doc = d.select(
        "doc_id",
        F.size(words).cast("double").alias("dl"),
        *[_tf(t).alias(f"tf_{t}") for t in _BM25_TERMS],
    ).localCheckpoint()
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl") / F.count(F.lit(1))).alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"tf_{t}") > 0, 1).otherwise(0)).alias(
                f"df_{t}"
            )
            for t in _BM25_TERMS
        ],
    )
    joined = per_doc.crossJoin(F.broadcast(stats))
    score = None
    for t in _BM25_TERMS:
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col(f"df_{t}") + 0.5)
            / (F.col(f"df_{t}") + 0.5)
        )
        tf = F.col(f"tf_{t}").cast("double")
        part = idf * (tf * (_BM25_K1 + 1.0)) / (
            tf
            + _BM25_K1
            * (1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
        )
        score = part if score is None else score + part
    return (
        joined.select("doc_id", F.round(score, 4).alias("bm25"))
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(15)
    )


# ---------------------------------------------------------------------------
# Deterministic stratified sampling
# ---------------------------------------------------------------------------

_STRAT_N = 30
_KNUTH = 2654435761  # Knuth multiplicative constant, fits in BIGINT math


@register(
    "sample_stratified",
    f"""
    WITH h AS (
      SELECT doc_id, lang,
             (doc_id * {_KNUTH}) % 1048576 AS shuffle_key
      FROM documents
    )
    SELECT doc_id, lang, strat_rank FROM (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY shuffle_key, doc_id) AS strat_rank
      FROM h
    ) WHERE strat_rank <= {_STRAT_N}
    ORDER BY lang, strat_rank
    """,
    doc="deterministic stratified sample: exactly N=30 docs per "
    "language, chosen by a multiplicative-hash shuffle key — the "
    "reproducible train/eval-split primitive (same rows on every run, "
    "engine, partitioning; no RNG state). 100 TB shape: one shuffle "
    "partitioned by stratum; skewed strata are bounded because only "
    "rank<=N survives (Spark's WindowGroupLimit pushes the limit "
    "before the full sort materializes). Production key is "
    "xxhash64(doc_id) — the Knuth multiply here keeps the oracle "
    "cross-engine exact",
)
def sample_stratified(spark, sf_dir):
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents")
    h = d.select(
        "doc_id",
        "lang",
        ((F.col("doc_id") * _KNUTH) % 1048576).alias("shuffle_key"),
    )
    w = Window.partitionBy("lang").orderBy("shuffle_key", "doc_id")
    return (
        h.withColumn("strat_rank", F.row_number().over(w))
        .filter(F.col("strat_rank") <= _STRAT_N)
        .select("doc_id", "lang", "strat_rank")
        .orderBy("lang", "strat_rank")
    )


# ---------------------------------------------------------------------------
# Fixed-iteration PageRank over a synthesized link graph
# ---------------------------------------------------------------------------

_PR_ITERS = 5
_PR_D = 0.85


def _pagerank_oracle() -> str:
    # chained CTEs, one per iteration — contributions are summed as
    # DECIMAL(27,18) (order-independent), mirroring the Spark plan.
    # The teleport constant is interpolated as repr(1 - _PR_D) so both
    # engines evaluate the IDENTICAL IEEE double (the literal 0.15
    # differs from Python's 1 - 0.85 by 2 ulp — a latent
    # rounding-boundary flake under ROUND(rank, 6)).
    teleport = repr(1.0 - _PR_D)
    its = []
    prev = "it0"
    for i in range(1, _PR_ITERS + 1):
        its.append(f"""
    it{i} AS (
      SELECT n.doc_id,
             {teleport} / s.n + {_PR_D} * COALESCE(CAST(SUM(CAST(
                 r.rank / o.outdeg AS DECIMAL(27,18))) AS DOUBLE), 0.0)
               AS rank
      FROM nodes n CROSS JOIN s
      LEFT JOIN edges e ON e.dst = n.doc_id
      LEFT JOIN {prev} r ON r.doc_id = e.src
      LEFT JOIN outdeg o ON o.src = e.src
      GROUP BY n.doc_id, s.n
    )""")
        prev = f"it{i}"
    chain = ",".join(its)
    return f"""
    WITH nodes AS (SELECT doc_id FROM documents),
    s AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
    edges AS (
      SELECT DISTINCT doc_id AS src,
             (doc_id * doc_id * 7 + 13 * k + 1)
               % (SELECT COUNT(*) FROM nodes) AS dst
      FROM nodes, generate_series(0, 2) AS t(k)
    ),
    outdeg AS (
      SELECT src, CAST(COUNT(*) AS DOUBLE) AS outdeg
      FROM edges GROUP BY src
    ),
    it0 AS (SELECT n.doc_id, 1.0 / s.n AS rank FROM nodes n CROSS JOIN s),
    {chain}
    SELECT doc_id, ROUND(rank, 6) AS pagerank
    FROM {prev} ORDER BY pagerank DESC, doc_id LIMIT 25
    """


@register(
    "graph_pagerank",
    _pagerank_oracle(),
    doc="5-iteration PageRank (d=0.85) over a deterministic synthetic "
    "link graph (3 out-links per doc via quadratic modular arithmetic "
    "— non-bijective, so in-degree genuinely varies; no external "
    "data). The crawl-priority signal of a tier crawler: "
    "ranks feed back into frontier ordering the way the reference's "
    "static priority does (crawler_engine.py queue ordering). 100 TB "
    "shape: each iteration is one shuffle (join ranks->edges on src, "
    "re-aggregate on dst); ranks/outdeg are cached across iterations; "
    "O(iters) rounds like the CC operator (registry_sim.py::"
    "dedup_cluster_cc), with localCheckpoint lineage truncation at "
    "depth. Contribution sums go through DECIMAL(27,18) so the "
    "reduction is order-independent across partitionings/engines",
)
def graph_pagerank(spark, sf_dir):
    # the fixed-iteration kernel lives in operators/graph.py (shared
    # with the host-ranking frontier-priority path); this query wires
    # it to the deterministic synthetic link graph and the oracle
    from omni_crawler_spark.operators.graph import pagerank

    d = _t(spark, sf_dir, "documents")
    nodes = d.select(F.col("doc_id").alias("id"))
    n_long = nodes.agg(F.count(F.lit(1)).alias("n_mod"))
    edges = (
        nodes.crossJoin(F.broadcast(n_long))
        .select(
            "id",
            F.explode(F.sequence(F.lit(0), F.lit(2))).alias("k"),
            "n_mod",
        )
        .select(
            F.col("id").alias("src"),
            (
                (F.col("id") * F.col("id") * 7 + 13 * F.col("k") + 1)
                % F.col("n_mod")
            ).alias("dst"),
        )
        .distinct()
    )
    ranks = pagerank(nodes, edges, iters=_PR_ITERS, damping=_PR_D)
    return (
        ranks.select(
            F.col("id").alias("doc_id"),
            F.round("rank", 6).alias("pagerank"),
        )
        .orderBy(F.desc("pagerank"), "doc_id")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# Exact per-language length quantiles
# ---------------------------------------------------------------------------


@register(
    "corpus_quantiles",
    """
    SELECT lang, COUNT(*) AS n_docs,
           ROUND(quantile_cont(n_chars, 0.25), 4) AS p25,
           ROUND(quantile_cont(n_chars, 0.50), 4) AS p50,
           ROUND(quantile_cont(n_chars, 0.75), 4) AS p75
    FROM documents GROUP BY lang ORDER BY lang
    """,
    doc="exact per-language doc-length quantiles (corpus QA / length-"
    "filter calibration). Exact interpolated percentile on both "
    "engines; quantile fractions are exact binary fractions "
    "(.25/.5/.75) so the (n-1)*p index math is bit-identical. 100 TB "
    "note: exact percentile sorts each group's values — correct but "
    "one full shuffle; the scale path is approx_percentile "
    "(t-digest, mergeable map-side) which is deliberately NOT the "
    "oracle-paired query because its result is engine-specific",
)
def corpus_quantiles(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.expr("percentile(n_chars, 0.25)"), 4).alias("p25"),
            F.round(F.expr("percentile(n_chars, 0.50)"), 4).alias("p50"),
            F.round(F.expr("percentile(n_chars, 0.75)"), 4).alias("p75"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Incremental batch-vs-corpus near-dedup
# ---------------------------------------------------------------------------


@register(
    "dedup_incremental_batch",
    None,  # rows-only: MinHash estimates are not SQL-expressible;
    # planted-copy recall + idempotent replay + probe-plan shape are
    # pinned in tests/test_dedup_incremental.py
    doc="incremental near-dedup of a NEW batch against a persisted "
    "corpus MinHash index (operators/dedup_incremental.py) — the "
    "every-cycle shape: signatures computed for the batch only, the "
    "corpus probed via a BroadcastHashJoin (batch keys broadcast, "
    "index streamed, zero index shuffle), verification by signature "
    "agreement so no old text is ever fetched, survivors appended "
    "under an idempotent op_id. Cost is O(batch), never O(corpus) — "
    "vs the one-shot operators that re-sign the world each run. Here: "
    "corpus = doc_id%4!=0, batch = the rest + 45 planted copies "
    "(doc_id+200000) which must all drop. shingle_k=14 (~2.5 words) "
    "because this corpus's tiny vocabulary makes 5-byte-gram SETS "
    "near-identical across unrelated docs (measured organic jaccard "
    "0.97 at k=5 vs 0.0 at k=14 — the planted near-dup cliques "
    "{0,50,82},{8,12},{89,114} survive at any k)",
)
def dedup_incremental_batch(spark, sf_dir):
    from omni_crawler_spark.operators.dedup_incremental import MinHashIndex

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = d.filter(F.col("doc_id") % 4 != 0)
    planted = corpus.filter(F.col("doc_id") < 60).select(
        (F.col("doc_id") + 200000).alias("doc_id"), "text"
    )
    batch = d.filter(F.col("doc_id") % 4 == 0).unionByName(planted)
    # fixed per-sf root: the bootstrap signing is paid once per
    # machine, later sessions skip it via the committed op_id (the
    # steady-state cost is the batch, which is the point); the
    # self-match filter in _cross_probe keeps replays verdict-stable
    ix = MinHashIndex(
        cache_root("/tmp/ocs_mhidx", sf_dir), shingle_k=14, threshold=0.9
    )
    ix.bootstrap(spark, corpus, "doc_id", "text", op_id="bootstrap")
    kept, dropped = ix.dedup_batch(
        spark, batch, "doc_id", "text", op_id="batch1"
    )
    out = kept.select(
        "doc_id",
        F.lit("kept").alias("status"),
        F.lit(None).cast("long").alias("dup_of"),
    ).unionByName(
        dropped.select(
            F.col("new_id").alias("doc_id"),
            F.lit("dropped").alias("status"),
            "dup_of",
        )
    )
    return ordered_small(out, "doc_id")


# ---------------------------------------------------------------------------
# Fixed-window sequence chunking
# ---------------------------------------------------------------------------

_CHUNK_W = 64  # words per training window
_CHUNK_STRIDE = 48  # overlap 16 words between consecutive windows


@register(
    "corpus_chunk_windows",
    f"""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS words,
             len(string_split(text, ' ')) AS n_words
      FROM documents
    ), c AS (
      SELECT doc_id, n_words,
             unnest(generate_series(
               0, GREATEST((n_words - 1) // {_CHUNK_STRIDE}, 0))) AS k
      FROM w
    )
    SELECT c.doc_id, c.k AS chunk_id,
           LEAST({_CHUNK_W}, c.n_words - c.k * {_CHUNK_STRIDE})
             AS chunk_len,
           md5(array_to_string(
             w.words[c.k * {_CHUNK_STRIDE} + 1 :
                     c.k * {_CHUNK_STRIDE} + {_CHUNK_W}], ' ')) AS chunk_md5
    FROM c JOIN w USING (doc_id)
    WHERE c.k * {_CHUNK_STRIDE} < c.n_words
    ORDER BY doc_id, chunk_id
    """,
    doc="fixed-window sequence chunking — the tokenize-and-window "
    f"stage before training: {_CHUNK_W}-word windows at stride "
    f"{_CHUNK_STRIDE} (16-word overlap so no boundary context is "
    "lost), trailing partial window kept with its true length. "
    "Chunk content is verified cross-engine by md5 of the joined "
    "window (not just counts). 100 TB shape: pure per-row "
    "codegen'd expressions (split/sequence/transform/explode), "
    "embarrassingly parallel, zero shuffle before the (small) "
    "ordered output — the chunker never moves corpus bytes",
)
def corpus_chunk_windows(spark, sf_dir):
    # spread: the window md5 pass is the CPU cost, and the trailing
    # orderBy's sampling job executes the (map-only) lineage a second
    # time — parallel twice beats serial twice
    d = _t(spark, sf_dir, "documents").transform(spread, "doc_id")
    w = d.select(
        "doc_id",
        F.split("text", " ").alias("words"),
        F.size(F.split("text", " ")).alias("n_words"),
    )
    c = w.select(
        "doc_id",
        "n_words",
        "words",
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(
                    ((F.col("n_words") - 1) / _CHUNK_STRIDE).cast("long"),
                    F.lit(0),
                ),
            )
        ).alias("k"),
    ).filter(F.col("k") * _CHUNK_STRIDE < F.col("n_words"))
    return (
        c.select(
            "doc_id",
            F.col("k").alias("chunk_id"),
            F.least(
                F.lit(_CHUNK_W),
                F.col("n_words") - F.col("k") * _CHUNK_STRIDE,
            ).alias("chunk_len"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.slice(
                        "words",
                        F.col("k") * _CHUNK_STRIDE + 1,
                        F.lit(_CHUNK_W),
                    ),
                )
            ).alias("chunk_md5"),
        )
        .orderBy("doc_id", "chunk_id")
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination
# ---------------------------------------------------------------------------

_DECON_N = 13  # sliding word n-gram length (industry standard)
_DECON_EVAL = (0, 8, 89)  # stand-in "benchmark" docs


@register(
    "filter_decontaminate",
    f"""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS words,
             len(string_split(text, ' ')) AS n
      FROM documents
    ), g AS (
      SELECT doc_id,
             unnest(list_transform(
               generate_series(0, n - {_DECON_N}),
               i -> array_to_string(words[i + 1 : i + {_DECON_N}], ' ')))
               AS gram
      FROM w WHERE n >= {_DECON_N}
    ), eval_grams AS (
      SELECT DISTINCT gram FROM g
      WHERE doc_id IN {_DECON_EVAL}
    )
    SELECT g.doc_id,
           COUNT(DISTINCT g.gram) AS n_hit_grams
    FROM g JOIN eval_grams e ON g.gram = e.gram
    WHERE g.doc_id NOT IN {_DECON_EVAL}
    GROUP BY g.doc_id ORDER BY g.doc_id
    """,
    doc="benchmark decontamination — the eval-overlap filter every "
    f"LLM training pipeline runs: docs sharing any sliding "
    f"{_DECON_N}-word n-gram with the eval set (stand-in: docs "
    f"{_DECON_EVAL}) are flagged with their distinct hit counts. "
    "Organically non-vacuous: the corpus's planted near-dup cliques "
    "({0,50,82},{8,12},{89,114}) guarantee real hits. 100 TB shape: "
    "eval grams are a BROADCAST set (benchmarks are ~10^6 grams, a "
    "few MB hashed) joined against the corpus's gram stream — "
    "map-side only, zero corpus shuffle before the per-doc count; in "
    "production the join key is xxhash64(gram) and the broadcast is "
    "a bloom filter with exact confirm (the partitioned filter of "
    "frontier/bloom.py)",
)
def filter_decontaminate(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    # spread before the sliding-gram explode: the 13-word gram
    # construction (an interpreted HOF per start position) is the CPU
    # cost. The eval-doc subtree's doc_id filter still pushes through
    # the exchange to the scan, so eval_grams stays a 3-doc read.
    w = d.transform(spread, "doc_id").select(
        "doc_id",
        F.split("text", " ").alias("words"),
        F.size(F.split("text", " ")).alias("n"),
    ).filter(F.col("n") >= _DECON_N)
    g = w.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.col("n") - _DECON_N),
                lambda i: F.concat_ws(
                    " ", F.slice("words", i + 1, _DECON_N)
                ),
            )
        ).alias("gram"),
    )
    eval_grams = (
        g.filter(F.col("doc_id").isin(*_DECON_EVAL))
        .select("gram")
        .distinct()
    )
    return (
        g.filter(~F.col("doc_id").isin(*_DECON_EVAL))
        .join(F.broadcast(eval_grams), "gram")
        .groupBy("doc_id")
        .agg(F.count_distinct("gram").alias("n_hit_grams"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# End-to-end pretraining-corpus pipeline
# ---------------------------------------------------------------------------

_PIPE_MIN_CHARS = 200


@register(
    "pipeline_pretrain_corpus",
    f"""
    WITH quality AS (
      SELECT doc_id, text, source FROM documents
      WHERE n_chars >= {_PIPE_MIN_CHARS}
    ), exact AS (  -- exact dedup: keep min doc_id per content
      SELECT doc_id, text, source FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text)
                                     ORDER BY doc_id) AS rn
        FROM quality
      ) WHERE rn = 1
    ), w AS (
      SELECT doc_id, string_split(text, ' ') AS words,
             len(string_split(text, ' ')) AS n
      FROM (SELECT doc_id, text FROM documents)
    ), g AS (
      SELECT doc_id,
             unnest(list_transform(
               generate_series(0, n - {_DECON_N}),
               i -> array_to_string(words[i + 1 : i + {_DECON_N}], ' ')))
               AS gram
      FROM w WHERE n >= {_DECON_N}
    ), eval_grams AS (
      SELECT DISTINCT gram FROM g WHERE doc_id IN {_DECON_EVAL}
    ), contaminated AS (
      SELECT DISTINCT g.doc_id FROM g JOIN eval_grams e ON g.gram = e.gram
    ), kept AS (
      SELECT x.doc_id, x.text, x.source FROM exact x
      WHERE x.doc_id NOT IN (SELECT doc_id FROM contaminated)
        AND x.doc_id NOT IN {_DECON_EVAL}
    ), kw AS (
      SELECT doc_id, source, string_split(text, ' ') AS words,
             len(string_split(text, ' ')) AS n
      FROM kept
    ), chunks AS (
      SELECT doc_id, source,
             unnest(list_transform(
               generate_series(0, GREATEST((n - 1) // {_CHUNK_STRIDE}, 0)),
               k -> LEAST({_CHUNK_W}, n - k * {_CHUNK_STRIDE}))) AS clen,
             n
      FROM kw
    )
    SELECT source,
           COUNT(DISTINCT doc_id) AS n_docs,
           COUNT(*) AS n_chunks,
           CAST(SUM(clen) AS BIGINT) AS n_tokens
    FROM chunks WHERE clen > 0
    GROUP BY source ORDER BY source
    """,
    doc="the end-to-end pretraining-corpus pipeline, fully "
    "oracle-paired: quality floor (n_chars>=200) -> exact dedup "
    "(min-id per md5) -> benchmark decontamination (sliding "
    "13-gram overlap vs the broadcast eval set) -> 64/48 window "
    "chunking -> per-source doc/chunk/token accounting. Each stage's "
    "semantics were verified standalone (dedup_exact_hash, "
    "filter_decontaminate, corpus_chunk_windows); this query pins "
    "the COMPOSITION cross-engine. 100 TB shape: every stage is "
    "map-side or one bounded shuffle — the only corpus shuffles are "
    "the md5 dedup groupBy and the final per-source aggregate; "
    "decontamination and chunking never move corpus bytes",
)
def pipeline_pretrain_corpus(spark, sf_dir):
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents")
    quality = d.filter(F.col("n_chars") >= _PIPE_MIN_CHARS).select(
        "doc_id", "text", "source"
    )
    rn = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    exact = (
        quality.withColumn("rn", F.row_number().over(rn))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    # spread the 13-gram HOF construction before exploding it
    w = d.transform(spread, "doc_id").select(
        "doc_id",
        F.split("text", " ").alias("words"),
        F.size(F.split("text", " ")).alias("n"),
    ).filter(F.col("n") >= _DECON_N)
    g = w.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.col("n") - _DECON_N),
                lambda i: F.concat_ws(" ", F.slice("words", i + 1, _DECON_N)),
            )
        ).alias("gram"),
    )
    eval_grams = (
        g.filter(F.col("doc_id").isin(*_DECON_EVAL)).select("gram").distinct()
    )
    contaminated = (
        g.join(F.broadcast(eval_grams), "gram").select("doc_id").distinct()
    )
    kept = (
        exact.join(contaminated, "doc_id", "left_anti")
        .filter(~F.col("doc_id").isin(*_DECON_EVAL))
    )
    kw = kept.select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).alias("n"),
    )
    chunks = kw.select(
        "doc_id",
        "source",
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.greatest(
                        ((F.col("n") - 1) / _CHUNK_STRIDE).cast("long"),
                        F.lit(0),
                    ),
                ),
                lambda k: F.least(
                    F.lit(_CHUNK_W), F.col("n") - k * _CHUNK_STRIDE
                ),
            )
        ).alias("clen"),
    ).filter(F.col("clen") > 0)
    return (
        chunks.groupBy("source")
        .agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("clen").alias("n_tokens"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Gopher quality rules (Rae et al. 2021, the published repetition/shape
# filters every pretraining pipeline applies before training)
# ---------------------------------------------------------------------------


_GOPHER_STOP_SQL = "['the','be','to','of','and','that','have','with']"


def _gram_ctes(k: int) -> str:
    """DuckDB CTE chain computing per-doc top-/dup-k-gram character
    stats: explode gram start positions (unnest of generate_series),
    GROUP BY (doc, gram) for counts, then the per-doc aggregates —
    top uses the max-chars tie-break among max-count grams so the
    value is deterministic (same contract as operators/quality.py)."""
    terms = " || ' ' || ".join(f"ws[i+{j}]" for j in range(k))
    chars = " + ".join(f"len(ws[i+{j}])" for j in range(k))
    return f"""
    g{k} AS (
      SELECT doc_id, tc, unnest(generate_series(1, n - {k - 1})) AS i, ws
      FROM base WHERE n >= {k}
    ), g{k}g AS (
      SELECT doc_id, tc, {terms} AS gram, {chars} AS chars FROM g{k}
    ), g{k}c AS (
      SELECT doc_id, any_value(tc) AS tc, gram, COUNT(*) AS cnt,
             any_value(chars) AS chars
      FROM g{k}g GROUP BY doc_id, gram
    ), g{k}m AS (
      SELECT doc_id, MAX(cnt) AS mc FROM g{k}c GROUP BY doc_id
    ), g{k}a AS (
      SELECT c.doc_id,
             CASE WHEN any_value(c.tc) = 0 THEN 0.0 ELSE
               CAST(any_value(m.mc) *
                    MAX(CASE WHEN c.cnt = m.mc THEN c.chars END)
                    AS DOUBLE) / any_value(c.tc) END AS top{k}_raw,
             CASE WHEN any_value(c.tc) = 0 THEN 0.0 ELSE
               CAST(COALESCE(SUM(CASE WHEN c.cnt >= 2
                                      THEN c.cnt * c.chars END), 0)
                    AS DOUBLE) / any_value(c.tc) END AS dup{k}_raw
      FROM g{k}c c JOIN g{k}m m ON m.doc_id = c.doc_id
      GROUP BY c.doc_id
    )"""


@register(
    "filter_gopher_quality",
    f"""
    WITH w AS (
      SELECT doc_id, lower(text) AS lt,
             string_split(lower(text), ' ') AS ws,
             string_split(lower(text), chr(10)) AS ls
      FROM documents
    ), base AS (
      SELECT doc_id, ws, ls, lt, len(ws) AS n,
             CAST(list_sum(list_transform(ws, x -> len(x))) AS BIGINT)
               AS tc
      FROM w
    ), sig0 AS (
      SELECT doc_id, n AS n_words,
             ROUND(CAST(tc AS DOUBLE) / n, 4) AS mean_word_len,
             ROUND(CAST(len(list_filter(ws,
                        x -> regexp_matches(x, '[a-z]')))
                        AS DOUBLE) / n, 4) AS alpha_frac,
             CASE WHEN n >= 2 THEN
               ROUND(CAST(n - 1 - len(list_distinct(
                 list_transform(generate_series(1, n - 1),
                                i -> ws[i] || ' ' || ws[i+1])))
                 AS DOUBLE) / (n - 1), 4)
             ELSE 0.0 END AS dup_bigram_frac,
             ROUND(CAST(
                 (len(lt) - len(replace(lt, '#', '')))
               + (len(lt) - len(replace(lt, '…', '')))
               + (len(lt) - len(replace(lt, '...', ''))) // 3
               AS DOUBLE) / n, 4) AS symbol_ratio,
             ROUND(CAST(len(list_filter(ls, l ->
                 starts_with(trim(l, ' '), '•')
                 OR starts_with(trim(l, ' '), '- ')
                 OR starts_with(trim(l, ' '), '* ')))
                 AS DOUBLE) / len(ls), 4) AS bullet_line_frac,
             ROUND(CAST(len(list_filter(ls, l ->
                 ends_with(trim(l, ' '), '...')
                 OR ends_with(trim(l, ' '), '…')))
                 AS DOUBLE) / len(ls), 4) AS ellipsis_line_frac,
             CAST(len(list_intersect(list_distinct(ws),
                  {_GOPHER_STOP_SQL})) AS BIGINT) AS stop_hits
      FROM base
    ), {_gram_ctes(2)}, {_gram_ctes(3)}, {_gram_ctes(4)}
    SELECT s.doc_id, s.n_words, s.mean_word_len, s.alpha_frac,
           s.dup_bigram_frac, s.symbol_ratio, s.bullet_line_frac,
           s.ellipsis_line_frac, s.stop_hits,
           ROUND(COALESCE(a3.dup3_raw, 0.0), 4) AS dup_3gram_frac,
           ROUND(COALESCE(a4.dup4_raw, 0.0), 4) AS dup_4gram_frac,
           ROUND(COALESCE(a2.top2_raw, 0.0), 4) AS top_2gram_frac,
           ROUND(COALESCE(a3.top3_raw, 0.0), 4) AS top_3gram_frac,
           ROUND(COALESCE(a4.top4_raw, 0.0), 4) AS top_4gram_frac,
           CASE WHEN s.n_words BETWEEN 50 AND 100000
                 AND s.mean_word_len BETWEEN 3 AND 10
                 AND s.alpha_frac >= 0.8
                 AND s.dup_bigram_frac <= 0.6
                 AND s.symbol_ratio <= 0.1
                 AND s.bullet_line_frac <= 0.9
                 AND s.ellipsis_line_frac <= 0.3
                 AND s.stop_hits >= 1
                 AND ROUND(COALESCE(a3.dup3_raw, 0.0), 4) <= 0.5
                 AND ROUND(COALESCE(a4.dup4_raw, 0.0), 4) <= 0.4
                 AND ROUND(COALESCE(a2.top2_raw, 0.0), 4) <= 0.20
                 AND ROUND(COALESCE(a3.top3_raw, 0.0), 4) <= 0.18
                 AND ROUND(COALESCE(a4.top4_raw, 0.0), 4) <= 0.16
                THEN 'keep' ELSE 'drop' END AS verdict
    FROM sig0 s
    LEFT JOIN g2a a2 ON a2.doc_id = s.doc_id
    LEFT JOIN g3a a3 ON a3.doc_id = s.doc_id
    LEFT JOIN g4a a4 ON a4.doc_id = s.doc_id
    ORDER BY s.doc_id
    """,
    doc="Gopher quality rules (Rae et al. 2021 §A1.1) — the FULL "
    "published battery: word-count bounds [50,1e5], mean word length "
    "[3,10], alphabetic-word fraction >=0.8, symbol-to-word ratio "
    "(#/ellipsis) <=0.1, bullet-line fraction <=0.9, ellipsis-line "
    "fraction <=0.3, the required-stop-word rule (the paper wants "
    ">=2 of the 8 Gopher stop words; this synthetic corpus's "
    "vocabulary carries only 'the', so the verdict uses >=1 to "
    "keep the rule non-degenerate — stop_hits itself reports the "
    "true count), duplicate word-bigram fraction <=0.6, "
    "duplicate 3/4-gram character fractions (<=0.5/0.4 — adapted "
    "thresholds: the paper's dup battery starts at 5-grams; the "
    "3/4-gram variants are the same signal tuned to this corpus's "
    "short docs) and top-2/3/4-gram character fractions "
    "(<=0.20/0.18/0.16, the published values). EVERY signal value "
    "AND the composite keep/drop verdict is value-hash-checked "
    "against the DuckDB twin; thresholds compare the ROUNDED signals "
    "on both engines so boundary docs cannot flake. 100 TB shape: "
    "all 13 signals come from ONE Arrow-vectorized kernel pass over "
    "the scan (operators/quality.py — the pure-HOF column version "
    "measured 18.5 s at sf0.1 vs ~1 s, the round-1 "
    "interpreted-after-UDF lesson); rounding stays JVM-side (F.round "
    "half-up ≡ DuckDB ROUND) so values are bit-identical to the SQL "
    "twin. Embarrassingly parallel, zero shuffle before the ordered "
    "output; the verdict column is exactly the predicate a corpus "
    "build pushes into its first filter stage",
)
def filter_gopher_quality(spark, sf_dir):
    from omni_crawler_spark.operators.quality import gopher_signals_udf

    # spread: the signals kernel is the CPU cost
    d = _t(spark, sf_dir, "documents").transform(spread)
    sig = d.select(
        "doc_id", gopher_signals_udf()(F.col("text")).alias("g")
    ).select(
        "doc_id",
        F.col("g.n_words").alias("n_words"),
        F.round(F.col("g.mean_raw"), 4).alias("mean_word_len"),
        F.round(F.col("g.alpha_raw"), 4).alias("alpha_frac"),
        F.round(F.col("g.dup_raw"), 4).alias("dup_bigram_frac"),
        F.round(F.col("g.symbol_raw"), 4).alias("symbol_ratio"),
        F.round(F.col("g.bullet_raw"), 4).alias("bullet_line_frac"),
        F.round(F.col("g.ellip_raw"), 4).alias("ellipsis_line_frac"),
        F.col("g.stop_hits").alias("stop_hits"),
        F.round(F.col("g.dup3_raw"), 4).alias("dup_3gram_frac"),
        F.round(F.col("g.dup4_raw"), 4).alias("dup_4gram_frac"),
        F.round(F.col("g.top2_raw"), 4).alias("top_2gram_frac"),
        F.round(F.col("g.top3_raw"), 4).alias("top_3gram_frac"),
        F.round(F.col("g.top4_raw"), 4).alias("top_4gram_frac"),
    )
    verdict = F.when(
        F.col("n_words").between(50, 100000)
        & F.col("mean_word_len").between(3, 10)
        & (F.col("alpha_frac") >= 0.8)
        & (F.col("dup_bigram_frac") <= 0.6)
        & (F.col("symbol_ratio") <= 0.1)
        & (F.col("bullet_line_frac") <= 0.9)
        & (F.col("ellipsis_line_frac") <= 0.3)
        & (F.col("stop_hits") >= 1)
        & (F.col("dup_3gram_frac") <= 0.5)
        & (F.col("dup_4gram_frac") <= 0.4)
        & (F.col("top_2gram_frac") <= 0.20)
        & (F.col("top_3gram_frac") <= 0.18)
        & (F.col("top_4gram_frac") <= 0.16),
        F.lit("keep"),
    ).otherwise(F.lit("drop"))
    # ordered_small, not orderBy: the range exchange's sampling job
    # would run the whole Arrow kernel a SECOND time (round-2 lesson)
    return ordered_small(sig.withColumn("verdict", verdict), "doc_id")


@register(
    "corpus_mix_weights",
    """
    WITH t AS (
      SELECT source,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ), s AS (
      SELECT SUM(n_tokens) AS total, COUNT(*) AS k FROM t
    )
    SELECT t.source, t.n_tokens,
           ROUND(CAST(t.n_tokens AS DOUBLE) / s.total, 4) AS actual_share,
           ROUND(1.0 / s.k, 4) AS target_share,
           ROUND((CAST(s.total AS DOUBLE) / s.k) / t.n_tokens, 4)
             AS sample_weight
    FROM t, s ORDER BY t.source
    """,
    doc="corpus mixture reweighting — the sampling-weight table a "
    "training-data pipeline derives before drawing a mixture: exact "
    "per-source token counts, actual vs target (uniform) share, and "
    "the per-source sampling weight (target tokens / actual tokens, "
    ">1 = upsample) that makes the drawn mixture hit the target. "
    "Token counts are integer-exact; shares/weights are divisions of "
    "those integers so the IEEE doubles agree cross-engine. 100 TB "
    "shape: one partial-aggregated groupBy on source (tiny key "
    "space), corpus stats broadcast back — the same "
    "crossJoin(broadcast(single-row)) shape as BM25's stats",
)
def corpus_mix_weights(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    t = d.groupBy("source").agg(
        F.sum(F.size(F.split(F.col("text"), " "))).alias("n_tokens")
    )
    s = t.agg(
        F.sum("n_tokens").alias("total"), F.count(F.lit(1)).alias("k")
    )
    return (
        t.crossJoin(F.broadcast(s))
        .select(
            "source",
            "n_tokens",
            F.round(F.col("n_tokens").cast("double") / F.col("total"), 4)
                .alias("actual_share"),
            F.round(F.lit(1.0) / F.col("k"), 4).alias("target_share"),
            F.round(
                (F.col("total").cast("double") / F.col("k"))
                / F.col("n_tokens"),
                4,
            ).alias("sample_weight"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Deterministic train/val/test split
# ---------------------------------------------------------------------------

# 60-bit md5-derived split key, the cross-engine signature recipe:
# DuckDB CAST('0x'||substr(md5(x),1,15) AS BIGINT) == Spark
# conv(substring(md5(x),1,15),16,10).cast('long'); 15 hex digits keep
# the value positive in both engines so % 100 agrees with no pmod
# gymnastics. The "split:" salt decouples this hash from every other
# md5-of-doc use in the registry (fingerprints, sampling), so
# changing one assignment universe can never silently shift another.
_SPLIT_SALT = "split:"


def split_assignment(d):
    """Per-doc split assignment column set (doc_id, split) — the ONE
    implementation both the aggregate query and the stability pytest
    use: the test compares these assignments over the full corpus vs
    a subset, which is only a real guard because the query aggregates
    THIS function's output (a rewrite to row_number/rand here breaks
    the subset-invariance the test pins)."""
    r = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(_SPLIT_SALT),
                               F.col("doc_id").cast("string"))),
                1, 15,
            ),
            16, 10,
        ).cast("long")
        % 100
    )
    split = (
        F.when(r < 90, F.lit("train"))
        .when(r < 95, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return d.withColumn("split", split)


@register(
    "corpus_train_val_split",
    f"""
    WITH assigned AS (
      SELECT doc_id, n_chars, lang,
             CAST('0x' || substr(
               md5('{_SPLIT_SALT}' || CAST(doc_id AS VARCHAR)), 1, 15)
               AS BIGINT) % 100 AS r
      FROM documents
    )
    SELECT CASE WHEN r < 90 THEN 'train'
                WHEN r < 95 THEN 'val' ELSE 'test' END AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc
    FROM assigned GROUP BY 1 ORDER BY 1
    """,
    doc="deterministic 90/5/5 train-val-test split by salted content "
    "hash — the assignment step every training corpus needs before "
    "packing. Hash-based (not row_number/rand) so it is STABLE under "
    "corpus growth: adding documents never reassigns an existing "
    "doc's split, which is what keeps eval sets uncontaminated "
    "across corpus refreshes; deterministic across engines, runs, "
    "and partitionings via the md5→60-bit recipe. Reports per-split "
    "doc/char/lang coverage so a skewed split is visible at a "
    "glance. 100 TB shape: pure map-side expression + one 3-group "
    "aggregate — the split column costs nothing and pushes into any "
    "consumer's scan",
)
def corpus_train_val_split(spark, sf_dir):
    d = split_assignment(_t(spark, sf_dir, "documents"))
    return (
        d.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("split")
    )
