"""Dedup + similarity queries (training-data-pipeline operators).

Oracle-paired where the math is cross-engine deterministic (exact
Jaccard, brute-force cosine); rows-only where the operator is
approximate by design (MinHash-LSH, SimHash, LSH-ANN) — those get
planted-duplicate pytest coverage in tests/test_dedup.py instead.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from omni_crawler_spark.analytics.registry import (
    _t,
    cache_root,
    ordered_small,
    register,
)
from omni_crawler_spark.operators import dedup as D
from omni_crawler_spark.operators import similarity as S
from omni_crawler_spark.session import spread

_SHINGLES_SQL = (
    "list_distinct(list_transform("
    "generate_series(1, greatest(1, len(lower(text)) - 4)), "
    "i -> substr(lower(text), i, 5)))"
)


@register(
    "dedup_ngram_jaccard",
    f"""
    WITH sh AS (
      SELECT doc_id, lang, n_chars AS len_bucket,
             {_SHINGLES_SQL} AS sh FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
    FROM sh a JOIN sh b
      ON a.lang = b.lang AND a.len_bucket = b.len_bucket
     AND a.doc_id < b.doc_id
    WHERE ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                / len(list_distinct(list_concat(a.sh, b.sh))), 4) >= 0.5
    ORDER BY id_a, id_b
    """,
    doc="n-gram Jaccard near-dup — exact 5-gram shingle Jaccard over "
    "(lang, exact-length) blocked pairs; the exact-verify stage of the "
    "MinHash pipeline (operators/dedup.py::jaccard_verify)",
)
def dedup_ngram_jaccard(spark, sf_dir):
    # Blocked pairs carry the two texts through the join; the exact
    # shingle Jaccard runs in the vectorized pandas kernel (numpy/set
    # per Arrow batch) instead of interpreted array_intersect/
    # array_union HOFs — same values (the kernel returns the raw
    # |A∩B|/|A∪B| double; F.round stays JVM-side), ~5x faster.
    d = _t(spark, sf_dir, "documents")
    blocked = d.select(
        "doc_id",
        "lang",
        F.col("n_chars").cast("long").alias("len_bucket"),
        "text",
    )
    a, b = blocked.alias("a"), blocked.alias("b")
    jac = F.round(D.jaccard_pair_udf(5)(F.col("txt_a"), F.col("txt_b")), 4)
    # the block join fans 50k docs out to ~660k pairs at sf1.0; spread
    # them for the CPU-bound Jaccard kernel. Partitioning by the BLOCK
    # key (not the pair ids) keeps each block's pairs in one Arrow
    # batch run, so the kernel's per-batch shingle memo gets
    # ~blocksize hits per doc instead of ~0 (measured 3.6s vs 8.4s for
    # the verify stage at sf1.0).
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.len_bucket") == F.col("b.len_bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.lang").alias("lang"),
            F.col("a.len_bucket").alias("len_bucket"),
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.text").alias("txt_a"),
            F.col("b.text").alias("txt_b"),
        )
        .transform(spread, "lang", "len_bucket")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.5)
        .transform(lambda df: ordered_small(df, "id_a", "id_b"))
    )


@register(
    "sim_topk_cosine",
    """
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
               FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS ne
          FROM embeddings),
    s AS (SELECT query_id, neighbor_id,
                 ROUND(list_dot_product(qe, ne)
                       / (sqrt(list_dot_product(qe, qe))
                          * sqrt(list_dot_product(ne, ne))), 4) AS sim
          FROM q JOIN c ON neighbor_id <> query_id),
    r AS (SELECT query_id, neighbor_id, sim,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY sim DESC, neighbor_id) AS rank
          FROM s)
    SELECT query_id, neighbor_id, rank, sim FROM r WHERE rank <= 5
    ORDER BY query_id, rank
    """,
    doc="similarity search baseline — brute-force exact cosine top-5 for "
    "query vectors (operators/similarity.py::cosine_topk); broadcast "
    "queries × corpus, per-query window top-k",
)
def sim_topk_cosine(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    return S.cosine_topk(e, query_ids=[0, 1, 2, 3, 4], k=5).orderBy(
        "query_id", "rank"
    )


@register(
    "dedup_embedding_cosine",
    """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    p AS (SELECT vec_id + 100000 AS vec_id,
                 list_transform(v, x -> 1.05*x + 0.01) AS v
          FROM e WHERE vec_id < 25),
    u AS (SELECT * FROM e UNION ALL SELECT * FROM p)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v))
                    * sqrt(list_dot_product(b.v, b.v))), 4) AS sim
    FROM u a JOIN u b ON a.vec_id < b.vec_id
    WHERE ROUND(list_dot_product(a.v, b.v)
                / (sqrt(list_dot_product(a.v, a.v))
                   * sqrt(list_dot_product(b.v, b.v))), 4) >= 0.9
    ORDER BY id_a, id_b
    """,
    doc="embedding-cosine near-dup (exact all-pairs for the oracle; the "
    "LSH-bucketed scale path is dedup_embedding_lsh). The corpus is the "
    "embeddings table plus 25 planted near-duplicate twins (vec_id + "
    "100000, elementwise 1.05·x + 0.01 perturbation → cosine ≈0.997 to the unit-norm base vector) "
    "derived deterministically inside BOTH engines — the driver tables "
    "contain no organic pairs above 0.52, so without the twins the "
    "oracle would certify an empty comparison",
)
def dedup_embedding_cosine(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    planted = e.filter(F.col("vec_id") < 25).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("v", lambda x: x * F.lit(1.05) + F.lit(0.01)).alias("v"),
    )
    u = e.unionByName(planted)
    a = u.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"))
    b = u.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("sim", F.round(S.cosine(F.col("va"), F.col("vb")), 4))
        .filter(F.col("sim") >= 0.9)
        .select("id_a", "id_b", "sim")
        .transform(lambda df: ordered_small(df, "id_a", "id_b"))
    )


@register(
    "dedup_embedding_lsh",
    None,
    doc="embedding near-dup SCALE PATH — banded random-hyperplane LSH "
    "bucketing with a max_bucket_size cap bounding pair expansion "
    "(operators/similarity.py::embedding_near_dups via "
    "operators/dedup.py::bucket_pairs); found-pairs parity "
    "vs the exact dedup_embedding_cosine asserted on planted duplicates "
    "in tests/test_similarity.py. Runs over the same planted-twin "
    "corpus as dedup_embedding_cosine so the recorded row count is "
    "non-trivial (expected ~25 pairs at LSH recall ≈0.99, vs 0 organic)",
)
def dedup_embedding_lsh(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    planted = e.filter(F.col("vec_id") < 25).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.05) + F.lit(0.01)).alias("embedding"),
    )
    u = e.unionByName(planted)
    return ordered_small(
        S.embedding_near_dups(u, threshold=0.9), "id_a", "id_b"
    )


@register(
    "dedup_minhash_lsh",
    None,
    doc="MinHash+LSH candidate pairs (shingle→minhash→band→bucket-join), "
    "approximate by design → pytest planted-duplicate coverage in "
    "tests/test_dedup.py; operators/dedup.py::minhash_lsh_candidates. "
    "Banding (bands=5, rows=6) centers the LSH S-curve at "
    "t=(1/5)^(1/6)≈0.77, just under the 0.8 verify threshold — the "
    "round-2 (8,4) banding centered at 0.59 and flooded verify with "
    "~26x the candidates (50,446 vs 1,962 at sf0.1) for an identical "
    "confirmed-pair set (recall 1.0, measured)",
)
def dedup_minhash_lsh(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    cand = D.minhash_lsh_candidates(d, "doc_id", "text", num_perm=30, bands=5)
    return ordered_small(
        D.jaccard_verify(d, cand, "doc_id", "text", threshold=0.8),
        "id_a", "id_b",
    )


@register(
    "dedup_minhash_realistic",
    None,
    doc="the SAME MinHash+LSH pipeline as dedup_minhash_lsh over a "
    "REALISTIC-collision corpus: the synthetic documents table is a "
    "30-word-vocabulary word soup whose organic shingle collisions "
    "are adversarially high (its bench number is the stress bound); "
    "real web corpora collide orders of magnitude less. Here every "
    "word is salted with its doc_id (cross-doc shingle overlap -> "
    "~0, the production collision profile) and 25 near-copies are "
    "planted (identical salted text + a 3-char trailer, jaccard "
    "~0.97 — inside the 5x6-band S-curve's high-recall region) — the "
    "pipeline must recover exactly the planted pairs with a "
    "candidate count close to the planted count. Benchmarked beside "
    "the adversarial query so the headline reflects production "
    "collision rates; recovery pytest-pinned in tests/test_dedup.py",
)
def dedup_minhash_realistic(spark, sf_dir):
    # spread BEFORE the per-word salting: it touches every word of
    # every doc
    d = _t(spark, sf_dir, "documents").transform(spread, "doc_id")
    # per-word salting via one codegen'd regexp_replace instead of the
    # interpreted transform-lambda over every word: the corpus texts
    # are strictly single-space-separated non-empty tokens (checked at
    # every sf), so replacing each space with "_<id> " and appending
    # "_<id>" produces the identical salted string (output equality
    # additionally snapshot-proven at sf0.001-1.0)
    idstr = F.col("doc_id").cast("string")
    salted = d.select(
        "doc_id",
        F.concat(
            F.regexp_replace(
                "text", F.lit(" "), F.concat(F.lit("_"), idstr, F.lit(" "))
            ),
            F.lit("_"),
            idstr,
        ).alias("text"),
    )
    copies = salted.filter(F.col("doc_id") < 25).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat("text", F.lit(" x2")).alias("text"),
    )
    # materialize the salted corpus once: three consumers (the
    # signature pass and both verify text-attach joins) would each
    # recompute the per-word salting HOF otherwise
    corpus = salted.unionByName(copies).localCheckpoint()
    cand = D.minhash_lsh_candidates(
        corpus, "doc_id", "text", num_perm=30, bands=5
    )
    return ordered_small(
        D.jaccard_verify(corpus, cand, "doc_id", "text", threshold=0.8),
        "id_a", "id_b",
    )


@register(
    "dedup_minhash_verify",
    f"""
    WITH base AS (SELECT doc_id, text FROM documents),
    copies AS (
      SELECT doc_id + 100000 AS doc_id,
             text || ' verify trailer tokens' AS text
      FROM base WHERE doc_id < 12
    ),
    docs AS (SELECT * FROM base UNION ALL SELECT * FROM copies),
    cand AS (
      SELECT doc_id AS id_a, doc_id + 100000 AS id_b
      FROM base WHERE doc_id < 12
      UNION ALL
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM base a JOIN base b ON b.doc_id = a.doc_id + 1
      WHERE a.doc_id % 23 = 0
    ),
    sh AS (SELECT doc_id, {_SHINGLES_SQL} AS sh FROM docs),
    j AS (
      SELECT c.id_a, c.id_b,
             ROUND(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                   / len(list_distinct(list_concat(sa.sh, sb.sh))), 4)
               AS jaccard
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.id_a
      JOIN sh sb ON sb.doc_id = c.id_b
    )
    SELECT id_a, id_b, jaccard,
           CASE WHEN jaccard >= 0.8 THEN 'confirmed' ELSE 'rejected' END
             AS status
    FROM j ORDER BY id_a, id_b
    """,
    doc="the VERIFY stage of the MinHash pipeline, oracle-paired: the "
    "exact same vectorized kernel dedup_minhash_lsh confirms its "
    "candidates with (operators/dedup.py::jaccard_verify → "
    "jaccard_pair_udf, shingle_k=5) runs over a DETERMINISTIC "
    "candidate list — 12 planted near-copies (doc_id+100000, text + "
    "a short trailer, jaccard near 1) plus consecutive-id organic "
    "pairs — and every pair's exact 5-gram-shingle Jaccard is "
    "value-hash-checked against a DuckDB list_intersect twin, with "
    "the 0.8 confirm threshold reported as a status column. LSH "
    "candidate GENERATION stays rows-only (approximate by design); "
    "this pins the half of dedup_minhash_lsh that is exact math",
)
def dedup_minhash_verify(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    copies = d.filter(F.col("doc_id") < 12).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat("text", F.lit(" verify trailer tokens")).alias("text"),
    )
    docs = d.unionByName(copies)
    planted = d.filter(F.col("doc_id") < 12).select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + 100000).alias("id_b"),
    )
    a, b = d.alias("a"), d.alias("b")
    organic = (
        a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 1)
        .filter(F.col("a.doc_id") % 23 == 0)
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
    )
    cand = planted.unionByName(organic)
    # threshold=0.0 keeps every candidate's exact jaccard in the
    # output (the oracle checks VALUES, not just survivors); the
    # pipeline's 0.8 confirm decision is surfaced as `status`
    verified = D.jaccard_verify(
        docs, cand, "doc_id", "text", shingle_k=5, threshold=0.0
    )
    return ordered_small(
        verified.select(
            "id_a",
            "id_b",
            "jaccard",
            F.when(F.col("jaccard") >= 0.8, F.lit("confirmed"))
            .otherwise(F.lit("rejected"))
            .alias("status"),
        ),
        "id_a",
        "id_b",
    )


@register(
    "dedup_simhash",
    None,
    doc="SimHash near-dup pairs (hamming<=3, banded blocking), "
    "operators/dedup.py::simhash_candidates; the hamming VERIFY "
    "kernel itself is oracle-paired via dedup_hamming_verify",
)
def dedup_simhash(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return ordered_small(
        D.simhash_candidates(d, "doc_id", "text", max_hamming=3),
        "id_a", "id_b",
    )


# cross-engine 64-bit signature: the top 15 hex digits of md5(text)
# parsed as an integer — 60 bits, identical in Spark (conv base
# 16->10) and DuckDB ('0x' || hex cast). Stands in for any stored
# 64-bit signature column (simhash / phash).
def _sig64_spark():
    return F.conv(F.substring(F.md5(F.col("text")), 1, 15), 16, 10).cast(
        "long"
    )


_SIG64_SQL = "CAST('0x' || substr(md5(text), 1, 15) AS BIGINT)"

# planted near-dup bit flips: hamming(387)=bit_count(0b110000011)=4
_FLIP = 387


@register(
    "dedup_hamming_verify",
    f"""
    WITH sigs AS (
      SELECT doc_id, {_SIG64_SQL} AS sig FROM documents
    ),
    copies AS (
      SELECT doc_id + 100000 AS doc_id, xor(sig, {_FLIP}) AS sig
      FROM sigs WHERE doc_id < 12
    ),
    allsigs AS (SELECT * FROM sigs UNION ALL SELECT * FROM copies),
    cand AS (
      SELECT doc_id AS id_a, doc_id + 100000 AS id_b
      FROM sigs WHERE doc_id < 12
      UNION ALL
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sigs a JOIN sigs b ON b.doc_id = a.doc_id + 1
      WHERE a.doc_id % 23 = 0
    )
    SELECT c.id_a, c.id_b,
           bit_count(xor(sa.sig, sb.sig)) AS hamming,
           CASE WHEN bit_count(xor(sa.sig, sb.sig)) <= 8
                THEN 'dup' ELSE 'distinct' END AS status
    FROM cand c
    JOIN allsigs sa ON sa.doc_id = c.id_a
    JOIN allsigs sb ON sb.doc_id = c.id_b
    ORDER BY id_a, id_b
    """,
    doc="the hamming VERIFY stage of the SimHash/pHash dedup family, "
    "oracle-paired (the dedup_minhash_verify pattern): a "
    "deterministic candidate list — 12 planted near-copies whose "
    "64-bit signature differs in exactly 4 bits, plus consecutive-id "
    "organic pairs (~30-bit distance on md5-derived signatures) — "
    "runs through the EXACT popcount-of-xor column kernel "
    "hamming_near_dups confirms its banded candidates with "
    "(operators/dedup.py::hamming64_cols), with the <=8 dup "
    "threshold reported as a status column and every distance "
    "value-hash-checked against DuckDB bit_count(xor(a,b)). Banded "
    "candidate GENERATION stays rows-only (capped buckets are "
    "recall-approximate by design); this pins the half that is "
    "exact integer math. 100 TB shape: pure codegen, zero Python, "
    "zero shuffle beyond the candidate joins",
)
def dedup_hamming_verify(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    sigs = d.select("doc_id", _sig64_spark().alias("sig"))
    copies = sigs.filter(F.col("doc_id") < 12).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.col("sig").bitwiseXOR(F.lit(_FLIP)).alias("sig"),
    )
    allsigs = sigs.unionByName(copies)
    planted = sigs.filter(F.col("doc_id") < 12).select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + 100000).alias("id_b"),
    )
    a, b = sigs.alias("a"), sigs.alias("b")
    organic = (
        a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 1)
        .filter(F.col("a.doc_id") % 23 == 0)
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
    )
    cand = planted.unionByName(organic)
    sa = allsigs.select(
        F.col("doc_id").alias("id_a"), F.col("sig").alias("sig_a")
    )
    sb = allsigs.select(
        F.col("doc_id").alias("id_b"), F.col("sig").alias("sig_b")
    )
    ham = D.hamming64_cols(F.col("sig_a"), F.col("sig_b"))
    return ordered_small(
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            ham.alias("hamming"),
            F.when(ham <= 8, F.lit("dup"))
            .otherwise(F.lit("distinct"))
            .alias("status"),
        ),
        "id_a",
        "id_b",
    )


@register(
    "sim_ann_lsh",
    None,
    doc="LSH-bucketed approximate top-k (scale path of sim_topk_cosine), "
    "operators/similarity.py::ann_lsh_topk; recall vs exact asserted in "
    "tests/test_similarity.py",
)
def sim_ann_lsh(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    return S.ann_lsh_topk(e, query_ids=[0, 1, 2, 3, 4], k=5, n_planes=4).orderBy(
        "query_id", "rank"
    )


@register(
    "sim_ivf_topk",
    None,
    doc="IVF approximate top-k (k-means cells + nprobe probing) — the "
    "second ANN scale path beside LSH; recall vs exact asserted in "
    "tests/test_ivf.py; operators/ivf.py",
)
def sim_ivf_topk(spark, sf_dir):
    from omni_crawler_spark.operators import ivf as I

    e = _t(spark, sf_dir, "embeddings")
    cent = I.train_centroids(e, n_cells=16)
    return I.ivf_topk(e, [0, 1, 2, 3, 4], cent, k=5, nprobe=4).orderBy(
        "query_id", "rank"
    )


@register(
    "sim_pq_topk",
    None,
    doc="product-quantization ANN (8-byte codes + asymmetric-distance "
    "scoring + exact re-rank) — the third ANN scale path beside LSH and "
    "IVF; at 10^10 vectors the codes table is 1/32 the corpus bytes. "
    "recall>=0.8 vs exact asserted in tests/test_pq.py; operators/pq.py",
)
def sim_pq_topk(spark, sf_dir):
    from omni_crawler_spark.operators import pq as PQ

    e = _t(spark, sf_dir, "embeddings")
    books = PQ.train_codebooks(e, dim=64, n_sub=8, n_centroids=16)
    return PQ.pq_topk(e, [0, 1, 2, 3, 4], books, k=5, rerank=32).orderBy(
        "query_id", "rank"
    )


@register(
    "dedup_cluster_cc",
    """
    WITH RECURSIVE
    e1 AS (SELECT a.doc_id AS a, b.doc_id AS b FROM documents a
           JOIN documents b ON b.doc_id = a.doc_id + 1
           WHERE a.doc_id % 4 < 2),
    e2 AS (SELECT a.doc_id AS a, b.doc_id AS b FROM documents a
           JOIN documents b ON b.doc_id = a.doc_id + 10
           WHERE a.doc_id % 20 = 0),
    edges AS (SELECT * FROM e1 UNION ALL SELECT * FROM e2),
    und AS (SELECT a AS src, b AS dst FROM edges
            UNION ALL SELECT b, a FROM edges),
    walk(node, label) AS (
      SELECT DISTINCT src, src FROM und
      UNION
      SELECT u.dst, w.label FROM walk w JOIN und u ON u.src = w.node
    )
    SELECT node AS doc_id, MIN(label) AS cluster_id
    FROM walk GROUP BY node ORDER BY doc_id
    """,
    doc="duplicate-cluster connected components — iterative min-label "
    "propagation over near-dup edges (operators/dedup.py::"
    "duplicate_clusters), oracle = transitive-closure recursive CTE; "
    "edges here are a deterministic synthetic pair graph (chains + "
    "long-range merges) so the oracle is SQL-expressible",
)
def dedup_cluster_cc(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select("doc_id")
    a, b = d.alias("a"), d.alias("b")
    e1 = a.join(
        b,
        (F.col("b.doc_id") == F.col("a.doc_id") + 1)
        & (F.pmod(F.col("a.doc_id"), 4) < 2),
    ).select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
    e2 = a.join(
        b,
        (F.col("b.doc_id") == F.col("a.doc_id") + 10)
        & (F.pmod(F.col("a.doc_id"), 20) == 0),
    ).select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
    clusters = D.duplicate_clusters(e1.unionAll(e2))
    return clusters.select(
        F.col("node").alias("doc_id"), "cluster_id"
    ).orderBy("doc_id")


@register(
    "text_embed_ann",
    None,
    doc="text → embedding → ANN end-to-end with NO model: hashing-trick "
    "trigram embeddings (operators/embed.py, Arrow-vectorized, "
    "deterministic) over documents plus 5 planted near-copies "
    "('+ tiny tail'), then exact cosine top-3 for the planted queries — "
    "each copy must retrieve its original as the nearest neighbor "
    "(pytest-pinned in tests/test_similarity.py). Bridges the raw-text "
    "corpus into the embedding operator family (LSH/IVF/PQ/dedup) "
    "when no model-served vectors exist",
)
def text_embed_ann(spark, sf_dir):
    from omni_crawler_spark.operators.embed import hash_embed_udf

    emb = hash_embed_udf(dim=64)
    d = _t(spark, sf_dir, "documents")
    base = d.select(
        F.col("doc_id").alias("vec_id"), emb(F.col("text")).alias("embedding")
    )
    planted = d.filter(F.col("doc_id") < 5).select(
        (F.col("doc_id") + 100000).alias("vec_id"),
        emb(F.concat("text", F.lit(" tiny tail"))).alias("embedding"),
    )
    corpus = base.unionByName(planted)
    return S.cosine_topk(
        corpus, query_ids=[100000, 100001, 100002, 100003, 100004], k=3
    ).orderBy("query_id", "rank")


@register(
    "pipeline_training_data",
    f"""
    WITH planted_exact AS (
      SELECT doc_id + 100000 AS doc_id, text, lang, source, n_chars
      FROM documents WHERE doc_id < 15
    ),
    planted_near AS (
      SELECT doc_id + 200000 AS doc_id, text || ' the end' AS text,
             lang, source, n_chars
      FROM documents WHERE doc_id < 15
    ),
    corpus AS (
      SELECT doc_id, text, lang, source, n_chars FROM documents
      UNION ALL SELECT * FROM planted_exact
      UNION ALL SELECT * FROM planted_near
    ),
    gated AS (
      SELECT *, len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens
      FROM corpus
      WHERE n_chars >= 200 AND lang = 'en'
        AND len(regexp_split_to_array(trim(text), '\\s+')) >= 30
    ),
    exact AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY sha256(text) ORDER BY doc_id) AS rn
        FROM gated) WHERE rn = 1
    ),
    sh AS (
      SELECT doc_id, lang, n_chars, {_SHINGLES_SQL} AS sh FROM exact
    ),
    near_drops AS (
      SELECT DISTINCT b.doc_id AS doc_id
      FROM sh a JOIN sh b
        ON a.lang = b.lang AND a.n_chars = b.n_chars
       AND a.doc_id < b.doc_id
      WHERE ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                  / len(list_distinct(list_concat(a.sh, b.sh))), 4) >= 0.5
    ),
    kept AS (
      SELECT * FROM exact
      WHERE doc_id NOT IN (SELECT doc_id FROM near_drops)
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
    FROM kept GROUP BY source ORDER BY source
    """,
    doc="END-TO-END training-data pipeline, fully oracle-paired: "
    "quality gate (chars + whitespace-token floor) → language gate → "
    "exact content-hash dedup (keep min id; operators/dedup.py::"
    "exact_dedup) → blocked-Jaccard near-dup drop (the jaccard_verify "
    "kernel over (lang, len) blocks, keep min id) → per-source doc + "
    "token budget. 15 planted exact copies and 15 planted near-copies "
    "(same length block, ' the end' suffix) must BOTH be removed for "
    "the per-source counts to match the oracle — the driver verifies "
    "every stage did its job, not just that the query ran",
)
def pipeline_training_data(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    planted_exact = d.filter(F.col("doc_id") < 15).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        "text", "lang", "source", "n_chars",
    )
    planted_near = d.filter(F.col("doc_id") < 15).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat("text", F.lit(" the end")).alias("text"),
        "lang", "source", "n_chars",
    )
    corpus = d.unionByName(planted_exact).unionByName(planted_near)
    n_tokens = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    gated = corpus.withColumn("n_tokens", n_tokens).filter(
        (F.col("n_chars") >= 200)
        & (F.col("lang") == "en")
        & (F.col("n_tokens") >= 30)
    )
    # exact survivors feed THREE consumers (both self-join sides and
    # the kept anti-join); materialize once instead of recomputing the
    # scan→gate→dedup subtree per consumer
    exact = D.exact_dedup(gated, "text", "doc_id").localCheckpoint()
    a = exact.select("doc_id", "lang", "n_chars", "text").alias("a")
    b = exact.select("doc_id", "lang", "n_chars", "text").alias("b")
    jac = F.round(D.jaccard_pair_udf(5)(F.col("txt_a"), F.col("txt_b")), 4)
    # spread between the block join and the CPU-bound Jaccard kernel;
    # partitioning by the BLOCK key keeps each block's pairs together
    # for the kernel's per-batch shingle memo (as in
    # dedup_ngram_jaccard)
    near_drops = (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.n_chars") == F.col("b.n_chars"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.lang").alias("lang"),
            F.col("a.n_chars").alias("n_chars"),
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.text").alias("txt_a"),
            F.col("b.text").alias("txt_b"),
        )
        .transform(spread, "lang", "n_chars")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= 0.5)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    kept = exact.join(near_drops, "doc_id", "left_anti")
    return (
        kept.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        )
        .orderBy("source")
    )


@register(
    "dedup_embedding_pipeline",
    None,
    doc="end-to-end embedding dedup: banded-LSH near-dup pairs → "
    "connected components → keep the min-id vector per duplicate "
    "cluster; composition of embedding_near_dups + duplicate_clusters "
    "(each independently verified); emits kept-count + cluster stats. "
    "Same planted-twin corpus as dedup_embedding_cosine (525 in → "
    "~500 kept), so the recorded count demonstrates actual dedup work",
)
def dedup_embedding_pipeline(spark, sf_dir):
    base = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    planted = base.filter(F.col("vec_id") < 25).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.05) + F.lit(0.01)).alias("embedding"),
    )
    e = base.unionByName(planted)
    pairs = S.embedding_near_dups(e, threshold=0.9)
    clusters = D.duplicate_clusters(pairs)
    drop = clusters.filter(F.col("node") != F.col("cluster_id")).select(
        F.col("node").alias("vec_id")
    )
    kept = e.join(drop, "vec_id", "left_anti")
    return kept.agg(F.count("*").alias("n_kept"))


@register(
    "sim_ivf_incremental",
    None,  # rows-only: ANN results aren't SQL; split-ingestion ≡
    # one-shot equivalence + replay idempotency pinned in tests/test_ivf.py
    doc="IVF top-k over the PERSISTED incremental index "
    "(operators/ivf.py::IVFIndex): centroids trained once and frozen "
    "on disk, the corpus ingested as two batches with idempotent "
    "op_ids (O(batch) assignment — one broadcast matmul per Arrow "
    "batch, no corpus re-read), search probing the persisted "
    "assignments. The every-cycle ANN-maintenance shape: results are "
    "identical to one-shot indexing because assignment under frozen "
    "centroids is batch-invariant. Also exercises the re-crawl path "
    "(deletion-vector reindex, shared with SearchIndex/MinHashIndex): "
    "vecs 1 and 3 are re-indexed with deterministically changed "
    "embeddings (reversed arrays) and searches score ONLY the new "
    "vectors — one-shot parity pytest-pinned in tests/test_reindex.py. "
    "Fixed per-sf root so later sessions skip re-ingest via committed "
    "op_ids",
)
def sim_ivf_incremental(spark, sf_dir):
    from omni_crawler_spark.operators.ivf import IVFIndex

    e = _t(spark, sf_dir, "embeddings")
    ix = IVFIndex(cache_root("/tmp/ocs_ivfidx", sf_dir), n_cells=16)
    ix.bootstrap(spark, e.filter(F.col("vec_id") % 2 == 1), op_id="boot")
    ix.bootstrap(spark, e.filter(F.col("vec_id") % 2 == 0), op_id="b1")
    ix.reindex(
        spark,
        e.filter(F.col("vec_id").isin(1, 3)).select(
            "vec_id", F.reverse("embedding").alias("embedding")
        ),
        op_id="re-1",
    )
    return ix.search(spark, [0, 1, 2, 3, 4], k=5, nprobe=4).orderBy(
        "query_id", "rank"
    )
