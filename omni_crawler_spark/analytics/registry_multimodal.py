"""Multimodal + end-to-end crawl queries. Mostly rows-only (their
inputs are the deterministic generated images/frontier, not the
driver's parquet tables, so there is no DuckDB twin — pytest owns
their correctness: tests/test_images.py, tests/test_frontier.py);
``pipeline_multimodal_counts`` oracle-pairs the SQL-expressible
prefix of the image pipeline (metadata validation + pHash dedup
stage counts) over a metadata table both engines derive from
``documents``."""

from __future__ import annotations

import atexit
import shutil
import tempfile

from pyspark.sql import functions as F

from omni_crawler_spark.analytics.registry import _t, register
from omni_crawler_spark.operators import multimodal as M


@register(
    "multimodal_decode_validate",
    None,
    doc="N11 — image decode/validate inside Arrow UDF batches: per-fmt "
    "summary of dims/phash/PSNR gates (north rule: allclose lossless, "
    "PSNR>=40dB lossy). Inputs generated deterministically (input_hint "
    "schema); invariants pytest-verified in tests/test_images.py",
)
def multimodal_decode_validate(spark, sf_dir):
    imgs = M.generate_images_df(spark, 200, partitions=8)
    res = M.decode_validate(imgs)
    return (
        res.groupBy("fmt")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("ok").cast("int")).alias("n_ok"),
            F.sum(F.col("phash_ok").cast("int")).alias("n_phash_ok"),
            F.round(F.min("psnr_db"), 2).alias("min_psnr_db"),
            F.sum(F.col("lossless_exact").cast("int")).alias("n_exact"),
        )
        .orderBy("fmt")
    )


@register(
    "multimodal_image_features",
    None,
    doc="image feature extraction (decode → channel means + 8x8 "
    "thumbnail) over the binary column via mapInPandas — the pattern "
    "for any downstream embedding model",
)
def multimodal_image_features(spark, sf_dir):
    imgs = M.generate_images_df(spark, 100, partitions=8)
    return M.image_features(imgs).orderBy("image_id")


@register(
    "multimodal_resize",
    None,
    doc="image resize/thumbnail over the binary column (decode → "
    "deterministic area/NN resample → lossless re-encode) chained into "
    "decode: the resized slice remains a valid images table; dims and "
    "determinism pytest-verified in tests/test_images.py",
)
def multimodal_resize(spark, sf_dir):
    imgs = M.generate_images_df(spark, 100, partitions=8)
    small = M.resize_images(imgs, 32, 32)
    return (
        small.select(
            "image_id", "w", "h", "fmt",
            F.length("bytes").alias("n_bytes"),
        )
        .orderBy("image_id")
    )


@register(
    "pipeline_multimodal",
    None,
    doc="END-TO-END image pipeline over the input_hint table shape: "
    "pHash near-dup dedup FIRST on the stored metadata (hamming<=8, "
    "9-band pigeonhole blocking — dropping copies before paying any "
    "decode is the 100TB order), then decode+validate gate (allclose/"
    "PSNR>=40dB), then deterministic 32x32 resize + feature "
    "extraction; emits one summary row whose counts prove each stage "
    "acted (155 in -> 150 deduped -> validated -> featurized). "
    "Rows-only; stage invariants pytest-verified in tests/test_images.py",
)
def pipeline_multimodal(spark, sf_dir):
    from omni_crawler_spark.analytics.registry import ordered_small  # noqa: F401
    from omni_crawler_spark.operators import dedup as D

    imgs = M.generate_images_df(spark, 150, partitions=8)
    copies = imgs.filter(F.col("image_id") < "img_00000005").withColumn(
        "image_id", F.concat(F.col("image_id"), F.lit("_copy"))
    )
    corpus = imgs.unionByName(copies)
    pairs = D.hamming_near_dups(
        corpus.select("image_id", F.col("phash").alias("sig")),
        "image_id",
        max_hamming=8,
    )
    drops = pairs.select(F.col("id_b").alias("image_id")).distinct()
    deduped = corpus.join(drops, "image_id", "left_anti")
    decoded = M.decode_validate(deduped)
    valid_ids = decoded.filter(F.col("ok")).select("image_id")
    gated = deduped.join(valid_ids, "image_id", "left_semi")
    feats = M.image_features(M.resize_images(gated, 32, 32))
    return (
        corpus.agg(F.count("*").alias("n_in"))
        .crossJoin(deduped.agg(F.count("*").alias("n_after_dedup")))
        .crossJoin(valid_ids.agg(F.count("*").alias("n_valid")))
        .crossJoin(
            feats.agg(
                F.count("*").alias("n_features"),
                F.round(
                    F.sum(F.col("mean_r").cast("decimal(27,6)"))
                    .cast("double")
                    / F.count(F.lit(1)),
                    2,
                ).alias("avg_mean_r"),
            )
        )
    )


# ---------------------------------------------------------------------------
# Oracle-paired prefix of the image pipeline: both engines derive the
# SAME image-metadata table (w/h/fmt bounds + a 64-bit phash) from
# `documents` via pure arithmetic + md5, so the decode-free stages —
# stored-metadata validation and pHash hamming dedup — are exact SQL.
# The pixel stages (decode/PSNR/resize/features) stay in the
# rows-only pipeline_multimodal with pytest invariants.
# ---------------------------------------------------------------------------

_MM_META_SQL = """
    SELECT doc_id AS image_id,
           CASE WHEN doc_id % 37 = 0 THEN 0
                ELSE 32 + (doc_id % 13) * 16 END AS w,
           CASE WHEN doc_id % 41 = 0 THEN 20000
                ELSE 32 + (doc_id % 11) * 16 END AS h,
           CASE WHEN doc_id % 29 = 0 THEN 'tiff'
                WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS fmt,
           CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS phash
    FROM documents
"""


def _mm_meta(d):
    """The ONE Spark twin of ``_MM_META_SQL`` (planted-invalid dims at
    doc_id %37/%41/%29, arithmetic w/h grid, md5-derived 60-bit
    phash). Every Spark-side consumer of the shared image-metadata
    table goes through here so the plant moduli / grids can never
    drift between queries (the SQL side has the same single source:
    the _MM_META_SQL literal every oracle embeds)."""
    doc_id = F.col("doc_id")
    return d.select(
        doc_id.alias("image_id"),
        F.when(doc_id % 37 == 0, 0)
        .otherwise(32 + (doc_id % 13) * 16)
        .alias("w"),
        F.when(doc_id % 41 == 0, 20000)
        .otherwise(32 + (doc_id % 11) * 16)
        .alias("h"),
        F.when(doc_id % 29 == 0, F.lit("tiff"))
        .when(doc_id % 2 == 0, F.lit("png"))
        .otherwise(F.lit("jpeg"))
        .alias("fmt"),
        F.conv(F.substring(F.md5(F.col("text")), 1, 15), 16, 10)
        .cast("long")
        .alias("phash"),
    )


@register(
    "pipeline_multimodal_counts",
    f"""
    WITH meta0 AS ({_MM_META_SQL}),
    copies AS (
      SELECT image_id + 100000 AS image_id, w, h, fmt,
             xor(phash, 3) AS phash
      FROM meta0 WHERE image_id < 7
    ),
    meta AS (SELECT * FROM meta0 UNION ALL SELECT * FROM copies),
    pairs AS (
      SELECT a.image_id AS id_a, b.image_id AS id_b
      FROM meta a JOIN meta b
        ON a.image_id < b.image_id
       AND bit_count(xor(a.phash, b.phash)) <= 8
    ),
    drops AS (SELECT DISTINCT id_b AS image_id FROM pairs),
    deduped AS (
      SELECT m.* FROM meta m ANTI JOIN drops d USING (image_id)
    ),
    valid AS (
      SELECT * FROM deduped
      WHERE w BETWEEN 32 AND 8192 AND h BETWEEN 32 AND 8192
        AND fmt IN ('png', 'jpeg')
    )
    SELECT (SELECT COUNT(*) FROM meta) AS n_in,
           (SELECT COUNT(*) FROM pairs) AS n_dup_pairs,
           (SELECT COUNT(*) FROM deduped) AS n_after_dedup,
           (SELECT COUNT(*) FROM valid) AS n_meta_valid
    """,
    doc="the SQL-expressible PREFIX of pipeline_multimodal, "
    "oracle-paired: stage counts for pHash near-dup dedup "
    "(hamming<=8 over stored 64-bit signatures, planted 2-bit-flip "
    "copies) followed by stored-metadata validation (w/h in "
    "[32,8192], fmt in {{png,jpeg}} — planted invalid rows at "
    "doc_id%37/%41/%29). Both engines derive the identical metadata "
    "table from `documents` (arithmetic dims/fmt + md5-derived "
    "phash), the Spark side runs the REAL blocking operator "
    "(operators/dedup.py::hamming_near_dups, multi-index probing "
    "through bucket_pairs, full recall under the bucket cap) while "
    "the oracle computes the all-pairs ground truth — so the count "
    "match also re-proves blocked recall == exhaustive on this "
    "corpus. The decode/PSNR/resize stages cannot be oracled and "
    "stay pytest-pinned in "
    "pipeline_multimodal. 100 TB shape: the dedup is bucket_pairs "
    "blocking (never n^2); validation is a scan predicate",
)
def pipeline_multimodal_counts(spark, sf_dir):
    from omni_crawler_spark.operators import dedup as D

    meta0 = _mm_meta(_t(spark, sf_dir, "documents"))
    copies = meta0.filter(F.col("image_id") < 7).select(
        (F.col("image_id") + 100000).alias("image_id"),
        "w", "h", "fmt",
        F.col("phash").bitwiseXOR(F.lit(3)).alias("phash"),
    )
    meta = meta0.unionByName(copies)
    # sig_bits=60: the md5-derived signature leaves bits 60-63 zero;
    # banding dead bits would degenerate the top band to <=16 values
    # whose buckets blow past the cap as the corpus grows, silently
    # voiding the pigeonhole recall the oracle's all-pairs ground
    # truth checks. probe_parts=3: multi-index probing (3 parts of 20
    # bits, radius-1 probes) replaces 9-band pigeonhole blocking —
    # same full-recall guarantee vs the oracle's all-pairs ground
    # truth, but candidates drop from ~117M pair rows (9 bands of
    # ~6.7 bits over 50k random signatures at sf1.0) to ~1.6M. The
    # returned pair list is already local-checkpointed, so the three
    # stage counts that hang off it do not recompute the blocking.
    pairs = D.hamming_near_dups(
        meta.select("image_id", F.col("phash").alias("sig")),
        "image_id",
        max_hamming=8,
        sig_bits=60,
        probe_parts=3,
    )
    drops = pairs.select(F.col("id_b").alias("image_id")).distinct()
    deduped = meta.join(F.broadcast(drops), "image_id", "left_anti")
    valid = deduped.filter(
        F.col("w").between(32, 8192)
        & F.col("h").between(32, 8192)
        & F.col("fmt").isin("png", "jpeg")
    )
    return (
        meta.agg(F.count("*").alias("n_in"))
        .crossJoin(F.broadcast(pairs.agg(F.count("*").alias("n_dup_pairs"))))
        .crossJoin(
            F.broadcast(deduped.agg(F.count("*").alias("n_after_dedup")))
        )
        .crossJoin(
            F.broadcast(valid.agg(F.count("*").alias("n_meta_valid")))
        )
    )


def _query_warehouse(prefix: str) -> str:
    """A fresh crawl warehouse for one build of a crawl query. The
    returned DataFrame reads it lazily, so it cannot go before the
    query returns; it is removed when the process exits."""
    wh = tempfile.mkdtemp(prefix=prefix, dir="/tmp")
    atexit.register(shutil.rmtree, wh, ignore_errors=True)
    return wh


@register(
    "crawl_frontier_drain",
    None,
    doc="the flagship end-to-end pipeline (SURVEY §3.1): seeds → "
    "canonicalize/hash → exact anti-join seen filter → robots → "
    "politeness schedule (host×lane) → batched fetch → extract/validate "
    "→ snapshot commits; parity vs the pure-Python reference simulator "
    "is pytest-verified (tests/test_frontier.py)",
)
def crawl_frontier_drain(spark, sf_dir):
    from omni_crawler_spark.frontier.crawl import CrawlEngine
    from omni_crawler_spark.frontier.synthetic import (
        generate_hosts,
        generate_seeds,
    )

    wh = _query_warehouse("drain-query-")
    eng = CrawlEngine(wh, cycle_budget_ms=10**9)
    eng.bootstrap(generate_seeds(spark, 1500, partitions=8), generate_hosts(spark))
    eng.run_cycle(spark, 1)
    return (
        eng.crawl_order(spark, cycle_id=1)
        .select(
            "host", "lane", "crawl_seq", "start_ms", "url_canonical",
            "title", "quality_score", "category", "word_count",
        )
    )


@register(
    "pipeline_recrawl",
    None,
    doc="END-TO-END re-crawl pipeline (the reference's replace-by-"
    "article_id semantics, ES doc_id / PG ON CONFLICT DO UPDATE / "
    "SQLite INSERT OR REPLACE, exercised through the whole engine): "
    "crawl a seeded frontier, recrawl() 20 known URLs, run the next "
    "cycle, and emit one summary row whose counts prove every store "
    "replaced in place — n_refetched == n_targets (seen-set cleared, "
    "frontier re-seeded), n_article_rows == n_targets (keyed upsert, "
    "one live row per url), n_stale_postings == 0 (deletion-vector "
    "reindex: the live index for the targets is exactly a fresh "
    "rebuild from their newest fetches). Rows-only (the engine's "
    "state machine has no SQL twin); the same invariants are "
    "pytest-pinned in tests/test_reindex.py",
)
def pipeline_recrawl(spark, sf_dir):
    from omni_crawler_spark import search as SE
    from omni_crawler_spark.frontier.crawl import CrawlEngine
    from omni_crawler_spark.frontier.synthetic import (
        generate_hosts,
        generate_seeds,
    )

    wh = _query_warehouse("recrawl-query-")
    eng = CrawlEngine(
        wh,
        cycle_budget_ms=10**9,
        maintain_articles=True,
        maintain_index=True,
    )
    eng.bootstrap(
        generate_seeds(spark, 150, partitions=4), generate_hosts(spark)
    )
    eng.run_cycle(spark, 1)
    targets = (
        eng.fetched.read(spark)
        .filter(F.col("valid"))
        .orderBy("url_hash")
        .limit(20)
        .select(F.col("url_canonical").alias("url"), "url_hash")
        .localCheckpoint()
    )
    eng.recrawl(spark, targets.select("url"), op_id="rc-1")
    eng.run_cycle(spark, 2)
    t_hashes = targets.select("url_hash")
    refetched = (
        eng.fetched.read(spark)
        .filter(F.col("cycle_id") == 2)
        .join(F.broadcast(t_hashes), "url_hash", "left_semi")
    )
    art_rows = eng.articles.read(spark).join(
        F.broadcast(t_hashes), "url_hash", "left_semi"
    )
    probe_cols = ["url_hash", "fld", "boost10", "tok"]
    live = (
        eng.index.postings(spark)
        .join(F.broadcast(t_hashes), "url_hash", "left_semi")
        .select(*probe_cols)
    )
    want = SE.build_inverted_index(
        eng.fetched.read(spark)
        .filter(F.col("valid") & (F.col("cycle_id") == 2))
        .join(F.broadcast(t_hashes), "url_hash", "left_semi"),
        fields={"title": 30, "content": 20, "caption": 15},
        id_col="url_hash",
    ).select(*probe_cols)
    stale = live.exceptAll(want)
    return (
        targets.agg(F.count("*").alias("n_targets"))
        .crossJoin(
            F.broadcast(refetched.agg(F.count("*").alias("n_refetched")))
        )
        .crossJoin(
            F.broadcast(art_rows.agg(F.count("*").alias("n_article_rows")))
        )
        .crossJoin(
            F.broadcast(stale.agg(F.count("*").alias("n_stale_postings")))
        )
    )


@register(
    "multimodal_phash_dedup",
    None,
    doc="image near-dup by pHash hamming distance (input_hint's phash "
    "column): 9-band pigeonhole blocking (max_hamming+1 bands; full "
    "recall whenever the agreeing band's bucket is under the "
    "degenerate-bucket cap — a capped bucket sacrifices its pairs, "
    "see hamming_near_dups) without n² comparisons "
    "(operators/dedup.py::hamming_near_dups, shared with SimHash); "
    "planted perturbed-image recovery pytest-verified in "
    "tests/test_images.py",
)
def multimodal_phash_dedup(spark, sf_dir):
    from omni_crawler_spark.analytics.registry import ordered_small
    from omni_crawler_spark.operators import dedup as D

    imgs = M.generate_images_df(spark, 150, partitions=8).select(
        "image_id", "phash"
    )
    # deterministic planted duplicates: exact copies of the first five
    copies = imgs.filter(F.col("image_id") < "img_00000005").withColumn(
        "image_id", F.concat(F.col("image_id"), F.lit("_copy"))
    )
    both = imgs.unionByName(copies)
    pairs = D.hamming_near_dups(
        both.select("image_id", F.col("phash").alias("sig")),
        "image_id",
        max_hamming=8,
    )
    return ordered_small(pairs, "id_a", "id_b")


# ---------------------------------------------------------------------------
# Oracle-paired training-layout queries over the image METADATA (the
# same documents-derived table _MM_META_SQL both engines share):
# aspect-ratio bucketing and byte-budget shard packing — the two
# layout decisions an image+caption training pipeline makes after
# dedup/validation and before any pixel touches the loader.
# ---------------------------------------------------------------------------

# (b_idx, bucket, num, den, mult) — nearest-aspect ladder as RATIONAL
# pairs; mult = lcm(dens)/den = 12/den, so the argmin compares the
# all-integer cost |w*den - h*num| * mult across buckets with no
# division and no float drift (the h factor cancels identically in
# every pairwise comparison).
_ASPECT_LADDER = [
    (0, "1:2", 1, 2, 6),
    (1, "3:4", 3, 4, 3),
    (2, "1:1", 1, 1, 12),
    (3, "4:3", 4, 3, 4),
    (4, "2:1", 2, 1, 12),
]

_MM_VALID_SQL = """
      SELECT * FROM meta
      WHERE w BETWEEN 32 AND 8192 AND h BETWEEN 32 AND 8192
        AND fmt IN ('png', 'jpeg')
"""


def _mm_valid(spark, sf_dir):
    """Spark twin of _MM_META_SQL restricted by the validation
    predicate (the same bounds pipeline_multimodal_counts checks)."""
    return _mm_meta(_t(spark, sf_dir, "documents")).filter(
        F.col("w").between(32, 8192)
        & F.col("h").between(32, 8192)
        & F.col("fmt").isin("png", "jpeg")
    )


def _aspect_best():
    """The all-integer nearest-aspect argmin over _ASPECT_LADDER as a
    single sort_array-of-structs expression (zero shuffle) — the ONE
    Spark implementation, shared by multimodal_aspect_buckets and
    pipeline_image_layout."""
    entries = [
        F.struct(
            (F.abs(F.col("w") * den - F.col("h") * num) * mult)
            .cast("long")
            .alias("cost"),
            F.lit(i).alias("b_idx"),
            F.lit(name).alias("bucket"),
        )
        for i, name, num, den, mult in _ASPECT_LADDER
    ]
    return F.sort_array(F.array(*entries))[0]


@register(
    "multimodal_aspect_buckets",
    f"""
    WITH meta AS ({_MM_META_SQL}),
    valid AS ({_MM_VALID_SQL}),
    ladder(b_idx, bucket, num, den, mult) AS (
      VALUES {", ".join(f"({i}, '{n}', {p}, {q}, {m})"
                        for i, n, p, q, m in _ASPECT_LADDER)}
    ),
    cand AS (
      SELECT v.image_id, v.w, v.h, v.fmt, l.b_idx, l.bucket,
             abs(v.w * l.den - v.h * l.num) * l.mult AS cost
      FROM valid v CROSS JOIN ladder l
    ),
    best AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY image_id ORDER BY cost, b_idx) AS rn
      FROM cand
    )
    SELECT b_idx, bucket,
           CAST(COUNT(*) AS BIGINT) AS n_images,
           CAST(COUNT(*) FILTER (fmt = 'png') AS BIGINT) AS n_png,
           CAST(SUM(w * h) AS BIGINT) AS sum_pixels
    FROM best WHERE rn = 1
    GROUP BY b_idx, bucket ORDER BY b_idx
    """,
    doc="aspect-ratio bucketing for batched image training (the "
    "SDXL-style layout step: batches must share an aspect bucket, so "
    "every validated image is assigned its NEAREST ratio from a fixed "
    "ladder 1:2 / 3:4 / 1:1 / 4:3 / 2:1). Nearest-ratio is computed "
    "with integer cross-multiplication (|w*den - h*num| * lcm/den — "
    "the h factor cancels in every comparison), so the assignment is "
    "exact in both engines. The Spark side evaluates the 5-entry "
    "ladder as a sort_array-of-structs expression — pure per-row "
    "codegen, ZERO extra shuffle (the oracle uses the equivalent "
    "windowed argmin); the only shuffle is the final 5-group "
    "aggregate. 100 TB shape: map-side scan + one tiny groupBy — the "
    "ladder never leaves the expression, nothing explodes rows",
)
def multimodal_aspect_buckets(spark, sf_dir):
    valid = _mm_valid(spark, sf_dir)
    best = _aspect_best()
    assigned = valid.select(
        "image_id", "w", "h", "fmt",
        best["b_idx"].alias("b_idx"),
        best["bucket"].alias("bucket"),
    )
    return (
        assigned.groupBy("b_idx", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.sum((F.col("fmt") == "png").cast("int"))
            .cast("long")
            .alias("n_png"),
            F.sum(F.col("w").cast("long") * F.col("h"))
            .cast("long")
            .alias("sum_pixels"),
        )
        .orderBy("b_idx")
    )


_WDS_SHARD_CAP = 1 << 20  # 1 MiB of estimated decoded payload per shard
_WDS_BUCKET_W = 64  # image_ids per prefix-sum bucket (two-level scan)


@register(
    "multimodal_wds_shards",
    f"""
    WITH meta AS ({_MM_META_SQL}),
    valid AS ({_MM_VALID_SQL}),
    sized AS (
      SELECT image_id, CAST(w * h * 3 AS BIGINT) AS est_bytes FROM valid
    ),
    offs AS (
      SELECT image_id, est_bytes,
             CAST(COALESCE(SUM(est_bytes) OVER (
               ORDER BY image_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS BIGINT) AS cum_before
      FROM sized
    )
    SELECT CAST(cum_before // {_WDS_SHARD_CAP} AS BIGINT) AS shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(est_bytes) AS BIGINT) AS shard_bytes,
           MIN(image_id) AS first_id,
           MAX(image_id) AS last_id
    FROM offs GROUP BY 1 ORDER BY 1
    """,
    doc="WebDataset-style shard manifest: validated image+caption "
    "records packed in image_id order into shards capped at 1 MiB of "
    "estimated decoded payload (w*h*3), the layout step before "
    "writing tar shards for a training loader. Policy is "
    "shard_id = floor(preceding_bytes / cap) — items never straddle "
    "a shard and each shard overflows by at most one item, the "
    "standard streaming-pack tradeoff. All-integer, so the oracle is "
    "exact. 100 TB shape: reuses corpus_pack_sequences' TWO-LEVEL "
    "prefix sum (per-64-id-bucket partials, window over #buckets "
    "rows, broadcast bases + within-bucket cumsum) — no stage "
    "windows over more than O(corpus/#buckets) rows; the oracle's "
    "single global window is the sequential ground truth",
)
def multimodal_wds_shards(spark, sf_dir):
    from omni_crawler_spark.analytics.registry import exclusive_prefix_sum

    sized = _mm_valid(spark, sf_dir).select(
        "image_id",
        (F.col("w").cast("long") * F.col("h") * 3).alias("est_bytes"),
    )
    offs = exclusive_prefix_sum(
        sized, "image_id", "est_bytes", _WDS_BUCKET_W
    )
    return (
        offs.groupBy(
            (F.col("cum_before") / _WDS_SHARD_CAP)
            .cast("long")
            .alias("shard_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("est_bytes").alias("shard_bytes"),
            F.min("image_id").alias("first_id"),
            F.max("image_id").alias("last_id"),
        )
        .orderBy("shard_id")
    )


# caption derivation shared by both engines: a doc_id-length prefix of
# the document text, with planted boilerplate alt-text on every 11th
# image (the "stock photo" problem: web alt-text repeats across
# thousands of images and must be dropped before caption training)
_MM_CAPTION_SQL = """
    SELECT doc_id AS image_id,
           CASE WHEN doc_id % 11 = 0 THEN 'stock photo'
                ELSE array_to_string(
                  list_slice(string_split(text, ' '), 1, 1 + doc_id % 30),
                  ' ') END AS caption
    FROM documents
"""

_CAPTION_HOT = 5  # a caption shared by >= this many images is boilerplate
_CAPTION_MIN_W, _CAPTION_MAX_W = 3, 24


def _mm_captions(d):
    """The ONE Spark twin of ``_MM_CAPTION_SQL`` (doc-prefix captions
    with planted 'stock photo' boilerplate on every 11th image)."""
    doc_id = F.col("doc_id")
    caption = F.when(doc_id % 11 == 0, F.lit("stock photo")).otherwise(
        F.array_join(
            F.slice(F.split(F.col("text"), " "), 1, (1 + doc_id % 30)),
            " ",
        )
    )
    return d.select(doc_id.alias("image_id"), caption.alias("caption"))


def _caption_verdicts(caps):
    """(image_id, caption, n_words, verdict) per image — the ONE
    caption-gate implementation, shared by multimodal_caption_filter
    and pipeline_image_layout (the same single-source discipline as
    _mm_meta / _aspect_best)."""
    hot = (
        caps.groupBy("caption")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= _CAPTION_HOT)
        .select("caption", F.lit(True).alias("is_hot"))
    )
    n_words = F.size(
        F.filter(F.split(F.col("caption"), " "), lambda x: x != "")
    ).cast("long")
    feat = caps.join(F.broadcast(hot), "caption", "left").select(
        "image_id", "caption",
        n_words.alias("n_words"),
        F.coalesce(F.col("is_hot"), F.lit(False)).alias("is_hot"),
    )
    verdict = (
        F.when(F.col("is_hot"), F.lit("boilerplate"))
        .when(F.col("n_words") < _CAPTION_MIN_W, F.lit("too_short"))
        .when(F.col("n_words") > _CAPTION_MAX_W, F.lit("too_long"))
        .otherwise(F.lit("ok"))
    )
    return feat.select(
        "image_id", "caption", "n_words", verdict.alias("verdict")
    )


@register(
    "multimodal_caption_filter",
    f"""
    WITH caps AS ({_MM_CAPTION_SQL}),
    hot AS (
      SELECT caption FROM caps
      GROUP BY caption HAVING COUNT(*) >= {_CAPTION_HOT}
    ),
    feat AS (
      SELECT image_id, caption,
             CAST(len(list_filter(string_split(caption, ' '),
               x -> x <> '')) AS BIGINT) AS n_words,
             caption IN (SELECT caption FROM hot) AS is_hot
      FROM caps
    )
    SELECT image_id, caption, n_words,
           CASE WHEN is_hot THEN 'boilerplate'
                WHEN n_words < {_CAPTION_MIN_W} THEN 'too_short'
                WHEN n_words > {_CAPTION_MAX_W} THEN 'too_long'
                ELSE 'ok' END AS verdict
    FROM feat ORDER BY image_id
    """,
    doc="caption quality filter for image+caption training (the CLIP-"
    "style gate): drop BOILERPLATE captions (alt-text shared by >= "
    f"{_CAPTION_HOT} images — repeated 'stock photo' strings carry no "
    "learnable signal and over-weight their images), then word-count "
    f"bounds [{_CAPTION_MIN_W}, {_CAPTION_MAX_W}]; precedence "
    "boilerplate > short > long. Verdicts are computed from the "
    "caption STRING (word count re-derived, not trusted from "
    "construction). 100 TB shape: one groupBy(caption) builds the "
    "hot-caption dim — mostly-unique captions mean weak map-side "
    "combine, so at web scale key that shuffle on xxhash64(caption) "
    "(8-byte keys instead of strings) and verdict-join on the hash; "
    "the surviving >=5x dim is orders smaller than the corpus but "
    "not driver-bounded (millions of repeated alt-texts), so past "
    "the broadcast threshold it falls back to a shuffled semi-join "
    "on the same 8-byte key. The length gates are map-side. This "
    "query keeps the literal-caption broadcast form the oracle can "
    "mirror exactly",
)
def multimodal_caption_filter(spark, sf_dir):
    from omni_crawler_spark.analytics.registry import ordered_small

    return ordered_small(
        _caption_verdicts(_mm_captions(_t(spark, sf_dir, "documents"))),
        "image_id",
    )


@register(
    "pipeline_image_layout",
    f"""
    WITH meta AS ({_MM_META_SQL}),
    valid AS ({_MM_VALID_SQL}),
    caps AS ({_MM_CAPTION_SQL}),
    hot AS (
      SELECT caption FROM caps
      GROUP BY caption HAVING COUNT(*) >= {_CAPTION_HOT}
    ),
    capok AS (
      SELECT image_id FROM caps
      WHERE caption NOT IN (SELECT caption FROM hot)
        AND len(list_filter(string_split(caption, ' '), x -> x <> ''))
            BETWEEN {_CAPTION_MIN_W} AND {_CAPTION_MAX_W}
    ),
    gated AS (
      SELECT v.* FROM valid v SEMI JOIN capok c USING (image_id)
    ),
    ladder(b_idx, bucket, num, den, mult) AS (
      VALUES {", ".join(f"({i}, '{n}', {p}, {q}, {m})"
                        for i, n, p, q, m in _ASPECT_LADDER)}
    ),
    best AS (
      SELECT g.image_id, l.b_idx,
             ROW_NUMBER() OVER (
               PARTITION BY g.image_id
               ORDER BY abs(g.w * l.den - g.h * l.num) * l.mult, l.b_idx
             ) AS rn
      FROM gated g CROSS JOIN ladder l
    ),
    sized AS (
      SELECT image_id, CAST(w * h * 3 AS BIGINT) AS est_bytes FROM gated
    ),
    offs AS (
      SELECT image_id, est_bytes,
             CAST(COALESCE(SUM(est_bytes) OVER (
               ORDER BY image_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS BIGINT) AS cum_before
      FROM sized
    )
    SELECT
      (SELECT CAST(COUNT(*) AS BIGINT) FROM meta) AS n_images,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM valid) AS n_meta_valid,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM gated) AS n_caption_ok,
      (SELECT CAST(COUNT(DISTINCT b_idx) AS BIGINT)
         FROM best WHERE rn = 1) AS n_buckets_used,
      (SELECT CAST(COUNT(DISTINCT cum_before // {_WDS_SHARD_CAP})
         AS BIGINT) FROM offs) AS n_shards,
      (SELECT CAST(COALESCE(SUM(est_bytes), 0) AS BIGINT)
         FROM sized) AS total_bytes
    """,
    doc="the END-TO-END image training-layout pipeline, fully oracle-"
    "paired (the flagship composition for the image side, like "
    "pipeline_pretrain_corpus for text): stored-metadata validation "
    "→ caption boilerplate/length gate → nearest-aspect bucket "
    "assignment → byte-budget shard manifest, with each stage's "
    "count in one summary row so the oracle proves every stage "
    "acted. Every stage is the SAME single-source implementation "
    "its standalone query uses (_mm_meta/_mm_valid, "
    "_mm_captions/_caption_verdicts, _aspect_best, "
    "exclusive_prefix_sum) — the composition can't drift from the "
    "parts. gated is localCheckpointed once: four counts hang off "
    "it and would otherwise re-run the caption groupBy-join chain "
    "per count job. 100 TB shape: the stages compose map-side "
    "except one small-dim broadcast join (hot captions), one "
    "broadcast semi-join (caption gate), and the two-level prefix "
    "scan — identical shapes to the standalone queries",
)
def pipeline_image_layout(spark, sf_dir):
    from omni_crawler_spark.analytics.registry import exclusive_prefix_sum

    d = _t(spark, sf_dir, "documents")
    meta = _mm_meta(d)
    valid = _mm_valid(spark, sf_dir)
    capok = (
        _caption_verdicts(_mm_captions(d))
        .filter(F.col("verdict") == "ok")
        .select("image_id")
    )
    gated = (
        valid.join(F.broadcast(capok), "image_id", "left_semi")
        .localCheckpoint()
    )
    best = _aspect_best()
    assigned = gated.select("image_id", best["b_idx"].alias("b_idx"))
    sized = gated.select(
        "image_id",
        (F.col("w").cast("long") * F.col("h") * 3).alias("est_bytes"),
    )
    offs = exclusive_prefix_sum(sized, "image_id", "est_bytes",
                                _WDS_BUCKET_W)
    return (
        meta.agg(F.count(F.lit(1)).alias("n_images"))
        .crossJoin(
            F.broadcast(valid.agg(F.count(F.lit(1)).alias("n_meta_valid")))
        )
        .crossJoin(
            F.broadcast(gated.agg(F.count(F.lit(1)).alias("n_caption_ok")))
        )
        .crossJoin(
            F.broadcast(
                assigned.agg(
                    F.countDistinct("b_idx").cast("long")
                    .alias("n_buckets_used")
                )
            )
        )
        .crossJoin(
            F.broadcast(
                offs.agg(
                    F.countDistinct(
                        (F.col("cum_before") / _WDS_SHARD_CAP).cast("long")
                    ).cast("long").alias("n_shards")
                )
            )
        )
        .crossJoin(
            F.broadcast(
                sized.agg(
                    F.coalesce(F.sum("est_bytes"), F.lit(0))
                    .cast("long").alias("total_bytes")
                )
            )
        )
    )
