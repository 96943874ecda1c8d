"""Cleaning / packing stage of a training-data pipeline (beyond the
reference — the operators that sit between "deduplicated corpus" and
"token stream on the trainer's disk").

Four operators, each oracle-paired against DuckDB:

- corpus-frequency boilerplate-line removal (the FineWeb / CCNet
  line-dedup pass: a line occurring verbatim in many documents is
  chrome — cookie banners, nav bars, "subscribe" footers — not
  content);
- PII redaction (email / IPv4 / phone scrub with placeholder tokens,
  the pre-release hygiene pass every published corpus runs);
- unigram-LM perplexity bucketing (the CCNet head/middle/tail split:
  score each doc against a language model fit on the corpus itself,
  bucket by bits-per-token);
- sequence packing (the GPT-style concat-and-chunk step: lay the
  corpus out as one deterministic token stream, cut it into
  fixed-length training sequences, report which sequences each doc
  spans).

The synthetic corpus is single-line word-soup, so the boilerplate and
PII inputs are PLANTED deterministically inside the query (the same
CASE expression on both engines builds the augmented text) — the same
planted-evidence discipline as dedup_passage's doc_id+100000 copies:
the oracle checks the *operator*, not the corpus.

Cross-engine determinism notes:

- boilerplate/PII outputs are md5 hex digests + integer counts —
  bit-identical by construction;
- perplexity is ROUND(-avg(log2(c/total)), 4): log2 inputs are exact
  integer ratios so both engines see identical doubles; the per-doc
  avg is order-jittered at ~1e-13, five orders below the rounding
  quantum (the registry.py davg discipline);
- packing is all-integer (token counts, prefix sums, floor division).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from omni_crawler_spark.analytics.registry import (
    _t,
    exclusive_prefix_sum,
    ordered_small,
    register,
)
from omni_crawler_spark.session import spread

# ---------------------------------------------------------------------------
# Boilerplate-line removal
# ---------------------------------------------------------------------------

_BANNER_A = "subscribe to our newsletter for daily updates"
_BANNER_B = "copyright two thousand twenty four all rights reserved"
_BP_MIN_DOCS = 30  # a line in >= this many distinct docs is chrome

_BP_AUG_SQL = f"""
    SELECT doc_id,
           text
           || CASE WHEN doc_id % 7 = 0
                   THEN chr(10) || '{_BANNER_A}' ELSE '' END
           || CASE WHEN doc_id % 3 = 0
                   THEN chr(10) || '{_BANNER_B}' ELSE '' END AS text
    FROM documents
"""


@register(
    "clean_boilerplate_lines",
    f"""
    WITH aug AS ({_BP_AUG_SQL}),
    ls AS (
      SELECT doc_id, string_split(text, chr(10)) AS arr FROM aug
    ), lines AS (
      SELECT doc_id, unnest(generate_series(1, len(arr))) AS pos,
             unnest(arr) AS line
      FROM ls
    ), freq AS (
      SELECT line FROM lines GROUP BY line
      HAVING COUNT(DISTINCT doc_id) >= {_BP_MIN_DOCS}
    ), marked AS (
      SELECT l.doc_id, l.pos, l.line,
             (f.line IS NOT NULL) AS is_bp
      FROM lines l LEFT JOIN freq f ON l.line = f.line
    )
    SELECT doc_id,
           COUNT(*) AS n_lines,
           CAST(COUNT(*) FILTER (WHERE is_bp) AS BIGINT) AS n_removed,
           CAST(COALESCE(SUM(len(line)) FILTER (WHERE NOT is_bp), 0)
                AS BIGINT) AS cleaned_chars,
           md5(COALESCE(string_agg(line, chr(10) ORDER BY pos)
                          FILTER (WHERE NOT is_bp), '')) AS cleaned_md5
    FROM marked GROUP BY doc_id ORDER BY doc_id
    """,
    doc="corpus-frequency boilerplate-line removal (the FineWeb / "
    "CCNet line-dedup pass): split docs into lines, count DISTINCT "
    f"docs per exact line, drop lines appearing in >= {_BP_MIN_DOCS} "
    "docs, reassemble in original order. Two banner lines are "
    "planted deterministically (doc_id%7 / doc_id%3) since the "
    "synthetic corpus is single-line; every original line is "
    "organically unique so exactly the banners are removed — the "
    "oracle value-checks per-doc line counts, removed counts, "
    "cleaned char totals and the md5 of the reassembled text. "
    "100 TB shape: one shuffle to count lines (partial-aggregated "
    "groupBy; key on xxhash64(line) at real scale to shuffle 8 bytes "
    "per line instead of the text), one join back to mark, one "
    "groupBy doc to reassemble — no per-row Python anywhere. The "
    "frequency table is corpus_lines/K at worst, so the mark join "
    "stays a shuffled hash join (AQE broadcasts it when small, as "
    "at sandbox scale)",
)
def clean_boilerplate_lines(spark, sf_dir):
    # spread: the line explode feeds two consumers (frequency count +
    # mark join)
    d = _t(spark, sf_dir, "documents").transform(spread, "doc_id")
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 7 == 0,
                   F.lit("\n" + _BANNER_A)).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 3 == 0,
                   F.lit("\n" + _BANNER_B)).otherwise(F.lit("")),
        ).alias("text"),
    )
    lines = aug.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), "\n")).alias("pos", "line"),
    )
    freq = (
        lines.groupBy("line")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= _BP_MIN_DOCS)
        .select("line", F.lit(True).alias("is_bp"))
    )
    marked = lines.join(freq, "line", "left").withColumn(
        "is_bp", F.coalesce(F.col("is_bp"), F.lit(False))
    )
    kept_struct = F.when(
        ~F.col("is_bp"), F.struct(F.col("pos"), F.col("line"))
    )  # NULL (skipped by collect_list) for boilerplate lines
    return ordered_small(
        marked.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("is_bp").cast("long")).alias("n_removed"),
            F.coalesce(
                F.sum(F.when(~F.col("is_bp"), F.length("line"))),
                F.lit(0),
            ).alias("cleaned_chars"),
            F.md5(
                F.concat_ws(
                    "\n",
                    F.transform(
                        F.array_sort(F.collect_list(kept_struct)),
                        lambda s: s["line"],
                    ),
                )
            ).alias("cleaned_md5"),
        ),
        "doc_id",
    )


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

# Conservative patterns that parse identically under Java regex
# (Spark) and RE2 (DuckDB): character classes, bounded repetition,
# no backrefs, no lookaround, no \b.
_RE_EMAIL = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
_RE_IPV4 = "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}"
_RE_PHONE = "\\+\\d{1,3}-\\d{3}-\\d{4}"

_PII_AUG_SQL = """
    SELECT doc_id,
           text
           || CASE WHEN doc_id % 2 = 0
                   THEN ' contact doc' || CAST(doc_id AS VARCHAR)
                        || '@example.com' ELSE '' END
           || CASE WHEN doc_id % 3 = 0
                   THEN ' server 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                        || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)
                   ELSE '' END
           || CASE WHEN doc_id % 5 = 0
                   THEN ' call +1-555-'
                        || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                   ELSE '' END AS text
    FROM documents
"""


@register(
    "clean_pii_redact",
    f"""
    WITH aug AS ({_PII_AUG_SQL})
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_RE_EMAIL}'))
                AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(text, '{_RE_IPV4}'))
                AS BIGINT) AS n_ips,
           CAST(len(regexp_extract_all(text, '{_RE_PHONE}'))
                AS BIGINT) AS n_phones,
           CAST(len(
             regexp_replace(regexp_replace(regexp_replace(text,
               '{_RE_EMAIL}', '<EMAIL>', 'g'),
               '{_RE_IPV4}', '<IP>', 'g'),
               '{_RE_PHONE}', '<PHONE>', 'g')) AS BIGINT)
             AS redacted_chars,
           md5(
             regexp_replace(regexp_replace(regexp_replace(text,
               '{_RE_EMAIL}', '<EMAIL>', 'g'),
               '{_RE_IPV4}', '<IP>', 'g'),
               '{_RE_PHONE}', '<PHONE>', 'g')) AS redacted_md5
    FROM aug ORDER BY doc_id
    """,
    doc="PII redaction — the pre-release hygiene pass every "
    "published corpus runs: emails, IPv4 addresses and phone numbers "
    "replaced by <EMAIL>/<IP>/<PHONE> placeholder tokens, with "
    "per-doc match counts. PII is planted deterministically "
    "(doc_id%2 email, %3 ip, %5 phone — both engines build the SAME "
    "augmented text) and the oracle value-checks the counts plus the "
    "md5 and length of the redacted text, so the two regex engines "
    "must agree byte-for-byte. Patterns are restricted to the "
    "Java-regex ∩ RE2 common dialect (classes, bounded repetition — "
    "no backrefs/lookaround/\\b). 100 TB shape: pure map-side "
    "JVM regexp_replace over the scan, zero shuffle before the "
    "ordered output — codegen'd end to end, no Python",
)
def clean_pii_redact(spark, sf_dir):
    # spread: the triple regexp_replace + three regexp_count passes
    # are the CPU cost
    d = _t(spark, sf_dir, "documents").transform(spread, "doc_id")
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(F.lit(" contact doc"),
                         F.col("doc_id").cast("string"),
                         F.lit("@example.com")),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(F.lit(" server 10.0."),
                         (F.col("doc_id") % 256).cast("string"),
                         F.lit("."),
                         ((F.col("doc_id") * 7) % 256).cast("string")),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(F.lit(" call +1-555-"),
                         F.lpad((F.col("doc_id") % 10000).cast("string"),
                                4, "0")),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), _RE_EMAIL, "<EMAIL>"),
            _RE_IPV4, "<IP>",
        ),
        _RE_PHONE, "<PHONE>",
    )
    return (
        aug.select(
            "doc_id",
            F.regexp_count(F.col("text"), F.lit(_RE_EMAIL))
                .cast("long").alias("n_emails"),
            F.regexp_count(F.col("text"), F.lit(_RE_IPV4))
                .cast("long").alias("n_ips"),
            F.regexp_count(F.col("text"), F.lit(_RE_PHONE))
                .cast("long").alias("n_phones"),
            F.length(redacted).cast("long").alias("redacted_chars"),
            F.md5(redacted).alias("redacted_md5"),
        )
        .transform(lambda df: ordered_small(df, "doc_id"))
    )


# ---------------------------------------------------------------------------
# Unigram-LM perplexity buckets
# ---------------------------------------------------------------------------

# Fixed thresholds on the ROUNDED bits-per-token (the Gopher-verdict
# discipline: both engines compare the identical rounded double to
# the identical literal, so boundary docs cannot flake). Chosen to
# split this corpus roughly in thirds; CCNet derives them from
# corpus quantiles — a one-off approx_percentile pass at real scale.
_PPL_HEAD = 4.905
_PPL_TAIL = 4.911


@register(
    "corpus_perplexity_buckets",
    f"""
    WITH w AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word
      FROM documents
    ), v AS (
      SELECT word, COUNT(*) AS c FROM w GROUP BY word
    ), t AS (
      SELECT SUM(c) AS tot FROM v
    ), scored AS (
      SELECT doc_id, COUNT(*) AS n_tokens,
             ROUND(-AVG(log2(CAST(c AS DOUBLE) / tot)), 4)
               AS bits_per_token
      FROM w JOIN v USING (word), t GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, bits_per_token,
           CASE WHEN bits_per_token <= {_PPL_HEAD} THEN 'head'
                WHEN bits_per_token >= {_PPL_TAIL} THEN 'tail'
                ELSE 'middle' END AS bucket
    FROM scored ORDER BY doc_id
    """,
    doc="unigram-LM perplexity bucketing (the CCNet head/middle/tail "
    "split): fit a maximum-likelihood unigram model on the corpus "
    "(word counts / total), score each doc as bits-per-token "
    "(-avg log2 p), bucket by fixed thresholds on the rounded "
    "score. The oracle value-checks every doc's token count, rounded "
    "bits-per-token AND bucket label. Determinism: log2 inputs are "
    "exact integer ratios (identical doubles both engines); the "
    "per-doc avg's summation-order jitter is ~1e-13, five orders "
    "below the 1e-4 rounding quantum; bucket CASE compares the "
    "ROUNDED value so boundaries cannot flake. 100 TB shape: one "
    "partial-aggregated groupBy(word) for the model (vocab "
    "~10^6-10^7 rows → broadcast to the scoring join, zero shuffle "
    "on the token stream), one groupBy(doc) for the score — the "
    "exact shape CCNet's KenLM pass has, with the model swap being "
    "an Arrow UDF instead of a broadcast join",
)
def corpus_perplexity_buckets(spark, sf_dir):
    # spread: the token explode feeds both the vocabulary count and
    # the scoring join
    d = _t(spark, sf_dir, "documents").transform(spread, "doc_id")
    w = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("word")
    )
    v = w.groupBy("word").agg(F.count(F.lit(1)).alias("c"))
    tot = v.agg(F.sum("c").alias("tot"))
    model = v.crossJoin(F.broadcast(tot)).select(
        "word",
        F.log2(F.col("c").cast("double") / F.col("tot")).alias("l2p"),
    )
    scored = (
        w.join(F.broadcast(model), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(-F.avg("l2p"), 4).alias("bits_per_token"),
        )
    )
    bucket = (
        F.when(F.col("bits_per_token") <= _PPL_HEAD, F.lit("head"))
        .when(F.col("bits_per_token") >= _PPL_TAIL, F.lit("tail"))
        .otherwise(F.lit("middle"))
    )
    return ordered_small(scored.withColumn("bucket", bucket), "doc_id")


# ---------------------------------------------------------------------------
# Sequence packing
# ---------------------------------------------------------------------------

_SEQ_LEN = 512  # tokens per training sequence
_PACK_BUCKET_W = 64  # doc_ids per prefix-sum bucket


@register(
    "corpus_pack_sequences",
    f"""
    WITH toks AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ), offs AS (
      SELECT doc_id, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS BIGINT) AS start_off
      FROM toks
    )
    SELECT doc_id, n_tokens, start_off,
           start_off // {_SEQ_LEN} AS first_seq,
           (start_off + n_tokens - 1) // {_SEQ_LEN} AS last_seq,
           (start_off + n_tokens - 1) // {_SEQ_LEN}
             - start_off // {_SEQ_LEN} + 1 AS n_seqs
    FROM offs ORDER BY doc_id
    """,
    doc="sequence packing (the GPT-style concat-and-chunk step): lay "
    "the corpus out as one deterministic token stream in doc_id "
    f"order, cut into {_SEQ_LEN}-token training sequences, report "
    "each doc's stream offset and the [first_seq, last_seq] span it "
    "occupies — the manifest a trainer's dataloader shards on. "
    "All-integer (token counts, exclusive prefix sum, floor "
    "division), so the oracle is exact. 100 TB shape: a global "
    "window cumsum would serialize on one partition, so the prefix "
    "sum is TWO-LEVEL — per-range-bucket partial sums (one tiny "
    "aggregate), exclusive bucket bases via a window over the "
    "#buckets-row table, broadcast back, then a within-bucket "
    "window cumsum that parallelizes across buckets. The classic "
    "distributed scan: no stage touches more than "
    "O(corpus/#buckets) rows per task",
)
def corpus_pack_sequences(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
    )
    offs = exclusive_prefix_sum(
        toks, "doc_id", "n_tokens", _PACK_BUCKET_W, out_col="start_off"
    )
    first_seq = (F.col("start_off") / _SEQ_LEN).cast("long")
    last_seq = (
        (F.col("start_off") + F.col("n_tokens") - 1) / _SEQ_LEN
    ).cast("long")
    return ordered_small(
        offs.select(
            "doc_id", "n_tokens", "start_off",
            first_seq.alias("first_seq"),
            last_seq.alias("last_seq"),
            (last_seq - first_seq + 1).alias("n_seqs"),
        ),
        "doc_id",
    )
