"""Deduplication operators.

The reference only does exact content-hash dedup
(src/models/enhanced_article.py:84-87 sha256(title+content+url);
`duplicate_of` reserved but unused). For a web-scale corpus we add the
standard near-dup family. Scale notes per operator:

- exact: hash-groupBy → one shuffle on a 64-hex key; at 10^10 rows
  pre-bucket by hash prefix so AQE coalesces balanced partitions.
- blocking: every near-dup generator (MinHash+LSH, passage chunks,
  SimHash/pHash hamming, embedding LSH, the incremental index's
  intra-batch pass) turns bucket-keyed rows into candidate pairs
  through ONE primitive, ``bucket_pairs``: ONE shuffle on the bucket
  key, a windowed count that drops oversized buckets, then a groupBy
  per bucket with executor-side pair expansion; candidate output is
  bounded by collision count, not n².
- MinHash+LSH: vectorized numpy signatures (one matrix op per doc
  inside an Arrow batch), band keys columnar, then ``bucket_pairs``.
- SimHash: vectorized pandas UDF (64 bit-planes don't express well
  as columns); near-dup = banded/probed hamming blocking.
- n-gram Jaccard: exact verify step for LSH candidates (or blocked
  pairs), computed by an Arrow-batched set kernel — Spark interprets
  HOF lambdas, so array_intersect/array_union stay off the hot path.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, DoubleType, LongType

from omni_crawler_spark.session import spread


# ---------------------------------------------------------------------------
# Exact dedup (D2)
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Keep the min-id row per exact content hash — deterministic
    (dropDuplicates picks an arbitrary row; min-id is reproducible)."""
    h = F.sha2(F.col(content_col).cast("binary"), 256).alias("content_hash")
    keep = (
        df.select(h, F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias(id_col))
    )
    return df.join(keep, id_col, "left_semi")


# ---------------------------------------------------------------------------
# Blocking: bucket-keyed rows → candidate id pairs (one shared primitive)
# ---------------------------------------------------------------------------


def drop_oversized(
    df: DataFrame, key_cols: list[str], max_bucket_size: int | None
) -> DataFrame:
    """``df`` minus the rows of every ``key_cols`` bucket holding more
    than ``max_bucket_size`` rows (``None`` keeps all). One pass: a
    ``count`` window over the bucket key, then a filter, so ``df`` is
    read once. The window's hash partitioning on ``key_cols`` is the
    one a following ``groupBy(key_cols)`` needs, and its buffer spills
    to disk, so no aggregation ever holds a degenerate bucket's full
    member array. Such buckets hold boilerplate that exact-hash dedup
    owns; their pairs are sacrificed by design. A NULL key is a bucket
    like any other."""
    if max_bucket_size is None:
        return df
    n = F.count(F.lit(1)).over(Window.partitionBy(*key_cols))
    return (
        df.withColumn("_bucket_n", n)
        .filter(F.col("_bucket_n") <= max_bucket_size)
        .drop("_bucket_n")
    )


def bucket_pairs(
    df: DataFrame,
    id_col: str,
    key_cols: list[str],
    max_bucket_size: int | None,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """``(id_a, id_b, <c>_a..., <c>_b...)`` for rows sharing a
    ``key_cols`` bucket — the blocking step of every near-dup
    generator (a partitioned bucket set-join, HERO SIGMOD'24).

    ONE shuffle on the key feeds both the ``drop_oversized`` cap and
    the groupBy (sorted ``(id, *carry)`` members) → executor-side
    posexplode+slice expansion; output is bounded by collisions, and a
    self-join would shuffle the keyed rows twice. Rows equal those of
    the ``a.id < b.id`` self-join: strictly ``id_a < id_b`` (a
    repeated id never pairs with itself) with multiset multiplicity
    kept; callers ``distinct()`` for a set. ``carry`` columns ride along for the
    verify step. Unlike an equi-join, a NULL key forms a bucket (capped
    like any other): every current key is a non-null hash, or a
    hamming band whose NULL distance the verify filter drops."""
    members = F.array_sort(
        F.collect_list(F.struct(F.col(id_col).alias("id"), *carry))
    )
    buckets = (
        drop_oversized(df, key_cols, max_bucket_size)
        .groupBy(*key_cols)
        .agg(members.alias("_m"))
        .filter(F.size("_m") >= 2)
    )
    return (
        buckets.select(F.posexplode("_m").alias("_i", "_a"), "_m")
        .select(
            "_a",
            F.explode(F.slice("_m", F.col("_i") + 2, F.size("_m"))).alias("_b"),
        )
        .filter(F.col("_a.id") < F.col("_b.id"))
        .select(
            F.col("_a.id").alias("id_a"),
            F.col("_b.id").alias("id_b"),
            *[F.col(f"_a.{c}").alias(f"{c}_a") for c in carry],
            *[F.col(f"_b.{c}").alias(f"{c}_b") for c in carry],
        )
    )


# ---------------------------------------------------------------------------
# Shingles + MinHash + LSH (columnar — no Python in the hot path)
# ---------------------------------------------------------------------------


def char_shingles(text: Column, k: int = 5) -> Column:
    """Distinct character k-grams, lowercased. Pure higher-order
    column functions → whole-stage codegen."""
    t = F.lower(text)
    n = F.length(t)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.lit(1), n - (k - 1))),
            lambda i: t.substr(i, F.lit(k)),
        )
    )


def minhash_signature_udf(num_perm: int = 64, shingle_k: int = 5, seed: int = 42):
    """Vectorized MinHash: byte-level k-gram codes via numpy strides,
    universal hashing ``h_i(x) = a_i·x + b_i (mod 2^64)`` per
    permutation, min over shingles — one matrix op per document.
    Arrow-batched; no interpreted per-element lambdas."""
    import numpy as np

    rng = np.random.default_rng(seed)
    A = (rng.integers(1, 2**63, num_perm, dtype=np.uint64) << np.uint64(1)) | np.uint64(1)
    B = rng.integers(0, 2**63, num_perm, dtype=np.uint64)

    @pandas_udf(ArrayType(LongType()))
    def sig(texts: pd.Series) -> pd.Series:
        import numpy as np

        out = []
        empty = (B.copy()).astype(np.int64).tolist()
        with np.errstate(over="ignore"):
            for t in texts:
                b = (t or "").lower().encode("utf-8")[:20000]
                if len(b) < shingle_k:
                    b = b + b"\x00" * (shingle_k - len(b))
                arr = np.frombuffer(b, dtype=np.uint8).astype(np.uint64)
                n = len(arr) - shingle_k + 1
                codes = np.zeros(n, dtype=np.uint64)
                for i in range(shingle_k):
                    codes = (codes << np.uint64(8)) | arr[i : n + i]
                codes = np.unique(codes)
                h = A[None, :] * codes[:, None] + B[None, :]
                out.append(h.min(axis=0).astype(np.int64).tolist())
        return pd.Series(out)

    return sig


def lsh_band_keys(signature: Column, bands: int, rows_per_band: int) -> Column:
    """One 2-tuple struct (band_id, band_hash) per band. Docs sharing
    any band bucket are candidate pairs."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.alias("band"),
            F.hash(F.slice(signature, b * rows_per_band + 1, rows_per_band)).alias(
                "band_hash"
            ),
        ),
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 5,
    num_perm: int = 64,
    bands: int = 16,
    max_bucket_size: int = 100,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) via MinHash banding.

    Plan shape: scan → vectorized signature → explode(bands) →
    ``bucket_pairs`` over (band, band_hash). Pair expansion happens
    after the ``max_bucket_size`` gate, so a bucket bigger than the
    cap is dropped before any quadratic work. Without the cap, a
    corpus where everything resembles everything degenerates to n²
    pairs.
    """
    rows_per_band = num_perm // bands
    sig_udf = minhash_signature_udf(num_perm, shingle_k)
    # spread: the signature pass (one numpy matmul per doc) is the
    # CPU cost
    sig = (
        df.select(F.col(id_col), F.col(text_col))
        .transform(spread, F.col(id_col))
        .select(F.col(id_col), sig_udf(F.col(text_col)).alias("sig"))
    )
    banded = sig.select(
        id_col,
        F.explode(
            lsh_band_keys(F.col("sig"), bands, rows_per_band)
        ).alias("bk"),
    ).select(id_col, "bk.band", "bk.band_hash")
    return (
        bucket_pairs(banded, id_col, ["band", "band_hash"], max_bucket_size)
        .distinct()
        # eager: the (collision-bounded) pair set is materialized here,
        # so the plans downstream start from it, not the signature pass
        .localCheckpoint()
    )


def jaccard_pair_udf(shingle_k: int = 5):
    """Exact shingle Jaccard over a (text_a, text_b) pair column —
    the vectorized verify kernel. Python frozen-set intersection per
    pair inside an Arrow batch (~0.1 ms/pair) replaces the interpreted
    ``array_intersect``/``array_union`` HOF plan (~3 ms/pair — Spark
    never codegens HOF lambdas). A per-batch memo avoids re-shingling
    a document that appears in many candidate pairs.

    Returns the RAW double ``|A∩B| / |A∪B|`` — callers apply
    ``F.round`` JVM-side so rounding semantics stay identical to the
    oracle-verified column version.

    Shingle semantics match ``char_shingles`` (and the DuckDB oracle):
    distinct k-grams of ``lower(text)``, indices 1..max(1, n-k+1).
    NULL inputs yield NULL (a pair with a missing side is dropped by
    the downstream ``>= threshold`` filter) — matching the replaced
    ``array_intersect``/``array_union`` column plan, where a NULL text
    propagated to a NULL jaccard. Without this, two NULL-content docs
    would share the degenerate empty-string shingle set and score 1.0.

    Marked non-deterministic (guide §4.4): the optimizer otherwise
    pushes a caller's ``jaccard >= t`` filter below the projection and
    evaluates the kernel TWICE (two ArrowEvalPython nodes — once for
    the filter over every pair, once for the surviving projection);
    the function is pure, the marking only stops the duplication.
    Use its result only in a Project (``select``/``withColumn``) or a
    Filter: Spark's analyzer rejects a non-deterministic expression in
    a join condition, an aggregate or a window spec, so project the
    score into a column first and join, group or rank on that column.
    ``|A∪B|`` is computed arithmetically (|A|+|B|−|A∩B|) instead of
    materializing the union set — same value, one C-level set op per
    pair instead of two.
    """

    @pandas_udf(DoubleType())
    def jac(ta: pd.Series, tb: pd.Series) -> pd.Series:
        memo: dict[str, frozenset] = {}

        def shingles(t: str) -> frozenset:
            s = memo.get(t)
            if s is None:
                tl = t.lower()
                s = frozenset(
                    tl[i : i + shingle_k]
                    for i in range(max(1, len(tl) - shingle_k + 1))
                )
                memo[t] = s
            return s

        out = []
        for a, b in zip(ta, tb):
            if a is None or b is None:
                out.append(None)
                continue
            sa, sb = shingles(a), shingles(b)
            inter = len(sa & sb)
            out.append(inter / (len(sa) + len(sb) - inter))
        return pd.Series(out, dtype="float64")

    return jac.asNondeterministic()


def jaccard_verify(
    df: DataFrame,
    candidates: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 5,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact shingle-Jaccard on candidate pairs → confirmed near-dups.
    Joins are semi-bounded by the candidate count, never n². The
    Jaccard itself runs in the vectorized pandas kernel above.

    The hash repartition between the text-attach joins and the kernel
    exists because AQE coalesces the post-join stage by shuffle BYTES
    — a few MB of text for 10^5+ pairs lands on 1-2 tasks, and the
    CPU-bound Arrow kernel then runs near-serially (measured 2/32
    cores busy at sf1.0). Partitioning + sorting by ``id_a`` clusters
    each left doc's pairs into one Arrow-batch run so the kernel's
    per-batch shingle memo hits on the left text; pair rows are
    small, so the extra exchange is noise next to the kernel."""
    txt = df.select(F.col(id_col), F.col(text_col).alias("_txt"))
    j = (
        candidates.join(
            txt.withColumnsRenamed({id_col: "id_a", "_txt": "txt_a"}), "id_a"
        )
        .join(txt.withColumnsRenamed({id_col: "id_b", "_txt": "txt_b"}), "id_b")
        .transform(spread, "id_a")
        .sortWithinPartitions("id_a")
        .withColumn(
            "jaccard",
            F.round(jaccard_pair_udf(shingle_k)("txt_a", "txt_b"), 4),
        )
        .select("id_a", "id_b", "jaccard")
    )
    return j.filter(F.col("jaccard") >= threshold)


def minhash_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    **kw,
) -> DataFrame:
    """Full near-dup dedup: LSH candidates → Jaccard verify →
    connected 'keep lowest id per duplicate pair' pass. (True
    connected components would need iteration; keeping min-id per
    confirmed pair matches the reference's keep-first semantics.)"""
    cand = minhash_lsh_candidates(df, id_col, text_col, **kw)
    dups = jaccard_verify(df, cand, id_col, text_col, threshold=threshold)
    drop_ids = dups.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(drop_ids, id_col, "left_anti")


def passage_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    passage_w: int = 20,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """(id_a, id_b, n_shared_passages) for docs sharing at least one
    exact ``passage_w``-word chunk — CCNet-style passage dedup, the
    distributed approximation of Lee et al. suffix-array substring
    dedup.

    Scale shape: the chunker is pure codegen (split/sequence/slice/
    explode, zero Python); ``bucket_pairs`` keys on
    ``xxhash64(passage)`` — 8 bytes shuffled per chunk instead of the
    ~`passage_w`-word string — and its cap removes hot passages: a
    boilerplate passage repeated across 10^5 docs would otherwise
    expand to 10^10 pair rows. Dropped (oversized) passages sacrifice
    their pairs by design — universal boilerplate is not dedup signal.
    Hash collisions can in principle merge two
    distinct passages into one key (~2^-64 per pair); the downstream
    consumer is a near-dup verify/CC stage, which tolerates that.
    """
    # spread so the chunk-hash explode parallelizes
    w = docs.transform(spread, F.col(id_col)).select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("words")
    )
    p = (
        w.filter(F.size("words") >= passage_w)
        .select(
            id_col,
            F.explode(
                F.transform(
                    F.sequence(
                        F.lit(0),
                        (F.size("words") / passage_w).cast("long") - 1,
                    ),
                    # hash INSIDE the lambda: the exploded rows carry
                    # only the 8-byte key, never the passage string
                    lambda i: F.xxhash64(
                        F.concat_ws(
                            " ", F.slice("words", i * passage_w + 1, passage_w)
                        )
                    ),
                )
            ).alias("ph"),
        )
    )
    # bucket_pairs keeps the self-join's multiplicity, so the DuckDB
    # join-based oracle stays value-identical
    pairs = bucket_pairs(p, id_col, ["ph"], max_bucket_size)
    return pairs.groupBy("id_a", "id_b").agg(
        F.count(F.lit(1)).alias("n_shared_passages")
    )


# ---------------------------------------------------------------------------
# SimHash (vectorized pandas UDF — 64 bit-planes don't express as columns)
# ---------------------------------------------------------------------------


@pandas_udf(LongType())
def simhash64(texts: pd.Series) -> pd.Series:
    """64-bit SimHash over word tokens (Charikar). Arrow-batched;
    numpy does the bit-plane accumulation per batch."""
    import numpy as np

    out = np.zeros(len(texts), dtype=np.int64)
    for i, t in enumerate(texts):
        if not t:
            continue
        words = [w for w in "".join(
            c if c.isalnum() else " " for c in t.lower()
        ).split() if w]
        if not words:
            continue
        hashes = np.array(
            [hash_word(w) for w in words], dtype=np.uint64
        )
        bits = ((hashes[:, None] >> np.arange(64, dtype=np.uint64)) & 1).astype(
            np.int64
        )
        acc = (2 * bits - 1).sum(axis=0)
        sig = np.uint64(0)
        for b in np.nonzero(acc > 0)[0]:
            sig |= np.uint64(1) << np.uint64(b)
        out[i] = np.int64(sig)
    return pd.Series(out)


def hash_word(w: str) -> int:
    """Deterministic 64-bit word hash (FNV-1a) — stable across
    processes, unlike Python's salted hash()."""
    h = 0xCBF29CE484222325
    for ch in w.encode("utf-8"):
        h ^= ch
        h = (h * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    return h


def hamming64_cols(sig_a, sig_b):
    """THE hamming kernel: popcount of the XOR of two 64-bit
    signatures — pure codegen'd column expression shared by
    ``hamming_near_dups`` (SimHash/pHash blocking verify) and the
    oracle-paired ``dedup_hamming_verify`` registry query (DuckDB
    twin: ``bit_count(xor(a, b))``)."""
    return F.bit_count(sig_a.bitwiseXOR(sig_b))


def hamming_near_dups(
    sig: DataFrame,
    id_col: str,
    max_hamming: int = 3,
    n_bands: int | None = None,
    max_bucket_size: int | None = 1000,
    sig_bits: int = 64,
    probe_parts: int | None = None,
) -> DataFrame:
    """All pairs with hamming(sig_a, sig_b) <= max_hamming over a
    64-bit ``sig`` column — the shared blocking core of SimHash text
    dedup and pHash image dedup.

    Blocking: split the signature into ``n_bands`` contiguous bands —
    a pair within hamming distance d can differ in at most d bands,
    so with ``n_bands >= d+1`` (pigeonhole) it must agree on at least
    one band, and ``bucket_pairs`` on (band_id, band_value) finds
    every such pair without an n² comparison, carrying the signature
    for the popcount verify. ``n_bands`` defaults to ``max_hamming +
    1`` (the minimum that guarantees full recall); callers may raise
    it to shrink per-band widths further.

    ``max_bucket_size`` drops degenerate buckets (e.g. the all-zeros
    SimHash of empty/near-empty text, constant boilerplate bands)
    BEFORE pair expansion — one hot (band, val) bucket otherwise
    expands to n² pair rows. NOTE: the cap SACRIFICES the pigeonhole
    recall guarantee for pairs whose only agreeing band is a dropped
    bucket — a pair may agree on other (non-dropped) bands and still
    be found, but that is not guaranteed. Pass ``max_bucket_size=None`` for the
    unconditional-recall (and unbounded-blowup) behavior; production
    web dedup keeps the cap and routes boilerplate to exact-hash
    dedup instead.

    ``sig_bits`` narrows the banded span when the signature column
    only populates the LOW bits (e.g. a 60-bit md5-derived value):
    banding dead high bits degenerates the top band to a handful of
    distinct values whose buckets blow past the cap as the corpus
    grows — recall silently dies exactly when the data gets big.
    Bands over ``sig_bits`` keep every band's value space full-width.

    ``probe_parts`` switches to MULTI-INDEX probing (Norouzi et al.,
    "Fast Search in Hamming Space with Multi-Index Hashing", CVPR'12):
    split the signature into ``probe_parts`` WIDE parts and emit every
    value within hamming radius q of each part value, where
    ``r = max_hamming // probe_parts`` (pigeonhole: a pair within
    ``max_hamming`` has some part within r) and ``q = ceil(r/2)``
    (symmetric balls of radius q intersect whenever the part distance
    is <= 2q >= r — pick the midpoint value); banding is the q = 0
    case of the same plan. Same full-recall guarantee as the banded
    path whenever no probe bucket exceeds the cap, but the candidate
    count collapses: the d+1-band minimum forces ~sig_bits/(d+1)-bit
    bands whose buckets grow linearly with the corpus (n=50k random 60-bit sigs at d=8 → 9 bands of ~7 bits
    → ~117M candidate rows), while 3 parts of 20 bits with radius-1
    probes cost 21 probe rows/part/doc and collide at
    ~|ball(2)|/2^20 ≈ 2e-4 per random pair (~1.6M rows, 73x less).
    Only q <= 1 is implemented (covers max_hamming <= 2*probe_parts
    + probe_parts - 1); a larger max_hamming/parts ratio raises
    ValueError rather than silently losing recall.
    """
    if n_bands is None:
        n_bands = max_hamming + 1
    name, n_parts = (
        ("n_bands", n_bands) if probe_parts is None
        else ("probe_parts", probe_parts)
    )
    if not 1 <= n_parts <= sig_bits <= 64:
        raise ValueError(
            f"need 1 <= {name} <= sig_bits <= 64, got "
            f"{name}={n_parts}, sig_bits={sig_bits}"
        )
    if probe_parts is None and n_parts < max_hamming + 1:
        raise ValueError(
            f"n_bands={n_parts} cannot guarantee recall at "
            f"max_hamming={max_hamming}: pigeonhole needs >= "
            f"{max_hamming + 1} bands"
        )
    r = max_hamming // n_parts  # 0 for bands: pigeonhole holds
    q = (r + 1) // 2
    if q > 1:
        raise ValueError(
            f"probe radius {q} > 1 not implemented: raise probe_parts "
            f"(need max_hamming // probe_parts <= 2, got "
            f"{max_hamming} // {n_parts} = {r})"
        )
    # contiguous parts over all sig_bits bits; a band is a part probed
    # at radius 0 (XOR masks [0]). One struct per PART carrying its
    # masks, not one per PROBE: repeating the shift/mask extraction per
    # probe made the generated code an order of magnitude larger.
    bounds = [(b * sig_bits) // n_parts for b in range(n_parts + 1)]
    part_structs = []
    for b in range(n_parts):
        lo, width = bounds[b], bounds[b + 1] - bounds[b]
        mask = (1 << width) - 1
        xor_masks = [0] + ([1 << i for i in range(width)] if q == 1 else [])
        part_structs.append(
            F.struct(
                F.lit(b).alias("band"),
                F.shiftrightunsigned(F.col("sig"), lo)
                .bitwiseAND(F.lit(mask))
                .alias("base"),
                F.array(*[F.lit(m) for m in xor_masks]).alias("masks"),
            )
        )
    # spread: the explode fans each row out up to n_parts*(width+1)x
    probes = (
        sig.transform(spread, F.col(id_col))
        .select(
            id_col,
            "sig",
            F.explode(F.array(*part_structs)).alias("pk"),
        )
        .select(
            id_col,
            "sig",
            F.col("pk.band").alias("band"),
            F.col("pk.base").alias("base"),
            F.explode("pk.masks").alias("m"),
        )
        .select(
            id_col,
            "sig",
            "band",
            F.col("base").bitwiseXOR(F.col("m")).alias("val"),
        )
    )
    # filter before distinct: the codegen'd popcount is ~free per pair
    # while distinct shuffles, and most candidates fail the threshold
    return (
        bucket_pairs(
            probes, id_col, ["band", "val"], max_bucket_size, carry=("sig",)
        )
        .select(
            "id_a",
            "id_b",
            hamming64_cols(F.col("sig_a"), F.col("sig_b")).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
        # eager: the verified pair set is materialized here, so the
        # plans downstream start from it, not the probe explode
        .localCheckpoint()
    )


def simhash_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    n_bands: int | None = None,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Near-dup text pairs by SimHash hamming distance (banded
    blocking via hamming_near_dups)."""
    sig = df.select(F.col(id_col), simhash64(F.col(text_col)).alias("sig"))
    return hamming_near_dups(
        sig, id_col, max_hamming, n_bands=n_bands,
        max_bucket_size=max_bucket_size,
    )


# ---------------------------------------------------------------------------
# Duplicate clusters: distributed connected components
# ---------------------------------------------------------------------------


def duplicate_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 20,
) -> DataFrame:
    """(node, cluster_id) for every node in the pair graph, where
    cluster_id = MIN node id of its connected component — turns
    pairwise near-dup edges into whole duplicate groups (the
    keep-one-per-cluster superset of minhash_dedup's per-edge rule).

    Algorithm: deterministic min-label propagation — each round every
    node takes the min label among itself and its neighbors; converges
    in O(diameter) rounds (near-dup components are small cliques, so
    2-3 rounds in practice; ``max_iters`` bounds adversarial chains).
    Each round is two shuffles (edge join + min aggregation) and the
    label set is localCheckpoint'ed to truncate the iterative lineage.
    At 10^10 edges you would switch to the large-star/small-star
    variant (O(log n) rounds) — same join shapes.
    """
    edges = pairs.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    )
    und = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()
    labels = (
        und.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(max_iters):
        msgs = und.join(
            labels.withColumnRenamed("node", "src"), "src"
        ).select(F.col("dst").alias("node"), "label")
        new_labels = (
            labels.unionByName(msgs)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint()
        )
        n_changed = (
            new_labels.withColumnRenamed("label", "new_label")
            .join(labels, "node")
            .filter(F.col("new_label") != F.col("label"))
            .count()
        )
        labels = new_labels
        if n_changed == 0:
            break
    und.unpersist()
    return labels.select(
        F.col("node"), F.col("label").alias("cluster_id")
    )


def duplicate_clusters_star(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 50,
) -> DataFrame:
    """Connected components by alternating large-star/small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — the 10^10-edge scale path beside ``duplicate_clusters``.

    Min-label propagation converges in O(diameter) rounds: a
    2^20-node chain needs 2^20 rounds. Star contraction converges in
    O(log n) rounds regardless of shape, because each round rewires
    every edge toward the component minimum:

    - large-star: per node u over the UNDIRECTED neighborhood,
      connect every strictly-larger neighbor to m = min(Γ(u) ∪ {u});
    - small-star: per node u over edges oriented (larger → smaller),
      connect every smaller neighbor AND u itself to the minimum.

    Both steps are groupBy-min + an equi-join re-emission — the same
    two-shuffle round shape as label propagation, but the edge list
    itself contracts. Convergence = the oriented edge set is stable
    (order-insensitive xxhash64-sum + count checksum, checked per
    round); at the fixpoint every edge is (node → component-min), so
    the final projection IS the label assignment. Output matches
    ``duplicate_clusters`` exactly: (node, cluster_id = component
    min), one row per node incl. roots (pytest-pinned equivalence on
    cliques/bridges/chains/random graphs)."""
    E = (
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    nodes = E.select(F.col("u").alias("node")).union(
        E.select(F.col("v").alias("node"))
    ).distinct().localCheckpoint()

    def checksum(edges: DataFrame) -> tuple:
        # order-insensitive edge-set fingerprint; bit_xor cannot
        # overflow (ANSI mode throws on a plain long sum)
        r = edges.agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).collect()[0]
        return (r.n, r.h)

    prev = None
    for _ in range(max_iters):
        # ---- large-star ------------------------------------------------
        und = E.union(E.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (
            und.groupBy("u")
            .agg(F.min("v").alias("_mn"))
            .select("u", F.least("u", "_mn").alias("m"))
        )
        ls = (
            und.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # ---- small-star ------------------------------------------------
        o = ls.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        mins2 = o.groupBy("u").agg(F.min("v").alias("m"))
        ss_neighbors = (
            o.join(mins2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        ss_self = mins2.select("u", F.col("m").alias("v"))
        E_new = (
            ss_neighbors.union(ss_self)
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint()  # truncate iterative lineage
        )
        cs = checksum(E_new)
        E = E_new
        if cs == prev:
            break
        prev = cs
    # fixpoint: E = (node → component min). Roots carry their own id.
    labels = E.select(F.col("u").alias("node"), F.col("v").alias("cluster_id"))
    roots = nodes.join(
        labels.select(F.col("node")), "node", "left_anti"
    ).select("node", F.col("node").alias("cluster_id"))
    return labels.unionByName(roots)
