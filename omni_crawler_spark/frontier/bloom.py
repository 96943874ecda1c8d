"""Partitioned Bloom filter over canonical URL hashes.

The reference's "Bloom filter-like" seen-set is actually an exact
Redis SET of md5 hex digests probed one network round-trip per URL
(src/discovery/url_discovery_engine.py:108-123). At a 10^10-URL
frontier that is neither storable as strings nor probeable per-row.
Design here (SURVEY §4.2):

- ``seen`` rows are 64-bit xxhash64 keys, bucketed by
  ``pmod(hash, num_buckets)`` — the same bucketing partitions the
  bloom side tables AND the candidate stream, so probe work is
  executor-local after one hash-partition exchange.
- per bucket, one bitarray blob of a FIXED geometry sized from the
  per-bucket capacity n (``m = -n·ln(p)/ln2²``, ``k = m/n·ln2``), so
  each cycle's new keys OR into the persisted blobs (``merge_bloom``,
  one ``applyInPandas`` pass, numpy bit ops, no per-row Python).
- probe positions derive from the 64-bit key itself by double
  hashing ``pos_i = (h1 + i·h2) mod m`` — no string rehashing, and
  identical arithmetic in build and probe.
- correctness contract: bloom=negative ⇒ *definitely unseen* (safe to
  fetch without exact check); bloom=positive ⇒ maybe seen ⇒ exact
  anti-join on the survivors only. A false positive can only cost an
  extra exact lookup, never a dropped URL.

At 10^10 seen URLs / 4096 buckets / 1% fpp each blob is ~2.9 MB
(total ~12 GB across the cluster but only ~3 MB per task) — the
cogroup keeps each blob on the executor that owns its bucket; nothing
is broadcast.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

DEFAULT_BUCKETS = 64
DEFAULT_FPP = 0.01

BLOOM_SCHEMA = StructType(
    [
        StructField("bucket", IntegerType()),
        StructField("n_keys", LongType()),
        StructField("m_bits", LongType()),
        StructField("k_hashes", IntegerType()),
        StructField("bitmap", BinaryType()),
    ]
)


def bucket_of(hash_col, num_buckets: int = DEFAULT_BUCKETS):
    return F.pmod(hash_col, F.lit(num_buckets)).cast("int")


def _positions(keys: np.ndarray, m: int, k: int) -> np.ndarray:
    """(len(keys), k) probe positions via double hashing of the
    64-bit key — pure uint64 arithmetic, vectorized."""
    u = keys.astype(np.uint64)
    h1 = u
    h2 = ((u >> np.uint64(33)) << np.uint64(1)) | np.uint64(1)
    i = np.arange(k, dtype=np.uint64)[None, :]
    return ((h1[:, None] + i * h2[:, None]) % np.uint64(m)).astype(np.int64)


def fixed_params(capacity_per_bucket: int, fpp: float = DEFAULT_FPP) -> tuple[int, int]:
    """Fixed (m, k) geometry sized for a capacity — every bucket and
    every cycle shares it, which is what makes blobs OR-mergeable."""
    n = max(capacity_per_bucket, 1)
    m = int(np.ceil(-n * np.log(fpp) / (np.log(2) ** 2)))
    m = max(64, (m + 7) // 8 * 8)  # byte-align
    k = max(1, int(round(m / n * np.log(2))))
    return m, min(k, 16)


def merge_bloom(
    prev: DataFrame | None,
    new_keys: DataFrame,
    hash_col: str = "url_hash",
    num_buckets: int = DEFAULT_BUCKETS,
    capacity_per_bucket: int = 1 << 17,
    fpp: float = DEFAULT_FPP,
) -> DataFrame:
    """Incremental bloom maintenance: OR this cycle's new keys into
    the persisted per-bucket blobs instead of rescanning the whole
    seen table (at 10^10 rows a full rebuild per cycle IS the
    bottleneck). Fixed geometry ⇒ bitmaps merge with a byte-OR;
    ``n_keys`` accumulates so capacity overrun (fpp degradation — a
    performance concern, never a correctness one: positives are
    always exact-checked) is observable.

    Crash-safe by construction: the merge is a pure function of
    (prev blobs, cycle's new keys), so replaying a cycle produces an
    identical table.
    """
    m, k = fixed_params(capacity_per_bucket, fpp)

    def build_fixed(pdf: pd.DataFrame) -> pd.DataFrame:
        keys = pdf[hash_col].to_numpy()
        bits = np.zeros(m // 8, dtype=np.uint8)
        pos = _positions(keys, m, k).ravel()
        np.bitwise_or.at(bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))
        return pd.DataFrame(
            [{"bucket": int(pdf["bucket"].iloc[0]), "n_keys": len(keys),
              "m_bits": m, "k_hashes": k, "bitmap": bits.tobytes()}]
        )

    fresh = (
        new_keys.withColumn("bucket", bucket_of(F.col(hash_col), num_buckets))
        .groupBy("bucket")
        .applyInPandas(build_fixed, BLOOM_SCHEMA)
    )
    if prev is None:
        return fresh

    def or_blobs(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        acc = None
        n = 0
        for r in pdf.itertuples(index=False):
            b = np.frombuffer(r.bitmap, dtype=np.uint8)
            acc = b.copy() if acc is None else (acc | b)
            n += int(r.n_keys)
        return pd.DataFrame(
            [{"bucket": int(key[0]), "n_keys": n, "m_bits": m,
              "k_hashes": k, "bitmap": acc.tobytes()}]
        )

    return (
        prev.unionByName(fresh)
        .groupBy("bucket")
        .applyInPandas(or_blobs, BLOOM_SCHEMA)
    )


def probe_bloom(
    candidates: DataFrame,
    bloom: DataFrame,
    hash_col: str = "url_hash",
    num_buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """Adds ``maybe_seen`` to candidates. Bucket-aligned cogroup: each
    task sees one bucket's candidate rows + that bucket's single blob
    row — the blob is never replicated per candidate row and never
    broadcast."""
    out_schema = StructType(
        candidates.schema.fields + [StructField("maybe_seen", BooleanType())]
    )
    cand_cols = [f.name for f in candidates.schema.fields]

    def test(cand: pd.DataFrame, blob: pd.DataFrame) -> pd.DataFrame:
        cand = cand.drop(columns=["bucket"])
        if len(cand) == 0:
            return cand.assign(maybe_seen=pd.Series(dtype=bool))
        if len(blob) == 0:  # no seen keys in this bucket yet
            return cand.assign(maybe_seen=False)
        m = int(blob["m_bits"].iloc[0])
        k = int(blob["k_hashes"].iloc[0])
        bits = np.frombuffer(blob["bitmap"].iloc[0], dtype=np.uint8)
        keys = cand[hash_col].to_numpy()
        pos = _positions(keys, m, k)
        hit = (bits[pos >> 3] & (1 << (pos & 7)).astype(np.uint8)) != 0
        return cand.assign(maybe_seen=hit.all(axis=1))

    tagged = candidates.withColumn("bucket", bucket_of(F.col(hash_col), num_buckets))
    return (
        tagged.groupBy("bucket")
        .cogroup(bloom.groupBy("bucket"))
        .applyInPandas(test, out_schema)
        .select(*cand_cols, "maybe_seen")
    )


def seen_filter(
    candidates: DataFrame,
    seen: DataFrame,
    bloom: DataFrame | None,
    hash_col: str = "url_hash",
    num_buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """The full P1 anti-join with bloom pre-screen: rows the bloom
    clears skip the exact join entirely; only maybe-seen rows pay the
    shuffle against the (bucketed) seen table. Exact semantics of
    ``candidates LEFT ANTI JOIN seen`` — the bloom only reduces work."""
    if bloom is None:
        return candidates.join(seen.select(hash_col), hash_col, "left_anti")
    probed = probe_bloom(candidates, bloom, hash_col, num_buckets)
    clear = probed.filter(~F.col("maybe_seen")).drop("maybe_seen")
    maybe = probed.filter(F.col("maybe_seen")).drop("maybe_seen")
    confirmed_new = maybe.join(seen.select(hash_col), hash_col, "left_anti")
    return clear.unionByName(confirmed_new)
