"""Partitioned Bloom filter over canonical URL hashes.

A library, off the crawl path: ``CrawlEngine``'s seen filter is the
plain exact anti-join (see :func:`seen_filter` for why), and the engine
neither reads nor writes a ``bloom`` table. The module stays because the
benchmark's filter probe (``perfbench/crawl.py::probe_filters``) and its
``bloom.*`` counters call it.

The reference's "Bloom filter-like" seen-set is actually an exact
Redis SET of md5 hex digests probed one network round-trip per URL
(src/discovery/url_discovery_engine.py:108-123). At a 10^10-URL
frontier that is neither storable as strings nor probeable per-row.
Design here (SURVEY §4.2):

- ``seen`` rows are 64-bit xxhash64 keys, bucketed by
  ``pmod(hash, num_buckets)`` — the same bucketing partitions the
  bloom table AND the candidate stream.
- format: one row per bucket, ``bucket, n_keys, m_bits, k_hashes,
  words``. ``words`` is an ``array<bigint>`` of ``m_bits / 64`` words;
  bit position ``p`` is bit ``p & 63`` of word ``p >> 6``. The
  geometry is FIXED, sized from the per-bucket capacity n
  (``m = -n·ln(p)/ln2²`` rounded up to a multiple of 64,
  ``k = m/n·ln2``), so each cycle's new keys OR into the persisted
  words (``merge_bloom``: a numpy scatter in the commit phase — a
  scatter has no Spark SQL form). A table still in the old ``binary``
  bitmap format is refused loudly, never read as empty.
- positions: double hashing ``pos_i = (h1 + i·h2) mod m`` from key
  bits above the bucket bits: ``h1 = key >>> 32``,
  ``h2 = ((key >>> 12) & 0xFFFFF) | 1``. A power-of-two factor
  ``2^b`` of ``num_buckets`` makes the low ``b`` key bits constant
  within a bucket, so bits shared with the bucket would pin a probe to
  a fraction of the positions (the whole key as ``h1`` with 64 buckets
  puts probe 0 only on positions ≡ bucket mod 16: FPR 0.015 at
  capacity instead of 0.01). Positions read bits 12 and up, so
  ``bucket_of`` refuses a ``num_buckets`` whose power-of-two factor
  exceeds ``2^12 = 4096``. Every sum stays below 2^33, so the signed
  Spark SQL arithmetic (ANSI overflow checks on) and numpy's uint64
  agree exactly.
- probe (``probe_bloom``): JVM-native — a join on ``bucket`` and a
  bit test (``element_at`` on the word, shift, ``& 1``) under
  ``forall(sequence(0, k_hashes - 1), ...)``. No Python worker, and
  the words are read in place from the joined bucket row, never
  copied per candidate. The same test unrolled into 16 ANDed terms
  ran the probe about 2× slower at 14k candidates.
- correctness contract: the bloom has no false negatives, so
  bloom=negative ⇒ *definitely unseen*. ``seen_filter`` still sends
  every candidate through the exact anti-join; ``maybe_seen`` is only
  an extra condition on it, so a false positive costs nothing and can
  never drop a URL.

At 10^10 seen URLs / 4096 buckets / 1% fpp each bucket is ~2.9 MB
(~12 GB across the cluster): too big to broadcast, so the planner
shuffles both sides by bucket and each task holds one bucket's words.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from omni_crawler_spark.session import local_rows

DEFAULT_BUCKETS = 64
DEFAULT_FPP = 0.01
BUCKET_BITS = 12  # key bits below this are left to the bucket

BLOOM_SCHEMA = (
    "bucket int, n_keys long, m_bits long, k_hashes int, words array<long>"
)


def bucket_of(hash_col, num_buckets: int = DEFAULT_BUCKETS):
    if num_buckets & -num_buckets > 1 << BUCKET_BITS:
        raise ValueError(
            f"num_buckets={num_buckets}: a power-of-two factor above "
            f"{1 << BUCKET_BITS} shares key bits with the probe positions"
        )
    return F.pmod(hash_col, F.lit(num_buckets)).cast("int")


def _positions(keys: np.ndarray, m: int, k: int) -> np.ndarray:
    """(len(keys), k) uint64 probe positions by double hashing — the
    numpy twin of :func:`_position_col`."""
    u = keys.astype(np.int64).view(np.uint64)
    h1 = u >> np.uint64(32)
    h2 = ((u >> np.uint64(BUCKET_BITS)) & np.uint64(0xFFFFF)) | np.uint64(1)
    i = np.arange(k, dtype=np.uint64)[None, :]
    return (h1[:, None] + i * h2[:, None]) % np.uint64(m)


def _position_col(key: Column, m: Column, i: Column) -> Column:
    h1 = F.shiftrightunsigned(key, 32)
    h2 = (
        F.shiftrightunsigned(key, BUCKET_BITS)
        .bitwiseAND(F.lit(0xFFFFF))
        .bitwiseOR(F.lit(1))
    )
    return (h1 + i * h2) % m


def fixed_params(capacity_per_bucket: int, fpp: float = DEFAULT_FPP) -> tuple[int, int]:
    """Fixed (m, k) geometry sized for a capacity — every bucket and
    every cycle shares it, which is what makes the words OR-mergeable.
    ``m`` is a whole number of 64-bit words."""
    n = max(capacity_per_bucket, 1)
    m = int(np.ceil(-n * np.log(fpp) / (np.log(2) ** 2)))
    m = max(64, (m + 63) // 64 * 64)
    k = max(1, int(round(m / n * np.log(2))))
    return m, min(k, 16)


def _check_format(bloom: DataFrame) -> None:
    if "words" not in bloom.columns:
        raise ValueError(
            "bloom table is in the old binary-bitmap format (columns "
            f"{bloom.columns}); it cannot be probed, and reading it as "
            "empty would clear seen URLs for refetch. Rebuild it from the "
            "full seen set: overwrite the bloom table with "
            "merge_bloom(None, <full seen>)"
        )


def merge_bloom(
    prev: DataFrame | None,
    new_keys: DataFrame,
    hash_col: str = "url_hash",
    num_buckets: int = DEFAULT_BUCKETS,
    capacity_per_bucket: int = 1 << 17,
    fpp: float = DEFAULT_FPP,
) -> DataFrame:
    """Incremental bloom maintenance: OR this cycle's new keys into
    the persisted per-bucket words instead of rescanning the whole
    seen table (at 10^10 rows a full rebuild per cycle IS the
    bottleneck). One cogroup of (prev bucket row, new keys) per
    bucket; ``n_keys`` accumulates so capacity overrun (fpp
    degradation — a performance concern, never a correctness one:
    positives are always exact-checked) is observable.

    Crash-safe by construction: the merge is a pure function of
    (prev words, cycle's new keys), so replaying a cycle produces an
    identical table.
    """
    m, k = fixed_params(capacity_per_bucket, fpp)
    if prev is None:
        prev = local_rows(new_keys.sparkSession, [], BLOOM_SCHEMA)
    _check_format(prev)

    def fold(old: pd.DataFrame, new: pd.DataFrame) -> pd.DataFrame:
        if len(old):
            if (int(old["m_bits"].iloc[0]), int(old["k_hashes"].iloc[0])) != (m, k):
                raise ValueError(
                    f"bloom geometry {old['m_bits'].iloc[0]}/"
                    f"{old['k_hashes'].iloc[0]} != merge geometry {m}/{k}"
                )
            bucket, n = int(old["bucket"].iloc[0]), int(old["n_keys"].iloc[0])
            words = np.array(old["words"].iloc[0], dtype=np.int64).view(np.uint64)
        else:
            bucket, n = int(new["bucket"].iloc[0]), 0
            words = np.zeros(m // 64, dtype=np.uint64)
        pos = _positions(new[hash_col].to_numpy(), m, k).ravel()
        np.bitwise_or.at(
            words, pos >> np.uint64(6), np.uint64(1) << (pos & np.uint64(63))
        )
        return pd.DataFrame(
            {"bucket": [bucket], "n_keys": [n + len(new)], "m_bits": [m],
             "k_hashes": [k], "words": [words.view(np.int64)]}
        )

    keys = new_keys.select(
        hash_col, bucket_of(F.col(hash_col), num_buckets).alias("bucket")
    )
    return (
        prev.groupBy("bucket")
        .cogroup(keys.groupBy("bucket"))
        .applyInPandas(fold, BLOOM_SCHEMA)
    )


def probe_bloom(
    candidates: DataFrame,
    bloom: DataFrame,
    hash_col: str = "url_hash",
    num_buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """Adds ``maybe_seen`` to candidates: a left join on the bucket
    and a bit test in Spark SQL, all in the JVM (format and position
    derivation in the module docstring). Candidates whose bucket has
    no bloom row (no seen keys yet) are ``False``."""
    _check_format(bloom)
    blm = bloom.select(
        F.col("bucket").alias("_bucket"),
        F.col("m_bits").alias("_m"),
        F.col("k_hashes").alias("_k"),
        F.col("words").alias("_words"),
    )
    key, m = F.col(hash_col), F.col("_m")

    def bit_set(i: Column) -> Column:
        pos = _position_col(key, m, i)
        word = F.element_at("_words", F.shiftright(pos, 6).cast("int") + 1)
        bit = F.call_function(
            "shiftrightunsigned", word, pos.bitwiseAND(F.lit(63)).cast("int")
        )
        return bit.bitwiseAND(F.lit(1)) == 1

    hit = F.forall(F.sequence(F.lit(0), F.col("_k") - 1), bit_set)
    return candidates.join(
        blm, bucket_of(key, num_buckets) == F.col("_bucket"), "left"
    ).select(*candidates.columns, F.coalesce(hit, F.lit(False)).alias("maybe_seen"))


def seen_filter(
    candidates: DataFrame,
    seen: DataFrame,
    bloom: DataFrame | None,
    hash_col: str = "url_hash",
    num_buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """``candidates LEFT ANTI JOIN seen`` with a bloom pre-screen: one
    probe, then one anti-join whose condition also requires
    ``maybe_seen``. Exact because the bloom has no false negatives:
    every seen candidate is ``maybe_seen``, so a cleared row is new.

    The pre-screen saves no exact lookup: a left-side condition cannot
    leave the anti-join, so every candidate is still hashed and looked
    up in ``seen``. ``CrawlEngine`` therefore runs the plain anti-join
    (the ``bloom=None`` path) and keeps no bloom. Taking the probe, the
    per-cycle ``merge_bloom`` and the bloom rewrite off the crawl cycle
    cut ``crawl_steady``'s median timed pass from 13.70 s to 9.48 s
    (10 interleaved pairs, seeds 1 and 2, local[4] on a 4-core host;
    the change won 10/10). This function stays for the benchmark's
    filter probe."""
    if bloom is None:
        return candidates.join(seen.select(hash_col), hash_col, "left_anti")
    probed = probe_bloom(candidates, bloom, hash_col, num_buckets)
    s = seen.select(F.col(hash_col).alias("_seen_hash"))
    return probed.join(
        s, (F.col(hash_col) == F.col("_seen_hash")) & F.col("maybe_seen"),
        "left_anti",
    ).drop("maybe_seen")
