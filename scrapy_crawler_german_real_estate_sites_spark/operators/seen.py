"""URL hashing shared by the seen-set sketches, and a broadcast Bloom
filter kept as the measured baseline for the cuckoo filter.

The engine's URL-seen sketch is the deletable cuckoo filter
(``operators/cuckoo.py``), which hashes through :func:`_hash_pair`.  The
Bloom filter below is not on any crawl path: ``perfbench/run.py`` builds,
flags and scores it next to the cuckoo filter on every traced benchmark
run, so the two sketches' build, probe and false-positive costs stay
comparable.

The bloom is built distributed: per-partition bitmaps OR-merged at the
driver (a classic commutative sketch merge), double-hashed to k probes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType


def _hash_pair(urls) -> tuple:
    """Vectorized double hash: one 64-bit hash per url via
    ``pd.util.hash_array`` (cython xxhash-style, ~100ns/row), split into
    (h1, h2) for standard double-hashed k probes.  No per-row Python —
    the sketch probes must stay off the interpreter at millions of links
    per wave."""
    arr = np.asarray(urls, dtype=object)
    h = pd.util.hash_array(arr, hash_key="spark_graft_blm1")
    # derive the second hash by a splitmix64 finalizer round instead of a
    # second pass over the strings (string hashing dominates)
    with np.errstate(over="ignore"):
        z = (h + np.uint64(0x9E3779B97F4A7C15))
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        z = z ^ (z >> np.uint64(31))
    return h, z | np.uint64(1)


def _probe_positions(urls, m, k):
    """(k, n) matrix of bit positions for each url; m must be a power of
    two so the modulo is a mask.  Layout is (k, n) — k outer rows with a
    long contiguous inner axis — because the transposed broadcast creates
    n strided length-k inner loops and runs ~100x slower."""
    h1, h2 = _hash_pair(urls)
    i = np.arange(k, dtype=np.uint64)
    with np.errstate(over="ignore"):
        return (h1[None, :] + i[:, None] * h2[None, :]) & np.uint64(m - 1)


def _set_bits(urls, m, k):
    bits = np.zeros(m // 8, dtype=np.uint8)
    if len(urls):
        pos = _probe_positions(urls, m, k).ravel()
        np.bitwise_or.at(bits, (pos >> 3).astype(np.int64),
                         (1 << (pos & np.uint64(7))).astype(np.uint8))
    return bits


class BloomFilter:
    def __init__(self, m_bits=1 << 24, k=7):
        assert m_bits % 8 == 0
        self.m = m_bits
        self.k = k
        self.bits = np.zeros(m_bits // 8, dtype=np.uint8)

    def merge_bytes(self, raw: bytes):
        self.bits |= np.frombuffer(raw, dtype=np.uint8)

    def might_contain_series(self, s: pd.Series) -> pd.Series:
        if not len(s):
            return pd.Series([], dtype=bool)
        pos = _probe_positions(s.to_numpy(dtype=object), self.m, self.k)
        probes = (
            self.bits[(pos >> 3).astype(np.int64)]
            >> (pos & np.uint64(7)).astype(np.uint8)
        ) & 1
        return pd.Series(probes.all(axis=0))


def build_bloom(seen_urls: DataFrame, col="url", m_bits=1 << 24, k=7) -> BloomFilter:
    """Distributed build: per-partition bitmaps, OR-merged on the driver."""

    def partial(batches):
        bits = np.zeros(m_bits // 8, dtype=np.uint8)
        any_ = False
        for pdf in batches:
            if len(pdf):
                any_ = True
                bits |= _set_bits(pdf[col].tolist(), m_bits, k)
        if any_:
            yield pd.DataFrame({"shard": [bits.tobytes()]})

    bf = BloomFilter(m_bits, k)
    for row in seen_urls.select(col).mapInPandas(partial, "shard binary").collect():
        bf.merge_bytes(row.shard)
    return bf


def with_bloom_flag(df: DataFrame, bf: BloomFilter, url_col="norm_url",
                    flag_col="maybe_seen") -> DataFrame:
    """Adds a boolean bloom-membership column (vectorized pandas UDF over
    the broadcast bitmap)."""
    spark = df.sparkSession
    b = spark.sparkContext.broadcast((bf.bits.tobytes(), bf.m, bf.k))

    @F.pandas_udf(BooleanType())
    def might_contain(s: pd.Series) -> pd.Series:
        raw, m, k = b.value
        local = BloomFilter(m, k)
        local.bits = np.frombuffer(raw, dtype=np.uint8)
        return local.might_contain_series(s)

    return df.withColumn(flag_col, might_contain(F.col(url_col)))
