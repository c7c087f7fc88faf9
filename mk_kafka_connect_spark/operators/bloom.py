"""Bloom-filter semi-join reduction: prune a huge fact table against a
dimension key set BEFORE the join shuffle (SURVEY.md §2.B B6 scale path).

The classic 100 TB join problem: the dimension's surviving key set is too
large to broadcast as rows (a hash-set of 50 M longs is GBs) but its
*membership* compresses into a few MB of Bloom bits. Build the filter
from the dim side, broadcast the bits, and drop non-matching fact rows
map-side during the scan — the shuffle then moves only rows that can
join. False positives cost nothing (the real join drops them); false
negatives are impossible (Bloom's guarantee), so the result is exactly
the plain join and the DuckDB oracle hash-matches.

Catalyst grows this same optimization natively
(``spark.sql.optimizer.runtime.bloomFilter.enabled``, injected when the
creation side is small and the application side is huge); this operator
is the explicit, tunable form — the build is a one-pass ``mapInPandas``
over the dim keys yielding one ``num_bits/8``-byte partial bitmap per
partition, OR-merged on the driver (model-parameter-sized collect, like
the IVF centroids — never rows) and rebroadcast.

Hashing is deterministic everywhere: Spark-side ``xxhash64`` canonicalizes
any key type to one 64-bit value (identical on build and probe sides),
then Kirsch–Mitzenmacher double hashing (splitmix64 finalizers) derives
the k bit positions in vectorized numpy — no Python-per-row work.
"""

from __future__ import annotations

import sys

import numpy as np
import pandas as pd
from pyspark import cloudpickle
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

__all__ = ["build_bloom_bits", "bloom_prefilter_join"]

_U64 = np.uint64

# The build and probe closures call this module's hash helpers; workers
# of a session this package did not build cannot import it, so the
# helpers travel by value.
cloudpickle.register_pickle_by_value(sys.modules[__name__])


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer (public-domain constants); uint64
    arithmetic wraps mod 2^64, which is exactly the algorithm."""
    with np.errstate(over="ignore"):
        x = (x + _U64(0x9E3779B97F4A7C15)).astype(_U64)
        x = ((x ^ (x >> _U64(30))) * _U64(0xBF58476D1CE4E5B9)).astype(_U64)
        x = ((x ^ (x >> _U64(27))) * _U64(0x94D049BB133111EB)).astype(_U64)
        return x ^ (x >> _U64(31))


def _bit_positions(hashed: np.ndarray, num_bits: int, num_hashes: int):
    """Yield the k bit indices (int64 arrays) for each 64-bit key hash."""
    h1 = _splitmix64(hashed)
    # Forcing h2 odd keeps the k probes distinct for any num_bits.
    h2 = _splitmix64(hashed ^ _U64(0xA076_1D64_78BD_642F)) | _U64(1)
    for i in range(num_hashes):
        with np.errstate(over="ignore"):
            idx = (h1 + _U64(i) * h2) % _U64(num_bits)
        yield idx.astype(np.int64)


def build_bloom_bits(
    df: DataFrame, key: str | Column, num_bits: int = 1 << 20, num_hashes: int = 5
) -> bytes:
    """One-pass Bloom build over ``df``'s key column.

    Each partition emits its own ``num_bits/8``-byte bitmap (a model-sized
    partial aggregate — the rows never leave the executors); the driver
    OR-merges them. 2^20 bits / k=5 holds ~100 k keys at ~1% fp; size it
    as bits ≈ 10 × |keys| for that rate.
    """
    if num_bits % 8:
        raise ValueError("num_bits must be a multiple of 8")

    def partial_bitmaps(batches):
        # Boolean scatter + one little-endian packbits: same bit layout
        # as the probe's (idx >> 3, idx & 7) lookup, ~10x faster than a
        # per-bit bitwise_or.at scatter on the packed bytes.
        flags = np.zeros(num_bits, dtype=bool)
        for pdf in batches:
            hashed = pdf["_bloom_key"].to_numpy(np.int64).astype(_U64)
            for idx in _bit_positions(hashed, num_bits, num_hashes):
                flags[idx] = True
        yield pd.DataFrame(
            {"bitmap": [np.packbits(flags, bitorder="little").tobytes()]}
        )

    keyed = df.select(F.xxhash64(key).alias("_bloom_key")).where(
        (F.col(key) if isinstance(key, str) else key).isNotNull()
    )
    parts = keyed.mapInPandas(partial_bitmaps, schema="bitmap binary").collect()
    merged = np.zeros(num_bits // 8, dtype=np.uint8)
    for row in parts:
        merged |= np.frombuffer(row.bitmap, dtype=np.uint8)
    return merged.tobytes()


def bloom_prefilter_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str,
    num_bits: int = 1 << 20,
    num_hashes: int = 5,
) -> DataFrame:
    """Inner-join ``fact`` to ``dim`` on column ``on``, Bloom-pruning the
    fact side map-side first so the join shuffle moves only joinable rows.

    Exactly equivalent to ``fact.join(dim, on)`` — the Bloom pass only
    prunes (no false negatives), and surviving false positives die in the
    real join. The bitmap rides an executor broadcast; the probe is one
    Arrow-vectorized pandas UDF over the already-JVM-computed xxhash64.
    """
    bits = build_bloom_bits(dim, on, num_bits=num_bits, num_hashes=num_hashes)
    bc = fact.sparkSession.sparkContext.broadcast(bits)

    @pandas_udf("boolean")
    def might_contain(hashed: pd.Series) -> pd.Series:
        bm = np.frombuffer(bc.value, dtype=np.uint8)
        h = hashed.to_numpy(np.int64).astype(_U64)
        ok = np.ones(len(h), dtype=bool)
        for idx in _bit_positions(h, num_bits, num_hashes):
            ok &= ((bm[idx >> 3] >> (idx & 7).astype(np.uint8)) & 1).astype(bool)
        return pd.Series(ok)

    pruned = fact.where(might_contain(F.xxhash64(on)))
    return pruned.join(dim, on)
