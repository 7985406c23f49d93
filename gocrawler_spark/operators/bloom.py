"""Sharded Bloom-filter URL-seen set (north_rule: FPR <= 1e-6 at 1e10
URLs).

Replaces the reference's O(pool) linear URL scan (crawler.go:454-460)
as the *acceleration* in front of the exact anti-join (the anti-join
against the frontier table remains the source of truth — a Bloom hit
only says "probably seen", a miss says "definitely new", so the
expensive join probes only the "probably seen" minority).

Scale design (the whole point):

- 1e10 keys @ 1e-6 FPR needs ~28.8 bits/key ≈ 33.5 GB of bits — far
  too big for one blob, fine as `n_shards` host-hash shards: 4096
  shards ≈ 8.8 MB each, each shard an opaque BINARY cell in a
  DataFrame row `(shard, bitmap, n_keys, m_bits, k_hashes)`.
- shard routing = `url_key(url) % n_shards` (functions/urls.url_key:
  JVM-side xxhash64 — whole-stage codegen, no Python in the row
  path). Build and probe both repartition BY SHARD, so the blob and
  its keys are colocated and the only shuffled payload is (url, hash)
  pairs — never bitmaps.
- per-shard set/test is vectorized numpy inside applyInPandas
  (Kirsch-Mitzenmacher double hashing: idx_i = h1 + i*h2 mod m —
  2 derived hashes serve all k probes).
- merge of two filters with identical geometry = bitwise OR of shard
  blobs (monotone union) — an equi-join on shard, no rebuild.

Guarantees (tested in tests/test_bloom.py):
- NO false negatives, ever (a seen URL always probes "maybe seen");
- measured FPR within 2x of the configured target at test scale;
- determinism: same keys → byte-identical bitmaps.
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gocrawler_spark.functions import urls as U

_M64 = np.uint64(0xFFFFFFFFFFFFFFFF)

BLOOM_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.IntegerType(), False),
        T.StructField("bitmap", T.BinaryType(), False),
        T.StructField("n_keys", T.LongType(), False),
        T.StructField("m_bits", T.LongType(), False),
        T.StructField("k_hashes", T.IntegerType(), False),
    ]
)

PROBE_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("maybe_seen", T.BooleanType(), False),
    ]
)


def geometry(expected_keys_per_shard: int, fpr: float) -> tuple[int, int]:
    """(m_bits, k_hashes) for a target per-shard capacity and FPR.
    m = -n ln p / (ln 2)^2, k = (m/n) ln 2; m rounded up to a byte."""
    n = max(expected_keys_per_shard, 1)
    m = int(math.ceil(-n * math.log(fpr) / (math.log(2) ** 2)))
    m = (m + 7) // 8 * 8
    k = max(1, round(m / n * math.log(2)))
    return m, k


def _hash_cols(df: DataFrame, url_col: str, n_shards: int) -> DataFrame:
    """(shard, h) from the seen-set key U.url_key (JVM-side xxhash64,
    no Python in the row path). Shared with operators/cuckoo.py: the
    shard uses the raw hash and the per-shard structures derive their
    indices from splitmix64(h), so the two stay independent and
    occupancy stays uniform within a shard."""
    h = U.url_key(F.col(url_col))
    return df.withColumn("h", h).withColumn(
        "shard", F.pmod(h, F.lit(n_shards)).cast("int")
    )


def _splitmix64(x: np.ndarray) -> np.ndarray:
    x = (x.astype(np.uint64) + np.uint64(0x9E3779B97F4A7C15)) & _M64
    x = ((x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & _M64
    x = ((x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & _M64
    return x ^ (x >> np.uint64(31))


def _indices(h: np.ndarray, k: int, m: int) -> np.ndarray:
    """(len(h), k) bit indices via double hashing; h is uint64."""
    h1 = _splitmix64(h)
    h2 = _splitmix64(h1) | np.uint64(1)  # odd → full-period stride
    i = np.arange(k, dtype=np.uint64)
    return ((h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(m)).astype(np.int64)


def build(
    urls: DataFrame,
    url_col: str = "url",
    n_shards: int = 64,
    expected_keys_per_shard: int = 100_000,
    fpr: float = 1e-6,
) -> DataFrame:
    """urls → sharded Bloom table. One shuffle (repartition by shard);
    bitmap built vectorized per shard."""
    m, k = geometry(expected_keys_per_shard, fpr)
    hashed = _hash_cols(urls.select(url_col), url_col, n_shards).select("shard", "h")

    def mk(key, pdf: pd.DataFrame) -> pd.DataFrame:
        bits = np.zeros(m // 8, dtype=np.uint8)
        h = pdf["h"].to_numpy().astype(np.int64).view(np.uint64)
        idx = _indices(h, k, m).ravel()
        np.bitwise_or.at(bits, idx >> 3, (1 << (idx & 7)).astype(np.uint8))
        return pd.DataFrame(
            {
                "shard": [int(key[0])],
                "bitmap": [bits.tobytes()],
                "n_keys": [len(pdf)],
                "m_bits": [m],
                "k_hashes": [k],
            }
        )

    return hashed.groupBy("shard").applyInPandas(mk, BLOOM_SCHEMA)


def probe(bloom: DataFrame, cand: DataFrame, url_col: str = "url", n_shards: int = 64) -> DataFrame:
    """cand(url_col, ...) → (url, maybe_seen).

    COGROUP on shard (not a join): each task receives ONE copy of the
    shard's bitmap plus that shard's candidate (url, h) pairs — a
    plain equi-join would replicate the multi-MB blob onto every
    candidate row (measured 45x slower at 500k rows). Candidates
    shuffle as 16-byte pairs; bitmaps move once per shard. Missing
    shard → definitely new."""
    hashed = _hash_cols(cand.select(url_col), url_col, n_shards).select(
        F.col(url_col).alias("url"), "h", "shard"
    )

    def tst(key, cpdf: pd.DataFrame, bpdf: pd.DataFrame) -> pd.DataFrame:
        if len(cpdf) == 0:
            return pd.DataFrame({"url": [], "maybe_seen": []})
        if len(bpdf) == 0:
            return pd.DataFrame({"url": cpdf["url"], "maybe_seen": False})
        m, k = int(bpdf["m_bits"].iloc[0]), int(bpdf["k_hashes"].iloc[0])
        bits = np.frombuffer(bpdf["bitmap"].iloc[0], dtype=np.uint8)
        h = cpdf["h"].to_numpy().astype(np.int64).view(np.uint64)
        idx = _indices(h, k, m)
        hit = ((bits[idx >> 3] >> (idx & 7).astype(np.uint8)) & 1).all(axis=1)
        return pd.DataFrame({"url": cpdf["url"], "maybe_seen": hit})

    return (
        hashed.groupBy("shard")
        .cogroup(bloom.groupBy("shard"))
        .applyInPandas(tst, PROBE_SCHEMA)
    )


def merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Monotone union of two filters with identical geometry: OR the
    shard bitmaps (full-outer equi-join on shard; blobs move once)."""

    def orr(key, pdf: pd.DataFrame) -> pd.DataFrame:
        bms = [np.frombuffer(x, dtype=np.uint8) for x in pdf["bitmap"]]
        acc = bms[0].copy()
        for x in bms[1:]:
            acc |= x
        return pd.DataFrame(
            {
                "shard": [int(key[0])],
                "bitmap": [acc.tobytes()],
                "n_keys": [int(pdf["n_keys"].sum())],  # upper bound
                "m_bits": [int(pdf["m_bits"].iloc[0])],
                "k_hashes": [int(pdf["k_hashes"].iloc[0])],
            }
        )

    return a.unionByName(b).groupBy("shard").applyInPandas(orr, BLOOM_SCHEMA)
