"""Sharded cuckoo-filter URL-seen set — the deletable sibling of the
Bloom filter in `operators/bloom.py` (north_rule names "bloom/cuckoo"
as the seen-set family; this is the cuckoo half).

Why a second filter: a Bloom filter is monotone — once a URL is in,
it is in forever. A production frontier retires URLs (re-crawl after
TTL, host removed by policy, page gone 410): with Bloom, retiring
means rebuilding the whole 33 GB seen-set. A cuckoo filter [Fan et
al., CoNEXT'14, public paper] supports O(1) DELETE of previously
inserted keys, so retirement is a per-wave vectorized pass over the
affected shards only.

Same distribution shape as bloom.py (same reasons, see there):

- shard routing = JVM-side `url_key(url) % n_shards` (bloom._hash_cols,
  shared with the Bloom filter) — build, probe, delete and merge all
  repartition BY SHARD, so the table blob and its keys are colocated
  and only (url, hash) 16-byte pairs shuffle; blobs move at most once
  per shard per operation.
- one shard = one row `(shard, table binary, n_buckets, bucket_size,
  n_keys)`; the blob is a little-endian uint32 array of shape
  (n_buckets, bucket_size), 0 = empty slot.
- per-shard work is vectorized numpy inside applyInPandas/cogroup.

Filter design (partial-key cuckoo hashing):

- 32-bit fingerprints (0 reserved for "empty"), bucket_size 4.
  FPR <= 2*bucket_size / 2^32 ~= 1.9e-9 — comfortably under the
  north rule's 1e-6, at ~38 bits/key at the 0.84 sizing load
  (vs Bloom's 28.8 bits/key at 1e-6: the +9 bits buy deletability).
- n_buckets is a power of two so the partial-key alternate bucket
  `i2 = i1 XOR (h(fp) & (n_buckets-1))` is an involution: from EITHER
  bucket holding fp, the other candidate is recoverable — the
  property that makes eviction (and merge re-insertion) work without
  storing full keys.
- insert is two vectorized bulk passes (bucket1 then bucket2: sort by
  bucket, rank-within-bucket → slot) + a Python eviction tail for the
  rare overflow keys (empirically <1% of keys at 0.84 load; each does
  the classic kick loop, deterministic slot choice, MAX_KICKS bound).

Guarantees (tested in tests/test_cuckoo.py):
- NO false negatives for inserted-and-not-deleted keys;
- delete of an inserted key removes exactly one copy (probe of other
  keys unaffected);
- determinism: same keys, same order → byte-identical tables;
- build raises (never silently drops) if a shard exceeds capacity.
"""

from __future__ import annotations

from typing import Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gocrawler_spark.operators.bloom import (
    PROBE_SCHEMA,
    _hash_cols,
    _splitmix64,
)

MAX_KICKS = 500

CUCKOO_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.IntegerType(), False),
        T.StructField("table", T.BinaryType(), False),
        T.StructField("n_buckets", T.LongType(), False),
        T.StructField("bucket_size", T.IntegerType(), False),
        T.StructField("n_keys", T.LongType(), False),
    ]
)

def geometry(
    expected_keys_per_shard: int, bucket_size: int = 4, load: float = 0.84
) -> int:
    """n_buckets (power of two) sized so expected keys fill <= `load`
    of shard capacity. 1e10 keys at 4096 shards → 2.44M keys/shard →
    n_buckets 2^20, blob 16 MiB: executor-memory-sized, same class as
    the Bloom shards."""
    need = max(int(np.ceil(expected_keys_per_shard / (bucket_size * load))), 1)
    return 1 << max(int(need - 1).bit_length(), 1)


def _fingerprint(h: np.ndarray) -> np.ndarray:
    """uint64 hash → nonzero uint32 fingerprint."""
    fp = (_splitmix64(h) >> np.uint64(32)).astype(np.uint32)
    return np.where(fp == 0, np.uint32(1), fp)


def _bucket1(h: np.ndarray, n_buckets: int) -> np.ndarray:
    return (h & np.uint64(n_buckets - 1)).astype(np.int64)


def _alt(bucket: np.ndarray, fp: np.ndarray, n_buckets: int) -> np.ndarray:
    """Partial-key alternate bucket; involutive: _alt(_alt(b)) == b."""
    stride = _splitmix64(fp.astype(np.uint64)) & np.uint64(n_buckets - 1)
    return (bucket.astype(np.uint64) ^ stride).astype(np.int64)


def _compact(table: np.ndarray) -> np.ndarray:
    """Pack each bucket's live fingerprints to the row prefix (stable
    order). delete() leaves holes; _bulk_place's occupancy-count slot
    assignment requires prefix-packing or it would overwrite live
    slots. Called once at the start of every inserting operation."""
    order = np.argsort(table == 0, axis=1, kind="stable")
    return np.take_along_axis(table, order, axis=1)


def _bulk_place(
    table: np.ndarray, buckets: np.ndarray, fps: np.ndarray
) -> np.ndarray:
    """Vectorized first-fit: place each fp into its bucket if a free
    slot exists AFTER accounting for same-batch contenders. Returns a
    placed mask. table is (n_buckets, bucket_size) uint32, mutated;
    buckets MUST be prefix-packed (see _compact)."""
    if len(fps) == 0:
        return np.zeros(0, dtype=bool)
    bs = table.shape[1]
    occ = (table != 0).sum(axis=1)
    order = np.argsort(buckets, kind="stable")
    sb = buckets[order]
    # rank of each key within its bucket group (stable → deterministic)
    first = np.r_[True, sb[1:] != sb[:-1]]
    grp_start = np.maximum.accumulate(np.where(first, np.arange(len(sb)), 0))
    rank = np.arange(len(sb)) - grp_start
    slot = occ[sb] + rank
    ok = slot < bs
    table[sb[ok], slot[ok]] = fps[order][ok]
    placed = np.zeros(len(fps), dtype=bool)
    placed[order[ok]] = True
    return placed


def _insert_all(table: np.ndarray, h: np.ndarray) -> int:
    """Insert all keys (uint64 hashes) into the shard table IN PLACE.
    Two bulk passes then the eviction tail. Returns number of
    evicted-path keys. Raises on overflow (a build sized by
    geometry() never overflows at <= load capacity)."""
    table[:] = _compact(table)
    nb = table.shape[0]
    fp = _fingerprint(h)
    b1 = _bucket1(h, nb)
    placed = _bulk_place(table, b1, fp)
    rem = ~placed
    b2 = _alt(b1[rem], fp[rem], nb)
    placed2 = _bulk_place(table, b2, fp[rem])
    tail_fp = fp[rem][~placed2]
    _kick_place(table, tail_fp, b2[~placed2])
    return int(len(tail_fp))


def _kick_place(table: np.ndarray, fps: np.ndarray, buckets: np.ndarray) -> None:
    """The eviction tail: place each fp starting at its bucket by the
    classic kick loop (deterministic victim, MAX_KICKS bound), IN
    PLACE. Raises on overflow — never drops a fingerprint."""
    nb, bs = table.shape
    for cur_fp, cur_b in zip(fps.tolist(), buckets.tolist()):
        cur_fp = np.uint32(cur_fp)
        for kick in range(MAX_KICKS):
            row = table[cur_b]
            empty = np.nonzero(row == 0)[0]
            if empty.size:
                row[empty[0]] = cur_fp
                break
            j = int((int(cur_fp) + kick) % bs)  # deterministic victim
            cur_fp, row[j] = row[j].copy(), cur_fp
            cur_b = int(
                _alt(np.array([cur_b]), np.array([cur_fp], dtype=np.uint32), nb)[0]
            )
        else:
            raise ValueError(
                f"cuckoo shard overflow after {MAX_KICKS} kicks "
                f"(load {int((table != 0).sum())}/{table.size}); "
                "size the shard with geometry() or raise n_shards"
            )


def _hnp(pdf: pd.DataFrame) -> np.ndarray:
    """Spark LongType column → uint64 bit pattern, bucket-hash mixed."""
    return _splitmix64(pdf["h"].to_numpy().astype(np.int64).view(np.uint64))


def build(
    urls: DataFrame,
    url_col: str = "url",
    n_shards: int = 64,
    expected_keys_per_shard: int = 100_000,
    bucket_size: int = 4,
) -> DataFrame:
    """urls → sharded cuckoo table. One shuffle (group by shard);
    insertion vectorized per shard, eviction tail bounded."""
    nb = geometry(expected_keys_per_shard, bucket_size)
    hashed = _hash_cols(urls.select(url_col), url_col, n_shards).select("shard", "h")

    def mk(key, pdf: pd.DataFrame) -> pd.DataFrame:
        table = np.zeros((nb, bucket_size), dtype=np.uint32)
        _insert_all(table, _hnp(pdf))
        return pd.DataFrame(
            {
                "shard": [int(key[0])],
                "table": [table.tobytes()],
                "n_buckets": [nb],
                "bucket_size": [bucket_size],
                "n_keys": [len(pdf)],
            }
        )

    return hashed.groupBy("shard").applyInPandas(mk, CUCKOO_SCHEMA)


def _load_table(bpdf: pd.DataFrame) -> Tuple[np.ndarray, int, int]:
    nb = int(bpdf["n_buckets"].iloc[0])
    bs = int(bpdf["bucket_size"].iloc[0])
    table = (
        np.frombuffer(bpdf["table"].iloc[0], dtype=np.uint32)
        .reshape(nb, bs)
    )
    return table, nb, bs


def _probe_np(table: np.ndarray, nb: int, h: np.ndarray) -> np.ndarray:
    fp = _fingerprint(h)
    b1 = _bucket1(h, nb)
    b2 = _alt(b1, fp, nb)
    return ((table[b1] == fp[:, None]).any(axis=1)) | (
        (table[b2] == fp[:, None]).any(axis=1)
    )


def probe(
    cf: DataFrame, cand: DataFrame, url_col: str = "url", n_shards: int = 64
) -> DataFrame:
    """cand(url_col, ...) → (url, maybe_seen). Cogroup on shard, same
    blob-moves-once rationale as bloom.probe (see there). Missing
    shard → definitely new."""
    hashed = _hash_cols(cand.select(url_col), url_col, n_shards).select(
        F.col(url_col).alias("url"), "h", "shard"
    )

    def tst(key, cpdf: pd.DataFrame, bpdf: pd.DataFrame) -> pd.DataFrame:
        if len(cpdf) == 0:
            return pd.DataFrame({"url": [], "maybe_seen": []})
        if len(bpdf) == 0:
            return pd.DataFrame({"url": cpdf["url"], "maybe_seen": False})
        table, nb, _ = _load_table(bpdf)
        return pd.DataFrame(
            {"url": cpdf["url"], "maybe_seen": _probe_np(table, nb, _hnp(cpdf))}
        )

    return (
        hashed.groupBy("shard")
        .cogroup(cf.groupBy("shard"))
        .applyInPandas(tst, PROBE_SCHEMA)
    )


def delete(
    cf: DataFrame, urls: DataFrame, url_col: str = "url", n_shards: int = 64
) -> DataFrame:
    """Remove one copy of each url's fingerprint from its shard —
    the operation Bloom cannot do. Vectorized slot-claim with
    conflict retry: keys deleting distinct cells resolve in one pass;
    keys contending for the same cell (same bucket+fp, i.e. true
    duplicates or fp collisions) retry against the updated table.
    Deleting a never-inserted key is a no-op for that key (standard
    cuckoo caveat: only delete what you inserted; the frontier only
    retires URLs it has in the exact table, which is the source of
    truth)."""
    hashed = _hash_cols(urls.select(url_col), url_col, n_shards).select("shard", "h")

    def rm(key, dpdf: pd.DataFrame, bpdf: pd.DataFrame) -> pd.DataFrame:
        if len(bpdf) == 0:  # deletes for a shard with no filter: no-op
            return pd.DataFrame(
                {
                    "shard": pd.Series([], dtype="int32"),
                    "table": pd.Series([], dtype=object),
                    "n_buckets": pd.Series([], dtype="int64"),
                    "bucket_size": pd.Series([], dtype="int32"),
                    "n_keys": pd.Series([], dtype="int64"),
                }
            )
        table, nb, bs = _load_table(bpdf)
        table = table.copy()
        removed = 0
        if len(dpdf):
            h = _hnp(dpdf)
            fp = _fingerprint(h)
            b1 = _bucket1(h, nb)
            pend_fp, pend_b1 = fp, b1
            while len(pend_fp):
                b2 = _alt(pend_b1, pend_fp, nb)
                # first matching slot in bucket1, else bucket2
                m1 = table[pend_b1] == pend_fp[:, None]
                m2 = table[b2] == pend_fp[:, None]
                has1 = m1.any(axis=1)
                has2 = ~has1 & m2.any(axis=1)
                tgt_b = np.where(has1, pend_b1, b2)
                tgt_s = np.where(has1, m1.argmax(axis=1), m2.argmax(axis=1))
                found = has1 | has2
                cell = tgt_b * bs + tgt_s
                # one deleter per cell this pass; contenders retry
                _, first_idx = np.unique(cell[found], return_index=True)
                win = np.zeros(len(pend_fp), dtype=bool)
                win[np.nonzero(found)[0][first_idx]] = True
                flat = table.reshape(-1)
                flat[cell[win]] = 0
                removed += int(win.sum())
                retry = found & ~win
                if not retry.any():
                    break
                pend_fp, pend_b1 = pend_fp[retry], pend_b1[retry]
        return pd.DataFrame(
            {
                "shard": [int(key[0])],
                "table": [table.tobytes()],
                "n_buckets": [nb],
                "bucket_size": [bs],
                "n_keys": [max(int(bpdf["n_keys"].iloc[0]) - removed, 0)],
            }
        )

    return (
        hashed.groupBy("shard")
        .cogroup(cf.groupBy("shard"))
        .applyInPandas(rm, CUCKOO_SCHEMA)
    )


def merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Union of two same-geometry filters: keep a's table, re-insert
    b's stored (bucket, fp) entries — the partial-key involution
    means the entry's OTHER candidate bucket is recoverable without
    the original key, so re-insertion preserves probe semantics.
    Entries move as blobs once; no key re-hashing, no URL shuffle."""

    def mg(key, pdf: pd.DataFrame) -> pd.DataFrame:
        nb = int(pdf["n_buckets"].iloc[0])
        bs = int(pdf["bucket_size"].iloc[0])
        tabs = [
            np.frombuffer(x, dtype=np.uint32).reshape(nb, bs) for x in pdf["table"]
        ]
        acc = _compact(tabs[0])
        for t in tabs[1:]:
            bkt, slot = np.nonzero(t)
            fps = t[bkt, slot]
            # place at stored bucket, falling back to its alternate
            placed = _bulk_place(acc, bkt.astype(np.int64), fps)
            rem = ~placed
            alt_b = _alt(bkt[rem].astype(np.int64), fps[rem], nb)
            placed2 = _bulk_place(acc, alt_b, fps[rem])
            _kick_place(acc, fps[rem][~placed2], alt_b[~placed2])
        return pd.DataFrame(
            {
                "shard": [int(key[0])],
                "table": [acc.tobytes()],
                "n_buckets": [nb],
                "bucket_size": [bs],
                "n_keys": [int(pdf["n_keys"].sum())],
            }
        )

    return a.unionByName(b).groupBy("shard").applyInPandas(mg, CUCKOO_SCHEMA)
