"""Sharded cuckoo seen-set: no false negatives, delete semantics (the
Bloom-missing capability), merge union, determinism, drop-in probe
parity with bloom.probe, and hole-safety of insert-after-delete."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from gocrawler_spark.operators import bloom as B
from gocrawler_spark.operators import cuckoo as C

N_SHARDS = 16
N = 12_000


def _urls(spark, prefix: str, n: int):
    return spark.range(n).select(
        F.concat(
            F.lit(f"https://h"),
            (F.col("id") % 53).cast("string"),
            F.lit(f".example/{prefix}"),
            F.col("id").cast("string"),
        ).alias("url")
    )


@pytest.fixture(scope="module")
def seen(spark):
    return _urls(spark, "p", N).cache()


@pytest.fixture(scope="module")
def cf(spark, seen):
    f = C.build(
        seen, n_shards=N_SHARDS, expected_keys_per_shard=N // N_SHARDS
    ).cache()
    assert f.count() == N_SHARDS
    return f


def test_geometry_north_rule_scale():
    """1e10 keys at 4096 shards → 2.44M keys/shard → 2^20 buckets →
    16 MiB blob/shard: executor-memory-sized, same class as the Bloom
    shards; FPR bound 2*4/2^32 ≈ 1.9e-9 « the 1e-6 rule."""
    nb = C.geometry(10_000_000_000 // 4096)
    assert nb == 1 << 20
    assert nb * 4 * 4 / 1024 / 1024 == 16.0  # MiB
    assert 2 * 4 / 2**32 < 1e-6


def test_no_false_negatives(cf, seen):
    p = C.probe(cf, seen, n_shards=N_SHARDS)
    assert p.count() == N
    assert p.filter(~F.col("maybe_seen")).count() == 0


def test_fpr_tiny_on_fresh_keys(spark, cf):
    fresh = _urls(spark, "NEW", N)
    fp = C.probe(cf, fresh, n_shards=N_SHARDS).filter(F.col("maybe_seen")).count()
    # bound 1.9e-9/key → expected 0.00002 hits on 12k; 0 in practice
    assert fp == 0


def test_delete_removes_only_deleted(spark, cf, seen):
    victims = seen.filter(F.xxhash64("url") % 3 == 0).cache()
    survivors = seen.filter(F.xxhash64("url") % 3 != 0).cache()
    after = C.delete(cf, victims, n_shards=N_SHARDS).cache()
    assert after.count() == N_SHARDS
    # deleted keys now definitely-new (no fp collision at this scale)
    still = (
        C.probe(after, victims, n_shards=N_SHARDS)
        .filter(F.col("maybe_seen"))
        .count()
    )
    assert still == 0
    # survivors keep the no-false-negative guarantee
    lost = (
        C.probe(after, survivors, n_shards=N_SHARDS)
        .filter(~F.col("maybe_seen"))
        .count()
    )
    assert lost == 0
    after.unpersist()
    victims.unpersist()
    survivors.unpersist()


def test_insert_after_delete_is_hole_safe(spark, cf, seen):
    """delete leaves holes in bucket rows; a later merge (which
    re-inserts entries) must not overwrite live fingerprints — the
    _compact invariant."""
    victims = seen.limit(N // 2)
    holey = C.delete(cf, victims, n_shards=N_SHARDS)
    extra = _urls(spark, "x", 3000)
    extra_cf = C.build(
        extra, n_shards=N_SHARDS, expected_keys_per_shard=N // N_SHARDS
    )
    merged = C.merge(holey, extra_cf).cache()
    keep = seen.subtract(victims)
    lost = (
        C.probe(merged, keep, n_shards=N_SHARDS)
        .filter(~F.col("maybe_seen"))
        .count()
    )
    assert lost == 0
    lost2 = (
        C.probe(merged, extra, n_shards=N_SHARDS)
        .filter(~F.col("maybe_seen"))
        .count()
    )
    assert lost2 == 0
    merged.unpersist()


def test_merge_union_semantics(spark):
    a_urls = _urls(spark, "a", 4000)
    b_urls = _urls(spark, "b", 4000)
    kw = dict(n_shards=N_SHARDS, expected_keys_per_shard=8000 // N_SHARDS)
    m = C.merge(C.build(a_urls, **kw), C.build(b_urls, **kw)).cache()
    both = a_urls.unionByName(b_urls)
    assert (
        C.probe(m, both, n_shards=N_SHARDS).filter(~F.col("maybe_seen")).count()
        == 0
    )
    m.unpersist()


def test_deterministic_tables(spark, seen):
    kw = dict(n_shards=N_SHARDS, expected_keys_per_shard=N // N_SHARDS)
    t1 = {r["shard"]: bytes(r["table"]) for r in C.build(seen, **kw).collect()}
    t2 = {r["shard"]: bytes(r["table"]) for r in C.build(seen, **kw).collect()}
    assert t1 == t2


def test_split_candidates_parity_with_bloom(spark, cf, seen):
    """Drop-in contract: the cuckoo probe splits candidates exactly
    like the bloom probe == ground truth on a half-seen/half-new
    candidate set (both have ~0 FP here)."""
    cand = seen.limit(2000).unionByName(_urls(spark, "zz", 2000)).cache()
    bf = B.build(
        seen, n_shards=N_SHARDS, expected_keys_per_shard=N // N_SHARDS, fpr=1e-6
    ).cache()

    def split(mod, filt):
        hits = (
            mod.probe(filt, cand, n_shards=N_SHARDS)
            .filter(F.col("maybe_seen"))
            .select("url")
        )
        return (
            cand.join(hits, "url", "left_semi"),
            cand.join(hits, "url", "left_anti"),
        )

    cs, cn = split(C, cf)
    bs, bn = split(B, bf)
    assert sorted(r["url"] for r in cs.collect()) == sorted(
        r["url"] for r in bs.collect()
    )
    assert cn.count() == bn.count() == 2000
    cand.unpersist()
    bf.unpersist()


def test_overflow_raises_not_drops(spark):
    """A shard pushed far past capacity must raise, never silently
    drop keys (a dropped key would be a false negative) — by build,
    and by merge of two filters that each fit but not together."""
    many = _urls(spark, "of", 4000)
    one = dict(n_shards=1, expected_keys_per_shard=16)  # 32 slots
    for overfill in (
        # 4000 keys into ~16 shards sized for 16 keys/shard
        lambda: C.build(many, n_shards=16, expected_keys_per_shard=16),
        # 2 x 24 keys into one 32-slot shard
        lambda: C.merge(
            C.build(_urls(spark, "ma", 24), **one),
            C.build(_urls(spark, "mb", 24), **one),
        ),
    ):
        with pytest.raises(Exception, match="overflow|MAX_KICKS|cuckoo"):
            overfill().count()


def test_compact_preserves_multiset():
    t = np.array([[5, 0, 7, 0], [0, 0, 0, 1], [2, 3, 4, 9]], dtype=np.uint32)
    c = C._compact(t)
    assert c.tolist() == [[5, 7, 0, 0], [1, 0, 0, 0], [2, 3, 4, 9]]
