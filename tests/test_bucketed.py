"""Bucketed-frontier plans: result equality with the plain merge, and
the zero-frontier-shuffle physical-plan guarantees (SURVEY.md §4)."""

import re

import pytest
from pyspark.sql import functions as F

from gocrawler_spark.operators import frontier as FR
from gocrawler_spark.plans.bucketed import BucketedFrontier


def _frontier_df(spark, n=5000, domains=137):
    return spark.range(n).select(
        F.concat(
            F.lit("https://host"),
            (F.col("id") % domains).cast("string"),
            F.lit(".example/p"),
            F.col("id").cast("string"),
        ).alias("url"),
        F.concat(
            F.lit("host"), (F.col("id") % domains).cast("string"), F.lit(".example")
        ).alias("domain"),
        (F.col("id") % 7 + 1).cast("long").alias("count"),
        F.lit(0).alias("status"),
        F.col("id").alias("seq"),
        F.lit(True).alias("eligible"),
    )


def _cand_df(spark, n=3000, frontier_n=5000, domains=137):
    # ~50% collide with frontier URLs, rest new; several parents
    return (
        spark.range(n)
        .select(
            F.concat(
                F.lit("https://host"),
                ((F.col("id") * 3) % domains).cast("string"),
                F.lit(".example/p"),
                ((F.col("id") * 3) % (frontier_n * 2)).cast("string"),
            ).alias("url"),
            (F.col("id") % 50).alias("parent_seq"),
            F.col("id").alias("pos"),
        )
        .groupBy("url")
        .agg(
            F.count(F.lit(1)).alias("delta"),
            F.min(F.struct("parent_seq", "pos")).alias("first_at"),
        )
        .withColumn(
            "domain", F.regexp_extract(F.col("url"), r"https://([^/]+)/", 1)
        )
    )


def _assert_frontier_scanned_in_place(plan):
    assert "Bucketed: true" in plan
    # every shuffle exchange hashes candidate-side attributes —
    # none may sit directly above the bucketed FileScan
    for frag in re.findall(r"Exchange hashpartitioning[^\n]*\n([^\n]*)", plan):
        assert "FileScan parquet" not in frag, plan


@pytest.fixture(scope="module")
def bucketed(spark):
    bf = BucketedFrontier(spark, name="t_frontier", n_buckets=8)
    bf.write(_frontier_df(spark))
    return bf


def test_merge_equals_plain_path(spark, bucketed):
    """Same rows (url/domain/count/status/eligible) and same seq ORDER
    as merge_into_frontier. Seq values are identical because both
    paths use the same base + _assign_seq ranking."""
    cand = _cand_df(spark)
    plain = FR.merge_into_frontier(_frontier_df(spark), cand)
    bkt = bucketed.merge(cand)
    a = sorted(tuple(r) for r in plain.collect())
    b = sorted(tuple(r) for r in bkt.collect())
    assert a == b


def test_merge_plan_never_shuffles_frontier(spark, bucketed):
    """The only hashpartitioning Exchanges in the merge plan are on the
    candidate (wave) side; the bucketed frontier scan feeds both joins
    in place."""
    cand = _cand_df(spark)
    merged = bucketed.merge(cand)
    _assert_frontier_scanned_in_place(
        merged._jdf.queryExecution().executedPlan().toString()
    )


def test_select_wave_no_exchange(spark, bucketed):
    """Per-host budget window over the bucketed scan runs without any
    hashpartitioning Exchange (the scan already clusters by domain)."""
    dc = spark.createDataFrame([], "domain string, n_scheduled long")
    sel = bucketed.select_wave(dc, wave_size=100, per_host_budget=2)
    plan = sel._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, plan
    assert sel.count() == 100


def test_select_wave_matches_plain(spark, bucketed):
    dc = spark.createDataFrame([], "domain string, n_scheduled long")
    plain = FR.select_wave(_frontier_df(spark), dc, 100, 2)
    bkt = bucketed.select_wave(dc, 100, 2)
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, bkt.collect())
    )


def test_ping_pong_write(spark):
    bf = BucketedFrontier(spark, name="t_pp", n_buckets=4)
    bf.write(_frontier_df(spark, n=500))
    first_table = bf._table(bf._side)
    merged = bf.merge(_cand_df(spark, n=300, frontier_n=500))
    bf.write(merged)
    assert bf._table(bf._side) != first_table
    # state advanced: new URLs were appended
    assert bf.df().count() > 500
    # and the previous side is still readable (crash safety)
    assert spark.table(first_table).count() == 500


def test_engine_bucketed_frontier_identical(spark, tmp_path, monkeypatch):
    """CrawlEngine(use_bucketed_frontier=True) must be a pure physical
    optimization: identical frontier, crawl log, and corpus vs the
    pinned-DataFrame engine on the same synthetic web. Its fused
    per-wave merge still reads the bucketed frontier in place, and a
    checkpoint -> resume -> one more wave equals the uninterrupted
    bucketed run."""
    from gocrawler_spark.config import test_profile as _tp
    from gocrawler_spark.plans.crawl import CrawlEngine

    cfg = _tp(wave_size=8, per_host_budget=2)
    plain = CrawlEngine(spark, cfg).run(max_steps=3)

    plans = []
    merge = FR.merge_into_frontier

    def spy(*a, **kw):
        out = merge(*a, **kw)
        plans.append(out._jdf.queryExecution().executedPlan().toString())
        return out

    monkeypatch.setattr(FR, "merge_into_frontier", spy)
    kw = dict(use_bucketed_frontier=True, frontier_buckets=4)
    bkt = CrawlEngine(spark, cfg, **kw).run(max_steps=3)
    monkeypatch.undo()
    assert len(plans) == 3  # one merge per wave
    for plan in plans:
        _assert_frontier_scanned_in_place(plan)

    ckpt = str(tmp_path / "ckpt")
    CrawlEngine(spark, cfg, checkpoint_dir=ckpt, **kw).run(max_steps=2)
    resumed = CrawlEngine.resume(spark, cfg, ckpt, **kw)
    assert resumed.state.wave == 2
    resumed = resumed.run(max_steps=1)

    def snap(st):
        fr = sorted(
            (r["url"], r["domain"], r["count"], r["status"], r["seq"])
            for r in st.frontier.collect()
        )
        log = sorted((r["wave"], r["url"]) for r in st.crawl_log.collect())
        corp = sorted((r["token"], r["count"]) for r in st.corpus_freq.collect())
        return fr, log, corp

    assert snap(plain) == snap(bkt)
    assert snap(resumed) == snap(bkt)


def test_engine_rejects_bloom_with_bucketed_frontier(spark, tmp_path):
    """The bucketed merge never reads a Bloom filter, so asking for both
    is refused up front, by the engine and by the spark-submit
    entrypoint."""
    import importlib.util
    import os

    from gocrawler_spark.config import test_profile as _tp
    from gocrawler_spark.plans.crawl import CrawlEngine

    with pytest.raises(ValueError, match="mutually exclusive"):
        CrawlEngine(
            spark, _tp(), use_bloom=True, use_bucketed_frontier=True
        )
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "scripts", "run_crawl.py",
    )
    spec = importlib.util.spec_from_file_location("run_crawl", path)
    run_crawl = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(run_crawl)
    with pytest.raises(SystemExit, match="mutually exclusive"):
        run_crawl.main(
            ["--bloom", "--bucketed", "--output", str(tmp_path / "out")]
        )
