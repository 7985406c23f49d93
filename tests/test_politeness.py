"""Politeness: robots cache fetch-once, disallow gating, token-budget
caps, and engine integration invariants."""

import pytest
from pyspark.sql import functions as F

from gocrawler_spark.config import test_profile as _tp
from gocrawler_spark.operators import politeness as PO
from gocrawler_spark.plans.crawl import CrawlEngine


def test_synthetic_robots_deterministic():
    a = PO.synthetic_robots("site1.example")
    b = PO.synthetic_robots("site1.example")
    assert a == b
    prefixes, delay = a
    assert all(p.startswith("/") for p in prefixes)
    assert delay in (0, 250, 500, 1000)


def test_fetch_missing_robots_fetch_once(spark):
    robots = PO.empty_robots(spark)
    d1 = spark.createDataFrame([("a.example",), ("b.example",)], "domain string")
    robots = PO.fetch_missing_robots(robots, d1, wave=1).cache()
    assert robots.count() == 2
    # second wave re-presents a.example + new c.example: only c fetched
    d2 = spark.createDataFrame([("a.example",), ("c.example",)], "domain string")
    robots2 = PO.fetch_missing_robots(robots, d2, wave=2).cache()
    assert robots2.count() == 3
    waves = {r["domain"]: r["fetched_wave"] for r in robots2.collect()}
    assert waves["a.example"] == 1  # not refetched
    assert waves["c.example"] == 2


def test_robots_gate(spark):
    robots = spark.createDataFrame(
        [("x.example", ["/junk", "/private"], 500, 1), ("y.example", [], 0, 1)],
        PO.ROBOTS_SCHEMA,
    )
    wave = spark.createDataFrame(
        [
            ("https://x.example/junk-3", "x.example"),
            ("https://x.example/article-1", "x.example"),
            ("https://y.example/junk-9", "y.example"),  # y allows everything
            ("https://z.example/whatever", "z.example"),  # uncached -> allowed
        ],
        "url string, domain string",
    )
    got = {
        r["url"]: (r["robots_allowed"], r["crawl_delay_ms"])
        for r in PO.robots_gate(wave, robots).collect()
    }
    assert got["https://x.example/junk-3"] == (False, 500)
    assert got["https://x.example/article-1"] == (True, 500)
    assert got["https://y.example/junk-9"] == (True, 0)
    assert got["https://z.example/whatever"] == (True, 0)


def test_token_budget_cap(spark):
    rows = [
        (f"https://h.example/p{i}", "h.example", float(100 - i), i, 1000)
        for i in range(10)
    ] + [(f"https://fast.example/p{i}", "fast.example", 1.0, 100 + i, 0) for i in range(10)]
    wave = spark.createDataFrame(
        rows, "url string, domain string, priority double, seq long, crawl_delay_ms int"
    )
    capped = PO.token_budget_cap(wave, wave_budget_ms=4000, delay_floor_ms=100)
    ok = capped.filter(F.col("within_budget"))
    by_host = {r["domain"]: r["cnt"] for r in ok.groupBy("domain").agg(F.count("*").alias("cnt")).collect()}
    assert by_host["h.example"] == 4  # 4000/1000
    assert by_host["fast.example"] == 10  # 4000/floor(100)=40 > 10
    # the 4 h.example winners are the highest-priority (lowest seq) ones
    winners = sorted(
        r["seq"] for r in ok.filter(F.col("domain") == "h.example").collect()
    )
    assert winners == [0, 1, 2, 3]


def test_engine_robots_integration(spark):
    cfg = _tp(wave_size=8, per_host_budget=4)
    always_slow = lambda d: (["/topic"], 1000)  # disallow /topic*, 4/wave/host
    st = CrawlEngine(
        spark, cfg, use_robots=True, robots_fn=always_slow
    ).run(max_steps=3)
    # every domain ever scheduled has exactly one robots row
    sched = {r["domain"] for r in st.crawl_log.collect()}
    robot_domains = [r["domain"] for r in st.robots.collect()]
    assert len(robot_domains) == len(set(robot_domains))
    assert sched <= set(robot_domains)
    # no /topic URL was ever fetched OK (robots-blocked -> status 3)
    topic_ok = st.crawl_log.filter(
        F.col("url").rlike("/topic") & (F.col("status_after") == 2)
    )
    assert topic_ok.count() == 0
    # blocked URLs are not in the pages cache
    assert st.pages.filter(F.col("url").rlike("/topic")).count() == 0
    # per-host per-wave fetch cap respected (<= 4 OK fetches)
    per = (
        st.crawl_log.filter(F.col("status_after") == 2)
        .groupBy("wave", "domain")
        .agg(F.count("*").alias("n"))
    )
    assert per.filter(F.col("n") > 4).count() == 0


def test_polite_fixture_matches_fresh_oracle():
    """Drift guard: the committed crawl_polite_w8.csv fixture must
    equal a fresh PoliteOracle run — if config/synthetic-web/robots
    data changes, this fails before the driver gate does."""
    import csv
    import os

    from gocrawler_spark.oracle.pyoracle import PoliteOracle
    from gocrawler_spark.sources import synthetic_web as SW

    res = PoliteOracle(_tp(wave_size=1), SW.fetch_page).run(max_iters=8)
    fresh = [
        (e.url, e.domain, str(e.count), str(e.status), str(i))
        for i, e in enumerate(res.pool)
    ]
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "gocrawler_spark", "fixtures", "crawl_polite_w8.csv",
    )
    with open(path) as f:
        committed = [tuple(r) for r in list(csv.reader(f))[1:]]
    assert fresh == committed
    # the refusal path is actually exercised inside the window
    assert any(r[3] == "3" for r in committed)


def test_polite_refusals_are_not_transport_failures():
    """A robots-refused URL must not increment the domain failure
    counter (refusals don't re-report — same rule as cache refusals)."""
    from gocrawler_spark.oracle.pyoracle import PoliteOracle
    from gocrawler_spark.sources import synthetic_web as SW

    o = PoliteOracle(_tp(wave_size=1), SW.fetch_page)
    o.run(max_iters=8)
    refused = [e.url for e in o.pool if e.status == 3]
    assert refused  # the window sees refusals
    for u in refused:
        from gocrawler_spark.functions import pyref

        assert o.fail_log.get(pyref.get_domain(u), 0) == 0
