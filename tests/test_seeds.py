"""Sitemap-driven frontier seeding (operators/seeds.py)."""

from pyspark.sql import functions as F

from gocrawler_spark.config import test_profile as _tp
from gocrawler_spark.operators import frontier as FR
from gocrawler_spark.operators.seeds import (
    discover_from_hosts,
    sitemap_candidates,
)

AGENT = "gocrawler"


def _toy_web() -> dict[str, str]:
    return {
        # host a: robots Sitemap: -> index -> two urlsets
        "https://a.example/robots.txt": (
            "User-agent: *\nDisallow: /private\n"
            "Sitemap: https://a.example/idx.xml\n"
        ),
        "https://a.example/idx.xml": (
            "<sitemapindex>"
            "<sitemap><loc>https://a.example/s0.xml</loc></sitemap>"
            "<sitemap><loc>https://a.example/s1.xml</loc></sitemap>"
            "</sitemapindex>"
        ),
        "https://a.example/s0.xml": (
            "<urlset>"
            "<url><loc>https://a.example/topic/low</loc>"
            "<priority>0.2</priority></url>"
            "<url><loc>https://a.example/topic/high</loc>"
            "<priority>0.9</priority>"
            "<lastmod>2026-01-10</lastmod></url>"
            "</urlset>"
        ),
        "https://a.example/s1.xml": (
            "<urlset>"
            "<url><loc>https://a.example/topic/mid</loc>"
            "<priority>0.5</priority></url>"
            "<url><loc>https://a.example/topic/high</loc>"
            "<priority>0.1</priority></url>"  # dup: best priority kept
            "<url><loc>http://x</loc></url>"  # fails length validation
            "</urlset>"
        ),
        # host b: no robots -> conventional /sitemap.xml fallback
        "https://b.example/sitemap.xml": (
            "<urlset><url><loc>https://b.example/topic/only</loc>"
            "</url></urlset>"
        ),
    }


def _fetch_fn():
    # closure over a local dict: cloudpickle ships it by VALUE to the
    # workers (a module-level def would pickle by reference and fail —
    # test modules aren't importable executor-side)
    web = _toy_web()
    return lambda url: web.get(url)


def test_discovery_chain_and_fallback(spark):
    hosts = spark.createDataFrame(
        [("a.example",), ("b.example",), ("c.example",)], "domain string"
    )
    got = discover_from_hosts(hosts, _fetch_fn(), AGENT).collect()
    by_url = {r["url"]: r for r in got}
    # a: 5 urlset rows (incl. the dup and the not-yet-validated
    # http://x); b: 1 via fallback; c: none
    assert len(got) == 6
    assert by_url["https://b.example/topic/only"]["domain"] == "b.example"
    hi = [
        r
        for r in got
        if r["url"] == "https://a.example/topic/high"
        and r["priority_milli"] == 900
    ]
    assert len(hi) == 1 and hi[0]["lastmod_ts"] is not None


def test_max_sitemaps_bounds_hostile_index(spark):
    web = {
        "https://h.example/robots.txt": (
            "Sitemap: https://h.example/i0.xml\n"
        ),
    }
    # i_k points to i_{k+1} forever (index loop / mega-tree)
    for k in range(100):
        web[f"https://h.example/i{k}.xml"] = (
            "<sitemapindex>"
            f"<sitemap><loc>https://h.example/i{k + 1}.xml</loc></sitemap>"
            "</sitemapindex>"
        )
    hosts = spark.createDataFrame([("h.example",)], "domain string")
    got = discover_from_hosts(
        hosts, lambda u: web.get(u), AGENT, max_sitemaps=5
    ).collect()
    assert got == []  # bounded: no urlsets ever reached, no hang


def test_candidates_shape_validation_and_order(spark):
    cfg = _tp()
    hosts = spark.createDataFrame(
        [("a.example",), ("b.example",)], "domain string"
    )
    cand = sitemap_candidates(
        discover_from_hosts(hosts, _fetch_fn(), AGENT), cfg
    )
    rows = cand.collect()
    urls = {r["url"] for r in rows}
    assert "http://x" not in urls  # F2 validation dropped it
    assert len(rows) == 4  # dup collapsed
    a = sorted(
        (r for r in rows if r["domain"] == "a.example"),
        key=lambda r: r["first_at"]["pos"],
    )
    # per-host pos order: priority desc (high=0.9, mid=0.5, low=0.2)
    assert [r["url"].rsplit("/", 1)[1] for r in a] == ["high", "mid", "low"]
    assert all(r["delta"] == 1 for r in rows)
    # first_at schema matches candidate_links (parent_seq long, pos int)
    pa = {r["first_at"]["parent_seq"] for r in a}
    assert len(pa) == 1  # one synthetic parent per host


def test_merge_into_frontier_ingests_seeds(spark):
    cfg = _tp(
        bootstrapping_links=("https://a.example/topic/high",)
    )
    frontier = FR.bootstrap_frontier(spark, cfg)
    hosts = spark.createDataFrame(
        [("a.example",), ("b.example",)], "domain string"
    )
    cand = sitemap_candidates(
        discover_from_hosts(hosts, _fetch_fn(), AGENT), cfg
    )
    merged = FR.merge_into_frontier(frontier, cand)
    rows = {r["url"]: r for r in merged.collect()}
    # 1 bootstrap + 3 genuinely new (the dup URL was already seeded)
    assert len(rows) == 4
    # existing URL: count bumped, seq unchanged, no duplicate row
    seeded = rows["https://a.example/topic/high"]
    assert seeded["count"] == 2 and seeded["seq"] == 0
    # new rows: status 0, eligible, dense seqs after the bootstrap,
    # per-host priority order preserved within the host
    new = [r for u, r in rows.items() if u != "https://a.example/topic/high"]
    assert sorted(r["seq"] for r in new) == [1, 2, 3]
    assert all(r["status"] == 0 and r["eligible"] for r in new)
    a_new = sorted(
        (r for r in new if r["domain"] == "a.example"),
        key=lambda r: r["seq"],
    )
    assert [r["url"].rsplit("/", 1)[1] for r in a_new] == ["mid", "low"]
    # frontier uniqueness held
    assert merged.groupBy("url").count().filter(F.col("count") > 1).count() == 0


def test_truncation_count_rides_on_emitted_rows(spark):
    web = {
        "https://t.example/robots.txt": "Sitemap: https://t.example/i.xml\n",
        "https://t.example/i.xml": (
            "<sitemapindex>"
            + "".join(
                f"<sitemap><loc>https://t.example/s{k}.xml</loc></sitemap>"
                for k in range(6)
            )
            + "</sitemapindex>"
        ),
    }
    for k in range(6):
        web[f"https://t.example/s{k}.xml"] = (
            f"<urlset><url><loc>https://t.example/topic/{k}</loc>"
            "</url></urlset>"
        )
    hosts = spark.createDataFrame([("t.example",)], "domain string")
    # cap 3: index + 2 urlsets visited, 4 urlsets cut
    got = discover_from_hosts(
        hosts, lambda u: web.get(u), AGENT, max_sitemaps=3
    ).collect()
    assert len(got) == 2
    assert all(r["n_truncated"] == 4 for r in got)
