"""S2 HTML parsing: link extraction + text conversion (functions/html.py)
and the raw-markup crawl path (fetch_and_parse).

The strongest check is the last one: a crawl whose fetcher returns raw
HTML bytes must produce byte-identical state to the crawl that gets the
pre-parsed (text, links) pair — i.e. the parser inverts render_html on
every page the crawl touches.
"""

from gocrawler_spark.config import test_profile as _tp
from gocrawler_spark.functions import html as HT
from gocrawler_spark.plans.crawl import CrawlEngine
from gocrawler_spark.sources import synthetic_web as SW


# ---------------------------------------------------------------- units
def test_extract_links_collectlinks_semantics():
    html = (
        '<p>x</p><a href="https://a.example/1">one</a>'
        "<a href='https://a.example/2'>two</a>"
        "<A HREF=https://a.example/3>three</A>"
        '<a class="z" href="https://a.example/1">dup kept</a>'
        '<a href="https://a.example/?q=1&amp;r=2">entity</a>'
        '<a name="no-href">skipped</a>'
    )
    assert HT.extract_links(html) == [
        "https://a.example/1",
        "https://a.example/2",
        "https://a.example/3",
        "https://a.example/1",
        "https://a.example/?q=1&r=2",
    ]


def test_html_to_text_drops_head_script_style_comments():
    html = (
        "<html><head><title>T</title><style>p{color:red}</style>"
        "<script>var x = '<p>not text</p>';</script></head>"
        "<body><!-- note --><p>keep me</p><noscript>no</noscript></body></html>"
    )
    assert HT.html_to_text(html) == "keep me"


def test_html_to_text_blocks_and_entities():
    html = "<div>a  b</div><p>c &lt;span class=\"nav-menu\"&gt; d</p><br>e"
    # block closes -> newlines; whitespace collapsed; escaped markup
    # survives as literal text (P1 needs to see it)
    assert HT.html_to_text(html) == 'a b\nc <span class="nav-menu"> d\ne'


def test_render_html_round_trip_over_synthetic_web():
    urls, frontier, checked = set(SW.seed_urls()), list(SW.seed_urls()), 0
    for _ in range(3):
        nxt = []
        for u in frontier:
            if not SW.fetch_ok(u):
                continue
            html, ok = SW.fetch_html(u)
            assert ok
            text, links = HT.parse_page(html)
            assert text == SW.page_text(u)
            assert links == SW.page_links(u)
            checked += 1
            nxt.extend(x for x in links if x not in urls)
            urls.update(links)
        frontier = nxt[:120]
    assert checked > 100


# ------------------------------------------------------------------ e2e
def test_html_crawl_path_equals_preparsed_path(spark):
    cfg = _tp(wave_size=1)
    base = CrawlEngine(spark, cfg).run(max_steps=6)
    html = CrawlEngine(
        spark, cfg, fetch_fn=HT.fetch_and_parse(SW.fetch_html)
    ).run(max_steps=6)

    def snap(st):
        return {
            "frontier": sorted(
                (r["url"], r["count"], r["status"], r["seq"])
                for r in st.frontier.collect()
            ),
            "pages": sorted(
                (r["url"], r["content"], tuple(r["links"]), r["ok"])
                for r in st.pages.collect()
            ),
            "accepted": sorted(
                (r["url"], r["curated"], r["signature"])
                for r in st.accepted.collect()
            ),
            "corpus": sorted(
                (r["token"], r["count"]) for r in st.corpus_freq.collect()
            ),
        }

    assert snap(html) == snap(base)


def test_extract_anchors_pairs_and_text_cleanup():
    from gocrawler_spark.functions.html import extract_anchors

    html = (
        '<a href="https://x/a">Click <b>here</b> now</a>'
        "<a href='https://x/b'>caf&eacute; &amp; bar</a>"
        '<a href=https://x/c></a>'
        "<a name=anchor-no-href>skipped</a>"
        '<a href="https://x/d">\n  multi\n  line  </a>'
    )
    got = extract_anchors(html)
    assert got == [
        ("https://x/a", "Click here now"),
        ("https://x/b", "café & bar"),
        ("https://x/c", ""),
        ("https://x/d", "multi line"),
    ]


def test_extract_anchors_agrees_with_extract_links():
    from gocrawler_spark.functions.html import extract_anchors, extract_links
    from gocrawler_spark.sources.synthetic_web import render_html

    links = [f"https://l{j}.example/d9/p{j}" for j in range(3)]
    markup = render_html(
        "some text", links, anchor_texts=[f"t {j}" for j in range(3)]
    )
    assert [h for h, _ in extract_anchors(markup)] == extract_links(markup)
    assert [t for _, t in extract_anchors(markup)] == ["t 0", "t 1", "t 2"]


def test_render_html_default_is_unchanged_by_anchor_param():
    from gocrawler_spark.sources.synthetic_web import render_html

    links = ["https://x/a", "https://x/b"]
    assert render_html("t", links) == render_html(
        "t", links, anchor_texts=None
    )
    assert '<a href="https://x/a"></a>' in render_html("t", links)
