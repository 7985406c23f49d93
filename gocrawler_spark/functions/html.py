"""S2: real HTML → (plain text, out-links) extraction.

The reference downloads raw pages and derives both products from the
body bytes:

- links: ``collectlinks.All(resp.Body)`` (crawler.go:219) — every
  ``href`` attribute of every ``<a>`` tag, in document order,
  duplicates kept, HTML entities decoded (the x/net/html tokenizer
  decodes attribute values);
- text: ``html2text.FromString(string(bodyBytes),
  Options{PrettyTables: false})`` (crawler.go:235) — tag-stripped
  plain text with block structure mapped to newlines.

This module is the Spark-side equivalent: pure string → value
functions used inside Arrow-batched fetch UDFs (plans/crawl.py), so
the parsing cost rides in the same executor batch as the fetch and
never touches Spark's row pipeline (``fetch_and_parse`` adapts a
raw-page fetch to the engine's ``fetch_fn``).

The text conversion implements a deterministic, documented subset of
html2text's behavior (full golden parity with the Go library is not
bit-testable without it):

- ``<script>/<style>/<head>/<noscript>`` subtrees and comments drop;
- closing block tags and ``<br>`` become newlines;
- remaining tags strip to nothing (inline elements don't add spaces);
- entities decode AFTER tag stripping, so text that *talks about*
  markup (e.g. an escaped ``&lt;span class="nav-menu"&gt;``) survives
  verbatim — the curation gate P1 depends on seeing it;
- within each line, whitespace runs collapse to one space; blank
  lines drop.
"""

from __future__ import annotations

import re
from html import unescape

_COMMENT = re.compile(r"(?s)<!--.*?-->")
_SKIP = re.compile(r"(?is)<(script|style|head|noscript)\b.*?</\1\s*>")
_BLOCK_NL = re.compile(
    r"(?i)</(?:p|div|li|ul|ol|h[1-6]|tr|table|blockquote|pre|section|"
    r"article|header|footer|nav|form)\s*>|<br\s*/?\s*>"
)
_TAG = re.compile(r"(?s)<[^>]*>")
_A_HREF = re.compile(
    r"""(?is)<a\b[^>]*?\bhref\s*=\s*(?:"([^"]*)"|'([^']*)'|([^\s>]+))"""
)
_WS = re.compile(r"[ \t\r\f\v]+")


def extract_links(html: str) -> list[str]:
    """All <a href> values, document order, duplicates kept, entities
    decoded — collectlinks.All semantics (crawler.go:219)."""
    out = []
    for m in _A_HREF.finditer(html):
        v = m.group(1)
        if v is None:
            v = m.group(2)
        if v is None:
            v = m.group(3)
        out.append(unescape(v))
    return out


_A_FULL = re.compile(
    r"""(?is)<a\b[^>]*?\bhref\s*=\s*(?:"([^"]*)"|'([^']*)'|([^\s>]+))"""
    r"""[^>]*>(.*?)</a\s*>"""
)


def extract_anchors(html: str) -> list[tuple[str, str]]:
    """All ``(href, anchor_text)`` pairs, document order. The anchor
    text is the element's inner markup tag-stripped, entity-decoded,
    whitespace-collapsed — the search-signal view of the link (what
    the linking page *calls* the target). Anchors without an href
    don't navigate and are skipped, like extract_links.

    Known divergence from extract_links on MALFORMED markup: this
    needs the closing ``</a>``, so an unclosed trailing anchor or a
    nested ``<a>`` (both invalid HTML) yields fewer pairs than
    extract_links yields hrefs. The link graph's authority therefore
    stays extract_links; anchor text is best-effort by design."""
    out = []
    for m in _A_FULL.finditer(html):
        href = m.group(1)
        if href is None:
            href = m.group(2)
        if href is None:
            href = m.group(3)
        # anchor text is a single phrase: ALL whitespace (incl.
        # newlines, unlike the line-preserving _WS) collapses to one
        # space
        text = re.sub(r"\s+", " ", unescape(_TAG.sub(" ", m.group(4)))).strip()
        out.append((unescape(href), text))
    return out


def html_to_text(html: str) -> str:
    """Plain text per the documented html2text subset (crawler.go:235)."""
    s = _COMMENT.sub(" ", html)
    s = _SKIP.sub(" ", s)
    s = _BLOCK_NL.sub("\n", s)
    s = _TAG.sub("", s)
    return normalize_ws(unescape(s))


def normalize_ws(text: str) -> str:
    """The converter's whitespace normal form: per-line whitespace runs
    collapse to one space, lines trim, blank lines drop. For tag-free
    input, html_to_text(render(text)) == normalize_ws(text)."""
    lines = (_WS.sub(" ", ln).strip() for ln in text.split("\n"))
    return "\n".join(ln for ln in lines if ln)


def parse_page(html: str) -> tuple[str, list[str]]:
    """bytes/str → (plain_text, links): the downloadUrl product pair
    (crawler.go:219-246)."""
    if isinstance(html, (bytes, bytearray)):
        html = html.decode("utf-8", errors="replace")
    return html_to_text(html), extract_links(html)


def fetch_and_parse(fetch_html):
    """Turn a raw-page fetch (url -> (html, ok)) into a CrawlEngine
    ``fetch_fn`` (url -> (plain_text, links, ok)): the page is parsed
    in the same fetch batch that downloaded it."""

    def fetch(url: str):
        raw, ok = fetch_html(url)
        text, links = parse_page(raw) if ok else ("", [])
        return text, links, ok

    return fetch
