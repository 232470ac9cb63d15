"""Unit tests for the readability-style boilerplate stripper (K5)."""

import pytest

from pdf_ocr_spark.kernels.html_extract import extract_html


BOILERPLATE_PAGE = b"""<!DOCTYPE html><html><head><title>T</title>
<script>var x = "<p>not text</p>";</script><style>.a{color:red}</style></head>
<body>
<nav><a href=a>Home</a> <a href=b>About</a> <a href=c>Contact</a></nav>
<div id=main><article><h2>Headline</h2>
<p>First paragraph of the body, long enough to score, with commas, plenty.</p>
<p>Second paragraph continues the main content with more words to weigh.</p>
</article></div>
<aside><a href=x>Ad one</a> <a href=y>Ad two</a></aside>
<footer>Copyright <a href=z>legal</a></footer>
</body></html>"""


def test_strips_boilerplate():
    text, status, reason = extract_html(BOILERPLATE_PAGE)
    assert status == "ok"
    assert "First paragraph" in text
    assert "Second paragraph" in text
    assert "Headline" in text
    assert "Home" not in text       # nav dropped
    assert "Ad one" not in text     # aside dropped
    assert "Copyright" not in text  # footer dropped
    assert "not text" not in text   # script content never leaks


def test_entities_decoded():
    html = b"<div><p>" + "A &amp; B &mdash; caf&eacute; &#x2603; snow".encode() + b" with enough following words to pass the length gate, clearly.</p></div>"
    text, status, _ = extract_html(html)
    assert status == "ok"
    assert "A & B — café ☃ snow" in text


def test_block_elements_get_newlines():
    html = (
        b"<div><p>Paragraph one is long enough to be the article content here.</p>"
        b"<p>Paragraph two is also long enough to be counted as content.</p></div>"
    )
    text, status, _ = extract_html(html)
    assert status == "ok"
    assert text.count("\n") == 1


def test_inline_elements_flow():
    html = (
        b"<div><p>Inline <b>bold</b> and <i>italic</i> text should flow together"
        b" in one single line with no breaks at all, naturally.</p></div>"
    )
    text, status, _ = extract_html(html)
    assert status == "ok"
    assert "Inline bold and italic text" in text
    assert "\n" not in text


def test_empty_and_garbage():
    assert extract_html(b"")[1] == "failed"
    assert extract_html(b"\x00\x01\x02binary junk")[1] == "failed"


def test_malformed_html_tolerated():
    html = b"<div><p>Unclosed paragraph with enough text to be chosen as main content, truly." \
           b"<p>Another unclosed one follows with even more words to weigh in."
    text, status, _ = extract_html(html)
    assert status == "ok"
    assert "Unclosed paragraph" in text


def test_deterministic():
    a = extract_html(BOILERPLATE_PAGE)
    b = extract_html(BOILERPLATE_PAGE)
    assert a == b


def test_charset_fallback_latin1():
    html = "<div><p>Accented caf\xe9 text that is long enough to be main content, obviously.</p></div>".encode("latin-1")
    text, status, _ = extract_html(html)
    assert status == "ok"
    assert "café" in text


class TestHtmlTables:
    """Structured <table> extraction (HTML twin of the PDF ruled-grid
    table blocks)."""

    HTML = (
        b"<html><body><p>intro</p>"
        b"<table><caption>Sales by region</caption>"
        b"<tr><th>Region</th><th>Sales</th></tr>"
        b"<tr><td>North</td><td>1,200</td></tr>"
        b"<tr><td>South</td><td><b>900</b> units</td></tr>"
        b"</table>"
        b"<table><tr><td>a</td><td>b</td><td>c</td></tr></table>"
        b"</body></html>"
    )

    def test_tables_shape_and_cells(self):
        from pdf_ocr_spark.kernels.html_extract import extract_tables

        tables = extract_tables(self.HTML)
        assert len(tables) == 2
        t0 = tables[0]
        assert t0.caption == "Sales by region"
        assert (t0.n_rows, t0.n_cols) == (3, 2)
        assert t0.rows[0] == ["Region", "Sales"]
        assert t0.rows[2] == ["South", "900 units"]  # inline markup flattened
        assert tables[1].caption == ""
        assert (tables[1].n_rows, tables[1].n_cols) == (1, 3)

    def test_nested_table_rows_stay_separate(self):
        from pdf_ocr_spark.kernels.html_extract import extract_tables

        html = (
            b"<table><tr><td>outer <table><tr><td>inner</td></tr></table>"
            b"</td></tr></table>"
        )
        tables = extract_tables(html)
        assert len(tables) == 2
        assert tables[0].rows == [["outer inner"]]  # nested text flows in
        assert tables[1].rows == [["inner"]]        # but rows are its own

    def test_tableless_and_poison(self):
        from pdf_ocr_spark.kernels.html_extract import extract_tables

        assert extract_tables(b"<p>nothing</p>") == []
        assert extract_tables(b"\xff\xfe\x00garbage") == []
        assert extract_tables(b"") == []

    def test_deterministic_corpus(self):
        from pdf_ocr_spark.fixtures.genpages import gen_html_table_rows

        a = gen_html_table_rows(12)
        b = gen_html_table_rows(12)
        assert [r["url"] for r in a] == [r["url"] for r in b]
        assert [r["html"] for r in a] == [r["html"] for r in b]
        assert any(r["kind"] == "plain" for r in a)

    def test_nested_table_bomb_capped(self):
        from pdf_ocr_spark.kernels.html_extract import extract_tables

        bomb = b"<table>" * 2000 + b"<tr><td>x</td></tr>" + b"</table>" * 2000
        tables = extract_tables(bomb)
        assert len(tables) == 200  # poison cap


class TestLinkRelAttrs:
    def test_nofollow_variants(self):
        from pdf_ocr_spark.kernels.html_extract import extract_links_attrs

        html = (
            b"<html><body>"
            b"<a href='/a'>a</a>"
            b"<a href='/b' rel='nofollow'>b</a>"
            b"<a href='/c' rel=\"ugc noopener\">c</a>"
            b"<a href='/d' rel='sponsored'>d</a>"
            b"<a href='/e' rel='noopener'>e</a>"
            b"<a rel=nofollow href='/f'>f</a>"
            b"</body></html>"
        )
        got = {href: nf for href, nf, _ in extract_links_attrs(html)}
        assert got == {
            "/a": False, "/b": True, "/c": True,
            "/d": True, "/e": False, "/f": True,
        }

    def test_anchor_text(self):
        from pdf_ocr_spark.kernels.html_extract import extract_links_attrs

        html = (
            b"<a href='/x'>Read <b>the full</b> report</a>"
            b"<a href='/y'></a>"
            b"<a href='/z'>unclosed anchor"
        )
        got = {href: at for href, _, at in extract_links_attrs(html)}
        assert got["/x"] == "Read the full report"
        assert got["/y"] == ""
        assert got["/z"] == ""  # no closing tag -> no capture

    def test_unclosed_anchor_does_not_swallow_next(self):
        from pdf_ocr_spark.kernels.html_extract import extract_links_attrs

        # HTML5 auto-closes an unclosed <a> at the next <a>
        html = b"<a href='/x'>one <a href='/y'>two</a>"
        got = {href: at for href, _, at in extract_links_attrs(html)}
        assert got["/x"] == "one"
        assert got["/y"] == "two"

    def test_extract_links_unchanged(self):
        from pdf_ocr_spark.kernels.html_extract import extract_links

        html = b"<a href='/x' rel='nofollow'>x</a><a href='/y'>y</a>"
        assert extract_links(html) == ["/x", "/y"]


class TestCharsetSniff:
    """decode_html_bytes: the HTML5 encoding-sniffing order (BOM →
    UTF-8 → meta charset prescan → latin-1)."""

    PAGE = "<html><body><article><p>{}</p></article></body></html>"

    def _main(self, data):
        from pdf_ocr_spark.kernels.html_extract import extract_html

        text, status, _ = extract_html(data)
        assert status == "ok"
        return text

    def test_utf16le_bom(self):
        para = "Ünïcøde böm ráin " * 5
        data = b"\xff\xfe" + self.PAGE.format(para).encode("utf-16-le")
        assert para.strip() in self._main(data)

    def test_utf16be_bom(self):
        para = "Ünïcøde böm ráin " * 5
        data = b"\xfe\xff" + self.PAGE.format(para).encode("utf-16-be")
        assert para.strip() in self._main(data)

    def test_utf8_bom_stripped(self):
        para = "Plain utf8 with bom " * 5
        data = b"\xef\xbb\xbf" + self.PAGE.format(para).encode("utf-8")
        text = self._main(data)
        assert para.strip() in text and "﻿" not in text

    def test_meta_charset_fallback(self):
        from pdf_ocr_spark.kernels.html_extract import decode_html_bytes

        para = "café département déjà " * 5
        page = (
            '<html><head><meta charset="iso-8859-1"></head><body>'
            f"<p>{para}</p></body></html>"
        )
        assert para in decode_html_bytes(page.encode("iso-8859-1"))

    def test_bogus_charset_label_falls_back_latin1(self):
        from pdf_ocr_spark.kernels.html_extract import decode_html_bytes

        data = b'<meta charset="no-such-enc"><p>caf\xe9</p>'
        assert "caf\xe9" in decode_html_bytes(data)

    def test_tables_and_links_share_the_sniff(self):
        from pdf_ocr_spark.kernels.html_extract import (
            extract_links_attrs,
            extract_tables,
        )

        html = (
            "<table><caption>tötals</caption><tr><td>1</td></tr></table>"
            "<a href='/x'>tëxt</a>"
        )
        data = b"\xff\xfe" + html.encode("utf-16-le")
        [tbl] = extract_tables(data)
        assert tbl.caption == "tötals"
        [(href, _, anchor)] = extract_links_attrs(data)
        assert (href, anchor) == ("/x", "tëxt")


class TestHtmlMeta:
    def test_full_head_first_wins(self):
        from pdf_ocr_spark.kernels.html_extract import extract_metadata

        html = (
            '<html lang="en-US"><head>'
            "<title>A &amp; B</title><title>second ignored</title>"
            '<meta name="description" content="first desc">'
            '<meta name="description" content="second ignored">'
            '<meta property="og:title" content="OG A">'
            '<meta property="article:published_time" content="2025-01-02T03:04:05Z">'
            '<link rel="stylesheet" href="/s.css">'
            '<link rel="canonical" href="https://x.test/canon">'
            "</head><body><time datetime='1990-01-01'>old</time></body></html>"
        ).encode()
        m = extract_metadata(html)
        assert m.title == "A & B"
        assert m.description == "first desc"
        assert m.og_title == "OG A"
        assert m.canonical == "https://x.test/canon"
        assert m.lang == "en-US"
        assert m.published == "2025-01-02T03:04:05Z"  # meta beats <time>

    def test_date_fallbacks(self):
        from pdf_ocr_spark.kernels.html_extract import extract_metadata

        t = extract_metadata(
            b"<html><body><time datetime='2024-05-06'>x</time></body></html>"
        )
        assert t.published == "2024-05-06"
        ld = extract_metadata(
            b'<html><head><script type="application/ld+json">'
            b'{"datePublished": "2023-09-10"}</script></head><body></body></html>'
        )
        assert ld.published == "2023-09-10"

    def test_unquoted_attrs_and_absent(self):
        from pdf_ocr_spark.kernels.html_extract import extract_metadata

        m = extract_metadata(
            b"<html lang=de><head><title>t</title>"
            b"<link rel=canonical href=https://y.test/c></head><body></body></html>"
        )
        assert (m.lang, m.canonical) == ("de", "https://y.test/c")
        e = extract_metadata(b"<html><body><p>no head</p></body></html>")
        assert e.title is None and e.published is None and e.canonical is None

    def test_never_raises_on_garbage(self):
        from pdf_ocr_spark.kernels.html_extract import extract_metadata

        for junk in (b"", b"\xff\xfe\x00", b"<title>unclosed", b"\x00" * 64):
            extract_metadata(junk)  # must not raise


def test_html_meta_route_skips_metadata_free_binaries(spark):
    from pdf_ocr_spark.pipeline.extract_job import extract_html_meta

    pages = spark.createDataFrame(
        [
            ("https://x.test/jpg", bytearray(b"\xff\xd8\xff\xe0JFIF" + b"\x00" * 64)),
            ("https://x.test/page", bytearray(b"<html><head><title>t</title></head></html>")),
        ],
        "url string, html binary",
    )
    rows = extract_html_meta(pages, num_partitions=2).collect()
    assert [r.url for r in rows] == ["https://x.test/page"]


def test_jsonld_shapes_and_tolerance():
    from pdf_ocr_spark.kernels.html_extract import extract_jsonld

    html = (
        b'<html><head>'
        b'<script type="application/ld+json">{"@type":"Article",'
        b'"headline":"H","datePublished":"2024-01-02"}</script>'
        b"<SCRIPT TYPE='application/ld+json; charset=utf-8'>"
        b'[{"@type":["Product","Thing"],"name":"W"},{"@type":"Offer"}]'
        b"</SCRIPT>"
        b'<script type="application/ld+json">{"@graph":[{"@type":"WebSite",'
        b'"name":"S"},{"@type":"Person","name":"P"}]}</script>'
        b'<script type="application/ld+json">{broken</script>'
        b'<script type="text/javascript">var x={"@type":"NOPE"};</script>'
        b"</head><body></body></html>"
    )
    blocks = extract_jsonld(html)
    assert [(b.block_index, b.node_index) for b in blocks] == [
        (0, 0), (1, 0), (1, 1), (2, 0), (2, 1), (3, 0)
    ]
    assert blocks[0].name == "H"  # headline fallback
    assert blocks[0].date_published == "2024-01-02"
    assert blocks[1].ld_type == "Product|Thing"  # list @type joins
    assert blocks[3].ld_type == "WebSite"        # @graph flattens
    assert blocks[5].valid is False              # malformed still emits
    assert all(len(b.raw_md5) == 32 for b in blocks)
    # name beats headline when both present
    both = extract_jsonld(
        b'<script type="application/ld+json">'
        b'{"@type":"A","name":"N","headline":"H"}</script>'
    )
    assert both[0].name == "N"
    # no ld+json -> nothing; unterminated script -> runs to EOF, parses
    assert extract_jsonld(b"<html><script>var a=1;</script></html>") == []
    tail = extract_jsonld(
        b'<script type="application/ld+json">{"@type":"T"}'
    )
    assert len(tail) == 1 and tail[0].ld_type == "T" and tail[0].valid
    assert extract_jsonld(b"") == []


def test_robots_meta_directives_normalized():
    from pdf_ocr_spark.kernels.html_extract import extract_metadata

    m = extract_metadata(
        b'<html><head><meta name="ROBOTS" '
        b'content="NOINDEX, nofollow, noindex"></head></html>'
    )
    assert m.robots == "nofollow,noindex"  # lowercased, deduped, sorted
    first = extract_metadata(
        b"<html><head><meta name=robots content='none'>"
        b"<meta name=robots content='all'></head></html>"
    )
    assert first.robots == "none"  # first occurrence wins
    assert extract_metadata(
        b"<html><head><meta name=robots content=''></head></html>"
    ).robots is None
    assert extract_metadata(b"<html><head></head></html>").robots is None


def test_microdata_value_channels_and_nesting():
    """Every WHATWG value channel resolves from the right place; nested
    itemscopes become #item references on the parent AND independent
    items; orphan itemprops and quoted-attribute decoys are skipped."""
    from pdf_ocr_spark.kernels.html_extract import extract_microdata

    html = (
        b'<div itemscope itemtype="https://schema.org/Product">'
        b'<span itemprop="name">Acme <b>Anvil</b></span>'
        b'<meta itemprop="sku" content="A-1">'
        b'<img itemprop="image" src="/i.png">'
        b'<a itemprop="url" href="https://s.test/a">buy</a>'
        b'<time itemprop="d1" datetime="2024-05-01">May</time>'
        b'<time itemprop="d2">June 9</time>'
        b'<div itemprop="offers" itemscope itemtype="https://schema.org/Offer">'
        b'<span itemprop="price">9.99</span></div></div>'
        b'<span itemprop="orphan">skip</span>'
        b'<div content="itemscope"><span itemprop="x">skip too</span></div>'
    )
    rows = {(r.prop, r.item_index): r for r in extract_microdata(html)}
    assert rows[("name", 0)].value == "Acme Anvil"
    assert rows[("name", 0)].source == "text"
    assert rows[("sku", 0)].value == "A-1" and rows[("sku", 0)].source == "content"
    assert rows[("image", 0)].source == "src"
    assert rows[("url", 0)].source == "href"
    assert rows[("d1", 0)].value == "2024-05-01"
    assert rows[("d2", 0)].value == "June 9"       # datetime fallback: text
    assert rows[("d2", 0)].source == "text"
    assert rows[("offers", 0)].value == "#item1"
    assert rows[("price", 1)].value == "9.99"
    assert rows[("price", 1)].item_index == 1
    assert ("orphan", None) not in rows
    assert not any(r.prop in ("orphan", "x") for r in extract_microdata(html))


def test_microdata_tolerance():
    """Bare vs valued vs uppercase itemscope, entity/whitespace
    normalization, truncated pages (unclosed prop still emits), and
    non-HTML bytes (no raise, no rows)."""
    from pdf_ocr_spark.kernels.html_extract import extract_microdata

    valued = extract_microdata(
        b'<div ITEMSCOPE="" ITEMTYPE="t"><span ITEMPROP="n">X</span></div>'
    )
    assert [(r.prop, r.value, r.item_type) for r in valued] == [("n", "X", "t")]

    norm = extract_microdata(
        b'<p itemscope><span itemprop="note">  a&amp;b   c  </span></p>'
    )
    assert norm[0].value == "a&b c"

    trunc = extract_microdata(
        b'<div itemscope itemtype="r"><span itemprop="name">Soup'
    )
    assert [(r.prop, r.value) for r in trunc] == [("name", "Soup")]

    assert extract_microdata(b"\x00\x01\x02 not html") == []
    assert extract_microdata(b"<html><p>plain</p></html>") == []


def test_hreflang_channels_and_decoys():
    """<link rel=alternate hreflang> extraction: quoted/unquoted/
    single-quoted and UPPERCASE markup, entity-decoded hrefs,
    lowercased language tags, document order — and rel=alternate
    WITHOUT hreflang (feed links) or hreflang without href must not
    emit."""
    from pdf_ocr_spark.kernels.html_extract import extract_hreflang

    html = b"""<html><head>
    <link rel="alternate" hreflang="en" href="https://x.test/en">
    <LINK REL='alternate' HREFLANG='FR' HREF="https://x.test/fr?a=1&amp;b=2">
    <link rel=alternate hreflang=de href=https://x.test/de>
    <link rel="alternate" type="application/rss+xml" href="/feed.xml">
    <link rel="alternate" hreflang="ja">
    <link rel="stylesheet" hreflang="zh" href="/style.css">
    </head><body></body></html>"""
    assert extract_hreflang(html) == [
        ("en", "https://x.test/en"),
        ("fr", "https://x.test/fr?a=1&b=2"),
        ("de", "https://x.test/de"),
    ]


def test_hreflang_garbage_and_empty():
    from pdf_ocr_spark.kernels.html_extract import extract_hreflang

    assert extract_hreflang(b"") == []
    assert extract_hreflang(b"\xff\xfe\x00garbage") == []
    assert extract_hreflang(b"<p>no links</p>") == []


def test_hreflang_corpus_decoy_and_reciprocity_shapes():
    """The fixture corpus exercises the audit-relevant shapes: kind-1
    clusters have one member emitting nothing (broken reciprocity),
    kind-4's feed decoy does not emit, kind-5 pages emit nothing."""
    from pdf_ocr_spark.fixtures.genpages import gen_hreflang_rows
    from pdf_ocr_spark.kernels.html_extract import extract_hreflang

    rows = gen_hreflang_rows(12)
    by_url = {r["url"]: extract_hreflang(r["html"]) for r in rows}
    # kind 4 (cluster 4): first page has the rss decoy — only hreflang rows
    c4 = [v for u, v in by_url.items() if "/hl/0004/" in u]
    assert all(all(len(t) == 2 and t[0] != "" for t in v) for v in c4)
    assert not any("feed.xml" in href for v in c4 for _, href in v)
    # kind 5 (cluster 5): no annotations at all
    assert all(v == [] for u, v in by_url.items() if "/hl/0005/" in u)
    # kind 1 (cluster 1): exactly one member silent, others annotated
    c1 = [v for u, v in by_url.items() if "/hl/0001/" in u]
    assert sum(1 for v in c1 if v == []) == 1
    assert sum(1 for v in c1 if v) == len(c1) - 1


# -- hostile pages: linear time, and the result of the replaced extractor ------------


def _min_cpu(fn, page, runs=2):
    # the test process's own heap is frozen out of the cyclic GC, as a
    # tuned worker's is (``extract_job._tune_worker``): otherwise a full
    # collection over that heap can land inside one timed call
    import gc
    import time

    best = None
    for _ in range(runs):
        gc.collect()
        gc.freeze()
        try:
            t0 = time.process_time()
            out = fn(page)
            cpu = time.process_time() - t0
        finally:
            gc.unfreeze()
        best = cpu if best is None else min(best, cpu)
    return out, best


def test_script_bomb_page_costs_linear_time():
    """32,000 tiny <script> elements before 2 MB of text (2.7 MB): each
    script body was skipped by searching a copy of the rest of the page,
    7.1 s for this page.  The raw element is now one token of the scan;
    the microdata scan searches for the close tag from its cursor."""
    import html_extract_oracle as oracle
    from pdf_ocr_spark.kernels.html_extract import extract_microdata, extract_tables

    page = (b"<html><body>" + b"<script>x</script>" * 32000 + b"<div><p>"
            + b"word, " * 350000 + b"</p></div></body></html>")
    got, cpu = _min_cpu(extract_html, page)
    assert cpu <= 0.3, cpu
    assert got[1] == "ok"
    assert got == oracle.extract_html(page)
    assert _min_cpu(extract_tables, page)[1] <= 0.3
    assert _min_cpu(extract_microdata, page)[1] <= 0.5


def test_deep_unclosed_div_page_costs_linear_time():
    """100k unclosed <div>: the stack stays 200 deep and the rest are
    leaves, so the cost grows with the page (the replaced extractor took
    56 s here, rejoining its whole pending line at every leaf).  Checked
    against it on a 3,000-deep page of the same shape."""
    import html_extract_oracle as oracle

    def page(depth):
        return (b"<div>" * depth + b"<p>the deepest paragraph, with words enough</p>"
                + b"text, " * 2000)

    got, cpu = _min_cpu(extract_html, page(100_000))
    assert cpu <= 1.0, cpu
    assert got[1] == "ok"
    assert extract_html(page(3000)) == oracle.extract_html(page(3000))


@pytest.mark.parametrize("run", [
    lambda n: b"<a " * n,
    lambda n: b'<a x="y" ' * n,
    lambda n: b"".join(b"<a href=u%d>x " % i for i in range(n)),
], ids=["bare", "quoted", "distinct_hrefs"])
def test_unclosed_tag_runs_cost_linear_time(run):
    """A '<' and a tag name with no '>' after them: each such tag used to
    retry the tag patterns to the end of the page (``extract_html`` 1.04 s
    at 10,000 bare ``<a ``, ``extract_metadata`` 4.1 s at 5,000).  Every
    tag search now stops at the page's last '>', so doubling the run
    costs under 3x (plus 10 ms for timer grain on the near-free scans).
    Unclosed anchors with distinct hrefs used to search for ``</a>`` to
    the end of the page each (``extract_links_attrs`` 1.28 s at 16,000);
    that search now stops at the next ``<a``."""
    from pdf_ocr_spark.kernels import html_extract as h

    for fn in (h.extract_html, h.extract_tables, h.extract_metadata,
               h.extract_links_attrs, h.extract_hreflang, h.extract_jsonld,
               h.extract_microdata):
        cost = [_min_cpu(fn, b"<p>" + run(n))[1] for n in (20_000, 40_000)]
        assert cost[1] < 3 * cost[0] + 0.01, (fn.__name__, cost)


@pytest.mark.parametrize("page", [
    "<!-- x><a ", "<p>a</p>tail<b c", "<script>x>y<a ", "<!x><a", "<p><!--",
    "x>y<?php", "<a>b</a><", "<style>p{}</style><a href", "a>b<!-- c",
])
def test_scan_past_the_last_gt_matches_the_full_scan(page):
    """The tokens past the page's last '>' (read without the tag
    patterns) and the one spanning it equal the full scan's."""
    from pdf_ocr_spark.kernels.html_extract import _SCAN_RE, _scan

    assert _scan(page) == _SCAN_RE.findall(page)
