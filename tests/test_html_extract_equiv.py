"""The one-pass HTML kernel equals the tree-building extractor it replaced.

``html_extract._parse`` scans a page once and scores each element when
it ends; ``html_extract_oracle`` is the extractor it replaced, kept
verbatim (a ``_Node`` tree, a recursive ``_accumulate``, an
``_iter_nodes`` scoring walk and a recursive ``_render_text``).  On
every page of the ``ingest_commit`` corpus, on the HTML rows of the
``extract_mix`` corpora, on every non-PDF payload of the fixture
``CORPORA`` and on a hypothesis soup of misnested and unclosed tags,
entities, comments, CDATA and raw ``<script>``/``<style>`` bodies, both
must give the same ``extract_html`` triple (text, status, reason) and
the same ``extract_tables`` list.
"""

import os
import sys
from typing import List

from hypothesis import given, settings, strategies as st

import html_extract_oracle as oracle
from pdf_ocr_spark.fixtures.genpages import CORPORA
from pdf_ocr_spark.kernels.html_extract import extract_html, extract_tables


def _assert_same(page: bytes) -> None:
    assert extract_html(page) == oracle.extract_html(page), page[:400]
    assert extract_tables(page) == oracle.extract_tables(page), page[:400]


def _perfbench():
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "perfbench"))
    try:
        import inputs
    finally:
        sys.path.pop(0)
    return inputs


def _not_pdf(v) -> bool:
    return isinstance(v, (bytes, bytearray)) and bytes(v[:5]) != b"%PDF-"


def test_every_ingest_commit_page():
    for r in _perfbench().html_rows(5500, 3):
        _assert_same(r["html"])


def test_every_html_row_of_the_mixed_corpora():
    n = 0
    for seed in (1, 2, 3):
        for r in _perfbench().mixed_rows(3000, seed):
            if _not_pdf(r["html"]):
                _assert_same(r["html"])
                n += 1
    assert n > 3000


def test_every_non_pdf_payload_of_the_fixture_corpora():
    pages: List[bytes] = []
    for build in CORPORA.values():
        pages += [bytes(v) for r in build() for v in r.values() if _not_pdf(v)]
    assert len(pages) > 500
    for page in dict.fromkeys(pages):
        _assert_same(page)


# -- a soup of tag fragments ------------------------------------------------------

_TAGS = [
    "p", "div", "span", "a", "b", "li", "ul", "td", "th", "tr", "table",
    "caption", "article", "section", "main", "body", "nav", "aside",
    "footer", "header", "h1", "h3", "pre", "blockquote", "br", "hr", "img",
    "title", "script", "style", "svg", "noscript", "template", "iframe",
    "object", "scripts", "P", "DIV", "Td", "A", "Script", "STYLE",
]
_WORDS = [
    "word", "a longer run of words to pass the length gate,",
    "commas, and more commas, here", "全角，逗号、顿号", "x" * 40, "&amp;",
    "&lt;p&gt;", "&nbsp;", "&#10;", "&#1;", "&#x20;", "&mdash", "&bogus;",
    "&amp\r", " ", "  ", "\n", "\t\v\f\r", "\xa0", "　", "a  b", "<",
    "<<", "< p>", "5 < 6", ">", "\"", "'",
]
_ATTRS = ["", " id=x", ' class="a b"', " title='x>y'", ' title="x>y"',
          " /", "/", " data-x", ' href="/p/1"', ' a="unclosed', " a='b'c"]
_RAW_BODIES = ["x", "</p>", "<p>not text</p>", "<!--", "a</scriptx>b", ""]
_CLOSERS = ["</script>", "</SCRIPT >", "</style\n>", "</svg>", "</script", ""]

_FRAGMENTS = st.one_of(
    st.sampled_from(_WORDS),
    st.builds(lambda t, a: f"<{t}{a}>", st.sampled_from(_TAGS), st.sampled_from(_ATTRS)),
    st.builds(lambda t: f"</{t}>", st.sampled_from(_TAGS)),
    # an element and a word in one paragraph: a blank word sits between them
    st.builds(lambda t, w: f"<p><{t}>{w}</{t}>{w}</p>", st.sampled_from(_TAGS),
              st.sampled_from(_WORDS)),
    st.sampled_from([
        "<!-- a comment -->", "<!--", "<!-->", "<!--->", "<!---->",
        "<![CDATA[ x < y ]]>", "<!DOCTYPE html>", "<?xml version='1.0'?>",
        "<!", "<?", "</ p>", "</>", "<p", "<a href='x", "</p ", "<1>",
    ]),
    st.builds(lambda t, b, c: f"<{t}>{b}{c}", st.sampled_from(["script", "style", "svg"]),
              st.sampled_from(_RAW_BODIES), st.sampled_from(_CLOSERS)),
)


@settings(max_examples=1500, deadline=None, derandomize=True)
@given(st.lists(_FRAGMENTS, max_size=40))
def test_tag_soup(fragments):
    _assert_same("".join(fragments).encode("utf-8"))


@settings(max_examples=300, deadline=None, derandomize=True)
@given(st.lists(st.one_of(_FRAGMENTS, st.text(max_size=6)), max_size=30))
def test_tag_soup_with_random_text(fragments):
    _assert_same("".join(fragments).encode("utf-8", "surrogatepass"))


def test_pinned_shapes():
    for page in (
        b"",
        b"   ",
        b"<div></div>",
        b"<div> <br> </div>",  # only blank text: no text
        b"<span>inline text long enough to be the page's whole content</span>",
        b"<div><p><b>bold</b> <i>italic</i>\n<a>link</a> words to pass, the gate</p></div>",
        # equal scores: the earlier candidate wins
        b"<div><p>" + b"y" * 30 + b"</p></div><div><p>" + b"y" * 30 + b"</p></div>",
        # an inline winner drops the text after its last block
        b"<b><p>" + b"z, " * 20 + b"</p>tail</b>",
        # a paragraph inside a link: all link text, so the fallback decides
        b"<div><a><p>" + b"w" * 40 + b"</p></a></div>",
        b"<table><caption></caption><caption>cap</caption><tr><td>1<td>2</tr>"
        b"<tr><table><tr><th>in</th></tr></table></tr></table>",
        b"<table><tr><tr><td>nested row</td></tr></tr></table>",
        b"<div>" * 250 + b"<table><tr><td>deep</td></tr></table>" + b"<p>" + b"q" * 30,
    ):
        _assert_same(page)
