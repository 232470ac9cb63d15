"""Readability-style HTML main-content extractor (boilerplate stripper).

Not present in the reference (which is PDF/image-only) — required by the
engine's north rule for HTML rows of the Common-Crawl-style input table
(SURVEY.md K5): per-node text-density and link-density scores pick the
densest subtree as the main content.

One pass over the page (:func:`_parse`): one compiled regex splits it
into text runs, tags, comments and whole raw elements (script, style,
...), and a stack of open elements takes each token in turn.  An
element's text, link-text and comma totals are running sums read off at
its end, and its readability points go to its parent and grandparent
there; no tree is walked afterwards.  Entities are decoded only in runs
that hold a '&'.  :func:`extract_tables` reads the same parse.  The
tree-building extractor it replaced is kept as the test oracle
(``tests/html_extract_oracle.py``).

Pure Python (stdlib ``html`` for entity decoding only); deterministic:
ties break on document order.  Runs vectorized at the Arrow-batch level
inside ``mapInArrow`` alongside the PDF kernel.
"""

from __future__ import annotations

import html as _htmllib
import re
from operator import attrgetter
from typing import Dict, List, NamedTuple, Optional, Tuple

_TAG_RE = re.compile(
    r"<(/?)([a-zA-Z][a-zA-Z0-9:-]*)((?:[^>\"']|\"[^\"]*\"|'[^']*')*)(/?)>", re.S
)
# a whitespace run to collapse to one space: every run but a lone space
_WS_RE = re.compile(r"[\t\r\n\f\v][ \t\r\n\f\v]*+| [ \t\r\n\f\v]++")

# elements whose content is never text
_RAW_SKIP = {"script", "style", "noscript", "template", "svg", "iframe", "object"}
# elements that terminate/force block boundaries in the text output
_BLOCK_TAGS = {
    "p", "div", "section", "article", "main", "body", "header", "footer",
    "nav", "aside", "h1", "h2", "h3", "h4", "h5", "h6", "ul", "ol", "li",
    "table", "tr", "td", "th", "blockquote", "pre", "figure", "figcaption",
    "dl", "dt", "dd", "br", "hr", "form", "fieldset",
}
# containers worth scoring as main-content candidates
_CANDIDATE_TAGS = {"div", "article", "main", "section", "td", "body", "blockquote"}
# void elements (no closing tag)
_VOID = {
    "br", "hr", "img", "input", "meta", "link", "area", "base", "col",
    "embed", "source", "track", "wbr", "param",
}
# boilerplate-indicating containers: penalized in scoring
_NEGATIVE_TAGS = {"nav", "aside", "footer", "header"}
# elements whose text earns readability points for their container
_PARAGRAPHISH = {"p", "pre", "td", "blockquote", "li", "h1", "h2", "h3", "h4", "h5", "h6"}

# One scan of the page, one token a match: a text run (group 1); a
# comment, doctype or processing instruction, or a raw element from its
# open tag to its close tag (no group: skipped whole); a tag (groups 2-3:
# '/' and the name); or a '<' that starts none of these (group 4, text).
# A tag ends at the first '>' outside quotes.  A raw element's name
# matches in ASCII upper or lower case, as a lowercased tag name did, and
# its close tag case-insensitively, as the ``</name\s*>`` search it
# replaces.
_ATTRS = r"""[^>"']*+(?:(?:"[^"]*+"|'[^']*+')[^>"']*+)*+"""
_SCAN_RE = re.compile(
    r"([^<]++)|<(?:!--.*?(?:-->|\Z)|[!?][^>]*+>?"
    + f"|(?=[{''.join(sorted({t[0] + t[0].upper() for t in _RAW_SKIP}))}])(?:"
    + "|".join(
        rf"{''.join(f'[{c}{c.upper()}]' for c in t)}(?![a-zA-Z0-9:-]){_ATTRS}>"
        rf".*?(?:(?i:</{t}\s*>)|\Z)"
        for t in sorted(_RAW_SKIP)
    )
    + rf")|(/?)([a-zA-Z][a-zA-Z0-9:-]*+){_ATTRS}>)|(<)",
    re.S,
)
_EOF = ("", "/", "", "")  # closes every element still open
# past the page's last '>': a text run, a '<!' or '<?' that takes the rest
# (comment or declaration), or a stray '<'
_TAIL_RE = re.compile(r"([^<]++)|<[!?].*|(<)", re.S)


def _scan(text: str) -> list:
    """``_SCAN_RE.findall(text)`` in linear time.  A tag or raw element
    needs a '>' after its '<', so none starts past the page's last '>';
    there each '<' would retry the tag patterns to the end of the page.
    So :data:`_SCAN_RE` reads the tokens that start before it (one may
    run on to the end: a comment or raw element left open) and
    :data:`_TAIL_RE` the rest."""
    end = text.rfind(">") + 1
    if text.find("<", end) < 0:
        return _SCAN_RE.findall(text)
    toks = []
    pos = 0
    for m in _SCAN_RE.finditer(text):
        if m.start() >= end:
            break
        toks.append(m.groups(""))
        pos = m.end()
    toks += [(t, "", "", lt) for t, lt in _TAIL_RE.findall(text, pos)]
    return toks


def _tags(text: str):
    """``_TAG_RE.finditer(text)`` stopped at the page's last '>', where
    every tag ends: past it each '<' would retry to the end of the page."""
    return _TAG_RE.finditer(text, 0, text.rfind(">") + 1)


class _Node:
    """One element, built at its open tag.  Its text and bound spans,
    totals, points and scores are final once its end is read."""

    __slots__ = (
        "tag", "up", "t0", "t1", "b0", "b1", "tl0", "ll0", "cc0",
        "link", "neg", "pts", "halves", "score", "dense",
    )

    def __init__(self, tag, up, nt, nb, tl, ll, cc, link, neg):
        self.tag = tag
        self.up = up  # the parent element (None for the root)
        self.t0 = self.t1 = nt  # its chunks are texts[t0:t1]
        self.b0 = self.b1 = nb  # its descendants' block bounds[b0:b1]
        self.tl0, self.ll0, self.cc0 = tl, ll, cc  # running sums at start
        self.link = link  # an <a> or inside one
        self.neg = neg  # a boilerplate container or inside one
        self.pts = 0.0  # readability points from its children
        self.halves = None  # its children's halves, owed to its parent
        self.score = self.dense = 0.0


def _parse(html_text: str):
    """Stack-based tolerant HTML parse in one pass → (nodes, texts,
    bounds, text length).

    ``texts`` holds the page's text chunks in document order, entities
    decoded (a blank chunk is one space, dropped while the element it
    falls in has neither text nor children); node ``n`` holds
    ``texts[n.t0:n.t1]``.  ``bounds`` holds ``len(texts)`` at the start
    and the end of every block element, and node ``n`` the block bounds
    of its descendants in ``bounds[n.b0:n.b1]``.  ``nodes`` lists every
    element but the void ones in document order, the root first.

    Totals are running sums over the chunks (text length, link text
    length, commas), so an element's totals are two subtractions at its
    end.  There it also gives its readability points to its parent, and
    half to its grandparent in the order a pre-order walk would add them:
    its own points first, then its children's halves.  ``score`` and
    ``dense`` end as the element's paragraph score and its no-paragraph
    fallback score (0.0 when it is not a candidate)."""
    root = _Node("#root", None, 0, 0, 0, 0, 0, False, False)
    nodes = [root]
    stack = [root]
    top = root
    texts: List[str] = []
    bounds: List[int] = []
    has_texts = False  # top has a child or a non-blank chunk
    link = False  # top is an <a> or inside one
    tl = ll = cc = 0  # running text length, link text length, commas
    toks = _scan(html_text)
    toks.append(_EOF)
    for txt, slash, name, lt in toks:
        if slash:
            tag = name.lower()
            if top.tag == tag:
                cut = len(stack) - 1
            elif name:
                cut = 0  # no such element open: the tag is dropped
                for k in range(len(stack) - 2, 0, -1):
                    if stack[k].tag == tag:
                        cut = k
                        break
            else:
                cut = 1  # end of input
            if cut:
                nt = len(texts)
                for node in stack[: cut - 1 : -1]:  # the deepest first
                    node.t1 = nt
                    node.b1 = len(bounds)
                    n = tl - node.tl0
                    if n:
                        tag = node.tag
                        up = node.up
                        if n >= 25 and tag in _PARAGRAPHISH:
                            pts = 1.0 + min(cc - node.cc0, 3) + min(n / 90.0, 3.0)
                            up.pts += pts
                            if up.halves:
                                up.halves.append(pts / 2.0)
                            else:
                                up.halves = [pts / 2.0]
                        if node.halves:
                            for h in node.halves:
                                up.pts += h
                        density = (ll - node.ll0) / n
                        pts = node.pts
                        if pts:
                            pts = pts * (1.0 - density)
                            node.score = pts * 0.2 if node.neg else pts
                        if n >= 25 and tag in _CANDIDATE_TAGS:
                            node.dense = n * (1.0 - density)
                    if node.tag in _BLOCK_TAGS:
                        bounds.append(nt)
                del stack[cut:]
                top = stack[-1]
                link = top.link
                has_texts = True
        elif name:
            tag = name.lower()
            nt = len(texts)
            if tag in _BLOCK_TAGS:
                bounds.append(nt)
            has_texts = True
            if tag not in _VOID:  # a void element holds nothing to keep
                node = _Node(tag, top, nt, len(bounds), tl, ll, cc,
                             link or tag == "a", top.neg or tag in _NEGATIVE_TAGS)
                nodes.append(node)
                if len(stack) < 200:  # unclosed-tag bombs stay 200 deep
                    stack.append(node)
                    top = node
                    link = node.link
                    has_texts = False
        else:
            if not txt:
                if not lt:
                    continue  # comment, declaration or raw element
                txt = lt
            elif "&" in txt:
                txt = _htmllib.unescape(txt)
                if not txt:
                    continue
            core = txt.strip()
            if not core:
                if has_texts:
                    texts.append(" ")
                continue
            # whitespace runs inside a chunk count as one character each
            n = (len(core) if core.isprintable() and "  " not in core
                 else len(_WS_RE.sub(" ", core)))
            texts.append(txt)
            tl += n
            if link:
                ll += n
            cc += txt.count(",")
            if not txt.isascii():
                cc += txt.count("，") + txt.count("、")
            has_texts = True
    root.t1, root.b1 = len(texts), len(bounds)
    return nodes, texts, bounds, tl


def _node_text(texts: List[str], node: _Node) -> str:
    """Whitespace-collapsed subtree text (inline flow, no block breaks)."""
    return _WS_RE.sub(" ", "".join(texts[node.t0 : node.t1])).strip()


def _render_text(texts: List[str], bounds: List[int], node: _Node) -> List[str]:
    """The node's text lines: block-level bounds break lines, inline
    text flows, and a line of blanks waits for the next line."""
    cuts = bounds[node.b0 : node.b1]
    if node.tag in _BLOCK_TAGS:
        cuts.append(node.t1)
    out: List[str] = []
    lo = node.t0
    for hi in cuts:
        if hi > lo:
            line = "".join(texts[lo:hi])
            if line.strip():
                out.append(_WS_RE.sub(" ", line).strip())
                lo = hi
    return out


class HtmlTable(NamedTuple):
    """One extracted <table>: caption, row-major cell text, and shape."""

    table_index: int        # document order, 0-based
    caption: str            # <caption> subtree text, '' if absent
    n_rows: int
    n_cols: int             # max cells per row (ragged rows allowed)
    rows: List[List[str]]   # cell texts, whitespace-collapsed


def extract_tables(data: bytes) -> List[HtmlTable]:
    """Structured <table> extraction — the HTML twin of the PDF
    ruled-grid table blocks (kernels/pdf/layout.py table_regions): one
    entry per <table> in document order with caption, shape, and
    row-major cell texts.  Rows are this table's own <tr> (a nested
    table's rows belong to the nested entry; its full text still appears
    inside the enclosing cell).  Never raises; undecodable or tableless
    input returns [].  At most 200 tables per document.

    One walk over the parse's nodes in document order: each node's
    nearest enclosing table is its parent's, or the parent itself."""
    try:
        nodes, texts, _, _ = _parse(decode_html_bytes(data))
    except Exception:  # noqa: BLE001 — poison input must not raise
        return []
    if not any(node.tag == "table" for node in nodes):
        return []
    owner = {nodes[0]: None}  # node → its nearest table above
    tables: Dict[_Node, list] = {}  # table → [caption, rows], in order
    cells: Dict[_Node, List[str]] = {}  # tr → its td/th texts
    for node in nodes[1:]:
        tag, up = node.tag, node.up
        tbl = up if up.tag == "table" else owner[up]
        owner[node] = tbl
        if tag == "table":
            if len(tables) < 200:
                tables[node] = ["", []]
        elif tag in ("td", "th"):
            if up in cells:
                cells[up].append(_node_text(texts, node))
        elif tbl in tables:
            if tag == "tr":
                tables[tbl][1].append(cells.setdefault(node, []))
            elif tag == "caption" and not tables[tbl][0]:
                tables[tbl][0] = _node_text(texts, node)
    out: List[HtmlTable] = []
    for ti, (caption, rows) in enumerate(tables.values()):
        rows = [r for r in rows if r]
        out.append(
            HtmlTable(
                ti,
                caption,
                len(rows),
                max((len(r) for r in rows), default=0),
                rows,
            )
        )
    return out


_HREF_RE = re.compile(r"""href\s*=\s*(?:"([^"]*)"|'([^']*)'|([^\s>]+))""", re.I)


_REL_RE = re.compile(r"""rel\s*=\s*(?:"([^"]*)"|'([^']*)'|([^\s>]+))""", re.I)


_A_CLOSE_RE = re.compile(r"</a\s*>", re.I)
_A_OPEN_RE = re.compile(r"<a[\s>]", re.I)


def extract_links_attrs(data: bytes) -> List[Tuple[str, bool, str]]:
    """All anchor (href, nofollow, anchor_text) triples in document
    order, entity-decoded, first occurrence kept — the crawl-frontier
    discovery pass a Common-Crawl pipeline runs alongside extraction.
    ``nofollow`` (rel="nofollow"/"ugc"/"sponsored", the robots link-level
    opt-outs) drives frontier prioritization; ``anchor_text`` (inner
    markup stripped, whitespace collapsed, capped at 200 chars) is the
    classic target-page relevance label.  Regex tag scan (_TAG_RE, the
    parser's tag grammar), deterministic, never raises."""
    try:
        text = decode_html_bytes(data)
    except Exception:  # noqa: BLE001 — bytes-ish inputs only
        return []
    out: List[Tuple[str, bool, str]] = []
    seen = set()
    for m in _tags(text):
        closing, tag, attrs, _ = m.groups()
        if closing or tag.lower() != "a":
            continue
        hm = _HREF_RE.search(attrs)
        if not hm:
            continue
        href = _htmllib.unescape(
            hm.group(1) or hm.group(2) or hm.group(3) or ""
        ).strip()
        if not href or href in seen:
            continue
        seen.add(href)
        rm = _REL_RE.search(attrs)
        rel = (rm.group(1) or rm.group(2) or rm.group(3) or "") if rm else ""
        nofollow = bool(
            {"nofollow", "ugc", "sponsored"} & set(rel.lower().split())
        )
        # capture ends at </a> OR at the next <a …> open tag — HTML5
        # auto-closes an unclosed anchor there, and without the bound an
        # unclosed <a> would swallow the NEXT anchor's text as its own.
        # The </a> search stops at that open tag, so a page of unclosed
        # anchors costs linear time, not a search to the end per anchor.
        om = _A_OPEN_RE.search(text, m.end())
        bound = len(text) if om is None else om.start()
        cm = _A_CLOSE_RE.search(text, m.end(), bound)
        end = cm.start() if cm else (om.start() if om else None)
        anchor = ""
        if end is not None:
            inner = text[m.end() : end]
            k = inner.rfind(">") + 1  # the tags end by it (see _tags)
            inner = _TAG_RE.sub(" ", inner[:k]) + inner[k:]
            anchor = _WS_RE.sub(" ", _htmllib.unescape(inner)).strip()[:200]
        out.append((href, nofollow, anchor))
    return out


def extract_links(data: bytes) -> List[str]:
    """Hrefs only — see :func:`extract_links_attrs`."""
    return [href for href, _, _ in extract_links_attrs(data)]


class HtmlMeta(NamedTuple):
    """Document metadata (trafilatura-style head scan): every field is
    None when absent; first occurrence wins throughout."""

    title: Optional[str]        # <title> inner text, 300-char cap
    description: Optional[str]  # <meta name=description content=…>
    canonical: Optional[str]    # <link rel=canonical href=…>
    lang: Optional[str]         # <html lang=…>
    og_title: Optional[str]     # <meta property=og:title content=…>
    og_image: Optional[str]     # <meta property=og:image content=…>
    published: Optional[str]    # article:published_time > <time datetime>
    #                             > JSON-LD datePublished
    robots: Optional[str]       # <meta name=robots content=…>, normalized:
    #                             lowercased tokens, sorted, comma-joined


_ATTR_RES: Dict[str, "re.Pattern[str]"] = {}


def _attr(attrs: str, name: str) -> Optional[str]:
    """Value of ``name=…`` inside a tag's attribute string — double,
    single, or unquoted; entity-decoded and trimmed; None if absent."""
    pat = _ATTR_RES.get(name)
    if pat is None:
        pat = re.compile(
            rf"""(?:^|\s){name}\s*=\s*(?:"([^"]*)"|'([^']*)'|([^\s>]+))""", re.I
        )
        _ATTR_RES[name] = pat
    m = pat.search(attrs)
    if not m:
        return None
    return _htmllib.unescape(m.group(1) or m.group(2) or m.group(3) or "").strip()


_TITLE_CLOSE_RE = re.compile(r"</title\s*>", re.I)
_LDJSON_DATE_RE = re.compile(r'"datePublished"\s*:\s*"([^"]+)"')


def extract_metadata(data: bytes) -> HtmlMeta:
    """bytes → :class:`HtmlMeta` — the head-metadata pass a crawl
    pipeline runs alongside main-content extraction (page title,
    canonical URL for URL-level dedup, declared language, OpenGraph
    fields, publish date).

    Same tolerant regex tag scan as :func:`extract_links_attrs` (one
    pass, document order, first occurrence wins).  Publish-date
    priority: ``<meta property=article:published_time>`` beats
    ``<time datetime=…>`` beats JSON-LD ``datePublished`` — the order
    of decreasing structure.  Deterministic, never raises."""
    empty = HtmlMeta(None, None, None, None, None, None, None, None)
    try:
        text = decode_html_bytes(data)
    except Exception:  # noqa: BLE001 — bytes-ish inputs only
        return empty
    vals: Dict[str, Optional[str]] = dict.fromkeys(
        ("title", "description", "canonical", "lang",
         "og_title", "og_image", "meta_date", "time_date", "robots")
    )
    for m in _tags(text):
        closing, tag, attrs, _ = m.groups()
        if closing:
            continue
        tag = tag.lower()
        if tag == "title" and vals["title"] is None:
            cm = _TITLE_CLOSE_RE.search(text, m.end())
            inner = text[m.end() : cm.start()] if cm else ""
            vals["title"] = (
                _WS_RE.sub(" ", _htmllib.unescape(inner)).strip()[:300] or None
            )
        elif tag == "meta":
            name = (_attr(attrs, "name") or "").lower()
            prop = (_attr(attrs, "property") or "").lower()
            content = _attr(attrs, "content")
            if not content:
                continue
            if name == "description" and vals["description"] is None:
                vals["description"] = content
            elif name == "robots" and vals["robots"] is None:
                # normalize the directive list: lowercase tokens, sorted
                # unique, comma-joined — "NOINDEX, nofollow" and
                # "nofollow,noindex" gate identically downstream
                toks = sorted(
                    {t.strip().lower() for t in content.split(",") if t.strip()}
                )
                vals["robots"] = ",".join(toks) or None
            elif prop == "og:title" and vals["og_title"] is None:
                vals["og_title"] = content
            elif prop == "og:image" and vals["og_image"] is None:
                vals["og_image"] = content
            elif prop == "article:published_time" and vals["meta_date"] is None:
                vals["meta_date"] = content
        elif tag == "link" and vals["canonical"] is None:
            rel = (_attr(attrs, "rel") or "").lower()
            if "canonical" in rel.split():
                vals["canonical"] = _attr(attrs, "href") or None  # '' = absent
        elif tag == "html" and vals["lang"] is None:
            vals["lang"] = _attr(attrs, "lang")
        elif tag == "time" and vals["time_date"] is None:
            vals["time_date"] = _attr(attrs, "datetime")
    ld_date = None
    if vals["meta_date"] is None and vals["time_date"] is None:
        lm = _LDJSON_DATE_RE.search(text)
        if lm:
            ld_date = _htmllib.unescape(lm.group(1)).strip()
    return HtmlMeta(
        title=vals["title"],
        description=vals["description"],
        canonical=vals["canonical"],
        lang=vals["lang"],
        og_title=vals["og_title"],
        og_image=vals["og_image"],
        published=vals["meta_date"] or vals["time_date"] or ld_date,
        robots=vals["robots"],
    )


def extract_hreflang(data: bytes) -> List[Tuple[str, str]]:
    """bytes → ``[(hreflang, href)]`` from ``<link rel="alternate"
    hreflang=… href=…>`` head annotations — the cross-language page
    mapping (Google's hreflang protocol) a multilingual crawl uses to
    cluster translations of one page.

    Same tolerant one-pass regex tag scan as :func:`extract_metadata`;
    document order preserved, duplicates kept (downstream dedups),
    hreflang lowercased (BCP 47 is case-insensitive), entity-decoded
    hrefs.  Deterministic, never raises."""
    try:
        text = decode_html_bytes(data)
    except Exception:  # noqa: BLE001 — bytes-ish inputs only
        return []
    out: List[Tuple[str, str]] = []
    for m in _tags(text):
        closing, tag, attrs, _ = m.groups()
        if closing or tag.lower() != "link":
            continue
        rel = (_attr(attrs, "rel") or "").lower()
        if "alternate" not in rel.split():
            continue
        hreflang = _attr(attrs, "hreflang")
        href = _attr(attrs, "href")
        if hreflang and href:
            out.append((hreflang.strip().lower(), href))
    return out


def decode_html_bytes(data: bytes) -> str:
    """Crawl-grade charset sniff, the HTML5 encoding-sniffing order
    (WHATWG §13.2.3.2): a byte-order mark wins outright (UTF-8 /
    UTF-16LE / UTF-16BE — a BOM'd UTF-16 page otherwise latin-1s into
    NUL-riddled mojibake), then clean UTF-8, then the meta-charset
    prescan over the first 2 KB, then latin-1 (which never fails)."""
    if data[:3] == b"\xef\xbb\xbf":
        return data[3:].decode("utf-8", "replace")
    if data[:2] == b"\xff\xfe":
        return data[2:].decode("utf-16-le", "replace")
    if data[:2] == b"\xfe\xff":
        return data[2:].decode("utf-16-be", "replace")
    try:
        return data.decode("utf-8")
    except UnicodeDecodeError:
        m = re.search(rb"charset=[\"']?([A-Za-z0-9_-]+)", data[:2048])
        enc = m.group(1).decode("ascii", "replace") if m else "latin-1"
        try:
            return data.decode(enc, "replace")
        except (LookupError, UnicodeDecodeError):
            return data.decode("latin-1", "replace")


def extract_html(data: bytes) -> Tuple[str, str, Optional[str]]:
    """bytes → (main_text, status, failure_reason).

    Decodes via :func:`decode_html_bytes` (BOM → UTF-8 → meta-charset →
    latin-1), parses and scores in one pass (:func:`_parse`), renders
    the best-scoring element's block-level text joined with '\\n'.  With
    no paragraph score the densest generic container wins, else the
    whole page; ties go to the earliest element."""
    if not data:
        return "", "failed", "html_empty"
    try:
        nodes, texts, bounds, text_len = _parse(decode_html_bytes(data))
        if not text_len:
            return "", "failed", "html_no_text"
        best = max(nodes, key=attrgetter("score"))  # the first of equals
        if not best.score:
            best = max(nodes, key=attrgetter("dense"))
        main = "\n".join(_render_text(texts, bounds, best))
        if not main:
            return "", "failed", "html_no_text"
        return main, "ok", None
    except MemoryError as e:
        return "", "failed", f"html_parse_error: {type(e).__name__}"


class JsonLdBlock(NamedTuple):
    """One ``<script type=application/ld+json>`` block, parsed."""

    block_index: int          # document order among ld+json blocks
    node_index: int           # order within the block (@graph / arrays)
    ld_type: Optional[str]    # @type ('|'-joined when a list)
    name: Optional[str]       # schema.org name > headline
    date_published: Optional[str]
    valid: bool               # json.loads succeeded
    raw_md5: str              # md5 of the raw block (identity / dedup)


_SCRIPT_CLOSE_RE = re.compile(r"</script\s*>", re.I)


def _ld_nodes(doc: object) -> List[dict]:
    """Flatten a parsed JSON-LD payload to its entity nodes: a bare
    object is one node, a top-level array is its objects, and an
    ``@graph`` wrapper contributes the graph's objects (the three
    shapes schema.org embeds use in practice).  Non-dict members are
    skipped; order is document order."""
    out: List[dict] = []
    items = doc if isinstance(doc, list) else [doc]
    for it in items:
        if not isinstance(it, dict):
            continue
        graph = it.get("@graph")
        if isinstance(graph, list):
            out.extend(g for g in graph if isinstance(g, dict))
            # a wrapper with its own @type is ALSO a node (rare but real)
            if "@type" in it:
                out.append(it)
        else:
            out.append(it)
    return out


def _ld_str(v: object) -> Optional[str]:
    if isinstance(v, str):
        s = v.strip()
        return s or None
    if isinstance(v, list):
        parts = [x.strip() for x in v if isinstance(x, str) and x.strip()]
        return "|".join(parts) or None
    return None


def extract_jsonld(data: bytes) -> List[JsonLdBlock]:
    """bytes → the page's schema.org JSON-LD entities — the structured-
    data channel next to main-content extraction (what search engines
    and web-data pipelines read for entity type, canonical name, and
    publish date; the reference stops at text emission, see
    pdf_ocr_with_boxes_v2.py — this is crawl-analytics surface on top).

    Scan: the tolerant tag regex finds ``<script>`` open tags whose
    ``type`` attribute is ``application/ld+json`` (any case, with
    optional parameters), the block runs to the next ``</script>``.
    Each block parses with :mod:`json`; malformed JSON still emits a
    row (``valid=False``) so coverage accounting sees it — a crawl
    pipeline must never silently drop a block it fetched.  Entity
    fields: ``@type`` ('|'-joined when a list), ``name`` falling back
    to ``headline``, ``datePublished``.  Deterministic, never raises.
    """
    import hashlib
    import json as _json

    try:
        text = decode_html_bytes(data)
    except Exception:  # noqa: BLE001 — bytes-ish inputs only
        return []
    out: List[JsonLdBlock] = []
    bi = 0
    for m in _tags(text):
        closing, tag, attrs, _ = m.groups()
        if closing or tag.lower() != "script":
            continue
        mime = (_attr(attrs, "type") or "").lower().split(";")[0].strip()
        if mime != "application/ld+json":
            continue
        cm = _SCRIPT_CLOSE_RE.search(text, m.end())
        raw = text[m.end() : cm.start()] if cm else text[m.end() :]
        digest = hashlib.md5(raw.encode("utf-8")).hexdigest()
        try:
            doc = _json.loads(raw)
            nodes = _ld_nodes(doc)
        except Exception:  # noqa: BLE001 — malformed embeds are routine
            out.append(JsonLdBlock(bi, 0, None, None, None, False, digest))
            bi += 1
            continue
        if not nodes:
            out.append(JsonLdBlock(bi, 0, None, None, None, True, digest))
        for ni, node in enumerate(nodes):
            out.append(
                JsonLdBlock(
                    bi,
                    ni,
                    _ld_str(node.get("@type")),
                    _ld_str(node.get("name")) or _ld_str(node.get("headline")),
                    _ld_str(node.get("datePublished")),
                    True,
                    digest,
                )
            )
        bi += 1
    return out


class MicrodataProp(NamedTuple):
    """One microdata property row: flat relational form of the page's
    schema.org microdata trees (itemscope/itemtype/itemprop)."""

    item_index: int       # document order of the owning itemscope
    item_type: str        # owning item's itemtype ('' when absent)
    prop: str             # itemprop name
    value: str            # resolved value (see extract_microdata)
    source: str           # content|href|src|datetime|text|item


# tag → attribute that carries a microdata property's value
# (WHATWG microdata §5.2.4: "the property value of a name-value pair")
_MD_VALUE_ATTR = {
    "meta": "content",
    "a": "href", "link": "href", "area": "href",
    "img": "src", "audio": "src", "video": "src", "embed": "src",
    "iframe": "src", "source": "src", "track": "src",
    "data": "value", "meter": "value",
    "time": "datetime",
}


def extract_microdata(data: bytes) -> List[MicrodataProp]:
    """bytes → the page's schema.org MICRODATA properties — the second
    structured-data channel next to :func:`extract_jsonld` (microdata
    is the attribute-based encoding older pages and many product/
    recipe pages use; the reference stops at text emission,
    pdf_ocr_with_boxes_v2.py — crawl-analytics surface on top).

    Tolerant single-pass tag scan (the :data:`_TAG_RE` machinery):
    ``itemscope`` opens an item (indexed in document order, its
    ``itemtype`` captured); each ``itemprop`` inside attaches to the
    NEAREST enclosing item.  Property values follow the WHATWG rules:
    the tag-specific value attribute when the spec defines one
    (meta→content, a/link→href, img→src, time→datetime falling back to
    text, …), a nested-item reference (``#item<N>``) when the element
    is itself an itemscope, else the element's whitespace-collapsed
    text (entity-decoded, 200-char cap).  Orphan itemprops outside any
    itemscope are skipped, mirroring the spec's item-tree model.
    Deterministic, never raises."""
    try:
        text = decode_html_bytes(data)
    except Exception:  # noqa: BLE001 — bytes-ish inputs only
        return []
    out: List[MicrodataProp] = []
    # stack entries: [tag, item_idx_or_None, prop_capture_or_None]
    # prop_capture: [owner_item, itemtype, prop, buf_list] for text props
    stack: List[list] = []
    captures: List[list] = []  # active text-prop buffers (nested allowed)
    n_items = 0
    item_types: dict = {}
    pos = 0
    n = len(text)
    last = text.rfind(">") + 1  # no tag matches past it (see _tags)

    def nearest_item() -> Optional[int]:
        for fr in reversed(stack):
            if fr[1] is not None:
                return fr[1]
        return None

    def emit_text_prop(cap: list) -> None:
        val = _WS_RE.sub(" ", _htmllib.unescape("".join(cap[3]))).strip()[:200]
        out.append(
            MicrodataProp(cap[0], item_types.get(cap[0], ""), cap[2], val, "text")
        )

    while pos < n:
        lt = text.find("<", pos)
        if lt < 0:
            for cap in captures:
                cap[3].append(text[pos:])
            break
        if lt > pos:
            for cap in captures:
                cap[3].append(text[pos:lt])
        if text.startswith("<!--", lt):
            end = text.find("-->", lt + 4)
            pos = n if end < 0 else end + 3
            continue
        if text.startswith("<!", lt) or text.startswith("<?", lt):
            end = text.find(">", lt + 2)
            pos = n if end < 0 else end + 1
            continue
        m = _TAG_RE.match(text, lt, last)
        if not m:
            for cap in captures:
                cap[3].append("<")
            pos = lt + 1
            continue
        closing, tag, attrs, self_close = m.groups()
        tag = tag.lower()
        pos = m.end()
        if closing:
            for i in range(len(stack) - 1, -1, -1):
                if stack[i][0] == tag:
                    for fr in stack[i:]:
                        if fr[2] is not None and fr[2] in captures:
                            emit_text_prop(fr[2])
                            captures.remove(fr[2])
                    del stack[i:]
                    break
            continue
        if tag in _RAW_SKIP:
            close = re.compile(rf"</{re.escape(tag)}\s*>", re.I).search(text, pos)
            pos = n if close is None else close.end()
            continue
        # bare boolean attribute: scan with quoted values blanked so
        # content="... itemscope ..." can't false-positive
        _bare = re.sub(r"\"[^\"]*\"|'[^']*'", '""', attrs)
        has_scope = bool(
            re.search(r"(?i)(?:^|\s)itemscope(?=[\s=/]|$)", _bare)
        )
        prop = _attr(attrs, "itemprop")
        owner = nearest_item()
        item_idx = None
        if has_scope:
            item_idx = n_items
            n_items += 1
            item_types[item_idx] = (_attr(attrs, "itemtype") or "").strip()
        cap = None
        if prop:
            prop = prop.strip()
            if owner is None and not has_scope:
                pass  # orphan itemprop: no item tree to attach to
            elif has_scope:
                if owner is not None:
                    out.append(
                        MicrodataProp(
                            owner, item_types.get(owner, ""), prop,
                            f"#item{item_idx}", "item",
                        )
                    )
            else:
                vattr = _MD_VALUE_ATTR.get(tag)
                val = _attr(attrs, vattr) if vattr else None
                if val is not None:
                    out.append(
                        MicrodataProp(
                            owner, item_types.get(owner, ""), prop,
                            _htmllib.unescape(val).strip()[:200], vattr,
                        )
                    )
                elif tag not in _VOID and not self_close:
                    cap = [owner, item_types.get(owner, ""), prop, []]
                    captures.append(cap)
        if self_close or tag in _VOID:
            continue
        if len(stack) < 200:
            stack.append([tag, item_idx, cap])
    # unclosed text props at EOF still emit (truncated pages are routine)
    for cap in captures:
        emit_text_prop(cap)
    return out
