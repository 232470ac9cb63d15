"""Readability-style HTML main-content extractor (boilerplate stripper).

Not present in the reference (which is PDF/image-only) — required by the
engine's north rule for HTML rows of the Common-Crawl-style input table
(SURVEY.md K5): a stack-based HTML tokenizer feeding per-node text-density
and link-density scores; the densest subtree is kept as the main content.

Pure Python (stdlib ``html`` for entity decoding only); deterministic:
ties break on document order.  Runs vectorized at the Arrow-batch level
inside ``mapInArrow`` alongside the PDF kernel.
"""

from __future__ import annotations

import html as _htmllib
import re
from typing import Dict, List, NamedTuple, Optional, Tuple

_TAG_RE = re.compile(
    r"<(/?)([a-zA-Z][a-zA-Z0-9:-]*)((?:[^>\"']|\"[^\"]*\"|'[^']*')*)(/?)>", re.S
)
_WS_RE = re.compile(r"[ \t\r\n\f\v]+")

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


class _Node:
    __slots__ = (
        "tag", "parent", "children", "texts", "order",
        "text_len", "link_text_len", "p_count", "comma_count", "negative",
    )

    def __init__(self, tag: str, parent: Optional["_Node"], order: int):
        self.tag = tag
        self.parent = parent
        self.children: List["_Node"] = []
        self.texts: List[Tuple[int, str]] = []  # (child-slot, text) interleave
        self.order = order
        self.text_len = 0
        self.link_text_len = 0
        self.p_count = 0
        self.comma_count = 0
        self.negative = tag in _NEGATIVE_TAGS


def _parse(html_text: str) -> _Node:
    """Stack-based tolerant HTML parse → lightweight node tree."""
    root = _Node("#root", None, 0)
    stack = [root]
    pos = 0
    order = 1
    n = len(html_text)
    while pos < n:
        lt = html_text.find("<", pos)
        if lt < 0:
            _add_text(stack[-1], html_text[pos:])
            break
        if lt > pos:
            _add_text(stack[-1], html_text[pos:lt])
        # comments / doctype / CDATA
        if html_text.startswith("<!--", lt):
            end = html_text.find("-->", lt + 4)
            pos = n if end < 0 else end + 3
            continue
        if html_text.startswith("<!", lt) or html_text.startswith("<?", lt):
            end = html_text.find(">", lt + 2)
            pos = n if end < 0 else end + 1
            continue
        m = _TAG_RE.match(html_text, lt)
        if not m:
            _add_text(stack[-1], "<")
            pos = lt + 1
            continue
        closing, tag, _attrs, self_close = m.groups()
        tag = tag.lower()
        pos = m.end()
        if closing:
            # pop to matching open tag if present
            for i in range(len(stack) - 1, 0, -1):
                if stack[i].tag == tag:
                    del stack[i:]
                    break
            continue
        if tag in _RAW_SKIP:
            close = re.search(rf"</{re.escape(tag)}\s*>", html_text[pos:], re.I)
            pos = n if close is None else pos + close.end()
            continue
        node = _Node(tag, stack[-1], order)
        order += 1
        stack[-1].children.append(node)
        stack[-1].texts.append((len(stack[-1].children), ""))  # slot marker
        if self_close or tag in _VOID:
            continue
        if len(stack) < 200:  # unclosed-tag bombs must not blow recursion later
            stack.append(node)
    return root


def _add_text(node: _Node, raw: str) -> None:
    # whitespace runs collapse once more at line-render time, so here a
    # cheap strip-check routes blank runs to the single-space slot and
    # only non-blank text pays the regex
    text = _htmllib.unescape(raw)
    if not text:
        return
    if text.isspace():
        if node.texts:
            node.texts.append((len(node.children), " "))
        return
    node.texts.append((len(node.children), _WS_RE.sub(" ", text)))


def _accumulate(node: _Node, in_link: bool) -> Tuple[int, int, int]:
    """Bottom-up totals: (text_len, link_text_len, comma_count)."""
    tl = 0
    cc = 0
    for _, t in node.texts:
        st = t.strip()
        if st:
            tl += len(st)
        cc += t.count(",") + t.count("，") + t.count("、")
    ll = tl if in_link else 0
    pc = 0
    for child in node.children:
        ctl, cll, ccc = _accumulate(child, in_link or child.tag == "a")
        tl += ctl
        ll += cll
        cc += ccc
        pc += child.p_count + (1 if child.tag == "p" else 0)
    node.text_len = tl
    node.link_text_len = ll
    node.comma_count = cc
    node.p_count = pc
    return tl, ll, cc


_PARAGRAPHISH = {"p", "pre", "td", "blockquote", "li", "h1", "h2", "h3", "h4", "h5", "h6"}


def _candidate_scores(root: _Node) -> Dict[int, Tuple[float, _Node]]:
    """Readability scoring: each paragraph-ish node earns points
    (1 + commas + length/90, capped), contributed to its parent and half
    to its grandparent; a candidate's final score is scaled by
    (1 - link_density) and damped under nav/aside/footer ancestry."""
    raw: Dict[int, float] = {}
    nodes: Dict[int, _Node] = {}

    def contribute(n: Optional[_Node], pts: float) -> None:
        if n is None or n.tag == "#root":
            return
        raw[n.order] = raw.get(n.order, 0.0) + pts
        nodes[n.order] = n

    for node in _iter_nodes(root):
        if node.tag not in _PARAGRAPHISH or node.text_len < 25:
            continue
        pts = 1.0 + min(node.comma_count, 3) + min(node.text_len / 90.0, 3.0)
        contribute(node.parent, pts)
        contribute(node.parent.parent if node.parent else None, pts / 2.0)

    out: Dict[int, Tuple[float, _Node]] = {}
    for order, pts in raw.items():
        node = nodes[order]
        if node.text_len <= 0:
            continue
        link_density = node.link_text_len / node.text_len
        score = pts * (1.0 - link_density)
        n: Optional[_Node] = node
        while n is not None:
            if n.negative:
                score *= 0.2
                break
            n = n.parent
        out[order] = (score, node)
    return out


def _iter_nodes(node: _Node):
    yield node
    for c in node.children:
        yield from _iter_nodes(c)


def _render_text(node: _Node, out: List[str], line: List[str]) -> None:
    """Emit text: block-level boundaries become newlines, inline flows."""
    is_block = node.tag in _BLOCK_TAGS
    if is_block and line and "".join(line).strip():
        out.append(_WS_RE.sub(" ", "".join(line)).strip())
        line.clear()
    slots: Dict[int, List[str]] = {}
    for slot, t in node.texts:
        slots.setdefault(slot, []).append(t)
    # interleave: texts recorded before child i have slot <= i
    for t in slots.get(0, []):
        line.append(t)
    for i, child in enumerate(node.children, 1):
        _render_text(child, out, line)
        for t in slots.get(i, []):
            line.append(t)
    if is_block and line and "".join(line).strip():
        out.append(_WS_RE.sub(" ", "".join(line)).strip())
        line.clear()


class HtmlTable(NamedTuple):
    """One extracted <table>: caption, row-major cell text, and shape."""

    table_index: int        # document order, 0-based
    caption: str            # <caption> subtree text, '' if absent
    n_rows: int
    n_cols: int             # max cells per row (ragged rows allowed)
    rows: List[List[str]]   # cell texts, whitespace-collapsed


def _node_text(node: _Node) -> str:
    """Whitespace-collapsed subtree text (inline flow, no block breaks)."""
    parts: List[str] = []

    def walk(n: _Node) -> None:
        slots: Dict[int, List[str]] = {}
        for slot, t in n.texts:
            slots.setdefault(slot, []).append(t)
        parts.extend(slots.get(0, []))
        for i, child in enumerate(n.children, 1):
            walk(child)
            parts.extend(slots.get(i, []))

    walk(node)
    return _WS_RE.sub(" ", "".join(parts)).strip()


def _nearest_table(node: _Node) -> Optional[_Node]:
    p = node.parent
    while p is not None:
        if p.tag == "table":
            return p
        p = p.parent
    return None


def extract_tables(data: bytes) -> List[HtmlTable]:
    """Structured <table> extraction — the HTML twin of the PDF
    ruled-grid table blocks (kernels/pdf/layout.py table_regions): one
    entry per <table> in document order with caption, shape, and
    row-major cell texts.  Rows are this table's own <tr> (a nested
    table's rows belong to the nested entry; its full text still appears
    inside the enclosing cell).  Never raises; undecodable or tableless
    input returns [].

    Poison cap: at most 200 tables per document — a nested-table bomb
    (<table> x N) otherwise costs O(N²) subtree visits."""
    try:
        text = decode_html_bytes(data)
        root = _parse(text)
        tables = [n for n in _iter_nodes(root) if n.tag == "table"][:200]
    except Exception:  # noqa: BLE001 — poison input must not raise
        return []
    out: List[HtmlTable] = []
    for ti, tbl in enumerate(tables):
        caption = ""
        rows: List[List[str]] = []
        for n in _iter_nodes(tbl):
            if n is tbl:
                continue
            if n.tag == "caption" and not caption and _nearest_table(n) is tbl:
                caption = _node_text(n)
            elif n.tag == "tr" and _nearest_table(n) is tbl:
                cells = [
                    _node_text(c) for c in n.children if c.tag in ("td", "th")
                ]
                if cells:
                    rows.append(cells)
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
    classic target-page relevance label.  Regex tag scan (same grammar
    as the parser's _TAG_RE), deterministic, never raises."""
    try:
        text = decode_html_bytes(data)
    except Exception:  # noqa: BLE001 — bytes-ish inputs only
        return []
    out: List[Tuple[str, bool, str]] = []
    seen = set()
    for m in _TAG_RE.finditer(text):
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
        # unclosed <a> would swallow the NEXT anchor's text as its own
        cm = _A_CLOSE_RE.search(text, m.end())
        om = _A_OPEN_RE.search(text, m.end())
        anchor = ""
        end = None
        if cm is not None and (om is None or cm.start() < om.start()):
            end = cm.start()
        elif om is not None:
            end = om.start()
        if end is not None:
            inner = _TAG_RE.sub(" ", text[m.end() : end])
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
    for m in _TAG_RE.finditer(text):
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
    for m in _TAG_RE.finditer(text):
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
    latin-1), parses, scores candidate containers, renders the winner's
    block-level text joined with '\\n'."""
    if not data:
        return "", "failed", "html_empty"
    try:
        text = decode_html_bytes(data)
        root = _parse(text)
        _accumulate(root, False)
        if root.text_len == 0:
            return "", "failed", "html_no_text"
        best: Optional[_Node] = None
        best_score = 0.0
        scores = _candidate_scores(root)
        for order in sorted(scores):  # document order → earliest wins ties
            s, node = scores[order]
            if s > best_score:
                best, best_score = node, s
        if best is None:
            # no paragraph structure at all: densest generic container
            for node in _iter_nodes(root):
                if node.tag not in _CANDIDATE_TAGS or node.text_len < 25:
                    continue
                ld = node.link_text_len / node.text_len
                s = node.text_len * (1.0 - ld)
                if s > best_score:
                    best, best_score = node, s
        if best is None:
            best = root
        out: List[str] = []
        _render_text(best, out, [])
        main = "\n".join(x for x in out if x)
        if not main.strip():
            return "", "failed", "html_no_text"
        return main, "ok", None
    except (RecursionError, MemoryError) as e:
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
    for m in _TAG_RE.finditer(text):
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
        m = _TAG_RE.match(text, lt)
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
            close = re.search(rf"</{re.escape(tag)}\s*>", text[pos:], re.I)
            pos = n if close is None else pos + close.end()
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
