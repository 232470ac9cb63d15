"""The HTML main-content and table extraction that ``html_extract`` replaced.

Kept verbatim as the oracle of ``test_html_extract_equiv.py``: a tree of
``_Node`` objects built by a ``find("<")`` scan, totals summed by a
recursive ``_accumulate``, candidates scored over an ``_iter_nodes``
walk, and the winner rendered by a recursive ``_render_text``.  Only the
charset sniff is shared with the kernel (it did not change).
"""

from __future__ import annotations

import html as _htmllib
import re
from typing import Dict, List, NamedTuple, Optional, Tuple

from pdf_ocr_spark.kernels.html_extract import decode_html_bytes

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
