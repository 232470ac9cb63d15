"""Layout assembly: positioned glyphs → lines → XY-cut reading order →
typed text blocks.

Replaces the MinerU layout model + reading order the reference delegates to
(``doc_analyze`` → ``para_blocks``,
/root/reference/pdf_ocr_with_boxes_v3.py:121-135) with a deterministic
XY-cut (recursive projection-profile cuts: column gutters first, then
horizontal bands), per SURVEY.md K3.  Block text merging reproduces the
reference's span-merge semantics byte-for-byte
(``_merge_all_lines_on_block``,
/root/reference/pdf_ocr_with_boxes_v3.py:170-201): a span starting with an
alphabetic character (Python ``str.isalpha`` — CJK included) joins with a
space, or splices onto a trailing hyphen; anything else concatenates
directly; the result is left-stripped.

All tie-breaks are explicit sort keys (never dict/set order) so the output
is stable across processes and partitions (SURVEY.md §7 hard part (c)).
"""

from __future__ import annotations

from itertools import compress, count, groupby, islice
from math import isfinite
from operator import ge, gt, itemgetter
from typing import Dict, List, NamedTuple, Sequence, Tuple

from pdf_ocr_spark.kernels.pdf.content import Glyph


class Line(NamedTuple):
    text: str
    x0: float
    y0: float  # top (top-down coordinates)
    x1: float
    y1: float  # bottom
    size: float


class Block(NamedTuple):
    """Mirrors the reference block dict
    (/root/reference/pdf_ocr_with_boxes_v3.py:220-227)."""

    page_num: int
    block_index: int
    type: str
    bbox: Tuple[float, float, float, float]  # [x0, y0, x1, y1], top-down
    text: str
    confidence: float


def _median(vals: Sequence[float], default: float = 10.0) -> float:
    if not vals:
        return default
    s = sorted(vals)
    return s[len(s) // 2]


# -- reference-exact span merge (v3:170-201) --------------------------------


def _is_alpha_start(text: str) -> bool:
    """v3's ``_is_latin_start``: ``text[0].isalpha()`` — NOTE this matches
    CJK letters too; replicated exactly (SURVEY.md F3)."""
    return len(text) > 0 and text[0].isalpha()


def merge_spans(spans: Sequence[str]) -> str:
    """Reference block merge: hyphen-splice / space-join / direct concat
    (/root/reference/pdf_ocr_with_boxes_v3.py:182-201)."""
    res = ""
    for cur_text in spans:
        if _is_alpha_start(cur_text):
            if len(res) > 0 and res[-1] == "-":
                res = res[:-1] + cur_text
            else:
                res += " " + cur_text
        else:
            res += cur_text
    return res.lstrip()


# -- line clustering ---------------------------------------------------------


_X = itemgetter(1)
_Y = itemgetter(2)
_SEQ = itemgetter(6)


def _xr_seq(g: Glyph) -> Tuple[float, int]:
    return (round(g.x, 2), g.seq)


def build_lines(glyphs: Sequence[Glyph], page_h: float) -> List[Line]:
    """Cluster glyphs into visual lines.

    Works in top-down coordinates (yt = page_h - device_y).  Glyphs whose
    baselines differ by less than ~0.4× the local font size belong to one
    line; within a line, glyphs sort by (round(x, 2), seq) and a space is
    inserted when the horizontal gap exceeds 0.28× font size (word gap)."""
    vis = [g for g in glyphs if g.text]
    if not vis:
        return []
    med_size = _median([g.size for g in vis if g.size > 0], 10.0)
    tol = max(1.2, 0.4 * med_size)
    seqs = list(map(_SEQ, vis))
    lines = None
    # the baseline walk needs seqs strictly increasing in emission order
    # (as the interpreter emits them) and orderable coordinates; anything
    # else takes the decorated sort
    if not any(map(ge, seqs, islice(seqs, 1, None))):
        lines = _baseline_lines(vis, page_h, tol)
    if lines is None:
        lines = _sorted_lines(vis, page_h, tol)
    out: List[Line] = []
    for group, yt in lines:
        _split_line(out, group, yt, page_h, med_size)
    return out


def _sorted_lines(vis, page_h, tol):
    """Lines by the full decorated sort on (round(yt, 2), round(x, 2),
    seq): the reference order every other path must reproduce."""
    items = sorted(
        [(round((yt := page_h - g.y), 2), round(g.x, 2), g.seq, yt, g)
         for g in vis]
    )
    lines: List[List[Tuple[float, int, Glyph]]] = []
    anchors: List[float] = []
    for _ytr, x_r, seq, yt, g in items:
        if lines and abs(yt - anchors[-1]) <= tol:
            lines[-1].append((x_r, seq, g))
        else:
            lines.append([(x_r, seq, g)])
            anchors.append(yt)
    out = []
    for triples in lines:
        triples.sort()
        out.append(([t[2] for t in triples], None))
    return out


def _x_order(gs: List[Glyph]) -> List[Glyph]:
    """Glyphs with distinct seqs → (round(x, 2), seq) order.

    ``round`` is monotone, so glyphs that round alike are contiguous in a
    stable sort on raw x, and that sort has the wanted order unless seq
    drops inside such a run — which shows as a drop between neighbours.
    Only those drops are rounded; a real one takes the decorated sort.
    Glyphs of one baseline arrive in seq order, so exact-x ties are
    already right."""
    srt = sorted(gs, key=_X)
    seqs = list(map(_SEQ, srt))
    for i in compress(count(1), map(gt, seqs, islice(seqs, 1, None))):
        if round(srt[i - 1].x, 2) == round(srt[i].x, 2):
            return sorted(gs, key=_xr_seq)
    return srt


def _baseline_lines(vis, page_h, tol):
    """Lines without a per-glyph round or decorated sort, for glyphs in
    strictly increasing seq order.  Glyphs group by exact baseline (a
    stable sort keeps each baseline in emission order), each baseline is
    rounded once, and a baseline joins or starts a line as a whole,
    exactly as its glyphs would one by one.  Returns None where that
    does not hold: a NaN coordinate or an infinite baseline (floats stop
    being an order), or two baselines that round alike (their glyphs
    interleave by x in the decorated sort)."""
    x_sum = sum(map(_X, vis))
    if x_sum != x_sum:  # a NaN x (or inf - inf) somewhere
        return None
    lines: List[List] = []  # [glyphs, baseline yt or None when mixed]
    anchor = last_ytr = None
    for y, grp in groupby(sorted(vis, key=_Y, reverse=True), _Y):
        yt = page_h - y
        ytr = round(yt, 2)
        if not isfinite(yt) or ytr == last_ytr:
            return None
        last_ytr = ytr
        if lines and abs(yt - anchor) <= tol:
            lines[-1][0].extend(grp)
            lines[-1][1] = None
        else:
            lines.append([list(grp), yt])
            anchor = yt
    return [(_x_order(gs), yt) for gs, yt in lines]


def _split_line(out: List[Line], group: List[Glyph], yt, page_h: float,
                med_size: float) -> None:
    """Emit one clustered line (glyphs in reading order) as Line
    segments: a big horizontal jump (column gutter / table cell) splits
    it so the XY-cut can reorder the segments (SURVEY.md K3), and inside
    a segment a word gap between latin-ish fragments gets a space (CJK
    never gets synthetic spaces).  ``yt`` is the line's one baseline, or
    None when its glyphs sit on several."""
    sizes = [g.size for g in group if g.size > 0]
    gsize = _median(sizes, med_size)
    split_gap = max(2.2 * gsize, 14.0)
    word_gap = 0.28 * (gsize if gsize > 1.0 else 1.0)
    g0 = group[0]
    parts = [g0.text]
    x0 = g0.x
    x1 = reach = prev_end = x0 + g0.adv  # reach: max end so far on the line
    lo = 0
    for i in range(1, len(group)):
        text, x, _y, adv = group[i][:4]
        end = x + adv
        if x - reach > split_gap:
            _emit_segment(out, parts, x0, x1, group[lo:i], yt, page_h, gsize)
            parts = [text]
            x0, x1, lo = x, end, i
        else:
            if x - prev_end > word_gap:
                prev = parts[-1]
                if not prev.endswith(" ") and prev[-1].isascii() \
                        and text[:1].isascii():
                    parts.append(" ")
            parts.append(text)
            if x < x0:
                x0 = x
            if end > x1:
                x1 = end
        if end > reach:
            reach = end
        prev_end = end
    _emit_segment(out, parts, x0, x1, group[lo:], yt, page_h, gsize)


def _emit_segment(out, parts, x0, x1, seg, yt, page_h, gsize):
    text = "".join(parts).strip()
    if not text:
        return
    if yt is None:  # the segment's median baseline
        yt = _median([page_h - g.y for g in seg], 0.0)
    out.append(Line(text, x0, yt - gsize, x1, yt, gsize))


# -- XY-cut reading order -----------------------------------------------------


def _largest_gap(intervals: List[Tuple[float, float]], min_gap: float):
    """Largest gap in the union of [start, end) intervals; None if < min_gap."""
    if len(intervals) < 2:
        return None
    intervals = sorted(intervals)
    best = None
    cur_end = intervals[0][1]
    for s, e in intervals[1:]:
        if s - cur_end >= min_gap:
            gap = s - cur_end
            if best is None or gap > best[0]:
                best = (gap, cur_end, s)
        cur_end = max(cur_end, e)
    return best


def _leaf_sort(lines: List[Line]) -> List[Line]:
    """Top-down, left-right with the same tie behavior as a stable sort on
    (round(y1,2), round(x0,2)) — the index keeps input order on ties."""
    return [
        t[3]
        for t in sorted(
            (round(l.y1, 2), round(l.x0, 2), i, l) for i, l in enumerate(lines)
        )
    ]


def xy_cut_order(lines: List[Line], depth: int = 0) -> List[Line]:
    """Recursive XY-cut: split on full-extent column gutters (x) first,
    then on large horizontal bands (y); leaves sort top-down, left-right."""
    if len(lines) <= 1 or depth > 12:
        return _leaf_sort(lines)
    med_size = _median([l.size for l in lines], 10.0)

    # vertical cut: a gutter in the x-projection spanning every line
    gx = max(2.5 * med_size, 12.0)
    xcut = _largest_gap([(l.x0, l.x1) for l in lines], gx)
    if xcut is not None:
        _, gap_lo, gap_hi = xcut
        mid = (gap_lo + gap_hi) / 2.0
        left = [l for l in lines if l.x1 <= mid]
        right = [l for l in lines if l.x1 > mid]
        if left and right:
            return xy_cut_order(left, depth + 1) + xy_cut_order(right, depth + 1)

    # horizontal cut: a band gap in the y-projection
    gy = 2.2 * med_size
    ycut = _largest_gap([(l.y0, l.y1) for l in lines], gy)
    if ycut is not None:
        _, gap_lo, gap_hi = ycut
        mid = (gap_lo + gap_hi) / 2.0
        top = [l for l in lines if l.y1 <= mid]
        bottom = [l for l in lines if l.y1 > mid]
        if top and bottom:
            return xy_cut_order(top, depth + 1) + xy_cut_order(bottom, depth + 1)

    return _leaf_sort(lines)


# -- block segmentation -------------------------------------------------------


def build_blocks(ordered_lines: List[Line], page_num: int) -> List[Block]:
    """Group consecutive reading-order lines into blocks; a vertical jump
    > 1.7× the local line size (or a column/section switch from the XY-cut)
    starts a new block."""
    blocks: List[Block] = []
    if not ordered_lines:
        return blocks
    med_size = _median([l.size for l in ordered_lines], 10.0)
    groups: List[List[Line]] = [[ordered_lines[0]]]
    for prev, cur in zip(ordered_lines, ordered_lines[1:]):
        gap = cur.y1 - prev.y1  # baseline delta, top-down
        new_block = (
            gap > 1.7 * max(prev.size, cur.size, 1.0)
            or gap < -0.5 * med_size  # jumped back up → new column/section
        )
        if new_block:
            groups.append([cur])
        else:
            groups[-1].append(cur)
    for idx, group in enumerate(groups):
        text = merge_spans([l.text for l in group])
        if not text.strip():
            continue
        x0 = min(l.x0 for l in group)
        y0 = min(l.y0 for l in group)
        x1 = max(l.x1 for l in group)
        y1 = max(l.y1 for l in group)
        gsize = _median([l.size for l in group], med_size)
        btype = "title" if (len(group) == 1 and gsize > 1.25 * med_size) else "text"
        blocks.append(
            Block(
                page_num,
                idx,
                btype,
                (round(x0, 2), round(y0, 2), round(x1, 2), round(y1, 2)),
                text,
                0.95,  # txt-mode confidence constant, v3:226
            )
        )
    return blocks


# -- ruled-line table detection (v4 composite-block typing) ------------------


def table_regions(
    rules: Sequence[Tuple[float, float, float, float]],
    page_h: float,
    min_h: int = 2,
    min_v: int = 2,
) -> List[Tuple[float, float, float, float]]:
    """Detect table grids from PAINTED axis-aligned rules (device coords,
    y up): cluster touching/overlapping segments (union-find, 3pt
    tolerance); a cluster with ≥2 distinct horizontal AND ≥2 distinct
    vertical rules is a grid — its bbox (top-down coords) is a table
    region.  The honest stand-in for the reference's layout-model table
    blocks (/root/reference/pdf_ocr_with_boxes_v4.py:232-260): no ML, so
    only RULED tables are typed; borderless tables stay 'text'.

    Clustering is O(n²) pairwise union-find, so pages with more rules
    than any real table carries (dense vector art: charts, maps) skip
    detection — the 400-segment cap bounds the cost to ~0.1 ms/page
    while the richest ruled tables stay well under it."""
    if not rules or len(rules) > 400:  # vector-art pages: skip detection
        return []
    segs = []
    for x0, y0, x1, y1 in rules:
        t0, t1 = page_h - y0, page_h - y1
        xa, xb = (x0, x1) if x0 <= x1 else (x1, x0)
        ya, yb = (t0, t1) if t0 <= t1 else (t1, t0)
        segs.append((xa, ya, xb, yb, (yb - ya) < 0.5))
    parent = list(range(len(segs)))

    def find(i: int) -> int:
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    tol = 3.0
    for i in range(len(segs)):
        a = segs[i]
        for j in range(i + 1, len(segs)):
            b = segs[j]
            if (a[0] - tol <= b[2] and b[0] - tol <= a[2]
                    and a[1] - tol <= b[3] and b[1] - tol <= a[3]):
                pi, pj = find(i), find(j)
                if pi != pj:
                    parent[pi] = pj
    groups: Dict[int, List[tuple]] = {}
    for i in range(len(segs)):
        groups.setdefault(find(i), []).append(segs[i])
    regions = []
    for g in groups.values():
        hs = {round((s[1] + s[3]) / 2.0) for s in g if s[4]}
        vs = {round((s[0] + s[2]) / 2.0) for s in g if not s[4]}
        if len(hs) >= min_h and len(vs) >= min_v:
            regions.append(
                (min(s[0] for s in g), min(s[1] for s in g),
                 max(s[2] for s in g), max(s[3] for s in g))
            )
    return regions


def borderless_table_regions(
    lines: Sequence[Line],
    min_rows: int = 3,
    min_cols: int = 2,
    x_tol: float = 4.0,
    max_cell_chars: int = 28,
) -> List[Tuple[float, float, float, float]]:
    """Whitespace-alignment table detection — the no-ML stand-in for the
    reference layout model's borderless table blocks
    (/root/reference/pdf_ocr_with_boxes_v4.py:239-248).

    ``build_lines`` already splits a baseline into cell segments at big
    horizontal gaps, so a borderless table row arrives as ≥2 Line
    segments sharing a baseline.  A run of ≥``min_rows`` vertically
    adjacent multi-segment rows whose segment x-starts align column-wise
    (within ``x_tol``) across consecutive rows is a table region.

    Guards against the classic false positives:

    * two-column BODY text (column starts align too) — cells must read
      like cells: the run's median segment length must stay ≤
      ``max_cell_chars`` and no single segment may exceed 2× that
      (paragraph lines are long);
    * aligned enumerations that are NOT data tables (fill-in-the-blank
      worksheets, numbered exercise grids) — a data table must have at
      least one aligned COLUMN whose cells are mostly numeric (≥60% of
      the column's cells with ≥50% digit characters), the signature
      tabular data has and running prose never does.

    Returns bboxes in the same top-down coordinates ``table_regions``
    emits, so ``retype_table_blocks`` / ``attach_captions`` consume
    either source unchanged."""
    if not lines:
        return []
    med_size = _median([l.size for l in lines], 10.0)
    # 1. cluster segments into baseline rows (y1 = baseline, top-down)
    row_tol = max(1.5, 0.4 * med_size)
    ordered = sorted(lines, key=lambda l: (l.y1, l.x0))
    rows: List[List[Line]] = [[ordered[0]]]
    for ln in ordered[1:]:
        if abs(ln.y1 - rows[-1][-1].y1) <= row_tol:
            rows[-1].append(ln)
        else:
            rows.append([ln])
    # 2. candidate rows: ≥ min_cols cell-like segments
    cands: List[Tuple[float, List[Line]]] = []
    for segs in rows:
        if len(segs) >= min_cols:
            cands.append((segs[0].y1, sorted(segs, key=lambda l: l.x0)))
    if len(cands) < min_rows:
        return []
    # 3. chain vertically adjacent candidate rows with aligned x-starts
    max_row_gap = 3.0 * med_size
    regions: List[Tuple[float, float, float, float]] = []
    run: List[List[Line]] = [cands[0][1]]
    prev_y = cands[0][0]

    def close_run() -> None:
        if len(run) < min_rows:
            return
        cells = [seg for row in run for seg in row]
        lens = sorted(len(c.text) for c in cells)
        if lens[len(lens) // 2] > max_cell_chars:
            return                       # reads like column text, not cells
        if lens[-1] > 2 * max_cell_chars:
            return
        # ≥1 aligned column must be mostly numeric (data, not a
        # worksheet/enumeration whose starts happen to align)
        by_x = sorted(cells, key=lambda c: c.x0)
        col: List[Line] = []
        found_numeric = False
        for c in by_x + [None]:
            if col and (c is None or c.x0 - col[-1].x0 > x_tol):
                if len(col) >= min_rows:
                    numericish = sum(
                        1 for s in col
                        if s.text and sum(ch.isdigit() for ch in s.text)
                        >= 0.5 * len(s.text)
                    )
                    if numericish >= 0.6 * len(col):
                        found_numeric = True
                col = []
            if c is not None:
                col.append(c)
        if not found_numeric:
            return
        regions.append((
            min(c.x0 for c in cells), min(c.y0 for c in cells),
            max(c.x1 for c in cells), max(c.y1 for c in cells),
        ))

    for y, segs in cands[1:]:
        prev_starts = [s.x0 for s in run[-1]]
        aligned = sum(
            1 for s in segs
            if any(abs(s.x0 - px) <= x_tol for px in prev_starts)
        )
        if y - prev_y <= max_row_gap and aligned >= min_cols:
            run.append(segs)
        else:
            close_run()
            run = [segs]
        prev_y = y
    close_run()
    return regions


def retype_table_blocks(
    blocks: List[Block],
    regions: Sequence[Tuple[float, float, float, float]],
) -> List[Block]:
    """Blocks whose bbox center falls inside a detected grid region are
    typed 'table' (text/bbox/confidence unchanged — page text stays
    byte-identical; downstream P3/P4 dispatch sees the type)."""
    if not regions:
        return blocks
    out = []
    for b in blocks:
        cx = (b.bbox[0] + b.bbox[2]) / 2.0
        cy = (b.bbox[1] + b.bbox[3]) / 2.0
        inside = any(
            rx0 <= cx <= rx1 and ry0 <= cy <= ry1 for rx0, ry0, rx1, ry1 in regions
        )
        out.append(b._replace(type="table") if inside else b)
    return out


def page_text_from_blocks(blocks: Sequence[Block]) -> str:
    """Page text = block texts joined with newline
    (/root/reference/pdf_ocr_with_boxes_v2.py:684-686)."""
    return "\n".join(b.text for b in blocks)


# -- v4 composite blocks: image blocks + caption/footnote attachment ---------


def image_blocks(
    image_draws: Sequence[Tuple[float, float, float, float]],
    page_h: float,
    page_num: int,
    start_index: int,
) -> List[Block]:
    """One 'image' typed block per image DRAW on a text page (bbox =
    unit square under the draw-time CTM, flipped to top-down coords;
    empty text — page text never carries image bytes).  Mirrors the
    reference's image composite blocks
    (/root/reference/pdf_ocr_with_boxes_v4.py:250-260) minus the layout
    model: geometry comes from the content stream, not ML."""
    out = []
    for i, (x0, y0, x1, y1) in enumerate(image_draws):
        t0, t1 = page_h - y1, page_h - y0  # y-up → top-down
        out.append(
            Block(
                page_num,
                start_index + i,
                "image",
                (round(x0, 2), round(t0, 2), round(x1, 2), round(t1, 2)),
                "",
                1.0,
            )
        )
    return out


def _h_overlap_frac(a: Tuple[float, ...], b: Tuple[float, ...]) -> float:
    """Horizontal overlap of two top-down bboxes as a fraction of the
    narrower one's width."""
    lo = max(a[0], b[0])
    hi = min(a[2], b[2])
    w = min(a[2] - a[0], b[2] - b[0])
    return (hi - lo) / w if w > 0 else 0.0


def attach_captions(
    blocks: List[Block],
    table_bboxes: Sequence[Tuple[float, float, float, float]] = (),
    max_gap: float = 24.0,
) -> List[Block]:
    """Geometric caption attachment (v4 composite-block semantics,
    /root/reference/pdf_ocr_with_boxes_v4.py:232-260): for each detected
    table REGION (``table_bboxes``, top-down — the grid bbox, not the
    individual cell blocks), the nearest 'text' block directly ABOVE it
    (vertical gap ≤ max_gap, ≥50% horizontal overlap) becomes
    'table_caption' and the nearest text block directly BELOW becomes
    'table_footnote'; for each 'image' block the nearest text block
    BELOW (else above) becomes 'image_caption' (figure-caption
    convention).  Only the ``type`` field changes — block text, bbox,
    order, and page text bytes stay identical."""
    out = list(blocks)
    targets = [("table", bb) for bb in table_bboxes] + [
        ("image", b.bbox) for b in blocks if b.type == "image"
    ]
    for kind, tb in targets:
        best_above = best_below = None
        for ci, c in enumerate(out):
            if c.type != "text":
                continue
            if _h_overlap_frac(tb, c.bbox) < 0.5:
                continue
            gap_above = tb[1] - c.bbox[3]  # caption bottom → target top
            gap_below = c.bbox[1] - tb[3]  # target bottom → caption top
            if 0.0 <= gap_above <= max_gap and (
                best_above is None or gap_above < best_above[0]
            ):
                best_above = (gap_above, ci)
            if 0.0 <= gap_below <= max_gap and (
                best_below is None or gap_below < best_below[0]
            ):
                best_below = (gap_below, ci)
        if kind == "table":
            # table convention: caption above, footnote below
            if best_above is not None:
                out[best_above[1]] = out[best_above[1]]._replace(type="table_caption")
            if best_below is not None:
                out[best_below[1]] = out[best_below[1]]._replace(
                    type="table_footnote"
                )
        else:
            # figure convention: caption below ('Figure 1: …'), else above
            pick = best_below if best_below is not None else best_above
            if pick is not None:
                out[pick[1]] = out[pick[1]]._replace(type="image_caption")
    return out


def composite_text(blocks: Sequence[Block]) -> List[Tuple[int, int, str]]:
    """v4 composite rendering — the reference's exact output strings
    (/root/reference/pdf_ocr_with_boxes_v4.py:232-260):
      table → 'table caption: {c}\\ntable body: {b}\\ntable footnote: {f}'
      image → 'image caption: {c}'
    with 'NULL' for missing parts.  All 'table' cell blocks on a page
    form one table (body = cell texts in block order, joined with
    newline, keyed by the first cell's block_index — multi-table pages
    merge, a documented limit of the no-ML region model);
    caption/footnote/image captions come from :func:`attach_captions`
    typing, matched by vertical proximity.  Returns
    (page_num, block_index, text) triples sorted by page then index
    (block_index restarts per page)."""

    def nearest(kind: str, page: int, bbox: Tuple[float, ...]) -> str:
        best = None
        for c in blocks:
            if c.type != kind or c.page_num != page:
                continue
            d = abs(((c.bbox[1] + c.bbox[3]) - (bbox[1] + bbox[3])) / 2.0)
            if best is None or d < best[0]:
                best = (d, c.text)
        return best[1] if best is not None else "NULL"

    out: List[Tuple[int, int, str]] = []
    pages: Dict[int, List[Block]] = {}
    for b in blocks:
        if b.type == "table":
            pages.setdefault(b.page_num, []).append(b)
        elif b.type == "image":
            out.append(
                (
                    b.page_num,
                    b.block_index,
                    "image caption: "
                    + nearest("image_caption", b.page_num, b.bbox),
                )
            )
    for page, cells in pages.items():
        bbox = (
            min(c.bbox[0] for c in cells),
            min(c.bbox[1] for c in cells),
            max(c.bbox[2] for c in cells),
            max(c.bbox[3] for c in cells),
        )
        body = "\n".join(c.text for c in cells if c.text) or "NULL"
        out.append(
            (
                page,
                cells[0].block_index,
                f"table caption: {nearest('table_caption', page, bbox)}\n"
                f"table body: {body}\n"
                f"table footnote: {nearest('table_footnote', page, bbox)}",
            )
        )
    return sorted(out)
