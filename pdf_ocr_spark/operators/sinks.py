"""Visualization / debug sinks (SURVEY.md §2.1 S7–S9) — off the hot path.

The reference renders annotated overlays with PIL and double-layer
searchable PDFs with reportlab
(/root/reference/pdf_ocr_with_boxes_v2.py:393-535 draw_boxes_on_image;
/root/reference/parse_student_answers.py:295-404 generate_double_layer_pdf
/ draw_transparent_text).  The sandbox has no raster codecs, so the
overlay sink emits deterministic **SVG** (same geometry, colors, labels —
pure text, byte-stable) and the double-layer sink writes a real minimal
**PDF** (image XObject underlay + renderMode-3 invisible text layer)
using the same from-scratch writer the fixtures use.  Both run as
grouped-map ``applyInArrow`` bodies: one output document per (url[,
page]) group.
"""

from __future__ import annotations

from typing import List, Sequence, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from pdf_ocr_spark.pipeline.extract_job import group_map

# reference palette shape: COLORS[idx % len(COLORS)]
# (/root/reference/pdf_ocr_with_boxes_v2.py:428; 8 colors like config.COLORS)
COLORS = (
    "#e6194b", "#3cb44b", "#4363d8", "#f58231",
    "#911eb4", "#46f0f0", "#f032e6", "#808000",
)

Quad = Sequence[Sequence[float]]


def _xml_escape(s: str) -> str:
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
        .replace('"', "&quot;")
    )


def overlay_svg(
    width: float, height: float, boxes: Sequence[Tuple[str, Quad]]
) -> str:
    """S7: annotated page overlay as deterministic SVG.

    Reproduces the reference's drawing semantics: per-box color
    round-robin (W3), semi-transparent fill + stroke, and a label of
    ``text[:15] + '...'`` (P7, pdf_ocr_with_boxes_v2.py:480) above the
    box."""
    parts = [
        '<svg xmlns="http://www.w3.org/2000/svg" '
        f'width="{width:.2f}" height="{height:.2f}">'
    ]
    for idx, (text, quad) in enumerate(boxes):
        if len(quad) < 4:  # P5 validity skip
            continue
        color = COLORS[idx % len(COLORS)]
        pts = " ".join(f"{float(x):.2f},{float(y):.2f}" for x, y in quad)
        parts.append(
            f'<polygon points="{pts}" fill="{color}" fill-opacity="0.2" '
            f'stroke="{color}" stroke-width="2"/>'
        )
        label = text if len(text) <= 15 else text[:15] + "..."
        x0 = min(float(p[0]) for p in quad)
        y0 = min(float(p[1]) for p in quad)
        parts.append(
            f'<text x="{x0:.2f}" y="{max(y0 - 2.0, 10.0):.2f}" '
            f'font-size="12" fill="{color}">{_xml_escape(label)}</text>'
        )
    parts.append("</svg>")
    return "".join(parts)


# -- double-layer searchable PDF (S9) ----------------------------------------


def _fit_font_size(text: str, box_w: float, box_h: float) -> float:
    """F11: the reference's calculate_font_size
    (/root/reference/parse_student_answers.py:406-444): start at 0.9×box
    height, shrink to fit the width, clamp to [6, 48].  stringWidth is
    approximated at 0.5 em/char (Helvetica-ish average) since no font
    metrics ship in-sandbox."""
    if not text:
        return 6.0
    size = box_h * 0.9
    text_w = 0.5 * size * len(text)
    if text_w > box_w > 0:
        size = size * box_w / text_w
    return max(6.0, min(48.0, size))


def double_layer_pdf(
    pages: Sequence[Tuple[float, float, bytes, Sequence[Tuple[str, Quad]]]],
) -> bytes:
    """S9: multi-page double-layer PDF — per page an image underlay plus
    an INVISIBLE text layer (``3 Tr``, text render mode 3: no paint, kept
    for search/selection — parse_student_answers.py:391-404), with the
    reference's y-flip, vertical centering, font-size fit (F11) and
    char-space justification (F12).

    ``pages``: (width, height, image_bytes_or_None, [(text, quad), ...]).
    The output parses back through this repo's own extractor (the
    invisible text round-trips), which is how the tests pin it."""
    from pdf_ocr_spark.fixtures.genpages import (  # shared low-level writer
        _build_cid_font,
        _PdfWriter,
    )

    w = _PdfWriter()
    # Type0/Identity CID font with a ToUnicode CMap over the full charset
    # of the text layer — CJK searchable text round-trips (the reference
    # registers a CJK TTF for the same reason, parse_student_answers.py
    # font setup); latin-only Helvetica would mangle non-Latin-1 text
    charset = sorted(
        {ch for _, _, _, boxes in pages for text, _ in boxes for ch in text}
    ) or [" "]
    font, cid_of = _build_cid_font(w, charset)
    page_nums: List[int] = []
    pages_node = w.reserve()
    for pw, ph, img, boxes in pages:
        content = bytearray()
        xobj_ref = None
        if img:
            xobj_ref = w.add_stream(
                b"/Type /XObject /Subtype /Image /Width %d /Height %d"
                b" /ColorSpace /DeviceRGB /BitsPerComponent 8" % (int(pw), int(ph)),
                img,
            )
            content += b"q %.2f 0 0 %.2f 0 0 cm /Im0 Do Q\n" % (pw, ph)
        for text, quad in boxes:
            if not text or len(quad) < 4:
                continue
            xs = [float(p[0]) for p in quad]
            ys = [float(p[1]) for p in quad]
            min_x, max_x = min(xs), max(xs)
            min_y, max_y = min(ys), max(ys)
            pdf_min_y = ph - max_y  # y-flip (image top-down → PDF bottom-up)
            box_w, box_h = max_x - min_x, max_y - min_y
            if box_w <= 0 or box_h <= 0:
                continue
            size = _fit_font_size(text, box_w, box_h)
            ty = pdf_min_y + (box_h - size) / 2.0
            text_w = 0.5 * size * len(text)
            char_sp = 0.0
            if len(text) > 1 and text_w < box_w:  # F12 justification
                char_sp = (box_w - text_w) / (len(text) - 1)
            hex_cids = b"".join(
                b"%04X" % cid_of[ch] for ch in text if ch in cid_of
            )
            content += (
                b"BT 3 Tr /F1 %.2f Tf %.2f Tc %.2f %.2f Td <%s> Tj ET\n"
                % (size, char_sp, min_x, ty, hex_cids)
            )
        cs = w.add_stream(b"", bytes(content))
        res = b"<< /Font << /F1 %d 0 R >>" % font
        if xobj_ref is not None:
            res += b" /XObject << /Im0 %d 0 R >>" % xobj_ref
        res += b" >>"
        page_nums.append(
            w.add(
                b"<< /Type /Page /Parent %d 0 R /MediaBox [0 0 %.2f %.2f]"
                b" /Resources %s /Contents %d 0 R >>"
                % (pages_node, pw, ph, res, cs)
            )
        )
    kids = b" ".join(b"%d 0 R" % n for n in page_nums)
    w.fill(
        pages_node,
        b"<< /Type /Pages /Count %d /Kids [%s] >>" % (len(page_nums), kids),
    )
    root = w.add(b"<< /Type /Catalog /Pages %d 0 R >>" % pages_node)
    return w.build(root)


# -- Spark surfaces -----------------------------------------------------------

_SVG_SCHEMA = "url string, page int, svg string"
_PDF_SCHEMA = "url string, pdf binary, n_pages int"


def _overlay_row(g: dict) -> tuple:
    boxes = list(zip(g["text"], g["quad"]))
    svg = overlay_svg(float(g["page_w"][0]), float(g["page_h"][0]), boxes)
    return g["url"][0], g["page"][0], svg


def render_overlays(blocks: DataFrame) -> DataFrame:
    """Grouped-map sink: block rows (url, page, page_w, page_h, text,
    quad array<array<double>>) → one SVG per (url, page).  Debug sink —
    runs on whatever slice you select, never on the extraction hot
    path."""
    return blocks.groupBy("url", "page").applyInArrow(
        group_map(_overlay_row, StructType.fromDDL(_SVG_SCHEMA)), schema=_SVG_SCHEMA
    )


def _double_layer_row(g: dict) -> tuple:
    pages = [
        (
            float(g["page_w"][i]),
            float(g["page_h"][i]),
            g["image"][i] or b"",
            list(zip(g["texts"][i] or [], g["quads"][i] or [])),
        )
        for i in sorted(range(len(g["page"])), key=g["page"].__getitem__)
    ]
    return g["url"][0], double_layer_pdf(pages), len(pages)


def render_double_layer(pages_df: DataFrame) -> DataFrame:
    """Grouped-map sink: page rows (url, page, page_w, page_h, image,
    texts array<string>, quads array<array<array<double>>>) → one
    double-layer PDF per url (pages in order)."""
    return pages_df.groupBy("url").applyInArrow(
        group_map(_double_layer_row, StructType.fromDDL(_PDF_SCHEMA)),
        schema=_PDF_SCHEMA,
    )
