"""Deterministic generator for the Common-Crawl-style ``pages`` table
(url, warc_ts, html:binary, text, lang) per FIXTURES.md §1.

Synthesizes, with seed-stable bytes and no wall-clock reads:
  * ``pdf_glyph``  — WPS-style PDFs: Type0/Identity-H fonts, ToUnicode
    CMaps (bfchar + bfrange), per-glyph hex ``Tj`` with ``TD`` advances
    under a top-of-page y-flip ``cm`` — the japanese_test.pdf shape
    (SURVEY.md §5.2); some 2-column layouts to exercise XY-cut
  * ``pdf_simple`` — literal-string ``Tj``/``TJ`` arrays, ``'`` shows,
    WinAnsi simple fonts, Flate and raw streams (tokenizer corner cases)
  * ``pdf_scan``   — image-XObject-only pages (no text ops) that route to
    the OCR branch; the stub marker carries ground truth
  * ``html_page``  — boilerplate shells (link-dense nav/aside/footer)
    around a main article (boilerplate-stripper input)
  * ``broken``     — truncated/corrupt payloads (poison-row lineage)
"""

from __future__ import annotations

import datetime
import os
import random
import zlib
from typing import Callable, Dict, List, Optional, Tuple

from pdf_ocr_spark.kernels.ocr_stub import STUB_MARKER

# -- deterministic text corpus -------------------------------------------------

_EN_WORDS = (
    "the quick brown fox jumps over lazy dog data spark engine extract "
    "document crawl archive pipeline partition shuffle column text page "
    "block reading order token stream batch vector arrow table result "
    "filter merge join sort window count golden stable deterministic"
).split()

_JA_CHUNKS = [
    "日本語のテキストです。", "これは本文の段落です。", "データ処理の実験を行う。",
    "ページの順序を保持する。", "カタカナとひらがなの混在。", "抽出結果は安定している。",
    "スパークで分散処理する。", "文字列の結合規則を確認。",
]

_ZH_CHUNKS = [
    "这是一个中文段落。", "文档抽取引擎的测试。", "保持阅读顺序不变。",
    "数据管道需要可恢复。", "分区与倾斜的处理。", "结果必须逐字节一致。",
]


def _sentence(rng: random.Random, lang: str) -> str:
    if lang == "ja":
        return "".join(rng.choice(_JA_CHUNKS) for _ in range(rng.randint(2, 4)))
    if lang == "zh":
        return "".join(rng.choice(_ZH_CHUNKS) for _ in range(rng.randint(2, 4)))
    n = rng.randint(6, 14)
    words = [rng.choice(_EN_WORDS) for _ in range(n)]
    return " ".join(words).capitalize() + "."


def _paragraph(rng: random.Random, lang: str, sentences: Optional[int] = None) -> str:
    k = sentences if sentences is not None else rng.randint(2, 5)
    sep = " " if lang == "en" else ""
    return sep.join(_sentence(rng, lang) for _ in range(k))


# -- low-level PDF writer ------------------------------------------------------


class _PdfWriter:
    """Assembles a classic-xref PDF from numbered object bodies."""

    def __init__(self) -> None:
        self.objects: List[bytes] = []  # index i ↔ object number i+1

    def reserve(self) -> int:
        """Reserve an object number to fill in later (forward refs)."""
        self.objects.append(b"")
        return len(self.objects)

    def fill(self, num: int, body: bytes) -> None:
        self.objects[num - 1] = body

    def add(self, body: bytes) -> int:
        self.objects.append(body)
        return len(self.objects)

    def stream_body(self, dict_extra: bytes, data: bytes, compress: bool = True) -> bytes:
        if compress:
            enc = zlib.compress(data)
            d = b"<< /Length %d /Filter /FlateDecode %s >>" % (len(enc), dict_extra)
        else:
            enc = data
            d = b"<< /Length %d %s >>" % (len(enc), dict_extra)
        return d + b"\nstream\n" + enc + b"\nendstream"

    def add_stream(self, dict_extra: bytes, data: bytes, compress: bool = True) -> int:
        return self.add(self.stream_body(dict_extra, data, compress))

    def page_tree(
        self,
        catalog: int,
        pages: int,
        kids: List[int],
        media: bytes = b"612 792",
        extra: bytes = b"",
    ) -> bytes:
        """Fill the reserved catalog (plus ``extra`` entries) and the one
        ``/Pages`` node over ``kids``, then build the file."""
        self.fill(catalog, b"<< /Type /Catalog /Pages %d 0 R%s >>" % (pages, extra))
        self.fill(
            pages,
            b"<< /Type /Pages /Kids [%s] /Count %d /MediaBox [0 0 %s] >>"
            % (b" ".join(b"%d 0 R" % n for n in kids), len(kids), media),
        )
        return self.build(catalog)

    def build(self, root_num: int) -> bytes:
        out = bytearray(b"%PDF-1.7\n%\xe2\xe3\xcf\xd3\n")
        offsets = [0] * (len(self.objects) + 1)
        for i, body in enumerate(self.objects, 1):
            offsets[i] = len(out)
            out += b"%d 0 obj\n" % i
            out += body
            out += b"\nendobj\n"
        xref_pos = len(out)
        out += b"xref\n0 %d\n" % (len(self.objects) + 1)
        out += b"0000000000 65535 f \n"
        for i in range(1, len(self.objects) + 1):
            out += b"%010d 00000 n \n" % offsets[i]
        out += b"trailer\n<< /Size %d /Root %d 0 R >>\nstartxref\n%d\n%%%%EOF\n" % (
            len(self.objects) + 1,
            root_num,
            xref_pos,
        )
        return bytes(out)


# -- glyph-style PDFs (Type0 + ToUnicode, per-glyph Tj) --------------------------


def _build_cid_font(w: _PdfWriter, charset: List[str]) -> Tuple[int, Dict[str, int]]:
    """Create a Type0/Identity-H font whose CIDs are 0x0100+index; the
    ToUnicode CMap uses bfrange for runs of consecutive codepoints and
    bfchar for the rest (exercises both forms; SURVEY.md §5.2 shows the
    sample PDF relies on bfchar-heavy CMaps)."""
    cid_of = {ch: 0x0100 + i for i, ch in enumerate(charset)}
    entries_char: List[Tuple[int, str]] = []
    entries_range: List[Tuple[int, int, str]] = []
    i = 0
    while i < len(charset):
        j = i
        while j + 1 < len(charset) and ord(charset[j + 1]) == ord(charset[j]) + 1:
            j += 1
        if j - i >= 2:
            entries_range.append((cid_of[charset[i]], cid_of[charset[j]], charset[i]))
        else:
            for k in range(i, j + 1):
                entries_char.append((cid_of[charset[k]], charset[k]))
        i = j + 1

    def hex4(v: int) -> bytes:
        return b"<%04X>" % v

    def hexu(s: str) -> bytes:
        return b"<" + s.encode("utf-16-be").hex().upper().encode() + b">"

    lines = [
        b"/CIDInit /ProcSet findresource begin",
        b"12 dict begin",
        b"begincmap",
        b"/CMapName /Adobe-Identity-UCS def",
        b"/CMapType 2 def",
        b"1 begincodespacerange",
        b"<0000> <FFFF>",
        b"endcodespacerange",
    ]
    for chunk_start in range(0, len(entries_char), 90):
        chunk = entries_char[chunk_start : chunk_start + 90]
        lines.append(b"%d beginbfchar" % len(chunk))
        for cid, ch in chunk:
            lines.append(hex4(cid) + b" " + hexu(ch))
        lines.append(b"endbfchar")
    if entries_range:
        lines.append(b"%d beginbfrange" % len(entries_range))
        for lo, hi, ch in entries_range:
            lines.append(hex4(lo) + b" " + hex4(hi) + b" " + hexu(ch))
        lines.append(b"endbfrange")
    lines += [b"endcmap", b"CMapName currentdict /CMap defineresource pop", b"end", b"end"]
    tounicode = w.add_stream(b"", b"\n".join(lines))

    wid_items = []
    for ch in charset:
        wid = 500 if ord(ch) < 0x2E80 else 1000
        wid_items.append(b"%d [%d]" % (cid_of[ch], wid))
    desc_font = w.add(
        b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /SynthCJK"
        b" /CIDSystemInfo << /Registry (Adobe) /Ordering (Identity) /Supplement 0 >>"
        b" /DW 1000 /W [" + b" ".join(wid_items) + b"] >>"
    )
    font = w.add(
        b"<< /Type /Font /Subtype /Type0 /BaseFont /SynthCJK"
        b" /Encoding /Identity-H /DescendantFonts [%d 0 R]"
        b" /ToUnicode %d 0 R >>" % (desc_font, tounicode)
    )
    return font, cid_of


def _glyph_content(
    lines: List[str],
    cid_of: Dict[str, int],
    media: Tuple[float, float],
    two_column: bool,
) -> bytes:
    """Per-glyph hex Tj content under a y-flip cm, WPS-style: for each
    glyph a ``<CID> Tj`` followed by an explicit ``dx 0 TD`` advance."""
    scale = 0.05
    fsize = 14.0
    tf = fsize / scale
    line_step = 22.0
    buf = bytearray()
    buf += b"q\n1 0 0 -1 0 %.2f cm\n" % media[1]
    if two_column and len(lines) > 1:
        col_h = (len(lines) + 1) // 2
        cols = [lines[:col_h], lines[col_h:]]
        xs = [56.0, 336.0]
    else:
        cols = [lines]
        xs = [56.0]
    for col, x0 in zip(cols, xs):
        y = 60.0
        for ln in col:
            buf += b"BT\n/F1 %.0f Tf\n" % tf
            buf += b"%.2f 0 0 -%.2f %.2f %.2f Tm\n" % (scale, scale, x0, y)
            for ch in ln:
                adv = fsize * (0.5 if ord(ch) < 0x2E80 else 1.0) / scale
                buf += b"<%04X>Tj %.2f 0 TD\n" % (cid_of[ch], adv)
            buf += b"ET\n"
            y += line_step
    buf += b"Q\n"
    return bytes(buf)


def make_glyph_pdf(
    page_lines: List[List[str]],
    two_column: bool = False,
    compress: bool = True,
) -> bytes:
    media = (612.0, 792.0)
    charset = sorted({ch for page in page_lines for ln in page for ch in ln})
    if not charset:
        charset = [" "]
    w = _PdfWriter()
    font_num, cid_of = _build_cid_font(w, charset)
    catalog = w.reserve()
    pages_num = w.reserve()
    page_nums = []
    for lines in page_lines:
        content_num = w.add_stream(
            b"", _glyph_content(lines, cid_of, media, two_column), compress=compress
        )
        page_nums.append(
            w.add(
                b"<< /Type /Page /Parent %d 0 R /Contents %d 0 R"
                b" /Resources << /Font << /F1 %d 0 R >> >> >>"
                % (pages_num, content_num, font_num)
            )
        )
    return w.page_tree(catalog, pages_num, page_nums, b"%.2f %.2f" % media)


# -- simple-font PDFs (literal strings, TJ arrays) -------------------------------


def _escape_literal(s: str) -> bytes:
    out = bytearray()
    for ch in s:
        b = ord(ch)
        if ch in "()\\":
            out += b"\\" + ch.encode("latin-1")
        elif b < 256:
            out += bytes((b,))
        else:
            out += b"?"
    return bytes(out)


def _simple_content(lines: List[str], media: Tuple[float, float], style: int) -> bytes:
    """Literal-string shows; style rotates between plain Tj, TJ arrays
    with kerning numbers, and ``'`` next-line shows with TL leading."""
    fsize = 12.0
    buf = bytearray()
    y = media[1] - 60.0
    if style % 3 == 2:
        # ' operator chain: one Td to start, then ' per line
        buf += b"BT\n/F1 %.0f Tf\n%.1f TL\n1 0 0 1 56 %.2f Td\n" % (fsize, 16.0, y)
        first = True
        for ln in lines:
            esc = _escape_literal(ln)
            if first:
                buf += b"(" + esc + b") Tj\n"
                first = False
            else:
                buf += b"(" + esc + b") '\n"
        buf += b"ET\n"
        return bytes(buf)
    for i, ln in enumerate(lines):
        buf += b"BT\n/F1 %.0f Tf\n1 0 0 1 56 %.2f Td\n" % (fsize, y)
        if style % 3 == 1 and len(ln) > 8:
            mid = len(ln) // 2
            buf += (
                b"[(" + _escape_literal(ln[:mid]) + b") -20 ("
                + _escape_literal(ln[mid:]) + b")] TJ\n"
            )
        else:
            buf += b"(" + _escape_literal(ln) + b") Tj\n"
        buf += b"ET\n"
        y -= 16.0
    return bytes(buf)


def make_simple_pdf(
    page_lines: List[List[str]], style: int = 0, compress: bool = True
) -> bytes:
    media = (612.0, 792.0)
    w = _PdfWriter()
    font_num = w.add(
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica"
        b" /Encoding /WinAnsiEncoding >>"
    )
    catalog = w.reserve()
    pages_num = w.reserve()
    page_nums = []
    for lines in page_lines:
        content_num = w.add_stream(
            b"", _simple_content(lines, media, style), compress=compress
        )
        page_nums.append(
            w.add(
                b"<< /Type /Page /Parent %d 0 R /Contents %d 0 R"
                b" /Resources << /Font << /F1 %d 0 R >> >> >>"
                % (pages_num, content_num, font_num)
            )
        )
    return w.page_tree(catalog, pages_num, page_nums, b"%.2f %.2f" % media)


def _escape_literal_bytes(raw: bytes) -> bytes:
    out = bytearray()
    for b in raw:
        if b in (0x28, 0x29, 0x5C):  # ( ) backslash
            out += b"\\" + bytes((b,))
        else:
            out += bytes((b,))
    return bytes(out)


def make_form_pdf(rng: random.Random) -> bytes:
    """One-page PDF with an AcroForm exercising the field-tree corners:
    literal + UTF-16BE text values, a /Btn name value, a /Ch choice, a
    hierarchical parent.child group with INHERITED /FT, and a terminal
    field whose /Kids are widget-only annotations (must collapse)."""
    who = " ".join(rng.sample(_EN_WORDS, 2))
    city = rng.choice(["東京都", "大阪市", "Quebec", "Zürich"])
    line1 = f"{rng.randint(1, 9)}-{rng.randint(1, 9)}-{rng.randint(1, 9)}"
    color = rng.choice(["blue", "green", "red"])
    w = _PdfWriter()
    catalog = w.reserve()
    pages_num = w.reserve()
    content = w.add_stream(b"", b"BT ET\n")
    page = w.add(
        b"<< /Type /Page /Parent %d 0 R /Contents %d 0 R >>"
        % (pages_num, content)
    )
    f1 = w.add(b"<< /FT /Tx /T (applicant) /V (%s) >>" % _escape_literal(who))
    v16 = ("﻿" + city).encode("utf-16-be")
    f2 = w.add(b"<< /FT /Tx /T (city) /V (%s) >>" % _escape_literal_bytes(v16))
    cb = w.add(b"<< /FT /Btn /T (agree) /V /Yes >>")
    ch = w.add(b"<< /FT /Ch /T (color) /V (%s) >>" % color.encode())
    parent = w.reserve()
    c1 = w.add(
        b"<< /T (line1) /V (%s) /Parent %d 0 R >>"
        % (_escape_literal(line1), parent)
    )
    c2 = w.add(b"<< /T (line2) /V (Chiyoda \\(ward\\)) /Parent %d 0 R >>" % parent)
    w.fill(
        parent,
        b"<< /T (address) /FT /Tx /Kids [%d 0 R %d 0 R] >>" % (c1, c2),
    )
    widget = w.add(b"<< /Type /Annot /Subtype /Widget /Rect [0 0 1 1] >>")
    note = w.add(
        b"<< /FT /Tx /T (note) /V (hello) /Kids [%d 0 R] >>" % widget
    )
    acro = w.add(
        b"<< /Fields [%d 0 R %d 0 R %d 0 R %d 0 R %d 0 R %d 0 R] >>"
        % (f1, f2, cb, ch, parent, note)
    )
    return w.page_tree(catalog, pages_num, [page], extra=b" /AcroForm %d 0 R" % acro)


def _decoy_rows(
    n: int, seed: int, path: str, kind: str,
    make: Callable[[random.Random], bytes], plain_line: str,
) -> List[dict]:
    """Every third row is a decoy: an HTML page (every sixth) or a one-line
    PDF without the feature (kind ``plain``); the rest are ``make(rng)``
    under ``kind``."""
    rows: List[dict] = []
    for i in range(n):
        rng = random.Random((seed << 18) ^ i)
        if i % 3 == 2:
            if i % 6 == 5:
                payload, _ = make_html_page(rng, "en")
            else:
                payload = make_simple_pdf([[plain_line]])
            row_kind = "plain"
        else:
            payload = make(rng)
            row_kind = kind
        rows.append(
            dict(url=f"https://example.test/{path}/{row_kind}/{i:05d}",
                 html=payload, kind=row_kind)
        )
    return rows


def gen_form_rows(n: int, seed: int = 17) -> List[dict]:
    """Corpus for the pdf_forms query: AcroForm PDFs plus formless PDFs
    and HTML pages (which must emit nothing)."""
    return _decoy_rows(n, seed, "forms", "form", make_form_pdf, "formless page")


def make_outline_pdf(rng: random.Random) -> bytes:
    """Three-page PDF with an /Info dict and a two-level outline:
    chapter items with /Dest arrays, a section child using an /A GoTo
    action, and a UTF-16BE title."""
    w = _PdfWriter()
    catalog = w.reserve()
    pages_num = w.reserve()
    page_nums = []
    for i in range(3):
        content = w.add_stream(b"", _simple_content([f"page {i + 1}"], (612.0, 792.0), 0))
        page_nums.append(
            w.add(
                b"<< /Type /Page /Parent %d 0 R /Contents %d 0 R"
                b" /Resources << /Font << /F1 %d 0 R >> >> >>"
                % (pages_num, content, w.add(
                    b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica"
                    b" /Encoding /WinAnsiEncoding >>"))
            )
        )
    title = " ".join(rng.sample(_EN_WORDS, 3)).title()
    author = rng.choice(["A. Writer", "B. Scholar", "C. Compiler"])
    mod = (
        b" /ModDate (D:2025020%d120000Z)" % rng.randint(1, 9)
        if rng.random() < 0.5 else b""
    )
    info = w.add(
        b"<< /Title (%s) /Author (%s) /Subject (synthetic corpus)"
        b" /Producer (genpages) /CreationDate (D:20250102030405Z)%s >>"
        % (_escape_literal(title), _escape_literal(author), mod)
    )
    outlines = w.reserve()
    ch1 = w.reserve()
    ch2 = w.reserve()
    sec = w.reserve()
    w.fill(
        ch1,
        b"<< /Title (Chapter 1) /Parent %d 0 R /Next %d 0 R"
        b" /First %d 0 R /Last %d 0 R /Dest [%d 0 R /Fit] >>"
        % (outlines, ch2, sec, sec, page_nums[0]),
    )
    v16 = ("﻿第二章").encode("utf-16-be")
    w.fill(
        ch2,
        b"<< /Title (%s) /Parent %d 0 R /Prev %d 0 R /Dest [%d 0 R /XYZ 0 792 0] >>"
        % (_escape_literal_bytes(v16), outlines, ch1, page_nums[2]),
    )
    w.fill(
        sec,
        b"<< /Title (Section 1.1) /Parent %d 0 R"
        b" /A << /S /GoTo /D [%d 0 R /Fit] >> >>" % (ch1, page_nums[1]),
    )
    w.fill(
        outlines,
        b"<< /Type /Outlines /First %d 0 R /Last %d 0 R /Count 3 >>"
        % (ch1, ch2),
    )
    pdf = w.page_tree(
        catalog, pages_num, page_nums, extra=b" /Outlines %d 0 R" % outlines
    )
    # splice /Info into the trailer (the writer has no Info hook)
    return pdf.replace(b"trailer\n<<", b"trailer\n<< /Info %d 0 R" % info, 1)


def gen_docmeta_rows(n: int, seed: int = 19) -> List[dict]:
    """Corpus for pdf_doc_info / pdf_outline: outline PDFs plus plain
    (info-less, outline-less) PDFs and HTML decoys."""
    return _decoy_rows(n, seed, "docmeta", "outline", make_outline_pdf, "plain page")


def make_annot_pdf(rng: random.Random) -> bytes:
    """Two-page PDF with comment-layer annotations: a sticky note
    (/Text) with author, a /Highlight with a UTF-16BE comment, a
    /FreeText, a geometry-only /Square (no text → must be skipped), and
    a /Link (handled by the frontier extractor → skipped here)."""
    note = " ".join(rng.sample(_EN_WORDS, 3))
    w = _PdfWriter()
    catalog = w.reserve()
    pages_num = w.reserve()
    font = w.add(
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica"
        b" /Encoding /WinAnsiEncoding >>"
    )
    a1 = w.add(
        b"<< /Type /Annot /Subtype /Text /Rect [10 700 30 720]"
        b" /Contents (%s) /T (reviewer-a) >>" % _escape_literal(note)
    )
    v16 = ("﻿要確認").encode("utf-16-be")
    a2 = w.add(
        b"<< /Type /Annot /Subtype /Highlight /Rect [10 650 200 670]"
        b" /Contents (%s) >>" % _escape_literal_bytes(v16)
    )
    a3 = w.add(
        b"<< /Type /Annot /Subtype /Square /Rect [0 0 50 50] >>"  # no text
    )
    a4 = w.add(
        b"<< /Type /Annot /Subtype /Link /Rect [0 0 10 10]"
        b" /A << /S /URI /URI (https://skip.test/) >> >>"
    )
    a5 = w.add(
        b"<< /Type /Annot /Subtype /FreeText /Rect [10 600 300 630]"
        b" /Contents (margin remark %d) >>" % rng.randint(0, 99)
    )
    page_nums = []
    for annots in (b"[%d 0 R %d 0 R %d 0 R %d 0 R]" % (a1, a2, a3, a4),
                   b"[%d 0 R]" % a5):
        content = w.add_stream(b"", _simple_content(["body text"], (612.0, 792.0), 0))
        page_nums.append(
            w.add(
                b"<< /Type /Page /Parent %d 0 R /Contents %d 0 R"
                b" /Resources << /Font << /F1 %d 0 R >> >> /Annots %s >>"
                % (pages_num, content, font, annots)
            )
        )
    return w.page_tree(catalog, pages_num, page_nums)


def gen_annot_rows(n: int, seed: int = 23) -> List[dict]:
    """Corpus for the pdf_annotations query: annotated PDFs plus
    annotation-free PDFs and HTML decoys (emit nothing)."""
    return _decoy_rows(n, seed, "annots", "annot", make_annot_pdf, "clean page")


# -- scanned (image-only) PDFs ---------------------------------------------------


def make_scan_pdf(page_texts: List[str]) -> bytes:
    """Pages containing only an image XObject (no text operators) — routes
    to the OCR branch (P8 classification,
    /root/reference/pdf_ocr_with_boxes_v3.py:118-128).  The stub ground
    truth rides inside the image stream after STUB_MARKER."""

    def image(w: _PdfWriter, pno: int, text: str):
        fake_scan = STUB_MARKER + text.encode("utf-8") + b"\x00" + b"\xff" * 64
        return 1275, 1650, b"/ColorSpace /DeviceGray /BitsPerComponent 8", fake_scan

    return _image_pages_pdf(page_texts, image)


def _image_pages_pdf(
    page_texts: List[str],
    image: Callable[[_PdfWriter, int, str], Tuple[int, int, bytes, bytes]],
) -> bytes:
    """One page per text, each drawing one full-page image XObject.
    ``image(w, pno, text)`` (``pno`` 1-based) returns the image's
    ``(width, height, dict tail, payload)`` and may add objects to ``w``
    first; the payload is stored as given."""
    w = _PdfWriter()
    catalog = w.reserve()
    pages_num = w.reserve()
    page_nums = []
    for pno, text in enumerate(page_texts, 1):
        iw, ih, tail, payload = image(w, pno, text)
        img_num = w.add_stream(
            b"/Type /XObject /Subtype /Image /Width %d /Height %d %s" % (iw, ih, tail),
            payload,
            compress=False,
        )
        content_num = w.add_stream(b"", b"q\n612 0 0 792 0 0 cm\n/Im1 Do\nQ\n")
        page_nums.append(
            w.add(
                b"<< /Type /Page /Parent %d 0 R /Contents %d 0 R"
                b" /Resources << /XObject << /Im1 %d 0 R >> >> >>"
                % (pages_num, content_num, img_num)
            )
        )
    return w.page_tree(catalog, pages_num, page_nums, b"612.00 792.00")


def _filtered(
    codec: bytes, payload: bytes, truncate: bool, flate_wrap: bool
) -> Tuple[bytes, bytes]:
    """``(/Filter entry, stream bytes)`` for a ``codec`` payload: cut to
    its first third when ``truncate``, zlib-wrapped under
    ``[/FlateDecode codec]`` when ``flate_wrap``."""
    if truncate:
        payload = payload[: max(4, len(payload) // 3)]
    if flate_wrap:
        return b"/Filter [/FlateDecode %s]" % codec, zlib.compress(payload)
    return b"/Filter %s" % codec, payload


def make_scan_pdf_inline(page_texts: List[str]) -> bytes:
    """Pages whose ONLY content is an INLINE image (``BI … ID … EI``,
    PDF 32000-1 §8.9.7) — the scanner-PDF shape where the page scan is
    embedded directly in the content stream, not as an XObject (the
    reference renders these for free via fitz,
    pdf_ocr_with_boxes_v2.py:200-209).  The image is a REAL 8-bit-gray
    raster, Flate-compressed with the ABBREVIATED dict keys the spec
    mandates inline (``/W /H /CS /G /BPC /F /Fl``); the stub ground
    truth rides in the decoded pixels, so the page only reaches OCR if
    the kernel expands the abbreviations, inflates the payload, and
    emits real P5."""
    import re as _re

    w = _PdfWriter()
    catalog = w.reserve()
    pages_num = w.reserve()
    page_nums = []
    width = 64
    # an accidental whitespace-EI-delimiter sequence inside the deflate
    # bytes would truncate the payload at a fake end marker
    ei_re = _re.compile(rb"(?:^|[\x00\t\n\x0c\r ])EI(?:$|[\x00\t\n\x0c\r /\[<(])")
    for text in page_texts:
        body = STUB_MARKER + text.encode("utf-8") + b"\x00"
        height = max(2, (len(body) + width - 1) // width)
        filler = 0xFF
        while True:
            pixels = body + bytes([filler]) * (width * height - len(body))
            enc = zlib.compress(pixels, 9)
            if not ei_re.search(enc):
                break
            filler -= 1  # different fill → different deflate stream
        content = (
            b"q\n612 0 0 792 0 0 cm\n"
            b"BI /W %d /H %d /CS /G /BPC 8 /F /Fl ID\n" % (width, height)
            + enc
            + b"\nEI\nQ\n"
        )
        content_num = w.add_stream(b"", content)
        page_nums.append(
            w.add(
                b"<< /Type /Page /Parent %d 0 R /Contents %d 0 R >>"
                % (pages_num, content_num)
            )
        )
    return w.page_tree(catalog, pages_num, page_nums, b"612.00 792.00")


def make_scan_pdf_jpeg(page_texts: List[str], corrupt_page: int = 0,
                       coding: str = "baseline") -> bytes:
    """Image-only pages whose XObject is a REAL JPEG
    (``/Filter /DCTDecode``) produced by the from-scratch encoder
    (kernels/pdf/jpeg.py): the ground truth is carried in the DECODED
    PIXELS as the pixel-grid marker (kernels/pixelcode.py), so the OCR
    branch exercises decode → pixels → recognize, the reference's real
    pixmap flow (/root/reference/pdf_ocr_with_boxes_v2.py:200-209) —
    not a byte-layout stand-in.

    ``coding`` picks the JPEG flavor: ``baseline`` (SOF0 grayscale),
    ``progressive`` (SOF2 spectral-selection + successive-approximation
    grayscale — the common web/scan variant), ``cmyk`` (baseline
    4-component with the Adobe APP14 inverted-sample convention of
    print-origin PDFs; the marker luma rides on the K channel), or
    ``gray12`` (12-bit extended sequential SOF1 — the high-bit-depth
    profile of medical/archival scans; marker luma scaled ×16), or
    ``lossless`` (SOF3 predictive, Annex H — raw scanner/DNG-class
    output; pages cycle predictors 1-7, even pages add RST restarts).

    ``corrupt_page`` (1-based, 0 = none) truncates that page's JPEG
    stream mid-entropy-data: the decoder must raise cleanly and the
    stub must emit its fingerprint fallback, never crash the task."""
    import numpy as _np

    from pdf_ocr_spark.kernels.pdf.jpeg import (
        encode_cmyk,
        encode_gray,
        encode_gray12,
        encode_gray_progressive,
    )
    from pdf_ocr_spark.kernels.pixelcode import text_to_pixels

    def image(w: _PdfWriter, pno: int, text: str):
        iw, ih, px = text_to_pixels(text)
        colorspace = b"/DeviceGray"
        bpc = 8
        if coding == "progressive":
            payload = encode_gray_progressive(px, iw, ih, quality=90)
        elif coding == "cmyk":
            cmyk = _np.zeros((ih, iw, 4), dtype=_np.uint8)
            cmyk[:, :, 3] = 255 - _np.frombuffer(px, _np.uint8).reshape(ih, iw)
            payload = encode_cmyk(cmyk.tobytes(), iw, ih, quality=90)
            colorspace = b"/DeviceCMYK"
        elif coding == "gray12":
            px12 = (_np.frombuffer(px, _np.uint8).astype(_np.uint16)
                    * 16).astype(">u2")
            payload = encode_gray12(px12.tobytes(), iw, ih, quality=92)
            bpc = 16      # PDF-legal declaration; precision rides in SOF1
        elif coding == "lossless":
            from pdf_ocr_spark.kernels.pdf.jpeg import encode_lossless

            payload = encode_lossless(
                px, iw, ih, predictor=1 + (pno - 1) % 7,
                restart_interval=iw if pno % 2 == 0 else 0)
        else:
            payload = encode_gray(px, iw, ih, quality=90)
        if pno == corrupt_page:
            payload = payload[: max(16, len(payload) * 2 // 3)]
        tail = b"/ColorSpace %s /BitsPerComponent %d /Filter /DCTDecode"
        return iw, ih, tail % (colorspace, bpc), payload

    return _image_pages_pdf(page_texts, image)


# -- HTML pages ------------------------------------------------------------------


def make_html_page(rng: random.Random, lang: str) -> Tuple[bytes, str]:
    """Boilerplate shell around a main article.  Returns (bytes, a rough
    plain-text hint used for the crawl 'text' column — NOT the golden)."""
    n_paras = rng.randint(3, 7)
    paras = [_paragraph(rng, lang) for _ in range(n_paras)]
    title = _sentence(rng, lang)[:60]
    nav_links = " ".join(
        f'<a href="/{w}">{w}</a>' for w in rng.sample(_EN_WORDS, 6)
    )
    aside_links = " ".join(
        f'<a href="/p/{w}">{w} promo</a>' for w in rng.sample(_EN_WORDS, 4)
    )
    body_paras = "\n".join(f"<p>{p}</p>" for p in paras)
    amp = "Q&amp;A &mdash; r&eacute;sum&eacute;"
    html = f"""<!DOCTYPE html>
<html><head><meta charset="utf-8"><title>{title}</title>
<script>window.__x = {rng.randint(0, 9999)};</script>
<style>.main {{ color: #222; }}</style></head>
<body>
<nav>{nav_links}</nav>
<header><h1>{title}</h1></header>
<div id="content"><article>
{body_paras}
<p>{amp}</p>
</article></div>
<aside>{aside_links}</aside>
<footer><a href="/tos">terms</a> <a href="/privacy">privacy</a> © 2025</footer>
</body></html>"""
    return html.encode("utf-8"), " ".join(paras)


# -- composite-block fixtures (v4 table/figure semantics) --------------------------


def make_ruled_table_pdf(
    caption: str, cells: List[List[str]], footnote: str
) -> bytes:
    """One-page PDF with a ruled 2-column grid: caption line just above
    the grid, one text row per cell row, footnote just below — exercises
    table typing + caption/footnote attachment (v4 composite blocks)."""
    n_rows = len(cells)
    row_h = 36.0
    top = 700.0
    bottom = top - n_rows * row_h
    parts = [
        b"BT /F1 10 Tf 1 0 0 1 72 %.0f Tm (%s) Tj ET\n"
        % (top + 6, caption.encode("ascii", "replace")),
        b"0.5 w 72 %.0f 300 %.0f re S\n" % (bottom, top - bottom),
        b"222 %.0f m 222 %.0f l S\n" % (bottom, top),
    ]
    for r in range(1, n_rows):
        y = top - r * row_h
        parts.append(b"72 %.0f m 372 %.0f l S\n" % (y, y))
    for r, row in enumerate(cells):
        y = top - r * row_h - row_h / 2 - 4
        for c, text in enumerate(row[:2]):
            x = 80 + c * 150
            parts.append(
                b"BT /F1 10 Tf 1 0 0 1 %.0f %.0f Tm (%s) Tj ET\n"
                % (x, y, text.encode("ascii", "replace"))
            )
    parts.append(
        b"BT /F1 10 Tf 1 0 0 1 72 %.0f Tm (%s) Tj ET\n"
        % (bottom - 14, footnote.encode("ascii", "replace"))
    )
    return _one_page_pdf(b"".join(parts))


def make_borderless_table_pdf(
    caption: str, cells: List[List[str]], footnote: str
) -> bytes:
    """One-page PDF with a BORDERLESS table: no painted rules, ≥2 text
    columns whose x-starts align across the rows (plus a caption above
    and footnote below) — exercises whitespace-alignment table typing
    (kernels/pdf/layout.py borderless_table_regions), the no-ML stand-in
    for the reference model's table blocks
    (/root/reference/pdf_ocr_with_boxes_v4.py:239-248)."""
    n_rows = len(cells)
    row_h = 24.0
    top = 700.0
    parts = [
        b"BT /F1 10 Tf 1 0 0 1 72 %.0f Tm (%s) Tj ET\n"
        % (top + 26, caption.encode("ascii", "replace")),
    ]
    for r, row in enumerate(cells):
        y = top - r * row_h
        for c, text in enumerate(row[:3]):
            x = 80 + c * 150
            parts.append(
                b"BT /F1 10 Tf 1 0 0 1 %.0f %.0f Tm (%s) Tj ET\n"
                % (x, y, text.encode("ascii", "replace"))
            )
    parts.append(
        b"BT /F1 10 Tf 1 0 0 1 72 %.0f Tm (%s) Tj ET\n"
        % (top - n_rows * row_h - 6, footnote.encode("ascii", "replace"))
    )
    return _one_page_pdf(b"".join(parts))


def make_rotated_pdf(lines: List[str], angle: int) -> bytes:
    """One-page PDF whose text is drawn rotated by ``angle`` (90/180/270
    CCW) via text matrices ONLY — no /Rotate attribute (the producer
    baked the rotation in).  Exercises content-based OSD (K4): after
    dominant_rotation + normalize_page_rotation the extracted text must
    byte-match the upright twin's."""
    pw, ph = 612.0, 792.0
    leading = 14.0
    parts = []
    for i, ln in enumerate(lines):
        esc = ln.encode("ascii", "replace")
        esc = esc.replace(b"\\", b"\\\\").replace(b"(", b"\\(").replace(b")", b"\\)")
        if angle == 90:     # flow +y; upright line i at tx = 72 + i*leading
            tm = b"0 1 -1 0 %.1f 72" % (72.0 + i * leading)
        elif angle == 180:  # flow -x; upright line i at ty = 100 + i*leading
            tm = b"-1 0 0 -1 %.1f %.1f" % (pw - 72.0, 100.0 + i * leading)
        elif angle == 270:  # flow -y; upright line i at tx decreasing
            tm = b"0 -1 1 0 %.1f %.1f" % (700.0 - i * leading, ph - 72.0)
        else:               # upright twin for parity tests
            tm = b"1 0 0 1 72 %.1f" % (700.0 - i * leading)
        parts.append(b"BT /F1 10 Tf %s Tm (%s) Tj ET\n" % (tm, esc))
    return _one_page_pdf(b"".join(parts))


def make_vector_pdf(n_strokes: int = 12, seed: int = 3) -> bytes:
    """One-page PDF with ONLY painted vector strokes — no text shows, no
    image XObjects (a chart / line-art page).  The reference rasterizes
    such pages and OCRs the bitmap (pdf_to_images feeds every page to
    recognition); exercises the S10 vector-only → rasterize → OCR branch."""
    rng = random.Random(seed)
    parts = [b"1 w\n"]
    for _ in range(n_strokes):
        x = 72 + rng.randint(0, 400)
        y = 100 + rng.randint(0, 600)
        if rng.random() < 0.5:
            parts.append(b"%d %d m %d %d l S\n" % (x, y, x + rng.randint(40, 160), y))
        else:
            parts.append(b"%d %d m %d %d l S\n" % (x, y, x, y + rng.randint(40, 120)))
    parts.append(b"72 100 468 600 re S\n")  # chart frame
    return _one_page_pdf(b"".join(parts))


def make_figure_pdf(paragraph: str, caption: str) -> bytes:
    """One-page PDF with a body paragraph, an image XObject draw, and a
    'Figure N: …' caption line below it — exercises image-typed blocks +
    image_caption attachment."""
    img_body = b"\x80" * 64
    content = (
        b"BT /F1 10 Tf 1 0 0 1 72 740 Tm (%s) Tj ET\n"
        % paragraph.encode("ascii", "replace")
        + b"q 200 0 0 120 100 480 cm /Im1 Do Q\n"
        + b"BT /F1 10 Tf 1 0 0 1 100 458 Tm (%s) Tj ET\n"
        % caption.encode("ascii", "replace")
    )
    return _one_page_pdf(content, image_body=img_body)


def _one_page_pdf(content: bytes, image_body: Optional[bytes] = None) -> bytes:
    w = _PdfWriter()
    font_num = w.add(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    res = b"/Font << /F1 %d 0 R >>" % font_num
    if image_body is not None:
        img_num = w.add_stream(
            b"/Type /XObject /Subtype /Image /Width 8 /Height 8"
            b" /ColorSpace /DeviceGray /BitsPerComponent 8",
            image_body,
            compress=False,
        )
        res += b" /XObject << /Im1 %d 0 R >>" % img_num
    catalog = w.reserve()
    pages_num = w.reserve()
    content_num = w.add_stream(b"", content, compress=True)
    page_num = w.add(
        b"<< /Type /Page /Parent %d 0 R /Contents %d 0 R /Resources << %s >> >>"
        % (pages_num, content_num, res)
    )
    return w.page_tree(catalog, pages_num, [page_num])


def gen_raster_rows(n: int = 60, n_vector: int = 5) -> List[dict]:
    """Corpus for the raster queries: the standard mix (gen_rows) plus
    ``n_vector`` vector-only line-art docs — the page class whose OCR
    routing only exists because of the rasterizer."""
    rows = gen_rows(n, include_ref_pdf=False)
    for s in range(n_vector):
        rows.append(
            dict(
                url=f"https://example.test/docs/vector/{s:06d}",
                warc_ts=datetime.datetime(2025, 1, 2, 0, 0, s),
                html=make_vector_pdf(n_strokes=10 + s, seed=s),
                text="",
                lang="en",
                kind="vector",
            )
        )
    return rows


def make_scan_pdf_ccitt(
    page_texts: List[str],
    corrupt_page: int = 0,
    flate_wrap: bool = False,
) -> bytes:
    """Image-only pages whose XObject is a REAL Group-4 fax stream
    (``/Filter /CCITTFaxDecode /K -1``) produced by the from-scratch T.6
    encoder (kernels/pdf/ccitt.py) — the codec real-world scanned PDFs
    (fax archives, book scans) carry almost universally.  Ground truth
    rides in the DECODED PIXELS as the pixel-grid marker
    (kernels/pixelcode.py), so the OCR branch exercises
    decode → pixels → recognize end-to-end.

    ``flate_wrap`` additionally zlib-wraps the fax stream
    (``/Filter [/FlateDecode /CCITTFaxDecode]``) to exercise the
    pre-filter chain; ``corrupt_page`` (1-based, 0 = none) truncates
    that page's stream mid-data: the decoder must raise cleanly and the
    payload fall back to opaque bytes (fingerprint OCR), never crash."""
    from pdf_ocr_spark.kernels.pdf.ccitt import encode_g4
    from pdf_ocr_spark.kernels.pixelcode import text_to_pixels

    def image(w: _PdfWriter, pno: int, text: str):
        iw, ih, px = text_to_pixels(text)
        filt, payload = _filtered(
            b"/CCITTFaxDecode", encode_g4(px, iw, ih), pno == corrupt_page, flate_wrap
        )
        parms = b"<< /K -1 /Columns %d /Rows %d /BlackIs1 false >>" % (iw, ih)
        if flate_wrap:
            parms = b"[null %s]" % parms
        tail = b"/ColorSpace /DeviceGray /BitsPerComponent 1 %s /DecodeParms %s"
        return iw, ih, tail % (filt, parms), payload

    return _image_pages_pdf(page_texts, image)


def _scan_rows(
    n_docs: int, seed: int, codec: str, label: str, day: int,
    make: Callable[[int, List[str], int], bytes],
) -> List[dict]:
    """Doc ``d`` has ``1 + d % 3`` pages, each ``"<label> doc d page p"``
    over one random en/zh sentence; ``make(d, texts, corrupt_page)``
    builds its PDF, and the last doc truncates page 1."""
    rng = random.Random(seed)
    rows = []
    for d in range(n_docs):
        texts = [
            f"{label} doc {d} page {p + 1}\n"
            + _sentence(rng, ("en", "zh")[(d + p) % 2])
            for p in range(1 + d % 3)
        ]
        rows.append(
            dict(
                url=f"https://example.test/docs/{codec}scan/{d:06d}",
                warc_ts=datetime.datetime(2025, 1, day, 0, 0, d),
                html=make(d, texts, 1 if d == n_docs - 1 else 0),
                text="",
                lang="en",
                kind=f"pdf_{codec}_scan",
            )
        )
    return rows


def gen_ccitt_scan_rows(n_docs: int = 10) -> List[dict]:
    """Corpus for the G4 fax scan branch: multi-page PDFs whose pages are
    CCITT Group-4 image XObjects carrying pixel-marker ground truth; one
    doc zlib-wraps its fax streams (filter chain), one carries a
    truncated stream (decode must fail loudly, extract must not).
    Deterministic — same rows every call."""
    return _scan_rows(
        n_docs, 0xCC17, "ccitt", "fax", 4,
        lambda d, texts, corrupt: make_scan_pdf_ccitt(
            texts, corrupt_page=corrupt, flate_wrap=d == n_docs - 2
        ),
    )


def gen_jpeg_scan_rows(n_docs: int = 17) -> List[dict]:
    """Corpus for the real-pixel scan branch: multi-page PDFs whose pages
    are JPEG images (DCTDecode) carrying pixel-marker ground truth.
    Docs 0-10 are baseline grayscale; docs 11-12 are PROGRESSIVE (SOF2);
    doc 13 is 12-BIT extended sequential (SOF1 precision 12, 16-bit
    DQT); doc 14 is LOSSLESS (SOF3 predictive, Annex H); doc n-2 is
    Adobe CMYK (4-component, inverted samples); the last doc carries a
    truncated progressive page 1 (decode must fail loudly, extract must
    not).  Deterministic — same rows every call."""

    def pdf(d: int, texts: List[str], corrupt: int) -> bytes:
        if d in (11, 12) or d == n_docs - 1:
            coding = "progressive"
        elif d == 13 and d < n_docs - 2:
            coding = "gray12"
        elif d == 14 and d < n_docs - 2:
            coding = "lossless"
        elif d == n_docs - 2:
            coding = "cmyk"
        else:
            coding = "baseline"
        return make_scan_pdf_jpeg(texts, corrupt_page=corrupt, coding=coding)

    return _scan_rows(n_docs, 0xDC7, "jpeg", "scan", 3, pdf)


def gen_orientation_rows(n: int = 40) -> List[dict]:
    """Corpus for the K4 orientation query: the standard mix (every page
    upright → rotation 0) plus one baked-rotation doc per angle and its
    upright twin."""
    rows = gen_rows(n, include_ref_pdf=False)
    lines = ["alpha bravo charlie", "delta echo foxtrot", "golf hotel india"]
    for angle in (0, 90, 180, 270):
        rows.append(
            dict(
                url=f"https://example.test/docs/rotated/{angle:03d}",
                warc_ts=datetime.datetime(2025, 1, 3, 0, 0, angle // 90),
                html=make_rotated_pdf(lines, angle),
                text=" ".join(lines),
                lang="en",
                kind="rotated",
            )
        )
    return rows


def gen_composite_rows(n: int, seed: int = 7) -> List[dict]:
    """Deterministic corpus for the composite-blocks queries: cycles
    ruled-table / figure / plain-text / BORDERLESS-table docs (plain
    docs prove the route emits nothing for them; borderless docs prove
    whitespace-alignment typing reaches the composite renderer)."""
    rows: List[dict] = []
    for i in range(n):
        rng = random.Random((seed << 16) ^ i)
        kind = ("table", "figure", "plain", "borderless")[i % 4]
        url = f"https://example.test/composite/{kind}/{i:05d}"
        if kind == "table":
            n_rows = rng.randint(1, 3)
            cells = [
                [f"metric {i}-{r}", str(rng.randint(100, 9999))]
                for r in range(n_rows)
            ]
            payload = make_ruled_table_pdf(
                f"Table {i}: {_sentence(rng, 'en')}",
                cells,
                f"Source: dataset {rng.randint(1, 99)}",
            )
        elif kind == "borderless":
            n_rows = rng.randint(3, 5)
            cells = [
                [f"row {i}-{r}", str(rng.randint(10, 9999)),
                 f"u{rng.randint(1, 99)}"]
                for r in range(n_rows)
            ]
            payload = make_borderless_table_pdf(
                f"Table {i}: {_sentence(rng, 'en')[:40]}",
                cells,
                f"Source: dataset {rng.randint(1, 99)}",
            )
        elif kind == "figure":
            payload = make_figure_pdf(
                _sentence(rng, "en"),
                f"Figure {i}: {_sentence(rng, 'en')}",
            )
        else:
            payload = make_simple_pdf([[_sentence(rng, "en") for _ in range(4)]])
        rows.append(dict(url=url, html=payload, kind=kind))
    return rows


def make_table_html(rng: random.Random, i: int) -> bytes:
    """Deterministic HTML page with 1-2 data tables (caption on some),
    navigation boilerplate, and body paragraphs — exercises structured
    <table> extraction alongside main-content stripping."""
    n_tables = rng.randint(1, 2)
    tables = []
    for t in range(n_tables):
        n_rows = rng.randint(2, 4)
        cap = (
            f"<caption>Dataset {i}-{t}: {_sentence(rng, 'en')}</caption>"
            if rng.random() < 0.6
            else ""
        )
        head = "<tr><th>Key</th><th>Value</th><th>Note</th></tr>"
        body = "".join(
            f"<tr><td>k{i}-{t}-{r}</td><td>{rng.randint(10, 9999)}</td>"
            f"<td>{_sentence(rng, 'en')}</td></tr>"
            for r in range(n_rows)
        )
        tables.append(f"<table>{cap}{head}{body}</table>")
    paras = "".join(f"<p>{_sentence(rng, 'en')}</p>" for _ in range(3))
    html = (
        "<html><head><title>tables</title></head><body>"
        "<nav><a href='/'>home</a> <a href='/about'>about</a></nav>"
        f"<main>{paras}{''.join(tables)}</main>"
        "<footer>© 2025</footer></body></html>"
    )
    return html.encode("utf-8")


def gen_html_table_rows(n: int, seed: int = 11) -> List[dict]:
    """Deterministic corpus for the html_tables query: table pages plus
    tableless pages (which must emit no rows)."""
    rows: List[dict] = []
    for i in range(n):
        rng = random.Random((seed << 18) ^ i)
        if i % 4 == 3:
            payload, _ = make_html_page(rng, "en")  # tableless page
            kind = "plain"
        else:
            payload = make_table_html(rng, i)
            kind = "tables"
        rows.append(
            dict(
                url=f"https://example.test/htmltbl/{kind}/{i:05d}",
                html=payload,
                kind=kind,
            )
        )
    return rows


def gen_html_meta_rows(n: int, seed: int = 13) -> List[dict]:
    """Deterministic corpus for the html_meta query: head-metadata
    variety — full OpenGraph heads, single-quoted/unquoted attributes,
    <time datetime>, JSON-LD-only dates, entity-encoded titles, a
    UTF-16LE page, and metadata-free pages (title-only shells)."""
    rows: List[dict] = []
    for i in range(n):
        rng = random.Random((seed << 18) ^ i)
        title = _sentence(rng, "en")[:60]
        kind = i % 6
        if kind == 0:  # full head, double quotes
            html = (
                f'<!DOCTYPE html><html lang="en"><head>'
                f"<title>{title} &amp; more</title>"
                f'<meta name="description" content="summary of {title}">'
                f'<meta property="og:title" content="OG {title}">'
                f'<meta property="og:image" content="https://img.test/{i}.jpg">'
                f'<meta name="ROBOTS" content="NOINDEX, nofollow{", noindex" if i % 2 else ""}">'
                f'<meta property="article:published_time" content="2025-0{1 + i % 9}-11T08:00:00Z">'
                f'<link rel="canonical" href="https://example.test/meta/canon/{i}">'
                f"</head><body><p>{_paragraph(rng, 'en')}</p>"
                f'<time datetime="1999-01-01">ignored (meta wins)</time>'
                f"</body></html>"
            ).encode("utf-8")
        elif kind == 1:  # single-quoted + unquoted attributes
            html = (
                f"<html lang=fr><head><title>{title}</title>"
                f"<meta name='description' content='résumé {i}'>"
                f"<link rel=canonical href=https://example.test/m/{i}>"
                f"</head><body><p>{_paragraph(rng, 'en')}</p></body></html>"
            ).encode("utf-8")
        elif kind == 2:  # <time datetime> date, no meta date
            # i == 8: shape-valid but CALENDAR-invalid declared date (real
            # pages do this) — freshness must bucket it 'unknown', not
            # crash ANSI to_date (queries.q_page_freshness try_to_date)
            date = "2024-02-30" if i == 8 else f"2024-12-0{1 + i % 9}"
            html = (
                f"<html><head><title>{title}</title>"
                f"<meta name=robots content='index, follow'></head><body>"
                f'<article><time datetime="{date}">posted</time>'
                f"<p>{_paragraph(rng, 'en')}</p></article></body></html>"
            ).encode("utf-8")
        elif kind == 3:  # JSON-LD-only date
            html = (
                f"<html><head><title>{title}</title>"
                f'<script type="application/ld+json">'
                f'{{"@type": "Article", "datePublished": "2023-07-0{1 + i % 9}"}}'
                f"</script></head><body><p>{_paragraph(rng, 'en')}</p></body></html>"
            ).encode("utf-8")
        elif kind == 4:  # UTF-16LE page with BOM (decode sniff must win)
            html = ("﻿" + (
                f'<html lang="ja"><head><title>{title} 第一</title>'
                f'<meta name="description" content="説明 {i}">'
                f"</head><body><p>{_paragraph(rng, 'ja')}</p></body></html>"
            )).encode("utf-16-le")
        else:  # metadata-free shell (generic page: title only)
            html, _ = make_html_page(rng, "en")
        rows.append(
            dict(url=f"https://example.test/htmlmeta/{i:05d}", html=html, kind=kind)
        )
    return rows


def gen_jsonld_rows(n: int, seed: int = 29) -> List[dict]:
    """Deterministic corpus for the html_jsonld query: every embed
    shape schema.org pages use in practice — a plain Article, a
    top-level array, an @graph wrapper, list-valued @type, parameters
    on the script type attribute, uppercase tags, malformed JSON
    (must still emit a valid=False row), a non-ld script that must be
    ignored, and JSON-LD-free pages (emit nothing)."""
    rows: List[dict] = []
    for i in range(n):
        rng = random.Random((seed << 18) ^ i)
        title = _sentence(rng, "en")[:50]
        body = f"<body><p>{_paragraph(rng, 'en')}</p></body>"
        kind = i % 8
        if kind == 0:  # plain Article
            ld = (
                f'<script type="application/ld+json">{{"@type": "Article", '
                f'"headline": "{title}", '
                f'"datePublished": "2025-0{1 + i % 9}-02T10:00:00Z"}}</script>'
            )
        elif kind == 1:  # top-level array, single quotes on the attr
            ld = (
                "<script type='application/ld+json'>"
                f'[{{"@type": "Product", "name": "Widget {i}"}}, '
                f'{{"@type": "Offer", "price": "{i}.00"}}]</script>'
            )
        elif kind == 2:  # @graph wrapper
            ld = (
                '<script type="application/ld+json">{"@context": '
                '"https://schema.org", "@graph": [{"@type": "WebSite", '
                f'"name": "Site {i % 5}"}}, {{"@type": "BreadcrumbList", '
                f'"name": "crumbs {i}"}}]}}</script>'
            )
        elif kind == 3:  # list @type + name-beats-headline + params
            ld = (
                '<SCRIPT TYPE="application/ld+json; charset=utf-8">'
                f'{{"@type": ["NewsArticle", "Article"], "name": "N{i}", '
                f'"headline": "ignored {i}", '
                f'"datePublished": "2024-1{i % 2}-2{i % 8}"}}</SCRIPT>'
            )
        elif kind == 4:  # malformed JSON: valid=False row, never a raise
            ld = (
                '<script type="application/ld+json">{"@type": "Article", '
                f'"headline": "broken {i}"</script>'
            )
        elif kind == 5:  # two blocks on one page (block_index order)
            ld = (
                '<script type="application/ld+json">'
                f'{{"@type": "Organization", "name": "Org {i % 3}"}}</script>'
                '<script type="application/ld+json">'
                f'{{"@type": "FAQPage", "name": "faq {i}"}}</script>'
            )
        elif kind == 6:  # non-ld scripts only -> emits nothing
            ld = (
                '<script type="text/javascript">var x = {"@type": "NOPE"};'
                "</script><script>let y = 1 < 2;</script>"
            )
        else:  # no scripts at all -> emits nothing
            ld = ""
        html = (
            f"<html><head><title>{title}</title>{ld}</head>{body}</html>"
        ).encode("utf-8")
        rows.append(
            dict(url=f"https://example.test/jsonld/{i:05d}", html=html,
                 kind=kind)
        )
    return rows


def gen_cdx_rows() -> List[dict]:
    """Deterministic corpus for the warc_cdx query: 40 HTML pages
    (response records) + 8 text-only rows (WET conversion records),
    each with a fixed naive timestamp — the full pages shape the WARC
    sink consumes.  Order is NOT sorted here; callers sort by url so
    the archive byte layout (and therefore CDX offsets) is pinned."""
    base = datetime.datetime(2025, 3, 1, 0, 0, 0)
    out: List[dict] = []
    for i, r in enumerate(gen_html_meta_rows(40)):
        out.append(
            dict(
                url=r["url"],
                warc_ts=base + datetime.timedelta(seconds=37 * i),
                html=r["html"],
                text=None,
            )
        )
    for j in range(8):
        out.append(
            dict(
                url=f"https://example.test/wet/{j:04d}",
                warc_ts=base + datetime.timedelta(seconds=9000 + j),
                html=None,
                text=f"extracted text {j} body " * (j + 1),
            )
        )
    return out


def gen_redirect_archive() -> bytes:
    """Deterministic WARC archive for the warc_redirects query: every
    redirect shape a crawl sees — 301 root-relative, 302 absolute, 303
    scheme-relative, 307 path-relative, 308 — interleaved with records
    the extractor must IGNORE (200 response, 301 without Location, a
    WET conversion record)."""
    from pdf_ocr_spark.sources.warc import write_warc_record

    recs = [
        write_warc_record(
            "https://move.test/old/page", "2025-04-01T00:00:01Z", b"",
            http_status="301 Moved Permanently",
            extra_http_headers=[("Location", "/new/page")],
        ),
        write_warc_record(
            "https://move.test/ok", "2025-04-01T00:00:02Z", b"fine",
        ),
        write_warc_record(
            "http://move.test/http", "2025-04-01T00:00:03Z", b"",
            http_status="302 Found",
            extra_http_headers=[("Location", "https://move.test/http")],
        ),
        write_warc_record(
            "https://move.test/cdn", "2025-04-01T00:00:04Z", b"",
            http_status="303 See Other",
            extra_http_headers=[("Location", "//cdn.move.test/asset")],
        ),
        write_warc_record(
            "https://move.test/a/b/c", "2025-04-01T00:00:05Z", b"",
            http_status="307 Temporary Redirect",
            extra_http_headers=[("Location", "sibling?x=1")],
        ),
        write_warc_record(
            "https://move.test/gone", "2025-04-01T00:00:06Z", b"",
            http_status="308 Permanent Redirect",
            extra_http_headers=[("Location", "https://other.test/")],
        ),
        write_warc_record(  # 301 WITHOUT Location: ignored
            "https://move.test/broken", "2025-04-01T00:00:07Z", b"",
            http_status="301 Moved Permanently",
        ),
        write_warc_record(  # conversion record: ignored
            "https://move.test/wet", "2025-04-01T00:00:08Z", b"text",
            warc_type="conversion",
        ),
    ]
    return b"".join(recs)


def gen_link_rows() -> List[dict]:
    """Corpus for the link-graph queries: the standard 100-doc mix plus
    dedicated pages exercising the rel=nofollow/ugc/sponsored link-level
    opt-outs (absent from the generic HTML fixtures)."""
    rows = gen_rows(100, include_ref_pdf=False)
    rel_pages = [
        (
            "https://example.test/links/rel/00000",
            "<html><body>"
            "<a href='/editorial'>editorial</a>"
            "<a href='/paid' rel='sponsored'>ad</a>"
            "<a href='/comment' rel=\"ugc\">user link</a>"
            "<a href='/untrusted' rel='nofollow noopener'>untrusted</a>"
            "<a href='/follow2' rel='noopener'>trusted</a>"
            "</body></html>",
        ),
        (
            "https://example.test/links/rel/00001",
            "<html><body>"
            "<a rel=nofollow href='/bare-attr'>bare</a>"
            "<a href='/plain'>plain</a>"
            "</body></html>",
        ),
    ]
    for url, html in rel_pages:
        rows.append(dict(url=url, warc_ts=None, html=html.encode("utf-8"),
                         text="", lang="en", kind="html_page"))
    return rows


def gen_robots_rows(n_domains: int, seed: int = 23) -> Tuple[List[dict], List[str]]:
    """Deterministic robots.txt corpus + candidate frontier URLs.

    Returns (robots_rows, urls): robots_rows have (domain, body) — bodies
    cycle through empty, allow-all, deny-all, path rules with wildcards /
    end anchors, and multi-agent groups; urls probe each domain's rules
    plus one domain with NO robots.txt at all (must default to allowed)."""
    robots: List[dict] = []
    urls: List[str] = []
    for i in range(n_domains):
        rng = random.Random((seed << 12) ^ i)
        domain = f"site{i:03d}.example.test"
        variant = i % 5
        if variant == 0:
            body = "User-agent: *\nDisallow:\n"
        elif variant == 1:
            body = "User-agent: *\nDisallow: /\n"
        elif variant == 2:
            body = (
                "User-agent: *\n"
                f"Disallow: /private{i}/\n"
                f"Allow: /private{i}/ok$\n"
                "Disallow: /*.pdf$\n"
                "Crawl-delay: 2\n"
            )
        elif variant == 3:
            body = (
                "User-agent: graftbot\nDisallow: /graft-only/\n"
                "Crawl-delay: 0.5\n\n"
                "User-agent: *\nDisallow: /everyone/\n"
            )
        else:
            body = (
                f"# comment line\nSitemap: https://{domain}/sitemap.xml\n"
                "User-agent: a\nUser-agent: b\n"
                f"Disallow: /shared{i}\n"
                "User-agent: *\n"
                "Disallow: /*?print=\n"  # query-targeting rule (REP matches
            )                            # path+query, not bare path)
        robots.append(dict(domain=domain, body=body.encode("utf-8")))
        for path in (
            "/", f"/private{i}/x", f"/private{i}/ok", "/doc.pdf",
            "/graft-only/page", "/everyone/page", f"/shared{i}/y",
            "/article?print=1", "/article?page=2",
            f"/page{rng.randint(0, 99)}",
        ):
            urls.append(f"https://{domain}{path}")
    urls.append("https://norobots.example.test/anything")
    # scheme/host are case-insensitive (RFC 3986): this must join against
    # site001's deny-all rules, not default to allowed
    urls.append("HTTPS://SITE001.Example.TEST/mixed/case")
    return robots, urls


def gen_sitemap_rows(n: int, seed: int = 31) -> List[dict]:
    """Deterministic sitemap-XML corpus: urlsets (some gzipped, some with
    lastmod), one sitemapindex per cycle, and broken docs (must emit
    nothing)."""
    import gzip as _gzip

    rows: List[dict] = []
    for i in range(n):
        rng = random.Random((seed << 14) ^ i)
        domain = f"smsite{i:03d}.example.test"
        url = f"https://{domain}/sitemap.xml"
        variant = i % 4
        if variant == 3:
            body = b"<html>this is not a sitemap</html>"
        elif variant == 2:
            children = "".join(
                f"<sitemap><loc>https://{domain}/sitemap-{k}.xml</loc></sitemap>"
                for k in range(rng.randint(2, 4))
            )
            body = f"<?xml version=\"1.0\"?><sitemapindex>{children}</sitemapindex>".encode()
        else:
            entries = []
            for k in range(rng.randint(2, 6)):
                lastmod = (
                    f"<lastmod>2025-0{rng.randint(1, 9)}-1{k % 10}</lastmod>"
                    if rng.random() < 0.5
                    else ""
                )
                entries.append(
                    f"<url><loc>https://{domain}/page/{k}?a=1&amp;b={k}</loc>{lastmod}</url>"
                )
            body = (
                "<?xml version=\"1.0\"?>"
                "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">"
                + "".join(entries) + "</urlset>"
            ).encode()
            if variant == 1:
                body = _gzip.compress(body, mtime=0)
                url = f"https://{domain}/sitemap.xml.gz"
        rows.append(dict(url=url, body=body))
    return rows


def gen_feed_rows(n: int, seed: int = 37) -> List[dict]:
    """Deterministic RSS/Atom corpus: RSS channels (entities, CDATA
    titles, pubDates), Atom feeds (rel=self decoys before alternates,
    gzipped variants), and broken docs (must emit nothing)."""
    import gzip as _gzip

    rows: List[dict] = []
    for i in range(n):
        rng = random.Random((seed << 14) ^ i)
        domain = f"feedsite{i:03d}.example.test"
        url = f"https://{domain}/feed.xml"
        variant = i % 4
        if variant == 3:
            body = b"<html>not a feed at all</html>"
        elif variant == 2:
            entries = []
            for k in range(rng.randint(2, 4)):
                entries.append(
                    f'<entry><title>Entry {k}</title>'
                    f'<link rel="self" href="https://{domain}/self"/>'
                    f'<link rel="alternate" href="https://{domain}/e/{k}"/>'
                    f"<updated>2024-0{rng.randint(1, 9)}-02T03:04:05Z</updated></entry>"
                )
            body = (
                '<feed xmlns="http://www.w3.org/2005/Atom">'
                + "".join(entries) + "</feed>"
            ).encode()
            if rng.random() < 0.5:
                body = _gzip.compress(body, mtime=0)
                url = f"https://{domain}/feed.xml.gz"
        else:
            items = []
            for k in range(rng.randint(2, 5)):
                title = (
                    f"<![CDATA[Post {k} & friends]]>"
                    if rng.random() < 0.4
                    else f"Post {k} &amp; co"
                )
                date = (
                    f"<pubDate>Mon, 0{rng.randint(1, 9)} Jan 2024 00:00:00 GMT</pubDate>"
                    if rng.random() < 0.6
                    else ""
                )
                items.append(
                    f"<item><title>{title}</title>"
                    f"<link>https://{domain}/post/{k}?x=1&amp;y={k}</link>{date}</item>"
                )
            body = (
                '<?xml version="1.0"?><rss version="2.0"><channel>'
                + "".join(items) + "</channel></rss>"
            ).encode()
        rows.append(dict(url=url, body=body))
    return rows


# -- broken payloads ---------------------------------------------------------------


def make_broken(rng: random.Random, variant: int) -> bytes:
    if variant % 3 == 0:
        # truncated PDF (valid header, cut mid-objects)
        whole = make_simple_pdf([["truncated document line one", "line two"]])
        return whole[: len(whole) // 3]
    if variant % 3 == 1:
        # undecodable stream: Flate header but corrupt body
        whole = make_glyph_pdf([["破損したページ"]])
        idx = whole.find(b"stream\n") + 7
        return whole[:idx] + b"\x00garbage\x00" + whole[idx + 9 :]
    # not a document at all
    return bytes(rng.getrandbits(8) for _ in range(256))


# -- corpus assembly -----------------------------------------------------------------

_REF_PDF_PATH = "/root/reference/japanese_test.pdf"


def _kind_for(i: int) -> str:
    """FIXTURES.md row mix: 25% glyph, 20% simple, 10% scan, 40% html, 5% broken."""
    r = i % 20
    if r < 5:
        return "pdf_glyph"
    if r < 9:
        return "pdf_simple"
    if r < 11:
        return "pdf_scan"
    if r < 19:
        return "html_page"
    return "broken"


def gen_rows(n: int, seed: int = 42, include_ref_pdf: bool = True) -> List[dict]:
    """Deterministic pages-table rows.  Row 0 (optionally) carries the
    reference sample PDF verbatim; the rest cycle through the kind mix.
    The named corpora (:data:`CORPORA`) never include that file, so no
    golden depends on whether it exists."""
    rows: List[dict] = []
    base_ts = datetime.datetime(2025, 1, 1, 0, 0, 0)
    ref_bytes: Optional[bytes] = None
    if include_ref_pdf:
        try:
            with open(_REF_PDF_PATH, "rb") as f:
                ref_bytes = f.read()
        except OSError:
            ref_bytes = None

    for i in range(n):
        rng = random.Random((seed << 20) ^ i)  # per-row rng → order-independent
        ts = base_ts + datetime.timedelta(
            days=(i * 7919) % 365, seconds=(i * 104729) % 86400
        )
        lang = ("en", "ja", "zh")[i % 3]
        if i == 0 and ref_bytes is not None:
            rows.append(
                dict(
                    url="https://example.test/docs/ref/000000",
                    warc_ts=ts,
                    html=ref_bytes,
                    text="japanese test pdf",
                    lang="ja",
                    kind="ref",
                )
            )
            continue
        kind = _kind_for(i)
        url = f"https://example.test/docs/{kind}/{i:06d}"
        if kind == "pdf_glyph":
            n_pages = rng.randint(1, 4)
            two_col = rng.random() < 0.3
            pages = [
                [_sentence(rng, lang) for _ in range(rng.randint(4, 10))]
                for _ in range(n_pages)
            ]
            payload = make_glyph_pdf(pages, two_column=two_col)
            hint = " ".join(l for p in pages for l in p)[:200]
        elif kind == "pdf_simple":
            n_pages = rng.randint(1, 3)
            style = rng.randint(0, 2)
            pages = [
                [_sentence(rng, "en") for _ in range(rng.randint(4, 10))]
                for _ in range(n_pages)
            ]
            payload = make_simple_pdf(pages, style=style, compress=rng.random() < 0.7)
            hint = " ".join(l for p in pages for l in p)[:200]
        elif kind == "pdf_scan":
            n_pages = rng.randint(1, 2)
            texts = [
                "\n".join(_sentence(rng, lang) for _ in range(rng.randint(2, 5)))
                for _ in range(n_pages)
            ]
            # half the scan slots (i % 20 == 10) embed the scan as an
            # INLINE image instead of an XObject — both shapes exist in
            # real crawled scanner output and both must reach OCR
            if i % 20 == 10:
                payload = make_scan_pdf_inline(texts)
            else:
                payload = make_scan_pdf(texts)
            hint = " ".join(texts)[:200]
        elif kind == "html_page":
            payload, hint = make_html_page(rng, lang)
            hint = hint[:200]
        else:  # broken
            payload = make_broken(rng, i)
            hint = ""
        rows.append(
            dict(url=url, warc_ts=ts, html=payload, text=hint, lang=lang, kind=kind)
        )
    return rows


def write_corpus(path: str, n: int, seed: int = 42, n_files: int = 1) -> None:
    """Write the pages table as parquet (without the 'kind' helper column,
    matching the input_hint schema exactly).  With ``n_files > 1`` the
    path becomes a DIRECTORY of part files — the shape a Common-Crawl
    table has at scale, and what gives the Spark scan parallel splits."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = gen_rows(n, seed)

    def _table(part):
        return pa.table(
            {
                "url": pa.array([r["url"] for r in part], pa.string()),
                "warc_ts": pa.array([r["warc_ts"] for r in part], pa.timestamp("us")),
                "html": pa.array([r["html"] for r in part], pa.binary()),
                "text": pa.array([r["text"] for r in part], pa.string()),
                "lang": pa.array([r["lang"] for r in part], pa.string()),
            }
        )

    if n_files <= 1:
        pq.write_table(_table(rows), path)
        return
    os.makedirs(path, exist_ok=True)
    chunk = (len(rows) + n_files - 1) // n_files
    for i in range(0, len(rows), chunk):
        pq.write_table(
            _table(rows[i : i + chunk]),
            os.path.join(path, f"part-{i // chunk:05d}.parquet"),
        )


def make_scan_pdf_jpx(
    page_texts: List[str],
    corrupt_page: int = 0,
    flate_wrap: bool = False,
    raw_codestream: bool = False,
) -> bytes:
    """Image-only pages whose XObject is a REAL JPEG 2000 stream
    (``/Filter /JPXDecode``) produced by the from-scratch lossless
    encoder (kernels/pdf/jp2.py: MQ coder, EBCOT tier-1, tag-tree
    packets, reversible 5/3 DWT) — the codec of archival/library scans
    (e.g. archive.org books) and of PDF/A-2+ workflows.  Ground truth
    rides in the DECODED PIXELS as the pixel-grid marker
    (kernels/pixelcode.py), so the OCR branch exercises
    decode → pixels → recognize end-to-end.

    ``raw_codestream`` embeds the bare SOC..EOC codestream instead of
    the JP2 container (PDF readers accept both); ``flate_wrap``
    zlib-wraps the stream (``/Filter [/FlateDecode /JPXDecode]``);
    ``corrupt_page`` (1-based, 0 = none) truncates that page's stream
    mid-data: the decoder must raise cleanly and the payload fall back
    to opaque bytes (fingerprint OCR), never crash."""
    from pdf_ocr_spark.kernels.pdf.jp2 import encode_gray as _jp2_encode
    from pdf_ocr_spark.kernels.pixelcode import text_to_pixels

    def image(w: _PdfWriter, pno: int, text: str):
        # cols=32 keeps the EBCOT bitplane loops cheap per fixture page
        iw, ih, px = text_to_pixels(text, cols=32)
        filt, payload = _filtered(
            b"/JPXDecode",
            _jp2_encode(iw, ih, px, levels=2, jp2_wrap=not raw_codestream),
            pno == corrupt_page,
            flate_wrap,
        )
        return iw, ih, b"/ColorSpace /DeviceGray /BitsPerComponent 8 %s" % filt, payload

    return _image_pages_pdf(page_texts, image)


def gen_jpx_scan_rows(n_docs: int = 6) -> List[dict]:
    """Corpus for the JPEG 2000 scan branch: multi-page PDFs whose pages
    are JPXDecode image XObjects carrying pixel-marker ground truth.
    Doc 0 embeds the raw SOC..EOC codestream (no JP2 container), the
    second-to-last doc zlib-wraps its streams (filter chain), the last
    doc carries a truncated stream on page 1 (decode must fail loudly,
    extract must not).  Texts are kept short — EBCOT bitplane coding is
    the costliest pure-python kernel in the repo and these fixtures run
    inside the per-query oracle budget.  Deterministic."""
    rng = random.Random(0x3F2000)
    rows = []
    for d in range(n_docs):
        n_pages = 1 + d % 2
        texts = []
        for p in range(n_pages):
            word = _EN_WORDS[(d * 3 + p) % len(_EN_WORDS)]
            texts.append(f"jpx doc {d} page {p + 1}\n{word} {d}-{p}")
        corrupt = 1 if d == n_docs - 1 else 0
        flate = d == n_docs - 2
        rows.append(
            dict(
                url=f"https://example.test/docs/jpxscan/{d:06d}",
                warc_ts=datetime.datetime(2025, 1, 5, 0, 0, d),
                html=make_scan_pdf_jpx(
                    texts,
                    corrupt_page=corrupt,
                    flate_wrap=flate,
                    raw_codestream=d == 0,
                ),
                text="",
                lang="en",
                kind="pdf_jpx_scan",
            )
        )
    return rows


def _marker_runs(iw: int, ih: int, px: bytes):
    """Shared glyph/placement extraction for the JBIG2 symbol coders:
    a 4-glyph dictionary (1–4 consecutive black cells) + one instance
    per horizontal run of the pixel-grid marker."""
    from pdf_ocr_spark.kernels.pixelcode import CELL

    cols, rows = iw // CELL, ih // CELL
    symbols = [(k * CELL, CELL, bytes(k * CELL * CELL)) for k in (1, 2, 3, 4)]
    instances = []
    for r in range(rows):
        c = 0
        while c < cols:
            mid = (r * CELL + CELL // 2) * iw + c * CELL + CELL // 2
            if px[mid] < 128:
                run = 0
                while (c + run < cols and run < 4 and
                       px[mid + run * CELL] < 128):
                    run += 1
                instances.append((run - 1, c * CELL, r * CELL))
                c += run
            else:
                c += 1
    return symbols, instances


def _marker_to_symbol_page(iw: int, ih: int, px: bytes,
                           transposed: bool = False) -> bytes:
    """Re-encode a pixel-grid marker bitmap as a JBIG2 symbol-coded
    page: symbol dictionary + text region — the coding real
    scanned-text JBIG2 uses (T.88 §6.4/§6.5).  The decoded page is
    pixel-identical to the generic encoding; ``transposed`` transmits
    the same placements as vertical-text columns (TRANSPOSED=1)."""
    from pdf_ocr_spark.kernels.pdf.jbig2 import encode_symbol_page

    symbols, instances = _marker_runs(iw, ih, px)
    return encode_symbol_page(iw, ih, symbols, instances,
                              transposed=transposed)


def _marker_to_symbol_page_huffman(iw: int, ih: int, px: bytes,
                                   mmr: bool) -> bytes:
    """Huffman twin (SDHUFF/SBHUFF=1, §6.5.9/§7.4.4.5): the same glyph
    runs coded with Annex B standard tables and collective height-class
    bitmaps — uncompressed rows, or MMR when ``mmr``."""
    from pdf_ocr_spark.kernels.pdf.jbig2 import encode_symbol_page_huffman

    symbols, instances = _marker_runs(iw, ih, px)
    return encode_symbol_page_huffman(iw, ih, symbols, instances, mmr=mmr)


def make_scan_pdf_jbig2(
    page_texts: List[str],
    corrupt_page: int = 0,
    flate_wrap: bool = False,
    coding: str = "generic",
) -> bytes:
    """Image-only pages whose XObject is a REAL JBIG2 stream
    (``/Filter /JBIG2Decode``, embedded-PDF segment organization)
    produced by the from-scratch encoder (kernels/pdf/jbig2.py) — the
    codec of high-compression bi-level scanner output.  Ground truth
    rides in the DECODED PIXELS as the pixel-grid marker
    (kernels/pixelcode.py).

    ``coding`` picks the JBIG2 profile: ``generic`` (template-0
    arithmetic + TPGDON typical rows), ``symbol`` (symbol dictionary +
    text region — what real scanned text uses), ``mmr`` (MMR=1 generic
    region, a T.6/G4 bitstream), ``symbol_huffman`` (SDHUFF/SBHUFF=1
    with uncompressed collective bitmaps), ``symbol_huffman_mmr``
    (Huffman coding with MMR collective bitmaps), or ``halftone``
    (pattern dictionary + halftone region, §6.6/§6.7 — odd pages
    arithmetic-coded patterns, even pages MMR-coded patterns; the
    marker's 8×8 cells are uniform so the cell-4 clustered-dot
    halftone reproduces it pixel-exactly).  ``flate_wrap`` zlib-wraps the
    stream (``/Filter [/FlateDecode /JBIG2Decode]``); ``corrupt_page``
    (1-based, 0 = none) truncates that page's stream mid-data: the
    decoder must raise cleanly and the payload fall back to opaque
    bytes (fingerprint OCR), never crash."""
    from pdf_ocr_spark.kernels.pdf.jbig2 import (
        encode_bilevel,
        encode_bilevel_mmr,
    )
    from pdf_ocr_spark.kernels.pixelcode import text_to_pixels

    def image(w: _PdfWriter, pno: int, text: str):
        iw, ih, px = text_to_pixels(text)
        parms = b""
        if coding == "symbol":
            payload = _marker_to_symbol_page(iw, ih, px)
        elif coding == "symbol_transposed":
            payload = _marker_to_symbol_page(iw, ih, px, transposed=True)
        elif coding == "symbol_huffman":
            payload = _marker_to_symbol_page_huffman(iw, ih, px, mmr=False)
        elif coding == "symbol_huffman_mmr":
            payload = _marker_to_symbol_page_huffman(iw, ih, px, mmr=True)
        elif coding == "mmr":
            payload = encode_bilevel_mmr(iw, ih, px)
        elif coding == "halftone":
            from pdf_ocr_spark.kernels.pdf.jbig2 import encode_halftone_page

            payload = encode_halftone_page(iw, ih, px, cell=4,
                                           mmr_patterns=(pno % 2 == 0))
        elif coding == "symbol_globals":
            from pdf_ocr_spark.kernels.pdf.jbig2 import (
                encode_symbol_page_globals)

            symbols, inst = _marker_runs(iw, ih, px)
            glob, payload = encode_symbol_page_globals(
                iw, ih, symbols, inst)
            # shared symbol dictionary rides in a Flate-compressed
            # JBIG2Globals stream (ISO 32000-1 7.4.7)
            glob_num = w.add_stream(b"", glob, compress=True)
            parms = b" /DecodeParms << /JBIG2Globals %d 0 R >>" % glob_num
        else:
            payload = encode_bilevel(iw, ih, px)
        filt, payload = _filtered(
            b"/JBIG2Decode", payload, pno == corrupt_page, flate_wrap
        )
        tail = b"/ColorSpace /DeviceGray /BitsPerComponent 1 %s%s" % (filt, parms)
        return iw, ih, tail, payload

    return _image_pages_pdf(page_texts, image)


def gen_jbig2_scan_rows(n_docs: int = 16) -> List[dict]:
    """Corpus for the JBIG2 scan branch: multi-page PDFs whose pages are
    JBIG2Decode image XObjects carrying pixel-marker ground truth.
    Docs 0-6 are generic-region coded; docs 7-8 are symbol-coded
    (symbol dictionary + text region — the coding real scanned text
    uses); doc 9 is Huffman-coded (SDHUFF/SBHUFF=1, uncompressed
    collective bitmaps) and doc 10 Huffman with MMR collective bitmaps;
    doc 13 is HALFTONE-coded (pattern dictionary + halftone region,
    arithmetic and MMR pattern pages); doc n-2 is MMR (T.6) coded AND
    zlib-wraps its streams (filter chain over the MMR body); the last
    doc carries a truncated symbol-coded stream on page 1 (decode must
    fail loudly, extract must not).
    Deterministic — same rows every call."""

    def pdf(d: int, texts: List[str], corrupt: int) -> bytes:
        if d in (7, 8) or d == n_docs - 1:
            coding = "symbol"
        elif d == 9:
            coding = "symbol_huffman"
        elif d == 10 and d < n_docs - 2:
            coding = "symbol_huffman_mmr"
        elif d == 11 and d < n_docs - 2:
            coding = "symbol_transposed"
        elif d == 12 and d < n_docs - 2:
            coding = "symbol_globals"
        elif d == 13 and d < n_docs - 2:
            coding = "halftone"
        elif d == n_docs - 2:
            coding = "mmr"
        else:
            coding = "generic"
        return make_scan_pdf_jbig2(
            texts, corrupt_page=corrupt, flate_wrap=d == n_docs - 2, coding=coding
        )

    return _scan_rows(n_docs, 0x1B162, "jbig2", "jbig2", 6, pdf)


def gen_microdata_rows(n: int, seed: int = 31) -> List[dict]:
    """Deterministic corpus for the html_microdata query: every
    microdata shape real schema.org pages use — nested items (Product→
    Offer), every WHATWG value channel (meta content, a href, img src,
    time datetime with and without the attribute, plain text with
    inline markup + entities), bare vs valued itemscope attributes,
    uppercase attribute names, orphan itemprops (must be skipped), an
    itemscope decoy inside a quoted attribute value, truncated pages
    (unclosed text prop must still emit), and microdata-free pages."""
    rows: List[dict] = []
    for i in range(n):
        rng = random.Random((seed << 18) ^ i)
        body = f"<p>{_paragraph(rng, 'en')}</p>"
        kind = i % 8
        if kind == 0:  # product with nested offer — the classic tree
            md = (
                '<div itemscope itemtype="https://schema.org/Product">'
                f'<span itemprop="name">Widget <b>{i}</b></span>'
                f'<meta itemprop="sku" content="SKU-{i:04d}">'
                f'<img itemprop="image" src="/img/{i}.png">'
                '<div itemprop="offers" itemscope '
                'itemtype="https://schema.org/Offer">'
                f'<span itemprop="price">{i % 90}.99</span>'
                '<meta itemprop="priceCurrency" content="USD">'
                "</div></div>"
            )
        elif kind == 1:  # article with time datetime + link href
            md = (
                '<article itemscope itemtype="https://schema.org/Article">'
                f'<h1 itemprop="headline">Head {i} &amp; tail</h1>'
                f'<time itemprop="datePublished" datetime="2024-0{1 + i % 9}-01">'
                "January</time>"
                f'<a itemprop="url" href="https://example.test/a/{i}">self</a>'
                "</article>"
            )
        elif kind == 2:  # itemscope="" valued form + uppercase attrs
            md = (
                '<div ITEMSCOPE="" ITEMTYPE="https://schema.org/Person">'
                f'<span ITEMPROP="name">Person {i % 7}</span></div>'
            )
        elif kind == 3:  # time WITHOUT datetime: falls back to text
            md = (
                '<div itemscope itemtype="https://schema.org/Event">'
                f'<time itemprop="startDate">March {1 + i % 28}</time></div>'
            )
        elif kind == 4:  # orphan itemprop + decoy in attribute value
            md = (
                f'<span itemprop="orphan">ignored {i}</span>'
                '<div content="itemscope itemprop=decoy">'
                f'<span itemprop="also_orphan">no {i}</span></div>'
            )
        elif kind == 5:  # typeless item, entity + whitespace collapse
            md = (
                "<p itemscope>"
                f'<span itemprop="note">  a&amp;b   c{i}  </span></p>'
            )
        elif kind == 6:  # truncated page: unclosed text prop still emits
            md = (
                '<div itemscope itemtype="https://schema.org/Recipe">'
                f'<span itemprop="name">Soup {i}'
            )
        else:  # no microdata at all
            md = ""
        html = f"<html><body>{md}{body}</body></html>".encode("utf-8")
        rows.append(
            dict(url=f"https://example.test/micro/{i:05d}", html=html,
                 kind=kind)
        )
    return rows


def gen_hreflang_rows(n: int, seed: int = 37) -> List[dict]:
    """Deterministic corpus for the hreflang queries: clusters of
    language variants wired with ``<link rel=alternate hreflang>``
    head annotations.  Cluster kinds cycle: full reciprocal cliques
    (with self-references and an x-default, per the protocol), a
    clique whose one member omits its return links (the classic
    broken-reciprocity bug search consoles flag), a one-way hub,
    messy-markup cliques (uppercase tag/attr names, single-quoted and
    unquoted attributes, entity-encoded hrefs), an alternate-feed
    decoy (rel=alternate without hreflang — must NOT emit), and
    annotation-free pages."""
    langs_pool = ["en", "fr", "de", "ja", "zh"]
    rows: List[dict] = []
    for i in range(n):
        rng = random.Random((seed << 18) ^ i)
        k = 2 + i % 4
        langs = langs_pool[:k]
        base = f"https://example.test/hl/{i:04d}"
        urls = {lang: f"{base}/{lang}" for lang in langs}
        kind = i % 6
        for j, lang in enumerate(langs):
            url = urls[lang]
            links: List[str] = []
            if kind == 0 or (kind == 1 and j != 1) or kind == 4:
                links = [
                    f'<link rel="alternate" hreflang="{lg}" '
                    f'href="{urls[lg]}">'
                    for lg in langs
                ]
                links.append(
                    f'<link rel="alternate" hreflang="x-default" '
                    f'href="{urls[langs[0]]}">'
                )
                if kind == 4 and j == 0:
                    links.append(
                        '<link rel="alternate" type="application/rss+xml"'
                        f' href="{base}/feed.xml">'
                    )
            elif kind == 2 and j == 0:
                links = [
                    f'<link rel="alternate" hreflang="{lg}" '
                    f'href="{urls[lg]}">'
                    for lg in langs[1:]
                ]
            elif kind == 3:
                for lg in langs:
                    quoted = f"{urls[lg]}?v=1&amp;ref=hl"
                    links.append(
                        f"<LINK REL='alternate' HREFLANG='{lg.upper()}' "
                        f'HREF="{quoted}">'
                        if j % 2 == 0
                        else f"<link rel=alternate hreflang={lg} "
                        f"href={urls[lg]}>"
                    )
            # kind == 5 (and kind 1's member j == 1): no annotations
            head = "\n".join(links)
            html = (
                f"<html lang=\"{lang}\"><head><title>hl {i} {lang}"
                f"</title>\n{head}\n</head><body><p>"
                f"{_paragraph(rng, 'en')}</p></body></html>"
            )
            rows.append(
                dict(
                    url=url,
                    warc_ts=datetime.datetime(2025, 1, 9, 0, (i * 7 + j) % 60),
                    html=html.encode("utf-8"),
                    text="",
                    lang=lang,
                    kind="hreflang",
                )
            )
    return rows


def gen_quality_rows(n: int) -> List[dict]:
    """Self-contained boilerplate HTML pages (each with its OWN rng
    stream) with the article ground truth as ``true_text``."""
    rows = []
    for i in range(n):
        html, true_text = make_html_page(random.Random(777000 + i),
                                         ("en", "ja", "zh")[i % 3])
        rows.append(dict(url=f"https://example.test/quality/{i:06d}",
                         html=html, true_text=true_text))
    return rows


# -- named corpora -------------------------------------------------------------


def _mix(n: int) -> List[dict]:
    return gen_rows(n, include_ref_pdf=False)


def _mirrored(rows: List[dict]) -> List[dict]:
    """``rows`` plus every 3rd row again under a ``zz-mirror://`` url —
    the recrawl/mirror case that makes a dedup leg load-bearing."""
    return rows + [dict(r, url="zz-mirror://" + r["url"]) for r in rows[::3]]


def _overlay_boxes(rows: List[dict]) -> List[dict]:
    """One single-box page per row for the SVG overlay sink: the first
    24 characters of the row's text at y = 30pt × (row index mod 20)."""
    return [
        dict(url=f"doc://{i}", page=i % 3 + 1, text=(r["text"] or "")[:24],
             y=float(i % 20) * 30.0)
        for i, r in enumerate(rows)
    ]


#: Corpus name → zero-argument row builder with its size pinned.  The
#: registry queries (``queries._corpus``) and ``tools/freeze.py`` read
#: their rows from here by name, so a golden and the query its oracle
#: serves always see the same corpus.
CORPORA = {
    "mix_60": lambda: _mix(60),
    "mix_100": lambda: _mix(100),
    "mix_150": lambda: _mix(150),
    "mix_150_mirrored": lambda: _mirrored(_mix(150)),
    "media": lambda: [dict(media_id=i, blob=r["html"])
                      for i, r in enumerate(_mix(50))],
    "overlay_boxes": lambda: _overlay_boxes(_mix(60)),
    "rasters": gen_raster_rows,
    "orientation": gen_orientation_rows,
    "links": gen_link_rows,
    "composites": lambda: gen_composite_rows(45),
    "html_tables": lambda: gen_html_table_rows(40),
    "html_meta": lambda: gen_html_meta_rows(48),
    "jsonld": lambda: gen_jsonld_rows(56),
    "microdata": lambda: gen_microdata_rows(48),
    "hreflang": lambda: gen_hreflang_rows(18),
    "forms": lambda: gen_form_rows(36),
    "docmeta": lambda: gen_docmeta_rows(36),
    "annots": lambda: gen_annot_rows(36),
    "jpeg_scans": gen_jpeg_scan_rows,
    "ccitt_scans": gen_ccitt_scan_rows,
    "jpx_scans": gen_jpx_scan_rows,
    "jbig2_scans": gen_jbig2_scan_rows,
    "cdx": gen_cdx_rows,
    "redirect_archive": lambda: [dict(warc=gen_redirect_archive())],
    "robots": lambda: gen_robots_rows(25)[0],
    "robots_urls": lambda: [dict(url=u) for u in gen_robots_rows(25)[1]],
    "sitemaps": lambda: gen_sitemap_rows(20),
    "feeds": lambda: gen_feed_rows(24),
    "quality": lambda: gen_quality_rows(60),
}
