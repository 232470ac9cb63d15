"""Content-stream interpreter: executes the text/graphics operators of a
page and emits positioned unicode glyphs.

From-scratch replacement for PyMuPDF's ``page.get_text("dict")``
(/root/reference/pdf_ocr_with_boxes_v4.py:56-68).  Tracks the full state
the sample PDF needs (SURVEY.md §5.2: 448 BT blocks, per-glyph hex Tj,
944 TD advances, 448 Tm, top-of-page y-flip cm): CTM with q/Q stack,
Tm/Tlm, Tf/Tc/Tw/Tz/TL/Ts, Tj/TJ/'/" with correct advances from font
widths, Form XObject recursion, inline-image skip, image XObject capture
for the OCR branch.
"""

from __future__ import annotations

import re
from array import array
from bisect import bisect_right
from itertools import accumulate
from typing import Any, Callable, Dict, List, NamedTuple, Optional, Sequence, Tuple

from pdf_ocr_spark.kernels.pdf.cos import (
    HEX,
    NUM,
    REGULAR,
    WS,
    Name,
    PDFDocument,
    PDFError,
    PDFNestingError,
    Stream,
    decode_hex,
    decode_number,
    literal_string,
    parse_name,
    parse_object,
)
from pdf_ocr_spark.kernels.pdf.fonts import Font, load_page_fonts

Matrix = Tuple[float, float, float, float, float, float]
IDENTITY: Matrix = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)


def image_ocr_payload(doc: PDFDocument, xo: Stream) -> bytes:
    """OCR-branch payload for an image XObject.

    ``CCITTFaxDecode`` streams (the dominant codec of real-world scans)
    are decoded to REAL pixels by the from-scratch T.4/T.6 codec
    (kernels/pdf/ccitt.py) and re-emitted as P5 — the format the OCR
    stub and the rasterizer consume natively — after applying any
    preceding filters (e.g. an outer FlateDecode); ``JPXDecode``
    streams (JPEG 2000 — archival/library scans) likewise via the
    from-scratch EBCOT/5-3-DWT codec (kernels/pdf/jp2.py); ``JBIG2Decode``
    generic regions via kernels/pdf/jbig2.py.  DCTDecode payloads pass
    through raw and are decoded downstream (kernels/pdf/jpeg.py) — all
    four real-world scan codecs reach OCR as pixels.  ``/BlackIs1`` is
    irrelevant here (it flips the PACKED-bit convention of the filter's
    output; we emit luma directly).  Never raises: any decode failure
    falls back to the raw bytes (the pre-existing opaque path)."""
    try:
        filters = doc.resolve(xo.dict.get("Filter"))
        if filters is None:
            # unfiltered: emit P5 when the bytes match the declared
            # geometry exactly (stub fixtures are undersized → raw)
            return _plain_pixels_or_raw(doc, xo)
        flist = filters if isinstance(filters, list) else [filters]
        names = [str(doc.resolve(f)) for f in flist]
        if not names:
            return _plain_pixels_or_raw(doc, xo)
        if names[-1] == "JPXDecode":
            # JPEG 2000: decode to real pixels with the from-scratch
            # codec (kernels/pdf/jp2.py) after applying any preceding
            # filters (e.g. an outer FlateDecode)
            from pdf_ocr_spark.kernels.pdf import jp2

            w, h, luma = jp2.decode_gray(xo.decode(doc))
            return b"P5\n%d %d\n255\n" % (w, h) + luma
        if names[-1] == "JBIG2Decode":
            # JBIG2 (high-compression bi-level scans): decode via the
            # from-scratch codec (kernels/pdf/jbig2.py); a /DecodeParms
            # /JBIG2Globals stream (shared symbol dictionaries across
            # pages, ISO 32000-1 §7.4.7) is resolved, de-filtered, and
            # processed ahead of the per-image segment stream
            from pdf_ocr_spark.kernels.pdf import jbig2

            parms = doc.resolve(xo.dict.get("DecodeParms"))
            if isinstance(parms, list):
                parms = doc.resolve(parms[-1]) if parms else None
            glob = None
            if isinstance(parms, dict):
                g = doc.resolve(parms.get("JBIG2Globals"))
                if isinstance(g, Stream):
                    glob = g.decode(doc)
            w, h, luma = jbig2.decode_bilevel(xo.decode(doc),
                                              globals_data=glob)
            return b"P5\n%d %d\n255\n" % (w, h) + luma
        if names[-1] not in ("CCITTFaxDecode", "CCF"):
            if names[-1] in ("DCTDecode", "DCT"):
                return xo.raw  # JPEG: decoded downstream (kernels/pdf/jpeg.py)
            return _plain_pixels_or_raw(doc, xo)
        from pdf_ocr_spark.kernels.pdf import ccitt

        data = xo.decode(doc)             # pre-filters applied; CCITT raw
        parms = doc.resolve(xo.dict.get("DecodeParms"))
        if isinstance(parms, list):
            parms = doc.resolve(parms[-1]) if parms else None
        if not isinstance(parms, dict):
            parms = {}
        columns = int(doc.resolve(parms.get("Columns", 1728)) or 1728)
        height = doc.resolve(xo.dict.get("Height", 0)) or 0
        rows = int(doc.resolve(parms.get("Rows", height)) or 0)
        k = int(doc.resolve(parms.get("K", 0)) or 0)
        align = bool(doc.resolve(parms.get("EncodedByteAlign", False)))
        w, h, luma = ccitt.decode(
            data, columns=columns, rows=rows, k=k, encoded_byte_align=align
        )
        return b"P5\n%d %d\n255\n" % (w, h) + luma
    except Exception:  # noqa: BLE001 — capture must never fail the page
        return xo.raw


def _plain_pixels_or_raw(doc: PDFDocument, xo: Stream) -> bytes:
    """Fully-decoded (non-codec-filtered) image data → P5 luma when the
    byte count matches the declared geometry EXACTLY: 8-bit gray, 8-bit
    RGB (integer BT.601 luma), and 1-bit gray/ImageMask (bit 0 paints
    black under both the DeviceGray and default-Decode mask
    conventions).  A size mismatch falls back to the raw bytes — which
    also keeps synthetic stub payloads (deliberately undersized) on the
    opaque path."""
    data = xo.decode(doc)
    d = xo.dict
    w = int(doc.resolve(d.get("Width", 0)) or 0)
    h = int(doc.resolve(d.get("Height", 0)) or 0)
    if w <= 0 or h <= 0:
        return xo.raw
    cs = doc.resolve(d.get("ColorSpace"))
    cs_name = str(cs) if cs is not None else ""
    mask = bool(doc.resolve(d.get("ImageMask", False)))
    # an ImageMask is implicitly 1-bit (PDF 32000-1 §8.9.6.2)
    bpc = 1 if mask else int(doc.resolve(d.get("BitsPerComponent", 8)) or 8)
    hdr = b"P5\n%d %d\n255\n" % (w, h)
    if bpc == 8 and cs_name in ("DeviceGray", "G") and len(data) == w * h:
        return hdr + data
    if bpc == 8 and cs_name in ("DeviceRGB", "RGB") and len(data) == 3 * w * h:
        luma = bytes(
            (data[i] * 299 + data[i + 1] * 587 + data[i + 2] * 114) // 1000
            for i in range(0, len(data), 3)
        )
        return hdr + luma
    if bpc == 1 and (mask or cs_name in ("DeviceGray", "G", "")):
        stride = (w + 7) // 8
        if len(data) == stride * h:
            out = bytearray(w * h)
            for row in range(h):
                base = row * stride
                orow = row * w
                for col in range(w):
                    bit = (data[base + (col >> 3)] >> (7 - (col & 7))) & 1
                    out[orow + col] = 255 if bit else 0
            return hdr + bytes(out)
    return xo.raw


_INLINE_KEY_MAP = {
    "W": "Width", "H": "Height", "BPC": "BitsPerComponent",
    "CS": "ColorSpace", "F": "Filter", "DP": "DecodeParms",
    "IM": "ImageMask", "D": "Decode", "I": "Interpolate",
}
_INLINE_FILTER_MAP = {
    "AHx": "ASCIIHexDecode", "A85": "ASCII85Decode", "LZW": "LZWDecode",
    "Fl": "FlateDecode", "RL": "RunLengthDecode", "CCF": "CCITTFaxDecode",
    "DCT": "DCTDecode",
}
_INLINE_CS_MAP = {"G": "DeviceGray", "RGB": "DeviceRGB", "CMYK": "DeviceCMYK",
                  "I": "Indexed"}


def inline_image_payload(doc: PDFDocument, dict_bytes: bytes, payload: bytes) -> bytes:
    """OCR-branch payload for an INLINE image (BI…ID…EI): parse the
    abbreviated-key dict (PDF 32000-1 §8.9.7, Table 93), expand the
    key/filter/colorspace abbreviations to their stream-dict spellings,
    and route through :func:`image_ocr_payload` — so inline scans reach
    OCR/raster as REAL pixels through exactly the same codec paths as
    image XObjects (the reference gets this for free from fitz
    rendering, pdf_ocr_with_boxes_v2.py:200-209).  Never raises: any
    parse/decode failure falls back to the raw payload (the
    pre-existing opaque path)."""
    try:
        d, _ = parse_object(b"<<" + dict_bytes + b">>")
        if not isinstance(d, dict):
            return payload
        full: Dict[str, Any] = {}
        for k, v in d.items():
            full[_INLINE_KEY_MAP.get(str(k), str(k))] = v
        f = full.get("Filter")
        if f is not None:
            if isinstance(f, list):
                full["Filter"] = [
                    _INLINE_FILTER_MAP.get(str(doc.resolve(x)), str(doc.resolve(x)))
                    for x in f
                ]
            else:
                full["Filter"] = _INLINE_FILTER_MAP.get(
                    str(doc.resolve(f)), str(doc.resolve(f))
                )
        cs = full.get("ColorSpace")
        if cs is not None and not isinstance(cs, list):
            cs_s = str(doc.resolve(cs))
            full["ColorSpace"] = _INLINE_CS_MAP.get(cs_s, cs_s)
        return image_ocr_payload(doc, Stream(full, payload))
    except Exception:  # noqa: BLE001 — capture must never fail the page
        return payload


def mat_mul(a: Matrix, b: Matrix) -> Matrix:
    """a × b (PDF row-vector convention: point' = point · a · b)."""
    return (
        a[0] * b[0] + a[1] * b[2],
        a[0] * b[1] + a[1] * b[3],
        a[2] * b[0] + a[3] * b[2],
        a[2] * b[1] + a[3] * b[3],
        a[4] * b[0] + a[5] * b[2] + b[4],
        a[4] * b[1] + a[5] * b[3] + b[5],
    )


def mat_apply(m: Matrix, x: float, y: float) -> Tuple[float, float]:
    return (m[0] * x + m[2] * y + m[4], m[1] * x + m[3] * y + m[5])


def unit_square_bbox(ctm: Matrix) -> Tuple[float, float, float, float]:
    """Device-space bbox of the unit square under ``ctm`` — an image's
    painted area (images draw into the unit square, PDF 32000-1 §8.9.4)."""
    pts = (
        mat_apply(ctm, 0.0, 0.0),
        mat_apply(ctm, 1.0, 0.0),
        mat_apply(ctm, 0.0, 1.0),
        mat_apply(ctm, 1.0, 1.0),
    )
    xs = [p[0] for p in pts]
    ys = [p[1] for p in pts]
    return (min(xs), min(ys), max(xs), max(ys))


class Glyph(NamedTuple):
    """One positioned glyph in device space."""

    text: str      # unicode (may be multi-char for ligature expansions, '' if unmapped)
    x: float       # device-space pen position
    y: float
    adv: float     # device-space advance width
    size: float    # device-space font size (vertical extent estimate)
    font: str      # resource name, for debugging
    seq: int       # emission order (deterministic tiebreak)


class PageResult(NamedTuple):
    glyphs: List[Glyph]
    width: float
    height: float
    images: List[bytes]  # raw encoded bytes of image XObjects drawn on the page
    n_text_ops: int
    # axis-aligned PAINTED path segments (x0, y0, x1, y1) in device space:
    # the ruled lines table detection consumes (v4 composite-block typing).
    # Default is an immutable EMPTY TUPLE — a mutable [] default would be
    # one shared class-level list across every defaulted instance
    rules: Sequence[Tuple[float, float, float, float]] = ()
    # device-space bbox (x0, y0, x1, y1, y-up) of each image DRAW (the
    # unit square under the CTM at Do/BI time) — image-typed layout
    # blocks + v4 image_caption attachment consume these
    image_draws: Sequence[Tuple[float, float, float, float]] = ()
    # glyph-count votes for the text-flow direction (0°, 90°, 180°, 270°
    # of the device-space x-advance) — the digital-text analogue of
    # Tesseract OSD, which the reference runs on every scanned image
    # before OCR (/root/reference/parse_student_answers.py:40-59).
    # dominant_rotation() turns these into the page's rotation verdict.
    rot_votes: Tuple[int, int, int, int] = (0, 0, 0, 0)


class _TextState:
    __slots__ = ("font", "size", "char_sp", "word_sp", "hscale", "leading", "rise")

    def __init__(self) -> None:
        self.font: Optional[Font] = None
        self.size = 0.0
        self.char_sp = 0.0
        self.word_sp = 0.0
        self.hscale = 1.0
        self.leading = 0.0
        self.rise = 0.0

    def clone(self) -> "_TextState":
        t = _TextState()
        t.font, t.size, t.char_sp = self.font, self.size, self.char_sp
        t.word_sp, t.hscale, t.leading, t.rise = (
            self.word_sp,
            self.hscale,
            self.leading,
            self.rise,
        )
        return t


# One-pass scanner for content streams.  Its general alternatives are the
# COS token grammar of cos.py, without the "<n> <g> R" lookahead: content
# has no indirect refs.  Strings, dicts and '#' names decode through cos.
_END = rb"(?![A-Za-z0-9*'\"])"  # token boundary after an operator
# one glyph step: "<hex> Tj tx ty Td/TD"; no part of it can give bytes
# back to the next, so every quantifier is possessive (no backtracking)
_STEP = rb"<[" + HEX + rb"]*+>" + WS + rb"*+Tj" + WS + rb"++" + NUM + WS + rb"++" \
    + NUM + WS + rb"++T[Dd]" + _END
_CONTENT_TOK = re.compile(
    # whitespace and every byte that starts no token, skipped in one step
    rb"[^<0-9+\-./\[\](A-Za-z'\"%]*+"
    rb"(?:(?P<run>(?:" + _STEP + WS + rb"*+)++)"
    rb"|(?P<tdxy>(?P<tdx>" + NUM + rb")" + WS + rb"+(?P<tdy>" + NUM + rb")"
    + WS + rb"+T[Dd]" + _END + rb")"
    rb"|(?P<num>" + NUM + rb")"
    rb"|(?P<name>/" + REGULAR + rb"*)"
    rb"|(?P<ddict><<)"
    rb"|(?P<hex><[^>]*>?)"
    rb"|(?P<open>\[)"
    rb"|(?P<close>\])"
    rb"|(?P<lit>\()"
    rb"""|(?P<op>[A-Za-z'"][A-Za-z0-9*'"]*)"""
    rb"|(?P<comment>%[^\r\n]*)"
    rb"|[+.-]|\Z)"  # a sign or dot that starts no number; the end
)
# the steps of a matched run, one (hex digits, tx, ty, b"D" or b"d") each;
# ``_STEP`` captures nothing: captures inside the repeated run cost ~13%
# of the time to tokenize a glyph-CID stream
_RUN_STEPS = re.compile(
    rb"<([" + HEX + rb"]*)>" + WS + rb"*Tj" + WS + rb"+(" + NUM + rb")" + WS
    + rb"+(" + NUM + rb")" + WS + rb"+T([Dd])"
).findall
# The two fused fast paths above collapse the dominant per-glyph token
# sequences.  ``run`` takes a whole run of glyph steps "<CID> Tj tx ty
# Td/TD" (per-glyph CID streams are nothing else between BT and ET) as
# ONE token: the tokenizer yields it once, as the synthetic operator
# ``_GLYPH_RUN`` whose last operand is the list of (show bytes, tx, ty,
# is TD) steps, and ``_execute`` shows and advances every step in one
# branch.  "tx ty Td/TD" alone (WPS-style streams emit it once PER
# GLYPH) stays one fused token.  They only fire on byte-clean shapes
# (pure hex, strict numbers, token boundary after the operator),
# everything else falls through to the general alternatives with
# identical semantics — a comment or any other token between steps ends
# the run.  Fusing Tj with the FOLLOWING Td/TD is exact: Td rebuilds the
# text matrix from the line matrix, so the show advance the standalone Tj
# would have returned is provably discarded.
_GLYPH_RUN = b"__glyph_run__"
# the group indices ``m.lastindex`` reports: the group that CLOSED last,
# for nested groups the OUTER one (b"12.5 0 TD" → tdxy, not tdy); None for
# a skipped sign or dot and at the end.  A match starts at the skipped
# bytes before its token: read the token's own span with the group index.
(_TOK_RUN, _TOK_TDXY, _TOK_TDX, _TOK_TDY, _TOK_NUM, _TOK_NAME, _TOK_DDICT,
 _TOK_HEX, _TOK_OPEN, _TOK_CLOSE, _TOK_LIT, _TOK_OP, _TOK_COMMENT) = (
    _CONTENT_TOK.groupindex[k] for k in (
        "run", "tdxy", "tdx", "tdy", "num", "name", "ddict", "hex", "open",
        "close", "lit", "op", "comment"))
# what moves a literal string's paren depth: an escape pair (which moves
# nothing), '(' (group 1) or ')' (group 2)
_PAREN_STEP = re.compile(rb"\\.|(\()|(\))", re.S)


def _later_strings_close(data: bytes, q: int) -> Callable[[int], bool]:
    """Given that the literal string opened at ``q`` runs unterminated to
    the end of ``data``: a test of whether one opened at a later '(' closes.

    After that '(' both scans read the same bytes the same way (a '(' is
    never inside an octal or line-continuation escape), so the later
    string closes exactly where q's paren depth first falls below its
    depth just after that '(': a suffix minimum, no rescan."""
    where = array("q")  # the offset of each paren that moves the depth
    depth = array("q", [1])  # depth[i]: the depth before paren i
    for m in _PAREN_STEP.finditer(data, q + 1):
        if m.lastindex:
            where.append(m.start())
            depth.append(depth[-1] + 3 - 2 * m.lastindex)
    lowest = array("q", accumulate(reversed(depth), min))
    lowest.reverse()  # lowest[i]: the lowest depth from depth[i] on

    def closes(q2: int) -> bool:
        i = bisect_right(where, q2)
        return i < len(where) and lowest[i + 1] < depth[i]

    return closes


# the ID token that separates an inline image's dict from its binary
# payload; one whitespace byte after it belongs to the delimiter
_INLINE_ID_RE = re.compile(rb"(?<![A-Za-z0-9])ID" + WS)
# the EI that ends an inline image: whitespace (or nothing) before it,
# and whitespace, / [ < ( or nothing after it
_INLINE_EI_RE = re.compile(rb"(?<![^\x00\t\n\x0c\r ])EI(?![^\x00\t\n\x0c\r /\[<(])")
WS_BYTES = frozenset(b"\x00\t\n\x0c\r ")


def _tokenize_content(data: bytes):
    """Yield (operands, operator) tuples from a content stream.

    Tolerant: an operand/operator that fails to lex is skipped and the
    scan resumes at the next token boundary (crawled PDFs are dirty).

    The yielded operand LIST IS REUSED between operators (cleared after
    each resume) — the consumer must finish with it inside its loop body,
    which `_execute` does; this removes one list allocation per operator
    (~400 per page) from the hottest loop.

    Token dispatch is on ``m.lastindex`` (ints, see _CONTENT_TOK group
    order) and numeric tokens are memoized per stream: glyph advances /
    positions draw from a small repeating set (font widths × a size), so
    the common number is one dict hit — no parse, no new float."""
    hex_cache: Dict[bytes, bytes] = {}  # per-glyph CID strings repeat constantly
    num_cache: Dict[bytes, Any] = {}
    # a glyph step's bytes → its (show bytes, tx, ty, is TD): steps repeat
    # as much as their CIDs do, so a run's steps are one C-level map
    step_cache: Dict[Tuple[bytes, ...], Tuple[bytes, Any, Any, bool]] = {}
    step_get = step_cache.get
    n = len(data)
    pos = 0
    operands: List[Any] = []
    cur = operands
    stack: List[List[Any]] = []  # array nesting (TJ)
    match = _CONTENT_TOK.match  # always matches below the end
    # set once a literal string runs unterminated: judges later ones
    closes: Optional[Callable[[int], bool]] = None
    # the dicts still open where the last dict parse failed (their end
    # offsets): a parse from any of them fails alike
    failed_dicts: frozenset = frozenset()
    while pos < n:
        m = match(data, pos)  # C-level skip of whitespace (and junk)
        g = m.lastindex  # _TOK_* constants (highest matched group index)
        if g == _TOK_RUN:  # fused run of "<hex> Tj tx ty Td/TD" steps
            found = _RUN_STEPS(data, m.start(g), m.end())
            steps = list(map(step_get, found))
            if None in steps:
                for i, s in enumerate(steps):
                    if s is None:
                        hx, sx, sy, d = key = found[i]
                        hb = hex_cache.get(hx)
                        if hb is None:
                            hb = hex_cache[hx] = decode_hex(hx)
                        vx = num_cache.get(sx)
                        if vx is None:
                            vx = num_cache[sx] = decode_number(sx)
                        vy = num_cache.get(sy)
                        if vy is None:
                            vy = num_cache[sy] = decode_number(sy)
                        steps[i] = step_cache[key] = (hb, vx, vy, d == b"D")
            pos = m.end()
            if stack:
                # a run inside an unterminated array: the unfused stream
                # appends the first show INTO the array, recovers on Tj,
                # then yields the Td with just the two numbers — replay
                # that exactly, then run the remaining steps
                hb, vx, vy, td = steps.pop(0)
                cur.append(hb)
                stack = []
                cur = operands
                yield operands, b"Tj"
                operands.clear()
                operands.append(vx)
                operands.append(vy)
                yield operands, (b"TD" if td else b"Td")
                operands.clear()
                if not steps:
                    continue
            # stray operands ahead of the run stay in front of the steps
            # (the unfused stream hands them to the first Tj, which uses
            # only its last operand)
            operands.append(steps)
            yield operands, _GLYPH_RUN
            operands.clear()
            cur = operands
        elif g == _TOK_TDXY:  # fused "tx ty Td/TD"
            tok = m.group(_TOK_TDX)
            v = num_cache.get(tok)
            if v is None:
                v = num_cache[tok] = decode_number(tok)
            cur.append(v)
            tok = m.group(_TOK_TDY)
            v = num_cache.get(tok)
            if v is None:
                v = num_cache[tok] = decode_number(tok)
            cur.append(v)
            if stack:
                stack = []
                cur = operands
            pos = m.end()
            # constant op bytes (no per-op allocation): last matched byte
            # distinguishes TD (0x44 'D') from Td
            yield operands, (b"TD" if data[pos - 1] == 0x44 else b"Td")
            operands.clear()
            cur = operands
        elif g == _TOK_COMMENT:
            pos = m.end()
            continue
        elif g == _TOK_NUM:
            tok = m.group(g)
            v = num_cache.get(tok)
            if v is None:
                v = num_cache[tok] = decode_number(tok)
            cur.append(v)
            pos = m.end()
        elif g == _TOK_OP:  # operator
            op = m.group(g)
            pos = m.end()
            if op == b"BI":
                ei = _INLINE_EI_RE.search(data, pos)
                end = ei.end() if ei else n
                # capture the payload between the ID token and EI and
                # emit it as a synthetic operator: scanner PDFs that
                # embed the page scan as an INLINE image (not an
                # XObject) must still reach the OCR branch
                id_m = _INLINE_ID_RE.search(data, pos, end)
                if id_m is not None and end - 2 > id_m.end():
                    pend = end - 2
                    # the single whitespace before EI is delimiter, not data
                    if pend > id_m.end() and data[pend - 1] in WS_BYTES:
                        pend -= 1
                    # dict text between BI and ID rides along so the
                    # consumer can expand the abbreviated image dict
                    yield [
                        data[pos : id_m.start()],
                        data[id_m.end() : pend],
                    ], b"__inline_image__"
                pos = end
                operands.clear()
                cur = operands
                stack = []
                continue
            if op in (b"true", b"false", b"null"):
                cur.append(op == b"true")
                continue
            if stack:  # operator inside an unterminated array: recover
                stack = []
                cur = operands
            yield operands, op
            operands.clear()  # reuse — consumer is done with it (see doc)
            cur = operands
        elif g == _TOK_NAME:
            tok = m.group(g)[1:]
            if b"#" in tok:  # rare '#xx' escapes → slow path
                v, pos = parse_name(data, m.start(g) + 1)
                cur.append(v)
            else:
                cur.append(Name(tok.decode("utf-8", "replace")))
                pos = m.end()
        elif g == _TOK_HEX:
            body = m.group(g)
            hb = hex_cache.get(body)
            if hb is None:
                hb = hex_cache[body] = decode_hex(
                    body[1:-1] if body.endswith(b">") else body[1:]
                )
            cur.append(hb)
            pos = m.end()
        elif g == _TOK_OPEN:  # [
            new: List[Any] = []
            cur.append(new)
            stack.append(cur)
            cur = new
            pos = m.end()
        elif g == _TOK_CLOSE:  # ]
            cur = stack.pop() if stack else operands
            pos = m.end()
        elif g == _TOK_LIT:  # ( literal string
            q = m.start(g)
            if closes is None or closes(q):
                try:
                    v, pos = literal_string(data, q)
                    cur.append(v)
                    continue
                except PDFError:
                    # every later '(' would rescan to the end of the
                    # stream: judge them on this scan's paren depths
                    closes = _later_strings_close(data, q)
            # advance past the failed '(' itself — resuming from the
            # pre-whitespace scan position would re-attempt the same
            # failing parse once per leading-whitespace byte
            pos = q + 1
            operands = []
            cur = operands
            stack = []
        elif g == _TOK_DDICT:  # rare in content (gs/BDC property lists)
            if m.end() in failed_dicts:
                pos = m.end()
                continue
            try:
                v, pos = parse_object(data, m.start(g))
                cur.append(v)
            except PDFNestingError as e:
                pos = e.pos  # resume after the levels already parsed
            except PDFError as e:
                failed_dicts = frozenset(e.open_at)
                pos = m.end()
        else:  # a sign or dot that starts no number, or the end
            pos = m.end()


def _add_rule(
    pending: List[Tuple[float, float, float, float]],
    x0: float, y0: float, x1: float, y1: float,
) -> None:
    """Keep a path segment as a candidate ruled line: axis-aligned
    (post-CTM) and longer than a dot — the strokes table grids are drawn
    with.  Thin FILLED rects (the other common way to draw rules)
    contribute their two long edges and their short edges are rejected
    here by the length test."""
    dx, dy = abs(x1 - x0), abs(y1 - y0)
    if (dx < 0.5 or dy < 0.5) and max(dx, dy) > 2.0:
        pending.append((x0, y0, x1, y1))


class ContentInterpreter:
    """Executes one page's content, accumulating glyphs and image refs."""

    MAX_GLYPHS = 500_000  # hard cap: poison-doc protection at 100 TB scale

    def __init__(self, doc: PDFDocument, page: Dict[str, Any]):
        self.doc = doc
        self.page = page
        # tolerate mangled /MediaBox (short, non-numeric, not a list):
        # fall back to US-Letter like viewers do
        raw_media = doc.resolve(page.get("MediaBox"))
        try:
            media = [float(doc.resolve(v)) for v in raw_media]
        except (TypeError, ValueError):
            media = []
        if len(media) < 4:
            media = [0.0, 0.0, 612.0, 792.0]
        self.page_w = abs(media[2] - media[0])
        self.page_h = abs(media[3] - media[1])
        ox = min(media[0], media[2])
        oy = min(media[1], media[3])
        # /Rotate (inherited, §7.7.3.3): fold the media-box origin shift
        # and the viewing rotation into ONE base CTM so glyph/rule device
        # coords land in the VIEWED (upright) page space — scanners emit
        # sideways content + /Rotate 90/270 constantly, and ignoring it
        # scrambles reading order on those pages
        try:
            rot = int(doc.resolve(page.get("Rotate", 0)) or 0) % 360
        except (TypeError, ValueError):
            rot = 0
        base: Matrix = (1.0, 0.0, 0.0, 1.0, -ox, -oy)
        w, h = self.page_w, self.page_h
        if rot == 90:    # content (x,y) → viewed (y, w−x); page becomes h×w
            base = mat_mul(base, (0.0, -1.0, 1.0, 0.0, 0.0, w))
            self.page_w, self.page_h = h, w
        elif rot == 180:  # (x,y) → (w−x, h−y)
            base = mat_mul(base, (-1.0, 0.0, 0.0, -1.0, w, h))
        elif rot == 270:  # (x,y) → (h−y, x); page becomes h×w
            base = mat_mul(base, (0.0, 1.0, -1.0, 0.0, h, 0.0))
            self.page_w, self.page_h = h, w
        self.base_ctm = base
        # origin handling lives in base_ctm now; per-glyph subtraction off
        self.origin_x, self.origin_y = 0.0, 0.0
        self.glyphs: List[Glyph] = []
        self.images: List[bytes] = []
        self.image_draws: List[Tuple[float, float, float, float]] = []
        self.rules: List[Tuple[float, float, float, float]] = []
        self.n_text_ops = 0
        self._seq = 0
        self._xobj_depth = 0
        self._rot_votes = [0, 0, 0, 0]  # glyphs flowing 0°/90°/180°/270°

    MAX_RULES = 10_000  # poison cap: a path-bomb page must not blow memory

    # -- public ------------------------------------------------------------

    def run(self) -> PageResult:
        content = self.doc.page_content(self.page)
        fonts = load_page_fonts(self.doc, self.page.get("Resources"))
        resources = self.doc.resolve(self.page.get("Resources")) or {}
        self._execute(content, fonts, resources, self.base_ctm)
        return PageResult(
            self.glyphs, self.page_w, self.page_h, self.images, self.n_text_ops,
            self.rules, self.image_draws, tuple(self._rot_votes),
        )

    # -- execution ---------------------------------------------------------

    def _execute(
        self,
        content: bytes,
        fonts: Dict[str, Font],
        resources: Dict[str, Any],
        base_ctm: Matrix,
    ) -> None:
        doc = self.doc
        ctm = base_ctm
        gs_stack: List[Tuple[Matrix, _TextState]] = []
        ts = _TextState()
        tm: Matrix = IDENTITY
        tlm: Matrix = IDENTITY
        in_text = False

        def num(v: Any, default: float = 0.0) -> float:
            return float(v) if isinstance(v, (int, float)) else default

        # path tracking for ruled-line (table-grid) detection: only
        # axis-aligned PAINTED segments are kept (see _add_rule)
        pending: List[Tuple[float, float, float, float]] = []
        pt: Optional[Tuple[float, float]] = None

        glyphs = self.glyphs
        glyphs_append = glyphs.append
        new_glyph = tuple.__new__
        votes = self._rot_votes
        max_glyphs = self.MAX_GLYPHS

        for operands, op in _tokenize_content(content):
            if len(glyphs) >= max_glyphs:
                return
            try:
                if op == _GLYPH_RUN:
                    # a run of glyph steps: show, then Td/TD, per step.
                    # Every value _show derives from (tm rotation, ctm,
                    # text state) is constant across the run — steps
                    # change only the matrix translations — so it is
                    # hoisted once; the per-glyph float formulas are
                    # _show's, so the Glyph tuples are bit-identical.
                    # Each show's returned advance is discarded on
                    # purpose: Td rebuilds tm from tlm, exactly as the
                    # unfused sequence would.  A decode failure keeps the
                    # glyphs it already emitted but skips that step's
                    # votes and seq advance, never its Td.
                    font = ts.font
                    size = ts.size
                    show = font is not None and size != 0
                    if show:
                        t0_, t1_, t2_, t3_ = tm[0], tm[1], tm[2], tm[3]
                        c0, c1, c2, c3, c4, c5 = ctm
                        a = t0_ * c0 + t1_ * c2
                        b = t0_ * c1 + t1_ * c3
                        c_ = t2_ * c0 + t3_ * c2
                        d_ = t2_ * c1 + t3_ * c3
                        sy = (c_ * c_ + d_ * d_) ** 0.5 * size
                        ab = (a * a + b * b) ** 0.5
                        rise = ts.rise
                        rx = c_ * rise - self.origin_x
                        ry = d_ * rise - self.origin_y
                        char_sp, hscale = ts.char_sp, ts.hscale
                        wsp = 0.0 if font.two_byte else ts.word_sp
                        decode, fname = font.decode, font.name
                        if abs(a) >= abs(b):
                            vidx = 0 if a >= 0 else 2
                        else:
                            vidx = 1 if b > 0 else 3
                    l0, l1, l2, l3, l4, l5 = tlm
                    t4, t5 = tm[4], tm[5]
                    seq = self._seq
                    n_ops = 0
                    for raw, tx, ty, is_td in operands[-1]:
                        if len(glyphs) >= max_glyphs:
                            break
                        if show:
                            n_ops += 1
                            s = seq
                            try:
                                e = t4 * c0 + t5 * c2 + c4
                                f = t4 * c1 + t5 * c3 + c5
                                for code, uni, w1000 in decode(raw):
                                    extra = char_sp
                                    if wsp and code == 32:
                                        extra += wsp
                                    gtx = (w1000 * 0.001 * size + extra) * hscale
                                    glyphs_append(new_glyph(
                                        Glyph,
                                        (uni, e + rx, f + ry, abs(gtx) * ab, sy,
                                         fname, s),
                                    ))
                                    s += 1
                                    e += gtx * a
                                    f += gtx * b
                                votes[vidx] += s - seq
                                seq = s
                            except PDFError:
                                pass  # seq stays: the next step reuses it
                        if is_td:
                            ts.leading = -ty
                        t4 = l4 = tx * l0 + ty * l2 + l4
                        t5 = l5 = tx * l1 + ty * l3 + l5
                    self.n_text_ops += n_ops
                    self._seq = seq
                    tlm = (l0, l1, l2, l3, l4, l5)
                    tm = tlm
                elif op == b"Tj" and operands:
                    tm = self._show(operands[-1], ts, tm, ctm)
                elif op == b"Td" and len(operands) >= 2:
                    # num() inlined: Td/TD run once per glyph in WPS-style
                    # streams — two calls per op add up to millions
                    tx, ty = operands[-2], operands[-1]
                    if not isinstance(tx, (int, float)):
                        tx = 0.0
                    if not isinstance(ty, (int, float)):
                        ty = 0.0
                    tlm = (tlm[0], tlm[1], tlm[2], tlm[3],
                           tx * tlm[0] + ty * tlm[2] + tlm[4],
                           tx * tlm[1] + ty * tlm[3] + tlm[5])
                    tm = tlm
                elif op == b"TD" and len(operands) >= 2:
                    tx, ty = operands[-2], operands[-1]
                    if not isinstance(tx, (int, float)):
                        tx = 0.0
                    if not isinstance(ty, (int, float)):
                        ty = 0.0
                    ts.leading = -ty
                    tlm = (tlm[0], tlm[1], tlm[2], tlm[3],
                           tx * tlm[0] + ty * tlm[2] + tlm[4],
                           tx * tlm[1] + ty * tlm[3] + tlm[5])
                    tm = tlm
                elif op == b"TJ" and operands and isinstance(operands[-1], list):
                    for item in operands[-1]:
                        if isinstance(item, bytes):
                            tm = self._show(item, ts, tm, ctm)
                        elif isinstance(item, (int, float)):
                            tx = -float(item) / 1000.0 * ts.size * ts.hscale
                            tm = (tm[0], tm[1], tm[2], tm[3],
                                  tx * tm[0] + tm[4], tx * tm[1] + tm[5])
                elif op == b"Tm" and len(operands) >= 6:
                    tlm = tuple(num(v) for v in operands[-6:])  # type: ignore[assignment]
                    tm = tlm
                elif op == b"T*":
                    L = ts.leading
                    tlm = (tlm[0], tlm[1], tlm[2], tlm[3],
                           tlm[4] - L * tlm[2], tlm[5] - L * tlm[3])
                    tm = tlm
                elif op == b"BT":
                    in_text = True
                    tm = tlm = IDENTITY
                elif op == b"ET":
                    in_text = False
                elif op == b"Tf" and len(operands) >= 2:
                    fname = str(operands[-2]) if isinstance(operands[-2], (Name, str)) else ""
                    ts.font = fonts.get(fname)
                    ts.size = num(operands[-1])
                elif op == b"q":
                    gs_stack.append((ctm, ts.clone()))
                elif op == b"Q":
                    if gs_stack:
                        ctm, ts = gs_stack.pop()
                elif op == b"cm" and len(operands) >= 6:
                    m = tuple(num(v) for v in operands[-6:])
                    ctm = mat_mul(m, ctm)  # type: ignore[arg-type]
                elif op == b"Tc" and operands:
                    ts.char_sp = num(operands[-1])
                elif op == b"Tw" and operands:
                    ts.word_sp = num(operands[-1])
                elif op == b"Tz" and operands:
                    ts.hscale = num(operands[-1], 100.0) / 100.0
                elif op == b"TL" and operands:
                    ts.leading = num(operands[-1])
                elif op == b"Ts" and operands:
                    ts.rise = num(operands[-1])
                elif op == b"'" and operands:
                    L = ts.leading
                    tlm = (tlm[0], tlm[1], tlm[2], tlm[3],
                           tlm[4] - L * tlm[2], tlm[5] - L * tlm[3])
                    tm = self._show(operands[-1], ts, tlm, ctm)
                elif op == b'"' and len(operands) >= 3:
                    ts.word_sp = num(operands[-3])
                    ts.char_sp = num(operands[-2])
                    L = ts.leading
                    tlm = (tlm[0], tlm[1], tlm[2], tlm[3],
                           tlm[4] - L * tlm[2], tlm[5] - L * tlm[3])
                    tm = self._show(operands[-1], ts, tlm, ctm)
                elif op == b"Do" and operands:
                    self._do_xobject(operands[-1], resources, ctm, fonts)
                elif op == b"__inline_image__" and len(operands) >= 2:
                    dict_bytes, payload = operands[-2], operands[-1]
                    if isinstance(payload, bytes) and payload.strip():
                        self.images.append(
                            inline_image_payload(self.doc, dict_bytes, payload)
                        )
                        self.image_draws.append(unit_square_bbox(ctm))
                elif op == b"re" and len(operands) >= 4:
                    x, y, w, h = (num(v) for v in operands[-4:])
                    dev = [
                        mat_apply(ctm, x, y),
                        mat_apply(ctm, x + w, y),
                        mat_apply(ctm, x + w, y + h),
                        mat_apply(ctm, x, y + h),
                    ]
                    for (x0, y0), (x1, y1) in zip(dev, dev[1:] + dev[:1]):
                        _add_rule(pending, x0, y0, x1, y1)
                    pt = dev[0]
                elif op == b"m" and len(operands) >= 2:
                    pt = mat_apply(ctm, num(operands[-2]), num(operands[-1]))
                elif op == b"l" and len(operands) >= 2:
                    p2 = mat_apply(ctm, num(operands[-2]), num(operands[-1]))
                    if pt is not None:
                        _add_rule(pending, pt[0], pt[1], p2[0], p2[1])
                    pt = p2
                elif op in (b"c", b"v", b"y") and len(operands) >= 2:
                    # curves contribute no straight rules; track the pen
                    pt = mat_apply(ctm, num(operands[-2]), num(operands[-1]))
                elif op in (b"S", b"s", b"f", b"F", b"f*", b"B", b"B*", b"b", b"b*"):
                    if pending:
                        room = self.MAX_RULES - len(self.rules)
                        if room > 0:
                            ox, oy = self.origin_x, self.origin_y
                            self.rules.extend(
                                (x0 - ox, y0 - oy, x1 - ox, y1 - oy)
                                for x0, y0, x1, y1 in pending[:room]
                            )
                        pending = []
                    pt = None
                elif op == b"n":  # clipping path: not painted
                    pending = []
                    pt = None
            except PDFError:
                continue  # skip malformed op, keep going

    def _show(self, raw: Any, ts: _TextState, tm: Matrix, ctm: Matrix) -> Matrix:
        if not isinstance(raw, bytes) or ts.font is None or ts.size == 0:
            return tm
        self.n_text_ops += 1
        font = ts.font
        # trm = tm · ctm computed ONCE (inlined: this is the single
        # hottest line of the interpreter — one call+tuple per show op);
        # per-glyph advances are pure translations along text-space x, so
        # T(tx)·trm only shifts (e, f) — no per-glyph matrix multiplies
        t0, t1, t2, t3, t4, t5 = tm
        c0, c1, c2, c3, c4, c5 = ctm
        a = t0 * c0 + t1 * c2
        b = t0 * c1 + t1 * c3
        c = t2 * c0 + t3 * c2
        d = t2 * c1 + t3 * c3
        e = t4 * c0 + t5 * c2 + c4
        f = t4 * c1 + t5 * c3 + c5
        sy = (c * c + d * d) ** 0.5 * ts.size
        ab = (a * a + b * b) ** 0.5  # device length of a unit x advance
        rise = ts.rise
        rx, ry = c * rise - self.origin_x, d * rise - self.origin_y
        size, char_sp, hscale = ts.size, ts.char_sp, ts.hscale
        word_sp = 0.0 if font.two_byte else ts.word_sp
        fname = font.name
        glyphs_append = self.glyphs.append
        seq = self._seq
        tx_total = 0.0
        new_glyph = tuple.__new__  # bypass namedtuple.__new__: one glyph
        for code, uni, w1000 in font.decode(raw):  # per Tj in CID streams
            extra = char_sp
            if word_sp and code == 32:
                extra += word_sp
            tx = (w1000 * 0.001 * size + extra) * hscale
            glyphs_append(
                new_glyph(Glyph, (uni, e + rx, f + ry, abs(tx) * ab, sy,
                                  fname, seq))
            )
            seq += 1
            e += tx * a
            f += tx * b
            tx_total += tx
        n_run = seq - self._seq
        if n_run:
            # one flow-direction vote per glyph, classified once per run:
            # quadrant of the device-space x-advance (a, b)
            if abs(a) >= abs(b):
                self._rot_votes[0 if a >= 0 else 2] += n_run
            else:
                self._rot_votes[1 if b > 0 else 3] += n_run
        self._seq = seq
        return (
            tm[0], tm[1], tm[2], tm[3],
            tx_total * tm[0] + tm[4],
            tx_total * tm[1] + tm[5],
        )

    def _do_xobject(
        self,
        name: Any,
        resources: Dict[str, Any],
        ctm: Matrix,
        parent_fonts: Dict[str, Font],
    ) -> None:
        if self._xobj_depth >= 8:
            return
        res = self.doc.resolve(resources)
        xobjs = self.doc.resolve(res.get("XObject")) if isinstance(res, dict) else None
        if not isinstance(xobjs, dict):
            return
        xo = self.doc.resolve(xobjs.get(str(name)))
        if not isinstance(xo, Stream):
            return
        subtype = str(self.doc.resolve(xo.dict.get("Subtype", "")))
        if subtype == "Image":
            self.images.append(image_ocr_payload(self.doc, xo))
            self.image_draws.append(unit_square_bbox(ctm))
            return
        if subtype == "Form":
            inner_res = self.doc.resolve(xo.dict.get("Resources")) or res
            inner_fonts = load_page_fonts(self.doc, inner_res) or parent_fonts
            mtx = self.doc.resolve(xo.dict.get("Matrix"))
            m: Matrix = IDENTITY
            if isinstance(mtx, list) and len(mtx) >= 6:
                m = tuple(float(self.doc.resolve(v)) for v in mtx[:6])  # type: ignore[assignment]
            self._xobj_depth += 1
            try:
                self._execute(
                    xo.decode(self.doc),
                    inner_fonts,
                    inner_res if isinstance(inner_res, dict) else {},
                    mat_mul(m, ctm),
                )
            except PDFError:
                pass
            finally:
                self._xobj_depth -= 1


def interpret_page(doc: PDFDocument, page: Dict[str, Any]) -> PageResult:
    return ContentInterpreter(doc, page).run()


def dominant_rotation(votes: Tuple[int, int, int, int]) -> int:
    """K4 orientation verdict from the flow-direction votes: 0/90/180/270
    degrees the page text is rotated CCW from upright.

    The digital-text analogue of the reference's Tesseract OSD call
    (image_to_osd, /root/reference/parse_student_answers.py:40-59): a
    rotated angle wins only with a STRICT majority over upright glyphs
    (mixed pages — a sideways margin label on a normal page — stay
    upright), ties between rotated angles break toward the smaller
    angle.  Deterministic."""
    v0, v90, v180, v270 = votes
    best_angle, best = 0, v0
    for angle, v in ((90, v90), (180, v180), (270, v270)):
        if v > best:
            best_angle, best = angle, v
    return best_angle


def normalize_page_rotation(res: PageResult, rotation: int) -> PageResult:
    """Rotate a page's device geometry so text reads upright — what the
    reference achieves by physically rotating the scan before OCR
    (parse_student_answers.py:59-66 rotates by the OSD angle).  Maps
    every recorded point into the re-oriented frame (page dims swap for
    90/270); glyph advance/size are frame-independent magnitudes."""
    if rotation not in (90, 180, 270):
        return res
    w, h = res.width, res.height

    if rotation == 90:      # flow +y → turn page CW:  (x, y) → (y, w−x)
        def pt(x: float, y: float) -> Tuple[float, float]:
            return y, w - x
        nw, nh = h, w
    elif rotation == 180:   # flow −x → half-turn:     (x, y) → (w−x, h−y)
        def pt(x: float, y: float) -> Tuple[float, float]:
            return w - x, h - y
        nw, nh = w, h
    else:                   # flow −y → turn page CCW: (x, y) → (h−y, x)
        def pt(x: float, y: float) -> Tuple[float, float]:
            return h - y, x
        nw, nh = h, w

    glyphs = []
    for g in res.glyphs:
        nx, ny = pt(g.x, g.y)
        glyphs.append(Glyph(g.text, nx, ny, g.adv, g.size, g.font, g.seq))
    rules = []
    for x0, y0, x1, y1 in res.rules:
        (ax, ay), (bx, by) = pt(x0, y0), pt(x1, y1)
        rules.append((ax, ay, bx, by))
    draws = []
    for x0, y0, x1, y1 in res.image_draws:
        (ax, ay), (bx, by) = pt(x0, y0), pt(x1, y1)
        draws.append((min(ax, bx), min(ay, by), max(ax, bx), max(ay, by)))
    return PageResult(
        glyphs, nw, nh, res.images, res.n_text_ops, rules, draws, res.rot_votes
    )
