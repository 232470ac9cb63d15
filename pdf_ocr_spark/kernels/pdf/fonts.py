"""Font decode layer: code bytes → (unicode, width) sequences.

Replaces what the reference gets implicitly from PyMuPDF's text extraction
(span['content']/span['text'], /root/reference/pdf_ocr_with_boxes_v3.py:185-197,
/root/reference/pdf_ocr_with_boxes_v4.py:64-68).  Handles:

  * Type0/CIDFontType2 with Identity-H/V encoding and ToUnicode CMaps
    (bfchar + bfrange, incl. the array-destination bfrange form) — the
    japanese_test.pdf acid test (SURVEY.md §5.2: 3 CMaps, 180 bfchar)
  * simple fonts (Type1/TrueType/Type3): /Widths + /FirstChar,
    WinAnsi/MacRoman/Standard base encodings with /Differences overrides
  * width lookup for text-matrix advance: /W + /DW for CID fonts
"""

from __future__ import annotations

import re
from typing import Any, Dict, List, Optional, Tuple

from pdf_ocr_spark.kernels.pdf.cos import (
    Name,
    PDFDocument,
    PDFError,
    Ref,
    Stream,
    decode_hex,
)

# WinAnsiEncoding codes that differ from Latin-1 (PDF 32000-1 Annex D.2).
_WINANSI_DIFFS = {
    0x80: "€", 0x82: "‚", 0x83: "ƒ", 0x84: "„",
    0x85: "…", 0x86: "†", 0x87: "‡", 0x88: "ˆ",
    0x89: "‰", 0x8A: "Š", 0x8B: "‹", 0x8C: "Œ",
    0x8E: "Ž", 0x91: "‘", 0x92: "’", 0x93: "“",
    0x94: "”", 0x95: "•", 0x96: "–", 0x97: "—",
    0x98: "˜", 0x99: "™", 0x9A: "š", 0x9B: "›",
    0x9C: "œ", 0x9E: "ž", 0x9F: "Ÿ",
}

# The handful of glyph names that actually appear in /Differences arrays
# in the wild; everything else falls back to uniXXXX / single-char names.
_GLYPH_NAMES = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&", "quotesingle": "'",
    "parenleft": "(", "parenright": ")", "asterisk": "*", "plus": "+",
    "comma": ",", "hyphen": "-", "period": ".", "slash": "/",
    "zero": "0", "one": "1", "two": "2", "three": "3", "four": "4",
    "five": "5", "six": "6", "seven": "7", "eight": "8", "nine": "9",
    "colon": ":", "semicolon": ";", "less": "<", "equal": "=",
    "greater": ">", "question": "?", "at": "@", "bracketleft": "[",
    "backslash": "\\", "bracketright": "]", "asciicircum": "^",
    "underscore": "_", "grave": "`", "braceleft": "{", "bar": "|",
    "braceright": "}", "asciitilde": "~", "quoteleft": "‘",
    "quoteright": "’", "quotedblleft": "“",
    "quotedblright": "”", "endash": "–", "emdash": "—",
    "bullet": "•", "ellipsis": "…", "fi": "ﬁ",
    "fl": "ﬂ", "degree": "°", "euro": "€",
}


def _glyph_to_unicode(name: str) -> Optional[str]:
    if name in _GLYPH_NAMES:
        return _GLYPH_NAMES[name]
    if len(name) == 1:
        return name
    m = re.fullmatch(r"uni([0-9A-Fa-f]{4})", name)
    if m:
        return chr(int(m.group(1), 16))
    m = re.fullmatch(r"u([0-9A-Fa-f]{4,6})", name)
    if m:
        cp = int(m.group(1), 16)
        if cp <= 0x10FFFF:
            return chr(cp)
    return None


def parse_tounicode(data: bytes) -> Dict[int, str]:
    """Parse a ToUnicode CMap stream into {code: unicode string}.

    Supports bfchar pairs, bfrange with hex destination, and bfrange with
    an array of destinations.  Destination hex is UTF-16BE (may be
    multi-char, e.g. ligature expansions).
    """
    out: Dict[int, str] = {}

    def _utf16(b: bytes) -> str:
        if len(b) % 2:
            b = b[:-1]
        try:
            return b.decode("utf-16-be", "replace") if b else ""
        except Exception:
            return ""

    for m in re.finditer(rb"beginbfchar(.*?)endbfchar", data, re.S):
        for pm in re.finditer(rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]*)>", m.group(1)):
            src = int(pm.group(1), 16)
            out[src] = _utf16(decode_hex(pm.group(2)))
    for m in re.finditer(rb"beginbfrange(.*?)endbfrange", data, re.S):
        body = m.group(1)
        # form 1: <lo> <hi> <dst>
        for pm in re.finditer(
            rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>", body
        ):
            lo, hi = int(pm.group(1), 16), int(pm.group(2), 16)
            dst = bytes.fromhex(pm.group(3).decode("ascii"))
            if hi - lo > 0x10000:
                continue
            base = _utf16(dst)
            if not base:
                continue
            # increment applies to the last UTF-16 code unit
            last = ord(base[-1])
            prefix = base[:-1]
            for i in range(hi - lo + 1):
                out.setdefault(lo + i, prefix + chr(last + i))
        # form 2: <lo> <hi> [<d1> <d2> ...]
        for pm in re.finditer(
            rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*\[((?:\s*<[0-9A-Fa-f]*>)+)\s*\]",
            body,
        ):
            lo = int(pm.group(1), 16)
            dsts = re.findall(rb"<([0-9A-Fa-f]*)>", pm.group(3))
            for i, d in enumerate(dsts):
                if d:
                    out[lo + i] = _utf16(bytes.fromhex(d.decode("ascii")))
    return out


class Font:
    """Decoded view of one /Font resource."""

    __slots__ = (
        "name",
        "subtype",
        "is_cid",
        "two_byte",
        "to_unicode",
        "encoding_map",
        "widths",
        "default_width",
        "space_code",
        "_cache",
        "_run_cache",
    )

    def __init__(self) -> None:
        self.name = ""
        self.subtype = ""
        self.is_cid = False
        self.two_byte = False
        self.to_unicode: Dict[int, str] = {}
        self.encoding_map: Dict[int, str] = {}
        self.widths: Dict[int, float] = {}
        self.default_width = 500.0
        self.space_code: Optional[int] = 32
        self._cache: Dict[int, Tuple[int, str, float]] = {}
        self._run_cache: Dict[bytes, List[Tuple[int, str, float]]] = {}

    # -- decoding ----------------------------------------------------------

    def decode(self, raw: bytes) -> List[Tuple[int, str, float]]:
        """Decode a show-string into [(code, unicode, width/1000em)].

        Per-code triples are memoized: a typical page shows the same few
        dozen codes thousands of times (per-glyph Tj), so after warmup a
        decode is one dict hit per glyph.  Whole runs are memoized too —
        the tokenizer's hex cache interns repeated show-strings (per-glyph
        CID Tj streams reuse a handful of byte strings), so the common
        decode is ONE dict hit with no list build.  The returned list is
        shared: callers iterate, never mutate (the only hot caller is
        ``ContentInterpreter._show``)."""
        run_cache = self._run_cache
        out = run_cache.get(raw)
        if out is not None:
            return out
        cache = self._cache
        out: List[Tuple[int, str, float]] = []
        append = out.append
        if self.two_byte:
            n = len(raw) - 1
            for i in range(0, n, 2):
                code = (raw[i] << 8) | raw[i + 1]
                t = cache.get(code)
                if t is None:
                    t = cache[code] = (
                        code, self._unicode_for(code), self._width_for(code)
                    )
                append(t)
            if len(raw) % 2:  # dangling byte: decode as 1-byte code
                code = raw[-1]
                t = cache.get(code)
                if t is None:
                    t = cache[code] = (
                        code, self._unicode_for(code), self._width_for(code)
                    )
                append(t)
        else:
            for code in raw:
                t = cache.get(code)
                if t is None:
                    t = cache[code] = (
                        code, self._unicode_for(code), self._width_for(code)
                    )
                append(t)
        if len(run_cache) < 8192:  # bound memory on adversarial streams
            run_cache[raw] = out
        return out

    def _unicode_for(self, code: int) -> str:
        u = self.to_unicode.get(code)
        if u is not None:
            return u
        u = self.encoding_map.get(code)
        if u is not None:
            return u
        if not self.is_cid and 0x20 <= code < 0x7F:
            return chr(code)
        if not self.is_cid and 0xA0 <= code <= 0xFF:
            return _WINANSI_DIFFS.get(code, chr(code))
        return ""  # unmapped glyph: contributes advance but no text

    def _width_for(self, code: int) -> float:
        return self.widths.get(code, self.default_width)


def load_font(doc: PDFDocument, font_obj: Any, res_name: str) -> Font:
    """Build a Font from a /Font resource dict."""
    f = Font()
    f.name = res_name
    d = doc.resolve(font_obj)
    if not isinstance(d, dict):
        return f
    f.subtype = str(doc.resolve(d.get("Subtype", "")))

    tu = doc.resolve(d.get("ToUnicode"))
    if isinstance(tu, Stream):
        try:
            f.to_unicode = parse_tounicode(tu.decode(doc))
        except PDFError:
            f.to_unicode = {}

    if f.subtype == "Type0":
        f.is_cid = True
        enc = doc.resolve(d.get("Encoding"))
        enc_name = str(enc) if isinstance(enc, (Name, str)) else ""
        # Identity-H/V and most CMaps used in crawls are 2-byte
        f.two_byte = True
        if enc_name.startswith("Identity") or not enc_name:
            pass  # code == CID
        desc = doc.resolve(d.get("DescendantFonts"))
        if isinstance(desc, list) and desc:
            df = doc.resolve(desc[0])
            if isinstance(df, dict):
                dw = doc.resolve(df.get("DW"))
                if isinstance(dw, (int, float)):
                    f.default_width = float(dw)
                else:
                    f.default_width = 1000.0
                _load_cid_widths(doc, df.get("W"), f)
        else:
            f.default_width = 1000.0
        f.space_code = None  # Tw applies only to single-byte code 32
        return f

    # simple font
    first = doc.resolve(d.get("FirstChar"))
    widths = doc.resolve(d.get("Widths"))
    if isinstance(first, (int, float)) and isinstance(widths, list):
        for i, w in enumerate(widths):
            w = doc.resolve(w)
            if isinstance(w, (int, float)):
                f.widths[int(first) + i] = float(w)
    enc = doc.resolve(d.get("Encoding"))
    base = ""
    diffs = None
    if isinstance(enc, dict):
        base = str(doc.resolve(enc.get("BaseEncoding", "")))
        diffs = doc.resolve(enc.get("Differences"))
    elif isinstance(enc, (Name, str)):
        base = str(enc)
    if base == "MacRomanEncoding":
        for code in range(0x80, 0x100):
            try:
                f.encoding_map[code] = bytes((code,)).decode("mac_roman")
            except Exception:
                pass
    # WinAnsi is the _unicode_for fallback; /Differences override everything
    if isinstance(diffs, list):
        code = 0
        for item in diffs:
            item = doc.resolve(item)
            if isinstance(item, (int, float)):
                code = int(item)
            elif isinstance(item, (Name, str)):
                u = _glyph_to_unicode(str(item))
                if u is not None:
                    f.encoding_map[code] = u
                code += 1
    return f


def _load_cid_widths(doc: PDFDocument, w_obj: Any, f: Font) -> None:
    """Parse the CID /W array: [c [w1 w2 …]] or [c1 c2 w] runs."""
    w = doc.resolve(w_obj)
    if not isinstance(w, list):
        return
    i = 0
    n = len(w)
    while i < n:
        a = doc.resolve(w[i])
        if not isinstance(a, (int, float)):
            i += 1
            continue
        if i + 1 < n:
            b = doc.resolve(w[i + 1])
            if isinstance(b, list):
                for j, ww in enumerate(b):
                    ww = doc.resolve(ww)
                    if isinstance(ww, (int, float)):
                        f.widths[int(a) + j] = float(ww)
                i += 2
                continue
            if isinstance(b, (int, float)) and i + 2 < n:
                c = doc.resolve(w[i + 2])
                if isinstance(c, (int, float)):
                    lo, hi = int(a), int(b)
                    if 0 <= hi - lo <= 65536:
                        for code in range(lo, hi + 1):
                            f.widths[code] = float(c)
                    i += 3
                    continue
        i += 1


def load_page_fonts(doc: PDFDocument, resources: Any) -> Dict[str, Font]:
    """All fonts declared in a page's /Resources.

    Memoized per document on (font object number, resource name):
    pages of one PDF overwhelmingly share font objects, and a font's
    widths/CMap/ToUnicode parse is ~1 ms — per-PAGE loading re-paid it
    on every page.  The per-code decode cache inside Font is shared
    across pages too (same font, same codes), which is pure upside."""
    out: Dict[str, Font] = {}
    res = doc.resolve(resources)
    if not isinstance(res, dict):
        return out
    fonts = doc.resolve(res.get("Font"))
    if not isinstance(fonts, dict):
        return out
    memo = getattr(doc, "_font_memo", None)
    if memo is None:
        memo = {}
        doc._font_memo = memo  # type: ignore[attr-defined]
    for name, obj in fonts.items():
        rname = str(name)
        key = (obj.num if isinstance(obj, Ref) else id(doc.resolve(obj)), rname)
        f = memo.get(key)
        if f is None:
            try:
                f = load_font(doc, obj, rname)
            except PDFError:
                f = Font()
            memo[key] = f
        out[rname] = f
    return out
