"""COS (Carousel Object System) layer: lexer, object parser, filters,
xref resolution, and the document/page-tree model.

From-scratch replacement for the object-level work the reference delegates
to PyMuPDF (``fitz.open``, /root/reference/pdf_ocr_with_boxes_v2.py:195) and
magic-pdf (``PymuDocDataset(binary)``,
/root/reference/pdf_ocr_with_boxes_v3.py:111-115).  Pure Python + zlib; no
third-party PDF libraries.

Supported on purpose (what a 100 TB Common-Crawl PDF corpus contains):
  * classic xref tables with /Prev chains, plus xref *streams* (PDF 1.5+)
    with PNG predictors, plus object streams (/Type /ObjStm)
  * FlateDecode (+ predictors), LZWDecode (+ EarlyChange/predictors),
    ASCIIHexDecode, ASCII85Decode, RunLengthDecode
  * indirect /Length, broken xref offsets (brute-force object scan
    fallback), hex and literal strings with all escapes
"""

from __future__ import annotations

import re
import zlib
from typing import Any, Dict, List, Optional, Tuple

# The COS token grammar's pieces, declared once; the content-stream
# tokenizer (content.py) builds its general alternatives from them too.
WS = rb"[\x00\t\n\x0c\r ]"
NUM = rb"[+-]?+(?:\d++(?:\.\d*+)?+|\.\d++)"  # possessive: what follows never extends it
REGULAR = rb"[^\x00\t\n\x0c\r ()<>\[\]{}/%]"  # a name or keyword byte
HEX = rb"0-9A-Fa-f"  # the hex digits, as the body of a character class

_OBJ_HEADER_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")


class PDFError(Exception):
    """Any structural failure while parsing a PDF. The extraction pipeline

    catches this per document and emits a lineage row with
    status='failed' instead of aborting the batch (poison-row isolation,
    SURVEY.md §4.1)."""


class Name(str):
    """A PDF name object (/Foo). Subclass of str so it hashes/compares as

    its text, but remains distinguishable from a string literal."""

    __slots__ = ()


class Ref(tuple):
    """Indirect reference: (object number, generation)."""

    __slots__ = ()

    def __new__(cls, num: int, gen: int):
        return super().__new__(cls, (num, gen))

    @property
    def num(self) -> int:
        return self[0]

    @property
    def gen(self) -> int:
        return self[1]


class Stream:
    """A stream object: its dict plus the raw (still encoded) bytes."""

    __slots__ = ("dict", "raw")

    def __init__(self, d: Dict[str, Any], raw: bytes):
        self.dict = d
        self.raw = raw

    def decode(self, doc: "PDFDocument") -> bytes:
        filters = doc.resolve(self.dict.get("Filter"))
        parms = doc.resolve(self.dict.get("DecodeParms"))
        if filters is None:
            return self.raw
        if not isinstance(filters, list):
            filters = [filters]
            parms = [parms]
        elif not isinstance(parms, list):
            parms = [parms] * len(filters)
        if len(parms) < len(filters):
            parms = list(parms) + [None] * (len(filters) - len(parms))
        data = self.raw
        for f, p in zip(filters, parms):
            data = _apply_filter(str(doc.resolve(f)), data, doc.resolve(p), doc)
        return data


def _apply_filter(name: str, data: bytes, parms: Any, doc: "PDFDocument") -> bytes:
    if name in ("FlateDecode", "Fl"):
        try:
            out = zlib.decompress(data)
        except zlib.error:
            # tolerate trailing garbage / missing adler checksum
            try:
                out = zlib.decompressobj().decompress(data)
            except zlib.error as e:
                raise PDFError(f"FlateDecode failed: {e}") from e
        return _apply_predictor(out, parms, doc)
    if name in ("ASCIIHexDecode", "AHx"):
        return decode_hex(data.split(b">")[0])
    if name in ("ASCII85Decode", "A85"):
        import base64

        body = data.replace(b"<~", b"").split(b"~>")[0]
        body = re.sub(rb"\s", b"", body)
        return base64.a85decode(body)
    if name in ("RunLengthDecode", "RL"):
        out = bytearray()
        i = 0
        while i < len(data):
            l = data[i]
            if l == 128:
                break
            if l < 128:
                out += data[i + 1 : i + 2 + l]
                i += 2 + l
            else:
                out += data[i + 1 : i + 2] * (257 - l)
                i += 2
        return bytes(out)
    if name in ("LZWDecode", "LZW"):
        early = 1
        if isinstance(parms, dict):
            try:
                early = int(doc.resolve(parms.get("EarlyChange", 1)))
            except (TypeError, ValueError):
                early = 1
        return _apply_predictor(_lzw_decode(data, early), parms, doc)
    if name in ("DCTDecode", "DCT", "JPXDecode", "CCITTFaxDecode", "JBIG2Decode"):
        # image codecs: the extraction engine never rasterizes; image
        # payloads flow to the OCR branch as opaque bytes (SURVEY.md K2)
        return data
    raise PDFError(f"unsupported stream filter: {name}")


_LZW_CLEAR, _LZW_EOD = 256, 257


def _lzw_decode(data: bytes, early: int = 1) -> bytes:
    """PDF/TIFF LZW (ISO 32000-1 §7.4.4): 9→12-bit variable-width codes,
    MSB-first, clear code 256, EOD 257; ``EarlyChange`` widens the code
    one table entry early (the spec default 1; pre-2005 crawl PDFs use
    this constantly).  Pure python — LZW streams are rare and small
    (legacy content streams), never the hot path."""
    out = bytearray()
    table: List[bytes] = []
    width = 9
    prev: Optional[bytes] = None

    def reset() -> None:
        nonlocal table, width, prev
        table = [bytes([i]) for i in range(256)] + [b"", b""]
        width = 9
        prev = None

    reset()
    bitbuf = 0
    bitcnt = 0
    for byte in data:
        bitbuf = (bitbuf << 8) | byte
        bitcnt += 8
        while bitcnt >= width:
            code = (bitbuf >> (bitcnt - width)) & ((1 << width) - 1)
            bitcnt -= width
            if code == _LZW_CLEAR:
                reset()
                continue
            if code == _LZW_EOD:
                return bytes(out)
            if prev is None:
                if code >= len(table):
                    raise PDFError("LZWDecode: bad first code")
                entry = table[code]
                out += entry
            else:
                if code < len(table):
                    entry = table[code]
                elif code == len(table):  # KwKwK self-reference
                    entry = prev + prev[:1]
                else:
                    raise PDFError("LZWDecode: code out of range")
                out += entry
                table.append(prev + entry[:1])
                if len(table) >= (1 << width) - early and width < 12:
                    width += 1
            prev = entry
    return bytes(out)


def _apply_predictor(data: bytes, parms: Any, doc: "PDFDocument") -> bytes:
    if not isinstance(parms, dict):
        return data
    pred = doc.resolve(parms.get("Predictor", 1)) or 1
    if pred <= 1:
        return data
    colors = int(doc.resolve(parms.get("Colors", 1)) or 1)
    bpc = int(doc.resolve(parms.get("BitsPerComponent", 8)) or 8)
    columns = int(doc.resolve(parms.get("Columns", 1)) or 1)
    bpp = max(1, colors * bpc // 8)
    rowlen = (columns * colors * bpc + 7) // 8
    if pred >= 10:  # PNG predictors: each row prefixed with a filter byte
        out = bytearray()
        prev = bytearray(rowlen)
        i = 0
        while i + 1 <= len(data):
            ft = data[i]
            row = bytearray(data[i + 1 : i + 1 + rowlen])
            i += 1 + rowlen
            if ft == 1:  # Sub
                for j in range(bpp, len(row)):
                    row[j] = (row[j] + row[j - bpp]) & 0xFF
            elif ft == 2:  # Up
                for j in range(len(row)):
                    row[j] = (row[j] + prev[j]) & 0xFF
            elif ft == 3:  # Average
                for j in range(len(row)):
                    left = row[j - bpp] if j >= bpp else 0
                    row[j] = (row[j] + ((left + prev[j]) >> 1)) & 0xFF
            elif ft == 4:  # Paeth
                for j in range(len(row)):
                    a = row[j - bpp] if j >= bpp else 0
                    b = prev[j]
                    c = prev[j - bpp] if j >= bpp else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    row[j] = (row[j] + pr) & 0xFF
            out += row
            prev = row
        return bytes(out)
    if pred == 2:  # TIFF horizontal differencing
        row_count = len(data) // rowlen
        out = bytearray(data)
        for r in range(row_count):
            base = r * rowlen
            for j in range(bpp, rowlen):
                out[base + j] = (out[base + j] + out[base + j - bpp]) & 0xFF
        return bytes(out)
    raise PDFError(f"unsupported predictor {pred}")


# -- lexer ---------------------------------------------------------------------
# One match of ``_TOKEN`` skips whitespace and comments and classifies the
# next token; arrays and dicts nest on an explicit stack.

_SKIP = rb"(?:" + WS + rb"|%[^\r\n]*)*+"  # a comment stops before its EOL
# a whole number token with no '.' and a value >= 0 (``-0`` too): the
# object number and the generation of an indirect reference
_REF_INT = rb"(?:\+?\d++|-0++)(?![\d.])"
_TOKEN = re.compile(
    _SKIP + rb"(?:(?P<ref>(?P<obj>" + _REF_INT + rb")" + _SKIP + rb"(?P<gen>"
    + _REF_INT + rb")" + _SKIP + rb"R(?!" + REGULAR + rb"))"
    rb"|(?P<num>" + NUM + rb")|(?P<badnum>[+.-])"
    rb"|(?P<name>/" + REGULAR + rb"*+)|(?P<dict><<)"
    rb"|(?P<hex><(?P<digits>[^>]*+)>)|(?P<badhex><)"
    rb"|(?P<lit>\()|(?P<array>\[)|(?P<close>\])"
    rb"|(?P<kw>" + REGULAR + rb"*+))"  # empty at EOF and at ) > { }
)
_KEY = re.compile(_SKIP + rb"(?:(>>)|/(" + REGULAR + rb"*+))")  # in a dict
_STREAM = re.compile(_SKIP + rb"stream(?:\r\n|[\r\n])?")
_SKIP_RE = re.compile(_SKIP)
_REGULAR_RUN = re.compile(REGULAR + rb"*+")
_NONHEX = re.compile(rb"[^" + HEX + rb"]")
_PLAIN_STRING = re.compile(rb"\(([^()\\]*+)\)")
_STRING_SPECIAL = re.compile(rb"[()\\]")
_OCTAL = re.compile(rb"[0-7]{1,3}")
_KEYWORDS = {b"true": True, b"false": False, b"null": None}
_ESCAPES = dict(zip(b"nrtbf()\\", b"\n\r\t\b\f()\\"))

# the most arrays and dicts open at once: a recursive descent parser (two
# frames a level) parses 499 under CPython's default recursion limit
MAX_NESTING = 499


class PDFNestingError(PDFError):
    """Nesting deeper than ``MAX_NESTING``; ``pos`` is the offset of the
    ``[`` or ``<<`` that opened one level too many."""

    def __init__(self, pos: int):
        super().__init__(f"objects nested deeper than {MAX_NESTING} at {pos}")
        self.pos = pos


def decode_number(tok: bytes) -> Any:
    return float(tok) if b"." in tok else int(tok)


def decode_hex(digits: bytes) -> bytes:
    """Non-hex bytes are dropped; an odd digit count gets a final 0."""
    hx = _NONHEX.sub(b"", digits)
    if len(hx) % 2:
        hx += b"0"
    return bytes.fromhex(hx.decode("ascii"))


def parse_name(buf: bytes, pos: int) -> Tuple[Name, int]:
    """The name whose text starts at ``pos``, just after its '/': (Name,
    end).  A '#' reads ``int(next two bytes, 16)`` whenever two bytes
    follow it, so it can swallow a delimiter: ``/A# 1`` is ``A\\x01``."""
    end = _REGULAR_RUN.match(buf, pos).end()
    out = bytearray()
    p = pos
    h = buf.find(b"#", p, end)
    while h >= 0:
        out += buf[p:h]
        p = h + 1
        try:
            if h + 2 >= len(buf):
                raise ValueError
            out.append(int(buf[h + 1 : h + 3], 16))
            p = h + 3
            end = max(end, _REGULAR_RUN.match(buf, p).end())
        except ValueError:
            out.append(0x23)
        h = buf.find(b"#", p, end)
    out += buf[p:end]
    return Name(out.decode("utf-8", "replace")), end


def literal_string(buf: bytes, pos: int) -> Tuple[bytes, int]:
    """The literal string whose '(' is at ``pos``: (bytes, end).  Steps
    from one '(', ')' or '\\' to the next, copying the runs between."""
    m = _PLAIN_STRING.match(buf, pos)
    if m is not None:
        return m.group(1), m.end()
    out = bytearray()
    depth = 1
    p = pos + 1
    while True:
        m = _STRING_SPECIAL.search(buf, p)
        if m is None:
            break
        s = m.start()
        out += buf[p:s]
        c = buf[s]
        p = s + 1
        if c == 0x28:  # (
            depth += 1
            out.append(c)
        elif c == 0x29:  # )
            depth -= 1
            if not depth:
                return bytes(out), p
            out.append(c)
        elif p == len(buf):  # a backslash ends the buffer
            break
        else:
            e = buf[p]
            p += 1
            if e in _ESCAPES:
                out.append(_ESCAPES[e])
            elif 0x30 <= e <= 0x37:  # up to 3 octal digits
                o = _OCTAL.match(buf, s + 1)
                out.append(int(o.group(), 8) & 0xFF)
                p = o.end()
            elif e == 13:  # line continuation: CR or CR LF
                if buf[p : p + 1] == b"\n":
                    p += 1
            elif e != 10:  # line continuation: LF; else the byte itself
                out.append(e)
    raise PDFError("unterminated literal string")


def parse_object(buf: bytes, pos: int = 0) -> Tuple[Any, int]:
    """The object at ``pos``, after any whitespace and comments: (object,
    end).  A dict followed by ``stream`` is the marker ``("__stream__",
    dict, data offset)``, which the caller resolves.  A ``PDFError``
    carries ``open_at``: the end offsets of the ``[`` and ``<<`` still
    open where the parse failed.  A parse from any of them fails the
    same way (a ``PDFNestingError`` aside), so a caller that resumes
    scanning need not try them again."""
    stack: List[Tuple[Any, Any, Any]] = []  # enclosing (container, key, at)
    cont: Any = None  # the innermost open list or dict
    key: Any = None  # the innermost dict's key awaiting its value
    at: Any = None  # the end offset of the innermost container's opener
    try:
        while True:
            if key is None and cont.__class__ is dict:
                m = _KEY.match(buf, pos)
                if m is None:
                    end = _SKIP_RE.match(buf, pos).end()
                    raise PDFError(f"dict key must be a name at {end}")
                pos = m.end()
                if m.lastindex == 2:
                    key, pos = parse_name(buf, m.start(2))
                    key = str(key)
                    continue
                obj = cont
                s = _STREAM.match(buf, pos)
                if s is not None:
                    pos = s.end()
                    obj = ("__stream__", cont, pos)
                cont, key, at = stack.pop()
            else:
                m = _TOKEN.match(buf, pos)
                g = m.lastgroup
                pos = m.end()
                if g == "num":
                    obj = decode_number(m.group(g))
                elif g == "name":
                    obj, pos = parse_name(buf, m.start(g) + 1)
                elif g == "ref":
                    obj = Ref(int(m.group("obj")), int(m.group("gen")))
                elif g == "dict" or g == "array":
                    if len(stack) >= MAX_NESTING:
                        raise PDFNestingError(m.start(g))
                    stack.append((cont, key, at))
                    cont, key, at = {} if g == "dict" else [], None, pos
                    continue
                elif g == "close":
                    if cont.__class__ is not list:
                        raise PDFError("unexpected ']'")
                    obj = cont
                    cont, key, at = stack.pop()
                elif g == "hex":
                    obj = decode_hex(m.group("digits"))
                elif g == "lit":
                    obj, pos = literal_string(buf, m.start(g))
                elif g == "kw":
                    obj = _KEYWORDS.get(m.group(g), PDFError)
                    if obj is PDFError:
                        kw = m.group(g)
                        if kw or pos < len(buf):
                            raise PDFError(f"unexpected keyword {kw!r} at {pos}")
                        if cont.__class__ is list:
                            raise PDFError("unterminated array")
                        raise PDFError("unexpected EOF while parsing object")
                elif g == "badnum":
                    raise PDFError(f"bad number at {m.start(g)}")
                else:
                    raise PDFError("unterminated hex string")
            if cont is None:
                return obj, pos
            if key is None:
                cont.append(obj)
            else:
                cont[key] = obj
                key = None
    except PDFError as e:
        e.open_at = [a for _, _, a in stack[1:]] + [at] if stack else []
        raise



class Lexer:
    """A cursor over a buffer: ``parse_object`` moves ``pos`` past the
    object it parses."""

    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes, pos: int = 0):
        self.buf = buf
        self.pos = pos

    def skip_ws(self) -> None:
        self.pos = _SKIP_RE.match(self.buf, self.pos).end()

    def parse_object(self) -> Any:
        obj, self.pos = parse_object(self.buf, self.pos)
        return obj

    def _parse_literal_string(self) -> bytes:
        s, self.pos = literal_string(self.buf, self.pos)
        return s


class PDFDocument:
    """Parsed PDF: xref map, object cache, trailer, page tree."""

    def __init__(self, data: bytes):
        if not data.startswith(b"%PDF-"):
            head = data.find(b"%PDF-", 0, 1024)
            if head < 0:
                raise PDFError("not a PDF (missing %PDF- header)")
            data = data[head:]
        self.data = data
        # xref: obj num → ("n", offset) | ("o", objstm_num, idx_in_stream)
        self.xref: Dict[int, Tuple] = {}
        self.trailer: Dict[str, Any] = {}
        self._cache: Dict[int, Any] = {}
        self._objstm_cache: Dict[int, Dict[int, Any]] = {}
        self._resolving: set = set()
        self.crypt = None  # StandardSecurityHandler when /Encrypt decryptable
        self._encrypt_num: Optional[int] = None
        try:
            self._load_xref()
        except PDFError:
            self.xref = {}
        if not self.xref or "Root" not in self.trailer:
            self._brute_force_scan()
        if "Root" not in self.trailer:
            raise PDFError("no /Root catalog found")
        self._setup_encryption()

    def _setup_encryption(self) -> None:
        """Empty-user-password standard-security recovery (crypt.py): most
        "encrypted" web PDFs are owner-password-only permission locks.
        Raises PDFEncryptedError (→ typed ``pdf_encrypted`` failure) when a
        real password or an unsupported scheme blocks decryption."""
        enc_ref = self.trailer.get("Encrypt")
        if enc_ref is None:
            return
        from pdf_ocr_spark.kernels.pdf.crypt import (
            PDFEncryptedError,
            StandardSecurityHandler,
        )

        if isinstance(enc_ref, Ref):
            self._encrypt_num = enc_ref.num
        enc = self.resolve(enc_ref)
        if not isinstance(enc, dict):
            raise PDFEncryptedError("malformed /Encrypt")
        ids = self.trailer.get("ID")
        id0 = b""
        if isinstance(ids, list) and ids:
            first = self.resolve(ids[0])
            if isinstance(first, bytes):
                id0 = first
        self.crypt = StandardSecurityHandler(enc, id0)
        # anything parsed before the handler existed is undecrypted
        self._cache.clear()
        self._objstm_cache.clear()

    def _decrypt_obj(self, obj: Any, num: int, gen: int) -> Any:
        """Recursively decrypt strings (and stream payloads) of one
        top-level object (§7.6.2: encryption applies per indirect object;
        ObjStm members inherit the container's decryption)."""
        c = self.crypt
        if isinstance(obj, bytes):
            return c.decrypt_string(obj, num, gen)
        if isinstance(obj, list):
            return [self._decrypt_obj(v, num, gen) for v in obj]
        if isinstance(obj, Stream):
            t = obj.dict.get("Type")
            if t is not None and str(t) == "XRef":
                return obj  # xref streams are never encrypted
            if (
                t is not None
                and str(t) == "Metadata"
                and not c.encrypt_metadata
            ):
                return obj
            return Stream(
                self._decrypt_obj(obj.dict, num, gen),
                c.decrypt_stream(obj.raw, num, gen),
            )
        if isinstance(obj, dict):
            return {k: self._decrypt_obj(v, num, gen) for k, v in obj.items()}
        return obj

    # -- xref loading ------------------------------------------------------

    def _load_xref(self) -> None:
        tail = self.data[-2048:]
        m = None
        for m in re.finditer(rb"startxref\s+(\d+)", tail):
            pass
        if m is None:
            raise PDFError("no startxref")
        offset = int(m.group(1))
        seen = set()
        while offset and offset not in seen and 0 <= offset < len(self.data):
            seen.add(offset)
            lex = Lexer(self.data, offset)
            lex.skip_ws()
            if self.data[lex.pos : lex.pos + 4] == b"xref":
                trailer = self._parse_xref_table(lex.pos + 4)
            else:
                trailer = self._parse_xref_stream(lex)
            if trailer is None:
                break
            if not self.trailer:
                self.trailer = dict(trailer)
            else:
                for k, v in trailer.items():
                    self.trailer.setdefault(k, v)
            # classic table may carry /XRefStm pointing at a hybrid stream
            if "XRefStm" in trailer:
                try:
                    self._parse_xref_stream(Lexer(self.data, int(trailer["XRefStm"])))
                except PDFError:
                    pass
            offset = trailer.get("Prev")
            offset = int(offset) if offset is not None else 0

    def _parse_xref_table(self, pos: int) -> Optional[Dict[str, Any]]:
        lex = Lexer(self.data, pos)
        while True:
            lex.skip_ws()
            if self.data[lex.pos : lex.pos + 7] == b"trailer":
                lex.pos += 7
                t = lex.parse_object()
                if not isinstance(t, dict):
                    raise PDFError("bad trailer")
                return t
            m = re.match(rb"(\d+)\s+(\d+)", self.data[lex.pos : lex.pos + 40])
            if not m:
                raise PDFError(f"bad xref subsection header at {lex.pos}")
            start, count = int(m.group(1)), int(m.group(2))
            lex.pos += m.end()
            for i in range(count):
                lex.skip_ws()
                em = re.match(
                    rb"(\d{10})\s(\d{5})\s([nf])", self.data[lex.pos : lex.pos + 20]
                )
                if not em:
                    raise PDFError(f"bad xref entry at {lex.pos}")
                if em.group(3) == b"n":
                    self.xref.setdefault(start + i, ("n", int(em.group(1))))
                lex.pos += em.end()

    def _parse_xref_stream(self, lex: Lexer) -> Optional[Dict[str, Any]]:
        m = _OBJ_HEADER_RE.match(self.data, lex.pos)
        if not m:
            raise PDFError("xref stream: no object header")
        lex.pos = m.end()
        obj = lex.parse_object()
        if not (isinstance(obj, tuple) and obj[0] == "__stream__"):
            raise PDFError("xref stream: not a stream")
        d, data_start = obj[1], obj[2]
        length = self.resolve(d.get("Length"))
        stream = Stream(d, self.data[data_start : data_start + int(length)])
        raw = stream.decode(self)
        w = [int(self.resolve(x)) for x in self.resolve(d.get("W", []))]
        if len(w) < 3:
            raise PDFError("xref stream: bad /W")
        size = int(self.resolve(d.get("Size", 0)))
        index = self.resolve(d.get("Index")) or [0, size]
        rowlen = sum(w)
        pos = 0
        for k in range(0, len(index), 2):
            start, count = int(index[k]), int(index[k + 1])
            for i in range(count):
                row = raw[pos : pos + rowlen]
                pos += rowlen
                if len(row) < rowlen:
                    break
                f = []
                o = 0
                for width in w:
                    f.append(int.from_bytes(row[o : o + width], "big") if width else None)
                    o += width
                typ = f[0] if w[0] else 1
                objnum = start + i
                if typ == 1:
                    self.xref.setdefault(objnum, ("n", f[1]))
                elif typ == 2:
                    self.xref.setdefault(objnum, ("o", f[1], f[2]))
        return d

    def _brute_force_scan(self) -> None:
        """Recover from broken/missing xref: scan for 'N G obj' headers."""
        for m in _OBJ_HEADER_RE.finditer(self.data):
            # require the header to start at a token boundary
            s = m.start()
            if s > 0 and self.data[s - 1] not in b"\x00\t\n\x0c\r ":
                continue
            self.xref[int(m.group(1))] = ("n", s)
        if "Root" not in self.trailer:
            mt = None
            for mt in re.finditer(rb"trailer", self.data):
                pass
            if mt is not None:
                try:
                    lex = Lexer(self.data, mt.end())
                    t = lex.parse_object()
                    if isinstance(t, dict):
                        for k, v in t.items():
                            self.trailer.setdefault(k, v)
                except PDFError:
                    pass
        if "Root" not in self.trailer:
            # find any object whose dict is /Type /Catalog
            for num in sorted(self.xref):
                try:
                    obj = self.get_object(num)
                except PDFError:
                    continue
                if isinstance(obj, dict) and obj.get("Type") == "Catalog":
                    self.trailer["Root"] = Ref(num, 0)
                    break

    # -- object access -----------------------------------------------------

    def resolve(self, obj: Any, depth: int = 0) -> Any:
        while isinstance(obj, Ref):
            if depth > 32:
                raise PDFError("reference cycle")
            obj = self.get_object(obj.num)
            depth += 1
        return obj

    def get_object(self, num: int) -> Any:
        if num in self._cache:
            return self._cache[num]
        if num in self._resolving:
            return None  # break cycles (e.g. Length → self)
        entry = self.xref.get(num)
        if entry is None:
            return None
        self._resolving.add(num)
        try:
            if entry[0] == "n":
                obj = self._parse_at(entry[1], num)
            else:
                obj = self._from_objstm(entry[1], entry[2], num)
        finally:
            self._resolving.discard(num)
        self._cache[num] = obj
        return obj

    def _parse_at(self, offset: int, expect_num: int) -> Any:
        if not (0 <= offset < len(self.data)):
            raise PDFError(f"xref offset {offset} out of range")
        m = _OBJ_HEADER_RE.match(self.data, offset)
        if not m:
            # tolerate off-by-a-little offsets
            window = self.data[max(0, offset - 32) : offset + 64]
            wm = _OBJ_HEADER_RE.search(window)
            if not wm or int(wm.group(1)) != expect_num:
                raise PDFError(f"no object header at {offset} for obj {expect_num}")
            m = _OBJ_HEADER_RE.match(self.data, max(0, offset - 32) + wm.start())
            if m is None:
                raise PDFError(f"no object header at {offset}")
        gen = int(m.group(2))
        lex = Lexer(self.data, m.end())
        obj = lex.parse_object()
        if isinstance(obj, tuple) and obj and obj[0] == "__stream__":
            d, data_start = obj[1], obj[2]
            length = self.resolve(d.get("Length"))
            if isinstance(length, (int, float)) and length >= 0:
                end = data_start + int(length)
                tail = self.data[end : end + 20]
                if b"endstream" not in tail:
                    end = self._find_endstream(data_start)
            else:
                end = self._find_endstream(data_start)
            obj = Stream(d, self.data[data_start:end])
        if self.crypt is not None and expect_num != self._encrypt_num:
            obj = self._decrypt_obj(obj, expect_num, gen)
        return obj

    def _find_endstream(self, start: int) -> int:
        idx = self.data.find(b"endstream", start)
        if idx < 0:
            raise PDFError("missing endstream")
        end = idx
        # strip the EOL that belongs to the marker, not the data
        if self.data[end - 2 : end] == b"\r\n":
            end -= 2
        elif end > 0 and self.data[end - 1] in (10, 13):
            end -= 1
        return end

    def _from_objstm(self, stm_num: int, idx: int, expect_num: int) -> Any:
        table = self._objstm_cache.get(stm_num)
        if table is None:
            stm = self.resolve(Ref(stm_num, 0))
            if not isinstance(stm, Stream):
                raise PDFError(f"object stream {stm_num} missing")
            raw = stm.decode(self)
            n = int(self.resolve(stm.dict.get("N", 0)))
            first = int(self.resolve(stm.dict.get("First", 0)))
            header = Lexer(raw, 0)
            pairs = []
            for _ in range(n):
                onum = header.parse_object()
                ooff = header.parse_object()
                pairs.append((int(onum), int(ooff)))
            table = {}
            for i, (onum, ooff) in enumerate(pairs):
                lex = Lexer(raw, first + ooff)
                try:
                    table[i] = (onum, lex.parse_object())
                except PDFError:
                    table[i] = (onum, None)
            self._objstm_cache[stm_num] = table
        got = table.get(idx)
        if got is None:
            # index mismatch: fall back to object-number lookup
            for _, (onum, obj) in table.items():
                if onum == expect_num:
                    return obj
            return None
        return got[1]

    # -- page tree ---------------------------------------------------------

    _INHERITABLE = ("Resources", "MediaBox", "CropBox", "Rotate")

    def pages(self) -> List[Dict[str, Any]]:
        """Walk /Root → /Pages, returning leaf page dicts with inherited
        attributes materialized (PDF 32000-1 §7.7.3.4)."""
        root = self.resolve(self.trailer.get("Root"))
        if not isinstance(root, dict):
            raise PDFError("bad /Root")
        top = self.resolve(root.get("Pages"))
        out: List[Dict[str, Any]] = []
        if not isinstance(top, dict):
            # some broken files point Root straight at a page
            if isinstance(root.get("Pages"), Ref):
                raise PDFError("bad /Pages")
            return out
        stack: List[Tuple[Any, Dict[str, Any], int]] = [(top, {}, 0)]
        seen: set = set()
        while stack and len(out) < 50_000:
            node, inherited, depth = stack.pop()
            if depth > 64:
                raise PDFError("page tree too deep")
            node = self.resolve(node)
            if not isinstance(node, dict):
                continue
            nid = id(node)
            if nid in seen:
                continue
            seen.add(nid)
            inh = dict(inherited)
            for k in self._INHERITABLE:
                if k in node:
                    inh[k] = node[k]
            if node.get("Type") == "Page" or ("Contents" in node and "Kids" not in node):
                page = dict(node)
                for k, v in inh.items():
                    page.setdefault(k, v)
                out.append(page)
            else:
                kids = self.resolve(node.get("Kids")) or []
                if isinstance(kids, list):
                    for kid in reversed(kids):
                        stack.append((kid, inh, depth + 1))
        return out

    def page_content(self, page: Dict[str, Any]) -> bytes:
        """Concatenate a page's content stream(s) into one buffer."""
        contents = self.resolve(page.get("Contents"))
        parts: List[bytes] = []
        if isinstance(contents, Stream):
            parts.append(contents.decode(self))
        elif isinstance(contents, list):
            for c in contents:
                c = self.resolve(c)
                if isinstance(c, Stream):
                    parts.append(c.decode(self))
        return b"\n".join(parts)
