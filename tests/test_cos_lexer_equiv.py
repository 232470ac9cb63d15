"""The regex COS lexer equals the per-byte lexer it replaced.

``cos.Lexer`` scans with one compiled token regex and parses arrays and
dicts on an explicit stack.  ``Lexer`` below is the per-byte recursive
lexer it replaced, kept verbatim as the oracle.  From every start offset
of a hypothesis soup of COS atoms, and at every ``N G obj`` body of the
benchmark and fixture PDFs, both must return an equal value of the same
type and stop at the same ``pos``, or raise ``PDFError`` with the same
message (byte positions included: they reach ``failure_reason``).
``skip_ws`` must stop at the same offset.  Inputs on which the oracle
hits Python's recursion limit are out of scope: the new lexer caps the
nesting at ``cos.MAX_NESTING`` instead (tested in test_hostile_pdf.py).
"""

import os
import re
import sys
from typing import Any, Dict, List

from hypothesis import given, settings, strategies as st

from pdf_ocr_spark.fixtures.genpages import CORPORA
from pdf_ocr_spark.kernels.pdf import cos
from pdf_ocr_spark.kernels.pdf.cos import Name, PDFError, Ref

WHITESPACE = b"\x00\t\n\x0c\r "
DELIMITERS = b"()<>[]{}/%"
_END_TOKEN = WHITESPACE + DELIMITERS

_NUM_RE = re.compile(rb"[+-]?(?:\d+\.?\d*|\.\d+)")


# -- the oracle: the per-byte lexer, verbatim ---------------------------------

class Lexer:
    """Tokenizer / object parser over a bytes buffer."""

    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes, pos: int = 0):
        self.buf = buf
        self.pos = pos

    # -- low-level ---------------------------------------------------------

    def skip_ws(self) -> None:
        buf, n = self.buf, len(self.buf)
        while self.pos < n:
            c = buf[self.pos]
            if c in WHITESPACE:
                self.pos += 1
            elif c == 0x25:  # '%' comment → to end of line
                while self.pos < n and buf[self.pos] not in (10, 13):
                    self.pos += 1
            else:
                return

    def peek(self) -> int:
        return self.buf[self.pos] if self.pos < len(self.buf) else -1

    def read_keyword(self) -> bytes:
        start = self.pos
        buf, n = self.buf, len(self.buf)
        while self.pos < n and buf[self.pos] not in _END_TOKEN:
            self.pos += 1
        return buf[start : self.pos]

    # -- object parsing ----------------------------------------------------

    def parse_object(self) -> Any:
        """Parse the next COS object at the current position."""
        self.skip_ws()
        c = self.peek()
        if c < 0:
            raise PDFError("unexpected EOF while parsing object")
        ch = bytes((c,))
        if ch == b"<":
            if self.buf[self.pos : self.pos + 2] == b"<<":
                return self._parse_dict_or_stream()
            return self._parse_hex_string()
        if ch == b"(":
            return self._parse_literal_string()
        if ch == b"/":
            return self._parse_name()
        if ch == b"[":
            return self._parse_array()
        if ch == b"]":
            raise PDFError("unexpected ']'")
        if ch.isdigit() or ch in (b"+", b"-", b"."):
            return self._parse_number_or_ref()
        kw = self.read_keyword()
        if kw == b"true":
            return True
        if kw == b"false":
            return False
        if kw == b"null":
            return None
        raise PDFError(f"unexpected keyword {kw!r} at {self.pos}")

    def _parse_number_or_ref(self) -> Any:
        m = _NUM_RE.match(self.buf, self.pos)
        if not m:
            raise PDFError(f"bad number at {self.pos}")
        self.pos = m.end()
        tok = m.group()
        if b"." in tok:
            return float(tok)
        num = int(tok)
        # lookahead for "<num> <gen> R"
        save = self.pos
        self.skip_ws()
        m2 = _NUM_RE.match(self.buf, self.pos)
        if m2 and b"." not in m2.group() and int(m2.group()) >= 0 and num >= 0:
            p2 = m2.end()
            lex2 = Lexer(self.buf, p2)
            lex2.skip_ws()
            if lex2.peek() == 0x52:  # 'R'
                after = lex2.pos + 1
                if after >= len(self.buf) or self.buf[after] in _END_TOKEN:
                    self.pos = after
                    return Ref(num, int(m2.group()))
        self.pos = save
        return num

    def _parse_name(self) -> Name:
        assert self.buf[self.pos] == 0x2F
        self.pos += 1
        start = self.pos
        buf, n = self.buf, len(self.buf)
        out = bytearray()
        while self.pos < n:
            c = buf[self.pos]
            if c in _END_TOKEN:
                break
            if c == 0x23 and self.pos + 2 < n:  # '#xx' escape
                try:
                    out.append(int(buf[self.pos + 1 : self.pos + 3], 16))
                    self.pos += 3
                    continue
                except ValueError:
                    pass
            out.append(c)
            self.pos += 1
        if not out and start == self.pos:
            return Name("")
        return Name(out.decode("utf-8", "replace"))

    def _parse_literal_string(self) -> bytes:
        assert self.buf[self.pos] == 0x28
        self.pos += 1
        buf, n = self.buf, len(self.buf)
        out = bytearray()
        depth = 1
        while self.pos < n:
            c = buf[self.pos]
            if c == 0x5C:  # backslash escape
                self.pos += 1
                if self.pos >= n:
                    break
                e = buf[self.pos]
                if e == 0x6E:
                    out.append(10)
                elif e == 0x72:
                    out.append(13)
                elif e == 0x74:
                    out.append(9)
                elif e == 0x62:
                    out.append(8)
                elif e == 0x66:
                    out.append(12)
                elif e in (0x28, 0x29, 0x5C):
                    out.append(e)
                elif 0x30 <= e <= 0x37:  # octal, up to 3 digits
                    oct_digits = bytes((e,))
                    for _ in range(2):
                        if (
                            self.pos + 1 < n
                            and 0x30 <= buf[self.pos + 1] <= 0x37
                        ):
                            self.pos += 1
                            oct_digits += bytes((buf[self.pos],))
                        else:
                            break
                    out.append(int(oct_digits, 8) & 0xFF)
                elif e in (10, 13):  # line continuation
                    if e == 13 and self.pos + 1 < n and buf[self.pos + 1] == 10:
                        self.pos += 1
                else:
                    out.append(e)
                self.pos += 1
            elif c == 0x28:
                depth += 1
                out.append(c)
                self.pos += 1
            elif c == 0x29:
                depth -= 1
                self.pos += 1
                if depth == 0:
                    return bytes(out)
                out.append(c)
            else:
                out.append(c)
                self.pos += 1
        raise PDFError("unterminated literal string")

    def _parse_hex_string(self) -> bytes:
        assert self.buf[self.pos] == 0x3C
        self.pos += 1
        end = self.buf.find(b">", self.pos)
        if end < 0:
            raise PDFError("unterminated hex string")
        hexstr = re.sub(rb"[^0-9A-Fa-f]", b"", self.buf[self.pos : end])
        self.pos = end + 1
        if len(hexstr) % 2:
            hexstr += b"0"
        return bytes.fromhex(hexstr.decode("ascii"))

    def _parse_array(self) -> List[Any]:
        assert self.buf[self.pos] == 0x5B
        self.pos += 1
        out: List[Any] = []
        while True:
            self.skip_ws()
            if self.peek() == 0x5D:
                self.pos += 1
                return out
            if self.peek() < 0:
                raise PDFError("unterminated array")
            out.append(self.parse_object())

    def _parse_dict_or_stream(self) -> Any:
        assert self.buf[self.pos : self.pos + 2] == b"<<"
        self.pos += 2
        d: Dict[str, Any] = {}
        while True:
            self.skip_ws()
            if self.buf[self.pos : self.pos + 2] == b">>":
                self.pos += 2
                break
            if self.peek() != 0x2F:
                raise PDFError(f"dict key must be a name at {self.pos}")
            key = self._parse_name()
            val = self.parse_object()
            d[str(key)] = val
        # stream?
        save = self.pos
        self.skip_ws()
        if self.buf[self.pos : self.pos + 6] == b"stream":
            self.pos += 6
            if self.buf[self.pos : self.pos + 2] == b"\r\n":
                self.pos += 2
            elif self.pos < len(self.buf) and self.buf[self.pos] in (10, 13):
                self.pos += 1
            return ("__stream__", d, self.pos)  # resolved by caller with doc
        self.pos = save
        return d


# -- comparison -----------------------------------------------------------------


def _typed(v: Any) -> Any:
    """A value with every type spelled out: Name vs str, int vs float,
    Ref vs tuple, bool vs int."""
    if type(v) is list:
        return ["list"] + [_typed(x) for x in v]
    if type(v) is dict:
        return ["dict"] + [(type(k).__name__, k, _typed(x)) for k, x in v.items()]
    if type(v) is tuple:
        return ["tuple"] + [_typed(x) for x in v]
    return (type(v).__name__, v)


def _outcome(lexer: type, buf: bytes, pos: int) -> Any:
    lex = lexer(buf, pos)
    try:
        v = lex.parse_object()
    except PDFError as e:
        return ("raises", str(e))
    except RecursionError:
        return None
    return ("returns", _typed(v), lex.pos)


def _skip_end(lexer: type, buf: bytes, pos: int) -> int:
    lex = lexer(buf, pos)
    lex.skip_ws()
    return lex.pos


def _assert_same(buf: bytes, starts=None) -> None:
    for pos in range(len(buf) + 1) if starts is None else starts:
        want = _outcome(Lexer, buf, pos)
        if want is not None:
            assert _outcome(cos.Lexer, buf, pos) == want, (buf, pos)
        assert _skip_end(cos.Lexer, buf, pos) == _skip_end(Lexer, buf, pos), (buf, pos)


# -- (a) a soup of COS atoms, parsed from every start offset --------------------

_NUMBERS = [b"+2", b"-0", b"+0", b"1.", b".5", b"3.14", b"0", b"12", b"-3",
            b"007", b"+", b"-", b"."]
_ESCAPES = [b"\\n", b"\\r", b"\\t", b"\\b", b"\\f", b"\\(", b"\\)", b"\\\\",
            b"\\7", b"\\12", b"\\101", b"\\1234", b"\\8", b"\\\n", b"\\\r",
            b"\\\r\n", b"\\q", b"\\"]
_ATOMS = st.one_of(
    st.sampled_from(_NUMBERS + _ESCAPES + [
        b"R", b"R/",
        # names
        b"/Type", b"/", b"/A#20B", b"/#4", b"/A# 1", b"/#zz", b"/#-1", b"/A#",
        b"#", b"#41",
        # literal strings
        b"(", b")", b"(x)", b"(a (b) c)",
        # hex strings
        b"<41 42>", b"<414>", b"<41", b"<zz>", b"<>",
        # delimiters
        b"<<", b">>", b"[", b"]", b"{", b"}", b">",
        # comments
        b"%c\n", b"%c\r", b"%", b"%%(\n",
        # streams
        b"stream\r\n", b"stream\n", b"stream\r", b"stream", b"streamx",
        # keywords and junk
        b"true", b"false", b"null", b"nul", b"xyz", b"obj", b"\xff",
    ]),
    # "<n> <g> R" from any two numbers
    st.tuples(st.sampled_from(_NUMBERS), st.sampled_from(_NUMBERS)).map(
        lambda t: t[0] + b" " + t[1] + b" R"),
    # a literal string of escapes, text and parens
    st.lists(st.sampled_from(_ESCAPES + [b"a", b"(", b")", b"\r\n", b"7"]),
             max_size=6).map(lambda ps: b"(" + b"".join(ps) + b")"),
)
_SEPS = st.sampled_from([b" ", b"", b"\n", b"\r\n", b"\t", b"\x00", b"%c\n"])


@settings(max_examples=600, deadline=None, derandomize=True)
@given(st.lists(_ATOMS, max_size=24), _SEPS)
def test_atom_soup_from_every_offset(atoms, sep):
    _assert_same(sep.join(atoms))


@settings(max_examples=300, deadline=None, derandomize=True)
@given(st.lists(st.one_of(_ATOMS, st.binary(max_size=4)), max_size=24),
       st.lists(_SEPS, min_size=1, max_size=4))
def test_atom_soup_with_random_bytes(atoms, seps):
    _assert_same(b"".join(a + seps[i % len(seps)] for i, a in enumerate(atoms)))


@settings(max_examples=200, deadline=None, derandomize=True)
@given(st.binary(max_size=120))
def test_random_bytes_from_every_offset(data):
    _assert_same(data)


def test_pinned_quirks():
    for buf in (
        b"/A# 1",            # a '#' escape reads across the space
        b"/A#4",             # too close to EOF: no escape
        b"-0 0 R", b"0 -0 R", b"1 +0 R",  # a -0 or +0 generation is a ref
        b"-3 0 R",           # a negative object number is not
        b"1 %c\n0 %d\rR",    # comments inside a ref
        b"<</A 1>> %c\nstream\r\nx",  # stream after a comment
        b"(\\1234)", b"(a\\\r\nb)", b"(\\",
        b"[1 2 R]", b"[1 2 Rx]", b"<< /A >>", b"<< 1 >>", b"[" * 40 + b"]" * 39,
    ):
        _assert_same(buf)


# -- (b) every N G obj body of the benchmark and fixture PDFs --------------------


def _pdfs() -> List[bytes]:
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "perfbench"))
    try:
        from inputs import mixed_rows
    finally:
        sys.path.pop(0)
    rows: List[Dict[str, Any]] = []
    for seed in (1, 2, 3):
        rows += mixed_rows(600, seed)
    for build in CORPORA.values():
        rows += build()
    out = {}
    for r in rows:
        for v in r.values():
            if isinstance(v, bytes) and v[:5] == b"%PDF-":
                out[v] = None
    return list(out)


def test_every_object_body_of_the_corpora():
    n_objects = 0
    for pdf in _pdfs():
        starts = [m.end() for m in cos._OBJ_HEADER_RE.finditer(pdf)]
        _assert_same(pdf, starts)
        n_objects += len(starts)
    assert n_objects > 10_000
