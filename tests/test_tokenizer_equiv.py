"""Equivalence fuzz for the content-stream tokenizer's fused fast
paths.

``_tokenize_content`` special-cases the dominant per-glyph token
sequences — a run of ``<hex> Tj tx ty Td/TD`` glyph steps, and ``tx ty
Td/TD`` alone — as fused regex alternatives (one match + dispatch
each).  A missed edge there would
silently reorder/drop operands and corrupt extracted text, so this
module pins the fused tokenizer against REFERENCE_TOKENIZE, a slow,
obviously-correct reimplementation of the general one-token-at-a-time
grammar (the pre-fusion behavior), on both hypothesis-generated op soup
and the real corpus' content streams."""

import re
import zlib

from hypothesis import given, settings, strategies as st

from pdf_ocr_spark.kernels.pdf.content import _GLYPH_RUN, _tokenize_content
from pdf_ocr_spark.kernels.pdf.cos import Lexer, Name, PDFError

# -- reference implementation (general grammar only, no fused paths) --------

_REF_TOK = re.compile(
    rb"""(?P<num>[+-]?(?:\d+(?:\.\d*)?|\.\d+))
       | (?P<name>/[^\x00\t\n\x0c\r /<>()\[\]{}%]*)
       | (?P<ddict><<)
       | (?P<hex><[^>]*>?)
       | (?P<open>\[)
       | (?P<close>\])
       | (?P<lit>\()
       | (?P<op>[A-Za-z'"][A-Za-z0-9*'"]*)
       | (?P<comment>%[^\r\n]*)
    """,
    re.X,
)
_REF_NONHEX = re.compile(rb"[^0-9A-Fa-f]")
_REF_INLINE_ID = re.compile(rb"(?<![A-Za-z0-9])ID[\x00\t\n\x0c\r ]")
_WS = frozenset(b"\x00\t\n\x0c\r ")


def _ref_skip_inline_image(data, pos):
    n = len(data)
    idx = pos
    while True:
        idx = data.find(b"EI", idx)
        if idx < 0:
            return n
        before = data[idx - 1 : idx]
        after = data[idx + 2 : idx + 3]
        if (not before or before in b"\x00\t\n\x0c\r ") and (
            not after or after in b"\x00\t\n\x0c\r /[<("
        ):
            return idx + 2
        idx += 2


def reference_tokenize(data):
    """Token-at-a-time tokenizer with the pre-fusion general grammar;
    must yield exactly what the fused production tokenizer yields."""
    lex = Lexer(data, 0)
    n = len(data)
    pos = 0
    operands = []
    cur = operands
    stack = []
    while pos < n:
        m = _REF_TOK.search(data, pos)
        if m is None:
            break
        g = m.lastgroup
        if g == "comment":
            pos = m.end()
            continue
        if g == "num":
            tok = m.group()
            cur.append(float(tok) if b"." in tok else int(tok))
            pos = m.end()
        elif g == "op":
            op = m.group()
            pos = m.end()
            if op == b"BI":
                end = _ref_skip_inline_image(data, pos)
                id_m = _REF_INLINE_ID.search(data, pos, end)
                if id_m is not None and end - 2 > id_m.end():
                    pend = end - 2
                    if pend > id_m.end() and data[pend - 1] in _WS:
                        pend -= 1
                    yield [
                        data[pos : id_m.start()],
                        data[id_m.end() : pend],
                    ], b"__inline_image__"
                pos = end
                operands = []
                cur = operands
                stack = []
                continue
            if op in (b"true", b"false", b"null"):
                cur.append(op == b"true")
                continue
            if stack:
                stack = []
                cur = operands
            yield list(operands), op
            operands = []
            cur = operands
        elif g == "name":
            tok = m.group()[1:]
            if b"#" in tok:
                lex.pos = m.start()
                try:
                    cur.append(lex.parse_object())
                    pos = lex.pos
                except PDFError:
                    pos = m.end()
            else:
                cur.append(Name(tok.decode("utf-8", "replace")))
                pos = m.end()
        elif g == "hex":
            body = m.group()
            raw = body[1:-1] if body.endswith(b">") else body[1:]
            hx = _REF_NONHEX.sub(b"", raw)
            if len(hx) % 2:
                hx += b"0"
            cur.append(bytes.fromhex(hx.decode("ascii")))
            pos = m.end()
        elif g == "open":
            new = []
            cur.append(new)
            stack.append(cur)
            cur = new
            pos = m.end()
        elif g == "close":
            cur = stack.pop() if stack else operands
            pos = m.end()
        elif g == "lit":
            lex.pos = m.start()
            try:
                cur.append(lex._parse_literal_string())
                pos = lex.pos
            except PDFError:
                pos = m.start() + 1
                operands = []
                cur = operands
                stack = []
        else:  # ddict
            lex.pos = m.start()
            try:
                cur.append(lex.parse_object())
                pos = lex.pos
            except PDFError:
                pos = m.end()


def _expand_fused(toks):
    """Expand the glyph-run tokens back into the unfused (Tj, Td/TD)
    pairs they are defined to be equivalent to: any stray leading
    operands go to the first Tj, then each step is its show string for
    the Tj and its two numbers for the Td/TD — exactly how ``_execute``
    consumes them."""
    out = []
    for o, op in toks:
        if op == _GLYPH_RUN:
            stray = o[:-1]
            for hb, tx, ty, is_td in o[-1]:
                out.append((stray + [hb], b"Tj"))
                out.append(([tx, ty], b"TD" if is_td else b"Td"))
                stray = []
        else:
            out.append((o, op))
    return out


def _both(data):
    got = _expand_fused(
        [(list(o), op) for o, op in _tokenize_content(data)]
    )
    ref = [(list(o), op) for o, op in reference_tokenize(data)]
    return got, ref


# -- targeted shapes around the fused fast paths -----------------------------

_EDGES = [
    b"<0041>Tj",
    b"<0041> Tj",
    b"<0041>\nTj",
    b"<>Tj",                      # empty hex show
    b"<0041>Tjx",                 # op boundary: must NOT fuse
    b"<0g41>Tj",                  # dirty hex: general path
    b"<0041",                     # unterminated hex at EOF
    b"12.5 0 TD",
    b"1 2 Td",
    b"1 2 TDx",                   # boundary: must NOT fuse
    b"1 2 3 TD",                  # extra operand before the fused pair
    b"(a) 1 2 Td",                # string operand then fused pair
    b"[<41> 1 2 Td",              # fused pair inside unterminated array
    b"[<41>Tj",                   # fused show inside unterminated array
    b"2 3.5 .7 TD",
    b"-1 -2 Td",
    b"+1.5 +0 TD",
    b"1 2Td",                     # no ws before op: general num+num+op
    b"1. .5 Td",                  # trailing-dot / leading-dot numbers
    b"<41><42>Tj",                # two hex, fused fires on the second
    b"% <41>Tj\n1 2 Td",          # fused shapes inside a comment
    b"BI /W 1 ID \x00\x01 EI <41>Tj",  # inline image then fused show
    b"BT /F1 12 Tf <0041>Tj 5 0 TD <0042>Tj ET",
    # whole-glyph-step fusion (<hex> Tj tx ty Td/TD as ONE token)
    b"<0041>Tj 5 0 TD",
    b"<0041> Tj -1.5 .5 Td",
    b"(a) <41> Tj 5 0 Td",        # stray operand rides ahead of the triple
    b"1 2 <41> Tj 5 0 TD",        # stray numbers ahead of the triple
    b"[<41> Tj 5 0 Td",           # inside unterminated array: must unfuse
    b"[(x) <41> Tj 5 0 TD",       # array + string, then the glyph step
    b"<41> Tj 5 0",               # no trailing op: the general path
    b"<41> Tj 5 0 TDx",           # op boundary: must NOT fuse the triple
    b"<41>Tj 5 0 TD <42>Tj 6 0 TD <43>Tj",  # a run of fused glyph steps
]


def test_fused_fast_path_edges():
    for s in _EDGES:
        got, ref = _both(s)
        assert got == ref, f"mismatch on {s!r}:\n{got}\nvs\n{ref}"


# -- hypothesis: random op soup ----------------------------------------------

_ATOMS = st.sampled_from(
    [b"<0041>", b"<>", b"<0g>", b"Tj", b"TD", b"Td", b"TJ", b"Tm", b"BT",
     b"ET", b"[", b"]", b"(lit)", b"(", b")", b"/F1", b"/", b"12", b"-3.5",
     b".5", b"1.", b"0", b"%c\n", b"<<", b">>", b"q", b"Q", b"'", b'"',
     b"true", b"null", b"cm", b"re", b"BI", b"ID", b"EI", b"Do", b"#41"]
)


@settings(max_examples=300, deadline=2000, derandomize=True)
@given(st.lists(_ATOMS, min_size=0, max_size=40),
       st.sampled_from([b" ", b"", b"\n", b"\t", b"  "]))
def test_tokenizer_equivalence_random_soup(atoms, sep):
    data = sep.join(atoms)
    got, ref = _both(data)
    assert got == ref


@settings(max_examples=120, deadline=2000, derandomize=True)
@given(st.binary(min_size=0, max_size=300))
def test_tokenizer_equivalence_random_bytes(data):
    got, ref = _both(data)
    assert got == ref


# -- real corpus content streams ---------------------------------------------

def test_tokenizer_equivalence_corpus_streams():
    """Every content stream the synthetic corpus produces (glyph-CID,
    literal-string, scan, table PDFs) tokenizes identically."""
    from pdf_ocr_spark.fixtures.genpages import gen_rows

    n_streams = 0
    for r in gen_rows(60):
        data = bytes(r["html"])
        if data[:5] != b"%PDF-":
            continue
        # pull every FlateDecode stream body and try it as content
        for sm in re.finditer(rb"stream\r?\n", data):
            start = sm.end()
            end = data.find(b"endstream", start)
            if end < 0:
                continue
            body = data[start:end]
            try:
                body = zlib.decompress(body)
            except zlib.error:
                pass
            got, ref = _both(body)
            assert got == ref
            n_streams += 1
    assert n_streams > 50  # the corpus really exercises the tokenizer
