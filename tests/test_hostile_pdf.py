"""Hostile content streams cost linear time and keep the rest of the page.

Four shapes used to stall a task or blank a page:

* an unterminated literal string followed by many '(' bytes: every
  later '(' rescanned to the end of the stream, so the cost grew with
  the square of the stream;
* arrays and dicts nested deeper than the Python stack allows: the
  recursive parse raised ``RecursionError``, which escaped the content
  tokenizer and came back as a page with empty text;
* dicts that fail to parse below the nesting cap: every dict still open
  at the failure was parsed again from its own '<<';
* a long whitespace run: the tokenizer tried every token alternative at
  each whitespace byte.

Literal strings after an unterminated one are judged on its paren depths
(checked against the reference tokenizer of test_tokenizer_equiv.py);
nesting is capped at ``cos.MAX_NESTING`` and the tokenizer resumes after
the levels already parsed."""

import time

from hypothesis import given, settings, strategies as st

from pdf_ocr_spark.fixtures import genpages
from pdf_ocr_spark.kernels.pdf.content import _tokenize_content
from pdf_ocr_spark.kernels.pdf.cos import MAX_NESTING, Lexer, Name, PDFError
from pdf_ocr_spark.kernels.pdf.extract import extract_pdf
from test_tokenizer_equiv import _both

_HELLO = b"BT /F1 12 Tf 72 720 Td (Hello world) Tj ET\n"
_X = b"\nBT /F1 12 Tf 72 600 Td (x) Tj ET"


def _pdf(content: bytes) -> bytes:
    w = genpages._PdfWriter()
    font = w.add(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    catalog = w.reserve()
    pages = w.reserve()
    c = w.add_stream(b"", content)
    page = w.add(
        b"<< /Type /Page /Parent %d 0 R /Contents %d 0 R /MediaBox [0 0 612 792]"
        b" /Resources << /Font << /F1 %d 0 R >> >> >>" % (pages, c, font)
    )
    w.fill(catalog, b"<< /Type /Catalog /Pages %d 0 R >>" % pages)
    w.fill(pages, b"<< /Type /Pages /Kids [%d 0 R] /Count 1 >>" % page)
    return w.build(catalog)


def _cpu(fn, *args):
    t0 = time.process_time()
    out = fn(*args)
    return out, time.process_time() - t0


def _text(content: bytes):
    doc, cpu = _cpu(extract_pdf, _pdf(content))
    assert doc.status == "ok", doc
    return " ".join(p.text for p in doc.pages), cpu


# -- an unterminated literal string ------------------------------------------------


def test_unterminated_string_keeps_the_page_in_linear_time():
    text, cpu = _text(_HELLO + b"BT " + b"(" * 16_000 + _X)
    assert "Hello world" in text
    assert text.split()[-1] == "x"  # a string after the parens still closes
    assert cpu <= 2.0


def test_64k_open_parens_tokenize_in_linear_time():
    toks, cpu = _cpu(list, _tokenize_content(b"BT " + b"(" * 65_536))
    assert toks == [([], b"BT")]
    assert cpu <= 2.0


_PAREN_ATOMS = st.sampled_from([
    b"(", b")", b"\\\\", b"\\(", b"\\)", b"\\101", b"\\\r\n", b"x", b"Tj",
    b" ", b"<41>", b"%c\n", b"1 2 Td",
])


@settings(max_examples=400, deadline=None, derandomize=True)
@given(st.lists(_PAREN_ATOMS, max_size=40))
def test_parens_and_escapes_equal_the_reference_tokenizer(atoms):
    got, ref = _both(b"".join(atoms))
    assert got == ref


# -- deep nesting --------------------------------------------------------------------


def test_nesting_is_capped_with_a_pdf_error():
    assert Lexer(b"[" * MAX_NESTING + b"]" * MAX_NESTING).parse_object()
    for src in (b"[" * 3000, b"[" * (MAX_NESTING + 1), b"<< /A " * 3000):
        try:
            Lexer(src).parse_object()
        except PDFError as e:
            assert str(e).startswith(f"objects nested deeper than {MAX_NESTING} at ")
        else:
            raise AssertionError(src[:20])


def test_deep_property_dict_keeps_the_page():
    deep = b"/P " + b"<< /A " * 3000 + b"1" + b" >>" * 3000 + b" BDC EMC"
    text, cpu = _text(_HELLO + deep + _X)
    assert text.split() == ["Hello", "world", "x"]
    assert cpu <= 2.0


def test_a_megabyte_of_nested_dicts_tokenizes_in_linear_time():
    data = b"<< /A " * ((1 << 20) // 6)
    toks, cpu = _cpu(list, _tokenize_content(data))
    assert toks == []
    assert cpu <= 2.0
    text, cpu = _text(_HELLO + data + _X)
    assert text.split() == ["Hello", "world", "x"]
    assert cpu <= 2.0


def _tokens(data: bytes):
    return [(list(o), op) for o, op in _tokenize_content(data)]


def test_dicts_open_at_a_failed_parse_are_not_parsed_again():
    """A block of dicts nested 498 deep (under the cap) that a ']' breaks:
    a parse from any dict still open at the failure fails the same way,
    so each is tried once, not once per enclosing '<<'.  16 blocks took
    7.1 s and now take a linear pass, with the same tokens."""
    block = b"<< /A " * 498 + b"] "
    toks, cpu = _cpu(_tokens, block * 16 + b" 1 0 0 RG")
    assert toks == [([Name("A")] * (498 * 16) + [1, 0, 0], b"RG")]
    assert cpu <= 0.5
    got, ref = _both(block * 2 + b" 1 0 0 RG")
    assert got == ref


def test_16mb_of_whitespace_tokenizes_in_linear_time():
    """Whitespace is skipped in one regex step before the token, also
    when what follows it starts no token (a lone sign) or is the end.
    Each stream holds 16 MB of whitespace."""
    ws = b" \n\t\r\x00\x0c" * ((16 << 20) // 6)
    half = ws[: len(ws) // 2]
    for data, want in (
        (b"BT (x) Tj" + ws + b"ET", [([], b"BT"), ([b"x"], b"Tj"), ([], b"ET")]),
        (b"(x) Tj" + half + b"+" + half + b"1 w", [([b"x"], b"Tj"), ([1], b"w")]),
        (b"(x) Tj" + ws, [([b"x"], b"Tj")]),
    ):
        toks, cpu = _cpu(_tokens, data)
        assert toks == want
        assert cpu <= 0.5
