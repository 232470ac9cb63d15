"""The content interpreter's fused fast paths equal its general path.

``_tokenize_content`` fuses a run of ``<hex> Tj tx ty Td/TD`` glyph
steps into one token that ``_execute`` shows in one branch, and ``tx ty
Td/TD`` alone into one token.  A ``%c`` comment between every two
tokens defeats both, so the same stream with
comments runs token by token through the general grammar and ``_show``.
Both must give the same glyphs (seq included), ``n_text_ops`` and
flow-direction votes — also when a run starts inside an unterminated
array, follows stray operands, crosses ``MAX_GLYPHS`` or meets a font
whose decode raises part-way through a show."""

from unittest import mock

from hypothesis import given, settings, strategies as st

from pdf_ocr_spark.fixtures import genpages
from pdf_ocr_spark.kernels.pdf.content import (
    _GLYPH_RUN,
    ContentInterpreter,
    _tokenize_content,
    interpret_page,
)
from pdf_ocr_spark.kernels.pdf.cos import PDFDocument, PDFError
from pdf_ocr_spark.kernels.pdf.fonts import Font

_CHARSET = list("abc xyz")  # CIDs 0x0100.. in sorted order
_POISON = b"\x01\xff"       # a CID whose decode fails after one glyph


def _pdf(content: bytes) -> bytes:
    w = genpages._PdfWriter()
    f1, _ = genpages._build_cid_font(w, sorted(_CHARSET))
    f2 = w.add(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    catalog = w.reserve()
    pages = w.reserve()
    c = w.add_stream(b"", content, compress=False)
    page = w.add(
        b"<< /Type /Page /Parent %d 0 R /Contents %d 0 R /MediaBox [0 0 612 792]"
        b" /Resources << /Font << /F1 %d 0 R /F2 %d 0 R >> >> >>"
        % (pages, c, f1, f2)
    )
    w.fill(catalog, b"<< /Type /Catalog /Pages %d 0 R >>" % pages)
    w.fill(pages, b"<< /Type /Pages /Kids [%d 0 R] /Count 1 >>" % page)
    return w.build(catalog)


_real_decode = Font.decode


def _decode_failing_part_way(self, raw):
    out = _real_decode(self, raw)
    if _POISON not in raw:
        return out

    def partial():
        yield from out[:1]
        raise PDFError("undecodable glyph")

    return partial()


def _interpret(tokens, sep: bytes, max_glyphs: int):
    content = sep.join(tokens)
    doc = PDFDocument(_pdf(content))
    with mock.patch.object(Font, "decode", _decode_failing_part_way), \
            mock.patch.object(ContentInterpreter, "MAX_GLYPHS", max_glyphs):
        res = interpret_page(doc, doc.pages()[0])
    return res.glyphs, res.n_text_ops, res.rot_votes


def _assert_fused_equals_general(tokens, sep=b" ", max_glyphs=500_000):
    fused = _interpret(tokens, sep, max_glyphs)
    general = _interpret(tokens, b" %c\n", max_glyphs)
    assert fused == general, (b" ".join(tokens), max_glyphs)
    return fused


# -- generated streams ---------------------------------------------------------

_HEX = st.sampled_from(
    [b"<0100>", b"<0101>", b"<0103>", b"<0106>", b"<01000102>", b"<010001FF>",
     b"<01FF>", b"<>", b"<010>", b"<41>", b"<20>", b"<6120>"]
)
_NUM = st.sampled_from([b"0", b"140.00", b"-22", b".5", b"3.", b"280", b"-0.7"])
_TD = st.sampled_from([b"TD", b"Td"])
_STEP = st.tuples(_HEX, _NUM, _NUM, _TD).map(lambda s: [s[0], b"Tj", *s[1:]])
_ITEMS = st.one_of(
    st.lists(_STEP, min_size=1, max_size=6).map(lambda ss: [t for s in ss for t in s]),
    st.tuples(_HEX).map(lambda h: [h[0], b"Tj"]),
    st.tuples(_NUM, _NUM, _TD).map(list),
    st.sampled_from([
        [b"["], [b"]"], [b"7"], [b"(s)"], [b"/N"], [b"[", b"(x)"],
        [b"/F1", b"280", b"Tf"], [b"/F1", b"0", b"Tf"], [b"/F2", b"10", b"Tf"],
        [b"/F9", b"10", b"Tf"], [b"2", b"Tc"], [b"3", b"Tw"], [b"80", b"Tz"],
        [b"14", b"TL"], [b"T*"], [b"1", b"Ts"], [b"q"], [b"Q"],
        [b"0.05", b"0", b"0", b"-0.05", b"56", b"60", b"Tm"],
        [b"0", b"0.05", b"-0.05", b"0", b"300", b"100", b"Tm"],
        [b"1", b"0", b"0", b"-1", b"0", b"792", b"cm"], [b"BT"], [b"ET"],
        [b"[", b"<0101>", b"-250", b"<0102>", b"]", b"TJ"], [b"(ab c)", b"Tj"],
    ]),
)
_PROLOGUE = [b"BT", b"/F1", b"280", b"Tf",
             b"0.05", b"0", b"0", b"-0.05", b"56", b"60", b"Tm"]


@settings(max_examples=400, deadline=None, derandomize=True)
@given(st.lists(_ITEMS, min_size=1, max_size=14),
       st.sampled_from([b" ", b"\n", b"\t "]),
       st.sampled_from([2, 5, 9, 500_000]))
def test_fused_paths_equal_the_general_path(items, sep, max_glyphs):
    tokens = _PROLOGUE + [t for item in items for t in item]
    _assert_fused_equals_general(tokens, sep, max_glyphs)


# -- the edges, each pinned -----------------------------------------------------


def _steps(*cids, op=b"TD"):
    return [t for c in cids for t in (b"<%04X>" % c, b"Tj", b"140.00", b"0", op)]


def test_run_token_fires_on_glyph_steps():
    ops = [op for _, op in _tokenize_content(b" ".join(_steps(0x100, 0x101)))]
    assert ops == [_GLYPH_RUN]


def test_run_edges():
    run = _steps(0x100, 0x101, 0x102, 0x103)
    cases = {
        "plain run": run,
        "Td run": _steps(0x100, 0x101, op=b"Td"),
        "stray operands": [b"7", b"(s)", b"/N"] + run,
        "unterminated array": [b"["] + run,
        "array with a string": [b"[", b"(x)"] + run,
        "one-step run in an array": [b"["] + _steps(0x100),
        "lone show then run": [b"<0105>", b"Tj"] + run,
        "failing decode mid-run": _steps(0x100) + [b"<010001FF>", b"Tj", b"9", b"0",
                                                   b"TD"] + _steps(0x101, 0x102),
        "no font": [b"/F9", b"10", b"Tf"] + run,
        "zero size": [b"/F1", b"0", b"Tf"] + run,
        "simple font word spacing": [b"/F2", b"10", b"Tf", b"3", b"Tw",
                                     b"<6120>", b"Tj", b"5", b"0", b"TD",
                                     b"<20>", b"Tj", b"5", b"0", b"TD"],
    }
    for name, body in cases.items():
        for max_glyphs in (1, 2, 3, 500_000):
            glyphs, n_ops, _ = _assert_fused_equals_general(
                _PROLOGUE + body, max_glyphs=max_glyphs
            )
            if name == "plain run" and max_glyphs == 500_000:
                assert len(glyphs) == 4 and n_ops == 4
            if name == "plain run" and max_glyphs == 2:
                assert len(glyphs) == 2, name
    glyphs, _, votes = _assert_fused_equals_general(_PROLOGUE + cases["failing decode mid-run"])
    # the failing show keeps its first glyph but not its seq or vote
    assert [g.seq for g in glyphs] == [0, 1, 1, 2]
    assert sum(votes) == 3
