"""``layout.build_lines`` equals the decorated-sort algorithm it replaced.

``build_lines`` skips the per-glyph ``round`` and the per-line sort
where emission order provably equals the ``(round(x, 2), seq)`` order,
and falls back per line or per page where it does not.  The oracle below
is the earlier algorithm, kept verbatim; generated glyph sets aim at
every fallback: non-monotone x, repeated or shuffled seq, x on both
sides of a 2-decimal rounding boundary, baselines within the line
tolerance but in different rounded buckets, and non-finite values."""

from typing import List, Tuple

from hypothesis import given, settings, strategies as st

from pdf_ocr_spark.kernels.pdf.content import Glyph
from pdf_ocr_spark.kernels.pdf.layout import Line, _median, build_lines


def oracle_build_lines(glyphs, page_h):
    vis = [g for g in glyphs if g.text]
    if not vis:
        return []
    med_size = _median([g.size for g in vis if g.size > 0], 10.0)
    tol = max(1.2, 0.4 * med_size)
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
    out: List[Line] = []
    for triples in lines:
        triples.sort()
        group = [t[2] for t in triples]
        sizes = [g.size for g in group if g.size > 0]
        gsize = _median(sizes, med_size)
        split_gap = max(2.2 * gsize, 14.0)
        segments: List[List[Glyph]] = [[group[0]]]
        prev_end = group[0].x + group[0].adv
        for g in group[1:]:
            if g.x - prev_end > split_gap:
                segments.append([g])
            else:
                segments[-1].append(g)
            end = g.x + g.adv
            if end > prev_end:
                prev_end = end
        for seg in segments:
            parts: List[str] = []
            prev_end = None
            word_gap = 0.28 * (gsize if gsize > 1.0 else 1.0)
            for g in seg:
                if prev_end is not None:
                    gap = g.x - prev_end
                    if gap > word_gap and parts and not parts[-1].endswith(" "):
                        prev_ch = parts[-1][-1]
                        if prev_ch.isascii() and g.text[:1].isascii():
                            parts.append(" ")
                parts.append(g.text)
                prev_end = g.x + g.adv
            text = "".join(parts).strip()
            if not text:
                continue
            x0 = min(g.x for g in seg)
            x1 = max(g.x + g.adv for g in seg)
            yts = [page_h - g.y for g in seg]
            base = _median(yts, 0.0)
            out.append(Line(text, x0, base - gsize, x1, base, gsize))
    return out


def _same(glyphs, page_h):
    got = build_lines(glyphs, page_h)
    want = oracle_build_lines(glyphs, page_h)
    # repr: NaN coordinates compare unequal to themselves
    assert repr(got) == repr(want), (glyphs, page_h)


_NAN, _INF = float("nan"), float("inf")
_TEXT = st.sampled_from(["a", "b", "W", " ", "", "中", "-", "é", "ab"])
_X = st.one_of(
    st.sampled_from([0.0, 10.0, 10.004999999999999, 10.005, 10.0049, 10.0051,
                     10.015, 10.025, 20.5, 56.0, 63.0, 70.0, 336.0, 400.0]),
    st.floats(-50, 700, allow_nan=False),
)
_Y = st.one_of(
    st.sampled_from([700.0, 700.004, 700.005, 700.0049999999999, 700.006,
                     699.995, 699.4, 698.0, 690.0, 680.5, 0.0, -0.0]),
    st.floats(0, 792, allow_nan=False),
)
_ADV = st.sampled_from([0.0, 0.001, 5.0, 7.0, 20.0])
_SIZE = st.sampled_from([0.0, 3.0, 10.0, 12.0, 14.0])


@st.composite
def _glyph_sets(draw):
    n = draw(st.integers(0, 40))
    raw = draw(st.lists(st.tuples(_TEXT, _X, _Y, _ADV, _SIZE), min_size=n, max_size=n))
    mode = draw(st.sampled_from(["increasing", "repeats", "shuffled", "gaps"]))
    if mode == "increasing":
        seqs = list(range(n))
    elif mode == "gaps":
        seqs = sorted(draw(st.sets(st.integers(0, 500), min_size=n, max_size=n)))
    elif mode == "repeats":
        seqs = sorted(draw(st.lists(st.integers(0, 6), min_size=n, max_size=n)))
    else:
        seqs = draw(st.permutations(list(range(n))))
    return [Glyph(t, x, y, a, s, "F1", q) for (t, x, y, a, s), q in zip(raw, seqs)]


@settings(max_examples=600, deadline=None, derandomize=True)
@given(_glyph_sets(), st.sampled_from([792.0, 612.0, 0.0, 700.0049]))
def test_build_lines_equals_the_decorated_sort(glyphs, page_h):
    _same(glyphs, page_h)


@st.composite
def _text_lines(draw):
    """Lines as a producer emits them: per baseline, glyphs left to
    right at a fixed pitch, some baselines jittered within the line
    tolerance, columns emitted one after the other."""
    glyphs = []
    seq = 0
    for col_x in draw(st.lists(st.sampled_from([56.0, 336.0, 60.0]), min_size=1, max_size=2)):
        for row in range(draw(st.integers(1, 6))):
            y = 700.0 - 22.0 * row + draw(st.sampled_from([0.0, 0.004, 0.006, -0.3, 0.5]))
            pitch = draw(st.sampled_from([7.0, 7.005, 0.004, 14.0]))
            for i in range(draw(st.integers(1, 25))):
                text = draw(st.sampled_from(["a", "b", " ", "中"]))
                glyphs.append(Glyph(text, col_x + i * pitch, y, pitch, 14.0, "F1", seq))
                seq += 1
    return glyphs


@settings(max_examples=300, deadline=None, derandomize=True)
@given(_text_lines())
def test_build_lines_equals_the_decorated_sort_on_text_lines(glyphs):
    _same(glyphs, 792.0)


def test_build_lines_edges():
    g = lambda t, x, y, seq, adv=5.0, size=12.0: Glyph(t, x, y, adv, size, "F", seq)  # noqa: E731
    cases = [
        # x straddling a rounding boundary, emitted out of x order
        [g("a", 10.005, 700.0, 0), g("b", 10.004999999999999, 700.0, 1)],
        [g("a", 10.0049, 700.0, 0), g("b", 10.0041, 700.0, 1), g("c", 10.0, 700.0, 2)],
        # baselines within tol in different rounded buckets
        [g("a", 10.0, 700.004, 0), g("b", 5.0, 700.006, 1), g("c", 20.0, 700.004, 2)],
        # two baselines rounding alike, interleaving by x
        [g("a", 30.0, 700.0041, 0), g("b", 10.0, 700.0049, 1), g("c", 20.0, 700.0041, 2)],
        # repeated and decreasing seq
        [g("a", 10.0, 700.0, 3), g("b", 10.0, 700.0, 3), g("c", 5.0, 700.0, 1)],
        # a repeated seq on one spot: the decorated sort orders by glyph
        [g("b", 10.0, 700.0, 3), g("a", 10.0, 700.0, 3)],
        # baselines rounding alike: the line's anchor is the baseline of
        # its leftmost glyph, and the next baseline sits right at tol
        [g("a", 10.0, 691.996, 0), g("b", 30.0, 691.9999, 1), g("c", 50.0, 687.198, 2)],
        # non-finite coordinates
        [g("a", _NAN, 700.0, 0), g("b", 10.0, 700.0, 1)],
        [g("a", 3.0, 699.0, 0), g("b", 5.0, 700.0, 1), g("c", 3.0, 700.0, 2),
         g("d", _NAN, 700.0, 3)],
        [g("a", 10.0, _INF, 0), g("b", 10.0, 700.0, 1), g("c", 10.0, -_INF, 2)],
        [g("a", _INF, 700.0, 0), g("b", -_INF, 700.0, 1), g("c", 3.0, 700.0, 2)],
        [g("a", 10.0, _NAN, 0), g("b", 12.0, _NAN, 1)],
        # ±0.0 baselines on a zero-height page
        [g("a", 1.0, 0.0, 0), g("b", 2.0, -0.0, 1)],
    ]
    for glyphs in cases:
        for page_h in (792.0, 0.0):
            _same(glyphs, page_h)
