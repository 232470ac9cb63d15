"""From-scratch JBIG2 codec (kernels/pdf/jbig2.py): generic-region
template-0 arithmetic coding with TPGDON, MMR (T.6) regions, symbol
dictionaries + text regions (the coding real scanned text uses),
embedded-PDF segment framing, lossless round-trips,
truncation/corruption fuzz, and the JBIG2Decode scan branch through
the extraction pipeline (reference behavior: real pixmaps rendered and
OCRed whatever codec the PDF carries,
/root/reference/pdf_ocr_with_boxes_v2.py:200-247)."""

import random

import numpy as np
import pandas as pd
import pytest

from pdf_ocr_spark.kernels.pdf.jbig2 import (
    JBIG2Error,
    decode_bilevel,
    encode_bilevel,
    encode_bilevel_mmr,
    encode_symbol_page,
)


def _rand_glyph(w, h, seed):
    rng = np.random.RandomState(seed)
    return (w, h, (rng.randint(0, 2, size=w * h) * 255)
            .astype(np.uint8).tobytes())


def _expected_or(width, height, symbols, instances):
    exp = np.zeros((height, width), dtype=np.uint8)
    for sid, x, y in instances:
        w, h, luma = symbols[sid]
        g = np.frombuffer(luma, dtype=np.uint8).reshape(h, w) < 128
        exp[y:y + h, x:x + w] |= g.astype(np.uint8)
    return np.where(exp, 0, 255).astype(np.uint8).tobytes()


class TestRoundTrip:
    @pytest.mark.parametrize("w,h", [(1, 1), (7, 3), (64, 64), (33, 47),
                                     (128, 20), (256, 8)])
    def test_random_bilevel(self, w, h):
        rng = np.random.RandomState(w * 100 + h)
        luma = (rng.randint(0, 2, size=w * h) * 255).astype(np.uint8).tobytes()
        assert decode_bilevel(encode_bilevel(w, h, luma)) == (w, h, luma)

    def test_all_white_and_all_black(self):
        for fill in (0, 255):
            luma = bytes([fill]) * (40 * 30)
            assert decode_bilevel(encode_bilevel(40, 30, luma)) == (40, 30, luma)

    def test_grayscale_thresholds_at_128(self):
        luma = bytes([0, 127, 128, 255])
        w, h, out = decode_bilevel(encode_bilevel(4, 1, luma))
        assert out == bytes([0, 0, 255, 255])

    def test_typical_rows_compress(self):
        """TPGDON: a tall repeated-row image codes in almost no bytes."""
        row = (b"\x00" * 32 + b"\xff" * 32)
        tall = row * 256
        data = encode_bilevel(64, 256, tall)
        assert len(data) < 200
        assert decode_bilevel(data) == (64, 256, tall)

    def test_marker_image_round_trip(self):
        from pdf_ocr_spark.kernels.pixelcode import pixels_to_text, text_to_pixels

        w, h, px = text_to_pixels("jbig2 codec\npixel marker")
        w2, h2, out = decode_bilevel(encode_bilevel(w, h, px))
        assert (w2, h2, out) == (w, h, px)
        assert pixels_to_text(w2, h2, out) == "jbig2 codec\npixel marker"


class TestMMR:
    @pytest.mark.parametrize("w,h", [(1, 1), (17, 9), (64, 64), (96, 40)])
    def test_random_round_trip(self, w, h):
        rng = np.random.RandomState(w * 7 + h)
        luma = (rng.randint(0, 2, size=w * h) * 255).astype(np.uint8).tobytes()
        assert decode_bilevel(encode_bilevel_mmr(w, h, luma)) == (w, h, luma)

    def test_matches_generic_pixels(self):
        from pdf_ocr_spark.kernels.pixelcode import text_to_pixels

        w, h, px = text_to_pixels("mmr region\nT.6 body")
        assert decode_bilevel(encode_bilevel_mmr(w, h, px)) == \
            decode_bilevel(encode_bilevel(w, h, px))

    def test_truncated_mmr_raises(self):
        luma = bytes(32 * 32)
        data = encode_bilevel_mmr(32, 32, luma)
        with pytest.raises(JBIG2Error):
            decode_bilevel(data[: len(data) - 12])


class TestSymbolText:
    """Symbol dictionary (§6.5) + text region (§6.4) coding."""

    SYMS = [_rand_glyph(8, 8, 1), _rand_glyph(16, 8, 2),
            _rand_glyph(5, 11, 3), _rand_glyph(7, 11, 4)]
    INSTS = [(0, 0, 0), (1, 10, 0), (0, 30, 2), (2, 50, 5), (3, 60, 1),
             (1, 3, 20), (2, 40, 25), (0, 70, 30), (3, 20, 36)]

    @pytest.mark.parametrize("refcorner", [0, 1, 2, 3])
    @pytest.mark.parametrize("logsbstrips", [0, 1, 2])
    def test_round_trip_all_corners_and_strips(self, refcorner, logsbstrips):
        """The decoded page is identical whatever REFCORNER / SBSTRIPS
        the encoder transmits — multiple height classes, negative-delta
        widths, and IAIT T-offsets all exercised."""
        exp = _expected_or(96, 48, self.SYMS, self.INSTS)
        data = encode_symbol_page(96, 48, self.SYMS, self.INSTS,
                                  refcorner=refcorner,
                                  logsbstrips=logsbstrips)
        assert decode_bilevel(data) == (96, 48, exp)

    def test_single_symbol_dictionary(self):
        syms = [_rand_glyph(6, 6, 9)]
        insts = [(0, 0, 0), (0, 10, 10), (0, 20, 3)]
        exp = _expected_or(32, 20, syms, insts)
        assert decode_bilevel(encode_symbol_page(32, 20, syms, insts)) == \
            (32, 20, exp)

    def test_unused_symbols_still_decode(self):
        """Dictionary exports glyphs the text region never places."""
        insts = [(0, 0, 0), (0, 16, 0)]
        exp = _expected_or(40, 16, self.SYMS, insts)
        assert decode_bilevel(
            encode_symbol_page(40, 16, self.SYMS, insts)) == (40, 16, exp)

    def test_overlapping_instances_or_compose(self):
        insts = [(1, 4, 4), (1, 8, 4), (0, 6, 6)]
        exp = _expected_or(40, 24, self.SYMS, insts)
        assert decode_bilevel(
            encode_symbol_page(40, 24, self.SYMS, insts)) == (40, 24, exp)

    def test_marker_text_through_symbols(self):
        from pdf_ocr_spark.fixtures.genpages import _marker_to_symbol_page
        from pdf_ocr_spark.kernels.pixelcode import pixels_to_text, \
            text_to_pixels

        text = "jbig2 symbol fixture\nsecond line"
        w, h, px = text_to_pixels(text)
        w2, h2, out = decode_bilevel(_marker_to_symbol_page(w, h, px))
        assert (w2, h2, out) == (w, h, px)
        assert pixels_to_text(w2, h2, out) == text

    def test_symbol_stream_beats_generic_on_text(self):
        """The whole point of symbol coding: repeated glyphs compress
        better than generic-region coding the same page."""
        from pdf_ocr_spark.fixtures.genpages import _marker_to_symbol_page
        from pdf_ocr_spark.kernels.pixelcode import text_to_pixels

        w, h, px = text_to_pixels("symbol coding wins " * 8)
        assert len(_marker_to_symbol_page(w, h, px)) < \
            len(encode_bilevel(w, h, px))

    def test_rejects_bad_inputs(self):
        with pytest.raises(JBIG2Error):
            encode_symbol_page(16, 16, [], [])
        with pytest.raises(JBIG2Error):
            encode_symbol_page(16, 16, self.SYMS, [(99, 0, 0)])
        with pytest.raises(JBIG2Error):
            encode_symbol_page(16, 16, self.SYMS, [(0, 99, 0)])
        with pytest.raises(JBIG2Error):
            encode_symbol_page(16, 16, [(4, 4, b"xy")], [])
        with pytest.raises(JBIG2Error):
            encode_symbol_page(16, 16, self.SYMS, [], refcorner=7)

    def test_symbol_fuzz_truncation_and_flips(self):
        data = encode_symbol_page(96, 48, self.SYMS, self.INSTS)
        rng = random.Random(41)
        for _ in range(150):
            cut = rng.randrange(1, len(data))
            try:
                decode_bilevel(data[:cut])
            except JBIG2Error:
                pass
        for _ in range(150):
            b = bytearray(data)
            b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
            try:
                decode_bilevel(bytes(b))
            except JBIG2Error:
                pass   # wrong pixels are fine; other exceptions are not


class TestHuffman:
    """SDHUFF/SBHUFF=1 coding (§6.5.9 / §7.4.4.5): Annex B standard
    tables, collective bitmaps (uncompressed + MMR), runcode symbol-ID
    tables, and equality with the arithmetic coder's decoded pages."""

    SYMS = TestSymbolText.SYMS
    INSTS = TestSymbolText.INSTS

    def test_standard_tables_build_and_roundtrip_every_line(self):
        from pdf_ocr_spark.kernels.pdf.jbig2 import (
            _BitReader, _BitWriter, _std_table)

        for n in range(1, 16):
            t = _std_table(n)
            vals = []
            for ln in t.lines:
                if ln[0] == "n":
                    vals += [ln[3], ln[3] + (1 << ln[2]) - 1]
                elif ln[0] == "u":
                    vals += [ln[2], ln[2] + 12345]
                elif ln[0] == "l":
                    vals += [ln[2], ln[2] - 9999]
                else:
                    vals.append(None)
            w = _BitWriter()
            for v in vals:
                t.encode(w, v)
            r = _BitReader(w.bytes())
            assert [t.decode(r) for _ in vals] == vals, f"table B.{n}"

    def test_rangelow_chains_are_contiguous(self):
        """Structural cross-check of the transcribed Annex B tables:
        within each table the normal lines tile the value axis with no
        gap (low_{i+1} = low_i + 2^rangelen_i) and the lower/upper
        range lines continue the tiling outward."""
        from pdf_ocr_spark.kernels.pdf.jbig2 import _STD_TABLES

        for n, lines in _STD_TABLES.items():
            norm = sorted((ln for ln in lines if ln[0] == "n"),
                          key=lambda ln: ln[3])
            for a, b in zip(norm, norm[1:]):
                assert a[3] + (1 << a[2]) == b[3], f"B.{n} gap at {b[3]}"
            lowers = [ln for ln in lines if ln[0] == "l"]
            uppers = [ln for ln in lines if ln[0] == "u"]
            if lowers:
                assert lowers[0][2] == norm[0][3] - 1, f"B.{n} lower"
            if uppers:
                last = norm[-1]
                assert uppers[0][2] == last[3] + (1 << last[2]), f"B.{n} upper"

    @pytest.mark.parametrize("mmr", [False, True])
    @pytest.mark.parametrize("refcorner", [0, 1, 2, 3])
    @pytest.mark.parametrize("logsbstrips", [0, 1, 2])
    def test_decodes_identical_to_arithmetic(self, mmr, refcorner,
                                             logsbstrips):
        from pdf_ocr_spark.kernels.pdf.jbig2 import encode_symbol_page_huffman

        exp = _expected_or(96, 48, self.SYMS, self.INSTS)
        data = encode_symbol_page_huffman(
            96, 48, self.SYMS, self.INSTS, refcorner=refcorner,
            logsbstrips=logsbstrips, mmr=mmr)
        assert decode_bilevel(data) == (96, 48, exp)

    def test_huffman_marker_text(self):
        from pdf_ocr_spark.kernels.pdf.jbig2 import encode_symbol_page_huffman
        from pdf_ocr_spark.kernels.pixelcode import pixels_to_text, \
            text_to_pixels

        text = "huffman jbig2\nsymbol fixture"
        w, h, px = text_to_pixels(text)
        syms = [(w, h, px)]
        data = encode_symbol_page_huffman(w, h, syms, [(0, 0, 0)])
        w2, h2, out = decode_bilevel(data)
        assert (w2, h2, out) == (w, h, px)
        assert pixels_to_text(w2, h2, out) == text

    def test_runcode_repeats(self):
        """Runcodes 32 (repeat prev), 33 and 34 (zero runs) through the
        symbol-ID length decoder (§7.4.4.5)."""
        from pdf_ocr_spark.kernels.pdf.jbig2 import (
            _BitReader, _BitWriter, _HuffTable, _read_sym_id_lengths,
            _sym_id_table)

        runlens = [0] * 35
        for idx in (0, 3, 32, 33, 34):
            runlens[idx] = 3
        runtab = _HuffTable(tuple(
            ("n", plen, 0, i) for i, plen in enumerate(runlens)))
        w = _BitWriter()
        for v in runlens:
            w.write(v, 4)
        codes = {ln[3]: runtab.encode_map[i]
                 for i, ln in enumerate(runtab.lines) if ln[1] > 0}

        def emit(sym):
            plen, code = codes[sym]
            w.write(code, plen)

        emit(3)                  # literal 3          -> [3]
        emit(32); w.write(1, 2)  # repeat prev 3+1=4x -> [3,3,3,3]
        emit(33); w.write(0, 3)  # 3 zeros
        emit(0)                  # literal 0
        emit(34); w.write(0, 7)  # 11 zeros
        r = _BitReader(w.bytes())
        lengths = _read_sym_id_lengths(r, 20)
        assert lengths == [3] * 5 + [0] * 15
        symtab = _sym_id_table(lengths)
        w2 = _BitWriter()
        w2.write(symtab.encode_map[2][1], symtab.encode_map[2][0])
        assert symtab.decode(_BitReader(w2.bytes())) == 2

    def test_transposed_decodes_identical(self):
        """TRANSPOSED=1 (vertical text columns, §6.4.5): the same
        instances transmitted with swapped S/T axes decode to the
        identical page for every corner, strip height, and coding."""
        from pdf_ocr_spark.kernels.pdf.jbig2 import encode_symbol_page_huffman

        exp = _expected_or(96, 48, self.SYMS, self.INSTS)
        for rc in (0, 1, 2, 3):
            for ls in (0, 1, 2):
                a = encode_symbol_page(96, 48, self.SYMS, self.INSTS,
                                       refcorner=rc, logsbstrips=ls,
                                       transposed=True)
                assert decode_bilevel(a) == (96, 48, exp), ("arith", rc, ls)
                h = encode_symbol_page_huffman(
                    96, 48, self.SYMS, self.INSTS, refcorner=rc,
                    logsbstrips=ls, transposed=True)
                assert decode_bilevel(h) == (96, 48, exp), ("huff", rc, ls)

    def test_transposed_fuzz(self):
        from pdf_ocr_spark.kernels.pdf.jbig2 import encode_symbol_page_huffman

        for maker in (
            lambda: encode_symbol_page(96, 48, self.SYMS, self.INSTS,
                                       transposed=True),
            lambda: encode_symbol_page_huffman(96, 48, self.SYMS,
                                               self.INSTS, transposed=True),
        ):
            data = maker()
            rng = random.Random(97)
            for _ in range(100):
                cut = rng.randrange(1, len(data))
                try:
                    decode_bilevel(data[:cut])
                except JBIG2Error:
                    pass
            for _ in range(100):
                b = bytearray(data)
                b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
                try:
                    decode_bilevel(bytes(b))
                except JBIG2Error:
                    pass

    def test_custom_code_table_segment(self):
        """Custom Huffman table (segment type 53, selector 3): a text
        region coded with a referred custom DT table decodes identical
        to the standard-table page; the parsed table round-trips the
        encoder mirror; a region whose selector is 3 without a referred
        table segment fails loudly."""
        from pdf_ocr_spark.kernels.pdf import jbig2
        from pdf_ocr_spark.kernels.pdf.jbig2 import (
            _HuffTable, _SEG_END_OF_PAGE, _SEG_PAGE_INFO, _SEG_SYMBOL_DICT,
            _SEG_TABLES, _SEG_TEXT_IMMEDIATE_LOSSLESS,
            _encode_symbol_dict_body_huffman,
            _encode_text_region_body_huffman, _page_info,
            _parse_table_segment, _segment, encode_table_segment_body)

        lines = (("n", 2, 0, 1), ("n", 2, 0, 2), ("n", 2, 1, 3),
                 ("n", 3, 2, 5), ("l", 4, 0), ("u", 4, 9))
        tab = _HuffTable(lines)
        tbody = encode_table_segment_body(lines, htps=3, htrs=3)
        assert _parse_table_segment(tbody).lines == tab.lines

        syms = [(w, h, bytearray(1 if b < 128 else 0 for b in luma))
                for w, h, luma in self.SYMS]
        order = sorted(range(len(syms)),
                       key=lambda i: (syms[i][1], syms[i][0], i))
        remap = {o: n for n, o in enumerate(order)}
        sorted_syms = [syms[i] for i in order]
        insts = [(remap[s], x, y) for s, x, y in self.INSTS]
        dict_body = _encode_symbol_dict_body_huffman(sorted_syms, mmr=False)
        text_body = _encode_text_region_body_huffman(
            96, 48, sorted_syms, insts, 1, 0, dt_custom=tab)
        data = (_segment(0, _SEG_PAGE_INFO, 1, _page_info(96, 48))
                + _segment(1, _SEG_SYMBOL_DICT, 1, dict_body)
                + _segment(2, _SEG_TABLES, 1, tbody)
                + _segment(3, _SEG_TEXT_IMMEDIATE_LOSSLESS, 1, text_body,
                           refs=(1, 2))
                + _segment(4, _SEG_END_OF_PAGE, 1, b""))
        exp = _expected_or(96, 48, self.SYMS, self.INSTS)
        assert decode_bilevel(data) == (96, 48, exp)
        # same region WITHOUT the table segment referred: loud error
        missing = (_segment(0, _SEG_PAGE_INFO, 1, _page_info(96, 48))
                   + _segment(1, _SEG_SYMBOL_DICT, 1, dict_body)
                   + _segment(2, _SEG_TEXT_IMMEDIATE_LOSSLESS, 1,
                              text_body, refs=(1,))
                   + _segment(3, _SEG_END_OF_PAGE, 1, b""))
        with pytest.raises(JBIG2Error):
            decode_bilevel(missing)

    def test_jbig2globals_shared_dictionary(self):
        """The PDF /JBIG2Globals layout: symbol dictionary in a shared
        globals stream, page stream referring to it — decodes identical
        to the single-stream encoding; without the globals the text
        region must fail loudly (no symbols), not crash."""
        from pdf_ocr_spark.kernels.pdf.jbig2 import (
            encode_symbol_page_globals)

        exp = _expected_or(96, 48, self.SYMS, self.INSTS)
        glob, page = encode_symbol_page_globals(96, 48, self.SYMS,
                                                self.INSTS)
        assert decode_bilevel(page, globals_data=glob) == (96, 48, exp)
        with pytest.raises(JBIG2Error):
            decode_bilevel(page)
        # globals truncation fuzz: must raise, never crash
        rng = random.Random(131)
        for _ in range(60):
            cut = rng.randrange(1, len(glob))
            try:
                decode_bilevel(page, globals_data=glob[:cut])
            except JBIG2Error:
                pass

    def test_rejects_unsorted_height_classes(self):
        from pdf_ocr_spark.kernels.pdf.jbig2 import (
            _encode_symbol_dict_body_huffman)

        syms = [(4, 8, bytearray(32)), (4, 4, bytearray(16))]
        with pytest.raises(JBIG2Error):
            _encode_symbol_dict_body_huffman(syms, mmr=False)

    def test_rejects_custom_table_selectors(self):
        from pdf_ocr_spark.kernels.pdf.jbig2 import encode_symbol_page_huffman

        data = encode_symbol_page_huffman(40, 16, self.SYMS[:1], [(0, 0, 0)])
        # symbol dict body starts after page-info segment (11+19 bytes)
        # and its own 11-byte header; flip the SDHUFFDH selector to 3
        idx = data.index(b"\x00\x01", 30)    # SDHUFF=1 flags u16
        b = bytearray(data)
        b[idx + 1] |= 0x0C                   # DH selector -> 3 (custom)
        with pytest.raises(JBIG2Error):
            decode_bilevel(bytes(b))

    def test_huffman_fuzz_truncation_and_flips(self):
        from pdf_ocr_spark.kernels.pdf.jbig2 import encode_symbol_page_huffman

        for mmr in (False, True):
            data = encode_symbol_page_huffman(
                96, 48, self.SYMS, self.INSTS, mmr=mmr)
            rng = random.Random(59 + mmr)
            for _ in range(150):
                cut = rng.randrange(1, len(data))
                try:
                    decode_bilevel(data[:cut])
                except JBIG2Error:
                    pass
            for _ in range(150):
                b = bytearray(data)
                b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
                try:
                    decode_bilevel(bytes(b))
                except JBIG2Error:
                    pass   # wrong pixels fine; other exceptions are not


class TestRefinement:
    """Generic refinement coding (§6.3): the refinement bitmap coder,
    REFAGG=1 symbol dictionaries (single-instance refinement of known
    symbols), and REFINE=1 text-region instances."""

    def test_refinement_coder_round_trips(self):
        from pdf_ocr_spark.kernels.pdf.jbig2 import (
            MQDecoder, MQEncoder, _Ctx, _GRR_NOMINAL_AT,
            _decode_refinement_bitmap, _encode_refinement_bitmap)

        rng = random.Random(3)
        for template in (0, 1):
            for tpgron in (False, True):
                for _ in range(4):
                    rw, rh = rng.randrange(4, 18), rng.randrange(4, 18)
                    ref = bytearray(
                        1 if rng.random() < 0.5 else 0
                        for _ in range(rw * rh))
                    w = max(1, rw + rng.randrange(-2, 3))
                    h = max(1, rh + rng.randrange(-2, 3))
                    dx, dy = rng.randrange(-2, 3), rng.randrange(-2, 3)
                    bits = bytearray(w * h)
                    for y in range(h):
                        for x in range(w):
                            sx, sy = x - dx, y - dy
                            if 0 <= sy < rh and 0 <= sx < rw:
                                bits[y * w + x] = ref[sy * rw + sx]
                    for _f in range(3):
                        bits[rng.randrange(w * h)] ^= 1
                    enc = MQEncoder(states=_Ctx())
                    _encode_refinement_bitmap(
                        enc, bits, w, h, ref, rw, rh, dx, dy, template,
                        _GRR_NOMINAL_AT, tpgron)
                    dec = MQDecoder(enc.flush(), states=_Ctx())
                    got = _decode_refinement_bitmap(
                        dec, w, h, ref, rw, rh, dx, dy, template,
                        _GRR_NOMINAL_AT, tpgron)
                    assert got == bits, (template, tpgron)

    def test_refagg_symbol_dictionary_page(self):
        from pdf_ocr_spark.kernels.pdf.jbig2 import encode_symbol_page_refined

        base = [_rand_glyph(6, 8, 21), _rand_glyph(5, 8, 22)]
        variant = bytearray(base[0][2])
        variant[10] ^= 255
        variant[20] ^= 255
        refined = [(0, 0, 0, 6, 8, bytes(variant)),
                   (1, 1, -1) + _rand_glyph(7, 9, 23)]
        instances = [(0, 0, 0), (2, 10, 0), (1, 20, 0), (3, 30, 5),
                     (2, 40, 10), (0, 50, 15)]
        all_syms = base + [(w, h, luma) for _, _, _, w, h, luma in refined]
        exp = _expected_or(80, 40, all_syms, instances)
        data = encode_symbol_page_refined(80, 40, base, refined, instances)
        assert decode_bilevel(data) == (80, 40, exp)

    def test_refined_text_region_instances(self):
        syms = [_rand_glyph(6, 8, 31), _rand_glyph(5, 7, 32)]
        instances = [(0, 0, 0), (1, 10, 0), (0, 20, 4), (1, 30, 8),
                     (0, 40, 12)]
        bigger = _rand_glyph(7, 8, 33)[2]
        tweaked = bytearray(syms[1][2])
        tweaked[3] ^= 255
        refinements = {2: (1, 0, 0, 0, bigger),
                       3: (0, 0, 1, -1, bytes(tweaked))}
        data = encode_symbol_page(80, 40, syms, instances,
                                  refinements=refinements)
        exp_syms = list(syms) + [(7, 8, bigger), (5, 7, bytes(tweaked))]
        exp_inst = [(0, 0, 0), (1, 10, 0), (2, 20, 4), (3, 30, 8),
                    (0, 40, 12)]
        exp = _expected_or(80, 40, exp_syms, exp_inst)
        assert decode_bilevel(data) == (80, 40, exp)

    def test_multi_instance_aggregate_symbol(self):
        """REFAGGNINST > 1 (§6.5.8.2.1): a new symbol coded as an
        embedded text region composing known symbols — the accented-
        glyph structure — decodes to the exact composition."""
        from pdf_ocr_spark.kernels.pdf.jbig2 import (
            _draw_symbol, encode_symbol_page_refined)

        base = [_rand_glyph(6, 8, 51), _rand_glyph(4, 3, 52)]
        variant = bytearray(base[0][2])
        variant[7] ^= 255
        refined = [(0, 0, 0, 6, 8, bytes(variant))]
        agg_insts = [(0, 0, 4), (1, 1, 0)]
        data = encode_symbol_page_refined(
            80, 40, base, refined,
            [(0, 0, 0), (2, 10, 0), (3, 20, 0), (1, 30, 5), (3, 40, 10)],
            aggregates=[(agg_insts, 7, 12)])
        agg = bytearray(7 * 12)
        for sid, x, y in agg_insts:
            sw, sh, luma = base[sid]
            bits = bytearray(1 if b < 128 else 0 for b in luma)
            _draw_symbol(agg, 7, 12, bits, sw, sh, x, y)
        agg_luma = bytes(0 if b else 255 for b in agg)
        all_syms = base + [(6, 8, bytes(variant)), (7, 12, agg_luma)]
        insts = [(0, 0, 0), (2, 10, 0), (3, 20, 0), (1, 30, 5),
                 (3, 40, 10)]
        exp = _expected_or(80, 40, all_syms, insts)
        assert decode_bilevel(data) == (80, 40, exp)

    def test_refinement_fuzz(self):
        from pdf_ocr_spark.kernels.pdf.jbig2 import encode_symbol_page_refined

        base = [_rand_glyph(6, 8, 41)]
        refined = [(0, 0, 0, 6, 8, _rand_glyph(6, 8, 42)[2])]
        data = encode_symbol_page_refined(
            40, 20, base, refined, [(0, 0, 0), (1, 10, 5)])
        rng = random.Random(173)
        for _ in range(100):
            cut = rng.randrange(1, len(data))
            try:
                decode_bilevel(data[:cut])
            except JBIG2Error:
                pass
        for _ in range(100):
            b = bytearray(data)
            b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
            try:
                decode_bilevel(bytes(b))
            except JBIG2Error:
                pass


class TestGenericTemplates:
    """Generic-region templates 1-3 and movable AT pixels (§6.2.5.3):
    real encoders pick smaller templates and shift AT pixels; every
    combination must round-trip losslessly."""

    LUMA = (np.random.RandomState(11).randint(0, 2, size=64 * 48) * 255
            ).astype(np.uint8).tobytes()

    @pytest.mark.parametrize("template", [0, 1, 2, 3])
    def test_nominal_round_trip(self, template):
        data = encode_bilevel(64, 48, self.LUMA, template=template)
        assert decode_bilevel(data) == (64, 48, self.LUMA)

    @pytest.mark.parametrize("template,at", [
        (0, [(-1, 2), (-1, -2), (-2, 1), (-2, -1)]),
        (1, [(-2, -3)]),
        (2, [(-1, -1)]),
        (3, [(0, -2)]),
    ])
    def test_non_nominal_at_round_trip(self, template, at):
        data = encode_bilevel(64, 48, self.LUMA, template=template, at=at)
        assert decode_bilevel(data) == (64, 48, self.LUMA)

    def test_non_causal_at_rejected(self):
        data = bytearray(encode_bilevel(64, 48, self.LUMA, template=1))
        i = data.index(bytes([0x08 | (1 << 1)]))
        data[i + 1] = 1          # dx = +1
        data[i + 2] = 0          # dy = 0 -> references a future pixel
        with pytest.raises(JBIG2Error):
            decode_bilevel(bytes(data))

    def test_template_fuzz(self):
        for template in (1, 3):
            data = encode_bilevel(64, 48, self.LUMA, template=template)
            rng = random.Random(151 + template)
            for _ in range(80):
                cut = rng.randrange(1, len(data))
                try:
                    decode_bilevel(data[:cut])
                except JBIG2Error:
                    pass
            for _ in range(80):
                b = bytearray(data)
                b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
                try:
                    decode_bilevel(bytes(b))
                except JBIG2Error:
                    pass


class TestValidation:
    def test_rejects_bad_dims(self):
        with pytest.raises(JBIG2Error):
            encode_bilevel(0, 4, b"")
        with pytest.raises(JBIG2Error):
            encode_bilevel(2, 2, b"abc")

    def test_rejects_garbage(self):
        with pytest.raises(JBIG2Error):
            decode_bilevel(b"")
        with pytest.raises(JBIG2Error):
            decode_bilevel(b"\x00" * 64)
        with pytest.raises(JBIG2Error):
            decode_bilevel(b"%PDF-1.4 not jbig2 at all........")

    def test_rejects_region_without_page(self):
        data = encode_bilevel(8, 8, bytes(64))
        # strip the page-info segment (number 0): its header is 11
        # bytes + 19 data bytes
        with pytest.raises(JBIG2Error):
            decode_bilevel(data[30:])


class TestFuzz:
    def _sample(self):
        rng = np.random.RandomState(3)
        luma = (rng.randint(0, 2, size=48 * 40) * 255).astype(np.uint8).tobytes()
        return encode_bilevel(48, 40, luma)

    def test_truncations_raise_jbig2error(self):
        data = self._sample()
        rng = random.Random(17)
        for _ in range(100):
            cut = rng.randrange(1, len(data))
            try:
                decode_bilevel(data[:cut])
            except JBIG2Error:
                pass

    def test_bit_flips_never_escape(self):
        data = self._sample()
        rng = random.Random(23)
        for _ in range(100):
            b = bytearray(data)
            b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
            try:
                decode_bilevel(bytes(b))
            except JBIG2Error:
                pass   # wrong pixels are fine; other exceptions are not


class TestPipelineIntegration:
    def test_jbig2_scan_branch_end_to_end(self):
        from pdf_ocr_spark.fixtures.genpages import gen_jbig2_scan_rows
        from pdf_ocr_spark.pipeline.extract_job import PAGE_SCHEMA, page_rows

        rows = gen_jbig2_scan_rows()
        pages = pd.DataFrame(
            page_rows([r["url"] for r in rows], [bytes(r["html"]) for r in rows]),
            columns=PAGE_SCHEMA.fieldNames(),
        )
        assert (pages["status"] == "ok").all()
        assert pages["needs_ocr"].all()
        by_url = pages.set_index(["url", "page"])["page_text"]
        for d, row in enumerate(rows):
            for p in range(1, 1 + (1 + d % 3)):
                text = str(by_url[(row["url"], p)])
                if d == len(rows) - 1 and p == 1:
                    assert text.startswith("[unrecognized image ")
                else:
                    assert text.startswith(f"jbig2 doc {d} page {p}")


class TestHalftone:
    """Pattern dictionaries (§6.7) + halftone regions (§6.6): encoder/
    decoder mirror pinned by an INDEPENDENT numpy rendering twin."""

    @staticmethod
    def _expected(width, height, luma, cell):
        from pdf_ocr_spark.kernels.pdf.jbig2 import (
            halftone_gray_values, halftone_patterns)

        pats = halftone_patterns(cell)
        hgw, hgh, vals = halftone_gray_values(width, height, luma, cell)
        page = np.zeros((height, width), dtype=np.uint8)
        for m in range(hgh):
            for n in range(hgw):
                p = (np.frombuffer(pats[vals[m * hgw + n]], dtype=np.uint8)
                     .reshape(cell, cell) < 128)
                y0, x0 = m * cell, n * cell
                h = min(cell, height - y0)
                w = min(cell, width - x0)
                page[y0:y0 + h, x0:x0 + w] |= p[:h, :w].astype(np.uint8)
        return np.where(page, 0, 255).astype(np.uint8).tobytes()

    def _gradient(self, w, h, seed=42):
        rng = np.random.RandomState(seed)
        g = (np.linspace(0, 255, w * h).reshape(h, w)
             + rng.randint(-60, 60, (h, w))).clip(0, 255).astype(np.uint8)
        return g.tobytes()

    @pytest.mark.parametrize("w,h,cell", [(40, 30, 4), (37, 23, 3),
                                          (64, 64, 5), (8, 8, 4),
                                          (16, 12, 2)])
    def test_round_trip_matches_independent_twin(self, w, h, cell):
        from pdf_ocr_spark.kernels.pdf.jbig2 import encode_halftone_page

        luma = self._gradient(w, h, seed=w * 100 + h)
        exp = self._expected(w, h, luma, cell)
        for mmr in (False, True):
            stream = encode_halftone_page(w, h, luma, cell=cell,
                                          mmr_patterns=mmr)
            assert decode_bilevel(stream) == (w, h, exp)

    @pytest.mark.parametrize("template", [0, 1, 2, 3])
    def test_all_templates(self, template):
        from pdf_ocr_spark.kernels.pdf.jbig2 import encode_halftone_page

        luma = self._gradient(48, 36)
        stream = encode_halftone_page(48, 36, luma, cell=4,
                                      template=template)
        assert decode_bilevel(stream)[2] == self._expected(48, 36, luma, 4)

    def test_flat_pages(self):
        from pdf_ocr_spark.kernels.pdf.jbig2 import encode_halftone_page

        for fill in (0, 255):
            luma = bytes([fill]) * (32 * 20)
            stream = encode_halftone_page(32, 20, luma, cell=4)
            assert decode_bilevel(stream)[2] == self._expected(
                32, 20, luma, 4)

    def test_multi_plane_gray_coding(self):
        """cell=5 → 26 patterns → 5 Gray-coded bitplanes through one
        shared arithmetic decoder; every gray level must survive."""
        from pdf_ocr_spark.kernels.pdf.jbig2 import (
            encode_halftone_page, halftone_gray_values)

        cell, hgw = 5, 26
        width, height = hgw * cell, cell
        # one cell per gray level 0..25: cell m gets m dark pixels
        luma = bytearray(b"\xff" * (width * height))
        order = [(i // cell, i % cell) for i in range(cell * cell)]
        for n in range(hgw):
            for k in range(n):
                y, x = order[k]
                luma[y * width + n * cell + x] = 0
        _, _, vals = halftone_gray_values(width, height, bytes(luma), cell)
        assert sorted(vals) == list(range(26))
        stream = encode_halftone_page(width, height, bytes(luma), cell=cell)
        assert decode_bilevel(stream)[2] == self._expected(
            width, height, bytes(luma), cell)

    def test_skewed_grid_and_defpixel(self):
        """Hand-built region body: HDEFPIXEL=1 with non-zero HGX/HGY
        offsets — checks the 1/256-unit arithmetic-shift placement and
        the default-pixel fill against a direct twin."""
        from pdf_ocr_spark.kernels.pdf.jbig2 import (
            _decode_halftone_region)

        # two patterns: blank and full-ink 2x2
        pats = [(2, 2, bytearray(4)), (2, 2, bytearray([1] * 4))]
        hgw = hgh = 2
        rw = rh = 8
        # values all 0 => nbits=1 plane of zeros; arithmetic stream for
        # a 2x2 zero plane
        from pdf_ocr_spark.kernels.pdf.jbig2 import (
            MQEncoder, _Ctx, _encode_generic_bitmap, _gb_template,
            _GB_NOMINAL_AT)
        mq = MQEncoder(states=_Ctx())
        _encode_generic_bitmap(mq, bytearray(4), 2, 2, False,
                               _gb_template(0, _GB_NOMINAL_AT[0]))
        body = (
            rw.to_bytes(4, "big") + rh.to_bytes(4, "big") +
            (0).to_bytes(4, "big") + (0).to_bytes(4, "big") + b"\x00" +
            bytes([0x80]) +                       # HDEFPIXEL=1, OR, tmpl 0
            hgw.to_bytes(4, "big") + hgh.to_bytes(4, "big") +
            (-256).to_bytes(4, "big", signed=True) +   # HGX = -1 px
            (512).to_bytes(4, "big", signed=True) +    # HGY = +2 px
            (2 << 8).to_bytes(2, "big") + (0).to_bytes(2, "big") +
            mq.flush())
        page = bytearray(rw * rh)
        _decode_halftone_region(body, pats, page, rw, rh)
        assert bytes(page) == b"\x01" * (rw * rh)  # defpixel floods all

    def test_rejects_unsupported_profiles(self):
        from pdf_ocr_spark.kernels.pdf.jbig2 import (
            _decode_halftone_region)

        pats = [(2, 2, bytearray(4))]
        head = ((8).to_bytes(4, "big") * 2 + (0).to_bytes(4, "big") * 2 +
                b"\x00")
        tail = ((2).to_bytes(4, "big") * 2 +
                (0).to_bytes(4, "big", signed=True) * 2 +
                (512).to_bytes(2, "big") + (0).to_bytes(2, "big"))
        for flags, msg in [(0x08, "HENABLESKIP"), (0x10, "non-OR")]:
            with pytest.raises(JBIG2Error, match=msg):
                _decode_halftone_region(head + bytes([flags]) + tail,
                                        pats, bytearray(64), 8, 8)
        # HMMR=1 is SUPPORTED now; an empty plane stream raises loudly
        two_pats = [(2, 2, bytearray(4)), (2, 2, bytearray([1] * 4))]
        with pytest.raises(JBIG2Error, match="MMR grayscale"):
            _decode_halftone_region(head + b"\x01" + tail, two_pats,
                                    bytearray(64), 8, 8)
        with pytest.raises(JBIG2Error, match="pattern"):
            _decode_halftone_region(head + b"\x00" + tail, [], bytearray(64),
                                    8, 8)

    def test_truncation_and_flip_fuzz(self):
        from pdf_ocr_spark.kernels.pdf.jbig2 import encode_halftone_page

        luma = self._gradient(40, 32, seed=7)
        data = encode_halftone_page(40, 32, luma, cell=4)
        rng = random.Random(31)
        for _ in range(120):
            cut = rng.randrange(1, len(data))
            try:
                decode_bilevel(data[:cut])
            except JBIG2Error:
                pass
        for _ in range(120):
            b = bytearray(data)
            b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
            try:
                decode_bilevel(bytes(b))
            except JBIG2Error:
                pass   # wrong pixels are fine; other exceptions are not


class TestHalftoneMmrGray:
    """HMMR=1 grayscale: all Gray-coded bitplanes ride ONE shared MMR
    stream (reference reset between planes, single trailing EOFB)."""

    def test_round_trip_matches_arithmetic_variant(self):
        from pdf_ocr_spark.kernels.pdf.jbig2 import encode_halftone_page

        rng = np.random.RandomState(21)
        g = (np.linspace(0, 255, 40 * 30).reshape(30, 40)
             + rng.randint(-60, 60, (30, 40))).clip(0, 255).astype(np.uint8)
        luma = g.tobytes()
        arith = decode_bilevel(encode_halftone_page(40, 30, luma, cell=4))
        for mp in (False, True):
            mmr = decode_bilevel(encode_halftone_page(
                40, 30, luma, cell=4, mmr_patterns=mp, mmr_gray=True))
            assert mmr == arith

    def test_ccitt_plane_chain_round_trips(self):
        from pdf_ocr_spark.kernels.pdf.ccitt import (
            decode_g4_planes, encode_g4_planes)

        rng = np.random.RandomState(22)
        planes = [(rng.randint(0, 2, 16 * 12) * 255).astype(np.uint8)
                  .tobytes() for _ in range(5)]
        s = encode_g4_planes(planes, 16, 12)
        assert decode_g4_planes(s, 16, 12, 5) == planes

    def test_mmr_gray_fuzz(self):
        from pdf_ocr_spark.kernels.pdf.jbig2 import encode_halftone_page

        rng = np.random.RandomState(23)
        g = (rng.randint(0, 256, 32 * 24)).astype(np.uint8).tobytes()
        data = encode_halftone_page(32, 24, g, cell=4, mmr_gray=True)
        r = random.Random(41)
        for _ in range(80):
            cut = r.randrange(1, len(data))
            try:
                decode_bilevel(data[:cut])
            except JBIG2Error:
                pass
        for _ in range(80):
            b = bytearray(data)
            b[r.randrange(len(b))] ^= 1 << r.randrange(8)
            try:
                decode_bilevel(bytes(b))
            except JBIG2Error:
                pass   # wrong pixels fine; other exceptions are not
