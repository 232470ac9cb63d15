"""From-scratch baseline JPEG codec (kernels/pdf/jpeg.py) + the
pixel-grid marker (kernels/pixelcode.py) + the real-pixel scan branch.

The reference OCRs real rendered pixels
(/root/reference/pdf_ocr_with_boxes_v2.py:200-247); these tests pin that
our DCTDecode path does too: encode → embed in PDF → extract → decode →
recognize, plus adversarial inputs (truncation, garbage, progressive)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st

from pdf_ocr_spark.kernels.pdf import jpeg
from pdf_ocr_spark.kernels.pdf.jpeg import (
    STD_AC_LUMA,
    STD_DC_LUMA,
    JpegError,
    _BitWriter,
    _build_codes,
    decode,
    decode_gray,
    encode_gray,
    is_jpeg,
)
from pdf_ocr_spark.kernels.pixelcode import pixels_to_text, text_to_pixels


def _barcode_image(seed: int, w: int = 96, h: int = 64) -> np.ndarray:
    rng = np.random.RandomState(seed)
    cells = rng.choice([0, 255], size=(h // 8, w // 8)).astype(np.uint8)
    return cells.repeat(8, axis=0).repeat(8, axis=1)


# ---------------------------------------------------------------------------
# encoder ↔ decoder round trips
# ---------------------------------------------------------------------------


def test_flat_blocks_roundtrip_exact():
    """8×8-aligned flat cells survive quantization losslessly at q90 —
    the property the pixel marker depends on."""
    img = _barcode_image(7)
    data = encode_gray(img.tobytes(), 96, 64, quality=90)
    assert is_jpeg(data)
    w, h, px = decode_gray(data)
    assert (w, h) == (96, 64)
    assert np.array_equal(np.frombuffer(px, np.uint8).reshape(64, 96), img)


def test_gradient_roundtrip_bounded_error():
    gx = np.linspace(0, 255, 200)
    img = np.clip(np.add.outer(np.linspace(0, 100, 120), gx), 0, 255).astype(np.uint8)
    for q in (60, 75, 90, 95):
        data = encode_gray(img.tobytes(), 200, 120, quality=q)
        w, h, px = decode_gray(data)
        out = np.frombuffer(px, np.uint8).reshape(120, 200)
        err = np.abs(out.astype(int) - img.astype(int)).max()
        assert err <= 16, (q, err)


def test_encode_deterministic():
    img = _barcode_image(3)
    a = encode_gray(img.tobytes(), 96, 64, 85)
    b = encode_gray(img.tobytes(), 96, 64, 85)
    assert a == b


def test_non_multiple_of_8_dimensions():
    """Edge-replicated padding: odd sizes decode back at the exact
    declared dimensions."""
    img = np.clip(
        np.add.outer(np.linspace(20, 200, 37), np.linspace(0, 55, 53)), 0, 255
    ).astype(np.uint8)
    data = encode_gray(img.tobytes(), 53, 37, quality=95)
    w, h, px = decode_gray(data)
    assert (w, h) == (53, 37)
    out = np.frombuffer(px, np.uint8).reshape(37, 53)
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 6


def test_encode_input_validation():
    with pytest.raises(JpegError):
        encode_gray(b"\x00" * 10, 4, 4)          # size mismatch
    with pytest.raises(JpegError):
        encode_gray(b"", 0, 0)                   # bad dims


# ---------------------------------------------------------------------------
# hand-built streams: color 4:2:0, restart markers, unsupported SOFs
# ---------------------------------------------------------------------------


def _seg(marker: int, body: bytes) -> bytes:
    return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body


def _flat_block_bits(bw: _BitWriter, dc_codes, ac_codes, dc_diff: int) -> None:
    """Entropy-code one flat block: DC diff + EOB."""
    t = int(abs(dc_diff)).bit_length()
    code, ln = dc_codes[t]
    bw.put(code, ln)
    if t:
        bw.put(dc_diff if dc_diff > 0 else dc_diff + (1 << t) - 1, t)
    code, ln = ac_codes[0x00]
    bw.put(code, ln)


def _build_color_420(rgb: tuple, w: int = 16, h: int = 16) -> bytes:
    """Hand-assemble a one-MCU 4:2:0 YCbCr JPEG of a solid color using a
    unit quantization table — exercises the decoder's subsampling,
    multi-component MCU walk, and color conversion."""
    r, g, b = rgb
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
    dc = {c: int(round(8.0 * (v - 128.0))) for c, v in (("y", y), ("cb", cb), ("cr", cr))}
    dc_codes = _build_codes(*STD_DC_LUMA)
    ac_codes = _build_codes(*STD_AC_LUMA)
    bw = _BitWriter()
    pred = 0
    for _ in range(4):                       # Y blocks: 2×2 per MCU
        _flat_block_bits(bw, dc_codes, ac_codes, dc["y"] - pred)
        pred = dc["y"]
    _flat_block_bits(bw, dc_codes, ac_codes, dc["cb"])   # Cb pred starts at 0
    _flat_block_bits(bw, dc_codes, ac_codes, dc["cr"])
    bw.flush()
    out = bytearray(b"\xff\xd8")
    out += _seg(0xDB, bytes([0x00]) + bytes([1] * 64))   # unit qtable
    out += _seg(
        0xC0,
        bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big")
        + bytes([3, 1, 0x22, 0, 2, 0x11, 0, 3, 0x11, 0]),
    )
    db, dv = STD_DC_LUMA
    out += _seg(0xC4, bytes([0x00]) + bytes(db) + bytes(dv))
    ab, av = STD_AC_LUMA
    out += _seg(0xC4, bytes([0x10]) + bytes(ab) + bytes(av))
    out += _seg(0xDA, bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0]))
    out += bw.out
    out += b"\xff\xd9"
    return bytes(out)


def test_color_420_solid():
    w, h, nc, px = decode(_build_color_420((200, 80, 40)))
    assert (w, h, nc) == (16, 16, 3)
    arr = np.frombuffer(px, np.uint8).reshape(16, 16, 3)
    for ch, want in enumerate((200, 80, 40)):
        got = arr[..., ch].astype(int)
        assert np.abs(got - want).max() <= 3, (ch, got[0, 0], want)


def test_restart_markers():
    """DRI=1 over two MCUs with an RST0 between them and DC predictor
    reset — both blocks must decode to the same flat value."""
    dc_codes = _build_codes(*STD_DC_LUMA)
    ac_codes = _build_codes(*STD_AC_LUMA)
    val = 200
    dc = int(round(8.0 * (val - 128.0)))
    bw1 = _BitWriter()
    _flat_block_bits(bw1, dc_codes, ac_codes, dc)
    bw1.flush()
    bw2 = _BitWriter()
    _flat_block_bits(bw2, dc_codes, ac_codes, dc)  # pred reset → same diff
    bw2.flush()
    out = bytearray(b"\xff\xd8")
    out += _seg(0xDB, bytes([0x00]) + bytes([1] * 64))
    out += _seg(0xC0, bytes([8]) + (8).to_bytes(2, "big") + (16).to_bytes(2, "big") + bytes([1, 1, 0x11, 0]))
    db, dv = STD_DC_LUMA
    out += _seg(0xC4, bytes([0x00]) + bytes(db) + bytes(dv))
    ab, av = STD_AC_LUMA
    out += _seg(0xC4, bytes([0x10]) + bytes(ab) + bytes(av))
    out += _seg(0xDD, (1).to_bytes(2, "big"))      # DRI = 1 MCU
    out += _seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    out += bw1.out + b"\xff\xd0" + bw2.out         # RST0 between MCUs
    out += b"\xff\xd9"
    w, h, px = decode_gray(bytes(out))
    assert (w, h) == (16, 8)
    assert set(px) == {val}


def test_missing_rst_raises():
    dc_codes = _build_codes(*STD_DC_LUMA)
    ac_codes = _build_codes(*STD_AC_LUMA)
    bw = _BitWriter()
    _flat_block_bits(bw, dc_codes, ac_codes, 0)
    _flat_block_bits(bw, dc_codes, ac_codes, 0)
    bw.flush()
    out = bytearray(b"\xff\xd8")
    out += _seg(0xDB, bytes([0x00]) + bytes([1] * 64))
    out += _seg(0xC0, bytes([8]) + (8).to_bytes(2, "big") + (16).to_bytes(2, "big") + bytes([1, 1, 0x11, 0]))
    db, dv = STD_DC_LUMA
    out += _seg(0xC4, bytes([0x00]) + bytes(db) + bytes(dv))
    ab, av = STD_AC_LUMA
    out += _seg(0xC4, bytes([0x10]) + bytes(ab) + bytes(av))
    out += _seg(0xDD, (1).to_bytes(2, "big"))
    out += _seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    out += bw.out + b"\xff\xd9"                    # RST0 omitted
    with pytest.raises(JpegError):
        decode(bytes(out))


def test_sof2_with_baseline_scan_rejected():
    """Flipping SOF0→SOF2 without a progressive scan script is
    malformed: the baseline SOS header (Ss=0, Se=63) is illegal for a
    progressive DC scan."""
    img = _barcode_image(1)
    data = bytearray(encode_gray(img.tobytes(), 96, 64))
    i = data.find(b"\xff\xc0")
    data[i + 1] = 0xC2                             # pretend SOF2
    with pytest.raises(JpegError):
        decode(bytes(data))


# ---------------------------------------------------------------------------
# progressive (SOF2) and CMYK (Adobe APP14)
# ---------------------------------------------------------------------------


class TestProgressive:
    def test_equals_baseline_pixels_flat(self):
        """Same quantized coefficients, different transport: the
        progressive file decodes to the SAME pixels as baseline."""
        w, h, px = text_to_pixels("progressive marker\nline two")
        assert decode_gray(jpeg.encode_gray_progressive(px, w, h)) == \
            decode_gray(encode_gray(px, w, h))

    @pytest.mark.parametrize("seed,quality", [(1, 50), (2, 75), (3, 90),
                                              (4, 95)])
    def test_equals_baseline_pixels_noise(self, seed, quality):
        rng = np.random.RandomState(seed)
        w, h = int(rng.randint(9, 80)), int(rng.randint(9, 80))
        img = rng.randint(0, 256, (h, w)).astype(np.uint8)
        p = decode_gray(jpeg.encode_gray_progressive(img.tobytes(), w, h,
                                                     quality=quality))
        b = decode_gray(encode_gray(img.tobytes(), w, h, quality=quality))
        assert p == b

    def test_marker_survives(self):
        w, h, px = text_to_pixels("sof2 pixels")
        _, _, out = decode_gray(jpeg.encode_gray_progressive(px, w, h))
        assert pixels_to_text(w, h, out) == "sof2 pixels"

    def test_truncation_sweep_never_hangs(self):
        img = _barcode_image(6)
        data = jpeg.encode_gray_progressive(img.tobytes(), 96, 64)
        for cut in range(2, len(data), 11):
            try:
                decode(data[:cut])
            except JpegError:
                pass

    @settings(max_examples=30, deadline=None)
    @given(st.integers(0, 2**32 - 1), st.integers(1, 120))
    def test_bitflip_fuzz(self, seed, nflips):
        img = _barcode_image(11)
        data = bytearray(jpeg.encode_gray_progressive(img.tobytes(), 96, 64))
        rng = np.random.RandomState(seed % (2**32))
        for _ in range(nflips):
            i = int(rng.randint(2, len(data)))
            data[i] ^= 1 << int(rng.randint(0, 8))
        try:
            decode(bytes(data))
        except JpegError:
            pass

    def test_interleaved_ac_scan_rejected(self):
        """Progressive AC scans must be single-component (G.1.1.1.1)."""
        w, h, px = text_to_pixels("bad scan")
        data = bytearray(jpeg.encode_gray_progressive(px, w, h))
        # find the second SOS (first AC scan) and corrupt ns 1 → 2
        i = data.find(b"\xff\xda")
        i = data.find(b"\xff\xda", i + 2)
        assert data[i + 4] == 1
        data[i + 4] = 2
        with pytest.raises(JpegError):
            decode(bytes(data))


class TestGray12:
    """12-bit extended sequential (SOF1 precision 12): decode reduces to
    the 8-bit surface via >> 4; SOF0 stays 8-bit-only per T.81."""

    @staticmethod
    def _to12(px8: bytes) -> bytes:
        return (np.frombuffer(px8, np.uint8).astype(np.uint16)
                * 16).astype(">u2").tobytes()

    def test_gradient_bounded_error(self):
        w, h = 64, 48
        x = np.linspace(0, 4095, w)
        img12 = np.tile(x, (h, 1)).astype(">u2")
        _, _, out = decode_gray(
            jpeg.encode_gray12(img12.tobytes(), w, h, quality=95))
        got = np.frombuffer(out, np.uint8).reshape(h, w).astype(np.float64)
        exp = img12.astype(np.float64) / 16.0
        assert np.abs(got - exp).max() < 6

    def test_marker_survives(self):
        w, h, px = text_to_pixels("twelve bit jpeg\nmarker")
        _, _, out = decode_gray(
            jpeg.encode_gray12(self._to12(px), w, h, quality=92))
        assert pixels_to_text(w, h, out) == "twelve bit jpeg\nmarker"

    def test_sof0_precision_12_rejected(self):
        w, h, px = text_to_pixels("sof0 12bit")
        data = bytearray(jpeg.encode_gray12(self._to12(px), w, h))
        i = data.index(b"\xff\xc1")
        data[i + 1] = 0xC0
        with pytest.raises(JpegError):
            jpeg.decode(bytes(data))

    def test_out_of_range_sample_rejected(self):
        img = np.full((8, 8), 4096, dtype=">u2")
        with pytest.raises(JpegError):
            jpeg.encode_gray12(img.tobytes(), 8, 8)

    def test_truncation_sweep_never_hangs(self):
        w, h, px = text_to_pixels("truncate 12bit")
        data = jpeg.encode_gray12(self._to12(px), w, h)
        for cut in range(2, len(data), 13):
            try:
                jpeg.decode(data[:cut])
            except JpegError:
                pass

    def test_bitflip_fuzz(self):
        import random as _random

        w, h, px = text_to_pixels("flip 12bit")
        data = jpeg.encode_gray12(self._to12(px), w, h)
        rng = _random.Random(77)
        for _ in range(120):
            b = bytearray(data)
            b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
            try:
                jpeg.decode(bytes(b))
            except JpegError:
                pass   # wrong pixels fine; other exceptions are not


class TestCmyk:
    def _marker_cmyk(self, text="cmyk pixels"):
        w, h, px = text_to_pixels(text)
        cmyk = np.zeros((h, w, 4), dtype=np.uint8)
        cmyk[:, :, 3] = 255 - np.frombuffer(px, np.uint8).reshape(h, w)
        return w, h, px, cmyk

    def test_k_channel_marker_round_trip(self):
        """K carries the marker luma; Adobe inversion + CMYK→RGB→luma
        recover it exactly for flat blocks."""
        w, h, px, cmyk = self._marker_cmyk()
        w2, h2, out = decode_gray(jpeg.encode_cmyk(cmyk.tobytes(), w, h))
        assert (w2, h2) == (w, h)
        assert pixels_to_text(w2, h2, out) == "cmyk pixels"

    def test_pure_ink_channels(self):
        """C=255 → cyan (0,255,255); M=255 → magenta; Y=255 → yellow."""
        for ch, expect in ((0, (0, 255, 255)), (1, (255, 0, 255)),
                           (2, (255, 255, 0))):
            cm = np.zeros((8, 8, 4), dtype=np.uint8)
            cm[:, :, ch] = 255
            _, _, nc, rgb = decode(jpeg.encode_cmyk(cm.tobytes(), 8, 8))
            assert nc == 3
            got = tuple(np.frombuffer(rgb, np.uint8).reshape(8, 8, 3)[4, 4])
            assert got == expect

    def test_full_k_is_black(self):
        cm = np.zeros((8, 8, 4), dtype=np.uint8)
        cm[:, :, 3] = 255
        _, _, _, rgb = decode(jpeg.encode_cmyk(cm.tobytes(), 8, 8))
        assert set(rgb) == {0}

    def test_truncation_never_hangs(self):
        w, h, _, cmyk = self._marker_cmyk("truncate")
        data = jpeg.encode_cmyk(cmyk.tobytes(), w, h)
        for cut in range(2, len(data), 17):
            try:
                decode(data[:cut])
            except JpegError:
                pass

    def test_unknown_adobe_transform_rejected(self):
        w, h, _, cmyk = self._marker_cmyk("bad transform")
        data = bytearray(jpeg.encode_cmyk(cmyk.tobytes(), w, h))
        i = data.find(b"Adobe")
        data[i + 11] = 7                            # bogus transform code
        with pytest.raises(JpegError):
            decode(bytes(data))


def test_dimension_caps():
    img = _barcode_image(1)
    data = bytearray(encode_gray(img.tobytes(), 96, 64))
    i = data.find(b"\xff\xc0")
    data[i + 5 : i + 7] = (30000).to_bytes(2, "big")   # absurd height
    with pytest.raises(JpegError):
        decode(bytes(data))


# ---------------------------------------------------------------------------
# truncation / garbage fuzz
# ---------------------------------------------------------------------------


def test_truncation_sweep_never_hangs():
    img = _barcode_image(5)
    data = encode_gray(img.tobytes(), 96, 64, quality=80)
    for cut in range(2, len(data), 7):
        try:
            decode(data[:cut])
        except JpegError:
            pass                                    # loud failure is the contract


@settings(max_examples=60, deadline=None)
@given(st.binary(min_size=0, max_size=300))
def test_garbage_prefix_fuzz(blob):
    try:
        decode(b"\xff\xd8\xff" + blob)
    except JpegError:
        pass


@settings(max_examples=40, deadline=None)
@given(st.integers(0, 2**32 - 1), st.integers(1, 200))
def test_bitflip_fuzz(seed, nflips):
    """Random bit flips inside a valid JPEG either decode or raise
    JpegError — never any other exception, never a hang."""
    img = _barcode_image(9)
    data = bytearray(encode_gray(img.tobytes(), 96, 64, quality=80))
    rng = np.random.RandomState(seed % (2**32))
    for _ in range(nflips):
        i = int(rng.randint(2, len(data)))
        data[i] ^= 1 << int(rng.randint(0, 8))
    try:
        decode(bytes(data))
    except JpegError:
        pass


# ---------------------------------------------------------------------------
# pixel marker
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "text",
    ["", "x", "hello world", "第 1 页 — 扫描\nsecond line", "a" * 2000],
)
def test_pixelcode_roundtrip_through_jpeg(text):
    w, h, px = text_to_pixels(text)
    assert pixels_to_text(w, h, px) == text
    data = encode_gray(px, w, h, quality=90)
    dw, dh, dpx = decode_gray(data)
    assert pixels_to_text(dw, dh, dpx) == text


def test_pixelcode_rejects_non_marker():
    rng = np.random.RandomState(0)
    junk = rng.randint(0, 256, size=(128, 128)).astype(np.uint8)
    assert pixels_to_text(128, 128, junk.tobytes()) is None
    assert pixels_to_text(8, 8, b"\x00" * 64) is None


# ---------------------------------------------------------------------------
# scan branch end-to-end (kernel bodies, no Spark — the distributed route
# is value-hash gated by the jpeg_scan_ocr / jpeg_scan_raster oracles)
# ---------------------------------------------------------------------------


def test_jpeg_scan_pipeline_roundtrip():
    from pdf_ocr_spark.fixtures.genpages import gen_jpeg_scan_rows
    from pdf_ocr_spark.pipeline.extract_job import PAGE_SCHEMA, page_rows

    rows = gen_jpeg_scan_rows()
    pages = pd.DataFrame(
        page_rows([r["url"] for r in rows], [bytes(r["html"]) for r in rows]),
        columns=PAGE_SCHEMA.fieldNames(),
    )
    assert bool(pages["needs_ocr"].all())
    assert (pages["status"] == "ok").all()
    # every intact page (baseline, progressive, AND cmyk) recovers its
    # exact ground truth from REAL pixels
    corrupt = f"{len(rows) - 1:06d}"
    ok = pages[~pages.url.str.endswith(corrupt) | (pages.page != 1)]
    for _, r in ok.iterrows():
        d = int(r.url.rsplit("/", 1)[1])
        assert r.page_text.startswith(f"scan doc {d} page {int(r.page)}\n")
    # the truncated-JPEG page degrades to the deterministic fingerprint
    bad = pages[pages.url.str.endswith(corrupt) & (pages.page == 1)]
    assert len(bad) == 1
    assert bad.iloc[0].page_text.startswith("[unrecognized image ")


def test_raster_blits_real_luma():
    """A JPEG image draw paints the decoded content (many gray levels),
    not the flat coverage fill; non-JPEG payloads keep the flat fill."""
    from pdf_ocr_spark.kernels.pdf.raster import parse_pgm, rasterize_page

    w, h, px = text_to_pixels("blit me")
    payload = encode_gray(px, w, h, quality=90)
    pgm = rasterize_page(
        [], [], [(72.0, 72.0, 540.0, 720.0)], 612.0, 792.0,
        image_payloads=[payload],
    )
    _, _, pixels = parse_pgm(pgm)
    levels = set(pixels)
    assert 0 in levels and 255 in levels           # real black/white cells
    pgm_flat = rasterize_page(
        [], [], [(72.0, 72.0, 540.0, 720.0)], 612.0, 792.0,
        image_payloads=[b"not a jpeg"],
    )
    _, _, flat = parse_pgm(pgm_flat)
    assert set(flat) == {128, 255}                 # legacy coverage fill


# ---------------------------------------------------------------------------
# lossless JPEG (SOF3, Annex H) — predictive coding, encoder mirror
# ---------------------------------------------------------------------------


class TestLossless:
    @pytest.mark.parametrize("predictor", list(range(1, 8)))
    def test_gray_round_trip_every_predictor(self, predictor):
        rng = np.random.RandomState(predictor)
        luma = rng.randint(0, 256, size=33 * 21).astype(np.uint8).tobytes()
        s = jpeg.encode_lossless(luma, 33, 21, predictor=predictor)
        assert decode(s) == (33, 21, 1, luma)

    @pytest.mark.parametrize("prec,pt", [(8, 0), (12, 0), (12, 4),
                                         (16, 0), (16, 8), (12, 6)])
    def test_precision_and_point_transform(self, prec, pt):
        """Exact whenever pt <= P-8; otherwise the decoded surface is
        the twin formula ((in << (P-8)) >> pt << pt) >> (P-8)."""
        rng = np.random.RandomState(prec * 17 + pt)
        a = rng.randint(0, 256, size=(30, 40)).astype(np.uint8)
        s = jpeg.encode_lossless(a.tobytes(), 40, 30, precision=prec, pt=pt)
        out = decode(s)[3]
        exp = (((((a.astype(np.int64) << (prec - 8)) >> pt) << pt)
                >> (prec - 8)).astype(np.uint8).tobytes())
        assert out == exp
        if pt <= prec - 8:
            assert out == a.tobytes()

    @pytest.mark.parametrize("ri", [1, 7, 100])
    def test_restart_intervals(self, ri):
        rng = np.random.RandomState(ri)
        luma = rng.randint(0, 256, size=25 * 16).astype(np.uint8).tobytes()
        s = jpeg.encode_lossless(luma, 25, 16, predictor=4,
                                 restart_interval=ri)
        assert decode(s)[3] == luma

    def test_rgb_round_trip(self):
        rng = np.random.RandomState(9)
        rgb = rng.randint(0, 256, size=24 * 18 * 3).astype(np.uint8).tobytes()
        s = jpeg.encode_lossless(rgb, 24, 18, ncomp=3, predictor=6)
        assert decode(s) == (24, 18, 3, rgb)

    def test_flat_gradient_and_single_pixel(self):
        flat = bytes([128]) * (50 * 40)
        assert decode(jpeg.encode_lossless(flat, 50, 40, predictor=7))[3] == flat
        grad = np.tile(np.arange(256, dtype=np.uint8), 4).tobytes()
        assert decode(jpeg.encode_lossless(grad, 256, 4, predictor=5))[3] == grad
        assert decode(jpeg.encode_lossless(b"\x00", 1, 1))[3] == b"\x00"

    def test_extreme_diffs_hit_high_categories(self):
        """Alternating 0/255 at precision 16 exercises 9-16-bit diff
        categories including the SSSS=16 no-extra-bits case."""
        luma = bytes([0, 255] * 128)
        s = jpeg.encode_lossless(luma, 16, 16, precision=16, predictor=1)
        assert decode(s)[3] == luma

    def test_marker_survives_lossless(self):
        iw, ih, px = text_to_pixels("lossless jpeg page")
        s = jpeg.encode_lossless(px, iw, ih, predictor=2)
        w, h, nc, out = decode(s)
        assert pixels_to_text(w, h, out) == "lossless jpeg page"

    def test_rejects_bad_params(self):
        luma = bytes(64)
        with pytest.raises(JpegError):
            jpeg.encode_lossless(luma, 8, 8, predictor=0)
        with pytest.raises(JpegError):
            jpeg.encode_lossless(luma, 8, 8, predictor=8)
        with pytest.raises(JpegError):
            jpeg.encode_lossless(luma, 8, 8, precision=7)
        with pytest.raises(JpegError):
            jpeg.encode_lossless(luma, 8, 8, pt=8)
        with pytest.raises(JpegError):
            jpeg.encode_lossless(luma, 8, 8, ncomp=2)

    def test_truncation_and_flip_fuzz(self):
        rng = np.random.RandomState(11)
        luma = rng.randint(0, 256, size=32 * 24).astype(np.uint8).tobytes()
        data = jpeg.encode_lossless(luma, 32, 24, predictor=4,
                                    restart_interval=32)
        import random as _random
        r = _random.Random(13)
        for _ in range(120):
            cut = r.randrange(2, len(data))
            try:
                decode(data[:cut])
            except JpegError:
                pass
        for _ in range(120):
            b = bytearray(data)
            b[r.randrange(len(b))] ^= 1 << r.randrange(8)
            try:
                decode(bytes(b))
            except JpegError:
                pass   # wrong pixels fine; other exceptions are not
