"""From-scratch JPEG 2000 codec (kernels/pdf/jp2.py): MQ coder vs the
published ITU-T T.88 test sequence, EBCOT tier-1 round-trips, 5/3 DWT
reversibility, tag-tree/packet framing, full-image lossless round-trip,
truncation/corruption fuzz, and the JPXDecode scan branch through the
extraction pipeline (reference behavior: real pixmaps are rendered and
OCRed whatever codec the PDF carries,
/root/reference/pdf_ocr_with_boxes_v2.py:200-247)."""

import random

import numpy as np
import pandas as pd
import pytest

from pdf_ocr_spark.kernels.pdf.jp2 import (
    JP2Error,
    MQDecoder,
    MQEncoder,
    _BlockDecoder,
    _BlockEncoder,
    _fwd53_2d,
    _HdrReader,
    _HdrWriter,
    _inv53_2d,
    _TagTree,
    decode_gray,
    encode_gray,
    is_jpx,
)

# the ITU-T T.88 software-conformance test sequence (Annex H.2): 256
# bits through one fresh context
_T88_INPUT = bytes([
    0x00, 0x02, 0x00, 0x51, 0x00, 0x00, 0x00, 0xC0, 0x03, 0x52, 0x87,
    0x2A, 0xAA, 0xAA, 0xAA, 0xAA, 0x82, 0xC0, 0x20, 0x00, 0xFC, 0xD7,
    0x9E, 0xF6, 0xBF, 0x7F, 0xED, 0x90, 0x4F, 0x46, 0xA3, 0xBF,
])
_T88_OUTPUT = bytes([
    0x84, 0xC7, 0x3B, 0xFC, 0xE1, 0xA1, 0x43, 0x04, 0x02, 0x20, 0x00,
    0x00, 0x41, 0x0D, 0xBB, 0x86, 0xF4, 0x31, 0x7F, 0xFF, 0x88, 0xFF,
    0x37, 0x47, 0x1A, 0xDB, 0x6A, 0xDF, 0xFF, 0xAC,
])


def _t88_bits():
    return [(b >> k) & 1 for b in _T88_INPUT for k in range(7, -1, -1)]


class TestMQCoder:
    def test_t88_encoder_vector(self):
        """Byte-exact against the published sequence (our flush uses the
        spec-sanctioned shorter termination: the stream is a prefix
        whose dropped tail decodes as the 1-bits FLUSH guarantees)."""
        enc = MQEncoder()
        enc.ctx[5] = [0, 0]
        for d in _t88_bits():
            enc.encode(d, 5)
        out = enc.flush()
        assert _T88_OUTPUT.startswith(out)
        assert len(out) >= len(_T88_OUTPUT) - 2

    def test_t88_decoder_vector(self):
        dec = MQDecoder(_T88_OUTPUT)
        dec.ctx[5] = [0, 0]
        assert [dec.decode(5) for _ in range(256)] == _t88_bits()

    @pytest.mark.parametrize("trial", range(40))
    def test_random_round_trip(self, trial):
        rng = random.Random(trial)
        n = rng.randint(1, 3000)
        seq = [(rng.randint(0, 1), rng.randrange(19)) for _ in range(n)]
        if trial % 3 == 0:   # heavy-MPS runs exercise carry/stuff paths
            seq = [(0 if rng.random() < 0.95 else 1, cx) for _, cx in seq]
        enc = MQEncoder()
        for d, cx in seq:
            enc.encode(d, cx)
        dec = MQDecoder(enc.flush())
        assert [dec.decode(cx) for _, cx in seq] == [d for d, _ in seq]

    def test_empty_data_decoder_never_crashes(self):
        dec = MQDecoder(b"")
        for _ in range(64):
            assert dec.decode(0) in (0, 1)


class TestTier1:
    @pytest.mark.parametrize("trial", range(16))
    def test_codeblock_round_trip(self, trial):
        rng = random.Random(trial)
        w, h = rng.randint(1, 36), rng.randint(1, 36)
        orient = rng.randrange(4)
        style = trial % 4
        coefs = []
        for _ in range(w * h):
            if style == 0:
                v = rng.randint(-500, 500) if rng.random() < 0.05 else 0
            elif style == 1:
                v = rng.randint(-7, 7)
            elif style == 2:
                v = 0 if rng.random() < 0.99 else rng.choice([-1, 1])
            else:
                v = rng.randint(-1000, 1000)
            coefs.append(v)
        enc = _BlockEncoder(coefs, w, h, orient)
        data, nbp, npasses = enc.run()
        if nbp == 0:
            assert all(c == 0 for c in coefs)
            return
        assert npasses == 3 * nbp - 2
        assert _BlockDecoder(data, w, h, orient, nbp).run() == coefs

    def test_all_zero_block_has_no_passes(self):
        data, nbp, npasses = _BlockEncoder([0] * 12, 4, 3, 0).run()
        assert (data, nbp, npasses) == (b"", 0, 0)


class TestDWT:
    @pytest.mark.parametrize("trial", range(20))
    def test_2d_reversible(self, trial):
        rng = np.random.RandomState(trial)
        h, w = rng.randint(1, 60), rng.randint(1, 60)
        a = rng.randint(-128, 128, size=(h, w)).astype(np.int64)
        assert np.array_equal(_inv53_2d(*_fwd53_2d(a)), a)

    def test_multi_level_reversible(self):
        rng = np.random.RandomState(99)
        a = rng.randint(-128, 128, size=(83, 117)).astype(np.int64)
        ll, bands = a, []
        for _ in range(4):
            ll, hl, lh, hh = _fwd53_2d(ll)
            bands.append((hl, lh, hh))
        for hl, lh, hh in reversed(bands):
            ll = _inv53_2d(ll, hl, lh, hh)
        assert np.array_equal(ll, a)

    def test_flat_image_has_zero_detail(self):
        a = np.full((16, 16), 37, dtype=np.int64)
        ll, hl, lh, hh = _fwd53_2d(a)
        assert not hl.any() and not lh.any() and not hh.any()
        assert (ll == 37).all()


class TestTagTree:
    @pytest.mark.parametrize("trial", range(12))
    def test_packet_style_round_trip(self, trial):
        rng = random.Random(trial)
        nx, ny = rng.randint(1, 9), rng.randint(1, 9)
        incl = [rng.choice([0, 0, 0, 1]) for _ in range(nx * ny)]
        imsb = [rng.randint(0, 6) for _ in range(nx * ny)]
        ei, em = _TagTree(nx, ny), _TagTree(nx, ny)
        ei.set_leaves(incl)
        em.set_leaves(imsb)
        bw = _HdrWriter()
        for y in range(ny):
            for x in range(nx):
                ei.encode(bw, x, y, 1)
                if incl[y * nx + x] == 0:
                    em.encode(bw, x, y, imsb[y * nx + x] + 1)
        br = _HdrReader(bw.flush())
        di, dm = _TagTree(nx, ny), _TagTree(nx, ny)
        for y in range(ny):
            for x in range(nx):
                got = di.decode(br, x, y, 1)
                assert got == (incl[y * nx + x] == 0)
                if got:
                    t = 1
                    while not dm.decode(br, x, y, t):
                        t += 1
                    assert t - 1 == imsb[y * nx + x]

    def test_header_writer_stuffs_after_ff(self):
        bw = _HdrWriter()
        for _ in range(8):
            bw.put(1)          # 0xFF
        for _ in range(7):
            bw.put(1)          # 7 bits max in the stuffed byte
        data = bw.flush()
        assert data == b"\xff\x7f"
        br = _HdrReader(data)
        assert [br.get() for _ in range(15)] == [1] * 15


class TestFullImage:
    @pytest.mark.parametrize(
        "w,h,levels,wrap",
        [(32, 32, 2, True), (31, 29, 2, False), (96, 40, 3, True),
         (1, 1, 0, True), (5, 1, 2, True), (1, 7, 2, False),
         (64, 64, 0, False), (130, 67, 4, True)],
    )
    def test_lossless_round_trip(self, w, h, levels, wrap):
        rng = np.random.RandomState(w * 1000 + h)
        px = rng.randint(0, 256, size=h * w).astype(np.uint8).tobytes()
        data = encode_gray(w, h, px, levels=levels, jp2_wrap=wrap)
        assert is_jpx(data)
        assert decode_gray(data) == (w, h, px)

    def test_marker_image_round_trip(self):
        from pdf_ocr_spark.kernels.pixelcode import pixels_to_text, text_to_pixels

        w, h, px = text_to_pixels("hello jpx\nsecond line", cols=32)
        w2, h2, out = decode_gray(encode_gray(w, h, px, levels=2))
        assert (w2, h2, out) == (w, h, px)
        assert pixels_to_text(w2, h2, out) == "hello jpx\nsecond line"

    def test_is_jpx_rejects_other_formats(self):
        assert not is_jpx(b"\xff\xd8\xff\xe0JFIF")
        assert not is_jpx(b"%PDF-1.4")
        assert not is_jpx(b"")

    def test_rejects_bad_args(self):
        with pytest.raises(JP2Error):
            encode_gray(0, 4, b"")
        with pytest.raises(JP2Error):
            encode_gray(2, 2, b"abc")
        with pytest.raises(JP2Error):
            encode_gray(2, 2, b"abcd", cb_w=48)
        with pytest.raises(JP2Error):
            decode_gray(b"\x00" * 40)


class TestFuzz:
    def _sample(self):
        rng = np.random.RandomState(3)
        px = rng.randint(0, 256, size=48 * 40).astype(np.uint8).tobytes()
        return px, encode_gray(48, 40, px, levels=2)

    def test_every_truncation_raises_or_decodes(self):
        px, data = self._sample()
        rng = random.Random(17)
        for _ in range(80):
            cut = rng.randrange(1, len(data))
            try:
                decode_gray(data[:cut])
            except JP2Error:
                pass   # the expected loud failure

    def test_bit_flips_never_escape_jp2error(self):
        px, data = self._sample()
        rng = random.Random(23)
        for _ in range(80):
            b = bytearray(data)
            b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
            try:
                decode_gray(bytes(b))
            except JP2Error:
                pass   # corrupt streams may also decode to wrong pixels;
                       # they must never raise anything else or hang


class TestPipelineIntegration:
    def test_jpx_scan_branch_end_to_end(self):
        """The JPXDecode capture site (content.image_ocr_payload)
        decodes real pixels; the stub recognizes the marker; the
        truncated doc falls back to the fingerprint, not a failure."""
        from pdf_ocr_spark.fixtures.genpages import gen_jpx_scan_rows
        from pdf_ocr_spark.pipeline.extract_job import PAGE_SCHEMA, page_rows

        rows = gen_jpx_scan_rows()
        pages = pd.DataFrame(
            page_rows([r["url"] for r in rows], [bytes(r["html"]) for r in rows]),
            columns=PAGE_SCHEMA.fieldNames(),
        )
        assert (pages["status"] == "ok").all()
        assert pages["needs_ocr"].all()
        by_url = pages.set_index(["url", "page"])["page_text"]
        for d, row in enumerate(rows):
            n_pages = 1 + d % 2
            for p in range(1, n_pages + 1):
                text = str(by_url[(row["url"], p)])
                if d == len(rows) - 1 and p == 1:
                    assert text.startswith("[unrecognized image ")
                else:
                    assert text.startswith(f"jpx doc {d} page {p}")
