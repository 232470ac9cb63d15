"""From-scratch JBIG2 codec (the PDF ``JBIG2Decode`` filter).

JBIG2 (ITU-T T.88 / ISO 14492) is the bi-level codec of high-compression
scanned PDFs (Xerox-class scanner output, Google Books era archives).
The reference renders real pixmaps whatever the codec
(/root/reference/pdf_ocr_with_boxes_v2.py:200-247); with this module all
FOUR real-world scan codecs (DCT, CCITT, JPX, JBIG2) reach the OCR
branch and the rasterizer as real decoded pixels.

Scope — the profiles real scanned PDFs actually carry, implemented on
BOTH sides so fixtures are deterministic:

* embedded-PDF segment organization (no file header): segment headers
  (§7.2, including referred-to segment lists), page information
  (§7.4.8), immediate (lossless) generic regions (§7.4.6), symbol
  dictionaries (§7.4.3 / §6.5), immediate (lossless) text regions
  (§7.4.4 / §6.4), end-of-page/file ignored
* generic region decoding (§6.2): arithmetic template 0 with the
  nominal AT pixel positions, TPGDON typical-prediction rows, OR
  composition onto the page bitmap — OR MMR=1 regions, whose body is
  a T.6 (G4) bitstream decoded by the shared CCITT kernel
  (kernels/pdf/ccitt.py; T.88 §6.2.6 defers to T.6 verbatim)
* symbol dictionaries (§6.5): arithmetic (SDHUFF=0) height-class /
  delta-width decoding, per-symbol generic bitmaps (template 0,
  TPGDON=0 per §6.5.8.1), IAEX export runs, referred-dictionary
  symbol import
* text regions (§6.4): arithmetic (SBHUFF=0) strip decoding — IADT /
  IAFS / IADS / IAIT coordinate coding, IAID symbol-ID tree of
  SBSYMCODELEN bits, all four REFCORNERs, SBSTRIPS ∈ {1,2,4,8},
  signed SBDSOFFSET, OR composition
* the arithmetic integer decoding procedure (Annex A.2/A.3) and its
  exact encoder mirror, used by both segment types
* the MQ arithmetic coder is shared with the JPEG 2000 kernel
  (kernels/pdf/jp2.py) — JBIG2 and JPEG 2000 specify the identical
  coder; here every context starts at state 0 / MPS 0 per §6.2.5.3
  (JBIG2 has no preset context table)

* Huffman-coded symbol dictionaries and text regions (SDHUFF/SBHUFF=1,
  §6.5.9 / §7.4.4.5): the T.88 Annex B standard tables B.1–B.15 with
  the B.3 canonical prefix-code assignment, collective height-class
  bitmaps (uncompressed rows or MMR via the shared CCITT kernel),
  runcode-coded symbol-ID tables (codes 32/33/34 repeats), and exact
  encoder mirrors — the profile fax-oriented JBIG2 encoders emit

Also supported: transposed text regions (vertical-text columns, both
coding paths) and /JBIG2Globals shared symbol dictionaries (the PDF
DecodeParms stream, processed ahead of the per-image segments in one
shared segment-number space — ISO 32000-1 §7.4.7).

Also: custom Huffman code-table segments (type 53 / selector 3,
§7.4.13) with an exact encoder mirror; generic templates 0-3 with
movable AT pixels; GENERIC REFINEMENT coding (§6.3: both refinement
templates, TPGRON typical rows, encoder mirrors) powering REFAGG=1
symbol dictionaries (single-instance refinement AND multi-instance
aggregates — embedded text regions composing known symbols) and
REFINE=1 text-region instances.

Also: HALFTONE coding (§6.6/§6.7) — pattern dictionaries (type 16,
arithmetic or MMR collective bitmaps, AT1 = (-HDPW, 0) per §6.7.5)
and immediate halftone regions (types 22/23): Annex C.5 grayscale
decoding (Gray-coded bitplanes MSB→LSB through ONE shared arithmetic
decoder and context table, OR all planes in one shared MMR stream
with reference resets and a single trailing EOFB when HMMR=1), the
§6.6.5.2 skewable grid placement ((HGX + m·HRY + n·HRX) >> 8 etc.,
offsets/vectors in 1/256-pixel units), HDEFPIXEL, OR composition,
and an exact encoder mirror (clustered-dot cell²+1 pattern ramp).

Out of scope (→ loud ``JBIG2Error``): Huffman-coded refinement,
HENABLESKIP / non-OR halftone composition, intermediate
(type 20/36) regions, unknown-length regions, retained contexts.

The 16-bit template context packs the nominal template-0 neighbourhood
in raster order (sorted by (y, x), MSB first) — the convention of the
open-source decoders (pdf.js's jbig2 coder builds the identical
reordered template).  Encoder and decoder are exact mirrors; pinned by
lossless round-trips, truncation fuzz, and frozen pipeline goldens.
"""

from __future__ import annotations

from typing import Dict, List, Optional, Sequence, Tuple

from pdf_ocr_spark.kernels.pdf.jp2 import MQDecoder, MQEncoder


class JBIG2Error(ValueError):
    """Malformed / truncated / unsupported JBIG2 data."""


# Generic-region templates (T.88 §6.2.5.3): fixed neighbourhood pixels
# per template as (dy, dx); templates 0 has 4 movable AT pixels, 1-3
# have one.  The context packs the fixed+AT union in sorted raster
# order (y, then x), MSB first — the convention of the open-source
# decoders (pdf.js builds the identical reordered template).
_GB_FIXED: Tuple[Tuple[Tuple[int, int], ...], ...] = (
    ((-2, -1), (-2, 0), (-2, 1),
     (-1, -2), (-1, -1), (-1, 0), (-1, 1), (-1, 2),
     (0, -4), (0, -3), (0, -2), (0, -1)),
    ((-2, -1), (-2, 0), (-2, 1), (-2, 2),
     (-1, -2), (-1, -1), (-1, 0), (-1, 1), (-1, 2),
     (0, -3), (0, -2), (0, -1)),
    ((-2, -1), (-2, 0), (-2, 1),
     (-1, -2), (-1, -1), (-1, 0), (-1, 1),
     (0, -2), (0, -1)),
    ((-1, -3), (-1, -2), (-1, -1), (-1, 0), (-1, 1),
     (0, -4), (0, -3), (0, -2), (0, -1)),
)
_GB_AT_COUNT = (4, 1, 1, 1)
# nominal AT positions per template, as (dy, dx)
_GB_NOMINAL_AT: Tuple[Tuple[Tuple[int, int], ...], ...] = (
    ((-1, 3), (-1, -3), (-2, 2), (-2, -2)),
    ((-1, 3),),
    ((-1, 2),),
    ((-1, 2),),
)
# TPGDON pseudo-pixel contexts per template (T.88 §6.2.5.7)
_TPGD_CTX = (0x9B25, 0x0795, 0x00E5, 0x0195)


def _gb_template(template: int,
                 at: Sequence[Tuple[int, int]]) -> Tuple[Tuple[int, int], ...]:
    """Sorted (y, x) raster-order pixel tuple for a generic template
    with its (possibly non-nominal) AT pixels."""
    return tuple(sorted(_GB_FIXED[template] + tuple(at)))


def _parse_at(raw: bytes, count: int) -> Tuple[Tuple[int, int], ...]:
    """AT pixel bytes → (dy, dx) pairs (each byte a signed int8; the
    wire order is (x, y) per §7.4.6.1)."""
    if len(raw) < 2 * count:
        raise JBIG2Error("truncated AT pixel list")
    out = []
    for i in range(count):
        dx = raw[2 * i] - 256 if raw[2 * i] > 127 else raw[2 * i]
        dy = raw[2 * i + 1] - 256 if raw[2 * i + 1] > 127 else raw[2 * i + 1]
        if dy > 0 or (dy == 0 and dx >= 0):
            raise JBIG2Error("non-causal AT pixel")
        out.append((dy, dx))
    return tuple(out)


_TEMPLATE0: Tuple[Tuple[int, int], ...] = _gb_template(0, _GB_NOMINAL_AT[0])

_NOMINAL_AT = bytes([0x03, 0xFF, 0xFD, 0xFF, 0x02, 0xFE, 0xFE, 0xFE])

_SEG_SYMBOL_DICT = 0
_SEG_TEXT_IMMEDIATE = 6
_SEG_TEXT_IMMEDIATE_LOSSLESS = 7
_SEG_PAGE_INFO = 48
_SEG_END_OF_PAGE = 49
_SEG_END_OF_FILE = 51
_SEG_GENERIC_IMMEDIATE = 38
_SEG_TABLES = 53
_SEG_GENERIC_IMMEDIATE_LOSSLESS = 39
_SEG_PATTERN_DICT = 16
_SEG_HALFTONE_IMMEDIATE = 22
_SEG_HALFTONE_IMMEDIATE_LOSSLESS = 23

_MAX_SYM_DIM = 1 << 14
_MAX_SYMS = 1 << 16
_MAX_INSTANCES = 1 << 24


class _Ctx(dict):
    """Lazily-allocated per-context [state, mps] table.  Keys are the
    16-bit generic-template ids (ints) and the integer-procedure
    ``(name, PREV)`` tuples — disjoint key spaces in one table, exactly
    the per-segment context lifetime §6.5.8.1/§6.4.7 require."""

    def __missing__(self, key):
        v = [0, 0]
        self[key] = v
        return v


def _context(bits: bytearray, w: int, h: int, x: int, y: int,
             pixels: Tuple[Tuple[int, int], ...] = None) -> int:
    cx = 0
    for dy, dx in (pixels or _TEMPLATE0):
        yy = y + dy
        xx = x + dx
        cx <<= 1
        if 0 <= yy < h and 0 <= xx < w and bits[yy * w + xx]:
            cx |= 1
    return cx


def _u32(v: int) -> bytes:
    return v.to_bytes(4, "big")


def _u16(v: int) -> bytes:
    return v.to_bytes(2, "big")


# --------------------------------------------------------------------------
# Arithmetic integer coding (T.88 Annex A) — decoder and exact mirror encoder
# --------------------------------------------------------------------------

# (prefix-length, value-bits, offset) ladder of A.2 step 2
_INT_RANGES = ((0, 2, 0), (1, 4, 4), (2, 6, 20),
               (3, 8, 84), (4, 12, 340), (5, 32, 4436))


class _IntDecoder:
    """IAx integer decoding (A.2) + IAID (A.3) over a shared MQDecoder.

    Contexts live in the decoder's shared table keyed ``(proc, PREV)``;
    returns ``None`` for OOB (the "negative zero" codeword).
    """

    def __init__(self, mq: MQDecoder) -> None:
        self.mq = mq

    def _bit(self, proc: str, prev: int) -> Tuple[int, int]:
        b = self.mq.decode((proc, prev))
        if prev < 256:
            prev = (prev << 1) | b
        else:
            prev = ((((prev << 1) | b) & 511) | 256)
        return b, prev

    def decode(self, proc: str) -> Optional[int]:
        prev = 1
        s, prev = self._bit(proc, prev)
        for i, (plen, nbits, offset) in enumerate(_INT_RANGES):
            if i < len(_INT_RANGES) - 1:
                more, prev = self._bit(proc, prev)
                if more:
                    continue
            v = 0
            for _ in range(nbits):
                b, prev = self._bit(proc, prev)
                v = (v << 1) | b
            v += offset
            if s and v == 0:
                return None                  # OOB
            return -v if s else v
        raise JBIG2Error("unreachable integer range")  # pragma: no cover

    def decode_id(self, symcodelen: int) -> int:
        prev = 1
        for _ in range(symcodelen):
            b = self.mq.decode(("IAID", prev))
            prev = (prev << 1) | b
        return prev - (1 << symcodelen)


class _IntEncoder:
    """Exact mirror of :class:`_IntDecoder` over a shared MQEncoder."""

    def __init__(self, mq: MQEncoder) -> None:
        self.mq = mq

    def _bit(self, proc: str, prev: int, b: int) -> int:
        self.mq.encode(b, (proc, prev))
        if prev < 256:
            return (prev << 1) | b
        return ((((prev << 1) | b) & 511) | 256)

    def encode(self, proc: str, value: Optional[int]) -> None:
        if value is None:                    # OOB = "negative zero"
            s, v = 1, 0
        else:
            s, v = (1, -value) if value < 0 else (0, value)
        prev = 1
        prev = self._bit(proc, prev, s)
        for i, (plen, nbits, offset) in enumerate(_INT_RANGES):
            last = i == len(_INT_RANGES) - 1
            hi = offset + (1 << nbits)
            if v < hi or last:
                if not last:
                    prev = self._bit(proc, prev, 0)
                rel = v - offset
                if rel < 0 or (last and rel >= (1 << nbits)):
                    raise JBIG2Error(f"integer {value} out of coder range")
                for k in range(nbits - 1, -1, -1):
                    prev = self._bit(proc, prev, (rel >> k) & 1)
                return
            prev = self._bit(proc, prev, 1)

    def encode_id(self, sym_id: int, symcodelen: int) -> None:
        prev = 1
        for k in range(symcodelen - 1, -1, -1):
            b = (sym_id >> k) & 1
            self.mq.encode(b, ("IAID", prev))
            prev = (prev << 1) | b


def _symcodelen(nsyms: int) -> int:
    """SBSYMCODELEN = max(1, ⌈log2(SBNUMSYMS)⌉) — the T.88 errata /
    pdf.js convention for arithmetic symbol-ID coding."""
    return max(1, (nsyms - 1).bit_length()) if nsyms > 1 else 1


# --------------------------------------------------------------------------
# Huffman coding (T.88 Annex B) — bit I/O, standard tables, line coders
# --------------------------------------------------------------------------


class _BitReader:
    """MSB-first bit reader over a bytes buffer (§B.4 bit order)."""

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.bitpos = 0

    def read(self, n: int) -> int:
        v = 0
        for _ in range(n):
            byte = self.bitpos >> 3
            if byte >= len(self.data):
                raise JBIG2Error("Huffman bitstream overrun")
            v = (v << 1) | ((self.data[byte] >> (7 - (self.bitpos & 7))) & 1)
            self.bitpos += 1
        return v

    def align(self) -> None:
        self.bitpos = (self.bitpos + 7) & ~7

    def read_bytes(self, n: int) -> bytes:
        """Aligned raw-byte read (collective bitmaps, MMR bodies)."""
        self.align()
        start = self.bitpos >> 3
        if start + n > len(self.data):
            raise JBIG2Error("Huffman bitstream overrun")
        self.bitpos += n * 8
        return self.data[start:start + n]


class _BitWriter:
    """Exact mirror of :class:`_BitReader`."""

    def __init__(self) -> None:
        self.buf = bytearray()
        self.nbits = 0

    def write(self, v: int, n: int) -> None:
        for k in range(n - 1, -1, -1):
            if self.nbits & 7 == 0:
                self.buf.append(0)
            if (v >> k) & 1:
                self.buf[-1] |= 0x80 >> (self.nbits & 7)
            self.nbits += 1

    def align(self) -> None:
        self.nbits = (self.nbits + 7) & ~7

    def write_bytes(self, data: bytes) -> None:
        self.align()
        self.buf.extend(data)
        self.nbits = len(self.buf) * 8

    def bytes(self) -> bytes:
        return bytes(self.buf)


# Annex B standard tables.  Line kinds: ("n", preflen, rangelen, low) =
# value in [low, low + 2^rangelen); ("l", preflen, low) = lower range,
# value = low - HTOFFSET (32 offset bits); ("u", preflen, low) = upper
# range, value = low + HTOFFSET (32 bits); ("o", preflen) = OOB.
# Transcribed from T.88 Annex B Tables B.1–B.15; every table's RANGELOW
# chain is contiguous (low_{i+1} = low_i + 2^rangelen_i), which
# cross-checks the rangelen/low columns, and prefix-code validity
# (Kraft sum ≤ 1, canonical assignment collision-free) is asserted at
# build time.
_STD_TABLES: Dict[int, Tuple] = {
    1: (("n", 1, 4, 0), ("n", 2, 8, 16), ("n", 3, 16, 272),
        ("u", 3, 65808)),
    2: (("n", 1, 0, 0), ("n", 2, 0, 1), ("n", 3, 0, 2), ("n", 4, 3, 3),
        ("n", 5, 6, 11), ("u", 6, 75), ("o", 6)),
    3: (("n", 8, 8, -256), ("n", 1, 0, 0), ("n", 2, 0, 1), ("n", 3, 0, 2),
        ("n", 4, 3, 3), ("n", 5, 6, 11), ("l", 8, -257), ("u", 7, 75),
        ("o", 6)),
    4: (("n", 1, 0, 1), ("n", 2, 0, 2), ("n", 3, 0, 3), ("n", 4, 3, 4),
        ("n", 5, 6, 12), ("u", 5, 76)),
    5: (("n", 7, 8, -255), ("n", 1, 0, 1), ("n", 2, 0, 2), ("n", 3, 0, 3),
        ("n", 4, 3, 4), ("n", 5, 6, 12), ("l", 7, -256), ("u", 6, 76)),
    6: (("n", 5, 10, -2048), ("n", 4, 9, -1024), ("n", 4, 8, -512),
        ("n", 4, 7, -256), ("n", 5, 6, -128), ("n", 5, 5, -64),
        ("n", 4, 5, -32), ("n", 2, 7, 0), ("n", 3, 7, 128),
        ("n", 3, 8, 256), ("n", 4, 9, 512), ("n", 4, 10, 1024),
        ("l", 6, -2049), ("u", 6, 2048)),
    7: (("n", 4, 9, -1024), ("n", 3, 8, -512), ("n", 4, 7, -256),
        ("n", 5, 6, -128), ("n", 5, 5, -64), ("n", 4, 5, -32),
        ("n", 4, 5, 0), ("n", 5, 5, 32), ("n", 5, 6, 64),
        ("n", 4, 7, 128), ("n", 3, 8, 256), ("n", 3, 9, 512),
        ("n", 3, 10, 1024), ("l", 5, -1025), ("u", 5, 2048)),
    8: (("n", 8, 3, -15), ("n", 9, 1, -7), ("n", 8, 1, -5),
        ("n", 9, 0, -3), ("n", 7, 0, -2), ("n", 4, 0, -1),
        ("n", 2, 1, 0), ("n", 5, 0, 2), ("n", 6, 0, 3), ("n", 3, 4, 4),
        ("n", 6, 1, 20), ("n", 4, 4, 22), ("n", 4, 5, 38),
        ("n", 5, 6, 70), ("n", 5, 7, 134), ("n", 6, 7, 262),
        ("n", 7, 8, 390), ("n", 6, 10, 646), ("l", 9, -16),
        ("u", 9, 1670), ("o", 2)),
    9: (("n", 8, 4, -31), ("n", 9, 2, -15), ("n", 8, 2, -11),
        ("n", 9, 1, -7), ("n", 7, 1, -5), ("n", 4, 1, -3),
        ("n", 3, 1, -1), ("n", 3, 1, 1), ("n", 5, 1, 3), ("n", 6, 1, 5),
        ("n", 3, 5, 7), ("n", 6, 2, 39), ("n", 4, 5, 43),
        ("n", 4, 6, 75), ("n", 5, 7, 139), ("n", 5, 8, 267),
        ("n", 6, 8, 523), ("n", 7, 9, 779), ("n", 6, 11, 1291),
        ("l", 9, -32), ("u", 9, 3339), ("o", 2)),
    10: (("n", 7, 4, -21), ("n", 8, 0, -5), ("n", 7, 0, -4),
         ("n", 5, 0, -3), ("n", 2, 2, -2), ("n", 5, 0, 2),
         ("n", 6, 0, 3), ("n", 7, 0, 4), ("n", 8, 0, 5), ("n", 2, 6, 6),
         ("n", 5, 5, 70), ("n", 6, 5, 102), ("n", 7, 6, 134),
         ("n", 8, 7, 198), ("n", 8, 8, 326), ("n", 8, 9, 582),
         ("n", 8, 10, 1094), ("n", 7, 11, 2118), ("l", 8, -22),
         ("u", 8, 4166), ("o", 2)),
    11: (("n", 1, 0, 1), ("n", 2, 1, 2), ("n", 4, 0, 4), ("n", 4, 1, 5),
         ("n", 5, 1, 7), ("n", 5, 2, 9), ("n", 6, 2, 13),
         ("n", 7, 2, 17), ("n", 7, 3, 21), ("n", 7, 4, 29),
         ("n", 7, 5, 45), ("n", 7, 6, 77), ("u", 7, 141)),
    12: (("n", 1, 0, 1), ("n", 2, 0, 2), ("n", 3, 1, 3), ("n", 5, 0, 5),
         ("n", 5, 1, 6), ("n", 6, 1, 8), ("n", 7, 0, 10),
         ("n", 7, 1, 11), ("n", 7, 2, 13), ("n", 7, 3, 17),
         ("n", 7, 4, 25), ("n", 8, 5, 41), ("u", 8, 73)),
    13: (("n", 1, 0, 1), ("n", 3, 0, 2), ("n", 4, 0, 3), ("n", 5, 0, 4),
         ("n", 4, 1, 5), ("n", 3, 3, 7), ("n", 6, 1, 15),
         ("n", 6, 2, 17), ("n", 6, 3, 21), ("n", 6, 4, 29),
         ("n", 6, 5, 45), ("n", 7, 6, 77), ("u", 7, 141)),
    14: (("n", 3, 0, -2), ("n", 3, 0, -1), ("n", 1, 0, 0),
         ("n", 3, 0, 1), ("n", 3, 0, 2)),
    15: (("n", 7, 4, -24), ("n", 6, 2, -8), ("n", 5, 1, -4),
         ("n", 4, 0, -2), ("n", 3, 0, -1), ("n", 1, 0, 0),
         ("n", 3, 0, 1), ("n", 4, 0, 2), ("n", 5, 1, 3), ("n", 6, 2, 5),
         ("n", 7, 4, 9), ("l", 7, -25), ("u", 7, 25)),
}


class _HuffTable:
    """Prefix-code table with the B.3 canonical assignment: codes are
    assigned per length in increasing PREFLEN, in table-line order
    within a length (PREFLEN 0 lines get no code)."""

    def __init__(self, lines: Sequence[Tuple]) -> None:
        self.lines = tuple(lines)
        coded = [ln for ln in self.lines if ln[1] > 0]
        maxlen = max((ln[1] for ln in coded), default=0)
        counts = [0] * (maxlen + 1)
        for ln in coded:
            counts[ln[1]] += 1
        firstcode = [0] * (maxlen + 2)
        for length in range(1, maxlen + 1):
            firstcode[length + 1] = (firstcode[length] + counts[length]) << 1
        nextcode = firstcode[1:maxlen + 2]
        self.decode_map: Dict[Tuple[int, int], Tuple] = {}
        self.encode_map: Dict[int, Tuple[int, int]] = {}
        kraft = 0
        for i, ln in enumerate(self.lines):
            plen = ln[1]
            if plen == 0:
                continue
            code = nextcode[plen - 1]
            nextcode[plen - 1] += 1
            if (plen, code) in self.decode_map or code >= (1 << plen):
                raise JBIG2Error("invalid Huffman table")
            self.decode_map[(plen, code)] = ln
            self.encode_map[i] = (plen, code)
            kraft += 1 << (maxlen - plen)
        if kraft > (1 << maxlen):
            raise JBIG2Error("over-subscribed Huffman table")

    def decode(self, r: _BitReader) -> Optional[int]:
        code = 0
        for plen in range(1, 33):
            code = (code << 1) | r.read(1)
            ln = self.decode_map.get((plen, code))
            if ln is None:
                continue
            kind = ln[0]
            if kind == "o":
                return None
            if kind == "n":
                return ln[3] + r.read(ln[2])
            if kind == "u":
                return ln[2] + r.read(32)
            return ln[2] - r.read(32)            # "l": lower range
        raise JBIG2Error("invalid Huffman code")

    def encode(self, w: _BitWriter, value: Optional[int]) -> None:
        for i, ln in enumerate(self.lines):
            kind = ln[0]
            if kind == "o":
                if value is None:
                    plen, code = self.encode_map[i]
                    w.write(code, plen)
                    return
                continue
            if value is None:
                continue
            if kind == "n" and ln[3] <= value < ln[3] + (1 << ln[2]):
                plen, code = self.encode_map[i]
                w.write(code, plen)
                w.write(value - ln[3], ln[2])
                return
            if kind == "u" and value >= ln[2]:
                plen, code = self.encode_map[i]
                w.write(code, plen)
                w.write(value - ln[2], 32)
                return
            if kind == "l" and value <= ln[2]:
                plen, code = self.encode_map[i]
                w.write(code, plen)
                w.write(ln[2] - value, 32)
                return
        raise JBIG2Error(f"value {value} not codable by Huffman table")


def _parse_table_segment(body: bytes) -> _HuffTable:
    """Custom code-table segment (type 53, §7.4.13 / B.2): flags
    (HTOOB, HTPS-1, HTRS-1), signed 32-bit HTLOW / HTHIGH, then a
    bitstream of (PREFLEN, RANGELEN) pairs tiling [HTLOW, HTHIGH),
    followed by the lower-range, upper-range, and (if HTOOB) OOB
    prefix lengths."""
    if len(body) < 9:
        raise JBIG2Error("short table segment")
    flags = body[0]
    htoob = flags & 1
    htps = ((flags >> 1) & 7) + 1
    htrs = ((flags >> 4) & 7) + 1
    low = int.from_bytes(body[1:5], "big", signed=True)
    high = int.from_bytes(body[5:9], "big", signed=True)
    if high <= low or high - low > 1 << 24:
        raise JBIG2Error("unreasonable table range")
    r = _BitReader(body[9:])
    lines: List[Tuple] = []
    cur = low
    while cur < high:
        pl = r.read(htps)
        rl = r.read(htrs)
        if rl > 32:
            raise JBIG2Error("unreasonable range length")
        lines.append(("n", pl, rl, cur))
        cur += 1 << rl
    lines.append(("l", r.read(htps), low - 1))
    lines.append(("u", r.read(htps), high))
    if htoob:
        lines.append(("o", r.read(htps)))
    return _HuffTable(lines)


def encode_table_segment_body(lines: Sequence[Tuple], htps: int = 8,
                              htrs: int = 8) -> bytes:
    """Exact mirror of :func:`_parse_table_segment` for fixtures: the
    normal lines must tile a contiguous range and appear in ascending
    order; lower/upper/OOB lines supply the out-of-range prefixes."""
    norm = [ln for ln in lines if ln[0] == "n"]
    lower = [ln for ln in lines if ln[0] == "l"]
    upper = [ln for ln in lines if ln[0] == "u"]
    oob = [ln for ln in lines if ln[0] == "o"]
    if not norm or not lower or not upper:
        raise JBIG2Error("custom table needs normal+lower+upper lines")
    low = norm[0][3]
    high = norm[-1][3] + (1 << norm[-1][2])
    w = _BitWriter()
    for ln in norm:
        w.write(ln[1], htps)
        w.write(ln[2], htrs)
    w.write(lower[0][1], htps)
    w.write(upper[0][1], htps)
    if oob:
        w.write(oob[0][1], htps)
    flags = (1 if oob else 0) | ((htps - 1) << 1) | ((htrs - 1) << 4)
    return (bytes([flags])
            + low.to_bytes(4, "big", signed=True)
            + high.to_bytes(4, "big", signed=True)
            + w.bytes())


_STD_BUILT: Dict[int, _HuffTable] = {}


def _std_table(n: int) -> _HuffTable:
    t = _STD_BUILT.get(n)
    if t is None:
        t = _STD_BUILT[n] = _HuffTable(_STD_TABLES[n])
    return t


def _sym_id_table(lengths: Sequence[int]) -> _HuffTable:
    """Symbol-ID prefix table from per-symbol code lengths (§7.4.4.5):
    line i decodes to symbol index i."""
    return _HuffTable(tuple(
        ("n", plen, 0, i) for i, plen in enumerate(lengths)
    ))


# --------------------------------------------------------------------------
# Generic bitmap coding (§6.2) — shared by region segments and symbol dicts
# --------------------------------------------------------------------------

def _encode_generic_bitmap(mq: MQEncoder, bits, w: int, h: int,
                           tpgdon: bool,
                           pixels: Tuple[Tuple[int, int], ...] = None,
                           tpgd_ctx: int = _TPGD_CTX[0]) -> None:
    ltp = 0
    prev = bytearray(w)          # the virtual all-zero row above row 0
    for y in range(h):
        base = y * w
        if tpgdon:
            row = bits[base:base + w]
            typical = 1 if row == prev else 0
            # SLTP is the TOGGLE of the typical-prediction state, not
            # the state itself (T.88 §6.2.5.7: LTP ^= SLTP per row)
            mq.encode(typical ^ ltp, tpgd_ctx)
            ltp = typical
            prev = row
            if ltp:
                continue         # decoder copies the row above
        for x in range(w):
            mq.encode(bits[base + x], _context(bits, w, h, x, y, pixels))


def _decode_generic_bitmap(mq: MQDecoder, w: int, h: int,
                           tpgdon: bool,
                           pixels: Tuple[Tuple[int, int], ...] = None,
                           tpgd_ctx: int = _TPGD_CTX[0]) -> bytearray:
    bits = bytearray(w * h)
    ltp = 0
    for y in range(h):
        base = y * w
        if tpgdon:
            ltp ^= mq.decode(tpgd_ctx)
            if ltp:
                if y:
                    bits[base:base + w] = bits[base - w:base]
                continue        # row 0: copy of the all-zero virtual row
        for x in range(w):
            if mq.decode(_context(bits, w, h, x, y, pixels)):
                bits[base + x] = 1
    return bits


# --------------------------------------------------------------------------
# Generic refinement coding (§6.3) — refined symbols / refined instances
# --------------------------------------------------------------------------

# refinement templates as (dy, dx): pixels read from the bitmap BEING
# decoded (causal) and from the REFERENCE bitmap (shifted by the
# GRREFERENCEDX/DY offsets).  Template 0 appends one movable AT pixel
# to each list (nominal (-1, -1) / (-1, -1)); the context packs coding
# then reference pixels MSB-first in list order — the open-source
# decoders' convention.
_GRR_CODING: Tuple[Tuple[Tuple[int, int], ...], ...] = (
    ((-1, 0), (-1, 1), (0, -1)),
    ((-1, -1), (-1, 0), (-1, 1), (0, -1)),
)
_GRR_REF: Tuple[Tuple[Tuple[int, int], ...], ...] = (
    ((-1, 0), (-1, 1), (0, -1), (0, 0), (0, 1), (1, -1), (1, 0), (1, 1)),
    ((-1, 0), (0, -1), (0, 0), (0, 1), (1, 0), (1, 1)),
)
_GRR_NOMINAL_AT: Tuple[Tuple[int, int], ...] = ((-1, -1), (-1, -1))
# TPGRON pseudo-pixel contexts per refinement template (§6.3.5.6)
_GRR_SLTP = (0x0020, 0x0008)


def _grr_templates(template: int, at):
    coding = list(_GRR_CODING[template])
    refer = list(_GRR_REF[template])
    if template == 0:
        coding.append(tuple(at[0]))
        refer.append(tuple(at[1]))
    return tuple(coding), tuple(refer)


def _bit_at(bits, w: int, h: int, x: int, y: int) -> int:
    if 0 <= y < h and 0 <= x < w and bits[y * w + x]:
        return 1
    return 0


def _ref_uniform(ref, rw: int, rh: int, x: int, y: int) -> Optional[int]:
    """The TPGRON 'typical pixel' rule (§6.3.5.6): if the 3×3 reference
    neighbourhood of (x, y) is uniform, the pixel takes that value."""
    total = 0
    for dy in (-1, 0, 1):
        for dx in (-1, 0, 1):
            total += _bit_at(ref, rw, rh, x + dx, y + dy)
    if total == 0:
        return 0
    if total == 9:
        return 1
    return None


def _decode_refinement_bitmap(mq: MQDecoder, w: int, h: int,
                              ref, rw: int, rh: int, dx: int, dy: int,
                              template: int, at, tpgron: bool) -> bytearray:
    coding, refer = _grr_templates(template, at)
    sltp_ctx = _GRR_SLTP[template]
    bits = bytearray(w * h)
    ltp = 0
    for y in range(h):
        if tpgron:
            ltp ^= mq.decode(sltp_ctx)
        for x in range(w):
            if ltp:
                forced = _ref_uniform(ref, rw, rh, x - dx, y - dy)
                if forced is not None:
                    if forced:
                        bits[y * w + x] = 1
                    continue
            cx = 0
            for py, px in coding:
                cx = (cx << 1) | _bit_at(bits, w, h, x + px, y + py)
            for py, px in refer:
                cx = (cx << 1) | _bit_at(ref, rw, rh,
                                         x - dx + px, y - dy + py)
            if mq.decode(cx):
                bits[y * w + x] = 1
    return bits


def _encode_refinement_bitmap(mq: MQEncoder, bits, w: int, h: int,
                              ref, rw: int, rh: int, dx: int, dy: int,
                              template: int, at, tpgron: bool) -> None:
    """Exact mirror of :func:`_decode_refinement_bitmap`.  With TPGRON
    the encoder may mark a row 'typical' only when every pixel with a
    uniform reference neighbourhood equals the forced value (lossless
    constraint); other rows keep LTP = 0."""
    coding, refer = _grr_templates(template, at)
    sltp_ctx = _GRR_SLTP[template]
    ltp = 0
    for y in range(h):
        if tpgron:
            want = 1
            for x in range(w):
                forced = _ref_uniform(ref, rw, rh, x - dx, y - dy)
                if forced is not None and forced != bits[y * w + x]:
                    want = 0
                    break
            mq.encode(want ^ ltp, sltp_ctx)
            ltp = want
        for x in range(w):
            if ltp:
                forced = _ref_uniform(ref, rw, rh, x - dx, y - dy)
                if forced is not None:
                    continue                 # decoder infers this pixel
            cx = 0
            for py, px in coding:
                cx = (cx << 1) | _bit_at(bits, w, h, x + px, y + py)
            for py, px in refer:
                cx = (cx << 1) | _bit_at(ref, rw, rh,
                                         x - dx + px, y - dy + py)
            mq.encode(bits[y * w + x], cx)


# --------------------------------------------------------------------------
# Segment framing (§7.2)
# --------------------------------------------------------------------------

def _segment(number: int, seg_type: int, page: int, data: bytes,
             refs: Sequence[int] = ()) -> bytes:
    """One segment with the short header forms (≤4 referred segments,
    1-byte referred numbers — valid while segment numbers stay ≤ 256)."""
    if len(refs) > 4 or number > 256 or any(r > 255 for r in refs):
        raise JBIG2Error("segment header out of short-form range")
    rts = bytes([len(refs) << 5]) + bytes(refs)
    return (_u32(number) + bytes([seg_type & 0x3F]) + rts +
            bytes([page]) + _u32(len(data)) + data)


def _parse_segment_header(
        data: bytes, pos: int) -> Tuple[int, List[int], int, int, int]:
    """→ (seg_type, referred_numbers, data_length, data_start, next_pos)."""
    if pos + 11 > len(data):
        raise JBIG2Error("truncated segment header")
    number = int.from_bytes(data[pos:pos + 4], "big")
    flags = data[pos + 4]
    seg_type = flags & 0x3F
    page_assoc_4 = bool(flags & 0x40)
    p = pos + 5
    rts = data[p]
    count = rts >> 5
    if count == 7:
        if p + 4 > len(data):
            raise JBIG2Error("truncated referred-to count")
        count = int.from_bytes(data[p:p + 4], "big") & 0x1FFFFFFF
        p += 4 + (count + 8) // 8        # long form + retain bits
    else:
        p += 1
    ref_size = 1 if number <= 256 else (2 if number <= 65536 else 4)
    if p + count * ref_size > len(data):
        raise JBIG2Error("truncated referred-to list")
    refs = [int.from_bytes(data[p + i * ref_size:p + (i + 1) * ref_size],
                           "big") for i in range(count)]
    p += count * ref_size
    p += 4 if page_assoc_4 else 1
    if p + 4 > len(data):
        raise JBIG2Error("truncated segment data length")
    length = int.from_bytes(data[p:p + 4], "big")
    p += 4
    if length == 0xFFFFFFFF:
        raise JBIG2Error("unknown-length segments unsupported")
    if p + length > len(data):
        raise JBIG2Error("truncated segment data")
    return seg_type, refs, length, p, p + length


# --------------------------------------------------------------------------
# Generic region segments (§7.4.6)
# --------------------------------------------------------------------------

def encode_bilevel(width: int, height: int, luma: bytes,
                   template: int = 0,
                   at: Optional[Sequence[Tuple[int, int]]] = None) -> bytes:
    """Encode an 8-bit grayscale buffer (thresholded at 128: dark=ink)
    as an embedded-PDF JBIG2 stream: page info + one immediate lossless
    generic region (TPGDON) + end-of-page.  ``template`` selects the
    generic template (0-3); ``at`` overrides the nominal AT pixels with
    (dy, dx) pairs — the decoder accepts any causal positions."""
    if width <= 0 or height <= 0 or len(luma) != width * height:
        raise JBIG2Error("bad image dimensions")
    if template not in (0, 1, 2, 3):
        raise JBIG2Error("bad generic template")
    at = tuple(at) if at is not None else _GB_NOMINAL_AT[template]
    if len(at) != _GB_AT_COUNT[template]:
        raise JBIG2Error("wrong AT pixel count for template")
    bits = bytearray(1 if b < 128 else 0 for b in luma)
    mq = MQEncoder(states=_Ctx())
    _encode_generic_bitmap(mq, bits, width, height, True,
                           _gb_template(template, at),
                           _TPGD_CTX[template])
    data = mq.flush()
    at_bytes = b"".join(
        bytes([dx & 0xFF, dy & 0xFF]) for dy, dx in at)
    region = (_u32(width) + _u32(height) + _u32(0) + _u32(0) +
              bytes([0x00]) +          # external combination op: OR
              bytes([0x08 | (template << 1)]) +  # MMR=0, TPGDON=1
              at_bytes + data)
    return (_segment(0, _SEG_PAGE_INFO, 1, _page_info(width, height)) +
            _segment(1, _SEG_GENERIC_IMMEDIATE_LOSSLESS, 1, region) +
            _segment(2, _SEG_END_OF_PAGE, 1, b""))


def encode_bilevel_mmr(width: int, height: int, luma: bytes) -> bytes:
    """Encode as an MMR (T.6/G4) generic region — JBIG2's §6.2.6 MMR=1
    variant, whose region body is the exact bitstream the shared CCITT
    kernel produces (black < 128 = ink)."""
    from pdf_ocr_spark.kernels.pdf import ccitt

    if width <= 0 or height <= 0 or len(luma) != width * height:
        raise JBIG2Error("bad image dimensions")
    body = ccitt.encode_g4(luma, width, height)
    region = (_u32(width) + _u32(height) + _u32(0) + _u32(0) +
              bytes([0x00]) +          # external combination op: OR
              bytes([0x01]) +          # MMR=1 (no AT pixels follow)
              body)
    return (_segment(0, _SEG_PAGE_INFO, 1, _page_info(width, height)) +
            _segment(1, _SEG_GENERIC_IMMEDIATE_LOSSLESS, 1, region) +
            _segment(2, _SEG_END_OF_PAGE, 1, b""))


def _page_info(width: int, height: int) -> bytes:
    return (_u32(width) + _u32(height) + _u32(0) + _u32(0) +
            bytes([0x01]) + b"\x00\x00")


def _decode_generic(body: bytes, page: bytearray,
                    pw: int, ph: int) -> None:
    if len(body) < 18:
        raise JBIG2Error("short generic region segment")
    rw = int.from_bytes(body[0:4], "big")
    rh = int.from_bytes(body[4:8], "big")
    rx = int.from_bytes(body[8:12], "big")
    ry = int.from_bytes(body[12:16], "big")
    gflags = body[17]
    if rx + rw > pw or ry + rh > ph:
        raise JBIG2Error("region exceeds page")
    if rw == 0 or rh == 0 or rw * rh > 64 << 20:
        raise JBIG2Error("unreasonable region size")
    if gflags & 0x01:
        # MMR=1: the region body is a T.6 (G4) bitstream (§6.2.6)
        from pdf_ocr_spark.kernels.pdf import ccitt

        try:
            w, h, luma = ccitt.decode(body[18:], columns=rw, rows=rh, k=-1)
        except ccitt.CcittError as exc:
            raise JBIG2Error(f"MMR region: {exc}") from exc
        if (w, h) != (rw, rh):
            raise JBIG2Error("MMR region dimension mismatch")
        bits = bytearray(1 if b < 128 else 0 for b in luma)
    else:
        template = (gflags >> 1) & 0x03
        tpgdon = bool(gflags & 0x08)
        nat = _GB_AT_COUNT[template]
        if len(body) < 18 + 2 * nat:
            raise JBIG2Error("short generic region segment")
        at = _parse_at(body[18:18 + 2 * nat], nat)
        mq = MQDecoder(body[18 + 2 * nat:], states=_Ctx())
        bits = _decode_generic_bitmap(
            mq, rw, rh, tpgdon, _gb_template(template, at),
            _TPGD_CTX[template])
    _compose_or(bits, rw, rh, page, pw, rx, ry)


def _compose_or(bits, rw: int, rh: int, page: bytearray,
                pw: int, rx: int, ry: int) -> None:
    for y in range(rh):
        src = y * rw
        dst = (ry + y) * pw + rx
        for x in range(rw):
            if bits[src + x]:
                page[dst + x] = 1      # OR composition


# --------------------------------------------------------------------------
# Symbol dictionary segments (§7.4.3 / §6.5)
# --------------------------------------------------------------------------

def _encode_symbol_dict_body(symbols: Sequence[Tuple[int, int, bytearray]]
                             ) -> bytes:
    """Arithmetic symbol dictionary exporting every symbol, in order.
    Consecutive same-height symbols share a height class; IADH/IADW are
    signed so the caller's order is preserved verbatim."""
    mq = MQEncoder(states=_Ctx())
    enc = _IntEncoder(mq)
    prev_h = 0
    i = 0
    while i < len(symbols):
        h = symbols[i][1]
        enc.encode("IADH", h - prev_h)
        prev_h = h
        symw = 0
        while i < len(symbols) and symbols[i][1] == h:
            w, _, bits = symbols[i]
            enc.encode("IADW", w - symw)
            symw = w
            _encode_generic_bitmap(mq, bits, w, h, tpgdon=False)
            i += 1
        enc.encode("IADW", None)             # OOB ends the height class
    enc.encode("IAEX", 0)                    # no un-exported prefix
    enc.encode("IAEX", len(symbols))         # export every symbol
    return (_u16(0x0000) +                   # SDHUFF=0 REFAGG=0 template 0
            _NOMINAL_AT +
            _u32(len(symbols)) + _u32(len(symbols)) +
            mq.flush())


def _encode_symbol_dict_body_refagg(
        new_syms: Sequence[Tuple[int, int, bytearray]],
        ref_specs: Sequence[Tuple[int, int, int]],
        input_syms: Sequence[Tuple[int, int, bytearray]]) -> bytes:
    """REFAGG=1 symbol dictionary: every new symbol is coded as a
    single-instance refinement of an already-known symbol (imported or
    earlier-in-dict).  ``ref_specs[i] = (ref_index, rdx, rdy)`` indexes
    the concatenation input_syms + new_syms[:i]."""
    mq = MQEncoder(states=_Ctx())
    enc = _IntEncoder(mq)
    symlen = _symcodelen(len(input_syms) + len(new_syms))
    prev_h = 0
    i = 0
    while i < len(new_syms):
        h = new_syms[i][1]
        enc.encode("IADH", h - prev_h)
        prev_h = h
        symw = 0
        while i < len(new_syms) and new_syms[i][1] == h:
            w, _, bits = new_syms[i]
            enc.encode("IADW", w - symw)
            symw = w
            spec = ref_specs[i]
            avail = list(input_syms) + list(new_syms[:i])
            if spec[0] == "agg":
                insts = spec[1]
                enc.encode("IAAI", len(insts))
                _encode_text_arith_core(enc, mq, avail, insts, 1, 1,
                                        False, {}, True, symlen)
            else:
                _tag, rid, rdx, rdy = spec
                if not 0 <= rid < len(avail):
                    raise JBIG2Error("refinement reference out of range")
                rw0, rh0, rbits = avail[rid]
                enc.encode("IAAI", 1)
                enc.encode_id(rid, symlen)
                enc.encode("IARDX", rdx)
                enc.encode("IARDY", rdy)
                _encode_refinement_bitmap(mq, bits, w, h, rbits, rw0,
                                          rh0, rdx, rdy, 0,
                                          _GRR_NOMINAL_AT, False)
            i += 1
        enc.encode("IADW", None)             # OOB ends the height class
    enc.encode("IAEX", len(input_syms))      # imports stay un-exported
    enc.encode("IAEX", len(new_syms))        # export every new symbol
    return (_u16(0x0002) +                   # SDHUFF=0 REFAGG=1, templates 0
            _NOMINAL_AT +
            b"\xff\xff\xff\xff" +            # nominal SDRAT (-1,-1)x2
            _u32(len(new_syms)) + _u32(len(new_syms)) +
            mq.flush())


def encode_symbol_page_refined(
        width: int, height: int,
        base_symbols: Sequence[Tuple[int, int, bytes]],
        refined: Sequence[Tuple[int, int, int, int, int, bytes]],
        instances: Sequence[Tuple[int, int, int]],
        refcorner: int = 1, logsbstrips: int = 0,
        aggregates: Sequence[Tuple] = ()) -> bytes:
    """Two-dictionary page exercising REFAGG: dict 1 codes
    ``base_symbols`` generically; dict 2 (REFAGG=1, importing dict 1)
    codes each ``refined`` entry ``(ref_idx, rdx, rdy, w, h, luma)`` as
    a refinement of symbol ``ref_idx`` in the combined list, and each
    ``aggregates`` entry ``(instances, w, h)`` as a multi-instance
    aggregate (embedded text region composing known symbols — e.g. an
    accented glyph from base + diacritic); the text region refers to
    BOTH dictionaries, so ``instances`` index base + refined +
    aggregated symbols — the structures real encoders emit for glyph
    variants."""
    if width <= 0 or height <= 0:
        raise JBIG2Error("bad page dimensions")
    if not base_symbols or not refined:
        raise JBIG2Error("refined page needs base and refined symbols")
    base: List[Tuple[int, int, bytearray]] = []
    for w, h, luma in base_symbols:
        if w <= 0 or h <= 0 or len(luma) != w * h:
            raise JBIG2Error("bad symbol dimensions")
        base.append((w, h, bytearray(1 if b < 128 else 0 for b in luma)))
    news: List[Tuple[int, int, bytearray]] = []
    specs: List[Tuple] = []
    for rid, rdx, rdy, w, h, luma in refined:
        if w <= 0 or h <= 0 or len(luma) != w * h:
            raise JBIG2Error("bad symbol dimensions")
        news.append((w, h, bytearray(1 if b < 128 else 0 for b in luma)))
        specs.append(("ref", rid, rdx, rdy))
    for insts, w, h in aggregates or ():
        # the aggregate's bitmap IS the drawing of its instances over
        # the symbols known so far — render it for export/reference
        avail = base + news
        bits = bytearray(w * h)
        for sid, x, y in insts:
            if not 0 <= sid < len(avail):
                raise JBIG2Error("aggregate symbol index out of range")
            sw0, sh0, sbits0 = avail[sid]
            _draw_symbol(bits, w, h, sbits0, sw0, sh0, x, y)
        news.append((w, h, bits))
        specs.append(("agg", list(insts)))
    all_syms = base + news
    for sid, x, y in instances:
        if not 0 <= sid < len(all_syms):
            raise JBIG2Error("instance symbol index out of range")
        if not (0 <= x < width and 0 <= y < height):
            raise JBIG2Error("instance origin outside page")
    dict1 = _encode_symbol_dict_body(base)
    dict2 = _encode_symbol_dict_body_refagg(news, specs, base)
    text_body = _encode_text_region_body(width, height, all_syms,
                                         instances, refcorner, logsbstrips)
    return (_segment(0, _SEG_PAGE_INFO, 1, _page_info(width, height)) +
            _segment(1, _SEG_SYMBOL_DICT, 1, dict1) +
            _segment(2, _SEG_SYMBOL_DICT, 1, dict2, refs=(1,)) +
            _segment(3, _SEG_TEXT_IMMEDIATE_LOSSLESS, 1, text_body,
                     refs=(1, 2)) +
            _segment(4, _SEG_END_OF_PAGE, 1, b""))


def _decode_symbol_dict(body: bytes,
                        input_syms: List[Tuple[int, int, bytearray]],
                        custom: Sequence[_HuffTable] = ()
                        ) -> List[Tuple[int, int, bytearray]]:
    if len(body) < 18:
        raise JBIG2Error("short symbol dictionary segment")
    flags = int.from_bytes(body[0:2], "big")
    if flags & 0x0001:
        return _decode_symbol_dict_huffman(body, flags, input_syms, custom)
    refagg = bool(flags & 0x0002)
    template = (flags >> 10) & 0x03
    rtemplate = (flags >> 12) & 0x01
    if flags & 0x6000:
        raise JBIG2Error("retained coding contexts unsupported")
    nat = _GB_AT_COUNT[template]
    at = _parse_at(body[2:2 + 2 * nat], nat)
    pixels = _gb_template(template, at)
    off = 2 + 2 * nat
    rat = _GRR_NOMINAL_AT
    if refagg and rtemplate == 0:
        rat = _parse_at(body[off:off + 4], 2)
        off += 4
    if len(body) < off + 8:
        raise JBIG2Error("short symbol dictionary segment")
    num_ex = int.from_bytes(body[off:off + 4], "big")
    num_new = int.from_bytes(body[off + 4:off + 8], "big")
    if num_new > _MAX_SYMS or num_ex > len(input_syms) + num_new:
        raise JBIG2Error("unreasonable symbol counts")
    symlen = _symcodelen(len(input_syms) + num_new)
    mq = MQDecoder(body[off + 8:], states=_Ctx())
    dec = _IntDecoder(mq)
    new_syms: List[Tuple[int, int, bytearray]] = []
    hc_height = 0
    while len(new_syms) < num_new:
        dh = dec.decode("IADH")
        if dh is None:
            raise JBIG2Error("OOB height-class delta")
        hc_height += dh
        if not 0 < hc_height <= _MAX_SYM_DIM:
            raise JBIG2Error("unreasonable symbol height")
        symw = 0
        while True:
            dw = dec.decode("IADW")
            if dw is None:
                break                        # OOB: height class done
            symw += dw
            if not 0 < symw <= _MAX_SYM_DIM:
                raise JBIG2Error("unreasonable symbol width")
            if len(new_syms) >= num_new:
                raise JBIG2Error("more symbols than declared")
            if symw * hc_height > 64 << 20:
                raise JBIG2Error("unreasonable symbol size")
            if refagg:
                # §6.5.8.2: refinement/aggregate coding.  The common
                # single-instance case refines an already-known symbol.
                ninst = dec.decode("IAAI")
                if ninst is None or not 1 <= ninst <= _MAX_INSTANCES:
                    raise JBIG2Error("bad aggregate instance count")
                avail = input_syms + new_syms
                if ninst == 1:
                    rid = dec.decode_id(symlen)
                    if not 0 <= rid < len(avail):
                        raise JBIG2Error(
                            "refinement reference out of range")
                    rdx = dec.decode("IARDX")
                    rdy = dec.decode("IARDY")
                    if rdx is None or rdy is None:
                        raise JBIG2Error("OOB refinement offset")
                    rw0, rh0, rbits = avail[rid]
                    bits = _decode_refinement_bitmap(
                        mq, symw, hc_height, rbits, rw0, rh0, rdx, rdy,
                        rtemplate, rat, tpgron=False)
                else:
                    # §6.5.8.2.1: multi-instance aggregate — the new
                    # symbol is an EMBEDDED TEXT REGION over the known
                    # symbols (SBSTRIPS=1, TOPLEFT, REFINE on),
                    # continuing the dictionary's arithmetic stream and
                    # integer contexts
                    bits = _decode_text_arith(
                        dec, mq, avail, symw, hc_height, ninst, 1,
                        1, 0, False, True, rtemplate, rat, symlen)
            else:
                bits = _decode_generic_bitmap(mq, symw, hc_height, False,
                                              pixels, _TPGD_CTX[template])
            new_syms.append((symw, hc_height, bits))
    all_syms = list(input_syms) + new_syms
    exported: List[Tuple[int, int, bytearray]] = []
    idx = 0
    cur_flag = 0
    while idx < len(all_syms):
        run = dec.decode("IAEX")
        if run is None or run < 0 or idx + run > len(all_syms):
            raise JBIG2Error("bad export run")
        if cur_flag:
            exported.extend(all_syms[idx:idx + run])
        idx += run
        cur_flag ^= 1
    if len(exported) != num_ex:
        raise JBIG2Error("export count mismatch")
    return exported


def _split_collective(coll: bytes, widths: Sequence[int], hc_height: int,
                      totwidth: int) -> List[Tuple[int, int, bytearray]]:
    """Split a height-class collective bitmap (1 byte per pixel, 0/1)
    into per-symbol bitmaps left to right (§6.5.9 step 4(c))."""
    out: List[Tuple[int, int, bytearray]] = []
    x0 = 0
    for w in widths:
        bits = bytearray(w * hc_height)
        for y in range(hc_height):
            src = y * totwidth + x0
            bits[y * w:(y + 1) * w] = coll[src:src + w]
        out.append((w, hc_height, bits))
        x0 += w
    return out


def _decode_collective(r: _BitReader, bmsize: int, totwidth: int,
                       hc_height: int) -> bytes:
    """Height-class collective bitmap (§6.5.9 step 4(b)): byte-aligned;
    BMSIZE=0 → uncompressed rows padded to byte boundaries, else an MMR
    (T.6) bitstream of exactly BMSIZE bytes."""
    if bmsize == 0:
        stride = (totwidth + 7) // 8
        raw = r.read_bytes(stride * hc_height)
        coll = bytearray(totwidth * hc_height)
        for y in range(hc_height):
            for x in range(totwidth):
                if raw[y * stride + (x >> 3)] & (0x80 >> (x & 7)):
                    coll[y * totwidth + x] = 1
        return bytes(coll)
    from pdf_ocr_spark.kernels.pdf import ccitt

    body = r.read_bytes(bmsize)
    try:
        w, h, luma = ccitt.decode(body, columns=totwidth, rows=hc_height,
                                  k=-1)
    except ccitt.CcittError as exc:
        raise JBIG2Error(f"collective bitmap MMR: {exc}") from exc
    if (w, h) != (totwidth, hc_height):
        raise JBIG2Error("collective bitmap dimension mismatch")
    return bytes(1 if b < 128 else 0 for b in luma)


def _decode_symbol_dict_huffman(body: bytes, flags: int,
                                input_syms: List[Tuple[int, int, bytearray]],
                                custom: Sequence[_HuffTable] = ()
                                ) -> List[Tuple[int, int, bytearray]]:
    """SDHUFF=1 symbol dictionary (§6.5.5 / §6.5.9): heights and widths
    via the selected Annex B tables, per-height-class collective
    bitmaps (uncompressed or MMR), EX runs via Table B.1.  No AT bytes
    in the header (§7.4.3.1.1: present only when SDHUFF is 0)."""
    if flags & 0x0002:
        raise JBIG2Error("refinement/aggregate symbol coding unsupported")
    if flags & 0x6000:
        raise JBIG2Error("retained coding contexts unsupported")
    dh_sel = (flags >> 2) & 0x03
    dw_sel = (flags >> 4) & 0x03
    ci = iter(custom)

    def _take() -> _HuffTable:
        try:
            return next(ci)
        except StopIteration:
            raise JBIG2Error("missing referred custom Huffman table")

    # selector 3 (and the 1-bit BMSIZE/AGGINST selectors) consume the
    # REFERRED table segments in field order (§7.4.3.1.6)
    if dh_sel == 2 or dw_sel == 2:
        raise JBIG2Error("reserved Huffman table selector")
    dh_tab = _take() if dh_sel == 3 else _std_table(4 + dh_sel)
    dw_tab = _take() if dw_sel == 3 else _std_table(2 + dw_sel)
    bmsize_tab = _take() if (flags >> 6) & 0x01 else _std_table(1)
    if (flags >> 7) & 0x01:
        _take()                              # AGGINST (unused: REFAGG=0)
    ex_tab = _std_table(1)                   # B.1 (§6.5.10)
    num_ex = int.from_bytes(body[2:6], "big")
    num_new = int.from_bytes(body[6:10], "big")
    if num_new > _MAX_SYMS or num_ex > len(input_syms) + num_new:
        raise JBIG2Error("unreasonable symbol counts")
    r = _BitReader(body[10:])
    new_syms: List[Tuple[int, int, bytearray]] = []
    hc_height = 0
    while len(new_syms) < num_new:
        dh = dh_tab.decode(r)
        if dh is None:
            raise JBIG2Error("OOB height-class delta")
        hc_height += dh
        if not 0 < hc_height <= _MAX_SYM_DIM:
            raise JBIG2Error("unreasonable symbol height")
        symw = 0
        totwidth = 0
        widths: List[int] = []
        while True:
            dw = dw_tab.decode(r)
            if dw is None:
                break                        # OOB: height class done
            symw += dw
            if not 0 < symw <= _MAX_SYM_DIM:
                raise JBIG2Error("unreasonable symbol width")
            if len(new_syms) + len(widths) >= num_new:
                raise JBIG2Error("more symbols than declared")
            totwidth += symw
            if totwidth * hc_height > 64 << 20:
                raise JBIG2Error("unreasonable symbol size")
            widths.append(symw)
        bmsize = bmsize_tab.decode(r)
        if bmsize is None or bmsize < 0:
            raise JBIG2Error("bad collective bitmap size")
        if widths:
            coll = _decode_collective(r, bmsize, totwidth, hc_height)
            new_syms.extend(
                _split_collective(coll, widths, hc_height, totwidth))
    all_syms = list(input_syms) + new_syms
    exported: List[Tuple[int, int, bytearray]] = []
    idx = 0
    cur_flag = 0
    while idx < len(all_syms):
        run = ex_tab.decode(r)
        if run is None or run < 0 or idx + run > len(all_syms):
            raise JBIG2Error("bad export run")
        if cur_flag:
            exported.extend(all_syms[idx:idx + run])
        idx += run
        cur_flag ^= 1
    if len(exported) != num_ex:
        raise JBIG2Error("export count mismatch")
    return exported


def _encode_symbol_dict_body_huffman(
        symbols: Sequence[Tuple[int, int, bytearray]],
        mmr: bool) -> bytes:
    """Huffman symbol dictionary exporting every symbol.  Requires the
    caller to present symbols sorted by (height, width): table B.4
    codes only DH ≥ 1 (strictly ascending height classes) and B.2 only
    DW ≥ 0 (non-decreasing widths within a class)."""
    w = _BitWriter()
    dh_tab = _std_table(4)
    dw_tab = _std_table(2)
    b1 = _std_table(1)
    prev_h = 0
    i = 0
    while i < len(symbols):
        h = symbols[i][1]
        if h <= prev_h:
            raise JBIG2Error("Huffman dict needs ascending height classes")
        dh_tab.encode(w, h - prev_h)
        prev_h = h
        symw = 0
        totwidth = 0
        cls: List[Tuple[int, int, bytearray]] = []
        while i < len(symbols) and symbols[i][1] == h:
            sw = symbols[i][0]
            if sw < symw:
                raise JBIG2Error("Huffman class needs ascending widths")
            dw_tab.encode(w, sw - symw)
            symw = sw
            totwidth += sw
            cls.append(symbols[i])
            i += 1
        dw_tab.encode(w, None)               # OOB ends the height class
        coll = bytearray(totwidth * h)
        x0 = 0
        for sw, _, sbits in cls:
            for y in range(h):
                coll[y * totwidth + x0:y * totwidth + x0 + sw] = (
                    sbits[y * sw:(y + 1) * sw])
            x0 += sw
        if mmr:
            from pdf_ocr_spark.kernels.pdf import ccitt

            luma = bytes(0 if b else 255 for b in coll)
            body = ccitt.encode_g4(luma, totwidth, h)
            b1.encode(w, len(body))
            w.write_bytes(body)
        else:
            b1.encode(w, 0)
            stride = (totwidth + 7) // 8
            raw = bytearray(stride * h)
            for y in range(h):
                for x in range(totwidth):
                    if coll[y * totwidth + x]:
                        raw[y * stride + (x >> 3)] |= 0x80 >> (x & 7)
            w.write_bytes(bytes(raw))
    b1.encode(w, 0)                          # no un-exported prefix
    b1.encode(w, len(symbols))               # export every symbol
    flags = 0x0001                           # SDHUFF=1, B.4/B.2/B.1 selectors
    return (_u16(flags) +
            _u32(len(symbols)) + _u32(len(symbols)) +
            w.bytes())


# --------------------------------------------------------------------------
# Text region segments (§7.4.4 / §6.4)
# --------------------------------------------------------------------------

def _text_strips(symbols, instances, refcorner: int, sbstrips: int,
                 transposed: bool, dims=None):
    """Group instances into strips of (S, T, sid, S-extent, inst_idx):
    for the normal orientation S runs along x and T is the corner's y
    edge; a TRANSPOSED region swaps the axes (S along y, T the
    corner's x edge — vertical text columns).  ``dims`` overrides the
    per-instance drawn size (refined instances)."""
    strips: Dict[int, List[Tuple[int, int, int, int, int]]] = {}
    for idx, (sid, x, y) in enumerate(instances):
        w, h, _ = symbols[sid]
        if dims is not None:
            w, h = dims[idx]
        if transposed:
            t = x if refcorner in (0, 1) else x + w - 1
            strips.setdefault(t // sbstrips, []).append((y, t, sid, h, idx))
        else:
            t = y if refcorner in (1, 3) else y + h - 1
            strips.setdefault(t // sbstrips, []).append((x, t, sid, w, idx))
    return strips


def _encode_text_arith_core(enc: "_IntEncoder", mq: MQEncoder, symbols,
                            instances, refcorner: int, sbstrips: int,
                            transposed: bool, refinements: Dict[int, Tuple],
                            refine: bool, symlen: int) -> None:
    """Arithmetic text-region instance loop over an EXISTING integer
    encoder / MQ stream — the exact mirror of :func:`_decode_text_arith`,
    shared between standalone text regions and the embedded text region
    of multi-instance aggregate symbol coding (§6.5.8.2.1)."""
    dims = None
    if refine:
        dims = []
        for idx, (sid, _x, _y) in enumerate(instances):
            w, h, _ = symbols[sid]
            if idx in refinements:
                rdw, rdh = refinements[idx][0], refinements[idx][1]
                w, h = w + rdw, h + rdh
            dims.append((w, h))
    strips = _text_strips(symbols, instances, refcorner, sbstrips,
                          transposed, dims)
    enc.encode("IADT", 0)                    # STRIPT init → 0
    stript_q = 0
    firsts = 0
    for q in sorted(strips):
        enc.encode("IADT", q - stript_q)
        stript_q = q
        first = True
        curs = 0
        for x, t, sid, w, idx in sorted(strips[q]):
            if first:
                enc.encode("IAFS", x - firsts)
                firsts = x
                curs = x
                first = False
            else:
                enc.encode("IADS", x - curs)
            curs = x
            if sbstrips > 1:
                enc.encode("IAIT", t - stript_q * sbstrips)
            enc.encode_id(sid, symlen)
            if refine:
                spec = refinements.get(idx)
                enc.encode("IARI", 1 if spec else 0)
                if spec:
                    rdw, rdh, rdx, rdy, rbits = spec
                    sw0, sh0, sbits0 = symbols[sid]
                    enc.encode("IARDW", rdw)
                    enc.encode("IARDH", rdh)
                    enc.encode("IARDX", rdx)
                    enc.encode("IARDY", rdy)
                    _encode_refinement_bitmap(
                        mq, rbits, sw0 + rdw, sh0 + rdh, sbits0, sw0,
                        sh0, (rdw >> 1) + rdx, (rdh >> 1) + rdy, 0,
                        _GRR_NOMINAL_AT, False)
            curs += w - 1
        enc.encode("IADS", None)             # OOB ends the strip


def _encode_text_region_body(
        rw: int, rh: int,
        symbols: Sequence[Tuple[int, int, bytearray]],
        instances: Sequence[Tuple[int, int, int]],
        refcorner: int, logsbstrips: int,
        transposed: bool = False,
        refinements: Optional[Dict[int, Tuple]] = None) -> bytes:
    """Immediate lossless text region placing ``instances`` of
    ``(sym_idx, x, y)`` with (x, y) the symbol's TOP-LEFT pixel — the
    encoder converts to the transmitted (S, T) per ``refcorner`` and
    ``transposed``.  ``refinements`` maps instance index →
    ``(rdw, rdh, rdx, rdy, bits)``: that instance transmits RI=1 and a
    refinement of its symbol (§6.4.11), drawn at the refined size."""
    sbstrips = 1 << logsbstrips
    symlen = _symcodelen(len(symbols))
    refine = bool(refinements)
    mq = MQEncoder(states=_Ctx())
    enc = _IntEncoder(mq)
    _encode_text_arith_core(enc, mq, symbols, instances, refcorner,
                            sbstrips, transposed, refinements or {},
                            refine, symlen)
    flags = (logsbstrips << 2) | (refcorner << 4) | (int(transposed) << 6)
    if refine:
        flags |= 0x0002
    rat_bytes = b"\xff\xff\xff\xff" if refine else b""
    return (_u32(rw) + _u32(rh) + _u32(0) + _u32(0) +
            bytes([0x00]) +                  # external combination op: OR
            _u16(flags) + rat_bytes +
            _u32(len(instances)) +
            mq.flush())


def _encode_text_region_body_huffman(
        rw: int, rh: int,
        symbols: Sequence[Tuple[int, int, bytearray]],
        instances: Sequence[Tuple[int, int, int]],
        refcorner: int, logsbstrips: int,
        transposed: bool = False,
        dt_custom: Optional[_HuffTable] = None) -> bytes:
    """SBHUFF=1 immediate lossless text region: standard tables B.6
    (FS) / B.8 (DS) / B.11 (DT) — or a referred CUSTOM DT table
    (selector 3) when ``dt_custom`` is given — uniform-length symbol-ID
    codes carried via the runcode table (the one coded runcode gets a
    1-bit prefix)."""
    sbstrips = 1 << logsbstrips
    strips = _text_strips(symbols, instances, refcorner, sbstrips,
                          transposed)
    fs_tab = _std_table(6)
    ds_tab = _std_table(8)
    dt_tab = dt_custom if dt_custom is not None else _std_table(11)
    symlen = _symcodelen(len(symbols))
    symtab = _sym_id_table([symlen] * len(symbols))
    w = _BitWriter()
    runlens = [0] * 35
    runlens[symlen] = 1
    for v in runlens:
        w.write(v, 4)
    for _ in symbols:                        # every length = the 1-bit code
        w.write(0, 1)
    w.align()
    dt_tab.encode(w, 1)                      # STRIPT init → -SBSTRIPS
    stript_q = -1
    firsts = 0
    for q in sorted(strips):
        dt_tab.encode(w, q - stript_q)       # ≥ 1, codable by B.11
        stript_q = q
        first = True
        curs = 0
        for x, t, sid, sw, _idx in sorted(strips[q]):
            if first:
                fs_tab.encode(w, x - firsts)
                firsts = x
                curs = x
                first = False
            else:
                ds_tab.encode(w, x - curs)
            curs = x
            if sbstrips > 1:
                w.write(t - q * sbstrips, logsbstrips)
            plen, code = symtab.encode_map[sid]
            w.write(code, plen)
            curs += sw - 1
        ds_tab.encode(w, None)               # OOB ends the strip
    flags = (0x0001 | (logsbstrips << 2) | (refcorner << 4)
             | (int(transposed) << 6))
    hflags = 0x0030 if dt_custom is not None else 0x0000  # DT selector 3
    return (_u32(rw) + _u32(rh) + _u32(0) + _u32(0) +
            bytes([0x00]) +                  # external combination op: OR
            _u16(flags) + _u16(hflags) +
            _u32(len(instances)) +
            w.bytes())


def encode_symbol_page_huffman(
        width: int, height: int,
        symbols: Sequence[Tuple[int, int, bytes]],
        instances: Sequence[Tuple[int, int, int]],
        refcorner: int = 1, logsbstrips: int = 0,
        mmr: bool = False, transposed: bool = False) -> bytes:
    """Huffman twin of :func:`encode_symbol_page` (SDHUFF=SBHUFF=1):
    symbol dictionary with collective height-class bitmaps
    (uncompressed, or MMR when ``mmr``) + Huffman text region.  The
    dictionary orders symbols by (height, width) — required by tables
    B.4/B.2 — and remaps instance indices accordingly, so callers use
    the same inputs as the arithmetic encoder and decode to the same
    page."""
    if width <= 0 or height <= 0:
        raise JBIG2Error("bad page dimensions")
    if not symbols:
        raise JBIG2Error("symbol page needs at least one symbol")
    if refcorner not in (0, 1, 2, 3) or logsbstrips not in (0, 1, 2, 3):
        raise JBIG2Error("bad refcorner/logsbstrips")
    syms: List[Tuple[int, int, bytearray]] = []
    for w, h, luma in symbols:
        if w <= 0 or h <= 0 or len(luma) != w * h:
            raise JBIG2Error("bad symbol dimensions")
        syms.append((w, h, bytearray(1 if b < 128 else 0 for b in luma)))
    order = sorted(range(len(syms)), key=lambda i: (syms[i][1], syms[i][0], i))
    remap = {old: new for new, old in enumerate(order)}
    sorted_syms = [syms[i] for i in order]
    # merge equal heights into one class: ascend strictly by DEDUPED
    # height (B.4 needs DH >= 1), widths ascend within a class (B.2)
    new_insts: List[Tuple[int, int, int]] = []
    for sid, x, y in instances:
        if not 0 <= sid < len(syms):
            raise JBIG2Error("instance symbol index out of range")
        if not (0 <= x < width and 0 <= y < height):
            raise JBIG2Error("instance origin outside page")
        new_insts.append((remap[sid], x, y))
    dict_body = _encode_symbol_dict_body_huffman(sorted_syms, mmr)
    text_body = _encode_text_region_body_huffman(
        width, height, sorted_syms, new_insts, refcorner, logsbstrips,
        transposed)
    return (_segment(0, _SEG_PAGE_INFO, 1, _page_info(width, height)) +
            _segment(1, _SEG_SYMBOL_DICT, 1, dict_body) +
            _segment(2, _SEG_TEXT_IMMEDIATE_LOSSLESS, 1, text_body,
                     refs=(1,)) +
            _segment(3, _SEG_END_OF_PAGE, 1, b""))


def _decode_text_region(body: bytes,
                        syms: List[Tuple[int, int, bytearray]],
                        page: bytearray, pw: int, ph: int,
                        custom: Sequence[_HuffTable] = ()) -> None:
    if len(body) < 23:
        raise JBIG2Error("short text region segment")
    rw = int.from_bytes(body[0:4], "big")
    rh = int.from_bytes(body[4:8], "big")
    rx = int.from_bytes(body[8:12], "big")
    ry = int.from_bytes(body[12:16], "big")
    if rx + rw > pw or ry + rh > ph:
        raise JBIG2Error("region exceeds page")
    if rw == 0 or rh == 0 or rw * rh > 64 << 20:
        raise JBIG2Error("unreasonable region size")
    flags = int.from_bytes(body[17:19], "big")
    huff = bool(flags & 0x0001)
    refine = bool(flags & 0x0002)
    rtemplate = (flags >> 15) & 0x01
    if refine and huff:
        raise JBIG2Error("Huffman refinement text coding unsupported")
    logsbstrips = (flags >> 2) & 0x03
    sbstrips = 1 << logsbstrips
    refcorner = (flags >> 4) & 0x03
    transposed = bool((flags >> 6) & 0x01)
    if (flags >> 7) & 0x03 != 0:
        raise JBIG2Error("only OR text composition supported")
    if (flags >> 9) & 0x01:
        raise JBIG2Error("SBDEFPIXEL=1 unsupported")
    dsoffset = (flags >> 10) & 0x1F
    if dsoffset > 15:
        dsoffset -= 32
    if not syms:
        raise JBIG2Error("text region with no symbols")
    top_corner = refcorner in (1, 3)
    if huff:
        if len(body) < 25:
            raise JBIG2Error("short text region segment")
        num_inst = int.from_bytes(body[21:25], "big")
        if num_inst > _MAX_INSTANCES:
            raise JBIG2Error("unreasonable instance count")
        bits = _decode_text_huffman(
            body, syms, rw, rh, num_inst, sbstrips, logsbstrips,
            refcorner, dsoffset, transposed, custom)
        _compose_or(bits, rw, rh, page, pw, rx, ry)
        return
    off = 19
    rat = _GRR_NOMINAL_AT
    if refine and rtemplate == 0:
        rat = _parse_at(body[off:off + 4], 2)
        off += 4
    if len(body) < off + 4:
        raise JBIG2Error("short text region segment")
    num_inst = int.from_bytes(body[off:off + 4], "big")
    if num_inst > _MAX_INSTANCES:
        raise JBIG2Error("unreasonable instance count")
    symlen = _symcodelen(len(syms))
    mq = MQDecoder(body[off + 4:], states=_Ctx())
    dec = _IntDecoder(mq)
    bits = _decode_text_arith(dec, mq, syms, rw, rh, num_inst, sbstrips,
                              refcorner, dsoffset, transposed, refine,
                              rtemplate, rat, symlen)
    _compose_or(bits, rw, rh, page, pw, rx, ry)


def _decode_text_arith(dec: "_IntDecoder", mq: MQDecoder, syms,
                       rw: int, rh: int, num_inst: int, sbstrips: int,
                       refcorner: int, dsoffset: int, transposed: bool,
                       refine: bool, rtemplate: int, rat,
                       symlen: int) -> bytearray:
    """Arithmetic text-region instance loop (§6.4.5) over an EXISTING
    integer decoder / MQ stream — shared between standalone text
    regions and the embedded text region of multi-instance aggregate
    symbol coding (§6.5.8.2.1, which continues the dictionary's
    arithmetic stream and contexts)."""
    top_corner = refcorner in (1, 3)
    bits = bytearray(rw * rh)
    dt0 = dec.decode("IADT")
    if dt0 is None:
        raise JBIG2Error("OOB STRIPT")
    stript = -dt0 * sbstrips
    firsts = 0
    n = 0
    guard = 0
    while n < num_inst:
        guard += 1
        if guard > num_inst + 1024:       # empty strips are bounded too
            raise JBIG2Error("runaway text region")
        dt = dec.decode("IADT")
        if dt is None:
            raise JBIG2Error("OOB strip delta")
        stript += dt * sbstrips
        first = True
        curs = 0
        while True:
            if first:
                dfs = dec.decode("IAFS")
                if dfs is None:
                    raise JBIG2Error("OOB first-symbol S")
                firsts += dfs
                curs = firsts
                first = False
            else:
                ids = dec.decode("IADS")
                if ids is None:
                    break                    # OOB: strip done
                curs += ids + dsoffset
            if n >= num_inst:
                raise JBIG2Error("more instances than declared")
            curt = 0 if sbstrips == 1 else dec.decode("IAIT")
            if curt is None:
                raise JBIG2Error("OOB T offset")
            tt = stript + curt
            sid = dec.decode_id(symlen)
            if not 0 <= sid < len(syms):
                raise JBIG2Error(f"symbol id {sid} out of range")
            sw, sh, sbits = syms[sid]
            if refine and dec.decode("IARI"):
                # §6.4.11: refined instance — the drawn bitmap is a
                # refinement of the symbol, offset by the RDW/RDH
                # half-deltas plus RDX/RDY
                rdw = dec.decode("IARDW")
                rdh = dec.decode("IARDH")
                rdx = dec.decode("IARDX")
                rdy = dec.decode("IARDY")
                if None in (rdw, rdh, rdx, rdy):
                    raise JBIG2Error("OOB refinement delta")
                iw, ih = sw + rdw, sh + rdh
                if not (0 < iw <= _MAX_SYM_DIM and 0 < ih <= _MAX_SYM_DIM):
                    raise JBIG2Error("unreasonable refined instance size")
                sbits = _decode_refinement_bitmap(
                    mq, iw, ih, sbits, sw, sh,
                    (rdw >> 1) + rdx, (rdh >> 1) + rdy,
                    rtemplate, rat, tpgron=False)
                sw, sh = iw, ih
            # untransposed: CURS runs along x, the drawn top-left x is
            # CURS and CURS advances by WS-1 (§6.4.5 step 3(c) vi-x
            # collapse to this).  TRANSPOSED=1 swaps the axes: CURS runs
            # along y, T is the x coordinate (LEFT corners reference the
            # left edge, RIGHT corners the right), CURS advances HS-1.
            if transposed:
                x0 = tt if refcorner in (0, 1) else tt - sw + 1
                _draw_symbol(bits, rw, rh, sbits, sw, sh, x0, curs)
                curs += sh - 1
            else:
                y0 = tt if top_corner else tt - sh + 1
                _draw_symbol(bits, rw, rh, sbits, sw, sh, curs, y0)
                curs += sw - 1
            n += 1
    return bits


def _draw_symbol(bits: bytearray, rw: int, rh: int, sbits: bytearray,
                 sw: int, sh: int, x0: int, y0: int) -> None:
    for yy in range(sh):
        ty = y0 + yy
        if not 0 <= ty < rh:
            continue
        rowbase = ty * rw
        sbase = yy * sw
        for xx in range(sw):
            tx = x0 + xx
            if 0 <= tx < rw and sbits[sbase + xx]:
                bits[rowbase + tx] = 1


def _read_sym_id_lengths(r: _BitReader, nsyms: int) -> List[int]:
    """Symbol-ID code lengths via the runcode scheme (§7.4.4.5): 35
    four-bit runcode prefix lengths, then runcodes 0..31 = literal
    length, 32 = repeat previous 3-6×, 33 = 3-10 zeros, 34 = 11-138
    zeros; byte-aligned afterwards."""
    runlens = [r.read(4) for _ in range(35)]
    runtab = _HuffTable(tuple(
        ("n", plen, 0, i) for i, plen in enumerate(runlens)
    ))
    lengths: List[int] = []
    prev = 0
    while len(lengths) < nsyms:
        c = runtab.decode(r)
        if c is None:
            raise JBIG2Error("bad symbol-ID runcode")
        if c < 32:
            lengths.append(c)
            prev = c
        elif c == 32:
            lengths.extend([prev] * (3 + r.read(2)))
        elif c == 33:
            lengths.extend([0] * (3 + r.read(3)))
        else:
            lengths.extend([0] * (11 + r.read(7)))
    if len(lengths) != nsyms:
        raise JBIG2Error("symbol-ID runcode overshoot")
    r.align()
    return lengths


def _decode_text_huffman(body: bytes, syms, rw: int, rh: int,
                         num_inst: int, sbstrips: int, logsbstrips: int,
                         refcorner: int, dsoffset: int,
                         transposed: bool = False,
                         custom: Sequence[_HuffTable] = ()) -> bytearray:
    """SBHUFF=1 text region body (§6.4.5 with Huffman reads): DT/FS/DS
    via the selected Annex B tables, CURT as raw log2(SBSTRIPS) bits,
    symbol IDs via the per-region runcode-built prefix table."""
    hflags = int.from_bytes(body[19:21], "big")
    fs_sel = hflags & 0x03
    ds_sel = (hflags >> 2) & 0x03
    dt_sel = (hflags >> 4) & 0x03
    ci = iter(custom)

    def _take() -> _HuffTable:
        try:
            return next(ci)
        except StopIteration:
            raise JBIG2Error("missing referred custom Huffman table")

    if fs_sel == 2:
        raise JBIG2Error("reserved Huffman table selector")
    fs_tab = _take() if fs_sel == 3 else _std_table(6 + fs_sel)
    ds_tab = _take() if ds_sel == 3 else _std_table(8 + ds_sel)
    dt_tab = _take() if dt_sel == 3 else _std_table(11 + dt_sel)
    # refinement-table selectors (hflags bits 6-14) are never consulted:
    # REFINE=1 is rejected above, so those tables are never read
    r = _BitReader(body[25:])
    symtab = _sym_id_table(_read_sym_id_lengths(r, len(syms)))
    bits = bytearray(rw * rh)
    dt0 = dt_tab.decode(r)
    if dt0 is None:
        raise JBIG2Error("OOB STRIPT")
    stript = -dt0 * sbstrips
    firsts = 0
    n = 0
    guard = 0
    while n < num_inst:
        guard += 1
        if guard > num_inst + 1024:       # empty strips are bounded too
            raise JBIG2Error("runaway text region")
        dt = dt_tab.decode(r)
        if dt is None:
            raise JBIG2Error("OOB strip delta")
        stript += dt * sbstrips
        first = True
        curs = 0
        while True:
            if first:
                dfs = fs_tab.decode(r)
                if dfs is None:
                    raise JBIG2Error("OOB first-symbol S")
                firsts += dfs
                curs = firsts
                first = False
            else:
                ids = ds_tab.decode(r)
                if ids is None:
                    break                    # OOB: strip done
                curs += ids + dsoffset
            if n >= num_inst:
                raise JBIG2Error("more instances than declared")
            curt = r.read(logsbstrips) if sbstrips > 1 else 0
            tt = stript + curt
            sid = symtab.decode(r)
            if sid is None or not 0 <= sid < len(syms):
                raise JBIG2Error(f"symbol id {sid} out of range")
            sw, sh, sbits = syms[sid]
            if transposed:
                x0 = tt if refcorner in (0, 1) else tt - sw + 1
                _draw_symbol(bits, rw, rh, sbits, sw, sh, x0, curs)
                curs += sh - 1
            else:
                y0 = tt if refcorner in (1, 3) else tt - sh + 1
                _draw_symbol(bits, rw, rh, sbits, sw, sh, curs, y0)
                curs += sw - 1
            n += 1
    return bits


def encode_symbol_page(width: int, height: int,
                       symbols: Sequence[Tuple[int, int, bytes]],
                       instances: Sequence[Tuple[int, int, int]],
                       refcorner: int = 1, logsbstrips: int = 0,
                       transposed: bool = False,
                       refinements: Optional[Dict[int, Tuple]] = None
                       ) -> bytes:
    """Encode a page as symbol dictionary + text region — the coding
    real scanned-text JBIG2 uses.  ``symbols`` are ``(w, h, luma8)``
    glyph bitmaps (dark < 128 = ink); ``instances`` are
    ``(symbol_index, x, y)`` placements with (x, y) the glyph's
    top-left pixel on the page.  ``refcorner``/``logsbstrips`` choose
    the transmitted corner (§6.4: 0=BL 1=TL 2=BR 3=TR) and strip height
    (2^logsbstrips) — the decoded page is identical for all choices."""
    if width <= 0 or height <= 0:
        raise JBIG2Error("bad page dimensions")
    if not symbols:
        raise JBIG2Error("symbol page needs at least one symbol")
    if refcorner not in (0, 1, 2, 3) or logsbstrips not in (0, 1, 2, 3):
        raise JBIG2Error("bad refcorner/logsbstrips")
    syms: List[Tuple[int, int, bytearray]] = []
    for w, h, luma in symbols:
        if w <= 0 or h <= 0 or len(luma) != w * h:
            raise JBIG2Error("bad symbol dimensions")
        syms.append((w, h, bytearray(1 if b < 128 else 0 for b in luma)))
    for sid, x, y in instances:
        if not 0 <= sid < len(syms):
            raise JBIG2Error("instance symbol index out of range")
        if not (0 <= x < width and 0 <= y < height):
            raise JBIG2Error("instance origin outside page")
    dict_body = _encode_symbol_dict_body(syms)
    refs_conv = None
    if refinements:
        refs_conv = {}
        for idx, (rdw, rdh, rdx, rdy, luma) in refinements.items():
            sid = instances[idx][0]
            sw0, sh0, _ = syms[sid]
            if len(luma) != (sw0 + rdw) * (sh0 + rdh):
                raise JBIG2Error("bad refined-instance dimensions")
            refs_conv[idx] = (rdw, rdh, rdx, rdy, bytearray(
                1 if b < 128 else 0 for b in luma))
    text_body = _encode_text_region_body(width, height, syms, instances,
                                         refcorner, logsbstrips, transposed,
                                         refs_conv)
    return (_segment(0, _SEG_PAGE_INFO, 1, _page_info(width, height)) +
            _segment(1, _SEG_SYMBOL_DICT, 1, dict_body) +
            _segment(2, _SEG_TEXT_IMMEDIATE_LOSSLESS, 1, text_body,
                     refs=(1,)) +
            _segment(3, _SEG_END_OF_PAGE, 1, b""))


def encode_symbol_page_globals(
        width: int, height: int,
        symbols: Sequence[Tuple[int, int, bytes]],
        instances: Sequence[Tuple[int, int, int]],
        refcorner: int = 1, logsbstrips: int = 0,
        transposed: bool = False) -> Tuple[bytes, bytes]:
    """→ ``(globals_stream, page_stream)``: the symbol dictionary rides
    in a shared JBIG2Globals stream (segment 0, page association 0)
    while the per-image stream carries page info + a text region
    REFERRING to the global dictionary + end-of-page — the PDF layout
    real scanner output uses to share one glyph dictionary across all
    pages (ISO 32000-1 §7.4.7).  Decode by passing the first stream as
    ``decode_bilevel(page_stream, globals_data=globals_stream)``."""
    if width <= 0 or height <= 0:
        raise JBIG2Error("bad page dimensions")
    if not symbols:
        raise JBIG2Error("symbol page needs at least one symbol")
    if refcorner not in (0, 1, 2, 3) or logsbstrips not in (0, 1, 2, 3):
        raise JBIG2Error("bad refcorner/logsbstrips")
    syms: List[Tuple[int, int, bytearray]] = []
    for w, h, luma in symbols:
        if w <= 0 or h <= 0 or len(luma) != w * h:
            raise JBIG2Error("bad symbol dimensions")
        syms.append((w, h, bytearray(1 if b < 128 else 0 for b in luma)))
    for sid, x, y in instances:
        if not 0 <= sid < len(syms):
            raise JBIG2Error("instance symbol index out of range")
        if not (0 <= x < width and 0 <= y < height):
            raise JBIG2Error("instance origin outside page")
    glob = _segment(0, _SEG_SYMBOL_DICT, 0, _encode_symbol_dict_body(syms))
    text_body = _encode_text_region_body(width, height, syms, instances,
                                         refcorner, logsbstrips, transposed)
    page = (_segment(1, _SEG_PAGE_INFO, 1, _page_info(width, height)) +
            _segment(2, _SEG_TEXT_IMMEDIATE_LOSSLESS, 1, text_body,
                     refs=(0,)) +
            _segment(3, _SEG_END_OF_PAGE, 1, b""))
    return glob, page


# --------------------------------------------------------------------------
# Pattern dictionaries (§6.7 / type 16) and halftone regions (§6.6 /
# types 22-23) — the coding scanned PHOTOS inside fax-class JBIG2 use
# --------------------------------------------------------------------------

def _pattern_at(template: int, hdpw: int) -> Tuple[Tuple[int, int], ...]:
    """§6.7.5: the collective pattern bitmap is decoded with
    AT1 = (-HDPW, 0) — one pattern-width left, same row — so each
    pattern predicts from its neighbour; AT2-AT4 stay nominal."""
    if template == 0:
        return ((0, -hdpw), (-1, -3), (-2, 2), (-2, -2))
    return ((0, -hdpw),)


def _decode_pattern_dict(body: bytes) -> List[Tuple[int, int, bytearray]]:
    """Pattern dictionary segment body (§7.4.4) → GRAYMAX+1 patterns,
    split out of one collective bitmap of side-by-side cells."""
    if len(body) < 7:
        raise JBIG2Error("short pattern dictionary")
    flags = body[0]
    hdmmr = flags & 0x01
    template = (flags >> 1) & 0x03
    hdpw = body[1]
    hdph = body[2]
    graymax = int.from_bytes(body[3:7], "big")
    if hdpw == 0 or hdph == 0:
        raise JBIG2Error("bad pattern dimensions")
    if graymax >= 1 << 12:
        raise JBIG2Error("unreasonable pattern count")
    npats = graymax + 1
    cw = npats * hdpw
    if cw * hdph > 64 << 20:
        raise JBIG2Error("unreasonable pattern dictionary size")
    if hdmmr:
        from pdf_ocr_spark.kernels.pdf import ccitt

        try:
            w, h, luma = ccitt.decode(body[7:], columns=cw, rows=hdph, k=-1)
        except ccitt.CcittError as exc:
            raise JBIG2Error(f"MMR pattern dictionary: {exc}") from exc
        if (w, h) != (cw, hdph):
            raise JBIG2Error("MMR pattern dictionary dimension mismatch")
        coll = bytearray(1 if b < 128 else 0 for b in luma)
    else:
        mq = MQDecoder(body[7:], states=_Ctx())
        coll = _decode_generic_bitmap(
            mq, cw, hdph, False,
            _gb_template(template, _pattern_at(template, hdpw)))
    pats: List[Tuple[int, int, bytearray]] = []
    for i in range(npats):
        bits = bytearray(hdpw * hdph)
        for y in range(hdph):
            row = y * cw + i * hdpw
            bits[y * hdpw:(y + 1) * hdpw] = coll[row:row + hdpw]
        pats.append((hdpw, hdph, bits))
    return pats


def _decode_halftone_region(body: bytes,
                            patterns: Sequence[Tuple[int, int, bytearray]],
                            page: bytearray, pw: int, ph: int) -> None:
    """Halftone region segment body (§7.4.5): Annex C.5 grayscale
    decode (Gray-coded bitplanes MSB→LSB, ONE shared arithmetic
    decoder + context across planes), then §6.6.5.2 grid rendering."""
    if not patterns:
        raise JBIG2Error("halftone region without pattern dictionary")
    if len({(w, h) for w, h, _ in patterns}) != 1:
        raise JBIG2Error("pattern dimension mismatch")
    if len(body) < 38:
        raise JBIG2Error("short halftone region segment")
    rw = int.from_bytes(body[0:4], "big")
    rh = int.from_bytes(body[4:8], "big")
    rx = int.from_bytes(body[8:12], "big")
    ry = int.from_bytes(body[12:16], "big")
    if rx + rw > pw or ry + rh > ph:
        raise JBIG2Error("region exceeds page")
    if rw == 0 or rh == 0 or rw * rh > 64 << 20:
        raise JBIG2Error("unreasonable region size")
    hflags = body[17]
    hmmr = hflags & 0x01
    template = (hflags >> 1) & 0x03
    if hflags & 0x08:
        raise JBIG2Error("HENABLESKIP halftone regions unsupported")
    if (hflags >> 4) & 0x07:
        raise JBIG2Error("non-OR halftone combination unsupported")
    defpixel = (hflags >> 7) & 0x01
    hgw = int.from_bytes(body[18:22], "big")
    hgh = int.from_bytes(body[22:26], "big")
    hgx = int.from_bytes(body[26:30], "big", signed=True)
    hgy = int.from_bytes(body[30:34], "big", signed=True)
    hrx = int.from_bytes(body[34:36], "big")
    hry = int.from_bytes(body[36:38], "big")
    if hgw == 0 or hgh == 0 or hgw * hgh > 16 << 20:
        raise JBIG2Error("unreasonable halftone grid")
    npats = len(patterns)
    nbits = (npats - 1).bit_length()
    cells = hgw * hgh
    values = [0] * cells
    if nbits:
        if hmmr:
            # C.5 with HMMR=1: ALL planes share one MMR stream, the
            # reference line resets between planes, one trailing EOFB
            from pdf_ocr_spark.kernels.pdf import ccitt

            try:
                lumas = ccitt.decode_g4_planes(body[38:], hgw, hgh, nbits)
            except ccitt.CcittError as exc:
                raise JBIG2Error(f"MMR grayscale: {exc}") from exc
            raw = [bytearray(1 if b < 128 else 0 for b in lm)
                   for lm in lumas]
        else:
            mq = MQDecoder(body[38:], states=_Ctx())
            tmpl = _gb_template(template, _GB_NOMINAL_AT[template])
            raw = [_decode_generic_bitmap(mq, hgw, hgh, False, tmpl)
                   for _ in range(nbits)]
        prev: Optional[bytearray] = None
        for j, plane in zip(range(nbits - 1, -1, -1), raw):
            if prev is not None:
                for i in range(cells):
                    plane[i] ^= prev[i]       # Gray → binary (C.5)
            bit = 1 << j
            for i in range(cells):
                if plane[i]:
                    values[i] |= bit
            prev = plane
    bits = bytearray(b"\x01" * (rw * rh)) if defpixel else bytearray(rw * rh)
    pat_w, pat_h, _ = patterns[0]
    for m in range(hgh):
        for n in range(hgw):
            v = values[m * hgw + n]
            if v >= npats:
                raise JBIG2Error("gray value exceeds pattern count")
            pbits = patterns[v][2]
            # §6.6.5.2: offsets and grid vectors are 1/256-pixel units;
            # the m step uses (HRY, HRX), the n step (HRX, -HRY) — a
            # rotation-capable grid.  Python's >> is the arithmetic
            # (floor) shift the spec requires for negative coordinates.
            x0 = (hgx + m * hry + n * hrx) >> 8
            y0 = (hgy + m * hrx - n * hry) >> 8
            for yy in range(pat_h):
                ty = y0 + yy
                if not 0 <= ty < rh:
                    continue
                src = yy * pat_w
                dst = ty * rw
                for xx in range(pat_w):
                    tx = x0 + xx
                    if 0 <= tx < rw and pbits[src + xx]:
                        bits[dst + tx] = 1
    _compose_or(bits, rw, rh, page, pw, rx, ry)


def _dither_order(cell: int) -> List[int]:
    """Deterministic clustered-dot fill order: pixels sorted by squared
    distance from the cell centre, ties broken in raster order."""
    c = (cell - 1) / 2.0
    idx = list(range(cell * cell))
    idx.sort(key=lambda i: (((i // cell) - c) ** 2 + ((i % cell) - c) ** 2,
                            i // cell, i % cell))
    return idx


def halftone_patterns(cell: int) -> List[bytes]:
    """cell²+1 clustered-dot patterns as luma buffers; pattern k has
    exactly k ink pixels (luma 0) — the gray ramp the dictionary
    transmits.  Shared with the tests' independent expected-page twin."""
    order = _dither_order(cell)
    pats = []
    for k in range(cell * cell + 1):
        luma = bytearray(b"\xff" * (cell * cell))
        for i in order[:k]:
            luma[i] = 0
        pats.append(bytes(luma))
    return pats


def halftone_gray_values(width: int, height: int, luma: bytes,
                         cell: int) -> Tuple[int, int, List[int]]:
    """→ (HGW, HGH, per-cell ink counts): the grayscale image the
    encoder transmits — each grid cell's count of dark (<128) input
    pixels, edge cells counting only in-page pixels."""
    hgw = (width + cell - 1) // cell
    hgh = (height + cell - 1) // cell
    values = []
    for m in range(hgh):
        for n in range(hgw):
            count = 0
            for yy in range(m * cell, min((m + 1) * cell, height)):
                base = yy * width
                for xx in range(n * cell, min((n + 1) * cell, width)):
                    if luma[base + xx] < 128:
                        count += 1
            values.append(count)
    return hgw, hgh, values


def encode_halftone_page(width: int, height: int, luma: bytes,
                         cell: int = 4, template: int = 0,
                         mmr_patterns: bool = False,
                         mmr_gray: bool = False) -> bytes:
    """Encode 8-bit grayscale as a JBIG2 HALFTONE page: a pattern
    dictionary of cell²+1 clustered-dot patterns plus one immediate
    lossless halftone region whose grayscale image is the per-cell ink
    count of the thresholded input (dark < 128).  The decoded page is
    the clustered-dot halftone of the input — deterministic, pinned by
    the tests' independent rendering twin.  ``mmr_patterns`` codes the
    pattern dictionary's collective bitmap as MMR (T.6) instead of
    arithmetic; ``mmr_gray`` codes the GRAYSCALE planes as one shared
    MMR stream (reference reset between planes, single trailing EOFB —
    T.88 C.5 / §6.6.5.1)."""
    if width <= 0 or height <= 0 or len(luma) != width * height:
        raise JBIG2Error("bad image dimensions")
    if not 2 <= cell <= 15:
        raise JBIG2Error("bad halftone cell size")
    if template not in (0, 1, 2, 3):
        raise JBIG2Error("bad generic template")
    pats = halftone_patterns(cell)
    npats = len(pats)
    cw = npats * cell
    coll = bytearray(cw * cell)
    for i, pat in enumerate(pats):
        for y in range(cell):
            for x in range(cell):
                if pat[y * cell + x] < 128:
                    coll[y * cw + i * cell + x] = 1
    if mmr_patterns:
        from pdf_ocr_spark.kernels.pdf import ccitt

        coll_luma = bytes(0 if b else 255 for b in coll)
        dict_body = (bytes([0x01 | (template << 1), cell, cell]) +
                     _u32(npats - 1) + ccitt.encode_g4(coll_luma, cw, cell))
    else:
        mq = MQEncoder(states=_Ctx())
        _encode_generic_bitmap(mq, coll, cw, cell, False,
                               _gb_template(template,
                                            _pattern_at(template, cell)))
        dict_body = (bytes([template << 1, cell, cell]) +
                     _u32(npats - 1) + mq.flush())
    hgw, hgh, values = halftone_gray_values(width, height, luma, cell)
    nbits = (npats - 1).bit_length()
    cells = hgw * hgh
    # binary → Gray code (C.5 mirror): gray[MSB] = bit[MSB],
    # gray[j] = bit[j] ^ bit[j+1]
    gray_planes = []
    for j in range(nbits - 1, -1, -1):
        plane = bytearray(cells)
        for i in range(cells):
            bit = (values[i] >> j) & 1
            if j < nbits - 1:
                bit ^= (values[i] >> (j + 1)) & 1
            plane[i] = bit
        gray_planes.append(plane)
    if mmr_gray:
        from pdf_ocr_spark.kernels.pdf import ccitt

        gray_data = (
            ccitt.encode_g4_planes(
                [bytes(0 if b else 255 for b in p) for p in gray_planes],
                hgw, hgh)
            if nbits else b""
        )
    else:
        mq = MQEncoder(states=_Ctx())
        tmpl = _gb_template(template, _GB_NOMINAL_AT[template])
        for plane in gray_planes:
            _encode_generic_bitmap(mq, plane, hgw, hgh, False, tmpl)
        gray_data = mq.flush() if nbits else b""
    region = (_u32(width) + _u32(height) + _u32(0) + _u32(0) +
              bytes([0x00]) +               # external combination op: OR
              bytes([(template << 1) | (1 if mmr_gray else 0)]) +
              _u32(hgw) + _u32(hgh) + _u32(0) + _u32(0) +
              _u16(cell << 8) + _u16(0) +   # axis-aligned cell-size grid
              gray_data)
    return (_segment(0, _SEG_PAGE_INFO, 1, _page_info(width, height)) +
            _segment(1, _SEG_PATTERN_DICT, 1, dict_body) +
            _segment(2, _SEG_HALFTONE_IMMEDIATE_LOSSLESS, 1, region,
                     refs=(1,)) +
            _segment(3, _SEG_END_OF_PAGE, 1, b""))


# --------------------------------------------------------------------------
# Top-level decode
# --------------------------------------------------------------------------

def decode_bilevel(data: bytes,
                   globals_data: Optional[bytes] = None
                   ) -> Tuple[int, int, bytes]:
    """Decode an embedded-PDF JBIG2 stream → (w, h, luma 0/255).

    ``globals_data`` is the PDF ``/DecodeParms /JBIG2Globals`` stream
    (ISO 32000-1 §7.4.7): a segment sequence — typically shared symbol
    dictionaries — processed BEFORE the per-image stream, with the two
    streams sharing one segment-number space so the image's text
    regions can refer to the global dictionaries."""
    data = bytes(data)
    pw = ph = None
    page: bytearray = bytearray()
    saw_region = False
    sym_dicts: Dict[int, List[Tuple[int, int, bytearray]]] = {}
    tables: Dict[int, _HuffTable] = {}
    pat_dicts: Dict[int, List[Tuple[int, int, bytearray]]] = {}
    streams = ([bytes(globals_data)] if globals_data else []) + [data]
    for data in streams:
        pw, ph, page, saw_region = _walk_segments(
            data, pw, ph, page, saw_region, sym_dicts, tables, pat_dicts)
    if pw is None or not saw_region:
        raise JBIG2Error("no page/region segments")
    return pw, ph, bytes(0 if b else 255 for b in page)


def _walk_segments(data, pw, ph, page, saw_region, sym_dicts, tables,
                   pat_dicts):
    pos = 0
    while pos < len(data):
        seg_type, refs, length, start, nxt = _parse_segment_header(data, pos)
        body = data[start:start + length]
        if seg_type == _SEG_PAGE_INFO:
            if len(body) < 19:
                raise JBIG2Error("short page info")
            pw = int.from_bytes(body[0:4], "big")
            ph = int.from_bytes(body[4:8], "big")
            if not (0 < pw <= 1 << 16 and 0 < ph <= 1 << 16):
                raise JBIG2Error("unreasonable page dimensions")
            page = bytearray(pw * ph)
        elif seg_type == _SEG_SYMBOL_DICT:
            input_syms: List[Tuple[int, int, bytearray]] = []
            for r in refs:
                input_syms.extend(sym_dicts.get(r, []))
            custom = [tables[r] for r in refs if r in tables]
            number = int.from_bytes(data[pos:pos + 4], "big")
            sym_dicts[number] = _decode_symbol_dict(body, input_syms,
                                                    custom)
        elif seg_type == _SEG_TABLES:
            number = int.from_bytes(data[pos:pos + 4], "big")
            tables[number] = _parse_table_segment(body)
        elif seg_type in (_SEG_TEXT_IMMEDIATE,
                          _SEG_TEXT_IMMEDIATE_LOSSLESS):
            if pw is None:
                raise JBIG2Error("text region before page info")
            syms: List[Tuple[int, int, bytearray]] = []
            for r in refs:
                syms.extend(sym_dicts.get(r, []))
            custom = [tables[r] for r in refs if r in tables]
            _decode_text_region(body, syms, page, pw, ph, custom)
            saw_region = True
        elif seg_type in (_SEG_GENERIC_IMMEDIATE,
                          _SEG_GENERIC_IMMEDIATE_LOSSLESS):
            if pw is None:
                raise JBIG2Error("generic region before page info")
            _decode_generic(body, page, pw, ph)
            saw_region = True
        elif seg_type == _SEG_PATTERN_DICT:
            number = int.from_bytes(data[pos:pos + 4], "big")
            pat_dicts[number] = _decode_pattern_dict(body)
        elif seg_type in (_SEG_HALFTONE_IMMEDIATE,
                          _SEG_HALFTONE_IMMEDIATE_LOSSLESS):
            if pw is None:
                raise JBIG2Error("halftone region before page info")
            pats: List[Tuple[int, int, bytearray]] = []
            for r in refs:
                pats.extend(pat_dicts.get(r, []))
            _decode_halftone_region(body, pats, page, pw, ph)
            saw_region = True
        elif seg_type in (_SEG_END_OF_PAGE, _SEG_END_OF_FILE, 50, 62):
            pass                        # end-of-stripe/extension: ignore
        else:
            raise JBIG2Error(f"unsupported segment type {seg_type}")
        pos = nxt
    return pw, ph, page, saw_region
