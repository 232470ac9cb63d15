"""From-scratch page rasterizer (SURVEY §2 S10): renders the content
interpreter's device-space geometry — painted rules, image placements,
glyph boxes — into a deterministic 8-bit grayscale bitmap (binary PGM,
"P5").

The reference rasterizes every page with PyMuPDF ``get_pixmap`` at a
configurable DPI — zoom = dpi/72, pixel = PDF point × zoom, top-left
pixel origin (/root/reference/pdf_ocr_with_boxes_v2.py:182-210,
/root/reference/pdf_ocr_with_boxes_v3.py:144-158) — and feeds the
images to OCR.  This kernel reproduces that geometry contract (same
zoom, same y-flip) from scratch over what our interpreter records.  It
is a COVERAGE rasterizer: it marks where ink is — strokes as thick
segments, image draws as gray fills, glyphs as black boxes — not a
full path-fill/Bézier renderer.  Its jobs:

* give VECTOR-ONLY text-less pages (charts, line-art scans re-drawn as
  strokes) a real raster payload so they reach the OCR branch like
  image-only pages do — without it those pages dead-end as empty text;
* provide a deterministic, hashable per-page raster for tests and the
  observability query (``raster_pages``).

Everything is bounded: output side is capped (the zoom shrinks to fit),
segments/fills are clipped to the bitmap, and the painter never raises
on degenerate geometry — the kernel no-raise promise extends here.
"""

from __future__ import annotations

from typing import Optional, Sequence, Tuple

DEFAULT_DPI = 200          # the reference v3/v4 default (v2 uses 150)
MAX_SIDE = 2048            # poison cap: a 20m-wide /MediaBox must not OOM
_GLYPH_INK = 0             # black boxes where text is
_RULE_INK = 0              # strokes paint black
_IMAGE_INK = 128           # image placements fill mid-gray


def rasterize_page(
    glyphs: Sequence,                       # content.Glyph
    rules: Sequence[Tuple[float, float, float, float]],
    image_draws: Sequence[Tuple[float, float, float, float]],
    width: float,
    height: float,
    dpi: int = DEFAULT_DPI,
    max_side: int = MAX_SIDE,
    image_payloads: Optional[Sequence[Optional[bytes]]] = None,
) -> bytes:
    """Render one page to a binary PGM (P5) byte string.

    Inputs are the device-space products of ``interpret_page``: glyph
    pen positions/advances (y-up), painted axis-aligned rules, and image
    draw bboxes.  Paint order is images → rules → glyphs, so text ink
    wins over fills where they overlap (deterministic).

    ``image_payloads`` (parallel to ``image_draws``, from
    ``PageResult.images``) supplies the drawn XObjects' encoded bytes:
    baseline-JPEG payloads are decoded with the from-scratch codec
    (kernels/pdf/jpeg.py) and their ACTUAL luma is resampled into the
    draw rect — the reference's real-pixmap rendering
    (/root/reference/pdf_ocr_with_boxes_v2.py:200-209).  Non-JPEG /
    corrupt payloads keep the legacy flat mid-gray coverage fill, so
    rasters of non-JPEG corpora are byte-identical to before."""
    zoom = float(dpi) / 72.0
    pw = max(1.0, float(width)) * zoom
    ph = max(1.0, float(height)) * zoom
    big = max(pw, ph)
    if big > max_side:           # deterministic shrink-to-fit, keeps aspect
        zoom *= max_side / big
    w = max(1, min(int(max(1.0, float(width)) * zoom + 0.5), max_side))
    h = max(1, min(int(max(1.0, float(height)) * zoom + 0.5), max_side))
    buf = bytearray(b"\xff") * (w * h)

    for k, (x0, y0, x1, y1) in enumerate(image_draws):
        payload = (
            image_payloads[k]
            if image_payloads is not None and k < len(image_payloads)
            else None
        )
        if payload is not None and _blit_image(
            buf, w, h, zoom, x0, y0, x1, y1, payload
        ):
            continue
        _fill_rect(buf, w, h, zoom, x0, y0, x1, y1, _IMAGE_INK)
    thick = max(1, int(zoom + 0.5))  # ~1pt stroke weight in pixels
    for x0, y0, x1, y1 in rules:
        _stroke_segment(buf, w, h, zoom, x0, y0, x1, y1, thick, _RULE_INK)
    for g in glyphs:
        if g.text and g.text.strip():
            _fill_rect(
                buf, w, h, zoom, g.x, g.y, g.x + g.adv, g.y + g.size, _GLYPH_INK
            )

    return b"P5\n%d %d\n255\n" % (w, h) + bytes(buf)


def parse_pgm(data: bytes) -> Tuple[int, int, bytes]:
    """Decode the P5 payload back to (width, height, pixels) — the test
    and overlay-consumer inverse of :func:`rasterize_page`."""
    if not data.startswith(b"P5\n"):
        raise ValueError("not a P5 PGM")
    head, _, rest = data.partition(b"\n255\n")
    dims = head.split(b"\n")[1].split()
    w, hh = int(dims[0]), int(dims[1])
    return w, hh, rest[: w * hh]


def ink_pixels(data: bytes) -> int:
    """Number of non-background pixels — the cheap scalar the
    observability query hashes alongside the full raster digest.
    bytes.count is C-level: a 2048² page costs one memchr sweep."""
    _, _, px = parse_pgm(data)
    return len(px) - px.count(255)


def _dev_to_px(zoom: float, h: int, x: float, y: float) -> Tuple[int, int]:
    """Device space (y-up points) → pixel (top-left origin), matching
    get_pixmap's pixel = point × zoom with the raster y-flip."""
    return int(x * zoom), h - 1 - int(y * zoom)


def _fill_rect(
    buf: bytearray,
    w: int,
    h: int,
    zoom: float,
    x0: float,
    y0: float,
    x1: float,
    y1: float,
    ink: int,
) -> None:
    if x1 < x0:
        x0, x1 = x1, x0
    if y1 < y0:
        y0, y1 = y1, y0
    px0, py1 = _dev_to_px(zoom, h, x0, y0)   # low y (device) → BOTTOM pixel row
    px1, py0 = _dev_to_px(zoom, h, x1, y1)
    px0, px1 = max(0, px0), min(w - 1, px1)
    py0, py1 = max(0, py0), min(h - 1, py1)
    if px0 > px1 or py0 > py1:
        return
    row = bytes([ink]) * (px1 - px0 + 1)
    for py in range(py0, py1 + 1):
        base = py * w
        buf[base + px0 : base + px1 + 1] = row


def _blit_image(
    buf: bytearray,
    w: int,
    h: int,
    zoom: float,
    x0: float,
    y0: float,
    x1: float,
    y1: float,
    payload: bytes,
) -> bool:
    """Decode an image payload (baseline JPEG, or P5 luma from the CCITT
    path) and nearest-resample it into the device-space rect.  Returns
    False (caller falls back to the flat coverage fill) when the payload
    is not decodable."""
    from pdf_ocr_spark.kernels.pdf.jpeg import JpegError, decode_gray, is_jpeg

    if is_jpeg(payload):
        try:
            iw, ih, px = decode_gray(payload)
        except JpegError:
            return False
    elif payload.startswith(b"P5\n"):
        # already-decoded pixels: CCITT images arrive as P5 luma
        # (content.image_ocr_payload → kernels/pdf/ccitt.py)
        try:
            iw, ih, px = parse_pgm(payload)
        except ValueError:
            return False
    else:
        return False
    if x1 < x0:
        x0, x1 = x1, x0
    if y1 < y0:
        y0, y1 = y1, y0
    px0, py1 = _dev_to_px(zoom, h, x0, y0)
    px1, py0 = _dev_to_px(zoom, h, x1, y1)
    px0c, px1c = max(0, px0), min(w - 1, px1)
    py0c, py1c = max(0, py0), min(h - 1, py1)
    rw, rh = px1 - px0 + 1, py1 - py0 + 1   # unclipped rect = sample space
    if px0c > px1c or py0c > py1c or rw <= 0 or rh <= 0:
        return True                          # fully off-bitmap: nothing to paint
    for py in range(py0c, py1c + 1):
        sy = (py - py0) * ih // rh           # top pixel row = image row 0
        base_img = sy * iw
        base = py * w
        row = bytearray(px1c - px0c + 1)
        for i, pxx in enumerate(range(px0c, px1c + 1)):
            sx = (pxx - px0) * iw // rw
            row[i] = px[base_img + sx]
        buf[base + px0c : base + px1c + 1] = row
    return True


def _stroke_segment(
    buf: bytearray,
    w: int,
    h: int,
    zoom: float,
    x0: float,
    y0: float,
    x1: float,
    y1: float,
    thick: int,
    ink: int,
) -> None:
    """Bresenham core with a square pen of side ``thick`` — handles any
    orientation even though the interpreter currently records only
    axis-aligned painted segments."""
    ax, ay = _dev_to_px(zoom, h, x0, y0)
    bx, by = _dev_to_px(zoom, h, x1, y1)
    dx, dy = abs(bx - ax), abs(by - ay)
    if dx > 4 * MAX_SIDE or dy > 4 * MAX_SIDE:  # wild coords: clip hard
        return
    sx = 1 if ax < bx else -1
    sy = 1 if ay < by else -1
    err = dx - dy
    half = thick // 2
    n = dx + dy + 1
    for _ in range(n):
        # square pen stamp, clipped
        qx0, qx1 = max(0, ax - half), min(w - 1, ax - half + thick - 1)
        qy0, qy1 = max(0, ay - half), min(h - 1, ay - half + thick - 1)
        if qx0 <= qx1:
            row = bytes([ink]) * (qx1 - qx0 + 1)
            for py in range(qy0, qy1 + 1):
                base = py * w
                buf[base + qx0 : base + qx1 + 1] = row
        if ax == bx and ay == by:
            break
        e2 = 2 * err
        if e2 > -dy:
            err -= dy
            ax += sx
        if e2 < dx:
            err += dx
            ay += sy
