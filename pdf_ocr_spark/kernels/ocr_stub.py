"""Deterministic OCR engine stub + the batched-inference client interface.

In production this slot is filled by a real engine exactly the way the
reference does it: PaddleOCR in-process
(/root/reference/pdf_ocr_with_boxes_v2.py:235-247), DeepSeek-OCR
(/root/reference/parse_student_answers.py:232-242), or a remote
OpenAI-compatible VLM endpoint batched per partition
(/root/reference/pdf_ocr_with_silicon_remote_vllm.py:162-232).  The sandbox
has no OCR models, so the stub is a pure deterministic function: fixture
"scanned" pages embed their ground-truth text in the image stream behind a
marker, and unknown images produce a stable fingerprint line.  The Spark
plumbing around it — partition-batched ``mapInArrow``, one engine init per
executor python worker, confidence filtering — is real and is what the
benchmark measures.
"""

from __future__ import annotations

import hashlib
from typing import List, Optional, Sequence, Tuple

# fixture marker: generated pdf_scan pages carry b"OCRSTUB:" + utf-8 text
# inside their image XObject stream (see fixtures/genpages.py)
STUB_MARKER = b"OCRSTUB:"

# reference default: Config.OCR_MIN_CONFIDENCE = 0.5
# (/root/reference/pdf_ocr_with_boxes_v2.py:119-123)
OCR_MIN_CONFIDENCE = 0.5


class OcrEngine:
    """Interface every OCR backend implements.

    ``recognize_batch`` takes N page images and returns N results, each
    either a list of (text, confidence) boxes in detector order — the
    exact shape the reference consumes from PaddleOCR (text, quad, score
    triples, /root/reference/pdf_ocr_with_boxes_v2.py:276-391) — or
    ``None`` meaning THE ENGINE FAILED on that page (e.g. remote API
    error after retries).  ``None`` is distinct from ``[]`` (a blank
    page): the pipeline surfaces it as a typed ``ocr_failed`` document
    failure so resume can reprocess it instead of committing silent
    data loss."""

    def recognize_batch(
        self, images: Sequence[Optional[bytes]]
    ) -> List[Optional[List[Tuple[str, float]]]]:
        raise NotImplementedError


class StubOcrEngine(OcrEngine):
    """Deterministic sandbox engine.  NOT a real OCR implementation.

    Recognition order per image:
      1. baseline JPEG (DCTDecode payloads) → decode REAL pixels with the
         from-scratch codec (kernels/pdf/jpeg.py) and read the pixel-grid
         marker (kernels/pixelcode.py) — the honest sandbox analogue of
         the reference OCRing rendered pixmaps
         (/root/reference/pdf_ocr_with_boxes_v2.py:200-209,235-247);
      2. legacy byte-stream STUB_MARKER (uncompressed fixture scans);
      3. stable fingerprint line (unknown image — still deterministic).
    """

    def recognize_batch(
        self, images: Sequence[Optional[bytes]]
    ) -> List[List[Tuple[str, float]]]:
        from pdf_ocr_spark.kernels.pdf.jpeg import JpegError, decode_gray, is_jpeg
        from pdf_ocr_spark.kernels.pixelcode import pixels_to_text

        out: List[List[Tuple[str, float]]] = []
        for img in images:
            if not img:
                out.append([])
                continue
            if is_jpeg(img):
                try:
                    w, h, px = decode_gray(img)
                    text = pixels_to_text(w, h, px)
                except JpegError:
                    text = None  # corrupt JPEG → fingerprint fallback below
                if text is not None:
                    out.append(
                        [(ln, 0.99) for ln in text.split("\n") if ln.strip()]
                    )
                    continue
            elif img.startswith(b"P5\n"):
                # P5 payloads carry ALREADY-DECODED pixels: CCITT scans
                # (kernels/pdf/ccitt.py via content.image_ocr_payload)
                # and rasterized vector pages (kernels/pdf/raster.py)
                from pdf_ocr_spark.kernels.pdf.raster import parse_pgm

                try:
                    w, h, px = parse_pgm(img)
                    text = pixels_to_text(w, h, px)
                except ValueError:
                    text = None  # malformed P5 → fingerprint fallback
                if text is not None:
                    out.append(
                        [(ln, 0.99) for ln in text.split("\n") if ln.strip()]
                    )
                    continue
            idx = img.find(STUB_MARKER)
            if idx >= 0:
                payload = img[idx + len(STUB_MARKER) :]
                end = payload.find(b"\x00")
                if end >= 0:
                    payload = payload[:end]
                text = payload.decode("utf-8", "replace")
                # one box per line, detector order, high confidence
                out.append([(ln, 0.99) for ln in text.split("\n") if ln.strip()])
            else:
                digest = hashlib.sha256(img).hexdigest()[:16]
                out.append([(f"[unrecognized image {digest}]", 0.51)])
        return out


_ENGINE: Optional[OcrEngine] = None


def get_engine() -> OcrEngine:
    """Lazy module-global engine: initialized once per executor python
    worker (``spark.python.worker.reuse=true``), mirroring the reference's
    load-model-once-per-process pattern
    (/root/reference/parse_student_answers.py:143-175)."""
    global _ENGINE
    if _ENGINE is None:
        # production: SPARK_GRAFT_OCR_URL on the executors swaps in the
        # remote-VLM client (kernels/ocr_remote.py) with no code change
        from pdf_ocr_spark.kernels.ocr_remote import engine_from_env

        _ENGINE = engine_from_env() or StubOcrEngine()
    return _ENGINE


def ocr_page_text(
    boxes: Optional[List[Tuple[str, float]]],
) -> Optional[str]:
    """Confidence-filter + join box texts with newline — the reference's
    per-page OCR text assembly
    (filter: /root/reference/pdf_ocr_with_boxes_v2.py:292,322,364;
    join: /root/reference/pdf_ocr_with_boxes_v2.py:684-686).

    ``None`` boxes (engine failure marker) propagate as ``None`` so the
    caller can distinguish OCR-failed from a blank page."""
    if boxes is None:
        return None
    kept = [t for t, conf in boxes if conf > OCR_MIN_CONFIDENCE and t.strip()]
    return "\n".join(kept)
