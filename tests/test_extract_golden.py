"""Golden end-to-end tests: every corpus document's locally-extracted text
matches the frozen goldens byte-for-byte (via md5), per FIXTURES.md §2."""

import hashlib
import json
import os

import pytest

from tests.conftest import REF_PDF, local_extract

GOLDEN_PATH = os.path.join(os.path.dirname(__file__), "goldens", "golden_text.json")


@pytest.fixture(scope="module")
def goldens():
    with open(GOLDEN_PATH) as f:
        return json.load(f)


def test_all_corpus_documents_match_goldens(corpus_rows, goldens):
    # every corpus row is checked on every box: row 0 is the reference
    # PDF when it is present and a synthetic glyph PDF otherwise, and
    # the goldens carry both
    missing = [r["url"] for r in corpus_rows if r["url"] not in goldens]
    assert not missing, missing
    mismatches = []
    for row in corpus_rows:
        g = goldens[row["url"]]
        text, status, reason = local_extract(row["html"])
        if status != g["status"]:
            mismatches.append((row["url"], "status", status, g["status"]))
            continue
        if text is None:
            got_reason = (reason or "").split(":")[0] or None
            if got_reason != g["reason_class"]:
                mismatches.append((row["url"], "reason", got_reason, g["reason_class"]))
            continue
        md5 = hashlib.md5(text.encode("utf-8")).hexdigest()
        if md5 != g["md5"]:
            mismatches.append((row["url"], "md5", md5, g["md5"]))
    assert not mismatches, mismatches[:5]


@pytest.mark.skipif(not os.path.exists(REF_PDF), reason="reference sample absent")
def test_reference_pdf_golden(goldens):
    """The japanese_test.pdf acid test: frozen byte-identical output."""
    data = open(REF_PDF, "rb").read()
    text, status, _ = local_extract(data)
    assert status == "ok"
    g = goldens["https://example.test/docs/ref/000000"]
    assert hashlib.md5(text.encode("utf-8")).hexdigest() == g["md5"]
    # semantic anchors, independent of the frozen hash
    assert text.startswith("# 第 1 页\n\n")          # v2:697 page header
    assert "# 第 2 页\n\n" in text
    assert text.endswith("\n\n")                      # v2 chunk format
    assert "名前" in text and "クラス" in text        # CID→Unicode decode
    assert "日本語試験" in text                       # title text
    assert "（満点150点）" in text                    # full-width punctuation


def test_reference_format_page_headers():
    """Doc assembly formats exactly as v2 writes all_texts
    (/root/reference/pdf_ocr_with_boxes_v2.py:697,715-718)."""
    from pdf_ocr_spark.kernels.pdf.extract import assemble_doc_text

    out = assemble_doc_text(["alpha", "beta"])
    assert out == "# 第 1 页\n\nalpha\n\n# 第 2 页\n\nbeta\n\n"


def test_ocr_confidence_filter():
    """P1: boxes at or below 0.5 confidence are dropped
    (/root/reference/pdf_ocr_with_boxes_v2.py:119-123,292)."""
    from pdf_ocr_spark.kernels.ocr_stub import ocr_page_text

    boxes = [("keep", 0.9), ("drop", 0.5), ("also drop", 0.2), ("  ", 0.99)]
    assert ocr_page_text(boxes) == "keep"


def test_broken_rows_fail_with_reason(corpus_rows):
    """Poison rows must produce status=failed + a reason class, never an
    exception (SURVEY.md §4.1)."""
    broken = [r for r in corpus_rows if r["kind"] == "broken"]
    assert broken
    for row in broken:
        text, status, reason = local_extract(row["html"])
        if status == "failed":
            assert reason
        else:
            # recovered structure (e.g. brute-force scan) is allowed
            assert text is not None


def test_scan_pdf_routes_to_ocr(corpus_rows):
    from pdf_ocr_spark.kernels.pdf.extract import extract_pdf

    scans = [r for r in corpus_rows if r["kind"] == "pdf_scan"]
    assert scans
    d = extract_pdf(scans[0]["html"])
    assert d.status == "ok"
    assert all(p.needs_ocr for p in d.pages)
    assert all(p.ocr_payload for p in d.pages)


def test_encrypted_pdf_detected():
    """An /Encrypt trailer entry must surface as a typed failure — not
    silently-garbled text (crawled PDFs are frequently encrypted)."""
    from pdf_ocr_spark.fixtures.genpages import make_simple_pdf
    from pdf_ocr_spark.kernels.pdf.extract import extract_pdf

    pdf = make_simple_pdf([["hello"]])
    enc = pdf.replace(b"trailer\n<<", b"trailer\n<< /Encrypt 99 0 R", 1)
    res = extract_pdf(enc)
    assert res.status == "failed"
    assert res.failure_reason == "pdf_encrypted"
    assert extract_pdf(pdf).status == "ok"
