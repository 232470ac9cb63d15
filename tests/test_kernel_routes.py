"""The shared kernel-route machinery: ``per_doc`` isolates a poison
document without losing its neighbours, and ``arrow_map`` types the rows
from the route's Spark schema."""

import importlib

import pyarrow as pa
import pytest


@pytest.mark.parametrize(
    "rows_fn, kernel, corpus",
    [
        ("html_table_rows", "html_extract.extract_tables", "gen_html_table_rows"),
        ("html_meta_rows", "html_extract.extract_metadata", "gen_html_meta_rows"),
        ("form_rows", "pdf.forms.extract_form_fields", "gen_form_rows"),
        ("doc_info_rows", "pdf.docinfo.extract_doc_info", "gen_docmeta_rows"),
    ],
)
def test_raising_kernel_drops_only_its_document(monkeypatch, rows_fn, kernel, corpus):
    from pdf_ocr_spark.fixtures import genpages
    from pdf_ocr_spark.pipeline import extract_job

    fn = getattr(extract_job, rows_fn)
    payloads = [bytes(r["html"]) for r in getattr(genpages, corpus)(12)]
    good1, poison, good2 = [p for p in payloads if fn(["u"], [p])][:3]
    module_name, attr = kernel.rsplit(".", 1)
    module = importlib.import_module(f"pdf_ocr_spark.kernels.{module_name}")
    real = getattr(module, attr)

    def flaky(data):
        if data == poison:
            raise ValueError("kernel bug")
        return real(data)

    monkeypatch.setattr(module, attr, flaky)
    rows = fn(["u://1", "u://2", "u://3"], [good1, poison, good2])
    assert {r[0] for r in rows} == {"u://1", "u://3"}
    assert rows == fn(["u://1"], [good1]) + fn(["u://3"], [good2])


def test_arrow_map_types_rows_from_the_spark_schema():
    from pyspark.sql.pandas.types import to_arrow_schema

    from pdf_ocr_spark.fixtures.genpages import gen_rows
    from pdf_ocr_spark.pipeline.extract_job import (
        BLOCK_SCHEMA,
        arrow_map,
        block_rows,
    )

    rows = gen_rows(12)
    batch = pa.record_batch(
        [pa.array([r["url"] for r in rows]),
         pa.array([bytes(r["html"]) for r in rows], pa.binary())],
        names=["url", "html"],
    )
    (out,) = list(arrow_map(block_rows, BLOCK_SCHEMA)(iter([batch])))
    assert out.schema == to_arrow_schema(BLOCK_SCHEMA)
    assert [tuple(r.values()) for r in out.to_pylist()] == block_rows(
        [r["url"] for r in rows], [bytes(r["html"]) for r in rows]
    )
    (empty,) = list(arrow_map(block_rows, BLOCK_SCHEMA)(iter([batch.slice(0, 0)])))
    assert empty.num_rows == 0 and empty.schema == out.schema


def test_doc_rows_pass_trailing_columns_through():
    from pdf_ocr_spark.fixtures.genpages import gen_rows
    from pdf_ocr_spark.pipeline.extract_job import doc_rows

    rows = gen_rows(6)
    urls = [r["url"] for r in rows]
    payloads = [bytes(r["html"]) for r in rows]
    stamps = list(range(len(rows)))
    with_ts = doc_rows(urls, payloads, stamps)
    assert [r[:-1] for r in with_ts] == doc_rows(urls, payloads)
    assert [r[-1] for r in with_ts] == stamps


def test_giant_range_merge_matches_page_route_semantics():
    """The giant-document re-merge: pages from every range assemble in
    page order through the fused route's _assemble_doc; one failed range
    fails the whole document with the greatest failure reason and zeroed
    counts — the contract the SQL assembler it replaced had (min status,
    max failure_reason)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from pdf_ocr_spark.pipeline.extract_job import (
        OCR_FAILED_REASON,
        PAGE_SCHEMA,
        _merge_ranges,
    )

    def merged(rows):
        table = pa.Table.from_pylist(
            [dict(zip(PAGE_SCHEMA.fieldNames(), r)) for r in rows],
            schema=to_arrow_schema(PAGE_SCHEMA),
        )
        (row,) = _merge_ranges(table).to_pylist()
        return tuple(row.values())

    def page(n, text, blocks=1, ocr=False, status="ok", reason=None):
        return ("g://1", "pdf", n, text, blocks, ocr, None, status, reason, 900)

    ok = [page(4, "d", 2), page(1, "a"), page(3, "c", ocr=True), page(2, "b")]
    text = "".join(f"# 第 {i} 页\n\n{t}\n\n" for i, t in enumerate("abcd", 1))
    assert merged(ok) == (
        "g://1", "pdf", text, 4, 5, len(text), "ok", None, 900, 1
    )

    crashed = ("g://1", "pdf", 0, None, 0, False, None, "failed",
               "kernel_crash: ValueError", 900)
    ocr_failed = page(3, None, ocr=True, status="failed", reason=OCR_FAILED_REASON)
    assert merged([page(1, "a"), crashed, ocr_failed, page(4, "d")]) == (
        "g://1", "pdf", None, 0, 0, 0, "failed", OCR_FAILED_REASON, 900, 0
    )
