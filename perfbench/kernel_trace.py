"""In-process kernel layer trace.

Runs ``extract_job.extract_docs_arrow`` in the benchmark process over a
slice of the corpus, once plain and once with the public kernel entry
points wrapped at their import sites.  Each wrapper is a span; a layer's
self time is its spans' duration minus the time of the spans nested in
them, so the self times of all layers add up to the traced wall.

Layers (named after the kernel modules):

    cos      PDFDocument() and PDFDocument.pages()
    content  interpret_page (content interpreter, fonts included)
    layout   build_lines (also reported alone), xy_cut_order,
             build_blocks, table_regions, borderless_table_regions
    raster   rasterize_page
    pdf      extract_pdf self time
    html     extract_html
    ocr      engine recognize_batch + ocr_page_text
    batch    extract_docs_arrow self time (Arrow conversion, assembly)
"""

from __future__ import annotations

import statistics
import time
from collections import Counter, defaultdict
from contextlib import ExitStack
from typing import Callable, Dict, List, Optional
from unittest import mock

import pyarrow as pa

LAYERS = ("cos", "content", "layout.build_lines", "layout.rest", "raster",
          "pdf", "html", "ocr", "batch")
FAILURE_KINDS = (
    "pdf_parse_error", "pdf_no_pages", "pdf_encrypted", "html_empty",
    "html_no_text", "html_parse_error", "kernel_crash", "ocr_failed", "other",
)
# the self times must cover the measured wall to within this share
SPAN_TOLERANCE = 0.05


class Spans:
    """A stack of open spans; each closed span adds its self time to its
    layer and its whole duration to the parent's child time."""

    def __init__(self) -> None:
        self.self_s: Dict[str, float] = defaultdict(float)
        self.counts: Counter = Counter()
        self.doc_s: List[tuple] = []  # (seconds, payload) per extract_pdf/html call
        self._child: List[float] = []

    def _close(self, layer: str, t0: float) -> None:
        d = time.perf_counter() - t0
        self.self_s[layer] += d - self._child.pop()
        if self._child:
            self._child[-1] += d

    def wrap(self, layer: str, fn: Callable, after: Optional[Callable] = None) -> Callable:
        def traced(*args, **kwargs):
            self._child.append(0.0)
            t0 = time.perf_counter()
            try:
                result = fn(*args, **kwargs)
            finally:
                self._close(layer, t0)
            if after is not None:
                after(self, result, args, time.perf_counter() - t0)
            return result

        return traced

    def iterate(self, layer: str, it):
        """Span around each ``next()`` of a generator."""
        it = iter(it)
        while True:
            self._child.append(0.0)
            t0 = time.perf_counter()
            try:
                item = next(it)
            except StopIteration:
                self._close(layer, t0)
                return
            except BaseException:
                self._close(layer, t0)
                raise
            self._close(layer, t0)
            yield item


def _count_page(spans, res, args, dt):
    spans.counts["pdf_pages"] += 1
    spans.counts["glyphs"] += len(res.glyphs)


def _record_doc(spans, res, args, dt):
    spans.doc_s.append((dt, args[0]))


def _count_ocr(spans, res, args, dt):
    spans.counts["ocr_pages"] += len(args[1])


def _patches(spans: Spans) -> ExitStack:
    from pdf_ocr_spark.kernels import html_extract, ocr_stub
    from pdf_ocr_spark.kernels.pdf import cos, extract

    stack = ExitStack()

    def patch(owner, name, layer, after=None):
        stack.enter_context(
            mock.patch.object(owner, name, spans.wrap(layer, getattr(owner, name), after))
        )

    patch(extract, "PDFDocument", "cos")
    patch(cos.PDFDocument, "pages", "cos")
    patch(extract, "interpret_page", "content", _count_page)
    patch(extract, "build_lines", "layout.build_lines")
    for name in ("xy_cut_order", "build_blocks", "table_regions", "borderless_table_regions"):
        patch(extract, name, "layout.rest")
    patch(extract, "rasterize_page", "raster")
    patch(extract, "extract_pdf", "pdf", _record_doc)
    patch(html_extract, "extract_html", "html", _record_doc)
    patch(ocr_stub, "ocr_page_text", "ocr")
    patch(type(ocr_stub.get_engine()), "recognize_batch", "ocr", _count_ocr)
    return stack


def _batches(rows: List[dict], batch_rows: int) -> List[pa.RecordBatch]:
    urls = [r["url"] for r in rows]
    payloads = [r["html"] for r in rows]
    return [
        pa.record_batch([pa.array(urls[i : i + batch_rows], pa.string()),
                         pa.array(payloads[i : i + batch_rows], pa.binary())],
                        names=["url", "html"])
        for i in range(0, len(rows), batch_rows)
    ]


def extract_in_process(rows: List[dict], batch_rows: int = 128) -> pa.Table:
    """The fused extractor run in this process, as Spark would feed it."""
    from pdf_ocr_spark.pipeline.extract_job import extract_docs_arrow

    return pa.Table.from_batches(list(extract_docs_arrow(iter(_batches(rows, batch_rows)))))


def trace_kernels(rows: List[dict], batch_rows: int = 128) -> dict:
    """Plain run, then traced run, of the same slice.  Returns the
    ``kernel.*`` metrics, the tracing overhead and the checks."""
    from pdf_ocr_spark.pipeline.extract_job import extract_docs_arrow

    batches = _batches(rows, batch_rows)
    extract_in_process(rows[:32])  # import, compile and cache before timing
    t0 = time.perf_counter()
    plain = pa.Table.from_batches(list(extract_docs_arrow(iter(batches))))
    plain_s = time.perf_counter() - t0

    spans = Spans()
    with _patches(spans):
        t0 = time.perf_counter()
        traced = pa.Table.from_batches(
            list(spans.iterate("batch", extract_docs_arrow(iter(batches))))
        )
        traced_s = time.perf_counter() - t0

    n = len(rows)
    self_sum = sum(spans.self_s.values())
    url_of = {r["html"]: r["url"] for r in rows}
    doc_ms = sorted((s * 1e3, url_of.get(p, "?")) for s, p in spans.doc_s)
    ms = [m for m, _ in doc_ms]
    q = statistics.quantiles(ms, n=100) if len(ms) > 1 else ms * 99
    failed = Counter()
    for status, reason in zip(plain.column("status").to_pylist(),
                              plain.column("failure_reason").to_pylist()):
        if status == "failed":
            kind = (reason or "").split(":")[0]
            failed[kind if kind in FAILURE_KINDS else "other"] += 1

    per_doc = {layer: spans.self_s.get(layer, 0.0) * 1e3 / n for layer in LAYERS}
    metrics = {
        "kernel.cos": (per_doc["cos"], "ms/doc"),
        "kernel.content": (per_doc["content"], "ms/doc"),
        "kernel.layout": (per_doc["layout.build_lines"] + per_doc["layout.rest"], "ms/doc"),
        "kernel.layout.build_lines": (per_doc["layout.build_lines"], "ms/doc"),
        "kernel.raster": (per_doc["raster"], "ms/doc"),
        "kernel.pdf": (per_doc["pdf"], "ms/doc"),
        "kernel.html": (per_doc["html"], "ms/doc"),
        "kernel.ocr": (per_doc["ocr"], "ms/doc"),
        "kernel.batch": (per_doc["batch"], "ms/doc"),
        "kernel.docs": (n, "count"),
        "kernel.pdf_pages": (spans.counts["pdf_pages"], "count"),
        "kernel.glyphs": (spans.counts["glyphs"], "count"),
        "kernel.ocr_pages": (spans.counts["ocr_pages"], "count"),
        "kernel.ok_ratio": ((n - sum(failed.values())) / n, "ratio"),
        "kernel.doc_ms.p50": (q[49], "ms"),
        "kernel.doc_ms.p99": (q[98], "ms"),
        "kernel.doc_ms.max": (ms[-1], "ms"),
        "kernel.docs_per_core_s": (n / plain_s, "docs/s"),
        "kernel.wall_s": (plain_s, "s"),
        "trace.kernel_overhead_s": (traced_s - plain_s, "s"),
    }
    for kind in FAILURE_KINDS:
        metrics[f"kernel.failed.{kind}"] = (failed[kind], "count")
    checks = {
        "kernel_traced_equals_plain": traced.equals(plain),
        "kernel_spans_cover_wall": abs(self_sum - traced_s) <= SPAN_TOLERANCE * traced_s,
    }
    detail = {
        "slowest_url": doc_ms[-1][1] if doc_ms else None,
        "self_s": dict(spans.self_s),
        "self_sum_s": self_sum,
        "traced_wall_s": traced_s,
        "span_tolerance": SPAN_TOLERANCE,
    }
    return {"metrics": metrics, "checks": checks, "detail": detail}
