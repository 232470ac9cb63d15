"""The extraction pipeline: pages table → extracted_text per url.

Physical plan (SURVEY.md §4.3 — one explicit shuffle, everything else
partition-local).  The HOT PATH is fully fused:

    scan(pages)  [column-pruned to url, html — lineage queries never
                  read the binary]
     → repartition(P, xxhash64(url))            # salts giant-PDF skew
     → mapInArrow(extract_docs_arrow)           # K1+K3+K5 kernels + K2
         (parse, batched OCR, per-doc assembly — one Arrow pass; the
         groupBy(url) aggregation is partition-local by construction
         because the repartition co-locates whole documents, so it runs
         inside the UDF rather than as a shuffle)
     → sink: parquet (Iceberg-compatible layout) + lineage sidecar

One semantic core, :func:`_parse_batch`, turns payloads into pages; the
document rows (:func:`doc_rows`) and the page rows (:func:`page_rows`)
are both derived from its output, so the page table and the document
table cannot drift apart.  Every kernel route — documents, pages, and
the side tables (blocks, rasters, HTML metadata, …) — runs through
:func:`kernel_route`: one salted repartition and one ``mapInArrow``
stage through the one Arrow adapter, :func:`arrow_map`; the side routes
isolate poison documents through :func:`per_doc`.  Each side route is
one :class:`Route` value (``extract_blocks = Route(block_rows,
BLOCK_SCHEMA)``) naming its rows function, schema and key/payload
columns once; the golden freezer and the streaming feed job read them
from it.  Grouped stages (the giant-document re-merge, the overlay
sinks) go through :func:`group_map`, the grouped twin of the adapter.

Giant documents (:func:`extract_documents_split`) take one uncached
pass: page count → ``explode_outer`` into page ranges → page route →
``groupBy(url)`` re-merge.

Resume (J3, the north rule): restarts anti-join the input against the
already-committed output's urls — only the remainder is processed.  A
replayed streaming micro-batch resumes the same way
(:func:`append_extraction`).

Per-row invariant vs the reference: byte-identical extracted text per url
(page text = blocks joined '\\n', v2:684-686; doc text = concatenated
'# 第 {i} 页\\n\\n…\\n\\n' chunks, v2:697,715-718; HTML rows carry the
boilerplate-stripped main text with no page headers — HTML is unpaginated).
"""

from __future__ import annotations

import functools
import os
from dataclasses import dataclass
from itertools import repeat
from typing import Callable, Optional

import pyarrow as pa
from pyspark import TaskContext
from pyspark.accumulators import AccumulatorParam
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf
from pyspark.sql.pandas.types import to_arrow_schema, to_arrow_type
from pyspark.sql.window import Window
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DataType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)


PAGE_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("content_kind", StringType()),  # 'pdf' | 'html' | 'unknown'
        StructField("page", IntegerType()),         # 1-based; 0 for doc-level failure
        StructField("page_text", StringType()),
        StructField("n_blocks", IntegerType()),
        StructField("needs_ocr", BooleanType()),
        StructField("ocr_payload", BinaryType()),
        StructField("status", StringType()),        # 'ok' | 'failed'
        StructField("failure_reason", StringType()),
        StructField("n_bytes", LongType()),         # input payload size
    ]
)


DOC_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("content_kind", StringType()),
        StructField("extracted_text", StringType()),
        StructField("n_pages", IntegerType()),
        StructField("n_blocks", IntegerType()),
        StructField("n_chars", IntegerType()),
        StructField("status", StringType()),
        StructField("failure_reason", StringType()),
        StructField("n_bytes", LongType()),
        StructField("n_ocr_pages", IntegerType()),
    ]
)


_WORKER_TUNED = False


# typed TRANSIENT failure: the OCR engine gave up on a page after retries.
# Distinct from parse failures (permanent) — resume_filter retries these.
OCR_FAILED_REASON = "ocr_failed: engine error after retries"


def looks_like_pdf(data: bytes) -> bool:
    """Content sniff (P9).  ``%PDF-`` as the (whitespace/NUL-tolerant)
    prefix is definitive; a header within the first KB (the spec/Acrobat
    allowance for junk-prefixed files — stray HTTP headers, ad banners)
    also counts UNLESS the prefix is markup, in which case the magic is
    just page text mentioning PDFs.  Mirrors the reference's extension
    dispatch (/root/reference/pdf_ocr_with_boxes_v2.py:744-747) made
    content-based."""
    stripped = data.lstrip(b" \t\r\n\f\x00")
    if stripped[:5] == b"%PDF-":
        return True
    idx = data.find(b"%PDF-", 0, 1024)
    if idx <= 0:
        return False
    prefix = data[:idx].lower()
    return (
        stripped[:1] != b"<"
        and b"<html" not in prefix
        and b"<!doctype" not in prefix
    )



def _tune_worker() -> None:
    """Once per executor python worker (reused across tasks):

    * freeze the post-import heap out of the cyclic collector and raise
      its thresholds.  The kernels allocate millions of small acyclic
      objects; with default thresholds the cyclic GC rescans the heap
      constantly, which measurably halves many-core throughput.
    * stamp the zip import cache.  PySpark's ``setup_spark_files`` calls
      ``importlib.invalidate_caches()`` on EVERY task; on CPython < 3.13
      that makes each of the worker's 16 zipimporters re-read
      ``pyspark.zip``'s 1,328-entry directory, about 250 ms CPU per task
      on a 4-core box.  Now an archive is re-read only when its
      ``(st_mtime_ns, st_size)`` differs from the stamp taken before its
      last read (or ``stat`` fails), so a rewritten ``addPyFile`` zip is
      still seen.  CPython 3.13 only drops the cache entry there."""
    global _WORKER_TUNED
    if _WORKER_TUNED:
        return
    import gc
    import sys
    import zipimport

    gc.freeze()
    gc.set_threshold(200_000, 100, 100)
    if sys.version_info < (3, 13):
        reread = zipimport.zipimporter.invalidate_caches
        stamps = {}

        def invalidate_caches(self):
            try:
                st = os.stat(self.archive)
            except OSError:
                return reread(self)
            stamp = (st.st_mtime_ns, st.st_size)
            files = zipimport._zip_directory_cache.get(self.archive)
            if files is not None and stamps.get(self.archive) == stamp:
                self._files = files
                return
            stamps[self.archive] = stamp
            reread(self)

        zipimport.zipimporter.invalidate_caches = invalidate_caches
    _WORKER_TUNED = True


def _record_batch(rows: list, arrow_schema):
    """Row tuples → one RecordBatch typed by ``arrow_schema``."""
    cols = list(zip(*rows)) if rows else [()] * len(arrow_schema)
    return pa.RecordBatch.from_arrays(
        [pa.array(c, f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )


def arrow_map(rows_fn, schema: StructType, tally=None):
    """The one Arrow adapter: wraps a rows function — one plain list per
    input column in, row tuples out — as a ``mapInArrow`` body whose
    output types come from ``to_arrow_schema(schema)`` and whose name is
    the rows function's (the plan label).  No pandas layer
    appears in the worker (the pandas adapter it replaced measured 10–18%
    lower pipeline throughput at 8/32 cores on the synthetic corpus).
    Each task calls :func:`_tune_worker` first; without its zip-cache
    stamp every task paid about 250 ms CPU on a 4-core box.  A ``tally``
    (:class:`LineageTally`) receives the lineage of the DOC_SCHEMA rows."""

    def run(batches):
        _tune_worker()
        arrow_schema = to_arrow_schema(schema)
        for rb in batches:
            rows = rows_fn(*(c.to_pylist() for c in rb.columns))
            if tally is not None and rows:
                tally.add({TaskContext.get().partitionId(): LineageTally.row(rows)})
            yield _record_batch(rows, arrow_schema)

    return _named_after(run, rows_fn)


def group_map(row_fn, schema: StructType, tally=None):
    """The grouped twin of :func:`arrow_map`: wraps ``row_fn`` — one
    group's rows as a dict of column lists in, ONE row tuple out — as an
    ``applyInArrow`` body whose output is typed by ``schema``."""

    def run(table):
        _tune_worker()
        row = row_fn(table.to_pydict())
        if tally is not None:
            tally.add({TaskContext.get().partitionId(): LineageTally.row([row])})
        return pa.Table.from_batches([_record_batch([row], to_arrow_schema(schema))])

    return _named_after(run, row_fn)


def arrow_scalar(value_fn, return_type: DataType):
    """The scalar twin of :func:`arrow_map`: ``value_fn`` (one value
    in, one out) as a scalar ``arrow_udf`` (``ArrowEvalPython``, no
    pandas layer) named after it; each batch calls :func:`_tune_worker`."""

    def run(values: pa.Array) -> pa.Array:
        _tune_worker()
        out = [value_fn(v) for v in values.to_pylist()]
        return pa.array(out, to_arrow_type(return_type))

    return arrow_udf(_named_after(run, value_fn), return_type)


class LineageTally(AccumulatorParam):
    """``{part_id: (n_docs, n_pages, n_failed, n_ocr_pages, n_bytes,
    failure_kinds)}``, each partition's :func:`doc_lineage_metrics` row.
    Spark applies a result task's updates once, failed attempts' never."""

    def zero(self, value) -> dict:
        return {}

    def addInPlace(self, acc: dict, more: dict) -> dict:
        for pid, row in more.items():
            old = acc.get(pid)
            acc[pid] = row if old is None else (
                *(a + b for a, b in zip(old[:5], row[:5])), old[5] | row[5]
            )
        return acc

    @staticmethod
    def row(rows: list) -> tuple:  # of DOC_SCHEMA row tuples
        return (len(rows), sum(r[3] for r in rows), sum(r[6] == "failed" for r in rows),
                sum(r[9] for r in rows), sum(r[8] for r in rows),
                frozenset(r[7].split(":")[0] for r in rows if r[7] is not None))


def _named_after(body, fn):
    """Give a Python stage's body its rows function's name: Spark labels
    the plan node with the body's ``__name__`` (``MapInArrow
    doc_rows(url, html)``), so a plan says which rows function runs."""
    body.__name__ = body.__qualname__ = fn.__name__
    return body


def per_doc(gate: Optional[str] = None):
    """The one per-document wrapper: turns ``fn(key, payload)`` — a
    generator of row tuples for one document — into a rows function over
    a batch (``rows_fn(keys, payloads, *passthrough)``).

    ``gate`` skips the payloads a route has no kernel for: ``'pdf'``
    keeps sniffed PDFs only, ``'html'`` keeps non-empty non-PDFs only.  A
    document whose kernel raises ends there — rows it already yielded
    stay, the rest of the batch goes on (poison-row isolation, SURVEY.md
    §4.1).  Input columns after the payload pass through unchanged onto
    every row of their document."""

    def wrap(fn):
        @functools.wraps(fn)
        def rows_fn(keys, payloads, *passthrough):
            out = []
            extras = zip(*passthrough) if passthrough else repeat(())
            for key, payload, extra in zip(keys, payloads, extras):
                data = b"" if payload is None else payload
                if gate == "pdf" and not looks_like_pdf(data):
                    continue
                if gate == "html" and (not data or looks_like_pdf(data)):
                    continue
                try:
                    for row in fn(key, data):
                        out.append(row + extra)
                except Exception:  # noqa: BLE001 — poison-row isolation
                    continue
            return out

        return rows_fn

    return wrap


def _parse_batch(urls, payloads, ranges=None) -> list:
    """The one extraction core: a batch of payloads → documents of pages.

    Each document is ``(url, kind, status, reason, n_bytes, pages)`` with
    pages ``[page_num, text, n_blocks, was_ocr, ocr_failure]`` in page
    order; :func:`page_rows` and :func:`doc_rows` are both derived from
    it.  The payload is sniffed (:func:`looks_like_pdf`) into
    ``extract_pdf`` or ``extract_html``; a row with a ``(page_lo,
    page_hi)`` range is a giant PDF slice whose page numbers stay global.

    OCR batching: all image-only pages of the batch go to the engine as
    ONE ``recognize_batch`` call (the reference's batched-inference
    pattern, /root/reference/pdf_ocr_with_silicon_remote_vllm.py:162-232).
    An engine failure marks only its page (``ocr_failure``); the document
    row turns it into the typed transient failure."""
    from pdf_ocr_spark.kernels.html_extract import extract_html
    from pdf_ocr_spark.kernels.ocr_stub import get_engine, ocr_page_text
    from pdf_ocr_spark.kernels.pdf.extract import extract_pdf

    docs = []
    ocr_jobs = []  # (page, payload)
    for url, payload, rng in zip(urls, payloads, ranges or repeat(None)):
        data = bytes(payload) if payload is not None else b""
        n_bytes = len(data)
        try:
            if rng is not None or looks_like_pdf(data):
                doc = extract_pdf(data, *rng) if rng is not None else extract_pdf(data)
                if doc.status != "ok":
                    docs.append((url, "pdf", "failed", doc.failure_reason, n_bytes, []))
                    continue
                pages = []
                for p in doc.pages:
                    page = [p.page_num, None if p.needs_ocr else p.text,
                            p.n_blocks, p.needs_ocr, None]
                    if p.needs_ocr:
                        ocr_jobs.append((page, p.ocr_payload))
                    pages.append(page)
                docs.append((url, "pdf", "ok", None, n_bytes, pages))
            else:
                text, status, reason = extract_html(data)
                n_blocks = text.count("\n") + 1 if text else 0
                docs.append(
                    (url, "html", status, reason, n_bytes,
                     [[1, text if status == "ok" else None, n_blocks, False, None]])
                )
        except Exception as e:  # noqa: BLE001 — poison-row isolation
            # a range row is a PDF by construction (the page-count pass)
            docs.append(
                (url, "unknown" if rng is None else "pdf", "failed",
                 f"kernel_crash: {type(e).__name__}", n_bytes, [])
            )
    if ocr_jobs:
        results = get_engine().recognize_batch([p for _, p in ocr_jobs])
        for (page, _), boxes in zip(ocr_jobs, results):
            text = ocr_page_text(boxes)
            if text is None:  # engine failure after retries → typed failure
                page[4] = OCR_FAILED_REASON
            else:
                page[1] = text
    return docs


def page_rows(urls, payloads, *page_range) -> list:
    """PAGE_SCHEMA rows of the core's output: one per page, or one page-0
    row for a document that failed before it had pages.  ``needs_ocr``
    stays True on OCR'd pages as the was-OCR marker (the text is filled
    in), so lineage counts OCR pages the same on every route.  Optional
    ``page_lo, page_hi`` columns restrict each row to a page range; a
    NULL range extracts the whole document."""
    rows = []
    ranges = [None if lo is None else (lo, hi) for lo, hi in zip(*page_range)] or None
    for url, kind, status, reason, n_bytes, pages in _parse_batch(
        urls, payloads, ranges
    ):
        if status == "failed" and not pages:
            rows.append((url, kind, 0, None, 0, False, None, "failed", reason, n_bytes))
        for num, text, n_blocks, was_ocr, ocr_failure in pages:
            rows.append(
                (url, kind, num, text, n_blocks, was_ocr, None,
                 "failed" if ocr_failure else status,
                 ocr_failure or reason, n_bytes)
            )
    return rows


def doc_rows(urls, payloads, *passthrough) -> list:
    """DOC_SCHEMA rows of the core's output, one per input row in input
    order; trailing input columns pass through onto their row."""
    rows = []
    for url, kind, status, reason, n_bytes, pages in _parse_batch(urls, payloads):
        ocr_failure = next((p[4] for p in pages if p[4]), None)
        if ocr_failure:
            status, reason = "failed", ocr_failure
        rows.append(
            _assemble_doc(url, kind, [p[:3] for p in pages], status, reason,
                          n_bytes, sum(p[3] for p in pages))
        )
    if passthrough:
        rows = [r + x for r, x in zip(rows, zip(*passthrough))]
    return rows


def _assemble_doc(
    url: str,
    kind: str,
    pages: list,  # [(page_num, text_or_None, n_blocks)]
    status: str,
    reason,
    n_bytes: int,
    n_ocr: int = 0,
) -> tuple:
    """One DOC_SCHEMA row: v2's '# 第 {i} 页\\n\\n…\\n\\n' page chunks for
    PDFs (``page_header``), raw concatenation for unpaginated HTML."""
    from pdf_ocr_spark.kernels.pdf.extract import page_header

    if status == "failed":
        return (url, kind, None, 0, 0, 0, "failed", reason, n_bytes, 0)
    pages = sorted(pages, key=lambda p: p[0])
    if kind == "pdf":
        text = "".join(page_header(p, t or "") for p, t, _ in pages)
    else:
        text = "".join(t or "" for _, t, _ in pages)
    n_pages = max(p for p, _, _ in pages)
    n_blocks = sum(b for _, _, b in pages)
    return (url, kind, text, n_pages, n_blocks, len(text), "ok", None, n_bytes, n_ocr)


def extract_docs_arrow(batches):
    """Fused document extractor (``mapInArrow`` body of the HOT path):
    parse, batched OCR and per-doc assembly in one Arrow pass.  The
    explicit ``repartition(xxhash64(url))`` already co-locates whole
    documents, so the per-url aggregation is partition-local by
    construction and runs inside this UDF."""
    return arrow_map(doc_rows, DOC_SCHEMA)(batches)


def kernel_route(
    pages_df: DataFrame,
    rows_fn,
    schema: StructType,
    key: str = "url",
    cols: tuple = ("url", "html"),
    num_partitions: Optional[int] = None,
    tally=None,
) -> DataFrame:
    """The shared plan shape of every kernel extraction route: scan
    pruned to ``cols`` → ONE salted repartition on ``xxhash64(key)``
    (bounds giant-payload skew; the job's single planned shuffle) → one
    ``mapInArrow`` stage running ``rows_fn`` through :func:`arrow_map`.
    Changing the salting key or the parallelism floor happens HERE, once,
    for all routes."""
    df = pages_df.select(*cols)
    if num_partitions is None:
        num_partitions = max(
            pages_df.sparkSession.sparkContext.defaultParallelism, 8
        )
    df = df.repartition(num_partitions, F.xxhash64(key))
    return df.mapInArrow(arrow_map(rows_fn, schema, tally), schema=schema)


@dataclass(frozen=True)
class Route:
    """A side route, declared once: ``rows_fn`` over the ``key`` and
    ``payload`` columns of its input, typed by ``schema``.
    ``route(pages, num_partitions=None)`` runs it through
    :func:`kernel_route`; ``tools/freeze.py`` runs ``rows_fn`` in-process
    over the same columns to build the route's golden."""

    rows_fn: Callable
    schema: StructType
    key: str = "url"
    payload: str = "html"

    @property
    def cols(self) -> tuple:
        return (self.key, self.payload)

    def __call__(
        self, pages_df: DataFrame, num_partitions: Optional[int] = None
    ) -> DataFrame:
        return kernel_route(
            pages_df, self.rows_fn, self.schema, key=self.key, cols=self.cols,
            num_partitions=num_partitions,
        )


def extract_documents(
    pages_df: DataFrame, num_partitions: Optional[int] = None, tally=None
) -> DataFrame:
    """Full pipeline: pages table → document-level extraction results.

    Physical plan: scan → repartition(P, xxhash64(url)) → ONE fused
    mapInArrow stage (parse + batched OCR + per-doc assembly).  A single
    shuffle total; no groupBy, no second Arrow round-trip, no pandas
    layer in the worker."""
    return kernel_route(pages_df, doc_rows, DOC_SCHEMA, num_partitions=num_partitions,
                        tally=tally)


def extract_pages(
    pages_df: DataFrame,
    num_partitions: Optional[int] = None,
) -> DataFrame:
    """pages(url, html, …) → page-level extraction rows (PAGE_SCHEMA).

    Same plan as the document route — the explicit ``repartition(P,
    xxhash64(url))`` is the single planned shuffle (it spreads documents
    uniformly regardless of input file layout, bounding skew from giant
    PDFs, SURVEY.md §4.1) and parse + OCR run in one python stage."""
    return kernel_route(pages_df, page_rows, PAGE_SCHEMA, num_partitions=num_partitions)


BLOCK_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("page_num", IntegerType()),
        StructField("block_index", IntegerType()),
        StructField("type", StringType()),  # 'title' | 'text' | 'table' | 'ocr'
        StructField("bbox", ArrayType(DoubleType())),  # [x0,y0,x1,y1] top-down
        StructField("text", StringType()),
        StructField("confidence", DoubleType()),
    ]
)


@per_doc("pdf")
def _parsed_pdfs(url, data):
    """(url, DocExtract) for every PDF of the batch that parses."""
    from pdf_ocr_spark.kernels.pdf.extract import extract_pdf

    doc = extract_pdf(data)
    if doc.status == "ok":
        yield (url, doc)


def block_rows(urls, payloads) -> list:
    """Block-level rows: one per typed layout block with bbox + confidence
    — the reference's blocks JSON sink
    (/root/reference/pdf_ocr_with_boxes_v3.py:220-227,374-377,430-441)
    as a queryable table (SURVEY.md §1.3 documents → pages → blocks).

    PDF-only by design, like the reference tool: HTML rows carry no layout
    geometry.  Text pages emit the kernel's XY-cut blocks (type
    'title'/'text', confidence 0.95 — v3:226); image-only pages run
    batched OCR and emit one 'ocr' block per recognized line with the
    engine confidence and a NULL bbox (the stub engine carries no
    geometry; a PaddleOCR backend supplies detector quads here).
    OCR-failed pages emit no rows — the doc-level route carries the typed
    ``ocr_failed`` failure."""
    from pdf_ocr_spark.kernels.ocr_stub import OCR_MIN_CONFIDENCE, get_engine

    rows = []
    ocr_jobs = []  # (url, page_num, payload)
    for url, doc in _parsed_pdfs(urls, payloads):
        for blk in doc.blocks:
            rows.append(
                (url, blk.page_num, blk.block_index, blk.type,
                 [float(v) for v in blk.bbox], blk.text, blk.confidence)
            )
        ocr_jobs.extend(
            (url, p.page_num, p.ocr_payload) for p in doc.pages if p.needs_ocr
        )
    if ocr_jobs:
        results = get_engine().recognize_batch([p for _, _, p in ocr_jobs])
        for (url, pnum, _), boxes in zip(ocr_jobs, results):
            if boxes is None:
                continue  # OCR failed — typed failure lives doc-level
            idx = 0
            for text, conf in boxes:
                if conf > OCR_MIN_CONFIDENCE and text.strip():
                    rows.append((url, pnum, idx, "ocr", None, text, float(conf)))
                    idx += 1
    return rows


#: pages(url, html, …) → block-level table: one row per layout block.
#: Same plan shape as the document route, so the blocks table scales
#: exactly like the hot path.
extract_blocks = Route(block_rows, BLOCK_SCHEMA)


COMPOSITE_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("page_num", IntegerType()),
        StructField("block_index", IntegerType()),
        StructField("kind", StringType()),  # 'table' | 'image'
        StructField("composite", StringType()),  # the v4 rendering string
    ]
)


@per_doc("pdf")
def composite_rows(url, data):
    """Composite-block renderer (v4 semantics): per table/figure on a
    page, the reference's exact composite string —
    'table caption: …\\ntable body: …\\ntable footnote: …' /
    'image caption: …' (/root/reference/pdf_ocr_with_boxes_v4.py:232-260).
    Typing + association are geometric (ruled grids, draw bboxes,
    caption adjacency — kernels/pdf/layout.py); plain pages emit no rows."""
    from pdf_ocr_spark.kernels.pdf.extract import extract_pdf
    from pdf_ocr_spark.kernels.pdf.layout import composite_text

    doc = extract_pdf(data)
    if doc.status != "ok":
        return
    for page, idx, text in composite_text(doc.blocks):
        kind = "image" if text.startswith("image caption:") else "table"
        yield (url, page, idx, kind, text)


#: pages(url, html, …) → composite-block table (v4): one row per
#: table/figure with its rendered caption/body/footnote string.
extract_composites = Route(composite_rows, COMPOSITE_SCHEMA)


RASTER_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("page_num", IntegerType()),
        StructField("raster_w", IntegerType()),
        StructField("raster_h", IntegerType()),
        StructField("ink_px", LongType()),
        StructField("raster_md5", StringType()),
    ]
)


@per_doc("pdf")
def raster_rows(url, data):
    """Page rasterizer: renders every PDF page to the deterministic
    coverage bitmap (kernels/pdf/raster.py — the from-scratch twin of the
    reference's pdf_to_images,
    /root/reference/pdf_ocr_with_boxes_v3.py:144-158) and emits its
    dimensions, ink-pixel count, and full-bitmap digest.  One row per
    page; non-PDF and failed docs emit nothing (they carry no geometry)."""
    import hashlib

    from pdf_ocr_spark.kernels.pdf.content import interpret_page
    from pdf_ocr_spark.kernels.pdf.cos import PDFDocument
    from pdf_ocr_spark.kernels.pdf.extract import MAX_PAGES
    from pdf_ocr_spark.kernels.pdf.raster import parse_pgm, rasterize_page

    doc = PDFDocument(data)
    for i, page in enumerate(doc.pages()[:MAX_PAGES], 1):
        res = interpret_page(doc, page)
        pgm = rasterize_page(
            res.glyphs, res.rules, res.image_draws, res.width, res.height,
            image_payloads=res.images,  # JPEG draws → real luma
        )
        w, h, px = parse_pgm(pgm)
        yield (url, i, w, h, len(px) - px.count(255), hashlib.md5(pgm).hexdigest())


#: pages(url, html, …) → per-page raster table (S10): dimensions,
#: ink coverage, and bitmap digest of the rendered page.
extract_rasters = Route(raster_rows, RASTER_SCHEMA)


ORIENTATION_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("page_num", IntegerType()),
        StructField("rotation", IntegerType()),   # 0 | 90 | 180 | 270 CCW
        StructField("n_upright", LongType()),     # flow-direction votes
        StructField("n_sideways", LongType()),
    ]
)


@per_doc("pdf")
def orientation_rows(url, data):
    """K4 orientation detection: per PDF page, the content-based OSD
    verdict (dominant glyph flow direction — the digital-text analogue of
    the reference's Tesseract image_to_osd,
    /root/reference/parse_student_answers.py:40-59) plus the vote split.
    extract_pdf applies the same verdict internally to re-orient rotated
    pages before layout; this route makes the detector itself
    observable/queryable."""
    from pdf_ocr_spark.kernels.pdf.content import dominant_rotation, interpret_page
    from pdf_ocr_spark.kernels.pdf.cos import PDFDocument
    from pdf_ocr_spark.kernels.pdf.extract import MAX_PAGES

    doc = PDFDocument(data)
    for i, page in enumerate(doc.pages()[:MAX_PAGES], 1):
        v = interpret_page(doc, page).rot_votes
        yield (url, i, dominant_rotation(v), v[0], v[1] + v[2] + v[3])


#: pages(url, html, …) → per-page orientation verdicts (K4).
detect_orientation = Route(orientation_rows, ORIENTATION_SCHEMA)


HTML_TABLE_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("table_index", IntegerType()),
        StructField("caption", StringType()),
        StructField("n_rows", IntegerType()),
        StructField("n_cols", IntegerType()),
        StructField("tsv", StringType()),  # rows joined by \n, cells by \t
    ]
)


@per_doc("html")
def html_table_rows(url, data):
    """Structured <table> extractor: one row per HTML table with caption,
    shape, and row-major cells as TSV — the HTML twin of the PDF
    composite table blocks."""
    from pdf_ocr_spark.kernels.html_extract import extract_tables

    for t in extract_tables(data):
        yield (url, t.table_index, t.caption, t.n_rows, t.n_cols,
               "\n".join("\t".join(r) for r in t.rows))


#: pages(url, html, …) → HTML tables (url, table_index, caption,
#: n_rows, n_cols, tsv).
extract_html_tables = Route(html_table_rows, HTML_TABLE_SCHEMA)


HTML_META_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("title", StringType()),
        StructField("description", StringType()),
        StructField("canonical", StringType()),
        StructField("lang", StringType()),
        StructField("og_title", StringType()),
        StructField("og_image", StringType()),
        StructField("published", StringType()),
        StructField("robots", StringType()),
    ]
)


@per_doc("html")
def html_meta_rows(url, data):
    """Head metadata: one row per HTML page with title / description /
    canonical / lang / OpenGraph / publish date (trafilatura-style scan).
    Payloads yielding NO metadata at all (e.g. a JPEG or zip that isn't
    HTML to begin with) emit nothing."""
    from pdf_ocr_spark.kernels.html_extract import extract_metadata

    m = extract_metadata(data)
    if any(v is not None for v in m):
        yield (url, *m)


#: pages(url, html, …) → head metadata (url, title, description,
#: canonical, lang, og_title, og_image, published, robots).
extract_html_meta = Route(html_meta_rows, HTML_META_SCHEMA)


JSONLD_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("block_index", IntegerType()),
        StructField("node_index", IntegerType()),
        StructField("ld_type", StringType()),
        StructField("name", StringType()),
        StructField("date_published", StringType()),
        StructField("valid", BooleanType()),
        StructField("raw_md5", StringType()),
    ]
)


@per_doc("html")
def jsonld_rows(url, data):
    """Structured data: one row per schema.org JSON-LD entity node —
    @type, name/headline, datePublished, plus a valid flag so malformed
    embeds stay visible to coverage accounting."""
    from pdf_ocr_spark.kernels.html_extract import extract_jsonld

    for b in extract_jsonld(data):
        yield (url, *b)


#: pages(url, html, …) → JSON-LD entities (url, block_index,
#: node_index, ld_type, name, date_published, valid, raw_md5).
extract_structured_data = Route(jsonld_rows, JSONLD_SCHEMA)


HREFLANG_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("ord", IntegerType()),
        StructField("hreflang", StringType()),
        StructField("href", StringType()),
    ]
)


@per_doc("html")
def hreflang_rows(url, data):
    """One row per ``<link rel=alternate hreflang>`` annotation in
    document order — the cross-language page mapping a multilingual
    crawl clusters translations by."""
    from pdf_ocr_spark.kernels.html_extract import extract_hreflang

    for i, (hreflang, href) in enumerate(extract_hreflang(data)):
        yield (url, i, hreflang, href)


#: pages(url, html, …) → hreflang annotations (url, ord, hreflang,
#: href).
extract_hreflang_links = Route(hreflang_rows, HREFLANG_SCHEMA)


MICRODATA_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("item_index", IntegerType()),
        StructField("item_type", StringType()),
        StructField("prop", StringType()),
        StructField("value", StringType()),
        StructField("source", StringType()),
    ]
)


@per_doc("html")
def microdata_rows(url, data):
    """One row per itemprop in the page's schema.org microdata trees —
    the attribute-based structured-data channel next to JSON-LD."""
    from pdf_ocr_spark.kernels.html_extract import extract_microdata

    for p in extract_microdata(data):
        yield (url, *p)


#: pages(url, html, …) → microdata property rows (url, item_index,
#: item_type, prop, value, source).
extract_microdata_rows = Route(microdata_rows, MICRODATA_SCHEMA)


FORM_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("field_index", IntegerType()),
        StructField("name", StringType()),       # fully-qualified (a.b)
        StructField("field_type", StringType()),  # Tx | Btn | Ch | Sig | ''
        StructField("value", StringType()),
    ]
)


@per_doc("pdf")
def form_rows(url, data):
    """AcroForm fields: one row per terminal form field — data that never
    reaches the text layer when fields lack appearance streams."""
    from pdf_ocr_spark.kernels.pdf.forms import extract_form_fields

    for i, fld in enumerate(extract_form_fields(data)):
        yield (url, i, fld.name, fld.field_type, fld.value)


#: pages(url, html, …) → AcroForm fields (url, field_index, name,
#: field_type, value).
extract_forms = Route(form_rows, FORM_SCHEMA)


DOC_INFO_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("title", StringType()),
        StructField("author", StringType()),
        StructField("subject", StringType()),
        StructField("producer", StringType()),
        StructField("created", StringType()),
        StructField("modified", StringType()),
        StructField("n_pages", IntegerType()),
    ]
)

OUTLINE_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("order", IntegerType()),
        StructField("level", IntegerType()),
        StructField("title", StringType()),
        StructField("page_num", IntegerType()),  # 1-based, -1 unresolvable
    ]
)


@per_doc("pdf")
def doc_info_rows(url, data):
    """Trailer /Info metadata per PDF (title/author/dates + page count)
    — quality/dedup signals the content stream doesn't carry."""
    from pdf_ocr_spark.kernels.pdf.docinfo import extract_doc_info

    yield (url, *extract_doc_info(data))


@per_doc("pdf")
def outline_rows(url, data):
    """Outline (bookmark) items per PDF — the document's own table of
    contents, the section-boundary signal for structure-aware chunking
    of long documents.  Outline-less PDFs emit nothing."""
    from pdf_ocr_spark.kernels.pdf.docinfo import extract_outline

    for it in extract_outline(data):
        yield (url, it.order, it.level, it.title, it.page_num)


#: pages(url, html, …) → trailer /Info metadata, one row per PDF.
extract_doc_info = Route(doc_info_rows, DOC_INFO_SCHEMA)
#: pages(url, html, …) → outline (bookmark) items per PDF.
extract_outline = Route(outline_rows, OUTLINE_SCHEMA)


ANNOT_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("page_num", IntegerType()),
        StructField("order", IntegerType()),
        StructField("subtype", StringType()),
        StructField("contents", StringType()),
        StructField("author", StringType()),
    ]
)


@per_doc("pdf")
def annot_rows(url, data):
    """Comment-layer annotations per PDF (sticky notes, highlights with
    text, free-text remarks) — reviewer content the text layer never
    carries.  Link/Widget annots belong to the frontier/forms
    extractors; geometry-only markup is skipped."""
    from pdf_ocr_spark.kernels.pdf.docinfo import extract_annotations

    for a in extract_annotations(data):
        yield (url, a.page_num, a.order, a.subtype, a.contents, a.author)


#: pages(url, html, …) → comment-layer annotations per PDF page.
extract_annotations_route = Route(annot_rows, ANNOT_SCHEMA)


LINK_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("link", StringType()),
        StructField("link_index", IntegerType()),
        StructField("source_kind", StringType()),  # 'html' | 'pdf'
        StructField("nofollow", BooleanType()),  # rel=nofollow/ugc/sponsored
        StructField("anchor_text", StringType()),  # inner text, 200-char cap
    ]
)


@per_doc()
def link_rows(url, data):
    """Crawl-frontier extractor: one row per outgoing hyperlink — HTML
    anchor hrefs (with the rel=nofollow/ugc/sponsored opt-out flag) plus
    PDF /Annots Link URIs, document order preserved."""
    from pdf_ocr_spark.kernels.html_extract import extract_links_attrs
    from pdf_ocr_spark.kernels.pdf.extract import extract_pdf

    if looks_like_pdf(data):
        doc = extract_pdf(data)
        if doc.status == "ok":
            for i, u in enumerate(doc.links):
                yield (url, u, i, "pdf", False, "")
    else:
        for i, (u, nf, at) in enumerate(extract_links_attrs(data)):
            yield (url, u, i, "html", nf, at)


#: pages(url, html, …) → outgoing-link edges (url, link, index,
#: source_kind, nofollow, anchor_text).
extract_links = Route(link_rows, LINK_SCHEMA)


def page_count_rows(urls, payloads) -> list:
    """Cheap structural pass over giant PDFs: each row passes through
    with its page count (xref + page-tree walk, no content decode; 0 on
    malformed or non-PDF input)."""
    from pdf_ocr_spark.kernels.pdf.extract import count_pdf_pages

    return [
        (u, p, count_pdf_pages(p if p is not None else b""))
        for u, p in zip(urls, payloads)
    ]


def _merged_doc_row(g: dict) -> tuple:
    """One giant's page rows from every range → its document row, through
    the same :func:`_assemble_doc` as the fused route.  A failed range
    fails the whole document with the greatest failure reason."""
    reasons = [r for r in g["failure_reason"] if r is not None]
    return _assemble_doc(
        g["url"][0],
        max(g["content_kind"]),
        list(zip(g["page"], g["page_text"], g["n_blocks"])),
        "failed" if "failed" in g["status"] else "ok",
        max(reasons, default=None),
        max(g["n_bytes"]),
        sum(g["needs_ocr"]),
    )


def extract_documents_split(
    pages_df: DataFrame,
    num_partitions: Optional[int] = None,
    giant_bytes: int = 4 << 20,
    pages_per_task: int = 32,
    tally=None,
) -> DataFrame:
    """Skew-bounded variant of :func:`extract_documents` for corpora with
    GIANT documents (SURVEY.md §4.1: "a 1000-page PDF blocks the loop
    exactly like a 1-pager").

    Normal rows (payload < ``giant_bytes``) take the fused single-stage
    path.  Giant rows go through one pass: a cheap page-count stage that
    carries the payload along, an ``explode_outer`` into (url, page_lo,
    page_hi) range rows of ``pages_per_task`` pages each — so a 5000-page
    document becomes ~150 independent tasks instead of one straggler —
    the page route over the ranges, and a groupBy(url) re-merge.  A giant
    whose count fails (0 pages: malformed, or not a PDF) gets one NULL
    range, which :func:`page_rows` extracts whole.  The split threshold is
    by payload size (known before any parse), the split unit by page count
    (known after the cheap pass).  Nothing is cached and nothing joins:
    each giant payload is scanned once."""
    if num_partitions is None:
        num_partitions = max(pages_df.sparkSession.sparkContext.defaultParallelism, 8)
    src = pages_df.select("url", "html")
    # null-safe: NULL html must take the normal path (extract_documents
    # emits its typed failure row) — a bare length() >= N predicate is NULL
    # for NULL payloads and silently drops the row from BOTH branches
    is_giant = F.coalesce(F.length("html"), F.lit(0)) >= giant_bytes

    normal_docs = extract_documents(src.filter(~is_giant), num_partitions, tally)

    counted_schema = StructType(
        [*src.schema.fields, StructField("n_pages", IntegerType())]
    )
    n_pages = F.col("n_pages")
    ranges = (
        src.filter(is_giant)
        .mapInArrow(arrow_map(page_count_rows, counted_schema), schema=counted_schema)
        .select(
            "url",
            "html",
            F.explode_outer(
                F.when(n_pages > 0, F.sequence(F.lit(1), n_pages, F.lit(pages_per_task)))
            ).alias("page_lo"),
        )
        .withColumn("page_hi", F.col("page_lo") + F.lit(pages_per_task - 1))
    )
    giant_docs = (
        ranges.repartition(num_partitions, F.xxhash64("url", "page_lo"))
        .mapInArrow(arrow_map(page_rows, PAGE_SCHEMA), schema=PAGE_SCHEMA)
        .groupBy("url")
        .applyInArrow(group_map(_merged_doc_row, DOC_SCHEMA, tally), schema=DOC_SCHEMA)
    )
    return normal_docs.unionByName(giant_docs)


def lineage_metrics(
    page_rows: DataFrame, deterministic_buckets: Optional[int] = None
) -> DataFrame:
    """Per-partition lineage/metrics sidecar rows (north rule): input
    split id, doc & page counts, byte counts, failure-reason histogram.
    Mirrors the reference's summary JSON
    (/root/reference/pdf_ocr_with_boxes_v3.py:413-428) but per partition
    and queryable.

    ``deterministic_buckets=B`` replaces the physical partition id with a
    url-content bucket (first 8 hex chars of md5(url) mod B) — the rows
    then no longer depend on partitioning/AQE at all and value-hash
    against an engine-independent replay (both Spark and DuckDB compute
    the identical md5 bucket).  Production jobs keep the default physical
    id: lineage's job is to name the actual split that produced the rows."""
    if deterministic_buckets is not None:
        pid = (
            F.conv(F.substring(F.md5(F.col("url")), 1, 8), 16, 10)
            .cast("long") % deterministic_buckets
        )
    else:
        pid = F.spark_partition_id()
    return (
        page_rows.withColumn("part_id", pid)
        .groupBy("part_id")
        .agg(
            F.countDistinct("url").alias("n_docs"),
            F.count(F.lit(1)).alias("n_pages"),
            F.sum(F.when(F.col("status") == "failed", 1).otherwise(0)).alias(
                "n_failed"
            ),
            F.sum(F.when(F.col("needs_ocr"), 1).otherwise(0)).alias("n_ocr_pages"),
            F.sum("n_bytes").alias("n_bytes"),
            F.array_sort(
                F.collect_set(F.split(F.col("failure_reason"), ":").getItem(0))
            ).alias("failure_kinds"),
        )
    )


def dedup_extracted(docs: DataFrame, mark_only: bool = False) -> DataFrame:
    """Post-extraction exact dedup: keep one canonical document per
    normalized-text fingerprint (min url wins — deterministic).  The
    training-data cleanup step chained after extraction: crawl → extract
    → dedup → clean corpus.

    One shuffle on the fingerprint; failed rows (no text) pass through
    untouched.  ``mark_only=True`` keeps every row and adds
    ``is_canonical`` instead of filtering (lets downstream decide)."""
    from pdf_ocr_spark.operators.dedup import fingerprint

    fp = F.when(
        F.col("status") == "ok", fingerprint(F.col("extracted_text"))
    )
    w = Window.partitionBy(fp).orderBy("url")
    marked = docs.withColumn(
        "is_canonical",
        fp.isNull() | (F.row_number().over(w) == 1),
    )
    if mark_only:
        return marked
    return marked.filter(F.col("is_canonical")).drop("is_canonical")


def dedup_incremental(
    new_docs: DataFrame, history: Optional[DataFrame] = None
) -> DataFrame:
    """Cross-RUN content dedup — the streaming-crawl pattern where each
    appended batch must not duplicate anything already committed: drop
    new docs whose normalized-text fingerprint exists in ``history``
    (the snapshot table), then exact-dedup within the batch
    (:func:`dedup_extracted`).  Failed rows (null fingerprint) always
    pass through — a null key never matches the anti-join.

    Scale: at 10^12 docs the history fingerprints are corpus-sized, so
    the anti-join is a sort-merge shuffle on the fingerprint; writing
    the table ``bucketBy(fp)`` (see tests/test_bucketed_join.py) makes
    the history side exchange-free on every subsequent append."""
    from pdf_ocr_spark.operators.dedup import fingerprint

    if history is not None:
        hist_fp = (
            history.filter(F.col("status") == "ok")
            .select(fingerprint(F.col("extracted_text")).alias("fp"))
            .distinct()
        )
        fp = F.when(
            F.col("status") == "ok", fingerprint(F.col("extracted_text"))
        )
        new_docs = (
            new_docs.withColumn("_fp", fp)
            .join(hist_fp, F.col("_fp") == F.col("fp"), "left_anti")
            .drop("_fp")
        )
    return dedup_extracted(new_docs)


def input_split_lineage(pages_df: DataFrame) -> DataFrame:
    """Input-split lineage: which INPUT FILE contributed which urls —
    (input_file, n_rows, n_bytes, min_url, max_url), joinable by url
    range to per-partition failure metrics for forensics ('which crawl
    segment broke').  Computed on the scan side (``input_file_name()``
    is empty after an exchange, so this runs as its own pass, not
    through the fused kernel — the hot path's schema stays untouched);
    file-scan sources only (empty for in-memory pages)."""
    return (
        pages_df.select(
            F.input_file_name().alias("input_file"),
            "url",
            F.coalesce(F.length("html"), F.lit(0)).alias("_n"),
        )
        .filter(F.col("input_file") != "")
        .groupBy("input_file")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("_n").alias("n_bytes"),
            F.min("url").alias("min_url"),
            F.max("url").alias("max_url"),
        )
    )


def doc_lineage_metrics(doc_rows: DataFrame) -> DataFrame:
    """Per-partition lineage sidecar over FUSED doc rows (the hot path's
    sidecar): same contract as :func:`lineage_metrics` but sourced from
    document-level output, so no page table needs materializing."""
    return (
        doc_rows.withColumn("part_id", F.spark_partition_id())
        .groupBy("part_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_pages").alias("n_pages"),
            F.sum(F.when(F.col("status") == "failed", 1).otherwise(0)).alias(
                "n_failed"
            ),
            F.sum("n_ocr_pages").alias("n_ocr_pages"),
            F.sum("n_bytes").alias("n_bytes"),
            F.array_sort(
                F.collect_set(F.split(F.col("failure_reason"), ":").getItem(0))
            ).alias("failure_kinds"),
        )
    )


def resume_filter(
    input_df: DataFrame,
    completed_urls: DataFrame,
    retry_transient: bool = True,
) -> DataFrame:
    """J3 resume anti-join: drop rows whose url is already committed.

    On Iceberg this reads the last committed snapshot; here, the output
    parquet dir.  One line, but it is what makes a 10^12-doc run
    restartable (north rule).

    ``retry_transient``: committed rows whose only outcome is a TRANSIENT
    failure (``ocr_failed: …`` — remote engine error after retries) do NOT
    count as completed, so the next run reprocesses them; permanent
    failures (parse errors) stay committed.  A retried url that later
    succeeds appends an ok row alongside the old failed row — at-least-once
    semantics; downstream readers canonicalize via :func:`canonical_docs`
    (status priority, total deterministic tie-break; on real Iceberg,
    MERGE INTO replaces the failed row atomically instead)."""
    done = completed_urls
    if retry_transient and "failure_reason" in done.columns:
        done = done.filter(
            F.coalesce(
                ~F.col("failure_reason").startswith("ocr_failed"), F.lit(True)
            )
        )
    return input_df.join(done.select("url"), "url", "left_anti")


def canonical_docs(docs: DataFrame) -> DataFrame:
    """Reader-side canonicalization for the at-least-once append model
    (:func:`resume_filter`): a retried transient failure appends an ok
    row ALONGSIDE the old ``ocr_failed`` row, so readers pick ONE row
    per url — ok beats failed, then the larger (n_chars, n_ocr_pages,
    n_bytes, failure_reason, extracted_text) wins, every key coalesced
    non-null so the order is total and deterministic.

    Plan: one groupBy(url) with ``max_by`` — single shuffle, map-side
    partial aggregation, no window over the whole table; scales to the
    10^12-doc table (url is the natural high-cardinality key).  On real
    Iceberg a ``MERGE INTO`` at retry-commit time replaces the failed
    row instead and this becomes a no-op."""
    cols = [c for c in docs.columns if c != "url"]
    key = F.struct(
        F.when(F.col("status") == "ok", 1).otherwise(0).alias("pri"),
        F.coalesce(F.col("n_chars"), F.lit(0)).alias("k1"),
        F.coalesce(F.col("n_ocr_pages"), F.lit(0)).alias("k2"),
        F.coalesce(F.col("n_bytes"), F.lit(0)).alias("k3"),
        F.coalesce(F.col("failure_reason"), F.lit("")).alias("k4"),
        F.coalesce(F.col("extracted_text"), F.lit("")).alias("k5"),
        # remaining fields so the order is TOTAL (max_by with tied keys
        # would otherwise be partition-order-dependent)
        F.coalesce(F.col("content_kind"), F.lit("")).alias("k6"),
        F.coalesce(F.col("n_pages"), F.lit(0)).alias("k7"),
        F.coalesce(F.col("n_blocks"), F.lit(0)).alias("k8"),
    )
    best = docs.groupBy("url").agg(
        F.max_by(F.struct(*[F.col(c) for c in cols]), key).alias("_best")
    )
    return best.select("url", *[F.col(f"_best.{c}").alias(c) for c in cols])


def read_pages(
    spark: SparkSession, input_path: str, input_format: str = "parquet"
) -> DataFrame:
    """Input-side dispatch: the pages table from parquet/Iceberg-style
    storage, straight from raw WARC/WET crawl segments, or from JSONL
    crawl dumps (``{"url": ..., "html_b64": ...}`` per line — the
    sidecar format crawl tooling commonly emits; html is base64 because
    JSON can't carry raw bytes).  An explicit schema keeps the JSONL
    scan single-pass (no sampling inference job) and prunable."""
    if input_format == "warc":
        from pdf_ocr_spark.sources.warc import warc_to_pages

        return warc_to_pages(spark, input_path)
    if input_format == "jsonl":
        raw = spark.read.schema("url string, html_b64 string").json(input_path)
        return raw.select("url", F.unbase64("html_b64").alias("html"))
    return spark.read.parquet(input_path)


def run_job(
    spark: SparkSession,
    pages: DataFrame,
    done: Optional[DataFrame],
    commit: Callable[[DataFrame, Callable], None],
    num_partitions: Optional[int] = None,
    partition_buckets: Optional[int] = None,
    split_giants: bool = False,
    giant_bytes: int = 4 << 20,
    content_dedup: bool = False,
) -> int:
    """The one checkpointed run behind every table format and every
    streamed micro-batch: anti-join ``pages`` against ``done`` (the
    table's committed rows; None for an empty table), extract the
    remainder (page-range-split over ``giant_bytes`` when
    ``split_giants``), drop text the table already holds when
    ``content_dedup`` (:func:`dedup_incremental`) and add the
    Iceberg-style ``url_bucket = xxhash64(url) % N`` column when
    ``partition_buckets=N``.  ``commit(docs, lineage)`` is the format's
    writes.  Its docs write is the one extraction; its last Python stage
    tallies the lineage (:class:`LineageTally`), so only after it does
    ``lineage()`` give ``(n, sidecar)``: a crash between them leaves docs
    without lineage, never the reverse.  Returns the number of documents
    APPENDED (0 on a fully-resumed rerun)."""
    tally = spark.sparkContext.accumulator({}, LineageTally())
    todo = pages if done is None else resume_filter(pages, done)
    extract = (functools.partial(extract_documents_split, giant_bytes=giant_bytes)
               if split_giants else extract_documents)
    docs = extract(todo, num_partitions, tally=None if content_dedup else tally)
    if content_dedup:  # rows end in a JVM window: a pass-through tallies them
        docs = dedup_incremental(docs, history=done)
        docs = docs.mapInArrow(arrow_map(_same_rows, DOC_SCHEMA, tally), DOC_SCHEMA)
    if partition_buckets:
        docs = docs.withColumn(
            "url_bucket",
            F.pmod(F.xxhash64("url"), F.lit(partition_buckets)).cast("int"),
        )

    def lineage():
        schema = doc_lineage_metrics(docs).schema  # analysis only, no job
        rows = [(p, *r[:5], sorted(r[5])) for p, r in sorted(tally.value.items())]
        return sum(r[1] for r in rows), local_frame(spark, rows, schema)

    commit(docs, lineage)
    return sum(r[0] for r in tally.value.values())


def local_frame(spark: SparkSession, rows: list, schema: StructType) -> DataFrame:
    """Driver-side ``rows`` as a one-partition DataFrame (one file when
    written); building it runs no job."""
    table = pa.Table.from_batches([_record_batch(rows, to_arrow_schema(schema))])
    return spark.createDataFrame(table, schema).coalesce(1)


def _same_rows(*cols) -> list:
    return list(zip(*cols))


def write_docs(docs: DataFrame, path: str, mode: str) -> None:
    """Parquet write of doc rows, hive-partitioned on ``url_bucket`` when
    the rows carry it (the prunable ``bucket(url)`` layout)."""
    writer = docs.write.mode(mode)
    if "url_bucket" in docs.columns:
        writer = writer.partitionBy("url_bucket")
    writer.parquet(path)


def append_extraction(
    spark: SparkSession,
    pages: DataFrame,
    output_path: str,
    sidecar_path: Optional[str] = None,
    num_partitions: Optional[int] = None,
    partition_buckets: Optional[int] = None,
    split_giants: bool = False,
    giant_bytes: int = 4 << 20,
) -> int:
    """:func:`run_job` over ``pages`` against a plain parquet directory
    (:func:`run_extraction`, each ``stream_extract`` micro-batch):
    resume against its rows, append to it, then the lineage to
    ``sidecar_path``.  Returns the number of documents appended.  A
    crash before the sidecar append leaves docs without lineage rows.
    A file sink's table is refused: readers list only the files in its
    ``_spark_metadata`` log, so appended rows would be unread."""
    if os.path.isdir(os.path.join(output_path, "_spark_metadata")):
        raise ValueError(f"{output_path} has a file sink's _spark_metadata log")

    def commit(docs: DataFrame, lineage: Callable) -> None:
        write_docs(docs, output_path, "append")
        if sidecar_path is not None:
            lineage()[1].withColumn(
                "run_output", F.lit(output_path)
            ).write.mode("append").parquet(sidecar_path)

    # a declared schema reads no footers (one job less); url_bucket is still found
    reader = spark.read.schema("url string, failure_reason string")
    done = reader.parquet(output_path) if _parquet_exists(output_path) else None
    return run_job(
        spark, pages, done, commit, num_partitions=num_partitions,
        partition_buckets=partition_buckets, split_giants=split_giants,
        giant_bytes=giant_bytes,
    )


def run_extraction(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    sidecar_path: Optional[str] = None,
    num_partitions: Optional[int] = None,
    partition_buckets: Optional[int] = None,
    split_giants: bool = False,
    giant_bytes: int = 4 << 20,
    input_format: str = "parquet",
) -> int:
    """Checkpointable batch run: :func:`append_extraction` of the pages
    under ``input_path``.  Returns the number of documents appended."""
    return append_extraction(
        spark, read_pages(spark, input_path, input_format), output_path,
        sidecar_path, num_partitions, partition_buckets, split_giants, giant_bytes,
    )


def _parquet_exists(path: str) -> bool:
    if not os.path.isdir(path):
        return False
    return any(
        name.endswith(".parquet") or name == "_SUCCESS" for name in os.listdir(path)
    )
