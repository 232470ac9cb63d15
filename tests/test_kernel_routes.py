"""The shared kernel-route machinery: ``per_doc`` isolates a poison
document without losing its neighbours, and ``arrow_map`` types the rows
from the route's Spark schema."""

import importlib
import re

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
        DOC_SCHEMA,
        OCR_FAILED_REASON,
        PAGE_SCHEMA,
        _merged_doc_row,
        group_map,
    )

    _merge_ranges = group_map(_merged_doc_row, DOC_SCHEMA)

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


# -- the Python stages outside the kernel routes ------------------------------
#
# Every map and grouped-map Python stage runs through the Arrow adapter:
# each case builds a moved route over a tiny input and the rows its
# in-process rows function gives for the same input.

_HTML = (b'<html><head><title>T</title></head>'
         b'<body><a href="/n">n</a> hello world</body></html>')


def _archives(spark):
    from pdf_ocr_spark.sources.warc import write_warc_bytes, write_warc_record

    plain = write_warc_record(
        "https://a.test/p", "2025-01-05T00:00:00Z", _HTML,
        extra_http_headers=[("X-Robots-Tag", "noindex")],
    ) + write_warc_record(
        "https://a.test/old", "2025-01-05T00:00:00Z", b"",
        http_status="301 Moved Permanently",
        extra_http_headers=[("Location", "/new")],
    )
    gz = write_warc_bytes(
        [("https://b.test/q", "2025-01-06T00:00:00Z", _HTML)], gzip_members=True
    )
    blobs = [plain, gz, None]
    df = spark.createDataFrame(
        [(None if b is None else bytearray(b), f"f{i}.warc") for i, b in enumerate(blobs)],
        "warc binary, filename string",
    )
    return df, blobs


def _per_archive(blobs, rows_of, *names):
    extras = zip(*names) if names else [()] * len(blobs)
    return [r for b, e in zip(blobs, extras) if b is not None for r in rows_of(b, *e)]


def _split_archive(row):
    """A writer's archive row with its records split out and sorted, so
    partition-internal row order does not matter."""
    from pdf_ocr_spark.sources.warc import _iter_records_meta

    *counts, arc = row
    arc = bytes(arc)
    return (*counts, sorted(arc[o:o + n] for o, n, _, _ in _iter_records_meta(arc)))


def _pages(spark, with_tag=False):
    import datetime

    rows = [
        ("https://p.test/1", datetime.datetime(2025, 1, 1, 10, 0), _HTML, None, "noindex"),
        ("https://p.test/2", None, b"<p>two</p>", "two", None),
        ("https://p.test/3", datetime.datetime(2025, 1, 2), None, "wet text", None),
    ]
    if with_tag:
        rows = [(u, t, h or b"", tag) for u, t, h, _, tag in rows]
        ddl = "url string, warc_ts timestamp, html binary, x_robots_tag string"
    else:
        rows = [r[:4] for r in rows]
        ddl = "url string, warc_ts timestamp, html binary, text string"
    return spark.createDataFrame(rows, ddl).coalesce(1), rows


def _case_archive_pages(spark):
    from pdf_ocr_spark.sources.warc import _page_rows, archive_pages

    df, blobs = _archives(spark)
    return archive_pages(df), _per_archive(blobs, _page_rows)


def _case_warc_cdx(spark):
    from pdf_ocr_spark.sources.warc import cdx_records, warc_cdx

    df, blobs = _archives(spark)
    names = [f"f{i}.warc" for i in range(len(blobs))]
    return warc_cdx(df), _per_archive(blobs, cdx_records, names)


def _case_warc_redirects(spark):
    from pdf_ocr_spark.sources.warc import redirect_records, warc_redirects

    df, blobs = _archives(spark)
    return warc_redirects(df), _per_archive(blobs, redirect_records)


def _case_warc_to_wat(spark):
    from pdf_ocr_spark.sources.warc import warc_to_wat, warc_to_wat_bytes

    df, blobs = _archives(spark)
    return warc_to_wat(df), [
        (0, b"") if b is None else warc_to_wat_bytes(b) for b in blobs
    ]


def _case_wat_to_rows(spark):
    from pdf_ocr_spark.sources.warc import warc_to_wat_bytes, wat_rows, wat_to_rows

    _, blobs = _archives(spark)
    wats = [warc_to_wat_bytes(b)[1] for b in blobs if b is not None] + [None]
    df = spark.createDataFrame(
        [(None if w is None else bytearray(w),) for w in wats], "wat binary"
    )
    return wat_to_rows(df), _per_archive(wats, wat_rows)


def _case_warc_revisit_rows(spark):
    from pdf_ocr_spark.sources.warc import revisit_rows, warc_revisit_rows

    df, blobs = _archives(spark)
    return warc_revisit_rows(df), _per_archive(blobs, revisit_rows)


def _case_warc_robots_headers(spark):
    from pdf_ocr_spark.sources.warc import http_header_records, warc_robots_headers

    df, blobs = _archives(spark)
    return warc_robots_headers(df), [
        (u, s, t) for u, _d, s, t in _per_archive(blobs, http_header_records)
    ]


def _case_pages_to_warc(spark):
    from pdf_ocr_spark.sources.warc import _write_pages, pages_to_warc

    df, rows = _pages(spark)
    return pages_to_warc(df), [_write_pages(rows)]


def _case_pages_to_warc_with_headers(spark):
    from pdf_ocr_spark.sources.warc import _write_with_headers, pages_to_warc_with_headers

    df, rows = _pages(spark, with_tag=True)
    return pages_to_warc_with_headers(df), [_write_with_headers(rows)]


def _case_pages_to_warc_deduped(spark):
    import datetime
    import hashlib

    from pdf_ocr_spark.sources.warc import _write_revisits, pages_to_warc_deduped

    t1, t2 = datetime.datetime(2025, 1, 1), datetime.datetime(2025, 1, 2)
    digest = hashlib.sha256(_HTML).hexdigest()
    df = spark.createDataFrame(
        [("https://d.test/late", t2, _HTML), ("https://d.test/first", t1, _HTML)],
        "url string, warc_ts timestamp, html binary",
    ).repartition(1)
    marked = [
        ("https://d.test/late", t2, _HTML, digest, True, "https://d.test/first", t1),
        ("https://d.test/first", t1, _HTML, digest, False, "https://d.test/first", t1),
    ]
    return pages_to_warc_deduped(df), [_write_revisits(marked)]


def _docs(spark):
    docs = [(1, "Hello  world\tHELLO"), (2, "low lower lowest"), (3, "")]
    return spark.createDataFrame(docs, "doc_id long, text string"), docs


def _case_bpe_encode_arrow(spark):
    from pdf_ocr_spark.operators.tokenizer import _apply_merges, _encode_rows, bpe_encode_arrow

    merges = [(0, "l", "o", 9), (1, "lo", "w", 7), (2, "e", "r", 3)]
    ordered = [(l, r) for _, l, r, _ in merges]
    df, docs = _docs(spark)
    expected = _encode_rows(lambda w: _apply_merges(w, ordered))(*zip(*docs))
    return bpe_encode_arrow(df, merges), expected


def _case_unigram_encode(spark):
    from pdf_ocr_spark.operators.tokenizer import _encode_rows
    from pdf_ocr_spark.operators.unigram import _log_scores, unigram_encode, viterbi_segment

    vocab = [(c, 2) for c in "dehlorstw"] + [("low", 5), ("er", 3), ("hello", 4)]
    logp = _log_scores(vocab)
    df, docs = _docs(spark)
    expected = _encode_rows(lambda w: viterbi_segment(w, logp, 6))(*zip(*docs))
    return unigram_encode(df, vocab), expected


def _case_wordpiece_encode(spark):
    from pdf_ocr_spark.operators.tokenizer import _encode_rows
    from pdf_ocr_spark.operators.wordpiece import max_match, wordpiece_encode

    vocab = [("hello", 3), ("low", 2), ("##er", 1), ("##est", 1), ("w", 1)]
    vset = frozenset(p for p, _ in vocab)
    df, docs = _docs(spark)
    expected = _encode_rows(lambda w: max_match(w, vset, 5))(*zip(*docs))
    return wordpiece_encode(df, vocab), expected


def _media(spark):
    media = [(1, b"\xff\xd8\xffjpeg-ish"), (2, None), (3, b""), (4, b"%PDF-1.4 x")]
    df = spark.createDataFrame(
        [(m, None if b is None else bytearray(b)) for m, b in media],
        "media_id long, blob binary",
    )
    return df, [m for m, _ in media], [b for _, b in media]


def _case_decode_frames(spark):
    from pdf_ocr_spark.operators.multimodal import _frame_rows, decode_frames

    df, ids, blobs = _media(spark)
    return decode_frames(df), _frame_rows(ids, blobs)


def _case_resize_media(spark):
    from pdf_ocr_spark.operators.multimodal import _resize_rows, resize_media

    df, ids, blobs = _media(spark)
    return resize_media(df), _resize_rows(ids, blobs)


def _case_render_overlays(spark):
    from pdf_ocr_spark.operators.sinks import _overlay_row, render_overlays

    quad = [[10.0, 20.0], [90.0, 20.0], [90.0, 40.0], [10.0, 40.0]]
    blocks = [
        ("u://a", 1, 612.0, 792.0, "first <box>", quad),
        ("u://a", 1, 612.0, 792.0, "second", quad[:3]),
        ("u://a", 2, 300.0, 400.0, "other page", quad),
    ]
    cols = ["url", "page", "page_w", "page_h", "text", "quad"]
    df = spark.createDataFrame(
        blocks,
        "url string, page int, page_w double, page_h double, text string,"
        " quad array<array<double>>",
    )
    groups = [[b for b in blocks if b[1] == p] for p in (1, 2)]
    return render_overlays(df), [
        _overlay_row({c: list(v) for c, v in zip(cols, zip(*g))}) for g in groups
    ]


def _case_render_double_layer(spark):
    from pdf_ocr_spark.operators.sinks import _double_layer_row, render_double_layer

    quad = [[10.0, 20.0], [90.0, 20.0], [90.0, 40.0], [10.0, 40.0]]
    pages = [
        ("u://d", 2, 200.0, 100.0, None, ["two"], [quad]),
        ("u://d", 1, 200.0, 100.0, b"\x00\x01\x02" * 4, ["one", "x"], [quad, quad]),
    ]
    cols = ["url", "page", "page_w", "page_h", "image", "texts", "quads"]
    df = spark.createDataFrame(
        pages,
        "url string, page int, page_w double, page_h double, image binary,"
        " texts array<string>, quads array<array<array<double>>>",
    )
    return render_double_layer(df), [
        _double_layer_row({c: list(v) for c, v in zip(cols, zip(*pages))})
    ]


_WRITERS = {"pages_to_warc", "pages_to_warc_with_headers", "pages_to_warc_deduped"}
_MOVED_STAGES = sorted(
    name[len("_case_"):] for name in list(globals()) if name.startswith("_case_")
)


def _plain(row):
    return tuple(bytes(v) if isinstance(v, (bytes, bytearray)) else v for v in row)


@pytest.mark.parametrize("stage", _MOVED_STAGES)
def test_moved_stage_runs_on_arrow_and_matches_its_rows_fn(spark, stage):
    df, expected = globals()[f"_case_{stage}"](spark)
    got = [tuple(r) for r in df.collect()]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan or "FlatMapGroupsInArrow" in plan, plan
    assert "Pandas" not in plan, plan
    if stage in _WRITERS:
        got = [_split_archive(r) for r in got if r[0]]
        expected = [_split_archive(r) for r in expected]
    assert sorted(map(_plain, got), key=repr) == sorted(map(_plain, expected), key=repr)
    assert got  # every case exercises real rows


def _scalar_nfc(spark):
    from pdf_ocr_spark.operators.text_analysis import _nfc, nfc_normalize

    docs = [(1, "e\u0301cole Å"), (2, None), (3, "")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    return nfc_normalize(df), [(i, _nfc(t)) for i, t in docs]


def _scalar_compression(spark):
    from pdf_ocr_spark.kernels.textstats import compression_ratio
    from pdf_ocr_spark.operators.text_analysis import compression_signals

    pages = [("u1", b"<p>" + b"abc" * 50), ("u2", None), ("u3", b"\x00\xff")]
    df = spark.createDataFrame(
        [(u, None if b is None else bytearray(b)) for u, b in pages],
        "url string, html binary",
    )
    return compression_signals(df), [
        (u, len(b or b""), compression_ratio(b or b"")) for u, b in pages
    ]


@pytest.mark.parametrize("stage", ["nfc", "compression"])
def test_scalar_udf_runs_on_arrow_and_matches_its_value_fn(spark, stage):
    """The two scalar Python UDFs run as scalar Arrow UDFs (eval type
    250), not pandas ones (200), and give their value function's rows."""
    df, expected = globals()[f"_scalar_{stage}"](spark)
    got = [tuple(r) for r in df.collect()]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert re.findall(r"ArrowEvalPython .*, (\d+)$", plan, re.M) == ["250"], plan
    assert sorted(got, key=repr) == sorted(expected, key=repr)


def test_null_text_encodes_like_the_empty_string_in_every_encoder(spark):
    from pdf_ocr_spark.operators.tokenizer import bpe_encode_arrow
    from pdf_ocr_spark.operators.unigram import unigram_encode
    from pdf_ocr_spark.operators.wordpiece import wordpiece_encode

    docs = spark.createDataFrame(
        [(1, "hello world"), (2, None), (3, "")], "doc_id long, text string"
    )
    encoders = {
        "bpe": lambda d: bpe_encode_arrow(d, [(0, "l", "o", 3), (1, "lo", "w", 2)]),
        "unigram": lambda d: unigram_encode(d, [(c, 1) for c in "dehlorw"]),
        "wordpiece": lambda d: wordpiece_encode(d, [("hello", 1), ("world", 1)]),
    }
    for name, encode in encoders.items():
        rows = {r["doc_id"]: (r["n_tokens"], r["tokens"]) for r in encode(docs).collect()}
        assert rows[2] == rows[3] == (0, ""), name
        assert rows[1][0] > 0, name


def test_plan_labels_each_python_stage_with_its_rows_function(spark):
    """A plan names the rows function each Python stage runs, not the
    adapter's closure: the fused route reads ``doc_rows(``, a side route
    its own rows function, the giant-document merge its row function."""
    from pdf_ocr_spark.pipeline.extract_job import (
        extract_documents,
        extract_documents_split,
        extract_html_tables,
    )

    pages = spark.createDataFrame(
        [("https://p.test/1", b"<table><tr><td>a</td><td>1</td></tr></table>")],
        "url string, html binary",
    )

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    fused = plan(extract_documents(pages))
    assert "MapInArrow doc_rows(" in fused, fused
    assert "run(" not in fused, fused
    tables = plan(extract_html_tables(pages))
    assert "MapInArrow html_table_rows(" in tables, tables
    split = plan(extract_documents_split(pages, giant_bytes=1))
    assert "page_count_rows(" in split and "_merged_doc_row(" in split, split
    assert "run(" not in split, split
