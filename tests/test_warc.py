"""WARC source tests: a hand-built WARC/1.0 archive (the ENCODER lives
here, independent of the reader) in plain and per-record-gzip layouts,
HTTP quirks (chunked, gzip bodies), poison tolerance, and the Spark
route end-to-end into the extraction pipeline."""

import gzip
import os

from pdf_ocr_spark.sources.warc import iter_warc_records, warc_to_pages

HTML_A = (b"<html><body><article><p>warc record one main content, long "
          b"enough for the readability scorer to keep it around as the "
          b"densest subtree of this little page.</p></article></body></html>")
HTML_B = b"<html><body><p>second record body</p></body></html>"


def _record(rtype: bytes, uri: bytes, payload: bytes, date=b"2025-03-04T05:06:07Z"):
    head = (
        b"WARC/1.0\r\n"
        b"WARC-Type: " + rtype + b"\r\n"
        b"WARC-Target-URI: " + uri + b"\r\n"
        b"WARC-Date: " + date + b"\r\n"
        b"Content-Length: " + str(len(payload)).encode() + b"\r\n"
        b"\r\n"
    )
    return head + payload + b"\r\n\r\n"


def _http(body: bytes, extra: bytes = b"") -> bytes:
    return (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" + extra
            + b"\r\n" + body)


def _archive() -> bytes:
    chunked = (b"%x\r\n" % len(HTML_B[:10]) + HTML_B[:10] + b"\r\n"
               + b"%x\r\n" % len(HTML_B[10:]) + HTML_B[10:] + b"\r\n0\r\n\r\n")
    return b"".join(
        [
            _record(b"warcinfo", b"", b"software: test"),  # no uri → skipped
            _record(b"request", b"http://a.test/", b"GET / HTTP/1.1\r\n\r\n"),
            _record(b"response", b"http://a.test/", _http(HTML_A)),
            _record(b"response", b"http://b.test/",
                    _http(chunked, b"Transfer-Encoding: chunked\r\n")),
            _record(b"response", b"http://c.test/gz",
                    _http(gzip.compress(HTML_B), b"Content-Encoding: gzip\r\n")),
            _record(b"resource", b"http://d.test/raw", HTML_B),
        ]
    )


def test_iter_warc_records_plain():
    recs = list(iter_warc_records(_archive()))
    assert [u for u, _, _ in recs] == [
        "http://a.test/", "http://b.test/", "http://c.test/gz", "http://d.test/raw"
    ]
    bodies = {u: b for u, _, b in recs}
    assert bodies["http://a.test/"] == HTML_A
    assert bodies["http://b.test/"] == HTML_B      # chunked reassembled
    assert bodies["http://c.test/gz"] == HTML_B    # gzip body decoded
    assert bodies["http://d.test/raw"] == HTML_B   # bare resource record
    assert all(d == "2025-03-04T05:06:07Z" for _, d, _ in recs)


def test_iter_warc_records_gzip_members():
    # CC layout: each record its own gzip member, concatenated
    plain = _archive()
    members = []
    pos = 0
    while pos < len(plain):
        nxt = plain.find(b"WARC/", pos + 1)
        nxt = len(plain) if nxt < 0 else nxt
        members.append(gzip.compress(plain[pos:nxt]))
        pos = nxt
    gz = b"".join(members)
    assert [u for u, _, _ in iter_warc_records(gz)] == [
        "http://a.test/", "http://b.test/", "http://c.test/gz", "http://d.test/raw"
    ]


def test_truncated_and_garbage_archives_never_raise():
    arc = _archive()
    for cut in (0, 10, 100, len(arc) // 2, len(arc) - 3):
        list(iter_warc_records(arc[:cut]))  # must not raise
    list(iter_warc_records(b"not a warc at all"))
    list(iter_warc_records(b"\x1f\x8bgarbage-gzip"))
    # bad content-length recovers at the next record boundary
    broken = arc.replace(b"Content-Length: ", b"Content-Length: x", 1)
    assert len(list(iter_warc_records(broken))) >= 3


def test_wet_conversion_records():
    wet = _record(b"conversion", b"http://a.test/", b"extracted plain text")
    recs = list(iter_warc_records(wet))
    assert recs == [("http://a.test/", "2025-03-04T05:06:07Z",
                     b"extracted plain text")]


def test_run_extraction_from_warc(spark, tmp_path):
    """The full checkpointed batch entrypoint ingesting raw WARC
    segments (input_format='warc') — resume included."""
    from pdf_ocr_spark.pipeline.extract_job import run_extraction

    src = str(tmp_path / "w")
    out = str(tmp_path / "docs")
    os.makedirs(src)
    with open(os.path.join(src, "seg.warc"), "wb") as f:
        f.write(_archive())
    n = run_extraction(spark, src, out, num_partitions=2, input_format="warc")
    assert n == 4
    n2 = run_extraction(spark, src, out, num_partitions=2, input_format="warc")
    assert n2 == 0  # resumed: every url already committed


def test_warc_to_pages_feeds_extraction(spark, tmp_path):
    """End-to-end crawl shape: WARC files → pages table → fused
    extraction; the HTML boilerplate stripper sees the record bodies."""
    from pdf_ocr_spark.pipeline.extract_job import extract_documents

    src = str(tmp_path / "warcs")
    os.makedirs(src)
    with open(os.path.join(src, "seg-0.warc"), "wb") as f:
        f.write(_archive())
    with open(os.path.join(src, "seg-1.warc.gz"), "wb") as f:
        f.write(gzip.compress(_archive().replace(b".test/", b".mirror/")))

    pages = warc_to_pages(spark, src)
    rows = {r["url"]: r for r in pages.collect()}
    assert len(rows) == 8  # 4 records × 2 segments
    assert bytes(rows["http://a.test/"]["html"]) == HTML_A
    assert rows["http://a.test/"]["warc_ts"] is not None

    docs = {r["url"]: r for r in extract_documents(pages, num_partitions=4).collect()}
    assert docs["http://a.test/"]["status"] == "ok"
    assert "warc record one main content" in docs["http://a.test/"]["extracted_text"]


def test_run_extraction_from_jsonl(spark, tmp_path):
    """JSONL crawl-dump ingestion: base64 html per line → pages table →
    identical extraction output to the parquet route."""
    import base64
    import json as _json

    from pdf_ocr_spark.fixtures.genpages import gen_rows
    from pdf_ocr_spark.pipeline.extract_job import extract_documents, read_pages

    rows = [r for r in gen_rows(12) if r["html"] is not None][:8]
    path = tmp_path / "dump.jsonl"
    with open(path, "w") as f:
        for r in rows:
            f.write(_json.dumps({
                "url": r["url"],
                "html_b64": base64.b64encode(bytes(r["html"])).decode(),
            }) + "\n")
    via_jsonl = {
        (r["url"], r["extracted_text"])
        for r in extract_documents(
            read_pages(spark, str(path), "jsonl"), num_partitions=2
        ).collect()
    }
    pages = spark.createDataFrame(
        [(r["url"], bytearray(r["html"])) for r in rows],
        "url string, html binary",
    )
    via_parquet_route = {
        (r["url"], r["extracted_text"])
        for r in extract_documents(pages, num_partitions=2).collect()
    }
    assert via_jsonl == via_parquet_route and len(via_jsonl) == 8


def test_warc_writer_roundtrip_plain_and_gzip():
    """Writer → reader round-trip: bodies, uris, and dates survive both
    the plain and per-member-gzip layouts byte-for-byte; identical input
    produces identical archive bytes (deterministic record ids, mtime=0
    gzip) — the property resume/diff tooling relies on."""
    from pdf_ocr_spark.sources.warc import (
        iter_warc_records,
        write_warc_bytes,
    )

    recs = [
        ("https://a.com/x", "2025-01-02T03:04:05Z", b"<html>alpha</html>"),
        ("https://b.com/y", "2025-01-02T03:04:06Z", "café".encode("utf-8")),
        ("https://c.com/z", "2025-01-02T03:04:07Z", b""),
    ]
    for gz in (False, True):
        blob = write_warc_bytes(recs, gzip_members=gz)
        back = list(iter_warc_records(blob))
        assert [(u, d) for u, d, _ in back] == [(u, d) for u, d, _ in recs]
        assert [b for _, _, b in back] == [b for _, _, b in recs]
        assert write_warc_bytes(recs, gzip_members=gz) == blob  # deterministic


def test_warc_writer_conversion_records_roundtrip():
    from pdf_ocr_spark.sources.warc import iter_warc_records, write_warc_bytes

    blob = write_warc_bytes(
        [("https://a.com/t", "2025-01-01T00:00:00Z", b"extracted text")],
        warc_type="conversion",
    )
    ((uri, date, body),) = list(iter_warc_records(blob))
    assert (uri, body) == ("https://a.com/t", b"extracted text")


def test_pages_to_warc_spark_roundtrip(spark):
    """Distributed round-trip: pages -> per-partition WARC archives ->
    reader recovers every html row as a response body and every
    html-less row as a conversion record of its text."""
    import datetime

    from pdf_ocr_spark.sources.warc import iter_warc_records, pages_to_warc

    ts = datetime.datetime(2025, 1, 2, 3, 4, 5)
    rows = [
        (f"https://s.com/{i}", ts, f"<html>{i}</html>".encode(), None, "en")
        for i in range(20)
    ] + [("https://s.com/wet", ts, None, "text only row", "en")]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    ).repartition(3)
    out = pages_to_warc(pages).collect()
    assert sum(r.n_records for r in out) == 21
    got = {}
    for r in out:
        for uri, date, body in iter_warc_records(bytes(r.warc)):
            got[uri] = body
    assert got["https://s.com/5"] == b"<html>5</html>"
    assert got["https://s.com/wet"] == b"text only row"
    assert len(got) == 21


def test_surt_key_forms():
    from pdf_ocr_spark.sources.warc import _surt_key

    assert _surt_key("https://www.Example.com:443/A/b?q=1") == \
        "com,example,www)/a/b?q=1"
    assert _surt_key("http://u:p@Sub.Host.ORG:8080/x") == \
        "org,host,sub:8080)/x"
    assert _surt_key("https://a.test") == "test,a)/"       # bare host
    assert _surt_key("http://a.test:80/p") == "test,a)/p"  # default port
    assert _surt_key("https://a.test/p#frag") == "test,a)/p"
    assert _surt_key("not a url") == "not a url"           # degrades, sorts


def test_cdx_records_plain_and_gz_offsets_slice_back():
    import base64
    import hashlib
    import zlib

    from pdf_ocr_spark.sources.warc import cdx_records, write_warc_bytes

    recs = [
        ("https://b.test/2", "2025-01-01T00:00:02Z", b"body-two"),
        ("https://a.test/1", "2025-01-01T00:00:01Z", b"body-one"),
    ]
    for gz in (False, True):
        data = write_warc_bytes(recs, gzip_members=gz)
        rows = cdx_records(data, "seg.warc.gz" if gz else "seg.warc")
        # index order is SURT order, not archive order
        assert [r[0] for r in rows] == ["test,a)/1", "test,b)/2"]
        assert [r[1] for r in rows] == ["20250101000001", "20250101000002"]
        assert all(r[3] == "text/html" and r[4] == 200 for r in rows)
        want = base64.b32encode(hashlib.sha1(b"body-one").digest()).decode()
        assert rows[0][5] == want
        # the (offset, length) range must fetch a parseable record
        for r in rows:
            blob = data[r[6] : r[6] + r[7]]
            if gz:
                blob = zlib.decompress(blob, 16 + zlib.MAX_WBITS)
            assert blob.startswith(b"WARC/1.0")
        # ranges tile the archive exactly (nothing unindexed)
        spans = sorted((r[6], r[7]) for r in rows)
        assert spans[0][0] == 0
        assert spans[0][1] == spans[1][0]
        assert spans[1][0] + spans[1][1] == len(data)


def test_cdx_conversion_records_and_truncation():
    from pdf_ocr_spark.sources.warc import cdx_records, write_warc_bytes

    wet = write_warc_bytes(
        [("https://a.test/t", "2025-02-02T03:04:05Z", b"plain text")],
        warc_type="conversion",
    )
    (row,) = cdx_records(wet)
    assert row[3] == "text/plain" and row[4] is None
    # truncated tail: records before the cut survive, no raise
    both = write_warc_bytes(
        [
            ("https://a.test/1", "2025-01-01T00:00:01Z", b"x"),
            ("https://a.test/2", "2025-01-01T00:00:02Z", b"y"),
        ]
    )
    assert len(cdx_records(both[: len(both) - 30])) == 1
    assert cdx_records(b"") == []
    assert cdx_records(b"\x1f\x8bgarbage") == []


def test_resolve_location_forms():
    from pdf_ocr_spark.sources.warc import resolve_location

    assert resolve_location("https://a.test/x/y", "https://b.test/z") == \
        "https://b.test/z"
    assert resolve_location("https://a.test/x/y", "//cdn.test/z") == \
        "https://cdn.test/z"
    assert resolve_location("http://a.test/x/y", "/root") == \
        "http://a.test/root"
    assert resolve_location("https://a.test/x/y", "sib?q=1") == \
        "https://a.test/x/sib?q=1"
    assert resolve_location("https://a.test", "p") == "https://a.test/p"


def test_redirect_records_extraction():
    from pdf_ocr_spark.fixtures.genpages import gen_redirect_archive
    from pdf_ocr_spark.sources.warc import redirect_records

    rows = redirect_records(gen_redirect_archive())
    by_url = {r[0]: r for r in rows}
    # 200, Location-less 301, and conversion records never appear
    assert set(by_url) == {
        "https://move.test/old/page", "http://move.test/http",
        "https://move.test/cdn", "https://move.test/a/b/c",
        "https://move.test/gone",
    }
    assert by_url["https://move.test/old/page"][2:] == (
        301, "/new/page", "https://move.test/new/page")
    assert by_url["https://move.test/a/b/c"][2:] == (
        307, "sibling?x=1", "https://move.test/a/b/sibling?x=1")
    assert by_url["https://move.test/cdn"][4] == \
        "https://cdn.move.test/asset"


def test_pages_to_warc_one_archive_per_partition_under_small_batches(spark):
    # the session's Arrow maxRecordsPerBatch is deliberately small (128);
    # the writer must still emit ONE archive per partition or CDX offsets
    # stop matching the stored file
    from pyspark.sql import functions as F

    from pdf_ocr_spark.sources.warc import pages_to_warc, warc_cdx

    n = 300  # > maxRecordsPerBatch -> several Arrow batches per partition
    pages = spark.range(n).select(
        F.concat(F.lit("https://b.test/p/"), F.col("id")).alias("url"),
        F.timestamp_seconds(F.lit(1735689600)).alias("warc_ts"),
        F.encode(F.concat(F.lit("body-"), F.col("id")), "utf-8").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.lit("en").alias("lang"),
    )
    out = pages_to_warc(pages.repartition(2, "url")).collect()
    assert len(out) == 2  # not one per Arrow batch
    assert sum(r.n_records for r in out) == n
    # and the CDX ranges built over each archive tile it exactly
    for r in out:
        arc = spark.createDataFrame([(bytearray(r.warc),)], "warc binary")
        spans = sorted(
            (row.offset, row.length) for row in warc_cdx(arc).collect()
        )
        pos = 0
        for off, ln in spans:
            assert off == pos
            pos += ln
        assert pos == len(bytes(r.warc))


def test_wat_roundtrip_html_pdf_conversion():
    from pdf_ocr_spark.sources.warc import (
        warc_to_wat_bytes,
        wat_rows,
        write_warc_record,
    )

    html = (
        b"<html><head><title>T1</title></head><body>"
        b'<a href="https://x.test/a">a</a><a href="/b">b</a>text</body></html>'
    )
    arc = write_warc_record("https://e.test/p", "2024-01-01T00:00:00Z", html)
    # PDF bytes served as text/html: sniff must suppress HTML-Metadata
    arc += write_warc_record(
        "https://e.test/d.pdf", "2024-01-01T00:00:00Z", b"%PDF-1.4 fake"
    )
    arc += write_warc_record(
        "https://e.test/t", "2024-01-01T00:00:00Z", b"plain", warc_type="conversion"
    )
    n, wat = warc_to_wat_bytes(arc)
    assert n == 3
    rows = {r[0]: r for r in wat_rows(wat)}
    url, ttype, status, mime, title, n_links, links_md5 = rows["https://e.test/p"]
    assert (ttype, status, mime, title, n_links) == (
        "response", 200, "text/html", "T1", 2,
    )
    assert links_md5 is not None
    assert rows["https://e.test/d.pdf"][4] is None  # no title from PDF bytes
    assert rows["https://e.test/d.pdf"][5] == 0
    assert rows["https://e.test/t"][1] == "conversion"

    # determinism: identical archive -> identical WAT bytes
    assert warc_to_wat_bytes(arc)[1] == wat


def test_wat_spark_route_matches_kernel(spark):
    from pdf_ocr_spark.sources.warc import (
        _write_pages,
        pages_to_warc,
        warc_to_wat,
        warc_to_wat_bytes,
        wat_rows,
        wat_to_rows,
    )
    import pyspark.sql.functions as F

    pages = spark.range(0, 12).select(
        F.concat(F.lit("https://w.test/p/"), F.col("id")).alias("url"),
        F.timestamp_seconds(F.lit(1735689600)).alias("warc_ts"),
        F.encode(
            F.concat(
                F.lit("<html><head><title>t"),
                F.col("id"),
                F.lit('</title></head><body><a href="/n">n</a>ok</body></html>'),
            ),
            "utf-8",
        ).alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.lit("en").alias("lang"),
    )
    got = sorted(
        map(tuple, wat_to_rows(warc_to_wat(pages_to_warc(pages.repartition(3, "url")))).collect())
    )
    # kernel twin over the same rows, single archive
    _, arc = _write_pages(
        (r.url, r.warc_ts, r.html, r.text) for r in pages.collect()
    )
    _, wat = warc_to_wat_bytes(arc)
    assert got == sorted(wat_rows(wat))
    assert all(r[5] == 1 and r[4].startswith("t") for r in got)


def test_wat_malformed_inputs_never_raise():
    from pdf_ocr_spark.sources.warc import (
        warc_to_wat_bytes,
        wat_rows,
        write_warc_record,
    )

    # truncated archive: records after the cut are dropped, not raised
    html = b"<html><head><title>x</title></head><body>b</body></html>"
    arc = write_warc_record("https://e.test/1", "2024-01-01T00:00:00Z", html)
    arc += write_warc_record("https://e.test/2", "2024-01-01T00:00:00Z", html)
    n_full, _ = warc_to_wat_bytes(arc)
    assert n_full == 2
    n_cut, _ = warc_to_wat_bytes(arc[: len(arc) // 2 + 10])
    assert n_cut <= 1

    # garbage bytes: zero records, empty archive
    assert warc_to_wat_bytes(b"\x00garbage" * 100) == (0, b"")

    # WAT archive with a corrupted JSON payload: that record is skipped
    _, wat = warc_to_wat_bytes(arc)
    bad = wat.replace(b'"Envelope"', b'"Envelop@"', 1)
    assert len(wat_rows(bad)) == 1  # second record still parses


def test_revisit_sink_structure_and_refers_to(spark):
    """Duplicate payloads at different urls: exactly one response per
    distinct payload (the earliest capture), revisits carry the profile
    digest and refers-to pointers that resolve to the keeper's actual
    record id in the archive bytes."""
    from pdf_ocr_spark.sources.warc import (
        _record_id,
        pages_to_warc_deduped,
        revisit_rows,
    )

    rows = [
        ("https://a.test/1", 1000, b"same body"),
        ("https://b.test/2", 2000, b"same body"),   # dup, later ts
        ("https://c.test/3", 1500, b"same body"),   # dup, middle ts
        ("https://d.test/4", 1200, b"unique"),
    ]
    pages = spark.createDataFrame(
        [(u, t, bytearray(b)) for u, t, b in rows],
        "url string, warc_ts_epoch long, html binary",
    ).selectExpr("url", "timestamp_seconds(warc_ts_epoch) AS warc_ts", "html")
    arch = pages_to_warc_deduped(pages.repartition(1)).collect()
    assert len(arch) == 1 and arch[0]["n_revisit"] == 2
    blob = bytes(arch[0]["warc"])
    parsed = revisit_rows(blob)
    by_url = {r[1]: r for r in parsed}
    assert by_url["https://a.test/1"][0] == "response"   # earliest keeper
    assert by_url["https://d.test/4"][0] == "response"
    for dup in ("https://b.test/2", "https://c.test/3"):
        t, _u, _d, digest, ref_uri, ref_date, ref_id, body_md5 = by_url[dup]
        assert t == "revisit" and body_md5 is None
        assert digest.startswith("sha256:")
        assert ref_uri == "https://a.test/1"
        assert ref_id == _record_id(ref_uri, ref_date)
        assert ref_id.encode() in blob                   # keeper really exists
    # revisit records carry no payload; responses share one digest
    assert by_url["https://b.test/2"][3] == by_url["https://a.test/1"][3]


def test_revisit_sink_deterministic_bytes(spark):
    """Same input, different partitioning → identical per-keeper
    structure and identical archive bytes within one partition layout
    (the resume/diff promise the response writer already makes)."""
    from pdf_ocr_spark.sources.warc import pages_to_warc_deduped

    pages = spark.createDataFrame(
        [(f"https://s.test/{i}", 1000 + i, bytearray(f"body{i % 3}".encode()))
         for i in range(9)],
        "url string, e long, html binary",
    ).selectExpr("url", "timestamp_seconds(e) AS warc_ts", "html")
    a = bytes(pages_to_warc_deduped(pages.repartition(1)).collect()[0]["warc"])
    b = bytes(pages_to_warc_deduped(pages.repartition(1)).collect()[0]["warc"])
    assert a == b



def test_revisit_sink_keeper_is_never_a_row_without_url(spark):
    """A NULL-url row writes no record, so it cannot keep a payload: an
    identical later capture with a url stores the full response, and no
    record refers to a 'None' target."""
    from pdf_ocr_spark.sources.warc import pages_to_warc_deduped, revisit_rows

    pages = spark.createDataFrame(
        [(None, "2025-01-01", bytearray(b"<p>same</p>")),
         ("https://d.test/a", "2025-01-02", bytearray(b"<p>same</p>"))],
        "url string, d string, html binary",
    ).selectExpr("url", "to_timestamp(d) AS warc_ts", "html")
    arch = pages_to_warc_deduped(pages.repartition(1)).collect()
    parsed = [r for a in arch for r in revisit_rows(bytes(a["warc"]))]
    assert [(r[0], r[1]) for r in parsed] == [("response", "https://d.test/a")]
    assert all(r[4] != "None" for r in parsed)
    assert sum(a["n_revisit"] for a in arch) == 0

def test_x_robots_tag_header_channel(spark):
    """X-Robots-Tag written into the response envelope reads back via
    http_header_records; the agent-prefix strip never eats the
    unavailable_after directive (whose VALUE also contains ':'), and
    repeated headers on one record all survive, joined with ', '."""
    from pdf_ocr_spark.sources.warc import (
        http_header_records, write_warc_record)

    recs = b"".join([
        write_warc_record("https://x.test/a", "2025-01-05T00:00:00Z",
                          b"<p>a</p>",
                          extra_http_headers=[("X-Robots-Tag", "noindex")]),
        write_warc_record("https://x.test/b", "2025-01-05T00:00:00Z",
                          b"<p>b</p>"),
        write_warc_record(
            "https://x.test/c", "2025-01-05T00:00:00Z", b"<p>c</p>",
            extra_http_headers=[
                ("X-Robots-Tag", "unavailable_after: 2025-07-01")]),
        write_warc_record(
            "https://x.test/d", "2025-01-05T00:00:00Z", b"<p>d</p>",
            extra_http_headers=[("X-Robots-Tag", "noindex"),
                                ("X-Robots-Tag", "noarchive")]),
    ])
    rows = http_header_records(recs)
    assert [(u, s, t) for u, _d, s, t in rows] == [
        ("https://x.test/a", 200, "noindex"),
        ("https://x.test/b", 200, ""),
        ("https://x.test/c", 200, "unavailable_after: 2025-07-01"),
        ("https://x.test/d", 200, "noindex, noarchive"),
    ]
    # distributed round trip: tag column → archive → header rows
    df = spark.createDataFrame(
        [("https://x.test/a", "noindex, nofollow"),
         ("https://x.test/b", None)],
        "url string, x_robots_tag string",
    ).selectExpr(
        "url", "timestamp '2025-01-05 00:00:00' AS warc_ts",
        "encode('hi', 'utf-8') AS html", "x_robots_tag",
    )
    from pdf_ocr_spark.sources.warc import (
        pages_to_warc_with_headers, warc_robots_headers)

    out = {r["url"]: r["x_robots_tag"] for r in warc_robots_headers(
        pages_to_warc_with_headers(df)).collect()}
    assert out == {"https://x.test/a": "noindex, nofollow",
                   "https://x.test/b": ""}


def _two_records_cut_short():
    from pdf_ocr_spark.sources.warc import write_warc_record

    body = b"<html><body>" + b"x" * 150 + b"</body></html>"
    arc = b"".join(
        write_warc_record(f"https://t.test/{i}", "2025-01-05T00:00:00Z", body)
        for i in (1, 2)
    )
    return arc[:-60]


def test_truncated_record_is_dropped_by_every_reader():
    """A record cut short by a truncated tail is dropped by every reader
    alike — never yielded with a partial body."""
    from pdf_ocr_spark.sources.warc import (
        cdx_records,
        http_header_records,
        warc_to_wat_bytes,
    )

    cut = _two_records_cut_short()
    assert [u for u, _, _ in iter_warc_records(cut)] == ["https://t.test/1"]
    assert [r[0] for r in http_header_records(cut)] == ["https://t.test/1"]
    assert [r[2] for r in cdx_records(cut)] == ["https://t.test/1"]
    assert warc_to_wat_bytes(cut)[0] == 1


def test_revisit_rows_read_gzip_member_archives():
    from pdf_ocr_spark.sources.warc import revisit_rows, write_warc_bytes

    recs = [(f"https://g.test/{i}", "2025-01-05T00:00:00Z", b"<p>%d</p>" % i)
            for i in (1, 2)]
    plain = revisit_rows(write_warc_bytes(recs))
    assert len(plain) == 2
    assert revisit_rows(write_warc_bytes(recs, gzip_members=True)) == plain


def test_revisit_route_skips_a_null_archive(spark):
    from pdf_ocr_spark.sources.warc import (
        revisit_rows,
        warc_revisit_rows,
        write_warc_bytes,
    )

    good = write_warc_bytes(
        [("https://n.test/1", "2025-01-05T00:00:00Z", b"<p>ok</p>")]
    )
    archives = spark.createDataFrame(
        [(bytearray(good),), (None,)], "warc binary"
    ).coalesce(1)
    got = [tuple(r) for r in warc_revisit_rows(archives).collect()]
    assert got == revisit_rows(good)


def test_warc_ts_converts_an_offset_to_utc():
    import datetime

    from pdf_ocr_spark.sources.warc import _warc_ts

    assert _warc_ts("2024-01-01T10:00:00+02:00") == datetime.datetime(2024, 1, 1, 8, 0)
    assert _warc_ts("2024-01-01T10:00:00Z") == datetime.datetime(2024, 1, 1, 10, 0)
    assert _warc_ts("2024-01-01T10:00:00") == datetime.datetime(2024, 1, 1, 10, 0)
    assert _warc_ts(None) is None and _warc_ts("yesterday") is None


def test_writers_skip_a_row_without_url():
    """A NULL url writes no record and is not counted, in every writer —
    never a page whose target URI is the string 'None'."""
    from pdf_ocr_spark.sources.warc import (
        _write_pages,
        _write_revisits,
        _write_with_headers,
    )

    good = ("https://w.test/1", None, b"<p>y</p>")
    n, arc = _write_pages([(None, None, b"<p>x</p>", None), good + (None,)])
    assert n == 1 and [u for u, _, _ in iter_warc_records(arc)] == [good[0]]
    n, arc = _write_with_headers([(None, None, b"<p>x</p>", "noindex"), good + (None,)])
    assert n == 1 and [u for u, _, _ in iter_warc_records(arc)] == [good[0]]
    n, n_rev, arc = _write_revisits([
        (None, None, b"<p>x</p>", "d", True, good[0], None),
        good + ("d", False, good[0], None),
    ])
    assert (n, n_rev) == (1, 0)
    assert [u for u, _, _ in iter_warc_records(arc)] == [good[0]]
