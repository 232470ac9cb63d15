"""WARC source: Common Crawl's native archive format → the pages table.

The input_hint's "Iceberg table of Common-Crawl-style web pages" starts
life as WARC files; this module closes that gap with a from-scratch
WARC/1.0 reader (ISO 28500 — public format) and a Spark route:

    spark.read.format("binaryFile") over *.warc / *.warc.gz
      → archive_pages                   # 1 archive → N page rows
      → (url, warc_ts, html, text, lang) pages table

Every per-archive reader here (pages, CDX, redirects, WARC→WAT, WAT
rows, revisit rows, robots headers) is a plain Python function of one
archive's bytes, and every Spark route maps it through the pipeline's
one Arrow adapter (``extract_job.arrow_map``): no pandas layer in the
worker.  The writers accumulate one archive per partition the same way.

Scale notes: parallelism is per-FILE (binaryFile does not split inside
an archive) — Common Crawl ships ~1 GB segments in the tens of
thousands per crawl, so file-granular parallelism saturates any
cluster; a segment parses streamingly (one record in memory at a time).
``.warc.gz`` members are handled by a multi-member zlib loop (CC
compresses each record as its own gzip member precisely so readers can
stream).  Malformed records are skipped, never raised (poison-row
promise); truncated tails yield the records before the truncation, and
a record cut short is dropped, never yielded with a partial body.
"""

from __future__ import annotations

import functools
import zlib
from datetime import datetime, timezone
from typing import Iterator, List, Optional, Tuple

_CRLF2 = b"\r\n\r\n"


def _iter_gzip_members(data: bytes) -> Iterator[bytes]:
    """Yield each gzip member of a .warc.gz archive decompressed ONE AT A
    TIME — Common Crawl gzips every record as its own member, so this is
    record-at-a-time streaming: peak memory is one decompressed record
    (plus the compressed blob), never the whole ~4-5 GB segment."""
    pos = 0
    n = len(data)
    while pos < n and data[pos : pos + 2] == b"\x1f\x8b":
        d = zlib.decompressobj(wbits=16 + zlib.MAX_WBITS)
        try:
            chunk = d.decompress(data[pos:])
        except zlib.error:
            break  # truncated/corrupt member: keep what decoded
        yield chunk
        rest = d.unused_data
        if not rest:
            break
        pos = n - len(rest)


def _parse_headers(block: bytes) -> dict:
    headers: dict = {}
    for line in block.split(b"\r\n"):
        if b":" not in line:
            continue
        k, _, v = line.partition(b":")
        headers[k.strip().lower().decode("latin-1")] = v.strip().decode(
            "latin-1", "replace"
        )
    return headers


def _http_body(payload: bytes) -> bytes:
    """HTTP response payload → body bytes.  Handles the header split and
    chunked transfer-encoding (CC stores responses verbatim); content-
    encoding (gzip bodies) is decompressed when declared."""
    if not payload.startswith(b"HTTP/"):
        return payload  # bare resource record
    sep = payload.find(_CRLF2)
    if sep < 0:
        return b""
    headers = _parse_headers(payload[:sep])
    body = payload[sep + 4 :]
    if "chunked" in headers.get("transfer-encoding", "").lower():
        out = []
        pos = 0
        while True:
            eol = body.find(b"\r\n", pos)
            if eol < 0:
                break
            try:
                size = int(body[pos:eol].split(b";")[0], 16)
            except ValueError:
                break
            if size == 0:
                break
            out.append(body[eol + 2 : eol + 2 + size])
            pos = eol + 2 + size + 2
        body = b"".join(out)
    enc = headers.get("content-encoding", "").lower()
    if enc in ("gzip", "x-gzip", "deflate"):
        try:
            wbits = 16 + zlib.MAX_WBITS if "gzip" in enc else -zlib.MAX_WBITS
            body = zlib.decompress(body, wbits)
        except zlib.error:
            pass  # undeclared-identity bodies are common; keep raw
    return body


def _iter_records_meta(data: bytes) -> Iterator[Tuple[int, int, dict, bytes]]:
    """Yield (offset, stored_length, warc_headers, payload) for every
    complete record in an UNCOMPRESSED archive slab.  stored_length spans
    headers through the record's trailing CRLFCRLF — the exact byte range
    a reader must fetch."""
    pos = 0
    n = len(data)
    while pos < n:
        start = data.find(b"WARC/", pos)
        if start < 0:
            break
        hdr_end = data.find(_CRLF2, start)
        if hdr_end < 0:
            break
        headers = _parse_headers(data[start:hdr_end])
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            pos = hdr_end + 4
            continue
        body_start = hdr_end + 4
        rec_end = body_start + length
        if rec_end > n:  # truncated tail: the capture is incomplete
            break
        end = rec_end + 4 if data[rec_end : rec_end + 4] == _CRLF2 else rec_end
        yield start, end - start, headers, data[body_start:rec_end]
        pos = rec_end


def _records(data: bytes) -> Iterator[Tuple[dict, bytes]]:
    """The one record walker: (warc_headers, payload) for every complete
    record of an archive, gzipped member-by-member (one record in memory
    at a time, see ``_iter_gzip_members``) or a plain slab.  A record cut
    short by a truncated tail ends the walk (see ``_iter_records_meta``)."""
    slabs = _iter_gzip_members(data) if data[:2] == b"\x1f\x8b" else (data,)
    for slab in slabs:
        for _, _, headers, payload in _iter_records_meta(slab):
            yield headers, payload


def _is_capture(headers: dict) -> bool:
    return headers.get("warc-type", "").lower() in (
        "response", "resource", "conversion",
    )


def iter_warc_records(
    data: bytes,
) -> Iterator[Tuple[str, Optional[str], bytes]]:
    """Yield (target_uri, warc_date, payload_body) for every WARC
    *response*/*resource*/*conversion* record in one archive (gzipped or
    plain).  Request/metadata/warcinfo records are skipped; malformed
    records end the scan rather than raising."""
    for headers, payload in _records(data):
        uri = headers.get("warc-target-uri", "")
        # 'conversion' = WET extracted-text records — same shape, bare body
        if _is_capture(headers) and uri:
            yield uri, headers.get("warc-date"), _http_body(payload)


def _warc_ts(date: Optional[str]):
    """WARC-Date → naive UTC datetime (a UTC offset is applied before it is
    dropped); None when absent or not ISO 8601."""
    try:
        ts = datetime.fromisoformat(date)
    except (TypeError, ValueError):
        return None
    if ts.tzinfo is not None:
        ts = ts.astimezone(timezone.utc).replace(tzinfo=None)
    return ts


PAGES_DDL = "url string, warc_ts timestamp, html binary, text string, lang string"


def _map_archives(archives, rows_of, ddl: str, poison=()):
    """One map over archive rows: ``rows_of(blob, *passthrough)`` gives
    one archive's rows, through the pipeline's Arrow adapter
    (``extract_job.arrow_map``).  A NULL or raising archive skips whole —
    or emits ``poison`` rows where a route promises one row per archive.
    Parallelism is per archive, no shuffle."""
    from pyspark.sql.types import StructType

    from pdf_ocr_spark.pipeline.extract_job import arrow_map

    @functools.wraps(rows_of)
    def rows_fn(blobs, *passthrough):
        out: List[tuple] = []
        for blob, *extra in zip(blobs, *passthrough):
            try:  # list() first: an archive raising midway adds no rows
                out.extend(list(rows_of(blob, *extra)))
            except Exception:  # noqa: BLE001 — poison archives skip whole
                out.extend(poison)
        return out

    schema = StructType.fromDDL(ddl)
    return archives.mapInArrow(arrow_map(rows_fn, schema), schema)


def _page_rows(blob: bytes) -> List[tuple]:
    return [
        (uri, _warc_ts(date), body, None, None)
        for uri, date, body in iter_warc_records(blob)
    ]


def archive_pages(archives):
    """(warc binary) archive rows → the Common-Crawl-style pages table
    (ready for ``extract_documents``): one page row per capture record."""
    return _map_archives(archives.select("warc"), _page_rows, PAGES_DDL)


def warc_to_pages(spark, path: str):
    """WARC files under ``path`` → the pages table: per-file parallel,
    record-level streaming inside each file."""
    raw = spark.read.format("binaryFile").load(path)
    return archive_pages(raw.withColumnRenamed("content", "warc"))


# ---------------------------------------------------------------------------
# WARC writer — the round-trip sink.  A pipeline that reads Common Crawl
# also EMITS archives (filtered sub-crawls, WET-style extracted text), so
# the reader above gets a from-scratch ISO 28500 writer whose output it
# must itself round-trip byte-for-byte on the body.


def _record_id(uri: str, date: str) -> str:
    """Deterministic RFC-4122-shaped record id derived from (uri, date) —
    md5-based so re-running a job emits IDENTICAL archives (resume- and
    diff-friendly), unlike the spec's suggested random UUIDs."""
    import hashlib

    h = hashlib.md5(f"{uri}\n{date}".encode("utf-8")).hexdigest()
    return (
        f"<urn:uuid:{h[0:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:32]}>"
    )


def write_warc_record(
    uri: str,
    date: str,
    body: bytes,
    warc_type: str = "response",
    content_type: str = "application/http; msgtype=response",
    http_status: str = "200 OK",
    http_content_type: str = "text/html",
    extra_http_headers: Optional[List[Tuple[str, str]]] = None,
    extra_warc_headers: Optional[List[Tuple[str, str]]] = None,
) -> bytes:
    """One WARC/1.0 record as bytes.  ``response`` records wrap the body
    in a minimal HTTP/1.1 envelope (what the reader's ``_http_body``
    strips back off); ``conversion`` records (WET extracted text) and
    ``resource`` records carry the bare body.  ``extra_http_headers``
    appends (name, value) lines to the HTTP envelope (e.g. a redirect's
    ``Location``); ``extra_warc_headers`` appends WARC header lines
    (e.g. a revisit record's WARC-Profile / WARC-Refers-To*)."""
    if warc_type == "response":
        extra = "".join(
            f"{k}: {v}\r\n" for k, v in (extra_http_headers or [])
        )
        payload = (
            f"HTTP/1.1 {http_status}\r\n"
            f"Content-Type: {http_content_type}\r\n"
            f"{extra}"
            f"Content-Length: {len(body)}\r\n\r\n"
        ).encode("latin-1") + body
    else:
        payload = body
        if warc_type == "conversion":
            content_type = "text/plain"
    extra_warc = "".join(
        f"{k}: {v}\r\n" for k, v in (extra_warc_headers or [])
    )
    headers = (
        f"WARC/1.0\r\n"
        f"WARC-Type: {warc_type}\r\n"
        f"WARC-Target-URI: {uri}\r\n"
        f"WARC-Date: {date}\r\n"
        f"WARC-Record-ID: {_record_id(uri, date)}\r\n"
        f"{extra_warc}"
        f"Content-Type: {content_type}\r\n"
        f"Content-Length: {len(payload)}\r\n\r\n"
    ).encode("latin-1")
    return headers + payload + b"\r\n\r\n"


def write_warc_bytes(
    records,
    gzip_members: bool = False,
    warc_type: str = "response",
) -> bytes:
    """Records ``(uri, iso_date, body)`` → one WARC archive.  With
    ``gzip_members=True`` every record compresses as its OWN gzip member
    (mtime=0, no filename → deterministic bytes) — the Common Crawl
    layout that lets readers stream member-at-a-time."""
    import gzip as _gzip
    import io

    out = []
    for uri, date, body in records:
        rec = write_warc_record(uri, date, body, warc_type=warc_type)
        if gzip_members:
            buf = io.BytesIO()
            with _gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as g:
                g.write(rec)
            rec = buf.getvalue()
        out.append(rec)
    return b"".join(out)


def _warc_date(ts) -> str:
    """A page's capture timestamp as the WARC-Date it is written with:
    ISO-8601 Z, the epoch when NULL."""
    return (
        "1970-01-01T00:00:00Z" if ts is None else ts.strftime("%Y-%m-%dT%H:%M:%SZ")
    )


def _write_pages(rows) -> Tuple[int, bytes]:
    """(url, warc_ts, html, text) rows → ONE (n_records, warc) archive.
    Null html rows emit ``conversion`` records from ``text`` (the WET
    shape) so nothing is silently dropped; rows with neither, or with no
    url to record, emit none."""
    recs = []
    for url, ts, html, text in rows:
        if url is None:
            continue
        if html is not None:
            recs.append(write_warc_record(str(url), _warc_date(ts), bytes(html)))
        elif text:
            recs.append(
                write_warc_record(
                    str(url), _warc_date(ts), text.encode("utf-8"),
                    warc_type="conversion",
                )
            )
    return len(recs), b"".join(recs)


def _write_partitions(pages, write, ddl: str):
    """One archive per PARTITION: ``write`` gets every row of the
    partition — all its Arrow batches, streamed — and returns the one
    archive row.  The session's small maxRecordsPerBatch must not split
    an archive, or offsets in a CDX built over it stop matching the
    stored file."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    from pdf_ocr_spark.pipeline.extract_job import (
        _named_after,
        _record_batch,
        _tune_worker,
    )

    schema = StructType.fromDDL(ddl)

    def run(batches):
        _tune_worker()
        rows = (
            row
            for rb in batches
            for row in zip(*(c.to_pylist() for c in rb.columns))
        )
        yield _record_batch([write(rows)], to_arrow_schema(schema))

    return pages.mapInArrow(_named_after(run, write), schema)


def pages_to_warc(pages):
    """The pages table → one WARC archive per PARTITION (the real output
    layout: one ~1 GB segment per write task; size segments by
    repartitioning upstream).  Returns (n_records, warc binary) rows —
    write with any binary sink."""
    return _write_partitions(
        pages.select("url", "warc_ts", "html", "text"),
        _write_pages,
        "n_records long, warc binary",
    )


# ---------------------------------------------------------------------------
# CDX capture index — the lookup artifact of web archiving (Common Crawl
# ships a CDXJ index beside every crawl; wayback machines resolve urls
# through it).  One row per archived capture: SURT-sorted url key,
# 14-digit timestamp, payload digest, and the (offset, length) needed to
# range-request exactly that record out of the archive.


def _surt_key(url: str) -> str:
    """Sort-friendly URL key (SURT form): lowercase, scheme and userinfo
    dropped, host segments reversed and comma-joined, default ports
    dropped, then ')' + path[?query].  'https://www.Example.com/A/b?q=1'
    → 'com,example,www)/a/b?q=1'.  Unparseable urls key as themselves
    lowercased (they still sort deterministically)."""
    u = url.strip().lower()
    m = _SURT_RE.match(u)
    if not m:
        return u
    host, port, rest = m.group(1), m.group(2), m.group(3) or "/"
    key = ",".join(reversed(host.split(".")))
    if port and port not in (":80", ":443"):
        key += port
    return key + ")" + rest


import re as _re  # noqa: E402 — module-scope for the compiled pattern

_SURT_RE = _re.compile(
    r"^[a-z][a-z0-9+.-]*://(?:[^/?#@]*@)?([^/:?#]+)(:\d+)?([/?][^#]*)?"
)


def _b32_sha1(data: bytes) -> str:
    """Base32 SHA-1 payload digest, the historical CDX digest format."""
    import base64
    import hashlib

    return base64.b32encode(hashlib.sha1(data).digest()).decode("ascii")


def _http_meta(payload: bytes) -> Tuple[Optional[int], Optional[str]]:
    """(status, mime) of an HTTP response payload; (None, None) when the
    payload is a bare body (resource/conversion records)."""
    if not payload.startswith(b"HTTP/"):
        return None, None
    sep = payload.find(_CRLF2)
    head = payload[: sep if sep >= 0 else len(payload)]
    line_end = head.find(b"\r\n")
    status_line = head[: line_end if line_end >= 0 else len(head)]
    parts = status_line.split()
    status = None
    if len(parts) >= 2:
        try:
            status = int(parts[1])
        except ValueError:
            status = None
    mime = _parse_headers(head).get("content-type")
    if mime:
        mime = mime.split(";")[0].strip().lower() or None
    return status, mime


def _ts14(warc_date: Optional[str]) -> str:
    """WARC-Date (ISO 8601) → the 14-digit CDX timestamp."""
    digits = "".join(c for c in (warc_date or "") if c.isdigit())
    return (digits + "00000000000000")[:14]


CDX_COLUMNS = [
    "surt_key", "ts", "url", "mime", "status", "digest", "offset",
    "length", "filename",
]


def cdx_records(data: bytes, filename: str = "") -> List[tuple]:
    """One WARC archive (plain or member-gzipped) → its CDX rows,
    sorted by (surt_key, ts) — the index file order.  For .warc.gz,
    offset/length address the COMPRESSED gzip member holding the record
    (what a range request against the stored file needs, and what
    Common Crawl's cdx records contain); for plain archives they
    address the record bytes directly.  Digest = base32 SHA-1 of the
    HTTP payload body (conversion/resource: the bare body).  Malformed
    records are skipped, never raised."""
    rows: List[tuple] = []

    def emit(off: int, ln: int, headers: dict, payload: bytes) -> None:
        uri = headers.get("warc-target-uri", "")
        if not _is_capture(headers) or not uri:
            return
        status, mime = _http_meta(payload)
        if mime is None:
            ct = headers.get("content-type", "")
            mime = ct.split(";")[0].strip().lower() or None
            if headers["warc-type"].lower() == "conversion" and mime is None:
                mime = "text/plain"
        rows.append(
            (
                _surt_key(uri),
                _ts14(headers.get("warc-date")),
                uri,
                mime,
                status,
                _b32_sha1(_http_body(payload)),
                off,
                ln,
                filename,
            )
        )

    if data[:2] == b"\x1f\x8b":
        pos = 0
        n = len(data)
        while pos < n and data[pos : pos + 2] == b"\x1f\x8b":
            d = zlib.decompressobj(wbits=16 + zlib.MAX_WBITS)
            try:
                chunk = d.decompress(data[pos:])
            except zlib.error:
                break
            member_len = (n - pos) - len(d.unused_data)
            for _, _, headers, payload in _iter_records_meta(chunk):
                emit(pos, member_len, headers, payload)
            if not d.unused_data:
                break
            pos = n - len(d.unused_data)
    else:
        for off, ln, headers, payload in _iter_records_meta(data):
            emit(off, ln, headers, payload)
    rows.sort(key=lambda r: (r[0], r[1], r[6]))
    return rows


CDX_DDL = (
    "surt_key string, ts string, url string, mime string, status int, "
    "digest string, offset long, length long, filename string"
)


def warc_cdx(archives):
    """(warc binary [, filename string]) rows → the CDX capture index.
    Sort the final index with a range partition on surt_key when
    writing a crawl-wide index (the only shuffle in the job)."""
    cols = [c for c in ("warc", "filename") if c in archives.columns]
    return _map_archives(
        archives.select(*cols),
        lambda blob, name="": cdx_records(blob, str(name or "")),
        CDX_DDL,
    )


# ---------------------------------------------------------------------------
# Redirect extraction — 3xx captures carry the crawl's URL-rewrite edges
# (canonicalization, http→https moves, geo mirrors).  A frontier that
# ignores them re-fetches dead urls forever; a dedup stage that ignores
# them misses that two urls are the same document.


def resolve_location(base_url: str, loc: str) -> str:
    """Absolutize a Location header against the redirecting url —
    RFC 3986 relative resolution for the forms that occur in crawls:
    absolute, scheme-relative (//host/…), root-relative (/…), and
    path-relative.  Deterministic, never raises."""
    loc = loc.strip()
    if "://" in loc[:10]:
        return loc
    m = _SURT_RE.match(base_url.strip().lower())
    scheme_end = base_url.find("://")
    scheme = base_url[:scheme_end] if scheme_end > 0 else "https"
    if loc.startswith("//"):
        return f"{scheme}:{loc}"
    if not m:
        return loc
    host_end = base_url.find("/", scheme_end + 3)
    origin = base_url if host_end < 0 else base_url[:host_end]
    if loc.startswith("/"):
        return origin + loc
    # path-relative: replace the last path segment
    path = "" if host_end < 0 else base_url[host_end:]
    cut = path.rfind("/")
    base_dir = path[: cut + 1] if cut >= 0 else "/"
    return origin + base_dir + loc


REDIRECT_COLUMNS = ["url", "ts", "status", "location", "target"]


def redirect_records(data: bytes) -> List[tuple]:
    """One WARC archive → its redirect edges: (url, ts14, status,
    raw Location, absolutized target) for every 3xx response record
    that carries a Location header.  Malformed records skip."""

    rows: List[tuple] = []
    for headers, payload in _records(data):
        if headers.get("warc-type", "").lower() != "response":
            continue
        uri = headers.get("warc-target-uri", "")
        status, _ = _http_meta(payload)
        if not uri or status is None or not 300 <= status < 400:
            continue
        sep = payload.find(_CRLF2)
        http_headers = _parse_headers(payload[: sep if sep >= 0 else len(payload)])
        loc = http_headers.get("location")
        if not loc:
            continue
        rows.append(
            (uri, _ts14(headers.get("warc-date")), status, loc,
             resolve_location(uri, loc))
        )
    rows.sort(key=lambda r: (r[0], r[1]))
    return rows


REDIRECT_DDL = (
    "url string, ts string, status int, location string, target string"
)


def warc_redirects(archives):
    """(warc binary) rows → the crawl's redirect-edge table.  Same
    per-archive parallelism as the reader: one map, no shuffle."""
    return _map_archives(archives.select("warc"), redirect_records, REDIRECT_DDL)


# ---------------------------------------------------------------------------
# WAT metadata sidecar — the third member of Common Crawl's per-segment
# triple (WARC captures / WAT metadata / WET text; CDX indexes them).
# A WAT archive holds one 'metadata' record per capture whose payload is
# a JSON envelope of everything ABOUT the record — WARC header fields,
# HTTP status/mime, and for HTML payloads the head metadata + outgoing
# links — so downstream consumers (link-graph builders, title indexes)
# never have to re-fetch or re-parse the full capture.


def _sniff_pdf(body: bytes) -> bool:
    """Prefix-only %PDF- magic, whitespace/NUL-tolerant.  Deliberately
    NOT the pipeline's ``extract_job.looks_like_pdf``, which also accepts
    a header inside the first KB: the WAT bytes (and their golden) pin
    this prefix-only sniff."""
    return body.lstrip(b"\x00\t\r\n\x0c ")[:5] == b"%PDF-"


def wat_payload(headers: dict, payload: bytes) -> str:
    """One capture's WAT JSON envelope (Common Crawl WAT shape, the
    documented subset): WARC-Header-Metadata verbatim, HTTP response
    status + content-type, and — for HTML payloads only — Head.Title
    plus the outgoing link list (``A@/href``), extracted by the same
    from-scratch HTML kernels the pipeline uses.  Serialized with
    sorted keys / no whitespace so the bytes are deterministic."""
    import json

    from pdf_ocr_spark.kernels.html_extract import extract_links, extract_metadata

    env: dict = {
        "Format": "WARC",
        "WARC-Header-Metadata": {
            "WARC-Type": headers.get("warc-type", ""),
            "WARC-Target-URI": headers.get("warc-target-uri", ""),
            "WARC-Date": headers.get("warc-date", ""),
            "WARC-Record-ID": headers.get("warc-record-id", ""),
            "Content-Length": headers.get("content-length", ""),
        },
        "Payload-Metadata": {},
    }
    if payload.startswith(b"HTTP/"):
        status, mime = _http_meta(payload)
        http: dict = {
            "Response-Message": {"Status": str(status) if status else ""},
            "Headers": {"Content-Type": mime or ""},
        }
        body = _http_body(payload)
        http["Entity-Length"] = str(len(body))
        if mime == "text/html" and not _sniff_pdf(body):
            meta = extract_metadata(body)
            links = extract_links(body)
            http["HTML-Metadata"] = {
                "Head": {"Title": meta.title or ""},
                "Links": [{"path": "A@/href", "url": u} for u in links],
            }
        env["Payload-Metadata"]["HTTP-Response-Metadata"] = http
        env["Payload-Metadata"]["Actual-Content-Type"] = (
            "application/http; msgtype=response"
        )
    else:
        env["Payload-Metadata"]["Actual-Content-Type"] = "text/plain"
        env["Payload-Metadata"]["Entity-Length"] = str(len(payload))
    return json.dumps({"Envelope": env}, sort_keys=True, separators=(",", ":"))


def warc_to_wat_bytes(data: bytes) -> Tuple[int, bytes]:
    """One WARC archive (plain or member-gzipped) → its WAT archive:
    a 'metadata' record per response/conversion capture, JSON payload,
    same target URI and date.  Deterministic bytes (record ids are
    md5-derived, JSON is key-sorted) — identical input archives yield
    identical WAT archives, the same resume/diff property as the
    writer."""
    recs: List[bytes] = []
    for headers, payload in _records(data):
        uri = headers.get("warc-target-uri", "")
        if not _is_capture(headers) or not uri:
            continue
        j = wat_payload(headers, payload)
        recs.append(
            write_warc_record(
                uri,
                headers.get("warc-date", "1970-01-01T00:00:00Z"),
                j.encode("utf-8"),
                warc_type="metadata",
                content_type="application/json",
            )
        )
    return len(recs), b"".join(recs)


def warc_to_wat(archives):
    """(warc binary) rows → WAT archives.  Same per-archive parallelism
    as the reader/CDX: one map, no shuffle — at crawl scale this is a
    pure passthrough stage beside the segment files.  One row per
    archive: a NULL or unreadable one gives (0, empty)."""
    return _map_archives(
        archives.select("warc"),
        lambda blob: [warc_to_wat_bytes(blob)],
        "n_records long, wat binary",
        poison=[(0, b"")],
    )


WAT_ROW_COLUMNS = [
    "url", "target_type", "status", "mime", "title", "n_links", "links_md5",
]
WAT_ROW_DDL = (
    "url string, target_type string, status int, mime string,"
    " title string, n_links long, links_md5 string"
)


def wat_rows(data: bytes) -> List[tuple]:
    """Parse a WAT archive back into one row per metadata record:
    (url, target_type, status, mime, title, n_links, links_md5) with
    ``links_md5`` the digest of the newline-joined link list — a
    compact value-hashable summary of the full link set."""
    import hashlib
    import json

    rows: List[tuple] = []
    for headers, payload in _records(data):
        if headers.get("warc-type", "").lower() != "metadata":
            continue
        try:
            env = json.loads(payload.decode("utf-8"))["Envelope"]
        except Exception:  # noqa: BLE001 — malformed JSON: skip record
            continue
        whm = env.get("WARC-Header-Metadata", {})
        pm = env.get("Payload-Metadata", {})
        http = pm.get("HTTP-Response-Metadata", {})
        hm = http.get("HTML-Metadata")
        status_s = http.get("Response-Message", {}).get("Status", "")
        links = [d.get("url", "") for d in (hm or {}).get("Links", [])]
        rows.append(
            (
                whm.get("WARC-Target-URI", ""),
                whm.get("WARC-Type", ""),
                int(status_s) if status_s.isdigit() else None,
                http.get("Headers", {}).get("Content-Type") or None,
                (hm or {}).get("Head", {}).get("Title") or None,
                len(links),
                hashlib.md5("\n".join(links).encode("utf-8")).hexdigest()
                if links
                else None,
            )
        )
    return rows


def wat_to_rows(wats):
    """(wat binary) rows → the parsed WAT metadata table."""
    return _map_archives(wats.select("wat"), wat_rows, WAT_ROW_DDL)


# ---------------------------------------------------------------------------
# Revisit records — WARC's own representation of URL-level duplicates.
# Common Crawl and every Heritrix-lineage crawler write a `revisit` record
# (WARC-Profile identical-payload-digest) instead of storing a payload it
# already holds: the record carries the payload digest plus WARC-Refers-To*
# pointers at the original capture.  This is dedup AT THE SINK — the
# archive itself encodes the duplicate structure, so downstream consumers
# never re-download or re-store identical bodies.

_REVISIT_PROFILE = (
    "http://netpreserve.org/warc/1.0/revisit/identical-payload-digest"
)


def _write_revisits(rows) -> Tuple[int, int, bytes]:
    """Marked page rows → ONE (n_records, n_revisit, warc) archive.
    Keeper rows write full ``response`` records (with their payload
    digest header, as Common Crawl does); duplicate rows write
    ``revisit`` records — empty payload, WARC-Profile
    identical-payload-digest, WARC-Refers-To{,-Target-URI,-Date}
    pointing at the keeper capture (deterministic, because record ids
    derive from (uri, date)).  A row with no url writes no record."""
    recs: List[bytes] = []
    n_rev = 0
    for url, ts, html, digest, is_rev, r_url, r_ts in rows:
        if url is None:
            continue
        date = _warc_date(ts)
        if not is_rev:
            recs.append(
                write_warc_record(
                    str(url), date, bytes(html),
                    extra_warc_headers=[
                        ("WARC-Payload-Digest", f"sha256:{digest}")
                    ],
                )
            )
        else:
            r_date = _warc_date(r_ts)
            n_rev += 1
            recs.append(
                write_warc_record(
                    str(url), date, b"",
                    warc_type="revisit",
                    content_type="message/http",
                    extra_warc_headers=[
                        ("WARC-Profile", _REVISIT_PROFILE),
                        ("WARC-Payload-Digest", f"sha256:{digest}"),
                        ("WARC-Refers-To", _record_id(str(r_url), r_date)),
                        ("WARC-Refers-To-Target-URI", str(r_url)),
                        ("WARC-Refers-To-Date", r_date),
                    ],
                )
            )
    return len(recs), n_rev, b"".join(recs)


def pages_to_warc_deduped(pages):
    """Pages → WARC archives with payload-level dedup AT THE SINK: the
    first capture of each distinct payload (earliest warc_ts, url as a
    total tie-break, among rows with a url) stores the full ``response``
    record; every later identical-payload capture stores a ``revisit``
    record pointing at it.  Digest = sha256 over the raw body, computed
    JVM-side.

    Scale shape: ONE groupBy on the digest (map-side combined min
    struct — only (digest, ts, url) shuffle, never bodies) + one
    digest-keyed join back, then the per-partition archive map.  The
    keeper table is distinct-payload-sized; at crawl scale this is the
    same shuffle the exact-dedup stage already pays, and the archives
    shrink by the duplicate payload bytes.  Within an archive the records
    are in capture order (warc_ts, then url, then digest), so for one
    partition layout the archive bytes do not depend on the join AQE
    picks; which partition a row lands in still may."""
    from pyspark.sql import functions as F

    keyed = pages.select("url", "warc_ts", "html").withColumn(
        "_digest", F.sha2(F.col("html"), 256)
    )
    # a row without a url writes no record, so it can keep nothing
    keepers = keyed.where(F.col("url").isNotNull()).groupBy("_digest").agg(
        F.min(F.struct("warc_ts", "url")).alias("_k")
    )
    marked = keyed.join(keepers, "_digest").select(
        "url",
        "warc_ts",
        "html",
        F.col("_digest").alias("digest"),
        (
            ~(
                (F.col("warc_ts") == F.col("_k.warc_ts"))
                & (F.col("url") == F.col("_k.url"))
            )
        ).alias("is_revisit"),
        F.col("_k.url").alias("refers_url"),
        F.col("_k.warc_ts").alias("refers_ts"),
    )
    # the join hands rows over in the order of whichever side AQE builds
    # on; capture order (ties: url, then payload) fixes the record order
    # within each partition, not which partition a row lands in
    return _write_partitions(
        marked.sortWithinPartitions("warc_ts", "url", "digest"),
        _write_revisits,
        "n_records long, n_revisit long, warc binary",
    )


REVISIT_ROWS_DDL = (
    "warc_type string, url string, date string, digest string,"
    " refers_uri string, refers_date string, refers_id string,"
    " body_md5 string"
)


def revisit_rows(data: bytes) -> List[tuple]:
    """Parse response/revisit structure back out of an archive:
    (warc_type, url, date, digest, refers_uri, refers_date, refers_id,
    body_md5) — body_md5 of the HTTP-stripped payload for responses,
    None for revisits (they carry no payload by design)."""
    import hashlib

    rows = []
    for headers, payload in _records(data):
        rtype = headers.get("warc-type", "")
        if rtype not in ("response", "revisit"):
            continue
        rows.append(
            (
                rtype,
                headers.get("warc-target-uri", ""),
                headers.get("warc-date", ""),
                headers.get("warc-payload-digest", ""),
                headers.get("warc-refers-to-target-uri"),
                headers.get("warc-refers-to-date"),
                headers.get("warc-refers-to"),
                hashlib.md5(_http_body(payload)).hexdigest()
                if rtype == "response"
                else None,
            )
        )
    return rows


def warc_revisit_rows(archives):
    """Archives → revisit-structure rows (see ``revisit_rows``);
    per-archive map, no shuffle."""
    return _map_archives(archives.select("warc"), revisit_rows, REVISIT_ROWS_DDL)


# ---------------------------------------------------------------------------
# HTTP header channel — X-Robots-Tag rides in the RESPONSE HEADERS, not
# the HTML, so a crawl that gates indexing only on <meta robots> misses
# it (Google honors both; headers are the ONLY channel for PDFs/images)


def http_header_records(
    data: bytes,
) -> List[Tuple[str, Optional[str], int, str]]:
    """WARC bytes → [(url, warc_date, http_status, x_robots_tag)] for
    response records.  The header block is parsed BEFORE body handling
    (the whole point: the verdict must not require decoding bodies);
    records without the header yield '', repeated headers join with
    ', ' (one ``noindex`` line plus one ``noarchive`` line is common)."""
    out: List[Tuple[str, Optional[str], int, str]] = []
    for headers, payload in _records(data):
        rtype = headers.get("warc-type", "").lower()
        uri = headers.get("warc-target-uri", "")
        if rtype != "response" or not uri or not payload.startswith(b"HTTP/"):
            continue
        sep = payload.find(_CRLF2)
        head = payload[: sep if sep >= 0 else len(payload)]
        tags = [
            v.strip().decode("latin-1", "replace")
            for k, _, v in (line.partition(b":") for line in head.split(b"\r\n"))
            if k.strip().lower() == b"x-robots-tag"
        ]
        line_end = head.find(b"\r\n")
        status_line = head[: line_end if line_end >= 0 else len(head)]
        parts = status_line.split(None, 2)
        try:
            status = int(parts[1])
        except (IndexError, ValueError):
            status = 0
        out.append((uri, headers.get("warc-date"), status, ", ".join(tags)))
    return out


def _write_with_headers(rows) -> Tuple[int, bytes]:
    """(url, warc_ts, html, x_robots_tag) rows → ONE (n_records, warc)
    archive; non-null tags become real ``X-Robots-Tag`` response headers
    on the record's HTTP envelope; a row with no url writes no record."""
    recs = [
        write_warc_record(
            str(url), _warc_date(ts), bytes(html),
            extra_http_headers=[("X-Robots-Tag", tag)] if tag else None,
        )
        for url, ts, html, tag in rows
        if url is not None
    ]
    return len(recs), b"".join(recs)


def pages_to_warc_with_headers(pages):
    """(url, warc_ts, html, x_robots_tag) → one WARC archive per
    partition, tags written as response headers."""
    return _write_partitions(
        pages.select("url", "warc_ts", "html", "x_robots_tag"),
        _write_with_headers,
        "n_records long, warc binary",
    )


def warc_robots_headers(archives):
    """(warc binary) rows → (url, status int, x_robots_tag) — one row per
    response record, the header-channel robots signal a WARC-native
    indexing gate joins on.  Per-archive parallelism, no shuffle — the
    same indexing shape as CDX."""
    return _map_archives(
        archives.select("warc"),
        lambda blob: [
            (url, status, tag) for url, _date, status, tag in http_header_records(blob)
        ],
        "url string, status int, x_robots_tag string",
    )
