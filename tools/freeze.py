"""Freeze every kernel-computed golden: the registry queries whose
semantics are not SQL-expressible read these parquets from their DuckDB
oracles, which gives them a FULL value-hash correctness gate instead of
a rows-only check.

Every golden is computed WITHOUT Spark: the same row functions the
distributed routes run inside ``mapInArrow`` (a side route's entry names
its ``extract_job.Route`` value from ``pipeline.extract_job`` or
``operators.frontier``, which carries the rows function, schema and
key/payload columns), or the kernels and the independent tokenizer
twins, run in-process over the repo's own deterministic corpora.  The
gate therefore compares the DISTRIBUTED pipeline against a local
execution and never depends on the testdata seeds, nor on any file
outside the repo.

One table, ``GOLDENS``: fixture file name → frame builder.  Each builder
takes its rows by name from ``fixtures.genpages.CORPORA`` — the same
table the registry queries read theirs from, so which rows feed a golden
is declared once.  ``tests/test_golden_freshness.py`` rebuilds the
entries and compares them to the committed files.

Rerun (and commit the results) only when kernel semantics intentionally
change:
    python tools/freeze.py             # every golden
    python tools/freeze.py NAME ...    # only these (file names without
                                       # the _golden.parquet suffix)
"""

from __future__ import annotations

import functools
import hashlib
import os
import re
import sys

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pdf_ocr_spark.fixtures.genpages import CORPORA  # noqa: E402
from pdf_ocr_spark.operators import frontier as FR  # noqa: E402
from pdf_ocr_spark.pipeline import extract_job as EJ  # noqa: E402

FIXTURES = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "pdf_ocr_spark", "fixtures",
)


def golden_path(name: str) -> str:
    return os.path.join(FIXTURES, f"{name}_golden.parquet")


def _sorted(df: pd.DataFrame, by) -> pd.DataFrame:
    return df.sort_values(by, kind="mergesort").reset_index(drop=True)


def _md5(texts) -> list:
    return [
        hashlib.md5((t if isinstance(t, str) else "").encode("utf-8")).hexdigest()
        for t in texts
    ]


def _run(rows_fn, schema, rows, key="url", col="html") -> pd.DataFrame:
    """A route's row function over corpus rows, in-process, as a frame
    with the route's column names."""
    keys = [r[key] for r in rows]
    payloads = [None if r[col] is None else bytes(r[col]) for r in rows]
    return pd.DataFrame(rows_fn(keys, payloads), columns=schema.fieldNames())


def _route_rows(corpus, route, sort) -> pd.DataFrame:
    """A side route's own rows over ``CORPORA[corpus]``, in-process,
    sorted by ``sort``."""
    rows = CORPORA[corpus]()
    return _sorted(_run(route.rows_fn, route.schema, rows, *route.cols), sort)


def _route(corpus, route, sort):
    """The GOLDENS entry of a side route (``extract_job.Route``);
    :data:`ROUTE_GOLDENS` lists these entries."""
    return functools.partial(_route_rows, corpus, route, sort)


def _pages(rows) -> pd.DataFrame:
    return _run(EJ.page_rows, EJ.PAGE_SCHEMA, rows)


def _docs(rows) -> pd.DataFrame:
    return _run(EJ.doc_rows, EJ.DOC_SCHEMA, rows)


# -- extraction core ---------------------------------------------------------


def extract_corpus() -> pd.DataFrame:
    """The flagship query's golden: document rows over the 150-doc mix."""
    out = _docs(CORPORA["mix_150"]())
    out["text_md5"] = _md5(out["extracted_text"])
    return _sorted(
        out[["url", "content_kind", "status", "n_pages", "n_blocks",
             "n_chars", "text_md5"]],
        "url",
    )


def pages_table() -> pd.DataFrame:
    """documents → PAGES → blocks: page rows over the 100-doc mix, page
    text pinned by md5."""
    pages = _pages(CORPORA["mix_100"]())
    pages["page_md5"] = _md5(pages["page_text"])
    return _sorted(
        pages[["url", "content_kind", "page", "page_md5", "n_blocks",
               "needs_ocr", "status", "failure_reason", "n_bytes"]],
        ["url", "page"],
    )


def _lineage(g: pd.DataFrame) -> dict:
    return {
        "n_docs": int(g["url"].nunique()),
        "n_pages": int(len(g)),
        "n_failed": int((g["status"] == "failed").sum()),
        "n_ocr_pages": int(g["needs_ocr"].fillna(False).astype(bool).sum()),
        "n_bytes": int(g["n_bytes"].sum()),
    }


def lineage_totals() -> pd.DataFrame:
    """Corpus-wide lineage totals (partition-independent, unlike the
    per-partition sidecar rows)."""
    return pd.DataFrame([_lineage(_pages(CORPORA["mix_150"]()))])


def lineage_parts() -> pd.DataFrame:
    """Per-bucket lineage rows with the DETERMINISTIC part key (first 8
    hex chars of md5(url) mod 8 — engine- and partitioning-independent),
    grouped with pandas (must match q_extract_lineage)."""
    pages = _pages(CORPORA["mix_150"]())
    pages["part_id"] = [
        int(hashlib.md5(u.encode("utf-8")).hexdigest()[:8], 16) % 8
        for u in pages["url"]
    ]
    per_part = pages.groupby("part_id").apply(
        lambda g: pd.Series(_lineage(g)), include_groups=False
    )
    return _sorted(per_part.reset_index(), "part_id")


def pipeline_e2e() -> pd.DataFrame:
    """The end-to-end composition (extract → Gopher gate → exact dedup →
    per-kind accounting), computed with a THIRD engine: document rows
    in-process + python `re` twins of the engine-identical quality
    patterns (\\z spelled \\Z for python) + hashlib dedup — independent
    of both Spark and DuckDB."""
    from pdf_ocr_spark.operators import text_analysis as T

    docs = _docs(CORPORA["mix_150_mirrored"]())
    ok = docs[docs["status"] == "ok"].copy()

    def cnt(pattern: str, text: str) -> int:
        return sum(1 for _ in re.finditer(pattern.replace(r"\z", r"\Z"), text))

    def passes_gopher(text: str) -> bool:
        words = cnt(T.WORD_PATTERN_SPLIT, text)
        if words == 0:
            return False
        word_chars = cnt(T.WORD_CHAR_PATTERN, text)
        n_lines = text.count("\n") + 1
        mwl = word_chars / words
        return (
            50 <= words <= 100_000
            and 3.0 <= mwl <= 10.0
            and cnt(T.SYMBOL_PATTERN, text) / words <= 0.1
            and cnt(T.BULLET_LINE_PATTERN, text) / n_lines <= 0.9
            and cnt(T.ELLIPSIS_LINE_PATTERN, text) / n_lines <= 0.3
            and cnt(T.ALPHA_WORD_PATTERN, text) / words >= 0.8
        )

    ok["passes"] = [passes_gopher(t or "") for t in ok["extracted_text"]]

    # exact dedup: canonical = min url per normalized-text fingerprint
    # (the Java-\s ASCII class, matching operators.dedup.normalized)
    def fp(t: str) -> str:
        norm = re.sub(r"[ \t\n\x0b\f\r]+", " ", (t or "").lower()).strip()
        return hashlib.md5(norm.encode("utf-8")).hexdigest()

    ok["fp"] = [fp(t) for t in ok["extracted_text"]]
    canon = set(ok.groupby("fp")["url"].min())
    ok["canonical"] = ok["url"].isin(canon)
    return _sorted(
        ok.assign(
            n_quality=ok["passes"].astype(int),
            n_clean=(ok["passes"] & ok["canonical"]).astype(int),
        )
        .groupby("content_kind", as_index=False)
        .agg(
            n_extracted=("url", "count"),
            n_quality=("n_quality", "sum"),
            n_clean=("n_clean", "sum"),
        ),
        "content_kind",
    )


def _scan_ocr(corpus):
    """Real-pixel scan branch: the codec decodes the image, the stub
    recognizes the pixel-grid marker (must match q_*_scan_ocr)."""

    def build() -> pd.DataFrame:
        pages = _pages(CORPORA[corpus]())
        pages["ocr_md5"] = _md5(pages["page_text"])
        return _sorted(
            pages[["url", "page", "ocr_md5", "needs_ocr", "status"]],
            ["url", "page"],
        )

    return build


def extract_quality() -> pd.DataFrame:
    """Self-contained boilerplate HTML pages plus the article ground
    truth and the in-process kernel extraction; q_extract_quality scores
    the distributed extractor against ``true_text``."""
    from pdf_ocr_spark.kernels.html_extract import extract_html

    rows = []
    for r in CORPORA["quality"]():
        extracted, status, _ = extract_html(r["html"])
        assert status == "ok", (r["url"], status)
        rows.append((r["url"], r["html"], r["true_text"], extracted))
    return pd.DataFrame(rows, columns=["url", "html", "true_text", "extracted_text"])


def blocks() -> pd.DataFrame:
    route = EJ.extract_blocks
    out = _run(route.rows_fn, route.schema, CORPORA["mix_60"]())
    # bbox exploded into scalar columns: array-typed value hashing differs
    # between engines; four doubles compare exactly
    for i, c in enumerate(["x0", "y0", "x1", "y1"]):
        out[c] = out["bbox"].map(lambda b, i=i: None if b is None else b[i])
    out = out.drop(columns=["bbox"]).rename(columns={"type": "block_type"})
    return _sorted(out, ["url", "page_num", "block_index"])


# -- media and sinks ---------------------------------------------------------


def media_rows():
    """Shared media universe for the multimodal queries: (media_id, blob)
    from the synthetic corpus payloads."""
    return [(r["media_id"], r["blob"]) for r in CORPORA["media"]()]


def multimodal_frames() -> pd.DataFrame:
    from pdf_ocr_spark.operators.multimodal import _frame_rows

    ids, blobs = zip(*media_rows())
    return pd.DataFrame(
        [(m, i, round(sum(f), 6)) for m, i, f in _frame_rows(ids, blobs)],
        columns=["media_id", "frame_idx", "feature_sum"],
    )


def sink_overlay() -> pd.DataFrame:
    """The S7 SVG sink: the overlay kernel over the single-box pages
    q_sink_overlay_svg renders."""
    from pdf_ocr_spark.operators.sinks import overlay_svg

    recs = []
    for r in CORPORA["overlay_boxes"]():
        y = r["y"]
        quad = [[10.0, y], [200.0, y], [200.0, y + 20.0], [10.0, y + 20.0]]
        svg = overlay_svg(612.0, 792.0, [(r["text"], quad)])
        recs.append(
            (r["url"], r["page"],
             hashlib.md5(svg.encode("utf-8")).hexdigest(), len(svg))
        )
    return pd.DataFrame(recs, columns=["url", "page", "svg_md5", "svg_len"])


def compression() -> pd.DataFrame:
    """zlib compression ratio per page (DuckDB has no compression
    function — q_text_compression's oracle reads this)."""
    from pdf_ocr_spark.kernels.textstats import compression_ratio

    rows = CORPORA["html_meta"]()
    return _sorted(
        pd.DataFrame(
            {
                "url": [r["url"] for r in rows],
                "n_bytes": [len(r["html"]) for r in rows],
                "compression_ratio": [compression_ratio(bytes(r["html"])) for r in rows],
            }
        ),
        "url",
    )


# -- WARC family -------------------------------------------------------------


def _pages_to_warc(rows) -> bytes:
    from pdf_ocr_spark.sources.warc import _write_pages

    n, archive = _write_pages(
        (r["url"], r["warc_ts"], r["html"], r["text"]) for r in rows
    )
    assert n == len(rows)
    return archive


def _cdx_frame(archive: bytes, filename: str) -> pd.DataFrame:
    from pdf_ocr_spark.sources.warc import CDX_COLUMNS, cdx_records

    out = pd.DataFrame(cdx_records(archive, filename), columns=CDX_COLUMNS)
    out["status"] = out["status"].astype("Int32")
    return out


def cdx() -> pd.DataFrame:
    """pages → WARC archive (one sorted partition, so the byte layout is
    pinned) → CDX index (must match q_warc_cdx)."""
    rows = sorted(CORPORA["cdx"](), key=lambda r: r["url"])
    return _cdx_frame(_pages_to_warc(rows), "part-00000.warc")


def redirects() -> pd.DataFrame:
    from pdf_ocr_spark.sources.warc import REDIRECT_COLUMNS, redirect_records

    (archive,) = CORPORA["redirect_archive"]()
    out = pd.DataFrame(redirect_records(archive["warc"]), columns=REDIRECT_COLUMNS)
    out["status"] = out["status"].astype("Int32")
    return out


def wat() -> pd.DataFrame:
    """pages → WARC → WAT → parsed rows over the 150-doc corpus (must
    match q_sink_wat_export); rows carry no byte offsets, so the query
    may repartition freely."""
    from pdf_ocr_spark.sources.warc import WAT_ROW_COLUMNS, warc_to_wat_bytes, wat_rows

    _, wat_bytes = warc_to_wat_bytes(_pages_to_warc(CORPORA["mix_150"]()))
    out = pd.DataFrame(wat_rows(wat_bytes), columns=WAT_ROW_COLUMNS)
    out["status"] = out["status"].astype("Int32")
    out["n_links"] = out["n_links"].astype("int64")
    return _sorted(out, ["url", "target_type"])


def wet_cdx() -> pd.DataFrame:
    """extraction → WET conversion archive → CDX in one chain (must
    match q_wet_cdx; the date is timestamp_seconds(1735689600))."""
    from pdf_ocr_spark.sources.warc import write_warc_bytes

    docs = _docs(CORPORA["mix_150"]())
    recs = sorted(
        (u, "2025-01-01T00:00:00Z", t.encode("utf-8"))
        for u, t in zip(docs["url"], docs["extracted_text"])
        if isinstance(t, str) and t  # WET emits non-empty text only
    )
    return _cdx_frame(write_warc_bytes(recs, warc_type="conversion"), "wet-00000.warc")


# -- independent tokenizer twins ---------------------------------------------


def bpe_merges() -> pd.DataFrame:
    from pdf_ocr_spark.operators.tokenizer import fixture_corpus
    from tools.freeze_bpe_golden import train

    return pd.DataFrame(
        train(fixture_corpus()), columns=["rank", "left", "right", "freq"]
    ).astype({"rank": "int64", "freq": "int64"})


def bpe_encode() -> pd.DataFrame:
    from pdf_ocr_spark.operators.tokenizer import fixture_corpus
    from tools.freeze_bpe_golden import encode, train

    corpus = fixture_corpus()
    merges = train(corpus)
    enc = [
        (doc_id, len(toks), " ".join(toks))
        for doc_id, text in corpus
        for toks in [encode(text, merges)]
    ]
    return pd.DataFrame(enc, columns=["doc_id", "n_tokens", "tokens"]).astype(
        {"doc_id": "int64", "n_tokens": "int64"}
    )


def _pieces(vocab) -> pd.DataFrame:
    return pd.DataFrame(vocab, columns=["piece", "freq"]).astype(
        {"piece": "string", "freq": "int64"}
    )


def _encoded(enc) -> pd.DataFrame:
    return pd.DataFrame(enc, columns=["doc_id", "n_tokens", "tokens"]).astype(
        {"doc_id": "int64", "n_tokens": "int64", "tokens": "string"}
    )


def unigram_vocab() -> pd.DataFrame:
    from pdf_ocr_spark.operators.tokenizer import fixture_corpus
    from tools.freeze_unigram_golden import train

    return _pieces(train(fixture_corpus()))


def unigram_encode() -> pd.DataFrame:
    from pdf_ocr_spark.operators.tokenizer import fixture_corpus
    from tools.freeze_unigram_golden import encode, train

    corpus = fixture_corpus()
    return _encoded(encode(corpus, train(corpus)))


def wordpiece_vocab() -> pd.DataFrame:
    from pdf_ocr_spark.operators.tokenizer import fixture_corpus
    from tools.freeze_wordpiece_golden import train

    return _pieces(train(fixture_corpus())[1])


def wordpiece_encode() -> pd.DataFrame:
    from pdf_ocr_spark.operators.tokenizer import fixture_corpus
    from pdf_ocr_spark.operators.wordpiece import eval_corpus
    from tools.freeze_wordpiece_golden import encode, train

    return _encoded(encode(eval_corpus(), train(fixture_corpus())[1]))


def robots_urls() -> pd.DataFrame:
    return pd.DataFrame(CORPORA["robots_urls"](), columns=["url"])


#: fixture name → builder; the file is ``fixtures/<name>_golden.parquet``.
#: A route entry names its corpus in ``fixtures.genpages.CORPORA``.
GOLDENS = {
    "extract_corpus": extract_corpus,
    "pages_table": pages_table,
    "lineage_totals": lineage_totals,
    "lineage_parts": lineage_parts,
    "pipeline_e2e": pipeline_e2e,
    "extract_quality": extract_quality,
    "blocks": blocks,
    "composites": _route("composites", EJ.extract_composites,
                         ["url", "page_num", "block_index"]),
    "rasters": _route("rasters", EJ.extract_rasters, ["url", "page_num"]),
    "orientation": _route("orientation", EJ.detect_orientation,
                          ["url", "page_num"]),
    "link_edges": _route("links", EJ.extract_links, ["url", "link_index"]),
    "html_tables": _route("html_tables", EJ.extract_html_tables,
                          ["url", "table_index"]),
    "html_meta": _route("html_meta", EJ.extract_html_meta, "url"),
    "jsonld": _route("jsonld", EJ.extract_structured_data,
                     ["url", "block_index", "node_index"]),
    "microdata": _route("microdata", EJ.extract_microdata_rows,
                        ["url", "item_index", "prop"]),
    "hreflang": _route("hreflang", EJ.extract_hreflang_links, ["url", "ord"]),
    "pdf_forms": _route("forms", EJ.extract_forms, ["url", "field_index"]),
    "pdf_doc_info": _route("docmeta", EJ.extract_doc_info, "url"),
    "pdf_outline": _route("docmeta", EJ.extract_outline, ["url", "order"]),
    "pdf_annotations": _route("annots", EJ.extract_annotations_route,
                              ["url", "order"]),
    "jpeg_scan_ocr": _scan_ocr("jpeg_scans"),
    "ccitt_scan_ocr": _scan_ocr("ccitt_scans"),
    "jpx_scan_ocr": _scan_ocr("jpx_scans"),
    "jbig2_scan_ocr": _scan_ocr("jbig2_scans"),
    "jpeg_rasters": _route("jpeg_scans", EJ.extract_rasters, ["url", "page_num"]),
    "ccitt_rasters": _route("ccitt_scans", EJ.extract_rasters, ["url", "page_num"]),
    "jpx_rasters": _route("jpx_scans", EJ.extract_rasters, ["url", "page_num"]),
    "jbig2_rasters": _route("jbig2_scans", EJ.extract_rasters, ["url", "page_num"]),
    "robots_rules": _route("robots", FR.robots_rules,
                           ["domain", "rule_order", "agent"]),
    "robots_delays": _route("robots", FR.robots_delays, ["domain", "agent"]),
    "robots_sitemaps": _route("robots", FR.robots_sitemaps, ["domain", "sm_index"]),
    "robots_urls": robots_urls,
    "sitemap_urls": _route("sitemaps", FR.sitemap_urls, ["sitemap", "loc"]),
    "feed_items": _route("feeds", FR.feed_items, ["feed", "link"]),
    "multimodal_frames": multimodal_frames,
    "sink_overlay": sink_overlay,
    "compression": compression,
    "cdx": cdx,
    "redirects": redirects,
    "wat": wat,
    "wet_cdx": wet_cdx,
    "bpe_merges": bpe_merges,
    "bpe_encode": bpe_encode,
    "unigram_vocab": unigram_vocab,
    "unigram_encode": unigram_encode,
    "wordpiece_vocab": wordpiece_vocab,
    "wordpiece_encode": wordpiece_encode,
}

#: the side-route entries of GOLDENS: name → (corpus, route, sort).
ROUTE_GOLDENS = {
    name: build.args
    for name, build in GOLDENS.items()
    if isinstance(build, functools.partial) and build.func is _route_rows
}


if __name__ == "__main__":
    names = sys.argv[1:] or list(GOLDENS)
    unknown = sorted(set(names) - set(GOLDENS))
    if unknown:
        sys.exit(f"unknown golden(s): {', '.join(unknown)}")
    for name in names:
        df = GOLDENS[name]()
        df.to_parquet(golden_path(name), index=False)
        print(f"{name}: {len(df)} rows frozen")
