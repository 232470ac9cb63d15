"""Spark pipeline tests: local-vs-Spark equivalence for every corpus url,
the resume anti-join protocol, lineage sidecar, and plan shape."""

import hashlib
import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import local_extract


@pytest.fixture(scope="module")
def docs_df(spark, corpus_parquet):
    from pdf_ocr_spark.pipeline.extract_job import extract_documents

    pages = spark.read.parquet(corpus_parquet)
    return extract_documents(pages).cache()


def test_every_url_matches_local_kernel(docs_df, corpus_rows):
    """The core equivalence property (SURVEY.md §5.3 #3): the distributed
    pipeline's extracted_text is byte-identical to the plain-Python kernel
    for every document."""
    spark_rows = {r["url"]: r for r in docs_df.collect()}
    assert len(spark_rows) == len(corpus_rows)
    for row in corpus_rows:
        text, status, reason = local_extract(row["html"])
        got = spark_rows[row["url"]]
        assert got["status"] == status, row["url"]
        if status == "ok":
            assert got["extracted_text"] == text, row["url"]
        else:
            assert got["extracted_text"] is None


def test_ocr_branch_in_pipeline(docs_df, corpus_rows):
    scan_urls = [r["url"] for r in corpus_rows if r["kind"] == "pdf_scan"]
    rows = docs_df.filter(F.col("url").isin(scan_urls)).collect()
    assert len(rows) == len(scan_urls)
    for r in rows:
        assert r["status"] == "ok"
        assert "# 第 1 页" in r["extracted_text"]
        assert len(r["extracted_text"]) > 20


def test_lineage_metrics(spark, corpus_parquet):
    from pdf_ocr_spark.pipeline.extract_job import extract_pages, lineage_metrics

    pages = spark.read.parquet(corpus_parquet)
    metrics = lineage_metrics(extract_pages(pages, num_partitions=4)).collect()
    assert 1 <= len(metrics) <= 4
    assert sum(m["n_docs"] for m in metrics) == 100
    assert sum(m["n_failed"] for m in metrics) >= 1
    assert all(m["n_bytes"] > 0 for m in metrics)


def test_resume_anti_join(spark, corpus_parquet, tmp_path):
    """Kill-and-restart equivalence (SURVEY.md §5.3 #5): first run commits
    half the corpus, the restart processes only the remainder, and the
    final table equals a single-run table."""
    from pdf_ocr_spark.pipeline.extract_job import (
        extract_documents,
        resume_filter,
        run_extraction,
    )

    out = str(tmp_path / "out.parquet")
    pages = spark.read.parquet(corpus_parquet)
    # simulate a partial first run: commit 40 urls
    first = pages.orderBy("url").limit(40)
    extract_documents(first).write.mode("overwrite").parquet(out)
    assert spark.read.parquet(out).count() == 40

    # restart: resume_filter must see only the 60 remaining
    done = spark.read.parquet(out)
    remaining = resume_filter(pages, done)
    assert remaining.count() == 60

    n = run_extraction(spark, corpus_parquet, out)
    assert n == 60  # appended count: only the uncommitted remainder
    final = spark.read.parquet(out)
    assert final.count() == 100
    assert final.select("url").distinct().count() == 100

    # rerunning when everything is committed processes nothing new
    n2 = run_extraction(spark, corpus_parquet, out)
    assert n2 == 0

    # byte-equality with a single-shot run
    single = {
        r["url"]: r["extracted_text"]
        for r in extract_documents(pages).collect()
    }
    resumed = {r["url"]: r["extracted_text"] for r in final.collect()}
    assert resumed == single


def test_page_route_equals_local_core(spark, corpus_parquet, corpus_rows):
    """The Spark page route emits exactly the extraction core's page rows
    computed locally on the same payloads — the local core is the oracle
    for the distributed stage (parse + OCR in one python stage)."""
    from pdf_ocr_spark.pipeline.extract_job import extract_pages, page_rows

    pages = spark.read.parquet(corpus_parquet)
    got = sorted(tuple(r) for r in extract_pages(pages, num_partitions=4).collect())
    local = sorted(
        page_rows([r["url"] for r in corpus_rows],
                  [bytes(r["html"]) for r in corpus_rows])
    )
    assert len(local) > len(corpus_rows)  # multi-page docs fan out
    assert got == local


def test_doc_lineage_metrics(spark, corpus_parquet):
    from pdf_ocr_spark.pipeline.extract_job import (
        doc_lineage_metrics,
        extract_documents,
    )

    pages = spark.read.parquet(corpus_parquet)
    metrics = doc_lineage_metrics(extract_documents(pages, num_partitions=4)).collect()
    assert 1 <= len(metrics) <= 4
    assert sum(m["n_docs"] for m in metrics) == 100
    assert sum(m["n_failed"] for m in metrics) >= 1
    assert sum(m["n_ocr_pages"] for m in metrics) >= 1
    assert all(m["n_bytes"] > 0 for m in metrics)


def test_fused_plan_single_shuffle_no_aggregate(spark, corpus_parquet):
    """The fused hot path: exactly one Exchange (the explicit salted
    repartition) and NO HashAggregate/Sort — assembly happens inside the
    UDF, so the plan is scan → exchange → one python stage."""
    from pdf_ocr_spark.pipeline.extract_job import extract_documents

    # filter() keeps this plan from matching the cached docs_df fixture
    # (a cache hit would swap in InMemoryTableScan, hiding the real plan)
    pages = spark.read.parquet(corpus_parquet).filter(F.length("url") >= 0)
    plan = (
        extract_documents(pages, num_partitions=8)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange") == 1
    assert "xxhash64" in plan
    assert "HashAggregate" not in plan and "SortAggregate" not in plan


def test_composites_plan_single_shuffle(spark, corpus_parquet):
    """The composite-blocks route keeps the hot-path plan shape: scan
    pruned to (url, html) → one salted Exchange → one python stage."""
    from pdf_ocr_spark.pipeline.extract_job import extract_composites

    pages = spark.read.parquet(corpus_parquet).filter(F.length("url") >= 0)
    plan = (
        extract_composites(pages, num_partitions=8)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange") == 1
    assert "xxhash64" in plan
    assert "HashAggregate" not in plan and "SortAggregate" not in plan


def test_bucketed_output_layout_and_resume(spark, corpus_parquet, tmp_path):
    """Iceberg-style bucket(url) output layout: hive-partitioned on
    url_bucket, prunable by the scan, and still resumable."""
    import os

    from pdf_ocr_spark.pipeline.extract_job import run_extraction

    out = str(tmp_path / "bucketed")
    n = run_extraction(spark, corpus_parquet, out, partition_buckets=8)
    assert n == 100
    buckets = sorted(d for d in os.listdir(out) if d.startswith("url_bucket="))
    assert 2 <= len(buckets) <= 8

    # partition pruning reaches the scan
    df = spark.read.parquet(out).filter(F.col("url_bucket") == 3)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(url_bucket" in plan

    # resume over the bucketed table processes nothing new
    n2 = run_extraction(spark, corpus_parquet, out, partition_buckets=8)
    assert n2 == 0
    assert spark.read.parquet(out).select("url").distinct().count() == 100


def test_giant_doc_split_equals_fused(spark):
    """Giant-document page-range splitting (SURVEY.md §4.1 straggler
    mitigation): with a tiny threshold forcing EVERY pdf through the
    two-phase split path, results equal the fused single-task path —
    including multi-page docs split mid-document, OCR pages inside a
    range, and a poison giant."""
    from pdf_ocr_spark.fixtures.genpages import (
        gen_rows,
        make_scan_pdf,
        make_simple_pdf,
    )
    from pdf_ocr_spark.pipeline.extract_job import (
        extract_documents,
        extract_documents_split,
    )

    rows = [
        ("big://simple10", make_simple_pdf(
            [[f"page {i} line one", f"page {i} line two"] for i in range(1, 11)]
        )),
        ("big://scan3", make_scan_pdf(["scan one", "scan two", "scan three"])),
        ("big://broken", b"%PDF-1.7\ngarbage with no xref"),
    ] + [(r["url"], bytes(r["html"])) for r in gen_rows(30)]
    pages = spark.createDataFrame(
        [(u, bytearray(b)) for u, b in rows], "url string, html binary"
    ).unionByName(
        # NULL payload must survive the split path too (null-safe is_giant)
        spark.createDataFrame([("big://nullhtml", None)], "url string, html binary")
    )

    cols = ["url", "content_kind", "extracted_text", "n_pages", "n_blocks",
            "n_chars", "status", "failure_reason", "n_bytes", "n_ocr_pages"]
    fused = {
        r["url"]: tuple(r[c] for c in cols)
        for r in extract_documents(pages, num_partitions=4).collect()
    }
    split = {
        r["url"]: tuple(r[c] for c in cols)
        for r in extract_documents_split(
            pages, num_partitions=4, giant_bytes=1, pages_per_task=3
        ).collect()
    }
    assert split == fused
    # sanity: the 10-page doc really went through >1 range
    assert fused["big://simple10"][3] == 10  # n_pages
    assert fused["big://scan3"][9] == 3      # n_ocr_pages


def test_blocks_table_joins_back_to_pages(spark, corpus_parquet):
    """Blocks level (SURVEY §1.3): re-joining the block table per page
    reproduces the page-level route's page_text exactly — blocks are a
    lossless refinement of pages, not a parallel implementation."""
    from pdf_ocr_spark.pipeline.extract_job import extract_blocks, extract_pages

    pages_src = spark.read.parquet(corpus_parquet)
    blocks = extract_blocks(pages_src, num_partitions=4)

    # page text = block texts joined '\n' in block_index order (v2:684-686)
    rebuilt = (
        blocks.filter(F.col("type") != "ocr")
        .groupBy("url", "page_num")
        .agg(
            F.array_join(
                F.array_sort(
                    F.collect_list(F.struct("block_index", "text"))
                ).getField("text"),
                "\n",
            ).alias("rebuilt_text"),
            F.count(F.lit(1)).alias("n_blocks"),
        )
    )
    page_rows = extract_pages(pages_src, num_partitions=4).filter(
        (F.col("status") == "ok")
        & (F.col("content_kind") == "pdf")
        & (~F.col("needs_ocr"))
        & (F.col("n_blocks") > 0)
    )
    joined = page_rows.join(
        rebuilt,
        [page_rows.url == rebuilt.url, page_rows.page == rebuilt.page_num],
    ).collect()
    assert len(joined) == page_rows.count() > 0
    for r in joined:
        assert r["rebuilt_text"] == r["page_text"], r["url"]
    # every text page appears in the blocks table; OCR pages appear as
    # 'ocr' rows with engine confidence and no bbox
    ocr_rows = blocks.filter(F.col("type") == "ocr").collect()
    assert len(ocr_rows) > 0
    assert all(r["bbox"] is None and r["confidence"] > 0.5 for r in ocr_rows)


def test_pdf_sniff_prefix_only():
    """Regression: an HTML page that merely MENTIONS '%PDF-' in its first
    KB must route to the HTML kernel; real PDFs may carry leading
    whitespace/NUL junk before the header."""
    from pdf_ocr_spark.pipeline.extract_job import looks_like_pdf

    assert looks_like_pdf(b"%PDF-1.7\nrest")
    assert looks_like_pdf(b"\r\n \x00%PDF-1.4\n")
    # junk-prefixed header within 1KB (spec/Acrobat allowance) is a PDF…
    assert looks_like_pdf(b"HTTP/1.1 200 OK\nContent-Type: x\n\n%PDF-1.4\n")
    assert looks_like_pdf(b"ad-banner-bytes\xff\xfe%PDF-1.5\n")
    # …but markup prefixes mean the magic is just page text
    assert not looks_like_pdf(b"<html><body>how to detect %PDF- headers</body></html>")
    assert not looks_like_pdf(b"<!DOCTYPE html><p>%PDF- magic</p>")
    assert not looks_like_pdf(b"<div>see %PDF- files</div>")
    assert not looks_like_pdf(b"")
    assert not looks_like_pdf(b"GIF89a")


def test_html_mentioning_pdf_magic_routes_as_html(spark):
    from pdf_ocr_spark.pipeline.extract_job import extract_documents

    html = (b"<html><head><title>t</title></head><body><p>"
            b"PDF files start with %PDF- followed by a version. "
            b"This sentence pads the paragraph so the readability scorer keeps "
            b"it as main content rather than boilerplate.</p></body></html>")
    pages = spark.createDataFrame([("u://sniff", bytearray(html))],
                                  "url string, html binary")
    row = extract_documents(pages, num_partitions=2).collect()[0]
    assert row["content_kind"] == "html"
    assert row["status"] == "ok"
    assert "%PDF-" in row["extracted_text"]


def test_plan_has_single_planned_shuffle(spark, corpus_parquet):
    """The page-level plan shows exactly the one explicit repartition
    (hashpartitioning on xxhash64(url)); extraction + OCR are
    partition-local in one python stage (SURVEY.md §4.3)."""
    from pdf_ocr_spark.pipeline.extract_job import extract_pages

    pages = spark.read.parquet(corpus_parquet)
    plan = extract_pages(pages, num_partitions=8)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    assert "xxhash64" in plan
    # parse + OCR run in ONE python stage: exactly one python map node
    assert plan.count("MapInArrow") == 1, plan
    assert "MapInPandas" not in plan


def test_column_pruning_reaches_scan(spark, corpus_parquet):
    """Metrics queries must not read the html binary: only url/html are
    ever selected by the extractor, and a docs-level count reads nothing
    else (SURVEY.md §4.2)."""
    from pdf_ocr_spark.pipeline.extract_job import extract_pages

    pages = spark.read.parquet(corpus_parquet)
    plan = extract_pages(pages)._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema" in plan
    # the scan schema carries only the two needed columns
    import re

    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {"url", "html"}


def test_dedup_extracted(spark, corpus_parquet):
    """Post-extraction dedup: duplicate extracted_texts collapse to the
    min-url canonical; failed rows always survive."""
    from pyspark.sql import functions as F

    from pdf_ocr_spark.pipeline.extract_job import dedup_extracted, extract_documents

    pages = spark.read.parquet(corpus_parquet)
    # duplicate every page under a higher url so every doc has a twin
    dup = pages.withColumn("url", F.concat(F.lit("zz-dup://"), F.col("url")))
    docs = extract_documents(pages.unionByName(dup), num_partitions=4)
    total = docs.count()
    n_failed = docs.filter(F.col("status") == "failed").count()

    marked = dedup_extracted(docs, mark_only=True)
    canon = marked.filter(F.col("is_canonical"))
    # survivors = one per distinct normalized text (some corpus docs are
    # already mutual dups, so this is <= half); failed rows all survive
    from pdf_ocr_spark.operators.dedup import normalized

    n_distinct = (
        docs.filter(F.col("status") == "ok")
        .select(F.md5(normalized(F.col("extracted_text"))).alias("fp"))
        .distinct()
        .count()
    )
    assert canon.filter(F.col("status") == "ok").count() == n_distinct
    assert n_distinct <= (total - n_failed) / 2
    assert canon.filter(F.col("status") == "failed").count() == n_failed
    # canonical picks the min url (original sorts before "zz-dup://")
    assert canon.filter(F.col("url").startswith("zz-dup://") & (F.col("status") == "ok")).count() == 0
    # filtering variant equals marked-and-filtered
    assert dedup_extracted(docs).count() == canon.count()


def test_canonical_docs_retry_supersede(spark):
    """At-least-once append model: a retried transient failure appends an
    ok row next to the old ocr_failed row; canonical_docs picks exactly
    one row per url — ok beats failed, permanent failures survive, exact
    duplicate rows collapse, and the choice is deterministic under
    repartitioning (total coalesced tie-break key)."""
    from pdf_ocr_spark.pipeline.extract_job import DOC_SCHEMA, canonical_docs

    def row(url, status, reason, text, n_ocr=0):
        n = len(text) if text is not None else 0
        return (url, "pdf", text, 1 if text else 0, 1 if text else 0,
                n, status, reason, 100, n_ocr)

    rows = [
        # u1: transient failure then successful retry → ok wins
        row("u1", "failed", "ocr_failed: remote timeout", None),
        row("u1", "ok", None, "# page text", n_ocr=1),
        # u2: permanent parse failure, never retried → failed survives
        row("u2", "failed", "bad_xref", None),
        # u3: duplicate identical commits (replayed append) → one row
        row("u3", "ok", None, "same"),
        row("u3", "ok", None, "same"),
        # u4: two failed attempts with different reasons → deterministic
        row("u4", "failed", "ocr_failed: a", None),
        row("u4", "failed", "ocr_failed: b", None),
    ]
    docs = spark.createDataFrame(rows, schema=DOC_SCHEMA)
    got = {r["url"]: r for r in canonical_docs(docs).collect()}
    assert len(got) == 4
    assert got["u1"]["status"] == "ok"
    assert got["u1"]["extracted_text"] == "# page text"
    assert got["u2"]["status"] == "failed"
    assert got["u2"]["failure_reason"] == "bad_xref"
    assert got["u3"]["extracted_text"] == "same"
    assert got["u4"]["failure_reason"] == "ocr_failed: b"  # max key, stable

    # deterministic under physical layout changes
    again = {r["url"]: r for r in
             canonical_docs(docs.repartition(7, "status")).collect()}
    assert {u: tuple(r) for u, r in got.items()} == {
        u: tuple(r) for u, r in again.items()
    }


def test_ingest_validate_rules_and_plan(spark):
    """Quarantine gate semantics on handcrafted corruption: each rule
    fires alone and in combination; reasons are sorted and joined
    deterministically; the plan is a single map-side projection."""
    import datetime

    import pyspark.sql.functions as F  # noqa: F401

    from pdf_ocr_spark.operators.ingest import ingest_validate

    ok_ts = datetime.datetime(2025, 1, 2, 0, 0, 0)
    rows = [
        ("https://a.com/x", ok_ts, b"<html>", "hi", "en"),      # valid
        ("ftp://a.com/x", ok_ts, b"<html>", "hi", "en"),         # bad_url
        ("https://a.com/y", None, b"<html>", "hi", "en"),        # bad_ts
        ("https://a.com/z", datetime.datetime(1970, 1, 2), b"x", "hi", "en"),  # bad_ts (pre-web)
        ("https://a.com/w", ok_ts, None, "", "en"),              # no_content
        ("https://a.com/v", ok_ts, b"<html>", "hi", "tlh"),      # bad_lang
        ("", None, None, None, "tlh"),                           # all four
        ("https://a.com/t", ok_ts, None, "text only", None),     # valid: text side + null lang ok
    ]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    out = {r.url: (r.valid, r.reasons) for r in ingest_validate(pages).collect()}
    assert out["https://a.com/x"] == (True, "")
    assert out["ftp://a.com/x"] == (False, "bad_url")
    assert out["https://a.com/y"] == (False, "bad_ts")
    assert out["https://a.com/z"] == (False, "bad_ts")
    assert out["https://a.com/w"] == (False, "no_content")
    assert out["https://a.com/v"] == (False, "bad_lang")
    assert out[""] == (False, "bad_lang|bad_ts|bad_url|no_content")
    assert out["https://a.com/t"] == (True, "")
    plan = ingest_validate(pages)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
