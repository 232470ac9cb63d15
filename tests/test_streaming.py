"""Structured Streaming tests: incremental file-source extraction with
checkpoint resume, watermarked windowed aggregation, and the custom
stateful operator — all driven with Trigger.AvailableNow so they run
deterministically in CI."""

import os

import pytest
from pyspark.sql import functions as F


def _write_chunk(rows, path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "url": [r["url"] for r in rows],
                "warc_ts": pa.array([r["warc_ts"] for r in rows], pa.timestamp("us")),
                "html": pa.array([r["html"] for r in rows], pa.binary()),
                "text": [r["text"] for r in rows],
                "lang": [r["lang"] for r in rows],
            }
        ),
        path,
    )


def test_stream_extract_incremental_resume(spark, corpus_rows, tmp_path):
    """Two micro-batch drains: the first sees only chunk A; after chunk B
    lands, a SECOND start with the same checkpoint processes ONLY B
    (file-source log = streaming resume), and the union equals the batch
    pipeline on the full corpus."""
    from pdf_ocr_spark.pipeline.extract_job import extract_documents
    from pdf_ocr_spark.streaming import stream_extract

    src = str(tmp_path / "pages_in")
    out = str(tmp_path / "docs_out")
    ckpt = str(tmp_path / "ckpt")
    a, b = corpus_rows[:60], corpus_rows[60:]
    _write_chunk(a, os.path.join(src, "chunk-a.parquet"))

    q = stream_extract(spark, src, out, ckpt, num_partitions=4)
    q.awaitTermination(120)
    got_a = spark.read.parquet(out)
    assert got_a.count() == len(a)

    _write_chunk(b, os.path.join(src, "chunk-b.parquet"))
    q2 = stream_extract(spark, src, out, ckpt, num_partitions=4)
    q2.awaitTermination(120)
    final = spark.read.parquet(out)
    assert final.count() == len(corpus_rows)
    assert final.select("url").distinct().count() == len(corpus_rows)

    # byte-equality with the batch pipeline
    pages = spark.createDataFrame(
        [(r["url"], bytearray(r["html"])) for r in corpus_rows],
        "url string, html binary",
    )
    batch = {
        r["url"]: r["extracted_text"]
        for r in extract_documents(pages).collect()
    }
    streamed = {r["url"]: r["extracted_text"] for r in final.collect()}
    assert streamed == batch

    # a third drain with nothing new appends nothing
    q3 = stream_extract(spark, src, out, ckpt, num_partitions=4)
    q3.awaitTermination(120)
    assert spark.read.parquet(out).count() == len(corpus_rows)


def test_batch_run_resumes_from_a_streamed_table(spark, corpus_rows, tmp_path):
    """The streamed docs table is the batch run's table: after a stream
    over chunk A, ``run_extraction`` over A+B into the same directory
    appends only B's urls, and a plain parquet read sees every url once
    (a file sink's ``_spark_metadata`` log would hide the batch rows)."""
    from pdf_ocr_spark.pipeline.extract_job import run_extraction
    from pdf_ocr_spark.streaming import stream_extract

    src, out = str(tmp_path / "pages_in"), str(tmp_path / "docs_out")
    a, b = corpus_rows[:60], corpus_rows[60:]
    _write_chunk(a, os.path.join(src, "chunk-a.parquet"))
    stream_extract(spark, src, out, str(tmp_path / "ckpt"), 4).awaitTermination(120)
    _write_chunk(b, os.path.join(src, "chunk-b.parquet"))

    assert run_extraction(spark, src, out, num_partitions=4) == len(b)
    urls = [r["url"] for r in spark.read.parquet(out).select("url").collect()]
    assert sorted(urls) == sorted(r["url"] for r in corpus_rows)


def test_replayed_micro_batch_appends_nothing(spark, corpus_rows, tmp_path):
    """A micro-batch whose commit never reached the checkpoint is run
    again on restart; the resume anti-join makes the replay append
    nothing, as it makes a batch rerun idempotent (this corpus has no
    transient ``ocr_failed`` row, which a replay would retry)."""
    from pdf_ocr_spark.streaming import stream_extract

    src, out = str(tmp_path / "pages_in"), str(tmp_path / "docs_out")
    ckpt = str(tmp_path / "ckpt")
    _write_chunk(corpus_rows[:60], os.path.join(src, "chunk-a.parquet"))
    stream_extract(spark, src, out, ckpt, 4).awaitTermination(120)
    assert spark.read.parquet(out).count() == 60

    commits = os.path.join(ckpt, "commits")
    last = str(max(int(n) for n in os.listdir(commits) if n.isdigit()))
    for name in (last, f".{last}.crc"):
        if os.path.exists(os.path.join(commits, name)):
            os.remove(os.path.join(commits, name))
    q = stream_extract(spark, src, out, ckpt, 4)
    q.awaitTermination(120)
    assert [p["numInputRows"] for p in q.recentProgress] == [60]  # replayed
    assert os.path.exists(os.path.join(commits, last))
    assert spark.read.parquet(out).count() == 60


def test_file_sink_table_is_refused(spark, corpus_rows, tmp_path):
    """A docs directory with a file sink's ``_spark_metadata`` log lists
    only that log's files, so rows appended to it are read by no one:
    ``run_extraction`` and ``stream_extract`` both refuse it and write
    nothing there."""
    from pyspark.errors import StreamingQueryException

    from pdf_ocr_spark.pipeline.extract_job import run_extraction
    from pdf_ocr_spark.streaming import stream_extract
    from pdf_ocr_spark.streaming.stream_job import _read_stream

    src, out = str(tmp_path / "pages_in"), str(tmp_path / "docs_out")
    _write_chunk(corpus_rows[:20], os.path.join(src, "chunk-a.parquet"))
    _read_stream(spark, src).select("url").writeStream.format("parquet").option(
        "path", out
    ).option("checkpointLocation", str(tmp_path / "sink_ckpt")).trigger(
        availableNow=True
    ).start().awaitTermination(120)
    before = sorted(os.listdir(out))
    _write_chunk(corpus_rows[20:40], os.path.join(src, "chunk-b.parquet"))

    with pytest.raises(ValueError, match="_spark_metadata"):
        run_extraction(spark, src, out, num_partitions=4)
    q = stream_extract(spark, src, out, str(tmp_path / "ckpt"), 4)
    with pytest.raises(StreamingQueryException, match="_spark_metadata"):
        q.awaitTermination(120)
    assert sorted(os.listdir(out)) == before


def test_windowed_event_counts_matches_batch(spark, tmp_path):
    """The watermarked streaming rollup over a finite file source equals
    the equivalent batch aggregation (no late data in the fixture)."""
    import shutil

    from pdf_ocr_spark.streaming import windowed_event_counts

    events_path = "/root/testdata/sf0.001/events.parquet"
    batch_events = spark.read.parquet(events_path)

    # the streaming file source wants a directory of files
    src = str(tmp_path / "events_in")
    os.makedirs(src)
    shutil.copy(events_path, os.path.join(src, "part-0.parquet"))
    stream = spark.readStream.schema(batch_events.schema).parquet(src)
    out = windowed_event_counts(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from win_counts")

    expected = windowed_event_counts(batch_events)
    g = {tuple(r) for r in got.collect()}
    e = {tuple(r) for r in expected.collect()}
    # append mode only emits windows closed by the watermark; every
    # emitted row must match batch, and most windows must have closed
    assert g <= e
    assert len(g) >= 0.8 * len(e)


def test_stream_dedup_exact(spark, tmp_path):
    """Streaming exact dedup: duplicate texts across two micro-batches
    collapse to the first-seen row while distinct texts all survive."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pdf_ocr_spark.streaming import stream_dedup_exact

    src = str(tmp_path / "in")
    os.makedirs(src)
    base = datetime.datetime(2025, 1, 1, 10, 0, 0)

    def chunk(name, rows):
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                    "text": [r[1] for r in rows],
                    "warc_ts": pa.array(
                        [base + datetime.timedelta(minutes=r[0]) for r in rows],
                        pa.timestamp("us"),
                    ),
                }
            ),
            os.path.join(src, name),
        )

    # batch 1: A, B, A-dup (whitespace variant); batch 2: B-dup, C
    chunk("f0.parquet", [(1, "alpha text one"), (2, "beta text two"),
                         (3, "  alpha   text  one ")])
    chunk("f1.parquet", [(4, "beta  text   two"), (5, "gamma text three")])

    stream = (
        spark.readStream.schema("doc_id long, text string, warc_ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        stream_dedup_exact(stream, watermark="10 hours")
        .writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from dedup_stream").collect()
    by_fp = {}
    for r in rows:
        by_fp.setdefault(r["fingerprint"], []).append(r["doc_id"])
    # one survivor per fingerprint, three distinct texts total
    assert len(rows) == 3, rows
    assert sorted(len(v) for v in by_fp.values()) == [1, 1, 1]
    survivors = {v[0] for v in by_fp.values()}
    assert survivors <= {1, 2, 3, 4, 5}
    assert 5 in survivors  # gamma is unique → must survive


def test_running_totals_stateful(spark, tmp_path):
    """applyInPandasWithState keeps running totals across micro-batches:
    with maxFilesPerTrigger=1 and two input files, the second update for a
    lang must include the first file's counts."""
    from pdf_ocr_spark.streaming import running_totals_stateful

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = str(tmp_path / "in")
    os.makedirs(src)
    for i, n in enumerate((3, 5)):
        pq.write_table(
            pa.table(
                {
                    "lang": ["en"] * n,
                    "n_bytes": pa.array([100] * n, pa.int64()),
                }
            ),
            os.path.join(src, f"f{i}.parquet"),
        )

    stream = (
        spark.readStream.schema("lang string, n_bytes long")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        running_totals_stateful(stream)
        .writeStream.format("memory")
        .queryName("totals")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from totals").collect()
    ens = sorted((r["n_docs"], r["n_bytes"]) for r in rows if r["lang"] == "en")
    # two micro-batches → two updates; the first covers whichever file
    # came first, the second must be cumulative across both
    assert len(ens) == 2
    assert ens[0] in ((3, 300), (5, 500))
    assert ens[-1] == (8, 800)


def test_stream_feed_frontier_dedup_and_resume(spark, tmp_path):
    """New feed files stream through the RSS/Atom kernel; each link's
    FIRST sighting survives dropDuplicatesWithinWatermark; the second
    micro-run only processes new files (checkpoint resume)."""
    import datetime

    from pdf_ocr_spark.fixtures.genpages import gen_feed_rows
    from pdf_ocr_spark.streaming.stream_job import stream_feed_frontier

    feeds_dir = tmp_path / "feeds_in"
    out = str(tmp_path / "frontier_out")
    ckpt = str(tmp_path / "frontier_ckpt")
    feeds_dir.mkdir()
    rows = [r for r in gen_feed_rows(8) if r["url"].endswith((".xml", ".gz"))]
    ts = datetime.datetime(2025, 1, 1, 12, 0, 0)

    def write_batch(name, sub):
        spark.createDataFrame(
            [(r["url"], bytearray(r["body"]), ts) for r in sub],
            "url string, body binary, fetched_at timestamp",
        ).coalesce(1).write.parquet(str(feeds_dir / name))

    write_batch("b1", rows[:3])
    # duplicate feed doc under a new path: its links must NOT re-emit
    write_batch("b2", rows[:1])
    q = stream_feed_frontier(spark, str(feeds_dir) + "/*", out, ckpt,
                             num_partitions=2)
    q.awaitTermination(120)
    first = spark.read.parquet(out)
    links1 = [r["link"] for r in first.collect()]
    assert len(links1) == len(set(links1)) > 0  # deduped across files

    # incremental: add a new batch, restart from checkpoint
    write_batch("b3", rows[3:5])
    q = stream_feed_frontier(spark, str(feeds_dir) + "/*", out, ckpt,
                             num_partitions=2)
    q.awaitTermination(120)
    second = spark.read.parquet(out)
    links2 = [r["link"] for r in second.collect()]
    assert set(links1) < set(links2)            # grew, old links intact
    assert len(links2) == len(set(links2))      # still no duplicates


def test_stream_incremental_dedup(spark, tmp_path):
    """Stream-static anti-join against the historical fingerprint store:
    history hits never reach the sink, within-stream duplicates collapse
    to first sighting, genuinely-new docs survive."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pdf_ocr_spark.operators.dedup import normalized
    from pdf_ocr_spark.streaming import stream_incremental_dedup

    src = str(tmp_path / "in")
    os.makedirs(src)
    base = datetime.datetime(2025, 1, 1, 10, 0, 0)

    def chunk(name, rows):
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                    "text": [r[1] for r in rows],
                    "warc_ts": pa.array(
                        [base + datetime.timedelta(minutes=r[0]) for r in rows],
                        pa.timestamp("us"),
                    ),
                }
            ),
            os.path.join(src, name),
        )

    # history holds 'seen before'; batch 1 re-crawls it (+ a new doc),
    # batch 2 repeats the new doc (stream dup) and adds another new one
    chunk("f0.parquet", [(1, "Seen   BEFORE"), (2, "fresh text one")])
    chunk("f1.parquet", [(3, "fresh  text   one"), (4, "fresh text two")])
    hist = spark.createDataFrame([(100, "seen before")], "doc_id long, text string")
    seen = hist.select(F.md5(normalized(F.col("text"))).alias("fingerprint"))

    stream = (
        spark.readStream.schema("doc_id long, text string, warc_ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        stream_incremental_dedup(stream, seen, watermark="10 hours")
        .writeStream.format("memory")
        .queryName("incr_dedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    survivors = {
        r["doc_id"] for r in spark.sql("select * from incr_dedup_stream").collect()
    }
    assert 1 not in survivors          # history hit dropped
    assert 4 in survivors              # new doc survives
    assert len(survivors & {2, 3}) == 1  # stream dup: one sighting only


def test_stream_wet_export_incremental_and_idempotent(spark, corpus_rows, tmp_path):
    """Streaming WET publication: drain A -> archives hold exactly A's
    non-empty extracted texts (byte-identical to the batch extractor);
    drain after B lands -> only B's batch directory appears (checkpoint
    resume, no re-export of A); texts parse back from the archives."""
    from pdf_ocr_spark.pipeline.extract_job import extract_documents
    from pdf_ocr_spark.sources.warc import archive_pages
    from pdf_ocr_spark.streaming import stream_wet_export

    src = str(tmp_path / "pages_in")
    out = str(tmp_path / "wet_out")
    ckpt = str(tmp_path / "ckpt")
    a, b = corpus_rows[:60], corpus_rows[60:]
    _write_chunk(a, os.path.join(src, "chunk-a.parquet"))

    q = stream_wet_export(spark, src, out, ckpt, num_partitions=4)
    q.awaitTermination(120)

    def texts_in(path):
        back = archive_pages(spark.read.parquet(path))
        return {
            r["url"]: bytes(r["html"]).decode("utf-8") for r in back.collect()
        }

    def batch_texts(rows):
        pages = spark.createDataFrame(
            [(r["url"], bytearray(r["html"])) for r in rows],
            "url string, html binary",
        )
        return {
            r["url"]: r["extracted_text"]
            for r in extract_documents(pages).collect()
            if r["extracted_text"]
        }

    got_a = texts_in(out)
    assert got_a == batch_texts(a)

    # WET conversion records carry each page's ORIGINAL capture date
    # (WARC-Date), not a constant export stamp
    back = archive_pages(spark.read.parquet(out))
    got_ts = {r["url"]: r["warc_ts"] for r in back.collect()}
    exp_ts = {r["url"]: r["warc_ts"].replace(microsecond=0) for r in a}
    assert got_ts and all(got_ts[u] == exp_ts[u] for u in got_ts)
    assert len({t for t in got_ts.values()}) > 1  # not one constant

    _write_chunk(b, os.path.join(src, "chunk-b.parquet"))
    q2 = stream_wet_export(spark, src, out, ckpt, num_partitions=4)
    q2.awaitTermination(120)
    assert texts_in(out) == batch_texts(corpus_rows)
    # batch directories: one per drained micro-batch, nothing rewritten
    dirs = sorted(d for d in os.listdir(out) if d.startswith("batch="))
    assert len(dirs) == 2

    # a third drain with nothing new adds nothing
    q3 = stream_wet_export(spark, src, out, ckpt, num_partitions=4)
    q3.awaitTermination(120)
    assert texts_in(out) == batch_texts(corpus_rows)
    assert sorted(
        d for d in os.listdir(out) if d.startswith("batch=")
    ) == dirs


def test_stream_quality_gate_filters_by_frozen_threshold(spark, corpus_rows, tmp_path):
    """Streaming NB quality gate: an offline-trained model + fixed
    threshold gates each micro-batch; output rows are exactly the batch
    extractor's rows whose batch-computed score clears the cut."""
    from pdf_ocr_spark.operators.quality import nb_score, nb_train
    from pdf_ocr_spark.pipeline.extract_job import extract_documents
    from pdf_ocr_spark.streaming import stream_quality_gate

    src = str(tmp_path / "pages_in")
    out = str(tmp_path / "gated_out")
    ckpt = str(tmp_path / "ckpt")
    rows = corpus_rows[:60]
    _write_chunk(rows, os.path.join(src, "chunk-a.parquet"))

    # offline: train on the batch-extracted corpus with a weak label
    pages = spark.createDataFrame(
        [(r["url"], bytearray(r["html"])) for r in rows],
        "url string, html binary",
    )
    extracted = extract_documents(pages).select("url", "extracted_text")
    labeled = extracted.select(
        "url",
        F.col("extracted_text").alias("text"),
        (F.length("extracted_text") % 2 == 0).cast("int").alias("label"),
    )
    model = nb_train(labeled, buckets=256)
    model_rows = [
        (r["bucket"], r["pos_cnt"], r["neg_cnt"], r["weight"])
        for r in model.collect()
    ]
    # expected: batch scores over the same extracted text, same threshold
    batch_scores = {
        r["url"]: r["nb_score"]
        for r in nb_score(
            extracted, model, text_col="extracted_text", id_col="url",
            buckets=256,
        ).collect()
    }
    threshold = sorted(batch_scores.values())[len(batch_scores) // 2]

    q = stream_quality_gate(
        spark, src, out, ckpt, model_rows, threshold, buckets=256,
        num_partitions=4,
    )
    q.awaitTermination(120)

    got = {
        r["url"]: r["nb_score"] for r in spark.read.parquet(out).collect()
    }
    expected = {u: s for u, s in batch_scores.items() if s > threshold}
    assert got == expected
    assert 0 < len(got) < len(batch_scores)  # the gate did real work


def test_stream_hot_hosts_sketch_exactly_once(spark, tmp_path):
    """Streaming CMS heavy hitters: two micro-batches of pages produce
    per-batch sketch dirs whose merged counters equal the single-pass
    CMS over all pages (mergeability), estimates never undercount the
    true per-host counts, and a full re-run from a FRESH checkpoint
    overwrites the same batch dirs without double-counting (the
    exactly-once promise of batch=<id> + overwrite)."""
    import datetime as dt

    from pdf_ocr_spark.operators.graph import host_expr
    from pdf_ocr_spark.operators.sketches import cms_counts, cms_estimate
    from pdf_ocr_spark.streaming.stream_job import (
        merged_host_sketch,
        stream_hot_hosts,
    )

    inp, out, cp = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "cp")
    ts = dt.datetime(2025, 1, 1)

    def rows(lo, hi):
        return [
            {
                "url": f"https://h{i % 5}.test/p/{i}",
                "warc_ts": ts,
                "html": None,
                "text": "x",
                "lang": "en",
            }
            for i in range(lo, hi)
        ]

    _write_chunk(rows(0, 60), f"{inp}/part-0.parquet")
    q = stream_hot_hosts(spark, inp, out, cp)
    q.awaitTermination(120)
    _write_chunk(rows(60, 100), f"{inp}/part-1.parquet")
    q2 = stream_hot_hosts(spark, inp, out, cp)
    q2.awaitTermination(120)

    merged = merged_host_sketch(spark, out)
    all_pages = spark.createDataFrame(
        [(r["url"],) for r in rows(0, 100)], "url string"
    ).select(host_expr(F.col("url")).alias("item"))
    single_pass = cms_counts(all_pages, "item")
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, single_pass.collect())
    )

    est = {
        r["item"]: r["est"]
        for r in cms_estimate(
            all_pages.distinct(), merged, "item"
        ).collect()
    }
    exact = {
        r["item"]: r["count"]
        for r in all_pages.groupBy("item").count().collect()
    }
    assert all(est[k] >= exact[k] for k in exact)

    # simulate a RETRIED micro-batch: re-emit batch 0's sketch into its
    # own batch=<id> dir (what foreachBatch does on replay after a
    # failure) — overwrite means the merged counters are unchanged,
    # where an appending accumulator would double-count
    batch0 = spark.createDataFrame(
        [(r["url"],) for r in rows(0, 60)], "url string"
    ).select(host_expr(F.col("url")).alias("item"))
    cms_counts(batch0, "item").coalesce(1).write.mode("overwrite").parquet(
        f"{out}/batch=0"
    )
    again = merged_host_sketch(spark, out)
    assert sorted(map(tuple, again.collect())) == sorted(
        map(tuple, single_pass.collect())
    )
