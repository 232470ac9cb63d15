"""Snapshot-log table tests: atomic commits, snapshot-isolation resume,
orphan-run invisibility (kill-and-restart safety the directory-append
mode cannot promise), and the atomically-co-committed sidecar."""

import os

from pyspark.sql import functions as F

from pdf_ocr_spark.pipeline.snapshot_log import (
    committed_manifests,
    read_snapshot_sidecar,
    read_snapshot_table,
    run_extraction_snapshot,
)


def test_commit_resume_and_orphan_invisibility(spark, corpus_parquet, tmp_path):
    from pdf_ocr_spark.pipeline.extract_job import extract_documents

    table = str(tmp_path / "table")
    pages = spark.read.parquet(corpus_parquet)

    # partial first run: commit 40 urls through the snapshot protocol
    first = pages.orderBy("url").limit(40)
    os.makedirs(os.path.join(table, "data"), exist_ok=True)
    extract_documents(first).write.parquet(os.path.join(table, "data", "run-a"))
    from pdf_ocr_spark.pipeline.snapshot_log import commit_run

    commit_run(table, "run-a", 40)

    # CRASHED second run: data written but no manifest → must be invisible
    nxt = pages.orderBy("url").limit(50)
    extract_documents(nxt).write.parquet(os.path.join(table, "data", "run-orphan"))
    assert read_snapshot_table(spark, table).count() == 40  # orphan unseen

    # restart: resumes from the committed snapshot → appends exactly 60
    n = run_extraction_snapshot(spark, corpus_parquet, table, num_partitions=4)
    assert n == 60
    final = read_snapshot_table(spark, table)
    assert final.count() == 100
    assert final.select("url").distinct().count() == 100

    # byte-equality with a single-shot run (the orphan never leaked in)
    single = {r["url"]: r["extracted_text"] for r in extract_documents(pages).collect()}
    committed = {r["url"]: r["extracted_text"] for r in final.collect()}
    assert committed == single

    # fully-committed rerun: a no-op commit, nothing reprocessed
    n2 = run_extraction_snapshot(spark, corpus_parquet, table, num_partitions=4)
    assert n2 == 0
    assert read_snapshot_table(spark, table).count() == 100
    assert [m["n_docs"] for m in committed_manifests(table)] == [40, 60, 0]


def test_compaction_folds_runs_atomically(spark, corpus_parquet, tmp_path):
    """compact_table: N committed runs fold into one compacted run via a
    'replaces' manifest; the table's rows are unchanged, a later append
    still works, and lineage sidecars of replaced runs remain readable."""
    import os as _os

    from pdf_ocr_spark.pipeline.snapshot_log import compact_table

    table = str(tmp_path / "ctable")
    # three incremental runs (40 + 30 + 30 urls) — streaming-append shape
    pages = spark.read.parquet(corpus_parquet).orderBy("url").cache()
    for lo, hi in ((0, 40), (40, 70), (70, 100)):
        sub = str(tmp_path / f"in_{lo}")
        pages.limit(hi).subtract(pages.limit(lo)).write.parquet(sub)
        run_extraction_snapshot(spark, sub, table, num_partitions=4)
    before = read_snapshot_table(spark, table)
    rows_before = {(r["url"], r["extracted_text"]) for r in before.collect()}
    assert len(rows_before) == 100
    assert len(committed_manifests(table)) == 3

    n = compact_table(spark, table, target_partitions=2)
    assert n == 100
    after = read_snapshot_table(spark, table)
    assert {(r["url"], r["extracted_text"]) for r in after.collect()} == rows_before
    # exactly one LIVE data dir feeds the read; sources still on disk
    from pdf_ocr_spark.pipeline.snapshot_log import committed_data_dirs

    live = committed_data_dirs(table)
    assert len(live) == 1 and "compact-" in live[0]
    assert len(_os.listdir(_os.path.join(table, "data"))) == 4
    # sidecar lineage of the replaced runs still visible
    side = read_snapshot_sidecar(spark, table)
    assert sum(r["n_docs"] for r in side.collect()) == 100

    # re-compacting a single live run is a no-op
    assert compact_table(spark, table) == 0

    # appends after compaction still resume correctly (nothing to do)
    n2 = run_extraction_snapshot(spark, corpus_parquet, table, num_partitions=4)
    assert n2 == 0
    pages.unpersist()


def test_bucketed_snapshot_runs_and_sidecar(spark, corpus_parquet, tmp_path):
    table = str(tmp_path / "btable")
    n = run_extraction_snapshot(
        spark, corpus_parquet, table, num_partitions=4, partition_buckets=8
    )
    assert n == 100
    run_dirs = os.listdir(os.path.join(table, "data"))
    assert len(run_dirs) == 1
    inside = os.listdir(os.path.join(table, "data", run_dirs[0]))
    assert any(d.startswith("url_bucket=") for d in inside)

    df = read_snapshot_table(spark, table)
    assert df.count() == 100
    assert df.filter(F.col("url_bucket") == 3).count() >= 0  # prunable column

    # sidecar committed in the SAME manifest as its data
    side = read_snapshot_sidecar(spark, table)
    rows = side.collect()
    assert sum(r["n_docs"] for r in rows) == 100
    assert all(r["run_id"] == run_dirs[0] for r in rows)


def test_time_travel_expiry_and_orphan_gc(spark, corpus_parquet, tmp_path):
    """as_of_seq reads reconstruct earlier snapshots; expire_snapshots
    deletes replaced data (preserving lineage sidecars) and expired
    time-travel reads fail loudly; remove_orphan_runs drops crashed
    runs' dirs without touching committed ones."""
    import os as _os

    import pytest as _pytest

    from pdf_ocr_spark.pipeline.snapshot_log import (
        SnapshotExpiredError,
        compact_table,
        expire_snapshots,
        remove_orphan_runs,
    )

    table = str(tmp_path / "ttable")
    pages = spark.read.parquet(corpus_parquet).orderBy("url").cache()
    for lo, hi in ((0, 40), (40, 70)):
        sub = str(tmp_path / f"tt_in_{lo}")
        pages.limit(hi).subtract(pages.limit(lo)).write.parquet(sub)
        run_extraction_snapshot(spark, sub, table, num_partitions=4)

    # time travel: as of the first commit (seq 0) only 40 docs exist
    assert read_snapshot_table(spark, table, as_of_seq=0).count() == 40
    assert read_snapshot_table(spark, table, as_of_seq=1).count() == 70

    assert compact_table(spark, table, target_partitions=2) == 70  # seq 2
    # pre-compaction reads still work: source dirs are on disk
    assert read_snapshot_table(spark, table, as_of_seq=1).count() == 70

    # an orphan dir (crashed run) is invisible and GC-able
    orphan = _os.path.join(table, "data", "orphan-run")
    _os.makedirs(orphan)
    assert remove_orphan_runs(table) == ["orphan-run"]
    assert not _os.path.isdir(orphan)

    # expiry below the compaction seq: both replaced runs' data go
    expired = expire_snapshots(table, keep_from_seq=3)
    assert len(expired) == 2
    # current read unaffected; BOTH lineage sidecars survive expiry
    assert read_snapshot_table(spark, table).count() == 70
    assert sum(r["n_docs"] for r in read_snapshot_sidecar(spark, table).collect()) == 70
    from pdf_ocr_spark.pipeline.snapshot_log import read_snapshot_splits

    splits = read_snapshot_splits(spark, table)
    assert splits is not None and splits.count() > 0
    # time travel to the expired snapshots now fails loudly
    with _pytest.raises(SnapshotExpiredError):
        read_snapshot_table(spark, table, as_of_seq=1)
    # expiring again is a no-op; live runs never touched
    assert expire_snapshots(table, keep_from_seq=99) == []
    pages.unpersist()


def test_content_dedup_across_runs(spark, tmp_path):
    """content_dedup=True: a mirror page (same bytes, different url) in a
    later run never enters the table; within-batch dups keep min url."""
    from pdf_ocr_spark.fixtures.genpages import gen_rows

    rows = gen_rows(12)
    html_rows = [r for r in rows if r["html"] is not None][:6]

    def write_pages(path, pairs):
        spark.createDataFrame(
            [(u, bytearray(h)) for u, h in pairs], "url string, html binary"
        ).write.parquet(path)

    table = str(tmp_path / "dtable")
    in1 = str(tmp_path / "d_in1")
    # run 1: four pages, one of them duplicated within the batch
    write_pages(in1, [(r["url"], r["html"]) for r in html_rows[:3]]
                + [("https://mirror.test/z-copy", html_rows[0]["html"])])
    n1 = run_extraction_snapshot(spark, in1, table, num_partitions=2,
                                 content_dedup=True)
    t1 = read_snapshot_table(spark, table)
    assert n1 == t1.count() == 3  # within-batch dup collapsed
    urls1 = {r["url"] for r in t1.collect()}
    assert "https://mirror.test/z-copy" not in urls1  # min-url canonical wins

    # run 2: one genuinely new page + two cross-run mirrors
    in2 = str(tmp_path / "d_in2")
    write_pages(in2, [(html_rows[3]["url"], html_rows[3]["html"]),
                      ("https://mirror.test/m1", html_rows[1]["html"]),
                      ("https://mirror.test/m2", html_rows[2]["html"])])
    n2 = run_extraction_snapshot(spark, in2, table, num_partitions=2,
                                 content_dedup=True)
    assert n2 == 1  # only the new content appended
    t2 = read_snapshot_table(spark, table)
    assert t2.count() == 4
    assert {r["url"] for r in t2.collect()} == urls1 | {html_rows[3]["url"]}


def _warc_segments(spark, corpus_parquet, tmp_path) -> str:
    """The corpus rewritten as two WARC archives (``seg-<i>.warc``)."""
    from pdf_ocr_spark.sources.warc import pages_to_warc

    src = tmp_path / "warcs"
    src.mkdir()
    pages = spark.read.parquet(corpus_parquet).repartition(2, "url")
    for i, r in enumerate(pages_to_warc(pages).collect()):
        (src / f"seg-{i}.warc").write_bytes(bytes(r.warc))
    return str(src)


def test_input_split_lineage_sidecar(spark, corpus_parquet, tmp_path):
    """Each committed run records which input file contributed which url
    range (the north-rule 'input split' lineage facet), for parquet and
    for raw WARC input alike."""
    from pdf_ocr_spark.pipeline.snapshot_log import read_snapshot_splits

    warcs = _warc_segments(spark, corpus_parquet, tmp_path)
    for fmt, src, n_files in (("parquet", corpus_parquet, 1), ("warc", warcs, 2)):
        table = str(tmp_path / f"stable-{fmt}")
        n = run_extraction_snapshot(spark, src, table, num_partitions=4, input_format=fmt)
        assert n == 100
        splits = read_snapshot_splits(spark, table)
        assert splits is not None
        rows = splits.collect()
        assert len(rows) == n_files
        assert sum(r["n_rows"] for r in rows) == n
        for r in rows:
            assert r["input_file"].endswith("." + fmt)
            assert r["min_url"] <= r["max_url"] and r["n_bytes"] > 0
            assert r["run_id"]
