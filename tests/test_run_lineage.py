"""A run's lineage comes from the extraction tasks themselves: each task
sums its output rows into its partition's ``doc_lineage_metrics`` row
(``LineageTally``), so a commit writes the docs once, with no persist,
count or sidecar re-scan.  Checked here: the tally against its
oracle, and the number of Spark jobs a commit and a resume run."""

from __future__ import annotations

import glob
import os

import pytest

from pdf_ocr_spark.pipeline import extract_job, snapshot_log
from pdf_ocr_spark.pipeline.extract_job import (
    LineageTally,
    doc_lineage_metrics,
    run_extraction,
)

_OK = ("u1", "pdf", "t", 2, 3, 1, "ok", None, 100, 1)
_EMPTY = ("u2", "html", None, 0, 0, 0, "failed", "html_no_text", 50, 0)
_BROKEN = ("u3", "pdf", None, 0, 0, 0, "failed", "pdf_parse_error: bad xref", 10, 0)


def test_tally_param_sums_rows_per_part_id():
    param = LineageTally()
    assert param.zero({0: LineageTally.row([_OK])}) == {}
    acc = param.zero(None)
    # two group calls of one task (part 0), one row of another (part 1)
    acc = param.addInPlace(acc, {0: LineageTally.row([_OK])})
    acc = param.addInPlace(acc, {0: LineageTally.row([_EMPTY])})
    acc = param.addInPlace(acc, {1: LineageTally.row([_BROKEN])})
    assert acc == {
        0: (2, 2, 1, 1, 150, frozenset({"html_no_text"})),
        1: (1, 0, 1, 0, 10, frozenset({"pdf_parse_error"})),
    }
    assert acc[0] == LineageTally.row([_OK, _EMPTY])
    assert LineageTally.row([_OK]) == (1, 2, 0, 1, 100, frozenset())


def _jobs(spark, group: str, run) -> tuple:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        n = run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return n, len(sc.statusTracker().getJobIdsForGroup(group))


def test_commit_and_resume_job_budget(spark, corpus_parquet, tmp_path):
    """The docs write is the run's one extraction: a commit of the
    100-doc corpus runs in at most 4 jobs, its resume in at most 5 (were
    8 and 10 with the persist, count and sidecar re-scan)."""
    out, side = str(tmp_path / "docs"), str(tmp_path / "lineage")
    run = lambda: run_extraction(spark, corpus_parquet, out, side)  # noqa: E731
    n, commit_jobs = _jobs(spark, "lineage_budget_commit", run)
    assert n == 100
    n, resume_jobs = _jobs(spark, "lineage_budget_resume", run)
    assert n == 0
    assert commit_jobs <= 4, commit_jobs
    assert resume_jobs <= 5, resume_jobs


def test_snapshot_commit_job_budget(spark, corpus_parquet, tmp_path):
    """A snapshot commit of the 100-doc corpus runs at most 6 jobs: its
    split rows, one per input file, are written straight from the scan's
    aggregate, with no collect."""
    table = str(tmp_path / "table")
    run = lambda: snapshot_log.run_extraction_snapshot(spark, corpus_parquet, table)  # noqa: E731
    n, commit_jobs = _jobs(spark, "snapshot_budget_commit", run)
    assert n == 100
    assert commit_jobs <= 6, commit_jobs
    splits = snapshot_log.read_snapshot_splits(spark, table).collect()
    assert [(r["input_file"].rsplit("/", 1)[1], r["n_rows"]) for r in splits] == [
        ("pages.parquet", 100)
    ]


def _plain(spark, pages, tmp_path) -> str:
    run_extraction(spark, pages, str(tmp_path / "docs"), str(tmp_path / "lineage"))
    return str(tmp_path / "lineage")


def _split(spark, pages, tmp_path) -> str:
    run_extraction(
        spark, pages, str(tmp_path / "docs"), str(tmp_path / "lineage"),
        split_giants=True, giant_bytes=1, partition_buckets=4,
    )
    return str(tmp_path / "lineage")


def _snapshot_dedup(spark, pages, tmp_path) -> str:
    table = str(tmp_path / "table")
    snapshot_log.run_extraction_snapshot(spark, pages, table, content_dedup=True)
    (run_dir,) = snapshot_log.committed_data_dirs(table)
    return os.path.join(run_dir, "_sidecar")


@pytest.mark.parametrize("run", [_plain, _split, _snapshot_dedup])
def test_tally_equals_doc_lineage_metrics(spark, corpus_parquet, tmp_path, monkeypatch, run):
    """The sidecar a run writes from its tally equals
    ``doc_lineage_metrics`` over the docs it wrote, same partitioning,
    on the fused, the giant-split and the content-dedup routes; each run
    writes one sidecar file."""
    written = []
    real_write = extract_job.write_docs

    def recording_write(docs, path, mode):
        written.append(docs)
        real_write(docs, path, mode)

    monkeypatch.setattr(extract_job, "write_docs", recording_write)
    monkeypatch.setattr(snapshot_log, "write_docs", recording_write)
    side = run(spark, corpus_parquet, tmp_path)

    assert len(glob.glob(os.path.join(side, "*.parquet"))) == 1
    got = spark.read.parquet(side).drop("run_output", "run_id")
    (docs,) = written
    want = doc_lineage_metrics(docs)
    key = lambda r: r["part_id"]  # noqa: E731
    got_rows = sorted((r.asDict() for r in got.collect()), key=key)
    assert got_rows == sorted((r.asDict() for r in want.collect()), key=key)
    assert sum(r["n_docs"] for r in got_rows) > 0
