"""One checkpointed run driver, two table formats: from the same partial
commit, the plain parquet directory (``run_extraction``) and the
snapshot-log table (``run_extraction_snapshot``) must resume, append the
same number of documents and end up holding identical rows per url."""

import pytest

from pdf_ocr_spark.pipeline.extract_job import run_extraction
from pdf_ocr_spark.pipeline.snapshot_log import (
    read_snapshot_table,
    run_extraction_snapshot,
)


def _rows_by_url(df):
    rows = [r.asDict() for r in df.collect()]
    by_url = {r["url"]: r for r in rows}
    assert len(by_url) == len(rows)  # one row per url
    return by_url


@pytest.mark.parametrize(
    "opts",
    [{}, {"split_giants": True, "giant_bytes": 1, "partition_buckets": 4}],
    ids=["fused", "split_giants_bucketed"],
)
def test_parquet_and_snapshot_runs_append_identical_rows(
    spark, corpus_parquet, tmp_path, opts
):
    first = str(tmp_path / "first_40")
    spark.read.parquet(corpus_parquet).orderBy("url").limit(40).write.parquet(first)
    plain = str(tmp_path / "plain")
    snap = str(tmp_path / "snap")

    # the same partial pre-commit in both formats
    assert run_extraction(spark, first, plain, num_partitions=4, **opts) == 40
    assert run_extraction_snapshot(spark, first, snap, num_partitions=4, **opts) == 40

    n_plain = run_extraction(spark, corpus_parquet, plain, num_partitions=4, **opts)
    n_snap = run_extraction_snapshot(
        spark, corpus_parquet, snap, num_partitions=4, **opts
    )
    assert n_plain == n_snap == 60

    plain_rows = _rows_by_url(spark.read.parquet(plain))
    snap_rows = _rows_by_url(read_snapshot_table(spark, snap))
    assert len(plain_rows) == 100
    assert plain_rows == snap_rows
    if opts:
        assert all(r["url_bucket"] is not None for r in plain_rows.values())
