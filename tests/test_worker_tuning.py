"""The once-per-worker hook ``extract_job._tune_worker``: it stops
``importlib.invalidate_caches()`` from re-reading unchanged zip archives
on every task, yet a rewritten archive, or one Spark ships later with
``addPyFile``, still imports."""

import os
import subprocess
import sys
import textwrap
import uuid
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runs in a fresh interpreter: an in-process arrow_map call elsewhere in
# the suite may already have tuned the pytest process.
HOOK_BODY = textwrap.dedent(
    """
    import gc, importlib, os, sys, zipfile, zipimport

    root, tmp = sys.argv[1:3]
    sys.path.insert(0, root)
    from pdf_ocr_spark.pipeline import extract_job

    archive = os.path.join(tmp, "zpk.zip")

    def write(modules):
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("zpk/__init__.py", "")
            z.writestr("zpk/sub/__init__.py", "")
            for m in modules:
                z.writestr(f"zpk/{m}.py", f"NAME = {m!r}\\n")

    write(["a"])
    sys.path.insert(0, archive)
    import zpk.a, zpk.sub

    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return read_directory(path)

    zipimport._read_directory = counting
    importlib.invalidate_caches()
    stock_reads = len(reads)

    extract_job._tune_worker()
    extract_job._tune_worker()
    del reads[:]
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert len(reads) <= 1, reads

    write(["a", "b"])
    importlib.invalidate_caches()
    import zpk.b
    assert zpk.b.NAME == "b"
    assert gc.get_threshold()[0] == 200_000
    print(stock_reads)
    """
)


def test_tuned_worker_rereads_only_rewritten_archives(tmp_path):
    done = subprocess.run(
        [sys.executable, "-c", HOOK_BODY, ROOT, str(tmp_path)],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert done.returncode == 0, done.stderr
    if sys.version_info < (3, 13):
        # the stock invalidation re-reads once per importer of the archive
        assert int(done.stdout) >= 2


def test_tuned_workers_import_a_later_add_py_file(spark, corpus_rows, tmp_path):
    from pyspark.sql.types import LongType, StructField, StructType

    from pdf_ocr_spark.pipeline.extract_job import arrow_map, extract_documents

    extract_documents(spark.createDataFrame(corpus_rows[:16]), 8).collect()

    module = f"shipped_{uuid.uuid4().hex}"
    archive = tmp_path / f"{module}.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr(f"{module}.py", "VALUE = 4242\n")
    spark.sparkContext.addPyFile(str(archive))

    def rows(ids):
        import importlib

        return [(importlib.import_module(module).VALUE,)]

    schema = StructType([StructField("value", LongType())])
    values = (
        spark.range(0, 8, 1, 8)
        .mapInArrow(arrow_map(rows, schema), schema)
        .collect()
    )
    assert [r.value for r in values] == [4242] * 8
